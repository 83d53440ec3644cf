"""Deterministic dedup operators.

The reference relies on pandas row order for ``drop_duplicates(keep=...)``
and "first row per group" selection (dags/eligibilty_etl.py:137-147,
src/predictions.py:221, 244-253) — irreproducible on a distributed engine
(SURVEY.md §7.8). Every operator here demands an explicit ordering key and
compiles to a single hash-partitioned window or aggregate: one shuffle on
the dedup key, bounded per-task state, no driver participation — the only
shape that holds at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from eligibility_etl_airflow_spark.operators.text import WS_CLASS

_RN = "__engine_dedup_rn"


def keep_last(df: DataFrame, keys: list[str], order_by: list[Column]) -> DataFrame:
    """``drop_duplicates(keep="last")`` with an explicit ordering.

    Keeps, per key group, the row with the HIGHEST order_by value
    (descending row_number = 1).
    """
    w = Window.partitionBy(*keys).orderBy(*[c.desc() for c in order_by])
    return (
        df.withColumn(_RN, F.row_number().over(w))
        .filter(F.col(_RN) == 1)
        .drop(_RN)
    )


def keep_first(df: DataFrame, keys: list[str], order_by: list[Column]) -> DataFrame:
    """``drop_duplicates(keep="first")`` with an explicit ordering."""
    w = Window.partitionBy(*keys).orderBy(*[c.asc() for c in order_by])
    return (
        df.withColumn(_RN, F.row_number().over(w))
        .filter(F.col(_RN) == 1)
        .drop(_RN)
    )


def dedup_repeated_segments(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    segment_tokens: int = 16,
) -> DataFrame:
    """C4-style global span dedup: split every document into
    non-overlapping ``segment_tokens``-token segments, keep only the
    FIRST corpus-wide occurrence of each distinct segment (first =
    lowest (doc, position)), and reconstruct each document from its
    surviving segments. Returns
    (id, clean_text, n_kept, n_removed) for every input document —
    zero-segment docs survive with an empty clean_text.

    The C4 pipeline removed any three-sentence span that occurred more
    than once in the corpus; with fixed token windows the same policy
    needs no sentence boundaries (the synthetic corpus has none) and
    the window math is the already-tested chunker with overlap 0, so
    segments exactly partition the token stream and reconstruction is
    a sorted join of the keepers.

    Scale shape: first-occurrence is a ``min(struct(id, idx))``
    AGGREGATE on the segment text, not a row_number window — partial
    aggregation collapses a segment repeated a million times to one
    candidate per map task, where a window would sort the whole hot
    segment's partition (the same skew argument as
    operators/sketches.py). Reconstruction is one groupBy on the doc id
    with a sorted collect_list — bounded by the doc's own segment
    count.
    """
    from eligibility_etl_airflow_spark.operators.chunking import chunk_documents

    segs = chunk_documents(
        df, id_col=id_col, text_col=text_col,
        chunk_tokens=segment_tokens, overlap=0,
    )
    kept = (
        segs.groupBy("chunk_text")
        .agg(F.min(F.struct(id_col, "chunk_idx")).alias("k"))
        .select(F.col(f"k.{id_col}").alias(id_col), F.col("k.chunk_idx").alias("chunk_idx"), "chunk_text")
    )
    totals = segs.groupBy(id_col).agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    kept_agg = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk_text"))),
                lambda s: s["chunk_text"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
    )
    return (
        df.select(id_col)
        .join(totals, id_col, "left")
        .join(kept_agg, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            (F.coalesce("n_total", F.lit(0)) - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )


def merge_corpora_priority(
    corpora: list[tuple[str, int, DataFrame]],
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Merge N corpora into one, resolving content collisions by SOURCE
    PRIORITY — the standard multi-snapshot / curated-over-crawl merge
    rule (when the same document exists in a curated corpus and a web
    crawl, keep the curated copy; ties break on the lower id, then the
    corpus name — independent corpora routinely share 1-based id
    spaces, so a (priority, id) tie is a real case, and without the
    final key the ``corpus`` provenance column would flap between runs).

    ``corpora`` is ``[(corpus_name, priority, df), ...]`` (higher
    priority wins); every df must share the ``id_col``/``text_col``
    schema. Output = the kept rows plus provenance columns ``corpus``,
    ``priority``, ``content_hash``, ``n_copies`` (how many input rows
    shared the hash across all corpora).

    One union (no shuffle) + one hash-partitioned window on the content
    hash — the ``keep_first`` shape with the count attached to the same
    exchange; at 100 TB this costs exactly what exact dedup costs.

    Loud contracts: null ``text_col`` raises at execution (md5(null) is
    null, and the null-hash window group would silently merge DISTINCT
    unreadable documents into one "survivor" — a merge must never
    delete what it could not compare; filter or impute first), and
    input columns colliding with the provenance names raise at plan
    time (``withColumn`` would silently overwrite caller data).
    """
    if not corpora:
        raise ValueError("corpora must not be empty: pass (name, priority, df)")
    from eligibility_etl_airflow_spark.operators import text as text_ops

    provenance = ("corpus", "priority", "content_hash", "n_copies")
    for name, _, df in corpora:
        clash = [c for c in provenance if c in df.columns]
        if clash:
            raise ValueError(
                f"corpus {name!r} already has provenance column(s) {clash} — "
                "rename them before merging (the operator would silently "
                "overwrite them)"
            )
    labeled = None
    for name, priority, df in corpora:
        part = df.withColumn("corpus", F.lit(name)).withColumn(
            "priority", F.lit(int(priority))
        )
        labeled = part if labeled is None else labeled.unionByName(part)
    guarded_text = F.when(
        F.col(text_col).isNull(),
        F.raise_error(
            F.concat(
                F.lit(f"merge_corpora_priority: null {text_col} in corpus "),
                F.col("corpus"),
                F.lit(" at "),
                F.col(id_col).cast("string"),
            )
        ),
    ).otherwise(F.col(text_col))
    hashed = labeled.withColumn(
        "content_hash", text_ops.fingerprint_md5(guarded_text)
    )
    by_hash = Window.partitionBy("content_hash")
    ordered = by_hash.orderBy(
        F.col("priority").desc(), F.col(id_col).asc(), F.col("corpus").asc()
    )
    return (
        hashed.withColumn("n_copies", F.count(F.lit(1)).over(by_hash))
        .withColumn(_RN, F.row_number().over(ordered))
        .filter(F.col(_RN) == 1)
        .drop(_RN)
    )


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_line_df: int = 10,
) -> DataFrame:
    """Line-level boilerplate removal (the CCNet/RefinedWeb paragraph
    discipline applied at line grain): drop every line whose TRIMMED
    form appears in ``max_line_df`` or more distinct documents — site
    chrome, navigation, cookie banners, copyright footers — while
    document-unique content survives untouched. This is the dedup tier
    BELOW document near-dup: two documents can be globally distinct yet
    both padded with the same 40% of template lines, which depresses
    every doc-level similarity score while still training the model on
    the template thousands of times.

    Mechanics: posexplode lines → per-line doc-frequency (COUNT
    DISTINCT doc, partial-aggregated map-side) → join the frequent-line
    set back (left anti on the trimmed form) → rebuild text in original
    line order (array_agg sorted by position). Empty/whitespace-only
    lines never count toward frequency and are preserved in place
    (they are formatting, not boilerplate). Two shuffles (line key, id
    key) + one join — at 100 TB the frequent-line relation is tiny
    (frequency ≥ threshold caps its size at |corpus lines|/threshold)
    and broadcasts.

    Output: (id, text_clean, n_lines, n_lines_dropped). Docs whose
    every line was boilerplate emit an empty text_clean — the caller's
    quality gate drops them; silently deleting the row here would make
    the operator's output non-joinable against its input."""
    if max_line_df < 2:
        raise ValueError(f"max_line_df must be >= 2, got {max_line_df}")
    # coalesce: split(NULL) is NULL and posexplode of NULL emits ZERO
    # rows — a null-text doc would vanish, breaking the joinability
    # contract below; as '' it survives as one empty (preserved) line
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("pos", "line"),
    ).withColumn("key", F.trim(F.col("line")))
    counted = (
        lines.filter(F.col("key") != "")
        .groupBy("key")
        .agg(F.count_distinct("id").alias("line_df"))
        .filter(F.col("line_df") >= max_line_df)
        .select("key")
    )
    kept = lines.join(
        counted.withColumn("_drop", F.lit(1)), "key", "left"
    ).withColumn("_keep", F.col("_drop").isNull() | (F.col("key") == ""))
    return (
        kept.groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum((~F.col("_keep")).cast("long")).cast("long").alias("n_lines_dropped"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("_keep"), F.struct("pos", "line"))
                        )
                    ),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("text_clean"),
        )
        .select(
            F.col("id").alias(id_col), "text_clean", "n_lines", "n_lines_dropped"
        )
    )


def span_tokens(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, _toks) tokenized relation shared by the span family —
    whitespace tokens of the ORIGINAL text (WS_CLASS, the cross-engine
    class; see :func:`duplicate_spans`). Exposed so callers running
    several span operators over ONE corpus can stage (and persist) the
    tokenization once."""
    return df.select(
        F.col(id_col).alias("id"),
        # explicit whitespace class == Java \s exactly; spelled out so
        # the DuckDB oracle twin can use the IDENTICAL class (RE2's \s
        # lacks U+000B vertical tab, Java's includes it — a \x0b in a
        # document would otherwise tokenize differently per engine)
        F.filter(
            F.split(F.col(text_col), WS_CLASS), lambda t: t != ""
        ).alias("_toks"),
    )


def token_windows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_tokens: int = 16,
    hashed: bool = True,
    toked: DataFrame | None = None,
) -> DataFrame:
    """(id, pos, wk) stride-1 ``min_tokens``-token window relation —
    the staging input every span operator starts from (``wk`` is the
    window text, or its xxhash64 when ``hashed``). This is the span
    family's single most expensive stage (the window explode multiplies
    the token stream ~``min_tokens``×), and it is IDENTICAL across the
    locator, the partner-attribution and the removal operators — so
    callers running more than one of them should build it once, persist
    it, and pass it via their operators' ``windows=`` parameter (the
    r10 span-family staging in plans/llm_pipeline.py does exactly
    that)."""
    k = min_tokens
    if k < 2:
        raise ValueError(f"min_tokens must be >= 2, got {k}")
    if toked is None:
        toked = span_tokens(df, id_col, text_col)
    # r10: spread the window build — the ~min_tokens× explode of the
    # token stream is the span family's heaviest per-row work, and on a
    # single-split scan it ran as ONE task (1.45 s of a 4 s query at
    # sf0.1; the dedup_simhash lesson). ensure_parallelism is
    # input-size-adaptive (passthrough at scale, where the scan is
    # already split).
    from eligibility_etl_airflow_spark.operators.parallel import ensure_parallelism

    toked = ensure_parallelism(toked)
    # windows staged as a projection alias referencing _toks (multi-
    # referenced attribute — the HOF lambda must not re-split per
    # element; see tests/test_plan_shape.py's lambdafunction guard)
    wins = toked.filter(F.size("_toks") >= k).select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("_toks") - k),
                lambda i: F.array_join(F.slice("_toks", i + 1, k), " "),
            )
        ).alias("pos", "w"),
    )
    key = F.xxhash64("w") if hashed else F.col("w")
    return wins.select("id", "pos", key.alias("wk"))


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_tokens: int = 16,
    hashed: bool = True,
    with_partner: bool = False,
    windows: DataFrame | None = None,
) -> DataFrame:
    """Maximal duplicated token spans, Lee-et-al-2022 style ("Dedupli-
    cating Training Data Makes Language Models Better"): every
    ``min_tokens``-token window of every document (stride 1, whitespace
    tokens of the ORIGINAL text — the chunker's convention) is finger-
    printed; windows whose text occurs at ≥2 (doc, position) sites
    corpus-wide are duplicate hits; per document, runs of CONSECUTIVE
    hit positions chain into maximal spans. Returns one row per span:
    (id, span_start, span_end, n_span_tokens, span_text) with 0-based
    inclusive token offsets — a 40-token quote shared by two documents
    comes back as ONE 40-token span in each, with exact offsets, even
    when it straddles the fixed 16-token segment grid that
    ``dedup_repeated_segments`` dedups at (that operator removes; this
    one LOCATES, for span-level surgery or reporting).

    Span semantics: within a span every k-window is duplicated some-
    where, but different windows may match different partners, so a
    span is the tight upper envelope of verbatim duplication — the
    standard chaining approximation (a published suffix-array pass
    computes the same envelope; pairs wanting a common partner verify
    by joining span text, which stays exact because offsets are exact).

    ``hashed=True`` (default) keys the corpus-wide occurrence count on
    ``xxhash64`` of the window — 8 bytes per token through the shuffle
    instead of the window text (~10× less at k=16), at the price of a
    64-bit collision possibly merging two unrelated windows (P ≈ n²/2⁶⁴
    — negligible below ~10⁹ windows, and a collision can only EXTEND a
    span, never lose one). ``hashed=False`` keys on the text itself:
    exact by construction, the oracle twin's form.

    ``with_partner=True`` answers WITH WHOM the text duplicates, not
    just where: each span carries ``partner_id``/``partner_pos`` — the
    corpus-FIRST occurrence (lowest ``(doc, position)``, the removal
    path's canonical-copy rule) of the span's first window. A span on
    the canonical copy points at ITSELF (``partner_id == id`` and
    ``partner_pos == span_start`` identifies it); every later copy
    points at its provenance source — the feed for contrastive pair
    mining and duplication audits. Costs one extra 16-byte struct
    through the existing shuffles (the semi-join becomes an inner
    join); ``span_text`` is dropped in this mode (offsets stay exact,
    so callers slice it when needed — skipping the join back to the
    token arrays).

    Scale shape: stride-1 windowing amplifies the token stream ×1 row
    (hashed: fixed 8+8 bytes each), the occurrence count is a partial
    aggregate (a window repeated a million times collapses map-side),
    hits rejoin by key, and the chain is a per-document window function
    — one shuffle on the window key, one on the doc id; no driver
    participation, nothing corpus-sized collected.

    ``windows=`` injects a prebuilt (persisted) :func:`token_windows`
    relation — it MUST have been built with the same (min_tokens,
    hashed); the span-family staging contract."""
    k = min_tokens
    if k < 2:
        raise ValueError(f"min_tokens must be >= 2, got {k}")
    toked = span_tokens(df, id_col, text_col).filter(F.size("_toks") >= k)
    keyed = (
        windows
        if windows is not None
        else token_windows(df, id_col, text_col, min_tokens=k, hashed=hashed)
    )
    rn = F.row_number().over(Window.partitionBy("id").orderBy("pos"))
    if with_partner:
        # the removal path's min(struct) first-occurrence partial agg,
        # carried through the rejoin so every hit knows its canonical
        # window; still one shuffle on the window key
        firsts = keyed.groupBy("wk").agg(
            F.min(F.struct("id", "pos")).alias("f"),
            F.count(F.lit(1)).alias("n"),
        )
        hits = (
            keyed.join(firsts.filter(F.col("n") >= 2), "wk")
            .select(
                "id",
                "pos",
                F.col("f.id").alias("_pid"),
                F.col("f.pos").alias("_ppos"),
            )
        )
        spans = (
            hits.withColumn("_grp", F.col("pos") - rn)
            .groupBy("id", "_grp")
            .agg(
                F.min("pos").alias("span_start"),
                (F.max("pos") + F.lit(k - 1)).alias("span_end"),
                # partner of the span's FIRST window (pos unique per doc
                # → deterministic)
                F.min_by(F.struct("_pid", "_ppos"), F.col("pos")).alias("pt"),
            )
        )
        return spans.select(
            F.col("id").alias(id_col),
            F.col("span_start").cast("long").alias("span_start"),
            F.col("span_end").cast("long").alias("span_end"),
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("long")
            .alias("n_span_tokens"),
            # partner_id keeps the id column's own type (string ids stay
            # strings); positions are always long
            F.col("pt._pid").alias("partner_id"),
            F.col("pt._ppos").cast("long").alias("partner_pos"),
        )
    dup_keys = (
        keyed.groupBy("wk")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("wk")
    )
    hits = keyed.join(dup_keys, "wk", "left_semi").select("id", "pos")
    # gap-and-island: consecutive positions share (pos − row_number)
    runs = hits.withColumn("_grp", F.col("pos") - rn)
    spans = runs.groupBy("id", "_grp").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + F.lit(k - 1)).alias("span_end"),
    )
    return (
        spans.join(toked, "id")
        .select(
            F.col("id").alias(id_col),
            F.col("span_start").cast("long").alias("span_start"),
            F.col("span_end").cast("long").alias("span_end"),
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("long")
            .alias("n_span_tokens"),
            F.array_join(
                F.slice(
                    "_toks",
                    F.col("span_start") + 1,
                    F.col("span_end") - F.col("span_start") + 1,
                ),
                " ",
            ).alias("span_text"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_tokens: int = 16,
    hashed: bool = True,
    windows: DataFrame | None = None,
) -> DataFrame:
    """The removal step over :func:`duplicate_spans`' location step —
    Lee et al. 2022's actual intervention: for every duplicated
    ``min_tokens``-token window the corpus-FIRST occurrence (lowest
    (doc, position)) is canonical and stays; every other occurrence is
    removable, removable positions chain per document into maximal
    islands, and the island's tokens are cut at exact offsets. Returns
    (id, clean_text, n_tokens, n_tokens_removed) for EVERY input row —
    untouched docs pass through with n_tokens_removed = 0.

    Compare ``dedup_repeated_segments``: that removes at a fixed
    16-token grid (a duplicated span straddling the grid survives in
    part); this cuts the exact maximal span, and keeps exactly one
    verbatim copy corpus-wide. clean_text is whitespace-normalized
    (tokens re-joined with single spaces — the segment operator's
    contract too).

    ``hashed`` caveat — STRONGER here than in duplicate_spans: for the
    locator a hash collision merely extends a reported span, but for
    removal it CUTS text that was never duplicated (the colliding
    window is treated as a later occurrence of someone else's text).
    P ≈ n²/2⁶⁴ stays negligible through ~10⁹ windows; a 100 TB corpus
    is ~10¹³ windows, where thousands of collisions are expected — at
    that scale run ``hashed=False`` (window text through the shuffle,
    ~10× heavier, exact by construction) or shard the corpus so each
    removal domain stays under the bound. The training-prep pipeline
    exposes this as ``span_exact=``.

    Scale shape = duplicate_spans plus one `min(struct(id, pos))`
    partial aggregate on the window key (the skew-resistant
    first-occurrence shape of dedup_repeated_segments — a window
    repeated a million times collapses map-side, no row_number over a
    hot partition), and the rebuild is a per-token filter against the
    doc's own (small) removal-span array — map-only after the joins.

    ``windows=`` injects a prebuilt (persisted) :func:`token_windows`
    relation — same (min_tokens, hashed) contract as duplicate_spans."""
    k = min_tokens
    if k < 2:
        raise ValueError(f"min_tokens must be >= 2, got {k}")
    toked = span_tokens(df, id_col, text_col)
    keyed = (
        windows
        if windows is not None
        else token_windows(df, id_col, text_col, min_tokens=k, hashed=hashed)
    )
    firsts = keyed.groupBy("wk").agg(
        F.min(F.struct("id", "pos")).alias("f"),
        F.count(F.lit(1)).alias("n"),
    )
    removable = (
        keyed.join(firsts.filter(F.col("n") >= 2), "wk")
        .filter(~((F.col("id") == F.col("f.id")) & (F.col("pos") == F.col("f.pos"))))
        .select("id", "pos")
    )
    rn = F.row_number().over(Window.partitionBy("id").orderBy("pos"))
    spans = (
        removable.withColumn("_grp", F.col("pos") - rn)
        .groupBy("id", "_grp")
        .agg(
            F.min("pos").alias("s"),
            (F.max("pos") + F.lit(k - 1)).alias("e"),
        )
        .groupBy("id")
        .agg(F.collect_list(F.struct("s", "e")).alias("cuts"))
    )
    kept = F.filter(
        F.col("_toks"),
        lambda t, i: ~F.exists(
            F.col("cuts"), lambda c: (i >= c["s"]) & (i <= c["e"])
        ),
    )
    return (
        toked.join(spans, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.when(F.col("cuts").isNull(), F.array_join("_toks", " "))
            .otherwise(F.array_join(kept, " "))
            .alias("clean_text"),
            F.size("_toks").cast("long").alias("n_tokens"),
            F.when(F.col("cuts").isNull(), F.lit(0))
            .otherwise(F.size("_toks") - F.size(kept))
            .cast("long")
            .alias("n_tokens_removed"),
        )
    )
