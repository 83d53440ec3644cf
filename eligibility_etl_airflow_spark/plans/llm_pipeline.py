"""LLM training-data pipeline plans (beyond-reference north star):
dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding),
similarity search (brute-force + LSH), text analysis, multimodal columns —
on the documents/embeddings testdata.

SQL-expressible operators carry DuckDB oracles; the hash-family operators
(MinHash, SimHash, hyperplane LSH) are registered rows-only (the driver's
weaker check) and get invariant tests in tests/test_neardup.py —
including recall checks against the exact brute-force baseline.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eligibility_etl_airflow_spark.catalog import Catalog
from eligibility_etl_airflow_spark.operators import neardup, similarity, text
from eligibility_etl_airflow_spark.operators.parallel import ensure_parallelism
from eligibility_etl_airflow_spark.registry import query, register_memo

# --------------------------------------------------------------------------
# Exact dedup — hash-groupBy on normalized content
# --------------------------------------------------------------------------

DEDUP_EXACT_ORACLE = r"""
WITH norm AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_hash
  FROM documents
)
SELECT content_hash,
       CAST(min(doc_id) AS BIGINT) AS keeper_doc_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM norm
GROUP BY content_hash
"""


@query("dedup_exact_hash", oracle=DEDUP_EXACT_ORACLE)
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash the normalized text, keep min doc_id per hash.
    One hash-aggregate shuffle on the 128-bit content hash — at 100 TB
    this is the cheapest possible dedup (no text comparison ever)."""
    d = Catalog(spark, sf_dir).documents
    return (
        d.select("doc_id", text.fingerprint_md5(F.col("text")).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").cast("long").alias("keeper_doc_id"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
        )
    )


# --------------------------------------------------------------------------
# Text quality scoring
# --------------------------------------------------------------------------

QUALITY_ORACLE = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
           AS n_tokens_bpe,
       CAST(len(regexp_extract_all(text, '[^\w\s]')) AS BIGINT) AS n_punct,
       CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|in|to|is)\b')) AS BIGINT)
           AS n_stopwords,
       round((
         (CASE WHEN len(regexp_extract_all(text, '\S+')) BETWEEN 5 AND 100000
               THEN 1.0 ELSE 0.0 END) +
         (CASE WHEN len(regexp_extract_all(text, '[^\w\s]')) * 1.0
                    / greatest(length(text), 1) <= 0.2 THEN 1.0 ELSE 0.0 END) +
         (CASE WHEN len(regexp_extract_all(lower(text), '\b(the|a|of|and|in|to|is)\b')) * 1.0
                    / greatest(len(regexp_extract_all(text, '\S+')), 1) >= 0.01
               THEN 1.0 ELSE 0.0 END) +
         (CASE WHEN length(text) * 1.0 / greatest(len(regexp_extract_all(text, '\S+')), 1)
                    BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
       ) / 4.0, 4) AS quality
FROM documents
"""


@query("text_quality_scores", oracle=QUALITY_ORACLE)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality heuristics (length / punct density / stopword ratio / mean
    word length) — the C4/Gopher-style corpus-cleaning filter family as
    pure column expressions."""
    d = Catalog(spark, sf_dir).documents
    t = F.col("text")
    return d.select(
        "doc_id",
        text.token_count_ws(t).alias("n_tokens"),
        text.token_count_bpe(t).alias("n_tokens_bpe"),
        text.punct_count(t).alias("n_punct"),
        text.stopword_count(t).alias("n_stopwords"),
        text.quality_score(t).alias("quality"),
    )


QUALITY_BLEND_ORACLE = f"""
WITH q AS ({QUALITY_ORACLE})
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       round(percent_rank() OVER (ORDER BY quality), 6) AS pr_quality,
       round(percent_rank() OVER (ORDER BY n_tokens_bpe), 6) AS pr_length_bpe,
       round(percent_rank() OVER (
           ORDER BY n_stopwords * 1.0 / greatest(n_tokens, 1)), 6)
           AS pr_stop_density,
       round(round(percent_rank() OVER (ORDER BY quality), 6) * (1.0/3.0)
           + round(percent_rank() OVER (ORDER BY n_tokens_bpe), 6) * (1.0/3.0)
           + round(percent_rank() OVER (
                 ORDER BY n_stopwords * 1.0 / greatest(n_tokens, 1)), 6)
             * (1.0/3.0), 6) AS blend
FROM q
"""


@query("quality_rank_blend", oracle=QUALITY_BLEND_ORACLE)
def quality_rank_blend_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensemble quality scoring (operators/selection.py::
    rank_normalize_blend): the heuristic quality score, BPE length, and
    stopword density each rank-normalized to its corpus percentile
    (min-rank ties — SQL percent_rank semantics, computed scalably as
    distinct-value counts + a running sum over the value relation, no
    corpus-sized global window), blended as the equal-weight mean. The
    oracle recomputes every percentile AND the fusion arithmetic with
    the same rounding, so parity grades tie handling end to end."""
    from eligibility_etl_airflow_spark.operators import selection

    d = Catalog(spark, sf_dir).documents.select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    t = F.col("text")
    signals = {
        "quality": text.quality_score(t),
        "length_bpe": text.token_count_bpe(t).cast("long"),
        "stop_density": text.stopword_count(t)
        / F.greatest(text.token_count_ws(t), F.lit(1)),
    }
    out = selection.rank_normalize_blend(d, "doc_id", signals)
    return out.select(
        "doc_id",
        F.col("pr_quality"),
        F.col("pr_length_bpe").alias("pr_length_bpe"),
        F.col("pr_stop_density"),
        "blend",
    )


# --------------------------------------------------------------------------
# Language ID (marker-word heuristic)
# --------------------------------------------------------------------------

_MARKER_SQL = {
    lang: r"\b(" + "|".join(markers) + r")\b"
    for lang, markers in text.LANG_MARKERS.items()
}

LANG_ID_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, lang,
         CAST(len(regexp_extract_all(lower(text), '{_MARKER_SQL["en"]}')) AS BIGINT) AS s_en,
         CAST(len(regexp_extract_all(lower(text), '{_MARKER_SQL["de"]}')) AS BIGINT) AS s_de,
         CAST(len(regexp_extract_all(lower(text), '{_MARKER_SQL["es"]}')) AS BIGINT) AS s_es,
         CAST(len(regexp_extract_all(lower(text), '{_MARKER_SQL["fr"]}')) AS BIGINT) AS s_fr,
         CAST(len(regexp_extract_all(lower(text), '{_MARKER_SQL["zh"]}')) AS BIGINT) AS s_zh
  FROM documents
)
SELECT doc_id, lang AS labeled_lang, s_en, s_de, s_es, s_fr, s_zh,
       CASE WHEN greatest(s_en, s_de, s_es, s_fr, s_zh) = 0 THEN 'und'
            WHEN s_de = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'de'
            WHEN s_en = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'en'
            WHEN s_es = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'es'
            WHEN s_fr = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'fr'
            ELSE 'zh' END AS predicted_lang
FROM scored
"""


@query("lang_id_heuristic", oracle=LANG_ID_ORACLE)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID with deterministic alphabetical tie-break."""
    d = Catalog(spark, sf_dir).documents
    scores = text.lang_scores(F.col("text"))
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[scores[lang].alias(f"s_{lang}") for lang in ("en", "de", "es", "fr", "zh")],
        text.lang_id(F.col("text")).alias("predicted_lang"),
    )


# Trained lang-ID models keyed by (sf_dir, documents stamp, hyperparams):
# training is deterministic given these (md5-ranked sample, ordered
# collect, fixed-seed GD), so repeated invocations over the SAME corpus
# skip the sample-collect + driver solve — the exact _CENTROID_CACHE
# discipline ivf_topk documents (the stamp retrains on a rewritten
# corpus). Bounded: one entry is a (classes x dim) weight dict, and the
# cap below evicts oldest-first for long-lived services cycling corpora.
# register_memo: bench.py clears this at every rep boundary (the r10
# verdict's cold-rep contract) — only a long-lived production driver
# keeps warm models across scoring runs.
_LANG_MODEL_CACHE: dict[tuple, object] = register_memo({})
_LANG_MODEL_CACHE_MAX = 16


def _parquet_stamp(path: str) -> tuple | None:
    """(max mtime, total size) over the parquet file OR its part files.
    Stamping a directory-style parquet output by the dir mtime alone
    misses an in-place part-file rewrite (dir mtime unchanged) and
    same-second replacements on 1 s-granularity filesystems — the r10
    ADVICE fix: glob the part files and fold size in."""
    import glob as _glob

    if os.path.isdir(path):
        # a set union: a part file matching both globs is stat'ed once
        files = sorted(
            set(_glob.glob(os.path.join(path, "*.parquet")))
            | set(_glob.glob(os.path.join(path, "part-*")))
        ) or [path]
    else:
        files = [path]
    try:
        stats = [os.stat(f) for f in files]
    except OSError:
        return None
    return (max(s.st_mtime for s in stats), sum(s.st_size for s in stats))


@query("lang_id_learned")
def lang_id_learned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned language ID (operators/quality_model.py::
    train_softmax_classifier + score_softmax): multi-class softmax over
    hashed char-3-gram features, self-distilled from the corpus' own
    lang labels on an md5-ranked bounded sample, then scored as pure
    column arithmetic (broadcast weight join + two partial-agg passes —
    zero UDF). The trained model is cached per (corpus path, mtime,
    hyperparams) — a production caller trains once per model, not per
    scoring run, and this keeps the registered query's self-contained
    contract while only the first invocation pays the solve. Rows-only:
    the driver-side deterministic GD solve is not SQL-expressible; the
    planted multilingual accuracy floor vs lang_id_heuristic is pinned
    in tests/test_quality_model.py (the synthetic corpus' own lang
    labels are uncorrelated with its text, so THIS vehicle only
    exercises the machinery; the planted test is where accuracy is
    meaningful)."""
    from eligibility_etl_airflow_spark.operators import quality_model as qm

    d = Catalog(spark, sf_dir).documents
    stamp = _parquet_stamp(os.path.join(sf_dir, "documents.parquet"))
    key = (os.path.abspath(sf_dir), stamp, 1024, 512, 100)
    model = _LANG_MODEL_CACHE.get(key) if stamp is not None else None
    if model is None:
        model = qm.train_softmax_classifier(
            d, "doc_id", "text", "lang", dim=1024, sample_size=512, iters=100
        )
        if stamp is not None:
            while len(_LANG_MODEL_CACHE) >= _LANG_MODEL_CACHE_MAX:
                _LANG_MODEL_CACHE.pop(next(iter(_LANG_MODEL_CACHE)))
            _LANG_MODEL_CACHE[key] = model
    return qm.score_softmax(d, "doc_id", "text", model).select(
        F.col("id").alias("doc_id"), "pred_label", "confidence"
    )


# --------------------------------------------------------------------------
# Document fingerprinting
# --------------------------------------------------------------------------

FINGERPRINT_ORACLE = r"""
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp_md5,
       substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 16) AS fp64
FROM documents
"""


@query("doc_fingerprint", oracle=FINGERPRINT_ORACLE)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints (md5 full + 64-bit hex prefix) of normalized text."""
    d = Catalog(spark, sf_dir).documents
    return d.select(
        "doc_id",
        text.fingerprint_md5(F.col("text")).alias("fp_md5"),
        text.fingerprint_prefix64(F.col("text")).alias("fp64"),
    )


# --------------------------------------------------------------------------
# n-gram Jaccard pairs (blocked) — exact, oracle-checked
# --------------------------------------------------------------------------

NGRAM_JACCARD_ORACLE = r"""
WITH sh AS (
  SELECT doc_id,
         lang || '#' || CAST(n_chars // 100 AS VARCHAR) AS block,
         list_distinct(list_transform(
           generate_series(1, greatest(len(norm) - 2, 1)),
           i -> norm[i:i+2]
         )) AS g
  FROM (SELECT doc_id, lang, n_chars,
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        FROM documents)
)
SELECT a.block AS block,
       a.doc_id AS id_a,
       b.doc_id AS id_b,
       round(len(list_intersect(a.g, b.g)) * 1.0
             / len(list_distinct(list_concat(a.g, b.g))), 6) AS jaccard
FROM sh a JOIN sh b ON a.block = b.block AND a.doc_id < b.doc_id
"""


def _blocked_jaccard_pairs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Shared staging relation for the component-clustering family: the
    documents relation with the lang+length blocking key, and the exact
    blocked 3-gram-Jaccard pair relation over it. FOUR registered
    queries consume the pair relation (``ngram_jaccard_pairs`` itself,
    ``dedup_connected_components``, ``cluster_representatives``,
    ``leakage_safe_split``), so it is persisted (r10, guide §2.4/§5):
    CacheManager dedupes by analyzed plan, so within one session the
    shingle + bucket-collect + pairwise-intersection work runs once and
    every consumer probes the cached rows — the shingle-table contract.
    Lifecycle is LRU / the bench's rep-boundary clearCache; every fresh
    process still computes from the parquet inputs."""
    from pyspark import StorageLevel

    d = Catalog(spark, sf_dir).documents.withColumn(
        "block",
        F.concat_ws("#", F.col("lang"), (F.col("n_chars") / 100).cast("long").cast("string")),
    )
    pairs = neardup.ngram_jaccard_pairs(
        d, "doc_id", "text", "block", shingle_k=3
    ).persist(StorageLevel.MEMORY_AND_DISK)
    return d, pairs


@query("ngram_jaccard_pairs", oracle=NGRAM_JACCARD_ORACLE)
def ngram_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard similarity for all pairs within a blocking key
    (language × length bucket). Blocking bounds the pair explosion — the
    join shuffles once on the block key, never corpus²."""
    _, pairs = _blocked_jaccard_pairs(spark, sf_dir)
    return pairs.select(
        "block",
        F.col("id_a"),
        F.col("id_b"),
        "jaccard",
    )


# --------------------------------------------------------------------------
# Similarity search — exact brute-force (oracle) + LSH (rows-only)
# --------------------------------------------------------------------------

SIM_BRUTE_ORACLE = """
WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings WHERE vec_id < 8),
     c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings)
SELECT * FROM (
  SELECT q.vec_id AS query_id,
         c.vec_id AS corpus_id,
         round(list_dot_product(c.v, q.v)
               / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.v, q.v))), 6)
             AS sim,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY round(list_dot_product(c.v, q.v)
               / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.v, q.v))), 6) DESC,
             c.vec_id ASC) AS BIGINT) AS rank
  FROM c CROSS JOIN q
  WHERE c.vec_id <> q.vec_id
) WHERE rank <= 5
"""


@query("similarity_topk_bruteforce", oracle=SIM_BRUTE_ORACLE)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 per query vector (query set broadcast, corpus
    scanned once, dot products as JVM higher-order functions)."""
    e = Catalog(spark, sf_dir).embeddings
    queries = e.filter(F.col("vec_id") < 8)
    return similarity.brute_force_topk(e, queries, k=5)


@query("similarity_topk_lsh")
def similarity_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via random-hyperplane LSH (8 tables × 6 planes,
    1-bit multiprobe) — the scale path (exact scoring only inside matched
    buckets). Table/plane counts are tuned for the near-uniform testdata
    embeddings (top-5 cosine ≈ 0.3 — the hardest LSH regime); clustered
    real-world embeddings would use more planes per table. Recall vs the
    brute-force baseline is asserted in tests/test_neardup.py."""
    e = Catalog(spark, sf_dir).embeddings
    queries = e.filter(F.col("vec_id") < 8)
    return similarity.lsh_topk(
        e, queries, dim=64, k=5, n_planes=6, n_tables=8, multiprobe_bits=1
    )


@query("similarity_topk_ivf")
def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via IVF (16 k-means cells, nprobe=4) — the
    learned-bucketing scale path; exact scoring inside probed cells only.
    Recall vs brute force asserted in tests/test_neardup.py."""
    import os

    e = Catalog(spark, sf_dir).embeddings
    queries = e.filter(F.col("vec_id") < 8)
    # cache key includes the file mtime so a rewritten corpus at the same
    # path retrains instead of silently reusing stale centroids
    corpus_path = os.path.join(sf_dir, "embeddings.parquet")
    stamp = _parquet_stamp(corpus_path)
    return similarity.ivf_topk(
        e, queries, k=5, n_cells=16, nprobe=4, cache_key=f"{corpus_path}:{stamp}"
    )


@query("ann_index_topk")
def ann_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 over a PRE-BUILT index relation (operators/
    similarity.py::ivf_topk_over_index) — the persisted-index serving
    path: vectors arrive already carrying a cluster id (here a
    deterministic modular assignment; in production the curation
    state's index_vectors, see pipelines.ann_query_state) and centroids
    are the stored per-cluster relation, so query cost is
    centroid-ranking + exact cosine inside probed clusters with ZERO
    training or assignment at query time. Rows-only (the operator's
    exactness-within-probed-clusters contract is pinned in
    tests/test_neardup.py against a cluster-restricted brute force)."""
    e = Catalog(spark, sf_dir).embeddings
    # deterministic clustering vehicle: cluster = vec_id % 16 with mean
    # centroids — ivf_topk_over_index is agnostic to the assignment rule
    vecs = e.select(
        F.col("vec_id").alias("id"),
        (F.col("vec_id") % 16).cast("long").alias("cluster"),
        similarity.as_double_array(F.col("embedding")).alias("v"),
    )
    cents = (
        vecs.groupBy("cluster")
        .agg(
            F.array_sort(F.collect_list(F.struct("id", "v"))).alias("m")
        )
        .select(
            F.col("cluster").alias("label"),
            F.transform(
                F.sequence(F.lit(0), F.size(F.element_at(F.col("m"), 1)["v"]) - 1),
                lambda i: F.aggregate(
                    "m", F.lit(0.0), lambda acc, s: acc + F.element_at(s["v"], i + 1)
                )
                / F.size("m"),
            ).alias("centroid"),
        )
    )
    queries = e.filter(F.col("vec_id") < 8)
    return similarity.ivf_topk_over_index(
        vecs, cents, queries, k=5, nprobe=4
    )


@query("similarity_topk_pq")
def similarity_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via product quantization (16 subspaces x 32
    codes, ADC scoring, 20x refine with exact cosine re-rank) — the
    memory-compressed ANN tier: the corpus scans as m bytes/vector
    instead of dim floats, which is what makes a 100 TB embedding table
    brute-scannable. Returned sims are exact cosines (only recall is
    approximate). Recall floor asserted in tests/test_neardup.py."""
    import os

    e = Catalog(spark, sf_dir).embeddings
    queries = e.filter(F.col("vec_id") < 8)
    corpus_path = os.path.join(sf_dir, "embeddings.parquet")
    stamp = _parquet_stamp(corpus_path)
    return similarity.pq_topk(
        e, queries, k=5, m=16, codes_k=32, refine=20,
        cache_key=f"{corpus_path}:{stamp}",
    )


@query("embedding_neardup_pairs")
def embedding_neardup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH buckets (semantic
    dedup). NOTE: the synthetic embeddings testdata contains NO near
    duplicates (max pairwise cosine ≈ 0.51 at sf0.01), so ZERO rows is
    the correct output at any honest threshold — recall is proven by
    the planted-pair tests in tests/test_neardup.py, not by this
    corpus."""
    e = Catalog(spark, sf_dir).embeddings
    return similarity.embedding_neardup_pairs(e, cosine_threshold=0.8, dim=64)


# --------------------------------------------------------------------------
# MinHash-LSH + SimHash near-dup (rows-only; invariants in tests)
# --------------------------------------------------------------------------


@query("dedup_minhash_lsh")
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) + 16-band LSH candidate pairs, exact-Jaccard verified
    at ≥0.5 — shingle→minhash→band→bucket-join, all columnar."""
    d = Catalog(spark, sf_dir).documents
    return neardup.minhash_lsh_pairs(d, "doc_id", "text", jaccard_threshold=0.5)


@query("dedup_simhash")
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 signatures + block-join pairs within hamming ≤ 3."""
    d = Catalog(spark, sf_dir).documents
    sigs = neardup.simhash64(d, "doc_id", "text")
    return neardup.simhash_block_pairs(sigs, "doc_id", max_hamming=3)


# --------------------------------------------------------------------------
# Multimodal: binary column plumbing (rows-only; decode is stubbed)
# --------------------------------------------------------------------------


@query("multimodal_features")
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column pipeline with REAL media decode: synthesize a
    deterministic WAV (doc_id-keyed sine, stdlib wave encoder) or BMP
    (doc_id-keyed solid color, struct encoder) payload per document —
    the testdata has no media; the synthesis stage is the test vehicle,
    like the FHIR construct half — attach no-decode metadata (magic
    sniff, md5, size), then Arrow-batched feature extraction through
    the decoder seam using real_media_decoder, which PARSES the RIFF/
    BMP containers and computes signal/pixel statistics (RMS, ZCR,
    channel means). Only compressed codecs remain import-gated."""
    import numpy as np
    import pandas as pd

    from eligibility_etl_airflow_spark.operators import multimodal

    sine_t = np.arange(800) / 8000.0  # hoisted: shared by every WAV row

    # synth + metadata + decode FUSED into one Python stage (r10, guide
    # §4.1/§4.5) — the image/audio precedent applied to the features
    # query: the former synth-mapInPandas → JVM metadata → decode-
    # mapInPandas chain ran TWO Python runners per task with the payload
    # crossing the JVM↔Python boundary three times, and a chained
    # 2-Python-stage task was measured to cost ~2 s of pure runner
    # plumbing even warm (identity A/B, OPTIMIZATION_r10.md). The
    # payload is a pure function of (did % 2, did % 8 | did % 256) —
    # ≤132 distinct payloads — so encode+md5+decode memoizes per task.
    # Identical bytes → identical md5/features; metadata parity with
    # binary_metadata is exact (len == length, hashlib md5 == F.md5 hex,
    # sniff_format_py is the test-pinned twin of sniff_format); the
    # final select's JVM expressions (element_at/round/size) are
    # unchanged. multimodal.decode_features keeps the unfused seam for
    # callers whose binary column already exists.
    def synth_meta_decode(batches):
        import hashlib

        memo = {}
        for pdf in batches:
            n_bytes, fmts, md5s, feats = [], [], [], []
            for did in pdf["doc_id"]:
                did = int(did)
                key = did % 8 if did % 2 == 0 else 8 + (did % 256)
                t = memo.get(key)
                if t is None:
                    if did % 2 == 0:
                        freq = 200.0 + (did % 8) * 100.0
                        payload = multimodal.encode_wav_pcm16(
                            0.5 * np.sin(2 * np.pi * freq * sine_t), 8000
                        )
                    else:
                        rgb = [(did * 37) % 256, (did * 59) % 256, (did * 83) % 256]
                        payload = multimodal.encode_bmp_rgb24(
                            np.full((4, 4, 3), rgb, dtype=np.uint8)
                        )
                    t = memo[key] = (
                        len(payload),
                        multimodal.sniff_format_py(payload),
                        hashlib.md5(payload).hexdigest(),
                        multimodal.real_media_decoder(payload),
                    )
                n_bytes.append(t[0])
                fmts.append(t[1])
                md5s.append(t[2])
                feats.append(t[3])
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n_bytes,
                    "format": fmts,
                    "content_md5": md5s,
                    "features": feats,
                }
            )

    d = Catalog(spark, sf_dir).documents
    feats = ensure_parallelism(d.select("doc_id")).mapInPandas(
        synth_meta_decode,
        schema="doc_id long, n_bytes long, format string, "
        "content_md5 string, features array<double>",
    )
    return feats.select(
        "doc_id",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        "format",
        "content_md5",
        F.element_at("features", 1).cast("long").alias("kind"),
        F.round(F.element_at("features", 6), 6).alias("rms_or_mean_g"),
        F.size("features").cast("long").alias("feature_dim"),
    )


@query("image_neardup_pairs")
def image_neardup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate detection over a binary column
    (operators/multimodal.py::image_neardup_pairs): synthesize a
    deterministic 8×8-cell BMP per document — the pattern is keyed by
    doc_id % 64 (Weyl-constant bit spread; min cross-pattern hamming 19,
    so groups never cross-pair) making every ~64th doc a pixel-identical
    re-encode, and docs with doc_id % 128 ≥ 64 carry a one-cell
    perturbation (planted hamming-1 near-dups) — then perceptual aHash →
    banded candidates → exact hamming verify, all through the text
    tier's simhash machinery. Rows-only by nature (no SQL can decode a
    BMP); the pair counts are a deterministic function of doc_id
    arithmetic, and the hamming≤3 contract plus pairs-are-symmetric-
    free (id_a < id_b) invariants are test-pinned."""
    import numpy as np
    import pandas as pd

    from eligibility_etl_airflow_spark.operators import multimodal

    from eligibility_etl_airflow_spark.operators import neardup

    # synth + perceptual hash FUSED into one Python stage (r10, guide §4.1):
    # the former synth-mapInPandas → media_hash_table-mapInPandas chain ran
    # two Python runners per task, paying the JVM↔Python transpose twice for
    # the intermediate BMP payload column that only existed to be re-parsed
    # by the very next stage. The bytes produced and hashed are identical
    # (same encode_bmp_rgb24 → average_hash64 composition); only the
    # boundary crossings change. multimodal.image_neardup_pairs keeps the
    # unfused shape for callers whose binary column already exists.
    def synth_hash(batches):
        # the synthetic image is a pure function of
        # (did % 64, did % 128 >= 64, (did // 128) % 8) — did % 8 is
        # implied by did % 64 — so the distinct payload domain is ≤576;
        # memoize encode+hash per task (r10, guide §4.5: amortize
        # heavyweight per-row work across the partition) instead of
        # re-encoding a BMP per row. Identical bytes → identical hashes.
        memo = {}
        for pdf in batches:
            hashes = []
            for did in pdf["doc_id"]:
                did = int(did)
                key = (did % 64, did % 128 >= 64, (did // 128) % 8)
                h = memo.get(key)
                if h is None:
                    rng = (did % 64) * 0x9E3779B97F4A7C15 % (1 << 64)
                    bits = np.array(
                        [(rng >> i) & 1 for i in range(64)], dtype=np.uint8
                    ).reshape(8, 8)
                    g = bits * 200
                    if did % 128 >= 64:
                        g[did % 8, (did // 128) % 8] = 200 - g[did % 8, (did // 128) % 8]
                    payload = multimodal.encode_bmp_rgb24(
                        np.repeat(g[:, :, None].astype(np.uint8), 3, axis=2)
                    )
                    h = memo[key] = multimodal.average_hash64(payload)
                hashes.append(h)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "simhash": pd.array(hashes, dtype="Int64")}
            )

    d = Catalog(spark, sf_dir).documents
    sigs = (
        ensure_parallelism(d.select("doc_id"))
        .mapInPandas(synth_hash, schema="doc_id long, simhash long")
        .filter(F.col("simhash").isNotNull())
    )
    pairs = neardup.simhash_block_pairs(sigs, "doc_id", max_hamming=3)
    # aggregate to hamming-level counts: the pair relation is quadratic
    # in the planted group sizes (deterministic but large) — the graded
    # evidence is the distance histogram + the id checksum, constant-size
    return pairs.groupBy("hamming").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.col("id_a") + F.col("id_b")).cast("long").alias("id_sum"),
    )


@query("audio_neardup_pairs")
def audio_neardup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate detection
    (operators/multimodal.py::audio_neardup_pairs): synthesize a
    deterministic PCM16 WAV per document — broadband content keyed by
    doc_id % 64 (seeded noise; cross-group fingerprints measure hamming
    ≥18, so groups never cross-pair), gain keyed by (doc_id // 64) % 4,
    planting same-recording-different-gain near-dups (the band-gradient
    fingerprint is exactly gain-invariant on broadband content — all
    planted pairs land at hamming 0) — then fingerprint → banded
    candidates → hamming verify through the shared simhash machinery.
    Rows-only by nature (no SQL decodes RIFF); the histogram is a
    deterministic function of doc_id arithmetic + fixed seeds."""
    import numpy as np
    import pandas as pd

    from eligibility_etl_airflow_spark.operators import multimodal

    from eligibility_etl_airflow_spark.operators import neardup

    # synth + fingerprint FUSED into one Python stage (r10, guide §4.1) —
    # same rationale as image_neardup_pairs_q: the WAV payload column only
    # existed to cross the JVM↔Python boundary twice. Identical bytes
    # through encode_wav_pcm16 → audio_fingerprint64, so the fingerprints
    # (and the graded histogram) are unchanged.
    def synth_hash(batches):
        # the synthetic recording is a pure function of
        # (did % 64, (did // 64) % 4) — ≤256 distinct payloads — so
        # memoize encode+fingerprint per task (r10, guide §4.5), the
        # same pattern the `bases` dict already used for the noise
        # bases. Identical bytes → identical fingerprints.
        bases = {}
        memo = {}
        for pdf in batches:
            hashes = []
            for did in pdf["doc_id"]:
                did = int(did)
                grp = did % 64
                gain_idx = (did // 64) % 4
                h = memo.get((grp, gain_idx))
                if h is None:
                    if grp not in bases:
                        rng = np.random.RandomState(1000 + grp)
                        b = rng.randn(800)
                        bases[grp] = b / np.abs(b).max()
                    gain = 0.2 + 0.2 * gain_idx
                    payload = multimodal.encode_wav_pcm16(gain * bases[grp], 8000)
                    h = memo[(grp, gain_idx)] = multimodal.audio_fingerprint64(payload)
                hashes.append(h)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "simhash": pd.array(hashes, dtype="Int64")}
            )

    d = Catalog(spark, sf_dir).documents
    sigs = (
        ensure_parallelism(d.select("doc_id"))
        .mapInPandas(synth_hash, schema="doc_id long, simhash long")
        .filter(F.col("simhash").isNotNull())
    )
    pairs = neardup.simhash_block_pairs(sigs, "doc_id", max_hamming=3)
    return pairs.groupBy("hamming").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.col("id_a") + F.col("id_b")).cast("long").alias("id_sum"),
    )


# --------------------------------------------------------------------------
# PII redaction — corpus scrubbing before training
# --------------------------------------------------------------------------

_PII = {
    "email": r"[A-Za-z0-9_.+-]+@[A-Za-z0-9-]+\.[A-Za-z0-9.-]+",
    "ssn": r"\d{3}-\d{2}-\d{4}",
    "phone": r"\d{3}[-.]\d{3}[-.]\d{4}",
}

PII_ORACLE = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_PII["email"]}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(text, '{_PII["ssn"]}')) AS BIGINT) AS n_ssn,
       CAST(len(regexp_extract_all(text, '{_PII["phone"]}')) AS BIGINT) AS n_phone,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
           '{_PII["email"]}', '<EMAIL>', 'g'),
           '{_PII["ssn"]}', '<SSN>', 'g'),
           '{_PII["phone"]}', '<PHONE>', 'g')) AS redacted_md5
FROM documents
"""


@query("pii_redaction", oracle=PII_ORACLE)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (emails / SSN-like / phone-like patterns → typed
    placeholder tokens) with per-class match counts — the standard
    pre-training corpus scrubbing pass. Pure JVM regexes inside
    whole-stage codegen; one map-only pass over the scan, embarrassingly
    parallel at any scale. The redacted text is compared to the oracle
    via md5 so the full scrubbed corpus is value-checked without hashing
    megabytes through the driver."""
    d = Catalog(spark, sf_dir).documents
    t = F.col("text")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, _PII["email"], "<EMAIL>"),
            _PII["ssn"],
            "<SSN>",
        ),
        _PII["phone"],
        "<PHONE>",
    )
    return d.select(
        "doc_id",
        F.regexp_count(t, F.lit(_PII["email"])).cast("long").alias("n_email"),
        F.regexp_count(t, F.lit(_PII["ssn"])).cast("long").alias("n_ssn"),
        F.regexp_count(t, F.lit(_PII["phone"])).cast("long").alias("n_phone"),
        F.md5(redacted).alias("redacted_md5"),
    )


# --------------------------------------------------------------------------
# TF-IDF top terms per document
# --------------------------------------------------------------------------

TFIDF_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> '' GROUP BY 1, 2
),
dfreq AS (
  SELECT term, count(*) AS dfreq FROM tf GROUP BY 1
),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         CAST(tf.tf AS BIGINT) AS tf,
         CAST(dfreq.dfreq AS BIGINT) AS dfreq,
         tf.tf * ln(n.n_docs / dfreq.dfreq) AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, tf, dfreq,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term ASC) AS rnk
  FROM scored
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, term,
       tf, dfreq, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= 3
"""


@query("tfidf_top_terms", oracle=TFIDF_ORACLE)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: tokenize, term frequency per doc,
    document frequency, idf = ln(N/df), top-3 terms per doc. Entirely
    built-in expressions — two hash aggregates plus a shuffle join on
    term (term dictionary is tiny relative to the corpus, so Catalyst/AQE
    broadcasts it) and a per-doc top-k window. Outputs integer tf/df and
    the rank (float scores stay internal so the DuckDB oracle hash-matches
    bit-exactly)."""
    from pyspark.sql.window import Window

    d = Catalog(spark, sf_dir).documents
    toks = d.select(
        "doc_id", F.explode_outer(F.split(F.lower("text"), "[^a-z]+")).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # dfreq as a count window over tf — the aggregate-joined-back form
    # consumed the tf lineage twice, re-running the corpus explode (the
    # bm25 single-consumption fix, same class); the window shuffles the
    # (doc, term, tf) relation by term, never re-reads text
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.withColumn(
            "dfreq", F.count(F.lit(1)).over(Window.partitionBy("term"))
        )
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score", F.col("tf") * F.log(F.col("n_docs") / F.col("dfreq")))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("dfreq").cast("long").alias("dfreq"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


@query("winnow_fingerprint_pairs")
def winnow_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprint overlap pairs — rolling-hash document
    fingerprinting with guaranteed detection of shared substrings of
    length ≥ w+k-1; invariants in tests/test_neardup.py."""
    d = Catalog(spark, sf_dir).documents
    fps = neardup.winnow_fingerprints(d, "doc_id", "text")
    # max_bucket_size acts as a stop-fingerprint filter: a fingerprint
    # shared by >64 documents is template boilerplate (zero discriminative
    # signal) and would only fuel quadratic pair expansion — the MOSS
    # analogue of dropping stopwords. Without it the templated synthetic
    # corpus exploded to ~25k pairs/doc and dominated the whole bench.
    return neardup.fingerprint_overlap_pairs(fps, min_shared=3, max_bucket_size=64)


# The winnowing algorithm is fully deterministic given the k-gram hash,
# so swapping xxhash64 (JVM-only) for md5 (identical in Spark and
# DuckDB) makes the ENTIRE pipeline — shingle hash, window-min
# selection, bucket join, shared-print counts — SQL-expressible and
# driver-gradable. Window-min over md5 hex strings is the lexicographic
# min; everything downstream is value-agnostic.
WINNOW_MD5_ORACLE = r"""
WITH d AS (
  -- explicit class == Java \s (RE2 \s lacks \x0b): operators/text.py
  SELECT doc_id,
         trim(regexp_replace(lower(text), '[ \t\n\f\r\x0b]+', ' ', 'g')) AS norm
  FROM documents WHERE text IS NOT NULL
),
h AS (
  SELECT doc_id,
         list_transform(
           generate_series(1, greatest(len(norm) - 4, 1)),
           i -> md5(substr(norm, i, 5))
         ) AS hashes
  FROM d
),
fp AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(0, greatest(len(hashes) - 4, 0)),
           i -> list_aggregate(hashes[i + 1 : i + 4], 'min')
         )) AS prints
  FROM h
),
inv AS (SELECT doc_id, unnest(prints) AS fp_val FROM fp),
ok AS (
  SELECT fp_val FROM inv GROUP BY fp_val
  HAVING count(*) BETWEEN 2 AND 64
),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM inv a JOIN ok USING (fp_val) JOIN inv b USING (fp_val)
  WHERE a.doc_id < b.doc_id
)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(count(*) AS BIGINT) AS shared_fingerprints
FROM p GROUP BY 1, 2 HAVING count(*) >= 3
"""


@query("winnow_overlap_pairs_md5", oracle=WINNOW_MD5_ORACLE)
def winnow_overlap_pairs_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-gradable twin of ``winnow_fingerprint_pairs``: the same
    winnowing operator pipeline (operators/neardup.py::
    winnow_fingerprints + fingerprint_overlap_pairs, same k=5/w=4/
    min_shared=3/max_bucket_size=64) with ``hash_fn=F.md5`` so DuckDB
    can reproduce the k-gram hashing bit-for-bit — this converts the
    winnow machinery from rows-only to driver-graded. The production
    query keeps xxhash64 (cheaper by a wide margin at 100 TB; the MOSS
    guarantee is hash-agnostic)."""
    d = Catalog(spark, sf_dir).documents
    fps = neardup.winnow_fingerprints(d, "doc_id", "text", hash_fn=F.md5)
    return neardup.fingerprint_overlap_pairs(fps, min_shared=3, max_bucket_size=64)


# --------------------------------------------------------------------------
# Connected-components dedup clustering — transitive closure of the
# near-dup pair graph, oracle-checked via DuckDB recursive CTE
# --------------------------------------------------------------------------

CC_ORACLE = r"""
WITH RECURSIVE sh AS (
  SELECT doc_id,
         lang || '#' || CAST(n_chars // 100 AS VARCHAR) AS block,
         list_distinct(list_transform(
           generate_series(1, greatest(len(norm) - 2, 1)),
           i -> norm[i:i+2]
         )) AS g
  FROM (SELECT doc_id, lang, n_chars,
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        FROM documents)
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.block = b.block AND a.doc_id < b.doc_id
  WHERE round(len(list_intersect(a.g, b.g)) * 1.0
              / len(list_distinct(list_concat(a.g, b.g))), 6) >= 0.6
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach AS (
  SELECT doc_id AS id, doc_id AS label FROM documents
  UNION
  SELECT e.dst AS id, r.label AS label
  FROM reach r JOIN edges e ON e.src = r.id
  WHERE r.label < e.dst
)
SELECT CAST(id AS BIGINT) AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
FROM reach GROUP BY id
"""


def blocked_component_labels(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Shared construction for the component-clustering queries
    (``dedup_connected_components`` here, ``cluster_representatives`` in
    plans/training_prep.py — and ``CC_ORACLE`` is correspondingly the
    shared oracle CTE): documents with the lang+length blocking key,
    and every doc labeled with its 3-gram-Jaccard-≥0.6 component's min
    doc_id (singletons label themselves). One definition so the Spark
    side and the composed oracles cannot drift apart.

    Returns ``(docs_with_block, labels)`` where labels is
    (doc_id long, cluster_id long).

    r10 (guide §2.4/§5): both the pair relation (via
    ``_blocked_jaccard_pairs``) and the label relation are persisted —
    three registered queries consume these labels, and before the
    staging persist each of them recomputed the full shingle → pairwise
    intersection → closure chain from the parquet scan."""
    from pyspark import StorageLevel

    from eligibility_etl_airflow_spark.operators import components

    d, pairs = _blocked_jaccard_pairs(spark, sf_dir)
    prs = pairs.filter(F.col("jaccard") >= 0.6)
    labels = (
        components.attach_components(
            d.select(F.col("doc_id").cast("long").alias("doc_id")),
            "doc_id",
            prs,
            block_col="block",
        )
        .select("doc_id", F.col("cluster_id").cast("long").alias("cluster_id"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return d, labels


@query("dedup_connected_components", oracle=CC_ORACLE)
def dedup_connected_components_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS, not just pairs: exact 3-gram Jaccard pairs
    (≥0.6, blocked) → distributed connected components (min-label
    propagation + pointer jumping, operators/components.py) → every doc
    labeled with its component's min doc_id; singletons label themselves.

    This is the production shape of near-dup removal — one keeper per
    transitive group. Because the pairs are block-confined by
    construction, the closure runs on the single-shuffle per-block
    union-find tier (components.connected_components_blocked); the
    iterative O(log diameter) tier handles unblocked graphs and is
    equivalence-tested against this one. The DuckDB oracle computes the
    same closure with a recursive CTE (pruned to strictly-decreasing
    labels so only the component minimum floods the graph)."""
    _, labels = blocked_component_labels(spark, sf_dir)
    return labels


# --------------------------------------------------------------------------
# Sequence packing + domain-mix resampling — training-batch construction
# --------------------------------------------------------------------------


@query("sequence_packing")
def sequence_packing_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into 512-token training batches (best-fit-
    decreasing inside hash shards, operators/packing.py). Rows-only:
    bin packing has no SQL closed form; the invariants (every doc packed
    once, per-pack sum ≤ budget, utilization floor, determinism) are
    asserted in tests/test_packing.py."""
    from eligibility_etl_airflow_spark.operators import packing, text

    d = Catalog(spark, sf_dir).documents.select(
        "doc_id", text.token_count_bpe(F.col("text")).alias("n_tokens")
    )
    return packing.pack_sequences(d, "doc_id", "n_tokens", budget=512, n_shards=16)


DOMAIN_MIX_ORACLE = """
WITH sh(s, share) AS (VALUES ('en', 0.5), ('de', 0.2), ('es', 0.2), ('fr', 0.1)),
c AS (
  SELECT sh.s, sh.share, count(*) AS n
  FROM sh JOIN documents d ON d.lang = sh.s
  GROUP BY sh.s, sh.share
),
f AS (
  SELECT s, LEAST(1.0, MIN(n / share) OVER () * share / n) AS frac FROM c
)
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d JOIN f ON d.lang = f.s
WHERE (CAST(('0x' || substring(md5('mix7' || '|' || CAST(d.doc_id AS VARCHAR)), 1, 8))
            AS BIGINT) + 1) / 4294967297.0 <= f.frac
"""


@query("domain_mix_resample", oracle=DOMAIN_MIX_ORACLE)
def domain_mix_resample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample the corpus to a target language mix (operators/
    sampling.py::resample_to_mix): count per stratum, derive
    per-stratum Bernoulli fractions for the largest feasible corpus at
    the requested shares, then the key-hash membership rule — keep iff
    md5-uniform(seed, doc_id) <= fraction(lang). Membership is a pure
    function of the key (rerun-stable on any layout), so DuckDB
    reproduces the draw exactly: the oracle re-derives the fractions
    with the same min-feasibility window and applies the same md5
    threshold. Proportion/feasibility invariants in
    tests/test_packing.py."""
    from eligibility_etl_airflow_spark.operators import sampling

    d = Catalog(spark, sf_dir).documents
    mix = {"en": 0.5, "de": 0.2, "es": 0.2, "fr": 0.1}
    return sampling.resample_to_mix(d, "lang", mix, seed=7, id_col="doc_id").select(
        "doc_id", "lang", "source", "n_chars"
    )


# --------------------------------------------------------------------------
# Edit-distance (Levenshtein) fuzzy pairs — blocked, oracle-checked
# --------------------------------------------------------------------------

EDIT_DIST_ORACLE = r"""
WITH k0 AS (
  SELECT doc_id,
         lang || '#' || CAST(n_chars // 100 AS VARCHAR) AS block,
         substring(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 32) AS key
  FROM documents
), k AS (
  -- mirror of the operator's max_block_size=1000 degenerate-block guard
  SELECT * FROM k0 QUALIFY count(*) OVER (PARTITION BY block) <= 1000
)
SELECT a.block AS block,
       a.doc_id AS id_a,
       b.doc_id AS id_b,
       CAST(levenshtein(a.key, b.key) AS BIGINT) AS edit_dist
FROM k a JOIN k b ON a.block = b.block AND a.doc_id < b.doc_id
WHERE levenshtein(a.key, b.key) <= 8
"""


@query("fuzzy_pairs_levenshtein", oracle=EDIT_DIST_ORACLE)
def fuzzy_pairs_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-level duplicate pairs: Levenshtein ≤ 8 on the 32-char
    normalized prefix, inside the same lang×length blocks as the n-gram
    query (operators/neardup.py::edit_distance_pairs). Spark's
    thresholded levenshtein prunes the DP past the bound."""
    d = Catalog(spark, sf_dir).documents.withColumn(
        "block",
        F.concat_ws("#", F.col("lang"), (F.col("n_chars") / 100).cast("long").cast("string")),
    )
    return neardup.edit_distance_pairs(
        d, "doc_id", "text", "block", prefix_len=32, max_dist=8
    )


# --------------------------------------------------------------------------
# Benchmark decontamination — eval-set n-gram collision scan
# --------------------------------------------------------------------------

DECONTAM_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                     t -> t <> '') AS toks
  FROM documents
), doc_ngrams AS (
  SELECT DISTINCT doc_id, ng FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(toks) - 7),
                                 i -> array_to_string(toks[i:i+7], ' '))) AS ng
    FROM toks
  )
), bench_ngrams AS (
  SELECT DISTINCT ng FROM doc_ngrams WHERE doc_id % 97 = 0
), matched AS (
  SELECT d.doc_id,
         CAST(count(*) AS BIGINT) AS n_ngrams,
         CAST(sum(CASE WHEN b.ng IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_matched
  FROM doc_ngrams d LEFT JOIN bench_ngrams b USING (ng)
  GROUP BY d.doc_id
)
SELECT t.doc_id,
       CAST(coalesce(m.n_ngrams, 0) AS BIGINT) AS n_ngrams,
       CAST(coalesce(m.n_matched, 0) AS BIGINT) AS n_matched,
       round(CASE WHEN coalesce(m.n_ngrams, 0) > 0
                  THEN m.n_matched * 1.0 / m.n_ngrams ELSE 0 END, 4) AS overlap,
       coalesce(m.n_matched, 0) > 0 AS contaminated
FROM toks t LEFT JOIN matched m USING (doc_id)
"""


@query("decontamination_overlap", oracle=DECONTAM_ORACLE)
def decontamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontam.py): flag corpus
    docs sharing any 8-token n-gram with the eval set (here: the
    deterministic doc_id % 97 slice of the corpus, so planted
    contamination exists by construction). String n-grams keep the
    DuckDB twin portable; production calls use hash_ngrams=True (same
    counts, 8-byte join keys)."""
    from eligibility_etl_airflow_spark.operators import decontam

    d = Catalog(spark, sf_dir).documents
    bench = d.filter(F.col("doc_id") % 97 == 0)
    return decontam.contamination_flags(d, bench, n=8, hash_ngrams=False)


# --------------------------------------------------------------------------
# Within-document repetition metrics (Gopher-family filters)
# --------------------------------------------------------------------------

REPETITION_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                     t -> t <> '') AS toks
  FROM documents
), tok_counts AS (
  SELECT doc_id, gram, count(*) AS c FROM (
    SELECT doc_id, unnest(toks) AS gram FROM toks
  ) GROUP BY doc_id, gram
), tok_stats AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
         CAST(count(*) AS BIGINT) AS d_tok, CAST(max(c) AS BIGINT) AS top_tok
  FROM tok_counts GROUP BY doc_id
), bg_counts AS (
  SELECT doc_id, gram, count(*) AS c FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(toks) - 1),
                                 i -> array_to_string(toks[i:i+1], ' '))) AS gram
    FROM toks
  ) GROUP BY doc_id, gram
), bg_stats AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bg,
         CAST(count(*) AS BIGINT) AS d_bg
  FROM bg_counts GROUP BY doc_id
), ratios AS (
  SELECT t.doc_id,
         coalesce(ts.n_tok, 0) AS n_tokens,
         CASE WHEN coalesce(ts.n_tok, 0) > 0
              THEN 1.0 - ts.d_tok * 1.0 / ts.n_tok ELSE 0 END AS dup_tok,
         CASE WHEN coalesce(bs.n_bg, 0) > 0
              THEN 1.0 - bs.d_bg * 1.0 / bs.n_bg ELSE 0 END AS dup_bg,
         CASE WHEN coalesce(ts.n_tok, 0) > 0
              THEN ts.top_tok * 1.0 / ts.n_tok ELSE 0 END AS top_share
  FROM toks t LEFT JOIN tok_stats ts USING (doc_id)
              LEFT JOIN bg_stats bs USING (doc_id)
)
SELECT doc_id, n_tokens,
       round(dup_tok, 4) AS dup_token_ratio,
       round(dup_bg, 4) AS dup_bigram_ratio,
       round(top_share, 4) AS top_token_share,
       (dup_tok <= 0.4 AND dup_bg <= 0.2 AND top_share <= 0.2) AS keep
FROM ratios
"""


@query("repetition_metrics", oracle=REPETITION_ORACLE)
def repetition_metrics_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style self-similarity filters (operators/repetition.py):
    duplicate-token ratio, duplicate-bigram ratio, top-token share, and
    the composed keep flag."""
    from eligibility_etl_airflow_spark.operators import repetition

    d = Catalog(spark, sf_dir).documents
    return repetition.repetition_metrics(d)


# --------------------------------------------------------------------------
# Document chunking — overlapping token windows with provenance
# --------------------------------------------------------------------------

CHUNK_ORACLE = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS toks
  FROM documents
), chunked AS (
  SELECT doc_id,
         CASE WHEN len(toks) > 0 THEN
           list_transform(
             generate_series(0, CAST(ceil(greatest(len(toks) - 64, 0) / 56.0) AS INT)),
             i -> array_to_string(toks[i*56+1 : i*56+64], ' '))
         ELSE [] END AS chunks
  FROM base
), e AS (
  SELECT doc_id, unnest(generate_series(1, len(chunks))) AS i, chunks
  FROM chunked
)
SELECT doc_id,
       CAST(i - 1 AS BIGINT) AS chunk_idx,
       chunks[i] AS chunk_text,
       CAST(len(string_split(chunks[i], ' ')) AS BIGINT) AS n_chunk_tokens
FROM e
"""


@query("document_chunks", oracle=CHUNK_ORACLE)
def document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window chunking (operators/chunking.py): 64-token windows,
    8-token overlap, dense 0-based chunk_idx per doc — the
    pre-tokenization step every context-bounded consumer needs."""
    from eligibility_etl_airflow_spark.operators import chunking

    d = Catalog(spark, sf_dir).documents
    return chunking.chunk_documents(d, chunk_tokens=64, overlap=8)


# --------------------------------------------------------------------------
# C4-style global segment dedup — remove corpus-wide repeated spans
# --------------------------------------------------------------------------

SEGMENT_DEDUP_ORACLE = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS toks
  FROM documents
), chunked AS (
  SELECT doc_id,
         CASE WHEN len(toks) > 0 THEN
           list_transform(
             generate_series(0, CAST(ceil(greatest(len(toks) - 16, 0) / 16.0) AS INT)),
             i -> array_to_string(toks[i*16+1 : i*16+16], ' '))
         ELSE [] END AS chunks
  FROM base
), seg AS (
  SELECT doc_id, i - 1 AS chunk_idx, chunks[i] AS seg FROM (
    SELECT doc_id, unnest(generate_series(1, len(chunks))) AS i, chunks
    FROM chunked
  )
), kept AS (
  SELECT seg, min(struct_pack(doc_id := doc_id, chunk_idx := chunk_idx)) AS k
  FROM seg GROUP BY seg
), kept_rows AS (
  SELECT k.doc_id AS doc_id, k.chunk_idx AS chunk_idx, seg FROM kept
), totals AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_total FROM seg GROUP BY doc_id
), kept_agg AS (
  SELECT doc_id,
         string_agg(seg, ' ' ORDER BY chunk_idx) AS clean_text,
         CAST(count(*) AS BIGINT) AS n_kept
  FROM kept_rows GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(k.clean_text, '') AS clean_text,
       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(coalesce(t.n_total, 0) - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed
FROM documents d
LEFT JOIN totals t USING (doc_id)
LEFT JOIN kept_agg k USING (doc_id)
"""


@query("dedup_global_segments", oracle=SEGMENT_DEDUP_ORACLE)
def dedup_global_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-wide span dedup (operators/dedup.py::
    dedup_repeated_segments): 16-token segments, first occurrence wins
    (min-struct aggregate — skew-resistant where a row_number window is
    not), documents reconstructed from their surviving segments."""
    from eligibility_etl_airflow_spark.operators import dedup as dedup_ops

    d = Catalog(spark, sf_dir).documents
    return dedup_ops.dedup_repeated_segments(d, segment_tokens=16)


DUP_SPANS_ORACLE = r"""
WITH toks AS (
  -- explicit class == Java \s (RE2 \s lacks \x0b): operators/text.py
  SELECT doc_id,
         list_filter(string_split_regex(text, '[ \t\n\f\r\x0b]+'), x -> x <> '') AS t
  FROM documents
), sized AS (
  SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) >= 16
), pos_t AS (
  SELECT doc_id, t, unnest(range(1, n - 14)) AS i FROM sized
), wins AS (
  SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+15], ' ') AS w
  FROM pos_t
), dups AS (
  SELECT w FROM wins GROUP BY w HAVING count(*) >= 2
), hits AS (
  SELECT doc_id, pos FROM wins JOIN dups USING (w)
), runs AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM hits
), spans AS (
  SELECT doc_id, min(pos) AS span_start, max(pos) + 15 AS span_end
  FROM runs GROUP BY doc_id, grp
)
SELECT CAST(s.doc_id AS BIGINT) AS doc_id,
       CAST(span_start AS BIGINT) AS span_start,
       CAST(span_end AS BIGINT) AS span_end,
       CAST(span_end - span_start + 1 AS BIGINT) AS n_span_tokens,
       array_to_string(t[span_start + 1 : span_end + 1], ' ') AS span_text
FROM spans s JOIN sized USING (doc_id)
"""


@query("duplicate_text_spans", oracle=DUP_SPANS_ORACLE)
def duplicate_text_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated token spans (operators/dedup.py::
    duplicate_spans), the last tier of the dedup ladder: stride-1
    16-token windows, corpus-wide occurrence count, per-doc
    gap-and-island chaining into maximal (start, end) spans with exact
    0-based token offsets. Completes what dedup_global_segments'
    fixed grid only approximates — a quote straddling segment
    boundaries reports as ONE span. hashed=False here so the result is
    exact text equality, byte-identical to the oracle's window-chain
    reconstruction; hashed=True is the 8-bytes-per-token scale path
    (equality of the two modes is test-pinned)."""
    from eligibility_etl_airflow_spark.operators import dedup as dedup_ops

    d = Catalog(spark, sf_dir).documents
    return dedup_ops.duplicate_spans(d, min_tokens=16, hashed=False)


SPAN_PARTNERS_ORACLE = r"""
WITH toks AS (
  -- explicit class == Java \s (RE2 \s lacks \x0b): operators/text.py
  SELECT doc_id,
         list_filter(string_split_regex(text, '[ \t\n\f\r\x0b]+'), x -> x <> '') AS t
  FROM documents
), sized AS (
  SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) >= 16
), pos_t AS (
  SELECT doc_id, t, unnest(range(1, n - 14)) AS i FROM sized
), wins AS (
  SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+15], ' ') AS w
  FROM pos_t
), firsts AS (
  SELECT w,
         min(struct_pack(id := doc_id, pos := pos)) AS f,
         count(*) AS cnt
  FROM wins GROUP BY w
), hits AS (
  SELECT wins.doc_id, wins.pos, f.id AS p_id, f.pos AS p_pos
  FROM wins JOIN firsts USING (w) WHERE cnt >= 2
), runs AS (
  SELECT doc_id, pos, p_id, p_pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM hits
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + 15 AS BIGINT) AS span_end,
       CAST(max(pos) + 15 - min(pos) + 1 AS BIGINT) AS n_span_tokens,
       CAST(arg_min(p_id, pos) AS BIGINT) AS partner_id,
       CAST(arg_min(p_pos, pos) AS BIGINT) AS partner_pos
FROM runs GROUP BY doc_id, grp
"""


@query("duplicate_span_partners", oracle=SPAN_PARTNERS_ORACLE)
def duplicate_span_partners(spark: SparkSession, sf_dir: str) -> DataFrame:
    """duplicate_text_spans with provenance attribution
    (operators/dedup.py::duplicate_spans(with_partner=True)): each
    maximal span additionally reports WITH WHOM it duplicates — the
    corpus-first (lowest (doc, position)) occurrence of its first
    window, the same canonical-copy rule the removal step keeps. A span
    on the canonical copy points at itself; every later copy points at
    its source — the feed for contrastive pair mining and duplication
    provenance audits. Same scale shape as the locator (the semi-join
    becomes an inner join carrying a 16-byte struct); hashed=False for
    byte-identity with the oracle's window-chain reconstruction."""
    from eligibility_etl_airflow_spark.operators import dedup as dedup_ops

    d = Catalog(spark, sf_dir).documents
    return dedup_ops.duplicate_spans(
        d, min_tokens=16, hashed=False, with_partner=True
    )


SPAN_REMOVAL_ORACLE = r"""
WITH toks AS (
  -- explicit class == Java \s (RE2 \s lacks \x0b): operators/text.py
  SELECT doc_id,
         list_filter(string_split_regex(text, '[ \t\n\f\r\x0b]+'), x -> x <> '') AS t
  FROM documents
), sized AS (
  SELECT doc_id, t, len(t) AS n FROM toks
), pos_t AS (
  SELECT doc_id, t, unnest(range(1, n - 14)) AS i FROM sized WHERE n >= 16
), wins AS (
  SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+15], ' ') AS w
  FROM pos_t
), marked AS (
  SELECT doc_id, pos,
         count(*) OVER (PARTITION BY w) AS cnt,
         row_number() OVER (PARTITION BY w ORDER BY doc_id, pos) AS rn
  FROM wins
), removable AS (
  SELECT doc_id, pos FROM marked WHERE cnt >= 2 AND rn > 1
), runs AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM removable
), cuts AS (
  SELECT doc_id, min(pos) AS s, max(pos) + 15 AS e
  FROM runs GROUP BY doc_id, grp
), tokv AS (
  SELECT doc_id, unnest(range(1, n + 1)) - 1 AS ti, t FROM sized
), keptpos AS (
  SELECT tp.doc_id, tp.t[tp.ti + 1] AS tok, tp.ti
  FROM tokv tp
  WHERE NOT EXISTS (SELECT 1 FROM cuts c
                    WHERE c.doc_id = tp.doc_id
                      AND tp.ti BETWEEN c.s AND c.e)
), rebuilt AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY ti) AS clean_text,
         count(*) AS n_kept
  FROM keptpos GROUP BY doc_id
)
SELECT CAST(s.doc_id AS BIGINT) AS doc_id,
       coalesce(r.clean_text, '') AS clean_text,
       CAST(s.n AS BIGINT) AS n_tokens,
       CAST(s.n - coalesce(r.n_kept, 0) AS BIGINT) AS n_tokens_removed
FROM sized s LEFT JOIN rebuilt r USING (doc_id)
"""


@query("dedup_span_removal", oracle=SPAN_REMOVAL_ORACLE)
def dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal step over duplicate_text_spans' location step
    (operators/dedup.py::remove_duplicate_spans): the corpus-first
    occurrence of every duplicated 16-token window stays canonical,
    every later occurrence's positions chain into maximal islands and
    are cut at exact token offsets — exactly one verbatim copy survives
    corpus-wide, with no fixed-grid straddle loss. hashed=False keys on
    window text so the result is byte-identical to the oracle's
    windowed-rank reconstruction; hashed=True is the 8-bytes-per-token
    scale path (mode equality test-pinned)."""
    from eligibility_etl_airflow_spark.operators import dedup as dedup_ops

    d = Catalog(spark, sf_dir).documents
    return dedup_ops.remove_duplicate_spans(d, min_tokens=16, hashed=False)


@query("fuzzy_decontamination")
def fuzzy_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-based fuzzy decontamination (operators/neardup.py::
    minhash_lsh_pairs_bipartite): corpus docs near-duplicating the
    doc_id % 97 eval slice at Jaccard ≥ 0.5 — catches the paraphrased
    leak the exact 8-gram scan (decontamination_overlap) misses. The
    eval side broadcasts; the corpus side never shuffles. Rows-only
    (LSH candidate generation is probabilistic); recall vs planted
    contamination pinned in tests/test_neardup.py."""
    d = Catalog(spark, sf_dir).documents
    bench = d.filter(F.col("doc_id") % 97 == 0)
    return neardup.minhash_lsh_pairs_bipartite(d, bench, jaccard_threshold=0.5)


# --------------------------------------------------------------------------
# Global exact set-similarity join (prefix filtering), BM25 search,
# unigram-LM fluency scoring
# --------------------------------------------------------------------------

SET_SIM_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         regexp_split_to_array(trim(regexp_replace(lower(text),'\s+',' ','g')), ' ') AS tk
  FROM documents
), pos AS (
  SELECT doc_id, tk, unnest(range(1, len(tk)-3)) AS i FROM toks WHERE len(tk) >= 5
), sh AS (
  SELECT DISTINCT doc_id,
         tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4] AS sh
  FROM pos
), agg AS (SELECT doc_id, list(sh) s FROM sh GROUP BY 1)
SELECT CAST(a.doc_id AS BIGINT) AS id_a,
       CAST(b.doc_id AS BIGINT) AS id_b,
       CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter_size,
       CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS BIGINT) AS union_size
FROM agg a JOIN agg b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.s, b.s))
      >= 0.5 * (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
"""


@query("set_similarity_pairs", oracle=SET_SIM_ORACLE)
def set_similarity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global EXACT 5-gram-shingle Jaccard pairs at t=0.5 via prefix
    filtering (operators/neardup.py::set_similarity_join). Unlike the
    blocked ngram_jaccard_pairs there is no blocking key to miss across,
    and unlike MinHash-LSH there is no recall probability — the PPJoin
    prefix lemma guarantees every qualifying pair survives candidate
    pruning. The oracle is the brute-force all-pairs join, so this row
    also proves the pruning loses nothing. shingle_k=5 matches the
    MinHash default (hashed_shingles_of_norm) and keeps prefix postings
    near-unique even on a narrow-vocabulary corpus."""
    d = Catalog(spark, sf_dir).documents
    return neardup.set_similarity_join(
        d, "doc_id", "text", threshold=0.5, shingle_k=5
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "inter_size",
        "union_size",
    )


BM25_TERMS = ("vector", "merge", "stream")

BM25_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS term
  FROM documents
), clean AS (SELECT doc_id, term FROM toks WHERE term <> ''),
post AS (
  SELECT doc_id, term, count(*) AS tf FROM clean
  WHERE term IN ('vector', 'merge', 'stream') GROUP BY 1, 2
),
dfreq AS (SELECT term, count(*) AS dfreq FROM post GROUP BY 1),
dl AS (SELECT doc_id, count(*) AS dl FROM clean GROUP BY 1),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT avg(dl) FROM dl) AS avgdl
),
scored AS (
  SELECT post.doc_id,
         ln(1 + (stats.n_docs - dfreq.dfreq + 0.5) / (dfreq.dfreq + 0.5))
           * (post.tf * (1.2 + 1.0))
           / (post.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl)) AS term_score,
         post.tf
  FROM post
  JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
),
per_doc AS (
  SELECT doc_id, sum(term_score) AS score,
         count(*) AS n_matched, sum(tf) AS total_tf
  FROM scored GROUP BY 1
)
SELECT CAST(doc_id AS BIGINT) AS id,
       CAST(n_matched AS BIGINT) AS n_matched,
       CAST(total_tf AS BIGINT) AS total_tf,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rnk
FROM per_doc QUALIFY rnk <= 10
"""


@query("bm25_search", oracle=BM25_ORACLE)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for the query {vector, merge, stream}
    (operators/search.py::bm25_topk): inverted-index postings restricted
    to the query terms before the aggregate, idf/length-normalized
    scoring in pure JVM arithmetic, one bounded window for the top-k.
    Float scores stay internal; the emitted evidence (match counts,
    term frequencies, rank) is integer, so the oracle hash is exact."""
    from eligibility_etl_airflow_spark.operators import search

    d = Catalog(spark, sf_dir).documents
    return search.bm25_topk(d, "doc_id", "text", list(BM25_TERMS), k=10).select(
        F.col("id").cast("long").alias("id"), "n_matched", "total_tf", "rnk"
    )


# --------------------------------------------------------------------------
# Hybrid retrieval — BM25 + embedding rankings fused with RRF
# --------------------------------------------------------------------------

HYBRID_RRF_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS term
  FROM documents
), clean AS (SELECT doc_id, term FROM toks WHERE term <> ''),
post AS (
  SELECT doc_id, term, count(*) AS tf FROM clean
  WHERE term IN ('vector', 'merge', 'stream') GROUP BY 1, 2
),
dfreq AS (SELECT term, count(*) AS dfreq FROM post GROUP BY 1),
dl AS (SELECT doc_id, count(*) AS dl FROM clean GROUP BY 1),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT avg(dl) FROM dl) AS avgdl
),
lex AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rnk
  FROM (
    SELECT post.doc_id, sum(
             ln(1 + (stats.n_docs - dfreq.dfreq + 0.5) / (dfreq.dfreq + 0.5))
             * (post.tf * (1.2 + 1.0))
             / (post.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl))
           ) AS score
    FROM post JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
    GROUP BY 1
  ) QUALIFY rnk <= 20
),
q AS (SELECT CAST(embedding AS DOUBLE[]) v FROM embeddings WHERE vec_id = 3),
sem AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY sim DESC, doc_id ASC) AS BIGINT) AS rnk
  FROM (
    SELECT c.vec_id AS doc_id,
           round(list_dot_product(CAST(c.embedding AS DOUBLE[]), q.v)
                 / (sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(q.v, q.v))), 6) AS sim
    FROM embeddings c CROSS JOIN q
    WHERE c.vec_id <> 3
  ) QUALIFY rnk <= 20
),
u AS (
  SELECT doc_id, rnk FROM lex
  UNION ALL
  SELECT doc_id, rnk FROM sem
),
f AS (
  SELECT doc_id, round(sum(1.0 / (60 + rnk)), 6) AS s,
         CAST(count(*) AS BIGINT) AS n_systems
  FROM u GROUP BY 1
),
r AS (
  SELECT doc_id, n_systems,
         CAST(row_number() OVER (ORDER BY s DESC, doc_id ASC) AS BIGINT) AS rrf_rank
  FROM f
)
SELECT CAST(r.doc_id AS BIGINT) AS doc_id,
       r.n_systems,
       COALESCE(lex.rnk, 0) AS lex_rnk,
       COALESCE(sem.rnk, 0) AS sem_rnk,
       r.rrf_rank
FROM r LEFT JOIN lex USING (doc_id) LEFT JOIN sem USING (doc_id)
WHERE r.rrf_rank <= 10
"""


@query("hybrid_retrieval_rrf", oracle=HYBRID_RRF_ORACLE)
def hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (operators/search.py::rrf_fuse): the lexical
    BM25 top-20 for {vector, merge, stream} and the embedding cosine
    top-20 for query vector 3 fused by reciprocal-rank fusion
    (1/(60+rank)) into a single top-10 — the standard two-tower search
    combiner, built entirely from the already-graded retrieval
    operators. The fusion itself is corpus-free: it unions two ≤20-row
    rankings, one grouped agg, one window. Evidence columns carry each
    system's rank (0 = the doc was absent from that system's top-20),
    so the oracle hash compares integers only."""
    from eligibility_etl_airflow_spark.operators import search, similarity

    cat = Catalog(spark, sf_dir)
    d = cat.documents
    e = cat.embeddings
    # both rankings are <=20-row relations with TWO consumers (the
    # fusion and the evidence join-back) — persisted, or each consumer
    # re-runs the full retrieval lineage (3 corpus scans for BM25, the
    # whole cosine scan for the ANN side)
    lex = (
        search.bm25_topk(d, "doc_id", "text", list(BM25_TERMS), k=20)
        .select(F.col("id").cast("long").alias("doc_id"), F.col("rnk"))
        .persist()
    )
    sem = (
        similarity.brute_force_topk(e, e.filter(F.col("vec_id") == 3), k=20)
        .select(
            F.col("corpus_id").cast("long").alias("doc_id"),
            F.col("rank").alias("rnk"),
        )
        .persist()
    )
    fused = search.rrf_fuse(
        [("lex", lex), ("sem", sem)], k=10, k_rrf=60, by=None, id_col="doc_id"
    )
    return (
        fused.join(lex.withColumnRenamed("rnk", "lex_rnk"), "doc_id", "left")
        .join(sem.withColumnRenamed("rnk", "sem_rnk"), "doc_id", "left")
        .select(
            "doc_id",
            "n_systems",
            F.coalesce(F.col("lex_rnk"), F.lit(0)).cast("long").alias("lex_rnk"),
            F.coalesce(F.col("sem_rnk"), F.lit(0)).cast("long").alias("sem_rnk"),
            "rrf_rank",
        )
    )


LM_FLUENCY_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS tok
  FROM documents
), clean AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
model AS (SELECT tok, count(*) AS tok_count FROM clean GROUP BY 1),
totals AS (
  SELECT sum(tok_count) AS total_toks, count(*) AS vocab_size FROM model
),
scored AS (
  SELECT clean.doc_id,
         -ln((coalesce(model.tok_count, 0) + 1.0)
             / (totals.total_toks + totals.vocab_size + 1.0)) AS nll
  FROM clean LEFT JOIN model USING (tok) CROSS JOIN totals
),
per_doc AS (
  SELECT doc_id, count(*) AS n_tokens, round(avg(nll), 6) AS mean_nll
  FROM scored GROUP BY 1
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       mean_nll,
       CAST(row_number() OVER (ORDER BY mean_nll DESC, doc_id ASC) AS BIGINT)
         AS nll_rank
FROM per_doc
"""


@query("lm_fluency_scores", oracle=LM_FLUENCY_ORACLE)
def lm_fluency_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram-LM fluency scores (operators/lm.py::
    unigram_nll_scores): per-document mean negative log probability under
    the corpus' own add-one-smoothed unigram distribution, ranked worst
    (most surprising) first — the cut order a perplexity filter uses.
    mean_nll is rounded to 6 dp BEFORE ranking so the ordering never
    rides on last-ulp float noise."""
    from pyspark.sql.window import Window

    from eligibility_etl_airflow_spark.operators import lm

    d = Catalog(spark, sf_dir).documents
    scores = lm.unigram_nll_scores(d, "doc_id", "text").withColumn(
        "mean_nll", F.round("mean_nll", 6)
    )
    w = Window.orderBy(F.desc("mean_nll"), F.asc("id"))
    return scores.withColumn("nll_rank", F.row_number().over(w).cast("long")).select(
        F.col("id").cast("long").alias("doc_id"), "n_tokens", "mean_nll", "nll_rank"
    )


LM_BIGRAM_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '') AS tk
  FROM documents
),
uni0 AS (
  SELECT unnest(tk) AS tok FROM toks
),
uni AS (SELECT tok, count(*) AS tok_count FROM uni0 GROUP BY 1),
totals AS (SELECT sum(tok_count) AS total_toks, count(*) AS vocab_size FROM uni),
stream AS (
  SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
  FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM toks WHERE len(tk) >= 2)
),
bi AS (SELECT w1, w2, count(*) AS pair_count FROM stream GROUP BY 1, 2),
scored AS (
  SELECT s.doc_id,
         -ln(0.7 * (bi.pair_count * 1.0 / u1.tok_count)
             + 0.3 * ((u2.tok_count + 1.0)
                      / (totals.total_toks + totals.vocab_size + 1.0))) AS nll
  FROM stream s
  JOIN bi USING (w1, w2)
  JOIN uni u1 ON u1.tok = s.w1
  JOIN uni u2 ON u2.tok = s.w2
  CROSS JOIN totals
),
per_doc AS (
  SELECT doc_id, count(*) AS n_bigrams, round(avg(nll), 6) AS mean_nll
  FROM scored GROUP BY 1
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_bigrams AS BIGINT) AS n_bigrams,
       mean_nll,
       CAST(row_number() OVER (ORDER BY mean_nll DESC, doc_id ASC) AS BIGINT)
         AS nll_rank
FROM per_doc
"""


@query("lm_bigram_scores", oracle=LM_BIGRAM_ORACLE)
def lm_bigram_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jelinek-Mercer-interpolated bigram LM scores (operators/lm.py::
    bigram_nll_scores, lam=0.7): catches common-words-in-impossible-ORDER
    documents the unigram filter passes. Self-scored on the corpus (every
    observed bigram/unigram hits the model joins, so the oracle needs no
    outer-join arms; the unseen-token paths are unit-tested with an
    external model). Rounded-then-ranked like lm_fluency_scores."""
    from pyspark.sql.window import Window

    from eligibility_etl_airflow_spark.operators import lm

    d = Catalog(spark, sf_dir).documents
    scores = lm.bigram_nll_scores(d, "doc_id", "text", lam=0.7).withColumn(
        "mean_nll", F.round("mean_nll", 6)
    )
    w = Window.orderBy(F.desc("mean_nll"), F.asc("id"))
    return scores.withColumn("nll_rank", F.row_number().over(w).cast("long")).select(
        F.col("id").cast("long").alias("doc_id"), "n_bigrams", "mean_nll", "nll_rank"
    )


CENTROID_ASSIGN_ORACLE = r"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
pos AS (
  SELECT label, i, avg(v[i]) AS c
  FROM (SELECT label, v, unnest(range(1, len(v)+1)) AS i FROM e)
  GROUP BY 1, 2
),
cent AS (SELECT label, list(c ORDER BY i) AS cv FROM pos GROUP BY 1),
scored AS (
  SELECT e.vec_id, e.label, cent.label AS assigned_label,
         round(list_dot_product(e.v, cent.cv)
               / (sqrt(list_dot_product(e.v, e.v))
                  * sqrt(list_dot_product(cent.cv, cent.cv))), 6) AS sim
  FROM e CROSS JOIN cent
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY sim DESC, assigned_label ASC) AS rnk,
         count(*) OVER (PARTITION BY vec_id) AS n_candidates
  FROM scored
)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(label AS BIGINT) AS label,
       CAST(assigned_label AS BIGINT) AS assigned_label,
       sim,
       CAST(n_candidates AS BIGINT) AS n_candidates
FROM ranked WHERE rnk = 1
"""


@query("centroid_assignments", oracle=CENTROID_ASSIGN_ORACLE)
def centroid_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-pooled per-label centroids + nearest-centroid assignment
    (operators/similarity.py::label_centroids / nearest_centroid_assign)
    — the k-means E-step / nearest-prototype classifier as relational
    ops. Centroid state is labels × dims (broadcastable at any corpus
    size); similarities are rounded before the argmax window so the
    winner is float-noise-stable against the DuckDB twin."""
    e = Catalog(spark, sf_dir).embeddings
    cents = similarity.label_centroids(e, "label", "embedding").select(
        "label", "centroid"
    )
    assigned = similarity.nearest_centroid_assign(e, cents, "vec_id", "embedding")
    return (
        assigned.join(e.select("vec_id", "label"), assigned["id"] == F.col("vec_id"))
        .select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("label").cast("long").alias("label"),
            F.col("assigned_label").cast("long").alias("assigned_label"),
            "sim",
            "n_candidates",
        )
    )


@query("bpe_token_counts")
def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token accounting under a corpus-trained BPE vocabulary
    (operators/bpe.py): merges learned driver-side from a bounded sample
    (same discipline as PQ/IVF training), applied in an Arrow-batched
    map with a per-batch word memo. Rows-only (BPE inference is not
    SQL-expressible); the algorithm is pinned by pure-core property
    tests in tests/test_bpe.py."""
    from eligibility_etl_airflow_spark.operators import bpe

    d = Catalog(spark, sf_dir).documents
    merges = bpe.train_bpe_merges(d, "text", num_merges=200, sample_size=2048)
    return bpe.bpe_segment(d, "doc_id", "text", merges).select(
        F.col("id").cast("long").alias("doc_id"), "n_words", "n_tokens"
    )


# --------------------------------------------------------------------------
# SemDeDup-style semantic dedup (operators/semdedup.py)
# --------------------------------------------------------------------------

SEMANTIC_DEDUP_ORACLE = r"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
pos AS (
  SELECT label, i, avg(v[i]) AS c
  FROM (SELECT label, v, unnest(range(1, len(v)+1)) AS i
        FROM e JOIN embeddings USING (vec_id))
  GROUP BY 1, 2
),
cent AS (SELECT label, list(c ORDER BY i) AS cv FROM pos GROUP BY 1),
scored AS (
  SELECT e.vec_id, cent.label,
         round(list_dot_product(e.v, cent.cv)
               / (sqrt(list_dot_product(e.v, e.v))
                  * sqrt(list_dot_product(cent.cv, cent.cv))), 6) AS sim
  FROM e CROSS JOIN cent
),
assigned AS (
  SELECT vec_id, label AS cluster, sim
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY sim DESC, label ASC) AS rnk
        FROM scored)
  WHERE rnk = 1
),
ranked AS (
  SELECT vec_id, cluster, sim,
         row_number() OVER (PARTITION BY cluster
                            ORDER BY sim ASC, vec_id ASC) AS rnk
  FROM assigned
),
pairs AS (
  SELECT x.cluster, x.vec_id AS id, y.vec_id AS kid, y.rnk AS krnk,
         round(list_dot_product(ex.v, ey.v)
               / (sqrt(list_dot_product(ex.v, ex.v))
                  * sqrt(list_dot_product(ey.v, ey.v))), 6) AS psim
  FROM ranked x
  JOIN ranked y ON x.cluster = y.cluster AND y.rnk < x.rnk
  JOIN e ex ON ex.vec_id = x.vec_id
  JOIN e ey ON ey.vec_id = y.vec_id
),
best AS (
  SELECT *, row_number() OVER (PARTITION BY id
                               ORDER BY psim DESC, krnk ASC) AS b
  FROM pairs
)
SELECT CAST(id AS BIGINT) AS id,
       CAST(cluster AS BIGINT) AS cluster,
       CAST(kid AS BIGINT) AS kept_id,
       psim AS sim
FROM best WHERE b = 1 AND psim >= 0.35
"""


@query("semantic_dedup_label", oracle=SEMANTIC_DEDUP_ORACLE)
def semantic_dedup_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup drop set (operators/semdedup.py) with the clustering
    PINNED to label-derived centroids so the DuckDB twin can grade the
    whole drop rule exactly: nearest-centroid assignment, rank by
    cosine-to-centroid ascending (keep the far-from-centroid exemplars),
    drop a member iff its max cosine to an earlier-ranked member of the
    same cluster >= eps, kept_id = that closest earlier member. The
    k-means path (``kmeans_centroids``) swaps in learned centroids but
    shares every downstream step; the curation pipeline composes it as
    the ``semantic_eps`` stage. Centroids broadcast; per-cluster work is
    one capped gram matrix — never corpus all-pairs."""
    from eligibility_etl_airflow_spark.operators import semdedup

    e = Catalog(spark, sf_dir).embeddings
    cents = similarity.label_centroids(e, "label", "embedding").select(
        "label", "centroid"
    )
    drops = semdedup.semantic_dedup_drops(
        e, "vec_id", "embedding", centroids=cents, eps=0.35
    )
    return drops.filter(~F.col("capped_cluster")).select(
        F.col("id").cast("long").alias("id"),
        F.col("cluster").cast("long").alias("cluster"),
        F.col("kept_id").cast("long").alias("kept_id"),
        "sim",
    )


# Trained quality models keyed by (sf_dir, documents stamp, hyperparams)
# — the _LANG_MODEL_CACHE discipline (r9 commit 6ea29d5) applied to the
# quality classifier: training is deterministic given these (md5-ranked
# sample, ordered collect, fixed-seed GD, and the teacher labels are a
# pure function of the same file the stamp covers). Bounded, oldest-
# first eviction; register_memo: cleared by bench.py at every rep
# boundary (cold-rep contract).
_QUALITY_MODEL_CACHE: dict[tuple, object] = register_memo({})
_QUALITY_MODEL_CACHE_MAX = 16


@query("quality_classifier_scores")
def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality classifier (operators/quality_model.py), self-
    distilled from the heuristic quality score as its teacher — the
    standard curation pattern (label a bounded sample with the expensive
    judge, fit a hashed-feature logistic model, score the corpus with
    map-only column arithmetic — the r10 fold: no UDF, no join, no
    shuffle anywhere in the scoring path).
    The trained model is cached per (corpus path, mtime, hyperparams) —
    a production caller trains once per model, not per scoring run; this
    keeps the registered query's self-contained contract while only the
    first invocation pays the solve (the lang_id_learned discipline,
    sound here because the teacher labels are a pure function of the
    same file the mtime stamps). Rows-only: the gradient-descent solve
    is not SQL-expressible; the model quality itself is pinned by the
    planted-label AUC floor test in tests/test_quality_model.py."""
    from eligibility_etl_airflow_spark.operators import quality_model

    d = Catalog(spark, sf_dir).documents.withColumn(
        "y", (text.quality_score(F.col("text")) >= 0.5).cast("double")
    )
    stamp = _parquet_stamp(os.path.join(sf_dir, "documents.parquet"))
    key = (os.path.abspath(sf_dir), stamp, 512, 2048, 100)
    model = _QUALITY_MODEL_CACHE.get(key) if stamp is not None else None
    if model is None:
        model = quality_model.train_quality_classifier(
            d, "doc_id", "text", "y", dim=512, sample_size=2048, iters=100
        )
        if stamp is not None:
            while len(_QUALITY_MODEL_CACHE) >= _QUALITY_MODEL_CACHE_MAX:
                _QUALITY_MODEL_CACHE.pop(next(iter(_QUALITY_MODEL_CACHE)))
            _QUALITY_MODEL_CACHE[key] = model
    return quality_model.score_quality(d, "doc_id", "text", model).select(
        F.col("id").cast("long").alias("doc_id"),
        F.round("score", 6).alias("score"),
    )


# --------------------------------------------------------------------------
# Per-source duplication diagnostics — "which source is feeding us dupes"
# --------------------------------------------------------------------------

SOURCE_DUP_ORACLE = r"""
WITH fp AS (
  SELECT doc_id, source,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS f
  FROM documents
), owners AS (
  SELECT f,
         count(*) AS n_total,
         count(DISTINCT source) AS n_sources
  FROM fp GROUP BY 1
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT fp.f) AS BIGINT) AS n_unique_contents,
       CAST(sum(CASE WHEN o.n_total > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_duplicated_docs,
       CAST(sum(CASE WHEN o.n_sources > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_cross_source_docs,
       round(sum(CASE WHEN o.n_total > 1 THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS dup_rate
FROM fp JOIN owners o USING (f)
GROUP BY source
"""


@query("source_dup_diagnostics", oracle=SOURCE_DUP_ORACLE)
def source_dup_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication report — the ops question behind every
    dedup stage: WHICH source feeds the corpus duplicates, and is it
    duplicating itself (mirrors/reposts within one feed) or echoing
    other sources (syndication)? Per source: doc count, distinct
    contents, docs whose content appears anywhere else in the corpus,
    docs whose content also appears under ANOTHER source, and the
    duplication rate.

    Scale shape: one fingerprint pass (map-only), one vocab-grain
    partial aggregate on the fingerprint (a content repeated a million
    times collapses map-side; n_sources is a count_distinct bounded by
    the source cardinality), one fingerprint-key join back, one
    sources-sized aggregate. Output is sources-sized; nothing
    data-proportional reaches the driver."""
    d = Catalog(spark, sf_dir).documents
    fp = d.select(
        "doc_id", "source", text.fingerprint_md5(F.col("text")).alias("f")
    )
    owners = fp.groupBy("f").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count_distinct("source").alias("n_sources"),
    )
    return (
        fp.join(owners, "f")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count_distinct("f").cast("long").alias("n_unique_contents"),
            F.sum(F.when(F.col("n_total") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_duplicated_docs"),
            F.sum(F.when(F.col("n_sources") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_cross_source_docs"),
            F.round(
                F.sum(F.when(F.col("n_total") > 1, 1).otherwise(0))
                / F.count(F.lit(1)),
                6,
            ).alias("dup_rate"),
        )
    )
