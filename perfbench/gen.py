"""Seeded input generator for the benchmark.

Writes the claims tables (TPC-H-shaped star schema plus the ``events``
stream table) and the ``documents``/``embeddings`` corpus as one parquet
file per table, in the layout ``catalog.Catalog`` reads. The value
distributions copy the repository's reference data: uniform keys, the
same category sets, a 30-word vocabulary shared by five languages, 5 %
of documents planted as near-duplicates (another document plus one
token) and a handful of exact duplicates that arise when two planted
copies pick the same base.

``shape_stats`` measures a generated directory and ``check_shape``
compares it with ``SOURCE``, the same statistics measured on the
reference data, under the tolerances in ``TOLERANCE``. The program under
test only ever reads the generated files.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per claims table at scale factor 1 (the reference data holds
# exactly scale x these rows; region and nation do not scale).
CLAIMS_ROWS_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "users": 15_000,  # distinct events.user_id
}
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANG_MIX = {"en": 0.4118, "zh": 0.1506, "es": 0.1488, "fr": 0.1484, "de": 0.1404}
NEAR_DUP_RATE = 0.05
N_SOURCES = 20
EMBED_DIM = 64
_EPOCH_DAY = np.datetime64("1970-01-01", "D")

# The benchmark's inputs, the same for every workload: claims tables at
# this scale factor (set-up writes eligibility_flagship over them) and
# this many documents.
CLAIMS_SCALE = 0.01
N_DOCS = 500

# Statistics of the reference data (sf0.01 claims tables, sf0.1 corpus),
# measured with ``shape_stats``. Counts scale with the generated size;
# rates and ratios do not.
SOURCE = {
    "claims_scale": 0.01,
    "docs": 5000,
    "embeddings": 2000,
    "stats": {
        "customer.rows": 1500, "customer.c_custkey.distinct": 1500,
        "customer.c_nationkey.distinct": 25, "customer.c_mktsegment.distinct": 5,
        "supplier.rows": 100, "part.rows": 2000, "part.p_name.distinct": 64,
        "part.p_brand.distinct": 25,
        "orders.rows": 15000, "orders.o_custkey.distinct": 1500,
        "orders.per_customer": 10.0,
        "lineitem.rows": 60000, "lineitem.l_orderkey.distinct": 14743,
        "lineitem.per_order": 4.07, "lineitem.l_partkey.distinct": 2000,
        "lineitem.l_suppkey.distinct": 100,
        "events.rows": 10000, "events.user_id.distinct": 150,
        "events.per_user": 66.7, "events.event_type.distinct": 5,
        "documents.rows": 5000, "documents.exact_dup_rate": 0.0016,
        "documents.near_dup_rate": 0.0486, "documents.mean_words": 54.1,
        "documents.lang.en": 0.4118, "documents.lang.zh": 0.1506,
        "documents.lang.es": 0.1488, "documents.lang.fr": 0.1484,
        "documents.lang.de": 0.1404, "documents.source.distinct": 20,
        "embeddings.rows": 2000,
        "files_per_table": 1, "row_groups_per_file": 1,
    },
}
# Allowed drift per statistic kind (see ``_tolerance``): relative for
# counts and ratios, absolute for shares and rates. Row counts, category sets and the file layout
# are exact by construction and must match exactly.
TOLERANCE = {"exact": 0.0, "relative": 0.06, "share": 0.02, "dup_rate": 0.004}


def _kind(stat: str) -> str:
    if stat.endswith(".rows") or stat in ("files_per_table", "row_groups_per_file"):
        return "exact"
    if stat.startswith("documents.lang.") or stat == "documents.near_dup_rate":
        return "share"
    if stat == "documents.exact_dup_rate":
        return "dup_rate"
    if stat == "documents.mean_words":
        return "mean_words"
    return "relative"


def _tolerance(kind: str, src: float, n_docs: int) -> float:
    """Absolute drift allowed for a statistic. Shares, duplicate rates and
    the mean document length are drawn from ``n_docs`` documents, so on a
    small corpus their allowance widens to 4 standard errors."""
    if kind in ("exact", "relative"):
        return TOLERANCE[kind] * max(abs(src), 1e-9)
    if kind == "share":
        return max(TOLERANCE[kind], 4 * math.sqrt(src * (1 - src) / n_docs))
    if kind == "dup_rate":
        return max(TOLERANCE[kind], 4 * math.sqrt(src / n_docs))
    # word counts are uniform on [10, 100]: standard deviation 26
    return max(TOLERANCE["relative"] * src, 4 * 26.0 / math.sqrt(n_docs))


def _write(df: pd.DataFrame, path: str) -> None:
    table = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(table, path, row_group_size=max(1, len(df)))


def _days(rng: np.random.Generator, lo: str, hi: str, n: int) -> np.ndarray:
    a = (np.datetime64(lo, "D") - _EPOCH_DAY).astype(int)
    b = (np.datetime64(hi, "D") - _EPOCH_DAY).astype(int)
    return (_EPOCH_DAY + rng.integers(a, b + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def claims_tables(seed: int, scale: float) -> dict[str, pd.DataFrame]:
    """The eight claims tables at ``scale`` (1.0 = sf1)."""
    rng = np.random.default_rng([seed, 1])
    n = {k: max(1, int(round(v * scale))) for k, v in CLAIMS_ROWS_SF1.items()}
    nc, ns, npart, no, nl, ne = (
        n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"], n["events"]
    )
    region = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    customer = pd.DataFrame({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc
        ),
    })
    supplier = pd.DataFrame({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    part = pd.DataFrame({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (npart, 2))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], npart
        ),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1),
    })
    orders = pd.DataFrame({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
        ),
    })
    lineitem = pd.DataFrame({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
    })
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    events = pd.DataFrame({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": start + np.sort(rng.integers(0, span_us, ne)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n["users"], ne).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events,
    }


def corpus_tables(seed: int, n_docs: int, n_embeddings: int) -> dict[str, pd.DataFrame]:
    """``documents`` (with planted near and exact duplicates) and
    ``embeddings`` (unit vectors keyed ``vec_id`` == ``doc_id``)."""
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 101, n_docs)
    words = vocab[rng.integers(0, len(vocab), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n_docs)]
    # near-duplicates: a planted document repeats an unplanted one plus
    # a token; two copies of one base are the corpus's exact duplicates
    planted = rng.choice(n_docs, int(round(n_docs * NEAR_DUP_RATE)), replace=False)
    bases = np.setdiff1d(np.arange(n_docs), planted)
    for i, b in zip(planted, rng.choice(bases, len(planted))):
        texts[i] = texts[b] + " dup"
    langs, shares = list(LANG_MIX), np.array(list(LANG_MIX.values()))
    documents = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(langs, n_docs, p=shares / shares.sum()),
        "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
    })
    documents["n_chars"] = documents["text"].str.len().astype(np.int64)
    vecs = rng.normal(size=(n_embeddings, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pd.DataFrame({
        "vec_id": np.arange(n_embeddings, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, n_embeddings).astype(np.int32),
    })
    return {"documents": documents, "embeddings": embeddings}


def generate(out_dir: str, seed: int, claims_scale: float, n_docs: int) -> dict:
    """Write every table under ``out_dir``; returns the shape report."""
    os.makedirs(out_dir, exist_ok=True)
    n_emb = int(round(n_docs * SOURCE["embeddings"] / SOURCE["docs"]))
    tables = claims_tables(seed, claims_scale) | corpus_tables(seed, n_docs, n_emb)
    for name, df in tables.items():
        _write(df, os.path.join(out_dir, f"{name}.parquet"))
    return check_shape(out_dir, claims_scale, n_docs)


def shape_stats(sf_dir: str) -> dict[str, float]:
    """The statistics ``SOURCE`` records, measured on a parquet directory."""
    t = {
        name: pq.read_table(os.path.join(sf_dir, f"{name}.parquet")).to_pandas()
        for name in ("customer", "supplier", "part", "orders", "lineitem",
                     "events", "documents", "embeddings")
    }
    s: dict[str, float] = {}
    for name, df in t.items():
        s[f"{name}.rows"] = len(df)
    c, o, li, ev, d = t["customer"], t["orders"], t["lineitem"], t["events"], t["documents"]
    s["customer.c_custkey.distinct"] = c.c_custkey.nunique()
    s["customer.c_nationkey.distinct"] = c.c_nationkey.nunique()
    s["customer.c_mktsegment.distinct"] = c.c_mktsegment.nunique()
    s["part.p_name.distinct"] = t["part"].p_name.nunique()
    s["part.p_brand.distinct"] = t["part"].p_brand.nunique()
    s["orders.o_custkey.distinct"] = o.o_custkey.nunique()
    s["orders.per_customer"] = round(len(o) / o.o_custkey.nunique(), 2)
    s["lineitem.l_orderkey.distinct"] = li.l_orderkey.nunique()
    s["lineitem.per_order"] = round(len(li) / li.l_orderkey.nunique(), 2)
    s["lineitem.l_partkey.distinct"] = li.l_partkey.nunique()
    s["lineitem.l_suppkey.distinct"] = li.l_suppkey.nunique()
    s["events.user_id.distinct"] = ev.user_id.nunique()
    s["events.per_user"] = round(len(ev) / ev.user_id.nunique(), 1)
    s["events.event_type.distinct"] = ev.event_type.nunique()
    s["documents.exact_dup_rate"] = round(1 - d.text.nunique() / len(d), 4)
    stripped = d.text.str.rsplit(" ", n=1).str[0]
    s["documents.near_dup_rate"] = round(float(stripped.isin(set(d.text)).mean()), 4)
    s["documents.mean_words"] = round(float(d.text.str.count(" ").mean() + 1), 1)
    for lang, share in d.lang.value_counts(normalize=True).items():
        s[f"documents.lang.{lang}"] = round(float(share), 4)
    s["documents.source.distinct"] = d.source.nunique()
    files = [f for f in os.listdir(sf_dir) if f.endswith(".parquet")]
    s["files_per_table"] = max(
        len(os.listdir(os.path.join(sf_dir, f))) if os.path.isdir(os.path.join(sf_dir, f)) else 1
        for f in files
    )
    s["row_groups_per_file"] = max(
        pq.ParquetFile(os.path.join(sf_dir, f)).metadata.num_row_groups for f in files
    )
    return s


def expected(claims_scale: float, n_docs: int) -> dict[str, float]:
    """``SOURCE`` rescaled to a generated size: row counts and key
    cardinalities bounded by a table's rows follow the size."""
    cf = claims_scale / SOURCE["claims_scale"]
    n_emb = int(round(n_docs * SOURCE["embeddings"] / SOURCE["docs"]))
    out = dict(SOURCE["stats"])
    for k in ("customer.rows", "customer.c_custkey.distinct", "supplier.rows",
              "part.rows", "orders.rows", "lineitem.rows", "lineitem.l_suppkey.distinct", "events.rows",
              "events.user_id.distinct"):
        out[k] = round(out[k] * cf)
    # distinct of n uniform draws from m keys: m * (1 - exp(-n/m))
    no, nl, npart = out["orders.rows"], out["lineitem.rows"], out["part.rows"]
    out["lineitem.l_orderkey.distinct"] = round(no * (1 - np.exp(-nl / no)))
    out["lineitem.per_order"] = round(nl / out["lineitem.l_orderkey.distinct"], 2)
    out["lineitem.l_partkey.distinct"] = round(npart * (1 - np.exp(-nl / npart)))
    out["orders.o_custkey.distinct"] = round(
        out["customer.rows"] * (1 - np.exp(-no / out["customer.rows"]))
    )
    out["orders.per_customer"] = round(no / out["orders.o_custkey.distinct"], 2)
    out["documents.rows"] = n_docs
    out["embeddings.rows"] = n_emb
    return out


def check_shape(sf_dir: str, claims_scale: float, n_docs: int) -> dict:
    """Generated vs source statistics side by side; ``ok`` is false when
    any statistic drifts past its tolerance."""
    want = expected(claims_scale, n_docs)
    got = shape_stats(sf_dir)
    rows, ok = {}, True
    for k, src in want.items():
        g = got.get(k, float("nan"))
        tol = _tolerance(_kind(k), src, n_docs)
        bad = abs(g - src) > tol
        ok = ok and not bad
        rows[k] = {"generated": g, "source": src, "tolerance": round(tol, 6), "ok": not bad}
    return {"ok": ok, "stats": rows}

