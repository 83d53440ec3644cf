"""Bit-identity of the vectorized numpy XXH64 against Spark's xxhash64.

The minhash shingle stage's correctness rides entirely on
operators/xxh64.py producing the SAME 64-bit value as the JVM
``xxhash64(string)`` for every gram — one differing bit silently changes
signatures, bands, and every downstream pair set. The corpus here walks
every byte length 0..70 (covering the stripe loop, the 8-byte word
loop, the 4-byte word and the byte tail, and all their combinations),
plus multi-byte UTF-8, supplementary-plane chars and 0x00/0xFF fills.
"""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from eligibility_etl_airflow_spark.operators.xxh64 import (
    xxh64_slices,
    xxh64_u8mat,
)


def _boundary_corpus() -> list[str]:
    cases = []
    for length in range(0, 71):
        cases.append("a" * length)
        cases.append("é" * (length // 2) + "x" * (length % 2))
        cases.append("\U0001F600" * (length // 4) + "y" * (length % 4))
    cases += [
        "",
        "\x00" * 33,
        "ÿ" * 40,
        "héllo wörld \U0001F600 漢字テスト" * 3,
        "ab\U0001F600cd",
    ]
    rng = random.Random(7)
    for _ in range(100):
        n = rng.randint(0, 64)
        cases.append(
            "".join(
                chr(
                    rng.choice(
                        [
                            rng.randint(32, 126),
                            rng.randint(0xA0, 0x2FFF),
                            rng.randint(0x1F300, 0x1F64F),
                        ]
                    )
                )
                for _ in range(n)
            )
        )
    return cases


def test_xxh64_matches_spark_on_boundary_corpus(spark):
    cases = _boundary_corpus()
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(cases)], "i long, s string"
    )
    jvm = {r["i"]: r["h"] for r in df.select("i", F.xxhash64("s").alias("h")).collect()}
    bufs = [s.encode("utf-8") for s in cases]
    lens = np.array([len(b) for b in bufs], dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    flat = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    mine = xxh64_slices(flat, starts, lens)
    bad = [i for i in range(len(cases)) if jvm[i] != int(mine[i])]
    assert bad == [], f"{len(bad)} mismatches, first: {cases[bad[0]]!r}"


def test_xxh64_u8mat_empty_and_zero_rows():
    # the empty string hashes to the seed-only finalization, not 0
    h_empty = xxh64_u8mat(np.empty((1, 0), dtype=np.uint8))
    assert h_empty.shape == (1,)
    assert h_empty[0] != 0
    assert xxh64_u8mat(np.empty((0, 5), dtype=np.uint8)).shape == (0,)
    # a 1-D array is not n empty rows: it must be rejected, not hashed
    with pytest.raises(ValueError):
        xxh64_u8mat(np.frombuffer(b"abc", dtype=np.uint8))


def test_xxh64_seed_parameter(spark):
    """Spark's multi-column xxhash64 folds the running hash in as the
    next column's seed — which exercises the numpy implementation at an
    arbitrary (negative-signed) seed, not just 42."""
    df = spark.createDataFrame([("abcdef", "ghij")], "a string, b string")
    jvm = df.select(F.xxhash64("a", "b").alias("h")).collect()[0]["h"]
    mat_a = np.frombuffer(b"abcdef", dtype=np.uint8).reshape(1, -1)
    seed1 = int(xxh64_u8mat(mat_a, seed=42)[0])
    mat_b = np.frombuffer(b"ghij", dtype=np.uint8).reshape(1, -1)
    assert int(xxh64_u8mat(mat_b, seed=np.uint64(seed1 & (2**64 - 1)))[0]) == jvm


@pytest.mark.parametrize("k", [3, 5])
def test_hashed_shingle_stage_matches_expression(spark, k):
    """The numpy shingle stage must equal the column-expression form
    VALUE-FOR-VALUE AND ORDER-FOR-ORDER (array_distinct keeps first
    occurrence) on boundary docs incl. short/empty text and non-BMP."""
    from eligibility_etl_airflow_spark.operators import neardup

    cases = [
        "",
        "a",
        "ab",
        "abcd",
        "abcde",
        "ab\U0001F600cd",
        "héllo wörld",
        "漢字テスト abc",
        "the quick brown fox " * 10,
        "aaaaaaaa",  # heavy duplicate grams — exercises the dedup path
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(cases)], "doc_id long, text string"
    )
    staged = neardup._with_normalized_text(df, "doc_id", "text")
    new = neardup._hashed_shingle_stage(staged, k)
    old = staged.select(
        "id", neardup.hashed_shingles_of_norm(F.col("_norm"), k).alias("shingles")
    )
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def test_shingles_non_bmp_parity(spark):
    """The one-regex-pass gram extraction must advance one code POINT
    per match: an emoji previously emitted a spurious extra gram
    starting at its low surrogate (r11 ADVICE fix). Pin parity with the
    substring path on a supplementary-plane input."""
    from eligibility_etl_airflow_spark.operators import neardup

    k = 3
    df = spark.createDataFrame([("ab\U0001F600cd",)], "s string")
    n = F.length("s")
    starts = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    via_substring = df.select(
        F.array_distinct(
            F.transform(starts, lambda i: F.substring(F.col("s"), i, k))
        ).alias("g")
    ).collect()[0]["g"]
    via_regex = df.select(
        F.array_distinct(
            neardup.string_shingles_of_norm(F.col("s"), k)
        ).alias("g")
    ).collect()[0]["g"]
    assert via_regex == via_substring
    assert len(via_substring) == 3  # 'ab😀', 'b😀c', '😀cd'
