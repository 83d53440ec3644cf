"""Sink/upsert/resume semantics (SURVEY.md §7.5)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from eligibility_etl_airflow_spark.operators.dedup import keep_last
from eligibility_etl_airflow_spark.sources import sinks


@pytest.fixture
def target(tmp_path):
    return str(tmp_path / "target")


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string, ord long")


def test_merge_upsert_update_insert_keep(spark, target):
    sinks.merge_upsert(spark, target, _df(spark, [(1, "a", 1), (2, "b", 1)]), ["k"])
    sinks.merge_upsert(spark, target, _df(spark, [(2, "B", 2), (3, "c", 2)]), ["k"])
    got = {r.k: r.v for r in spark.read.parquet(target).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}  # keep / update / insert


def test_merge_upsert_rejects_duplicate_source_keys(spark, target):
    with pytest.raises(ValueError, match="duplicate keys"):
        sinks.merge_upsert(spark, target, _df(spark, [(1, "a", 1), (1, "b", 2)]), ["k"])


def test_append_dedup_is_idempotent(spark, target):
    batch = _df(spark, [(1, "a", 1), (2, "b", 1)])
    assert sinks.append_dedup(spark, target, batch, ["k"]) == 2
    assert sinks.append_dedup(spark, target, batch, ["k"]) == 0  # retry: no-op
    assert spark.read.parquet(target).count() == 2
    mixed = _df(spark, [(2, "dup", 2), (3, "c", 1)])
    assert sinks.append_dedup(spark, target, mixed, ["k"]) == 1
    assert spark.read.parquet(target).count() == 3


def test_choose_append_shape_decision_table():
    """The adaptive vs-state join pick (r9 verdict #4): broadcast-present
    only when the state dwarfs the batch AND the batch is comfortably
    broadcastable; plain shuffle otherwise (small state: cheaper
    constant; huge batch: broadcast-ceiling risk — the r9 ADVICE item)."""
    mb = 1 << 20
    # micro-batch vs large state → the r9 slope-win shape
    assert sinks.choose_append_shape(8 * mb, 10_000 * mb) == "broadcast_present"
    # tiny/fresh state → plain anti-join (r8 constants)
    assert sinks.choose_append_shape(8 * mb, 0) == "shuffle"
    assert sinks.choose_append_shape(8 * mb, 20 * mb) == "shuffle"
    # bulk load past the broadcast ceiling → never broadcast
    assert sinks.choose_append_shape(500 * mb, 1_000_000 * mb) == "shuffle"
    # boundary: exactly ratio×batch stays shuffle, just above flips
    assert sinks.choose_append_shape(10 * mb, 40 * mb) == "shuffle"
    assert sinks.choose_append_shape(10 * mb, 40 * mb + 1) == "broadcast_present"


def test_append_dedup_adaptive_and_forced_shapes_agree(spark, target):
    """Whatever shape the decision picks, results are identical — and
    both forced shapes stay idempotent."""
    first = _df(spark, [(i, "x", 1) for i in range(1, 6)])
    assert sinks.append_dedup(spark, target, first, ["k"]) == 5
    nxt = _df(spark, [(4, "dup", 2), (5, "dup", 2), (6, "new", 1), (7, "new", 1)])
    for forced in (True, False, None):
        t2 = target + f"_shape_{forced}"
        sinks.append_dedup(spark, t2, first, ["k"])
        assert sinks.append_dedup(spark, t2, nxt, ["k"], broadcast_batch=forced) == 2
        assert spark.read.parquet(t2).count() == 7
        assert (
            sinks.append_dedup(spark, t2, nxt, ["k"], broadcast_batch=forced) == 0
        )


def test_resume_filter_skips_processed(spark, target):
    sinks.write_parquet(_df(spark, [(1, "a", 1), (2, "b", 1)]), target)
    incoming = _df(spark, [(1, "a", 1), (2, "b", 1), (3, "c", 1)])
    left = sinks.resume_filter(incoming, spark, target, ["k"])
    assert [r.k for r in left.collect()] == [3]
    # no sink yet → everything passes through
    assert sinks.resume_filter(incoming, spark, target + "_missing", ["k"]).count() == 3


def test_keep_last_requires_explicit_order(spark):
    df = _df(spark, [(1, "old", 1), (1, "new", 2), (2, "only", 1)])
    got = {r.k: r.v for r in keep_last(df, ["k"], [F.col("ord")]).collect()}
    assert got == {1: "new", 2: "only"}


def test_keep_last_tie_winner_is_order_independent(spark):
    """Rows tied on the primary order column are broken by the trailing
    order columns, so the winner does not depend on the input row order
    or the partition count."""
    rows = [(1, v, 5) for v in ("b", "d", "a", "c")] + [(1, "z", 4), (2, "x", 1), (2, "y", 1)]
    winners = set()
    for perm in (rows, rows[::-1], rows[2:] + rows[:2]):
        for n_parts in (1, 3, 7):
            df = _df(spark, perm).repartition(n_parts)
            got = keep_last(df, ["k"], [F.col("ord"), F.col("v")]).collect()
            winners.add(tuple(sorted((r.k, r.v) for r in got)))
    assert winners == {((1, "d"), (2, "y"))}


def test_expect_passes_and_raises(spark):
    ok = _df(spark, [(1, "a", 1), (2, None, 1), (3, "c", 1), (4, "d", 1)])
    res = sinks.expect(ok, F.col("v").isNull(), max_invalid_ratio=0.5)
    assert res["n_invalid"] == 1 and res["total"] == 4

    bad = _df(spark, [(1, None, 1), (2, None, 1), (3, None, 1), (4, "d", 1)])
    with pytest.raises(sinks.QualityGateError) as exc:
        sinks.expect(bad, F.col("v").isNull(), max_invalid_ratio=0.5, label_col="ord")
    assert exc.value.ratio == 0.75
    assert exc.value.breakdown[0]["count"] == 3


def test_csv_json_roundtrip(spark, tmp_path):
    df = _df(spark, [(1, "a", 1), (2, "b,with,commas", 2)])
    sinks.write_csv(df, str(tmp_path / "csv"))
    back = spark.read.option("header", "true").csv(str(tmp_path / "csv"))
    assert back.count() == 2 and set(back.columns) == {"k", "v", "ord"}
    sinks.write_json(df, str(tmp_path / "json"))
    jback = spark.read.json(str(tmp_path / "json"))
    assert {r.v for r in jback.collect()} == {"a", "b,with,commas"}


def _has_openpyxl() -> bool:
    try:
        import openpyxl  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(_has_openpyxl(), reason="openpyxl installed; gate inactive")
def test_excel_shim_gates_on_missing_openpyxl(spark, tmp_path):
    df = _df(spark, [(1, "a", 1)])
    with pytest.raises(ImportError, match="openpyxl"):
        sinks.write_excel(df, str(tmp_path / "r.xlsx"))
    with pytest.raises(ImportError, match="openpyxl"):
        sinks.read_excel(spark, str(tmp_path / "r.xlsx"))


@pytest.mark.skipif(not _has_openpyxl(), reason="openpyxl not installed")
def test_excel_roundtrip_all_strings(spark, tmp_path):
    df = _df(spark, [(1, "a", 1), (2, "b", 2)])
    path = str(tmp_path / "r.xlsx")
    assert sinks.write_excel(df, path) == 2
    back = sinks.read_excel(spark, path)
    # dtype=str contract: every cell comes back as a string
    assert {r.v for r in back.collect()} == {"a", "b"}
    assert all(t == "string" for _, t in back.dtypes)


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    target = str(tmp_path / "frag")
    # fragment: 8 single-row appends → ≥8 files
    base = _df(spark, [(i, f"v{i}", i) for i in range(8)])
    for i in range(8):
        base.filter(F.col("k") == i).coalesce(1).write.mode("append").parquet(target)
    before = spark.read.parquet(target)
    n_files = len(before.inputFiles())
    assert n_files >= 8
    rows_before = {(r.k, r.v) for r in before.collect()}
    stats = sinks.compact_parquet(spark, target)
    assert stats["files_before"] == n_files and not stats["skipped"]
    assert stats["files_after"] < n_files
    after = spark.read.parquet(target)
    assert {(r.k, r.v) for r in after.collect()} == rows_before
    # already-compact directory is a no-op
    assert sinks.compact_parquet(spark, target)["skipped"] is True


def test_write_clustered_files_are_key_disjoint(spark, tmp_path):
    import pyarrow.parquet as pq

    df = spark.range(0, 10_000).withColumn("k", F.col("id") % 10_000)
    path = str(tmp_path / "clustered")
    sinks.write_clustered(df.repartition(8), path, ["k"], num_files=8)
    ranges = []
    for f in sorted(os.listdir(path)):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        col_idx = next(
            i for i in range(len(md.schema))
            if md.schema.column(i).name == "k"
        )
        mins = min(md.row_group(g).column(col_idx).statistics.min for g in range(md.num_row_groups))
        maxs = max(md.row_group(g).column(col_idx).statistics.max for g in range(md.num_row_groups))
        ranges.append((mins, maxs))
    assert len(ranges) > 1  # actually clustered into multiple files
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"overlapping key ranges {(lo1, hi1)} vs {(lo2, hi2)}"


def test_merge_upsert_jdbc_against_embedded_derby(spark):
    """The reference's real S7 flow (stage table + MERGE statement) run
    end-to-end against embedded Derby: first load creates the target,
    second merges update + insert + keep."""
    url = "jdbc:derby:memory:merge_test;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"

    first = _df(spark, [(1, "a", 1), (2, "b", 1)])
    sinks.merge_upsert_jdbc(spark, url, driver, "t_merge", first, ["k"])
    second = _df(spark, [(2, "B", 2), (3, "c", 2)])
    sinks.merge_upsert_jdbc(spark, url, driver, "t_merge", second, ["k"])

    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("driver", driver)
        .option("query", 'SELECT "k", "v" FROM t_merge')
        .load()
    )
    got = {r.k: r.v for r in back.collect()}
    assert got == {1: "a", 2: "B", 3: "c"}  # keep / update / insert

    with pytest.raises(ValueError, match="duplicate keys"):
        sinks.merge_upsert_jdbc(
            spark, url, driver, "t_merge", _df(spark, [(1, "x", 1), (1, "y", 2)]), ["k"]
        )


def test_append_dedup_jdbc_is_idempotent(spark):
    url = "jdbc:derby:memory:append_test;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    batch = _df(spark, [(1, "a", 1), (2, "b", 1)])
    assert sinks.append_dedup_jdbc(spark, url, driver, "t_app", batch, ["k"]) == 2
    assert sinks.append_dedup_jdbc(spark, url, driver, "t_app", batch, ["k"]) == 0
    mixed = _df(spark, [(2, "dup", 2), (3, "c", 1)])
    assert sinks.append_dedup_jdbc(spark, url, driver, "t_app", mixed, ["k"]) == 1
    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("driver", driver)
        .option("query", 'SELECT "k" FROM t_app')
        .load()
    )
    assert sorted(r.k for r in back.collect()) == [1, 2, 3]


def test_merge_upsert_rejects_object_store_paths(spark):
    df = _df(spark, [(1, "a", 1)])
    with pytest.raises(NotImplementedError, match="MERGE INTO"):
        sinks.merge_upsert(spark, "s3a://bucket/table", df, ["k"])
    with pytest.raises(NotImplementedError, match="local paths"):
        sinks.merge_upsert(spark, "hdfs://nn/table", df, ["k"])


def test_jdbc_table_exists_escapes_like_wildcards(spark):
    """'_' in a table name is a JDBC LIKE wildcard: an unescaped lookup
    for t_wild would false-positive against tXwild and take the wrong
    idempotency branch (skip CREATE / wrong MERGE path)."""
    url = "jdbc:derby:memory:wildcard_test;create=true"
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        # only the wildcard-collision sibling exists, not t_wild itself
        st.execute('CREATE TABLE "TXWILD" ("k" INT)')
        st.close()
        assert sinks._jdbc_table_exists(conn, "txwild")
        assert not sinks._jdbc_table_exists(conn, "t_wild")
        st = conn.createStatement()
        st.execute('CREATE TABLE "T_WILD" ("k" INT)')
        st.close()
        assert sinks._jdbc_table_exists(conn, "t_wild")
    finally:
        conn.close()


def test_build_merge_into_sql_shape():
    sql = sinks.build_merge_into_sql("cat.db.target", ["k", "v", "ts"], ["k"], "src")
    assert sql == (
        "MERGE INTO cat.db.target t USING src s ON (t.`k` = s.`k`) "
        "WHEN MATCHED THEN UPDATE SET t.`v` = s.`v`, t.`ts` = s.`ts` "
        "WHEN NOT MATCHED THEN INSERT (`k`, `v`, `ts`) VALUES (s.`k`, s.`v`, s.`ts`)"
    )
    # keys-only table: no UPDATE clause at all
    keys_only = sinks.build_merge_into_sql("t2", ["a", "b"], ["a", "b"], "src")
    assert "WHEN MATCHED" not in keys_only
    assert "ON (t.`a` = s.`a` AND t.`b` = s.`b`)" in keys_only


def test_merge_upsert_table_guards_and_gate(spark, tmp_path):
    df = _df(spark, [(1, "a", 1)])
    with pytest.raises(ValueError, match="duplicate keys"):
        sinks.merge_upsert_table(
            spark, "any_t", _df(spark, [(1, "x", 1), (1, "y", 2)]), ["k"]
        )
    with pytest.raises(ValueError, match="not in source columns"):
        sinks.merge_upsert_table(spark, "any_t", df, ["nope"])
    # v1 (non-transactional) table: Spark's own unsupported error surfaces
    df.write.mode("overwrite").saveAsTable("merge_seam_v1")
    try:
        with pytest.raises(Exception) as ei:
            sinks.merge_upsert_table(spark, "merge_seam_v1", df, ["k"])
        assert "MERGE" in str(ei.value).upper()
    finally:
        spark.sql("DROP TABLE IF EXISTS merge_seam_v1")


def test_orc_roundtrip(spark, tmp_path):
    from pyspark.sql import functions as F

    from eligibility_etl_airflow_spark.sources import sinks

    df = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("part"), (F.col("id") * 1.5).alias("v")
    )
    p = str(tmp_path / "orc")
    sinks.write_orc(df, p, partition_by=["part"])
    back = spark.read.orc(p)
    assert back.count() == 100
    # partition discovery infers the directory values' type (ints here)
    assert {str(r.part) for r in back.select("part").distinct().collect()} == {"0", "1", "2"}
    assert back.filter(F.col("id") == 7).head().v == 10.5
