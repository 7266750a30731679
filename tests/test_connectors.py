"""Source/sink connector tests that run without external services:
batch file formats round-trip, JDBC option building, upsert SQL text,
Kafka option wiring (constructed, not connected)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_learning_practise_spark import datasets
from flink_learning_practise_spark.sinks import batch as bsink
from flink_learning_practise_spark.sinks.jdbc import build_upsert_sql
from flink_learning_practise_spark.sources import batch as bsrc


def test_csv_round_trip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id BIGINT, name STRING, v DOUBLE"
    )
    path = str(tmp_path / "csv_out")
    bsink.write_csv(df, path)
    back = bsrc.read_csv(spark, path, "id BIGINT, name STRING, v DOUBLE")
    assert sorted((r.id, r.name, r.v) for r in back.collect()) == [(1, "a", 1.5), (2, "b", 2.5)]


def test_json_round_trip_with_schema(spark, tmp_path):
    df = spark.createDataFrame([(1, "x"), (2, "y")], "id BIGINT, s STRING")
    path = str(tmp_path / "json_out")
    bsink.write_json(df, path)
    back = bsrc.read_json(spark, path, "id BIGINT, s STRING")
    assert back.schema.simpleString() == "struct<id:bigint,s:string>"
    assert back.count() == 2


def test_partitioned_parquet_prunes(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(30)], "id BIGINT, bucket INT, v DOUBLE"
    )
    path = str(tmp_path / "pq_part")
    bsink.write_parquet(df, path, partition_by=["bucket"])
    back = bsrc.read_parquet(spark, path).filter(F.col("bucket") == 1)
    assert back.count() == 10
    plan = back._jdf.queryExecution().executedPlan().toString()
    # partition filter handled by pruning, not a post-scan Filter on rows
    assert "PartitionFilters: [isnotnull(bucket" in plan


def test_upsert_sql_mysql_and_postgres():
    sql = build_upsert_sql("stats", ["k", "a", "b"], ["k"], dialect="mysql")
    assert sql == (
        "INSERT INTO `stats` (`k`, `a`, `b`) VALUES (%s, %s, %s) "
        "ON DUPLICATE KEY UPDATE `a` = VALUES(`a`), `b` = VALUES(`b`)"
    )
    sql_pg = build_upsert_sql("stats", ["k", "a"], ["k"], dialect="postgresql")
    assert 'ON CONFLICT ("k") DO UPDATE SET "a" = EXCLUDED."a"' in sql_pg
    with pytest.raises(ValueError):
        build_upsert_sql("t", ["a"], ["a"], dialect="oracle")


def test_kafka_source_options_wired(spark):
    from flink_learning_practise_spark.sources.streaming import kafka_source

    # no broker in this container: building the reader must still work,
    # proving option plumbing; load() would only fail on connect.
    try:
        df = kafka_source(
            spark,
            topics=["orders_raw"],
            bootstrap_servers=["localhost:9092"],
            starting_offsets="latest",
            max_offsets_per_trigger=1000,
        )
    except Exception as e:  # kafka jar may be absent entirely
        assert "kafka" in str(e).lower()
        return
    assert df.isStreaming


def test_rate_and_synthetic_order_source(spark):
    from flink_learning_practise_spark.sources.streaming import (
        rate_source,
        synthetic_order_stream,
    )

    orders = synthetic_order_stream(spark, rows_per_second=10)
    assert orders.isStreaming
    assert set(orders.columns) == {
        "order_ts", "purchase_order_id", "customer_id", "amount", "order_status",
    }
    assert rate_source(spark).isStreaming


def test_compact_parquet_reduces_files_and_preserves_rows(spark, tmp_path):
    from flink_learning_practise_spark.sinks.batch import compact_parquet

    src = str(tmp_path / "frag")
    dst = str(tmp_path / "compact")
    # strand many tiny files deliberately
    spark.range(2000).selectExpr("id", "id % 7 AS k").repartition(64).write.parquet(src)
    import glob

    n_before = len(glob.glob(f"{src}/*.parquet"))
    assert n_before >= 32
    n_target = compact_parquet(spark, src, dst, target_file_bytes=64 * 1024)
    n_after = len(glob.glob(f"{dst}/*.parquet"))
    assert n_after == n_target < n_before
    a = sorted(tuple(r) for r in spark.read.parquet(src).collect())
    b = sorted(tuple(r) for r in spark.read.parquet(dst).collect())
    assert a == b


def test_schema_evolution_merge_read(spark, tmp_path):
    """Long-lived datasets evolve: files written before a column was
    added must read as nulls alongside new files — mergeSchema pays a
    footer scan per file, so production pins the schema instead: the
    explicit-schema read must give the same rows without that cost."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(path)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r["id"]: r for r in merged.collect()}
    assert rows[1]["score"] is None and rows[2]["score"] == 9.5

    pinned = spark.read.schema("id long, name string, score double").parquet(path)
    assert sorted(map(tuple, pinned.collect())) == sorted(map(tuple, merged.collect()))


def test_compact_parquet_refuses_in_place_and_empty(spark, tmp_path):
    import pytest as _pytest

    from flink_learning_practise_spark.sinks.batch import compact_parquet

    src = str(tmp_path / "cp_src")
    spark.range(10).write.parquet(src)
    with _pytest.raises(ValueError, match="resolves to in_path"):
        compact_parquet(spark, src, src)
    empty = str(tmp_path / "cp_empty")
    import os

    os.makedirs(empty, exist_ok=True)
    with _pytest.raises(ValueError, match="no parquet files"):
        compact_parquet(spark, empty, str(tmp_path / "cp_out"))


def test_range_clustered_layout_has_disjoint_file_ranges(spark, tmp_path):
    import glob

    from flink_learning_practise_spark.sinks.batch import write_range_clustered

    path = str(tmp_path / "clustered")
    df = spark.range(10000).selectExpr(
        "id % 977 AS k", "id AS payload"
    )  # write order uncorrelated with k
    write_range_clustered(df, path, ["k"], n_files=8)

    ranges = []
    for f in sorted(glob.glob(f"{path}/*.parquet")):
        part = spark.read.parquet(f).agg(
            F.min("k").alias("lo"), F.max("k").alias("hi"), F.count("*").alias("n")
        ).collect()[0]
        if part["n"]:
            ranges.append((part["lo"], part["hi"]))
    assert len(ranges) >= 4  # balanced bounds actually split the data
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"file key ranges overlap: {(lo1,hi1)} vs {(lo2,hi2)}"
    # row-identical to the input
    assert spark.read.parquet(path).count() == 10000


def test_training_shards_layout(spark, tmp_path):
    """write_training_shards: disjoint ordered shards, bounded files,
    row-identical read-back — the loader-facing corpus layout."""
    import glob

    from flink_learning_practise_spark.sinks.batch import write_training_shards

    path = str(tmp_path / "shards")
    df = spark.range(5000).selectExpr(
        "pmod(hash(id), 5000) AS order_key", "id AS payload"
    )  # write order uncorrelated with the shard key
    write_training_shards(
        df, path, "order_key", n_shards=8, max_records_per_file=300
    )

    shard_dirs = sorted(glob.glob(f"{path}/shard=*"))
    assert len(shard_dirs) == 8
    # per-shard ranges disjoint (a loader can map global position → shard)
    ranges = []
    for d in shard_dirs:
        r = spark.read.parquet(d).agg(
            F.min("order_key").alias("lo"), F.max("order_key").alias("hi")
        ).collect()[0]
        ranges.append((r["lo"], r["hi"]))
    ranges.sort()
    for (_, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2
    # file rotation respected inside shards
    for f in glob.glob(f"{path}/shard=*/*.parquet"):
        assert spark.read.parquet(f).count() <= 300
    # nothing lost or duplicated
    back = spark.read.parquet(path)
    assert back.count() == 5000
    assert back.select("payload").distinct().count() == 5000


def test_zorder_layout_skips_files_in_both_dimensions(spark, tmp_path):
    """Z-order: per-file min/max must be selective for BOTH columns —
    the property 1-D clustering cannot give the second column."""
    import glob

    from flink_learning_practise_spark.sinks.batch import write_zorder_clustered

    n_files = 16
    df = spark.range(20000).selectExpr(
        "CAST(pmod(hash(id), 1000) AS DOUBLE) AS x",
        "CAST(pmod(hash(id * 7 + 3), 1000) AS DOUBLE) AS y",
        "id AS payload",
    )  # x and y independent — the adversarial case for 1-D layouts
    path = str(tmp_path / "zorder")
    write_zorder_clustered(df, path, "x", "y", buckets=64, n_files=n_files)

    stats = []
    for f in sorted(glob.glob(f"{path}/*.parquet")):
        r = spark.read.parquet(f).agg(
            F.min("x"), F.max("x"), F.min("y"), F.max("y"), F.count("*")
        ).collect()[0]
        if r[4]:
            stats.append((r[0], r[1], r[2], r[3]))
    assert len(stats) >= n_files // 2

    def candidates(idx_lo, idx_hi, v):
        return sum(1 for s in stats if s[idx_lo] <= v <= s[idx_hi])

    # a point predicate on EITHER column must prune a solid fraction of
    # the files (ideal for 16 files on a 2-D morton curve: ~sqrt -> 4;
    # range-bound sampling jitter can misalign file cuts with the
    # quadrant grid, so assert the pruning CLAIM — a 1-D layout gives
    # the second column NO pruning at all, i.e. all files match — with
    # a jitter margin rather than the ideal)
    for v in (100.0, 500.0, 900.0):
        assert candidates(0, 1, v) <= (2 * len(stats)) // 3, f"x={v} not selective"
        assert candidates(2, 3, v) <= (2 * len(stats)) // 3, f"y={v} not selective"
    # nothing lost
    assert spark.read.parquet(path).count() == 20000


def test_load_memo_hits_on_second_call(spark, sf_small):
    """Second load() of the same (path, mtime, size) must return the
    memoized plan object itself — the fast path the r12 driver-overhead
    win depends on."""
    datasets._PLAN_MEMO.clear()
    a = datasets.load(spark, sf_small, "documents")
    n_after_first = len(datasets._PLAN_MEMO)
    b = datasets.load(spark, sf_small, "documents")
    assert b is a, "load() memo missed on an identical second call"
    assert len(datasets._PLAN_MEMO) == n_after_first
    # the memo key carries the session + file identity, so a rewritten
    # file or another session can never serve this entry
    key = next(iter(datasets._PLAN_MEMO))
    assert key[0] == spark.sparkContext.applicationId
    assert key[1].endswith("documents.parquet")
