"""Metadata answered from metadata: fixture schemas and segment row
counts come from the parquet footers the program already has, not
from a Spark job.

* ``catalog.load_table`` caches each fixture's inferred schema per
  session, keyed by the files' (name, size, mtime_ns) and the
  inference confs; a hit reads with the schema given.
* ``TableStore`` takes a new segment's row count from the same footer
  walk that yields its column stats, so the committed ``row_count``
  must equal a Spark ``count()`` of the committed snapshot.
"""

from __future__ import annotations

import os
import uuid
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from feray_spark.catalog import load_table
from feray_spark.sources.table_store import TableStore


@contextmanager
def jobs_started(spark):
    """Collect the ids of every Spark job started inside the block."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    ids: list[int] = []
    sc.setJobGroup(group, "probe")
    try:
        yield ids
    finally:
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))
        sc.setJobGroup("", "")


# ------------------------------------------------------------ load_table

#: event timestamps as epoch micros, one of them pre-epoch
TS_MICROS = [1_704_164_645_123_456, 0, -1_500_000, 86_400_000_000]


def _write_events(path: str, vintage: str) -> None:
    """events.parquet in one of the two shipped vintages: INT64
    TIMESTAMP(NANOS) or TIMESTAMP(US) without UTC adjustment."""
    if vintage == "nanos":
        ts = pa.array([m * 1000 for m in TS_MICROS], pa.timestamp("ns"))
    else:
        ts = pa.array(TS_MICROS, pa.timestamp("us"))
    table = pa.table({
        "event_id": pa.array(range(len(TS_MICROS)), pa.int64()),
        "ts": ts,
    })
    pq.write_table(table, path, version="2.6")


def _ts_micros(df) -> list[int]:
    return [r[0] for r in df.select(F.unix_micros("ts")).orderBy("event_id").collect()]


@pytest.mark.parametrize("vintage", ["nanos", "ntz"])
def test_load_table_cache_hit_starts_no_job(spark, tmp_path, vintage):
    _write_events(str(tmp_path / "events.parquet"), vintage)
    first = load_table(spark, str(tmp_path), "events")
    with jobs_started(spark) as ids:
        second = load_table(spark, str(tmp_path), "events")
        second.schema
    assert ids == []
    assert second is not first
    for df in (first, second):
        assert df.schema["ts"].dataType == T.TimestampType()
        assert _ts_micros(df) == TS_MICROS


def test_load_table_rewrite_at_same_path_infers_again(spark, tmp_path):
    path = str(tmp_path / "events.parquet")
    _write_events(path, "nanos")
    assert _ts_micros(load_table(spark, str(tmp_path), "events")) == TS_MICROS
    _write_events(path, "ntz")
    # filesystem timestamps can be coarser than the rewrite interval:
    # move mtime on so the new file is told apart even at equal size
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    with jobs_started(spark) as ids:
        df = load_table(spark, str(tmp_path), "events")
    assert ids != []
    assert df.schema["ts"].dataType == T.TimestampType()
    assert _ts_micros(df) == TS_MICROS


def test_load_table_inference_conf_flip_infers_again(spark, tmp_path):
    _write_events(str(tmp_path / "events.parquet"), "ntz")
    load_table(spark, str(tmp_path), "events")
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        with jobs_started(spark) as ids:
            df = load_table(spark, str(tmp_path), "events")
        assert ids != []
        assert _ts_micros(df) == TS_MICROS
    finally:
        spark.conf.set(key, old)


# ------------------------------------------------------------ TableStore


def _rows(spark, n: int, start: int = 0, parts: int = 3):
    return spark.range(start, start + n, numPartitions=parts).select(
        F.col("id"),
        (F.col("id") % 3).cast("int").alias("p"),
        (F.col("id") * 1.5).alias("v"),
    )


def _assert_counted(spark, store: TableStore, table: str) -> int:
    commit = store.commit_info(table)
    assert commit.row_count == store.read(spark, table).count()
    return commit.row_count


def test_row_count_matches_spark_count_unpartitioned(spark, tmp_path):
    store = TableStore(str(tmp_path))
    store.write(_rows(spark, 100), "t", mode="overwrite")
    assert _assert_counted(spark, store, "t") == 100
    store.write(_rows(spark, 37, start=100), "t", mode="append")
    assert _assert_counted(spark, store, "t") == 137
    store.write(_rows(spark, 20), "t", mode="overwrite")
    assert _assert_counted(spark, store, "t") == 20
    # zero-row unpartitioned write: one empty file, committed
    c = store.write(_rows(spark, 0, parts=1), "t", mode="append")
    assert len(c.segments) == 2
    assert _assert_counted(spark, store, "t") == 20
    c = store.write(_rows(spark, 0, parts=1), "t", mode="overwrite")
    assert len(c.segments) == 1
    assert _assert_counted(spark, store, "t") == 0
    store.write(_rows(spark, 55), "t", mode="append")
    store.optimize(spark, "t", n_files=2)
    assert store.commit_info("t").mode == "optimize"
    assert _assert_counted(spark, store, "t") == 55


def test_row_count_matches_spark_count_partitioned(spark, tmp_path):
    store = TableStore(str(tmp_path))
    store.write(_rows(spark, 90), "t", mode="overwrite", partition_by=["p"])
    assert _assert_counted(spark, store, "t") == 90
    store.write(_rows(spark, 31, start=90), "t", mode="append")
    assert _assert_counted(spark, store, "t") == 121
    # zero-row partitioned write: no files, so no segment
    before = store.commit_info("t")
    c = store.write(_rows(spark, 0), "t", mode="append")
    assert c.segments == before.segments
    assert _assert_counted(spark, store, "t") == 121
    # replaceWhere: p=1 replaced by 5 rows, p=0 and p=2 carried from
    # both earlier segments
    repl = _rows(spark, 15, start=1000).filter("p = 1")
    c = store.replace_where(spark, "t", repl, "p = 1")
    assert sum(isinstance(s, dict) for s in c.segments) == 4
    assert _assert_counted(spark, store, "t") == 121 - 40 + 5
    # empty replacement: only the carried partitions remain
    store.replace_where(spark, "t", _rows(spark, 0).filter("p = 2"), "p = 2")
    assert _assert_counted(spark, store, "t") == 46
    store.optimize(spark, "t", zorder_by=["id"])
    assert store.commit_info("t").mode == "optimize"
    assert _assert_counted(spark, store, "t") == 46


@pytest.mark.parametrize("partition_by", [None, ["p"]])
def test_write_starts_no_job_beyond_the_write(spark, tmp_path, partition_by):
    store = TableStore(str(tmp_path))
    store.write(_rows(spark, 10), "t", mode="overwrite", partition_by=partition_by)
    df = _rows(spark, 40, start=10)
    with jobs_started(spark) as ids:
        commit = store.write(df, "t", mode="append")
    assert len(ids) == 1
    assert commit.row_count == 50
    assert commit.stats
