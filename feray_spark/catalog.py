"""Fixture catalog: the driver-generated TPC-H-ish star schema.

Mirrors the tables described in ``TESTDATA.md`` / ``FIXTURES.md``.
Every query in :mod:`feray_spark.queries` loads its inputs through
here so schema handling, path layout and (later) versioned-table
reads are uniform.
"""

from __future__ import annotations

import os
from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """events.ts has shipped as INT64 TIMESTAMP(NANOS) (surfaced as
    a long under legacy.parquet.nanosAsLong) and as TIMESTAMP(US)
    without UTC adjustment (surfaced as TIMESTAMP_NTZ). Normalize
    both to session-TZ TIMESTAMP: the session pins UTC, so the
    values match DuckDB's TZ-naive timestamps either way, and
    downstream epoch math (unix_micros range frames, window()
    buckets) sees one type regardless of fixture vintage. Works on
    batch and streaming DataFrames alike."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        # FLOOR division in exact integer math: `ts div 1000`
        # truncates toward zero, which rounds PRE-EPOCH nanos the
        # wrong way (-1500 ns -> -1 us instead of -2), and a float
        # divide would lose precision at 1e18-scale nanos —
        # subtracting the non-negative pmod first floors both signs
        # losslessly
        df = df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("(ts - pmod(ts, 1000)) div 1000")),
        )
    elif isinstance(ts_type, T.TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def file_signature(path: str) -> list[tuple[str, int, int]]:
    """(relative name, size, mtime_ns) of every file under ``path``
    (the file itself for a single-file table) — change detection
    without a scan. Recursive: a hive-partitioned directory rewrites
    files inside day=X/ subdirs without touching the top-level
    entry's size/mtime, so a shallow listing would miss the change."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return [(os.path.basename(path), st.st_size, st.st_mtime_ns)]
    out = []
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames.sort()
        for fname in sorted(filenames):
            fp = os.path.join(dirpath, fname)
            st = os.stat(fp)
            out.append((os.path.relpath(fp, path), st.st_size, st.st_mtime_ns))
    return out


#: session confs that change the schema parquet inference returns
#: for the same files (events.ts surfaces as a long or as
#: TIMESTAMP_NTZ depending on the first two)
_INFERENCE_CONFS: tuple[str, ...] = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)

_SCHEMA_CACHE: "WeakKeyDictionary[SparkSession, dict[str, tuple]]" = WeakKeyDictionary()


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without its per-call schema
    inference job. The inferred schema is cached per session under
    the files' :func:`file_signature` and the inference confs; a hit
    reads with the schema given, which starts no Spark job. Every
    call still returns a fresh DataFrame (rebuild-per-run holds). A
    path that is not a local file or directory takes the plain read,
    so its errors stay Spark's own."""
    if not os.path.exists(path):
        return spark.read.parquet(path)
    key = (file_signature(path), [spark.conf.get(k) for k in _INFERENCE_CONFS])
    cache = _SCHEMA_CACHE.setdefault(spark, {})
    hit = cache.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    cache[path] = (key, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Parquet → columnar scan with predicate
    pushdown and column pruning for free (Catalyst handles both as
    long as downstream code stays declarative). The schema comes from
    :func:`read_parquet`'s per-session cache, so a repeat load starts
    no inference job."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    df = read_parquet(spark, table_path(sf_dir, name))
    if name == "events":
        df = normalize_events_ts(df)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


_VIEW_CACHE: "WeakKeyDictionary[SparkSession, str]" = WeakKeyDictionary()


def register_views(spark: SparkSession, sf_dir: str, *, force: bool = False) -> None:
    """Register every fixture table as a temp view for the SQL entry
    point (SURVEY §3 EP3: we expose spark.sql over feature tables).

    Idempotent per (session, sf_dir): re-registering the same fixture
    set is a no-op (the views are just named logical plans over
    immutable parquet), so repeated SQL entry-point calls don't re-pay
    10 footer reads + view swaps each time. Switching sf_dir on the
    same session re-registers; ``force=True`` re-registers
    unconditionally (e.g. after external view mutation)."""
    sf = sf_dir.rstrip("/")
    if not force and _VIEW_CACHE.get(spark) == sf:
        return
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    _VIEW_CACHE[spark] = sf
