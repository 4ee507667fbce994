"""Feature-store layer tests (SURVEY §5.2 items 2/6): memoization
hit/miss behavior, versioned store semantics, checks, backfill."""

from __future__ import annotations

import math
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from feray_spark.features.store import CheckFailure, FeatureStore, FeatureView
from feray_spark.features.versioning import DATA_VERSION_COL
from feray_spark.sources.table_store import TableStore
from tests.conftest import SF_DIR


@pytest.fixture()
def tmp_root():
    d = tempfile.mkdtemp(prefix="feray_store_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


# ------------------------------------------------------- table store


def test_table_store_versions_and_time_travel(spark, tmp_root):
    ts = TableStore(tmp_root)
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    ts.write(df1, "t", mode="overwrite")
    df2 = spark.createDataFrame([(3, "c")], "id int, v string")
    ts.write(df2, "t", mode="append")

    assert ts.latest_version("t") == 1
    assert ts.read(spark, "t").count() == 3
    assert ts.read(spark, "t", version=0).count() == 2  # time travel
    assert ts.commit_info("t").row_count == 3


def test_table_store_merge_upsert(spark, tmp_root):
    ts = TableStore(tmp_root)
    base = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    ts.write(base, "t", mode="overwrite")
    src = spark.createDataFrame([(2, "B"), (3, "c")], "id int, v string")
    ts.merge(spark, "t", src, keys=["id"])
    got = {(r.id, r.v) for r in ts.read(spark, "t").collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def test_replace_where_backfill_scope(spark, tmp_root):
    ts = TableStore(tmp_root)
    base = spark.createDataFrame(
        [(1, "x", 10.0), (2, "x", 20.0), (3, "y", 30.0)], "id int, part string, v double"
    )
    ts.write(base, "t", mode="overwrite")
    repl = spark.createDataFrame([(9, "x", 99.0)], "id int, part string, v double")
    ts.replace_where(spark, "t", repl, "part = 'x'")
    got = {(r.id, r.part) for r in ts.read(spark, "t").collect()}
    assert got == {(9, "x"), (3, "y")}
    # replacement rows violating the predicate are rejected
    bad = spark.createDataFrame([(8, "z", 1.0)], "id int, part string, v double")
    with pytest.raises(ValueError):
        ts.replace_where(spark, "t", bad, "part = 'x'")


def test_replace_where_keeps_null_predicate_rows(spark, tmp_root):
    """Delta's replaceWhere keeps every row where the predicate is not
    TRUE — including NULL-evaluating rows. The rewrite fallback path
    (unpartitioned table) must match that and the metadata-only
    partition path: a NULL-keyed row survives the backfill."""
    ts = TableStore(tmp_root)
    base = spark.createDataFrame(
        [(1, "x", 10.0), (2, None, 20.0), (3, "y", 30.0)],
        "id int, part string, v double",
    )
    ts.write(base, "t", mode="overwrite")  # unpartitioned → rewrite path
    repl = spark.createDataFrame([(9, "x", 99.0)], "id int, part string, v double")
    ts.replace_where(spark, "t", repl, "part = 'x'")
    got = {(r.id, r.part) for r in ts.read(spark, "t").collect()}
    assert got == {(9, "x"), (2, None), (3, "y")}


# ----------------------------------------------------- feature store


def _make_store(spark, root):
    return FeatureStore(
        spark,
        root,
        sources={"orders": f"{SF_DIR}/orders.parquet"},
    )


def test_memoization_hit_and_code_bust(spark, tmp_root):
    fs = _make_store(spark, tmp_root)

    @fs.feature_view(name="spend", inputs=["orders"], entities=["o_custkey"])
    def spend(spark, inputs):
        return (
            inputs["orders"]
            .groupBy("o_custkey")
            .agg(F.count("*").alias("n_orders"))
        )

    _, recomputed1 = fs.materialize("spend")
    assert recomputed1 is True
    _, recomputed2 = fs.materialize("spend")
    assert recomputed2 is False  # FS3 cache hit — no job ran

    # changing the code busts the cache
    fs.views.pop("spend")

    @fs.feature_view(name="spend", inputs=["orders"], entities=["o_custkey"])
    def spend_v2(spark, inputs):
        return (
            inputs["orders"]
            .groupBy("o_custkey")
            .agg(F.count("*").alias("n_orders"), F.max("o_totalprice").alias("max_p"))
        )

    _, recomputed3 = fs.materialize("spend")
    assert recomputed3 is True


def test_version_columns_injected(spark, tmp_root):
    fs = _make_store(spark, tmp_root)

    @fs.feature_view(name="v", inputs=["orders"], version_cols=["o_orderkey"])
    def v(spark, inputs):
        return inputs["orders"].select("o_orderkey", "o_totalprice")

    df, _ = fs.materialize("v")
    assert DATA_VERSION_COL in df.columns and "_code_version" in df.columns
    row = df.limit(1).collect()[0]
    assert len(row[DATA_VERSION_COL]) == 64  # sha256 hex


def test_upstream_view_chain_and_propagation(spark, tmp_root):
    fs = _make_store(spark, tmp_root)

    @fs.feature_view(name="base", inputs=["orders"])
    def base(spark, inputs):
        return inputs["orders"].select("o_custkey", "o_totalprice")

    @fs.feature_view(name="derived", inputs=["base"])
    def derived(spark, inputs):
        return (
            inputs["base"]
            .groupBy("o_custkey")
            .agg(F.count("*").alias("n"))
        )

    _, r1 = fs.materialize("derived")
    assert r1 is True
    _, r2 = fs.materialize("derived")
    assert r2 is False

    # bust only the upstream → downstream must recompute too
    fs.views.pop("base")

    @fs.feature_view(name="base", inputs=["orders"])
    def base_v2(spark, inputs):
        return inputs["orders"].select("o_custkey", "o_totalprice", "o_orderstatus")

    _, r3 = fs.materialize("derived")
    assert r3 is True


def test_asset_checks(spark, tmp_root):
    fs = _make_store(spark, tmp_root)

    @fs.feature_view(
        name="checked",
        inputs=["orders"],
        checks={
            "positive_prices": lambda df: F.min("o_totalprice") > 0,
            "nonempty": lambda df: F.count("*") > 0,
        },
    )
    def checked(spark, inputs):
        return inputs["orders"].select("o_orderkey", "o_totalprice")

    _, _ = fs.materialize("checked")
    meta = fs.store.commit_info("checked").user_metadata
    assert meta["checks"] == {"positive_prices": True, "nonempty": True}

    fs2 = FeatureStore(spark, tmp_root + "_2", sources={"orders": f"{SF_DIR}/orders.parquet"})

    @fs2.feature_view(
        name="failing",
        inputs=["orders"],
        checks={"impossible": lambda df: F.max("o_totalprice") < 0},
    )
    def failing(spark, inputs):
        return inputs["orders"].select("o_orderkey", "o_totalprice")

    with pytest.raises(CheckFailure):
        fs2.materialize("failing")


def test_backfill_replaces_only_slice(spark, tmp_root):
    fs = _make_store(spark, tmp_root)

    @fs.feature_view(name="by_status", inputs=["orders"])
    def by_status(spark, inputs):
        return inputs["orders"].select("o_orderkey", "o_orderstatus", "o_totalprice")

    fs.materialize("by_status")
    before = fs.store.read(spark, "by_status").count()
    fs.backfill("by_status", "o_orderstatus = 'F'")
    after = fs.store.read(spark, "by_status").count()
    assert before == after  # same data recomputed in place
    assert fs.store.commit_info("by_status").user_metadata["backfill"]


def test_partitioned_store_prunes_and_carries_by_reference(spark, tmp_root):
    """Partitioned writes: reads materialize the partition column and
    prune on it; a partition-scoped replace_where carries unmatched
    partition directories by reference (zero rewrite) and replaces
    only the matched one."""
    import glob
    import os

    ts = TableStore(tmp_root)
    base = spark.createDataFrame(
        [(1, 1994, "a"), (2, 1995, "b"), (3, 1995, "c"), (4, 1996, "d")],
        "id int, yr int, v string",
    )
    ts.write(base, "t", mode="overwrite", partition_by=["yr"])
    # partition column round-trips through the hive directory layout
    got = {(r.id, r.yr) for r in ts.read(spark, "t").collect()}
    assert got == {(1, 1994), (2, 1995), (3, 1995), (4, 1996)}
    # partition pruning reaches the scan: the filter lands in
    # PartitionFilters (directory-level pruning, before any file IO)
    plan = (
        ts.read(spark, "t")
        .filter("yr = 1995")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "yr" in plan.split("PartitionFilters")[1][:80]

    seg0_files = set(glob.glob(f"{tmp_root}/t/seg-00000000-*/**/*.parquet", recursive=True))
    repl = spark.createDataFrame([(9, 1995, "B")], "id int, yr int, v string")
    ts.replace_where(spark, "t", repl, "yr = 1995")
    commit = ts.commit_info("t")
    assert commit.mode == "replace_where"
    assert commit.row_count == 3  # 1 new + 2 carried
    # carried entries point INTO the old segment (by reference)
    carried = [s for s in commit.segments if isinstance(s, dict)]
    assert len(carried) == 2 and all("seg-00000000-" in c["path"] for c in carried)
    # old files untouched on disk
    assert seg0_files == set(
        glob.glob(f"{tmp_root}/t/seg-00000000-*/**/*.parquet", recursive=True)
    )
    got = {(r.id, r.yr, r.v) for r in ts.read(spark, "t").collect()}
    assert got == {(1, 1994, "a"), (9, 1995, "B"), (4, 1996, "d")}
    # time travel still sees the pre-backfill table
    assert ts.read(spark, "t", version=0).count() == 4
    # non-partition predicate falls back to full rewrite, same result
    repl2 = spark.createDataFrame([(7, 1994, "a")], "id int, yr int, v string")
    ts.replace_where(spark, "t", repl2, "v = 'a'")
    got = {(r.id, r.v) for r in ts.read(spark, "t").collect()}
    assert got == {(7, "a"), (9, "B"), (4, "d")}


def test_partitioned_featureview_backfill(spark, tmp_root):
    """FS7 through the FeatureStore: a partitioned view backfills one
    partition; the other partitions' files are not rewritten."""
    import glob

    src = f"{tmp_root}/src"
    spark.createDataFrame(
        [(1, 1994, 1.0), (2, 1995, 2.0), (3, 1996, 3.0)], "id int, yr int, v double"
    ).write.parquet(src)
    fs = FeatureStore(spark, f"{tmp_root}/store", sources={"src": src})

    def v1(spark_, inputs):
        return inputs["src"].select("id", "yr", (F.col("v") * 10).alias("f"))

    fs.register(FeatureView(name="feat", fn=v1, inputs=["src"], partition_by=["yr"]))
    fs.materialize("feat")
    before = set(glob.glob(f"{tmp_root}/store/feat/seg-00000000-*/yr=1994/*.parquet"))

    def v2(spark_, inputs):
        return inputs["src"].select("id", "yr", (F.col("v") * 100).alias("f"))

    fs.views["feat"] = FeatureView(name="feat", fn=v2, inputs=["src"], partition_by=["yr"])
    fs.backfill("feat", "yr = 1995")
    after = set(glob.glob(f"{tmp_root}/store/feat/seg-00000000-*/yr=1994/*.parquet"))
    assert before == after  # 1994 never rewritten
    got = {(r.id, r.f) for r in fs.store.read(spark, "feat").select("id", "f").collect()}
    assert got == {(1, 10.0), (2, 200.0), (3, 30.0)}


def test_multilevel_partitioned_replace_where(spark, tmp_root):
    """Two-level hive partitioning: the partition-dir walk recurses
    (yr=…/mo=…), predicates over both levels match correctly, and
    carried references keep both partition columns readable."""
    ts = TableStore(tmp_root)
    rows = [
        (i, yr, mo, f"v{i}-{yr}-{mo}")
        for i, (yr, mo) in enumerate(
            [(1994, 1), (1994, 2), (1995, 1), (1995, 2), (1996, 1)]
        )
    ]
    base = spark.createDataFrame(rows, "id int, yr int, mo int, v string")
    ts.write(base, "t", mode="overwrite", partition_by=["yr", "mo"])
    repl = spark.createDataFrame(
        [(9, 1995, 2, "B")], "id int, yr int, mo int, v string"
    )
    ts.replace_where(spark, "t", repl, "yr = 1995 AND mo = 2")
    commit = ts.commit_info("t")
    assert commit.mode == "replace_where"
    carried = [s for s in commit.segments if isinstance(s, dict)]
    assert len(carried) == 4  # 5 leaf dirs - 1 matched
    got = {(r.id, r.yr, r.mo) for r in ts.read(spark, "t").collect()}
    assert got == {(0, 1994, 1), (1, 1994, 2), (2, 1995, 1),
                   (9, 1995, 2), (4, 1996, 1)}
    # range predicate spanning partitions at both levels
    repl2 = spark.createDataFrame(
        [(7, 1994, 1, "A"), (8, 1994, 2, "A")], "id int, yr int, mo int, v string"
    )
    ts.replace_where(spark, "t", repl2, "yr = 1994")
    got = {(r.id, r.yr) for r in ts.read(spark, "t").collect()}
    assert got == {(7, 1994), (8, 1994), (2, 1995), (9, 1995), (4, 1996)}


def test_vacuum_and_timestamp_travel(spark, tmp_root):
    """Vacuum deletes only segments unreferenced by kept commits —
    including keeping a whole segment alive when a newer commit
    carries one of its partition dirs by reference — and
    version_at resolves wall-clock time travel."""
    import os
    import time

    ts = TableStore(tmp_root)
    v0 = ts.write(
        spark.createDataFrame([(1, 1994, "a"), (2, 1995, "b")], "id int, yr int, v string"),
        "t", mode="overwrite", partition_by=["yr"],
    )
    t_after_v0 = time.time()
    repl = spark.createDataFrame([(9, 1995, "B")], "id int, yr int, v string")
    ts.replace_where(spark, "t", repl, "yr = 1995")  # v1 carries yr=1994 of seg0
    dead = ts.write(  # v2 overwrite: seg0 kept alive ONLY if referenced
        spark.createDataFrame([(5, 1994, "z")], "id int, yr int, v string"),
        "t", mode="overwrite",
    )
    assert ts.version_at("t", t_after_v0) == 0  # timestampAsOf
    # keep 2 newest commits: v1 still carries seg0/yr=1994 → seg0 survives
    deleted = ts.vacuum("t", keep_versions=2)
    assert deleted == []
    seg0 = v0.segments[0]
    assert os.path.isdir(seg0)
    assert ts.read(spark, "t", version=1).count() == 2  # carried read intact
    # keep only the newest: v1's segments (incl. seg0 via reference) die
    deleted = ts.vacuum("t", keep_versions=1)
    assert any("seg-00000000" in d for d in deleted)
    assert not os.path.isdir(seg0)
    assert ts.read(spark, "t").count() == 1  # latest unaffected
    with pytest.raises(KeyError):
        ts.read(spark, "t", version=1)  # vacuumed history is gone


def test_store_model_based_random_ops(spark, tmp_root):
    """Model-based check: a randomized (seeded) sequence of store
    operations must keep the stored table equal to a plain-Python
    reference model — and every historical version must stay
    readable and correct until vacuumed."""
    import random

    rng = random.Random(42)
    ts = TableStore(tmp_root)
    schema = "id int, part int, v int"

    def df(rows):
        return spark.createDataFrame(rows, schema) if rows else spark.createDataFrame([], schema)

    model: dict[int, tuple[int, int]] = {}  # id -> (part, v)
    history = []
    next_id = 0

    def fresh_rows(n, parts=(0, 1, 2)):
        nonlocal next_id
        out = []
        for _ in range(n):
            out.append((next_id, rng.choice(parts), rng.randrange(100)))
            next_id += 1
        return out

    # v0 seed
    rows = fresh_rows(6)
    ts.write(df(rows), "t", mode="overwrite", partition_by=["part"])
    model = {i: (p, v) for i, p, v in rows}
    history.append(dict(model))

    for _ in range(10):
        op = rng.choice(
            ["append", "merge", "replace_where", "replace_empty", "optimize"]
        )
        if op == "append":
            rows = fresh_rows(rng.randint(1, 4))
            ts.write(df(rows), "t", mode="append")
            model.update({i: (p, v) for i, p, v in rows})
        elif op == "optimize":
            # layout-only rewrite: the model must NOT change
            ts.optimize(spark, "t", zorder_by=["id", "v"], n_files=2)
        elif op == "replace_empty":
            # delete-a-partition: empty replacement removes the matched
            # partition and carries the rest (the backfilled-day-now-
            # empty shape; exercises the fileless-segment commit path)
            part = rng.choice([0, 1, 2])
            ts.replace_where(spark, "t", df([]), f"part = {part}")
            model = {i: pv for i, pv in model.items() if pv[0] != part}
        elif op == "merge":
            # update a sample of existing ids + insert some new
            upd = [
                (i, model[i][0], rng.randrange(100))
                for i in rng.sample(sorted(model), min(2, len(model)))
            ]
            ins = fresh_rows(1)
            ts.merge(spark, "t", df(upd + ins), keys=["id"])
            model.update({i: (p, v) for i, p, v in upd + ins})
        else:
            # replace_where is PARTITION-scoped, not keyed: replacement
            # rows must come from the replaced partition (recompute) or
            # be fresh — an id from another partition would legitimately
            # duplicate in the store, which the keyed model can't express
            part = rng.choice([0, 1, 2])
            in_part = [i for i, (p, _) in model.items() if p == part]
            repl = [
                (i, part, rng.randrange(100))
                for i in rng.sample(sorted(in_part), min(2, len(in_part)))
            ] + fresh_rows(1, parts=(part,))
            ts.replace_where(spark, "t", df(repl), f"part = {part}")
            model = {i: pv for i, pv in model.items() if pv[0] != part}
            model.update({i: (p, v) for i, p, v in repl})
        history.append(dict(model))

        got = {(r.id, r.part, r.v) for r in ts.read(spark, "t").collect()}
        want = {(i, p, v) for i, (p, v) in model.items()}
        assert got == want, f"divergence after {op}"

    # every historical version still reads back exactly
    for ver, snap in enumerate(history):
        got = {(r.id, r.part, r.v) for r in ts.read(spark, "t", version=ver).collect()}
        want = {(i, p, v) for i, (p, v) in snap.items()}
        assert got == want, f"time travel divergence at v{ver}"

    # change-feed reconciliation: for EVERY consecutive version pair,
    # applying the keyed feed to the older snapshot must produce the
    # newer one (inserts/postimages added, deletes/preimages removed)
    for ver in range(1, len(history)):
        feed = ts.changes(spark, "t", from_version=ver - 1, to_version=ver,
                          keys=["id"]).collect()
        prev = {(i, p, v) for i, (p, v) in history[ver - 1].items()}
        nxt = {(i, p, v) for i, (p, v) in history[ver].items()}
        added = {(r.id, r.part, r.v) for r in feed
                 if r._change_type in ("insert", "update_postimage")}
        removed = {(r.id, r.part, r.v) for r in feed
                   if r._change_type in ("delete", "update_preimage")}
        assert removed <= prev, f"v{ver}: feed removes rows not in v{ver-1}"
        assert (prev - removed) | added == nxt, f"feed does not reconcile v{ver}"


def test_sync_recomputes_exactly_stale_views(spark, tmp_root):
    """The automation-condition analog (eager | on_missing): first
    sync materializes everything; a clean second sync recomputes
    nothing; mutating ONE upstream source recomputes exactly that
    branch of the DAG and leaves the independent branch memoized."""
    import os
    import shutil

    src_a = os.path.join(tmp_root, "src_a")
    src_b = os.path.join(tmp_root, "src_b")
    spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, v double").write.parquet(src_a)
    spark.createDataFrame([(1, 5.0)], "k int, w double").write.parquet(src_b)

    fs = FeatureStore(
        spark, os.path.join(tmp_root, "store"), sources={"sa": src_a, "sb": src_b}
    )

    @fs.feature_view(name="va", inputs=["sa"], entities=["k"])
    def va(spark, inputs):
        return inputs["sa"].groupBy("k").agg(F.sum("v").alias("v_sum"))

    @fs.feature_view(name="vb", inputs=["sb"], entities=["k"])
    def vb(spark, inputs):
        return inputs["sb"].select("k", "w")

    @fs.feature_view(name="vc", inputs=["va"], entities=["k"])
    def vc(spark, inputs):
        return inputs["va"].select("k", (F.col("v_sum") * 2).alias("v2"))

    # on_missing: everything computes
    assert fs.sync() == {"va": True, "vb": True, "vc": True}
    # clean tick: everything is a memoization hit
    assert fs.sync() == {"va": False, "vb": False, "vc": False}

    # mutate upstream sa (new content + bumped mtime: the source digest
    # is (name, size, mtime) — second-resolution, so bump explicitly)
    shutil.rmtree(src_a)
    spark.createDataFrame(
        [(1, 11.0), (2, 20.0), (3, 30.0)], "k int, v double"
    ).write.parquet(src_a)
    future = os.stat(src_a).st_mtime + 5
    for f in os.listdir(src_a):
        os.utime(os.path.join(src_a, f), (future, future))

    # eager: exactly the sa-branch recomputes
    assert fs.sync() == {"va": True, "vb": False, "vc": True}
    got = {(r.k, r.v2) for r in fs.store.read(spark, "vc").select("k", "v2").collect()}
    assert got == {(1, 22.0), (2, 40.0), (3, 60.0)}


def test_asset_check_distinct_falls_back(spark, tmp_root):
    """DISTINCT aggregates can't ride observed metrics; the check
    must still evaluate via the explicit fallback aggregation."""
    fs = _make_store(spark, tmp_root)

    @fs.feature_view(
        name="distinct_checked",
        inputs=["orders"],
        checks={
            "unique_keys": lambda df: F.count_distinct("o_orderkey")
            == F.count("*"),
            "nonempty": lambda df: F.count("*") > 0,
        },
    )
    def distinct_checked(spark, inputs):
        return inputs["orders"].select("o_orderkey", "o_totalprice")

    _, recomputed = fs.materialize("distinct_checked")
    assert recomputed
    meta = fs.store.commit_info("distinct_checked").user_metadata
    assert meta["checks"] == {"unique_keys": True, "nonempty": True}


def test_materialize_stream_matches_batch_and_is_incremental(spark, tmp_root):
    """Fastlane materialization: a per-row view streamed over an
    append-only store table equals its batch materialization, and a
    second drain after an append processes ONLY the new rows."""
    import os

    fs = FeatureStore(spark, os.path.join(tmp_root, "store"))
    ingest = fs.store
    e0 = spark.createDataFrame(
        [(1, 10.0, "view"), (2, 80.0, "purchase")],
        "user_id int, value double, event_type string",
    )
    ingest.write(e0, "raw_events", mode="overwrite")

    @fs.feature_view(name="hot_users", inputs=["raw_events"],
                     entities=["user_id"])
    def hot_users(spark, inputs):
        return (
            inputs["raw_events"]
            .filter(F.col("value") > 50)
            .select("user_id", "value", F.upper("event_type").alias("kind"))
        )

    ckpt = os.path.join(tmp_root, "ckpt")
    q = fs.materialize_stream("hot_users", checkpoint=ckpt)
    q.awaitTermination(120)
    got = {(r.user_id, r.value, r.kind)
           for r in fs.store.read(spark, "hot_users").collect()}
    assert got == {(2, 80.0, "PURCHASE")}
    # version columns attach on the streamed rows too (FS1/FS2)
    cols = set(fs.store.read(spark, "hot_users").columns)
    assert {"_data_version", "_code_version"} <= cols

    # append; only the new rows flow through on the same checkpoint
    e1 = spark.createDataFrame(
        [(3, 99.0, "view"), (4, 5.0, "view")],
        "user_id int, value double, event_type string",
    )
    ingest.write(e1, "raw_events", mode="append")
    q2 = fs.materialize_stream("hot_users", checkpoint=ckpt)
    q2.awaitTermination(120)
    got = {(r.user_id, r.value) for r in fs.store.read(spark, "hot_users").collect()}
    assert got == {(2, 80.0), (3, 99.0)}
    # serving history: first epoch overwrote, second merged
    assert fs.store.commit_info("hot_users").user_metadata["mode"] == "fastlane"


def test_log_level_data_skipping(spark, tmp_root):
    """Per-segment footer stats in the commit log prune whole
    segments for range reads — and pruning never changes results."""
    ts = TableStore(tmp_root)
    for lo in (0, 100, 200):
        df = spark.range(lo, lo + 100).select(
            F.col("id").alias("event_id"), (F.col("id") * 2.0).alias("v")
        )
        ts.write(df, "t", mode="overwrite" if lo == 0 else "append")

    kept, pruned = ts.segments_in_range("t", "event_id", lo=210, hi=250)
    assert len(kept) == 1 and len(pruned) == 2

    got = ts.read_range(spark, "t", "event_id", lo=210, hi=250)
    want = ts.read(spark, "t").filter("event_id BETWEEN 210 AND 250")
    assert sorted(r.event_id for r in got.collect()) == sorted(
        r.event_id for r in want.collect()
    )
    # open-ended range; and a column with no stats keeps everything
    kept, pruned = ts.segments_in_range("t", "event_id", lo=200)
    assert len(pruned) == 2
    kept, pruned = ts.segments_in_range("t", "no_such_col", lo=0, hi=1)
    assert pruned == []


def test_change_feed_append_fast_path_reads_only_new_segment(spark, tmp_root):
    """The append commit's change set must resolve from the log to
    JUST the appended segment — no scan of the rest of the table."""
    ts = TableStore(tmp_root)
    ts.write(spark.range(100).selectExpr("id", "id * 2 AS v"), "t",
             mode="overwrite")
    c1 = ts.write(spark.range(100, 110).selectExpr("id", "id * 2 AS v"), "t",
                  mode="append")
    feed = ts.changes(spark, "t", from_version=0)
    files = feed.inputFiles()
    new_seg = c1.segments[-1]
    assert files and all(new_seg in f for f in files), files


def test_materialize_stream_append_mode_exact_parity(spark, tmp_root):
    """With non-unique entity keys, append mode must keep EVERY
    qualifying row across drains (exact batch parity) where upsert
    mode would keep only the newest per key."""
    import os

    fs = FeatureStore(spark, os.path.join(tmp_root, "store"))
    e0 = spark.createDataFrame(
        [(1, 60.0, "a")], "user_id int, value double, tag string"
    )
    fs.store.write(e0, "raw", mode="overwrite")

    @fs.feature_view(name="hist", inputs=["raw"], entities=["user_id"])
    def hist(spark, inputs):
        return inputs["raw"].filter(F.col("value") > 50)

    ckpt = os.path.join(tmp_root, "ckpt")
    q = fs.materialize_stream("hist", checkpoint=ckpt, mode="append")
    q.awaitTermination(120)
    # SAME user appears again in a later commit
    fs.store.write(
        spark.createDataFrame([(1, 70.0, "b")],
                              "user_id int, value double, tag string"),
        "raw", mode="append",
    )
    q = fs.materialize_stream("hist", checkpoint=ckpt, mode="append")
    q.awaitTermination(120)
    got = sorted((r.user_id, r.value, r.tag)
                 for r in fs.store.read(spark, "hist").collect())
    assert got == [(1, 60.0, "a"), (1, 70.0, "b")]  # both rows kept


def test_materialize_stream_checks_fail_the_epoch(spark, tmp_root):
    import os

    fs = FeatureStore(spark, os.path.join(tmp_root, "store"))
    fs.store.write(
        spark.createDataFrame([(1, -5.0)], "user_id int, value double"),
        "raw", mode="overwrite",
    )

    @fs.feature_view(
        name="guarded", inputs=["raw"], entities=["user_id"],
        checks={"positive": lambda df: F.min("value") > 0},
    )
    def guarded(spark, inputs):
        return inputs["raw"]

    q = fs.materialize_stream("guarded", checkpoint=os.path.join(tmp_root, "c"))
    with pytest.raises(Exception, match="positive|StreamingQuery"):
        q.awaitTermination(120)
        q.processAllAvailable()
    # the failing epoch must leave NO commit: checks gate BEFORE the
    # write, or the checkpoint retry would re-append already-landed
    # rows / the table would serve rows that failed their checks
    assert fs.store.latest_version("guarded") is None


def test_materialize_stream_upsert_dedupes_within_batch(spark, tmp_root):
    """availableNow drains several input commits into ONE micro-batch,
    so a batch routinely carries multiple rows per entity key; upsert
    must land exactly one row per key (T9 'latest wins'), resolved by
    ``order_by`` descending when given."""
    import os

    fs = FeatureStore(spark, os.path.join(tmp_root, "store"))
    # two commits BEFORE the first drain: both land in batch 0
    fs.store.write(
        spark.createDataFrame([(1, 1, 60.0), (2, 1, 70.0)],
                              "user_id int, seq int, value double"),
        "raw", mode="overwrite",
    )
    fs.store.write(
        spark.createDataFrame([(1, 2, 80.0)],
                              "user_id int, seq int, value double"),
        "raw", mode="append",
    )

    @fs.feature_view(name="latest", inputs=["raw"], entities=["user_id"])
    def latest(spark, inputs):
        return inputs["raw"]

    q = fs.materialize_stream(
        "latest", checkpoint=os.path.join(tmp_root, "c"), order_by="seq"
    )
    q.awaitTermination(120)
    got = {(r.user_id, r.seq, r.value)
           for r in fs.store.read(spark, "latest")
           .select("user_id", "seq", "value").collect()}
    assert got == {(1, 2, 80.0), (2, 1, 70.0)}  # max-seq row per key

    # without order_by: still exactly ONE (arbitrary) row per key
    fs2 = FeatureStore(spark, os.path.join(tmp_root, "store2"))
    fs2.store.write(
        spark.createDataFrame([(1, 1, 60.0), (1, 2, 80.0)],
                              "user_id int, seq int, value double"),
        "raw", mode="overwrite",
    )

    @fs2.feature_view(name="latest", inputs=["raw"], entities=["user_id"])
    def latest2(spark, inputs):
        return inputs["raw"]

    q = fs2.materialize_stream("latest", checkpoint=os.path.join(tmp_root, "c2"))
    q.awaitTermination(120)
    rows = fs2.store.read(spark, "latest").collect()
    assert len(rows) == 1 and rows[0].user_id == 1


def test_materialize_stream_checks_gate_raw_batch_in_upsert(spark, tmp_root):
    """Checks must be equally strict in both sink modes: a
    check-failing row superseded by a newer row for the SAME key in
    the same micro-batch still fails the epoch (the gate runs on the
    raw batch, before upsert dedup)."""
    import os

    fs = FeatureStore(spark, os.path.join(tmp_root, "store"))
    fs.store.write(
        spark.createDataFrame([(1, 1, -5.0), (1, 2, 3.0)],
                              "user_id int, seq int, value double"),
        "raw", mode="overwrite",
    )

    @fs.feature_view(
        name="gated", inputs=["raw"], entities=["user_id"],
        checks={"positive": lambda df: F.min("value") > 0},
    )
    def gated(spark, inputs):
        return inputs["raw"]

    q = fs.materialize_stream(
        "gated", checkpoint=os.path.join(tmp_root, "c"), order_by="seq"
    )
    with pytest.raises(Exception, match="positive|StreamingQuery"):
        q.awaitTermination(120)
        q.processAllAvailable()
    assert fs.store.latest_version("gated") is None  # no commit either


def test_materialize_partition_check_failure_not_memoized(spark, tmp_root):
    """A partition whose checks fail must NOT record its fingerprint:
    every re-run recomputes and re-raises, instead of one failure
    followed by silent memo hits serving the failing partition."""
    import os

    fs = FeatureStore(spark, os.path.join(tmp_root, "store"))
    fs.store.write(
        spark.createDataFrame(
            [("a", 5.0), ("b", -1.0)], "day string, value double"
        ),
        "raw", mode="overwrite",
    )

    @fs.feature_view(
        name="daily", inputs=["raw"], partition_by=["day"],
        checks={"positive": lambda df: F.min("value") > 0},
    )
    def daily(spark, inputs):
        return inputs["raw"]

    assert fs.materialize_partition("daily", "a") is True  # checks pass
    with pytest.raises(CheckFailure):
        fs.materialize_partition("daily", "b")
    # the failure must surface on EVERY retry, not just the first
    with pytest.raises(CheckFailure):
        fs.materialize_partition("daily", "b")
    # the healthy partition still memo-hits
    assert fs.materialize_partition("daily", "a") is False


def test_materialize_partition_memoized_per_partition(spark, tmp_root):
    """Dagster-partitioned-asset analog: each partition memoizes
    independently, recomputes land via partition-scoped
    replace_where (other partitions carried by reference), and an
    upstream change busts exactly the partition fingerprints."""
    import os

    fs = FeatureStore(spark, os.path.join(tmp_root, "store"))
    raw = spark.createDataFrame(
        [(1, "d1", 10.0), (2, "d1", 20.0), (3, "d2", 30.0)],
        "id int, day string, v double",
    )
    fs.store.write(raw, "raw_days", mode="overwrite")

    @fs.feature_view(name="daily", inputs=["raw_days"], entities=["day"],
                     partition_by=("day",))
    def daily(spark, inputs):
        return (
            inputs["raw_days"]
            .groupBy("day")
            .agg(F.sum("v").alias("total"), F.count("*").alias("n"))
        )

    assert fs.materialize_partition("daily", "d1") is True
    assert fs.materialize_partition("daily", "d1") is False  # memo hit
    assert fs.materialize_partition("daily", "d2") is True
    got = {(r.day, r.total, r.n)
           for r in fs.store.read(spark, "daily")
           .select("day", "total", "n").collect()}
    assert got == {("d1", 30.0, 2), ("d2", 30.0, 1)}
    # d2's recompute must NOT have clobbered d1 (replace_where carry)
    assert fs.materialize_partition("daily", "d1") is False

    # upstream append busts BOTH partitions' fingerprints...
    fs.store.write(
        spark.createDataFrame([(4, "d1", 5.0)], "id int, day string, v double"),
        "raw_days", mode="append",
    )
    assert fs.materialize_partition("daily", "d1") is True
    got = {(r.day, r.total, r.n)
           for r in fs.store.read(spark, "daily")
           .select("day", "total", "n").collect()}
    assert got == {("d1", 35.0, 3), ("d2", 30.0, 1)}  # d2 stale but intact
    # ...and d2 recomputes only when asked
    assert fs.materialize_partition("daily", "d2") is True
    assert fs.materialize_partition("daily", "d2") is False


def test_lookup_serves_latest_rows_for_entities(spark, tmp_root):
    fs = _make_store(spark, tmp_root)

    @fs.feature_view(name="cust_spend", inputs=["orders"],
                     entities=["o_custkey"])
    def cust_spend(spark, inputs):
        return (
            inputs["orders"].groupBy("o_custkey")
            .agg(F.count("*").alias("n_orders"))
        )

    fs.materialize("cust_spend")
    two = [r.o_custkey for r in
           fs.store.read(spark, "cust_spend").select("o_custkey")
           .orderBy("o_custkey").limit(2).collect()]
    got = fs.lookup("cust_spend", [{"o_custkey": k} for k in two])
    rows = got.orderBy("o_custkey").collect()
    assert [r.o_custkey for r in rows] == two
    assert all(r.n_orders >= 1 for r in rows)
    assert "_code_version" in got.columns  # caller sees serving version


def test_drift_report_identical_snapshots_report_zero(spark):
    """Exact arithmetic contract: the same snapshot on both sides
    reports EXACTLY zero drift — no float-noise epsilons needed."""
    from feray_spark.features.drift import drift_report

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.5)], "k int, v double"
    )
    rep = drift_report(df, df, ["v"]).collect()[0]
    assert rep.mean_shift == 0.0
    assert rep.null_rate_baseline == rep.null_rate_current
    assert rep.range_expanded is False


def test_materialize_partition_quoted_value_and_checks(spark, tmp_root):
    """A quote in the partition value must neither crash nor widen
    the predicate; declared checks gate each partition."""
    import os

    fs = FeatureStore(spark, os.path.join(tmp_root, "store"))
    raw = spark.createDataFrame(
        [(1, "o'hare", 10.0), (2, "plain", -20.0)],
        "id int, day string, v double",
    )
    fs.store.write(raw, "raw_q", mode="overwrite")

    @fs.feature_view(name="by_day", inputs=["raw_q"], entities=["day"],
                     partition_by=("day",),
                     checks={"positive": lambda df: F.min("v") > 0})
    def by_day(spark, inputs):
        return inputs["raw_q"].select("day", "v")

    assert fs.materialize_partition("by_day", "o'hare") is True
    got = {(r.day, r.v) for r in fs.store.read(spark, "by_day")
           .select("day", "v").collect()}
    assert got == {("o'hare", 10.0)}  # only that partition landed
    meta = fs.store.commit_info("by_day").user_metadata
    assert meta["checks"] == {"positive": True}
    with pytest.raises(CheckFailure, match="positive"):
        fs.materialize_partition("by_day", "plain")


def test_failing_checks_never_memo_hit(spark, tmp_root):
    """A full-table materialization whose checks FAILED is not a memo
    hit on the next call: re-runs recompute and re-raise (the
    materialize_partition fingerprint-pop rule, applied to
    materialize())."""
    fs = _make_store(spark, tmp_root)
    calls = {"n": 0}

    @fs.feature_view(
        name="failing",
        inputs=["orders"],
        checks={"impossible": lambda df: F.max("o_totalprice") < 0},
    )
    def failing(spark_, inputs):
        calls["n"] += 1
        return inputs["orders"].select("o_orderkey", "o_totalprice")

    with pytest.raises(CheckFailure):
        fs.materialize("failing")
    first = calls["n"]
    with pytest.raises(CheckFailure):
        fs.materialize("failing")
    assert calls["n"] > first  # recomputed, not served from the cache


def test_backfill_carries_prev_fingerprint(spark, tmp_root):
    """backfill() recomputes ONE slice, so its commit must not claim
    the current whole-table fingerprint: after inputs change, a
    backfill of one slice leaves the table stale-by-fingerprint and
    the next sync() recomputes it in full."""
    import os

    src = os.path.join(tmp_root, "src")
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k int, part string, v double"
    ).write.parquet(src)
    fs = FeatureStore(spark, os.path.join(tmp_root, "store"), sources={"s": src})

    @fs.feature_view(name="feat", inputs=["s"], entities=["k"])
    def feat(spark_, inputs):
        return inputs["s"].select("k", "part", (F.col("v") * 2).alias("v2"))

    fs.materialize("feat")
    fp_before = fs.store.commit_info("feat").user_metadata["fingerprint"]

    # inputs move (both slices changed)
    shutil.rmtree(src)
    spark.createDataFrame(
        [(1, "a", 11.0), (2, "b", 21.0)], "k int, part string, v double"
    ).write.parquet(src)
    future = os.stat(src).st_mtime + 5
    for f in os.listdir(src):
        os.utime(os.path.join(src, f), (future, future))

    fs.backfill("feat", "part = 'a'")
    meta = fs.store.commit_info("feat").user_metadata
    # the carried fingerprint is the PRE-change one, not the current
    assert meta["fingerprint"] == fp_before
    assert fs.fingerprint(fs.views["feat"]) != fp_before
    # so the next sync is a MISS that recomputes the whole table
    assert fs.sync() == {"feat": True}
    got = {(r.k, r.v2) for r in fs.store.read(spark, "feat").collect()}
    assert got == {(1, 22.0), (2, 42.0)}


def test_replace_where_rejects_null_predicate_replacement(spark, tmp_root):
    """Validation uses predicate-is-not-TRUE (three-valued logic): a
    replacement row whose predicate evaluates NULL is a violation,
    exactly like one that evaluates FALSE — otherwise it would be
    written AND its partition carried, duplicating the row."""
    ts = TableStore(tmp_root)
    df = spark.createDataFrame(
        [(1, "x"), (2, "y")], "id int, part string"
    )
    ts.write(df, "t", mode="overwrite", partition_by=["part"])
    bad = spark.createDataFrame([(3, None)], "id int, part string")
    with pytest.raises(ValueError, match="violates"):
        ts.replace_where(spark, "t", bad, "part = 'x'")


def test_replace_where_empty_replacement_deletes_partition(spark, tmp_root):
    """An EMPTY replacement is the delete-a-partition shape (a
    backfilled day whose input now has no rows): the matched
    partition disappears, everything else is carried, and the commit
    contains no empty segment to break later reads."""
    ts = TableStore(tmp_root)
    df = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "y")], "id int, part string"
    )
    ts.write(df, "t", mode="overwrite", partition_by=["part"])
    empty = spark.createDataFrame([], "id int, part string")
    commit = ts.replace_where(spark, "t", empty, "part = 'x'")
    got = {(r.id, r.part) for r in ts.read(spark, "t").collect()}
    assert got == {(2, "y"), (3, "y")}
    assert commit.row_count == 2
    # and an empty partitioned APPEND commits cleanly too
    ts.write(empty, "t2_seed", mode="overwrite", partition_by=["part"])
    assert ts.read(spark, "t2_seed").count() == 0


def test_merge_rejects_duplicate_source_keys(spark, tmp_root):
    """MERGE with several source rows per key raises (Delta errors on
    multiple matches; silently keeping both rows would corrupt a
    serving table)."""
    ts = TableStore(tmp_root)
    ts.write(
        spark.createDataFrame([(1, "a")], "id int, v string"),
        "t",
        mode="overwrite",
    )
    dup = spark.createDataFrame([(1, "b"), (1, "c")], "id int, v string")
    with pytest.raises(ValueError, match="multiple rows per key"):
        ts.merge(spark, "t", dup, keys=["id"])


def test_input_version_sees_nested_file_changes(spark, tmp_root):
    """The source digest walks the tree recursively: rewriting a file
    INSIDE a partition subdir (top-level entry unchanged) busts the
    memo key."""
    import os

    src = os.path.join(tmp_root, "src")
    spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k int, day string, v double"
    ).write.partitionBy("day").parquet(src)
    fs = FeatureStore(spark, os.path.join(tmp_root, "store"), sources={"s": src})
    v1 = fs._input_version("s")

    # rewrite one nested file's CONTENT without touching the top-level
    # day=a entry's size/mtime (bump only the nested file's mtime)
    sub = os.path.join(src, "day=a")
    top_stat = os.stat(sub)
    for f in os.listdir(sub):
        p = os.path.join(sub, f)
        os.utime(p, (os.stat(p).st_mtime + 10,) * 2)
    os.utime(sub, (top_stat.st_atime, top_stat.st_mtime))  # freeze the dir entry

    assert fs._input_version("s") != v1


def test_code_version_deterministic_without_source():
    """FS2 fingerprints must be stable across processes even for
    callables without retrievable source — a repr() with a memory
    address would bust the memo every run; distinct bodies must still
    differ."""
    import functools

    from feray_spark.features.versioning import code_version

    def base(x, y=1):
        return x + y

    assert code_version(functools.partial(base, 2)) == code_version(
        functools.partial(base, 2)
    )
    assert code_version(functools.partial(base, 2)) != code_version(
        functools.partial(base, 3)
    )

    class CallableView:
        def __call__(self):
            return 1

    assert code_version(CallableView()) == code_version(CallableView())
    assert "0x" not in repr(code_version(CallableView()))

    ns1, ns2 = {}, {}
    exec("f = lambda: 1", ns1)  # noqa: S102 - REPL-lambda analog
    exec("f = lambda: 2", ns2)  # noqa: S102
    assert code_version(ns1["f"]) != code_version(ns2["f"])
    assert code_version(ns1["f"]) == code_version(ns1["f"])


def test_drift_report_is_lazy_single_aggregate(spark):
    """The drift report must be ONE unevaluated lineage: building it
    runs no job (the eager version collected summaries on the
    driver, paying a second job launch per report), and the plan is
    a single global aggregate — exactly one exchange feeds the
    per-column explode."""
    from feray_spark.features.drift import drift_report

    sc = spark.sparkContext
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    group = "drift-laziness-probe"
    sc.setJobGroup(group, "probe")
    try:
        rep = drift_report(df.filter("k % 3 != 0"), df, ["v"])
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        plan = rep._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, plan
        assert rep.count() == 1
        assert sc.statusTracker().getJobIdsForGroup(group) != []
    finally:
        sc.setJobGroup("", "")


def test_drift_report_decimal_cast_hoisted_out_of_agg_branches(spark):
    """The exact-decimal mean must not pay a per-row BigDecimal
    conversion on the hot path. Round-10 lesson: casts inlined as
    when(side, cast(...)) inside the sum/count buffers re-evaluate
    per reference (codegen CSE skips conditional branches). Round-11
    redesign: a DOUBLE column's mean runs a per-row LONG fast leg
    (floor(v*100+0.5) + a bitwise y/100.0 == v check, provably equal
    to the shortest-representation cast semantics) and keeps the
    decimal(28,9) cast only in the CONDITIONAL slow leg for rows the
    fast leg cannot represent (64x interleaved A/B: 8.34 -> 2.51 s
    median). Pins: aggregate lines carry no decimal(28,9) cast; the
    only decimal(28,9) casts sit under CASE WHEN inside a Project
    (the slow leg); and the fast leg's FLOOR is projected."""
    from feray_spark.features.drift import drift_report

    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    rep = drift_report(df.filter("k % 3 != 0"), df, ["v"])
    plan = rep._jdf.queryExecution().executedPlan().toString()
    agg_lines = [l for l in plan.splitlines() if "HashAggregate" in l]
    proj_lines = [l for l in plan.splitlines() if "Project" in l]
    assert agg_lines and proj_lines, plan
    assert not any("as decimal(28,9)" in l for l in agg_lines), agg_lines
    # the slow-leg cast is conditional: every occurrence lives in a
    # Project line that also carries the CASE WHEN guard, one per
    # union side = 2 for the single profiled double column
    casts = sum(l.count("as decimal(28,9)") for l in proj_lines)
    assert casts == 2, proj_lines
    assert all(
        "CASE WHEN" in l for l in proj_lines if "as decimal(28,9)" in l
    ), proj_lines
    assert any("FLOOR" in l for l in proj_lines), proj_lines


def _rows_equal_nan_aware(a, b):
    ok = len(a) == len(b)
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, float):
                ok = ok and ((math.isnan(x) and math.isnan(y)) or x == y)
            else:
                ok = ok and x == y
    return ok


def test_drift_report_fast_paths_match_generic_leg(spark):
    """The round-11 typed exact-mean fast paths (long fast leg for
    doubles, scale-0 compact sums for integrals, source-scale sums
    for decimals) must be VALUE-IDENTICAL to the generic
    cast-to-decimal(28,9) leg on an adversarial corner set: signed
    zero, half-way 9th-digit values, |v| at the 1e10 fast-leg gate,
    values at the decimal(28,9) overflow threshold (1e19), NaN/Inf,
    Long.MIN/MAX, and a wide decimal(38,0) whose big values the cast
    NULLs out of numerator and denominator alike."""
    from decimal import Decimal as D

    from pyspark.sql import types as T

    from feray_spark.features.drift import drift_report

    nan, inf = float("nan"), float("inf")
    doubles = [
        0.0, -0.0, 1.25, -1.25, 0.07, 0.005, -0.005, 0.0000000005,
        1e-18, 2.9999999999999996, 999999999.99, -999999999.99, 1e9,
        1234567890.25, 6.02e23, 1e300, nan, inf, -inf, None, 0.1,
        1 / 3, -1 / 3, 2**53 + 1.0, 9.223372036854776e16, 5e18,
        9.5e18, 1.5e19, 0.995, 123456.78, 9999999999.99,
        -9999999999.99, 1e10, -1e10,
    ]
    longs = [
        0, 1, -1, 150000, 2**33 * 64, -(2**33) * 64, (1 << 62),
        9223372036854775807, -9223372036854775808, None, 999999999,
        1000000000, -1000000001,
    ]
    decs = [
        D("0"), D("1.25"), D("-1.25"), D("123456789012345.67"),
        D("9999999999999999.99"), None, D("0.01"), D("-0.01"),
    ]
    n = max(len(doubles), len(longs), len(decs))
    doubles += [None] * (n - len(doubles))
    longs += [None] * (n - len(longs))
    decs += [None] * (n - len(decs))
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("d", T.DoubleType()),
            T.StructField("g", T.LongType()),
            T.StructField("m", T.DecimalType(18, 2)),
        ]
    )
    df = spark.createDataFrame(
        list(zip(range(n), doubles, longs, decs)), schema
    )
    base = df.filter(F.col("k") % 3 != 0)
    cols = ["d", "g", "m", "k"]
    fast = drift_report(base, df, cols).orderBy("col_name").collect()
    gen = (
        drift_report(base, df, cols, _force_generic=True)
        .orderBy("col_name")
        .collect()
    )
    assert _rows_equal_nan_aware(fast, gen), (fast, gen)

    # wide decimal: values with >19 integer digits leave numerator
    # AND denominator on both legs
    wide = spark.createDataFrame(
        [
            (1, D("1" + "0" * 19)),
            (2, D("5")),
            (3, None),
            (4, D("-1" + "0" * 20)),
        ],
        T.StructType(
            [
                T.StructField("k", T.LongType()),
                T.StructField("w", T.DecimalType(38, 0)),
            ]
        ),
    )
    f3 = drift_report(wide, wide, ["w"]).collect()
    g3 = drift_report(wide, wide, ["w"], _force_generic=True).collect()
    assert f3 == g3
    assert f3[0].mean_current == 5.0

    # an empty side stays NULL-meaned on both legs
    two = spark.createDataFrame(
        [(1, None, None), (2, 1.5, 7)], "k long, d double, g long"
    )
    f4 = drift_report(two.filter("k < 0"), two, ["d", "g"]).collect()
    g4 = drift_report(
        two.filter("k < 0"), two, ["d", "g"], _force_generic=True
    ).collect()
    assert f4 == g4


def test_restore_after_vacuum_fails_loudly(spark, tmp_root):
    """Restoring to a version whose data is gone must fail up front
    (Delta's behavior) — never commit an unreadable HEAD. Two gone
    flavors: vacuum drops the commit record itself (KeyError), and a
    record that survives with its segments missing (crash mid-vacuum,
    manual deletion) is caught by the segment check (ValueError)."""
    import shutil as _shutil

    import pytest as _pytest

    ts = TableStore(tmp_root)
    ts.write(spark.createDataFrame([(1,)], "id int"), "t", mode="overwrite")
    ts.write(spark.createDataFrame([(2,)], "id int"), "t", mode="overwrite")
    ts.vacuum("t", keep_versions=1, orphan_grace_sec=0)
    with _pytest.raises(KeyError, match="no version"):
        ts.restore("t", 0)

    ts.write(spark.createDataFrame([(3,)], "id int"), "t", mode="overwrite")
    # version 1's record survives but its segment is manually gone
    for seg in ts.commit_info("t", 1).segments:
        _shutil.rmtree(seg)
    with _pytest.raises(ValueError, match="vacuumed"):
        ts.restore("t", 1)
    # head unchanged, still readable
    assert ts.latest_version("t") == 2
    assert ts.read(spark, "t").count() == 1


def test_clone_vacuum_never_reaches_into_source(spark, tmp_root):
    """A shallow clone's vacuum sweeps only clone-local segments: the
    clone overwrites (detaching from the shared segments), then
    vacuums away its history — the SOURCE's segment directories must
    survive and the source must still read."""
    ts = TableStore(tmp_root)
    ts.write(
        spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string"),
        "src", mode="overwrite",
    )
    ts.clone("src", "dst")
    ts.write(
        spark.createDataFrame([(9, "z")], "id int, v string"),
        "dst", mode="overwrite",
    )
    deleted = ts.vacuum("dst", keep_versions=1, orphan_grace_sec=0)
    assert all("/src/" not in p for p in deleted), deleted
    assert {(r.id, r.v) for r in ts.read(spark, "src").collect()} == {
        (1, "a"), (2, "b"),
    }
    assert ts.read(spark, "dst").count() == 1


def test_clone_stream_requires_detach(spark, tmp_root):
    """read_stream on an undetached clone would glob the clone's own
    directory and silently miss every shared segment — it must be
    rejected with the detach instruction instead."""
    ts = TableStore(tmp_root)
    ts.write(spark.createDataFrame([(1,)], "id int"), "src", mode="overwrite")
    ts.clone("src", "dst")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="detach"):
        ts.read_stream(spark, "dst")
    # detaching via optimize makes it streamable... modulo the
    # rewrite-commit rule, which ignore_changes + vacuum satisfies
    ts.optimize(spark, "dst")
    ts.vacuum("dst", keep_versions=1, orphan_grace_sec=0)
    stream = ts.read_stream(spark, "dst", ignore_changes=True)
    assert stream.isStreaming


def test_drift_report_empty_cols_is_empty_typed(spark):
    """Zero profiled columns (an empty schema intersection) returns
    an empty report with the full 13-column schema, not an analysis
    error from star-expanding an empty struct array."""
    from feray_spark.features.drift import drift_report

    df = spark.createDataFrame([(1,)], "k int")
    rep = drift_report(df, df, [])
    assert rep.count() == 0
    assert rep.columns[:3] == ["col_name", "n_baseline", "n_current"]
    assert len(rep.columns) == 13


def test_clone_refuses_vacuumed_source_segments(spark, tmp_root):
    """Like restore, clone must never commit an unreadable table: a
    source version whose segment dirs are gone is refused up front."""
    import shutil as _shutil

    import pytest as _pytest

    ts = TableStore(tmp_root)
    ts.write(spark.createDataFrame([(1,)], "id int"), "src", mode="overwrite")
    for seg in ts.commit_info("src", 0).segments:
        _shutil.rmtree(seg)
    with _pytest.raises(ValueError, match="vacuumed"):
        ts.clone("src", "dst")
    assert ts.commit_info("dst") is None


# ------------------------------------- review-sweep regression tests


def test_change_feed_zero_row_append_emits_nothing(spark, tmp_root):
    """A zero-row partitioned append commits no segment; the change
    feed's append fast path must emit NOTHING for that version —
    never replay the previous commit's segment as inserts."""
    ts = TableStore(tmp_root)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, day string")
    ts.write(df, "t", mode="overwrite", partition_by=["day"])
    empty = spark.createDataFrame([], "id int, day string")
    ts.write(empty, "t", mode="append")  # v1: zero-row, no new segment
    ts.write(
        spark.createDataFrame([(3, "c")], "id int, day string"),
        "t",
        mode="append",
    )  # v2: one real row
    feed = ts.changes(spark, "t", from_version=0).collect()
    by_version = {}
    for r in feed:
        by_version.setdefault(r._commit_version, []).append(r)
    assert 1 not in by_version, by_version.get(1)
    assert [r.id for r in by_version[2]] == [3]


def test_optimize_empty_partitioned_table_is_noop(spark, tmp_root):
    """OPTIMIZE of an emptied partitioned table must not commit a
    file-less segment (which would break every later read)."""
    ts = TableStore(tmp_root)
    df = spark.createDataFrame([(1, "a")], "id int, day string")
    ts.write(df, "t", mode="overwrite", partition_by=["day"])
    ts.replace_where(
        spark,
        "t",
        spark.createDataFrame([], "id int, day string"),
        "day = 'a'",
    )
    v_before = ts.latest_version("t")
    ts.optimize(spark, "t")
    assert ts.latest_version("t") == v_before  # no-op, head unchanged
    assert ts.read(spark, "t").count() == 0  # and still readable


def test_merge_key_named_count(spark, tmp_root):
    """MERGE keyed on a column literally named 'count' must work —
    the duplicate-source-key probe aliases its aggregate."""
    ts = TableStore(tmp_root)
    ts.write(
        spark.createDataFrame([(1, 10, "x")], "id int, count int, v string"),
        "t",
        mode="overwrite",
    )
    ts.merge(
        spark,
        "t",
        spark.createDataFrame([(1, 10, "y"), (2, 20, "z")],
                              "id int, count int, v string"),
        keys=["id", "count"],
    )
    rows = {(r.id, r["count"]): r.v for r in ts.read(spark, "t").collect()}
    assert rows == {(1, 10): "y", (2, 20): "z"}


def test_new_check_busts_memo(spark, tmp_root):
    """Adding an asset check to an already-materialized view must be
    a memo MISS (the check has never run) — the check set is part of
    the fingerprint."""
    fs = FeatureStore(
        spark, tmp_root, sources={"orders": f"{SF_DIR}/orders.parquet"}
    )

    def fn(s, inputs):
        return inputs["orders"].select("o_orderkey", "o_totalprice")

    fs.register(FeatureView(name="v", fn=fn, inputs=("orders",)))
    _, recomputed = fs.materialize("v")
    assert recomputed
    _, recomputed = fs.materialize("v")
    assert not recomputed  # memo hit

    fs.views["v"] = FeatureView(
        name="v",
        fn=fn,
        inputs=("orders",),
        checks={"nonempty": lambda df: F.count("*") > 0},
    )
    _, recomputed = fs.materialize("v")
    assert recomputed  # new check ⇒ miss ⇒ the check actually ran
    meta = fs.store.commit_info("v").user_metadata
    assert meta["checks"] == {"nonempty": True}


def test_backfill_gates_on_checks(spark, tmp_root):
    """backfill() must evaluate the view's checks on the recomputed
    slice BEFORE writing — a failing slice leaves the table head
    untouched instead of serving violating rows under carried-forward
    passing verdicts."""
    src = f"{tmp_root}/src"
    spark.createDataFrame(
        [(1, "a", 5), (2, "b", 5)], "id int, day string, x int"
    ).write.parquet(src)
    fs = FeatureStore(spark, f"{tmp_root}/store", sources={"src": src})

    def fn(s, inputs):
        return inputs["src"]

    fs.register(
        FeatureView(
            name="v",
            fn=fn,
            inputs=("src",),
            partition_by=("day",),
            checks={"x_small": lambda df: F.max("x") < 10},
        )
    )
    fs.materialize("v")
    v_before = fs.store.latest_version("v")

    # poison day='a' upstream so the backfilled slice fails the check
    spark.createDataFrame(
        [(1, "a", 99), (2, "b", 5)], "id int, day string, x int"
    ).write.mode("overwrite").parquet(src)
    with pytest.raises(CheckFailure):
        fs.backfill("v", "day = 'a'")
    assert fs.store.latest_version("v") == v_before  # nothing committed


def test_materialize_cycle_raises_value_error(spark, tmp_root):
    """A dependency cycle must raise the clear ValueError — not
    RecursionError after a thousand frames."""
    fs = FeatureStore(spark, tmp_root)

    def fn(s, inputs):  # pragma: no cover - never runs
        raise AssertionError

    fs.register(FeatureView(name="a", fn=fn, inputs=("b",)))
    fs.register(FeatureView(name="b", fn=fn, inputs=("a",)))
    with pytest.raises(ValueError, match="cycle"):
        fs.materialize("a")


def test_materialize_stream_append_replay_is_idempotent(spark, tmp_root):
    """T10 crash-window replay: foreachBatch is at-least-once — if the
    process dies AFTER the store commit but BEFORE the checkpoint
    commit, the restart re-delivers the same epoch. Simulated by
    deleting the checkpoint's commit record: the re-run must NOT
    duplicate the appended rows (the sink's epoch guard skips work
    that is already durable)."""
    import os

    fs = FeatureStore(spark, os.path.join(tmp_root, "store"))
    e0 = spark.createDataFrame(
        [(1, 60.0, "view"), (2, 80.0, "purchase")],
        "user_id int, value double, event_type string",
    )
    fs.store.write(e0, "raw_events", mode="overwrite")

    @fs.feature_view(name="hist", inputs=["raw_events"])
    def hist(spark, inputs):
        return inputs["raw_events"].select("user_id", "value")

    ckpt = os.path.join(tmp_root, "ckpt")
    q = fs.materialize_stream("hist", checkpoint=ckpt, mode="append")
    q.awaitTermination(120)
    q.stop()
    q.awaitTermination()  # fully deregistered before the re-run
    assert fs.store.read(spark, "hist").count() == 2

    # crash window: offsets/0 written, commits/0 lost (the .crc
    # shadow must go too or the local ChecksumFileSystem refuses the
    # re-write as a concurrent modification)
    os.remove(os.path.join(ckpt, "commits", "0"))
    os.remove(os.path.join(ckpt, "commits", ".0.crc"))
    q2 = fs.materialize_stream("hist", checkpoint=ckpt, mode="append")
    q2.awaitTermination(120)
    assert fs.store.read(spark, "hist").count() == 2  # no duplicates


def test_stable_repr_set_is_hashseed_independent():
    """A set-valued instance attribute (or partial arg) must produce
    the same code_version in every interpreter run: set repr order
    follows hash randomization, so _stable_repr must sort elements.
    Verified the honest way — two child interpreters with different
    PYTHONHASHSEED values must agree."""
    import os
    import subprocess
    import sys

    prog = (
        "from feray_spark.features.versioning import _stable_repr;"
        "print(_stable_repr({'zeta','alpha','mu','omega','beta'}),"
        " _stable_repr({frozenset({'x','y','z'}): [1, {'b','a'}]}))"
    )
    outs = []
    for seed in ("1", "42"):
        env = dict(os.environ, PYTHONHASHSEED=seed, PYTHONPATH="/root/repo")
        outs.append(
            subprocess.run(
                [sys.executable, "-c", prog],
                capture_output=True, text=True, env=env, check=True,
            ).stdout
        )
    assert outs[0] == outs[1]
    assert "alpha" in outs[0]


def test_stable_repr_mixed_type_containers():
    """Mixed-type sets and dict keys must not TypeError on sorting
    (elements sort by their stable reprs, not by direct comparison)."""
    from feray_spark.features.versioning import _stable_repr

    r = _stable_repr({1, "one", (2, 3)})
    assert isinstance(r, str) and r == _stable_repr({(2, 3), "one", 1})
    rd = _stable_repr({1: "a", "b": 2})
    assert rd == _stable_repr({"b": 2, 1: "a"})


def test_fastlane_replay_guard_sees_buried_epoch(spark, tmp_root):
    """T10 crash-window regression: if a BATCH commit lands on the
    fastlane target between an epoch's store commit and its
    checkpoint commit, the redelivered epoch's fastlane commit is no
    longer the head — the guard must find it in recent history and
    skip, or append mode duplicates every row of the epoch."""
    import os
    import shutil

    fs = FeatureStore(spark, os.path.join(tmp_root, "store"))
    src = spark.createDataFrame(
        [(1, 60.0, "view"), (2, 80.0, "purchase")],
        "user_id int, value double, event_type string",
    )
    fs.store.write(src, "raw_log", mode="overwrite")

    @fs.feature_view(name="log_feed", inputs=["raw_log"])
    def log_feed(spark, inputs):
        return inputs["raw_log"].select("user_id", "value")

    ckpt = os.path.join(tmp_root, "ckpt_replay")
    q = fs.materialize_stream("log_feed", checkpoint=ckpt, mode="append")
    q.awaitTermination(120)
    n0 = fs.store.read(spark, "log_feed").count()
    assert n0 == 2

    # crash window: the epoch's STORE commit is durable but the
    # CHECKPOINT commit is lost...
    shutil.rmtree(os.path.join(ckpt, "commits"))
    # ...and an interleaved batch writer buries the fastlane commit
    extra = spark.createDataFrame([(9, 1.0)], "user_id int, value double")
    fs.store.write(
        extra.withColumn("_data_version", F.lit("x"))
        .withColumn("_code_version", F.lit("x")),
        "log_feed",
        mode="append",
    )

    # restart redelivers epoch 0; the guard must skip it
    q2 = fs.materialize_stream("log_feed", checkpoint=ckpt, mode="append")
    q2.awaitTermination(120)
    rows = [
        (r.user_id, r.value)
        for r in fs.store.read(spark, "log_feed").collect()
    ]
    assert sorted(rows) == [(1, 60.0), (2, 80.0), (9, 1.0)], rows


def test_partition_literal_escapes_backslashes(spark, tmp_root):
    """Partition values containing backslashes/quotes must stay ONE
    inert literal in the replace_where predicate — under Spark's
    default parser a trailing backslash would escape the closing
    quote, and a crafted \\' sequence could widen the rewrite into
    other partitions (data loss)."""
    import os

    fs = FeatureStore(spark, os.path.join(tmp_root, "store"))
    nasty1 = "a\\"
    nasty2 = "a\\' OR '1'='1"
    raw = spark.createDataFrame(
        [(1, nasty1, 10.0), (2, nasty2, 20.0), (3, "plain", 30.0)],
        "id int, day string, v double",
    )
    fs.store.write(raw, "raw_esc", mode="overwrite")

    @fs.feature_view(name="esc_daily", inputs=["raw_esc"], entities=["day"],
                     partition_by=("day",))
    def esc_daily(spark, inputs):
        return (
            inputs["raw_esc"].groupBy("day")
            .agg(F.sum("v").alias("total"))
        )

    assert fs.materialize_partition("esc_daily", "plain") is True
    assert fs.materialize_partition("esc_daily", nasty1) is True
    assert fs.materialize_partition("esc_daily", nasty2) is True
    got = {
        (r.day, r.total)
        for r in fs.store.read(spark, "esc_daily").select("day", "total").collect()
    }
    assert got == {(nasty1, 10.0), (nasty2, 20.0), ("plain", 30.0)}
    # re-running the nasty partitions is a memo hit — nothing clobbered
    assert fs.materialize_partition("esc_daily", nasty1) is False
    assert fs.materialize_partition("esc_daily", "plain") is False


def test_empty_materialization_checks_pass_vacuously(spark, tmp_root):
    """Delta CHECK-constraint semantics: an aggregate check over a
    legitimately EMPTY materialization evaluates to NULL, which is a
    vacuous PASS — bool(None) would fail the empty slice forever
    (every rerun a memo miss that recomputes and re-raises)."""
    import os

    fs = FeatureStore(spark, os.path.join(tmp_root, "store"))
    raw = spark.createDataFrame([(1, -5.0)], "id int, v double")
    fs.store.write(raw, "raw_e", mode="overwrite")

    @fs.feature_view(
        name="none_today",
        inputs=["raw_e"],
        entities=["id"],
        checks={"v_nonneg": lambda df: F.min("v") >= 0},
    )
    def none_today(spark, inputs):
        return inputs["raw_e"].filter(F.col("v") > 100)  # empty slice

    df, recomputed = fs.materialize("none_today")
    assert recomputed and df.count() == 0
    # and the vacuous verdict memoizes: second call is a hit
    _, recomputed2 = fs.materialize("none_today")
    assert not recomputed2


def test_annotate_refresh_replaces_labels(spark, tmp_root):
    """Re-annotation with a refreshed labels frame must REPLACE the
    earlier label columns (a second join would duplicate the column
    name and make the table unwritable)."""
    import os

    fs = FeatureStore(spark, os.path.join(tmp_root, "store"))
    raw = spark.createDataFrame([(1, 1.0), (2, 2.0)], "id int, v double")
    fs.store.write(raw, "raw_a", mode="overwrite")

    @fs.feature_view(name="av", inputs=["raw_a"], entities=["id"])
    def av(spark, inputs):
        return inputs["raw_a"]

    fs.materialize("av")
    first = spark.createDataFrame([(1, "bad")], "id int, flag string")
    fs.annotate("av", first, keys=["id"])
    second = spark.createDataFrame([(1, "good"), (2, "good")], "id int, flag string")
    fs.annotate("av", second, keys=["id"])
    got = {(r.id, r.flag) for r in
           fs.store.read(spark, "av").select("id", "flag").collect()}
    assert got == {(1, "good"), (2, "good")}


def test_sync_leaves_partition_managed_views_alone(spark, tmp_root):
    """sync()'s whole-view tick must not full-materialize a view
    maintained via materialize_partition — that would recompute every
    partition AND wipe the per-partition fingerprints (the next
    partition call would recompute again)."""
    import os

    fs = FeatureStore(spark, os.path.join(tmp_root, "store"))
    raw = spark.createDataFrame(
        [(1, "d1", 10.0), (2, "d2", 20.0)], "id int, day string, v double"
    )
    fs.store.write(raw, "raw_s", mode="overwrite")

    @fs.feature_view(name="pday", inputs=["raw_s"], entities=["day"],
                     partition_by=("day",))
    def pday(spark, inputs):
        return inputs["raw_s"].groupBy("day").agg(F.sum("v").alias("total"))

    assert fs.materialize_partition("pday", "d1") is True
    report = fs.sync()
    assert report["pday"] is False  # left to its per-partition flow
    meta = fs.store.commit_info("pday").user_metadata
    assert "partition_fingerprints" in meta
    # the partition memo survived the tick
    assert fs.materialize_partition("pday", "d1") is False


def test_fastlane_second_writer_fails_fast(spark, tmp_root):
    """One writer per target is a CHECKED invariant: a second
    materialize_stream with a different checkpoint — a concurrent
    writer, or a fresh checkpoint pointed at an existing fastlane
    target — errors at call time instead of duplicating epochs;
    release_fastlane_lease() is the intentional-migration escape."""
    import os

    fs = FeatureStore(spark, os.path.join(tmp_root, "store"))
    fs.store.write(
        spark.createDataFrame([(1, 60.0)], "user_id int, value double"),
        "raw", mode="overwrite",
    )

    @fs.feature_view(name="hot", inputs=["raw"], entities=["user_id"])
    def hot(spark, inputs):
        return inputs["raw"].filter(F.col("value") > 50)

    ckpt_a = os.path.join(tmp_root, "ckpt_a")
    q = fs.materialize_stream("hot", checkpoint=ckpt_a)
    q.awaitTermination(120)
    assert fs.store.read(spark, "hot").count() == 1

    ckpt_b = os.path.join(tmp_root, "ckpt_b")
    with pytest.raises(RuntimeError, match="bound to the writer"):
        fs.materialize_stream("hot", checkpoint=ckpt_b)

    # the bound checkpoint keeps working (same run_id re-read)
    fs.store.write(
        spark.createDataFrame([(2, 70.0)], "user_id int, value double"),
        "raw", mode="append",
    )
    q = fs.materialize_stream("hot", checkpoint=ckpt_a)
    q.awaitTermination(120)
    assert fs.store.read(spark, "hot").count() == 2

    # explicit migration: release, rebind to the new checkpoint
    assert fs.release_fastlane_lease("hot") is True
    q = fs.materialize_stream("hot", checkpoint=ckpt_b)
    q.awaitTermination(120)
    # upsert merge keeps the keyspace intact across the re-drain
    assert fs.store.read(spark, "hot").count() == 2
    assert fs.release_fastlane_lease("no_such") is False


def test_fastlane_commits_carry_run_id(spark, tmp_root):
    """Fastlane commits record the checkpoint's run_id; the replay
    guard only skips an epoch recorded under the SAME run_id, so a
    fresh checkpoint's epoch 0 can never alias an old run's epoch 0."""
    import os

    fs = FeatureStore(spark, os.path.join(tmp_root, "store"))
    fs.store.write(
        spark.createDataFrame([(1, 60.0)], "user_id int, value double"),
        "raw", mode="overwrite",
    )

    @fs.feature_view(name="hot2", inputs=["raw"], entities=["user_id"])
    def hot2(spark, inputs):
        return inputs["raw"]

    ckpt = os.path.join(tmp_root, "ck")
    q = fs.materialize_stream("hot2", checkpoint=ckpt)
    q.awaitTermination(120)
    meta = fs.store.commit_info("hot2").user_metadata
    assert meta["mode"] == "fastlane"
    marker = os.path.join(ckpt, "__feray_run_id__")
    with open(marker) as f:
        assert meta["run_id"] == f.read().strip()


def test_fastlane_lease_is_reentrant_and_litter_free(spark, tmp_root):
    """Same-run_id re-acquisition (a restart, or two racers off one
    checkpoint) must pass — and never leave .tmp litter or crash on
    the link-loser's cleanup."""
    import os

    fs = FeatureStore(spark, os.path.join(tmp_root, "store"))
    fs._acquire_fastlane_lease("t", "RUN", "/ck")
    fs._acquire_fastlane_lease("t", "RUN", "/ck")  # no raise
    with pytest.raises(RuntimeError, match="bound to the writer"):
        fs._acquire_fastlane_lease("t", "OTHER", "/ck2")
    table_dir = os.path.join(fs.store.root, "t")
    litter = [x for x in os.listdir(table_dir) if x.endswith(".tmp")]
    assert litter == []


def test_fastlane_failed_call_does_not_bind_target(spark, tmp_root):
    """A materialize_stream call that fails before a stream exists
    (unknown input) must NOT leave the never-written target bound to
    that checkpoint."""
    import os

    fs = FeatureStore(spark, os.path.join(tmp_root, "store"))

    @fs.feature_view(name="broken", inputs=["no_such_input"])
    def broken(spark, inputs):
        return inputs["no_such_input"]

    with pytest.raises(KeyError):
        fs.materialize_stream(
            "broken", checkpoint=os.path.join(tmp_root, "ckA"),
            mode="append",
        )
    lease = os.path.join(fs.store.root, "broken", "_fastlane_lease.json")
    assert not os.path.exists(lease)


def test_fastlane_replay_guard_accepts_legacy_commits(spark, tmp_root):
    """Commits written before run_id stamping carry no run_id; a
    same-epoch fastlane commit without one must still read as a
    replay, or a crash window straddling the upgrade would re-append
    the batch."""
    import os

    fs = FeatureStore(spark, os.path.join(tmp_root, "store"))
    fs.store.write(
        spark.createDataFrame([(1, 60.0)], "user_id int, value double"),
        "raw", mode="overwrite",
    )

    @fs.feature_view(name="legacy", inputs=["raw"], entities=["user_id"])
    def legacy(spark, inputs):
        return inputs["raw"]

    # simulate the pre-upgrade state: the epoch-0 batch landed (no
    # run_id in metadata) but the checkpoint commit was lost
    pre = fs._stamp_versions(
        spark.createDataFrame([(1, 60.0)], "user_id int, value double"),
        fs.views["legacy"],
    )
    fs.store.write(
        pre, "legacy", mode="overwrite",
        user_metadata={"mode": "fastlane", "epoch": 0},
    )
    q = fs.materialize_stream(
        "legacy", checkpoint=os.path.join(tmp_root, "ck"), mode="append"
    )
    q.awaitTermination(120)
    # the replayed epoch 0 was skipped: still exactly one row, and no
    # new commit landed for it
    assert fs.store.read(spark, "legacy").count() == 1
    assert fs.store.latest_version("legacy") == 0
