"""The ``feature_store`` workload: writes beside reads.

One fresh store per run receives the ``events`` table as seeded
append batches. Its DAG has three views: an aggregate built with
``dsum`` that carries a check, a view derived from the aggregate, and
a per-row view that an append-mode fastlane also serves. Each cycle
runs, in order: ingest (``TableStore.write`` append), a
``materialize_stream`` (``availableNow``) drain, ``sync()``, a
memo-hit ``materialize``, a ``lookup`` of seeded entities and an
``asof_join_multi`` training set over a seeded spine. Cycle 0 is
warm-up.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

N_BATCHES = 12
#: the end-to-end metrics use exactly this many measured cycles (the
#: commit log grows every cycle, so a run that fits a fourth cycle in
#: its time budget would otherwise report slower medians)
MIN_CYCLES = 3
LOOKUP_KEYS = 100
SPINE_ROWS = 2000
VIEWS = ("user_agg", "user_tier", "event_rows")
VERSION_COLS = ("_data_version", "_code_version")


def _positive_counts(df):
    from pyspark.sql import functions as F

    return F.min("n_events") >= 1


def user_agg(spark, inputs):
    from feray_spark.queries.util import dsum
    from pyspark.sql import functions as F

    return inputs["events"].groupBy("user_id").agg(
        F.count("*").alias("n_events"), dsum("value").alias("total_value")
    )


def user_tier(spark, inputs):
    from pyspark.sql import functions as F

    a = inputs["user_agg"]
    return a.select(
        "user_id",
        F.round(F.col("total_value") / F.col("n_events"), 6).alias("avg_value"),
        F.when(F.col("total_value") >= 500, "high").otherwise("low").alias("tier"),
    )


def event_rows(spark, inputs):
    return inputs["events"].select(
        "event_id", "user_id", "ts", "event_type", "value"
    )


def split_events(events_path: str, out_dir: str, rng, inputs) -> list[str]:
    """Seeded split of ``events`` into ``N_BATCHES`` parquet batches of
    near-equal size (each batch a random subset, kept in ts order)."""
    import pyarrow.parquet as pq

    table = pq.read_table(events_path)
    owner = rng.permutation(table.num_rows) % N_BATCHES
    inputs.update(owner.tobytes())
    paths = []
    os.makedirs(out_dir, exist_ok=True)
    for b in range(N_BATCHES):
        idx = np.flatnonzero(owner == b)
        path = os.path.join(out_dir, f"batch{b:02d}.parquet")
        pq.write_table(table.take(idx), path)
        paths.append(path)
    return paths


def dir_usage(root: str) -> tuple[int, int]:
    size = files = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return size, files


class Workload:
    def __init__(self, ctx, events_path: str) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.batches = split_events(
            events_path, os.path.join(ctx.run_dir, "batches"), ctx.rng,
            ctx.inputs,
        )
        self.ingested: list[str] = []

    def new_store(self, name: str):
        from feray_spark.features.store import FeatureStore

        fs = FeatureStore(self.spark, os.path.join(self.ctx.run_dir, name))
        fs.feature_view(
            name="user_agg", inputs=["events"], entities=["user_id"],
            checks={"positive_counts": _positive_counts},
        )(user_agg)
        fs.feature_view(
            name="user_tier", inputs=["user_agg"], entities=["user_id"]
        )(user_tier)
        fs.feature_view(
            name="event_rows", inputs=["events"], entities=["user_id"]
        )(event_rows)
        return fs

    def read_batch(self, path: str):
        from feray_spark.catalog import normalize_events_ts

        return normalize_events_ts(self.spark.read.parquet(path))

    # ------------------------------------------------------ operations

    def ingest(self, fs, b: int) -> bool:
        fs.store.write(self.read_batch(self.batches[b]), "events", mode="append")
        self.ingested.append(self.batches[b])
        return True

    def sync(self, fs) -> bool:
        report = fs.sync()
        # every view reads events (directly or through user_agg), so
        # an ingest makes all of them stale
        self.last_recomputed = sum(report.values())
        return report == {v: True for v in VIEWS}

    def memo(self, fs) -> bool:
        group = f"memo-{time.perf_counter_ns()}"
        self.spark.sparkContext.setJobGroup(group, "memo hit")
        try:
            _, recomputed = fs.materialize("user_tier")
        finally:
            self.spark.sparkContext._jsc.clearJobGroup()
        jobs = self.ctx.jobs_in_group(group)
        self.memo_hit = not recomputed
        return not recomputed and jobs == 0

    def lookup(self, fs, keys: list[int]) -> bool:
        rows = fs.lookup("user_agg", [(k,) for k in keys]).select(
            "user_id").collect()
        got = sorted(r.user_id for r in rows)
        return got == sorted(keys)

    def training(self, fs, spine_path: str, spine_rows: int) -> bool:
        from feray_spark.operators.asof import asof_join_multi
        from pyspark.sql import functions as F

        spine = self.read_batch(spine_path)
        right = fs.store.read(self.spark, "events").select(
            "user_id", "ts", "event_type", "value")
        out = asof_join_multi(
            spine, right, on=["user_id"], left_ts="ts", right_ts="ts",
            features={
                "_a": (None, ["value"]),
                "_p": (F.col("event_type") == "purchase", ["value"]),
            },
        )
        return len(out.toPandas()) == spine_rows

    def drain(self, fs, checkpoint: str) -> bool:
        q = fs.materialize_stream("event_rows", checkpoint=checkpoint,
                                  mode="append")
        q.awaitTermination()
        return q.exception() is None

    # ---------------------------------------------------------- checks

    def fastlane_rows_match(self, fs) -> bool:
        """The fastlane table holds exactly the batch view's rows."""
        served = fs.store.read(self.spark, "event_rows").count()
        batch = event_rows(self.spark, {
            "events": fs.store.read(self.spark, "events")}).count()
        return served == batch

    def fastlane_equals_batch(self, fs) -> bool:
        """The fastlane table equals the batch view, row for row."""
        from tests.oracle_utils import canonicalize

        served = fs.store.read(self.spark, "event_rows").drop(*VERSION_COLS)
        batch = event_rows(self.spark, {
            "events": fs.store.read(self.spark, "events")})
        return canonicalize(served.toPandas()) == canonicalize(batch.toPandas())

    def aggregate_equals_duckdb(self, fs) -> bool:
        """The aggregate view equals DuckDB's over the ingested events."""
        import duckdb
        from tests.oracle_utils import canonicalize

        files = ", ".join(f"'{p}'" for p in self.ingested)
        con = duckdb.connect()
        con.sql(f"SET threads={self.ctx.threads}")
        want = con.sql(
            "SELECT user_id, count(*) AS n_events, "
            "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value "
            f"FROM read_parquet([{files}]) GROUP BY user_id"
        ).df()
        con.close()
        got = fs.store.read(self.spark, "user_agg").select(
            "user_id", "n_events", "total_value").toPandas()
        return canonicalize(got) == canonicalize(want)


OPS = ("ingest", "drain", "sync", "memo", "lookup", "training")


def run(ctx, events_path: str) -> dict:
    tr = ctx.tracer
    wl = Workload(ctx, events_path)
    attempted = failed = 0
    eng: dict[str, list[dict]] = {n: [] for n in OPS}
    last_ok: dict[str, bool] = {}
    norm: list[float] = []  # normalized operation times (control)

    def op(name: str, fn, *args, check=None) -> float:
        """Time one operation; ``check`` (off the clock) verifies its
        output. Either failing makes the operation a failed one."""
        nonlocal attempted, failed
        attempted += 1
        tr.op = attempted
        w0 = time.time()
        t0 = time.perf_counter()
        ok, raised = False, False
        try:
            with tr.span(f"op.{name}"):
                ok = fn(*args)
        except Exception as e:  # a raising operation is a failed one
            raised = True
            ctx.log(f"FAILED {name}: {type(e).__name__}: {e}")
        dt = time.perf_counter() - t0
        with tr.span("bench.calibrate"):
            norm.append(ctx.cal.scale(dt))
        if ctx.traced:
            t = time.perf_counter()
            eng[name].append(ctx.engine.collect(w0))
            tr.overhead_s += time.perf_counter() - t
        if ok and check is not None:
            with tr.span("bench.check"):
                ok = check()
        if not ok:
            failed += 1
            if not raised:
                ctx.log(f"FAILED {name} (operation {attempted}): output check")
        last_ok[name] = ok
        return dt

    # seeded per-cycle inputs: lookup keys and spine rows are drawn
    # from the events ingested up to that cycle
    import pyarrow.parquet as pq

    seen_users: list[np.ndarray] = []
    spines, keys = [], []
    for b, path in enumerate(wl.batches):
        t = pq.read_table(path, columns=["user_id", "ts"])
        seen_users.append(t.column("user_id").to_numpy())
        users = np.unique(np.concatenate(seen_users))
        keys.append(sorted(ctx.rng.choice(
            users, min(LOOKUP_KEYS, len(users)), replace=False).tolist()))
        rows = ctx.rng.choice(t.num_rows, min(SPINE_ROWS, t.num_rows),
                              replace=False)
        ctx.inputs.update(repr(keys[-1]).encode() + rows.tobytes())
        spine = t.take(rows)
        sp = os.path.join(ctx.run_dir, "batches", f"spine{b:02d}.parquet")
        pq.write_table(spine, sp)
        spines.append((sp, len(rows)))

    # set-up: a fresh store with its DAG and the first batch ingested;
    # the last store is the one measured
    fs = ok = None

    def stand_up(rep: int) -> None:
        nonlocal fs, ok
        wl.ingested = []
        fs = wl.new_store(f"store{rep}")
        ok = wl.ingest(fs, 0)

    setup_s, setup = ctx.set_up(stand_up)
    # the measured store's set-up ingest is an operation too
    attempted += 1
    failed += not ok
    checkpoint = os.path.join(ctx.run_dir, "checkpoint")

    def cycle(b: int) -> dict[str, float]:
        row = {}
        if b:
            row["ingest"] = op("ingest", wl.ingest, fs, b)
        # the drain runs before sync: sync() batch-overwrites the
        # fastlane target with the new batch included, and a drain
        # after it appends that batch a second time
        row["drain"] = op("drain", wl.drain, fs, checkpoint,
                          check=lambda: wl.fastlane_rows_match(fs))
        row["sync"] = op("sync", wl.sync, fs)
        row["memo"] = op("memo", wl.memo, fs)
        row["lookup"] = op("lookup", wl.lookup, fs, keys[b])
        row["training"] = op("training", wl.training, fs, *spines[b])
        return row

    cycle(0)  # warm-up cycle 0, off the measured clock
    eng = {n: [] for n in OPS}
    norm.clear()
    tr.reset()

    times: dict[str, list[float]] = {n: [] for n in OPS}
    cycles: list[float] = []
    growth: list[tuple[int, int]] = []
    batches_per_drain: list[int] = []
    recomputed: list[int] = []
    memo_hits: list[bool] = []
    t_start = time.perf_counter()
    deadline = t_start + ctx.seconds
    for b in range(1, N_BATCHES):
        with tr.span("bench.usage"):
            before = dir_usage(fs.store.root)
            v0 = fs.store.latest_version("event_rows")
        row = cycle(b)
        with tr.span("bench.usage"):
            after = dir_usage(fs.store.root)
            # commits the drain added beside the one sync wrote
            batches_per_drain.append(
                fs.store.latest_version("event_rows") - v0 - 1)
        growth.append((after[0] - before[0], after[1] - before[1]))
        recomputed.append(wl.last_recomputed)
        memo_hits.append(wl.memo_hit)
        for k, v in row.items():
            times[k].append(v)
        cycles.append(sum(row.values()))
        if time.perf_counter() >= deadline and len(cycles) >= MIN_CYCLES:
            break
    wall = time.perf_counter() - t_start

    # end-of-run checks of the last cycle's outputs: a failure counts
    # against the operation that produced the output
    for name, check in (("sync", wl.aggregate_equals_duckdb),
                        ("drain", wl.fastlane_equals_batch)):
        if not check(fs):
            ctx.log(f"FAILED final check of {name}: {check.__doc__}")
            if last_ok[name]:
                failed += 1

    user_bytes = sum(os.path.getsize(p) for p in wl.ingested)
    store_bytes = dir_usage(fs.store.root)[0]
    exec_wall = sum(x for xs in times.values() for x in xs)
    times = {k: v[:MIN_CYCLES] for k, v in times.items()}
    all_ops = [x for xs in times.values() for x in xs]
    med = {k: statistics.median(v) for k, v in times.items()}
    out = {
        "setup_s": setup_s,
        "ok_ratio": 1.0 - failed / attempted,
        # a cycle's worth: the sum of per-operation medians
        "sweep_s": sum(med.values()),
        "query_gmean_s": statistics.geometric_mean(all_ops),
    }
    layer = {
        "ingest_s": med["ingest"],
        "refresh_s": med["sync"],
        "memo_hit_ms": med["memo"] * 1e3,
        "lookup_ms": med["lookup"] * 1e3,
        "training_set_s": med["training"],
        "fastlane_drain_s": med["drain"],
        "bytes_per_user_byte": store_bytes / user_bytes,
        "sources.table_store.bytes_written": statistics.median(g[0] for g in growth),
        "sources.table_store.files_written": statistics.median(g[1] for g in growth),
        "sources.table_store.log_len": float(
            fs.store.latest_version("events") + 1),
        "features.store.memo_hit_ratio": sum(memo_hits) / len(memo_hits),
        "features.store.recomputed_views": statistics.median(recomputed),
        "streaming.fastlane.batches": statistics.median(batches_per_drain),
        "streaming.fastlane.batch_s": med["drain"] / max(
            1, statistics.median(batches_per_drain)),
        "operators.asof.s": med["training"],
        "norm.sweep_s": sum(norm) / len(cycles),
        "norm.query_gmean_s": statistics.geometric_mean(norm),
        "query_p50_s": statistics.median(all_ops),
        "query_p90_s": statistics.quantiles(all_ops, n=10)[-1],
        "box.speed": ctx.cal.speed(),
    }
    if ctx.traced:
        runs = [e for es in eng.values() for e in es]
        layer.update(ctx.engine_layer(runs, exec_wall, len(cycles)))
        layer["features.store.lookup_jobs"] = statistics.median(
            e["jobs"] for e in eng["lookup"])
    return {
        "metrics": out, "layer": layer, "attempted": attempted,
        "failed": failed, "wall_s": wall, "setup_reps": setup,
        "sweeps": cycles, "executions": len(all_ops),
    }
