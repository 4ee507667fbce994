"""feray_spark benchmark: one command, two workloads.

    python3 perfbench/run.py --workload catalog_floor --seed 1 \\
        --seconds 12 --trace 0

Runs from the root of a source checkout. ``datagen.py`` writes the
input tables once into ``.bench_build/``; the seed picks the sweep
order, event batches, lookup keys and spine sample, and the program
receives only those inputs. ``--trace 0`` prints the
end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced
run. The last line of standard output is the JSON result. See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")

WORKLOADS = ("catalog_floor", "feature_store")
#: (catalog_floor, feature_store events) scale factors; ``--smoke``
#: shrinks both for the self-test
SCALES = (0.01, 0.1)
SMOKE_SCALES = (0.001, 0.001)
#: set-up repetitions per run: the first is cold and only logged,
#: ``setup_s`` is the median of the rest (``--smoke``: one)
SETUP_REPS = 5

END_TO_END = {
    "setup_s": "s",
    "ok_ratio": "ratio",
    "sweep_s": "s",
    "query_gmean_s": "s",
}


def per_layer_spec() -> dict[str, str]:
    """Per-layer metric names and units; every workload emits the
    same set (zeros where a layer is idle)."""
    from catalog import FLOOR, QUERY_MODULES

    names = {
        "spark.session_start_s": "s",
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.plan_s": "s", "spark.slot_busy": "ratio",
        "spark.task_cpu_s": "s", "spark.gc_s": "s",
        "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
        "spark.shuffle_fetch_wait_s": "s", "spark.spill_bytes": "bytes",
        "spark.peak_exec_mem_bytes": "bytes",
        "queries.build_s": "s", "spark.exec_s": "s",
        "query_p50_s": "s", "query_p90_s": "s",
    }
    names.update({f"queries.{m}.s": "s" for m in QUERY_MODULES})
    names.update({f"q.{e}.s": "s" for e in FLOOR})
    names.update({f"q.{e}.stages": "count" for e in FLOOR})
    names["curate_docs_per_s"] = "1/s"
    names.update({
        "ingest_s": "s", "refresh_s": "s", "memo_hit_ms": "ms",
        "lookup_ms": "ms", "training_set_s": "s", "fastlane_drain_s": "s",
        "bytes_per_user_byte": "ratio",
        "sources.table_store.write_s": "s",
        "sources.table_store.bytes_written": "bytes",
        "sources.table_store.files_written": "count",
        "sources.table_store.merge_s": "s",
        "sources.table_store.log_read_ms": "ms",
        "sources.table_store.log_len": "count",
        "features.store.fingerprint_ms": "ms",
        "features.store.memo_hit_ratio": "ratio",
        "features.store.recomputed_views": "count",
        "features.store.lookup_jobs": "count",
        "operators.asof.s": "s",
        "streaming.fastlane.batches": "count",
        "streaming.fastlane.batch_s": "s",
        "duckdb.sweep_s": "s", "duckdb_ratio": "ratio",
        "norm.sweep_s": "s", "norm.query_gmean_s": "s", "box.speed": "ratio",
        "trace_overhead": "ratio", "trace.self_coverage": "ratio",
    })
    return names


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Ctx:
    """What a workload needs: session, seeded RNG, clock budget,
    tracer and engine counters, scratch directory."""

    def __init__(self, args, spark, run_dir: str) -> None:
        import numpy as np

        from calib import Calibrator
        from spans import NullTracer, Tracer

        self.spark = spark
        self.rng = np.random.default_rng(args.seed)
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.threads = nproc()
        self.tracer = Tracer() if self.traced else NullTracer()
        self.run_dir = run_dir
        self.setup_reps = 1 if args.smoke else SETUP_REPS
        self.log = log
        self.cal = Calibrator(self.threads)
        #: digest of every seeded choice the workload makes
        self.inputs = hashlib.sha256()
        self.engine = None
        if self.traced:
            from engine import EngineCounters

            self.engine = EngineCounters(spark)

    def set_up(self, rep) -> tuple[float, list[float]]:
        """Time ``rep(i)`` for each set-up repetition ``i``: the median
        of the warm ones (all but the first) and every time."""
        times = []
        for i in range(self.setup_reps):
            t0 = time.perf_counter()
            rep(i)
            times.append(time.perf_counter() - t0)
        return statistics.median(times[1:] or times), times

    def jobs_in_group(self, group: str) -> int:
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    def engine_layer(self, runs: list[dict], exec_wall: float, passes: int) -> dict:
        """Per-pass engine totals from per-operation counter reads."""
        total = {k: sum(r[k] for r in runs) for k in runs[0]} if runs else {}
        out = {
            f"spark.{k}": total.get(k, 0.0) / passes
            for k in ("jobs", "stages", "tasks", "task_cpu_s", "gc_s",
                      "shuffle_write_bytes", "shuffle_read_bytes",
                      "shuffle_fetch_wait_s", "spill_bytes")
        }
        plans = [r["plan_s"] for r in runs if r["jobs"]]
        out["spark.plan_s"] = statistics.median(plans) if plans else 0.0
        out["spark.slot_busy"] = total.get("task_run_s", 0.0) / (
            exec_wall * self.engine.slots)
        out["spark.peak_exec_mem_bytes"] = max(
            (r["peak_exec_mem_bytes"] for r in runs), default=0.0)
        return out


def source_digest() -> str:
    """Digest of the program's sources (the checkout is not a git
    repository, so this stands in for the commit id)."""
    h = hashlib.sha256()
    for base in ("feray_spark", "scripts", "tests"):
        for dirpath, dirnames, files in os.walk(os.path.join(ROOT, base)):
            dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(dirpath, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10, check=True)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def provenance(args, spark) -> dict:
    import duckdb
    import pyspark

    from catalog import FLOOR
    from fstore import OPS
    from scripts import scale_probe

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc(),
        "defaultParallelism": spark.sparkContext.defaultParallelism,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "git_commit": git_commit(),
        "source_digest": source_digest(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "scale_probe_format_version": scale_probe.FORMAT_VERSION,
        "mix": {"catalog_floor": FLOOR, "feature_store": list(OPS)}[args.workload],
    }


def start_spark(run_dir: str):
    """Spark ``local[nproc]`` with every scratch directory inside
    ``run_dir``, and executor Python workers able to import the
    program from any working directory."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # no hsperfdata files: both JVMs (launcher and driver) would write
    # them under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = " ".join(filter(None, (
        os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS"),
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
        "-XX:-UsePerfData")))
    from feray_spark.session import get_spark

    return get_spark(
        app_name="feray-perfbench",
        cores=nproc(),
        driver_mem="4g",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.local.dir": local,
        },
    )


def warm_workers(spark) -> None:
    """Fork the executor Python workers before anything is timed: one
    task per ``defaultParallelism`` slot, so one worker each."""
    par = spark.sparkContext.defaultParallelism
    spark.range(par, numPartitions=par).mapInPandas(
        lambda batches: batches, "id long").write.format("noop").mode(
        "overwrite").save()


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def ensure_inputs(workload: str, scales: tuple[float, float]) -> str:
    """The workload's input directory, generated (and cached under
    ``.bench_build``) on first use."""
    import datagen

    sf = scales[WORKLOADS.index(workload)]
    return datagen.ensure_tables(os.path.join(BUILD, "data", f"sf{sf}"), sf)


def trace_program(tracer) -> None:
    """Wrap the program's public layer boundaries in spans."""
    from feray_spark.features.store import FeatureStore
    from feray_spark.operators import asof
    from feray_spark.sources.table_store import TableStore

    for attr in ("write", "read", "merge", "commit_info"):
        tracer.wrap(TableStore, attr, f"sources.table_store.{attr}")
    for attr in ("materialize", "sync", "fingerprint", "lookup",
                 "materialize_stream"):
        tracer.wrap(FeatureStore, attr, f"features.store.{attr}")
    tracer.wrap(asof, "asof_join_multi", "operators.asof.asof_join_multi")


def span_layer(tracer, wall: float, passes: int) -> dict[str, float]:
    tot = tracer.by_name("total")

    def mean_ms(name: str) -> float:
        n = tracer.count(name)
        return tot.get(name, 0.0) / n * 1e3 if n else 0.0

    return {
        "sources.table_store.write_s": tot.get("sources.table_store.write", 0.0) / passes,
        "sources.table_store.merge_s": tot.get("sources.table_store.merge", 0.0) / passes,
        "sources.table_store.log_read_ms": mean_ms("sources.table_store.commit_info"),
        "features.store.fingerprint_ms": mean_ms("features.store.fingerprint"),
        "trace_overhead": tracer.overhead_s / wall,
        "trace.self_coverage": sum(tracer.self_times()) / wall,
    }


def run_workload(args, spark, run_dir: str, session_s: float) -> dict:
    ctx = Ctx(args, spark, run_dir)
    data = ensure_inputs(args.workload, SMOKE_SCALES if args.smoke else SCALES)
    if ctx.traced:
        trace_program(ctx.tracer)
    if args.workload == "feature_store":
        import fstore

        res = fstore.run(ctx, os.path.join(data, "events.parquet"))
    else:
        import catalog

        res = catalog.run(ctx, catalog.FLOOR, data)
    ctx.cal.close()
    res["inputs"] = ctx.inputs.hexdigest()[:16]
    if ctx.traced:
        tracer = ctx.tracer
        res["layer"].update(span_layer(tracer, res["wall_s"], len(res["sweeps"])))
        res["layer"]["spark.session_start_s"] = session_s
        tracer.unwrap_all()
        trace_dir = os.path.join(BUILD, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tag = "-smoke" if args.smoke else ""
        path = os.path.join(
            trace_dir, f"{args.workload}-seed{args.seed}{tag}.jsonl")
        tracer.dump(path)
        top = sorted(tracer.by_name("self").items(), key=lambda kv: -kv[1])[:12]
        log(f"spans written to {path}; top self times (s): "
            + ", ".join(f"{k}={v:.3f}" for k, v in top))
    return res


def result_line(args, res: dict) -> dict:
    if args.trace:
        spec = per_layer_spec()
        vals = res["layer"]
    else:
        spec = END_TO_END
        vals = res["metrics"]
    metrics = {
        name: {"value": float(vals.get(name, 0.0)), "unit": unit}
        for name, unit in spec.items()
    }
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs (sf0.001), for perfbench/selftest.py")
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    try:
        import feray_spark  # noqa: F401
    except ImportError as e:
        log(f"cannot import the program from {ROOT}: {e}")
        return 2

    os.makedirs(BUILD, exist_ok=True)
    run_dir = os.path.join(BUILD, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(run_dir)
        warm_workers(spark)
        session_s = time.perf_counter() - t0
        print(json.dumps({"provenance": provenance(args, spark)}), flush=True)
        res = run_workload(args, spark, run_dir, session_s)
        print(json.dumps({"inputs": res["inputs"]}), flush=True)
        log(f"session start {session_s:.1f} s")
        log(f"{args.workload}: {res['executions']} operations in "
            f"{len(res['sweeps'])} passes, {res['wall_s']:.1f} s measured; "
            f"set-up reps {[round(x, 3) for x in res['setup_reps']]}; "
            f"failed {res['failed']}/{res['attempted']}")
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result_line(args, res)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
