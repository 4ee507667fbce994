"""The ``catalog_floor`` workload.

One client runs catalog entries one after another in a seeded order
(a closed loop). Each execution rebuilds the DataFrame with the
entry's ``fn`` and runs it. Every result of the check sweep is
compared with the canonical digest of the entry's DuckDB twin,
computed once per input set and cached beside it.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

#: floor workload: entries from every query module, most at Spark's
#: per-query floor (planning and scheduling dominate). Six entries of
#: the first 31-entry mix (p1, ep7, j1, a8, w1, l28: plain projection,
#: join, rollup, rank and shuffle shapes the rest also cover) are left
#: out to fit the timed budget (see README.md). l26 runs the whole
#: curation pipeline (``pipeline``, ``functions/text``,
#: ``operators/dedup``) and is the one entry well above the floor.
FLOOR = [
    # relational
    "ep13_value_share", "ep3c_tpch_q3", "ep6_having_semijoin",
    "ep10_sole_late_supplier",
    # joins
    "j5_broadcast_star", "j7b_interval_join", "j8_asof_join",
    # aggregates
    "a1_groupby_q1", "a14_exact_quantiles", "a12_table_profile",
    # windows, setops
    "w6_time_range_frame", "u4_except",
    # scalar_funcs, udf_surface
    "f_string_family", "f_json_family", "f1_scalar_udf", "f2_pandas_udf",
    "f5b_polymorphic_udtf",
    # feature_queries
    "fs8_training_set", "fs10_drift_report",
    # llm
    "l1b_canonical_dedup", "l16_unigram_logprob", "l20_span_dedup",
    "l26_curation_pipeline", "l31_split_leakage",
    # streaming_parity
    "t1_tumbling_window", "t6_stateful_running",
]

#: entries whose DuckDB twin runs only in the check pass: l26's
#: replays every curation stage and costs ~3 s at sf0.01 on the
#: 4-core machine, more than all other twins together, so the timed
#: control sweep (``duckdb.sweep_s``) leaves it out
UNTIMED_TWINS = ("l26_curation_pipeline",)

QUERY_MODULES = (
    "relational", "joins", "aggregates", "windows", "setops", "scalar_funcs",
    "feature_queries", "udf_surface", "llm", "streaming_parity",
)


def module_of(query) -> str:
    return query.fn.__module__.rsplit(".", 1)[-1]


def duck_connection(data_dir: str, threads: int):
    """DuckDB over the same parquet files the Spark side reads."""
    import duckdb

    from feray_spark.catalog import TABLES

    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")  # the Spark session pins UTC
    con.sql(f"SET threads={threads}")
    for t in TABLES:
        con.sql(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(data_dir, t)}.parquet')"
        )
    return con


def digest(pdf) -> str:
    """Canonical digest of a result frame: sorted column names plus the
    canonical rows of ``tests/oracle_utils.canonicalize``."""
    from tests.oracle_utils import canonicalize

    rows = canonicalize(pdf)
    body = repr((sorted(pdf.columns), len(rows), rows))
    return hashlib.sha256(body.encode()).hexdigest()


def twin_key(oracle: str) -> str:
    """What a twin's digest depends on besides the data: the oracle
    SQL, the DuckDB version and the canonicalization (the data
    directory is keyed by its own version marker)."""
    import inspect

    import duckdb
    from tests import oracle_utils

    h = hashlib.sha256()
    for part in (oracle, duckdb.__version__, inspect.getsource(oracle_utils),
                 inspect.getsource(digest)):
        h.update(part.encode())
        h.update(b"\0")
    return h.hexdigest()


def twin_digests(data_dir: str, names: list[str], threads: int) -> dict[str, str]:
    """DuckDB-twin digests for ``names`` on ``data_dir``, cached beside
    the data under ``twin_key`` and recomputed when the key changes."""
    from feray_spark.queries import load_all

    reg = load_all()
    path = os.path.join(data_dir, ".twin_digests.json")
    try:
        with open(path) as fh:
            cached = json.load(fh)
    except (FileNotFoundError, json.JSONDecodeError):
        cached = {}
    keys = {n: twin_key(reg[n].oracle) for n in names}
    stale = [n for n in names if cached.get(n, {}).get("key") != keys[n]]
    if stale:
        con = duck_connection(data_dir, threads)
        for n in stale:
            cached[n] = {"key": keys[n],
                         "digest": digest(con.sql(reg[n].oracle).df())}
        con.close()
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(cached, fh, indent=1, sort_keys=True)
        os.replace(tmp, path)
    return {n: cached[n]["digest"] for n in names}


def prepare_inputs(spark, data_dir: str, con) -> None:
    """One set-up repetition: open every input table on both engines
    (footers and schemas; no scan)."""
    from feray_spark.catalog import TABLES, load_table

    for t in TABLES:
        load_table(spark, data_dir, t).schema
        con.sql(f"DESCRIBE {t}").fetchall()


def run(ctx, names: list[str], data_dir: str) -> dict:
    """Set up, then run executions over ``names`` in seeded sweep
    order until ``ctx.seconds`` have passed and at least one sweep is
    whole; a sweep cut by the deadline adds its executions to the
    latency metrics, not to ``sweep_s``.

    A first, untimed sweep collects and checks every result, which
    also compiles every plan, and a second one lets the JIT settle;
    the timed executions then do a noop write, each followed by its
    DuckDB twin (the same-run control).
    """
    import pyarrow.parquet as pq

    from feray_spark.queries import load_all

    spark, tr = ctx.spark, ctx.tracer
    reg = load_all()
    expected = twin_digests(data_dir, names, ctx.threads)
    con = duck_connection(data_dir, ctx.threads)
    setup_s, setup = ctx.set_up(lambda _: prepare_inputs(spark, data_dir, con))

    attempted = failed = 0

    def execute(name: str, collect: bool):
        """One execution: (latency, build time, result frame or None),
        or None if it raised. The check is the caller's."""
        nonlocal attempted, failed
        q = reg[name]
        attempted += 1
        tr.op = attempted
        w0 = time.time()
        t0 = time.perf_counter()
        try:
            with tr.span(f"queries.{module_of(q)}.{name}"):
                with tr.span("queries.build"):
                    df = q.fn(spark, data_dir)
                t1 = time.perf_counter()
                with tr.span("spark.exec"):
                    if collect:
                        pdf = df.toPandas()
                    else:
                        pdf = None
                        df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        except Exception as e:  # a failing entry is a failed operation
            failed += 1
            ctx.log(f"FAILED {name}: {type(e).__name__}: {e}")
            return None
        if ctx.traced:
            t = time.perf_counter()
            eng[name].append(ctx.engine.collect(w0))
            tr.overhead_s += time.perf_counter() - t
        return t2 - t0, t1 - t0, pdf

    eng: dict[str, list[dict]] = {n: [] for n in names}
    t_warm = time.perf_counter()
    order = ctx.rng.permutation(names).tolist()
    ctx.inputs.update(repr(order).encode())
    # digests are computed on a helper thread while the next entry
    # runs in the JVM (untimed)
    with ThreadPoolExecutor(max_workers=1) as pool:
        digests = []
        for name in order:
            res = execute(name, collect=True)
            if res is not None:
                digests.append((name, pool.submit(digest, res[2])))
        for name, fut in digests:
            if fut.result() != expected[name]:
                failed += 1
                ctx.log(f"FAILED {name}: result differs from its DuckDB twin")
    # the first sweep after compiling every plan still runs ~40% slow
    # while the JIT catches up: one more untimed sweep
    for name in ctx.rng.permutation(names).tolist():
        execute(name, collect=False)
    eng = {n: [] for n in names}

    lat: dict[str, list[float]] = {n: [] for n in names}
    norm: dict[str, list[float]] = {n: [] for n in names}  # control
    build: dict[str, list[float]] = {n: [] for n in names}
    duck: dict[str, list[float]] = {n: [] for n in names}
    sweeps: list[float] = []
    norm_sweeps: list[float] = []
    tr.reset()
    t_start = time.perf_counter()
    ctx.log(f"warm-up {t_start - t_warm:.1f} s")
    deadline = t_start + ctx.seconds
    while not sweeps or time.perf_counter() < deadline:
        sweep = norm_sweep = 0.0
        order = ctx.rng.permutation(names).tolist()
        ctx.inputs.update(repr(order).encode())
        for name in order:
            if sweeps and time.perf_counter() >= deadline:
                break  # a partial sweep: its executions count, its sum not
            res = execute(name, collect=False)
            if res is None:
                continue
            lat[name].append(res[0])
            build[name].append(res[1])
            with tr.span("bench.calibrate"):
                norm[name].append(ctx.cal.scale(res[0]))
            sweep += res[0]
            norm_sweep += norm[name][-1]
            if name not in UNTIMED_TWINS:
                with tr.span("duckdb.twin"):
                    t3 = time.perf_counter()
                    con.sql(reg[name].oracle).arrow()
                    duck[name].append(time.perf_counter() - t3)
        else:
            sweeps.append(sweep)
            norm_sweeps.append(norm_sweep)
    wall = time.perf_counter() - t_start
    con.close()
    ctx.log(f"whole sweeps {[round(x, 2) for x in sweeps]} s, "
            f"box speed {ctx.cal.speed():.3f}")

    def per_sweep(samples: dict[str, list[float]], which=names) -> float:
        """A whole sweep's worth: the sum of per-entry medians."""
        return sum(statistics.median(samples[n]) for n in which if samples[n])

    all_lat = [x for xs in lat.values() for x in xs]
    out = {
        "setup_s": setup_s,
        "ok_ratio": 1.0 - failed / attempted,
        "sweep_s": statistics.median(sweeps),
        "query_gmean_s": statistics.geometric_mean(all_lat),
    }
    twinned = [n for n in names if n not in UNTIMED_TWINS]
    layer = {
        "queries.build_s": per_sweep(build),
        "spark.exec_s": per_sweep(lat) - per_sweep(build),
        "query_p50_s": statistics.median(all_lat),
        "query_p90_s": statistics.quantiles(all_lat, n=10)[-1],
        "norm.sweep_s": statistics.median(norm_sweeps),
        "norm.query_gmean_s": statistics.geometric_mean(
            x for xs in norm.values() for x in xs),
        "box.speed": ctx.cal.speed(),
        "duckdb.sweep_s": per_sweep(duck, twinned),
    }
    layer["duckdb_ratio"] = per_sweep(lat, twinned) / layer["duckdb.sweep_s"]
    for mod in QUERY_MODULES:
        layer[f"queries.{mod}.s"] = per_sweep(
            lat, [n for n in names if module_of(reg[n]) == mod])
    for n in names:
        layer[f"q.{n}.s"] = statistics.median(lat[n]) if lat[n] else 0.0
        if eng[n]:
            layer[f"q.{n}.stages"] = statistics.median(e["stages"] for e in eng[n])
    if lat["l26_curation_pipeline"]:
        docs = pq.ParquetFile(
            os.path.join(data_dir, "documents.parquet")).metadata.num_rows
        layer["curate_docs_per_s"] = docs / statistics.median(
            lat["l26_curation_pipeline"])
    if ctx.traced:
        runs = [e for es in eng.values() for e in es]
        layer.update(ctx.engine_layer(
            runs, sum(all_lat), len(all_lat) / len(names)))
    return {
        "metrics": out, "layer": layer, "attempted": attempted,
        "failed": failed, "wall_s": wall, "setup_reps": setup,
        "sweeps": sweeps, "executions": len(all_lat),
    }
