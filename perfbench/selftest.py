"""Self-test of the benchmark on tiny inputs (sf0.001, one catalog
sweep, three feature-store cycles). For every workload in
``BENCHMARK.json`` it checks that:

- every end-to-end metric (``--trace 0``) and every per-layer metric
  (``--trace 1``) is emitted, with the unit ``BENCHMARK.json`` gives;
- a new seed changes the generated inputs but not the metric set;
- every recorded span has a self time >= 0.

    python3 perfbench/selftest.py [workload ...]

Takes a few minutes (three short Spark runs per workload). Exits 1 on
any problem.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(workload: str, seed: int, trace: int) -> tuple[dict, str]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
        "--smoke",
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=900)
    if p.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}:\n"
                           + p.stderr[-3000:])
    lines = p.stdout.strip().splitlines()
    inputs = next(json.loads(x)["inputs"] for x in lines
                  if x.startswith('{"inputs"'))
    return json.loads(lines[-1]), inputs


def check_metrics(res: dict, spec: dict[str, str], what: str) -> list[str]:
    problems = []
    got = {k: v.get("unit") for k, v in res["metrics"].items()}
    for name, unit in spec.items():
        if name not in got:
            problems.append(f"{what}: metric {name} missing")
        elif got[name] != unit:
            problems.append(f"{what}: {name} has unit {got[name]}, want {unit}")
    for name in got.keys() - spec.keys():
        problems.append(f"{what}: metric {name} is not in BENCHMARK.json")
    for name, m in res["metrics"].items():
        if not isinstance(m.get("value"), (int, float)) or not math.isfinite(
                m["value"]):
            problems.append(f"{what}: {name} value {m.get('value')!r}")
    if not (isinstance(res["attempted"], int) and res["attempted"] >= 1):
        problems.append(f"{what}: attempted {res['attempted']!r}")
    return problems


def check_spans(path: str, what: str) -> list[str]:
    problems = []
    with open(path) as fh:
        spans = [json.loads(line) for line in fh]
    if not spans:
        problems.append(f"{what}: no spans recorded")
    for s in spans:
        if s["end"] < s["start"] or s["self"] < 0:
            problems.append(f"{what}: span {s['name']} #{s['id']} has "
                            f"duration {s['end'] - s['start']}, self {s['self']}")
    return problems


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    workloads = argv or [w["name"] for w in spec["workloads"]]
    problems: list[str] = []
    for w in workloads:
        r1, in1 = bench(w, 1, 0)
        r2, in2 = bench(w, 2, 0)
        rt, _ = bench(w, 1, 1)
        problems += check_metrics(r1, e2e, f"{w} seed 1")
        problems += check_metrics(r2, e2e, f"{w} seed 2")
        problems += check_metrics(rt, layer, f"{w} traced")
        if in1 == in2:
            problems.append(f"{w}: seeds 1 and 2 produced the same inputs")
        if r1["metrics"].keys() != r2["metrics"].keys():
            problems.append(f"{w}: the metric set changed with the seed")
        problems += check_spans(os.path.join(
            ROOT, ".bench_build", "perfbench", "traces",
            f"{w}-seed1-smoke.jsonl"), f"{w} spans")
        print(f"{w}: checked ({r1['failed']}/{r1['attempted']} failed "
              f"operations)", flush=True)
    for p in problems:
        print("PROBLEM", p)
    print("selftest", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
