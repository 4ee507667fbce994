#!/usr/bin/env python
"""Regenerate BASELINE.md's measured per-query DuckDB table from
BENCH_FULL.json (the committed full-sweep evidence), so the baseline
doc can never lag the numbers the 2x gate is actually argued against
(VERDICT r5 item 5: 106 hand-kept rows vs 149 live queries).

Everything above the `---` separator (protocol + provenance) is kept
verbatim; the measured section below it is rewritten from the JSON.

Usage: python scripts/refresh_baseline_table.py [--bench BENCH_FULL.json]
"""

from __future__ import annotations

import argparse
import datetime
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEPARATOR = "\n---\n"


def render(bench: dict, *, measured_on: str) -> str:
    duck = bench["duck"]
    total = sum(duck.values())
    rows = "\n".join(
        f"| {name} | {sec:.4f} |" for name, sec in sorted(duck.items())
    )
    n = len(duck)
    runs = bench.get("runs_per_query", "?")
    sf = bench.get("sf", "?")
    # provenance comes FROM THE SWEEP (bench.py records it at
    # measurement time) — never from this script's environment, which
    # may be a different box/duckdb than the one that produced the
    # numbers the 2x gate is argued against
    swept_at = bench.get("swept_at", "unrecorded (pre-r6 sweep)")
    duck_ver = bench.get("duckdb_version", "unrecorded")
    slots = bench.get("defaultParallelism", "unrecorded")
    return f"""
## Measured DuckDB baseline (sf{sf}, the sweep box)

Table regenerated {measured_on} by
`scripts/refresh_baseline_table.py` from the committed full-sweep
evidence in `BENCH_FULL.json` (produced by `python bench.py`).
Sweep provenance as recorded by the sweep itself: swept {swept_at},
Spark on {slots} slots, DuckDB {duck_ver} default config, parquet inputs at
`/root/testdata/sf{sf}`, page-cache warm, median of {runs} runs per
query — the same run that produced the Spark-side numbers, so both
sides share one box phase (docs/BENCH_NOTES.md documents the
measured same-day sweep variance).

Interpreting the comparison: DuckDB executes these sub-second
queries with ~zero fixed cost, while Spark pays a scheduling +
codegen floor of roughly 0.3-0.7 s per query at ANY scale factor —
at sf{sf} most of the Spark total is that fixed floor, not data-path
work. The per-query table below is the denominator for the <=2x
gate; `BENCH_FULL.json`'s `over_2x_non_floor` lists the queries
argued individually above the floor, and `BENCH_SKIP` in bench.py
documents the excluded write-dominated / decode-vs-closed-form
entries.

DuckDB total: **{total:.4f} s** over {n} comparable oracle queries.

| query | duckdb sec |
|---|---|
{rows}
"""


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--bench", default=os.path.join(REPO, "BENCH_FULL.json"))
    ap.add_argument("--out", default=os.path.join(REPO, "BASELINE.md"))
    args = ap.parse_args()

    with open(args.bench) as f:
        bench = json.load(f)
    with open(args.out) as f:
        doc = f.read()
    head = doc.split(SEPARATOR, 1)[0]
    stamp = datetime.date.today().isoformat()
    with open(args.out, "w") as f:
        f.write(head + SEPARATOR + render(bench, measured_on=stamp))
    print(
        f"wrote {args.out}: {len(bench['duck'])} rows, "
        f"duck_total={sum(bench['duck'].values()):.3f}s"
    )


if __name__ == "__main__":
    main()
