"""Box-speed control: a fixed DuckDB query, timed between operations.

The shared 4-core machine the reference figures come from runs in
phases: the same work takes 0.23 s in one ten-second window and
0.37 s in the next. Timing a fixed multi-threaded native
chunk after every operation and scaling the operation's time by
``REF_S / chunk time`` gives the ``norm.*`` per-layer controls and
``box.speed``, which tell a slow phase from a slow program. They are
not end-to-end figures: the chunk runs right after each operation, so
work the program leaves running past its return (JVM GC, Spark's
cleaner and listener threads, Python workers) slows the chunk as well
and would read as a speed-up. The program never runs inside the
chunk.
"""

from __future__ import annotations

import statistics
import time

#: the chunk: ~45 ms with 4 DuckDB threads on that machine
QUERY = "SELECT sum(hash(range)) FROM range(2000000)"
#: chunk time that defines reference speed (that machine's median when the
#: benchmark was written); a constant, so normalized values stay
#: comparable across runs and commits
REF_S = 0.045


class Calibrator:
    """``scale(seconds)`` normalizes a duration by the mean of the
    chunks timed just before and just after it."""

    def __init__(self, threads: int) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.con.sql(f"SET threads={threads}")
        self.chunk()  # first query pays DuckDB's one-time start-up
        self.last = self.chunk()
        self.samples = [self.last]

    def chunk(self) -> float:
        t0 = time.perf_counter()
        self.con.sql(QUERY).fetchall()
        return time.perf_counter() - t0

    def scale(self, seconds: float) -> float:
        before, self.last = self.last, self.chunk()
        self.samples.append(self.last)
        return seconds * REF_S / ((before + self.last) / 2)

    def speed(self) -> float:
        """Median box speed over the run, relative to reference."""
        return REF_S / statistics.median(self.samples)

    def close(self) -> None:
        self.con.close()
