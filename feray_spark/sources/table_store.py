"""Versioned table store — SURVEY §2.1 S2/S3 (Delta read/write/upsert).

The reference's stack claims Delta Lake via delta-rs (reference
``README.md:15``) but resolves no deltalake package (SURVEY §0
caveat); the *capability contract* is: versioned table reads (time
travel), append/overwrite writes, MERGE upsert, and per-commit user
metadata (the memoization carrier, FS3).

This implementation is a minimal transaction log over parquet:

    <root>/<table>/
        _log/00000000.json     one JSON commit record per version
        seg-<version>-<uuid>/  immutable parquet segment directories

A commit record lists the segment directories that constitute that
version (append = previous segments + new one; overwrite = just the
new one), plus schema, mode, row count and caller ``user_metadata``.
Readers resolve a version to its segment list and issue ONE
``spark.read.parquet(*segments)`` — so scans stay fully vectorized,
partition-prunable and pushdown-capable; the log only chooses files
(exactly Delta's model).

When a real Delta runtime is on the classpath (``delta-spark``), a
production deployment would swap this for ``DeltaTable`` calls — the
API here is deliberately shaped so the swap is mechanical
(import-gated; the jars are not in this image).

Concurrency: optimistic, Delta-log style — the commit record is
published with an atomic put-if-absent (``os.link``), so of two
writers racing for the same version exactly one wins and the other
gets :class:`ConcurrentWriteError` to re-resolve and retry. This is
the same contract Delta's LogStore requires of its storage layer;
on object stores the link step maps to the store's
conditional-put. (No automatic retry loop — callers own the
re-resolve policy, like Delta's commit loop.)
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Sequence
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class ConcurrentWriteError(RuntimeError):
    """Another writer committed the same version first (optimistic
    concurrency conflict) — reload the latest version and retry."""


#: sentinel distinguishing "no pin requested" from "pin to a
#: nonexistent table" (expected_base=None) in :meth:`TableStore.write`
_NO_BASE = object()


@dataclass(frozen=True)
class Commit:
    version: int
    mode: str
    segments: list[str]
    schema: str
    row_count: int
    timestamp: float
    user_metadata: dict[str, Any]
    partition_by: list[str] = field(default_factory=list)
    #: per-segment column stats for log-level data skipping:
    #: {segment_path: {col: [min, max]}} (numeric/string only,
    #: footer-derived — absent for pre-stats commits)
    stats: dict[str, Any] = field(default_factory=dict)


def _hidden(name: str) -> bool:
    """Spark's file-index rule: ``_``/``.``-prefixed names (_SUCCESS,
    .crc checksums, _temporary) are not data; a ``_`` name carrying
    ``=`` is a partition directory and is kept."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _segment_footers(seg: str) -> tuple[int, int, dict[str, list]]:
    """(data files, rows, column stats) of one written segment or
    carried partition directory, from the parquet FOOTERS only — a
    driver-side metadata read, no data IO and no Spark job. Files and
    directories are skipped exactly as Spark's file index skips them
    (:func:`_hidden`), so the row total is what a ``count()`` of the
    directory returns.

    Zero files means a zero-row ``partitionBy`` write that emitted
    only _SUCCESS; committing that empty directory as a segment would
    break later partitioned reads (schema inference finds nothing), so
    writers drop it.

    Stats are column (min, max): the same numbers the scan's row-group
    pruning uses, hoisted into the commit log so whole segments prune
    before any file listing. Only JSON-safe primitive types
    (int/float/str/bool) participate; a column with a missing stat in
    any row group drops out."""
    import pyarrow.parquet as pq

    n_files = rows = 0
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    dead: set[str] = set()
    for root, dirs, files in os.walk(seg):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        for name in files:
            if _hidden(name):
                continue
            md = pq.ParquetFile(os.path.join(root, name)).metadata
            n_files += 1
            rows += md.num_rows
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    col = g.column(ci)
                    cname = col.path_in_schema
                    if "." in cname or cname in dead:
                        continue  # nested leaves don't prune
                    st = col.statistics
                    if (
                        st is None
                        or not st.has_min_max
                        or not isinstance(st.min, (int, float, str, bool))
                    ):
                        dead.add(cname)
                        continue
                    if cname not in mins or st.min < mins[cname]:
                        mins[cname] = st.min
                    if cname not in maxs or st.max > maxs[cname]:
                        maxs[cname] = st.max
    stats = {c: [mins[c], maxs[c]] for c in mins if c not in dead and c in maxs}
    return n_files, rows, stats


def _align_to_schema(df: DataFrame, fields) -> DataFrame:
    """Project ``df`` onto the given schema fields: present columns
    cast to the committed type (no-op when types already match;
    pins path-inferred partition values), absent columns surface as
    typed NULLs. Shared by every reader that must serve a commit's
    recorded schema over segments of mixed vintage (read, changes)."""
    return df.select(
        *[
            F.col(f.name).cast(f.dataType).alias(f.name)
            if f.name in df.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in fields
        ]
    )


class TableStore:
    def __init__(self, root: str):
        self.root = root.rstrip("/")
        os.makedirs(self.root, exist_ok=True)

    # ------------------------------------------------------------ log

    def _log_dir(self, table: str) -> str:
        return os.path.join(self.root, table, "_log")

    def _commits(self, table: str) -> list[Commit]:
        log_dir = self._log_dir(table)
        if not os.path.isdir(log_dir):
            return []
        commits = []
        for name in sorted(os.listdir(log_dir)):
            if not name.endswith(".json"):
                continue
            with open(os.path.join(log_dir, name)) as f:
                commits.append(Commit(**json.load(f)))
        return commits

    def latest_version(self, table: str) -> int | None:
        commits = self._commits(table)
        return commits[-1].version if commits else None

    def commit_info(self, table: str, version: int | None = None) -> Commit | None:
        commits = self._commits(table)
        if not commits:
            return None
        if version is None:
            return commits[-1]
        for c in commits:
            if c.version == version:
                return c
        raise KeyError(f"{table}: no version {version}")

    def history(self, table: str) -> list[Commit]:
        return self._commits(table)

    def history_tail(self, table: str, n: int) -> list[Commit]:
        """Newest-first tail of the commit log, parsing only the last
        ``n`` commit files — O(n) file reads per call instead of
        ``history()``'s O(total commits). Built for per-micro-batch
        callers (the fastlane replay guard) on long-lived tables."""
        log_dir = self._log_dir(table)
        if not os.path.isdir(log_dir):
            return []
        names = sorted(
            (x for x in os.listdir(log_dir) if x.endswith(".json")),
            reverse=True,
        )[:n]
        out = []
        for name in names:
            with open(os.path.join(log_dir, name)) as f:
                out.append(Commit(**json.load(f)))
        return out

    # ---------------------------------------------------------- write

    def write(
        self,
        df: DataFrame,
        table: str,
        mode: str = "append",
        user_metadata: dict[str, Any] | None = None,
        partition_by: Sequence[str] | None = None,
        merge_schema: bool = False,
        expected_base: Any = _NO_BASE,
    ) -> Commit:
        """Append or overwrite, creating version latest+1. The new
        segment's row count and column stats come from one walk over
        the written files' parquet footers — no Spark job beyond the
        write itself.

        ``expected_base`` — optimistic pin for read-modify-write
        callers (MERGE, replaceWhere's rewrite path): the snapshot
        version this write was derived from (``None`` = the table
        must not exist yet). If HEAD has moved past it, raise
        :class:`ConcurrentWriteError` instead of silently rebasing
        onto — and erasing — an interleaved commit; the CAS in
        ``_commit`` closes the residual window because the claimed
        version stays ``expected_base + 1``.

        ``partition_by`` — hive-style partition columns for the new
        segment (the Delta ``partitionBy`` analog): enables partition
        pruning on read and partition-scoped ``replace_where``.
        Appends must keep the table's existing partitioning.

        Schema enforcement + evolution (the Delta contract): an
        append whose columns differ from the table's schema is
        REJECTED unless ``merge_schema=True`` (Delta's
        ``mergeSchema`` option), in which case new columns are added
        to the table schema and earlier segments read them as NULL.
        Type changes on an existing column are never allowed — that
        is a rewrite, not an evolution."""
        if mode not in ("append", "overwrite"):
            raise ValueError(f"mode must be append|overwrite, got {mode!r}")
        prev = self.commit_info(table)
        if expected_base is not _NO_BASE:
            head = prev.version if prev is not None else None
            if head != expected_base:
                raise ConcurrentWriteError(
                    f"{table}: HEAD is {head}, but this write derives from "
                    f"snapshot {expected_base} — another writer committed "
                    "in between; reload and retry"
                )
        if partition_by is None and prev is not None:
            # unspecified -> keep the table's partitioning (pass []
            # explicitly to unpartition on overwrite)
            partition_by = prev.partition_by
        partition_by = list(partition_by or [])
        if prev is not None and mode == "append" and partition_by != prev.partition_by:
            raise ValueError(
                f"append partitioning {partition_by} != table's {prev.partition_by}"
            )
        schema_json = df.schema.json()
        if prev is not None and mode == "append":
            schema_json = self._evolved_schema(table, prev, df, merge_schema)
        version = 0 if prev is None else prev.version + 1
        seg = self._new_segment_path(table, version)
        writer = df.write.mode("errorifexists")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(seg)
        n_files, n_new, seg_stats = _segment_footers(seg)
        if n_files:
            new_segs = [seg]
        else:
            # zero-row partitioned write: no files — commit without the
            # segment instead of poisoning later reads
            shutil.rmtree(seg, ignore_errors=True)
            new_segs, seg = [], None
        segments = (
            new_segs if mode == "overwrite" or prev is None
            else [*prev.segments, *new_segs]
        )
        row_count = n_new if mode == "overwrite" or prev is None else prev.row_count + n_new
        stats = {} if mode == "overwrite" or prev is None else dict(prev.stats)
        if seg is not None:
            stats[seg] = seg_stats
        return self._commit(
            table,
            Commit(
                version=version,
                mode=mode,
                segments=segments,
                schema=schema_json,
                row_count=row_count,
                timestamp=time.time(),
                user_metadata=user_metadata or {},
                partition_by=partition_by,
                stats=stats,
            ),
            new_segment=seg,
        )

    @staticmethod
    def _evolved_schema(
        table: str, prev: Commit, df: DataFrame, merge_schema: bool
    ) -> str:
        """Table schema after appending ``df``: identical schemas pass
        through; new columns evolve (with ``merge_schema``) by
        appending their fields; anything else — a type change, or any
        difference without the flag — raises. Pure metadata, no IO."""
        from pyspark.sql import types as T

        old = T.StructType.fromJson(json.loads(prev.schema))
        # case-INSENSITIVE field resolution, like Spark's default
        # analyzer and like merge(): an append carrying 'ID' against a
        # table with 'id' is the SAME column (else evolution would
        # commit a duplicate-modulo-case schema Spark refuses to read)
        old_fields = {f.name.lower(): f for f in old.fields}
        new_fields = {f.name.lower(): f for f in df.schema.fields}
        changed = [
            old_fields[n].name
            for n, f in new_fields.items()
            if n in old_fields and old_fields[n].dataType != f.dataType
        ]
        if changed:
            raise ValueError(
                f"{table}: column type change on append for {changed} "
                "(schema evolution adds columns; it never retypes them)"
            )
        if set(new_fields) == set(old_fields):
            return prev.schema
        if not merge_schema:
            missing = sorted(old_fields[n].name for n in set(old_fields) - set(new_fields))
            extra = sorted(new_fields[n].name for n in set(new_fields) - set(old_fields))
            raise ValueError(
                f"{table}: append schema mismatch (missing {missing}, "
                f"new {extra}); pass merge_schema=True to evolve"
            )
        merged = list(old.fields) + [
            f for n, f in new_fields.items() if n not in old_fields
        ]
        return T.StructType(merged).json()

    @staticmethod
    def _conform_to_table(
        df: DataFrame, prev: Commit, table: str, op: str
    ) -> DataFrame:
        """Enforce the invariant-target-schema discipline shared by
        MERGE and replaceWhere: the incoming frame must carry exactly
        the table's columns (case-insensitive, like Spark's default
        resolution), and its types must reconcile by safe UP-CAST
        only (``DataFrame.to``) — otherwise the rewrite below would
        silently adopt a widened/retyped schema, or (on the
        metadata-only path) write a segment whose values NULL out
        under the committed schema's cast on read."""
        from pyspark.sql import types as T

        tgt_schema = T.StructType.fromJson(json.loads(prev.schema))
        tgt_names = {f.name.lower(): f.name for f in tgt_schema.fields}
        src_names = {c.lower(): c for c in df.columns}
        missing = sorted(tgt_names[n] for n in set(tgt_names) - set(src_names))
        extra = sorted(src_names[n] for n in set(src_names) - set(tgt_names))
        if missing or extra:
            raise ValueError(
                f"{table}: {op} source schema mismatch "
                f"(missing {missing}, extra {extra}); {op} never "
                "evolves the target schema"
            )
        try:
            return df.to(tgt_schema)
        except Exception as e:
            raise ValueError(
                f"{table}: {op} source types do not up-cast to the "
                f"target schema: {e}"
            ) from e

    def _new_segment_path(self, table: str, version: int) -> str:
        """Fresh segment directory path for a commit attempt (unique
        per attempt so racing writers never collide on data paths)."""
        return os.path.join(
            self.root, table, f"seg-{version:08d}-{uuid.uuid4().hex[:8]}"
        )

    def _missing_segments(self, commit: Commit) -> list[str]:
        """Base segment dirs referenced by ``commit`` that no longer
        exist on disk (vacuumed) — the restore/clone up-front guard."""
        return sorted(
            os.path.basename(base)
            for base in {self._seg_base(e)[1] for e in commit.segments}
            if not os.path.isdir(base)
        )

    def _commit(self, table: str, commit: Commit, new_segment: str | None = None) -> Commit:
        """Atomic put-if-absent of the commit record — the optimistic
        concurrency primitive of every lakehouse log (Delta's
        LogStore contract): ``os.link`` fails with EEXIST if another
        writer already claimed this version number, so a losing racer
        gets :class:`ConcurrentWriteError` (re-resolve latest and
        retry) instead of silently clobbering the winner's commit,
        which a plain rename would do. ``new_segment`` is the data
        this attempt wrote: a LOSING racer's segment is deleted
        before the error propagates, so un-committed data never
        lingers for ``read_stream``'s file glob to pick up (writer
        crashes can still orphan a segment — ``vacuum`` collects
        those after a grace period)."""
        log_dir = self._log_dir(table)
        os.makedirs(log_dir, exist_ok=True)
        tmp = os.path.join(log_dir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(commit.__dict__, f)
        dst = os.path.join(log_dir, f"{commit.version:08d}.json")
        try:
            os.link(tmp, dst)  # atomic: EEXIST iff someone committed first
        except FileExistsError as e:
            if new_segment is not None:
                shutil.rmtree(new_segment, ignore_errors=True)
            raise ConcurrentWriteError(
                f"{table}: version {commit.version} was committed by another "
                "writer; reload latest_version and retry"
            ) from e
        finally:
            os.unlink(tmp)
        return commit

    # ----------------------------------------------------------- read

    @staticmethod
    def _seg_base(entry: str | dict) -> tuple[str, str]:
        """A segment entry is either a plain path (base = itself) or
        ``{"path": subdir, "base": segment_root}`` — the latter is how
        partition-scoped replace_where carries over individual
        partition directories while keeping their partition-column
        values derivable from the path."""
        if isinstance(entry, dict):
            return entry["path"], entry["base"]
        return entry, entry

    def version_at(self, table: str, timestamp: float) -> int:
        """Time travel by wall clock (the Delta ``timestampAsOf``
        analog): the latest version committed at or before
        ``timestamp`` (unix seconds)."""
        commits = [c for c in self._commits(table) if c.timestamp <= timestamp]
        if not commits:
            raise KeyError(f"{table}: no version at or before {timestamp}")
        return commits[-1].version

    def read(
        self, spark: SparkSession, table: str, version: int | None = None
    ) -> DataFrame:
        """Read a table at a version (time travel) or latest.
        Unpartitioned tables read as ONE multi-path parquet scan —
        under the commit's recorded schema, so segments written
        before a schema evolution surface the added columns as NULL
        (no footer-merging pass; the log IS the schema authority,
        exactly Delta's model); partitioned tables read per-segment
        (each with its own ``basePath`` so partition columns
        materialize) and union by name — pushdown, column pruning
        and partition pruning all intact (a filter on a partition
        column prunes directories before any file IO)."""
        commit = self.commit_info(table, version)
        if commit is None:
            raise KeyError(f"unknown table {table!r}")
        return self._assemble(spark, commit, commit.segments)

    def _assemble(self, spark: SparkSession, commit: Commit, segments) -> DataFrame:
        """One DataFrame over a subset of a commit's segments, under
        the commit's recorded schema (shared by read / read_range)."""
        from pyspark.sql import types as T

        schema = T.StructType.fromJson(json.loads(commit.schema))
        if not segments:
            return spark.createDataFrame([], schema)
        pairs = [self._seg_base(s) for s in segments]
        if not commit.partition_by:
            return spark.read.schema(schema).parquet(*[p for p, _ in pairs])
        by_base: dict[str, list[str]] = {}
        for path, base in pairs:
            by_base.setdefault(base, []).append(path)
        # explicit committed schema, NOT hive inference + cast-back:
        # inference retypes all-numeric string partition values
        # ("01" -> int 1) and a post-hoc cast cannot recover the
        # original text — with the schema given, Spark parses the
        # directory value under the declared type, losslessly.
        # (Evolution never retypes columns, so old segments read fine:
        # absent columns surface as typed NULLs.)
        parts = [
            spark.read.schema(schema).option("basePath", base).parquet(*paths)
            for base, paths in by_base.items()
        ]
        names = [f.name for f in schema.fields]
        aligned = [_align_to_schema(p, schema.fields) for p in parts]
        out = aligned[0]
        for p in aligned[1:]:
            out = out.unionByName(p)
        return out.select(*names)

    def segments_in_range(
        self,
        table: str,
        col: str,
        lo=None,
        hi=None,
        version: int | None = None,
    ) -> tuple[list, list]:
        """Log-level data skipping: split a version's segments into
        (kept, pruned) under a ``[lo, hi]`` range on ``col``, using
        the per-segment footer stats recorded at write time. A
        segment with no stats for the column is conservatively KEPT.
        This is Delta's add-file-stats skipping at segment grain:
        for append-only ingest (segments arrive in time order) a
        recent-window query prunes the entire history WITHOUT
        listing a single data file."""
        commit = self.commit_info(table, version)
        if commit is None:
            raise KeyError(f"unknown table {table!r}")
        kept, pruned = [], []
        for entry in commit.segments:
            key = entry if isinstance(entry, str) else entry.get("path")
            rng = (commit.stats or {}).get(key, {}).get(col)
            if rng is None:
                kept.append(entry)
                continue
            smin, smax = rng
            try:
                out = (hi is not None and smin > hi) or (
                    lo is not None and smax < lo
                )
            except TypeError:
                # stats/bound types incomparable (e.g. string stats vs
                # numeric bound): pruning must never crash a read that
                # plain read()+filter would serve — keep conservatively
                out = False
            (pruned if out else kept).append(entry)
        return kept, pruned

    def read_range(
        self,
        spark: SparkSession,
        table: str,
        col: str,
        lo=None,
        hi=None,
        version: int | None = None,
    ) -> DataFrame:
        """Range read with log-level segment pruning: only segments
        whose footer stats intersect ``[lo, hi]`` are scanned (see
        :meth:`segments_in_range`), and the exact bound filter is
        still applied on top — pruning is a pure optimization, never
        a semantics change."""
        commit = self.commit_info(table, version)
        if commit is None:
            raise KeyError(f"unknown table {table!r}")
        kept, _ = self.segments_in_range(table, col, lo, hi, version=version)
        df = self._assemble(spark, commit, kept)
        if lo is not None:
            df = df.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(col) <= F.lit(hi))
        return df

    # ------------------------------------------------------ streaming

    def read_stream(
        self, spark: SparkSession, table: str, ignore_changes: bool = False
    ) -> DataFrame:
        """Unbounded read of an APPEND-ONLY table — the Delta
        streaming-source analog: downstream pipelines consume the
        table incrementally (each micro-batch sees only newly
        committed files, offsets checkpoint with the query) instead
        of re-scanning snapshots.

        Mechanics: a parquet file-stream over the table's segment
        glob. Segments are immutable and appends only ADD segment
        directories, so "new files" is exactly "newly appended rows"
        — the same invariant Delta's streaming source relies on.
        Un-committed data never reaches the glob in normal operation
        (a losing concurrent writer deletes its own segment, see
        ``_commit``); a writer CRASH can orphan one until
        ``vacuum``'s grace-period orphan sweep collects it — run
        vacuum before attaching a stream to a table with a crash
        history.
        Rewrite commits (overwrite/merge/replace_where/optimize)
        break it (their rewritten files would replay as inserts), so
        a history containing any rewrite after version 0 is REJECTED
        unless ``ignore_changes=True`` (Delta's ``ignoreChanges``
        contract: the caller accepts replayed rows — the rows of the
        CURRENT snapshot, possibly re-delivered). Because the stream
        globs on-disk segments, pre-rewrite segments retained for
        time travel would replay too — whole deleted snapshots, far
        beyond Delta's contract — so ``ignore_changes=True``
        additionally requires the on-disk state to hold ONLY the
        latest commit's segments: run ``vacuum(keep_versions=1)``
        first, or the stream is rejected (enforced, not advisory).
        The check guards commits made BEFORE the stream starts;
        commits made while it runs are on the append-only discipline
        of the writer, as with Delta.

        Partitioned tables are not streamable here (the file source
        would need per-segment basePaths); at 100 TB the streaming
        ingest table is the unpartitioned hot tail that a scheduled
        ``optimize``/backfill later compacts into the partitioned
        history table — exactly the two-tier layout the FS7 backfill
        path serves."""
        from pyspark.sql import types as T

        commit = self.commit_info(table)
        if commit is None:
            raise KeyError(f"unknown table {table!r}")
        if commit.partition_by:
            raise ValueError(
                f"{table} is hive-partitioned; stream the unpartitioned "
                "ingest tail instead (see read_stream docstring)"
            )
        table_prefix = os.path.realpath(os.path.join(self.root, table)) + os.sep
        foreign = sorted(
            os.path.basename(base)
            for base in {
                os.path.realpath(self._seg_base(e)[1]) for e in commit.segments
            }
            if not base.startswith(table_prefix)
        )
        if foreign:
            # a shallow clone's shared segments live under the SOURCE
            # table, outside this table's glob — the stream would
            # silently miss them. Detach (overwrite/optimize) first.
            raise ValueError(
                f"{table}: segments {foreign} are shared clone references "
                "outside the table directory; OPTIMIZE the clone to "
                "detach it before streaming"
            )
        rewrites = [
            c.version
            for c in self._commits(table)
            if c.version > 0 and c.mode != "append"
        ]
        if not ignore_changes:
            if rewrites:
                raise ValueError(
                    f"{table} has rewrite commits {rewrites}; a file "
                    "stream would replay their rewritten rows — pass "
                    "ignore_changes=True to accept that"
                )
        elif rewrites:
            # ignoreChanges accepts re-delivery of CURRENT rows, not a
            # replay of every retained historical snapshot: an on-disk
            # segment referenced only by an OLDER commit (a version
            # kept for time travel) would stream rows the rewrites
            # deleted. Enforce vacuum-first for those. Scoped to
            # commit-referenced segments on purpose: an UNREFERENCED
            # seg dir may be an in-flight writer that vacuum's grace
            # window rightly refuses to delete — rejecting on it would
            # send the operator in a circle (and its rows are the
            # same in-flight-appear risk every file stream has).
            live = set()
            for entry in commit.segments:
                _, base = self._seg_base(entry)
                live.add(os.path.realpath(base))
            stale = sorted(
                {
                    os.path.basename(base)
                    for c in self._commits(table)
                    if c.version < commit.version
                    for base in (
                        os.path.realpath(self._seg_base(e)[1])
                        for e in c.segments
                    )
                    if base not in live and os.path.isdir(base)
                }
            )
            if stale:
                raise ValueError(
                    f"{table}: segments {stale} belong to pre-rewrite "
                    "versions retained for time travel and would replay "
                    "deleted rows under ignore_changes; run "
                    "vacuum(keep_versions=1) first"
                )
        schema = T.StructType.fromJson(json.loads(commit.schema))
        return (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "*.parquet")
            .parquet(os.path.join(self.root, table, "seg-*"))
        )

    # -------------------------------------------------- change data feed

    def changes(
        self,
        spark: SparkSession,
        table: str,
        from_version: int,
        to_version: int | None = None,
        keys: Sequence[str] | None = None,
    ) -> DataFrame:
        """Row-level change feed over ``(from_version, to_version]`` —
        the Delta Change-Data-Feed analog (``table_changes`` /
        ``readChangeFeed``): the table's data columns plus
        ``_change_type`` (``insert`` | ``delete`` |
        ``update_preimage`` | ``update_postimage``) and
        ``_commit_version``. ``from_version`` is the exclusive base
        snapshot, matching Delta's "changes AFTER version" reading.

        Per-commit fast paths (the 100 TB shape):

        - ``append`` commits never diff: the change set IS the new
          segment — a metadata-resolved scan of just the appended
          files tagged ``insert``; the rest of the table is never
          read.
        - ``optimize`` commits rewrite layout, not contents: no
          change rows.
        - rewrite commits (``overwrite`` / ``merge`` /
          ``replace_where``) compute a snapshot diff v-1 → v: one
          ``exceptAll`` each way (hash-aggregate on the row — the
          honest cost of a rewrite). With ``keys``, rows changed on
          both sides of the same key classify as update pre/post
          images via two semi/anti joins on the (small) changed set;
          without keys they surface as delete+insert.

        Unlike Delta — which materializes ``_change_data`` files at
        WRITE time — the diff here is computed at read time: no write
        amplification on every commit, diff cost only on the (rare)
        rewrite commits you actually ask about. Net-change semantics:
        a rewrite that re-emits an identical row produces no change
        row for it."""
        commits = {c.version: c for c in self._commits(table)}
        if not commits:
            raise KeyError(f"unknown table {table!r}")
        last = max(commits)
        # clamp like Delta's endingVersion: asking past latest serves
        # what exists; an empty/inverted range is an empty feed
        to_version = last if to_version is None else min(to_version, last)
        if from_version not in commits:
            raise KeyError(f"{table}: no version {from_version}")
        from pyspark.sql import types as T

        # align every piece (old segments, evolved schemas) to the
        # requested end-version's schema
        schema_fields = T.StructType.fromJson(
            json.loads(commits[max(to_version, from_version)].schema)
        ).fields

        def aligned(df: DataFrame) -> DataFrame:
            return _align_to_schema(df, schema_fields)

        def tagged(df: DataFrame, change: str, version: int) -> DataFrame:
            return aligned(df).select(
                "*",
                F.lit(change).alias("_change_type"),
                F.lit(version).cast("bigint").alias("_commit_version"),
            )

        pieces: list[DataFrame] = []
        for v in range(from_version + 1, to_version + 1):
            c = commits.get(v)
            if c is None:
                continue
            if c.mode == "append":
                # the appended data = segments NEW in this commit, not
                # segments[-1]: a zero-row append commits no segment
                # (write()'s empty-segment guard), so [-1] would
                # replay the PREVIOUS commit's segment as inserts
                prev_c = commits.get(v - 1)
                # key on the resolved (path, base) pair: a segment
                # entry may be a dict (replace_where carry-over),
                # which is unhashable as-is
                prev_segs = (
                    {self._seg_base(s) for s in prev_c.segments}
                    if prev_c
                    else set()
                )
                new_segs = [
                    s for s in c.segments
                    if self._seg_base(s) not in prev_segs
                ]
                # read under the COMMIT's schema (not inference): hive
                # inference retypes all-numeric string partition
                # values ("01" -> int 1), which aligned()'s cast
                # cannot undo
                c_schema = T.StructType.fromJson(json.loads(c.schema))
                for seg in new_segs:
                    path, base = self._seg_base(seg)
                    new = (
                        spark.read.schema(c_schema)
                        .option("basePath", base)
                        .parquet(path)
                        if c.partition_by
                        else spark.read.schema(c_schema).parquet(path)
                    )
                    pieces.append(tagged(new, "insert", v))
                continue
            if c.mode == "optimize":
                continue
            prev_df = aligned(self.read(spark, table, version=v - 1))
            cur_df = aligned(self.read(spark, table, version=v))
            removed = prev_df.exceptAll(cur_df)
            added = cur_df.exceptAll(prev_df)
            if keys:
                klist = list(keys)
                rem_keys = removed.select(*klist).distinct()
                add_keys = added.select(*klist).distinct()
                pieces.append(
                    tagged(
                        removed.join(add_keys, klist, "left_semi"),
                        "update_preimage",
                        v,
                    )
                )
                pieces.append(
                    tagged(
                        removed.join(add_keys, klist, "left_anti"), "delete", v
                    )
                )
                pieces.append(
                    tagged(
                        added.join(rem_keys, klist, "left_semi"),
                        "update_postimage",
                        v,
                    )
                )
                pieces.append(
                    tagged(added.join(rem_keys, klist, "left_anti"), "insert", v)
                )
            else:
                pieces.append(tagged(removed, "delete", v))
                pieces.append(tagged(added, "insert", v))
        if not pieces:
            empty = self.read(spark, table, version=to_version).limit(0)
            return tagged(empty, "insert", to_version).limit(0)
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        return out

    # --------------------------------------------------------- vacuum

    def vacuum(
        self,
        table: str,
        keep_versions: int = 1,
        orphan_grace_sec: float = 86_400.0,
    ) -> list[str]:
        """Delete segment directories unreferenced by the newest
        ``keep_versions`` commits, and drop the older commit records
        (the Delta ``VACUUM`` analog — time travel is retained only
        for kept versions). Reference counting is prefix-aware: a
        carried ``{"path": subdir, "base": seg}`` entry keeps its
        whole base segment alive, since the subdir lives inside it.

        Also collects ORPHANED segments — data written by a writer
        that crashed before publishing its commit record (a losing
        racer cleans up after itself, a crash cannot). Orphans are
        only removed once older than ``orphan_grace_sec`` (Delta's
        retention-guard pattern), so an in-flight writer's
        not-yet-committed segment is never yanked from under it.
        Returns the deleted segment paths."""
        commits = self._commits(table)
        if not commits or keep_versions < 1:
            return []
        kept, dropped = commits[-keep_versions:], commits[:-keep_versions]
        live_roots = set()
        for c in kept:
            for entry in c.segments:
                _, base = self._seg_base(entry)
                live_roots.add(os.path.realpath(base))
        # deletion scope = THIS table's directory: a shallow clone's
        # commit references segments under the SOURCE table, and
        # vacuuming the clone must never reach across and delete
        # shared data the source (or sibling clones) still serves —
        # the same scoping Delta's VACUUM applies to shallow clones
        table_prefix = os.path.realpath(os.path.join(self.root, table)) + os.sep
        deleted = []
        for c in dropped:
            for entry in c.segments:
                _, base = self._seg_base(entry)
                base = os.path.realpath(base)
                if (
                    base.startswith(table_prefix)
                    and base not in live_roots
                    and os.path.isdir(base)
                ):
                    shutil.rmtree(base)
                    deleted.append(base)
                    live_roots.add(base)  # only delete once
            os.remove(os.path.join(self._log_dir(table), f"{c.version:08d}.json"))
        # orphan sweep: seg dirs no remaining commit references
        table_dir = os.path.join(self.root, table)
        now = time.time()
        for name in sorted(os.listdir(table_dir)):
            if not name.startswith("seg-"):
                continue
            p = os.path.realpath(os.path.join(table_dir, name))
            if p in live_roots or not os.path.isdir(p):
                continue
            # age = newest mtime ANYWHERE in the segment tree: a
            # hive-partitioned in-flight write only touches nested
            # partition subdirs, so the top-level dir's mtime goes
            # stale while the writer is still alive — gating on it
            # would rmtree an uncommitted segment mid-write
            if now - self._tree_mtime(p) >= orphan_grace_sec:
                shutil.rmtree(p)
                deleted.append(p)
        # log-side janitor: a writer that hard-crashed between writing
        # its .tmp-<hex> record and the os.link leaves the tmp file in
        # _log forever (_commits skips it, the seg sweep above never
        # looks there) — collect those under the same grace period
        log_dir = self._log_dir(table)
        for name in sorted(os.listdir(log_dir)):
            if not name.startswith(".tmp-"):
                continue
            p = os.path.join(log_dir, name)
            try:
                if now - os.path.getmtime(p) >= orphan_grace_sec:
                    os.remove(p)
                    deleted.append(p)
            except OSError:
                pass  # racing writer finished/cleaned it — fine
        return deleted

    @staticmethod
    def _tree_mtime(path: str) -> float:
        """Newest mtime across a directory tree (races with deletion
        tolerated — a vanished entry just doesn't contribute)."""
        newest = os.path.getmtime(path)
        for root, dirs, files in os.walk(path):
            for n in dirs + files:
                try:
                    newest = max(newest, os.path.getmtime(os.path.join(root, n)))
                except OSError:
                    pass
        return newest

    # -------------------------------------------------------- optimize

    def optimize(
        self,
        spark: SparkSession,
        table: str,
        *,
        zorder_by: Sequence[str] | None = None,
        n_files: int | None = None,
        target_rows_per_file: int = 4_000_000,
        n_buckets: int = 64,
        user_metadata: dict[str, Any] | None = None,
    ) -> Commit:
        """Rewrite the current version's data into a compacted,
        optionally Z-ORDERED layout (the Delta ``OPTIMIZE [ZORDER BY]``
        analog). Contents are unchanged — same rows, new files — and
        the previous version stays time-travelable.

        Why this matters at 100 TB: parquet readers prune row groups
        by footer min/max stats, but stats only prune if the layout
        CLUSTERS each filter column. A single-column sort gives tight
        stats on one column and random stats on every other;
        Z-ordering interleaves the bits of several columns' range
        ranks so every zorder column gets reasonably tight per-file
        ranges — multi-dimensional data skipping from one layout.

        Mechanics (all distributed, driver state bounded):
        - per column: ~``n_buckets`` range-bucket cutpoints via
          ``approxQuantile`` (driver holds ≤ n_buckets doubles per
          column — never data); rows bucket by a codegen'd
          filter-count over the sorted literal cutpoint array;
        - the Z-value interleaves bucket bits (bit b of column i →
          bit ``b·ncols + i``) with pure long bit-ops;
        - ``repartitionByRange`` on the Z-value + an intra-partition
          sort packs Z-adjacent rows into the same files, sized by
          ``target_rows_per_file`` (or an explicit ``n_files``).

        Zorder columns must be numeric/temporal (range-rankable);
        NULLs land in bucket 0. Without ``zorder_by`` this is pure
        compaction (small-file squash into ``n_files``). Partitioned
        tables keep their hive layout; clustering applies within
        partitions."""
        prev = self.commit_info(table)
        if prev is None:
            raise KeyError(f"unknown table {table!r}")
        df = self.read(spark, table)
        zorder_by = list(zorder_by or [])
        files = n_files or max(1, -(-prev.row_count // target_rows_per_file))
        if zorder_by:
            ncols = len(zorder_by)
            if ncols > 63:
                raise ValueError(
                    f"zorder_by has {ncols} columns; the 64-bit "
                    "interleave supports at most 63"
                )
            bits = max(1, (int(n_buckets) - 1).bit_length())
            # Java's shiftleft is mod-64: letting bits*ncols exceed 63
            # would silently alias high bucket bits onto low positions
            # (a wrong Z-value recorded as a clustered layout). Clamp
            # the per-column granularity instead — coarser buckets,
            # correct curve.
            bits = min(bits, 63 // ncols)
            rankable = (
                "tinyint", "smallint", "int", "bigint", "float", "double",
                "date", "timestamp", "timestamp_ntz",
            )
            dbls: dict[str, F.Column] = {}
            for c in zorder_by:
                dt = df.schema[c].dataType.simpleString()
                if not (dt in rankable or dt.startswith("decimal")):
                    # a silent all-NULL cast would bucket every row to 0
                    # and record a clustered layout that never happened
                    raise ValueError(
                        f"zorder column {c!r} has non-rankable type {dt}; "
                        "Z-order needs numeric/temporal columns"
                    )
                if dt == "date":
                    dbls[c] = F.col(c).cast("timestamp").cast("double")
                else:
                    dbls[c] = F.col(c).cast("double")
            # ONE multi-column quantile job (not a scan per column)
            probs = [i / n_buckets for i in range(1, n_buckets)]
            qdf = df.select(*[dbls[c].alias(f"__q_{c}") for c in zorder_by])
            all_cuts = qdf.approxQuantile(
                [f"__q_{c}" for c in zorder_by], probs, 0.01
            )
            bucketed = df
            for c, col_cuts in zip(zorder_by, all_cuts):
                cuts = sorted(set(col_cuts))
                arr = F.array(*[F.lit(float(x)) for x in cuts])
                dbl = dbls[c]
                # single-arg lambda: a defaulted second param would make
                # pyspark pass the array INDEX into it; the closure over
                # dbl is safe because F.filter builds the expression
                # eagerly inside this loop iteration
                bucketed = bucketed.withColumn(
                    f"__zb_{c}", F.size(F.filter(arr, lambda x: x <= dbl))  # noqa: B023
                )
            z = F.lit(0).cast("long")
            for b in range(bits):
                for i, c in enumerate(zorder_by):
                    bit = (
                        F.shiftright(F.col(f"__zb_{c}"), b)
                        .bitwiseAND(F.lit(1))
                        .cast("long")
                    )
                    z = z.bitwiseOR(F.shiftleft(bit, b * ncols + i))
            out = (
                bucketed.withColumn("__z", z)
                .repartitionByRange(files, F.col("__z"))
                .sortWithinPartitions("__z")
                .drop("__z", *[f"__zb_{c}" for c in zorder_by])
            )
        else:
            out = df.repartition(files)
        version = prev.version + 1
        seg = self._new_segment_path(table, version)
        writer = out.write.mode("errorifexists")
        if prev.partition_by:
            writer = writer.partitionBy(*prev.partition_by)
        writer.parquet(seg)
        n_files, rows, seg_stats = _segment_footers(seg)
        if not n_files:
            # empty table: a zero-row partitionBy write emits only
            # _SUCCESS; committing it would poison later partitioned
            # reads (same guard as write/replace_where). OPTIMIZE of
            # nothing is a no-op — the head stays where it was.
            shutil.rmtree(seg, ignore_errors=True)
            return prev
        return self._commit(
            table,
            Commit(
                version=version,
                mode="optimize",
                segments=[seg],
                schema=prev.schema,
                row_count=rows,
                timestamp=time.time(),
                user_metadata={
                    **(user_metadata or {}),
                    "optimize": {"zorder_by": zorder_by, "n_files": files},
                },
                partition_by=prev.partition_by,
                stats={seg: seg_stats},
            ),
            new_segment=seg,
        )

    # ------------------------------------------------- restore / clone

    def restore(
        self,
        table: str,
        version: int,
        user_metadata: dict[str, Any] | None = None,
    ) -> Commit:
        """Roll the table's HEAD back to an earlier version as a NEW
        commit (the Delta ``RESTORE TABLE … TO VERSION AS OF`` analog):
        version latest+1 re-references the target version's segment
        set verbatim. Zero data movement — segments are immutable and
        the log IS the table — and nothing is lost: the rolled-back
        versions stay time-travelable, the change feed reports the
        restore as the rewrite it is (snapshot diff back to the old
        rows), and a stream sees it as a rewrite commit (rejected
        without ``ignore_changes``, same as Delta).

        Like Delta, a restore whose target data files were already
        vacuumed fails up front rather than committing a HEAD that
        cannot be read."""
        target = self.commit_info(table, version)
        if target is None:
            raise KeyError(f"{table}: no version {version}")
        missing = self._missing_segments(target)
        if missing:
            raise ValueError(
                f"{table}: cannot restore to version {version}; segments "
                f"{missing} were vacuumed"
            )
        head = self.commit_info(table)
        return self._commit(
            table,
            Commit(
                version=head.version + 1,
                mode="restore",
                segments=list(target.segments),
                schema=target.schema,
                row_count=target.row_count,
                timestamp=time.time(),
                user_metadata={
                    **(user_metadata or {}),
                    "restored_from": version,
                },
                partition_by=target.partition_by,
                stats=dict(target.stats),
            ),
        )

    def clone(
        self,
        src_table: str,
        dst_table: str,
        version: int | None = None,
        user_metadata: dict[str, Any] | None = None,
    ) -> Commit:
        """Zero-copy SHALLOW CLONE (the Delta ``CREATE TABLE … SHALLOW
        CLONE`` analog): ``dst_table`` is born at version 0 referencing
        the source snapshot's segment directories — no data is copied,
        so cloning a 100 TB table is one metadata write. The clone
        then lives its own life: appends add clone-local segments next
        to the shared references, an overwrite/OPTIMIZE fully detaches
        it, and its own ``vacuum`` only ever sweeps clone-local
        directories (shared segments live under the source and are out
        of its scope by construction).

        Delta-identical caveat: the clone shares data files with the
        source, so a ``vacuum`` ON THE SOURCE that collects segments
        the clone still references breaks the clone. Detach first
        (overwrite or OPTIMIZE the clone) if the source's retention
        will outpace the clone's lifetime."""
        if self.commit_info(dst_table) is not None:
            raise ValueError(f"clone target {dst_table!r} already exists")
        src = self.commit_info(src_table, version)
        if src is None:
            raise KeyError(f"unknown table {src_table!r}")
        missing = self._missing_segments(src)
        if missing:
            # same up-front refusal as restore: never commit a HEAD
            # (here: a newborn table) that cannot be read
            raise ValueError(
                f"{src_table}: cannot clone version {src.version}; segments "
                f"{missing} were vacuumed"
            )
        return self._commit(
            dst_table,
            Commit(
                version=0,
                mode="clone",
                segments=list(src.segments),
                schema=src.schema,
                row_count=src.row_count,
                timestamp=time.time(),
                user_metadata={
                    **(user_metadata or {}),
                    "cloned_from": src_table,
                    "source_version": src.version,
                },
                partition_by=src.partition_by,
                stats=dict(src.stats),
            ),
        )

    # ---------------------------------------------------------- merge

    def merge(
        self,
        spark: SparkSession,
        table: str,
        source: DataFrame,
        keys: Sequence[str],
        user_metadata: dict[str, Any] | None = None,
    ) -> Commit:
        """Upsert (Delta MERGE whenMatchedUpdateAll /
        whenNotMatchedInsertAll): target rows with a key present in
        ``source`` are replaced; new keys are inserted.

        Implemented as target-anti-join + union + overwrite. On a real
        Delta deployment MERGE rewrites only the files containing
        matched keys; here the table is rewritten — acceptable for
        registry/feature tables, and the documented scale limitation
        of the jar-less store.
        """
        keys = list(keys)
        prev = self.commit_info(table)
        if prev is not None:
            # Delta MERGE semantics: the TARGET schema is invariant —
            # shared discipline with replaceWhere (_conform_to_table)
            source = self._conform_to_table(source, prev, table, "MERGE")
        # Delta MERGE errors when several source rows hit one target
        # row; this store's anti-join+union would instead silently
        # keep BOTH source rows for the key. Reject duplicate source
        # keys outright (deterministic and slightly stricter — the
        # DeltaTableStore twin raises at runtime for the matched
        # subset): callers own the latest-wins pre-dedup, exactly as
        # materialize_stream and serve_upsert already do.
        # the probe count is aliased: .count() would emit a column
        # literally named "count", ambiguous when a merge KEY is
        # named "count"
        dup = (
            source.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("__merge_dup_n"))
            .filter(F.col("__merge_dup_n") > 1)
            .take(1)
        )
        if dup:
            key_vals = {k: dup[0][k] for k in keys}
            raise ValueError(
                f"{table}: MERGE source has multiple rows per key "
                f"(e.g. {key_vals}); deduplicate to one row per key first"
            )
        # PIN the snapshot this rewrite derives from: read at prev's
        # version and hand write() the same base, so an append that
        # lands between this read and the commit raises
        # ConcurrentWriteError (lost-update guard) instead of being
        # silently erased by a rebased overwrite.
        target = self.read(
            spark, table, version=prev.version if prev is not None else None
        )
        kept = target.join(source.select(*keys).distinct(), keys, "left_anti")
        merged = kept.unionByName(source)
        return self.write(
            merged,
            table,
            mode="overwrite",
            user_metadata=user_metadata,
            partition_by=prev.partition_by if prev else None,
            expected_base=prev.version if prev is not None else None,
        )

    # ---------------------------------------------------- replaceWhere

    def _live_partition_dirs(self, commit: Commit) -> list[tuple[str, str, dict[str, str]]]:
        """(dir, segment_base, {col: raw_value}) for every leaf
        partition directory of the commit's segments. Driver-side
        directory listing only — no data IO."""
        from urllib.parse import unquote

        out = []
        for entry in commit.segments:
            path, base = self._seg_base(entry)
            # a carried entry already points BELOW its base (at a
            # partition subdir): seed the walk with the values its
            # relative path encodes, and only descend the remaining
            # levels
            seed_vals: dict[str, str] = {}
            rel = os.path.relpath(path, base)
            if rel != ".":
                for comp in rel.split(os.sep):
                    col, _, raw = comp.partition("=")
                    seed_vals[col] = unquote(raw)
            stack = [(path, seed_vals)]
            while stack:
                d, vals = stack.pop()
                if len(vals) == len(commit.partition_by):
                    out.append((d, base, vals))
                    continue
                col = commit.partition_by[len(vals)]
                for name in sorted(os.listdir(d)):
                    sub = os.path.join(d, name)
                    if os.path.isdir(sub) and name.startswith(f"{col}="):
                        raw = unquote(name[len(col) + 1 :])
                        stack.append((sub, {**vals, col: raw}))
        return out

    def _matched_partitions(
        self, spark: SparkSession, commit: Commit, predicate: str
    ) -> tuple[list[tuple[str, str]], list[tuple[str, str]]] | None:
        """Split live partition dirs into (matched, carried) under
        ``predicate``, or None when the predicate references
        non-partition columns (caller falls back to a full rewrite).
        The predicate is evaluated by Spark itself on a tiny local
        DataFrame of distinct partition values — exactly the engine's
        own comparison/cast semantics, never a reimplementation."""
        from pyspark.sql import types as T

        dirs = self._live_partition_dirs(commit)
        if not dirs:
            return [], []
        schema = T.StructType.fromJson(json.loads(commit.schema))
        fields = {f.name: f.dataType for f in schema.fields}
        rows = [vals for _, _, vals in dirs]
        pdf = spark.createDataFrame(
            [tuple(r[c] for c in commit.partition_by) for r in rows],
            T.StructType(
                [T.StructField(c, T.StringType()) for c in commit.partition_by]
            ),
        )
        for c in commit.partition_by:
            pdf = pdf.withColumn(
                c,
                F.when(F.col(c) == "__HIVE_DEFAULT_PARTITION__", None)
                .otherwise(F.col(c))
                .cast(fields[c]),
            )
        try:
            flags = [
                bool(r["__m"])
                for r in pdf.select(
                    F.expr(f"({predicate})").alias("__m")
                ).collect()
            ]
        except Exception:
            return None  # predicate needs non-partition columns
        matched = [(d, b) for (d, b, _), m in zip(dirs, flags) if m]
        carried = [(d, b) for (d, b, _), m in zip(dirs, flags) if not m]
        return matched, carried

    def replace_where(
        self,
        spark: SparkSession,
        table: str,
        replacement: DataFrame,
        predicate: str,
        user_metadata: dict[str, Any] | None = None,
    ) -> Commit:
        """Partition-scoped overwrite (Delta ``replaceWhere``) — the
        FS7 backfill primitive: rows matching ``predicate`` are
        replaced by ``replacement`` (which must itself satisfy the
        predicate); everything else is carried over unchanged.

        When the table is hive-partitioned and the predicate touches
        only partition columns, this is METADATA-ONLY for the
        untouched data: unmatched partition directories are carried
        into the new commit by reference (no read, no rewrite), and
        only the replacement rows are written — the 100 TB backfill
        shape (rewrite one day, carry a decade). Otherwise it falls
        back to read-filter-rewrite, the documented limitation of the
        jar-less store."""
        # "violates" = predicate is not TRUE — same three-valued-logic
        # rule as the kept side below. NOT(predicate) alone would wave
        # NULL-evaluating rows through validation and then duplicate
        # them (written into the new segment AND carried with the
        # unmatched NULL partition).
        violates = F.coalesce(F.expr(predicate), F.lit(False)) == F.lit(False)
        prev = self.commit_info(table)
        if prev is not None:
            # target schema is invariant, BOTH paths (without this the
            # metadata path would commit a mistyped segment that NULLs
            # out under the committed schema's cast on read, and the
            # fallback union would silently widen the table's types)
            replacement = self._conform_to_table(
                replacement, prev, table, "replaceWhere"
            )
        if prev is not None and prev.partition_by:
            split = self._matched_partitions(spark, prev, predicate)
            if split is not None:
                _, carried = split
                version = prev.version + 1
                seg = self._new_segment_path(table, version)
                (
                    replacement.write.mode("errorifexists")
                    .partitionBy(*prev.partition_by)
                    .parquet(seg)
                )
                n_files, n_new, seg_stats = _segment_footers(seg)
                if n_files:
                    # validate from the WRITTEN segment (partition-
                    # pruned footer-cheap scan) instead of executing
                    # the replacement plan a second time up front —
                    # but under the COMMITTED schema, not hive
                    # inference: inference retypes all-numeric string
                    # partition values ("01" -> int 1), which would
                    # evaluate the predicate differently than the
                    # original frame and spuriously reject a valid
                    # replacement.
                    from pyspark.sql import types as T

                    committed = T.StructType.fromJson(json.loads(prev.schema))
                    bad = (
                        spark.read.schema(committed)
                        .option("basePath", seg)
                        .parquet(seg)
                        .filter(violates)
                        .count()
                    )
                    if bad:
                        shutil.rmtree(seg, ignore_errors=True)
                        raise ValueError(
                            "replacement violates replaceWhere predicate "
                            f"for {bad} rows"
                        )
                else:
                    # empty replacement = delete-the-matched-partitions:
                    # commit only the carried dirs (an empty segment
                    # would break schema inference on later reads)
                    shutil.rmtree(seg, ignore_errors=True)
                    seg = None
                # parquet footer counts only — no data IO, no job
                n_carried = sum(_segment_footers(d)[1] for d, _ in carried)
                segments: list[Any] = [
                    {"path": d, "base": b} for d, b in carried
                ] + ([seg] if seg is not None else [])
                commit = Commit(
                    version=version,
                    mode="replace_where",
                    segments=segments,
                    schema=prev.schema,
                    row_count=n_new + n_carried,
                    timestamp=time.time(),
                    user_metadata={
                        **(user_metadata or {}),
                        "replace_where": predicate,
                    },
                    partition_by=prev.partition_by,
                    # carried partition dirs have no stats entry and are
                    # conservatively kept by segments_in_range
                    stats={seg: seg_stats} if seg is not None else {},
                )
                return self._commit(table, commit, new_segment=seg)
        # fallback validation: one plan execution total — pin the
        # replacement with localCheckpoint so the probe AND the
        # rewrite below both read the materialized rows (the same
        # double-execution dodge fastlane's merge path uses)
        replacement = replacement.localCheckpoint()
        bad = replacement.filter(violates).count()
        if bad:
            raise ValueError(
                f"replacement violates replaceWhere predicate for {bad} rows"
            )
        # pinned read + expected_base: same lost-update guard as merge
        target = self.read(
            spark, table, version=prev.version if prev is not None else None
        )
        # Delta's replaceWhere keeps every row where the predicate is not
        # TRUE — including NULL-evaluating rows (three-valued logic).
        # NOT(predicate) alone would drop NULL rows here while the
        # metadata-only partition path above carries them, so coalesce to
        # FALSE to keep the two paths (and Delta) in agreement.
        kept = target.filter(violates)
        merged = kept.unionByName(replacement)
        return self.write(
            merged,
            table,
            mode="overwrite",
            user_metadata=user_metadata,
            partition_by=prev.partition_by if prev else None,
            expected_base=prev.version if prev is not None else None,
        )
