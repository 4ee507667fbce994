"""FeatureStore / FeatureView — the engine's analog of the reference's
Dagster asset graph (``examples/.../definitions.py:17-50``), with FS3
memoization replacing ``AutomationCondition.eager() | on_missing()``
(``definitions.py:25-27``).

A FeatureView is a named function ``(spark, {input_name: DataFrame})
-> DataFrame`` over upstream tables or other views (SURVEY §1.1
"Feature (asset)"). ``materialize()`` walks the dependency DAG in
topological order; each view is recomputed only when its fingerprint
— sha256 over (function source ‖ sorted upstream versions ‖ semantic
config) — differs from the one stored in the latest commit's user
metadata (FS3). A hit serves the stored table without launching a
job; stale-hit safety is exactly the fingerprint's completeness
(SURVEY §7.6 item 3), so *every* semantics-bearing input is folded
in.

Materialized tables carry ``_data_version``/``_code_version`` columns
(FS1/FS2) and land in the versioned :class:`TableStore` with commit
metadata {fingerprint, code_version, row_count} — the same contract
the reference reports through Dagster Pipes
(``ray_external.py:10-16``: materialization metadata + data_version).

Asset checks (FS5, ``definitions.py:32``) attach per-view as callables
``DataFrame -> Column`` (a boolean aggregate); failures are recorded
in the commit metadata and optionally raise.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from feray_spark.catalog import file_signature, read_parquet
from feray_spark.features.versioning import (
    CODE_VERSION_COL,
    code_version,
    with_data_version,
)
from feray_spark.operators.topk import latest_per_key
from feray_spark.session import SEMANTIC_CONF


def _verdict(v) -> bool:
    """Check verdict coercion with Delta CHECK-constraint semantics:
    an aggregate evaluating to NULL (e.g. min() over a legitimately
    empty materialization) is vacuously TRUE — bool(None) would fail
    empty slices forever."""
    return True if v is None else bool(v)
from feray_spark.sources.table_store import TableStore


@dataclass
class FeatureView:
    name: str
    fn: Callable[[SparkSession, dict[str, DataFrame]], DataFrame]
    inputs: Sequence[str] = ()  # upstream view names or source paths
    entities: Sequence[str] = ()  # entity/join key columns
    version_cols: Sequence[str] | None = None  # FS1 hash columns
    checks: dict[str, Callable[[DataFrame], Column]] = field(default_factory=dict)
    partition_by: Sequence[str] = ()  # hive partitioning of the stored table


class CheckFailure(RuntimeError):
    pass


class FeatureStore:
    """Registry + materializer. ``sources`` maps external input names
    to parquet paths (e.g. the fixture tables); views reference either
    sources or other views by name."""

    def __init__(self, spark: SparkSession, root: str, sources: dict[str, str] | None = None):
        self.spark = spark
        self.store = TableStore(root)
        self.sources = dict(sources or {})
        self.views: dict[str, FeatureView] = {}

    # ------------------------------------------------------- registry

    def register(self, view: FeatureView) -> FeatureView:
        if view.name in self.views or view.name in self.sources:
            raise ValueError(f"duplicate name {view.name!r}")
        self.views[view.name] = view
        return view

    def feature_view(
        self,
        name: str | None = None,
        inputs: Sequence[str] = (),
        entities: Sequence[str] = (),
        version_cols: Sequence[str] | None = None,
        checks: dict[str, Callable[[DataFrame], Column]] | None = None,
        partition_by: Sequence[str] = (),
    ):
        """Decorator form: the engine's analog of ``@dg.asset``
        (reference ``ray_integration.py:5-9``). ``partition_by``
        declares the stored table's hive partitioning AND enables
        per-partition materialization (``materialize_partition``) —
        the Dagster partitioned-asset surface."""

        def deco(fn):
            view = FeatureView(
                name=name or fn.__name__,
                fn=fn,
                inputs=inputs,
                entities=entities,
                version_cols=version_cols,
                checks=checks or {},
                partition_by=tuple(partition_by),
            )
            self.register(view)
            return view

        return deco

    # ------------------------------------------------------ resolve

    def _load_input(self, name: str) -> DataFrame:
        """Resolution order (identical in ``_stream_input``): views →
        declared sources → raw store tables (ingestion tails written
        directly into the same store). A declared source always wins
        over a raw store table of the same name, so batch and
        streaming can never silently read different inputs."""
        if name in self.views:
            return self.store.read(self.spark, name)
        if name in self.sources:
            return read_parquet(self.spark, self.sources[name])
        if self.store.latest_version(name) is not None:
            return self.store.read(self.spark, name)
        raise KeyError(f"unknown input {name!r}")

    def _input_version(self, name: str) -> str:
        """Version token for one upstream: a view's commit fingerprint,
        or for an external parquet source a digest of its file
        (path, size, mtime) triples — change detection without a scan."""
        if name in self.views:
            commit = self.store.commit_info(name)
            if commit is None:
                raise RuntimeError(f"upstream view {name!r} not materialized")
            return f"view:{commit.user_metadata.get('fingerprint', commit.version)}"
        if name not in self.sources:
            commit = self.store.commit_info(name)
            if commit is None:
                raise KeyError(f"unknown input {name!r}")
            return f"table:{commit.version}"
        sig = file_signature(self.sources[name])
        digest = hashlib.sha256(json.dumps(sig).encode()).hexdigest()
        return f"src:{digest}"

    def _stamp_versions(self, df: DataFrame, view: FeatureView) -> DataFrame:
        """FS1+FS2 stamping shared by every write path: the row-level
        data-version columns and the view fn's code version."""
        df = with_data_version(df, view.version_cols)
        return df.withColumn(
            CODE_VERSION_COL, F.lit(code_version(view.fn))
        )

    def _semantic_conf_live(self) -> dict[str, str]:
        """The LIVE session's values for the semantic conf keys, not
        the module constant: a session-level override (extra_conf
        timezone flip) changes results and must bust the cache.
        Shared by fingerprint() and materialize_partition so the two
        cache keys cannot drift."""
        return {
            k: str(self.spark.conf.get(k, str(v)))
            for k, v in SEMANTIC_CONF.items()
        }

    def fingerprint(self, view: FeatureView) -> str:
        """FS3 cache key: code ‖ exact upstream versions ‖ the
        semantic config (a config flip that changes results must bust
        the cache — SURVEY §7.6 item 3)."""
        parts = {
            "code": code_version(view.fn),
            "inputs": {i: self._input_version(i) for i in view.inputs},
            "conf": self._semantic_conf_live(),
            "version_cols": list(view.version_cols or []),
            # the check SET is part of the cache key: a newly added
            # (or edited) asset check must bust the memo, or it would
            # never run against data cached under the old gate — the
            # hit condition only verifies recorded verdicts PASS, not
            # that they COVER today's checks
            "checks": {n: code_version(c) for n, c in sorted(view.checks.items())},
        }
        return hashlib.sha256(json.dumps(parts, sort_keys=True).encode()).hexdigest()

    # --------------------------------------------------- materialize

    def materialize(
        self,
        name: str,
        force: bool = False,
        raise_on_check_failure: bool = True,
        _visiting: frozenset[str] = frozenset(),
    ) -> tuple[DataFrame, bool]:
        """Materialize a view (and, recursively, its upstream views).
        Returns ``(table, recomputed)`` — ``recomputed=False`` is an
        FS3 memoization hit served straight from the table store."""
        if name in _visiting:
            # same contract as _topo_order: a clear error, not a
            # RecursionError after a thousand frames
            raise ValueError(f"feature view cycle at {name!r}")
        view = self.views[name]
        for upstream in view.inputs:
            if upstream in self.views:
                self.materialize(
                    upstream,
                    force=force,
                    raise_on_check_failure=raise_on_check_failure,
                    _visiting=_visiting | {name},
                )
        fp = self.fingerprint(view)
        latest = self.store.commit_info(name)
        if (
            not force
            and latest is not None
            and latest.user_metadata.get("fingerprint") == fp
            # verdicts are amended AFTER the write job (observed
            # metrics); a commit missing them means the process died
            # in that window — never serve it as a memo hit, or the
            # checks would be skipped forever. A commit whose verdicts
            # RECORD a failure is equally not a hit: re-runs must
            # recompute and re-raise (materialize_partition's
            # fingerprint-pop rule), never silently serve known-bad
            # data from the cache
            and (
                not view.checks
                or (
                    "checks" in latest.user_metadata
                    and all(latest.user_metadata["checks"].values())
                )
            )
        ):
            return self.store.read(self.spark, name), False

        inputs = {i: self._load_input(i) for i in view.inputs}
        result = view.fn(self.spark, inputs)
        result = self._stamp_versions(result, view)

        # Asset checks ride the WRITE job as observed metrics
        # (df.observe): the boolean aggregates are folded into the
        # materialization scan itself, so checks cost ZERO extra
        # passes over the view — at 100 TB the difference between
        # "checks are free" and "checks double the pipeline".
        # Observed metrics can't carry every aggregate (e.g. DISTINCT
        # forms); those checks fall back to the explicit per-check
        # aggregation job, detected at plan time.
        observation = None
        fallback_checks: dict[str, Callable] = {}
        if view.checks:
            from pyspark.sql import Observation

            try:
                observation = Observation()
                result = result.observe(
                    observation,
                    *[
                        check(result).alias(check_name)
                        for check_name, check in view.checks.items()
                    ],
                )
            except Exception:
                observation = None
                fallback_checks = dict(view.checks)
        meta = {
            "fingerprint": fp,
            "code_version": code_version(view.fn),
        }
        commit = self.store.write(
            result,
            name,
            mode="overwrite",
            user_metadata=meta,
            partition_by=list(view.partition_by),  # declaration is truth
        )
        check_results: dict[str, bool] = {}
        if observation is not None:
            # the write above was the observed action; metrics are in
            check_results = {k: _verdict(v) for k, v in observation.get.items()}
        elif fallback_checks:
            # ONE combined aggregation job for every fallback check,
            # mirroring the single-pass folding of the observe path
            stored = self.store.read(self.spark, name)
            row = stored.agg(
                *[
                    check(stored).alias(check_name)
                    for check_name, check in fallback_checks.items()
                ]
            ).collect()[0]
            check_results = {k: _verdict(row[k]) for k in fallback_checks}
        if view.checks:
            # amend the commit record with the verdicts (metadata-only)
            self._amend_checks(name, commit, check_results)
        if raise_on_check_failure and not all(check_results.values()):
            failed = [k for k, ok in check_results.items() if not ok]
            raise CheckFailure(f"{name}: checks failed: {failed}")
        return self.store.read(self.spark, name), True

    def _amend_metadata(self, name, commit, updates: dict) -> None:
        """Patch key/value pairs into a just-written commit's
        user_metadata in place — same version, enriched metadata.
        Used for facts that only exist AFTER the write job ran
        (observed-metric check verdicts, and the partition
        fingerprint they gate): what Delta does by writing checks
        into the commitInfo action post-hoc is not available to a
        put-if-absent log, and a separate metadata commit would burn
        a version per materialization."""
        log = os.path.join(self.store._log_dir(name), f"{commit.version:08d}.json")
        with open(log) as f:
            rec = json.load(f)
        rec["user_metadata"].update(updates)
        tmp = log + ".amend"
        with open(tmp, "w") as f:
            json.dump(rec, f)
        os.replace(tmp, log)

    def _amend_checks(self, name, commit, check_results: dict[str, bool]) -> None:
        self._amend_metadata(name, commit, {"checks": check_results})

    def materialize_partition(
        self,
        name: str,
        partition: str | int,
        force: bool = False,
    ) -> bool:
        """Dagster-partitioned-asset analog: materialize ONE partition
        of a partitioned view, memoized PER PARTITION. Returns True
        when the partition recomputed, False on a memo hit.

        Mechanics: the view must declare ``partition_by`` (single
        column); every input that carries that column is pre-filtered
        to the partition BEFORE the view fn runs, so partition
        pruning reaches the input scans (the fn never sees other
        partitions' data); the result lands via
        ``TableStore.replace_where`` on the partition predicate —
        metadata-only carry for every untouched partition (the FS7
        backfill shape). The per-partition fingerprint (code ‖ input
        versions ‖ partition value) is stored in the commit metadata
        and CARRIED FORWARD across commits, so a daily pipeline
        re-run recomputes exactly the days whose inputs changed —
        ``AutomationCondition.eager()`` at partition grain.

        The full-table ``materialize()`` and this path are exclusive
        per table: a full materialization resets partition
        fingerprints (its commit metadata replaces them)."""
        view = self.views[name]
        if len(view.partition_by) != 1:
            raise ValueError(
                f"{name}: materialize_partition needs exactly one "
                f"partition_by column, got {list(view.partition_by)}"
            )
        col = view.partition_by[0]
        # upstream VIEWS refresh first, exactly like materialize():
        # their new fingerprints flow into this partition's memo key,
        # so a changed source can never serve a stale memo hit here
        for upstream in view.inputs:
            if upstream in self.views:
                self.materialize(upstream, force=force)
        part_fp = hashlib.sha256(
            json.dumps(
                {
                    "code": code_version(view.fn),
                    "inputs": {i: self._input_version(i) for i in view.inputs},
                    "partition": str(partition),
                    "conf": self._semantic_conf_live(),
                    # same rule as fingerprint(): an added/edited check
                    # busts the partition memo so it actually runs
                    "checks": {
                        n: code_version(c)
                        for n, c in sorted(view.checks.items())
                    },
                },
                sort_keys=True,
            ).encode()
        ).hexdigest()
        latest = self.store.commit_info(name)
        fps: dict[str, str] = {}
        if latest is not None:
            fps = dict(latest.user_metadata.get("partition_fingerprints", {}))
            if not force and fps.get(str(partition)) == part_fp:
                return False

        if isinstance(partition, str):
            # quote doubling alone is NOT enough under Spark's default
            # parser (backslash escapes active): a trailing backslash
            # would escape the closing quote and a crafted \' sequence
            # could widen the predicate into OTHER partitions — double
            # the backslashes first, then the quotes
            lit = (
                "'"
                + str(partition).replace("\\", "\\\\").replace("'", "''")
                + "'"
            )
        else:
            lit = str(partition)
        predicate = f"{col} = {lit}"
        inputs = {}
        for i in view.inputs:
            df = self._load_input(i)
            # pre-filter inputs that carry the partition column: the
            # filter pushes into their scans (partition pruning)
            inputs[i] = df.filter(predicate) if col in df.columns else df
        # restrict the OUTPUT to the partition regardless: when the fn
        # derives the partition column (rename/expression), Catalyst
        # pushes this filter through the plan to the input scans — the
        # compute still costs one partition, and replace_where's
        # replacement contract holds by construction
        result = view.fn(self.spark, inputs).filter(predicate)
        result = self._stamp_versions(result, view)
        # declared asset checks (FS5) gate the partition exactly as
        # materialize() gates the table — and like materialize() they
        # ride the WRITE job as observed metrics (df.observe) instead
        # of a separate eager aggregation, so checks cost zero extra
        # passes over the partition. Verdicts then only exist AFTER
        # the write, so the commit is made WITHOUT this partition's
        # fingerprint and the fingerprint + verdicts are amended in
        # once the checks pass: a crash in that window (or a failing
        # check) leaves a fingerprint-less commit that the next run
        # treats as a memo MISS — recompute and re-raise, never a hit
        # that silently serves the failing partition. Checks observe
        # can't carry (DISTINCT forms) fall back to the explicit
        # pre-commit aggregation, detected at plan time.
        observation = None
        fallback_results: dict[str, bool] | None = None
        if view.checks:
            from pyspark.sql import Observation

            try:
                observation = Observation()
                result = result.observe(
                    observation,
                    *[c(result).alias(n) for n, c in view.checks.items()],
                )
            except Exception:
                # pin the rows: the check aggregation and the
                # replace_where below must see the SAME execution (a
                # nondeterministic fn would otherwise commit rows the
                # checks never saw — and the plan would run twice)
                result = result.localCheckpoint()
                row = result.agg(
                    *[c(result).alias(n) for n, c in view.checks.items()]
                ).collect()[0]
                fallback_results = {n: _verdict(row[n]) for n in view.checks}

        from feray_spark.sources.table_store import ConcurrentWriteError

        commit = None
        for attempt in range(3):
            # re-resolve the fingerprint map EACH attempt so a commit
            # interleaved by another partition's writer keeps its
            # fingerprint (losing one only costs a needless recompute,
            # never wrong data — but don't lose it gratuitously)
            latest = self.store.commit_info(name)
            fps = (
                dict(latest.user_metadata.get("partition_fingerprints", {}))
                if latest is not None
                else {}
            )
            if view.checks:
                # verdicts pending (observe) or failing (fallback):
                # commit carries NO fingerprint for this partition yet
                if fallback_results is None or not all(fallback_results.values()):
                    fps.pop(str(partition), None)
                else:
                    fps[str(partition)] = part_fp
            else:
                fps[str(partition)] = part_fp
            meta = {
                "code_version": code_version(view.fn),
                "partition_fingerprints": fps,
                **(
                    {"checks": fallback_results}
                    if fallback_results is not None
                    else {}
                ),
            }
            try:
                if latest is None:
                    commit = self.store.write(
                        result,
                        name,
                        mode="overwrite",
                        user_metadata=meta,
                        partition_by=[col],
                    )
                else:
                    commit = self.store.replace_where(
                        self.spark, name, result, predicate, user_metadata=meta
                    )
                break
            except ConcurrentWriteError:
                if attempt == 2:
                    raise
        check_results = fallback_results or {}
        if observation is not None:
            # the write above executed the observed plan; verdicts and
            # (on success) the partition fingerprint are amended into
            # the just-written commit
            check_results = {k: _verdict(v) for k, v in observation.get.items()}
            updates: dict = {"checks": check_results}
            if all(check_results.values()):
                fps = dict(
                    commit.user_metadata.get("partition_fingerprints", {})
                )
                fps[str(partition)] = part_fp
                updates["partition_fingerprints"] = fps
            self._amend_metadata(name, commit, updates)
        if check_results and not all(check_results.values()):
            failed = [n for n, ok in check_results.items() if not ok]
            raise CheckFailure(f"{name} [{partition}]: checks failed: {failed}")
        return True

    def lookup(self, name: str, entities) -> DataFrame:
        """Serving-side feature lookup — the read the reference's Ray
        serving layer performs against published feature tables
        (SURVEY §1.1: "Spark publishes feature tables, the serving
        side reads them"): latest feature rows for a set of entity
        keys. ``entities`` is a DataFrame with the view's entity
        columns, or a list of dicts/tuples. The probe set broadcasts
        (serving requests are small by nature); the feature table
        never shuffles. Version columns ride along, so the caller
        can assert WHICH data/code version served each row.

        Returns the STORED rows for the requested entities: for
        overwrite/upsert-maintained tables that is one latest row per
        key; an append-mode streaming table stores history, so the
        caller picks its latest by the view's event-time column (the
        upsert fastlane mode exists precisely to keep serving tables
        one-row-per-key)."""
        view = self.views[name]
        if not view.entities:
            raise ValueError(f"{name}: lookup needs declared entities")
        keys = list(view.entities)
        table = self.store.read(self.spark, name)
        if not isinstance(entities, DataFrame):
            rows = [
                tuple(e[k] for k in keys) if isinstance(e, dict) else tuple(e)
                for e in entities
            ]
            schema = table.select(*keys).schema
            entities = self.spark.createDataFrame(rows, schema)
        probe = F.broadcast(entities.select(*keys).distinct())
        return table.join(probe, keys, "left_semi")

    def _stream_input(self, name: str) -> DataFrame:
        """Unbounded form of one input, resolved EXACTLY like
        ``_load_input`` (views → sources, same shadowing): a view
        streams from its materialized store table via
        ``TableStore.read_stream``; a parquet source path streams via
        a staged file-source directory (single-file fixtures get a
        symlink dir under the STORE ROOT — never a predictable
        world-shared /tmp path — via the shared helper in
        sources/staging.py, which replaces rather than trusts
        stale/foreign symlinks) with the footer schema."""
        import os

        from feray_spark.sources.staging import stage_single_file

        if name in self.views:
            return self.store.read_stream(self.spark, name)
        if name in self.sources:
            src = self.sources[name]
            schema = read_parquet(self.spark, src).schema
            if os.path.isdir(src):
                stage = src
            else:
                stage = stage_single_file(
                    src, os.path.join(self.store.root, "_stream_stage")
                )
            return self.spark.readStream.schema(schema).parquet(stage)
        if self.store.latest_version(name) is not None:
            # raw ingestion tail written straight into the store —
            # resolved LAST, exactly like _load_input
            return self.store.read_stream(self.spark, name)
        raise KeyError(f"unknown streamable input {name!r}")

    @staticmethod
    def _fastlane_run_id(checkpoint: str) -> str:
        """Stable id for a checkpoint directory: minted on first use,
        re-read on every restart from the same checkpoint. A FRESH
        checkpoint gets a fresh id, so its restarted epoch numbering
        (0, 1, ...) can never alias a previous run's fastlane commits
        in the replay guard."""
        import uuid

        os.makedirs(checkpoint, exist_ok=True)
        marker = os.path.join(checkpoint, "__feray_run_id__")
        if not os.path.exists(marker):
            tmp = os.path.join(checkpoint, f".__run_id.{uuid.uuid4().hex}")
            with open(tmp, "w") as f:
                f.write(uuid.uuid4().hex)
            try:
                os.link(tmp, marker)  # put-if-absent: racing starts agree
            except FileExistsError:
                pass
            finally:
                os.remove(tmp)
        with open(marker) as f:
            return f.read().strip()

    def _acquire_fastlane_lease(
        self, name: str, run_id: str, checkpoint: str
    ) -> None:
        """One-writer-per-target, CHECKED (not just documented): the
        first fastlane writer binds the target table to its
        checkpoint's run_id via a put-if-absent marker in the table
        directory; a later writer arriving with a different
        checkpoint — a second concurrent writer, or a fresh
        checkpoint pointed at an existing target — fails fast here
        instead of duplicating epochs (append) or racing the merge
        (upsert). Restarting from the bound checkpoint re-reads the
        same run_id and passes. Intentional checkpoint migration goes
        through :meth:`release_fastlane_lease`."""
        import uuid

        table_dir = os.path.join(self.store.root, name)
        os.makedirs(table_dir, exist_ok=True)
        lease = os.path.join(table_dir, "_fastlane_lease.json")
        # tmp name must be unique PER CALL, not per run_id: two racing
        # writers restarting from the SAME checkpoint share a run_id
        # (and should both pass), but a shared tmp path would make the
        # link-loser's cleanup race the winner's
        tmp = os.path.join(table_dir, f".lease-{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            json.dump({"run_id": run_id, "checkpoint": checkpoint}, f)
        try:
            os.link(tmp, lease)
            return  # bound this writer
        except FileExistsError:
            pass
        finally:
            os.remove(tmp)
        with open(lease) as f:
            held = json.load(f)
        if held.get("run_id") != run_id:
            raise RuntimeError(
                f"{name}: fastlane target is bound to the writer at "
                f"checkpoint {held.get('checkpoint')!r} "
                f"(run_id {held.get('run_id')}); refusing a second "
                f"writer from checkpoint {checkpoint!r}. Restart from "
                f"the bound checkpoint, or call "
                f"release_fastlane_lease({name!r}) for an intentional "
                f"migration."
            )

    def release_fastlane_lease(self, name: str) -> bool:
        """Unbind ``name``'s fastlane writer (intentional checkpoint
        migration / decommission). Returns True if a lease existed."""
        lease = os.path.join(self.store.root, name, "_fastlane_lease.json")
        try:
            os.remove(lease)
            return True
        except FileNotFoundError:
            return False

    def materialize_stream(
        self,
        name: str,
        checkpoint: str,
        mode: str = "upsert",
        order_by: str | None = None,
    ):
        """Fastlane materialization — the reference's serving mode
        (``README.md:47-55``) joined to the feature registry: the
        SAME view function runs over its input as an unbounded
        stream, version columns (FS1/FS2) attach per micro-batch,
        and every batch lands in the SAME versioned table batch
        ``materialize()`` writes. Checkpointed ``availableNow``:
        each call drains exactly the input appended since the last
        call (T10 exactly-once: the sink skips an epoch that a recent
        commit on the target already records under THIS checkpoint's
        run_id — the guard scans the last 16 commits, not only the
        head, so a materialize()/backfill() interleaved into the
        crash window cannot hide the fastlane commit — and the
        at-least-once crash-window redelivery between store commit
        and checkpoint commit never duplicates rows;
        regression-tested). One writer per target is ENFORCED: the
        first call binds the target to its checkpoint (a lease file
        in the table directory), and a second writer — or a fresh
        checkpoint pointed at an existing fastlane target, whose
        restarted epoch numbering could otherwise collide — fails
        fast; see :meth:`release_fastlane_lease` for intentional
        migration. Returns the StreamingQuery.

        Two sink modes, because streaming cannot give both histories
        and latest-state from one shape:

        - ``mode="append"``: every batch row appends. EXACT batch
          parity for per-row view fns (projection / filter /
          enrichment) — the streamed table is row-for-row what batch
          materialize would produce, with NO uniqueness assumption
          on entities.
        - ``mode="upsert"`` (default): latest row per entity key
          wins — serving semantics (T9). Requires ``entities``;
          note a per-row view whose entities are NOT a unique row
          key serves only the newest row per key, which is the
          point of upsert, not batch parity. ``availableNow``
          routinely drains MANY input commits into ONE micro-batch,
          so a batch can carry several rows per key: the batch is
          reduced to one row per key BEFORE the merge — by
          ``order_by`` descending (max_by semantics; ties broken
          arbitrarily) when given, else an arbitrary single row per
          key (``dropDuplicates``) — so the T9 "latest wins"
          contract holds within a batch, not only across batches.

        Declared asset checks run per micro-batch ON THE RAW BATCH
        (one combined aggregation, BEFORE upsert dedup — the gate is
        equally strict in both sink modes) and before the write; a
        failing check fails the epoch with NO commit for the failing
        batch, so the checkpoint retry cannot duplicate rows that
        already landed (append mode) or serve unchecked data (the
        table never sees the failing batch). Verdicts of PASSING
        checks record in the commit metadata.
        ``partition_by`` declared on the view is honored on the
        first write. Exactly one input; rewrite histories are
        rejected by the store's streaming source."""
        view = self.views[name]
        if mode not in ("append", "upsert"):
            raise ValueError(f"mode must be append|upsert, got {mode!r}")
        if mode == "upsert" and not view.entities:
            raise ValueError(f"{name}: upsert streaming needs entities")
        if len(view.inputs) != 1:
            raise ValueError(
                f"{name}: streaming materialization takes exactly one "
                f"input, got {list(view.inputs)}"
            )
        stream = self._stream_input(view.inputs[0])
        result = view.fn(self.spark, {view.inputs[0]: stream})
        result = self._stamp_versions(result, view)
        keys = list(view.entities)
        cv = code_version(view.fn)
        checks = dict(view.checks)
        partition_by = list(view.partition_by)

        def sink(batch: DataFrame, epoch_id: int) -> None:
            # pin the micro-batch ONCE: the emptiness probe, check
            # aggregation, upsert dedup, and merge/write below are
            # each actions — without the checkpoint every one re-runs
            # the view fn + input scan (~5x an epoch's work), and a
            # nondeterministic fn could commit rows the checks never
            # saw
            batch = batch.localCheckpoint()
            if not batch.take(1):
                return
            # exactly-once replay guard (T10): foreachBatch is
            # at-least-once — a crash BETWEEN the store commit and the
            # checkpoint commit re-delivers this epoch on restart, and
            # in append mode a blind re-write would duplicate every
            # row. A fastlane commit records (run_id, epoch); an
            # identical pair means the work is already durable — skip,
            # let the checkpoint commit, done. (Same guard
            # jdbc_upsert_sink implements with its epoch table.)
            # run_id is pinned to the checkpoint directory, so a
            # FRESH checkpoint's restarted epoch numbering can never
            # match commits from a previous checkpoint's run (and the
            # lease above rejects that misuse outright). Scan the
            # RECENT history tail, not only the head commit: a
            # materialize()/backfill() landing on the same target
            # inside the crash window would otherwise hide the
            # fastlane commit from the guard and the replayed epoch
            # would append duplicates. history_tail parses only the
            # last 16 commit files — O(1) per epoch on a long-lived
            # table, where history() would re-read the whole log
            # every micro-batch.
            for c in self.store.history_tail(name, 16):
                if c.user_metadata.get("mode") != "fastlane":
                    continue
                if c.user_metadata.get("epoch") != epoch_id:
                    continue
                # legacy commits (written before run_id stamping)
                # carry no run_id: treat a same-epoch match as a
                # replay, or a crash window straddling the upgrade
                # would re-append that batch. New commits require
                # run_id equality — a fresh checkpoint's restarted
                # numbering can never alias them (and the lease
                # blocks that misuse outright going forward).
                if "run_id" not in c.user_metadata or (
                    c.user_metadata.get("run_id") == run_id
                ):
                    return
            # checks gate the epoch BEFORE any commit — and on the RAW
            # batch, before upsert dedup, so the gate's strength does
            # not depend on sink mode (a bad row superseded within the
            # same batch still fails the epoch, exactly as in append
            # mode). A failing batch must leave no trace, or the
            # checkpoint retry duplicates it (append) / the table
            # serves unchecked rows (upsert).
            check_results: dict[str, bool] = {}
            if checks:
                row = batch.agg(
                    *[c(batch).alias(n) for n, c in checks.items()]
                ).collect()[0]
                check_results = {n: _verdict(row[n]) for n in checks}
                if not all(check_results.values()):
                    failed = [n for n, ok in check_results.items() if not ok]
                    raise CheckFailure(f"{name} epoch {epoch_id}: {failed}")
            if mode == "upsert":
                # one row per entity key per batch (see docstring):
                # merge() inserts every source row surviving its
                # anti-join, so an undeduped multi-commit batch would
                # leave duplicate keys and an undefined "latest"
                if order_by is not None:
                    batch = latest_per_key(
                        batch, keys, [F.col(order_by).desc()]
                    )
                else:
                    batch = batch.dropDuplicates(keys)
            meta = {
                "code_version": cv,
                "epoch": epoch_id,
                "mode": "fastlane",
                "run_id": run_id,
                **({"checks": check_results} if checks else {}),
            }
            first = self.store.latest_version(name) is None
            if first:
                self.store.write(
                    batch,
                    name,
                    mode="overwrite",
                    user_metadata=meta,
                    partition_by=partition_by,
                )
            elif mode == "append":
                self.store.write(
                    batch, name, mode="append", user_metadata=meta
                )
            else:
                self.store.merge(
                    self.spark, name, batch, keys=keys, user_metadata=meta
                )

        # lease binds LAST — after every constructible-stream check
        # above has passed — so a call that fails earlier (unknown
        # input, view fn raising) never leaves a never-written target
        # bound to a checkpoint. run_id is read by the sink closure
        # at call time, so assigning it here is safe.
        run_id = self._fastlane_run_id(checkpoint)
        self._acquire_fastlane_lease(name, run_id, checkpoint)
        return (
            result.writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )

    # ----------------------------------------------------------- sync

    def _topo_order(self) -> list[str]:
        """All registered views, upstream-before-downstream."""
        order: list[str] = []
        seen: set[str] = set()
        visiting: set[str] = set()

        def visit(n: str) -> None:
            if n in seen:
                return
            if n in visiting:
                raise ValueError(f"feature view cycle at {n!r}")
            visiting.add(n)
            for up in self.views[n].inputs:
                if up in self.views:
                    visit(up)
            visiting.discard(n)
            seen.add(n)
            order.append(n)

        for n in self.views:
            visit(n)
        return order

    def sync(self, *, raise_on_check_failure: bool = True) -> dict[str, bool]:
        """The automation-condition analog of the reference's
        ``AutomationCondition.eager() | on_missing()``
        (``examples/dagster_feray_example/definitions.py:25-27``):
        one pass over the whole registered DAG in dependency order,
        recomputing EXACTLY the views whose fingerprint is stale —
        upstream data changed (source digest or upstream commit
        fingerprint), code changed, or semantic config flipped — or
        that have never been materialized (on_missing). Everything
        else is an FS3 memoization hit served without a job.

        Returns ``{view_name: recomputed}`` — the audit trail of what
        a scheduler tick actually did. Push-based triggering at scale
        is this exact function run off a table-commit notification;
        the recompute set is identical either way because staleness
        is derived from stored fingerprints, not from who called."""
        report: dict[str, bool] = {}
        for name in self._topo_order():
            latest = self.store.commit_info(name)
            if (
                latest is not None
                and "partition_fingerprints" in latest.user_metadata
                and "fingerprint" not in latest.user_metadata
            ):
                # partition-MANAGED view (maintained via
                # materialize_partition): a full materialize here
                # would both recompute everything and WIPE the
                # per-partition fingerprints — staleness for these is
                # per-partition, driven by materialize_partition
                # calls, not the whole-view tick
                report[name] = False
                continue
            _, recomputed = self.materialize(
                name, raise_on_check_failure=raise_on_check_failure
            )
            report[name] = recomputed
        return report

    # ------------------------------------------------------ backfill

    def backfill(self, name: str, predicate: str) -> None:
        """FS7: recompute only the slice matching ``predicate``
        (Delta ``replaceWhere`` semantics via the table store).

        The commit CARRIES FORWARD the previous fingerprint (the
        annotate() rule) rather than stamping the current one: only
        one slice was recomputed, so claiming the whole-table
        fingerprint would turn the next sync() into a memo hit and
        freeze every untouched slice at its stale contents when the
        inputs have moved."""
        view = self.views[name]
        inputs = {i: self._load_input(i) for i in view.inputs}
        result = view.fn(self.spark, inputs).filter(predicate)
        result = self._stamp_versions(result, view)
        prev = self.store.commit_info(name)
        meta = dict(prev.user_metadata) if prev else {}
        meta["backfill"] = predicate
        if view.checks:
            # declared checks gate THIS slice before anything commits
            # (every other write path gates; backfill must not be the
            # hole that serves check-violating rows under carried-
            # forward passing verdicts). One combined aggregation job
            # over the slice — bounded by the backfill, not the table.
            # localCheckpoint pins ONE execution: the verdicts gate
            # exactly the rows replace_where commits.
            result = result.localCheckpoint()
            row = result.agg(
                *[c(result).alias(n) for n, c in view.checks.items()]
            ).collect()[0]
            check_results = {n: _verdict(row[n]) for n in view.checks}
            if not all(check_results.values()):
                failed = [n for n, ok in check_results.items() if not ok]
                raise CheckFailure(
                    f"{name}: backfill slice failed checks: {failed}"
                )
            # slice verdicts land next to the carried full-table ones
            meta["checks"] = {**meta.get("checks", {}), **check_results}
        self.store.replace_where(
            self.spark, name, result, predicate, user_metadata=meta
        )

    # ------------------------------------------------------- annotate

    def annotate(
        self, name: str, labels: DataFrame, keys: Sequence[str]
    ) -> None:
        """FS6: human-in-the-loop flags (reference roadmap
        ``README.md:51-52``) — merge reviewer labels into the feature
        table keyed on the entity.

        Re-annotation REPLACES earlier labels: label columns already
        on the table are dropped before the join (joining them again
        would produce duplicate column names and an unwritable
        frame). Note the schema interaction: annotating widens the
        stored schema, so partition-scoped writes (backfill /
        materialize_partition) on an annotated table are rejected by
        the invariant-schema guard until the next full materialize —
        which rebuilds the view WITHOUT annotations (re-annotate
        after)."""
        target = self.store.read(self.spark, name)
        label_cols = [c for c in labels.columns if c not in set(keys)]
        flagged = target.drop(*label_cols).join(labels, list(keys), "left")
        prev = self.store.commit_info(name)
        meta = dict(prev.user_metadata) if prev else {}
        meta["annotation"] = True  # keep fingerprint → memoization hit survives
        self.store.write(flagged, name, mode="overwrite", user_metadata=meta)
