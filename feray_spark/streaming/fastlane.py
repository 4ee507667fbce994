"""Structured Streaming realization of the reference's "fastlane"
serving mode (reference ``README.md:47-55``: single-row processing,
one persistent cluster, explicitly not a priority queue).

Design: every transformation here is written against an unbounded
DataFrame and works identically on a bounded one — batch parity is
the correctness contract (SURVEY §5.2 item 5: the oracle gates the
batch twin; streaming execution is smoke-tested with an
``availableNow`` file source driving the same plan).

The serving sink (T9) is ``foreachBatch`` + versioned-store MERGE
keyed on the entity — the Spark→serving handoff surface: Spark
publishes feature tables, the serving side reads them, the contract
is the table + its version metadata (exactly what the reference
communicates over Dagster Pipes, ``ray_external.py:10-16``).

Scale notes: windowed aggregations carry watermarks so state is
bounded (T4); dedup uses ``dropDuplicatesWithinWatermark`` so the
seen-keys map is evicted; the upsert sink's MERGE is idempotent per
epoch, giving exactly-once effects on top of checkpointed offsets
(T10).
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from feray_spark.catalog import normalize_events_ts, read_parquet, table_path
from feray_spark.operators.topk import latest_per_key
from feray_spark.sources.table_store import TableStore


def _stage_file_stream(
    spark: SparkSession, src: str, prefix: str
) -> DataFrame:
    """File-source stream over a single parquet file via the shared
    private staging helper (sources/staging.py — per-user 0700 root,
    foreign links replaced, not trusted). The schema comes from the
    parquet footer, cached per session by ``catalog.read_parquet``."""
    from feray_spark.sources.staging import private_stage_root, stage_single_file

    stage = stage_single_file(src, private_stage_root(prefix))
    schema = read_parquet(spark, src).schema
    return spark.readStream.schema(schema).format("parquet").load(stage)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture, for smoke tests
    and availableNow parity runs. The stream schema tracks fixture
    vintage — ts has shipped both as int64-nanos and TIMESTAMP(US);
    both are normalized to session-TZ timestamp exactly as the batch
    catalog does. Production sources (kafka etc.) plug in via the
    same schema."""
    raw = _stage_file_stream(
        spark, table_path(sf_dir, "events"), "feray_stream_src"
    )
    return normalize_events_ts(raw)


def rate_events(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """Synthetic unbounded event stream from Spark's built-in rate
    source, shaped to the events schema — the load-generator twin of
    :func:`stream_events` for serving-latency smoke tests (fastlane
    mode, reference README.md:47-55). Deterministic per (value)
    ordinal; no external system needed."""
    raw = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )
    return raw.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        (F.col("value") % 1000).alias("user_id"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
            (F.col("value") % 3 + 1).cast("int"),
        ).alias("event_type"),
        (F.col("value") % 100).cast("double").alias("value"),
        F.to_json(F.struct(F.col("value").alias("seq"))).alias("props"),
    )


def kafka_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Production fastlane ingress: Kafka topic → events stream. The
    payload contract is JSON in the Kafka value matching the events
    schema. Requires the spark-sql-kafka package on the classpath
    (not bundled in this image — construction raises a clear error
    without it; the wiring is what's under contract here)."""
    try:
        raw = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
            .load()
        )
    except Exception as e:  # pragma: no cover - no kafka jars in image
        # only the missing-data-source failure maps to "add the jars";
        # anything else (a bad option, an invalid offsets JSON) is a
        # real caller error and must surface as itself
        if "Failed to find data source" not in str(e):
            raise
        raise NotImplementedError(
            "kafka source requires org.apache.spark:spark-sql-kafka-0-10 "
            "on the classpath (spark-submit --packages ...)"
        ) from e
    return decode_kafka_events(raw)


def decode_kafka_events(raw: DataFrame) -> DataFrame:
    """The payload half of :func:`kafka_source`, factored out so it is
    testable WITHOUT the kafka jars: ``raw`` is any frame with the
    Kafka record shape (a binary ``value`` column of JSON payloads) —
    batch or streaming — and the result is the typed events schema.
    A malformed payload decodes to an all-NULL row (from_json
    semantics), never a task failure; drop on ``event_id IS NULL``
    downstream if the topic can carry junk."""
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    return raw.select(
        F.from_json(F.col("value").cast("string"), schema).alias("e")
    ).select("e.*")


# ----------------------------------------------------------- windows


def tumbling_counts(
    events: DataFrame, width: str = "10 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """T1 (+T4): tumbling event-time windows per event_type with a
    watermark bounding state and dropping data later than the horizon."""
    if events.isStreaming:
        # streaming: one aggregation only (Structured Streaming allows
        # a single stateful agg) — dsum IS one sum aggregate (scaled-
        # long cents) plus a stateless post-division, so the exact
        # money sum no longer pays the per-row decimal(18,2) cast
        # (a Double.toString+BigDecimal per row, the r11 cast-cost
        # class) the original streaming leg carried. This ALIGNS the
        # streaming leg with the batch leg below (same expression,
        # pinned by batch-parity): on money-like <=2-fractional-digit
        # values the two accumulators were already identical, while
        # on sub-cent doubles (e.g. 1.005, whose shortest repr rounds
        # differently through cast-then-sum vs round(v*100)) the OLD
        # streaming leg disagreed with batch — the operator's
        # batch-parity contract makes dsum the correct semantics,
        # not a neutral swap
        from feray_spark.queries.util import dsum

        src = events.withWatermark("ts", watermark)
        agged = src.groupBy(F.window("ts", width).alias("win"), "event_type").agg(
            F.count("*").alias("n"),
            dsum("value").alias("total"),
        )
    else:
        # batch parity: exact money sum at long speed. Unlike the
        # low-cardinality lineitem aggregates (exact_grouped_sums'
        # two-level shape), window keys are high-cardinality — a
        # per-partition partial level would emit more groups than
        # rows — so sum scaled-long cents in ONE hash agg and divide
        # once as decimal. Overflow-safe because a tumbling-window
        # group is time-bounded: width x event rate rows per group
        # (2^63 cents ≈ $9e16 per window).
        from feray_spark.queries.util import dsum

        agged = events.groupBy(F.window("ts", width).alias("win"), "event_type").agg(
            F.count("*").alias("n"),
            dsum("value").alias("total"),
        )
    return agged.select(
        F.col("win.start").alias("win_start"),
        F.col("win.end").alias("win_end"),
        "event_type",
        "n",
        "total",
    )


def sliding_counts(
    events: DataFrame,
    width: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """T2 (+T4): sliding windows — each event lands in width/slide
    overlapping windows."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", width, slide).alias("win"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "n",
        )
    )


def sessionized(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """T3 (+T4): session windows per user — events closer than ``gap``
    merge into one session [min ts, max ts + gap)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )


# ------------------------------------------------------- dedup / joins


def stream_dedup(events: DataFrame, keys: Sequence[str] = ("event_id",),
                 watermark: str = "1 hour") -> DataFrame:
    """T5: drop duplicate events by key. Streaming uses
    dropDuplicatesWithinWatermark so per-key state is evicted once the
    watermark passes; the batch twin is plain dropDuplicates."""
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            list(keys)
        )
    return events.dropDuplicates(list(keys))


def enrich_with_static(events: DataFrame, dim: DataFrame, on) -> DataFrame:
    """T7: stream-static join; broadcast keeps the stream side
    shuffle-free. Slowly-changing-dimension caveat: Spark pins a
    file-backed frame's file LISTING at creation, so new/rewritten
    dim files are NOT picked up between micro-batches — rebuild the
    dim frame (or read it through the table store, whose read()
    resolves the commit log per call) for SCD pickup."""
    return events.join(F.broadcast(dim), on, "left")


# -------------------------------------------------------------- sink


def serve_upsert(
    events: DataFrame,
    store: TableStore,
    table: str,
    keys: Sequence[str],
    checkpoint: str,
    trigger: dict | None = None,
):
    """T9/T10: serving-table sink — per micro-batch MERGE keyed on the
    entity (latest row per key wins within the batch AND against the
    already-served row), checkpointed for exactly-once effects.
    Returns the StreamingQuery.

    Late data across batches: micro-batches are not globally
    ts-ordered (a replayed partition, a lagging Kafka partition), so
    an unconditional whenMatchedUpdateAll would let an OLDER event
    arriving in a LATER batch overwrite a newer serving row. The
    merge is therefore guarded: a batch row only replaces the stored
    row when its (ts, event_id) is >= the stored one — Delta's
    ``whenMatchedUpdate(condition=...)`` expressed as a pre-merge
    anti-stale filter, since the store's MERGE is updateAll-only."""

    def upsert(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        # NULL merge keys never equi-join (NULL = NULL is not TRUE),
        # so a NULL-keyed row — decode_kafka_events' contract for a
        # junk payload — would read as "fresh" on EVERY epoch and
        # every checkpoint replay, accumulating duplicates and
        # breaking replay idempotence. A serving row without its
        # entity key is meaningless: drop them. (jdbc_upsert raises
        # instead — there a NULL key indicates a caller bug, not a
        # documented decode outcome.)
        for k in keys:
            batch = batch.filter(F.col(k).isNotNull())
        latest = latest_per_key(
            batch, list(keys), [F.col("ts").desc(), F.col("event_id").desc()]
        )
        if store.latest_version(table) is None:
            store.write(latest, table, mode="overwrite",
                        user_metadata={"epoch": epoch_id})
        else:
            current = store.read(spark, table).select(
                *keys,
                F.col("ts").alias("__cur_ts"),
                F.col("event_id").alias("__cur_eid"),
            )
            fresh = (
                latest.join(current, list(keys), "left")
                .filter(
                    F.col("__cur_ts").isNull()
                    | (F.col("ts") > F.col("__cur_ts"))
                    | (
                        (F.col("ts") == F.col("__cur_ts"))
                        # STRICT >: an event_id names one immutable
                        # event, so a row equal to the stored (ts,
                        # event_id) is a checkpoint replay of what is
                        # already served — with >= every pure replay
                        # would count as fresh and trigger a full
                        # no-op MERGE rewrite
                        & (F.col("event_id") > F.col("__cur_eid"))
                    )
                )
                .drop("__cur_ts", "__cur_eid")
            )
            # pin the dedup-window + snapshot-join plan: without it
            # the same batch-source + table read is re-executed three
            # times (the emptiness probe, merge()'s duplicate-key
            # check, merge()'s anti-join+union write) — 3x the join
            # work per epoch on the serving hot path
            fresh = fresh.localCheckpoint(eager=True)
            if fresh.take(1):  # all-stale batch: skip the rewrite
                store.merge(spark, table, fresh, keys=keys,
                            user_metadata={"epoch": epoch_id})

    return (
        events.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        # drain-and-stop by default; pass e.g.
        # trigger={"processingTime": "5 seconds"} for the persistent
        # serving loop (the continuous fastlane contract)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def jdbc_upsert_sink(
    url: str,
    table: str,
    keys: Sequence[str],
    *,
    order_by: Sequence[str] | str | None = None,
    user: str | None = None,
    password: str | None = None,
    driver: str | None = None,
    column_types: str | None = None,
    batch_size: int = 10_000,
    staging_table: str | None = None,
    guard_table: str | None = None,
):
    """T9 for an EXTERNAL registry: ``foreachBatch`` callable that
    lands each micro-batch in a JDBC table exactly once — Spark's
    checkpoint replays a failed batch, and
    :func:`feray_spark.sources.connectors.jdbc_upsert`'s epoch guard
    (batch id = epoch id, primary-keyed guard table, MERGE and guard
    insert in ONE transaction) turns the replay into a no-op instead
    of a double-apply. The companion to :func:`serve_upsert`: same
    latest-row-per-key contract, targeting the reference's
    Postgres-style metadata registry instead of the versioned store.

    Use::

        q = (events.writeStream
             .foreachBatch(jdbc_upsert_sink(url, "serving", ["id"],
                                            order_by=["ts", "event_id"]))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
    """
    from feray_spark.sources.connectors import jdbc_upsert

    def sink(batch: DataFrame, epoch_id: int) -> None:
        # pin ONE execution: the emptiness probe plus jdbc_upsert's
        # null-key probe, dedup, and staging write are each actions
        # that would otherwise re-scan the micro-batch source
        batch = batch.localCheckpoint()
        if not batch.take(1):  # empty epoch: nothing to stage or guard
            return
        jdbc_upsert(
            batch, url, table, keys, order_by=order_by, user=user,
            password=password, driver=driver, epoch_id=int(epoch_id),
            column_types=column_types, batch_size=batch_size,
            staging_table=staging_table, guard_table=guard_table,
        )

    return sink


# ------------------------------------------- stateful (new-gen API)


def running_counts_tws(stream: DataFrame) -> DataFrame:
    """T6 on the new-generation stateful API
    (``transformWithStateInPandas``, Spark 4): running event count +
    value sum per user. Unlike ``applyInPandasWithState`` the state
    is a typed ValueState in the RocksDB state store — the scale
    path for state larger than executor memory (RocksDB spills to
    local disk and checkpoints incrementally). Requires
    ``spark.sql.streaming.stateStore.providerClass`` =
    RocksDBStateStoreProvider (set by the caller/test; not a session
    default because the HDFS-backed store is fine for small state).
    NOTE: the TWS state protocol imports google.protobuf, which this
    image lacks (and pip installs are off-limits) — the operator is
    exercised by a protobuf-gated test and runs on any standard
    deployment; applyInPandasWithState (t6_stateful_running) is the
    always-available twin."""
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class RunningAgg(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "agg", "n long, total double"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, total = 0, 0.0
            if self._state.exists():
                n, total = self._state.get()
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._state.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
            )

        def close(self) -> None:
            pass

    return stream.groupBy("user_id").transformWithStateInPandas(
        RunningAgg(),
        outputStructType="user_id long, n_events long, total_value double",
        outputMode="Update",
        timeMode="None",
    )


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents fixture — the unbounded
    twin of the LLM text-pipeline inputs, staged the same way as
    :func:`stream_events`."""
    return _stage_file_stream(
        spark, table_path(sf_dir, "documents"), "feray_stream_doc"
    )


def quality_filter_stream(docs: DataFrame) -> DataFrame:
    """The ingest half of the L7 quality pipeline on an unbounded
    document stream: length bounds → language allowlist →
    within-stream dedup on the exact text hash. Every stage is
    either stateless (predicates run per micro-batch at scan speed)
    or watermark-free key dedup (the seen-hash map is the only
    state; production bounds it with
    ``dropDuplicatesWithinWatermark`` once docs carry event time).
    Dedup winner semantics per mode: STREAMING keeps the first
    ARRIVING row per text hash (arrival order is the only order an
    unbounded stream has); a BATCH frame through the same function
    keeps the lowest doc_id — deterministic run-to-run and identical
    to the bounded L7 pipeline's ROW_NUMBER winner (a bare
    dropDuplicates would keep whichever row the shuffle delivered
    first, so the surviving doc_id would flap between runs)."""
    kept = docs.filter(
        F.length("text").between(50, 100000) & F.col("lang").isin("en", "de")
    ).withColumn("__h", F.sha2(F.col("text"), 256))
    if docs.isStreaming:
        return kept.dropDuplicates(["__h"]).drop("__h")
    return latest_per_key(kept, ["__h"], [F.col("doc_id").asc()]).drop("__h")
