"""Structured-Streaming ingest pipeline (SURVEY.md SS3.1).

The reference's hot path: Kinesis -> filter Lambda -> parse/classify
-> DynamoDB real-time table + AppSync change feed + Firehose raw
archive. Re-expressed as ONE streaming DataFrame with a
``foreachBatch`` fan-out:

    readStream (file/kafka/kinesis source of envelope records)
      -> decode + format-probe + explode      (operators/normalize)
      -> broadcast config join + classify      (operators/classify)
      -> foreachBatch:
           (a) reportable rows -> day-partitioned real-time store (S8)
           (b) latest-status delta vs snapshot -> change feed (S11/T3)
           (c) raw envelopes -> archive (S12)

Checkpointing replaces Lambda container reuse (T2); per-record error
isolation (T10) is the rejects split; config hot-reload (T6) is a
callable provider re-read each micro-batch - the Spark-idiomatic
equivalent of the reference's CONFIG_UPDATED_AT env-var bump
(update-filter-function/index.ts:11-84).

In local tests the source is a file stream of JSON-lines envelope
records; on a cluster the same pipeline binds to a Kafka/Kinesis
source - only `read_envelope_stream` changes.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..config import IngestConfig
from ..operators.classify import (
    classify_messages,
    machine_config_df,
    reportable_messages,
    to_real_time_rows,
)
from ..operators.latest import latest_by_key
from ..operators.normalize import parse_envelopes
from ..sources.lake import with_day_partitions
from ..session import barrier_scope, release_checkpoint
from .epochs import checkpoint_sink_token, feed_epoch_published, write_epoch_partition
from .store import KeyedParquetStore

ENVELOPE_SCHEMA = "record_id STRING, partition_key STRING, arrival_ts DOUBLE, data STRING"


def read_envelope_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 10
) -> DataFrame:
    """File-based envelope source (tests / replay). T1 micro-batching:
    maxFilesPerTrigger bounds batch size like the reference's
    batchSize=100 event source mapping."""
    return (
        spark.readStream.schema(ENVELOPE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(path)
    )


def envelope_from_kafka_records(raw: DataFrame) -> DataFrame:
    """Kafka wire records -> envelope rows.

    ``raw`` carries Kafka's fixed source schema (key/value binary,
    topic, partition, offset, timestamp); the JSON envelope rides in
    ``value`` exactly as the reference's payload rides a Kinesis
    record's ``data`` (filter-kinesis-stream/index.ts:39-52). Kept
    separate from the source binding so the decode chain is testable
    against the wire shape without a broker."""
    return raw.select(
        F.from_json(F.col("value").cast("string"), ENVELOPE_SCHEMA).alias("e")
    ).select("e.*")


def envelope_from_kinesis_records(raw: DataFrame) -> DataFrame:
    """Kinesis-connector wire records -> envelope rows.

    Kinesis connectors (spark-sql-kinesis and compatibles) expose
    ``data`` (binary payload, ALREADY base64-decoded by the
    connector), ``partitionKey``, ``sequenceNumber``, and
    ``approximateArrivalTimestamp``. The reference's Lambda reads the
    same four fields off each record (filter-kinesis-stream/
    index.ts:39-52, where ``kinesis.data`` is the base64 form). The
    envelope contract carries ``data`` base64-encoded (what
    decode_payload expects), so the binary payload is re-encoded
    here; sequenceNumber becomes the stable record id the reject
    quarantine keys on."""
    return raw.select(
        F.col("sequenceNumber").cast("string").alias("record_id"),
        F.col("partitionKey").cast("string").alias("partition_key"),
        F.col("approximateArrivalTimestamp")
        .cast("double")
        .alias("arrival_ts"),
        F.base64(F.col("data")).alias("data"),
    )


def read_envelope_stream_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int = 100_000,
) -> DataFrame:
    """Kafka envelope source (S1's cluster binding; Kinesis itself is
    AWS-only - on a cluster the reference's stream maps to a Kafka
    topic or a Kinesis-connector source with identical downstream
    plumbing; real-time-processing-construct.ts:48-52).

    T1 micro-batching: maxOffsetsPerTrigger bounds batch size the way
    the reference caps its event-source-mapping batchSize. Requires
    the spark-sql-kafka package on the cluster classpath."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("maxOffsetsPerTrigger", max_offsets_per_trigger)
        .load()
    )
    return envelope_from_kafka_records(raw)


def read_envelope_stream_kinesis(
    spark: SparkSession,
    stream_name: str,
    region: str,
    format_name: str = "aws-kinesis",
    starting_position: str = "LATEST",
    options: dict | None = None,
) -> DataFrame:
    """Kinesis envelope source (S1's native binding). OSS Spark ships
    no built-in kinesis format, so the connector's format name is a
    parameter - the default matches the public
    spark-sql-kinesis-connector ("aws-kinesis", options spelled
    ``kinesis.*``); other connectors (different format string /
    option spelling) pass ``format_name`` + ``options`` overrides.
    All of them expose the same wire fields
    (data/partitionKey/sequenceNumber/approximateArrivalTimestamp)
    that :func:`envelope_from_kinesis_records` adapts - the same
    four fields the reference's Lambda reads off each record
    (filter-kinesis-stream/index.ts:39-52)."""
    opts = {
        "kinesis.streamName": stream_name,
        "kinesis.region": region,
        "kinesis.startingPosition": starting_position,
    }
    if options:
        opts.update(options)
    reader = spark.readStream.format(format_name)
    for k, v in opts.items():
        reader = reader.option(k, v)
    return envelope_from_kinesis_records(reader.load())


def _assert_epoch_layout(spark: SparkSession, realtime_path: str) -> None:
    """Refuse to point the epoch-partitioned realtime sink at a lake
    whose existing day directories hold part files WITHOUT a
    batch_epoch level (a legacy flat append-mode lake). Mixing the
    two depths breaks parquet partition discovery for the whole path
    ('conflicting directory structures'), and the breakage only
    surfaces on the NEXT read - after the first epoch already wrote.
    compact_retention(add_epoch_level=True) migrates such a lake."""
    from .. import fsio

    for f in fsio.list_files_recursive(spark, realtime_path):
        name = f.rsplit("/", 1)[-1]
        if name.startswith("part-") and "/day=" in f and "/batch_epoch=" not in f:
            raise ValueError(
                f"realtime_path {realtime_path!r} holds day-level part "
                "files without a batch_epoch partition level (flat "
                "append-mode layout); the epoch-partitioned sink would "
                "mix directory depths and break partition discovery "
                "for the whole lake. Run compact_retention(..., "
                "add_epoch_level=True) over it first."
            )


@dataclass
class IngestSinks:
    """Where the fan-out lands (local-dir realization; swap paths for
    object-store URIs on a cluster)."""

    realtime_path: str
    archive_path: str | None = None
    snapshot_path: str | None = None  # latest-status keyed upsert store
    snapshot_buckets: int = 64  # key-hash partitions of the store; size
    # so one bucket's contents fit an executor (store.py docstring)
    rejects_path: str | None = None  # quarantine (strictly better than
    # the reference, which only logs rejects - index.ts:86-90)
    change_feed_path: str | None = None  # durable delta sink (parquet
    # append): the S11/T3 change feed a downstream subscriber tails
    change_feed: list | None = field(default_factory=list)  # TEST
    # observability sink: per-batch deltas (changed machines only, so
    # driver-safe) collected to a list; pass None in production and
    # tail change_feed_path instead


def streaming_minute_rollup(
    messages: DataFrame,
    watermark: str = "2 minutes",
    id_col: str = "machine_id",
    ts_col: str = "event_ts",
    status_col: str = "status",
) -> DataFrame:
    """W4/T8 as a true event-time streaming aggregation: tumbling
    1-minute window + watermark, DOWN-dominant like the batch twin
    (operators/minute_rollup.minute_status_rollup - one DOWN reading
    poisons its minute even if a later in-minute reading is UP;
    machine-detail.ts:17-24 chunking).

    The watermark (T4) bounds both state and lateness: rows later
    than the horizon are dropped, finalized windows emit exactly once
    in append mode. The reference has no equivalent - its Lambda
    applies last-writer-wins with no lateness bound (SURVEY.md T5).
    """
    w = F.window(F.col(ts_col), "1 minute")
    any_down = F.max(
        F.when(F.col(status_col) == F.lit("DOWN"), 1).otherwise(0)
    )
    latest = F.max_by(F.col(status_col), F.col(ts_col))
    return (
        messages.withWatermark(ts_col, watermark)
        .groupBy(F.col(id_col).alias("id"), w)
        .agg(
            F.when(any_down == 1, F.lit("DOWN")).otherwise(latest).alias("status")
        )
        .select(
            "id",
            F.col("window.start").alias("minute_start"),
            "status",
        )
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    lower: str = "interval 0 seconds",
    upper: str = "interval 10 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream inner join on ``key`` with an event-time interval
    (right row joins left rows whose timestamp is within
    [right_ts - upper, right_ts - lower]). Both sides carry
    watermarks, which is what lets Spark EVICT join state: without
    the time bound a stream-stream join buffers both streams forever.
    The reference has no stream-stream correlation at all - its
    Lambda sees one record at a time."""
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"l.{left_ts}") >= F.expr(f"r.{right_ts} - {upper}"))
        & (F.col(f"l.{left_ts}") <= F.expr(f"r.{right_ts} - {lower}"))
    )
    return l.join(r, cond, "inner")


def streaming_session_windows(
    events: DataFrame,
    gap: str = "5 minutes",
    id_col: str = "machine_id",
    ts_col: str = "event_ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Sessionization as a STREAMING aggregation: dynamic
    ``session_window(ts, gap)`` - sessions close when a key sees no
    events for ``gap``; the watermark finalizes them (append mode
    emits each completed session exactly once). The batch twin is
    operators/sessionize (lag + running-sum); this is the unbounded
    realization with state eviction for free."""
    w = F.session_window(F.col(ts_col), gap)
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.col(id_col).alias("id"), w)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_within_watermark(
    stream: DataFrame,
    id_cols: list[str],
    event_time_col: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """At-least-once source -> effectively-once rows: drop redelivered
    records by id within the watermark horizon.

    The reference gets this implicitly from DynamoDB's keyed upsert
    (a redelivered Kinesis record overwrites itself,
    filter-kinesis-stream/index.ts:146-191); an append-mode lake sink
    has no such keyed overwrite, so redelivery must be dropped
    in-stream. ``dropDuplicatesWithinWatermark`` keys the state store
    on ``id_cols`` and - unlike plain ``dropDuplicates`` on a stream -
    evicts state once the watermark passes, so state is bounded by the
    redelivery window, not the stream's lifetime."""
    return stream.withWatermark(
        event_time_col, watermark
    ).dropDuplicatesWithinWatermark(id_cols)


def run_ingest_stream(
    spark: SparkSession,
    source: DataFrame,
    config_provider: Callable[[], IngestConfig],
    sinks: IngestSinks,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Wire the full SS3.1 pipeline and start it.

    ``config_provider`` is called at every micro-batch (T6 hot
    reload): message formats parameterize the parse *plan*, machine
    configs land in a broadcast join - both rebuilt per batch, which
    is exactly the reference's reload-on-config-change without the
    env-var plumbing.

    Sink paths must be fresh or already in this pipeline's layout
    (day partitions + trailing epoch partition): pointing the sinks
    at a lake written by a flat append-mode pipeline mixes directory
    depths and parquet partition discovery rejects the whole path -
    run one ``compact_retention(..., add_epoch_level=True)`` pass
    over such a lake first to normalize the layout. This start-time
    guard fails FAST on a flat lake (r5 advice): without it the
    first epoch's year/month/day/batch_epoch write lands next to
    day-level part files and 'conflicting directory structures'
    makes the WHOLE lake unreadable - including by the compaction
    pass that could have fixed it.
    """
    _assert_epoch_layout(spark, sinks.realtime_path)
    sink_token = checkpoint_sink_token(spark, checkpoint_dir)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        cfg = config_provider().validate()

        # The fan-out below has up to five sink actions; persist the
        # shared subtrees so each action reads the micro-batch once
        # instead of re-running source read + decode + classify per
        # sink. All three are bounded by the micro-batch size (the T1
        # batch cap), so the persists are memory-safe by construction.
        # try/finally: a failing sink propagates (so the checkpoint
        # retries the batch), but the cached blocks must not outlive
        # the attempt - retried batches re-persist, and leaked blocks
        # accumulate across retries. EVERY persist happens inside the
        # try (r4 advice: parse_envelopes runs fmt.validate() against
        # the dynamically-provided config, and a persist issued before
        # the try leaked its block on a bad-config raise - the exact
        # accumulation the finally exists to prevent).
        from ..operators.normalize import explode_messages, split_rejects

        parsed = None
        reportable = None
        with barrier_scope(spark):
            try:
                batch_df = batch_df.persist()
                parsed = parse_envelopes(batch_df, list(cfg.formats)).persist()
                # (c) raw archive first - archives even rejected records
                # (S12: Firehose taps the stream before the filter Lambda)
                if sinks.archive_path:
                    batch_df.write.mode("append").json(sinks.archive_path)

                if sinks.rejects_path:
                    _, rejected = split_rejects(parsed)
                    rejected.drop("messages").write.mode("append").json(
                        sinks.rejects_path
                    )

                messages = explode_messages(
                    parsed, list(cfg.formats), keep_cols=["record_id"]
                )
                classified = classify_messages(
                    messages,
                    machine_config_df(batch_df.sparkSession, list(cfg.machines)),
                )
                reportable = reportable_messages(classified).persist()

                # (a) real-time store: day-partitioned (S8/S9), TTL column;
                # rows cluster by machine id inside each day so the
                # reference's key-range reads (S4) skip row groups within
                # the day file, not just prune partitions. The write is
                # IDEMPOTENT per epoch (T9): a trailing batch_epoch
                # partition + dynamic partition overwrite means a retried
                # epoch (crash after this sink, before the checkpoint
                # commit or a later sink) REPLACES its own partial output
                # instead of appending duplicates. Readers still prune on
                # year/month/day; read_lake drops the bookkeeping column.
                # (The raw archive above stays plain append = at-least-
                # once, matching the reference's Firehose tap semantics.)
                rows = to_real_time_rows(reportable, cfg.retention_hours)
                day_rows = with_day_partitions(
                    rows.withColumn(
                        "event_ts", F.timestamp_seconds(F.col("message_timestamp"))
                    ),
                    "event_ts",
                ).withColumn("batch_epoch", F.lit(f"{sink_token}-{epoch_id}"))
                day_rows.sortWithinPartitions(
                    "year", "month", "day", "id"
                ).write.mode("overwrite").option(
                    "partitionOverwriteMode", "dynamic"
                ).partitionBy("year", "month", "day", "batch_epoch").parquet(
                    sinks.realtime_path
                )

                # (b) latest-status + change-only emission (A1/T3): keyed
                # upsert store - merge touches ONLY the key-hash buckets
                # the batch hits (partition-pruned; O(batch), never
                # O(snapshot)) - and the returned deltas ARE the change
                # feed.
                status_msgs = reportable.filter(F.col("msg_type") == "STATUS")
                latest = latest_by_key(
                    status_msgs, ["machine_id"], "event_epoch", ["status"]
                ).select(
                    "machine_id", "status", F.col("event_epoch").alias("status_epoch")
                )
                if sinks.snapshot_path:
                    store = KeyedParquetStore(
                        sinks.snapshot_path, "machine_id", sinks.snapshot_buckets
                    )
                    # two-phase upsert, feed published BEFORE the store
                    # commit and WRITE-ONCE per epoch (the old
                    # upsert-then-append order silently LOST feed rows
                    # when a crash landed between them). Crash windows:
                    # during the feed write -> partition never surfaced,
                    # retry republishes the full set; between feed and
                    # commit (incl. a PARTIAL commit) -> the published
                    # partition survives untouched - the retry's
                    # recomputed deltas can be a subset once some buckets
                    # committed, which is exactly why it must not rewrite
                    # the feed; after commit -> feed already published,
                    # commit re-converges idempotently.
                    deltas, merged = store.plan_upsert(latest, compare_col="status")
                    epoch_val = f"{sink_token}-{epoch_id}"
                    if sinks.change_feed_path and not feed_epoch_published(
                        batch_df.sparkSession, sinks.change_feed_path, epoch_val
                    ):
                        write_epoch_partition(deltas, sinks.change_feed_path, epoch_val)
                    if sinks.change_feed is not None:
                        # test-only observability: deltas are one row per
                        # *changed* machine, driver-safe by construction
                        delta_rows = [r.asDict() for r in deltas.collect()]
                        sinks.change_feed.extend(
                            sorted(delta_rows, key=lambda r: r["machine_id"])
                        )
                    store.commit(merged)
                    # the two plan_upsert barriers are consumed by the
                    # feed write + commit above; free them now (the epoch
                    # scope frees them if anything above raises)
                    release_checkpoint(merged)
                    release_checkpoint(deltas)
            finally:
                if reportable is not None:
                    reportable.unpersist()
                if parsed is not None:
                    parsed.unpersist()
                batch_df.unpersist()

    return (
        source.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_latest_status(
    spark: SparkSession, source_messages: DataFrame, queryName: str = "latest_status"
) -> StreamingQuery:
    """T2/T3 as a *pure* streaming aggregation: update-mode
    ``max_by(status, ts)`` per machine. Spark's state store holds one
    row per machine; update-mode output IS the change feed (a row is
    emitted only when its aggregate changes). This is the
    order-insensitive upgrade over the reference's per-batch sort
    (T5): late rows can never regress the status.

    Memory sink = inspection/tests; the durable twin is
    :func:`streaming_latest_status_durable`."""
    agg = source_messages.groupBy("machine_id").agg(
        F.max_by("status", F.col("event_epoch")).alias("status"),
        F.max("event_epoch").alias("status_epoch"),
    )
    return (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName(queryName)
        .trigger(availableNow=True)
        .start()
    )


def streaming_latest_status_durable(
    source_messages: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    num_buckets: int = 64,
    change_feed_path: str | None = None,
) -> StreamingQuery:
    """The durable realization of T2/T3: the update-mode aggregate's
    changed rows land in a :class:`KeyedParquetStore` every batch
    (partition-pruned upsert), optionally appending deltas to a
    change-feed parquet a subscriber can tail.

    update-mode + foreachBatch hands each batch exactly the aggregate
    rows that changed - the store merge then costs O(changed keys),
    and the state store (one row per machine) guards event-time
    ordering across batches."""
    store = KeyedParquetStore(store_path, "machine_id", num_buckets)
    sink_token = checkpoint_sink_token(
        source_messages.sparkSession, checkpoint_dir
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        # feed-before-commit, checkpoint-token epoch key, write-once
        # per epoch: same exactly-once reasoning as
        # run_ingest_stream's snapshot leg
        with barrier_scope(batch_df.sparkSession):
            deltas, merged = store.plan_upsert(batch_df, compare_col="status")
            epoch_val = f"{sink_token}-{epoch_id}"
            if change_feed_path and not feed_epoch_published(
                batch_df.sparkSession, change_feed_path, epoch_val
            ):
                write_epoch_partition(deltas, change_feed_path, epoch_val)
            store.commit(merged)

    agg = source_messages.groupBy("machine_id").agg(
        F.max_by("status", F.col("event_epoch")).alias("status"),
        F.max("event_epoch").alias("status_epoch"),
    )
    return (
        agg.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
