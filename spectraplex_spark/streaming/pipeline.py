"""Structured Streaming surface (SURVEY §2.9).

The reference *describes* a Yellowstone gRPC subscription — "low-latency
chain events (transactions, account updates, and block metadata)" with
"filtering of slots" (reference README.md:3) — but its adapter is a
compile-only stub returning an empty vector (adapters/src/solana_grpc.rs:19-23).
This module implements the described semantics on Structured Streaming:

  - source: a file-source stream over a landing directory of bronze
    JSONL (standing in for the gRPC feed), plus the Kafka-configured
    variant (``read_bronze_kafka_stream``) whose wire decode
    (``decode_bronze_kafka``) is source-agnostic and tested without a
    broker — all downstream transformations are shared.
  - slot filtering: a plain predicate on the parsed slot.
  - incremental normalize: the SAME batch ``normalize`` function inside
    ``foreachBatch`` — batch/stream parity by construction — landing
    through the batch silver sink (``write_silver``: idempotent append,
    partitioned by entry date; the streaming twin of ON CONFLICT DO
    NOTHING; checkpoint + dedup = effectively-once).
  - late data: event-time watermark + tumbling windows for the
    per-period stats the reference's sort-on-read anticipates
    (repo.rs:79 ORDER BY timestamp).

Scale notes: normalize is stateless (narrow ops only), so the stream
scales by source partitions alone. The only stateful operator here is
the windowed aggregate; its state is bounded by the watermark. Dedup
state is NOT kept in the stream (unbounded at 100 TB) — idempotency
lives in the sink protocol instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from spectraplex_spark.operators.normalize import normalize
from spectraplex_spark.schemas import BRONZE_SCHEMA
from spectraplex_spark.sources.io import write_silver


def read_bronze_stream(
    spark: SparkSession, landing_dir: str, max_files_per_trigger: int = 10
) -> DataFrame:
    """S2: the streaming bronze source (file source over a landing dir).

    maxFilesPerTrigger bounds micro-batch size — the local stand-in for
    Kafka's maxOffsetsPerTrigger backpressure.
    """
    return (
        spark.readStream.schema(BRONZE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(landing_dir)
    )


def decode_bronze_kafka(kafka_df: DataFrame) -> DataFrame:
    """Kafka wire → bronze rows: the decode half of the S2 scale source.

    Kafka readers (batch and streaming alike) expose one fixed wire
    schema — ``key``/``value`` BINARY plus topic/partition/offset/
    timestamp — and each message value carries one bronze JSON record,
    the same interchange shape the file landing dir replays. The decode
    is deliberately source-agnostic (any DataFrame with a binary
    ``value`` column): it is the testable seam between the broker and
    everything downstream, which is shared verbatim with the file
    variant.

    ``from_json`` is PERMISSIVE: a corrupt payload yields an all-null
    bronze row — the exact behavior of the file source on a corrupt
    line — which normalize's chain filter drops downstream.
    """
    parsed = F.from_json(F.col("value").cast("string"), BRONZE_SCHEMA)
    return kafka_df.select(parsed.alias("_r")).select("_r.*")


def read_bronze_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int = 10_000,
) -> DataFrame:
    """S2 at scale: the Kafka-configured variant of the bronze stream.

    Needs the spark-sql-kafka connector on the classpath (not bundled in
    this container — ``load()`` raises Spark's "Failed to find data
    source: kafka" when absent; the test pins that failure mode so the
    drop-in claim is honest). ``maxOffsetsPerTrigger`` is the
    backpressure bound (twin of the file variant's maxFilesPerTrigger);
    ``failOnDataLoss=false`` keeps aged-out offsets from killing a
    long-running query.
    """
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
        .option("failOnDataLoss", "false")
        .load()
    )
    return decode_bronze_kafka(raw)


def read_yellowstone_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int = 10_000,
) -> DataFrame:
    """The live-subscription shape end to end: Yellowstone gRPC frames
    relayed onto Kafka (the standard production deployment — a thin
    relay owns the gRPC connection, Kafka owns replay/backpressure),
    decoded by the wire-format decoder into bronze rows.

    Same connector caveat as read_bronze_kafka_stream; the decode half
    (streaming/yellowstone.py) is broker-less-tested against an
    independent wire encoder, and composes with
    stream_normalize_to_silver unchanged — the bronze interchange is
    the shared seam for all three sources (file, Kafka JSON, Yellowstone
    protobuf).
    """
    from spectraplex_spark.streaming.yellowstone import decode_yellowstone

    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
        .option("failOnDataLoss", "false")
        .load()
    )
    return decode_yellowstone(raw)


def slot_filter(stream: DataFrame, min_slot: int) -> DataFrame:
    """'Filtering of slots' (README.md:3): parse just the slot field and
    predicate on it. get_json_object keeps this JVM-side; rows without a
    VALID slot are dropped (null comparison).  try_cast, not cast: under
    Spark 4's default ANSI mode a present-but-non-numeric slot value
    (malformed producer) made cast('long') raise CAST_INVALID_INPUT and
    kill the streaming query — a poison pill replayed on every restart —
    instead of following the module's corrupt-payload-drops contract
    (r14 review finding)."""
    slot = F.get_json_object("raw_metadata", "$.slot").try_cast("long")
    return stream.filter(slot >= F.lit(min_slot))


def stream_normalize_to_silver(
    bronze_stream: DataFrame,
    silver_path: str,
    checkpoint_dir: str,
    audit_ts: Column | None = None,
):
    """Incremental bronze→silver: the batch normalize inside foreachBatch,
    landing through the batch silver sink (``write_silver``), so streamed
    and batch-landed silver share one entry-date layout and one table.

    Checkpointing gives at-least-once batch delivery; the anti-join on
    deterministic content-hash ids upgrades that to effectively-once in
    the sink (a replayed batch appends 0 rows).
    """

    def process(batch_df: DataFrame, batch_id: int) -> None:
        write_silver(normalize(batch_df, audit_ts=audit_ts), silver_path)

    return (
        bronze_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def windowed_event_counts(
    events_stream: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling-window event stats with a late-data watermark.

    State is bounded: windows older than (max event time - watermark)
    are finalized and evicted. The batch twin is daily_rollup_events in
    the catalog — same groupBy(window) shape.
    """
    # Event-time columns must be TIMESTAMP (Spark rejects TIMESTAMP_NTZ
    # watermarks, and the driver's events.ts has shipped as NTZ); the
    # session timezone is pinned to UTC, so the cast is the identity.
    events_stream = events_stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        events_stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_duration), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)")).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )
