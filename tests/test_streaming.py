"""Structured Streaming surface (SURVEY §2.9): file-source replay,
slot filtering, incremental normalize parity with batch, watermarked
windows parity with the batch rollup."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from spectraplex_spark.operators.normalize import normalize
from spectraplex_spark.streaming.pipeline import (
    read_bronze_stream,
    slot_filter,
    stream_normalize_to_silver,
    windowed_event_counts,
)
from tests.test_normalize_golden import bronze_row, solana_tx


def _land_bronze(tmp_path, n_files=3, txs_per_file=2):
    landing = tmp_path / "landing"
    landing.mkdir()
    rows = []
    i = 0
    for f in range(n_files):
        lines = []
        for _ in range(txs_per_file):
            raw = solana_tx(
                pre_balances=[10_000_000_000 + i, 0],
                post_balances=[9_000_000_000, 500_000_000],
            )
            raw = json.loads(raw)
            raw["slot"] = 100 + i
            r = bronze_row(json.dumps(raw), tx_hash=f"sig-{i}")
            rows.append(r)
            lines.append(json.dumps(dict(zip(
                ["id", "user_id", "wallet_address", "timestamp", "tx_hash", "chain", "raw_metadata"],
                r[:7],
            ))))
            i += 1
        (landing / f"part-{f}.jsonl").write_text("\n".join(lines) + "\n")
    return str(landing), rows


def test_stream_normalize_matches_batch(spark, tmp_path):
    landing, rows = _land_bronze(tmp_path)
    silver_path = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")

    stream = read_bronze_stream(spark, landing, max_files_per_trigger=1)
    q = stream_normalize_to_silver(
        stream, silver_path, ckpt, audit_ts=F.lit(None).cast("timestamp")
    ).start()
    q.awaitTermination(120)

    from spectraplex_spark.schemas import BRONZE_SCHEMA

    batch_silver = normalize(
        spark.createDataFrame(rows, BRONZE_SCHEMA),
        audit_ts=F.lit(None).cast("timestamp"),
    )
    got = {(r.id, r.asset_symbol, r.amount) for r in spark.read.parquet(silver_path).collect()}
    want = {(r.id, r.asset_symbol, r.amount) for r in batch_silver.collect()}
    assert got == want and len(got) == 6


def test_stream_replay_is_idempotent(spark, tmp_path):
    """Re-running the stream over the same landing dir with a FRESH
    checkpoint (worst case: checkpoint lost) appends nothing new —
    effectively-once via the sink protocol, not stream state."""
    landing, _ = _land_bronze(tmp_path)
    silver_path = str(tmp_path / "silver")

    for ckpt_name in ("ckpt1", "ckpt2"):
        stream = read_bronze_stream(spark, landing)
        q = stream_normalize_to_silver(
            stream, silver_path, str(tmp_path / ckpt_name),
            audit_ts=F.lit(None).cast("timestamp"),
        ).start()
        q.awaitTermination(120)

    silver = spark.read.parquet(silver_path)
    assert silver.count() == silver.select("id").distinct().count() == 6


def test_stream_appends_to_batch_landed_silver(spark, tmp_path):
    """Streamed silver lands in the batch layout: a stream into a silver
    table that write_silver created appends to it, and every entry is
    read back exactly once."""
    import os

    from spectraplex_spark.schemas import BRONZE_SCHEMA
    from spectraplex_spark.sources.io import write_silver

    landing, rows = _land_bronze(tmp_path)
    silver_path = str(tmp_path / "silver")
    audit = F.lit("2024-01-01 00:00:00").cast("timestamp")
    first = normalize(spark.createDataFrame(rows[:2], BRONZE_SCHEMA), audit_ts=audit)
    assert write_silver(first, silver_path) > 0
    os.remove(os.path.join(landing, "part-0.jsonl"))  # stream only the rest

    q = stream_normalize_to_silver(
        read_bronze_stream(spark, landing), silver_path, str(tmp_path / "ckpt"),
        audit_ts=audit,
    ).start()
    q.awaitTermination(120)

    want = normalize(spark.createDataFrame(rows, BRONZE_SCHEMA), audit_ts=audit)
    got = sorted(r.id for r in spark.read.parquet(silver_path).collect())
    assert got == sorted(r.id for r in want.collect())
    assert os.path.isdir(os.path.join(silver_path, "entry_date=2024-01-01"))


def _kafka_wire_rows(rows):
    """Bronze rows → the Kafka source's fixed wire schema."""
    wire = []
    for off, r in enumerate(rows):
        payload = json.dumps(dict(zip(
            ["id", "user_id", "wallet_address", "timestamp", "tx_hash", "chain", "raw_metadata"],
            r[:7],
        ))).encode()
        wire.append((r[4].encode(), payload, "bronze", 0, off))
    return wire


WIRE_SCHEMA = "key binary, value binary, topic string, partition int, offset long"


def test_kafka_decode_matches_file_source_batch(spark, tmp_path):
    """The wire decode is the Kafka seam: decoding message values must
    yield exactly the rows the file source reads, through normalize."""
    from spectraplex_spark.schemas import BRONZE_SCHEMA
    from spectraplex_spark.streaming.pipeline import decode_bronze_kafka

    _, rows = _land_bronze(tmp_path)
    kafka_like = spark.createDataFrame(_kafka_wire_rows(rows), WIRE_SCHEMA)
    decoded = normalize(
        decode_bronze_kafka(kafka_like), audit_ts=F.lit(None).cast("timestamp")
    )
    batch = normalize(
        spark.createDataFrame(rows, BRONZE_SCHEMA),
        audit_ts=F.lit(None).cast("timestamp"),
    )
    got = {(r.id, r.asset_symbol, r.amount) for r in decoded.collect()}
    want = {(r.id, r.asset_symbol, r.amount) for r in batch.collect()}
    assert got == want and len(got) == 6


def test_kafka_decode_streaming_end_to_end(spark, tmp_path):
    """decode → normalize → idempotent silver over a STREAM of
    wire-schema micro-batches (the full Kafka pipeline minus only the
    broker socket)."""
    from spectraplex_spark.streaming.pipeline import decode_bronze_kafka

    _, rows = _land_bronze(tmp_path)
    src = str(tmp_path / "wire")
    spark.createDataFrame(_kafka_wire_rows(rows), WIRE_SCHEMA).repartition(3).write.parquet(src)

    wire_stream = (
        spark.readStream.schema(WIRE_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    )
    silver_path = str(tmp_path / "silver")
    q = stream_normalize_to_silver(
        decode_bronze_kafka(wire_stream),
        silver_path,
        str(tmp_path / "ckpt"),
        audit_ts=F.lit(None).cast("timestamp"),
    ).start()
    q.awaitTermination(120)
    silver = spark.read.parquet(silver_path)
    assert silver.count() == silver.select("id").distinct().count() == 6


def test_kafka_decode_corrupt_payload_yields_nulls(spark):
    """A corrupt message value degrades exactly like a corrupt file line
    (all-null bronze row, dropped by normalize) — never an exception."""
    from spectraplex_spark.streaming.pipeline import decode_bronze_kafka

    kafka_like = spark.createDataFrame(
        [(b"k", b"{not json", "bronze", 0, 0)], WIRE_SCHEMA
    )
    out = decode_bronze_kafka(kafka_like).collect()
    assert len(out) == 1 and out[0].id is None
    assert normalize(decode_bronze_kafka(kafka_like)).count() == 0


def test_kafka_reader_surface(spark):
    """The configured Kafka reader either loads (connector present) with
    the bronze schema, or fails with Spark's missing-data-source error —
    never a silent wrong shape."""
    from spectraplex_spark.schemas import BRONZE_SCHEMA
    from spectraplex_spark.streaming.pipeline import read_bronze_kafka_stream

    try:
        df = read_bronze_kafka_stream(spark, "broker:9092", "bronze")
    except Exception as e:  # noqa: BLE001 — asserting the failure mode
        assert "kafka" in str(e).lower()
    else:
        assert df.schema == BRONZE_SCHEMA


def test_slot_filter(spark, tmp_path):
    landing, rows = _land_bronze(tmp_path)  # slots 100..105
    stream = read_bronze_stream(spark, landing)
    out_path = str(tmp_path / "filtered")
    q = (
        slot_filter(stream, min_slot=103)
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_path)
    assert got.count() == 3  # slots 103,104,105
    assert set(r.tx_hash for r in got.collect()) == {"sig-3", "sig-4", "sig-5"}


def test_windowed_counts_stream_equals_batch(spark, tmp_path):
    """Watermarked tumbling windows over a replayed events stream match
    the same aggregation computed in batch."""
    from spectraplex_spark.plans.registry import table

    events = table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "events_stream")
    events.repartition(4).write.parquet(src)

    stream = spark.readStream.schema(events.schema).option("maxFilesPerTrigger", 2).parquet(src)
    out = windowed_event_counts(stream, "1 day", "1 hour")
    sink = str(tmp_path / "win_out")
    q = (
        out.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r.window_start, r.event_type, r.n, r.sum_value)
        for r in spark.read.parquet(sink).collect()
    }
    batch = (
        events.groupBy(F.window("ts", "1 day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)")).alias("sum_value"),
        )
        .select(F.col("window.start").alias("window_start"), "event_type", "n", "sum_value")
    )
    want = {(r.window_start, r.event_type, r.n, r.sum_value) for r in batch.collect()}
    # append mode emits only watermark-closed windows; everything emitted
    # must match batch, and most windows must have closed
    assert got <= want
    assert len(got) >= len(want) - 5 * 2  # ≤ last windows per type still open
    assert len(got) > 0


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """The streaming dedup variant SURVEY §2.9 maps from the reference's
    ON CONFLICT: dropDuplicatesWithinWatermark keyed on tx_hash, state
    bounded by the watermark (unlike plain dropDuplicates, whose state
    grows forever)."""
    import json as _json

    landing = tmp_path / "dup_landing"
    landing.mkdir()
    raw = solana_tx(pre_balances=[2_000_000_000, 0], post_balances=[1_000_000_000, 0])
    # same tx_hash lands twice (two files -> two micro-batches)
    for f in range(2):
        r = bronze_row(raw, tx_hash="dup-sig")
        (landing / f"b{f}.jsonl").write_text(
            _json.dumps(dict(zip(
                ["id", "user_id", "wallet_address", "timestamp", "tx_hash", "chain", "raw_metadata"],
                (f"id-{f}",) + r[1:7],
            ))) + "\n"
        )
    stream = read_bronze_stream(spark, str(landing), max_files_per_trigger=1)
    deduped = (
        stream.withColumn("event_ts", F.to_timestamp(F.from_unixtime("timestamp")))
        .withWatermark("event_ts", "1 hour")
        .dropDuplicatesWithinWatermark(["tx_hash"])
    )
    out_path = str(tmp_path / "dedup_out")
    q = (
        deduped.drop("event_ts")
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_path).collect()
    assert len(got) == 1 and got[0].tx_hash == "dup-sig"


def test_slot_filter_drops_non_numeric_slot_rows(spark):
    """A present-but-non-numeric slot is a corrupt payload: the row
    drops (try_cast -> NULL comparison), it must not kill the query
    with an ANSI CAST_INVALID_INPUT poison pill (r14 review finding)."""
    from spectraplex_spark.streaming.pipeline import slot_filter

    df = spark.createDataFrame(
        [
            ('{"slot": 50}',),
            ('{"slot": "abc"}',),   # malformed producer
            ('{"slot": 9}',),       # below min_slot
            ('{"noslot": 1}',),
        ],
        "raw_metadata string",
    )
    got = slot_filter(df, min_slot=10).collect()
    assert [r["raw_metadata"] for r in got] == ['{"slot": 50}']
