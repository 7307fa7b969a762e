"""Idempotent-append protocol (K1/K2) + JSONL round trip (S3/K3)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from spectraplex_spark.schemas import BRONZE_SCHEMA
from spectraplex_spark.sources.io import (
    idempotent_append,
    read_bronze_jsonl,
    write_bronze,
    write_jsonl,
)


def _bronze_rows(spark, ids):
    rows = [
        (f"id-{i}", "u", f"wallet-{i % 3}", 1672531200 + i, f"sig-{i}", "solana", "{}", None)
        for i in ids
    ]
    return spark.createDataFrame(rows, BRONZE_SCHEMA)


def test_idempotent_append_dedups_across_batches(spark, tmp_path):
    target = str(tmp_path / "bronze")
    df1 = _bronze_rows(spark, range(10))
    assert idempotent_append(df1, target) == 10
    # replay the same batch → ON CONFLICT DO NOTHING semantics
    assert idempotent_append(df1, target) == 0
    # overlapping batch → only the new ids land
    df2 = _bronze_rows(spark, range(5, 15))
    assert idempotent_append(df2, target) == 5
    assert spark.read.parquet(target).count() == 15
    assert spark.read.parquet(target).select("id").distinct().count() == 15


def test_idempotent_append_dedups_within_batch(spark, tmp_path):
    target = str(tmp_path / "bronze")
    df = _bronze_rows(spark, [1, 1, 2, 2, 3])
    assert idempotent_append(df, target) == 3


def test_write_bronze_partition_layout(spark, tmp_path):
    target = str(tmp_path / "bronze")
    n = write_bronze(_bronze_rows(spark, range(4)), target)
    assert n == 4
    back = spark.read.parquet(target)
    assert {"chain", "ingest_date"} <= set(back.columns)
    # partition pruning predicate works (chain is a partition dir)
    assert back.filter(F.col("chain") == "solana").count() == 4
    assert back.filter(F.col("chain") == "ethereum").count() == 0


def test_jsonl_round_trip(spark, tmp_path):
    path = str(tmp_path / "out.jsonl")
    df = _bronze_rows(spark, range(6))
    write_jsonl(df.drop("created_at"), path)
    back = read_bronze_jsonl(spark, path)
    assert back.count() == 6
    assert sorted(r.id for r in back.collect()) == sorted(f"id-{i}" for i in range(6))


def test_jsonl_corrupt_line_does_not_abort(spark, tmp_path):
    path = tmp_path / "mixed.jsonl"
    good = {
        "id": "a", "user_id": "u", "wallet_address": "w", "timestamp": 1,
        "tx_hash": "h", "chain": "solana", "raw_metadata": "{}",
    }
    path.write_text(json.dumps(good) + "\n" + "{broken\n")
    df = read_bronze_jsonl(spark, str(path))
    assert df.count() == 2  # corrupt line → all-null row, read survives
    assert df.filter(F.col("id").isNotNull()).count() == 1


def test_land_with_quarantine_splits_and_replays(spark, tmp_path):
    """Good rows reach silver, corrupt rows reach quarantine with a
    reason, and replaying the same batch appends nothing to either lane."""
    from pyspark.sql import functions as F

    from spectraplex_spark.schemas import BRONZE_SCHEMA
    from spectraplex_spark.sources.io import land_with_quarantine
    from tests.test_normalize_golden import bronze_row, solana_tx

    rows = [
        bronze_row(
            solana_tx(pre_balances=[2_000_000_000, 0], post_balances=[1_000_000_000, 0]),
            tx_hash="good",
        ),
        bronze_row("{corrupt json", tx_hash="bad"),
    ]
    bronze = spark.createDataFrame(rows, BRONZE_SCHEMA)
    silver_path = str(tmp_path / "silver")
    quarantine_path = str(tmp_path / "quarantine")
    ts = F.lit("2026-01-01 00:00:00").cast("timestamp")

    n_silver, n_bad = land_with_quarantine(bronze, silver_path, quarantine_path, audit_ts=ts)
    assert (n_silver, n_bad) == (1, 1)
    q = spark.read.parquet(quarantine_path).collect()
    assert len(q) == 1 and q[0].tx_hash == "bad"
    assert q[0].reason == "unparseable raw_metadata"
    assert q[0].raw_metadata == "{corrupt json"  # evidence kept verbatim

    # replay: both lanes idempotent
    n_silver2, n_bad2 = land_with_quarantine(bronze, silver_path, quarantine_path, audit_ts=ts)
    assert (n_silver2, n_bad2) == (0, 0)
    assert spark.read.parquet(silver_path).count() == 1
    assert spark.read.parquet(quarantine_path).count() == 1


def test_land_with_quarantine_fiat_enrichment(spark, tmp_path):
    """With a price series, the landing populates fiat_value (amount x
    latest at-or-before price, as-of semantics); assets with no prior
    price keep the reference's null."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from spectraplex_spark.schemas import BRONZE_SCHEMA
    from spectraplex_spark.sources.io import land_with_quarantine
    from tests.test_normalize_golden import MINT_A, WALLET, bronze_row, solana_tx, token_balance

    rows = [
        bronze_row(  # SOL delta -1.0 at created_at 2026-01-01
            solana_tx(pre_balances=[2_000_000_000, 0], post_balances=[1_000_000_000, 0]),
            tx_hash="sol",
        ),
        bronze_row(  # SPL delta +2.5, asset MINT_A: no price -> null fiat
            solana_tx(
                pre_balances=[1, 1],
                post_balances=[1, 1],
                pre_token=[token_balance(MINT_A, WALLET, 5.0)],
                post_token=[token_balance(MINT_A, WALLET, 7.5)],
            ),
            tx_hash="spl",
        ),
    ]
    bronze = spark.createDataFrame(rows, BRONZE_SCHEMA)
    prices = spark.createDataFrame(
        [
            ("SOL", "2025-12-31 00:00:00", 100.0),  # superseded
            ("SOL", "2026-01-01 00:00:00", 150.0),  # as-of match (<=)
            ("SOL", "2026-01-02 00:00:00", 999.0),  # in the future: ignored
        ],
        "asset_symbol string, price_ts string, price double",
    ).withColumn("price_ts", F.col("price_ts").cast("timestamp"))
    ts = F.lit("2026-01-01 00:00:00").cast("timestamp")

    n_silver, n_bad = land_with_quarantine(
        bronze, str(tmp_path / "s"), str(tmp_path / "q"), audit_ts=ts, prices=prices
    )
    assert (n_silver, n_bad) == (2, 0)
    got = {r.transaction_id: r for r in spark.read.parquet(str(tmp_path / "s")).collect()}
    assert got["tx-sol"].fiat_value == Decimal("-150")  # -1.0 * 150
    assert got["tx-spl"].fiat_value is None  # no price series for the mint


def test_orc_round_trip_binary_exact(spark, tmp_path):
    """ORC round-trip preserves timestamps/doubles/decimals bit-exactly
    (binary format — no text-format truncation hazard to configure away)."""
    import datetime
    from decimal import Decimal

    from pyspark.sql import types as T

    from spectraplex_spark.sources.io import read_orc, write_orc

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.DoubleType()),
            T.StructField("d", T.DecimalType(38, 18)),
            T.StructField("ts", T.TimestampType()),
            T.StructField("s", T.StringType()),
        ]
    )
    rows = [
        (1, 0.1 + 0.2, Decimal("1.000000000000000001"),
         datetime.datetime(2026, 1, 2, 3, 4, 5, 123456), 'quote " comma , nl \n end'),
        (2, float("1e-308"), None, None, None),
    ]
    df = spark.createDataFrame(rows, schema)
    path = str(tmp_path / "orc_rt")
    write_orc(df, path)
    back = read_orc(spark, path, schema)
    assert sorted(back.collect()) == sorted(df.collect())


def test_append_schema_guard_rejects_forks_allows_reorder(spark, tmp_path):
    """A batch whose column set or non-partition types diverge from the
    table must be refused LOUDLY (parquet append would otherwise fork the
    schema silently); column ORDER differences are legal (parquet matches
    by name), and partition columns are name-checked only (their read-back
    type rides partition-value inference)."""
    import pytest

    from spectraplex_spark.sources.commit import TableInconsistentError
    from spectraplex_spark.sources.io import idempotent_append

    path = str(tmp_path / "t")
    ok = spark.createDataFrame([(1, "v1", "a")], "id long, v string, part string")
    assert idempotent_append(ok, path, partition_by=("part",)) == 1

    # reordered columns: legal, appends
    reordered = spark.createDataFrame([("b", "v2", 2)], "part string, v string, id long")
    assert idempotent_append(reordered, path, partition_by=("part",)) == 1

    # retyped non-partition column: refused
    retyped = spark.createDataFrame([(3, 7, "a")], "id long, v int, part string")
    with pytest.raises(TableInconsistentError, match="schema"):
        idempotent_append(retyped, path, partition_by=("part",))

    # missing / extra column: refused
    extra = spark.createDataFrame(
        [(4, "v4", "a", "x")], "id long, v string, part string, surprise string"
    )
    with pytest.raises(TableInconsistentError, match="schema"):
        idempotent_append(extra, path, partition_by=("part",))

    from spectraplex_spark.sources.commit import read_committed_epochs

    assert read_committed_epochs(spark, path).count() == 2


def test_idempotent_append_null_id_replay_is_noop(spark, tmp_path):
    """A corrupt all-null row must not re-append on replay: the
    anti-join is null-safe (review finding)."""
    from spectraplex_spark.sources.io import idempotent_append

    p = str(tmp_path / "t")
    batch = spark.createDataFrame(
        [(None, "x"), (1, "a")], "id long, v string"
    )
    assert idempotent_append(batch, p, id_col="id") == 2
    # exact replay: both the real and the null-id row are no-ops
    assert idempotent_append(batch, p, id_col="id") == 0
    assert spark.read.parquet(p).count() == 2


def test_parse_failures_surfaces_corrupt_lines(spark, tmp_path):
    """An all-null PERMISSIVE row (corrupt JSONL line) lands in the
    quarantine lane instead of vanishing (review finding)."""
    import json

    from spectraplex_spark.schemas import BRONZE_SCHEMA
    from spectraplex_spark.sources.io import land_with_quarantine, read_bronze_jsonl

    src = tmp_path / "bronze.jsonl"
    cols = [f.name for f in BRONZE_SCHEMA.fields]
    good = dict(zip(cols, ["id-1", "u", "w", 1672531200, "sig", "eth", "{}", None]))
    with open(src, "w") as fh:
        fh.write(json.dumps(good) + "\n")
        fh.write("{this line is not json\n")
    bronze = read_bronze_jsonl(spark, str(src))
    n_silver, n_bad = land_with_quarantine(
        bronze, str(tmp_path / "silver"), str(tmp_path / "quarantine")
    )
    q = spark.read.parquet(str(tmp_path / "quarantine")).collect()
    assert n_bad == 1
    assert any(r["reason"] == "corrupt bronze line" for r in q)


def test_idempotent_append_rejects_partition_layout_drift(spark, tmp_path):
    """r13 review: the schema guard cannot see partition-BY drift (the
    name+type sets are identical either way), but a flat append into a
    partitioned table lands files at the wrong directory depth and
    breaks every later read AFTER committing. The layout guard refuses
    both directions before anything lands."""
    import pytest

    from spectraplex_spark.sources.commit import TableInconsistentError
    from spectraplex_spark.sources.io import idempotent_append

    part = str(tmp_path / "part_table")
    df = spark.createDataFrame(
        [(1, "a", "d1"), (2, "b", "d2")], "id long, v string, day string"
    )
    assert idempotent_append(df, part, partition_by=("day",)) == 2
    with pytest.raises(TableInconsistentError, match="partitioned by"):
        idempotent_append(df, part, partition_by=())
    flat = str(tmp_path / "flat_table")
    assert idempotent_append(df, flat) == 2
    with pytest.raises(TableInconsistentError, match="partitioned by"):
        idempotent_append(df, flat, partition_by=("day",))
    # matching layouts still replay as no-ops
    assert idempotent_append(df, part, partition_by=("day",)) == 0
    assert idempotent_append(df, flat) == 0


# The append counts its rows through an observation on its write, and
# ``Observation.get`` blocks until the metrics arrive: each call below
# runs under a deadline so a lost observation fails instead of hanging.
APPEND_DEADLINE_S = 120


def _append_within_deadline(*args, **kwargs) -> int:
    import threading

    from spectraplex_spark.sources.io import idempotent_append

    out: dict = {}

    def run():
        try:
            out["n"] = idempotent_append(*args, **kwargs)
        except BaseException as e:  # re-raised in the test's thread
            out["error"] = e

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(APPEND_DEADLINE_S)
    assert not t.is_alive(), f"idempotent_append still running after {APPEND_DEADLINE_S}s"
    if "error" in out:
        raise out["error"]
    return out["n"]


def _table_state(path: str) -> dict[str, bytes]:
    """Every file under ``path`` (data, checksums, markers and epoch
    manifests) with its content."""
    import os

    state = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                state[os.path.relpath(p, path)] = fh.read()
    return state


def test_replay_leaves_flat_and_partitioned_targets_unchanged(spark, tmp_path):
    """A replay admits no rows, so it commits no epoch and adds no file:
    not even the schema-only part file Spark writes for an empty flat
    write."""
    import os

    batch = _bronze_rows(spark, range(6))
    for name, partition_by in (("flat", ()), ("partitioned", ("chain",))):
        path = str(tmp_path / name)
        assert _append_within_deadline(batch, path, partition_by=partition_by) == 6
        before = _table_state(path)
        assert any(f.startswith("_spectraplex_epochs") for f in before)
        assert _append_within_deadline(batch, path, partition_by=partition_by) == 0
        assert _table_state(path) == before
        assert len(os.listdir(os.path.join(path, "_spectraplex_epochs"))) == 1


def test_zero_row_first_append_leaves_no_directory(spark, tmp_path):
    """A first append that admits nothing creates no table; into an
    existing directory that holds no table yet it adds nothing."""
    import os

    empty = spark.createDataFrame([], BRONZE_SCHEMA)
    for partition_by in ((), ("chain",)):
        path = str(tmp_path / f"new-{len(partition_by)}")
        assert _append_within_deadline(empty, path, partition_by=partition_by) == 0
        assert not os.path.exists(path)
    bare = tmp_path / "bare"
    bare.mkdir()
    assert _append_within_deadline(empty, str(bare)) == 0
    assert os.listdir(bare) == []


def test_empty_and_all_duplicate_batches_return_zero(spark, tmp_path):
    """An input frame with no rows (and no partitions) and a batch whose
    every row duplicates a landed id both count 0 through the write."""
    path = str(tmp_path / "t")
    assert _append_within_deadline(_bronze_rows(spark, [1, 2]), path) == 2
    assert _append_within_deadline(spark.createDataFrame([], BRONZE_SCHEMA), path) == 0
    assert _append_within_deadline(_bronze_rows(spark, [1, 1, 2, 2]), path) == 0
    assert spark.read.parquet(path).count() == 2


def test_zero_row_append_keeps_a_batch_landed_during_it(spark, tmp_path, monkeypatch):
    """Another writer lands a batch and commits its epoch while a replay
    writes its empty batch; the replay's clean-up removes only what its
    own empty write produced, so the other batch stays committed. The
    same holds when the empty append is the one that created the
    directory."""
    from pyspark.sql.readwriter import DataFrameWriter

    from spectraplex_spark.sources.commit import read_committed_epochs, validate_epochs

    write = DataFrameWriter.parquet
    for name, seeded in (("existing", True), ("fresh", False)):
        path = str(tmp_path / name)
        if seeded:
            assert _append_within_deadline(_bronze_rows(spark, range(4)), path) == 4

        def write_then_land(self, p, *a, **kw):
            write(self, p, *a, **kw)
            monkeypatch.setattr(DataFrameWriter, "parquet", write)
            assert idempotent_append(_bronze_rows(spark, range(4, 8)), path) == 4

        monkeypatch.setattr(DataFrameWriter, "parquet", write_then_land)
        replay = _bronze_rows(spark, range(4)) if seeded else spark.createDataFrame(
            [], BRONZE_SCHEMA
        )
        assert _append_within_deadline(replay, path) == 0
        validate_epochs(path)
        ids = sorted(r["id"] for r in read_committed_epochs(spark, path).collect())
        assert ids == [f"id-{i}" for i in (range(8) if seeded else range(4, 8))]
