"""Decode-parity tests for the Yellowstone wire decoder.

The fixture ENCODER below writes protobuf wire format by hand with the
same public field numbers the decoder reads (yellowstone-grpc
geyser.proto + solana-storage confirmed_block proto), so the round trip
exercises real varint/length-delimited framing, packed repeated
scalars, nested messages, and base58 key conversion — not a mock of
the decoder's own internals.

End-to-end: the golden G1 transaction (the reference's own parser
fixture, adapters/tests/solana_parser_test.rs:7-59) is encoded as a
SubscribeUpdate frame, decoded, normalized, and must produce exactly
one SOL entry of exactly -0.5 — the same assertion the file-source
golden test makes, proving the Yellowstone path converges on the same
normalize semantics.
"""

from __future__ import annotations

import struct
from decimal import Decimal

import pytest
from pyspark.sql import functions as F, types as T

from spectraplex_spark.operators.normalize import normalize
from spectraplex_spark.streaming.yellowstone import (
    b58encode,
    decode_subscribe_update,
    decode_yellowstone,
)

# --- minimal wire-format writer (test-only) -------------------------------


def _varint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _tag(fnum: int, wt: int) -> bytes:
    return _varint((fnum << 3) | wt)


def _len_field(fnum: int, payload: bytes) -> bytes:
    return _tag(fnum, 2) + _varint(len(payload)) + payload


def _uint_field(fnum: int, v: int) -> bytes:
    return _tag(fnum, 0) + _varint(v)


def _packed_uint64(fnum: int, vals: list[int]) -> bytes:
    body = b"".join(_varint(v) for v in vals)
    return _len_field(fnum, body)


def _double_field(fnum: int, v: float) -> bytes:
    return _tag(fnum, 1) + struct.pack("<d", v)


WALLET_RAW = bytes([1]) + bytes(31)  # 32-byte pubkey
OTHER_RAW = bytes([2]) + bytes(31)
SIG_RAW = bytes([9]) * 64


def encode_g1_update(
    pre=(10_000_000_000, 0),
    post=(9_500_000_000, 500_000_000),
    fee=5000,
    slot=123_456,
    block_time=1_672_531_200,
    is_vote=False,
    pre_token=(), post_token=(),
) -> bytes:
    header = _uint_field(1, 1) + _uint_field(2, 0) + _uint_field(3, 1)
    message = (
        _len_field(1, header)
        + _len_field(2, WALLET_RAW)
        + _len_field(2, OTHER_RAW)
    )
    tx = _len_field(1, SIG_RAW) + _len_field(2, message)
    meta = (
        _uint_field(2, fee)
        + _packed_uint64(3, list(pre))
        + _packed_uint64(4, list(post))
    )

    def tb(mint, owner, ui, dec, amount, idx):
        uta = _double_field(1, ui) + _uint_field(2, dec) + _len_field(3, amount.encode())
        return (
            _uint_field(1, idx)
            + _len_field(2, mint.encode())
            + _len_field(3, uta)
            + _len_field(4, owner.encode())
        )

    for t in pre_token:
        meta += _len_field(7, tb(*t))
    for t in post_token:
        meta += _len_field(8, tb(*t))
    info = (
        _len_field(1, SIG_RAW)
        + (_uint_field(2, 1) if is_vote else b"")
        + _len_field(3, tx)
        + _len_field(4, meta)
        + _uint_field(5, 7)
    )
    tx_update = _len_field(1, info) + _uint_field(2, slot)
    ts = _uint_field(1, block_time)
    return _len_field(4, tx_update) + _len_field(11, ts)


WALLET_B58 = b58encode(WALLET_RAW)
OTHER_B58 = b58encode(OTHER_RAW)
SIG_B58 = b58encode(SIG_RAW)


def test_decode_round_trip_golden_shape():
    tx = decode_subscribe_update(encode_g1_update())
    assert tx is not None
    assert tx["slot"] == 123_456
    assert tx["index"] == 7
    assert tx["blockTime"] == 1_672_531_200
    assert tx["transaction"]["signatures"] == [SIG_B58]
    keys = tx["transaction"]["message"]["accountKeys"]
    assert [k["pubkey"] for k in keys] == [WALLET_B58, OTHER_B58]
    assert keys[0]["signer"] and keys[0]["writable"]
    assert not keys[1]["signer"] and not keys[1]["writable"]  # ro_unsigned=1
    assert tx["meta"]["fee"] == 5000
    assert tx["meta"]["preBalances"] == [10_000_000_000, 0]
    assert tx["meta"]["postBalances"] == [9_500_000_000, 500_000_000]
    assert tx["meta"]["err"] is None


def test_decode_token_balances():
    mint = "M" * 43
    tok = ((mint, WALLET_B58, 1.5, 6, "1500000", 1),)
    tx = decode_subscribe_update(encode_g1_update(pre_token=(), post_token=tok))
    tb = tx["meta"]["postTokenBalances"][0]
    assert tb["mint"] == mint
    assert tb["owner"] == WALLET_B58
    assert tb["accountIndex"] == 1
    assert tb["uiTokenAmount"] == {"uiAmount": 1.5, "decimals": 6, "amount": "1500000"}


def test_vote_and_non_transaction_frames_skipped():
    assert decode_subscribe_update(encode_g1_update(is_vote=True)) is None
    # a slot-update frame (oneof field 3) carries no transaction
    slot_frame = _len_field(3, _uint_field(1, 42))
    assert decode_subscribe_update(slot_frame) is None


_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
    ]
)


def test_yellowstone_to_normalize_golden(spark):
    """Wire frame → decode → normalize must reproduce the reference's
    golden parser result: ONE SOL entry of exactly -0.5 for the fee
    payer (solana_parser_test.rs:7-59)."""
    # wrong WIRE TYPE: slot (varint field 2) sent length-delimited —
    # int(bytes) inside the decoder must be contained per-frame
    wrong_wire = _len_field(4, _len_field(2, b"x"))
    # structurally valid tx whose created_at is an absurd epoch (2^61 s):
    # the row must land, but with created_at nulled, not year-73-billion
    absurd_ts = encode_g1_update(slot=999_999, block_time=2**61)
    frames = spark.createDataFrame(
        [
            (None, encode_g1_update(), "yellowstone", 0, 0),
            (None, b"\x01\x02garbage", "yellowstone", 0, 1),  # unreadable
            (None, encode_g1_update(is_vote=True), "yellowstone", 0, 2),
            (None, wrong_wire, "yellowstone", 0, 3),
            (None, absurd_ts, "yellowstone", 0, 4),
        ],
        _FRAME_SCHEMA,
    )
    bronze = decode_yellowstone(frames)
    rows = {r["id"]: r for r in bronze.collect()}
    assert set(rows) == {"123456-7", "999999-7"}
    golden = rows["123456-7"]
    assert golden["wallet_address"] == WALLET_B58
    assert golden["tx_hash"] == SIG_B58
    assert golden["chain"] == "solana"
    assert golden["created_at"] is not None
    assert rows["999999-7"]["created_at"] is None
    silver = normalize(bronze).collect()
    assert len(silver) == 2  # golden + the absurd-ts twin, same tx body
    for e in silver:
        assert e["asset_symbol"] == "SOL"
        assert e["amount"] == Decimal("-0.5")
        assert e["wallet_address"] == WALLET_B58


def test_yellowstone_streaming_smoke(spark, tmp_path):
    """The same decode runs under Structured Streaming (mapInPandas is
    streaming-safe): frames land as parquet, stream through decode, and
    the micro-batch sink sees the bronze row."""
    src = tmp_path / "frames"
    spark.createDataFrame(
        [(None, encode_g1_update(), "yellowstone", 0, 0)], _FRAME_SCHEMA
    ).write.parquet(str(src))
    stream = spark.readStream.schema(_FRAME_SCHEMA).parquet(str(src))
    out: list = []
    q = (
        decode_yellowstone(stream)
        .writeStream.foreachBatch(lambda df, _id: out.extend(df.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert [r["tx_hash"] for r in out] == [SIG_B58]


def test_yellowstone_kafka_reader_surface(spark):
    """The configured Yellowstone-over-Kafka reader either loads
    (connector present) with the bronze schema, or fails with Spark's
    missing-data-source error — never a silent wrong shape."""
    from spectraplex_spark.schemas import BRONZE_SCHEMA
    from spectraplex_spark.streaming.pipeline import read_yellowstone_kafka_stream

    try:
        df = read_yellowstone_kafka_stream(spark, "broker:9092", "yellowstone")
    except Exception as e:  # noqa: BLE001 — asserting the failure mode
        assert "kafka" in str(e).lower()
    else:
        assert df.schema == BRONZE_SCHEMA


def test_yellowstone_stream_to_silver_end_to_end(spark, tmp_path):
    """Full live-subscription composition, broker-less: wire frames →
    decode_yellowstone → stream_normalize_to_silver → idempotent silver
    parquet, read back independently with DuckDB."""
    import duckdb
    from pyspark.sql import functions as F

    from spectraplex_spark.streaming.pipeline import stream_normalize_to_silver
    from spectraplex_spark.streaming.yellowstone import decode_yellowstone

    src = tmp_path / "frames"
    spark.createDataFrame(
        [
            (None, encode_g1_update(), "yellowstone", 0, 0),
            (None, b"junk-frame", "yellowstone", 0, 1),
        ],
        _FRAME_SCHEMA,
    ).write.parquet(str(src))
    wire_stream = spark.readStream.schema(_FRAME_SCHEMA).parquet(str(src))
    silver_path = str(tmp_path / "silver")
    q = stream_normalize_to_silver(
        decode_yellowstone(wire_stream),
        silver_path,
        str(tmp_path / "ckpt"),
        audit_ts=F.lit("2024-01-01 00:00:00").cast("timestamp"),
    ).start()
    q.awaitTermination(120)
    rows = duckdb.sql(
        f"SELECT wallet_address, asset_symbol, CAST(amount AS DOUBLE) AS a "
        f"FROM '{silver_path}/*/*.parquet'"
    ).fetchall()
    assert rows == [(WALLET_B58, "SOL", -0.5)]


from hypothesis import given, settings, strategies as st


@st.composite
def _tx_params(draw):
    n_accounts = draw(st.integers(min_value=1, max_value=6))
    return {
        "pre": tuple(draw(st.lists(st.integers(0, 2**62), min_size=n_accounts, max_size=n_accounts))),
        "post": tuple(draw(st.lists(st.integers(0, 2**62), min_size=n_accounts, max_size=n_accounts))),
        "fee": draw(st.integers(0, 10**9)),
        "slot": draw(st.integers(0, 2**40)),
        "block_time": draw(st.integers(0, 2**31 - 1)),
    }


@settings(max_examples=50, deadline=None)
@given(_tx_params())
def test_decode_round_trip_property(params):
    """Whatever balances/fee/slot the encoder writes, the decoder reads
    back exactly — varint boundaries (7-bit group edges), packed
    repeated scalars, and nested framing included."""
    tx = decode_subscribe_update(
        encode_g1_update(
            pre=params["pre"],
            post=params["post"],
            fee=params["fee"],
            slot=params["slot"],
            block_time=params["block_time"],
        )
    )
    assert tx["slot"] == params["slot"]
    assert tx["blockTime"] == params["block_time"]
    assert tx["meta"]["fee"] == params["fee"]
    assert tx["meta"]["preBalances"] == list(params["pre"])
    assert tx["meta"]["postBalances"] == list(params["post"])


# --- account-update and block-metadata frame families ---------------------

from spectraplex_spark.streaming.yellowstone import (  # noqa: E402
    decode_account_update,
    decode_block_meta,
    decode_yellowstone_accounts,
    decode_yellowstone_blocks,
    frame_kind,
)

OWNER_RAW = bytes([3]) + bytes(31)
OWNER_B58 = b58encode(OWNER_RAW)


def encode_account_update(
    pubkey=WALLET_RAW,
    lamports=2_039_280,
    owner=OWNER_RAW,
    executable=False,
    rent_epoch=361,
    data=b"\x01\x02\x03\x04",
    write_version=991,
    txn_signature=SIG_RAW,
    slot=123_456,
    is_startup=False,
    created_at=1_672_531_200,
) -> bytes:
    info = (
        _len_field(1, pubkey)
        + _uint_field(2, lamports)
        + _len_field(3, owner)
        + (_uint_field(4, 1) if executable else b"")
        + _uint_field(5, rent_epoch)
        + _len_field(6, data)
        + _uint_field(7, write_version)
        + (_len_field(8, txn_signature) if txn_signature else b"")
    )
    acct = (
        _len_field(1, info)
        + _uint_field(2, slot)
        + (_uint_field(3, 1) if is_startup else b"")
    )
    return _len_field(2, acct) + _len_field(11, _uint_field(1, created_at))


def encode_block_meta(
    slot=123_456,
    blockhash="B" * 43,
    block_time=1_672_531_200,
    block_height=110_000,
    parent_slot=123_455,
    parent_blockhash="P" * 43,
    executed_transaction_count=1_234,
    entries_count=64,
    created_at=1_672_531_201,
) -> bytes:
    bm = (
        _uint_field(1, slot)
        + _len_field(2, blockhash.encode())
        + _len_field(4, _uint_field(1, block_time))
        + _len_field(5, _uint_field(1, block_height))
        + _uint_field(6, parent_slot)
        + _len_field(7, parent_blockhash.encode())
        + _uint_field(8, executed_transaction_count)
        + _uint_field(9, entries_count)
    )
    return _len_field(7, bm) + _len_field(11, _uint_field(1, created_at))


def test_account_update_round_trip():
    d = decode_account_update(encode_account_update())
    assert d == {
        "pubkey": WALLET_B58,
        "lamports": 2_039_280,
        "owner": OWNER_B58,
        "executable": False,
        "rent_epoch": 361,
        "data": b"\x01\x02\x03\x04",
        "write_version": 991,
        "txn_signature": SIG_B58,
        "slot": 123_456,
        "is_startup": False,
        "created_at": 1_672_531_200,
    }
    # a transaction frame is not an account frame, and vice versa
    assert decode_account_update(encode_g1_update()) is None
    assert decode_subscribe_update(encode_account_update()) is None


def test_block_meta_round_trip():
    d = decode_block_meta(encode_block_meta())
    assert d == {
        "slot": 123_456,
        "blockhash": "B" * 43,
        "block_time": 1_672_531_200,
        "block_height": 110_000,
        "parent_slot": 123_455,
        "parent_blockhash": "P" * 43,
        "executed_transaction_count": 1_234,
        "entries_count": 64,
        "created_at": 1_672_531_201,
    }
    assert decode_block_meta(encode_g1_update()) is None
    assert decode_subscribe_update(encode_block_meta()) is None


def test_frame_kind_classifies_all_families():
    assert frame_kind(encode_g1_update()) == "transaction"
    assert frame_kind(encode_account_update()) == "account"
    assert frame_kind(encode_block_meta()) == "block_meta"
    assert frame_kind(_len_field(3, _uint_field(1, 42))) is None  # slot frame


def test_mixed_stream_splits_per_family(spark):
    """One subscription stream carrying all three families: each
    per-family decoder lands exactly its own frames, junk dropped."""
    frames = spark.createDataFrame(
        [
            (None, encode_g1_update(), "yellowstone", 0, 0),
            (None, encode_account_update(), "yellowstone", 0, 1),
            (None, encode_block_meta(), "yellowstone", 0, 2),
            (None, b"\x05junk", "yellowstone", 0, 3),
            (None, _len_field(2, _uint_field(2, 1)), "yellowstone", 0, 4),  # acct, no info
        ],
        _FRAME_SCHEMA,
    )
    tx = decode_yellowstone(frames).collect()
    accts = decode_yellowstone_accounts(frames).collect()
    blocks = decode_yellowstone_blocks(frames).collect()
    assert [r["tx_hash"] for r in tx] == [SIG_B58]
    assert [(r["pubkey"], r["lamports"], r["owner"]) for r in accts] == [
        (WALLET_B58, 2_039_280, OWNER_B58)
    ]
    assert accts[0]["data"] == bytearray(b"\x01\x02\x03\x04")
    assert accts[0]["created_at"] is not None
    assert [(r["slot"], r["block_height"], r["executed_transaction_count"]) for r in blocks] == [
        (123_456, 110_000, 1_234)
    ]
    assert blocks[0]["block_time"] is not None


@settings(max_examples=50, deadline=None)
@given(
    lamports=st.integers(0, 2**62),
    write_version=st.integers(0, 2**62),
    slot=st.integers(0, 2**40),
    rent_epoch=st.integers(0, 2**62),
    data=st.binary(min_size=0, max_size=64),
    executable=st.booleans(),
    is_startup=st.booleans(),
)
def test_account_round_trip_property(
    lamports, write_version, slot, rent_epoch, data, executable, is_startup
):
    d = decode_account_update(
        encode_account_update(
            lamports=lamports,
            write_version=write_version,
            slot=slot,
            rent_epoch=rent_epoch,
            data=data,
            executable=executable,
            is_startup=is_startup,
        )
    )
    assert (d["lamports"], d["write_version"], d["slot"], d["rent_epoch"]) == (
        lamports, write_version, slot, rent_epoch
    )
    assert d["data"] == data
    assert d["executable"] is executable
    assert d["is_startup"] is is_startup


@settings(max_examples=30, deadline=None)
@given(st.binary(min_size=0, max_size=200))
def test_family_decoders_never_crash_on_junk(raw):
    for dec in (decode_account_update, decode_block_meta, frame_kind):
        try:
            out = dec(raw)
        except (ValueError, IndexError, UnicodeDecodeError, struct.error):
            continue
        assert out is None or isinstance(out, (dict, str))


@settings(max_examples=30, deadline=None)
@given(st.binary(min_size=0, max_size=200))
def test_decoder_never_crashes_on_junk(raw):
    """Arbitrary bytes either decode to a dict/None or raise the
    ValueError/IndexError family the DataFrame stage catches — never an
    unhandled crash type."""
    try:
        out = decode_subscribe_update(raw)
    except (ValueError, IndexError, UnicodeDecodeError, struct.error):
        return
    assert out is None or isinstance(out, dict)


def test_u64_wire_values_never_kill_the_batch(spark):
    """r13 review: u64 wire values >= 2^63 crossed into Arrow LongType
    OUTSIDE the per-frame try and killed the whole query. rent_epoch =
    u64::MAX is the STANDARD value for rent-exempt mainnet accounts —
    it must CLAMP to int64 max (the sentinel keeps its 'huge' meaning);
    a >=2^63 lamports/write_version/slot is corrupt and drops ONLY that
    frame; and a corrupt huge blockTime lands with timestamp derived
    from the sanitized value (0), not a year-73-billion epoch."""
    from spectraplex_spark.streaming.yellowstone import (
        decode_yellowstone,
        decode_yellowstone_accounts,
    )

    u64max = 2**64 - 1
    frames = spark.createDataFrame(
        [
            # the standard rent-exempt sentinel: must land, clamped
            (None, encode_account_update(rent_epoch=u64max, write_version=1), "t", 0, 0),
            # corrupt huge lamports: only this frame drops
            (None, encode_account_update(lamports=2**63, slot=2, write_version=2), "t", 0, 1),
            (None, encode_account_update(lamports=5, slot=3, write_version=3), "t", 0, 2),
        ],
        _FRAME_SCHEMA,
    )
    rows = decode_yellowstone_accounts(frames).collect()
    by_wv = {r["write_version"]: r for r in rows}
    assert set(by_wv) == {1, 3}
    assert by_wv[1]["rent_epoch"] == 2**63 - 1  # clamped sentinel
    assert by_wv[3]["lamports"] == 5
    # tx path: absurd blockTime -> created_at NULL and timestamp 0
    tx = spark.createDataFrame(
        [(None, encode_g1_update(slot=7, block_time=2**61), "t", 0, 0)],
        _FRAME_SCHEMA,
    )
    r = decode_yellowstone(tx).collect()[0]
    assert r["created_at"] is None and r["timestamp"] == 0
