"""Connector tests against the localhost JSON-RPC fixture node
(spectraplex_spark/testing/rpc_fixture.py). The container has no
outbound network, so the fixture plays the Solana node with programmable
fault injection, to pin the retry / rate-limit / log-and-skip semantics of
adapters/src/solana.rs:23-58.
"""

from __future__ import annotations

import json

import pytest

from spectraplex_spark.sources.connector import (
    RpcError,
    SolanaRpcClient,
    fetch_history,
    fetch_wallet_batch,
    ingest_history,
)
from spectraplex_spark.sources.ingest import conform_to_bronze, RAW_FETCH_SCHEMA
from spectraplex_spark.testing.rpc_fixture import WALLET, _sig, serve_node


@pytest.fixture()
def node():
    with serve_node() as state:
        yield state


def _client(node, **kw):
    kw.setdefault("backoff_s", 0.001)
    return SolanaRpcClient(node.url, **kw)


def test_fetch_history_happy_path(node):
    rows = fetch_history(_client(node), WALLET, limit=5)
    assert [r["signature"] for r in rows] == [_sig(i) for i in range(5)]
    assert all(r["response_json"] for r in rows)
    assert json.loads(rows[0]["response_json"])["blockTime"] == 1700000000
    # reference loop shape: 1 signature list + one getTransaction per sig
    assert node.log.count("getSignaturesForAddress") == 1
    assert node.log.count("getTransaction") == 5


def test_signature_pagination_uses_before_cursor(node, monkeypatch):
    monkeypatch.setattr(
        "spectraplex_spark.sources.connector.SIGNATURE_PAGE_CAP", 3
    )
    sigs = _client(node).get_signatures_for_address(WALLET)  # no limit
    assert [s["signature"] for s in sigs] == node.signatures  # 7 across 3 pages
    assert node.log.count("getSignaturesForAddress") == 3


def test_http_429_retried_with_retry_after(node):
    node.http_faults = [429, 503]
    node.retry_after = "0"
    rows = fetch_history(_client(node), WALLET, limit=2)
    assert len(rows) == 2 and all(r["response_json"] for r in rows)


def test_retries_exhaust_to_rpc_error(node):
    node.http_faults = [500] * 10
    with pytest.raises(RpcError, match="exhausted"):
        _client(node, max_retries=2).call("getSignaturesForAddress", [WALLET, {}])
    # 1 initial + 2 retries
    assert len(node.log) == 3


def test_transient_rpc_code_retried(node):
    node.flaky_sigs = {_sig(1): 2}  # -32005 twice, then success
    rows = fetch_history(_client(node), WALLET, limit=2)
    assert rows[1]["response_json"] is not None


def test_broken_sig_becomes_null_row_and_skip_policy(spark, node):
    node.broken_sigs = {_sig(2)}
    rows = fetch_history(_client(node), WALLET, limit=4)
    assert [r["response_json"] is None for r in rows] == [False, False, True, False]
    raw = spark.createDataFrame(rows, schema=RAW_FETCH_SCHEMA)
    # reference parity: log-and-skip (solana.rs:51-53) drops the bad row
    bronze = conform_to_bronze(raw, drop_fetch_errors=True)
    got = {r["tx_hash"]: r["timestamp"] for r in bronze.collect()}
    assert set(got) == {_sig(0), _sig(1), _sig(3)}
    assert got[_sig(3)] == 1700000003


def test_read_timeout_retried_then_succeeds(node):
    """A node that stalls past the client timeout is a TRANSIENT fault:
    the call retries and lands (r10 verdict task #7 — slow-node leg)."""
    node.slow_budget, node.slow_s = 2, 2.0
    c = _client(node, timeout=0.25, max_retries=3)
    rows = fetch_history(c, WALLET, limit=1)
    assert len(rows) == 1 and rows[0]["response_json"] is not None
    # 2 stalled attempts + 1 good signature call, then the tx fetch
    assert c.requests_sent == 4


def test_mid_stream_disconnect_retried(node):
    """A node dying MID-RESPONSE (headers sent, body truncated) surfaces
    as http.client.IncompleteRead — not a URLError. The client must treat
    it as transient and retry, not crash the fetch task (the fault
    injection that motivated widening the transient net)."""
    node.disconnect_budget = 1
    c = _client(node, max_retries=2)
    sigs = c.get_signatures_for_address(WALLET, limit=2)
    assert [s["signature"] for s in sigs] == [_sig(0), _sig(1)]
    assert c.requests_sent == 2  # the cut attempt + the retry


def test_backoff_schedule_exponential_and_retry_after(node):
    """The retry schedule is exact: exponential doubling from backoff_s,
    except a Retry-After header overrides the computed delay."""
    sleeps: list[float] = []
    node.http_faults = [500, 500, 500]
    c = SolanaRpcClient(node.url, backoff_s=0.5, max_retries=3, _sleep=sleeps.append)
    c.call("getSignaturesForAddress", [WALLET, {}])
    assert sleeps == [0.5, 1.0, 2.0]

    sleeps.clear()
    node.http_faults = [429]
    node.retry_after = "3"
    c = SolanaRpcClient(node.url, backoff_s=0.5, max_retries=2, _sleep=sleeps.append)
    c.call("getSignaturesForAddress", [WALLET, {}])
    assert sleeps == [3.0]  # header wins over 0.5 * 2^0


def test_partial_failure_accounting_under_mixed_faults(spark, node):
    """The kitchen-sink run: a stalled request, a mid-stream disconnect,
    an HTTP 503, a permanently broken signature, and a twice-flaky one —
    the fetch still returns one row PER signature with exactly the
    broken one null, and the error rate is queryable in bronze (the
    'error rate lands as data' contract)."""
    node.slow_budget, node.slow_s = 1, 2.0
    node.disconnect_budget = 1
    node.http_faults = [503]
    node.broken_sigs = {_sig(2)}
    node.flaky_sigs = {_sig(4): 2}
    c = _client(node, timeout=0.25, max_retries=4)
    rows = fetch_history(c, WALLET, limit=6)
    assert [r["signature"] for r in rows] == [_sig(i) for i in range(6)]
    assert [r["response_json"] is None for r in rows] == [
        False, False, True, False, False, False,
    ]
    raw = spark.createDataFrame(rows, schema=RAW_FETCH_SCHEMA)
    kept = conform_to_bronze(raw, drop_fetch_errors=True)
    errs = conform_to_bronze(raw, drop_fetch_errors=False).filter(
        "raw_metadata IS NULL"
    )
    assert kept.count() == 5 and errs.count() == 1
    # accounting: every fault consumed extra attempts beyond the 7 calls
    # (1 sig list + 6 tx) a clean run would need
    assert c.requests_sent >= 7 + 1 + 1 + 1 + 2


def test_rate_limit_spaces_requests():
    sleeps: list[float] = []
    clock = [0.0]

    def fake_sleep(s):
        sleeps.append(s)
        clock[0] += s

    c = SolanaRpcClient(
        "http://unused.invalid", max_rps=10.0,
        _sleep=fake_sleep, _clock=lambda: clock[0],
    )
    c._post_once = lambda payload: {"result": []}  # stub transport
    for _ in range(3):
        c.call("getSignaturesForAddress", [WALLET, {}])
    # second and third calls each wait the 0.1s min interval
    assert sleeps == pytest.approx([0.1, 0.1])


def test_ingest_history_end_to_end(spark, node):
    bronze = ingest_history(spark, node.url, WALLET, limit=3)
    out = bronze.orderBy("timestamp").collect()
    assert [r["tx_hash"] for r in out] == [_sig(0), _sig(1), _sig(2)]
    # deterministic ids: re-ingesting yields identical ids (unlike UUIDv4)
    again = ingest_history(spark, node.url, WALLET, limit=3)
    assert {r["id"] for r in out} == {r["id"] for r in again.collect()}


def test_fetch_wallet_batch_distributed(spark, node):
    other = "OtherWallet2222222222222222222222222222222222"
    wallets = spark.createDataFrame(
        [(WALLET,), (other,)], "wallet_address string"
    )
    raw = fetch_wallet_batch(
        wallets, node.url, limit_per_wallet=4, fetch_partitions=2,
        max_rps_per_task=None,
    )
    rows = raw.collect()
    # fixture serves the same history for any wallet: 4 rows each
    assert len(rows) == 8
    assert {r["wallet_address"] for r in rows} == {WALLET, other}
    assert all(r["response_json"] for r in rows)


def test_fetch_wallet_batch_under_faults(spark, node):
    """The DISTRIBUTED fetch path with executor-side clients retrying
    through injected faults: HTTP 503s, transient RPC codes, and one
    permanently broken signature — every wallet still yields one row per
    signature, with exactly the broken signature's rows null across ALL
    wallets (the fixture serves a shared history)."""
    node.http_faults = [503, 429]
    node.retry_after = "0"
    node.flaky_sigs = {_sig(0): 1}
    node.broken_sigs = {_sig(2)}
    other = "OtherWallet2222222222222222222222222222222222"
    wallets = spark.createDataFrame(
        [(WALLET,), (other,)], "wallet_address string"
    )
    raw = fetch_wallet_batch(
        wallets, node.url, limit_per_wallet=4, fetch_partitions=2,
        max_rps_per_task=None, backoff_s=0.001,
    )
    rows = raw.collect()
    assert len(rows) == 8
    nulls = {(r["wallet_address"], r["signature"])
             for r in rows if r["response_json"] is None}
    assert nulls == {(WALLET, _sig(2)), (other, _sig(2))}


def test_datasource_api_partitions_per_wallet(spark):
    """The Python Data Source plans one InputPartition per wallet —
    partition count IS the concurrency/rate-policy knob."""
    from spectraplex_spark.sources.datasource import SolanaRpcDataSource

    spark.dataSource.register(SolanaRpcDataSource)
    with serve_node(3) as node:
        raw = (
            spark.read.format("solana_rpc")
            .option("url", node.url)
            .option("wallets", f"{WALLET},OtherWallet2222222222222222222222222222222")
            .option("limit", 10)
            .load()
        )
        assert raw.rdd.getNumPartitions() == 2
        rows = raw.collect()
    # fixture serves history for any wallet it is asked about
    by_wallet = {}
    for r in rows:
        by_wallet.setdefault(r["wallet_address"], []).append(r)
    assert set(len(v) for v in by_wallet.values()) == {3}


def test_datasource_api_missing_options_raise(spark):
    import pytest as _pytest

    from spectraplex_spark.sources.datasource import SolanaRpcDataSource

    spark.dataSource.register(SolanaRpcDataSource)
    with _pytest.raises(Exception, match="url"):
        spark.read.format("solana_rpc").option("wallets", "w").load().collect()
    with _pytest.raises(Exception, match="wallets"):
        spark.read.format("solana_rpc").option("url", "http://x").load().collect()


# --- r14 review-pass regressions ------------------------------------------


def test_garbage_200_body_retried_then_succeeds(node):
    """A proxy handing back 200 with an HTML page (or a JSON array) must
    be retried like a disconnect, not crash the fetch task with an
    uncontained JSONDecodeError (r14 review finding)."""
    node.garbage_bodies = [b"<html>Bad Gateway</html>", b"[1, 2, 3]"]
    rows = fetch_history(_client(node), WALLET, limit=2)
    assert len(rows) == 2 and all(r["response_json"] for r in rows)


def test_garbage_200_body_exhausts_to_rpc_error(node):
    node.garbage_bodies = [b"not json"] * 10
    with pytest.raises(RpcError, match="exhausted"):
        _client(node, max_retries=2).call("getSignaturesForAddress", [WALLET, {}])


def test_retry_after_http_date_honored(node):
    """RFC 7231 allows Retry-After as an HTTP-date; the old bare
    float() crashed with ValueError on it (r14 review finding). A past
    date clamps to an immediate retry."""
    node.http_faults = [429]
    node.retry_after = "Wed, 21 Oct 2015 07:28:00 GMT"
    rows = fetch_history(_client(node), WALLET, limit=1)
    assert rows and rows[0]["response_json"]


def test_retry_after_seconds_parser():
    from datetime import datetime, timedelta, timezone
    from email.utils import format_datetime

    from spectraplex_spark.sources.connector import _retry_after_seconds

    assert _retry_after_seconds(None) is None
    assert _retry_after_seconds("") is None
    assert _retry_after_seconds("120") == 120.0
    assert _retry_after_seconds("-3") == 0.0
    assert _retry_after_seconds("utter garbage") is None
    assert _retry_after_seconds("Wed, 21 Oct 2015 07:28:00 GMT") == 0.0
    future = format_datetime(datetime.now(timezone.utc) + timedelta(seconds=60))
    v = _retry_after_seconds(future)
    assert v is not None and 0.0 < v <= 61.0


def test_malformed_rpc_error_member_is_non_retryable(node):
    """JSON-RPC says `error` is an object; a node emitting a bare string
    is protocol-broken — loud RpcError, no retry burn."""
    node.handle = lambda req: (
        200,
        {"jsonrpc": "2.0", "id": req["id"], "error": "boom"},
        {},
    )
    with pytest.raises(RpcError, match="malformed rpc error"):
        _client(node).call("getSignaturesForAddress", [WALLET, {}])


def test_datasource_reader_defaults_throttled():
    """The registered data source must default to the fetch_wallet_batch
    per-task rate, not unthrottled (r14 review finding); max_rps=0 is
    the explicit opt-out, and the retry/timeout knobs are reachable."""
    from spectraplex_spark.sources.datasource import _SolanaRpcReader

    r = _SolanaRpcReader({"url": "http://n", "wallets": "w1"})
    assert r.max_rps == 20.0
    assert (r.timeout, r.max_retries, r.backoff_s) == (30.0, 4, 0.5)
    assert _SolanaRpcReader({"url": "http://n", "wallets": "w1", "max_rps": "0"}).max_rps is None
    r2 = _SolanaRpcReader(
        {"url": "http://n", "wallets": "w1", "max_rps": "5",
         "timeout": "7.5", "max_retries": "2", "backoff_s": "0.1"}
    )
    assert (r2.max_rps, r2.timeout, r2.max_retries, r2.backoff_s) == (5.0, 7.5, 2, 0.1)
