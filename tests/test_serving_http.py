"""HTTP serving edge: the full reference API loop against a live local
server — ingest over RPC (fixture node) → normalize → read back — plus
route/error parity with api/src/main.rs:30-50.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import threading
import urllib.error
import urllib.request

import pytest

from spectraplex_spark.serving_http import AppState, make_server
from spectraplex_spark.testing.rpc_fixture import WALLET, serve_node
from tests.test_normalize_golden import WALLET as GOLDEN, bronze_row, solana_tx


@pytest.fixture()
def app(spark, tmp_path):
    state = AppState(
        spark,
        bronze_path=str(tmp_path / "bronze"),
        silver_path=str(tmp_path / "silver"),
    )
    server = make_server(state)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{server.server_address[1]}"
    server.shutdown()
    server.server_close()


def _get(url):
    with urllib.request.urlopen(url, timeout=60) as r:
        return r.status, r.read().decode()


def _post(url, payload):
    req = urllib.request.Request(
        url, data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"}, method="POST",
    )
    with urllib.request.urlopen(req, timeout=300) as r:
        return r.status, r.read().decode()


def test_health(app):
    assert _get(f"{app}/health") == (200, "OK")  # main.rs:49-51


def test_full_api_loop(app):
    with serve_node(n_sigs=3) as node:
        # POST /v1/ingest (main.rs:67-87)
        status, body = _post(
            f"{app}/v1/ingest",
            {"chain": "solana", "wallet": WALLET, "rpc_url": node.url},
        )
        assert (status, json.loads(body)) == (200, "Ingested 3 transactions")

        # re-POST: idempotent landing makes the retry a no-op (vs the
        # reference's ON CONFLICT DO NOTHING, repo.rs:26)
        _, body = _post(
            f"{app}/v1/ingest",
            {"chain": "solana", "wallet": WALLET, "rpc_url": node.url},
        )
        assert json.loads(body) == "Ingested 0 transactions"

    # POST /v1/normalize (main.rs:89-112): 3 golden txs → 3 SOL entries
    status, body = _post(f"{app}/v1/normalize", {"wallet": WALLET})
    assert (status, json.loads(body)) == (200, "Normalized 3 ledger entries")

    # GET /v1/transactions/:wallet (main.rs:114-121)
    status, body = _get(f"{app}/v1/transactions/{WALLET}")
    txs = json.loads(body)
    assert status == 200 and len(txs) == 3
    assert [t["timestamp"] for t in txs] == sorted(t["timestamp"] for t in txs)

    # GET /v1/ledger/:wallet (main.rs:123-130): exact golden amount
    status, body = _get(f"{app}/v1/ledger/{WALLET}")
    entries = json.loads(body)
    assert status == 200 and len(entries) == 3
    assert all(e["asset_symbol"] == "SOL" for e in entries)
    assert all(float(e["amount"]) == -0.5 for e in entries)


def test_unknown_route_404_and_bad_request_400(app):
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{app}/v1/nothing")
    assert e.value.code == 404
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(f"{app}/v1/normalize", {})  # missing wallet
    assert e.value.code == 400


# --- r14 review-pass regressions ------------------------------------------


def _post_raw(url, data: bytes):
    req = urllib.request.Request(
        url, data=data,
        headers={"Content-Type": "application/json"}, method="POST",
    )
    with urllib.request.urlopen(req, timeout=60) as r:
        return r.status, r.read().decode()


def test_malformed_json_body_is_400_not_500(app):
    """Client faults map to 400: unparseable body and non-object payload
    (the old broad handler sent both to 500 — r14 review finding)."""
    with pytest.raises(urllib.error.HTTPError) as e:
        _post_raw(f"{app}/v1/normalize", b"{not json")
    assert e.value.code == 400
    assert "not valid JSON" in e.value.read().decode()
    with pytest.raises(urllib.error.HTTPError) as e:
        _post_raw(f"{app}/v1/ingest", b"[1, 2]")
    assert e.value.code == 400
    assert "JSON object" in e.value.read().decode()


def test_non_solana_chain_rejected_400(app):
    """The reference declares but never reads the chain field (`_chain`,
    api/src/main.rs:55) — every ingest runs the Solana adapter, so a
    client asking for another chain would get silently-mislabeled rows.
    Deliberate divergence: loud 400 instead (r14 review finding)."""
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(
            f"{app}/v1/ingest",
            {"chain": "ethereum", "wallet": WALLET, "rpc_url": "http://unused"},
        )
    assert e.value.code == 400
    assert "chain 'ethereum' not supported" in e.value.read().decode()


def test_upstream_fault_is_500_not_400(app):
    """A server/upstream fault (unreachable RPC node) must surface as
    500, never be blamed on the client as 400."""
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(
            f"{app}/v1/ingest",
            # closed port: connection refused -> retries -> RpcError
            {"wallet": WALLET, "rpc_url": "http://127.0.0.1:9"},
        )
    assert e.value.code == 500


def test_missing_fields_still_400_with_field_name(app):
    for payload, missing in [({}, "wallet"), ({"wallet": WALLET}, "rpc_url")]:
        with pytest.raises(urllib.error.HTTPError) as e:
            _post(f"{app}/v1/ingest", payload)
        assert e.value.code == 400
        assert missing in e.value.read().decode()


# --- committed-snapshot reads ---------------------------------------------


def _land(spark, tmp_path, batch: int, n: int = 3) -> None:
    """Land ``n`` fresh transactions of the golden wallet into bronze and
    silver under ``tmp_path``, the path the ``app`` fixture serves."""
    from pyspark.sql import functions as F

    from spectraplex_spark.operators.normalize import normalize
    from spectraplex_spark.schemas import BRONZE_SCHEMA
    from spectraplex_spark.sources.io import write_bronze, write_silver

    rows = [
        bronze_row(
            solana_tx(pre_balances=[(10 + i) * 10**9, 0], post_balances=[9 * 10**9, 10**9]),
            tx_hash=f"b{batch}-{i}",
        )
        for i in range(n)
    ]
    bronze = spark.createDataFrame(rows, BRONZE_SCHEMA)
    write_bronze(bronze, str(tmp_path / "bronze"))
    audit = F.lit("2026-01-02 03:04:05").cast("timestamp")
    write_silver(normalize(bronze, audit_ts=audit), str(tmp_path / "silver"))


def _get_ids(url) -> list[str]:
    status, body = _get(url)
    assert status == 200
    return [r["id"] for r in json.loads(body)]


def test_torn_append_is_never_served(spark, tmp_path, app):
    """A data file on disk that no epoch commits (a writer killed between
    Spark's job commit and the epoch commit) is invisible to every read:
    the serving functions and a live GET return each committed row once."""
    from spectraplex_spark import serving

    _land(spark, tmp_path, 0)
    _land(spark, tmp_path, 1)
    for table in ("bronze", "silver"):
        first = sorted(glob.glob(str(tmp_path / table / "**" / "part-*"), recursive=True))[0]
        shutil.copy(first, os.path.join(os.path.dirname(first), "part-99999-torn.snappy.parquet"))

    for df in (
        serving.ledger_by_wallet(spark, str(tmp_path / "silver"), GOLDEN),
        serving.transactions_by_wallet(spark, str(tmp_path / "bronze"), GOLDEN),
    ):
        ids = [json.loads(r)["id"] for r in serving.to_json_rows(df)]
        assert len(ids) == 6 and len(set(ids)) == 6
    for route in ("ledger", "transactions"):
        ids = _get_ids(f"{app}/v1/{route}/{GOLDEN}")
        assert len(ids) == 6 and len(set(ids)) == 6, route


def test_get_sees_a_batch_landed_between_reads(spark, tmp_path, app):
    """A snapshot reused across GETs is dropped once a new epoch commits."""
    _land(spark, tmp_path, 0)
    assert len(_get_ids(f"{app}/v1/ledger/{GOLDEN}")) == 3
    assert len(_get_ids(f"{app}/v1/transactions/{GOLDEN}")) == 3
    _land(spark, tmp_path, 1, n=2)
    assert len(_get_ids(f"{app}/v1/ledger/{GOLDEN}")) == 5
    assert len(_get_ids(f"{app}/v1/transactions/{GOLDEN}")) == 5


def test_get_before_the_first_epoch_is_empty_200(tmp_path, app, capsys):
    """Tables created by init-tables hold no footer and no epoch yet: a
    GET serves an empty array, not a schema-inference 500."""
    from spectraplex_spark.__main__ import main

    bp, sp = str(tmp_path / "bronze"), str(tmp_path / "silver")
    assert main(["init-tables", "--bronze", bp, "--silver", sp]) == 0
    capsys.readouterr()
    for route in ("ledger", "transactions"):
        assert _get(f"{app}/v1/{route}/{WALLET}") == (200, "[]")
