"""wallet_api: one closed-loop HTTP client reads per-wallet ledgers and
transactions from ``serving_http.make_server``, started in-process over a
history that set-up lands through the same sinks as ledger_land."""

from __future__ import annotations

import http.client
import json
import random
import threading
from collections import Counter
from decimal import Decimal

from land import Tables
from stats import median
from workload import Clock, Workload, count_files, op_counters

ROUTES = ("ledger", "transactions")
WARMUP_GETS = 4
STRATA = 8
KEY_HEADER = "X-Perfbench-Key"
PARENT_HEADER = "X-Perfbench-Parent"


class WalletApi(Workload):
    name = "wallet_api"
    op_span = "wallet_api.get"
    op_label = "GET, either route"
    primary_kinds = set(ROUTES)
    min_ops = 2 * STRATA
    min_traced_ops = 4

    def __init__(self, seed, area, tracer):
        super().__init__(seed, area, tracer)
        self.server = None
        self.thread = None
        self.rng = random.Random(f"{seed}:requests")
        self._strata: list[float] = []

    def traced_op(self, i: int) -> bool:
        """Trace every other pair of GETs: the routes alternate, so each
        route has traced and untraced GETs."""
        return i // 2 % 2 == 1

    def install(self, tracer) -> None:
        from spectraplex_spark import serving, serving_http

        def rows(span, result):
            span["rows"] = len(result)

        tracer.wrap(serving, "ledger_by_wallet", "serving.ledger_by_wallet")
        tracer.wrap(serving, "transactions_by_wallet", "serving.transactions_by_wallet")
        tracer.wrap(serving, "to_json_rows", "serving.to_json_rows", rows)
        handler = serving_http._Handler
        original = handler.do_GET

        def do_GET(h):
            route = h.path.split("/")[2] if h.path.count("/") >= 3 else "other"
            key, parent = h.headers.get(KEY_HEADER), h.headers.get(PARENT_HEADER)
            with tracer.span(
                f"serving_http.get_{route}",
                key=int(key) if key else None,
                parent=int(parent) if parent else None,
            ):
                original(h)

        tracer.patch(handler, "do_GET", do_GET)

    def setup(self, spark, rep: int) -> None:
        """Each set-up lands one more history batch into the same tables,
        after the session restart, and (re)starts the server on the new
        session. The history the client reads is therefore ``SETUP_REPS``
        landed batches, in the file layout landing produces."""
        from spectraplex_spark import serving_http

        self.close()
        if rep == 0:
            self.tables = Tables(self.area.table_dir("api"), self.seed)
        self.tables.land(spark, self.tables.gen.next_batch(allow_replay=False), self.check)
        self.state = serving_http.AppState(spark, self.tables.bronze, self.tables.silver)
        self.server = serving_http.make_server(self.state)
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()

    def after_setup(self, spark) -> None:
        """Warm both read paths, untimed: GET latency keeps falling over a
        session's first dozen requests."""
        for i in range(WARMUP_GETS):
            route, wallet = ROUTES[i % 2], self.tables.gen.wallet(i // 2 % 2)
            status, body = self._get(route, wallet, {})
            self._verify(route, wallet, status, body)

    def _get(self, route: str, wallet: str, headers: dict) -> tuple[int, bytes]:
        host, port = self.server.server_address[:2]
        conn = http.client.HTTPConnection(host, port, timeout=120)
        try:
            conn.request("GET", f"/v1/{route}/{wallet}", headers=headers)
            resp = conn.getresponse()
            return resp.status, resp.read()
        finally:
            conn.close()

    def op(self, spark, i: int, traced: bool) -> dict:
        if not self._strata:
            # stratified draws: each block of GETs takes one wallet from
            # every slice of the popularity distribution, in seeded order
            self._strata = [(k + self.rng.random()) / STRATA for k in range(STRATA)]
            self.rng.shuffle(self._strata)
        wallet = self.tables.gen.wallet_at(self._strata.pop())
        route = ROUTES[i % 2]
        with Clock() as clock, self.tracer.span(self.op_span, key=i) as s:
            headers = {KEY_HEADER: str(i), PARENT_HEADER: str(s["id"])} if s else {}
            status, body = self._get(route, wallet, headers)
        self._verify(route, wallet, status, body)
        return clock.sample(route, i, 1)

    def _verify(self, route: str, wallet: str, status: int, body: bytes) -> None:
        """The response must hold exactly the wallet's landed rows (the
        first ``row_limit`` of them in the route's order)."""
        if not self.check(status == 200, f"GET {route}/{wallet[:8]}: HTTP {status}"):
            return
        rows = json.loads(body, parse_float=Decimal)
        limit = self.state.row_limit
        exp = self.tables.expected
        if route == "ledger":
            got = Counter((r["transaction_id"], r["asset_symbol"], r["amount"]) for r in rows)
            want = Counter(exp.entries_by_wallet.get(wallet, []))
            ok = got == want if sum(want.values()) <= limit else (
                sum(got.values()) == limit and not got - want
            )
        else:
            got_ids = [r["id"] for r in rows]
            want_ids = [tx for _, tx in sorted(exp.tx_by_wallet.get(wallet, []))][:limit]
            ok = sorted(got_ids) == sorted(want_ids)
        self.check(ok, f"GET {route}/{wallet[:8]}: {len(rows)} rows differ from the landed history")

    def details(self, samples):
        t = self.tables
        return [
            f"history: {len(t.batches)} batches, {len(t.expected.bronze_ids)} transactions, "
            f"{count_files(t.bronze)} bronze and {count_files(t.silver)} silver files"
        ]

    def close(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self.thread.join(timeout=30)
            self.server = None

    def per_layer(self, spark, spans, samples):
        by_key: dict[object, dict[str, float]] = {}
        handlers = [s for s in spans if s["name"].startswith("serving_http.get_")]
        for s in spans:
            d = by_key.setdefault(s["key"], {"plan": 0.0, "collect": 0.0, "rows": 0})
            if s["name"] in ("serving.ledger_by_wallet", "serving.transactions_by_wallet"):
                d["plan"] += s["end"] - s["start"]
            elif s["name"] == "serving.to_json_rows":
                d["collect"] += s["end"] - s["start"]
                d["rows"] += s.get("rows", 0)
        reads = [by_key[h["key"]] for h in handlers]

        def med(xs):
            return median(xs) if xs else 0.0

        def route_ms(route):
            return med([(h["end"] - h["start"]) * 1000 for h in handlers if h["name"].endswith(route)])

        out = {
            "serving_http.get_ledger_ms": route_ms("ledger"),
            "serving_http.get_transactions_ms": route_ms("transactions"),
            "serving.plan_ms": med([r["plan"] * 1000 for r in reads]),
            "serving.collect_ms": med([r["collect"] * 1000 for r in reads]),
            "serving.stages_per_read": med([h.get("stages", 0) for h in handlers]),
            "serving.tasks_per_read": med([h.get("tasks", 0) for h in handlers]),
            "serving.rows_returned": med([r["rows"] for r in reads]),
            "serving.input_bytes_per_row": med(
                [h.get("input_bytes", 0) / max(1, r["rows"]) for h, r in zip(handlers, reads)]
            ),
            "serving.rows_examined_per_row": med(
                [h.get("input_records", 0) / max(1, r["rows"]) for h, r in zip(handlers, reads)]
            ),
            "sources.layout.bronze_files": count_files(self.tables.bronze),
            "sources.layout.silver_files": count_files(self.tables.silver),
        }
        out.update(op_counters(spans, self.op_span))
        return out
