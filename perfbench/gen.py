"""Seeded Solana-shaped bronze traffic for the ledger_land and wallet_api
workloads.

The program under test only ever sees the rows this module writes (bronze
JSONL, the reference CLI's interchange format). Alongside the rows it keeps
the silver output that normalize must produce, in exact ``Decimal``: one
SOL entry per parseable transaction plus one entry per SPL token account
the wallet owns. Every generated delta is well above normalize's dust
threshold, so the expected entry count is exact.
"""

from __future__ import annotations

import bisect
import itertools
import json
import random
from collections import Counter, defaultdict
from dataclasses import dataclass, field
from decimal import Decimal

# Traffic properties. Each is stated in BENCHMARK.json (ledger_land's
# "why") and measured per run by traffic_shares(). No production trace
# is available, so each figure is either taken from a figure the project
# states or labelled an assumption.
#
# Assumption, tied to ROADMAP.md's "millions of users": one tracked
# wallet per user, a million of them.
WALLETS = 1_000_000
# Assumption: activity per wallet is heavy-tailed, P(rank k) ~ 1 / k**s.
# With s = 1.1 over a million wallets the top wallet sends about 12% of
# the transactions and the median transaction comes from a wallet of
# rank ~70.
ZIPF_S = 1.1
# Assumption: share of transactions that also move SPL tokens.
SPL_SHARE = 0.4
# Reduced from a sizing probe of the landing path on 4 cores, which used
# 20k-transaction batches (5-10 s each through write_bronze +
# land_with_quarantine). Half that size keeps a benchmark run within its
# time budget; per-batch overhead dominates landing time at either size.
TX_PER_BATCH = 10_000
# Assumption, reduced for the same budget: a batch carries a week of block
# times. Under local[4] a landing writes one file per task (4) and
# ingest_date, so 28 bronze files per batch. The probe counted 464 after 6
# batches, which about 20 days would match; at 20 days a landing took
# about 1.5 s longer.
SPAN_DAYS = 7
# Assumption: rows whose raw_metadata is not valid JSON.
BAD_SHARE = 0.01
# Assumption: every 4th batch of the stream re-delivers a landed one
# (an at-least-once source retrying), a 25% replay share.
REPLAY_EVERY = 4
# Assumption: distinct SPL mints.
MINTS = 8

T0 = 1_700_006_400  # 2023-11-15T00:00:00Z, a day boundary
_B58 = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"
USER_ID = "00000000-0000-0000-0000-000000000000"


# byte -> base58 letter (the modulo bias does not matter for test data)
_B58_TABLE = bytes(_B58[i % 58].encode()[0] for i in range(256))


def _b58(rng: random.Random, n: int) -> str:
    return rng.randbytes(n).translate(_B58_TABLE).decode()


@dataclass
class Batch:
    index: int
    replay_of: int | None  # index of the batch this one re-delivers
    rows: list[dict]
    bad_ids: list[str]
    # expected silver entries: (wallet, tx id, asset, Decimal amount)
    entries: list[tuple[str, str, str, Decimal]]
    spl_txs: int = 0

    @property
    def is_replay(self) -> bool:
        return self.replay_of is not None


@dataclass
class Expected:
    """What landing every non-replay batch so far must leave in silver,
    bronze and quarantine."""

    bronze_ids: set[str] = field(default_factory=set)
    bad_ids: set[str] = field(default_factory=set)
    n_entries: int = 0
    sums: dict[tuple[str, str], Decimal] = field(default_factory=lambda: defaultdict(Decimal))
    # wallet -> [(timestamp, tx id)] and wallet -> [(tx id, asset, amount)]
    tx_by_wallet: dict[str, list[tuple[int, str]]] = field(default_factory=lambda: defaultdict(list))
    entries_by_wallet: dict[str, list[tuple[str, str, Decimal]]] = field(
        default_factory=lambda: defaultdict(list)
    )

    def add(self, batch: Batch) -> None:
        if batch.is_replay:
            return
        for r in batch.rows:
            self.bronze_ids.add(r["id"])
            self.tx_by_wallet[r["wallet_address"]].append((r["timestamp"], r["id"]))
        self.bad_ids.update(batch.bad_ids)
        for wallet, tx_id, asset, amount in batch.entries:
            self.n_entries += 1
            self.sums[(wallet, asset)] += amount
            self.entries_by_wallet[wallet].append((tx_id, asset, amount))


class BronzeGenerator:
    """Deterministic for a given seed: batch k is the same on every call
    sequence, because each fresh batch draws from its own RNG stream."""

    def __init__(self, seed: int, tx_per_batch: int = TX_PER_BATCH):
        self.seed = seed
        self.tx_per_batch = tx_per_batch
        self._addresses: dict[int, str] = {}
        self.mints = [_b58(random.Random(f"{seed}:mint:{m}"), 44) for m in range(MINTS)]
        self._cdf = list(itertools.accumulate(1.0 / (k + 1) ** ZIPF_S for k in range(WALLETS)))
        self._fresh: list[Batch] = []
        self._plan_rng = random.Random(f"{seed}:plan")
        self._n_batches = 0

    def wallet(self, rank: int) -> str:
        """The address of the wallet of popularity ``rank`` (0 is the most
        active), made on first use."""
        if rank not in self._addresses:
            self._addresses[rank] = _b58(random.Random(f"{self.seed}:wallet:{rank}"), 44)
        return self._addresses[rank]

    def wallet_at(self, u: float) -> str:
        """The wallet at quantile ``u`` (in [0, 1)) of the Zipf popularity
        distribution."""
        i = bisect.bisect_left(self._cdf, u * self._cdf[-1])
        return self.wallet(min(i, WALLETS - 1))

    def next_is_replay(self) -> bool:
        return bool(self._fresh) and self._n_batches % REPLAY_EVERY == 2

    def next_batch(self, allow_replay: bool = True) -> Batch:
        """The next batch of the stream. Batches 2, 6, 10, ... re-deliver a
        seeded choice among the fresh batches before them; the rest are
        fresh."""
        k = self._n_batches
        if allow_replay and self.next_is_replay():
            self._n_batches += 1
            src = self._fresh[self._plan_rng.randrange(len(self._fresh))]
            return Batch(k, src.index, src.rows, src.bad_ids, src.entries, src.spl_txs)
        self._n_batches += 1
        batch = self._make_fresh(k)
        self._fresh.append(batch)
        return batch

    def _make_fresh(self, k: int) -> Batch:
        rng = random.Random(f"{self.seed}:batch:{k}")
        rows, bad_ids, entries, spl_txs = [], [], [], 0
        for j in range(self.tx_per_batch):
            tx_id = f"tx-{self.seed}-{k}-{j}"
            wallet = self.wallet_at(rng.random())
            ts = T0 + rng.randrange(SPAN_DAYS * 86_400)
            sig = _b58(rng, 88)
            if rng.random() < BAD_SHARE:
                raw = '{"slot": %d, "transaction": {"signatures": ["%s"' % (k, sig)
                bad_ids.append(tx_id)
            else:
                with_spl = rng.random() < SPL_SHARE
                spl_txs += with_spl
                raw, tx_entries = _solana_tx(rng, wallet, sig, ts, self.mints, with_spl)
                entries.extend((wallet, tx_id, a, amt) for a, amt in tx_entries)
            rows.append(
                {
                    "id": tx_id,
                    "user_id": USER_ID,
                    "wallet_address": wallet,
                    "timestamp": ts,
                    "tx_hash": sig,
                    "chain": "solana",
                    "raw_metadata": raw,
                    "created_at": None,
                }
            )
        return Batch(k, None, rows, bad_ids, entries, spl_txs)


def _solana_tx(rng, wallet, sig, ts, mints, with_spl):
    """One getTransaction-shaped payload plus the ledger entries normalize
    must derive from it."""
    other = _b58(rng, 44)
    pre_w = rng.randrange(2_000_000_000, 50_000_000_000)
    # |delta| > 1000 lamports keeps the SOL entry above the 1e-6 dust bar
    delta = rng.choice((-1, 1)) * rng.randrange(2_000, 1_000_000_000)
    pre_o = rng.randrange(1_000_000_000, 9_000_000_000)
    keys = [
        {"pubkey": wallet, "signer": True, "writable": True},
        {"pubkey": other, "signer": False, "writable": True},
    ]
    entries = [("SOL", Decimal(delta).scaleb(-9))]
    pre_tb, post_tb = [], []
    if with_spl:
        for acct in range(2, 2 + rng.randrange(1, 3)):
            mint = rng.choice(mints)
            dec = rng.choice((6, 9))
            unit = 10 ** (dec - 6)  # raw units per 1e-6 token
            post = rng.randrange(10 * unit, 10**12)
            keys.append({"pubkey": _b58(rng, 44), "signer": False, "writable": True})
            if rng.random() < 0.7:  # existing token account
                pre = post + rng.choice((-1, 1)) * rng.randrange(2 * unit, 10**9)
                pre = max(pre, 0)
                if abs(post - pre) <= unit:
                    pre = post + 2 * unit
                pre_tb.append(_tb(acct, mint, wallet, pre, dec))
            else:  # new token account: missing pre counts as 0
                pre = 0
            post_tb.append(_tb(acct, mint, wallet, post, dec))
            entries.append((mint, Decimal(post - pre).scaleb(-dec)))
        # a token account the wallet does not own yields no entry
        post_tb.append(_tb(len(keys), mints[0], other, 5 * 10**6, 6))
        keys.append({"pubkey": _b58(rng, 44), "signer": False, "writable": True})
    payload = {
        "slot": ts - T0 + 200_000_000,
        "blockTime": ts,
        "transaction": {
            "signatures": [sig],
            "message": {"accountKeys": keys, "instructions": [], "recentBlockhash": _b58(rng, 44)},
        },
        "meta": {
            "err": None,
            "fee": 5000,
            "preBalances": [pre_w, pre_o] + [2_039_280] * (len(keys) - 2),
            "postBalances": [pre_w + delta, pre_o - delta] + [2_039_280] * (len(keys) - 2),
            "preTokenBalances": pre_tb,
            "postTokenBalances": post_tb,
            "logMessages": [],
            "rewards": [],
        },
    }
    return json.dumps(payload, separators=(",", ":")), entries


def _tb(acct, mint, owner, raw, dec):
    return {
        "accountIndex": acct,
        "mint": mint,
        "owner": owner,
        "uiTokenAmount": {"uiAmount": raw / 10**dec, "decimals": dec, "amount": str(raw)},
    }


def write_jsonl(batch: Batch, path: str) -> None:
    with open(path, "w") as fh:
        for r in batch.rows:
            fh.write(json.dumps(r, separators=(",", ":")))
            fh.write("\n")


def traffic_shares(batches: list[Batch], gen: BronzeGenerator) -> dict[str, float]:
    """Measured traffic properties of a generated stream."""
    fresh = [b for b in batches if not b.is_replay]
    rows = [r for b in fresh for r in b.rows]
    n = max(1, len(rows))
    counts = Counter(r["wallet_address"] for r in rows)
    top = counts.most_common(1)[0][1] if counts else 0
    days = {(r["timestamp"] - T0) // 86_400 for r in rows}
    parseable = n - sum(len(b.bad_ids) for b in fresh)
    return {
        "wallets": WALLETS,
        "zipf_s": ZIPF_S,
        "wallets_seen": len(counts),
        "top_wallet_share": round(top / n, 4),
        "spl_tx_share": round(sum(b.spl_txs for b in fresh) / max(1, parseable), 4),
        "tx_per_batch": gen.tx_per_batch,
        "days_spanned": len(days),
        "bad_row_share": round((n - parseable) / n, 4),
        "replay_batch_share": round(sum(b.is_replay for b in batches) / max(1, len(batches)), 4),
    }
