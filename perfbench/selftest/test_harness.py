"""Self-tests of the benchmark harness.

    python3 -m pytest perfbench/selftest -q
"""

from __future__ import annotations

import os
import random
from collections import Counter

import pytest

import gen
from run import trace_metrics
from stats import percentile, self_times, tail_percentile
from tracing import Tracer


def test_generator_is_deterministic_per_seed():
    a, b, c = gen.BronzeGenerator(7, 50), gen.BronzeGenerator(7, 50), gen.BronzeGenerator(8, 50)
    for _ in range(6):
        ba, bb, bc = a.next_batch(), b.next_batch(), c.next_batch()
        assert (ba.rows, ba.entries, ba.bad_ids, ba.replay_of) == (
            bb.rows,
            bb.entries,
            bb.bad_ids,
            bb.replay_of,
        )
        assert ba.is_replay or ba.rows != bc.rows


def test_replays_redeliver_an_earlier_fresh_batch():
    g = gen.BronzeGenerator(3, 20)
    batches = [g.next_batch() for _ in range(12)]
    assert [b.index for b in batches if b.is_replay] == [2, 6, 10]
    fresh = {b.index: b for b in batches if not b.is_replay}
    for b in batches:
        if b.is_replay:
            assert b.replay_of < b.index and b.rows == fresh[b.replay_of].rows


def test_expected_totals_track_fresh_batches_only():
    g = gen.BronzeGenerator(5, 40)
    exp = gen.Expected()
    batches = [g.next_batch() for _ in range(4)]
    for b in batches:
        exp.add(b)
    fresh = [b for b in batches if not b.is_replay]
    assert exp.n_entries == sum(len(b.entries) for b in fresh)
    assert exp.bad_ids == {i for b in fresh for i in b.bad_ids}
    assert sum(exp.sums.values()) == sum(e[3] for b in fresh for e in b.entries)


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from spectraplex_spark.session import get_spark

    s = get_spark("perfbench_selftest")
    yield s
    s.stop()


def test_expected_entries_match_a_real_normalize_run(spark):
    from pyspark.sql import functions as F

    from spectraplex_spark.operators.normalize import normalize, parse_failures
    from spectraplex_spark.schemas import BRONZE_SCHEMA

    # the first seed whose batch plants an unparseable row
    batch = next(
        b for b in (gen.BronzeGenerator(s, 150).next_batch() for s in range(100)) if b.bad_ids
    )
    assert any(asset != "SOL" for _, _, asset, _ in batch.entries)
    fields = [f.name for f in BRONZE_SCHEMA.fields]
    df = spark.createDataFrame([tuple(r[f] for f in fields) for r in batch.rows], BRONZE_SCHEMA)
    got = Counter(
        (r["wallet_address"], r["transaction_id"], r["asset_symbol"], r["amount"])
        for r in normalize(df, audit_ts=F.timestamp_seconds(F.col("timestamp"))).collect()
    )
    assert got == Counter(batch.entries)
    assert {r["id"] for r in parse_failures(df).collect()} == set(batch.bad_ids)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 3.0},
        {"id": 2, "parent": 0, "start": 2.0, "end": 5.0},  # overlaps span 1
        {"id": 3, "parent": 0, "start": 7.0, "end": 8.0},
        {"id": 4, "parent": 3, "start": 7.5, "end": 9.0},  # runs past its parent
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - (4 + 1))
    assert st[1] == pytest.approx(2.0)
    assert st[3] == pytest.approx(0.5)
    assert st[4] == pytest.approx(1.5)


def test_tracer_nests_spans_and_self_times_sum_to_the_root():
    t = Tracer()
    t.enabled = True
    with t.span("op", key=7):
        with t.span("child"):
            with t.span("grandchild"):
                pass
        with t.span("child"):
            pass
    spans = t.summary()
    root = next(s for s in spans if s["name"] == "op")
    assert all(s["key"] == 7 for s in spans)
    assert sum(s["self_s"] for s in spans) == pytest.approx(root["end"] - root["start"])
    t.enabled = False
    with t.span("ignored") as s:
        assert s is None
    assert len(t.spans) == 4


def test_attributed_share_counts_only_time_under_layer_spans():
    class Op:
        op_span = "op"
        primary_kinds = {"op"}

    t = Tracer()
    t.spans = [
        {"id": 0, "name": "op", "parent": None, "key": 1, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "layer", "parent": 0, "key": 1, "start": 1.0, "end": 7.0},
        {"id": 2, "name": "inner", "parent": 1, "key": 1, "start": 2.0, "end": 3.0},
        # an operation whose calls no wrapper saw
        {"id": 3, "name": "op", "parent": None, "key": 2, "start": 20.0, "end": 30.0},
        # a root span of another name is not an operation
        {"id": 4, "name": "isolated", "parent": None, "key": 1, "start": 40.0, "end": 50.0},
    ]
    m, _ = trace_metrics(t, [], Op)
    assert m["trace.attributed_share"] == pytest.approx(6 / 20)
    assert m["trace.unattributed_ms"] == pytest.approx((4000 + 10000) / 2)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(200) == 95
    assert tail_percentile(1000) == 99
    assert tail_percentile(19) == 50
    assert tail_percentile(1) == 50
    rng = random.Random(0)
    for n in range(21, 400):
        xs = [rng.random() for _ in range(n)]
        p = tail_percentile(n)
        assert sum(x > percentile(xs, p) for x in xs) >= 10
        if p < 99:
            assert sum(x > percentile(xs, p + 1) for x in xs) < 10
