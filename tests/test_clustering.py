"""Distributed integer-exact k-means (operators/clustering.py).

Three angles: (1) planted well-separated blobs are recovered exactly,
(2) the Spark trajectory matches an independent numpy replay of the
same integer algorithm bit-for-bit (labels AND centroids), (3) the
assignment stage is a zero-shuffle plan. Cross-engine bit-parity vs
the unrolled-CTE SQL twin is graded in test_oracle_parity.py
(embedding_kmeans_clusters).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F, types as T

from spectraplex_spark.operators.clustering import (
    KM_SCALE,
    cluster_profile,
    kmeans_fit_predict,
    semantic_dedup_pairs,
)

VEC_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


def _blob(center, n, dim, radius=0.01, start_id=0, step=1):
    # deterministic pseudo-jitter: no RNG, reproducible in the replay
    return [
        (
            start_id + step * i,
            [
                float(center[d] + radius * math.sin(1.0 + 7 * i + 13 * d))
                for d in range(dim)
            ],
        )
        for i in range(n)
    ]


def _np_kmeans(vecs, k, iters, scale=KM_SCALE):
    """Independent replay of the integer algorithm (plain Python, no
    Spark expressions shared): quantize, assign to argmin squared-L2
    with ties to lowest cid, update floor(sum/count), empty keeps
    previous."""
    q = {
        vid: [int(math.floor(x * scale + 0.5)) for x in vec] for vid, vec in vecs
    }
    cents = [list(q[vid]) for vid in sorted(q)[:k]]
    dim = len(cents[0])

    def assign():
        out = {}
        for vid, v in q.items():
            dists = [sum((a - b) * (a - b) for a, b in zip(v, c)) for c in cents]
            out[vid] = dists.index(min(dists))
        return out

    for _ in range(iters):
        labels = assign()
        for cid in range(k):
            members = [q[vid] for vid, c in labels.items() if c == cid]
            if members:
                cents[cid] = [
                    int(math.floor(sum(m[d] for m in members) / len(members)))
                    for d in range(dim)
                ]
    return assign(), cents


def test_kmeans_recovers_planted_blobs(spark):
    dim = 8
    # interleaved ids (0,3,6,... / 1,4,7,... / 2,5,8,...) so the
    # min-id seeding picks one seed per blob — Lloyd's with all seeds
    # in one blob can legitimately merge two planted blobs, which is a
    # seeding property, not an implementation bug
    rows = (
        _blob([1.0] * dim, 20, dim, start_id=0, step=3)
        + _blob([-1.0] * dim, 20, dim, start_id=1, step=3)
        + _blob([1.0] * 4 + [-1.0] * 4, 20, dim, start_id=2, step=3)
    )
    df = spark.createDataFrame(rows, VEC_SCHEMA)
    assigned, cents = kmeans_fit_predict(df, k=3, iters=4)
    got = {r["vec_id"]: r["cluster_id"] for r in assigned.collect()}
    # each planted blob must land in exactly one cluster, and the three
    # clusters must be distinct
    blobs = [range(0, 60, 3), range(1, 60, 3), range(2, 60, 3)]
    labels = [set(got[v] for v in b) for b in blobs]
    assert all(len(s) == 1 for s in labels)
    assert len(set.union(*labels)) == 3
    # recovered centroids sit on the planted centers (within jitter+grid)
    for c in cents:
        assert all(abs(abs(v) - KM_SCALE) <= 0.02 * KM_SCALE + 1 for v in c)


def test_kmeans_matches_independent_integer_replay(spark):
    dim = 6
    # irregular, overlapping data — exercises ties and reassignment
    rows = [
        (
            i,
            [
                float(math.sin(0.5 * i + d) + 0.3 * math.cos(3 * i - d))
                for d in range(dim)
            ],
        )
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, VEC_SCHEMA)
    assigned, cents = kmeans_fit_predict(df, k=4, iters=3)
    got = {r["vec_id"]: r["cluster_id"] for r in assigned.collect()}
    want_labels, want_cents = _np_kmeans(rows, k=4, iters=3)
    assert got == want_labels
    assert [list(c) for c in cents] == want_cents


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    # two far blobs, k=3 seeded from the first three ids (all in blob 1)
    # -> at least one seed centroid ends up empty after reassignment and
    # must persist unchanged rather than crash or go null
    dim = 4
    rows = _blob([2.0] * dim, 10, dim, start_id=0) + _blob(
        [-2.0] * dim, 10, dim, start_id=50
    )
    df = spark.createDataFrame(rows, VEC_SCHEMA)
    assigned, cents = kmeans_fit_predict(df, k=3, iters=3)
    assert len(cents) == 3
    assert all(len(c) == dim and all(v is not None for v in c) for c in cents)
    want_labels, want_cents = _np_kmeans(rows, k=3, iters=3)
    got = {r["vec_id"]: r["cluster_id"] for r in assigned.collect()}
    assert got == want_labels
    assert [list(c) for c in cents] == want_cents


def test_kmeans_k_exceeding_corpus_raises(spark):
    df = spark.createDataFrame(_blob([1.0] * 4, 3, 4), VEC_SCHEMA)
    with pytest.raises(ValueError, match="exceeds corpus size"):
        kmeans_fit_predict(df, k=8, iters=1)


def test_kmeans_assignment_plan_is_shuffle_free(spark):
    """The per-iteration assign pass must stay a narrow map: literal
    centroids, no Exchange, no EvalPython (UDF) anywhere."""
    rows = _blob([1.0] * 8, 30, 8)
    df = spark.createDataFrame(rows, VEC_SCHEMA)
    assigned, _ = kmeans_fit_predict(df, k=2, iters=1)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_semantic_dedup_finds_exact_twins(spark):
    dim = 8
    base = _blob([1.0] * dim, 10, dim, start_id=0, step=3) + _blob(
        [-1.0] * dim, 10, dim, start_id=1, step=3
    )
    twins = [(vid + 1000, vec) for vid, vec in base[:4]]
    df = spark.createDataFrame(base + twins, VEC_SCHEMA)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in semantic_dedup_pairs(df, k=2, iters=2).collect()
    }
    # every exact twin pair surfaces (identical vectors co-cluster by
    # construction and have cosine 1 >= 0.8)
    for vid, _ in base[:4]:
        assert (vid, vid + 1000) in pairs


def test_semantic_dedup_integer_threshold_matches_float_cosine(spark):
    """The integer verdict den²·dot² >= num²·|a|²·|b|² over the
    quantized grid must agree with float cosine ON THE GRID — and any
    disagreement with raw-float cosine must sit inside the
    quantization band around the threshold."""
    dim = 6
    rows = [
        (
            i,
            [
                float(math.sin(0.9 * i + d) + 0.25 * math.cos(2 * i * d + 1))
                for d in range(dim)
            ],
        )
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, VEC_SCHEMA)
    got = {
        (r["id_a"], r["id_b"])
        for r in semantic_dedup_pairs(df, k=2, iters=2).collect()
    }
    assigned, _ = kmeans_fit_predict(df, k=2, iters=2)
    label = {r["vec_id"]: r["cluster_id"] for r in assigned.collect()}

    def qcos(a, b):
        qa = [int(math.floor(x * KM_SCALE + 0.5)) for x in a]
        qb = [int(math.floor(x * KM_SCALE + 0.5)) for x in b]
        dot = sum(x * y for x, y in zip(qa, qb))
        na2 = sum(x * x for x in qa)
        nb2 = sum(x * x for x in qb)
        return dot >= 0 and 25 * dot * dot >= 16 * na2 * nb2

    want = {
        (i, j)
        for i, a in rows
        for j, b in rows
        if i < j and label[i] == label[j] and qcos(a, b)
    }
    assert got == want


def test_semantic_dedup_subset_of_all_pairs(spark):
    """SemDeDup misses only CROSS-cluster near-dups (its documented
    approximation) — it must never invent a pair the brute-force
    threshold rejects."""
    dim = 6
    rows = [
        (i, [float(math.sin(0.7 * i + d)) for d in range(dim)]) for i in range(30)
    ]
    df = spark.createDataFrame(rows, VEC_SCHEMA)
    got = {
        (r["id_a"], r["id_b"])
        for r in semantic_dedup_pairs(df, k=3, iters=2).collect()
    }

    def fcos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb) if na and nb else 0.0

    # quantized verdicts can flip within ~1e-3 of the threshold; the
    # subset property is asserted with that band excluded
    brute = {
        (i, j) for i, a in rows for j, b in rows if i < j and fcos(a, b) >= 0.799
    }
    assert got <= brute


def test_cluster_profile_totals(spark):
    rows = _blob([1.0] * 4, 12, 4, start_id=0) + _blob(
        [-1.0] * 4, 12, 4, start_id=100
    )
    df = spark.createDataFrame(rows, VEC_SCHEMA)
    prof = cluster_profile(df, k=2, iters=2).collect()
    assert sum(r["n_vecs"] for r in prof) == 24
    assert sum(r["sum_vec_id"] for r in prof) == sum(range(12)) + sum(
        range(100, 112)
    )
    assert all(r["centroid_l1"] > 0 for r in prof)


def test_kmeans_model_roundtrip_and_persisted_report(spark, tmp_path):
    """write/read round-trips the integer centroid grid bit-exactly;
    kmeans_assign from the stored model equals the fit's own
    assignment; and the recall report run from the persisted fit
    equals the refit-per-call form row for row."""
    from spectraplex_spark.operators.clustering import (
        kmeans_assign,
        kmeans_fit_predict,
        read_kmeans_model,
        write_kmeans_model,
    )
    from spectraplex_spark.operators.simsearch import ivf_recall_report

    em = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = em.filter(F.col("vec_id") >= 4)
    assignments, cents = kmeans_fit_predict(corpus, k=4, iters=2)
    path = str(tmp_path / "model")
    write_kmeans_model(spark, path, cents, scale=1024)
    stored, cfg = read_kmeans_model(spark, path)
    assert stored == [list(map(int, c)) for c in cents]
    assert (cfg["k"], cfg["dim"], cfg["scale"]) == ("4", str(len(cents[0])), "1024")
    want_assign = {(r["vec_id"], r["cluster_id"]) for r in assignments.collect()}
    got_assign = {
        (r["vec_id"], r["cluster_id"]) for r in kmeans_assign(corpus, stored).collect()
    }
    assert got_assign == want_assign
    inline = ivf_recall_report(em, q_count=4, k=5, n_centroids=4, iters=2, n_probe=2)
    persisted = ivf_recall_report(em, q_count=4, k=5, n_probe=2, cents=stored)
    assert sorted(map(tuple, persisted.collect())) == sorted(
        map(tuple, inline.collect())
    )


def test_kmeans_model_config_guards(spark, tmp_path):
    """A missing sidecar and a wrong index family both fail loudly."""
    from spectraplex_spark.operators.clustering import (
        read_kmeans_model,
        write_kmeans_model,
    )
    from spectraplex_spark.streaming.index_state import ensure_index_config

    with pytest.raises(ValueError, match="_config"):
        read_kmeans_model(spark, str(tmp_path / "nothing"))
    other = str(tmp_path / "other")
    ensure_index_config(spark, other, {"family": "minhash_lsh"})
    with pytest.raises(ValueError, match="family"):
        read_kmeans_model(spark, other)
    # re-writing the SAME config is idempotent, a DIFFERENT one raises
    path = str(tmp_path / "model")
    write_kmeans_model(spark, path, [[1, 2], [3, 4]], scale=1024)
    write_kmeans_model(spark, path, [[5, 6], [7, 8]], scale=1024)  # refit ok
    stored, _ = read_kmeans_model(spark, path)
    assert stored == [[5, 6], [7, 8]]
    with pytest.raises(ValueError):
        write_kmeans_model(spark, path, [[1, 2, 3], [4, 5, 6]], scale=1024)
