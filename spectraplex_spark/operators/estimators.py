"""Estimator-quality measurement: MinHash estimate vs exact Jaccard.

Every near-dup threshold in the pipeline (minhash bands, fuzzy
decontamination) rides the MinHash estimate J^ = matches/num_perms of
the true shingle-set Jaccard J. This module MEASURES that estimator on
planted pairs whose true Jaccard spans the whole range — each sampled
document is paired with a deterministic mutation of itself (every k-th
token dropped, k varying per doc) — and reports, per pair, the exact
Jaccard, the signature agreement count, and their difference, ALL on
the 1e-6 integer grid. That turns "the estimator is good enough for a
0.8 threshold" from folklore into a driver-graded table (mean |error|
of an m-perm MinHash is ~sqrt(J(1-J)/m) — Broder 1997; the report
makes the bound observable).

Portability: the production signature path (dedup.py) uses xxhash64 —
Spark-only, hence its planted-twin grading. HERE the point is grading
the ESTIMATOR itself cross-engine, so the base hash is the
engine-portable md5 poly-fold (the hashed_bucket discipline, widened
to a [0, 2^31-1) range); the permutation family and polynomial shingle
combine are the same public constructions dedup.py uses. Estimator
statistics do not depend on which well-mixing base hash is under the
permutations.

Scale shape: the whole report is one narrow zero-shuffle projection —
per-row token hashing, in-row set ops, 16 integer min-folds. No join,
no window, no aggregation until the caller's optional rollup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from spectraplex_spark.operators.dedup import _P, _POLY_C
from spectraplex_spark.operators.textops import tokens

EST_SCALE = 1_000_000


def portable_token_hash(tok) -> "F.Column":
    """md5 hex poly-folded into [0, 2^31-1): deterministic and
    identically computable in Spark and DuckDB (md5 + ascii +
    substring), unlike xxhash64. 12 hex chars give 48 bits of input
    entropy before the fold."""
    h = F.md5(tok.cast("binary"))
    acc = F.lit(0).cast("long")
    for i in range(1, 13):
        acc = F.pmod(acc * F.lit(131) + F.ascii(F.substring(h, i, 1)), F.lit(_P))
    return acc


# The shingle combine is dedup.shingle_hashes_from — the SAME single
# definition the production signatures use (unified r14, the
# perm_constants precedent: a copy-pasted combine could silently drift
# the graded estimator off the production shingle family).
from spectraplex_spark.operators.dedup import (  # noqa: E402
    shingle_hashes_from as _shingle_hashes_from,
)


# Re-exported from dedup (the single definition the production
# signatures use) so the error report can never grade a drifted copy
# of the permutation family (review finding r13).
from spectraplex_spark.operators.dedup import perm_constants  # noqa: E402,F401


def minhash_error_report(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    sample_mod: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per planted pair (doc, truncated-doc): exact Jaccard vs MinHash
    estimate, integer grid. Columns: id, n_a, n_b, inter, jacc_q
    (true J · 1e6, floor), sig_matches, est_q (matches · 1e6/m), err_q
    (|est - true|). Mutation: drop the trailing 1/k of tokens with
    k = 2 + (id div sample_mod) % 5 ∈ {2..6} — shared shingles are the
    common prefix, so true J sweeps ~[0.5, 0.85] across the sample
    (plus short-doc scatter below that).

    ``EST_SCALE`` must be divisible by ``num_hashes`` so est_q is
    exact."""
    if EST_SCALE % num_hashes:
        raise ValueError(f"num_hashes={num_hashes} must divide {EST_SCALE}")
    # STAGED selects, not one expression tree: HOF lambdas run
    # interpreted and Catalyst does not CSE duplicate references, so a
    # sig/intersect tree referencing the inline tokenize→md5-fold chain
    # ~35 times re-runs it ~35 times (measured 100s at sf0.01 — the
    # repetition-report trap, textops.py r7 ledger). Materializing each
    # expensive array as a real column makes every later reference an
    # attribute read. The operator itself stays zero-shuffle; its
    # parallelism is the input's split count.
    sampled = df.filter((F.col(id_col) % sample_mod) == 0).filter(
        F.size(tokens(F.col(text_col))) >= 1
    )
    th = F.transform(tokens(F.col(text_col)), portable_token_hash)
    k = F.lit(2) + F.expr(f"({id_col} div {sample_mod}) % 5").cast("int")
    hashed = sampled.select(F.col(id_col), th.alias("_th"), k.alias("_k"))
    t_len = F.size("_th")
    # (T - T%k)/k is an exact integer ratio, so the double division is
    # exact; keep the leading T - T div k tokens
    drop = ((t_len - F.pmod(t_len, F.col("_k"))) / F.col("_k")).cast("int")
    pair = hashed.select(
        id_col,
        _shingle_hashes_from(F.col("_th"), n).alias("_a"),
        _shingle_hashes_from(
            F.slice(F.col("_th"), 1, F.greatest(t_len - drop, F.lit(1))), n
        ).alias("_b"),
    )

    def sig(col_name: str, pa: int, pb: int):
        return F.array_min(
            F.transform(
                F.col(col_name),
                lambda h: F.pmod(h * F.lit(pa) + F.lit(pb), F.lit(_P)),
            )
        )

    matches = F.lit(0).cast("long")
    for pa, pb in perm_constants(num_hashes):
        matches = matches + F.when(
            sig("_a", pa, pb) == sig("_b", pa, pb), 1
        ).otherwise(0)
    inter = F.size(F.array_intersect("_a", "_b")).cast("long")
    n_a, n_b = F.size("_a").cast("long"), F.size("_b").cast("long")

    jacc_q = F.expr(f"_inter * {EST_SCALE} div _union")
    est_q = (F.col("_matches") * (EST_SCALE // num_hashes)).cast("long")
    return (
        pair.select(
            F.col(id_col),
            n_a.alias("n_a"),
            n_b.alias("n_b"),
            inter.alias("_inter"),
            matches.alias("_matches"),
        )
        # _union derives from the MATERIALIZED _inter column in a
        # second projection — spelling the intersect expression twice
        # in one select ran the O(n_a+n_b) set op twice per row, the
        # exact no-CSE trap the staging comment above describes
        # (review finding r13)
        .select(
            F.col(id_col),
            "n_a",
            "n_b",
            "_inter",
            "_matches",
            (F.col("n_a") + F.col("n_b") - F.col("_inter")).alias("_union"),
        )
        .select(
            id_col,
            "n_a",
            "n_b",
            F.col("_inter").alias("inter"),
            jacc_q.cast("long").alias("jacc_q"),
            F.col("_matches").alias("sig_matches"),
            est_q.alias("est_q"),
            F.abs(est_q - jacc_q.cast("long")).alias("err_q"),
        )
    )
