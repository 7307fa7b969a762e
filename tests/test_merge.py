"""MERGE INTO emulation (sources/merge.py): upsert/delete semantics,
partition-scoped copy-on-write (untouched partitions never rewritten),
duplicate-key and bad-op guards. Cross-engine grading is in
test_oracle_parity.py (merge_upsert_roundtrip).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from spectraplex_spark.sources.merge import merge_upsert

SCHEMA = "k long, v string, part string"


def _seed(spark, path):
    rows = [(i, f"v{i}", "a" if i < 5 else "b") for i in range(10)]
    spark.createDataFrame(rows, SCHEMA).write.partitionBy("part").parquet(path)
    return rows


def _read(spark, path):
    return {
        (r["k"], r["v"], r["part"])
        for r in spark.read.parquet(path).collect()
    }


def test_upsert_replaces_inserts_and_deletes(spark, tmp_path):
    path = str(tmp_path / "t")
    _seed(spark, path)
    updates = spark.createDataFrame(
        [
            (2, "v2_new", "a", "upsert"),   # replace
            (42, "v42", "a", "upsert"),     # insert
            (7, None, "b", "delete"),       # delete
        ],
        "k long, v string, part string, _op string",
    )
    stats = merge_upsert(spark, path, updates, "k", partition_col="part")
    assert stats == {"upserted": 2, "deleted": 1, "partitions_rewritten": 2}
    got = _read(spark, path)
    assert (2, "v2_new", "a") in got and (2, "v2", "a") not in got
    assert (42, "v42", "a") in got
    assert not any(k == 7 for k, _, _ in got)
    assert len(got) == 10  # 10 seed - 1 delete + 1 insert


def test_partition_scoped_merge_leaves_untouched_partitions_alone(spark, tmp_path):
    path = str(tmp_path / "t")
    _seed(spark, path)
    before = {
        f: os.path.getmtime(os.path.join(path, "part=b", f))
        for f in os.listdir(os.path.join(path, "part=b"))
        if f.endswith(".parquet")
    }
    updates = spark.createDataFrame(
        [(1, "v1_new", "a", "upsert")], "k long, v string, part string, _op string"
    )
    stats = merge_upsert(spark, path, updates, "k", partition_col="part")
    assert stats["partitions_rewritten"] == 1
    after = {
        f: os.path.getmtime(os.path.join(path, "part=b", f))
        for f in os.listdir(os.path.join(path, "part=b"))
        if f.endswith(".parquet")
    }
    assert after == before  # same files, same mtimes — never rewritten
    assert (1, "v1_new", "a") in _read(spark, path)


def test_merge_can_create_and_empty_partitions(spark, tmp_path):
    path = str(tmp_path / "t")
    _seed(spark, path)
    # delete EVERY row of partition b, insert into brand-new partition c
    updates = spark.createDataFrame(
        [(i, None, "b", "delete") for i in range(5, 10)]
        + [(100, "v100", "c", "upsert")],
        "k long, v string, part string, _op string",
    )
    merge_upsert(spark, path, updates, "k", partition_col="part")
    got = _read(spark, path)
    assert not any(p == "b" for _, _, p in got)
    assert (100, "v100", "c") in got


def test_whole_table_merge_without_partition_col(spark, tmp_path):
    path = str(tmp_path / "t")
    _seed(spark, path)
    updates = spark.createDataFrame(
        [(0, "v0_new", "a", "upsert")], "k long, v string, part string, _op string"
    )
    stats = merge_upsert(spark, path, updates, "k")
    assert stats["partitions_rewritten"] == 1
    assert (0, "v0_new", "a") in _read(spark, path)


def test_duplicate_keys_and_bad_ops_raise(spark, tmp_path):
    path = str(tmp_path / "t")
    _seed(spark, path)
    dup = spark.createDataFrame(
        [(1, "x", "a", "upsert"), (1, "y", "a", "upsert")],
        "k long, v string, part string, _op string",
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        merge_upsert(spark, path, dup, "k")
    bad = spark.createDataFrame(
        [(1, "x", "a", "replace")], "k long, v string, part string, _op string"
    )
    with pytest.raises(ValueError, match="_op"):
        merge_upsert(spark, path, bad, "k")


def test_partition_moving_upsert_removes_stale_copy(spark, tmp_path):
    """A key whose partition value CHANGES must vanish from its old
    partition — the default key-probe derives affected partitions from
    where keys currently live, not just from the updates frame."""
    path = str(tmp_path / "t")
    _seed(spark, path)  # k=2 lives in part 'a'
    updates = spark.createDataFrame(
        [(2, "v2_moved", "b", "upsert")], "k long, v string, part string, _op string"
    )
    stats = merge_upsert(spark, path, updates, "k", partition_col="part")
    assert stats["partitions_rewritten"] == 2  # old 'a' AND new 'b'
    got = _read(spark, path)
    assert (2, "v2_moved", "b") in got
    assert not any(k == 2 and p == "a" for k, _, p in got)  # no stale dup
    assert len(got) == 10


def test_stale_partition_delete_finds_current_partition(spark, tmp_path):
    """A delete carrying the WRONG partition value still removes the row
    from its actual partition via the key-probe."""
    path = str(tmp_path / "t")
    _seed(spark, path)  # k=8 lives in part 'b'
    updates = spark.createDataFrame(
        [(8, None, "a", "delete")], "k long, v string, part string, _op string"
    )
    merge_upsert(spark, path, updates, "k", partition_col="part")
    assert not any(k == 8 for k, _, _ in _read(spark, path))


def test_probe_opt_out_is_the_documented_immutable_contract(spark, tmp_path):
    """probe_moved_keys=False keeps the fully partition-pruned read; the
    price — pinned here so the contract is explicit, not latent — is
    that a partition-moving upsert leaves the old copy behind."""
    path = str(tmp_path / "t")
    _seed(spark, path)
    updates = spark.createDataFrame(
        [(2, "v2_moved", "b", "upsert")], "k long, v string, part string, _op string"
    )
    merge_upsert(
        spark, path, updates, "k", partition_col="part", probe_moved_keys=False
    )
    got = _read(spark, path)
    assert (2, "v2_moved", "b") in got and (2, "v2", "a") in got  # stale dup stays


def test_special_character_partition_values_swap_correctly(spark, tmp_path):
    """Partition values Spark escapes in directory names (':' → %3A)
    and NULL (→ __HIVE_DEFAULT_PARTITION__) must still be found by the
    swap — raw str(v) names would silently no-op the whole merge."""
    path = str(tmp_path / "t")
    rows = [(1, "v1", "ts:morning"), (2, "v2", "ts:evening"), (3, "v3", None)]
    spark.createDataFrame(rows, SCHEMA).write.partitionBy("part").parquet(path)
    assert os.path.isdir(os.path.join(path, "part=ts%3Amorning"))
    updates = spark.createDataFrame(
        [
            (1, "v1_new", "ts:morning", "upsert"),  # rewrite escaped part
            (3, None, None, "delete"),              # delete in NULL part
        ],
        "k long, v string, part string, _op string",
    )
    stats = merge_upsert(spark, path, updates, "k", partition_col="part")
    assert stats["upserted"] == 1 and stats["deleted"] == 1
    got = _read(spark, path)
    assert (1, "v1_new", "ts:morning") in got
    assert (2, "v2", "ts:evening") in got
    assert not any(k == 3 for k, _, _ in got)
    assert not os.path.exists(os.path.join(path, "part=__HIVE_DEFAULT_PARTITION__"))


def test_null_merge_key_rejected(spark, tmp_path):
    import pyspark.sql.functions as F
    import pytest as _pytest

    from spectraplex_spark.sources.merge import merge_upsert

    t = str(tmp_path / "t")
    spark.range(3).selectExpr("id AS k", "id * 2 AS v").write.parquet(t)
    upd = spark.createDataFrame(
        [(None, 9, "upsert")], "k long, v long, _op string"
    )
    with _pytest.raises(ValueError, match="NULL merge key"):
        merge_upsert(spark, t, upd, "k")


def test_trailing_slash_target_normalized(spark, tmp_path):
    from spectraplex_spark.sources.merge import merge_upsert

    t = str(tmp_path / "t")
    spark.range(3).selectExpr("id AS k", "id * 2 AS v").write.parquet(t)
    upd = spark.createDataFrame([(1, 99, "upsert")], "k long, v long, _op string")
    out = merge_upsert(spark, t + "/", upd, "k")  # slash: staged beside, not inside
    assert out["upserted"] == 1
    got = {r["k"]: r["v"] for r in spark.read.parquet(t).collect()}
    assert got == {0: 0, 1: 99, 2: 4}


def test_merge_refuses_epoch_tables(spark, tmp_path):
    import pytest as _pytest

    from spectraplex_spark.sources.commit import commit_append_epoch
    from spectraplex_spark.sources.merge import merge_upsert

    t = str(tmp_path / "t")
    spark.range(3).selectExpr("id AS k", "id * 2 AS v").write.parquet(t)
    commit_append_epoch(t)
    upd = spark.createDataFrame([(1, 99, "upsert")], "k long, v long, _op string")
    with _pytest.raises(Exception, match="append-epoch manifests"):
        merge_upsert(spark, t, upd, "k")


def test_recover_whole_forward_rename_before_intent_removal(spark, tmp_path):
    """The crash window the old order left: staged dir present WITH its
    intent, target already gone — recovery must roll forward (and a
    crash right after the rename leaves the intent inside the target,
    which the commit-forward state cleans)."""
    import json
    import os
    import shutil

    from spectraplex_spark.sources.commit import write_commit_manifest
    from spectraplex_spark.sources.merge import INTENT_NAME, recover_merge

    t = str(tmp_path / "t")
    spark.range(3).selectExpr("id AS k").write.parquet(t)
    write_commit_manifest(t)
    staged = t + "__staged_deadbeef"
    shutil.copytree(t, staged)
    with open(os.path.join(staged, INTENT_NAME), "w") as fh:
        json.dump({"mode": "whole", "partition_col": None, "affected": [],
                   "staged_parts": []}, fh)
    shutil.rmtree(t)  # the mid-swap crash state
    assert recover_merge(t) == "whole-forward"
    assert not os.path.exists(os.path.join(t, INTENT_NAME))
    assert spark.read.parquet(t).count() == 3


def test_partitioned_delete_of_last_row_keeps_table_readable(spark, tmp_path):
    """Hypothesis-caught (r12): a partition-scoped merge that deletes the
    table's only row removed every partition directory, leaving an
    UNREADABLE dataset (UNABLE_TO_INFER_SCHEMA). The table must stay
    readable (0 rows, full schema incl. the partition column) and
    accept further merges."""
    from spectraplex_spark.sources.merge import merge_upsert

    t = str(tmp_path / "t")
    spark.createDataFrame(
        [(0, "v0", "p0")], "k long, v string, part string"
    ).write.partitionBy("part").parquet(t)
    dels = spark.createDataFrame(
        [(0, None, "p0", "delete")], "k long, v string, part string, _op string"
    )
    merge_upsert(spark, t, dels, "k", partition_col="part")
    back = spark.read.parquet(t)
    assert back.count() == 0
    assert set(back.columns) == {"k", "v", "part"}
    # the emptied table accepts a later upsert normally
    ups = spark.createDataFrame(
        [(5, "v5", "p1", "upsert")], "k long, v string, part string, _op string"
    )
    merge_upsert(spark, t, ups, "k", partition_col="part")
    assert [(r["k"], r["v"], r["part"]) for r in spark.read.parquet(t).collect()] == [
        (5, "v5", "p1")
    ]


def test_merge_rejects_schema_drifted_updates(spark, tmp_path):
    """r13 review: unionByName silently coerces long+double -> double
    and long+string -> bigint (strings become NULL), so a drifted
    updates batch would rewrite affected partitions under a forked
    parquet schema. The merge must refuse loudly instead."""
    import pytest

    from spectraplex_spark.sources.commit import TableInconsistentError
    from spectraplex_spark.sources.merge import merge_upsert

    t = str(tmp_path / "t")
    spark.createDataFrame(
        [(0, 10, "p0")], "k long, v long, part string"
    ).write.partitionBy("part").parquet(t)
    drifted = spark.createDataFrame(
        [(0, 10.5, "p0", "upsert")], "k long, v double, part string, _op string"
    )
    with pytest.raises(TableInconsistentError, match="updates schema"):
        merge_upsert(spark, t, drifted, "k", partition_col="part")
    missing_col = spark.createDataFrame(
        [(0, "p0", "upsert")], "k long, part string, _op string"
    )
    with pytest.raises(TableInconsistentError, match="updates schema"):
        merge_upsert(spark, t, missing_col, "k", partition_col="part")
    # the table is untouched
    assert spark.read.parquet(t).count() == 1


def test_recover_partition_mode_last_row_delete(spark, tmp_path, monkeypatch):
    """r13 review: the last-row-delete keep-footer is STAGED before the
    intent, so a crash anywhere in the swap replays through
    recover_merge into a READABLE empty table — the old post-swap
    footer was invisible to recovery, which committed a zero-file
    manifest (UNABLE_TO_INFER_SCHEMA forever)."""
    import pytest

    import spectraplex_spark.sources.merge as M
    from spectraplex_spark.sources.merge import merge_upsert, recover_merge

    t = str(tmp_path / "t")
    spark.createDataFrame(
        [(0, "v0", "p0")], "k long, v string, part string"
    ).write.partitionBy("part").parquet(t)
    dels = spark.createDataFrame(
        [(0, None, "p0", "delete")], "k long, v string, part string, _op string"
    )
    real_rmtree = M.shutil.rmtree
    state = {"boomed": False}

    def crash_on_first_swap(path, *a, **kw):
        # the first rmtree during the swap loop targets a partition dir
        # INSIDE the target — crash there, before any swap progress
        if not state["boomed"] and path.startswith(t + "/"):
            state["boomed"] = True
            raise OSError("simulated crash at the first swap step")
        return real_rmtree(path, *a, **kw)

    monkeypatch.setattr(M.shutil, "rmtree", crash_on_first_swap)
    with pytest.raises(OSError, match="simulated crash"):
        merge_upsert(spark, t, dels, "k", partition_col="part")
    monkeypatch.setattr(M.shutil, "rmtree", real_rmtree)

    assert recover_merge(t) == "completed-merge"
    back = spark.read.parquet(t)
    assert back.count() == 0
    assert set(back.columns) == {"k", "v", "part"}
    # and the recovered table accepts a later merge normally
    ups = spark.createDataFrame(
        [(5, "v5", "p1", "upsert")], "k long, v string, part string, _op string"
    )
    merge_upsert(spark, t, ups, "k", partition_col="part")
    assert spark.read.parquet(t).count() == 1


# One table per partition-value spelling that Spark's partition-type
# inference reads back in another lexical form: '01' → 1, '1.10' → 1.1,
# '1e5' → 100000, ' 1' → 1.0, and a one-digit-fraction timestamp.
_DRIFT_CLASSES = {
    "leading-zero": ["01", "02", "03"],
    "trailing-zero": ["1.10", "2.10", "3.10"],
    "exponent": ["1e5", "2e5", "3e5"],
    "leading-space": [" 1", " 2", " 3"],
    "timestamp-one-digit-fraction": [
        "2024-01-01 00:00:00.5",
        "2024-01-02 00:00:00.5",
        "2024-01-03 00:00:00.5",
    ],
}


def _drift_table_and_updates(spark, path, vals):
    """Keys 0-5, two per partition. The updates upsert key 0 in place,
    move key 2 from the second partition into the first, and delete
    both keys of the third partition (a deletion-only partition)."""
    spark.createDataFrame(
        [(k, f"v{k}", vals[k // 2]) for k in range(6)], "k long, v string, p string"
    ).write.partitionBy("p").parquet(path)
    return spark.createDataFrame(
        [
            (0, "v0_new", vals[0], "upsert"),
            (2, "v2_moved", vals[0], "upsert"),
            (4, None, vals[2], "delete"),
            (5, None, vals[2], "delete"),
        ],
        "k long, v string, p string, _op string",
    )


def _assert_one_copy_of_each_key(path, keys):
    """Every key lives in exactly one directory: no deleted key and no
    moved key's old copy survives anywhere on disk, and no staged or old
    copy of the table is left. Returns key -> [directory]."""
    import pyarrow.parquet as pq

    where: dict[int, list[str]] = {}
    for d in os.listdir(path):
        if "=" in d:
            for k in pq.read_table(os.path.join(path, d)).column("k").to_pylist():
                where.setdefault(k, []).append(d)
    assert sorted(where) == keys
    assert all(len(dirs) == 1 for dirs in where.values()), where
    parent = os.path.dirname(path)
    assert not [d for d in os.listdir(parent) if "__staged" in d or "__old" in d]
    return where


def _assert_drift_merge_applied(spark, path):
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {0: "v0_new", 1: "v1", 2: "v2_moved", 3: "v3"}
    where = _assert_one_copy_of_each_key(path, [0, 1, 2, 3])
    assert where[2] == where[0]  # the moved key sits in its new partition


@pytest.mark.parametrize(
    "vals", list(_DRIFT_CLASSES.values()), ids=list(_DRIFT_CLASSES)
)
def test_merge_swaps_inference_drifting_partition_values(spark, tmp_path, vals):
    """Directory names whose value reads back in another form ('p=01'
    reads back as 1) merge like any other: the swap replaces the
    directories it observed, not names predicted from read-back values."""
    path = str(tmp_path / "t")
    updates = _drift_table_and_updates(spark, path, vals)
    stats = merge_upsert(spark, path, updates, "k", partition_col="p")
    assert stats == {"upserted": 2, "deleted": 2, "partitions_rewritten": 3}
    _assert_drift_merge_applied(spark, path)


@pytest.mark.parametrize(
    "vals",
    [["1", "2", "abc"], ["1e5", "2e5", "3e6"], ["1e5", "2e5", "1.5"]],
    ids=["string-into-int", "overflows-read-back-decimal", "rounds-in-read-back-decimal"],
)
def test_merge_widens_partition_type_the_values_outgrow(spark, tmp_path, vals):
    """An upsert whose partition value the read-back type cannot hold
    without loss ('abc' into a p=1/p=2 table read back as int, '3e6' or
    '1.5' into p=1e5/p=2e5 read back as decimal(6,0)) merges: the value
    keeps its own spelling, so '1.5' lands in p=1.5, not a rounded p=2."""
    from decimal import Decimal, InvalidOperation

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(k, f"v{k}", vals[k // 2]) for k in range(4)], "k long, v string, p string"
    ).write.partitionBy("p").parquet(path)
    updates = spark.createDataFrame(
        [
            (0, "v0_new", vals[0], "upsert"),
            (2, "v2_moved", vals[2], "upsert"),
            (9, "v9", vals[2], "upsert"),
        ],
        "k long, v string, p string, _op string",
    )
    stats = merge_upsert(spark, path, updates, "k", partition_col="p")
    assert stats == {"upserted": 3, "deleted": 0, "partitions_rewritten": 3}

    def read_value(p):
        try:
            return Decimal(str(p))
        except InvalidOperation:
            return str(p)

    got = {r["k"]: (r["v"], read_value(r["p"])) for r in spark.read.parquet(path).collect()}
    a, b, c = (read_value(v) for v in vals)
    assert got == {
        0: ("v0_new", a), 1: ("v1", a), 2: ("v2_moved", c), 3: ("v3", b), 9: ("v9", c)
    }
    where = _assert_one_copy_of_each_key(path, [0, 1, 2, 3, 9])
    assert where[2] == where[9]  # the moved key sits in its new partition


def test_recover_mid_swap_on_drifting_partitions(spark, tmp_path, monkeypatch):
    """A crash after the first directory of the swap leaves a table
    missing a partition; recover_merge replays the intent's observed
    directory names to the same table an uninterrupted merge gives."""
    import spectraplex_spark.sources.merge as M
    from spectraplex_spark.sources.merge import recover_merge

    path = str(tmp_path / "t")
    updates = _drift_table_and_updates(spark, path, _DRIFT_CLASSES["leading-zero"])
    real_rmtree = M.shutil.rmtree
    swaps = []

    def crash_on_second_swap(p, *a, **kw):
        if p.startswith(path + "/"):
            swaps.append(p)
            if len(swaps) == 2:
                raise OSError("simulated crash mid-swap")
        return real_rmtree(p, *a, **kw)

    monkeypatch.setattr(M.shutil, "rmtree", crash_on_second_swap)
    with pytest.raises(OSError, match="simulated crash"):
        merge_upsert(spark, path, updates, "k", partition_col="p")
    monkeypatch.setattr(M.shutil, "rmtree", real_rmtree)
    # torn: the first observed directory is gone, the rewrite not moved in
    assert not os.path.exists(os.path.join(path, "p=01"))
    assert not os.path.exists(os.path.join(path, "p=1"))

    assert recover_merge(path) == "completed-merge"
    _assert_drift_merge_applied(spark, path)
