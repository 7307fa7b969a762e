"""Commit-manifest protocol (sources/commit.py): the crash matrix for
stage-then-swap parquet writes. The reference gets this atomicity from
Postgres transactions; the parquet emulation must DETECT every
half-committed state and publish atomically (tmp+rename).
"""

from __future__ import annotations

import glob
import json
import os
import shutil

import pytest

from spectraplex_spark.sources.commit import (
    MANIFEST_NAME,
    TableInconsistentError,
    has_commit_manifest,
    read_committed,
    validate_commit_manifest,
    write_commit_manifest,
)
from spectraplex_spark.sources.merge import merge_upsert

SCHEMA = "k long, v string, part string"


def _seed(spark, path):
    rows = [(i, f"v{i}", "a" if i < 5 else "b") for i in range(10)]
    spark.createDataFrame(rows, SCHEMA).write.partitionBy("part").parquet(path)
    return rows


def _updates(spark):
    return spark.createDataFrame(
        [(2, "v2_new", "a", "upsert"), (42, "v42", "b", "upsert")],
        "k long, v string, part string, _op string",
    )


def test_merge_publishes_a_valid_manifest(spark, tmp_path):
    path = str(tmp_path / "t")
    _seed(spark, path)
    merge_upsert(spark, path, _updates(spark), "k", partition_col="part")
    m = validate_commit_manifest(path)
    assert m["n_files"] == len(
        [f for f in glob.glob(f"{path}/part=*/*") if not os.path.basename(f).startswith(("_", "."))]
    )
    got = {(r["k"], r["v"]) for r in read_committed(spark, path).collect()}
    assert (2, "v2_new") in got and (42, "v42") in got and len(got) == 11
    # partition column survives the explicit-file-list read
    assert "part" in read_committed(spark, path).columns


def test_crash_between_stage_and_swap_leaves_old_table_committed(spark, tmp_path):
    """Writer dies after staging, before any swap: the orphan staged
    dir is inert — readers still validate and read the OLD snapshot."""
    path = str(tmp_path / "t")
    _seed(spark, path)
    write_commit_manifest(path)
    before = {(r["k"], r["v"]) for r in read_committed(spark, path).collect()}
    # simulate the crash: a fully-written staged directory appears
    # beside the target and the writer never returns
    staged = f"{path}__staged_deadbeef"
    spark.read.parquet(path).write.partitionBy("part").parquet(staged)
    validate_commit_manifest(path)  # old table still consistent
    after = {(r["k"], r["v"]) for r in read_committed(spark, path).collect()}
    assert after == before  # reader sees the old snapshot, whole


def test_crash_mid_swap_is_detected_not_silently_read(spark, tmp_path):
    """Writer dies after replacing SOME partition dirs: the directory
    no longer matches the manifest — validate and read_committed must
    raise, never hand back a mixed table."""
    path = str(tmp_path / "t")
    _seed(spark, path)
    write_commit_manifest(path)
    # simulate a half-swap: partition 'a' replaced with fresh files,
    # partition 'b' still old, manifest not yet refreshed
    shutil.rmtree(os.path.join(path, "part=a"))
    spark.createDataFrame([(2, "v2_new", "a")], SCHEMA).write.parquet(
        os.path.join(path, "part=a")
    )
    with pytest.raises(TableInconsistentError, match="mid-swap|manifest"):
        validate_commit_manifest(path)
    with pytest.raises(TableInconsistentError):
        read_committed(spark, path)


def test_truncated_file_is_detected(spark, tmp_path):
    path = str(tmp_path / "t")
    _seed(spark, path)
    write_commit_manifest(path)
    victim = glob.glob(f"{path}/part=a/*.parquet")[0]
    with open(victim, "ab") as fh:
        fh.write(b"garbage")  # size drift = partial write
    with pytest.raises(TableInconsistentError, match="resized"):
        validate_commit_manifest(path)


def test_uncommitted_table_is_refused(spark, tmp_path):
    path = str(tmp_path / "t")
    _seed(spark, path)
    assert not has_commit_manifest(path)
    with pytest.raises(TableInconsistentError, match="never committed"):
        read_committed(spark, path)


def test_manifest_write_is_atomic_tmp_then_rename(spark, tmp_path):
    path = str(tmp_path / "t")
    _seed(spark, path)
    write_commit_manifest(path)
    assert not os.path.exists(os.path.join(path, MANIFEST_NAME + ".tmp"))
    m = json.load(open(os.path.join(path, MANIFEST_NAME)))
    assert m["digest"] == validate_commit_manifest(path)["digest"]
    # recommit after a legitimate rewrite replaces the manifest in place
    write_commit_manifest(path)
    validate_commit_manifest(path)


def test_webdataset_export_publishes_and_reader_validates(spark, tmp_path):
    from spectraplex_spark.sources.webdataset import (
        read_webdataset_shards,
        write_webdataset_shards,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(20)], "doc_id long, text string"
    )
    out = str(tmp_path / "wds")
    write_webdataset_shards(docs, out, samples_per_shard=10)
    validate_commit_manifest(out)
    assert read_webdataset_shards(spark, out).count() == 20
    os.remove(sorted(glob.glob(f"{out}/*.tar"))[0])  # half-exported set
    with pytest.raises(TableInconsistentError):
        read_webdataset_shards(spark, out).count()


def test_compact_to_publishes(spark, tmp_path):
    from spectraplex_spark.sources.layout import compact_to

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    spark.createDataFrame([(i, f"v{i}", "a") for i in range(50)], SCHEMA).repartition(
        8
    ).write.parquet(src)
    compact_to(spark, src, dst, rows_per_file=100)
    assert read_committed(spark, dst).count() == 50


# ---- recover_merge: the crash-state machine -----------------------------

def _intent(staged, mode, pcol=None, affected=(), staged_parts=()):
    from spectraplex_spark.sources.merge import _write_intent

    _write_intent(
        staged,
        {
            "mode": mode,
            "partition_col": pcol,
            "affected": list(affected),
            "staged_parts": list(staged_parts),
        },
    )


def test_recover_clean_removes_orphans(spark, tmp_path):
    from spectraplex_spark.sources.merge import recover_merge

    path = str(tmp_path / "t")
    _seed(spark, path)
    merge_upsert(spark, path, _updates(spark), "k", partition_col="part")
    os.makedirs(f"{path}__old_dead1")
    assert recover_merge(path) == "clean"
    assert not os.path.exists(f"{path}__old_dead1")
    validate_commit_manifest(path)


def test_recover_untouched_target_abandons_uncommitted_staged(spark, tmp_path):
    """Crash BEFORE any swap step: the transaction never reached its
    commit point, so recovery rolls BACK — the staged copy is dropped,
    the committed table is untouched, and the caller re-runs the merge
    (the canonical uncommitted-WAL-transaction outcome)."""
    from spectraplex_spark.sources.merge import recover_merge

    path = str(tmp_path / "t")
    _seed(spark, path)
    write_commit_manifest(path)
    before = {(r["k"], r["v"]) for r in spark.read.parquet(path).collect()}
    staged = f"{path}__staged_crash1"
    spark.createDataFrame([(2, "v2_new", "a")], SCHEMA).write.partitionBy(
        "part"
    ).parquet(staged)
    _intent(staged, "partitions", "part", ["part=a", "part=b"], ["part=a"])
    assert recover_merge(path) == "clean"
    assert not os.path.exists(staged)
    assert {(r["k"], r["v"]) for r in spark.read.parquet(path).collect()} == before


def test_recover_partition_swap_rolls_forward(spark, tmp_path):
    """Crash MID-swap (the deletion of 'b' applied, the rewrite of 'a'
    not yet): manifest invalid → recovery applies the remaining
    rewrite AND keeps the pure deletion (the intent's
    affected-without-staged-data case), then commits."""
    import shutil as sh

    from spectraplex_spark.sources.merge import recover_merge

    path = str(tmp_path / "t")
    _seed(spark, path)  # parts a (k 0-4) and b (k 5-9)
    write_commit_manifest(path)
    staged = f"{path}__staged_crash1"
    spark.createDataFrame([(2, "v2_new", "a")], SCHEMA).write.partitionBy(
        "part"
    ).parquet(staged)
    _intent(staged, "partitions", "part", ["part=a", "part=b"], ["part=a"])
    sh.rmtree(os.path.join(path, "part=b"))  # the deletion step ran
    assert recover_merge(path) == "completed-merge"
    validate_commit_manifest(path)
    got = {(r["k"], r["v"], r["part"]) for r in spark.read.parquet(path).collect()}
    assert got == {(2, "v2_new", "a")}  # a rewritten, b stays deleted
    assert not os.path.exists(staged)


def test_recover_partition_swap_half_done_is_idempotent(spark, tmp_path):
    """Crash AFTER 'a' moved but before 'b' was deleted: recovery must
    keep the already-moved partition and finish the deletion."""
    import shutil as sh

    from spectraplex_spark.sources.merge import recover_merge

    path = str(tmp_path / "t")
    _seed(spark, path)
    write_commit_manifest(path)
    staged = f"{path}__staged_crash2"
    spark.createDataFrame([(2, "v2_new", "a")], SCHEMA).write.partitionBy(
        "part"
    ).parquet(staged)
    _intent(staged, "partitions", "part", ["part=a", "part=b"], ["part=a"])
    # simulate: swap of 'a' already happened
    sh.rmtree(os.path.join(path, "part=a"))
    os.rename(os.path.join(staged, "part=a"), os.path.join(path, "part=a"))
    assert recover_merge(path) == "completed-merge"
    got = {(r["k"], r["v"], r["part"]) for r in spark.read.parquet(path).collect()}
    assert got == {(2, "v2_new", "a")}
    validate_commit_manifest(path)


def test_recover_whole_table_target_missing(spark, tmp_path):
    from spectraplex_spark.sources.merge import recover_merge

    path = str(tmp_path / "t")
    _seed(spark, path)
    write_commit_manifest(path)
    old = f"{path}__old_crash3"
    staged = f"{path}__staged_crash3"
    spark.createDataFrame([(99, "v99", "a")], SCHEMA).write.parquet(staged)
    _intent(staged, "whole")
    os.rename(path, old)  # crash between the two renames
    assert recover_merge(path) == "whole-forward"
    got = {(r["k"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {(99, "v99")}
    validate_commit_manifest(path)
    assert not os.path.exists(old) and not os.path.exists(staged)


def test_recover_whole_table_uncommitted_target(spark, tmp_path):
    """Crash after the new table renamed in but before the manifest
    refresh: old copy still beside it, no staged — commit forward."""
    from spectraplex_spark.sources.merge import recover_merge

    path = str(tmp_path / "t")
    _seed(spark, path)
    write_commit_manifest(path)
    old = f"{path}__old_crash4"
    os.rename(path, old)
    spark.createDataFrame([(99, "v99", "a")], SCHEMA).write.parquet(path)
    assert recover_merge(path) == "commit-forward"
    got = {(r["k"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {(99, "v99")}
    validate_commit_manifest(path)
    assert not os.path.exists(old)


def test_recover_rolled_back_restores_old(spark, tmp_path):
    from spectraplex_spark.sources.merge import recover_merge

    path = str(tmp_path / "t")
    _seed(spark, path)
    write_commit_manifest(path)
    old = f"{path}__old_crash5"
    os.rename(path, old)  # target vanished, no staged anywhere
    assert recover_merge(path) == "rolled-back"
    assert spark.read.parquet(path).count() == 10
    validate_commit_manifest(path)


def test_recover_refuses_to_guess(spark, tmp_path):
    from spectraplex_spark.sources.merge import recover_merge

    path = str(tmp_path / "t")
    _seed(spark, path)  # no manifest, no staged, no old
    with pytest.raises(TableInconsistentError, match="nothing to recover"):
        recover_merge(path)


# ---------------------------------------------------------------------------
# Epoch manifests for append-only sinks: each idempotent_append batch
# commits an epoch; committed readers never see a torn batch.
# ---------------------------------------------------------------------------

from spectraplex_spark.sources.commit import (  # noqa: E402
    EPOCH_DIR,
    adopt_uncommitted,
    commit_append_epoch,
    read_committed_epochs,
    validate_epochs,
)
from spectraplex_spark.sources.io import idempotent_append  # noqa: E402

EV_SCHEMA = "id long, v string, part string"


def _batch(spark, lo, hi):
    return spark.createDataFrame(
        [(i, f"v{i}", "a" if i % 2 == 0 else "b") for i in range(lo, hi)], EV_SCHEMA
    )


def test_each_append_batch_commits_one_epoch(spark, tmp_path):
    path = str(tmp_path / "t")
    assert idempotent_append(_batch(spark, 0, 10), path, partition_by=("part",)) == 10
    assert idempotent_append(_batch(spark, 5, 20), path, partition_by=("part",)) == 10
    st = validate_epochs(path)
    assert st["epochs"] == 2 and st["uncommitted"] == []
    got = read_committed_epochs(spark, path)
    assert got.count() == 20
    assert "part" in got.columns  # partition column survives file-list read
    # replayed no-op append commits NO epoch
    assert idempotent_append(_batch(spark, 0, 20), path, partition_by=("part",)) == 0
    assert validate_epochs(path)["epochs"] == 2


def test_torn_append_is_invisible_then_adoptable(spark, tmp_path):
    """Writer dies between Spark job commit and the epoch commit: the
    batch's files exist but no epoch covers them — committed readers
    see only prior epochs; adopt_uncommitted rolls the batch forward;
    a replay before adoption stays a no-op (raw-directory anti-join)."""
    path = str(tmp_path / "t")
    idempotent_append(_batch(spark, 0, 10), path, partition_by=("part",))
    # simulate the crash: the second batch's files land with NO epoch commit
    _batch(spark, 10, 15).write.mode("append").partitionBy("part").parquet(path)
    st = validate_epochs(path)
    assert st["epochs"] == 1 and len(st["uncommitted"]) > 0
    assert read_committed_epochs(spark, path).count() == 10
    # replay of the torn batch does NOT duplicate its rows
    assert idempotent_append(_batch(spark, 10, 15), path, partition_by=("part",)) == 0
    m = adopt_uncommitted(path)
    assert m is not None and m["epoch"] == 1
    assert validate_epochs(path)["uncommitted"] == []
    assert read_committed_epochs(spark, path).count() == 15


def test_epoch_bootstrap_covers_legacy_files(spark, tmp_path):
    """First committed append to a pre-epoch table: epoch 0 covers the
    legacy history plus the batch — the committed view is complete."""
    path = str(tmp_path / "t")
    _batch(spark, 0, 10).write.partitionBy("part").parquet(path)  # legacy, no epochs
    with pytest.raises(TableInconsistentError, match="no epoch manifests"):
        validate_epochs(path)
    idempotent_append(_batch(spark, 10, 12), path, partition_by=("part",))
    st = validate_epochs(path)
    assert st["epochs"] == 1 and st["uncommitted"] == []
    assert read_committed_epochs(spark, path).count() == 12


def test_committed_epoch_file_loss_is_detected(spark, tmp_path):
    path = str(tmp_path / "t")
    idempotent_append(_batch(spark, 0, 10), path, partition_by=("part",))
    victim = next(
        f
        for f in glob.glob(f"{path}/part=*/*")
        if not os.path.basename(f).startswith(("_", "."))
    )
    os.remove(victim)
    with pytest.raises(TableInconsistentError, match="missing"):
        validate_epochs(path)


def test_epoch_commit_is_atomic_tmp_then_rename(spark, tmp_path):
    path = str(tmp_path / "t")
    idempotent_append(_batch(spark, 0, 10), path, partition_by=("part",))
    d = os.path.join(path, EPOCH_DIR)
    assert not glob.glob(os.path.join(d, "*.tmp"))
    # a directly-invoked no-op commit returns None and writes nothing
    assert commit_append_epoch(path) is None
    assert len(glob.glob(os.path.join(d, "epoch-*.json"))) == 1


def test_content_hashes_catch_same_size_corruption(spark, tmp_path):
    """The one fault the (path, size) default cannot see: a flipped
    byte with preserved length. Opt-in sha256 catches it."""
    from spectraplex_spark.sources.commit import _sha256  # noqa: F401

    path = str(tmp_path / "t")
    _seed(spark, path)
    m = write_commit_manifest(path, content_hashes=True)
    assert set(m["sha256"]) == set(m["files"])
    validate_commit_manifest(path, verify_content=True)  # clean table passes
    victim = next(
        f
        for f in glob.glob(f"{path}/part=*/*")
        if not os.path.basename(f).startswith(("_", "."))
    )
    size = os.path.getsize(victim)
    with open(victim, "r+b") as fh:
        fh.seek(size // 2)
        b = fh.read(1)
        fh.seek(size // 2)
        fh.write(bytes([b[0] ^ 0xFF]))
    assert os.path.getsize(victim) == size
    validate_commit_manifest(path)  # size-only check is blind to it
    with pytest.raises(TableInconsistentError, match="content hash"):
        validate_commit_manifest(path, verify_content=True)


def test_verify_content_without_hashes_fails_loudly(spark, tmp_path):
    path = str(tmp_path / "t")
    _seed(spark, path)
    write_commit_manifest(path)
    with pytest.raises(TableInconsistentError, match="no content hashes"):
        validate_commit_manifest(path, verify_content=True)


def test_time_travel_reads_historic_epochs(spark, tmp_path):
    """Epochs are append-only, so every historical snapshot stays
    readable: as_of_epoch=N is the table at that commit."""
    from spectraplex_spark.sources.commit import committed_epoch_files

    path = str(tmp_path / "t")
    idempotent_append(_batch(spark, 0, 10), path, partition_by=("part",))
    idempotent_append(_batch(spark, 10, 25), path, partition_by=("part",))
    idempotent_append(_batch(spark, 25, 30), path, partition_by=("part",))
    assert read_committed_epochs(spark, path, as_of_epoch=0).count() == 10
    assert read_committed_epochs(spark, path, as_of_epoch=1).count() == 25
    assert read_committed_epochs(spark, path).count() == 30
    # as-of listing is a strict prefix of the full listing
    assert set(committed_epoch_files(path, 1)) <= set(committed_epoch_files(path))


def test_vacuum_abandons_torn_batch_and_reopens_replay(spark, tmp_path):
    """The abandon path: vacuum deletes the orphaned files, after which
    the SAME batch can be re-appended (the anti-join no longer sees the
    torn copy) and commits a real epoch."""
    from spectraplex_spark.sources.commit import vacuum_uncommitted

    path = str(tmp_path / "t")
    idempotent_append(_batch(spark, 0, 10), path, partition_by=("part",))
    _batch(spark, 10, 15).write.mode("append").partitionBy("part").parquet(path)
    deleted = vacuum_uncommitted(path)
    assert deleted and validate_epochs(path)["uncommitted"] == []
    # committed files untouched; raw directory == committed union again
    assert read_committed_epochs(spark, path).count() == 10
    assert spark.read.parquet(path).count() == 10
    # the abandoned batch re-appends cleanly and commits epoch 1
    assert idempotent_append(_batch(spark, 10, 15), path, partition_by=("part",)) == 5
    st = validate_epochs(path)
    assert st["epochs"] == 2 and st["uncommitted"] == []
    assert read_committed_epochs(spark, path).count() == 15


def test_squash_epochs_bounds_manifests_without_touching_data(spark, tmp_path):
    """Squashing merges old manifests into one base: the current table
    and post-boundary snapshots read identically, pre-boundary time
    travel is retired loudly, and the NEXT append numbers past the
    squash (max+1, not len — len would clobber committed history)."""
    import pytest

    from spectraplex_spark.sources.commit import (
        TableInconsistentError,
        _epoch_paths,
        squash_epochs,
    )

    path = str(tmp_path / "t")
    for lo in range(0, 50, 10):  # 5 epochs of 10 rows
        idempotent_append(_batch(spark, lo, lo + 10), path, partition_by=("part",))
    assert validate_epochs(path)["epochs"] == 5
    before = {tuple(r) for r in read_committed_epochs(spark, path).collect()}
    at3 = {tuple(r) for r in read_committed_epochs(spark, path, as_of_epoch=3).collect()}

    m = squash_epochs(path, keep_last=2)
    assert m is not None and m["epoch"] == 2 and m["squashed_from"] == 0
    assert len(_epoch_paths(path)) == 3  # squashed base + 2 kept
    st = validate_epochs(path)
    assert st["epochs"] == 3 and st["uncommitted"] == []
    assert {tuple(r) for r in read_committed_epochs(spark, path).collect()} == before
    # post-boundary snapshot still exact
    assert {
        tuple(r) for r in read_committed_epochs(spark, path, as_of_epoch=3).collect()
    } == at3
    # pre-boundary history retired loudly
    with pytest.raises(TableInconsistentError):
        read_committed_epochs(spark, path, as_of_epoch=1)
    # nothing more to squash at this retention
    assert squash_epochs(path, keep_last=3) is None
    # next append must number PAST the existing epoch files
    idempotent_append(_batch(spark, 50, 60), path, partition_by=("part",))
    names = [p.split("epoch-")[-1] for p in _epoch_paths(path)]
    assert names == ["000002.json", "000003.json", "000004.json", "000005.json"]
    assert read_committed_epochs(spark, path).count() == 60
    # double squash is idempotent on content
    squash_epochs(path, keep_last=1)
    assert read_committed_epochs(spark, path).count() == 60


def test_epoch_change_feed_reads_only_the_delta(spark, tmp_path):
    """(from, to] change feed equals exactly the rows those epochs
    committed; ranges behind a squash boundary or past the newest
    epoch fail loudly; an empty range is an empty frame with the
    table's schema."""
    import pytest

    from spectraplex_spark.sources.commit import (
        TableInconsistentError,
        read_epoch_changes,
        squash_epochs,
    )

    path = str(tmp_path / "t")
    for lo in range(0, 30, 10):  # epochs 0,1,2
        idempotent_append(_batch(spark, lo, lo + 10), path, partition_by=("part",))
    feed = read_epoch_changes(spark, path, from_epoch=0)
    assert {r["id"] for r in feed.collect()} == set(range(10, 30))
    assert "part" in feed.columns
    one = read_epoch_changes(spark, path, from_epoch=0, to_epoch=1)
    assert {r["id"] for r in one.collect()} == set(range(10, 20))
    assert read_epoch_changes(spark, path, from_epoch=2).count() == 0
    with pytest.raises(TableInconsistentError, match="newest committed"):
        read_epoch_changes(spark, path, from_epoch=5)
    squash_epochs(path, keep_last=1)
    with pytest.raises(TableInconsistentError, match="re-baseline"):
        read_epoch_changes(spark, path, from_epoch=0)
    # post-boundary deltas still served
    assert {
        r["id"] for r in read_epoch_changes(spark, path, from_epoch=1).collect()
    } == set(range(20, 30))


def test_empty_change_feed_schema_ignores_torn_raw_files(spark, tmp_path):
    """The empty-delta fallback derives its schema from a COMMITTED file,
    so a torn (uncommitted) data file with a corrupt or divergent footer
    in the raw directory can neither fail nor skew the feed (r9 ADVICE)."""
    from spectraplex_spark.sources.commit import read_epoch_changes

    path = str(tmp_path / "t")
    idempotent_append(_batch(spark, 0, 10), path, partition_by=("part",))
    # a torn write: garbage bytes with a .parquet name, committed by no epoch
    with open(f"{path}/part=a/torn-not-parquet.parquet", "wb") as fh:
        fh.write(b"\x00garbage, no parquet footer\x00")
    feed = read_epoch_changes(spark, path, from_epoch=0)  # empty range
    assert feed.count() == 0
    assert set(feed.columns) >= {"id", "part"}


def test_contended_append_serializes_or_fails_loudly(spark, tmp_path, monkeypatch):
    """The r9 verdict's concurrent-writer contract: two appenders racing
    an epoch number must serialize or raise EpochCollisionError — never
    a silent last-rename-wins overwrite. Both collision branches are
    driven deterministically: (1) a HELD claim (the other writer is
    between O_EXCL and rename) blocks the number; (2) a stale epoch-
    number read (the other writer committed our number after we computed
    it) is caught by the pre-rename committed-manifest check."""
    import pytest

    from spectraplex_spark.sources import commit as C

    path = str(tmp_path / "t")
    idempotent_append(_batch(spark, 0, 10), path, partition_by=("part",))

    # land a second batch's data files WITHOUT committing an epoch, so
    # commit_append_epoch has a real delta to publish
    _batch(spark, 10, 20).write.mode("append").partitionBy("part").parquet(path)

    # branch 1: another writer holds the claim for the next epoch
    claim = os.path.join(path, C.EPOCH_DIR, "epoch-000001.json.tmp")
    with open(claim, "w") as fh:
        fh.write("{}")
    with pytest.raises(C.EpochCollisionError, match="claimed by another writer"):
        C.commit_append_epoch(path)
    assert C.clear_stale_epoch_claims(path) == [claim]

    # branch 2: our epoch number was committed by the other writer after
    # we computed it (stale max+1 read)
    monkeypatch.setattr(C, "_next_epoch_number", lambda d: 0)
    with pytest.raises(C.EpochCollisionError, match="committed by another writer"):
        C.commit_append_epoch(path)
    assert not glob.glob(os.path.join(path, C.EPOCH_DIR, "*.tmp"))  # claim released
    monkeypatch.undo()

    # with the contention gone the same batch commits cleanly and the
    # committed view serializes to all 20 rows
    m = C.commit_append_epoch(path)
    assert m["epoch"] == 1
    from spectraplex_spark.sources.commit import read_committed_epochs

    assert read_committed_epochs(spark, path).count() == 20


def test_epoch_numbering_past_six_digits(tmp_path):
    """epoch-1000000.json (7 digits) must parse fully and sort AFTER
    epoch-999999.json — a [6:12] slice / lexicographic sort broke both
    (review finding)."""
    import json
    import os

    from spectraplex_spark.sources.commit import (
        EPOCH_DIR,
        _epoch_paths,
        _next_epoch_number,
    )

    d = tmp_path / "t" / EPOCH_DIR
    d.mkdir(parents=True)
    for n in (999999, 1000000):
        (d / f"epoch-{n:06d}.json").write_text(
            json.dumps({"version": 1, "epoch": n, "files": {}})
        )
    paths = _epoch_paths(str(tmp_path / "t"))
    assert [os.path.basename(p) for p in paths] == [
        "epoch-999999.json",
        "epoch-1000000.json",
    ]
    assert _next_epoch_number(str(tmp_path / "t")) == 1000001


def test_read_epoch_changes_inverted_range_raises(spark, tmp_path):
    import pytest as _pytest

    from spectraplex_spark.sources.commit import (
        commit_append_epoch,
        read_epoch_changes,
    )

    t = str(tmp_path / "t")
    spark.range(3).write.parquet(t)
    commit_append_epoch(t)
    with _pytest.raises(ValueError, match="inverted range"):
        read_epoch_changes(spark, t, from_epoch=5, to_epoch=3)


def test_committed_epoch_files_validates_as_of_epoch(spark, tmp_path):
    """r13 review: an as_of_epoch past the newest commit silently
    returned the FULL current table (masking consumer bookkeeping
    bugs); one inside a squashed range failed downstream with 'lists
    no files'. Both now raise with the accurate remedy."""
    import pytest

    from spectraplex_spark.sources.commit import (
        TableInconsistentError,
        commit_append_epoch,
        committed_epoch_files,
        squash_epochs,
    )
    from spectraplex_spark.sources.io import idempotent_append

    t = str(tmp_path / "t")
    for i in range(3):  # epochs 0, 1, 2
        idempotent_append(
            spark.createDataFrame([(i, f"v{i}")], "id long, v string"), t
        )
    ok = committed_epoch_files(t, as_of_epoch=1)
    assert ok and all(rel.endswith(".parquet") for rel in ok)
    with pytest.raises(TableInconsistentError, match="newest committed epoch"):
        committed_epoch_files(t, as_of_epoch=99)
    squash_epochs(t, keep_last=1)  # epochs 0-1 merge into the boundary
    # the squash boundary carries the full table; an as-of INSIDE the
    # squashed range names the re-baseline remedy
    with pytest.raises(TableInconsistentError, match="re-baseline"):
        committed_epoch_files(t, as_of_epoch=0)
    # at-or-after the boundary still reads fine
    assert committed_epoch_files(t, as_of_epoch=1)
