"""MERGE INTO (upsert + delete) over plain parquet — the CDC write
path, emulated the way every copy-on-write table format implements it.

The reference's only write semantic is insert-or-ignore
(``ON CONFLICT DO NOTHING``, repo.rs:26), covered by the idempotent
sinks. A real pipeline also needs UPSERT (late corrections, backfills)
and DELETE (GDPR erasure, retractions) — in lakehouse formats that is
``MERGE INTO``; without a table format in this environment the same
semantics are built from the two primitives Spark does have:
an anti-join rewrite and a staged swap.

Semantics (one call): rows of ``updates`` carry the key plus the new
payload and an ``_op`` column — 'upsert' (insert-or-replace) or
'delete'. The merged table is
``target \\ keys(updates)  ∪  upserts(updates)``.

Scale design — PARTITION-SCOPED copy-on-write, the part that matters
at 100 TB: when the table is partitioned and ``partition_col`` is
given, only the partitions that actually contain updated keys are
rewritten (the updates frame's distinct partition values, plus — by
default — a key-probe of the target for keys whose stored partition
differs; see ``probe_moved_keys``); untouched partitions are never
rewritten. A merge touching
1 of 10,000 daily partitions costs 1/10,000 of the table, exactly like
Delta/Iceberg/Hudi copy-on-write file pruning (their granularity is
the file; a partition is the portable approximation). The rewrite of
an affected partition is one anti-join (updates side broadcast when
batch-sized) + one union + one write to a STAGED directory, then a
directory swap — Spark cannot overwrite a dataset it is reading, and
stage-then-swap at the manifest level is how every table format
commits (compact_to's discipline).

The swap never derives a directory name from a partition value. It
replaces the directories it OBSERVED: the parents of the scoped rows'
``_metadata.file_path`` (the old partitions) and the ``name=value``
directories Spark wrote under the staged copy (the new ones). A
scoped directory with no staged twin is a pure deletion and is
removed. Values whose directory text reads back in another form
(``p=01`` reads back as int 1) are therefore no special case: the
rewrite carries the partition column as the target reads it back, so
``p=01`` is rewritten as ``p=1`` and the old ``p=01`` goes. An update
whose partition value that type cannot hold (``p=abc`` into an int
table) widens the rewrite's partition column to string instead.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from spectraplex_spark.sources.commit import (
    TableInconsistentError,
    validate_commit_manifest,
    write_commit_manifest,
)
from spectraplex_spark.sources.io import _name_value_dirs

OP_COL = "_op"
INTENT_NAME = "_spectraplex_intent.json"


def _write_intent(staged_dir: str, intent: dict) -> None:
    """WAL record inside the staged dir (underscore-prefixed: excluded
    from data-file manifests), written tmp-then-rename BEFORE any swap
    step so recover_merge can roll the swap forward."""
    final = os.path.join(staged_dir, INTENT_NAME)
    tmp = final + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(intent, fh, sort_keys=True)
        fh.flush()
        os.fsync(fh.fileno())
    os.rename(tmp, final)


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key_col: str,
    partition_col: str | None = None,
    probe_moved_keys: bool = True,
) -> dict[str, int]:
    """Apply ``updates`` (payload columns + ``_op`` in {'upsert',
    'delete'}) to the parquet table at ``target_path``. Returns
    counts: upserted / deleted / partitions_rewritten.

    Duplicate keys within one updates batch are invalid (which payload
    wins would be arbitrary) and raise.

    ``probe_moved_keys`` (default True) guards the partition-scoped
    path against keys that MOVE partitions: an upsert whose
    ``partition_col`` value differs from the row's currently-stored
    partition (or a delete carrying a stale partition value) must also
    rewrite the OLD partition, else the key survives there as a stale
    duplicate. The probe is one broadcast semi-join of the target
    against the update keys, reading only (key_col, partition_col) —
    column-pruned but NOT partition-pruned (it must look everywhere by
    definition). Workloads whose partition value is immutable per key
    (e.g. event-date partitioning keyed by event id) can pass
    ``probe_moved_keys=False`` to keep the fully partition-pruned
    read; that flag is a CONTRACT that keys never change partition.

    With ``partition_col``, the partition column of the upserts is cast
    to the type the target reads back before the union, and the swap
    replaces exactly the directories that held the scoped rows plus
    those the staged write produced — both observed on disk, both
    recorded in the intent record for ``recover_merge``."""
    # A trailing slash would place the staged/old siblings INSIDE the
    # target (breaking the whole-table rename with EINVAL after the
    # intent landed, and hiding them from _siblings/recover_merge).
    target_path = target_path.rstrip("/") or target_path
    from spectraplex_spark.sources.commit import EPOCH_DIR

    if os.path.isdir(os.path.join(target_path, EPOCH_DIR)):
        raise TableInconsistentError(
            f"{target_path}: carries append-epoch manifests ({EPOCH_DIR}) "
            "— merge_upsert rewrites files the epochs still reference, "
            "which would both break the epoch read path and make the next "
            "append double-commit the rewritten rows. Squash/retire the "
            "epoch history (or rebuild the table) before merging."
        )
    # persist: updates feeds the _op check, both counts, the partition
    # probe, and the final anti-join/union — without it every guard
    # re-executes the (possibly non-deterministic) lineage, and the
    # batch the guards validated need not be the batch that merges.
    updates = updates.persist()
    # try/finally, not hand-enumerated unpersists: any exception path
    # (unreadable target, failed staged write, OSError mid-swap) must
    # release the cached batch too (review finding r13).
    try:
        return _merge_upsert_impl(
            spark, target_path, updates, key_col, partition_col, probe_moved_keys
        )
    finally:
        updates.unpersist()


def _merge_upsert_impl(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key_col: str,
    partition_col: str | None,
    probe_moved_keys: bool,
) -> dict[str, int]:
    ops = updates.select(F.col(OP_COL)).distinct().collect()
    bad = [r[0] for r in ops if r[0] not in ("upsert", "delete")]
    if bad:
        raise ValueError(f"unknown _op values {bad!r}: use 'upsert' or 'delete'")
    n_updates = updates.count()
    if updates.select(key_col).distinct().count() != n_updates:
        raise ValueError(
            "updates batch has duplicate keys — which payload wins would "
            "be arbitrary; pre-aggregate to one row per key (e.g. latest "
            "by a CDC sequence column) before merging."
        )
    if updates.filter(F.col(key_col).isNull()).count():
        raise ValueError(
            "updates batch carries a NULL merge key: the anti-join never "
            "matches NULL (a null-key upsert would duplicate, a null-key "
            "delete would silently no-op) — repair or drop those rows."
        )
    target = spark.read.parquet(target_path)
    upserts = updates.filter(F.col(OP_COL) == "upsert").drop(OP_COL)
    # Schema guard (review finding r13, the idempotent_append rule for
    # the REWRITE path): unionByName silently coerces mismatched column
    # types (long+double → double; long+string → bigint with
    # unparseable payloads becoming NULL — verified on Spark 4.1.2), so
    # a drifted updates batch would rewrite the affected partitions
    # under a forked parquet schema and corrupt later whole-table reads.
    # The partition column compares by NAME only (the idempotent_append
    # rule): its read-back type comes from partition-value INFERENCE —
    # a NULL-only partition reads back NullType, numeric-looking values
    # read back int/date — which legitimately differs from the written
    # type without any payload hazard.
    tgt_types = {
        f.name: f.dataType
        for f in target.schema.fields
        if f.name != partition_col
    }
    upd_types = {
        f.name: f.dataType
        for f in upserts.schema.fields
        if f.name != partition_col
    }
    if tgt_types != upd_types or {f.name for f in target.schema.fields} != {
        f.name for f in upserts.schema.fields
    }:
        diffs = sorted(set(tgt_types) | set(upd_types))
        detail = ", ".join(
            f"{c}: target={tgt_types.get(c, '<absent>')} "
            f"updates={upd_types.get(c, '<absent>')}"
            for c in diffs
            if tgt_types.get(c) != upd_types.get(c)
        ) or "column name sets differ"
        raise TableInconsistentError(
            f"{target_path}: updates schema does not match the target "
            f"({detail}) — unionByName would silently coerce and fork "
            "the table's parquet schema across partitions; cast the "
            "updates batch to the target schema first."
        )
    n_up = upserts.count()
    n_del = n_updates - n_up

    if partition_col is not None:
        # Partition values enter the rewrite spelled as the target reads
        # them back (partition-type inference: 'p=01' reads back as int 1,
        # 'p=1e5' as decimal 100000), so scope rows and upserts spell each
        # partition one way and the staged write is deterministic. The
        # column goes in as a string: partition values live only in
        # directory names, and a string cast of the read-back value
        # spells the name a typed write would. A value the read-back type
        # cannot hold without loss ('abc' or '1.5' into an int table,
        # '3e6' into decimal(6,0)) keeps its own spelling instead. A
        # NULL-only table reads back NullType, which no value casts to;
        # the union widens it instead.
        part = F.col(partition_col)
        read_back = target.schema[partition_col].dataType
        if not isinstance(read_back, T.NullType):
            fitted = part.try_cast(read_back)
            if isinstance(read_back, T.NumericType):
                exact = T.DecimalType(38, 18)
                fitted = F.when(
                    part.try_cast(exact) == fitted.try_cast(exact), fitted
                )
            part = F.coalesce(fitted.cast("string"), part.cast("string"))
        upserts = upserts.withColumn(partition_col, part)
        parts = updates.select(part.alias("_p")).distinct()
        if probe_moved_keys:
            # key-probe: partitions where the updated keys CURRENTLY
            # live — catches partition-moving upserts / stale-partition
            # deletes that would otherwise leave the old copy behind
            current = (
                target.join(
                    F.broadcast(updates.select(key_col)), key_col, "left_semi"
                )
                .select(part.alias("_p"))
                .distinct()
            )
            parts = parts.unionByName(current).distinct()
        affected = [r[0] for r in parts.collect()]
        # the partition predicate PRUNES the rewrite read: untouched
        # partitions are never rewritten (verified in tests via file
        # mtimes). isin() never matches NULL — a NULL partition value
        # needs an explicit isNull branch or its rows silently escape
        # the rewrite scope.
        non_null = [v for v in affected if v is not None]
        pred = part.isin(non_null)
        if len(non_null) < len(affected):
            pred = pred | part.isNull()
        scoped_target = target.filter(pred)
        # The directories that hold the scoped rows, read from the file
        # paths rather than predicted from values: a file path is the
        # URL-encoded on-disk path, so one unquote gives the directory
        # name exactly as Spark's writer escaped it.
        scope_dirs = {
            unquote(r[0])
            for r in scoped_target.select(
                F.regexp_extract("_metadata.file_path", r"([^/]+)/[^/]+$", 1)
            )
            .distinct()
            .collect()
        }
        n_parts = len(affected)
        scoped_target = scoped_target.withColumn(partition_col, part)
    else:
        scoped_target = target
        n_parts = 1

    merged_scope = scoped_target.join(
        F.broadcast(updates.select(key_col)), key_col, "left_anti"
    ).unionByName(upserts)

    staged = f"{target_path}__staged_{uuid.uuid4().hex[:8]}"
    writer = merged_scope.write.mode("overwrite")
    if partition_col is not None:
        writer = writer.partitionBy(partition_col)
    writer.parquet(staged)
    if partition_col is not None:
        # the swap replaces every observed directory: the scope's old
        # ones (a pure-deletion partition has no staged twin, so the
        # swap just removes it) and the ones Spark wrote under staged
        affected_dirs = sorted(scope_dirs | set(_name_value_dirs(staged)))

        def _has_parquet(d: str) -> bool:
            return os.path.isdir(d) and any(
                f.endswith(".parquet") for f in os.listdir(d)
            )

        # A merge that deletes the table's LAST row leaves zero data
        # files — an UNREADABLE dataset (UNABLE_TO_INFER_SCHEMA;
        # hypothesis-caught r12).  The keep-footer (one empty
        # schema-bearing file in the first affected partition) is
        # staged HERE, before the intent record, so it rides the
        # normal rewrite swap — which also makes recover_merge's
        # partition-mode replay reproduce it (review finding r13: the
        # old post-swap footer was invisible to recovery, so a crash
        # between the swap loop and the footer write recovered into
        # the unreadable zero-file state and committed it).
        table_will_empty = not any(
            _has_parquet(os.path.join(staged, d)) for d in _name_value_dirs(staged)
        ) and not any(
            _has_parquet(os.path.join(target_path, d))
            for d in _name_value_dirs(target_path)
            if d not in affected_dirs
        )
        if table_will_empty:
            spark.createDataFrame(
                [], scoped_target.drop(partition_col).schema
            ).repartition(1).write.mode("overwrite").parquet(
                os.path.join(staged, affected_dirs[0])
            )
        staged_parts = _name_value_dirs(staged)
    # WAL: the intent record makes the staged dir self-describing, so
    # recover_merge can roll an interrupted swap FORWARD — including
    # pure-deletion partitions that leave no staged subdirectory.
    # "affected" holds the observed dir names (e.g. "day=2024%2F01")
    # so recovery never derives a name from a value.
    _write_intent(
        staged,
        {
            "mode": "whole" if partition_col is None else "partitions",
            "partition_col": partition_col,
            "affected": [] if partition_col is None else affected_dirs,
            # partitions WITH staged data are rewrites; affected
            # partitions WITHOUT are pure deletions (recovery must
            # re-delete them, not mistake the old dir for a finished
            # swap)
            "staged_parts": [] if partition_col is None else staged_parts,
        },
    )

    if partition_col is None:
        # whole-table swap
        old = f"{target_path}__old_{uuid.uuid4().hex[:8]}"
        os.rename(target_path, old)
        os.rename(staged, target_path)
    else:
        # swap ONLY the affected partition directories; untouched
        # partitions are never read or written (verified in tests via
        # file mtimes)
        old = None
        for part in affected_dirs:
            dst = os.path.join(target_path, part)
            src = os.path.join(staged, part)
            if os.path.exists(dst):
                shutil.rmtree(dst)
            if os.path.exists(src):
                os.rename(src, dst)
        # (the last-row-delete keep-footer was STAGED before the intent
        # record above, so the swap loop just moved it in — and a
        # crash-recovery replay of the same intent reproduces it)
    # commit point: refresh the manifest AFTER the swap; until this
    # rename lands, validate/read_committed reject the directory as
    # mid-swap (sources/commit.py crash matrix) — the staged/old copy
    # is only discarded once the new snapshot is committed
    if partition_col is None:
        intent_in_target = os.path.join(target_path, INTENT_NAME)
        if os.path.exists(intent_in_target):  # rode along in the rename
            os.remove(intent_in_target)
    write_commit_manifest(target_path)
    if partition_col is None:
        shutil.rmtree(old)
    else:
        shutil.rmtree(staged)
    return {"upserted": n_up, "deleted": n_del, "partitions_rewritten": n_parts}


def _siblings(target_path: str, tag: str) -> list[str]:
    parent = os.path.dirname(os.path.abspath(target_path)) or "."
    base = os.path.basename(target_path.rstrip("/"))
    return sorted(
        os.path.join(parent, d)
        for d in os.listdir(parent)
        if d.startswith(f"{base}__{tag}_")
    )


def recover_merge(target_path: str) -> str:
    """Bring a merge target back to a committed state after a crash,
    rolling the interrupted swap FORWARD from the staged copy's intent
    record (the WAL written before any swap step). Returns what was
    done. State machine (every state a kill can leave, pytest-pinned):

      clean           — manifest valid: drop orphan staged/old dirs.
                        Includes a fully-staged merge whose swap never
                        STARTED: it never reached its commit point, so
                        it rolls back (staged copy abandoned; re-run
                        the merge) — the canonical uncommitted-
                        transaction outcome.
      completed-merge — partition swap finished but the commit-manifest
                        refresh didn't land (staged + intent present):
                        re-apply the intent (idempotent — partitions
                        already moved stay moved, pure-deletion
                        partitions are re-deleted), commit, drop staged.
      whole-forward   — whole-table swap interrupted: target missing →
                        rename staged in; target present but
                        uncommitted with a staged copy → replace it;
                        then commit and drop the old copy.
      commit-forward  — whole-table swap fully applied (old copy still
                        beside the table, no staged) but uncommitted:
                        write the manifest, drop old.
      rolled-back     — only the old copy survived (target and staged
                        both gone): restore old as target (its manifest
                        is intact).

    Anything else raises — automatic recovery must never guess."""
    staged_dirs = _siblings(target_path, "staged")
    old_dirs = _siblings(target_path, "old")
    target_exists = os.path.exists(target_path)

    def _committed() -> bool:
        try:
            validate_commit_manifest(target_path)
            return True
        except TableInconsistentError:
            return False

    if target_exists and _committed():
        for d in (*staged_dirs, *old_dirs):
            shutil.rmtree(d)
        return "clean"

    if len(staged_dirs) > 1:
        raise TableInconsistentError(
            f"{target_path}: {len(staged_dirs)} staged dirs — concurrent "
            "writers are outside this protocol; resolve by hand"
        )

    if staged_dirs:
        staged = staged_dirs[0]
        intent_path = os.path.join(staged, INTENT_NAME)
        if not os.path.exists(intent_path):
            raise TableInconsistentError(
                f"{staged}: staged dir without an intent record (pre-WAL "
                "writer or partial stage) — remove it by hand and re-run "
                "the merge"
            )
        with open(intent_path) as fh:
            intent = json.load(fh)
        if intent["mode"] == "whole":
            if target_exists:
                shutil.rmtree(target_path)  # uncommitted half-state
            # RENAME FIRST, remove the intent after (it rides along
            # inside the renamed dir) — merge_upsert's own order. The
            # old remove-then-rename order had a crash window leaving a
            # staged dir with no intent and NO target: the next recovery
            # run would refuse the only complete copy (review finding).
            os.rename(staged, target_path)
            carried = os.path.join(target_path, INTENT_NAME)
            if os.path.exists(carried):
                os.remove(carried)
            write_commit_manifest(target_path)
            for d in old_dirs:
                shutil.rmtree(d)
            return "whole-forward"
        # partition mode: re-apply the recorded swap, idempotently.
        # intent["affected"] carries full escaped dir names already.
        staged_parts = set(intent["staged_parts"])
        for part in intent["affected"]:
            dst = os.path.join(target_path, part)
            src = os.path.join(staged, part)
            if part in staged_parts:  # rewrite: move unless already moved
                if os.path.exists(src):
                    if os.path.exists(dst):
                        shutil.rmtree(dst)
                    os.rename(src, dst)
            else:  # pure deletion: the emptied partition must not survive
                if os.path.exists(dst):
                    shutil.rmtree(dst)
        write_commit_manifest(target_path)
        shutil.rmtree(staged)
        for d in old_dirs:
            shutil.rmtree(d)
        return "completed-merge"

    if target_exists and old_dirs:
        # whole-table swap fully applied but never committed
        leftover = os.path.join(target_path, INTENT_NAME)
        if os.path.exists(leftover):  # rode along in the rename
            os.remove(leftover)
        write_commit_manifest(target_path)
        for d in old_dirs:
            shutil.rmtree(d)
        return "commit-forward"

    if not target_exists and old_dirs:
        os.rename(old_dirs[0], target_path)  # old manifest intact
        validate_commit_manifest(target_path)
        for d in old_dirs[1:]:
            shutil.rmtree(d)
        return "rolled-back"

    raise TableInconsistentError(
        f"{target_path}: no committed manifest, no staged copy, no old "
        "copy — nothing to recover from automatically"
    )

