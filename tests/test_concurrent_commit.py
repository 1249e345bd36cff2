"""Optimistic-concurrency snapshot commits (VERDICT r3 Missing #3).

Two writers racing on the same parent version must not silently last-write-
win: the version-file hard-link CAS lets exactly one writer own each
version; a MoR loser rebases its append-only delta onto the winner's
snapshot and retries; a CoW loser raises; a winner that crashed between the
CAS and the pointer flip is helped forward by the next writer."""

from __future__ import annotations

import json
import os
from datetime import datetime

import pytest

from mas_scada_bulkingest_spark.lake import ConcurrentCommitError, SnapshotTable
from mas_scada_bulkingest_spark.pipeline import apply_changes, create_transcripts_table

from conftest import assert_frames_equal

CHANGE_DDL = ("lsn long, op string, conv_id string, turn_idx int, "
              "role string, text string, tool string, ts timestamp_ntz")


def _batch(spark, conv: str, lsn0: int, n: int = 3):
    t = datetime(2024, 1, 1)
    rows = [(lsn0 + i, "insert", conv, i, "user", f"{conv}-{i}", None, t)
            for i in range(n)]
    return spark.createDataFrame(rows, CHANGE_DDL)


def test_mor_concurrent_writers_lose_nothing(spark, tmpdir_path):
    """Writer A commits while writer B holds a stale in-memory snapshot; B's
    commit must CAS-fail, rebase its delta onto A's snapshot, and retry —
    BOTH epochs' rows and file lists survive (the old unconditional rename
    silently dropped one)."""
    path = tmpdir_path + "/t"
    create_transcripts_table(spark, path, n_buckets=4, mode="mor")
    a = SnapshotTable(spark, path)
    b = SnapshotTable(spark, path)  # loaded at the same parent version as a
    apply_changes(a, _batch(spark, "conv_a", 100), epoch_id=0)
    # b still believes the pre-A version: its commit must hit the CAS
    apply_changes(b, _batch(spark, "conv_b", 200), epoch_id=1)

    fresh = SnapshotTable(spark, path)
    assert fresh.is_epoch_committed(0) and fresh.is_epoch_committed(1)
    final = fresh.read().orderBy("conv_id", "turn_idx").toPandas()
    assert sorted(final.conv_id.unique()) == ["conv_a", "conv_b"]
    assert len(final) == 6  # nothing lost on either side
    # every data file of BOTH epochs is referenced in the final snapshot
    referenced = {f for v in fresh._snapshot["buckets"].values() for f in v}
    a_files = {f for v in a._snapshot["buckets"].values() for f in v}
    b_files = {f for v in b._snapshot["buckets"].values() for f in v}
    assert a_files <= referenced and b_files <= referenced


def test_same_epoch_duel_is_noop_for_loser(spark, tmpdir_path):
    """Two writers replaying the SAME epoch id: the CAS loser reloads, finds
    its epoch already committed, and returns a no-op instead of double-
    counting (exactly-once under concurrency)."""
    path = tmpdir_path + "/t"
    create_transcripts_table(spark, path, n_buckets=4, mode="mor")
    a = SnapshotTable(spark, path)
    b = SnapshotTable(spark, path)
    st_a = apply_changes(a, _batch(spark, "conv_x", 100), epoch_id=7)
    st_b = apply_changes(b, _batch(spark, "conv_x", 100), epoch_id=7)
    assert not st_a.was_noop and st_b.was_noop
    fresh = SnapshotTable(spark, path)
    assert len(fresh.read().toPandas()) == 3  # applied exactly once


def test_cow_concurrent_commit_raises(spark, tmpdir_path):
    """CoW rewrites are built against a specific file set — a conflicting
    commit must surface as ConcurrentCommitError, never silently rebase."""
    path = tmpdir_path + "/t"
    create_transcripts_table(spark, path, n_buckets=4, mode="cow")
    a = SnapshotTable(spark, path)
    b = SnapshotTable(spark, path)
    apply_changes(a, _batch(spark, "conv_a", 100), epoch_id=0)
    with pytest.raises(ConcurrentCommitError):
        apply_changes(b, _batch(spark, "conv_b", 200), epoch_id=1)
    # the loser's table is intact and retryable after reload
    b2 = SnapshotTable(spark, path)
    apply_changes(b2, _batch(spark, "conv_b", 200), epoch_id=1)
    fresh = SnapshotTable(spark, path)
    assert sorted(fresh.read().toPandas().conv_id.unique()) == ["conv_a", "conv_b"]


def test_orphaned_winner_is_helped_forward(spark, tmpdir_path):
    """A writer that crashed between the version CAS and the pointer flip
    leaves a fully-formed orphan vN.json; the next conflicting writer flips
    the pointer on its behalf (helping), reloads, and retries — the orphan's
    commit is preserved, the sequence never wedges."""
    path = tmpdir_path + "/t"
    create_transcripts_table(spark, path, n_buckets=4, mode="mor")
    a = SnapshotTable(spark, path)
    apply_changes(a, _batch(spark, "conv_a", 100), epoch_id=0)
    # handcraft the crashed winner: next version exists, pointer not flipped
    cur = a._snapshot
    orphan = {**cur, "version": cur["version"] + 1, "parent": cur["version"],
              "committed_epochs": sorted({*map(str, cur["committed_epochs"]), "99"})}
    with open(os.path.join(path, "snapshots", f"v{orphan['version']:08d}.json"), "w") as f:
        json.dump(orphan, f)
    # a's next commit CAS-fails, helps the orphan forward, rebases, retries
    apply_changes(a, _batch(spark, "conv_b", 200), epoch_id=1)
    fresh = SnapshotTable(spark, path)
    assert fresh.is_epoch_committed(99)  # the orphan's commit survived
    assert fresh.is_epoch_committed(0) and fresh.is_epoch_committed(1)
    assert sorted(fresh.read().toPandas().conv_id.unique()) == ["conv_a", "conv_b"]


def test_compaction_rebases_over_concurrent_append(spark, tmpdir_path):
    """Background compaction racing an ingest writer: the compactor loaded
    an older snapshot, so its commit CAS-fails; the rebase must swap ONLY
    its compacted input files for the compacted output while keeping the
    delta files the concurrent epoch appended — no data from either side
    lost (LWW is associative, so read-time collapse over output+new deltas
    yields identical winners)."""
    path = tmpdir_path + "/t"
    create_transcripts_table(spark, path, n_buckets=2, mode="mor")
    compactor = SnapshotTable(spark, path)
    writer = SnapshotTable(spark, path)
    # several epochs so buckets exceed the compaction threshold
    for e in range(4):
        apply_changes(compactor, _batch(spark, f"conv{e}", 100 * e, 4), epoch_id=e)
    writer._snapshot = writer._read_current_snapshot()
    compactor._snapshot = compactor._read_current_snapshot()
    # the ingest writer lands one more epoch AFTER the compactor's snapshot
    pre_compact_files = {
        f for v in compactor._snapshot["buckets"].values() for f in v
    }
    apply_changes(writer, _batch(spark, "conv_late", 900, 4), epoch_id=9)
    n = compactor.compact(max_files=1)
    assert n > 0  # rebase committed, not skipped
    fresh = SnapshotTable(spark, path)
    final = fresh.read().orderBy("conv_id", "turn_idx").toPandas()
    assert sorted(final.conv_id.unique()) == [
        "conv0", "conv1", "conv2", "conv3", "conv_late",
    ]
    assert len(final) == 20  # 5 convs x 4 turns, nothing lost
    # the concurrent epoch's delta files survived the rebase: every file
    # the writer's commit added (absent from the compactor's snapshot) is
    # still referenced
    ref_files = {f for v in fresh._snapshot["buckets"].values() for f in v}
    late_files = {
        f for v in writer._snapshot["buckets"].values() for f in v
    } - pre_compact_files
    assert late_files and late_files <= ref_files
    assert fresh.is_epoch_committed(9)


# ---- merge-on-read appends racing a reshard: delta files bucketed under
# one n_buckets must never graft onto a snapshot bucketed under another


def _reshard_events(spark, epoch: int):
    """One row per conversation c00..c11 (turn 0): epoch 0 inserts ``v0``,
    epoch 1 updates every conversation to ``v1`` with a newer order."""
    rows = [
        (100 * epoch + i, "update", f"c{i:02d}", 0, "user", f"v{epoch}", None,
         datetime(2024, 1, 1, epoch, 0, i))
        for i in range(12)
    ]
    return spark.createDataFrame(rows, CHANGE_DDL)


def _state(tbl):
    return sorted((r.conv_id, r.turn_idx, r.text) for r in tbl.read().collect())


def _oracle(epochs: int, deleted: set = frozenset()):
    """Final state after ``epochs`` epochs of :func:`_reshard_events`,
    minus the ``deleted`` conversations."""
    return [
        (f"c{i:02d}", 0, f"v{epochs - 1}")
        for i in range(12)
        if f"c{i:02d}" not in deleted
    ]


def _assert_bucket_ids_in_range(spark, path):
    snap = SnapshotTable(spark, path)._snapshot
    assert all(0 <= int(b) < int(snap["n_buckets"]) for b in snap["buckets"])


def _stale_handle_over_reshard(spark, path):
    """A 4-bucket MoR table holding epoch 0, a handle loaded at that state,
    and a second handle that then reshards the table to 3 buckets."""
    create_transcripts_table(spark, path, n_buckets=4, mode="mor")
    apply_changes(SnapshotTable(spark, path), _reshard_events(spark, 0), epoch_id=0)
    stale = SnapshotTable(spark, path)
    SnapshotTable(spark, path).rebucket(3)
    return stale


def test_mor_merge_over_concurrent_rebucket_raises(spark, tmpdir_path):
    path = tmpdir_path + "/t"
    stale = _stale_handle_over_reshard(spark, path)
    with pytest.raises(ConcurrentCommitError):
        apply_changes(stale, _reshard_events(spark, 1), epoch_id=1)
    _assert_bucket_ids_in_range(spark, path)
    fresh = SnapshotTable(spark, path)
    assert not fresh.is_epoch_committed(1)
    apply_changes(fresh, _reshard_events(spark, 1), epoch_id=1)
    assert _state(SnapshotTable(spark, path)) == _oracle(2)
    _assert_bucket_ids_in_range(spark, path)


def test_mor_delete_where_over_concurrent_rebucket_raises(spark, tmpdir_path):
    path = tmpdir_path + "/t"
    stale = _stale_handle_over_reshard(spark, path)
    pred = "conv_id < 'c06'"
    with pytest.raises(ConcurrentCommitError):
        stale.delete_where(pred)
    _assert_bucket_ids_in_range(spark, path)
    assert _state(SnapshotTable(spark, path)) == _oracle(1)
    assert SnapshotTable(spark, path).delete_where(pred) == 6
    expected = _oracle(1, {f"c{i:02d}" for i in range(6)})
    assert _state(SnapshotTable(spark, path)) == expected
    _assert_bucket_ids_in_range(spark, path)


def test_mor_merge_after_restore_across_reshard_raises(spark, tmpdir_path):
    """restore() to a version with another n_buckets is a reshard too."""
    path = tmpdir_path + "/t"
    create_transcripts_table(spark, path, n_buckets=4, mode="mor")
    writer = SnapshotTable(spark, path)
    apply_changes(writer, _reshard_events(spark, 0), epoch_id=0)
    four_buckets = writer._snapshot["version"]
    writer.rebucket(3)
    stale = SnapshotTable(spark, path)  # 3 buckets
    SnapshotTable(spark, path).restore(four_buckets)
    with pytest.raises(ConcurrentCommitError):
        apply_changes(stale, _reshard_events(spark, 1), epoch_id=1)
    _assert_bucket_ids_in_range(spark, path)
    fresh = SnapshotTable(spark, path)
    assert fresh.n_buckets == 4 and not fresh.is_epoch_committed(1)
    apply_changes(fresh, _reshard_events(spark, 1), epoch_id=1)
    assert _state(SnapshotTable(spark, path)) == _oracle(2)
    _assert_bucket_ids_in_range(spark, path)
