"""Every committing operation under one injected race.

The injection point is ``SnapshotTable._write_snapshot``: its first call
plants a crashed winner before the real write — a fully formed
``v{N+1}.json`` built on the current snapshot that adds a marker epoch and
changes no buckets, the same orphan ``test_orphaned_winner_is_helped_forward``
hand-crafts. The real CAS then loses, helps the orphan forward and reports
the conflict to the operation.

The expectations were pinned against the hand-rolled commit sites first;
only the metadata-only ``drop_constraint``, ``set_schema_evolution`` and
``clear_quarantine`` moved (pinned -> rebase) when every site went through
``SnapshotTable._commit``.

Per operation, the table pins the race outcome:

* ``rebase`` — the operation rebuilds on the orphan's snapshot and commits;
  the marker epoch survives and ``verify_integrity()`` stays clean.
* ``pinned`` — the operation is only valid against its exact parent, so it
  raises :class:`ConcurrentCommitError` and the orphan's state stays current.
"""

from __future__ import annotations

import ast
import json
import os
from datetime import datetime

import pytest

from mas_scada_bulkingest_spark.lake import ConcurrentCommitError, SnapshotTable
from mas_scada_bulkingest_spark.pipeline import apply_changes, create_transcripts_table

CHANGE_DDL = (
    "lsn long, op string, conv_id string, turn_idx int, "
    "role string, text string, tool string, ts timestamp_ntz"
)
MARKER = "marker:99"


def _batch(spark, rows):
    """rows: (lsn, op, conv, turn, text) — ts follows lsn."""
    return spark.createDataFrame(
        [
            (lsn, op, conv, turn, "user", text, None, datetime(2024, 1, 1, 0, 0, lsn % 60))
            for lsn, op, conv, turn, text in rows
        ],
        CHANGE_DDL,
    )


def _seeded(spark, path, mode="mor", quarantine=False):
    """Table with epoch 0 committed: convs c0..c2, two turns each (plus a
    quarantined turn 7 per conv when ``quarantine``)."""
    tbl = create_transcripts_table(spark, path, n_buckets=2, mode=mode)
    rows = [(10 * c + t, "insert", f"c{c}", t, f"c{c}-{t}") for c in range(3) for t in range(2)]
    if quarantine:
        tbl.add_constraint("no_turn7", "turn_idx <> 7", mode="quarantine")
        rows += [(10 * c + 7, "insert", f"c{c}", 7, "bad") for c in range(2)]
    apply_changes(tbl, _batch(spark, rows), epoch_id=0)
    return tbl


def _epoch1(spark):
    return _batch(spark, [(40, "insert", "c3", 0, "new"), (41, "update", "c0", 0, "edit")])


def _setup_merge(spark, path, mode):
    tbl = _seeded(spark, path, mode)
    return lambda: apply_changes(tbl, _epoch1(spark), epoch_id=1)


def _setup_publish(spark, path, mode):
    tbl = _seeded(spark, path, mode)
    ref = apply_changes(tbl, _epoch1(spark), epoch_id=1, stage=True).staged_ref
    return lambda: tbl.publish_staged(ref)


def _setup_bootstrap(spark, path):
    tbl = create_transcripts_table(spark, path, n_buckets=2, mode="mor")
    state = _batch(spark, [(1, "insert", "c0", 0, "a"), (2, "insert", "c1", 0, "b")])
    return lambda: tbl.bootstrap(state, epoch_id="boot")


def _setup_compact(spark, path):
    tbl = _seeded(spark, path)
    apply_changes(tbl, _epoch1(spark), epoch_id=1)
    return lambda: tbl.compact(max_files=1)


def _setup_purge_tombstones(spark, path):
    tbl = _seeded(spark, path)
    apply_changes(tbl, _batch(spark, [(50, "delete", "c1", 0, None)]), epoch_id=1)
    return lambda: tbl.purge_tombstones()


def _setup_delete_where(spark, path, mode):
    tbl = _seeded(spark, path, mode)
    return lambda: tbl.delete_where("turn_idx = 1")


def _setup_update_where(spark, path, mode):
    tbl = _seeded(spark, path, mode)
    return lambda: tbl.update_where("turn_idx = 1", {"text": "upper(text)"})


def _setup_purge_key(spark, path, quarantine=False):
    tbl = _seeded(spark, path, quarantine=quarantine)
    return lambda: tbl.purge_key("c0")


def _setup_rebucket(spark, path):
    tbl = _seeded(spark, path)
    return lambda: tbl.rebucket(3)


def _setup_restore(spark, path):
    tbl = _seeded(spark, path)
    v = tbl._snapshot["version"]
    apply_changes(tbl, _epoch1(spark), epoch_id=1)
    return lambda: tbl.restore(v)


def _setup_fast_forward(spark, path):
    tbl = _seeded(spark, path)
    fork = tbl.clone(path + "-fork")
    apply_changes(fork, _epoch1(spark), epoch_id=1)
    return lambda: tbl.fast_forward(fork)


def _setup_meta(spark, path, op):
    if op == "add_generated_column":
        tbl = create_transcripts_table(spark, path, n_buckets=2, mode="mor")
        return lambda: tbl.add_generated_column("text_len", "length(text)")
    tbl = _seeded(spark, path, quarantine=op == "clear_quarantine")
    if op == "drop_constraint":
        tbl.add_constraint("pos", "turn_idx >= 0")
    run = {
        "drop_column": lambda: tbl.drop_column("tool"),
        "rename_column": lambda: tbl.rename_column("tool", "tool_name"),
        "add_constraint": lambda: tbl.add_constraint("pos", "turn_idx >= 0"),
        "drop_constraint": lambda: tbl.drop_constraint("pos"),
        "set_schema_evolution": lambda: tbl.set_schema_evolution("strict"),
        "clear_quarantine": lambda: tbl.clear_quarantine(),
    }[op]
    return run


#: op -> (setup(spark, path) -> run, expected race outcome)
CASES = {
    "merge_mor": (lambda s, p: _setup_merge(s, p, "mor"), "rebase"),
    "merge_cow": (lambda s, p: _setup_merge(s, p, "cow"), "pinned"),
    "publish_staged_mor": (lambda s, p: _setup_publish(s, p, "mor"), "rebase"),
    "publish_staged_cow": (lambda s, p: _setup_publish(s, p, "cow"), "pinned"),
    "bootstrap": (_setup_bootstrap, "rebase"),
    "compact": (_setup_compact, "rebase"),
    "purge_tombstones": (_setup_purge_tombstones, "rebase"),
    "delete_where_mor": (lambda s, p: _setup_delete_where(s, p, "mor"), "rebase"),
    "delete_where_cow": (lambda s, p: _setup_delete_where(s, p, "cow"), "rebase"),
    "update_where_mor": (lambda s, p: _setup_update_where(s, p, "mor"), "rebase"),
    "update_where_cow": (lambda s, p: _setup_update_where(s, p, "cow"), "rebase"),
    "purge_key": (_setup_purge_key, "rebase"),
    "purge_key_quarantine": (
        lambda s, p: _setup_purge_key(s, p, quarantine=True),
        "rebase",
    ),
    "rebucket": (_setup_rebucket, "pinned"),
    "restore": (_setup_restore, "pinned"),
    "fast_forward": (_setup_fast_forward, "pinned"),
    "drop_column": (lambda s, p: _setup_meta(s, p, "drop_column"), "pinned"),
    "rename_column": (lambda s, p: _setup_meta(s, p, "rename_column"), "pinned"),
    "add_generated_column": (
        lambda s, p: _setup_meta(s, p, "add_generated_column"),
        "pinned",
    ),
    "add_constraint": (lambda s, p: _setup_meta(s, p, "add_constraint"), "pinned"),
    "drop_constraint": (lambda s, p: _setup_meta(s, p, "drop_constraint"), "rebase"),
    "set_schema_evolution": (
        lambda s, p: _setup_meta(s, p, "set_schema_evolution"),
        "rebase",
    ),
    "clear_quarantine": (lambda s, p: _setup_meta(s, p, "clear_quarantine"), "rebase"),
}


def _arm_crashed_winner(monkeypatch) -> dict:
    """Patch ``_write_snapshot`` so its first call plants the orphan."""
    real = SnapshotTable._write_snapshot
    planted: dict = {}

    def write(self, snap, *args, **kwargs):
        if not planted:
            parent = self._read_current_snapshot()
            assert int(snap["version"]) == int(parent["version"]) + 1
            orphan = {
                **parent,
                "version": snap["version"],
                "parent": parent["version"],
                "committed_epochs": sorted(
                    {*map(str, parent["committed_epochs"]), MARKER}
                ),
            }
            name = f"v{orphan['version']:08d}.json"
            with open(os.path.join(self.path, "snapshots", name), "w") as f:
                json.dump(orphan, f)
            planted["version"] = orphan["version"]
        return real(self, snap, *args, **kwargs)

    monkeypatch.setattr(SnapshotTable, "_write_snapshot", write)
    return planted


@pytest.mark.parametrize("op", sorted(CASES))
def test_every_commit_site_under_a_crashed_winner(spark, tmpdir_path, monkeypatch, op):
    setup, expected = CASES[op]
    path = tmpdir_path + "/t"
    run = setup(spark, path)
    planted = _arm_crashed_winner(monkeypatch)
    if expected == "pinned":
        with pytest.raises(ConcurrentCommitError):
            run()
        fresh = SnapshotTable(spark, path)
        assert fresh._snapshot["version"] == planted["version"]
        assert fresh.is_epoch_committed(MARKER)
        return
    run()
    assert planted, "the operation never committed"
    fresh = SnapshotTable(spark, path)
    assert fresh._snapshot["version"] > planted["version"]
    assert fresh.is_epoch_committed(MARKER)
    report = fresh.verify_integrity()
    assert report["ok"], report


def test_commit_sites_go_through_one_primitive():
    """Structural pin: no operation grows a private retry loop again."""
    import mas_scada_bulkingest_spark.lake.snapshot_table as st

    with open(st.__file__) as f:
        tree = ast.parse(f.read())
    callers: dict[str, set] = {}
    for fn in ast.walk(tree):
        if not isinstance(fn, ast.FunctionDef):
            continue
        for node in ast.walk(fn):
            if isinstance(node, ast.For):
                assert not (
                    isinstance(node.target, ast.Name)
                    and node.target.id == "_attempt"
                ), f"retry loop in {fn.name}"
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
                callers.setdefault(node.func.attr, set()).add(fn.name)
            if isinstance(node, ast.ExceptHandler) and node.type is not None:
                assert ast.unparse(node.type) != "ConcurrentCommitError" or (
                    fn.name == "_commit"
                ), f"{fn.name} catches ConcurrentCommitError"
            if isinstance(node, ast.Name) and node.id == "_COMMIT_ATTEMPTS":
                assert fn.name == "_commit", fn.name
    assert callers["_write_snapshot"] == {"_commit", "create", "clone"}
