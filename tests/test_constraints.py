"""CHECK constraints / expectations (add_constraint — the Delta Lake
ADD CONSTRAINT / DLT-expectations analog; the reference's nearest relative
is its discard-pattern filter, ParseTagname.java discardPatterns).

Contracts pinned here: violation iff the expression evaluates to FALSE
(NULL passes — SQL CHECK semantics, which is also what lets a lagging
batch without an evolved column pass); op='delete' rows are exempt;
fail-mode aborts the epoch BEFORE the snapshot commit (nothing visible,
replay after fixing applies normally); drop-mode filters violating rows
and commits the rest; warn-mode applies and counts; counts surface in
MergeStats.violations; add-time validation refuses a constraint the
current state already breaks (fail/drop modes); bootstrap enforces the
same contract; clone carries constraints and restore adopts the target
version's set.
"""

from __future__ import annotations

from datetime import datetime

import pytest

from mas_scada_bulkingest_spark.lake import (
    ConstraintViolationError,
    SnapshotTable,
)
from mas_scada_bulkingest_spark.pipeline import (
    apply_changes,
    create_transcripts_table,
)

_COLS = (
    "lsn long, op string, conv_id string, turn_idx int, role string,"
    " text string, tool string, ts timestamp_ntz"
)


def _row(lsn, conv, turn, op="update", tool=None, text="x"):
    payload_none = op == "delete"
    return (
        lsn,
        op,
        conv,
        turn,
        None if payload_none else "u",
        None if payload_none else text,
        None if payload_none else tool,
        datetime(2024, 1, 1, 0, 0, lsn % 60, lsn),
    )


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_modes_enforce_and_count(spark, tmpdir_path, mode):
    tbl = create_transcripts_table(
        spark, tmpdir_path + f"/t_{mode}", n_buckets=2, mode=mode
    )
    tbl.add_constraint("no_turn7", "turn_idx <> 7", mode="drop")
    tbl.add_constraint("has_tool", "tool IS NOT NULL", mode="warn")
    batch = spark.createDataFrame(
        [
            _row(1, "c1", 1, tool="search"),
            _row(2, "c1", 7),              # drop-mode violation
            _row(3, "c2", 2),              # warn-mode violation (tool NULL)
            _row(4, "c3", 7, op="delete"),  # delete: exempt from both
        ],
        _COLS,
    )
    st = apply_changes(tbl, batch, epoch_id=0)
    assert st.violations == {"no_turn7": 1, "has_tool": 2}
    state = {(r.conv_id, r.turn_idx) for r in tbl.read().collect()}
    # the violating turn-7 update was dropped; the warn row was applied
    assert state == {("c1", 1), ("c2", 2)}
    # drop-mode removal is "as if never delivered": no tombstone, no row
    assert tbl.read().filter("turn_idx = 7").count() == 0


def test_fail_mode_aborts_before_commit_and_is_replayable(spark, tmpdir_path):
    tbl = create_transcripts_table(spark, tmpdir_path + "/tf", n_buckets=2)
    tbl.add_constraint("nonneg", "turn_idx >= 0", mode="fail")
    ok = spark.createDataFrame([_row(1, "c1", 1)], _COLS)
    apply_changes(tbl, ok, epoch_id=0)
    bad = spark.createDataFrame(
        [_row(2, "c2", 2), _row(3, "c9", -1)], _COLS
    )
    with pytest.raises(ConstraintViolationError) as ei:
        apply_changes(tbl, bad, epoch_id=1)
    assert ei.value.violations == {"nonneg": 1}
    # nothing committed, nothing visible — including the VALID row of the
    # failed batch (fail mode is all-or-nothing per epoch)
    assert not tbl.is_epoch_committed(1)
    assert tbl.read().count() == 1
    # the aborted write's files are uncommitted orphans, not table damage
    rep = tbl.verify_integrity()
    assert rep["ok"]
    # fix upstream, replay the SAME epoch id: applies exactly-once
    fixed = spark.createDataFrame([_row(2, "c2", 2)], _COLS)
    st = apply_changes(tbl, fixed, epoch_id=1)
    assert not st.was_noop and st.applied == 1
    assert tbl.read().count() == 2


def test_null_passes_and_lagging_batch_passes(spark, tmpdir_path):
    tbl = create_transcripts_table(spark, tmpdir_path + "/tn", n_buckets=2)
    # evolve `metadata` in, then constrain it
    withm = spark.createDataFrame(
        [_row(1, "c1", 1)], _COLS
    ).selectExpr("*", "'{}' AS metadata")
    apply_changes(tbl, withm, epoch_id=0)
    tbl.add_constraint("meta_short", "length(metadata) < 100", mode="fail")
    # a lagging batch without the column evaluates it NULL -> passes
    lag = spark.createDataFrame([_row(2, "c2", 2)], _COLS)
    st = apply_changes(tbl, lag, epoch_id=1)
    assert st.violations == {"meta_short": 0}
    # NULL value in a carried column also passes (SQL CHECK semantics)
    nullm = spark.createDataFrame(
        [_row(3, "c3", 3)], _COLS
    ).selectExpr("*", "CAST(NULL AS STRING) AS metadata")
    st = apply_changes(tbl, nullm, epoch_id=2)
    assert st.violations == {"meta_short": 0}
    assert tbl.read().count() == 3


def test_add_time_validation_and_api_guards(spark, tmpdir_path):
    tbl = create_transcripts_table(spark, tmpdir_path + "/tv", n_buckets=2)
    apply_changes(
        tbl, spark.createDataFrame([_row(1, "c1", 7)], _COLS), epoch_id=0
    )
    # existing state violates -> fail/drop refuse, warn is advisory
    with pytest.raises(ValueError, match="existing table rows violate"):
        tbl.add_constraint("no7", "turn_idx <> 7", mode="drop")
    tbl.add_constraint("no7", "turn_idx <> 7", mode="warn")
    with pytest.raises(ValueError, match="already exists"):
        tbl.add_constraint("no7", "turn_idx <> 7", mode="warn")
    with pytest.raises(ValueError, match="does not resolve"):
        tbl.add_constraint("bad", "no_such_column > 0")
    with pytest.raises(ValueError, match="mode"):
        tbl.add_constraint("m", "turn_idx >= 0", mode="ignore")
    with pytest.raises(ValueError, match="no constraint"):
        tbl.drop_constraint("missing")
    assert sorted(tbl.constraints) == ["no7"]
    tbl.drop_constraint("no7")
    assert tbl.constraints == {}


def test_constraints_enforce_in_streaming_path(spark, tmpdir_path):
    """The Structured-Streaming tail goes through the same merge boundary,
    so a quarantine constraint registered on the destination table must
    enforce inside every micro-batch: drop-filtered state, quarantine rows
    registered under the NAMESPACED epoch keys, metrics event log rows."""
    from mas_scada_bulkingest_spark.sources import generate_changelog
    from mas_scada_bulkingest_spark.streaming.driver import run_stream

    generate_changelog(
        tmpdir_path + "/log", n_convs=30, mean_turns=6, seed=11
    )
    tbl = create_transcripts_table(
        spark, tmpdir_path + "/t", n_buckets=4, mode="mor"
    )
    tbl.add_constraint("no_turn3", "turn_idx <> 3", mode="quarantine")
    q = run_stream(
        spark, tmpdir_path + "/log", tmpdir_path + "/t", tmpdir_path + "/ck"
    )
    q.awaitTermination(120)
    tbl = SnapshotTable(spark, tmpdir_path + "/t")
    assert tbl.read().filter("turn_idx = 3").count() == 0
    quarantined = tbl.read_quarantine()
    n_q = quarantined.count()
    assert n_q > 0
    assert quarantined.filter("turn_idx <> 3").count() == 0
    # registered under the stream's namespaced epoch keys
    assert all(
        ":" in k for k in tbl._snapshot.get("quarantine_files", {})
    )
    # the expectations event log followed the stream too
    m = tbl.constraint_metrics()
    assert m.filter("constraint_name = 'no_turn3'").count() > 0
    from mas_scada_bulkingest_spark.status import status

    assert status(tbl)["constraint_violations"]["no_turn3"]["total"] == n_q


def test_constraint_metrics_event_log(spark, tmpdir_path):
    import glob
    import os
    import shutil

    from mas_scada_bulkingest_spark.status import render_prometheus, status

    tbl = create_transcripts_table(spark, tmpdir_path + "/tm", n_buckets=2)
    tbl.add_constraint("no_turn7", "turn_idx <> 7", mode="drop")
    apply_changes(
        tbl,
        spark.createDataFrame([_row(1, "c1", 1), _row(2, "c2", 7)], _COLS),
        epoch_id=0,
    )
    apply_changes(
        tbl, spark.createDataFrame([_row(3, "c3", 7)], _COLS), epoch_id=1
    )
    apply_changes(  # clean epoch: a ZERO row is still logged (DLT parity)
        tbl, spark.createDataFrame([_row(4, "c4", 4)], _COLS), epoch_id=2
    )
    m = {
        (r.epoch_key, r.constraint_name): r.violations
        for r in tbl.constraint_metrics().collect()
    }
    assert m == {
        ("0", "no_turn7"): 1,
        ("1", "no_turn7"): 1,
        ("2", "no_turn7"): 0,
    }
    # at-least-once appends + reader dedup: a duplicated metrics file (the
    # crash-replay artifact) must not change any total
    f = glob.glob(os.path.join(tbl.path, "metrics", "*.parquet"))[0]
    shutil.copy(f, f.replace(".parquet", "-dup.parquet"))
    assert tbl.constraint_metrics().count() == 3
    st = status(tbl)
    assert st["constraint_violations"] == {
        "no_turn7": {"mode": "drop", "total": 2}
    }
    prom = render_prometheus(st)
    assert (
        'constraint_violations_total{constraint="no_turn7",mode="drop"} 2'
        in prom
    )
    # compaction folds the event log (4 files incl. the dup); totals
    # identical after; second call is a no-op
    assert tbl.compact_constraint_metrics() == 4
    assert tbl.constraint_metrics().count() == 3
    assert tbl.compact_constraint_metrics() == 0
    assert status(tbl)["constraint_violations"]["no_turn7"]["total"] == 2
    # clone carries the event log
    clone = tbl.clone(tmpdir_path + "/tm_clone")
    assert clone.constraint_metrics().count() == 3


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_bootstrap_enforces_same_contract(spark, tmpdir_path, mode):
    schema = (
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp_ntz, lsn long"
    )
    tbl = SnapshotTable.create(
        spark,
        tmpdir_path + "/tb",
        spark.createDataFrame([], schema).schema,
        n_buckets=2,
        mode=mode,
    )
    tbl.add_constraint("pos_lsn", "lsn > 0", mode="drop")
    dump = spark.createDataFrame(
        [
            ("a", 1, "u", "x", None, datetime(2024, 1, 1), 1),
            ("b", 2, "u", "y", None, datetime(2024, 1, 1), -4),
        ],
        schema,
    )
    st = tbl.bootstrap(dump)
    assert st.violations == {"pos_lsn": 1}
    assert st.applied == 1 and tbl.read().count() == 1

    t2 = SnapshotTable.create(
        spark,
        tmpdir_path + "/tb2",
        dump.schema,
        n_buckets=2,
        mode=mode,
    )
    t2.add_constraint("pos_lsn", "lsn > 0", mode="fail")
    with pytest.raises(ConstraintViolationError):
        t2.bootstrap(dump)
    assert t2.read().count() == 0 and not t2.is_epoch_committed("bootstrap-0")

    # bootstrap and merge_changes admit and settle one batch the same way:
    # a lagging renamed column maps in, a dropped column stays out, and
    # the drop/quarantine verdicts, quarantine rows and metrics agree
    def _twin(name):
        t = SnapshotTable.create(
            spark, f"{tmpdir_path}/{name}", dump.schema, n_buckets=2, mode=mode
        )
        t.rename_column("tool", "tool_name")
        t.drop_column("role")
        t.add_constraint("pos_lsn", "lsn > 0", mode="quarantine")
        t.add_constraint("short_text", "length(text) < 3", mode="drop")
        t.add_constraint("has_tool", "tool_name IS NOT NULL", mode="warn")
        return t

    batch = spark.createDataFrame(
        [
            ("update", "a", 1, "u", "x", "search", datetime(2024, 1, 1), 1),
            ("update", "b", 2, "u", "y", None, datetime(2024, 1, 1), -4),
            ("update", "c", 3, "u", "long", "calc", datetime(2024, 1, 1), 3),
            ("update", "d", 4, "u", "z", None, datetime(2024, 1, 1), 4),
        ],
        "op string, " + schema,
    )
    boot, merged = _twin("boot"), _twin("merge")
    st_b = boot.bootstrap(batch, epoch_id=0)
    st_m = merged.merge_changes(batch, 0)
    want = {"pos_lsn": 1, "short_text": 1, "has_tool": 2}
    assert st_b.violations == st_m.violations == want
    assert boot.schema == merged.schema
    assert "tool_name" in boot.schema.fieldNames()
    assert not {"tool", "role"} & set(boot.schema.fieldNames())

    def _rows(df, drop=()):
        df = df.drop(*drop)
        return [tuple(r) for r in df.orderBy(*df.columns).collect()]

    assert _rows(boot.read()) == _rows(merged.read())
    assert {r.conv_id for r in boot.read().collect()} == {"a", "d"}
    assert _rows(boot.constraint_metrics(), ["committed_ts"]) == _rows(
        merged.constraint_metrics(), ["committed_ts"]
    )
    q_b, q_m = boot.read_quarantine(), merged.read_quarantine()
    assert q_b.columns == q_m.columns
    assert _rows(q_b) == _rows(q_m)
    assert [r.conv_id for r in q_b.collect()] == ["b"]


def test_quarantine_mode_persists_and_filters(spark, tmpdir_path):
    tbl = create_transcripts_table(spark, tmpdir_path + "/tq", n_buckets=2)
    tbl.add_constraint("no_turn7", "turn_idx <> 7", mode="quarantine")
    batch = spark.createDataFrame(
        [
            _row(1, "c1", 1, tool="search"),
            _row(2, "c1", 7),               # quarantined
            _row(3, "c2", 7),               # quarantined
            _row(4, "c3", 7, op="delete"),  # delete: exempt
        ],
        _COLS,
    )
    st = apply_changes(tbl, batch, epoch_id=0)
    assert st.violations == {"no_turn7": 2}
    # committed state excludes the violators (quarantine ≡ drop for state)
    assert {(r.conv_id, r.turn_idx) for r in tbl.read().collect()} == {("c1", 1)}
    q = tbl.read_quarantine().collect()
    assert {(r.conv_id, r.turn_idx, r.lsn) for r in q} == {
        ("c1", 7, 2),
        ("c2", 7, 3),
    }
    assert all(r._violated == ["no_turn7"] for r in q)
    assert all(r._epoch_key == "0" for r in q)
    # exactly-once: replaying the committed epoch never double-quarantines
    st2 = apply_changes(tbl, batch, epoch_id=0)
    assert st2.was_noop
    assert tbl.read_quarantine().count() == 2
    # a violation-free epoch registers nothing (and pays no extra pass)
    apply_changes(
        tbl, spark.createDataFrame([_row(5, "c4", 1)], _COLS), epoch_id=1
    )
    assert tbl.read_quarantine(epoch_id=1).count() == 0
    assert tbl.read_quarantine().count() == 2
    # fresh-handle read sees the same registry (snapshot round-trip)
    assert SnapshotTable(spark, tbl.path).read_quarantine().count() == 2


def test_quarantine_orphans_and_clear(spark, tmpdir_path):
    import os

    tbl = create_transcripts_table(spark, tmpdir_path + "/to", n_buckets=2)
    tbl.add_constraint("no_turn7", "turn_idx <> 7", mode="quarantine")
    apply_changes(
        tbl,
        spark.createDataFrame([_row(1, "c1", 1), _row(2, "c2", 7)], _COLS),
        epoch_id=0,
    )
    # an unregistered quarantine dir (crash between write and commit) is
    # an orphan: visible to verify_integrity, reaped by vacuum
    orphan_dir = os.path.join(tbl.path, "quarantine", "epoch=99-deadbeef")
    os.makedirs(orphan_dir)
    qfile = next(
        os.path.join(d, f)
        for d, _s, fs in os.walk(os.path.join(tbl.path, "quarantine"))
        for f in fs
        if f.endswith(".parquet")
    )
    import shutil

    shutil.copy(qfile, os.path.join(orphan_dir, "part-orphan.parquet"))
    rep = tbl.verify_integrity()
    assert rep["ok"] and rep["orphan_files"] >= 1
    tbl.vacuum(retain_versions=1)
    assert not os.path.exists(orphan_dir)
    assert tbl.read_quarantine().count() == 1  # registered rows survive
    # triage done: clear the registry, then vacuum reclaims the bytes
    assert tbl.clear_quarantine() == 1
    assert tbl.read_quarantine().count() == 0
    tbl.vacuum(retain_versions=1)
    assert not any(
        f.endswith(".parquet")
        for _d, _s, fs in os.walk(os.path.join(tbl.path, "quarantine"))
        for f in fs
    )
    # registered quarantine file goes missing -> hard integrity failure
    apply_changes(
        tbl,
        spark.createDataFrame([_row(9, "c9", 7)], _COLS),
        epoch_id=5,
    )
    qfile2 = os.path.join(
        tbl.path, tbl._snapshot["quarantine_files"]["5"][0]
    )
    os.remove(qfile2)
    rep = tbl.verify_integrity()
    assert not rep["ok"] and rep["missing_files"]


def test_quarantine_clone_restore_purge(spark, tmpdir_path):
    tbl = create_transcripts_table(spark, tmpdir_path + "/tp", n_buckets=2)
    tbl.add_constraint("no_turn7", "turn_idx <> 7", mode="quarantine")
    apply_changes(
        tbl,
        spark.createDataFrame(
            [_row(1, "c1", 1), _row(2, "c1", 7), _row(3, "c2", 7)], _COLS
        ),
        epoch_id=0,
    )
    v_one_epoch = tbl._snapshot["version"]
    apply_changes(
        tbl, spark.createDataFrame([_row(4, "c3", 7)], _COLS), epoch_id=1
    )
    assert tbl.read_quarantine().count() == 3
    # clone carries the quarantine store (hard-linked, registry intact)
    clone = tbl.clone(tmpdir_path + "/tp_clone")
    assert clone.read_quarantine().count() == 3
    # restore rewinds the quarantine view with the table
    tbl.restore(v_one_epoch)
    assert tbl.read_quarantine().count() == 2
    assert sorted(tbl._snapshot["quarantine_files"]) == ["0"]
    # GDPR: purge_key scrubs the subject's quarantined rows too
    n = tbl.purge_key("c1")
    assert n >= 2  # the live c1 turn + the quarantined c1 turn-7
    left = tbl.read_quarantine().collect()
    assert {(r.conv_id, r.turn_idx) for r in left} == {("c2", 7)}
    assert tbl.read().filter("conv_id = 'c1'").count() == 0
    # a key that exists ONLY in quarantine still purges (and counts)
    assert tbl.purge_key("c2") == 1
    assert tbl.read_quarantine().count() == 0


def test_bootstrap_quarantines(spark, tmpdir_path):
    schema = (
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp_ntz, lsn long"
    )
    tbl = SnapshotTable.create(
        spark, tmpdir_path + "/tbq",
        spark.createDataFrame([], schema).schema, n_buckets=2,
    )
    tbl.add_constraint("pos_lsn", "lsn > 0", mode="quarantine")
    dump = spark.createDataFrame(
        [
            ("a", 1, "u", "x", None, datetime(2024, 1, 1), 5),
            ("b", 2, "u", "y", None, datetime(2024, 1, 1), -4),
        ],
        schema,
    )
    st = tbl.bootstrap(dump)
    assert st.violations == {"pos_lsn": 1} and st.applied == 1
    q = tbl.read_quarantine().collect()
    assert len(q) == 1 and q[0].conv_id == "b" and q[0]._violated == ["pos_lsn"]


def test_clone_carries_and_restore_adopts(spark, tmpdir_path):
    tbl = create_transcripts_table(spark, tmpdir_path + "/tc", n_buckets=2)
    apply_changes(
        tbl, spark.createDataFrame([_row(1, "c1", 1)], _COLS), epoch_id=0
    )
    v_before = tbl.add_constraint("nonneg", "turn_idx >= 0", mode="fail")
    clone = tbl.clone(tmpdir_path + "/tc_clone")
    assert sorted(clone.constraints) == ["nonneg"]
    bad = spark.createDataFrame([_row(9, "c9", -1)], _COLS)
    with pytest.raises(ConstraintViolationError):
        apply_changes(clone, bad, epoch_id=100)
    # drop on the source, then restore to the constrained version: adopted
    tbl.drop_constraint("nonneg")
    apply_changes(tbl, bad, epoch_id=1)  # passes while unconstrained...
    with pytest.raises(ValueError, match="existing table rows violate"):
        # ...but the bad row now blocks re-adding the constraint directly
        tbl.add_constraint("nonneg", "turn_idx >= 0", mode="fail")
    tbl.restore(v_before)
    assert sorted(tbl.constraints) == ["nonneg"]
    with pytest.raises(ConstraintViolationError):
        apply_changes(tbl, bad, epoch_id=2)
