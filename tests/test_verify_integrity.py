"""Table fsck (`verify_integrity`): a healthy table reports ok; each
class of damage is detected and classified correctly."""

from __future__ import annotations

import os
import shutil
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mas_scada_bulkingest_spark.pipeline import apply_changes, create_transcripts_table

_COLS = (
    "lsn long, op string, conv_id string, turn_idx int, role string,"
    " text string, tool string, ts timestamp_ntz"
)


def _t(s):
    return datetime(2024, 1, 1, 0, 0, s)


def _seed(spark, path, mode="mor", **create_kwargs):
    tbl = create_transcripts_table(spark, path, n_buckets=4, mode=mode, **create_kwargs)
    for e in range(2):
        apply_changes(
            tbl,
            spark.createDataFrame(
                [
                    (10 * e + i, "insert", f"c{i}", e, "user", f"v{e}", None, _t(e + 1))
                    for i in range(6)
                ],
                _COLS,
            ),
            e,
        )
    return tbl


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_healthy_table_is_ok(spark, tmpdir_path, mode):
    tbl = _seed(spark, f"{tmpdir_path}/{mode}", mode)
    rep = tbl.verify_integrity(deep=True)
    assert rep["ok"], rep
    assert rep["files_checked"] > 0
    assert rep["missing_files"] == []
    assert rep["schema_drift"] == []
    assert rep["bucket_mismatches"] == 0
    # pre-vacuum, superseded CoW snapshots legitimately leave orphan
    # candidates; after vacuum none remain
    tbl.vacuum(retain_versions=1)
    rep2 = tbl.verify_integrity()
    assert rep2["ok"] and rep2["orphan_files"] == 0


def test_missing_file_is_hard_failure(spark, tmpdir_path):
    tbl = _seed(spark, tmpdir_path + "/t")
    victim = next(iter(tbl._snapshot["buckets"].values()))[0]
    os.remove(os.path.join(tbl.path, victim))
    rep = tbl.verify_integrity()
    assert not rep["ok"]
    assert victim in rep["missing_files"]
    # deep mode must still RETURN the report (scanning around the missing
    # file), not crash on PATH_NOT_FOUND — fsck reports damage, never
    # throws on it
    deep = tbl.verify_integrity(deep=True)
    assert not deep["ok"]
    assert victim in deep["missing_files"]
    assert deep["bucket_mismatches"] == 0


def test_foreign_column_is_schema_drift(spark, tmpdir_path):
    tbl = _seed(spark, tmpdir_path + "/t")
    victim = next(iter(tbl._snapshot["buckets"].values()))[0]
    path = os.path.join(tbl.path, victim)
    t = pq.read_table(path)
    t = t.append_column("rogue_col", pa.array([1] * t.num_rows, pa.int32()))
    pq.write_table(t, path)
    rep = tbl.verify_integrity()
    assert not rep["ok"]
    assert any("rogue_col" in d for d in rep["schema_drift"])


def test_widened_narrow_file_is_not_drift(spark, tmpdir_path):
    # a type_widening table whose old files carry int32 lsn under a long
    # column is healthy by design
    tbl = _seed(spark, tmpdir_path + "/t")
    victim = next(iter(tbl._snapshot["buckets"].values()))[0]
    path = os.path.join(tbl.path, victim)
    t = pq.read_table(path)
    i = t.schema.get_field_index("lsn")
    t = t.set_column(i, "lsn", t.column("lsn").cast(pa.int32()))
    pq.write_table(t, path)
    rep = tbl.verify_integrity()
    assert rep["ok"], rep["schema_drift"]
    # but an incompatible retype IS drift
    t = pq.read_table(path)
    i = t.schema.get_field_index("turn_idx")
    t = t.set_column(i, "turn_idx", t.column("turn_idx").cast(pa.string()))
    pq.write_table(t, path)
    rep2 = tbl.verify_integrity()
    assert not rep2["ok"]
    assert any("turn_idx" in d for d in rep2["schema_drift"])


def test_deep_check_catches_misbucketed_rows(spark, tmpdir_path):
    tbl = _seed(spark, tmpdir_path + "/t")
    buckets = tbl._snapshot["buckets"]
    bvals = sorted(buckets, key=int)
    assert len(bvals) >= 2
    # copy one bucket's file into another bucket's file list (simulates a
    # botched manual restore / rebucket bug)
    src = os.path.join(tbl.path, buckets[bvals[0]][0])
    dst_rel = buckets[bvals[0]][0] + ".misplaced.parquet"
    shutil.copyfile(src, os.path.join(tbl.path, dst_rel))
    snap = {
        **tbl._snapshot,
        "version": tbl._snapshot["version"] + 1,
        "parent": tbl._snapshot["version"],
        "buckets": {**buckets, bvals[1]: buckets[bvals[1]] + [dst_rel]},
    }
    tbl._write_snapshot(snap)
    tbl._snapshot = snap
    shallow = tbl.verify_integrity()
    assert shallow["ok"]  # shallow cannot see it
    deep = tbl.verify_integrity(deep=True)
    assert not deep["ok"]
    assert deep["bucket_mismatches"] > 0


def test_shallow_check_catches_out_of_range_bucket_ids(spark, tmpdir_path):
    """A bucket id outside [0, n_buckets) — files filed under another
    layout, e.g. a delta grafted across a reshard — is a hard failure the
    shallow (no Spark job) audit reports by itself."""
    tbl = _seed(spark, tmpdir_path + "/t")
    assert tbl.verify_integrity()["out_of_range_buckets"] == []
    buckets = tbl._snapshot["buckets"]
    stray = next(iter(buckets.values()))[0]
    snap = {
        **tbl._snapshot,
        "version": tbl._snapshot["version"] + 1,
        "parent": tbl._snapshot["version"],
        "buckets": {**buckets, "4": [stray], "-1": [stray]},
    }
    tbl._write_snapshot(snap)
    tbl._snapshot = snap
    sc = spark.sparkContext
    sc.setJobGroup("verify-shallow", "verify-shallow")
    try:
        rep = tbl.verify_integrity()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("verify-shallow") == []
    assert not rep["ok"]
    assert rep["out_of_range_buckets"] == ["-1", "4"]
    assert rep["missing_files"] == [] and rep["schema_drift"] == []


def test_uncommitted_lineage_is_reported_not_fatal(spark, tmpdir_path):
    tbl = _seed(spark, tmpdir_path + "/t")
    lin_dir = os.path.join(tbl.path, "lineage")
    fn = next(f for f in os.listdir(lin_dir) if f.endswith(".parquet"))
    t = pq.read_table(os.path.join(lin_dir, fn))
    # forge a lineage file for an epoch that never committed
    idx = t.schema.get_field_index("epoch_key")
    t = t.set_column(
        idx, "epoch_key", pa.array(["ghost-99"] * t.num_rows, pa.string())
    )
    pq.write_table(t, os.path.join(lin_dir, "ghost.parquet"))
    rep = tbl.verify_integrity()
    assert rep["ok"]  # warning, not failure
    assert "ghost-99" in rep["uncommitted_lineage_epochs"]
    assert rep["uncommitted_lineage_total"] == 1
