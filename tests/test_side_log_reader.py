"""The driver-side side-log reader equals the Spark ``Window`` dedup it
replaced.

``lineage()``, ``constraint_metrics()``, ``epoch_summary()`` and
``status()`` now read ``lineage/`` and ``metrics/`` with pyarrow and
deduplicate on the driver. The reference below is the Spark formulation
they used before: a schema-pinned parquet read, ``row_number()`` over
``(coalesce(epoch_key, epoch_id), partition_id)`` (or ``(epoch_key,
constraint_name)``) newest ``committed_ts`` first, and a ``groupBy`` per
epoch. Every case must match it exactly, ``committed_ts`` included.
"""

from __future__ import annotations

import glob
import os
import shutil
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from mas_scada_bulkingest_spark.lake.snapshot_table import SnapshotTable
from mas_scada_bulkingest_spark.pipeline import apply_changes, create_transcripts_table
from mas_scada_bulkingest_spark.schemas import (
    CONSTRAINT_METRICS_SCHEMA,
    LINEAGE_SCHEMA,
)
from mas_scada_bulkingest_spark.status import epoch_summary, status

DDL = (
    "lsn long, op string, conv_id string, turn_idx int, role string, "
    "text string, tool string, ts timestamp_ntz"
)
T0 = datetime(2024, 1, 1)


def _newest(df, *keys):
    w = Window.partitionBy(*keys).orderBy(F.col("committed_ts").desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _ref_lineage(tbl):
    lin_dir = os.path.join(tbl.path, "lineage")
    if not glob.glob(os.path.join(lin_dir, "*.parquet")):
        return tbl.spark.createDataFrame([], LINEAGE_SCHEMA)
    df = tbl.spark.read.schema(LINEAGE_SCHEMA).parquet(lin_dir)
    return _newest(
        df,
        F.coalesce(F.col("epoch_key"), F.col("epoch_id").cast("string")),
        "partition_id",
    )


def _ref_metrics(tbl):
    mdir = os.path.join(tbl.path, "metrics")
    if not glob.glob(os.path.join(mdir, "*.parquet")):
        return tbl.spark.createDataFrame([], CONSTRAINT_METRICS_SCHEMA)
    df = tbl.spark.read.schema(CONSTRAINT_METRICS_SCHEMA).parquet(mdir)
    return _newest(df, "epoch_key", "constraint_name")


def _ref_epoch_summary(tbl):
    rows = F.col("applied") + F.col("skipped") + F.col("deleted")
    return (
        _ref_lineage(tbl)
        .groupBy(
            F.coalesce("epoch_key", F.col("epoch_id").cast("string")).alias(
                "epoch_key"
            )
        )
        .agg(
            F.max("epoch_id").alias("epoch_id"),
            F.count(F.lit(1)).alias("n_partitions"),
            F.sum("applied").alias("applied"),
            F.sum("skipped").alias("skipped"),
            F.sum("deleted").alias("deleted"),
            F.max("max_lsn").alias("max_lsn"),
            F.max("wall_secs").alias("wall_secs"),
            F.when(
                F.max("wall_secs") > 0,
                F.sum(rows).cast("double") / F.max("wall_secs"),
            ).alias("rows_per_sec"),
            F.max("committed_ts").alias("committed_ts"),
        )
        .orderBy(F.col("epoch_id"), F.col("epoch_key"))
    )


def _sorted_dicts(df, *keys):
    return sorted(
        (r.asDict() for r in df.collect()),
        key=lambda d: tuple(str(d[k]) for k in keys),
    )


def _assert_matches_reference(tbl):
    lin_keys = ("epoch_key", "epoch_id", "partition_id")
    assert _sorted_dicts(tbl.lineage(), *lin_keys) == _sorted_dicts(
        _ref_lineage(tbl), *lin_keys
    )
    assert tbl.lineage().schema == LINEAGE_SCHEMA
    m_keys = ("epoch_key", "constraint_name")
    assert _sorted_dicts(tbl.constraint_metrics(), *m_keys) == _sorted_dicts(
        _ref_metrics(tbl), *m_keys
    )
    assert tbl.constraint_metrics().schema == CONSTRAINT_METRICS_SCHEMA

    ref_epochs = [r.asDict() for r in _ref_epoch_summary(tbl).collect()]
    assert [r.asDict() for r in epoch_summary(tbl).collect()] == ref_epochs

    st = status(tbl)
    ref = (
        _ref_epoch_summary(tbl)
        .agg(
            F.count(F.lit(1)).alias("epochs"),
            F.sum("applied").alias("applied"),
            F.sum("skipped").alias("skipped"),
            F.sum("deleted").alias("deleted"),
            F.max("max_lsn").alias("max_lsn"),
            F.sum("wall_secs").alias("merge_secs"),
            F.max("committed_ts").alias("last"),
        )
        .first()
    )
    assert st["epochs_with_lineage"] == ref["epochs"]
    assert st["rows_applied"] == (ref["applied"] or 0)
    assert st["rows_skipped"] == (ref["skipped"] or 0)
    assert st["rows_deleted"] == (ref["deleted"] or 0)
    assert st["max_lsn"] == ref["max_lsn"]
    assert st["last_commit_ts"] == (str(ref["last"]) if ref["last"] else None)
    assert st["last_commit_unix_s"] == (
        ref["last"].timestamp() if ref["last"] else None
    )
    # a double sum: Spark and Arrow may add the per-epoch walls in a
    # different order, so only the last bits may differ
    if ref["merge_secs"]:
        assert st["merge_secs"] == pytest.approx(ref["merge_secs"], rel=1e-12)
    else:
        assert st["merge_secs"] is None
    ref_viol = {
        r["constraint_name"]: {"mode": r["mode"], "total": int(r["total"])}
        for r in _ref_metrics(tbl)
        .groupBy("constraint_name", "mode")
        .agg(F.sum("violations").alias("total"))
        .collect()
    }
    assert st["constraint_violations"] == ref_viol
    return st


def _apply(tbl, spark, epoch, rows):
    return apply_changes(tbl, spark.createDataFrame(rows, DDL), epoch)


def _row(lsn, conv, turn, op="update"):
    deleted = op == "delete"
    return (
        lsn, op, conv, turn,
        None if deleted else "u", None if deleted else f"t{lsn}", None, T0,
    )


def test_empty_lineage_and_no_metrics_dir(spark, tmpdir_path):
    tbl = create_transcripts_table(spark, tmpdir_path + "/t", n_buckets=2)
    assert not os.path.exists(os.path.join(tbl.path, "metrics"))
    st = _assert_matches_reference(tbl)
    assert st["epochs_with_lineage"] == 0 and st["rows_applied"] == 0
    assert st["last_commit_unix_s"] is None
    assert tbl.lineage().count() == 0 and epoch_summary(tbl).count() == 0
    assert tbl.verify_integrity()["uncommitted_lineage_total"] == 0


def test_reader_matches_window_dedup(spark, tmpdir_path, monkeypatch):
    tbl = create_transcripts_table(spark, tmpdir_path + "/t", n_buckets=2, mode="mor")
    _apply(tbl, spark, 0, [_row(1, "c1", 0), _row(2, "c2", 0), _row(3, "c3", 1)])
    # lineage present, no metrics/ directory yet
    assert not os.path.exists(os.path.join(tbl.path, "metrics"))
    _assert_matches_reference(tbl)

    tbl.add_constraint("no_turn7", "turn_idx <> 7", mode="drop")
    # crash between the side-log appends and the snapshot commit: epoch 1's
    # lineage and metrics rows land, the commit does not; the replay
    # re-appends both with a newer committed_ts
    real = SnapshotTable._write_snapshot
    crashed = []

    def crash_once(self, *args, **kwargs):
        if not crashed:
            crashed.append(1)
            raise RuntimeError("crash before commit")
        return real(self, *args, **kwargs)

    monkeypatch.setattr(SnapshotTable, "_write_snapshot", crash_once)
    e1 = [_row(4, "c1", 7), _row(5, "c4", 2), _row(6, "c2", 0, "delete")]
    with pytest.raises(RuntimeError, match="crash before commit"):
        _apply(tbl, spark, 1, e1)
    assert not tbl.is_epoch_committed(1)
    _apply(tbl, spark, 1, e1)
    monkeypatch.setattr(SnapshotTable, "_write_snapshot", real)
    assert len(glob.glob(tbl.path + "/lineage/lineage-1-*.parquet")) == 2
    assert len(glob.glob(tbl.path + "/metrics/constraints-1-*.parquet")) == 2
    _apply(tbl, spark, 2, [_row(7, "c5", 7), _row(8, "c6", 3)])

    # a verbatim duplicate metrics file (identical rows, tied committed_ts)
    mf = glob.glob(tbl.path + "/metrics/constraints-2-*.parquet")[0]
    shutil.copy(mf, mf.replace(".parquet", "-dup.parquet"))
    # a hand-written lineage file from before wall_secs / epoch_key existed:
    # epoch 9 only appears here; its epoch_id stands in for the key
    pq.write_table(
        pa.table(
            {
                "epoch_id": pa.array([9, 9], pa.int64()),
                "partition_id": pa.array([0, 1], pa.int32()),
                "applied": pa.array([5, 6], pa.int64()),
                "skipped": pa.array([1, 0], pa.int64()),
                "deleted": pa.array([0, 2], pa.int64()),
                "max_lsn": pa.array([90, None], pa.int64()),
                "committed_ts": pa.array(
                    [datetime(2023, 5, 1), datetime(2023, 5, 2)], pa.timestamp("us")
                ),
            }
        ),
        os.path.join(tbl.path, "lineage", "lineage-9-legacy.parquet"),
    )
    st = _assert_matches_reference(tbl)
    assert st["epochs_with_lineage"] == 4
    assert st["constraint_violations"] == {"no_turn7": {"mode": "drop", "total": 2}}

    # a mix of compacted and uncompacted files, plus a stale duplicate of a
    # compacted epoch's file (older committed_ts: the compacted row wins)
    lf = glob.glob(tbl.path + "/lineage/lineage-0-*.parquet")[0]
    stale = pq.read_table(lf)
    assert tbl.compact_lineage() > 0
    assert len(glob.glob(tbl.path + "/lineage/*.parquet")) == 1
    _apply(tbl, spark, 3, [_row(9, "c7", 1), _row(10, "c1", 7)])
    stale = stale.set_column(
        stale.schema.get_field_index("applied"),
        "applied",
        pa.array([99] * stale.num_rows, pa.int64()),
    ).set_column(
        stale.schema.get_field_index("committed_ts"),
        "committed_ts",
        pa.array([datetime(2020, 1, 1)] * stale.num_rows, pa.timestamp("us")),
    )
    pq.write_table(stale, os.path.join(tbl.path, "lineage", "lineage-0-stale.parquet"))
    before = _assert_matches_reference(tbl)
    assert before["epochs_with_lineage"] == 5
    assert before["constraint_violations"]["no_turn7"]["total"] == 3
    # compaction writes the deduped rows as they are
    tbl.compact_lineage()
    after = _assert_matches_reference(tbl)
    for k in ("rows_applied", "rows_skipped", "rows_deleted", "max_lsn",
              "merge_secs", "epochs_with_lineage", "last_commit_ts",
              "constraint_violations"):
        assert after[k] == before[k], k
    assert tbl.verify_integrity()["uncommitted_lineage_total"] == 1  # epoch 9


def test_reader_relists_when_a_compaction_removes_a_file(tmpdir_path, monkeypatch):
    """A compaction writes its merged file before deleting the inputs, so a
    read that loses a file to it re-lists and sees every row."""
    from mas_scada_bulkingest_spark.lake import side_logs

    log = side_logs.LINEAGE_LOG
    for e in (0, 1):
        side_logs.write_log(
            tmpdir_path,
            log,
            e,
            {
                "epoch_id": [e], "epoch_key": [str(e)], "partition_id": [0],
                "applied": [3], "skipped": [0], "deleted": [0], "max_lsn": [3],
                "wall_secs": [0.1], "committed_ts": [T0],
            },
        )
    real = side_logs.ds.dataset
    listings = []

    def compacted_mid_read(files, **kw):
        listings.append(files)
        if len(listings) == 1:  # the compaction runs between list and read
            side_logs.compact_log(
                tmpdir_path, log, lambda _: real(files, **kw).to_table()
            )
            raise FileNotFoundError(files[0])
        return real(files, **kw)

    monkeypatch.setattr(side_logs.ds, "dataset", compacted_mid_read)
    lin = side_logs.read_lineage(tmpdir_path)
    assert len(listings) == 2 and listings[0] != listings[1]
    assert lin["epoch_key"].to_pylist() == ["0", "1"]
