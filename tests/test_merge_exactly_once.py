"""The correctness gate: full replay equality vs the oracle reducer, epoch
idempotence, cross-epoch LWW, delete semantics, lineage accounting.

Mirrors the reference's checkpoint-lifecycle tests (OffsetRecordTest.java)
at the level the new engine actually works: epochs instead of offset windows,
snapshot commit log instead of a JSON file.
"""

from __future__ import annotations

from datetime import datetime

import pandas as pd
import pyspark.sql.functions as F

from mas_scada_bulkingest_spark import oracle
from mas_scada_bulkingest_spark.pipeline import apply_changes, create_transcripts_table
from mas_scada_bulkingest_spark.lake.snapshot_table import SnapshotTable
from mas_scada_bulkingest_spark.sources import generate_changelog
from mas_scada_bulkingest_spark.streaming.driver import replay_batches

from conftest import assert_frames_equal

FINAL_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "lsn", "metadata"]


def _final(tbl: SnapshotTable) -> pd.DataFrame:
    pdf = tbl.read().orderBy("conv_id", "turn_idx").toPandas()
    cols = [c for c in FINAL_COLS if c in pdf.columns]
    return pdf[cols].reset_index(drop=True)


def test_replay_matches_oracle(spark, tmpdir_path):
    generate_changelog(tmpdir_path + "/log", n_convs=60, mean_turns=6, seed=21)
    ref = oracle.reduce_changelog_dir(tmpdir_path + "/log")
    tbl = create_transcripts_table(spark, tmpdir_path + "/t", n_buckets=8)
    stats = replay_batches(spark, tmpdir_path + "/log", tbl, files_per_epoch=2)
    assert not any(s.was_noop for s in stats)
    assert_frames_equal(_final(tbl), ref[FINAL_COLS])
    # per-turn text equality under stable ordering — the input_hint invariant
    assert _final(tbl)["text"].tolist() == ref["text"].tolist()


def test_epoch_replay_is_noop(spark, tmpdir_path):
    generate_changelog(tmpdir_path + "/log", n_convs=20, mean_turns=4, seed=22)
    tbl = create_transcripts_table(spark, tmpdir_path + "/t", n_buckets=4)
    replay_batches(spark, tmpdir_path + "/log", tbl, files_per_epoch=4)
    before = _final(tbl)
    again = replay_batches(spark, tmpdir_path + "/log", tbl, files_per_epoch=4)
    assert all(s.was_noop for s in again)
    assert_frames_equal(_final(tbl), before)


def test_cross_epoch_stale_update_skipped(spark, tmpdir_path):
    tbl = create_transcripts_table(spark, tmpdir_path + "/t", n_buckets=4)
    t1 = datetime(2024, 1, 1, 0, 0, 10)
    t0 = datetime(2024, 1, 1, 0, 0, 5)
    rows1 = [(10, "insert", "c1", 0, "user", "new", None, t1)]
    rows0 = [(11, "update", "c1", 0, "user", "stale", None, t0)]  # later lsn, older ts
    cols = (
        "lsn long, op string, conv_id string, turn_idx int, role string,"
        " text string, tool string, ts timestamp_ntz"
    )
    apply_changes(tbl, spark.createDataFrame(rows1, cols), epoch_id=0)
    st = apply_changes(tbl, spark.createDataFrame(rows0, cols), epoch_id=1)
    assert st.applied == 0 and st.skipped == 1
    assert _final(tbl)["text"].tolist() == ["new"]


def test_cross_epoch_delete_then_stale_insert(spark, tmpdir_path):
    tbl = create_transcripts_table(spark, tmpdir_path + "/t", n_buckets=4)
    cols = (
        "lsn long, op string, conv_id string, turn_idx int, role string,"
        " text string, tool string, ts timestamp_ntz"
    )
    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    apply_changes(tbl, spark.createDataFrame([(1, "insert", "c", 0, "user", "x", None, t(1))], cols), 0)
    st = apply_changes(tbl, spark.createDataFrame([(2, "delete", "c", 0, None, None, None, t(2))], cols), 1)
    assert st.deleted == 1
    assert tbl.read().count() == 0
    # a stale re-delivered insert (older ts/lsn) in a LATER epoch must NOT
    # resurrect the row: the delete persists as a tombstone carrying its
    # (ts, lsn), so the stale insert loses the LWW comparison.
    st2 = apply_changes(tbl, spark.createDataFrame([(1, "insert", "c", 0, "user", "x", None, t(1))], cols), 2)
    assert st2.skipped == 1 and st2.applied == 0
    assert tbl.read().count() == 0
    # ...while a genuinely newer re-insert resurrects it
    st3 = apply_changes(tbl, spark.createDataFrame([(3, "insert", "c", 0, "user", "z", None, t(3))], cols), 3)
    assert st3.applied == 1
    rows = tbl.read().collect()
    assert len(rows) == 1 and rows[0]["text"] == "z"
    lin = tbl.lineage().toPandas()
    assert set(lin.epoch_id) == {0, 1, 2, 3}


def test_custom_key_survives_commits(spark, tmpdir_path):
    """Regression: the commit snapshot must carry a custom MERGE key/order —
    dropping them silently falls back to the (conv_id, turn_idx) defaults
    from the SECOND merge onward, producing wrong merges."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("device", T.StringType(), False),
            T.StructField("slot", T.IntegerType(), False),
            T.StructField("val", T.StringType(), True),
            T.StructField("ts", T.TimestampNTZType(), False),
            T.StructField("seq", T.LongType(), False),
        ]
    )
    tbl = SnapshotTable.create(
        spark, tmpdir_path + "/t", schema, n_buckets=4,
        key=("device", "slot"), order=("ts", "seq"),
    )
    cols = "seq long, op string, device string, slot int, val string, ts timestamp_ntz"
    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    apply_changes(tbl, spark.createDataFrame([(1, "insert", "d1", 0, "a", t(1))], cols), 0)
    # reopen from disk: key/order must have survived the first commit
    reopened = SnapshotTable(spark, tmpdir_path + "/t")
    assert reopened.key == ("device", "slot")
    assert reopened.order == ("ts", "seq")
    # second merge updates the same (device, slot) key — with the dropped-key
    # bug this merged on the default key columns and corrupted the table
    apply_changes(reopened, spark.createDataFrame([(2, "update", "d1", 0, "b", t(2))], cols), 1)
    rows = reopened.read().collect()
    assert len(rows) == 1 and rows[0]["val"] == "b"
    assert SnapshotTable(spark, tmpdir_path + "/t").key == ("device", "slot")


def test_lineage_accounting_sums(spark, tmpdir_path):
    m = generate_changelog(tmpdir_path + "/log", n_convs=30, mean_turns=5, seed=23)
    tbl = create_transcripts_table(spark, tmpdir_path + "/t", n_buckets=8)
    stats = replay_batches(spark, tmpdir_path + "/log", tbl, files_per_epoch=2)
    lin = tbl.lineage().toPandas()
    by_epoch = lin.groupby("epoch_id")[["applied", "skipped", "deleted"]].sum()
    for s in stats:
        row = by_epoch.loc[s.epoch_id]
        assert (row["applied"], row["skipped"], row["deleted"]) == (
            s.applied,
            s.skipped,
            s.deleted,
        )
    assert lin["max_lsn"].max() == m.n_base + m.n_updates + m.n_deletes


def test_schema_evolution_mid_replay(spark, tmpdir_path):
    generate_changelog(
        tmpdir_path + "/log", n_convs=30, mean_turns=5, seed=24, evolve_at_frac=0.5
    )
    ref = oracle.reduce_changelog_dir(tmpdir_path + "/log")
    tbl = create_transcripts_table(spark, tmpdir_path + "/t", n_buckets=4)
    assert "metadata" not in [f.name for f in tbl.schema.fields]
    replay_batches(spark, tmpdir_path + "/log", tbl, files_per_epoch=1)
    assert "metadata" in [f.name for f in tbl.schema.fields]  # ALTER happened
    got = _final(tbl)
    assert_frames_equal(got, ref[FINAL_COLS])
    assert got["metadata"].isna().sum() > 0  # pre-evolution winners read NULL
    assert got["metadata"].notna().sum() > 0
