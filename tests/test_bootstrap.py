"""Initial-snapshot bulk load (``SnapshotTable.bootstrap``) — the CDC
"snapshot phase" before the binlog tail (Debezium snapshot→streaming
handoff; reference analog: the CSV bulk extract, SURVEY.md §2 S5).

The load-bearing property: bootstrap(reduce(prefix)) + replay(tail) must be
bit-equal to replay(full log) under ANY prefix/tail split, because delete
winners persist as tombstones carrying their (ts, lsn) watermark and every
bootstrap row carries its source order tuple — so tail events older than
the dump lose cross-epoch LWW and newer ones win, exactly as if they had
been merged all along.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from conftest import assert_frames_equal
from mas_scada_bulkingest_spark.lake import SnapshotTable
from mas_scada_bulkingest_spark.operators.lww import collapse_lww
from mas_scada_bulkingest_spark.oracle import reduce_changelog_dir
from mas_scada_bulkingest_spark.pipeline import apply_changes, create_transcripts_table


def _final(table: SnapshotTable):
    return (
        table.read()
        .orderBy("conv_id", "turn_idx")
        .toPandas()[["conv_id", "turn_idx", "role", "text", "tool", "ts", "lsn", "metadata"]]
        .reset_index(drop=True)
    )


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_bootstrap_plus_tail_equals_full_replay(spark, tmpdir_path, mode):
    from mas_scada_bulkingest_spark.sources import generate_changelog

    log = os.path.join(tmpdir_path, "log")
    generate_changelog(log, n_convs=80, mean_turns=5, n_files=8, seed=11)
    files = sorted(glob.glob(os.path.join(log, "*.parquet")))
    prefix, tail = files[:4], files[4:]

    # the "database dump": LWW reduction of the prefix, delete winners kept
    # (op column present → bootstrap persists them as tombstones)
    state = collapse_lww(spark.read.parquet(*prefix))

    tbl = create_transcripts_table(
        spark, os.path.join(tmpdir_path, "t"), n_buckets=8, mode=mode
    )
    st = tbl.bootstrap(state, epoch_id="bootstrap-0")
    assert not st.was_noop and st.applied > 0 and st.max_lsn is not None

    for i, f in enumerate(tail):
        apply_changes(
            tbl,
            spark.read.parquet(f),
            epoch_id=i,
            auto_compact_files=4 if mode == "mor" else None,
        )

    expected = reduce_changelog_dir(log)
    assert_frames_equal(_final(tbl), expected)


def test_bootstrap_is_idempotent_and_requires_empty(spark, tmpdir_path):
    from mas_scada_bulkingest_spark.sources import generate_changelog

    log = os.path.join(tmpdir_path, "log")
    generate_changelog(log, n_convs=20, mean_turns=3, n_files=2, seed=7)
    state = collapse_lww(spark.read.parquet(log))

    tbl = create_transcripts_table(
        spark, os.path.join(tmpdir_path, "t"), n_buckets=4, mode="mor"
    )
    st1 = tbl.bootstrap(state, epoch_id="bootstrap-0")
    v1 = tbl._snapshot["version"]
    # replayed bootstrap (same epoch id) is a committed-epoch no-op
    st2 = tbl.bootstrap(state, epoch_id="bootstrap-0")
    assert st1.was_noop is False and st2.was_noop is True
    assert tbl._snapshot["version"] == v1
    # a NEW load into a non-empty table must refuse (merge_changes territory)
    with pytest.raises(ValueError, match="empty table"):
        tbl.bootstrap(state, epoch_id="bootstrap-1")
    # bootstrap epoch participates in lineage like any epoch
    lin = tbl.lineage().filter(F.col("epoch_key") == "bootstrap-0").toPandas()
    assert lin["applied"].sum() == st1.applied


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_lookup_scans_exactly_one_bucket(spark, tmpdir_path, mode, monkeypatch):
    from mas_scada_bulkingest_spark.sources import generate_changelog

    log = os.path.join(tmpdir_path, "log")
    generate_changelog(log, n_convs=60, mean_turns=4, n_files=4, seed=3)
    tbl = create_transcripts_table(
        spark, os.path.join(tmpdir_path, "t"), n_buckets=8, mode=mode
    )
    for i, f in enumerate(sorted(glob.glob(os.path.join(log, "*.parquet")))):
        apply_changes(tbl, spark.read.parquet(f), epoch_id=i)

    full = tbl.read().toPandas()
    probe_conv = full["conv_id"].iloc[0]
    got = tbl.lookup(probe_conv).orderBy("turn_idx").toPandas()
    want = (
        full[full["conv_id"] == probe_conv]
        .sort_values("turn_idx")
        .reset_index(drop=True)
    )
    assert_frames_equal(got[want.columns.tolist()], want)

    # key-prefix + full-key forms agree
    t0 = int(want["turn_idx"].iloc[0])
    one = tbl.lookup(probe_conv, t0).toPandas()
    assert len(one) == 1 and one["text"].iloc[0] == want["text"].iloc[0]

    # the point of the API: the read is pruned to exactly ONE bucket. A
    # merge-on-read lookup resolves on the driver, a copy-on-write one reads
    # through a throwaway handle (and inputFiles() is empty under the frozen
    # MoR read plan), so spy on both entry points for the files they open
    # and check that they lie in one bucket whose file list is a strict
    # subset of the table's
    opened: list[str] = []
    orig_read = SnapshotTable.read
    orig_driver = SnapshotTable._lookup_on_driver

    def read_spy(self, buckets=None, **kw):
        opened.extend(self._all_files(buckets))
        return orig_read(self, buckets=buckets, **kw)

    def driver_spy(self, files, *args):
        opened.extend(files)
        return orig_driver(self, files, *args)

    monkeypatch.setattr(SnapshotTable, "read", read_spy)
    monkeypatch.setattr(SnapshotTable, "_lookup_on_driver", driver_spy)
    again = tbl.lookup(probe_conv).orderBy("turn_idx").toPandas()
    monkeypatch.undo()
    assert_frames_equal(again[want.columns.tolist()], want)
    bucket_of = {
        os.path.join(tbl.path, f): b
        for b, fs in tbl._snapshot["buckets"].items()
        for f in fs
    }
    assert opened and len({bucket_of[f] for f in opened}) == 1
    b = bucket_of[opened[0]]
    n_bucket_files = len(tbl._snapshot["buckets"][b])
    n_all_files = sum(len(fs) for fs in tbl._snapshot["buckets"].values())
    assert 0 < n_bucket_files < n_all_files
