"""A plain merge-on-read ``compact()`` rewrites small buckets on the driver.

``SnapshotTable.compact`` resolves each target bucket in Arrow with the
resolver a ``lookup`` uses and writes its winners with pyarrow, so it
submits no Spark job. Every case compacts two copies of one table: one as
``compact()`` chooses, one with the byte cap at 0, which forces the Spark
rewrite. The two must agree on the table's rows, on the compacted files'
own rows (tombstones included) and on the new files' manifest entries.
Requests the driver cannot reproduce exactly (a NaN, a date or nested
column, a clustered rewrite) must take the Spark rewrite themselves.
"""

from __future__ import annotations

import os
import shutil
import uuid
from datetime import date, datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from mas_scada_bulkingest_spark.lake import SnapshotTable, snapshot_table
from mas_scada_bulkingest_spark.pipeline import apply_changes, create_transcripts_table
from mas_scada_bulkingest_spark.schemas import TRANSCRIPT_SCHEMA

NARROW = (
    "lsn long, op string, conv_id string, turn_idx int, role string, "
    "text string, tool string, ts timestamp_ntz, score int, weight float"
)
WIDE = (
    NARROW.replace("score int", "score long").replace("weight float", "weight double")
    + ", extra string"
)


def _jobs(spark, action):
    """(result, Spark jobs submitted) of ``action()``."""
    sc = spark.sparkContext
    group = f"compact-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(rows) -> list[str]:
    # repr, not tuples: a NaN never equals itself, and None does not sort
    return sorted(repr(tuple(r)) for r in rows)


def _new_files(before: dict, tbl: SnapshotTable) -> dict[str, list[str]]:
    """{bucket: files the last commit added to it}."""
    old = {f for fs in before["buckets"].values() for f in fs}
    return {
        b: [f for f in fs if f not in old]
        for b, fs in tbl._snapshot["buckets"].items()
        if any(f not in old for f in fs)
    }


def _file_rows(tbl: SnapshotTable, files: list[str]) -> list[str]:
    """The files' rows as pyarrow reads them, tombstones included, sorted."""
    t = pa.concat_tables(pq.read_table(os.path.join(tbl.path, f)) for f in files)
    return _rows(tuple(r.items()) for r in t.to_pylist())


def _compacted(spark, tbl, *, driver=True, **kw):
    """Compact ``tbl`` as ``compact(**kw)`` chooses and a copy of it on the
    Spark rewrite, and assert that both agree."""
    copy = tbl.path + f"-spark-{uuid.uuid4().hex[:6]}"
    shutil.copytree(tbl.path, copy)
    forced = SnapshotTable(spark, copy)
    before = tbl._snapshot
    n, jobs = _jobs(spark, lambda: tbl.compact(**kw))
    assert (jobs == 0) if driver else (jobs >= 1), jobs
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(snapshot_table, "_DRIVER_RESOLVE_MAX_BYTES", 0)
        n_forced, jobs_forced = _jobs(spark, lambda: forced.compact(**kw))
    assert n == n_forced > 0 and jobs_forced >= 1

    assert _rows(tbl.read().collect()) == _rows(forced.read().collect())
    got, want = _new_files(before, tbl), _new_files(before, forced)
    assert sorted(got) == sorted(want)
    for b in got:
        assert _file_rows(tbl, got[b]) == _file_rows(forced, want[b]), b
        for entry in ("file_stats", "file_rows", "file_key_digests"):
            assert [tbl._snapshot[entry][f] for f in got[b]] == [
                forced._snapshot[entry][f] for f in want[b]
            ], (b, entry)
    assert tbl.verify_integrity(deep=True)["ok"]
    assert forced.verify_integrity(deep=True)["ok"]


def test_driver_compaction_equals_spark_through_table_history(spark, tmpdir_path):
    """Widening, an added column, a NULL-lsn version, a rename over
    old-name files, a patch, a predicate delete with a verbatim
    re-delivery and a drop; each stage compacts on the driver with no job
    and agrees with the Spark rewrite. Later stages compact files the
    driver wrote earlier."""
    tbl = SnapshotTable.create(
        spark, tmpdir_path + "/t", TRANSCRIPT_SCHEMA, n_buckets=4,
        mode="mor", type_widening=True,
    )
    t0, t1, t2 = (datetime(2024, 1, 1, 0, 0, s) for s in (0, 1, 2))
    keys = [f"conv-{i}" for i in range(6)] + ["ü-7", "\U0001F600"]
    first = [
        (i * 2 + turn, "insert", k, turn, "user", f"{k}/{turn}", f"tool{i % 2}",
         t0, i, i + 0.5)
        for i, k in enumerate(keys)
        for turn in range(2)
    ]
    # a NULL order value must lose to any value (Spark's struct ordering)
    first.append((None, "insert", "nullord", 0, "user", "null-lsn", None, t1, 0, 0.0))
    apply_changes(tbl, spark.createDataFrame(first, NARROW), 0)
    big = 2**40  # past int32: readable only through the widened column
    apply_changes(
        tbl,
        spark.createDataFrame([
            (100, "update", "conv-1", 0, "user", "wide", None, t1, big, 3.25, "x"),
            (101, "insert", "conv-5", 2, "user", "new", None, t1, big + 1, 0.1, "y"),
            (7, "update", "nullord", 0, "user", "lsn-7", None, t1, 1, 1.0, None),
        ], WIDE),
        1,
    )
    _compacted(spark, tbl, max_files=0)
    assert [r["text"] for r in tbl.lookup("nullord").collect()] == ["lsn-7"]

    tbl.rename_column("tool", "tool_name")  # the compacted files keep "tool"
    apply_changes(
        tbl,
        spark.createDataFrame([
            (102, "update", "conv-2", 1, "user", "renamed", "calc", t2, 5, 5.5, None),
        ], WIDE.replace("tool string", "tool_name string")),
        2,
    )
    _compacted(spark, tbl, max_files=1)
    assert tbl.lookup("conv-0", 1).collect()[0]["tool_name"] == "tool0"

    assert tbl.update_where("turn_idx = 1", {"text": "upper(text)"}) > 0
    _compacted(spark, tbl, max_files=1)

    # the delete's tombstone carries conv-3's own (ts, lsn); re-delivering
    # exactly that version ties it, and the tombstone must keep winning
    gone = [r for r in first if r[2] == "conv-3"]
    assert tbl.delete_where("conv_id = 'conv-3'") == 2
    apply_changes(tbl, spark.createDataFrame([(*r, None) for r in gone], WIDE), 3)
    _compacted(spark, tbl, max_files=1)
    assert tbl.lookup("conv-3").collect() == []

    tbl.drop_column("role")
    apply_changes(
        tbl,
        spark.createDataFrame([
            (103, "update", "conv-4", 0, "user", "after-drop", None, t2, 6, 6.5, None),
        ], WIDE.replace("tool string", "tool_name string")),
        4,
    )
    _compacted(spark, tbl, max_files=1)
    assert "role" not in tbl.read().columns


def test_driver_files_encode_like_spark(spark, tmpdir_path):
    """parquet-mr keeps a dictionary only where it pays: every distinct
    ``text`` is stored plain, the one ``role`` value dictionary-encoded.
    The driver's files must make the same choice, or the compacted table
    grows."""
    tbl = create_transcripts_table(spark, tmpdir_path + "/t", n_buckets=1, mode="mor")
    t = datetime(2024, 1, 1)
    for e in range(2):
        apply_changes(
            tbl,
            spark.createDataFrame([
                (e * 1000 + i, "update", f"c{i}", 0, "user",
                 f"epoch {e} text {i} " + "x" * (i % 7), None, t, 0, 0.0)
                for i in range(300)
            ], NARROW),
            e,
        )
    spark_tbl = tbl.path + "-spark"
    shutil.copytree(tbl.path, spark_tbl)
    spark_tbl = SnapshotTable(spark, spark_tbl)
    tbl.compact(max_files=1)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(snapshot_table, "_DRIVER_RESOLVE_MAX_BYTES", 0)
        spark_tbl.compact(max_files=1)

    def dictionary_encoded(t: SnapshotTable) -> dict[str, bool]:
        (f,) = t._snapshot["buckets"]["0"]
        md = pq.ParquetFile(os.path.join(t.path, f)).metadata
        return {
            md.schema.column(i).name: any(
                "DICTIONARY" in e for e in md.row_group(0).column(i).encodings
            )
            for i in range(md.num_columns)
            if md.schema.column(i).name in ("text", "role")
        }

    assert dictionary_encoded(tbl) == dictionary_encoded(spark_tbl) == {
        "role": True, "text": False,
    }


def _two_epochs(tbl, rows):
    """Two epochs of ``rows(epoch)`` through ``merge_changes``."""
    for e in range(2):
        tbl.merge_changes(rows(e), e)


def test_nan_falls_back_to_the_spark_rewrite(spark, tmpdir_path):
    tbl = create_transcripts_table(spark, tmpdir_path + "/t", n_buckets=2, mode="mor")
    t = datetime(2024, 1, 1)
    ddl = NARROW.replace("weight float", "weight double")
    _two_epochs(tbl, lambda e: spark.createDataFrame([
        (e * 10 + i, "update", f"c{i}", 0, "u", f"e{e}", None, t, 0,
         float("nan") if (e, i) == (1, 2) else 1.0)
        for i in range(4)
    ], ddl))
    _compacted(spark, tbl, driver=False, max_files=1)


@pytest.mark.parametrize(
    "ddl, value",
    [("d date", date(2024, 1, 2)), ("meta struct<a: int>", (3,))],
    ids=["date", "struct"],
)
def test_other_column_types_fall_back(spark, tmpdir_path, ddl, value):
    name = ddl.split()[0]
    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField(name, T._parse_datatype_string(ddl.split(" ", 1)[1])),
        T.StructField("lsn", T.LongType()),
    ])
    tbl = SnapshotTable.create(
        spark, tmpdir_path + "/t", schema, n_buckets=2, key=("k",),
        order=("lsn",), mode="mor",
    )
    _two_epochs(tbl, lambda e: spark.createDataFrame(
        [(k, value, e, "update") for k in ("a", "b", "c")],
        f"k string, {ddl}, lsn long, op string",
    ))
    _compacted(spark, tbl, driver=False, max_files=1)


def test_clustered_compaction_falls_back(spark, tmpdir_path):
    tbl = create_transcripts_table(spark, tmpdir_path + "/t", n_buckets=2, mode="mor")
    _two_epochs(tbl, lambda e: spark.createDataFrame([
        (e * 10 + i, "update", f"c{i}", 0, "u", f"e{e}", None,
         datetime(2024, 1, 1 + e, i), 0, 0.0)
        for i in range(6)
    ], NARROW))
    _compacted(spark, tbl, driver=False, max_files=1, cluster_files=2)


def test_crash_before_commit_leaves_orphans_vacuum_reaps(spark, tmpdir_path, monkeypatch):
    """A compaction that dies after writing its files and before its
    commit changes nothing: the files are orphans for ``vacuum``. While a
    file is being written it is invisible to ``_bucket_outputs``."""
    tbl = create_transcripts_table(spark, tmpdir_path + "/t", n_buckets=2, mode="mor")
    _two_epochs(tbl, lambda e: spark.createDataFrame([
        (e * 10 + i, "update", f"c{i}", 0, "u", f"e{e}", None, datetime(2024, 1, 1), 0, 0.0)
        for i in range(4)
    ], NARROW))
    before = tbl.read().collect()
    snap = tbl._read_current_snapshot()
    assert tbl.verify_integrity()["orphan_files"] == 0

    seen_mid_write = []
    write_table = pq.write_table

    def write_spy(table, where, **kw):
        write_table(table, where, **kw)
        rel_dir = os.path.relpath(os.path.dirname(os.path.dirname(where)), tbl.path)
        assert os.path.basename(where).startswith(".")
        assert not where.endswith(".parquet")
        seen_mid_write.append(tbl._bucket_outputs(rel_dir))

    def crash(self, operation, build, seed=None):
        raise RuntimeError(f"crash before committing {operation}")

    monkeypatch.setattr(pq, "write_table", write_spy)
    monkeypatch.setattr(SnapshotTable, "_commit", crash)
    with pytest.raises(RuntimeError, match="crash before committing compact"):
        tbl.compact(max_files=1)
    monkeypatch.undo()

    assert len(seen_mid_write) == 2  # one file per bucket
    assert all(
        not os.path.basename(f).startswith(".")
        for listed in seen_mid_write
        for fs in listed.values()
        for f in fs
    )
    fresh = SnapshotTable(spark, tbl.path)
    assert fresh._snapshot == snap
    assert _rows(fresh.read().collect()) == _rows(before)
    report = fresh.verify_integrity()
    assert report["ok"] and report["orphan_files"] == 2
    assert fresh.vacuum() == 2
    assert fresh.verify_integrity()["orphan_files"] == 0
    assert _rows(fresh.read().collect()) == _rows(before)
