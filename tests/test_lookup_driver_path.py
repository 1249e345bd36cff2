"""A merge-on-read ``lookup`` resolves its key on the driver with Arrow.

``SnapshotTable.lookup`` reads the key's digest-kept bucket files with
pyarrow and applies ``read()``'s last-writer-wins rule on the driver, so
``lookup(k).collect()`` submits no Spark job. Every case asserts that the
lookup equals the filtered full read. Driver-path cases also assert 0 jobs;
the requests the driver cannot resolve exactly (a NaN, a nested column, a
value of another Python type, a bucket over the byte cap) must take the
Spark read, so they assert at least one job.
"""

from __future__ import annotations

import uuid
from datetime import datetime

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
KEYS = [f"conv-{i}" for i in range(6)] + ["ü-7", "\U0001F600", "nullord", "absent"]


def _jobs(spark, action):
    """(result, Spark jobs submitted) of ``action()``."""
    sc = spark.sparkContext
    group = f"lookup-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(rows) -> list[str]:
    # repr, not tuples: a NaN never equals itself, and None does not sort
    return sorted(repr(tuple(r)) for r in rows)


def _check(spark, tbl, *key, columns=None, driver=True):
    """``lookup(*key)`` equals ``read()`` filtered on the key (with the
    lookup's own stored-text comparison) and ran on the expected path."""
    want = tbl.read(columns=columns).filter(
        tbl._key_match(list(tbl.key), key)
    ).collect()
    got, jobs = _jobs(spark, lambda: tbl.lookup(*key, columns=columns).collect())
    assert _rows(got) == _rows(want), key
    assert (jobs == 0) if driver else (jobs >= 1), (key, jobs)
    return got


def _check_every_key(spark, tbl, columns=None):
    """Every key in full, as a prefix and absent, against ONE full read."""
    full = tbl.read(columns=columns).collect()
    for k in KEYS:
        for key in [(k,), (k, 0), (k, 1)]:
            want = [r for r in full if (r["conv_id"], r["turn_idx"])[: len(key)] == key]
            got, jobs = _jobs(
                spark, lambda: tbl.lookup(*key, columns=columns).collect()
            )
            assert _rows(got) == _rows(want), (key, columns)
            assert jobs == 0, (key, columns, jobs)


def test_driver_lookup_equals_filtered_read_through_table_history(spark, tmpdir_path):
    """One MoR table through widening, an added column, a rename, a patch,
    a predicate delete with a stale re-delivery, a drop and a compaction;
    at every stage every key looks up to its filtered read with no job."""
    tbl = SnapshotTable.create(
        spark, tmpdir_path + "/t", TRANSCRIPT_SCHEMA, n_buckets=4,
        mode="mor", type_widening=True,
    )
    t0, t1, t2 = (datetime(2024, 1, 1, 0, 0, s) for s in (0, 1, 2))
    live = [k for k in KEYS if k not in ("nullord", "absent")]
    first = [
        (i * 2 + turn, "insert", k, turn, "user", f"{k}/{turn}", f"tool{i % 2}",
         t0, i, i + 0.5)
        for i, k in enumerate(live)
        for turn in range(2)
    ]
    # a NULL order value must lose to any value (Spark's struct ordering)
    first.append((None, "insert", "nullord", 0, "user", "null-lsn", None, t1, 0, 0.0))
    apply_changes(tbl, spark.createDataFrame(first, NARROW), 0)
    _check_every_key(spark, tbl)

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
    assert tbl.schema["score"].dataType == T.LongType()
    assert tbl.lookup("nullord").collect()[0]["text"] == "lsn-7"
    _check_every_key(spark, tbl)
    _check_every_key(spark, tbl, columns=["text"])
    _check_every_key(spark, tbl, columns=["score", "extra"])

    tbl.rename_column("tool", "tool_name")  # epoch-0 files keep "tool"
    apply_changes(
        tbl,
        spark.createDataFrame([
            (102, "update", "conv-2", 1, "user", "renamed", "calc", t2, 5, 5.5, None),
        ], WIDE.replace("tool string", "tool_name string")),
        2,
    )
    assert tbl.lookup("conv-0", 1).collect()[0]["tool_name"] == "tool0"
    _check_every_key(spark, tbl)
    _check_every_key(spark, tbl, columns=["tool_name"])

    assert tbl.update_where("turn_idx = 1", {"text": "upper(text)"}) > 0
    _check_every_key(spark, tbl)

    # the delete's tombstone carries conv-3's own (ts, lsn) and ties the live
    # rows it deletes; re-delivering exactly that version ties it once more
    gone = [r for r in first if r[2] == "conv-3"]
    assert tbl.delete_where("conv_id = 'conv-3'") == 2
    apply_changes(
        tbl,
        spark.createDataFrame([(*r, None) for r in gone], WIDE),
        3,
    )
    assert tbl.lookup("conv-3").collect() == []
    _check_every_key(spark, tbl)

    tbl.drop_column("role")
    _check_every_key(spark, tbl)
    _check_every_key(spark, tbl, columns=["weight", "tool_name"])

    tbl.compact(max_files=0)  # key-sorted files: row-group statistics prune
    _check_every_key(spark, tbl)


def test_nan_falls_back_to_the_spark_read(spark, tmpdir_path):
    """Arrow sorts NaN below numbers and Spark above, so a key whose rows
    hold a NaN is resolved by Spark; other keys stay on the driver."""
    tbl = SnapshotTable.create(
        spark, tmpdir_path + "/t", TRANSCRIPT_SCHEMA, n_buckets=1,
        mode="mor", type_widening=True,
    )
    t = datetime(2024, 1, 1)
    ddl = NARROW.replace("weight float", "weight double")
    for e, w in enumerate([1.5, float("nan")]):
        apply_changes(
            tbl,
            spark.createDataFrame([
                (e, "update", "nan", 0, "user", f"e{e}", None, t, 1, w),
                (10 + e, "update", "plain", 0, "user", f"e{e}", None, t, 1, 2.0),
            ], ddl),
            e,
        )
    # equal (ts, lsn, ...) up to weight: the NaN row must win, as in Spark
    apply_changes(
        tbl,
        spark.createDataFrame([(1, "update", "nan", 0, "user", "e1", None, t, 1, 1.0)], ddl),
        2,
    )
    got = _check(spark, tbl, "nan", driver=False)
    assert len(got) == 1 and got[0]["weight"] != got[0]["weight"]  # NaN
    _check(spark, tbl, "plain")
    # the NaN now sits in files that know the column only by its old name
    tbl.rename_column("weight", "w")
    got = _check(spark, tbl, "nan", driver=False)
    assert got[0]["w"] != got[0]["w"]
    _check(spark, tbl, "plain")


def test_nested_column_falls_back_to_the_spark_read(spark, tmpdir_path):
    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("meta", T.StructType([T.StructField("a", T.IntegerType())])),
            T.StructField("lsn", T.LongType()),
        ]
    )
    tbl = SnapshotTable.create(
        spark, tmpdir_path + "/t", schema, n_buckets=2, key=("k",),
        order=("lsn",), mode="mor",
    )
    for e in range(2):
        tbl.merge_changes(
            spark.createDataFrame(
                [("a", (e,), e, "update"), ("b", (e + 5,), e, "update")],
                "k string, meta struct<a: int>, lsn long, op string",
            ),
            e,
        )
    got = _check(spark, tbl, "a", driver=False)
    assert [r["meta"]["a"] for r in got] == [1]


def test_value_of_another_type_falls_back_to_the_spark_read(spark, tmpdir_path):
    """``7`` and ``True`` on a string key compare as the text Spark stored
    (``'7'``, ``'true'``), which only the Spark read's cast reproduces."""
    tbl = create_transcripts_table(spark, tmpdir_path + "/t", n_buckets=1, mode="mor")
    t = datetime(2024, 1, 1)
    apply_changes(
        tbl,
        spark.createDataFrame([
            (i, "insert", k, 0, "u", k, None, t, 0, 0.0)
            for i, k in enumerate(["7", "c1", "true"])
        ], NARROW),
        0,
    )
    assert [r["conv_id"] for r in _check(spark, tbl, 7, driver=False)] == ["7"]
    assert [r["conv_id"] for r in _check(spark, tbl, True, driver=False)] == ["true"]
    _check(spark, tbl, "7")


def test_bucket_over_the_byte_cap_falls_back(spark, tmpdir_path, monkeypatch):
    tbl = create_transcripts_table(spark, tmpdir_path + "/t", n_buckets=2, mode="mor")
    t = datetime(2024, 1, 1)
    for e in range(2):
        apply_changes(
            tbl,
            spark.createDataFrame([
                (e * 10 + i, "update", f"c{i}", 0, "u", f"e{e}", None, t, 0, 0.0)
                for i in range(4)
            ], NARROW),
            e,
        )
    _check(spark, tbl, "c1")
    monkeypatch.setattr(snapshot_table, "_DRIVER_RESOLVE_MAX_BYTES", 0)
    _check(spark, tbl, "c1", driver=False)


@pytest.mark.parametrize("key", ["c1", True])  # driver path, Spark fallback
def test_lookup_keeps_the_full_read_plan_cache(spark, tmpdir_path, key):
    """A lookup must not replace the handle's one-slot full-read plan
    cache, or the next ``read()`` at the same version rebuilds every
    bucket's branch."""
    tbl = create_transcripts_table(spark, tmpdir_path + "/t", n_buckets=4, mode="mor")
    t = datetime(2024, 1, 1)
    apply_changes(
        tbl,
        spark.createDataFrame([
            (i, "insert", k, 0, "u", k, None, t, 0, 0.0)
            for i, k in enumerate(["c1", "c2", "true"])
        ], NARROW),
        0,
    )
    tbl.read()
    cached = tbl._collapsed_plan_cache
    assert tbl.lookup(key).collect()
    tbl.read()
    assert tbl._collapsed_plan_cache is cached
