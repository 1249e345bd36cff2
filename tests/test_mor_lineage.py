"""Merge-on-read lineage comes from the epoch's own delta files.

``merge_changes`` reads the per-bucket row count, tombstone count and max
``_max_lsn`` of the files its write just produced on the driver. These tests
pin that the lineage rows and ``MergeStats`` equal a Spark ``groupBy`` over
the same files for every edge case, and that a non-compacting MoR merge
submits no Spark job beyond the ones its write needs.
"""

from __future__ import annotations

import glob
import json
import os
import uuid
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from mas_scada_bulkingest_spark.lake.snapshot_table import (
    SnapshotTable,
    _bucket_expr,
)
from mas_scada_bulkingest_spark.pipeline import apply_changes
from mas_scada_bulkingest_spark.schemas import TRANSCRIPT_SCHEMA

CHANGE_COLS = (
    "lsn long, op string, conv_id string, turn_idx int, role string,"
    " text string, tool string, ts timestamp_ntz"
)
N_KEYS = 12


def _t(s: int) -> datetime:
    return datetime(2024, 1, 1, 0, 0, s)


def _base_rows() -> list[tuple]:
    return [
        (k + 1, "update", f"c{k % 5}", k, "user", f"text-{k}", None, _t(1))
        for k in range(N_KEYS)
    ]


def _epoch_rows(case: str) -> list[tuple]:
    if case == "all_delete":
        return [
            (100 + k, "delete", f"c{k % 5}", k, None, None, None, _t(2))
            for k in range(N_KEYS)
        ]
    # several versions per key (collapsed losers can carry the higher lsn:
    # ts and lsn interleave), plus a delete on every third key
    rows = []
    for k in range(N_KEYS):
        rows.append((300 + k, "update", f"c{k % 5}", k, "bot", f"late-{k}", None, _t(3)))
        rows.append((400 + k, "update", f"c{k % 5}", k, "bot", f"stale-{k}", None, _t(2)))
        if k % 3 == 0:
            rows.append((200 + k, "delete", f"c{k % 5}", k, None, None, None, _t(4)))
    return rows


def _recompute(spark, path: str, epoch: int) -> list[tuple]:
    """Per-bucket lineage recomputed by Spark over the epoch's delta dir."""
    (out_dir,) = glob.glob(os.path.join(path, "data", f"epoch={epoch}-*"))
    if not glob.glob(os.path.join(out_dir, "_bucket=*", "*.parquet")):
        return []
    rows = (
        spark.read.parquet(out_dir)
        .groupBy("_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("_tombstone"), 1).otherwise(0)).alias("d"),
            F.max("_max_lsn").alias("l"),
        )
        .orderBy("_bucket")
        .collect()
    )
    return [(r["_bucket"], r["n"] - r["d"], 0, r["d"], r["l"]) for r in rows]


@pytest.mark.parametrize("case", ["all_delete", "no_lsn", "all_dropped", "staged"])
def test_mor_lineage_equals_delta_recompute(spark, tmpdir_path, case):
    tbl = SnapshotTable.create(
        spark,
        tmpdir_path + "/t",
        TRANSCRIPT_SCHEMA,
        n_buckets=4,
        mode="mor",
        order=("ts",) if case == "no_lsn" else ("ts", "lsn"),
    )
    mk = lambda rows: spark.createDataFrame(rows, CHANGE_COLS)
    apply_changes(tbl, mk(_base_rows()), 0)
    batch = mk(_epoch_rows(case))
    kwargs = {}
    if case == "no_lsn":
        batch = batch.drop("lsn")
    elif case == "all_dropped":
        tbl.add_constraint("no_bot", "role <> 'bot'", "drop")
        batch = batch.filter(F.col("op") == "update")
    elif case == "staged":
        kwargs["stage"] = True
    st = apply_changes(tbl, batch, 1, **kwargs)

    expected = _recompute(spark, tbl.path, 1)
    lineage = [
        tuple(r)
        for r in tbl.lineage()
        .filter(F.col("epoch_id") == 1)
        .select("partition_id", "applied", "skipped", "deleted", "max_lsn")
        .orderBy("partition_id")
        .collect()
    ]
    assert lineage == expected
    lsns = [e[4] for e in expected if e[4] is not None]
    assert (st.applied, st.skipped, st.deleted) == (
        sum(e[1] for e in expected),
        0,
        sum(e[3] for e in expected),
    )
    assert st.max_lsn == (max(lsns) if lsns else None)

    if case == "all_delete":
        assert (st.applied, st.deleted, st.max_lsn) == (0, N_KEYS, 100 + N_KEYS - 1)
    elif case == "no_lsn":
        assert expected and st.max_lsn is None
    elif case == "all_dropped":
        assert expected == [] and st.applied == 0
        assert st.violations == {"no_bot": N_KEYS}
    elif case == "staged":
        with open(
            os.path.join(tbl.path, "snapshots", "staged", f"{st.staged_ref}.json")
        ) as f:
            staged = json.load(f)
        assert staged["staged_counts"] == [st.applied, 0, st.deleted]
        assert staged["staged_max_lsn"] == st.max_lsn
        # max LSN SEEN, incl. the collapsed stale losers (lsn 400+)
        assert (st.applied + st.deleted, st.max_lsn) == (N_KEYS, 400 + N_KEYS - 1)


def test_mor_merge_submits_only_the_write_jobs(spark, tmpdir_path):
    """A non-compacting MoR merge runs the write and nothing else: its job
    group holds no more Spark jobs than the same batch's bucketed write on
    its own. A second scan of the written delta would add jobs."""
    tbl = SnapshotTable.create(
        spark, tmpdir_path + "/t", TRANSCRIPT_SCHEMA, n_buckets=4, mode="mor"
    )
    mk = lambda rows: spark.createDataFrame(rows, CHANGE_COLS)
    tbl.merge_changes(mk(_base_rows()), 0)
    batch = mk(
        [
            (50 + k, "delete" if k % 4 == 0 else "update", f"c{k % 5}", k,
             "bot", f"v2-{k}", None, _t(5))
            for k in range(N_KEYS)
        ]
    )
    sc = spark.sparkContext

    def jobs_of(action) -> int:
        group = f"mor-lineage-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    write_jobs = jobs_of(
        lambda: batch.withColumn("_bucket", _bucket_expr("conv_id", 4))
        .repartition(4, F.col("_bucket"))
        .write.partitionBy("_bucket")
        .parquet(tmpdir_path + "/plain_write")
    )
    stats = []
    merge_jobs = jobs_of(lambda: stats.append(tbl.merge_changes(batch, 1)))
    (st,) = stats
    assert not st.was_noop and "compact" not in st.timings
    assert "lineage_stats" in st.timings
    assert 0 < merge_jobs <= write_jobs, (merge_jobs, write_jobs)
