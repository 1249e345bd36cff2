"""Spark-job budget per public operation.

At this engine's sizes one Spark job costs a fixed 0.3-0.6 s of scheduling,
far more than most operations spend in executor CPU, so the number of jobs
an operation submits sets its latency. Job counts are deterministic where
timings are not: each row below is the count measured on a small table
(4 buckets, a few rows per epoch), read through the job group the call ran
under (``SparkContext.statusTracker().getJobIdsForGroup``).

A budget may only go down. A change that submits more jobs than its row
allows fails here by name; a change that submits fewer lowers the row to
the new count.
"""

from __future__ import annotations

import uuid
from datetime import datetime

import pytest

from mas_scada_bulkingest_spark.pipeline import apply_changes, create_transcripts_table
from mas_scada_bulkingest_spark.status import epoch_summary, status

DDL = (
    "lsn long, op string, conv_id string, turn_idx int, role string, "
    "text string, tool string, ts timestamp_ntz"
)

#: (operation, mode) -> max Spark jobs. "merge" is a non-compacting
#: ``merge_changes`` into a table that already holds every touched bucket;
#: "apply_changes" is the whole epoch on top of it (parse, LWW collapse,
#: and the copy-on-write bucket-stats pass). "bootstrap" loads a second,
#: empty table; the maintenance rows after "purge_key" run in dict order on
#: the table the earlier rows left behind.
BUDGET = {
    ("merge", "mor"): 2,
    ("merge", "cow"): 6,
    ("apply_changes", "mor"): 3,
    ("apply_changes", "cow"): 6,
    ("status", "mor"): 0,
    ("status", "cow"): 0,
    ("epoch_summary.collect", "mor"): 0,
    ("epoch_summary.collect", "cow"): 0,
    ("lineage.collect", "mor"): 0,
    ("lineage.collect", "cow"): 0,
    ("constraint_metrics.collect", "mor"): 0,
    ("constraint_metrics.collect", "cow"): 0,
    ("compact_lineage", "mor"): 0,
    ("compact_lineage", "cow"): 0,
    ("bucket_of", "mor"): 0,
    ("bucket_of", "cow"): 0,
    ("lookup.collect", "mor"): 0,
    ("lookup.collect", "cow"): 1,
    ("read.count", "mor"): 2,
    ("read.count", "cow"): 2,
    ("read_changes.count", "mor"): 2,
    ("files.collect", "mor"): 1,
    ("files.collect", "cow"): 1,
    ("partitions.collect", "mor"): 1,
    ("partitions.collect", "cow"): 1,
    ("history.collect", "mor"): 1,
    ("history.collect", "cow"): 1,
    ("verify_integrity", "mor"): 0,
    ("verify_integrity", "cow"): 0,
    # plain compaction below the byte cap, on the driver; the Spark rewrite
    # it falls back to (clustered, over the cap, NaN, other types) is held
    # to the driver's output by tests/test_compact_driver_path.py instead
    ("compact", "mor"): 0,
    ("vacuum", "mor"): 0,
    ("vacuum", "cow"): 0,
    ("purge_key", "mor"): 3,
    ("purge_key", "cow"): 3,
    ("delete_where", "mor"): 3,
    ("delete_where", "cow"): 3,
    ("update_where", "mor"): 3,
    ("update_where", "cow"): 3,
    ("purge_tombstones", "mor"): 3,
    ("purge_tombstones", "cow"): 3,
    ("rebucket", "mor"): 2,
    ("rebucket", "cow"): 2,
    ("bootstrap", "mor"): 2,
    ("bootstrap", "cow"): 2,
}


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_job_budget(spark, tmpdir_path, mode):
    sc = spark.sparkContext

    def jobs_of(action) -> int:
        group = f"job-budget-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def batch(epoch: int):
        t = datetime(2024, 1, 1, 0, 0, epoch)
        return spark.createDataFrame(
            [
                (epoch * 10 + k, "update", f"c{k}", k % 3, "u", f"x{epoch}", None, t)
                for k in range(8)
            ],
            DDL,
        )

    tbl = create_transcripts_table(spark, tmpdir_path + "/t", n_buckets=4, mode=mode)
    empty = create_transcripts_table(spark, tmpdir_path + "/b", n_buckets=4, mode=mode)
    tbl.merge_changes(batch(0), 0)
    tbl.merge_changes(batch(1), 1)
    ops = {
        "merge": lambda: tbl.merge_changes(batch(2), 2),
        "apply_changes": lambda: apply_changes(tbl, batch(3), 3),
        "status": lambda: status(tbl),
        "epoch_summary.collect": lambda: epoch_summary(tbl).collect(),
        "lineage.collect": lambda: tbl.lineage().collect(),
        "constraint_metrics.collect": lambda: tbl.constraint_metrics().collect(),
        "bucket_of": lambda: tbl._bucket_of("c1"),
        "lookup.collect": lambda: tbl.lookup("c1").collect(),
        "read.count": lambda: tbl.read().count(),
        "read_changes.count": lambda: tbl.read_changes(0).count(),
        "files.collect": lambda: tbl.files().collect(),
        "partitions.collect": lambda: tbl.partitions().collect(),
        "history.collect": lambda: tbl.history().collect(),
        "verify_integrity": lambda: tbl.verify_integrity(),
        "compact_lineage": lambda: tbl.compact_lineage(),
        "compact": lambda: tbl.compact(max_files=1),
        "vacuum": lambda: tbl.vacuum(),
        "purge_key": lambda: tbl.purge_key("c1"),
        "delete_where": lambda: tbl.delete_where("turn_idx = 1"),
        "update_where": lambda: tbl.update_where("turn_idx = 2", {"text": "'y'"}),
        "purge_tombstones": lambda: tbl.purge_tombstones(),
        "rebucket": lambda: tbl.rebucket(3),
        "bootstrap": lambda: empty.bootstrap(batch(4), 4),
    }
    seen = {
        op: jobs_of(fn) for op, fn in ops.items() if (op, mode) in BUDGET
    }
    over = {op: (n, BUDGET[op, mode]) for op, n in seen.items() if n > BUDGET[op, mode]}
    assert not over, f"jobs (seen, budget) over budget: {over}; all seen: {seen}"
    assert set(seen) == {op for op, m in BUDGET if m == mode}
