"""MoR read-path evidence: bucket-local (exchange-free) LWW collapse vs the
round-2 global collapse (full-table Exchange before the reduce).

Builds one merge-on-read table (bench-sized changelog, multi-epoch so real
cross-epoch delta overlap exists), then times two formulations of the SAME
read over the SAME files, min-of-K each, forcing every output column through
a hash aggregate:

* ``global``  — ``collapse_lww(read_raw(all files))``: what ``read()`` did in
  round 2; Catalyst plans ``Exchange hashpartitioning(conv_id, turn_idx)``
  over the entire table.
* ``bucket``  — ``table.read()``: union of per-bucket branches, zero
  Exchange (each bucket's task scans its file group and reduces in place).

Usage: python tools/bench_mor_read.py [n_convs] [trials]
Prints one JSON line; BENCH.md records the canonical run.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from mas_scada_bulkingest_spark.operators.lww import collapse_lww  # noqa: E402
from mas_scada_bulkingest_spark.operators.schema_evolution import align_schemas  # noqa: E402
from mas_scada_bulkingest_spark.pipeline import create_transcripts_table  # noqa: E402
from mas_scada_bulkingest_spark.sources.changelog_gen import generate_changelog  # noqa: E402
from mas_scada_bulkingest_spark.streaming.driver import build_session, replay_batches  # noqa: E402


def _force(df) -> int:
    row = (
        df.select(F.xxhash64(*[F.col(c) for c in df.columns]).alias("_h"))
        .agg(F.bit_xor("_h").alias("x"), F.count(F.lit(1)).alias("n"))
        .first()
    )
    return row["n"]


def main() -> None:
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 120_000
    trials = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    work = tempfile.mkdtemp(prefix="bench_mor_read_", dir="/dev/shm")
    spark = build_session(
        cores=32,
        shuffle_partitions=32,
        extra_conf={"spark.local.dir": os.path.join(work, "spark-local")},
    )
    spark.sparkContext.setLogLevel("ERROR")

    changes = os.path.join(work, "changes")
    man = generate_changelog(changes, n_convs=n_convs, mean_turns=8, n_files=32, seed=7)
    table = create_transcripts_table(
        spark, os.path.join(work, "t"), n_buckets=32, mode="mor"
    )
    # 4 epochs -> real cross-epoch delta overlap; compaction off so the read
    # resolves multi-file buckets (the worst honest case for the read path)
    replay_batches(spark, changes, table, files_per_epoch=8)
    n_files = sum(len(v) for v in table._snapshot["buckets"].values())

    def read_global():
        raw = table._read_raw()
        df = collapse_lww(raw, keys=table.key, order=table.order)
        return align_schemas(
            df.filter(~F.coalesce(F.col("_tombstone"), F.lit(False))), table.schema
        )

    # interleaved trials: the sandbox's noisy-neighbor variance (same job
    # 16-85 s observed) makes sequential A-then-B comparisons unreliable
    variants = (("global_collapse", read_global), ("bucket_local", table.read))
    times = {name: [] for name, _ in variants}
    rows_of = {}
    for _ in range(trials):
        for name, fn in variants:
            t0 = time.perf_counter()
            rows_of[name] = _force(fn())
            times[name].append(time.perf_counter() - t0)
    results = {}
    for name, fn in variants:
        results[name + "_cold_sec"] = round(times[name][0], 3)
        results[name + "_sec"] = round(min(times[name]), 3)
        results[name + "_rows"] = rows_of[name]
        results[name + "_exchanges"] = fn()._jdf.queryExecution().executedPlan().toString().count("Exchange")

    assert rows_of["global_collapse"] == rows_of["bucket_local"]
    out = {
        "n_events": man.n_events,
        "n_buckets": 32,
        "n_data_files": n_files,
        "trials": trials,
        **results,
        "speedup": round(
            results["global_collapse_sec"] / results["bucket_local_sec"], 2
        ),
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
