"""Driver-side reader and writer for a table's two side logs.

``lineage/`` holds per-(epoch, bucket) merge accounting and ``metrics/``
per-(epoch, constraint) violation counts. Both are appended BEFORE the
snapshot commit, so a crash between append and commit re-appends the same
rows when the epoch replays: the at-least-once side channel of an
exactly-once commit. Every reader must therefore see one row per
``(coalesce(epoch_key, epoch_id), partition_id)`` (lineage) or per
``(epoch_key, constraint_name)`` (metrics), the newest ``committed_ts``
winning. This module is the one place that rule lives.

Both logs are a few KB of parquet, so they are read with pyarrow on the
driver: one Spark job costs more fixed overhead than the whole read, and
``status()`` / ``/metrics`` serve from here without submitting any.
"""

from __future__ import annotations

import os
import uuid
from typing import Callable, NamedTuple

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

#: On-disk schema of ``lineage/`` files (mirrors ``schemas.LINEAGE_SCHEMA``).
#: Files written before ``epoch_key`` / ``wall_secs`` existed read those
#: columns as nulls.
LINEAGE_ARROW_SCHEMA = pa.schema(
    [
        ("epoch_id", pa.int64()),
        ("epoch_key", pa.string()),
        ("partition_id", pa.int32()),
        ("applied", pa.int64()),
        ("skipped", pa.int64()),
        ("deleted", pa.int64()),
        ("max_lsn", pa.int64()),
        ("wall_secs", pa.float64()),
        ("committed_ts", pa.timestamp("us")),
    ]
)

#: On-disk schema of ``metrics/`` files (mirrors
#: ``schemas.CONSTRAINT_METRICS_SCHEMA``).
METRICS_ARROW_SCHEMA = pa.schema(
    [
        ("epoch_id", pa.int64()),
        ("epoch_key", pa.string()),
        ("constraint_name", pa.string()),
        ("mode", pa.string()),
        ("violations", pa.int64()),
        ("committed_ts", pa.timestamp("us")),
    ]
)


class SideLog(NamedTuple):
    subdir: str  # directory under the table root
    prefix: str  # file names are <prefix>-<tag>-<uuid8>.parquet
    schema: pa.Schema


LINEAGE_LOG = SideLog("lineage", "lineage", LINEAGE_ARROW_SCHEMA)
METRICS_LOG = SideLog("metrics", "constraints", METRICS_ARROW_SCHEMA)


def _log_files(log_dir: str) -> list[str]:
    """Parquet files of one log, skipping hidden/underscore names the way
    Spark's file listing does; [] when the directory does not exist."""
    try:
        names = os.listdir(log_dir)
    except FileNotFoundError:
        return []
    return [
        os.path.join(log_dir, n)
        for n in sorted(names)
        if n.endswith(".parquet") and not n.startswith((".", "_"))
    ]


def _read_log(table_path: str, log: SideLog) -> pa.Table:
    # a concurrent compaction writes its merged file BEFORE it deletes the
    # inputs, so a re-listing after a vanished file sees every row
    for attempt in range(3):
        files = _log_files(os.path.join(table_path, log.subdir))
        try:
            return ds.dataset(files, schema=log.schema, format="parquet").to_table()
        except FileNotFoundError:
            if attempt == 2:
                raise


def lineage_epoch_keys(lin: pa.Table) -> pa.ChunkedArray:
    """Per-row epoch identity: ``epoch_key``, or the numeric ``epoch_id``
    as a string for rows written before the key existed (epoch_id alone
    would conflate equal batch numbers from different checkpoints)."""
    return pc.coalesce(lin["epoch_key"], pc.cast(lin["epoch_id"], pa.string()))


def newest_per(
    tbl: pa.Table, keys: dict[str, pa.ChunkedArray], by: list[str]
) -> pa.Table:
    """One row of ``tbl`` per distinct ``keys`` tuple: the one whose
    ``by`` columns are greatest, compared left to right with NULL below
    every value (Spark's struct ordering, so also ``collapse_lww``'s winner
    for types the two order alike). Returned sorted by the keys."""
    order = pc.sort_indices(
        tbl, [(c, "descending") for c in by], null_placement="at_end"
    )
    keyed = pa.table({k: v.take(order) for k, v in keys.items()}).append_column(
        "__row", order
    )
    # hash "first" follows input order only single-threaded; the input is
    # greatest-first, so "first" is the winning row of each group
    first = keyed.group_by(list(keys), use_threads=False).aggregate(
        [("__row", "first")]
    )
    first = first.sort_by([(k, "ascending") for k in keys])
    return tbl.take(first["__row_first"])


def read_lineage(table_path: str) -> pa.Table:
    """Deduplicated lineage rows under :data:`LINEAGE_ARROW_SCHEMA`."""
    lin = _read_log(table_path, LINEAGE_LOG)
    return newest_per(
        lin, {"k": lineage_epoch_keys(lin), "p": lin["partition_id"]}, ["committed_ts"]
    )


def read_constraint_metrics(table_path: str) -> pa.Table:
    """Deduplicated constraint-metrics rows under :data:`METRICS_ARROW_SCHEMA`."""
    m = _read_log(table_path, METRICS_LOG)
    return newest_per(
        m, {"k": m["epoch_key"], "c": m["constraint_name"]}, ["committed_ts"]
    )


def write_log(table_path: str, log: SideLog, tag, data) -> None:
    """Write one file of a side log: ``data`` is a column dict (or a table)
    under ``log.schema``. The name ``<prefix>-<tag>-<uuid8>.parquet`` is
    unique, so an at-least-once re-append never overwrites."""
    log_dir = os.path.join(table_path, log.subdir)
    os.makedirs(log_dir, exist_ok=True)
    tbl = data if isinstance(data, pa.Table) else pa.table(data, schema=log.schema)
    pq.write_table(
        tbl, os.path.join(log_dir, f"{log.prefix}-{tag}-{uuid.uuid4().hex[:8]}.parquet")
    )


def compact_log(
    table_path: str, log: SideLog, read: Callable[[str], pa.Table]
) -> int:
    """Write the deduped log (``read(table_path)``) as one file, then delete
    exactly the files listed BEFORE the read: a file appended meanwhile is
    kept, and a crash between the write and the deletes leaves duplicates
    the reader already hides. Returns the number of files removed."""
    inputs = _log_files(os.path.join(table_path, log.subdir))
    if len(inputs) <= 1:
        return 0
    write_log(table_path, log, "compact", read(table_path))
    for f in inputs:
        try:
            os.remove(f)
        except FileNotFoundError:
            pass
    return len(inputs)
