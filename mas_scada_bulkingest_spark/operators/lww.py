"""Last-writer-wins collapse (SURVEY.md §2 W1).

The reference has no explicit LWW: it inserts blindly and lets a unique index
``(DEVICEID, RCV_TIMESTAMP_UTC)`` reject duplicates (MonitorTable.java:70-76).
The new engine must collapse a batch of change events to one winning mutation
per ``(conv_id, turn_idx)`` under lexicographic ``(ts, lsn)`` order *before*
merging (BASELINE.json north_star).

Two implementations:

``collapse_lww``  (default, scale path)
    ``groupBy(keys).agg(max(struct(ts, lsn, payload…)))``. Struct comparison
    is lexicographic, so the max struct IS the last writer. Crucially this is
    a *partially aggregatable* hash aggregate: Spark computes map-side partial
    maxes before the shuffle, so a hot conversation's million change events
    collapse to one row per map task before a single byte shuffles. This beats
    any window/sort formulation at scale and is the engine's skew mechanism:
    every reducer sees at most #map-tasks rows per key, however hot the key
    (an explicit salted two-phase reduce on top added jobs and never won a
    majority of skewed A/B pairs inside the merge, BENCH.md §"Skew-path
    calibration").

``collapse_lww_window``  (parity/verification path)
    The textbook ``row_number() OVER (PARTITION BY keys ORDER BY ts DESC,
    lsn DESC) = 1`` form. Kept because it is the exact SQL an oracle runs and
    because some payloads are not struct-orderable (e.g. map columns).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def collapse_lww(
    df: DataFrame,
    keys: Sequence[str] = ("conv_id", "turn_idx"),
    order: Sequence[str] = ("ts", "lsn"),
    track_max_of: str | None = None,
) -> DataFrame:
    """Collapse to one row per ``keys`` — the row with max ``order`` tuple.

    All non-key columns are carried on the winning row. Exact duplicate
    deliveries (same ``order`` tuple) are identical rows, so ties are safe.

    ``track_max_of="lsn"`` adds a ``_max_lsn`` column: the max lsn *seen* per
    key (not just the winner's) — rides the same aggregate, costs no extra
    shuffle, and feeds the lineage table's max-LSN-processed accounting.
    """
    keys = list(keys)
    order = list(order)
    carried = [c for c in df.columns if c not in keys and c not in order]
    packed = F.struct(*[F.col(c) for c in order + carried])

    extra_name = f"_max_{track_max_of}" if track_max_of else None
    aggs = [F.max(packed).alias("_w")]
    if track_max_of:
        aggs.append(F.max(F.col(track_max_of)).alias(extra_name))
    winner = df.groupBy(*keys).agg(*aggs)

    out_cols = list(df.columns) + ([extra_name] if track_max_of else [])
    return winner.select(
        *keys,
        *[F.col(f"_w.{c}").alias(c) for c in order + carried],
        *([F.col(extra_name)] if track_max_of else []),
    ).select(*out_cols)


def collapse_lww_columnar(
    df: DataFrame,
    keys: Sequence[str] = ("conv_id", "turn_idx"),
    order: Sequence[str] = ("ts", "lsn"),
    value_cols: Sequence[str] = (),
    track_last_of: Sequence[str] = (),
    count_alias: str | None = None,
) -> DataFrame:
    """Per-COLUMN last-writer-wins: collapse sparse partial updates.

    Row-level LWW (:func:`collapse_lww`) assumes every change carries the
    full row image. Real binlog tails often don't: a Debezium MySQL update
    without full row images, or a Mongo/JSON patch, carries only the
    columns that changed, NULL elsewhere. Collapsing those row-wise would
    let the latest change's NULLs clobber earlier columns. The columnar
    form keeps, per key, the value from the latest change *in which that
    column was present*::

        role = max_by(role, CASE WHEN role IS NOT NULL THEN (ts, lsn) END)

    ``max_by`` skips rows whose order expression is NULL, so each column
    independently resolves to its own last writer. Every aggregate here is
    declarative (partially aggregatable): map-side combine collapses a hot
    key's updates per task before the single shuffle — the same scale/skew
    behavior as :func:`collapse_lww`, NOT a window sort.

    Limitation (documented, inherent to sparse encoding): a writer cannot
    distinguish "column unchanged" from "column set to NULL" — sparse
    upstreams that need explicit column deletion must send a sentinel.

    ``value_cols`` resolve per-column; ``track_last_of`` columns take the
    value from the overall latest change (NULL allowed); ``count_alias``
    adds a change count. Output: ``keys + value_cols + track_last_of
    [+ count]``.
    """
    keys = list(keys)
    ordx = F.struct(*[F.col(c) for c in order])
    aggs = [
        F.max_by(F.col(c), F.when(F.col(c).isNotNull(), ordx)).alias(c)
        for c in value_cols
    ]
    aggs += [F.max_by(F.col(c), ordx).alias(c) for c in track_last_of]
    if count_alias:
        aggs.append(F.count(F.lit(1)).alias(count_alias))
    return df.groupBy(*keys).agg(*aggs)


def collapse_lww_window(
    df: DataFrame,
    keys: Sequence[str] = ("conv_id", "turn_idx"),
    order: Sequence[str] = ("ts", "lsn"),
) -> DataFrame:
    """Window/row_number formulation of :func:`collapse_lww` (parity path)."""
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
        *[F.col(c).desc() for c in order]
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
