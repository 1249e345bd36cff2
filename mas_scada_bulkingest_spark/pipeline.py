"""End-to-end CDC apply pipeline: parse → normalize → collapse → MERGE.

The Spark re-expression of the reference's ``extractAndUpload`` cycle
(DBConnector.java:89-256): where the reference walks a JDBC cursor row by row
into a column map and batch-inserts per entity type, this pipeline is a pure
DataFrame plan per micro-batch, applied to the lake table inside
``foreachBatch`` (or the batched replay driver), guarded by the epoch commit
log for exactly-once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.ids import name_uuid_expr
from .functions.tagpath import path_levels
from .functions.text import normalize_text
from .lake.base import LakeTable
from .lake.snapshot_table import MergeStats, SnapshotTable, compute_bucket_stats
from .operators.classify import classify_expr
from .operators.lww import collapse_lww
from .schemas import (
    CONVERSATIONS_SCHEMA,
    REGISTRY_KEY,
    REGISTRY_ORDER,
    TRANSCRIPT_SCHEMA,
)

#: default conversation classification (reference loads its (type, pattern)
#: list + discards from connection.json, Config.java:173-179; override via
#: the ``classify_patterns``/``classify_discard`` arguments or a config file
#: through :func:`mas_scada_bulkingest_spark.operators.classify.load_classifier_config`).
DEFAULT_CONV_PATTERNS = [
    ("single", r"conv-\d"),
    ("double", r"conv-\d\d"),
    ("triple", r"conv-\d{3,}"),
]
DEFAULT_CONV_DISCARD = [r"conv-13"]


def parse_changes(df: DataFrame, normalize: bool = False) -> DataFrame:
    """Validate/canonicalize a raw change-record batch.

    * enforces the CDC envelope types (lsn long, turn_idx int, ts timestamp)
    * drops malformed ops (analog of the reference's silent skip of unknown
      source columns, DBConnector.java:449-461)
    * optional text normalization via the vectorized Arrow UDF
    """
    out = df
    if "lsn" in out.columns:
        out = out.withColumn("lsn", F.col("lsn").cast("long"))
    if "turn_idx" in out.columns:
        out = out.withColumn("turn_idx", F.col("turn_idx").cast("int"))
    out = out.filter(F.col("op").isin("insert", "update", "delete"))
    if normalize:
        out = out.withColumn("text", normalize_text(F.col("text")))
    return out


def apply_changes(
    table: LakeTable,
    batch: DataFrame,
    epoch_id: int | str,
    normalize: bool = False,
    auto_compact_files: int | None = None,
    auto_cluster_files: int | None = None,
    registry: LakeTable | None = None,
    stage: bool = False,
) -> MergeStats:
    """Apply one micro-batch of change records to ``table`` exactly once.

    Skew (north_rule's skew splitting for hot conversations) needs no
    switch: the collapse is the max-struct aggregate, whose map-side partial
    aggregation collapses a hot conversation's events to ONE row per map
    task before a single byte shuffles, so each reducer sees at most
    #map-tasks rows per key however hot the key is. A salted two-phase
    reduce on top added an exchange and jobs and never won a majority of
    skewed A/B pairs (BENCH.md §"Skew-path calibration").

    ``auto_compact_files=K`` (merge-on-read tables) compacts any bucket that
    exceeds K delta files after the commit; ``auto_cluster_files=k`` makes
    that maintenance rewrite CLUSTERED (range-sliced on event time, see
    ``SnapshotTable.compact(cluster_files=…)``) so windowed reads keep
    skipping sub-bucket files between compactions.
    ``registry``: a conversations dimension table to maintain alongside the
    facts — first-seen registration runs BEFORE the fact merge (the
    reference registers devices before upload, Connector.java:136-146),
    guarded by its own epoch commit log.
    ``stage=True`` (write-audit-publish): run the full merge but persist the
    result as a STAGED snapshot instead of committing — audit it via
    ``table.read_staged(stats.staged_ref)``, then
    ``table.publish_staged(ref)`` / ``table.abort_staged(ref)``.
    """
    if table.is_epoch_committed(epoch_id):
        return table.merge_changes(batch.limit(0), epoch_id)  # cheap no-op path

    parsed = parse_changes(batch, normalize=normalize)
    if registry is not None:
        register_conversations(registry, parsed, epoch_id)
    pre = None
    if getattr(table, "mode", None) != "mor":
        # copy-on-write bucket pruning: which existing files to read and
        # rewrite. Merge-on-read skips this pass: merge_changes takes its
        # per-bucket stats from the delta files its write produced.
        pre = compute_bucket_stats(parsed, table.key[0], table.n_buckets)
    collapsed = collapse_lww(
        parsed,
        keys=table.key,
        order=table.order,
        track_max_of="lsn" if "lsn" in parsed.columns else None,
    )
    return table.merge_changes(
        collapsed,
        epoch_id,
        pre_stats=pre,
        auto_compact_files=auto_compact_files,
        auto_cluster_files=auto_cluster_files,
        stage=stage,
    )


def route_changes(
    routes: dict[str, LakeTable],
    batch: DataFrame,
    epoch_id: int | str,
    route_col="conv_id",
    patterns: list[tuple[str, str]] | None = None,
    discard: list[str] | None = None,
    default_route: str | None = None,
    normalize: bool = False,
    auto_compact_files: int | None = None,
) -> dict[str, MergeStats]:
    """Fan ONE change micro-batch out to several destination tables,
    exactly-once per table.

    The reference routes every row into a per-month destination table
    (advance-on-missing, MonitorTable.java:122-150 / SURVEY.md §2 S3) and
    fans rows out by entity type (§2 P4). Spark-first form: one
    classification pass tags each row with its route name (chained anchored
    ``rlike`` ``when``s — :func:`classify_expr`, pure Catalyst), the tagged
    batch is persisted ONCE (each route's merge re-reads the materialized
    slice instead of re-executing the upstream lineage N times), then each
    route's slice merges into its own table under the SAME ``epoch_id``.

    Exactly-once composes per table: every destination keeps its own epoch
    commit log, so a crash between route commits resumes cleanly — the
    replay driver retries the whole epoch, already-committed tables no-op
    (``was_noop``), the rest apply. A cross-table atomic commit is
    deliberately NOT provided; per-table idempotence under a shared epoch id
    is the 100 TB-friendly contract (no global lock, no 2PC coordinator —
    the same reasoning as Iceberg's independent table commits).

    ``patterns`` (ordered ``(route, regex)``, first full match wins, with
    ``discard`` / ``default_route`` as in :func:`classify_expr`) classify
    ``route_col``. Pass ``patterns=None`` when ``route_col`` ALREADY holds
    route names (e.g. a month string derived upstream). Rows whose route is
    NULL or names no table in ``routes`` are discarded — the reference drops
    unroutable tagnames the same way (ParseTagname.java:84-97).

    Returns ``{route: MergeStats}`` for every route in ``routes``.
    """
    if patterns is not None:
        tag = classify_expr(
            route_col, patterns, discard=discard or (), default_type=default_route
        )
    else:
        tag = F.col(route_col) if isinstance(route_col, str) else route_col
    tagged = batch.withColumn("_route", tag)
    # one materialization, N filtered merges (micro-batch-sized by contract)
    tagged = tagged.persist()
    try:
        stats: dict[str, MergeStats] = {}
        for route, table in routes.items():
            slice_ = tagged.filter(F.col("_route") == F.lit(route)).drop("_route")
            stats[route] = apply_changes(
                table,
                slice_,
                epoch_id,
                normalize=normalize,
                auto_compact_files=auto_compact_files,
            )
        return stats
    finally:
        tagged.unpersist()


def create_transcripts_table(
    spark: SparkSession, path: str, n_buckets: int = 16, mode: str = "cow"
) -> SnapshotTable:
    return SnapshotTable.create(
        spark, path, TRANSCRIPT_SCHEMA, n_buckets=n_buckets, mode=mode
    )


def create_conversations_registry(
    spark: SparkSession, path: str, n_buckets: int = 16
) -> SnapshotTable:
    """The persistent entity registry — the analog of the reference's JCS
    tagpath cache + REST device/dimension registration (Connector.java:
    127-132, Device.java:112-195) as a MERGE-maintained dimension table."""
    return SnapshotTable.create(
        spark,
        path,
        CONVERSATIONS_SCHEMA,
        n_buckets=n_buckets,
        key=REGISTRY_KEY,
        order=REGISTRY_ORDER,
    )


def register_conversations(
    registry: LakeTable,
    batch: DataFrame,
    epoch_id: int | str,
    patterns: list[tuple[str, str]] | None = None,
    discard: list[str] | None = None,
    default_type: str = "other",
    level_sep: str = "-",
    n_levels: int = 4,
) -> MergeStats:
    """First-seen registration MERGE for every conversation in ``batch``.

    One map-side-combined aggregate collapses the batch to its earliest
    sighting per ``conv_id`` (min ``(lsn, ts)``), derives the deterministic
    UUIDv3 identity (reference ``UUID.nameUUIDFromBytes``,
    DBConnector.java:476) and the regex classification (ParseTagname.java:
    76-105), then MERGEs into the registry guarded by the same epoch commit
    log. The registry's LWW order is ``-lsn`` (see CONVERSATIONS_SCHEMA), so
    re-registration is a no-op — the cache's ``putSafe`` contract — while a
    genuinely earlier sighting delivered late still corrects ``first_seen``.

    ``LEVEL_0..LEVEL_{n_levels-1}`` carry the id's path segments (split on
    ``level_sep``, sparse NULLs beyond the depth) — the reference registers
    every tagpath segment as a device dimension (Dimension.java:142-148).
    """
    from .lake.snapshot_table import _epoch_num

    firsts = batch.groupBy("conv_id").agg(
        F.min(F.struct("lsn", "ts")).alias("_first")
    )
    lsn = F.col("_first.lsn")
    reg = firsts.select(
        "conv_id",
        name_uuid_expr(F.concat(F.lit("conv:"), F.col("conv_id"))).alias("conv_uuid"),
        classify_expr(
            "conv_id",
            patterns if patterns is not None else DEFAULT_CONV_PATTERNS,
            discard=discard if discard is not None else DEFAULT_CONV_DISCARD,
            default_type=default_type,
        ).alias("conv_type"),
        F.col("_first.ts").alias("first_seen_ts"),
        lsn.alias("first_seen_lsn"),
        F.lit(_epoch_num(epoch_id)).cast("long").alias("first_seen_epoch"),
        *path_levels(F.col("conv_id"), n_levels=n_levels, sep=level_sep),
        (-lsn).alias("neg_lsn"),
        F.lit("insert").alias("op"),
    )
    return registry.merge_changes(reg, epoch_id)
