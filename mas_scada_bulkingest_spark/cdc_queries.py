"""CDC-engine queries for the correctness harness + multimodal plumbing.

The flagship entries exercise the ACTUAL engine — changelog → epoch-sliced
replay → exactly-once MERGE with tombstoned cross-epoch LWW and mid-stream
additive schema evolution → lineage — and are still fully DuckDB-verifiable:
the changelog is derived *deterministically from the sf-dir ``events``
parquet* with SQL-expressible transforms, so the engine's final table state,
its per-epoch lineage accounting, and its replay idempotence are each
expressible as an ANSI-SQL window/aggregate query over the very same files
(VERDICT.md round 1, item 1: the previous synthetic-generator path had no
driver oracle at all).

Derivation (identical expressions on both engines; see ``_SQL_CHANGES``):

* ``lsn``      = ``event_id`` (verified unique per sf table)
* ``conv_id``  = ``'conv-' || user_id``; ``turn_idx`` = ``event_id % 8`` —
  ~E/(users*8) mutations per (conv_id, turn_idx) key
* ``op``       = ``delete`` where ``event_type='error'`` (~20 %), else
  ``update`` (CDC upsert semantics: an update to an unseen key inserts,
  reference MonitorTable.java:70-76 unique-index analog)
* ``ts``       = ``2024-01-01 + (event_id + (event_id*2654435761) % 100000)
  seconds`` — integer-second arithmetic, exact in both engines; the
  multiplicative-hash jitter (~1.2 days) dominates the 1 s/step drift, so
  per-key event-time order is effectively DECOUPLED from lsn order and the
  (ts, lsn) last-writer-wins comparison is genuinely exercised
* epoch        = ``lsn % 4`` — epochs deliberately interleave LSN ranges so
  every epoch delivers "late" data vs its predecessors (cross-epoch LWW +
  tombstone semantics under maximal disorder, stronger than a contiguous
  binlog split)
* epochs 2-3 additionally carry a ``metadata`` column that epochs 0-1 lack
  *in their batch schema entirely* — mid-replay additive schema evolution,
  driver-checked (winner rows from early epochs must read NULL)

The reference semantics being replayed: windowed extraction + blind upsert
behind a unique index (DBConnector.java:89-256, MonitorTable.java:70-76),
upgraded to ordered LWW with deletes per BASELINE.json north_rule.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .derived import (
    create_conversation_index,
    create_conversation_rollup,
    create_dedup_index,
    index_state,
    lsh_index_state,
    refresh_derived,
    refresh_rollup,
)
from .lake.snapshot_table import _CURRENT, SnapshotTable
from .operators.lww import collapse_lww
from .pipeline import apply_changes, create_conversations_registry
from .schemas import TRANSCRIPT_SCHEMA

#: number of replay epochs the events-derived changelog is sliced into
_N_EPOCHS = 4
#: epochs >= this carry the additive ``metadata`` column (schema evolution)
_EVOLVE_EPOCH = 2
#: flagship storage mode: merge-on-read — per-epoch cost O(batch) (delta
#: appends + bucket-local read-time LWW), the only asymptotic that survives
#: 10^10 events (BENCH.md: CoW write phase grows with table size, MoR stays
#: flat). Copy-on-write remains for read-heavy dimension tables (registry).
_DEFAULT_MODE = "mor"

# One replay per (process, sf_dir): the derived changelog and final table are
# deterministic, so memoizing is purely a speed optimization.
_REPLAY_CACHE: dict[str, str] = {}

# Every memoized work table lives under a mkdtemp dir (tmpfs when available);
# register them for end-of-process cleanup so repeated suite runs don't leak
# /dev/shm space, and validate cached paths on lookup so an externally
# removed tmpdir triggers a rebuild instead of a dangling-path error.
_WORKDIRS: list[str] = []


def _workdir(prefix: str) -> str:
    # tmpfs when available: the sandbox disk serializes concurrent writers
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    d = tempfile.mkdtemp(prefix=prefix, dir=base)
    _WORKDIRS.append(d)
    return d


@atexit.register
def _cleanup_workdirs() -> None:
    for d in _WORKDIRS:
        shutil.rmtree(d, ignore_errors=True)


def _live_path(p: str) -> bool:
    """A cached directory is live iff it exists and, when it is a
    :class:`SnapshotTable` (it has a ``_CURRENT`` pointer or a
    ``snapshots/`` dir), the pointer and the snapshot file it names exist
    too — a table whose metadata was removed under a surviving directory
    would otherwise raise on open instead of being rebuilt."""
    if not os.path.isdir(p):
        return False
    current = os.path.join(p, _CURRENT)
    if not os.path.exists(current) and not os.path.isdir(
        os.path.join(p, "snapshots")
    ):
        return True
    try:
        with open(current) as f:
            name = f.read().strip()
    except OSError:
        return False
    return bool(name) and os.path.isfile(os.path.join(p, "snapshots", name))


def _cache_lookup(cache: dict, key: str):
    """Return ``cache[key]`` iff every filesystem path it references is
    still live (:func:`_live_path`); otherwise evict the stale entry and
    return None (rebuild)."""
    val = cache.get(key)
    if val is None:
        return None
    paths = val if isinstance(val, tuple) else (val,)
    if all(
        _live_path(p)
        for p in paths
        if isinstance(p, str) and p.startswith("/")
    ):
        return val
    del cache[key]
    return None


def _hash_off(x):
    """``(x * 2654435761) % 100000``, the changelog's multiplicative-hash
    time offset, with x reduced mod 10^5 BEFORE the multiply: the product
    stays below 10^5 * 35761, so no int64 wrap (or ANSI overflow error)
    however large event_id / lsn grows, and the value is the same for every
    x. DuckDB mirrors: the ``ts`` line of :data:`_SQL_CHANGES` /
    ``_SQL_DEBEZIUM_PARSE`` and :data:`_SQL_ORD`; keep them in lockstep.
    (The ``ts`` mirrors build the interval with ``to_seconds``: DuckDB's
    ``x * INTERVAL 1 SECOND`` narrows x to INT32 and fails past 2^31.)"""
    return F.pmod(
        F.pmod(x, F.lit(100000)) * F.lit(2654435761 % 100000), F.lit(100000)
    )


#: DuckDB ord: packs (ts, lsn) into one comparable BIGINT, the offset term
#: reduced like :func:`_hash_off` (see the _SQL_CDC_LINEAGE note)
_SQL_ORD = (
    "(lsn + ((lsn % 100000) * (2654435761 % 100000)) % 100000) * 10000000 + lsn"
)


def _events_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic changelog derived from ``events`` (see module doc).

    Every expression here has an exact mirror in ``_SQL_CHANGES``; keep the
    two in lockstep or the driver's value hash diverges.
    """
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    is_del = F.col("event_type") == "error"
    s_off = F.col("event_id") + _hash_off(F.col("event_id"))
    ts = F.lit("2024-01-01 00:00:00").cast("timestamp_ntz") + F.make_dt_interval(
        secs=s_off
    )
    return ev.select(
        F.col("event_id").alias("lsn"),
        F.when(is_del, F.lit("delete")).otherwise(F.lit("update")).alias("op"),
        F.concat(F.lit("conv-"), F.col("user_id").cast("string")).alias("conv_id"),
        F.pmod(F.col("event_id"), F.lit(8)).cast("int").alias("turn_idx"),
        F.when(is_del, F.lit(None)).otherwise(F.col("event_type")).alias("role"),
        F.when(is_del, F.lit(None))
        .otherwise(
            F.concat(F.col("props"), F.lit(" v"), F.col("event_id").cast("string"))
        )
        .alias("text"),
        F.when(is_del, F.lit(None))
        .when(F.col("event_type") == "click", F.lit("search"))
        .alias("tool"),
        ts.alias("ts"),
    )


#: DuckDB mirror of :func:`_events_changelog`, plus the epoch assignment.
_SQL_CHANGES = """
  changes AS (
    SELECT event_id AS lsn,
           CASE WHEN event_type = 'error' THEN 'delete' ELSE 'update' END AS op,
           'conv-' || CAST(user_id AS VARCHAR) AS conv_id,
           CAST(event_id % 8 AS INT) AS turn_idx,
           CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS role,
           CASE WHEN event_type = 'error' THEN NULL
                ELSE props || ' v' || CAST(event_id AS VARCHAR) END AS text,
           CASE WHEN event_type = 'error' THEN NULL
                WHEN event_type = 'click' THEN 'search' END AS tool,
           TIMESTAMP '2024-01-01 00:00:00'
             + to_seconds(event_id
                          + ((event_id % 100000) * (2654435761 % 100000)) % 100000)
               AS ts,
           CAST(event_id % 4 AS BIGINT) AS epoch
    FROM events
  )
"""


def _replayed_table(
    spark: SparkSession,
    sf_dir: str,
    mode: str = _DEFAULT_MODE,
    epoching: str = "interleaved",
    protocol: str = "direct",
) -> SnapshotTable:
    """Replay the events-derived changelog through the real engine once per
    (process, sf, mode, epoching): 4 LSN-interleaved epochs via
    ``apply_changes`` (collapse → exactly-once MERGE), with the ``metadata``
    column appearing only in the batch schema of epochs >= 2 (additive
    evolution mid-replay).

    ``epoching`` picks the changelog→epoch assignment: ``"interleaved"``
    (``lsn % 4``, the flagship default — every epoch delivers late data vs
    its predecessors, maximal cross-epoch LWW disorder) or ``"blocked"``
    (``(lsn // 8) % 4``). The blocked variant exists for the typed
    changes-feed entries: with the flagship derivation a key's changes all
    share one epoch (``turn_idx = lsn % 8`` forces ``lsn % 4`` constant per
    key), so its feed would only ever contain first-epoch winners; blocking
    by ``lsn // 8`` spreads every key across all four epochs and makes the
    typed feed exercise update / delete / stale-suppression / re-insert.

    The default is the merge-on-read scale mode (O(batch) delta appends +
    bucket-local read-time LWW + auto-compaction); ``mode="cow"`` runs the
    copy-on-write reconciling merge — same final state, proven against the
    same oracle.
    """
    key = f"{os.path.normpath(sf_dir)}::{mode}::{epoching}::{protocol}"
    cached = _cache_lookup(_REPLAY_CACHE, key)
    if cached is not None:
        return SnapshotTable(spark, cached)
    work = _workdir("cdc_replay_")
    table_path = os.path.join(work, "transcripts")
    table = SnapshotTable.create(
        spark, table_path, TRANSCRIPT_SCHEMA, n_buckets=8, mode=mode
    )
    registry = create_conversations_registry(
        spark, os.path.join(work, "conversations"), n_buckets=4
    )
    changes = _events_changelog(spark, sf_dir)
    epoch_of = (
        F.pmod(F.floor(F.col("lsn") / F.lit(8)), F.lit(_N_EPOCHS))
        if epoching == "blocked"
        else F.pmod(F.col("lsn"), F.lit(_N_EPOCHS))
    )
    # "branch" protocol: epoch 0 lands on the main table directly, epochs
    # 1.. land on a zero-copy fork which fast_forward() then publishes back
    # as ONE atomic commit — the oracle match downstream proves the branch
    # adoption preserves exactly-once, LWW and schema evolution
    target = table
    if protocol == "branch":
        apply_changes(
            table,
            changes.filter(epoch_of == 0),
            epoch_id=0,
            auto_compact_files=8 if mode == "mor" else None,
        )
        target = table.clone(os.path.join(work, "fork"))
    for e in range(1 if protocol == "branch" else 0, _N_EPOCHS):
        batch = changes.filter(epoch_of == e)
        if e >= _EVOLVE_EPOCH:
            batch = batch.withColumn(
                "metadata",
                F.when(
                    F.col("op") != "delete",
                    F.concat(
                        F.lit('{"rev": '), F.col("lsn").cast("string"), F.lit("}")
                    ),
                ),
            )
        if protocol == "wap":
            # write-audit-publish replay: every epoch is STAGED, audited on
            # the staged bytes through the normal read path, then published
            # atomically — the oracle match downstream proves exactly-once,
            # LWW and schema evolution all survive the stage/publish split
            st = apply_changes(target, batch, epoch_id=e, stage=True)
            audit = target.read_staged(st.staged_ref).read()
            bad = audit.filter(
                F.col("conv_id").isNull() | F.col("turn_idx").isNull()
            ).limit(1)
            if bad.count() > 0:  # pragma: no cover - audit never fails here
                target.abort_staged(st.staged_ref)
                raise RuntimeError(f"WAP audit failed for epoch {e}")
            target.publish_staged(st.staged_ref)
        else:
            apply_changes(
                target,
                batch,
                epoch_id=e,
                auto_compact_files=8 if mode == "mor" else None,
                registry=registry if protocol == "direct" else None,
            )
    if protocol == "branch":
        table.fast_forward(target)
    _REPLAY_CACHE[key] = table_path
    return table


def q_cdc_replay_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final transcripts table after full changelog replay (engine flagship,
    merge-on-read storage — the mode whose per-epoch cost survives 10^10
    events; the read here exercises the bucket-local LWW resolution).

    The oracle is the textbook CDC reduction over the same parquet: global
    (ts, lsn) last-writer-wins per (conv_id, turn_idx), minus keys whose
    winner is a delete — per-turn text equality under stable turn ordering
    (BASELINE.json input_hint invariant), hash-checked by the driver.
    """
    table = _replayed_table(spark, sf_dir)
    df = table.read()
    return df.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        "lsn",
        "metadata",
    )


_SQL_CDC_REPLAY_STATE = f"""
WITH {_SQL_CHANGES},
  ranked AS (
    SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                 ORDER BY ts DESC, lsn DESC) AS rn
    FROM changes
  )
SELECT conv_id, turn_idx, role, text, tool,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str, lsn,
       CASE WHEN epoch >= {_EVOLVE_EPOCH}
            THEN '{{"rev": ' || CAST(lsn AS VARCHAR) || '}}' END AS metadata
FROM ranked
WHERE rn = 1 AND op <> 'delete'
"""


def q_cdc_projected_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-projected read of the replayed MoR table:
    ``read(columns=["text"])`` — manifest-level pruning narrows the pinned
    scan schema to (key ∪ order ∪ text ∪ tombstone), so the unrequested
    payload columns (role, tool, metadata) are never read off disk (plan-
    pinned by tests/test_projected_read.py; at 100 TB the bytes never
    scanned are the win). This entry proves winner selection stays EXACT
    when losers' payload columns are unscanned: the oracle ranks the full
    changelog and projects the same three columns.
    """
    table = _replayed_table(spark, sf_dir)
    return table.read(columns=["text"])


_SQL_CDC_PROJECTED_STATE = f"""
WITH {_SQL_CHANGES},
  ranked AS (
    SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                 ORDER BY ts DESC, lsn DESC) AS rn
    FROM changes
  )
SELECT conv_id, turn_idx, text
FROM ranked
WHERE rn = 1 AND op <> 'delete'
"""


#: lower window bound for the data-skipping read entry — mid-range of the
#: derived changelog's event-time spread at every sf, so both sides of the
#: bound are populated
_WINDOW_MIN_TS = "2024-01-01 12:00:00"


def q_cdc_windowed_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-windowed read of the replayed MoR table: live state with event
    time >= a fixed bound, served by ``read(min_event_time=…)`` — the
    manifest-stats data-skipping path (per-file [min, max] footer bounds
    recorded at commit; files provably below the bound are never opened,
    the rest get the residual filter). The oracle is the flagship LWW
    reduction with the same window predicate on the winner's event time,
    so the driver hash-checks the skipping read's exactness.

    Reference analog: the monthly-table routing that scopes each extraction
    to one month's table (dbutils.py month-advance logic) — here the scope
    falls out of file-level stats instead of a table-naming convention.
    """
    table = _replayed_table(spark, sf_dir)
    df = table.read(min_event_time=_WINDOW_MIN_TS)
    return df.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        "lsn",
        "metadata",
    )


# the flagship reduction, windowed on the WINNER's event time (read() filters
# live state, not pre-collapse changes — a key whose winner sits below the
# bound disappears even if some stale loser sat above it)
_SQL_CDC_WINDOWED_STATE = (
    _SQL_CDC_REPLAY_STATE + f" AND ts >= TIMESTAMP '{_WINDOW_MIN_TS}'"
)


def q_cdc_clustered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same windowed read AFTER a clustered rewrite
    (``compact(cluster_files=…)`` — Iceberg sort-order rewrite / Delta
    OPTIMIZE ZORDER analog on the event-time dimension): the replayed table
    is zero-copy CLONED (hard links, O(files)), the clone's buckets are
    each range-sliced into up to 4 files tiling their time range, and the
    windowed read runs against the clustered layout. Same oracle as
    ``cdc_windowed_state``, so the driver hash proves the clustered
    rewrite changes WHICH files exist, never what the table says — while
    ``tests/test_cluster_compact.py`` pins that the windowed read now
    prunes sub-bucket files the plain compaction could not."""
    source = _replayed_table(spark, sf_dir)
    work = _workdir("cdc_cluster_")
    clone = source.clone(os.path.join(work, "clustered"))
    clone.compact(max_files=0, cluster_files=4)
    df = clone.read(min_event_time=_WINDOW_MIN_TS)
    return df.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        "lsn",
        "metadata",
    )


def q_cdc_changes_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental changes feed (Delta-CDF analog) off the replayed MoR
    table: every change applied in the LAST TWO epochs, straight from the
    epoch delta files — ``read_changes`` walks the snapshot history, so
    auto-compaction during the replay cannot hide an epoch. Rows are the
    per-(key, epoch) LWW batch winners; deletes surface as
    ``change_type='delete'`` carrying the tombstone's (ts, lsn) watermark
    with a NULL payload. The oracle recomputes the same winners per
    (key, epoch) from the derived changelog.

    This is the surface a downstream consumer polls to keep derived state
    fresh without rescanning the table (the engine both APPLIES a change
    stream and EMITS one).
    """
    table = _replayed_table(spark, sf_dir)
    df = table.read_changes(since_epoch=_EVOLVE_EPOCH)
    return df.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        "lsn",
        "metadata",
        F.col("_change_type").alias("change_type"),
        F.col("_change_epoch").alias("change_epoch"),
    )


_SQL_CDC_CHANGES_FEED = f"""
WITH {_SQL_CHANGES},
  ranked AS (
    SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx, epoch
                                 ORDER BY ts DESC, lsn DESC) AS rn
    FROM changes
  )
SELECT conv_id, turn_idx, role, text, tool,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str, lsn,
       CASE WHEN op <> 'delete'
            THEN '{{"rev": ' || CAST(lsn AS VARCHAR) || '}}' END AS metadata,
       CASE WHEN op = 'delete' THEN 'delete' ELSE 'upsert' END AS change_type,
       epoch AS change_epoch
FROM ranked
WHERE rn = 1 AND epoch >= {_EVOLVE_EPOCH}
"""


def q_cdc_stream_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The changes feed consumed THROUGH the Structured-Streaming table
    source (``format("table_changes")`` — Spark 4 Python DataSource API,
    ``streaming/table_source.py``): the replayed MoR table is tailed as a
    stream from ``sinceEpoch=_EVOLVE_EPOCH``, drained with an
    ``availableNow`` trigger into a parquet sink (distributed write — rows
    never pass through the driver), and read back. Must equal the batch
    ``read_changes`` surface row for row, so it shares
    ``cdc_changes_feed``'s oracle: the streaming source and the batch feed
    are two consumers of one contract (per-(key, epoch) LWW batch winners,
    deletes as tombstone-watermark rows).
    """
    from .streaming.table_source import TableChangesDataSource

    table = _replayed_table(spark, sf_dir)
    try:
        spark.dataSource.register(TableChangesDataSource)
    except Exception:
        pass  # already registered in this session
    work = _workdir("msbs-streamfeed-")
    feed = (
        spark.readStream.format("table_changes")
        .option("path", table.path)
        .option("sinceEpoch", _EVOLVE_EPOCH)
        .load()
    )
    q = (
        feed.writeStream.format("parquet")
        .option("path", work + "/out")
        .option("checkpointLocation", work + "/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError("cdc_stream_feed drain did not finish in 600s")
    df = spark.read.schema(feed.schema).parquet(work + "/out")
    return df.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        "lsn",
        "metadata",
        F.col("_change_type").alias("change_type"),
        F.col("_change_epoch").alias("change_epoch"),
    )


def q_cdc_cdf_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed state-transition feed (Delta-CDF ``insert``/``update``/
    ``delete`` parity) off the replayed MoR table, full replay range.

    MoR epochs are appended blind (never reading prior state — that is what
    keeps the write O(batch)), so ``read_changes(change_types=True)``
    reconstructs each change's type LAZILY: a windowed prefix-max of the
    (ts, lsn) order tuple per key decides whether each epoch's batch winner
    actually transitioned table state, and whether the state it replaced
    was live or absent. Stale winners (lost the cross-epoch LWW) and
    deletes of absent keys emit NOTHING — exactly Delta CDF's contract.
    The oracle replays the identical classification as an ANSI window over
    the derived changelog, so the driver hash-checks every emitted row's
    payload AND type. This is the feed shape an incremental-view consumer
    needs (see ``cdc_ivm_rollup``, which folds it).

    Uses the block-epoched replay (``epoch = (lsn // 8) % 4``): under the
    flagship's interleaved epoching every key's changes share one epoch
    (see ``_replayed_table``), which would degenerate this feed to inserts
    only; blocking spreads each key across all four epochs so the oracle
    exercises every transition class (sf0.01: 1,138 insert / 690 update /
    195 delete, with 2,146 stale-or-absent batch winners correctly
    suppressed).
    """
    table = _replayed_table(spark, sf_dir, epoching="blocked")
    df = table.read_changes(since_epoch=0, change_types=True)
    return df.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        "lsn",
        "metadata",
        F.col("_change_type").alias("change_type"),
        F.col("_change_epoch").alias("change_epoch"),
    )


#: block-epoched mirror of :data:`_SQL_CHANGES` (``epoch = (lsn // 8) % 4``)
#: — keep the replacement target in lockstep with the epoch line there
_SQL_CHANGES_BLOCKED = _SQL_CHANGES.replace(
    "CAST(event_id % 4 AS BIGINT) AS epoch",
    "CAST((event_id // 8) % 4 AS BIGINT) AS epoch",
)
assert _SQL_CHANGES_BLOCKED != _SQL_CHANGES


# same prefix-max-of-ord classification the engine applies lazily (ord
# packing collision-free for lsn < 10^7, see _SQL_CDC_LINEAGE note); the
# prior state is absent iff the prior winning change was a delete
# (prev_del_ord = prev_ord — ords are unique, lsn is).
_SQL_CDC_CDF_TYPED = f"""
WITH {_SQL_CHANGES_BLOCKED},
  ranked AS (
    SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx, epoch
                                 ORDER BY ts DESC, lsn DESC) AS rn
    FROM changes
  ),
  w AS (
    SELECT *, {_SQL_ORD} AS ord
    FROM ranked WHERE rn = 1
  ),
  p AS (
    SELECT *,
           max(ord) OVER prior AS prev_ord,
           max(CASE WHEN op = 'delete' THEN ord END) OVER prior AS prev_del_ord
    FROM w
    WINDOW prior AS (PARTITION BY conv_id, turn_idx ORDER BY epoch
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
  ),
  t AS (
    SELECT *,
           CASE WHEN prev_ord IS NOT NULL AND ord < prev_ord THEN NULL
                WHEN op = 'delete'
                     AND (prev_ord IS NULL OR prev_del_ord = prev_ord)
                     THEN NULL
                WHEN op = 'delete' THEN 'delete'
                WHEN prev_ord IS NULL OR prev_del_ord = prev_ord THEN 'insert'
                ELSE 'update' END AS change_type
    FROM p
  )
SELECT conv_id, turn_idx, role, text, tool,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str, lsn,
       CASE WHEN op <> 'delete' AND epoch >= {_EVOLVE_EPOCH}
            THEN '{{"rev": ' || CAST(lsn AS VARCHAR) || '}}' END AS metadata,
       change_type, epoch AS change_epoch
FROM t WHERE change_type IS NOT NULL
"""


def q_cdc_ivm_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance off the typed changes feed: per-
    conversation live-turn counts maintained purely by FOLDING the typed
    feed (insert → +1, delete → −1, update → 0) — the table's data files
    are never read. The oracle is the INDEPENDENT full recompute (count of
    live keys per conversation from the global LWW reduction), so the
    driver's hash proves fold-of-deltas ≡ recompute-from-scratch — the
    correctness property every CDC-fed derived aggregate relies on. Per
    key the typed transitions alternate live/absent, so the fold nets to
    exactly 1 for finally-live keys and 0 otherwise; the >0 filter drops
    conversations whose every turn ended deleted (absent from the
    recompute by construction). Folds the block-epoched replay's feed (the
    variant whose typed feed actually contains updates and deletes, see
    ``q_cdc_cdf_typed``); the oracle's recompute is epoching-independent —
    the same changes land in the same final state however they are sliced
    — which is itself part of what the check proves.
    """
    table = _replayed_table(spark, sf_dir, epoching="blocked")
    feed = table.read_changes(since_epoch=0, change_types=True)
    delta = (
        F.when(F.col("_change_type") == "insert", F.lit(1))
        .when(F.col("_change_type") == "delete", F.lit(-1))
        .otherwise(F.lit(0))
    )
    return (
        feed.groupBy("conv_id")
        .agg(F.sum(delta).cast("long").alias("live_turns"))
        .filter(F.col("live_turns") > 0)
    )


_SQL_CDC_IVM_ROLLUP = f"""
WITH {_SQL_CHANGES},
  ranked AS (
    SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                 ORDER BY ts DESC, lsn DESC) AS rn
    FROM changes
  )
SELECT conv_id, CAST(count(*) AS BIGINT) AS live_turns
FROM ranked WHERE rn = 1 AND op <> 'delete'
GROUP BY conv_id
"""


def q_cdc_derived_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cascading CDC through a PERSISTED derived table (``derived.py``):
    the replayed source's changes feed is folded into a second exactly-once
    SnapshotTable in two refreshes (epochs [0,1], then [2,3]) — resume
    cursor = the derived table's own committed-epoch log, affected-key
    recompute with bucket pruning, refresh-epoch LWW order. A third refresh
    must report "caught up" (the exactly-once handoff), asserted inline.
    The oracle is the INDEPENDENT from-scratch recompute of the rollup over
    the globally LWW-reduced changelog, so the driver's hash proves the
    split incremental maintenance ≡ one-shot recompute."""
    source = _replayed_table(spark, sf_dir, epoching="blocked")
    work = _workdir("cdc_derived_")
    derived = create_conversation_rollup(spark, os.path.join(work, "rollup"))
    refresh_rollup(source, derived, to_epoch=1)
    refresh_rollup(source, derived)
    if refresh_rollup(source, derived) is not None:
        raise AssertionError("refresh after catch-up must return None")
    return derived.read().select(
        "conv_id", "live_turns", "total_chars", "last_ts", "max_lsn"
    )


_SQL_CDC_DERIVED_ROLLUP = f"""
WITH {_SQL_CHANGES},
  ranked AS (
    SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                 ORDER BY ts DESC, lsn DESC) AS rn
    FROM changes
  )
SELECT conv_id,
       CAST(count(*) AS BIGINT)                       AS live_turns,
       CAST(sum(coalesce(length(text), 0)) AS BIGINT) AS total_chars,
       max(ts)                                        AS last_ts,
       CAST(max(lsn) AS BIGINT)                       AS max_lsn
FROM ranked WHERE rn = 1 AND op <> 'delete'
GROUP BY conv_id
"""


def q_cdc_derived_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GENERIC derived-table machinery (``refresh_derived``) under a
    second aggregate: a latest-turn serving index (per conversation, the
    live row with the highest turn_idx — the point-lookup artifact a chat
    frontend reads). Maintained in two incremental refreshes off the same
    replayed source as ``cdc_derived_rollup``; the oracle is DuckDB's
    independent arg_max over the globally LWW-reduced changelog."""
    source = _replayed_table(spark, sf_dir, epoching="blocked")
    work = _workdir("cdc_dindex_")
    index = create_conversation_index(spark, os.path.join(work, "index"))
    refresh_derived(source, index, index_state, to_epoch=2)
    refresh_derived(source, index, index_state)
    return index.read().select(
        "conv_id", "last_turn_idx", "last_role", "last_text"
    )


_SQL_CDC_DERIVED_INDEX = f"""
WITH {_SQL_CHANGES},
  ranked AS (
    SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                 ORDER BY ts DESC, lsn DESC) AS rn
    FROM changes
  )
SELECT conv_id,
       CAST(max(turn_idx) AS INTEGER) AS last_turn_idx,
       arg_max(role, turn_idx)        AS last_role,
       arg_max(text, turn_idx)        AS last_text
FROM ranked WHERE rn = 1 AND op <> 'delete'
GROUP BY conv_id
"""


def q_cdc_dedup_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup indexing over the CDC stream — the join of the
    engine's two halves: the same generic derived-table machinery that
    maintains the rollup (``refresh_derived``) maintains a MinHash-LSH
    index over the replayed conversations (``lsh_index_state``: ordered
    turn assembly → word-3-gram shingles → 8 minhashes → 4 band bucket
    keys, all map-side past one hash aggregate). Two incremental refreshes
    (epochs [0,1], then the rest) fold conversation EDITS into updated
    index rows at O(changed conversations) — a 100 TB corpus under churn
    never re-shingles itself; candidate pairs then come from equi-joining
    the index's band columns, never an all-pairs pass. The oracle is the
    INDEPENDENT from-scratch recompute (DuckDB: LWW reduction → ordered
    string_agg per conversation → shingle/minhash/band chain in the exact
    md5 parity form of the batch ``dedup_minhash_lsh`` entry), so the
    driver hash proves incremental index maintenance ≡ batch indexing."""
    source = _replayed_table(spark, sf_dir, epoching="blocked")
    work = _workdir("cdc_lshidx_")
    idx = create_dedup_index(spark, os.path.join(work, "lshidx"))
    refresh_derived(source, idx, lsh_index_state, to_epoch=1)
    refresh_derived(source, idx, lsh_index_state)
    if refresh_derived(source, idx, lsh_index_state) is not None:
        raise AssertionError("refresh after catch-up must return None")
    return idx.read().select(
        "conv_id", "n_shingles", "band_0", "band_1", "band_2", "band_3"
    )


# NOTE: numeric literals (8 hashes, // 2 banding) mirror queries._N_HASHES /
# _BAND_R — the same constants lsh_index_state imports, and the same CTE
# shape as queries._SQL_BANDSIG_KEPT (keyed by conv_id instead of doc_id,
# over the LWW-reduced conversation documents instead of the documents table)
_SQL_CDC_DEDUP_INDEX = f"""
WITH {_SQL_CHANGES},
  ranked AS (
    SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                 ORDER BY ts DESC, lsn DESC) AS rn
    FROM changes
  ),
  docs AS (
    SELECT conv_id, string_agg(text, ' ' ORDER BY turn_idx) AS text
    FROM ranked WHERE rn = 1 AND op <> 'delete'
    GROUP BY conv_id
  ),
  toks AS (
    SELECT conv_id,
           unnest(string_split(trim(text), ' ')) AS tok,
           generate_subscripts(string_split(trim(text), ' '), 1) AS pos
    FROM docs
  ),
  shingles AS (
    SELECT DISTINCT a.conv_id, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
    FROM toks a
    JOIN toks b ON b.conv_id = a.conv_id AND b.pos = a.pos + 1
    JOIN toks c ON c.conv_id = a.conv_id AND c.pos = a.pos + 2
  ),
  hashed AS (
    SELECT conv_id, j, md5(CAST(j AS VARCHAR) || ':' || shingle) AS h
    FROM shingles, (SELECT unnest(range(0, 8)) AS j)
  ),
  sig AS (SELECT conv_id, j, min(h) AS minhash FROM hashed GROUP BY conv_id, j),
  bands AS (
    SELECT conv_id, CAST(j // 2 AS INT) AS band,
           string_agg(CAST(j AS VARCHAR) || ':' || minhash, '|' ORDER BY j) AS bandkey
    FROM sig GROUP BY 1, 2
  ),
  counts AS (
    SELECT conv_id, CAST(count(*) AS BIGINT) AS n_shingles
    FROM shingles GROUP BY conv_id
  )
SELECT d.conv_id,
       COALESCE(c.n_shingles, 0) AS n_shingles,
       max(CASE WHEN b.band = 0 THEN b.bandkey END) AS band_0,
       max(CASE WHEN b.band = 1 THEN b.bandkey END) AS band_1,
       max(CASE WHEN b.band = 2 THEN b.bandkey END) AS band_2,
       max(CASE WHEN b.band = 3 THEN b.bandkey END) AS band_3
FROM docs d
LEFT JOIN counts c ON c.conv_id = d.conv_id
LEFT JOIN bands b ON b.conv_id = d.conv_id
GROUP BY d.conv_id, c.n_shingles
"""


#: constraint set the ``cdc_constraints`` entry registers (kept in lockstep
#: with the literals in ``_SQL_CDC_CONSTRAINTS``)
_CONSTRAINT_SET = [
    ("no_turn7", "turn_idx <> 7", "drop"),
    ("has_tool", "tool IS NOT NULL", "warn"),
]
_CONSTRAINED_CACHE: dict[str, tuple[str, dict]] = {}


def q_cdc_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK constraints / expectations enforced at the MERGE boundary
    (``SnapshotTable.add_constraint`` — the Delta ``ADD CONSTRAINT`` / DLT
    expectations analog; the reference's nearest relative is its
    discard-pattern filter, ParseTagname.java discardPatterns). The same
    block-epoched changelog as ``cdc_cdf_typed`` replays into a FRESH table
    carrying one drop-mode and one warn-mode constraint; enforcement sees
    each epoch's LWW-collapsed winners (what ``apply_changes`` submits), so
    the oracle ranks per (key, epoch) first, counts violations over the
    non-delete winners, drop-filters them, and re-ranks globally for the
    final state. Violation flags ride the merge write job as map-side
    conditional sums (zero extra passes); delete rows are exempt.

    Output: one row per constraint with its summed violation count, plus
    final-state proof columns — ``state_rows`` differs from the
    unconstrained replay's count (drop-mode removed winners) and
    ``state_null_tool`` is nonzero (warn-mode rows WERE applied).
    """
    ck = os.path.normpath(sf_dir)
    if _cache_lookup(_CONSTRAINED_CACHE, ck) is None:
        work = _workdir("cdc_constr_")
        table = SnapshotTable.create(
            spark,
            os.path.join(work, "t"),
            TRANSCRIPT_SCHEMA,
            n_buckets=8,
            mode="mor",
        )
        for name, expr, mode in _CONSTRAINT_SET:
            table.add_constraint(name, expr, mode=mode)
        changes = _events_changelog(spark, sf_dir)
        epoch_of = F.pmod(F.floor(F.col("lsn") / F.lit(8)), F.lit(_N_EPOCHS))
        totals = {name: 0 for name, _, _ in _CONSTRAINT_SET}
        for e in range(_N_EPOCHS):
            st = apply_changes(table, changes.filter(epoch_of == e), epoch_id=e)
            for name, n in (st.violations or {}).items():
                totals[name] += n
        _CONSTRAINED_CACHE[ck] = (table.path, totals)
    table_path, totals = _CONSTRAINED_CACHE[ck]
    table = SnapshotTable(spark, table_path)
    state = table.read().agg(
        F.count(F.lit(1)).alias("state_rows"),
        F.sum(F.col("tool").isNull().cast("long")).alias("state_null_tool"),
    )
    counts = spark.createDataFrame(
        [
            (name, mode, totals[name])
            for name, _, mode in _CONSTRAINT_SET
        ],
        "constraint_name string, mode string, violations long",
    )
    return counts.crossJoin(F.broadcast(state))


_SQL_CDC_CONSTRAINTS = f"""
WITH {_SQL_CHANGES_BLOCKED},
  ranked AS (
    SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx, epoch
                                 ORDER BY ts DESC, lsn DESC) AS rn
    FROM changes
  ),
  w AS (SELECT * FROM ranked WHERE rn = 1),
  kept AS (
    SELECT * FROM w WHERE op = 'delete' OR (turn_idx <> 7) IS NOT FALSE
  ),
  final_ranked AS (
    SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                 ORDER BY ts DESC, lsn DESC) AS rn2
    FROM kept
  ),
  state AS (SELECT * FROM final_ranked WHERE rn2 = 1 AND op <> 'delete'),
  s AS (SELECT CAST(count(*) AS BIGINT) AS state_rows,
               CAST(count(*) FILTER (WHERE tool IS NULL) AS BIGINT)
                 AS state_null_tool
        FROM state),
  v AS (
    SELECT 'no_turn7' AS constraint_name, 'drop' AS mode,
           CAST(count(*) FILTER (WHERE op <> 'delete'
                                 AND (turn_idx <> 7) IS FALSE) AS BIGINT)
             AS violations
    FROM w
    UNION ALL
    SELECT 'has_tool', 'warn',
           CAST(count(*) FILTER (WHERE op <> 'delete'
                                 AND (tool IS NOT NULL) IS FALSE) AS BIGINT)
    FROM w
  )
SELECT v.constraint_name, v.mode, v.violations, s.state_rows, s.state_null_tool
FROM v CROSS JOIN s
"""


_DELETE_WHERE_CACHE: dict[str, str] = {}


def q_cdc_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate delete + late-data semantics end-to-end
    (``SnapshotTable.delete_where`` — the Delta ``DELETE FROM … WHERE``
    analog; the reference has no ad-hoc delete at all). The block-epoched
    changelog replays, then ``delete_where("turn_idx IN (6, 7)")``
    tombstones the matching live rows with their OWN order tuples, then
    one more epoch delivers the two late-data cases the op's contract is
    about: every deleted turn-7 row RE-DELIVERED VERBATIM (stale — the
    equal-order tombstone must keep winning, which exercises the MoR read
    collapse's tombstone tiebreak) and every deleted turn-6 row re-sent
    with ts + 1 hour and new text (genuinely newer — must resurrect,
    Delta's delete-then-upsert behavior).

    Output: the final live state. The oracle derives it declaratively:
    winners with turn_idx ∉ {6, 7} unchanged, turn 6 resurrected with the
    new text, turn 7 absent.
    """
    ck = os.path.normpath(sf_dir)
    if _cache_lookup(_DELETE_WHERE_CACHE, ck) is None:
        work = _workdir("cdc_delw_")
        table = SnapshotTable.create(
            spark,
            os.path.join(work, "t"),
            TRANSCRIPT_SCHEMA,
            n_buckets=8,
            mode="mor",
        )
        changes = _events_changelog(spark, sf_dir)
        epoch_of = F.pmod(F.floor(F.col("lsn") / F.lit(8)), F.lit(_N_EPOCHS))
        for e in range(_N_EPOCHS):
            apply_changes(table, changes.filter(epoch_of == e), epoch_id=e)
        table.delete_where("turn_idx IN (6, 7)")
        winners = collapse_lww(changes).filter(F.col("op") != "delete")
        stale = winners.filter(F.col("turn_idx") == 7)
        resurrect = (
            winners.filter(F.col("turn_idx") == 6)
            .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR"))
            .withColumn("text", F.lit("resurrected"))
        )
        apply_changes(
            table, stale.unionByName(resurrect), epoch_id=_N_EPOCHS
        )
        _DELETE_WHERE_CACHE[ck] = table.path
    table = SnapshotTable(spark, _DELETE_WHERE_CACHE[ck])
    return table.read().select("conv_id", "turn_idx", "lsn", "text")


_SQL_CDC_DELETE_WHERE = f"""
WITH {_SQL_CHANGES_BLOCKED},
  ranked AS (
    SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                 ORDER BY ts DESC, lsn DESC) AS rn
    FROM changes
  ),
  live AS (SELECT * FROM ranked WHERE rn = 1 AND op <> 'delete')
SELECT conv_id, CAST(turn_idx AS INTEGER) AS turn_idx,
       CAST(lsn AS BIGINT) AS lsn, text
FROM live WHERE turn_idx NOT IN (6, 7)
UNION ALL
SELECT conv_id, CAST(turn_idx AS INTEGER), CAST(lsn AS BIGINT),
       'resurrected'
FROM live WHERE turn_idx = 6
"""


_GENERATED_CACHE: dict[str, str] = {}


def q_cdc_generated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated columns (``SnapshotTable.add_generated_column`` — the
    Delta ``GENERATED ALWAYS AS`` analog; the reference's nearest relative
    is its constant-column injection, SURVEY §2 P3). A FRESH table
    declares two generation expressions (``text_len = length(text)``,
    ``ts_day = CAST(ts AS DATE)``) before any data, then replays the
    block-epoched changelog: every batch omits the columns, so the merge
    boundary computes them map-side (a ``withColumn`` fused into the write
    stage — zero extra passes) while the auto-registered ``gen_*``
    fail-mode constraints (``col <=> (expr)``, NULL-safe — validation
    cannot be dodged with NULLs) ride the write job's Observation.

    Output: the final replayed state's key/order columns plus both
    generated columns — the oracle recomputes them independently from the
    LWW winners, proving the per-epoch generation over collapsed batches
    composes to exactly the declarative definition over final state.
    """
    ck = os.path.normpath(sf_dir)
    if _cache_lookup(_GENERATED_CACHE, ck) is None:
        work = _workdir("cdc_gen_")
        table = SnapshotTable.create(
            spark,
            os.path.join(work, "t"),
            TRANSCRIPT_SCHEMA,
            n_buckets=8,
            mode="mor",
        )
        table.add_generated_column("text_len", "length(text)")
        table.add_generated_column("ts_day", "CAST(ts AS DATE)")
        changes = _events_changelog(spark, sf_dir)
        epoch_of = F.pmod(F.floor(F.col("lsn") / F.lit(8)), F.lit(_N_EPOCHS))
        for e in range(_N_EPOCHS):
            apply_changes(table, changes.filter(epoch_of == e), epoch_id=e)
        _GENERATED_CACHE[ck] = table.path
    table = SnapshotTable(spark, _GENERATED_CACHE[ck])
    return table.read().select(
        "conv_id", "turn_idx", "lsn", "text_len", "ts_day"
    )


_SQL_CDC_GENERATED = f"""
WITH {_SQL_CHANGES_BLOCKED},
  ranked AS (
    SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                 ORDER BY ts DESC, lsn DESC) AS rn
    FROM changes
  )
SELECT conv_id, CAST(turn_idx AS INTEGER) AS turn_idx,
       CAST(lsn AS BIGINT) AS lsn,
       CAST(length(text) AS INTEGER) AS text_len,
       CAST(ts AS DATE) AS ts_day
FROM ranked
WHERE rn = 1 AND op <> 'delete'
"""


_QUARANTINE_CACHE: dict[str, str] = {}


def q_cdc_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarantine-mode CHECK constraints (``add_constraint(mode=
    "quarantine")`` — the DLT "quarantine bad records" pattern; see
    ``cdc_constraints`` for the fail/drop/warn trio). The block-epoched
    changelog replays into a FRESH table where ``turn_idx = 7`` rows are
    quarantined instead of dropped: filtered from the committed state AND
    persisted to the table's quarantine store, registered in the same
    atomic snapshot commit as the epoch (exactly-once: a replayed epoch
    never double-quarantines). Enforcement sees each epoch's LWW-collapsed
    winners, so the quarantined set is exactly the non-delete per-(key,
    epoch) winners violating the expression — which is what the oracle
    derives independently.

    Output: the quarantined rows themselves (strong content check — the
    engine side reads them back via ``read_quarantine()``), each carrying
    the firing constraint name and the final committed-state row count
    (identical to ``cdc_constraints``' drop-mode state: quarantine ≡ drop
    for table content, + the persisted side store).
    """
    ck = os.path.normpath(sf_dir)
    if _cache_lookup(_QUARANTINE_CACHE, ck) is None:
        work = _workdir("cdc_quar_")
        table = SnapshotTable.create(
            spark,
            os.path.join(work, "t"),
            TRANSCRIPT_SCHEMA,
            n_buckets=8,
            mode="mor",
        )
        table.add_constraint("no_turn7", "turn_idx <> 7", mode="quarantine")
        changes = _events_changelog(spark, sf_dir)
        epoch_of = F.pmod(F.floor(F.col("lsn") / F.lit(8)), F.lit(_N_EPOCHS))
        for e in range(_N_EPOCHS):
            apply_changes(table, changes.filter(epoch_of == e), epoch_id=e)
        _QUARANTINE_CACHE[ck] = table.path
    table = SnapshotTable(spark, _QUARANTINE_CACHE[ck])
    state = table.read().agg(F.count(F.lit(1)).alias("state_rows"))
    quarantined = table.read_quarantine().select(
        "conv_id",
        "turn_idx",
        "lsn",
        F.element_at("_violated", 1).alias("violated"),
    )
    return quarantined.crossJoin(F.broadcast(state))


_SQL_CDC_QUARANTINE = f"""
WITH {_SQL_CHANGES_BLOCKED},
  ranked AS (
    SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx, epoch
                                 ORDER BY ts DESC, lsn DESC) AS rn
    FROM changes
  ),
  w AS (SELECT * FROM ranked WHERE rn = 1),
  kept AS (
    SELECT * FROM w WHERE op = 'delete' OR (turn_idx <> 7) IS NOT FALSE
  ),
  final_ranked AS (
    SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                 ORDER BY ts DESC, lsn DESC) AS rn2
    FROM kept
  ),
  s AS (SELECT CAST(count(*) AS BIGINT) AS state_rows
        FROM final_ranked WHERE rn2 = 1 AND op <> 'delete')
SELECT w.conv_id, CAST(w.turn_idx AS INTEGER) AS turn_idx,
       CAST(w.lsn AS BIGINT) AS lsn, 'no_turn7' AS violated, s.state_rows
FROM w CROSS JOIN s
WHERE w.op <> 'delete' AND (w.turn_idx <> 7) IS FALSE
"""


def q_debezium_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debezium envelope ingestion end-to-end: render each ``events`` row as
    a Debezium JSON envelope (``before``/``after``/``op``/``ts_ms``/
    ``source.lsn`` — exactly what a Kafka Connect binlog tail delivers),
    parse it back with the REAL parser (:func:`~..sources.debezium.
    parse_debezium`, pure ``from_json`` column exprs), and LWW-collapse to
    the final per-key state. The oracle derives the same state directly from
    the ``events`` columns — so the driver hash-proves
    ``collapse(parse(render(x))) == collapse(derive(x))``: the parser's op
    mapping (c/u/r→update, d→delete with before-image key), its integer
    epoch-millis→timestamp conversion, and null-payload deletes are all
    value-checked.

    ~1/7 of envelopes are rendered MALFORMED (truncated JSON) and must be
    dropped by the parser; the oracle applies the same modulus filter.
    """
    from .sources.debezium import parse_debezium

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    is_del = F.col("event_type") == "error"
    is_create = F.pmod(F.col("event_id"), F.lit(3)) == 0
    s_off = F.col("event_id") + _hash_off(F.col("event_id"))
    payload = F.struct(
        F.concat(F.lit("conv-"), F.col("user_id").cast("string")).alias("conv_id"),
        F.pmod(F.col("event_id"), F.lit(8)).cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.concat(F.col("props"), F.lit(" v"), F.col("event_id").cast("string")).alias(
            "text"
        ),
        F.when(F.col("event_type") == "click", F.lit("search")).alias("tool"),
    )
    env = F.to_json(
        F.struct(
            F.when(is_del, payload).alias("before"),
            F.when(~is_del, payload).alias("after"),
            F.when(is_del, F.lit("d"))
            .when(is_create, F.lit("c"))
            .otherwise(F.lit("u"))
            .alias("op"),
            ((F.lit(1704067200) + s_off) * 1000).cast("long").alias("ts_ms"),
            F.struct(F.col("event_id").alias("lsn")).alias("source"),
        )
    )
    # every 7th envelope arrives truncated (mid-stream producer crash) and
    # must be DROPPED by the parser, not crash it or leak a null-key row
    env = F.when(
        F.pmod(F.col("event_id"), F.lit(7)) == 3, F.substring(env, 1, 10)
    ).otherwise(env)
    payload_schema = T.StructType([f for f in TRANSCRIPT_SCHEMA.fields if f.name not in ("ts", "lsn")])
    changes = parse_debezium(
        ev.select(env.alias("value")), "value", payload_schema
    )
    winners = collapse_lww(changes, keys=("conv_id", "turn_idx"), order=("ts", "lsn"))
    return winners.filter(F.col("op") != "delete").select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        "lsn",
    )


# direct derivation of the same final state (no JSON roundtrip): ts_ms/1000
# epoch seconds == 2024-01-01 UTC base + offset, identical to the envelope's
_SQL_DEBEZIUM_PARSE = """
WITH changes AS (
    SELECT event_id AS lsn,
           CASE WHEN event_type = 'error' THEN 'delete' ELSE 'update' END AS op,
           'conv-' || CAST(user_id AS VARCHAR) AS conv_id,
           CAST(event_id % 8 AS INT) AS turn_idx,
           CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS role,
           CASE WHEN event_type = 'error' THEN NULL
                ELSE props || ' v' || CAST(event_id AS VARCHAR) END AS text,
           CASE WHEN event_type = 'error' THEN NULL
                WHEN event_type = 'click' THEN 'search' END AS tool,
           TIMESTAMP '2024-01-01 00:00:00'
             + to_seconds(event_id
                          + ((event_id % 100000) * (2654435761 % 100000)) % 100000)
               AS ts
    FROM events
    WHERE event_id % 7 <> 3  -- truncated envelopes the parser must drop
), ranked AS (
    SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                 ORDER BY ts DESC, lsn DESC) AS rn
    FROM changes
)
SELECT conv_id, turn_idx, role, text, tool,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str, lsn
FROM ranked
WHERE rn = 1 AND op <> 'delete'
"""


def q_cdc_replay_state_cow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same replay through the copy-on-write storage path (reconciling
    per-bucket rewrite; exact applied/skipped lineage verdicts) — checked
    against the IDENTICAL oracle as the merge-on-read flagship, so the
    driver proves CoW ≡ MoR on final state."""
    table = _replayed_table(spark, sf_dir, mode="cow")
    df = table.read()
    return df.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        "lsn",
        "metadata",
    )


def q_cdc_wap_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full replay where EVERY epoch goes through write-audit-publish
    (Iceberg WAP analog): merge staged as an invisible snapshot, audited on
    the staged bytes via ``read_staged`` (NULL-key probe), then published
    atomically with ``publish_staged``. Checked against the IDENTICAL
    oracle as the direct-apply flagship — proving the stage/publish split
    changes NOTHING about exactly-once, cross-epoch LWW, tombstoned
    deletes, or additive schema evolution.

    Reference parity: the reference validates row counts AFTER the data is
    live (ProcessTagData.java post-commit checks); WAP is the
    scale-correct ordering — audit BEFORE visibility, abort without a
    trace at 10^10 events where a bad epoch cannot be quickly deleted.
    """
    table = _replayed_table(spark, sf_dir, protocol="wap")
    df = table.read()
    return df.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        "lsn",
        "metadata",
    )


def q_cdc_branch_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full replay through the BRANCH workflow: epoch 0 lands on the main
    table, epochs 1–3 (including the mid-stream schema evolution) land on a
    zero-copy ``clone()`` fork, and ``fast_forward(fork)`` publishes the
    whole branch back as one atomic commit. Checked against the IDENTICAL
    oracle as the direct-apply flagship — the branch boundary changes
    NOTHING about exactly-once, cross-epoch LWW (the interleaved epoching
    delivers late data for epoch-0 keys on the fork), tombstoned deletes,
    or additive schema evolution carried across the adoption.
    """
    table = _replayed_table(spark, sf_dir, protocol="branch")
    df = table.read()
    return df.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        "lsn",
        "metadata",
    )


#: second participant of the multi-table transaction replay: a projection
#: index of the transcripts table (who spoke each turn), maintained
#: atomically WITH the facts — the consistent-pair analog of the reference's
#: register-then-upload cycle (Connector.java:136-146), which has no
#: atomicity between the two writes.
_TURNS_INDEX_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), nullable=False),
        T.StructField("turn_idx", T.IntegerType(), nullable=False),
        T.StructField("role", T.StringType(), nullable=True),
        T.StructField("ts", T.TimestampNTZType(), nullable=False),
        T.StructField("lsn", T.LongType(), nullable=False),
    ]
)

_TXN_CACHE: dict[str, tuple[str, str]] = {}


def _txn_replayed_tables(
    spark: SparkSession, sf_dir: str
) -> tuple[SnapshotTable, SnapshotTable]:
    """Replay the flagship changelog into TWO tables — the transcripts
    facts and a (conv_id, turn_idx) → role projection index — with every
    epoch committed through ONE :class:`MultiTableTransaction` (stage both
    merges invisibly, hard-link the decision record, publish both). Either
    table alone equals its single-table replay; the pair is additionally
    epoch-atomic: no crash point leaves an epoch visible in one table and
    not (eventually) the other."""
    from .lake.txn import MultiTableTransaction

    key = os.path.normpath(sf_dir)
    cached = _cache_lookup(_TXN_CACHE, key)
    if cached is not None:
        pa, pb = cached
        return SnapshotTable(spark, pa), SnapshotTable(spark, pb)
    work = _workdir("cdc_txn_")
    facts = SnapshotTable.create(
        spark,
        os.path.join(work, "transcripts"),
        TRANSCRIPT_SCHEMA,
        n_buckets=8,
        mode="mor",
    )
    index = SnapshotTable.create(
        spark,
        os.path.join(work, "turns_index"),
        _TURNS_INDEX_SCHEMA,
        n_buckets=8,
        mode="mor",
    )
    changes = _events_changelog(spark, sf_dir)
    epoch_of = F.pmod(F.col("lsn"), F.lit(_N_EPOCHS))
    log_dir = os.path.join(work, "txnlog")
    for e in range(_N_EPOCHS):
        batch = changes.filter(epoch_of == e)
        if e >= _EVOLVE_EPOCH:
            batch = batch.withColumn(
                "metadata",
                F.when(
                    F.col("op") != "delete",
                    F.concat(
                        F.lit('{"rev": '), F.col("lsn").cast("string"), F.lit("}")
                    ),
                ),
            )
        st_f = apply_changes(facts, batch, epoch_id=e, stage=True)
        st_i = apply_changes(
            index,
            batch.select("lsn", "op", "conv_id", "turn_idx", "role", "ts"),
            epoch_id=e,
            stage=True,
        )
        txn = MultiTableTransaction(log_dir, txn_id=f"epoch-{e}")
        txn.enlist(facts, st_f.staged_ref)
        txn.enlist(index, st_i.staged_ref)
        txn.commit()
    _TXN_CACHE[key] = (facts.path, index.path)
    return facts, index


def q_cdc_txn_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full replay where every epoch commits ATOMICALLY across two tables
    (``lake/txn.py`` presumed-abort 2PC over staged snapshots): the
    transcripts facts and a turn-role projection index. The returned rows
    take ``role`` from the INDEX table and everything else from the facts
    via an inner join on the merge key — so the identical flagship oracle
    only matches if the two tables hold exactly the same keys with the
    same per-key LWW winners (a lost/duplicated epoch on either side shows
    up as a row-count or hash mismatch).

    Reference parity: the register-devices-then-upload-rows cycle
    (Connector.java:136-146) with the atomicity the reference lacks.
    """
    facts, index = _txn_replayed_tables(spark, sf_dir)
    f = facts.read().alias("f")
    i = index.read().alias("i")
    return f.join(i, on=["conv_id", "turn_idx"], how="inner").select(
        F.col("conv_id"),
        F.col("turn_idx"),
        F.col("i.role").alias("role"),
        F.col("f.text").alias("text"),
        F.col("f.tool").alias("tool"),
        F.date_format(F.col("f.ts"), "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        F.col("f.lsn").alias("lsn"),
        F.col("f.metadata").alias("metadata"),
    )


def q_cdc_replica_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table replication: the flagship table's changes feed folded
    into a second table via ``replication.sync_replica`` — one exactly-once
    catch-up merge covering all four source epochs (cursor = the replica's
    committed-epoch watermark). Checked against the IDENTICAL oracle as the
    source table itself: a synced replica is value-equal to its source,
    deletes (tombstone watermarks) and the mid-stream schema evolution
    included. The lake-native form of cross-region replication — no second
    trip through the binlog.
    """
    source = _replayed_table(spark, sf_dir)
    work = _workdir("cdc_replica_")
    from .replication import sync_replica

    replica = SnapshotTable.create(
        spark,
        os.path.join(work, "replica"),
        TRANSCRIPT_SCHEMA,
        n_buckets=8,
        mode="mor",
    )
    sync_replica(source, replica)
    df = replica.read()
    return df.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        "lsn",
        "metadata",
    )


def q_cdc_bootstrap_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-phase bulk load + binlog-tail replay ≡ full replay.

    The CDC deployment pattern every 100 TB table starts with (Debezium's
    snapshot→streaming handoff; the reference's CSV bulk extract before
    delta monitoring, SURVEY.md §2 S5): reduce the changelog PREFIX to a
    one-row-per-key state, load it via ``SnapshotTable.bootstrap`` (direct
    bucket-layout write — ONE exchange, no MERGE machinery, delete winners
    persisted as tombstones carrying their LWW watermark), then MERGE the
    remaining epochs normally. Epoching is BLOCKED (``lsn // 8 % 4``) so
    the tail genuinely overlaps the dump: it delivers both stale events
    (older than the bootstrapped winner — must lose against rows/tombstones
    from the dump) and newer ones (must win). The oracle is the plain
    full-log LWW reduction — bootstrap+tail must be indistinguishable from
    having replayed everything.
    """
    key = f"{os.path.normpath(sf_dir)}::bootstrap"
    if _cache_lookup(_REPLAY_CACHE, key) is None:
        work = _workdir("cdc_boot_")
        path = os.path.join(work, "transcripts")
        tbl = SnapshotTable.create(
            spark, path, TRANSCRIPT_SCHEMA, n_buckets=8, mode="mor"
        )
        changes = _events_changelog(spark, sf_dir)
        epoch_of = F.pmod(F.floor(F.col("lsn") / F.lit(8)), F.lit(_N_EPOCHS))
        tbl.bootstrap(
            collapse_lww(changes.filter(epoch_of < 2)), epoch_id="bootstrap-0"
        )
        for e in range(2, _N_EPOCHS):
            apply_changes(
                tbl,
                changes.filter(epoch_of == e),
                epoch_id=e,
                auto_compact_files=8,
            )
        _REPLAY_CACHE[key] = path
    tbl = SnapshotTable(spark, _REPLAY_CACHE[key])
    return tbl.read().select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        "lsn",
    )


_SQL_CDC_BOOTSTRAP_TAIL = f"""
WITH {_SQL_CHANGES},
  ranked AS (
    SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                 ORDER BY ts DESC, lsn DESC) AS rn
    FROM changes
  )
SELECT conv_id, turn_idx, role, text, tool,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str, lsn
FROM ranked
WHERE rn = 1 AND op <> 'delete'
"""


def q_cdc_routed_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fan-out routing sink: the changelog replayed through
    ``route_changes`` into TWO destination tables (first-match-wins regex on
    ``conv_id``, the reference's monthly-routing/entity-fan-out analog), one
    storage mode each — then the union of both tables' live states.

    Exactly-once is PER TABLE under the shared epoch id (each destination
    keeps its own commit log). The oracle is the plain full-log LWW
    reduction with the same anchored-regex route expression: fanning out and
    unioning back must lose/duplicate nothing and route every key to exactly
    one table.
    """
    from .pipeline import route_changes

    patterns = [("single", r"conv-\d"), ("multi", r"conv-\d{2,}")]
    key = f"{os.path.normpath(sf_dir)}::routed"
    if _cache_lookup(_REPLAY_CACHE, key) is None:
        work = _workdir("cdc_routed_")
        routes = {
            "single": SnapshotTable.create(
                spark, os.path.join(work, "single"), TRANSCRIPT_SCHEMA,
                n_buckets=8, mode="mor",
            ),
            "multi": SnapshotTable.create(
                spark, os.path.join(work, "multi"), TRANSCRIPT_SCHEMA,
                n_buckets=8, mode="cow",
            ),
        }
        changes = _events_changelog(spark, sf_dir)
        epoch_of = F.pmod(F.col("lsn"), F.lit(_N_EPOCHS))
        for e in range(_N_EPOCHS):
            batch = changes.filter(epoch_of == e)
            if e >= _EVOLVE_EPOCH:
                batch = batch.withColumn(
                    "metadata",
                    F.when(
                        F.col("op") != "delete",
                        F.concat(
                            F.lit('{"rev": '), F.col("lsn").cast("string"), F.lit("}")
                        ),
                    ),
                )
            route_changes(
                routes, batch, epoch_id=e, patterns=patterns,
                auto_compact_files=8,
            )
        _REPLAY_CACHE[key] = work
    work = _REPLAY_CACHE[key]
    parts = []
    for route in ("single", "multi"):
        tbl = SnapshotTable(spark, os.path.join(work, route))
        parts.append(tbl.read().withColumn("route", F.lit(route)))
    df = parts[0].unionByName(parts[1], allowMissingColumns=True)
    return df.select(
        "route",
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        "lsn",
        "metadata",
    )


_SQL_CDC_ROUTED_UNION = f"""
WITH {_SQL_CHANGES},
  ranked AS (
    SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                 ORDER BY ts DESC, lsn DESC) AS rn
    FROM changes
  )
SELECT CASE WHEN regexp_full_match(conv_id, 'conv-\\d') THEN 'single'
            ELSE 'multi' END AS route,
       conv_id, turn_idx, role, text, tool,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str, lsn,
       CASE WHEN epoch >= {_EVOLVE_EPOCH}
            THEN '{{"rev": ' || CAST(lsn AS VARCHAR) || '}}' END AS metadata
FROM ranked
WHERE rn = 1 AND op <> 'delete'
"""


def q_cdc_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-epoch lineage rollup (north_rule resumability evidence) — CoW
    mode, whose MERGE reconciles against existing state and therefore
    records EXACT applied/skipped/deleted verdicts per epoch.

    applied/skipped/deleted come from the engine's per-bucket lineage rows
    (written by the MERGE's CollectMetrics pass); the oracle recomputes them
    from first principles: per (key, epoch) collapse to the epoch winner,
    then a prefix-max scan over epochs decides whether each epoch's winner
    beat the state left by all earlier epochs (including tombstones).
    """
    table = _replayed_table(spark, sf_dir, mode="cow")
    return (
        table.lineage()
        .groupBy("epoch_id")
        .agg(
            F.sum("applied").alias("applied"),
            F.sum("skipped").alias("skipped"),
            F.sum("deleted").alias("deleted"),
            F.max("max_lsn").alias("max_lsn"),
        )
    )


def q_cdc_lineage_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-epoch lineage rollup for the merge-on-read flagship mode.

    MoR appends each epoch's collapsed delta without reading existing state,
    so its lineage records the per-BATCH winner counts: ``applied`` = batch
    winners that are not deletes, ``deleted`` = batch winners that are
    deletes, ``skipped`` = 0 (stale losers are resolved lazily by the
    bucket-local read collapse). The oracle recomputes exactly that from the
    raw changelog: per (key, epoch) winner by max (ts, lsn) ord, counted per
    epoch by op.
    """
    table = _replayed_table(spark, sf_dir, mode="mor")
    return (
        table.lineage()
        .groupBy("epoch_id")
        .agg(
            F.sum("applied").alias("applied"),
            F.sum("skipped").alias("skipped"),
            F.sum("deleted").alias("deleted"),
            F.max("max_lsn").alias("max_lsn"),
        )
    )


# ord packs (ts, lsn) into one comparable BIGINT: ord = s_off * 10^7 + lsn
# is collision-free and orders exactly like the lexicographic (ts, lsn)
# comparison for ANY lsn < 10^7 regardless of s_off magnitude (the invariant
# to re-check on scale bumps is the lsn bound, not the offset's).
_SQL_CDC_LINEAGE = f"""
WITH {_SQL_CHANGES},
  o AS (
    SELECT *, {_SQL_ORD} AS ord
    FROM changes
  ),
  w AS (
    SELECT conv_id, turn_idx, epoch,
           max(ord) AS word,
           arg_max(op, ord) AS wop,
           max(lsn) AS max_lsn_key
    FROM o GROUP BY 1, 2, 3
  ),
  p AS (
    SELECT *,
           max(word) OVER (PARTITION BY conv_id, turn_idx ORDER BY epoch
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS prev
    FROM w
  )
SELECT epoch AS epoch_id,
       CAST(sum(CASE WHEN (prev IS NULL OR word > prev) AND wop <> 'delete'
                     THEN 1 ELSE 0 END) AS BIGINT) AS applied,
       CAST(sum(CASE WHEN prev IS NOT NULL AND word < prev
                     THEN 1 ELSE 0 END) AS BIGINT) AS skipped,
       CAST(sum(CASE WHEN (prev IS NULL OR word > prev) AND wop = 'delete'
                     THEN 1 ELSE 0 END) AS BIGINT) AS deleted,
       max(max_lsn_key) AS max_lsn
FROM p GROUP BY epoch
"""

# MoR lineage: per-batch winner counts (no reconciliation at write time, so
# no skip verdicts — see q_cdc_lineage_mor docstring).
_SQL_CDC_LINEAGE_MOR = f"""
WITH {_SQL_CHANGES},
  o AS (
    SELECT *, {_SQL_ORD} AS ord
    FROM changes
  ),
  w AS (
    SELECT conv_id, turn_idx, epoch,
           arg_max(op, ord) AS wop,
           max(lsn) AS max_lsn_key
    FROM o GROUP BY 1, 2, 3
  )
SELECT epoch AS epoch_id,
       CAST(sum(CASE WHEN wop <> 'delete' THEN 1 ELSE 0 END) AS BIGINT) AS applied,
       CAST(0 AS BIGINT) AS skipped,
       CAST(sum(CASE WHEN wop = 'delete' THEN 1 ELSE 0 END) AS BIGINT) AS deleted,
       max(max_lsn_key) AS max_lsn
FROM w GROUP BY epoch
"""


def q_conversations_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persistent conversations dimension table as maintained BY the
    pipeline during replay (first-seen MERGE inside ``apply_changes`` — the
    reference's JCS cache + device registration, Connector.java:127-132,
    Device.java:112-195). First-writer-wins across the interleaved epochs
    must converge to the global min-lsn sighting per conversation, with the
    deterministic UUIDv3 identity and regex classification."""
    # the registry lives next to the replayed transcripts table; derive the
    # path from the table handle rather than re-building the cache key (the
    # key format grew an ::epoching suffix once and this lookup missed it)
    table = _replayed_table(spark, sf_dir)
    registry = SnapshotTable(
        spark, os.path.join(os.path.dirname(table.path), "conversations")
    )
    df = registry.read()
    return df.select(
        "conv_id",
        "conv_uuid",
        "conv_type",
        F.date_format("first_seen_ts", "yyyy-MM-dd HH:mm:ss").alias("first_seen_ts"),
        "first_seen_lsn",
        "first_seen_epoch",
        "LEVEL_0",
        "LEVEL_1",
        "LEVEL_2",
        "LEVEL_3",
    )


_SQL_UUID_VARIANT_CASE = (
    "CASE WHEN substring(h,17,1) IN ('0','4','8','c') THEN '8' "
    "WHEN substring(h,17,1) IN ('1','5','9','d') THEN '9' "
    "WHEN substring(h,17,1) IN ('2','6','a','e') THEN 'a' "
    "ELSE 'b' END"
)

# classification mirror of pipeline.DEFAULT_CONV_PATTERNS/_DISCARD: first
# full-anchored match wins; the discard pattern forces the default.
_SQL_CONV_TYPE = """
CASE WHEN regexp_full_match(conv_id, '^(?:conv-\\d)$')
          AND NOT regexp_full_match(conv_id, '^(?:conv-13)$') THEN 'single'
     WHEN regexp_full_match(conv_id, '^(?:conv-\\d\\d)$')
          AND NOT regexp_full_match(conv_id, '^(?:conv-13)$') THEN 'double'
     WHEN regexp_full_match(conv_id, '^(?:conv-\\d{3,})$')
          AND NOT regexp_full_match(conv_id, '^(?:conv-13)$') THEN 'triple'
     ELSE 'other' END
"""

_SQL_CONVERSATIONS_REGISTRY = f"""
WITH {_SQL_CHANGES},
  f AS (
    SELECT conv_id,
           min(lsn) AS first_seen_lsn,
           arg_min(ts, lsn) AS first_ts
    FROM changes GROUP BY conv_id
  ),
  h AS (SELECT *, md5('conv:' || conv_id) AS h FROM f)
SELECT conv_id,
       substring(h,1,8) || '-' || substring(h,9,4) || '-3' || substring(h,14,3)
       || '-' || {_SQL_UUID_VARIANT_CASE} || substring(h,18,3) || '-' || substring(h,21,12)
         AS conv_uuid,
       {_SQL_CONV_TYPE} AS conv_type,
       strftime(first_ts, '%Y-%m-%d %H:%M:%S') AS first_seen_ts,
       first_seen_lsn,
       CAST(first_seen_lsn % 4 AS BIGINT) AS first_seen_epoch,
       list_extract(string_split(conv_id, '-'), 1) AS LEVEL_0,
       list_extract(string_split(conv_id, '-'), 2) AS LEVEL_1,
       list_extract(string_split(conv_id, '-'), 3) AS LEVEL_2,
       list_extract(string_split(conv_id, '-'), 4) AS LEVEL_3
FROM h
"""


def q_conversation_progress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``applyInPandasWithState`` per-conversation progress operator
    (streaming/stateful.py) run over the events-derived changelog. In batch
    mode the state store degenerates to a per-group fold, so the cumulative
    row per conversation equals a plain GROUP BY — which is exactly the
    DuckDB oracle. The streaming-specific behavior (state across
    micro-batches, checkpoint restart) is covered by tests/test_stateful.py.
    """
    from .streaming.stateful import conversation_progress

    changes = _events_changelog(spark, sf_dir)
    prog = conversation_progress(changes)
    return prog.select(
        "conv_id",
        "n_events",
        "n_deletes",
        "max_turn",
        "max_lsn",
        F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts_str"),
    )


_SQL_CONVERSATION_PROGRESS = f"""
WITH {_SQL_CHANGES}
SELECT conv_id,
       count(*) AS n_events,
       CAST(sum(CASE WHEN op = 'delete' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes,
       CAST(max(turn_idx) AS INT) AS max_turn,
       max(lsn) AS max_lsn,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts_str
FROM changes GROUP BY conv_id
"""


#: bound on the driver-side epoch loop in the idempotent-replay evidence
#: query: replaying one epoch per committed epoch is O(epochs) driver round
#: trips, fine at the derived changelog's 4 epochs but not at a long-lived
#: table's thousands.  Above the cap, a deterministic first/last sample is
#: replayed instead (the exactly-once property is per-epoch, so any subset
#: is valid evidence; first/last covers both the oldest commit-log entry
#: and the most recent watermark fold).
_IDEMP_MAX_EPOCHS = 16


def _check_idempotent_cap(n_epochs: int, cap: int) -> None:
    """The ``cdc_idempotent_replay`` oracle enumerates every one of the
    derived changelog's ``n_epochs`` epochs while the query replays at most
    ``cap``; above the cap the two would disagree silently, so fail loudly
    instead (checked at import)."""
    if n_epochs > cap:
        raise ValueError(
            f"_N_EPOCHS={n_epochs} exceeds _IDEMP_MAX_EPOCHS={cap}: the "
            f"idempotent-replay oracle enumerates all epochs but the query "
            f"samples only {cap}; raise the cap or sample the oracle too"
        )


_check_idempotent_cap(_N_EPOCHS, _IDEMP_MAX_EPOCHS)


def _idempotent_epoch_sample(
    epochs: list[int], cap: int = _IDEMP_MAX_EPOCHS
) -> list[int]:
    """All epochs when ``len <= cap``; else the lowest ``cap//2`` and the
    highest ``cap - cap//2`` (deterministic, order-preserving)."""
    if len(epochs) <= cap:
        return list(epochs)
    lo = cap // 2
    return list(epochs[:lo]) + list(epochs[len(epochs) - (cap - lo) :])


def q_cdc_idempotent_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay committed epochs a second time; report that all were
    no-ops (exactly-once evidence as a driver-checkable result — the
    reference re-inserts on crash-replay, DBConnector.java:219-332; this
    engine's epoch commit log makes the replay structurally empty).

    The replay loop is bounded by ``_IDEMP_MAX_EPOCHS`` (first/last
    deterministic sample above the cap); the derived changelog commits
    exactly ``_N_EPOCHS`` = 4 epochs, so the DuckDB oracle — which
    enumerates all four — is exact at every sf."""
    table = _replayed_table(spark, sf_dir)
    changes = _events_changelog(spark, sf_dir)
    rows = []
    epochs = sorted(int(x) for x in table.committed_epochs)
    for e in _idempotent_epoch_sample(epochs):
        batch = changes.filter(F.pmod(F.col("lsn"), F.lit(_N_EPOCHS)) == e)
        st = apply_changes(table, batch, epoch_id=e)
        rows.append((e, bool(st.was_noop), int(st.applied)))
    schema = T.StructType(
        [
            T.StructField("epoch_id", T.LongType()),
            T.StructField("was_noop", T.BooleanType()),
            T.StructField("applied", T.LongType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


_SQL_CDC_IDEMPOTENT_REPLAY = """
SELECT CAST(event_id % 4 AS BIGINT) AS epoch_id,
       true AS was_noop,
       CAST(0 AS BIGINT) AS applied
FROM events
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# multimodal: opaque binary payloads + typed metadata via mapInPandas.
# The decode step (image/audio libs absent in this container) is a
# deterministic fake clearly marked below; the Spark-side plumbing — binary
# column, Arrow batches, schema, partition-preserving mapInPandas — is real.
# ---------------------------------------------------------------------------

_MM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def q_multimodal_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload pipeline: encode text as an opaque blob, ship through
    Arrow-batched ``mapInPandas``, extract typed metadata.

    STUB NOTE: ``_fake_decode`` stands in for a real image/audio decoder
    (PIL/librosa not installed); it derives deterministic pseudo-dimensions
    from the payload length so the full distributed plumbing is testable.
    """
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    payload = d.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )

    def _fake_decode(batches):
        for pdf in batches:
            n = pdf["payload"].map(len)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n.astype("int64"),
                    "media_type": "text/fake-image",
                    "width": (n % 640).astype("int32"),
                    "height": (n % 480).astype("int32"),
                }
            )

    return payload.mapInPandas(_fake_decode, schema=_MM_SCHEMA)


_SQL_MULTIMODAL_STUB = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       'text/fake-image' AS media_type,
       CAST(octet_length(encode(text)) % 640 AS INT) AS width,
       CAST(octet_length(encode(text)) % 480 AS INT) AS height
FROM documents
"""



# ---------------------------------------------------------------- watermark
#: event-time watermark delay for the streaming rollup (minutes)
_WM_DELAY_MIN = 45
#: the stream is split into this many arrival-ordered micro-batch files
_WM_BATCHES = 8
#: every event_id divisible by this arrives ~3 batches late (a genuine
#: straggler, dropped at the documented bound); everyone else gets a bounded
#: +-48-position arrival jitter ("late within the watermark": aggregated)
_WM_STRAGGLER_MOD = 211
#: hard driver-memory bound for the oracle harness: at most this many event
#: timestamps are collected to build the micro-batch files.  Above it, a
#: deterministic ``event_id % stride == 0`` sample (mirrored verbatim in the
#: DuckDB oracle, so the comparison stays exact) thins the stream first.
#: 1M timestamps ~= 16 MB on the driver; sf0.01/sf0.1 (10k/100k events) are
#: untouched (stride == 1).
_WM_MAX_DRIVER_ROWS = 1_000_000

_WM_CACHE: dict[str, pd.DataFrame] = {}

#: DuckDB mirror of :func:`_wm_jitter`; keep the two in lockstep.
_SQL_WM_JITTER = "((event_id % 97) * (2654435761 % 97)) % 97 - 48"


def _wm_jitter(event_id):
    """Arrival jitter in [-48, 48] of the watermark stream's event
    ``event_id``: ``(event_id * 2654435761) % 97 - 48`` with event_id
    reduced mod 97 BEFORE the multiply, so the product stays below 97^2 —
    no int64 wrap (or ANSI overflow error) however large event_id grows,
    and the same value for every non-negative event_id."""
    return ((event_id % 97) * F.lit(2654435761 % 97)) % 97 - 48


def q_stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time windowed rollup through a REAL Structured-Streaming
    ``withWatermark`` pipeline (SURVEY.md T3 as an explicit streaming
    primitive; previously argued only via cross-epoch LWW semantics).

    The ``events`` table is re-serialized as an arrival-ordered stream of
    ``_WM_BATCHES`` parquet micro-batch files (arrival = ``event_id``
    displaced by a bounded multiplicative-hash jitter, plus deterministic
    stragglers delivered ~3 batches late), then tailed with
    ``readStream ... withWatermark(ts, 45 min)`` into an append-mode 1-hour
    ``window()`` count. Two far-future sentinel batches push the final
    watermark past every real window so the append sink flushes ALL of them
    (their own window stays open and is never emitted, so they vanish from
    the result by construction).

    Late-drop bound (measured on this Spark version and pinned by
    ``tests/test_watermark_semantics.py``): a row delivered in batch ``b``
    is DROPPED iff its window end <= (max event time through batch
    ``b - 2``) - delay — i.e. a window accepts late rows until the end of
    the first batch whose in-effect watermark passes the window end (state
    eviction), and rows for an evicted window are discarded. The DuckDB
    oracle (``_SQL_STREAM_WATERMARK``) replicates exactly this rule, so the
    comparison verifies Spark's actual watermark semantics value-by-value.

    Determinism guard: one file per micro-batch is enforced via
    ``maxFilesPerTrigger=1`` and VERIFIED from the query progress (batch
    count + per-batch row counts); a mismatched run is retried once and
    then fails loudly rather than hash-diverging. The global row_number
    used to assign arrival ranks is harness scaffolding (single-partition
    sort over one narrow column), not part of the measured operator.
    """
    key = os.path.normpath(sf_dir)
    if key not in _WM_CACHE:
        _WM_CACHE[key] = _run_watermark_stream(spark, sf_dir)
    pdf = _WM_CACHE[key]
    return spark.createDataFrame(pdf, "wstart timestamp_ntz, n_events long")


def _run_watermark_stream(spark: SparkSession, sf_dir: str) -> pd.DataFrame:
    import math
    import uuid as _uuid

    import pyarrow as _pa
    import pyarrow.parquet as _pq
    from pyspark.sql import Window as _W

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id", "ts")
    total = ev.count()
    # Driver-memory bound: the harness materializes every (sampled) event
    # timestamp once to lay out deterministic micro-batch files.  Above
    # _WM_MAX_DRIVER_ROWS, thin with a deterministic event_id stride that the
    # DuckDB oracle applies verbatim — the compared semantics stay exact.
    stride = max(1, math.ceil(total / _WM_MAX_DRIVER_ROWS))
    if stride > 1:
        ev = ev.filter(F.col("event_id") % stride == 0)
        n = ev.count()
    else:
        n = total
    rows_per = math.ceil(n / _WM_BATCHES)
    jitter = _wm_jitter(F.col("event_id"))
    straggle = F.lit(3 * rows_per)
    arrival = F.col("event_id") + F.when(
        F.col("event_id") % _WM_STRAGGLER_MOD == 0, straggle
    ).otherwise(jitter)
    w = _W.orderBy(arrival, "event_id")
    arr = (
        ev.withColumn("_rn", F.row_number().over(w) - 1)
        .withColumn("_batch", F.floor(F.col("_rn") / rows_per))
    )
    batches = (
        arr.groupBy("_batch")
        .agg(F.collect_list("ts").alias("tss"))
        .orderBy("_batch")
        .collect()
    )
    max_ts = arr.agg(F.max("ts")).first()[0]

    # Single-pass file construction: the micro-batch layout is a pure
    # function of the input, so build it exactly once; only the streaming
    # query (whose file-source trigger boundaries are the nondeterministic
    # part) gets a bounded retry below.
    src = _workdir("wm_stream_")
    expect = []
    i = 0
    for r in batches:
        tss = sorted(r["tss"])
        f = os.path.join(src, f"{i:05d}.parquet")
        _pq.write_table(_pa.table({"ts": _pa.array(tss, _pa.timestamp("us"))}), f)
        os.utime(f, (1_000_000 + i, 1_000_000 + i))
        expect.append(len(tss))
        i += 1
    from datetime import timedelta as _td

    for s_ts in (max_ts + _td(days=30), max_ts + _td(days=30, seconds=1)):
        f = os.path.join(src, f"{i:05d}.parquet")
        _pq.write_table(_pa.table({"ts": _pa.array([s_ts], _pa.timestamp("us"))}), f)
        os.utime(f, (1_000_000 + i, 1_000_000 + i))
        expect.append(1)
        i += 1

    for attempt in range(2):
        qn = f"wm_{_uuid.uuid4().hex[:8]}"
        prev_tz = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        try:
            q = (
                spark.readStream.schema(
                    T.StructType([T.StructField("ts", T.TimestampNTZType())])
                )
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
                .withColumn("ts", F.col("ts").cast("timestamp"))
                .withWatermark("ts", f"{_WM_DELAY_MIN} minutes")
                .groupBy(F.window("ts", "1 hour").alias("w"))
                .agg(F.count(F.lit(1)).alias("n_events"))
                .writeStream.format("memory")
                .queryName(qn)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(600):
                q.stop()
                raise TimeoutError("watermark stream did not drain in 600 s")
            got = [
                p["numInputRows"]
                for p in q.recentProgress
                if p["numInputRows"] > 0
            ]
            out = (
                spark.table(qn)
                .select(
                    F.col("w.start").cast("timestamp_ntz").alias("wstart"),
                    F.col("n_events").cast("long").alias("n_events"),
                )
                .orderBy("wstart")
                .toPandas()
            )
        finally:
            spark.conf.set("spark.sql.session.timeZone", prev_tz)
        if got == expect:
            return out
        if attempt == 1:
            raise RuntimeError(
                f"file-per-batch structure violated (got {got}, expected "
                f"{expect}); the watermark oracle is only valid under "
                f"one-file-per-micro-batch delivery"
            )
    raise AssertionError("unreachable")


_SQL_STREAM_WATERMARK = f"""
WITH stride AS (
  -- mirrors the harness's driver-memory bound: above _WM_MAX_DRIVER_ROWS
  -- events, both sides thin with the same deterministic event_id stride
  SELECT greatest(1, CAST(ceil(count(*) / {_WM_MAX_DRIVER_ROWS}.0) AS BIGINT))
         AS k
  FROM events
), src AS (
  SELECT event_id, ts FROM events
  WHERE event_id % (SELECT k FROM stride) = 0
), params AS (
  SELECT CAST(ceil(count(*) / {_WM_BATCHES}.0) AS BIGINT) AS rows_per FROM src
), arr AS (
  SELECT ts,
         row_number() OVER (
           ORDER BY event_id + CASE WHEN event_id % {_WM_STRAGGLER_MOD} = 0
                                    THEN 3 * (SELECT rows_per FROM params)
                                    ELSE {_SQL_WM_JITTER}
                               END,
                    event_id
         ) - 1 AS rn
  FROM src
), b AS (
  SELECT ts,
         rn // (SELECT rows_per FROM params) AS batch,
         time_bucket(INTERVAL '1 hour', ts) AS wstart
  FROM arr
), bmax AS (
  SELECT batch, max(ts) AS mx FROM b GROUP BY batch
), wmk AS (
  -- watermark in effect for the PREVIOUS batch: state for a window is
  -- evicted at the end of the first batch whose watermark passes the
  -- window end, so a row in batch b is dropped iff its window end <=
  -- (max event time through batch b-2) - delay (measured Spark semantics,
  -- pinned by tests/test_watermark_semantics.py)
  SELECT batch,
         max(mx) OVER (
           ORDER BY batch ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING
         ) - INTERVAL '{_WM_DELAY_MIN} minutes' AS wm_prev
  FROM bmax
), kept AS (
  SELECT b.wstart
  FROM b JOIN wmk USING (batch)
  WHERE wmk.wm_prev IS NULL OR b.wstart + INTERVAL '1 hour' > wmk.wm_prev
)
SELECT wstart, count(*) AS n_events
FROM kept
GROUP BY wstart
"""


def q_cdc_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-correct enrichment via :func:`~..operators.asof.asof_join`:
    every transcript turn joined to the conversation's status AS OF that
    turn's event time. Dimension rows are the conversation-level changes
    (``turn_idx = 0``, one deterministic row per (conv_id, instant) via
    max-lsn tiebreak); facts are all other upserts. The reference's
    cache-lookup enrichment (TagData.java getSourceMap) always serves the
    CURRENT dim row — the as-of form is what makes replays/backfills
    reproduce a live run's enrichment exactly.

    The Spark plan is the union-sort formulation (one shuffle per side,
    no range explosion — see ``operators/asof.py``); the oracle is
    DuckDB's native ``ASOF LEFT JOIN``, an entirely independent
    implementation of the same semantics, so the driver hash-check proves
    the union-window trick against a reference ASOF engine.
    """
    ch = _events_changelog(spark, sf_dir).filter(F.col("op") != "delete")
    dims = ch.filter(F.col("turn_idx") == 0).select(
        "conv_id",
        "ts",
        F.col("role").alias("conv_status"),
        F.col("lsn").alias("status_lsn"),
    )
    facts = ch.filter(F.col("turn_idx") != 0).select(
        "conv_id", "turn_idx", "lsn", "ts", "text"
    )
    from .operators.asof import asof_join

    out = asof_join(
        facts, dims, on=["conv_id"], left_on="ts", right_on="ts",
        right_tiebreak="status_lsn",
    )
    return out.select(
        "conv_id",
        "turn_idx",
        "lsn",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        "text",
        "conv_status",
        "status_lsn",
    )


_SQL_CDC_ASOF_ENRICH = f"""
WITH {_SQL_CHANGES},
  dims AS (
    SELECT conv_id, ts,
           arg_max(role, lsn) AS conv_status,
           max(lsn) AS status_lsn
    FROM changes WHERE op <> 'delete' AND turn_idx = 0
    GROUP BY conv_id, ts
  ),
  facts AS (
    SELECT conv_id, turn_idx, lsn, ts, text
    FROM changes WHERE op <> 'delete' AND turn_idx <> 0
  )
SELECT f.conv_id, f.turn_idx, f.lsn,
       strftime(f.ts, '%Y-%m-%d %H:%M:%S') AS ts_str, f.text,
       d.conv_status, d.status_lsn
FROM facts f
ASOF LEFT JOIN dims d ON f.conv_id = d.conv_id AND f.ts >= d.ts
"""


def q_cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension history from the change log via
    :func:`~..operators.scd2.scd2_history`: every upsert opens a version
    (``valid_from``), the next change of ANY type — including a delete —
    closes it (``valid_to``), and ``is_current`` marks keys whose last
    change was an upsert. The reference loses history on every update
    (DBConnector.java overwrite paths); a binlog-tailing engine keeps it
    in one windowed pass. One shuffle, per-key sort — SCD2's minimal
    distributed cost at any scale.
    """
    from .operators.scd2 import scd2_history

    ch = _events_changelog(spark, sf_dir).select(
        "conv_id", "turn_idx", "lsn", "role", "text", "ts", "op"
    )
    hist = scd2_history(ch, keys=("conv_id", "turn_idx"), order=("ts", "lsn"))
    return hist.select(
        "conv_id",
        "turn_idx",
        "lsn",
        "role",
        "text",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        "is_current",
    )


_SQL_CDC_SCD2_HISTORY = f"""
WITH {_SQL_CHANGES},
  v AS (
    SELECT *,
           lead(ts) OVER (PARTITION BY conv_id, turn_idx
                          ORDER BY ts, lsn) AS valid_to_ts
    FROM changes
  )
SELECT conv_id, turn_idx, lsn, role, text,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
       strftime(valid_to_ts, '%Y-%m-%d %H:%M:%S') AS valid_to,
       (valid_to_ts IS NULL) AS is_current
FROM v WHERE op <> 'delete'
"""


def q_cdc_sparse_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-column (sparse) update collapse via
    :func:`~..operators.lww.collapse_lww_columnar`: a binlog tail whose
    updates carry only changed columns (Debezium without full row images,
    JSON-patch upstreams). Row-level LWW would clobber absent columns
    with NULL; the columnar collapse resolves EACH column to its own last
    writer — all with declarative ``max_by`` aggregates (map-side
    combine, one shuffle, skew behavior identical to the flagship
    collapse).

    The sparse log is derived deterministically: change ``lsn % 3 = 0``
    carries both columns, ``1`` only ``role``, ``2`` only ``text``. The
    oracle mirrors per-column resolution with NULL-filtered ``arg_max``
    over the packed (ts, lsn) order (collision-free for lsn < 10^7, the
    documented packing invariant).
    """
    ch = _events_changelog(spark, sf_dir).filter(F.col("op") != "delete")
    m = F.pmod(F.col("lsn"), F.lit(3))
    sparse = ch.select(
        "conv_id",
        "turn_idx",
        "lsn",
        "ts",
        F.when(m != 2, F.col("role")).alias("role"),
        F.when(m != 1, F.col("text")).alias("text"),
    )
    from .operators.lww import collapse_lww_columnar

    out = collapse_lww_columnar(
        sparse,
        keys=("conv_id", "turn_idx"),
        order=("ts", "lsn"),
        value_cols=("role", "text"),
        track_last_of=("lsn",),
        count_alias="n_changes",
    )
    return out.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        F.col("lsn").alias("last_lsn"),
        "n_changes",
    )


_SQL_CDC_SPARSE_STATE = f"""
WITH {_SQL_CHANGES},
  sparse AS (
    SELECT conv_id, turn_idx, lsn,
           {_SQL_ORD} AS ord,
           CASE WHEN lsn % 3 <> 2 THEN role END AS role,
           CASE WHEN lsn % 3 <> 1 THEN text END AS text
    FROM changes WHERE op <> 'delete'
  )
SELECT conv_id, turn_idx,
       arg_max(role, CASE WHEN role IS NOT NULL THEN ord END) AS role,
       arg_max(text, CASE WHEN text IS NOT NULL THEN ord END) AS text,
       arg_max(lsn, ord) AS last_lsn,
       CAST(count(*) AS BIGINT) AS n_changes
FROM sparse
GROUP BY conv_id, turn_idx
"""


def q_conversation_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-example assembly off the replayed table: each live
    conversation rendered as ONE ordered multi-turn document (the
    BASELINE.json input_hint invariant — per-turn text under STABLE TURN
    ORDERING — turned into the output artifact an LLM training pipeline
    actually consumes). Reads the engine's MoR state, so the driver's
    hash-check proves the whole chain: replay → bucket-local LWW read →
    per-conversation ordered concatenation.

    Shape: ``collect_list`` of (turn_idx, line) structs + ``array_sort``
    + ``array_join`` — one partial-aggregatable shuffle keyed by conv_id;
    per-group memory is one conversation's text (bounded by context
    length), never a window over the corpus. No per-row Python.
    """
    table = _replayed_table(spark, sf_dir)
    df = table.read().select("conv_id", "turn_idx", "role", "text")
    line = F.concat(
        F.col("turn_idx").cast("string"),
        F.lit(":"),
        F.col("role"),
        F.lit(": "),
        F.col("text"),
    )
    packed = df.select(
        "conv_id", F.struct(F.col("turn_idx"), line.alias("line")).alias("t")
    )
    return (
        packed.groupBy("conv_id")
        .agg(F.array_sort(F.collect_list("t")).alias("turns"))
        .select(
            "conv_id",
            F.array_join(
                F.transform("turns", lambda t: t["line"]), "\n"
            ).alias("convo"),
            F.size("turns").cast("long").alias("n_turns"),
        )
        .withColumn("n_chars", F.length("convo").cast("long"))
    )


_SQL_CONVERSATION_ASSEMBLY = f"""
WITH {_SQL_CHANGES},
  ranked AS (
    SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                 ORDER BY ts DESC, lsn DESC) AS rn
    FROM changes
  ),
  state AS (SELECT * FROM ranked WHERE rn = 1 AND op <> 'delete'),
  asm AS (
    SELECT conv_id,
           string_agg(CAST(turn_idx AS VARCHAR) || ':' || role || ': ' || text,
                      chr(10) ORDER BY turn_idx) AS convo,
           CAST(count(*) AS BIGINT) AS n_turns
    FROM state GROUP BY conv_id
  )
SELECT conv_id, convo, n_turns, CAST(length(convo) AS BIGINT) AS n_chars
FROM asm
"""


#: name -> (spark_fn, oracle_sql | None)
def q_cdc_cdf_preimages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL Delta-CDF row vocabulary off the replayed MoR table:
    ``read_changes(change_types=True, preimages=True)`` — updates emit an
    ``update_preimage`` / ``update_postimage`` pair and deletes carry the
    deleted row's PRE-delete image (Delta emits exactly these rows; the
    compact typed feed is ``cdc_cdf_typed``). The prior image rides the
    SAME per-key prefix-max window the classification already runs (the
    struct widens from the order tuple to the full row — no second window,
    no extra exchange). The oracle mirrors it in ANSI SQL with
    ``arg_max(struct_pack(...), ord)`` over the preceding-epochs frame, so
    the driver hash-checks every pre-image's payload against the prior
    winner DuckDB computes independently."""
    table = _replayed_table(spark, sf_dir, epoching="blocked")
    df = table.read_changes(
        since_epoch=0, change_types=True, preimages=True
    )
    return df.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        "lsn",
        "metadata",
        F.col("_change_type").alias("change_type"),
        F.col("_change_epoch").alias("change_epoch"),
    )


_SQL_CDC_CDF_PREIMAGES = f"""
WITH {_SQL_CHANGES_BLOCKED},
  ranked AS (
    SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx, epoch
                                 ORDER BY ts DESC, lsn DESC) AS rn
    FROM changes
  ),
  w AS (
    SELECT *, {_SQL_ORD} AS ord
    FROM ranked WHERE rn = 1
  ),
  p AS (
    SELECT *,
           max(ord) OVER prior AS prev_ord,
           max(CASE WHEN op = 'delete' THEN ord END) OVER prior AS prev_del_ord,
           arg_max(struct_pack(role := role, text := text, tool := tool,
                               ts := ts, lsn := lsn, epoch := epoch),
                   ord) OVER prior AS pimg
    FROM w
    WINDOW prior AS (PARTITION BY conv_id, turn_idx ORDER BY epoch
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
  ),
  t AS (
    SELECT *,
           CASE WHEN prev_ord IS NOT NULL AND ord < prev_ord THEN NULL
                WHEN op = 'delete'
                     AND (prev_ord IS NULL OR prev_del_ord = prev_ord)
                     THEN NULL
                WHEN op = 'delete' THEN 'delete'
                WHEN prev_ord IS NULL OR prev_del_ord = prev_ord THEN 'insert'
                ELSE 'update' END AS change_type
    FROM p
  ),
  typed AS (SELECT * FROM t WHERE change_type IS NOT NULL)
SELECT conv_id, turn_idx, role, text, tool,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str, lsn,
       CASE WHEN epoch >= {_EVOLVE_EPOCH}
            THEN '{{"rev": ' || CAST(lsn AS VARCHAR) || '}}' END AS metadata,
       CASE WHEN change_type = 'update' THEN 'update_postimage'
            ELSE 'insert' END AS change_type,
       epoch AS change_epoch
FROM typed WHERE change_type IN ('insert', 'update')
UNION ALL
SELECT conv_id, turn_idx, pimg.role, pimg.text, pimg.tool,
       strftime(pimg.ts, '%Y-%m-%d %H:%M:%S') AS ts_str, pimg.lsn,
       CASE WHEN pimg.epoch >= {_EVOLVE_EPOCH}
            THEN '{{"rev": ' || CAST(pimg.lsn AS VARCHAR) || '}}' END AS metadata,
       CASE WHEN change_type = 'update' THEN 'update_preimage'
            ELSE 'delete' END AS change_type,
       epoch AS change_epoch
FROM typed WHERE change_type IN ('update', 'delete')
"""


_UPDATE_WHERE_CACHE: dict[str, str] = {}


def q_cdc_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate update + late-data semantics end-to-end
    (``SnapshotTable.update_where`` — the Delta ``UPDATE … SET … WHERE``
    analog; the backfill/repair op the reference has no word for). The
    block-epoched changelog replays, then ``update_where("turn_idx = 5",
    {"text": upper(text)})`` patches the matching live rows KEEPING their
    own order tuples (merge-on-read: a ``_patched`` layer append, zero
    bucket rewrite), then one more epoch delivers the two late-data cases
    the op's contract is about: every patched row with odd lsn
    RE-DELIVERED VERBATIM (stale — the equal-order patch must keep
    winning, which exercises the read collapse's patch-layer tiebreak)
    and every patched row with even lsn re-sent with ts + 1 hour and new
    text (genuinely newer — must overwrite the patch, Delta's
    UPDATE-then-upsert behavior).

    Output: the final live state. The oracle derives it declaratively:
    turn 5 winners with odd lsn uppercased, with even lsn 'overwrote',
    everything else unchanged.
    """
    ck = os.path.normpath(sf_dir)
    if _cache_lookup(_UPDATE_WHERE_CACHE, ck) is None:
        work = _workdir("cdc_updw_")
        table = SnapshotTable.create(
            spark,
            os.path.join(work, "t"),
            TRANSCRIPT_SCHEMA,
            n_buckets=8,
            mode="mor",
        )
        changes = _events_changelog(spark, sf_dir)
        epoch_of = F.pmod(F.floor(F.col("lsn") / F.lit(8)), F.lit(_N_EPOCHS))
        for e in range(_N_EPOCHS):
            apply_changes(table, changes.filter(epoch_of == e), epoch_id=e)
        table.update_where("turn_idx = 5", {"text": "upper(text)"})
        winners = collapse_lww(changes).filter(F.col("op") != "delete")
        t5 = winners.filter(F.col("turn_idx") == 5)
        stale = t5.filter(F.col("lsn") % 2 == 1)
        overwrite = (
            t5.filter(F.col("lsn") % 2 == 0)
            .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR"))
            .withColumn("text", F.lit("overwrote"))
        )
        apply_changes(
            table, stale.unionByName(overwrite), epoch_id=_N_EPOCHS
        )
        _UPDATE_WHERE_CACHE[ck] = table.path
    table = SnapshotTable(spark, _UPDATE_WHERE_CACHE[ck])
    return table.read().select("conv_id", "turn_idx", "lsn", "text")


_SQL_CDC_UPDATE_WHERE = f"""
WITH {_SQL_CHANGES_BLOCKED},
  ranked AS (
    SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                 ORDER BY ts DESC, lsn DESC) AS rn
    FROM changes
  ),
  live AS (SELECT * FROM ranked WHERE rn = 1 AND op <> 'delete')
SELECT conv_id, CAST(turn_idx AS INTEGER) AS turn_idx,
       CAST(lsn AS BIGINT) AS lsn,
       CASE WHEN turn_idx = 5 AND lsn % 2 = 0 THEN 'overwrote'
            WHEN turn_idx = 5 THEN upper(text)
            ELSE text END AS text
FROM live
"""


def q_cdc_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-partitioned join of the replayed facts table with its
    CDC-maintained rollup (``operators/colocated.colocated_join``): both
    tables bucket on conv_id with the same bucket count, so every turn row
    joins its conversation's rollup INSIDE its own bucket task — zero
    Exchange on either side (plan regression-pinned in
    tests/test_colocated.py; at 100 TB this is the large × large join that
    broadcast cannot serve and a plain join would double-shuffle). The
    rollup side is maintained incrementally off the changes feed
    (``refresh_rollup``), so this entry proves the whole cascade: binlog
    replay → derived maintenance → exchange-free co-located read. Oracle:
    DuckDB recomputes the LWW final state AND the per-conversation
    aggregate from the raw changelog and joins them."""
    from .operators.colocated import colocated_join

    source = _replayed_table(spark, sf_dir, epoching="blocked")
    work = _workdir("cdc_spj_")
    rollup = create_conversation_rollup(spark, os.path.join(work, "rollup"))
    refresh_rollup(source, rollup)
    return colocated_join(
        source,
        rollup,
        on=["conv_id"],
        select_left=["turn_idx", "text"],
        select_right=["live_turns", "total_chars"],
        # grouped form (aligned LPT bucket grouping, 8 buckets -> <=4
        # SortMergeJoin branches) so the driver's hash check covers the
        # plan-size-bounded path a 4096-bucket deployment runs
        max_branches=4,
    )


_SQL_CDC_COLOCATED_JOIN = f"""
WITH {_SQL_CHANGES},
  ranked AS (
    SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                 ORDER BY ts DESC, lsn DESC) AS rn
    FROM changes
  ),
  final AS (
    SELECT conv_id, turn_idx, text FROM ranked
    WHERE rn = 1 AND op <> 'delete'
  ),
  rollup AS (
    SELECT conv_id,
           CAST(count(*) AS BIGINT)                       AS live_turns,
           CAST(sum(coalesce(length(text), 0)) AS BIGINT) AS total_chars
    FROM final GROUP BY conv_id
  )
SELECT f.conv_id, f.turn_idx, f.text, r.live_turns, r.total_chars
FROM final f JOIN rollup r USING (conv_id)
"""


CDC_QUERIES: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "cdc_replay_state": (q_cdc_replay_state, _SQL_CDC_REPLAY_STATE),
    "cdc_replay_state_cow": (q_cdc_replay_state_cow, _SQL_CDC_REPLAY_STATE),
    "cdc_projected_state": (q_cdc_projected_state, _SQL_CDC_PROJECTED_STATE),
    "cdc_wap_state": (q_cdc_wap_state, _SQL_CDC_REPLAY_STATE),
    "cdc_branch_state": (q_cdc_branch_state, _SQL_CDC_REPLAY_STATE),
    "cdc_txn_state": (q_cdc_txn_state, _SQL_CDC_REPLAY_STATE),
    "cdc_replica_state": (q_cdc_replica_state, _SQL_CDC_REPLAY_STATE),
    "cdc_bootstrap_tail": (q_cdc_bootstrap_tail, _SQL_CDC_BOOTSTRAP_TAIL),
    "cdc_routed_union": (q_cdc_routed_union, _SQL_CDC_ROUTED_UNION),
    "cdc_windowed_state": (q_cdc_windowed_state, _SQL_CDC_WINDOWED_STATE),
    "cdc_clustered_scan": (q_cdc_clustered_scan, _SQL_CDC_WINDOWED_STATE),
    "debezium_parse": (q_debezium_parse, _SQL_DEBEZIUM_PARSE),
    "cdc_changes_feed": (q_cdc_changes_feed, _SQL_CDC_CHANGES_FEED),
    "cdc_stream_feed": (q_cdc_stream_feed, _SQL_CDC_CHANGES_FEED),
    "cdc_cdf_typed": (q_cdc_cdf_typed, _SQL_CDC_CDF_TYPED),
    "cdc_ivm_rollup": (q_cdc_ivm_rollup, _SQL_CDC_IVM_ROLLUP),
    "cdc_derived_rollup": (q_cdc_derived_rollup, _SQL_CDC_DERIVED_ROLLUP),
    "cdc_derived_index": (q_cdc_derived_index, _SQL_CDC_DERIVED_INDEX),
    "cdc_dedup_index": (q_cdc_dedup_index, _SQL_CDC_DEDUP_INDEX),
    "cdc_constraints": (q_cdc_constraints, _SQL_CDC_CONSTRAINTS),
    "cdc_quarantine": (q_cdc_quarantine, _SQL_CDC_QUARANTINE),
    "cdc_generated": (q_cdc_generated, _SQL_CDC_GENERATED),
    "cdc_delete_where": (q_cdc_delete_where, _SQL_CDC_DELETE_WHERE),
    "cdc_lineage": (q_cdc_lineage, _SQL_CDC_LINEAGE),
    "cdc_lineage_mor": (q_cdc_lineage_mor, _SQL_CDC_LINEAGE_MOR),
    "conversations_registry": (q_conversations_registry, _SQL_CONVERSATIONS_REGISTRY),
    "conversation_progress": (q_conversation_progress, _SQL_CONVERSATION_PROGRESS),
    "cdc_idempotent_replay": (q_cdc_idempotent_replay, _SQL_CDC_IDEMPOTENT_REPLAY),
    "multimodal_stub": (q_multimodal_stub, _SQL_MULTIMODAL_STUB),
    "stream_watermark_rollup": (q_stream_watermark, _SQL_STREAM_WATERMARK),
    "cdc_asof_enrich": (q_cdc_asof_enrich, _SQL_CDC_ASOF_ENRICH),
    "cdc_scd2_history": (q_cdc_scd2_history, _SQL_CDC_SCD2_HISTORY),
    "cdc_sparse_state": (q_cdc_sparse_state, _SQL_CDC_SPARSE_STATE),
    "conversation_assembly": (q_conversation_assembly, _SQL_CONVERSATION_ASSEMBLY),
    "cdc_colocated_join": (q_cdc_colocated_join, _SQL_CDC_COLOCATED_JOIN),
    "cdc_update_where": (q_cdc_update_where, _SQL_CDC_UPDATE_WHERE),
    "cdc_cdf_preimages": (q_cdc_cdf_preimages, _SQL_CDC_CDF_PREIMAGES),
}
