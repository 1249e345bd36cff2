"""Canonical schemas for the transcript-CDC engine.

Shapes are fixed by ``/root/repo/BASELINE.json`` ``input_hint`` and
``FIXTURES.md``; the CDC envelope (``op``, ``lsn``) mirrors a binlog/WAL
record. The reference engine's analog is the hand-enumerated destination
column lists (reference DBHelper.java:101-129) and the dynamically discovered
source schema (reference DBConnector.java:170-184).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# A2. transcript_changes — binlog/WAL-style change log (engine source).
# Append-only; one row per mutation. lsn strictly increasing & unique;
# ts may arrive out of order; duplicates possible (at-least-once upstream).
# ---------------------------------------------------------------------------
CHANGE_SCHEMA = T.StructType(
    [
        T.StructField("lsn", T.LongType(), nullable=False),
        T.StructField("op", T.StringType(), nullable=False),  # insert|update|delete
        T.StructField("conv_id", T.StringType(), nullable=False),
        T.StructField("turn_idx", T.IntegerType(), nullable=False),
        T.StructField("role", T.StringType(), nullable=True),
        T.StructField("text", T.StringType(), nullable=True),
        T.StructField("tool", T.StringType(), nullable=True),
        T.StructField("ts", T.TimestampNTZType(), nullable=False),
    ]
)

# Additive-evolution column that appears mid-stream in the evolution fixture.
METADATA_FIELD = T.StructField("metadata", T.StringType(), nullable=True)

CHANGE_SCHEMA_EVOLVED = T.StructType(list(CHANGE_SCHEMA.fields) + [METADATA_FIELD])

# ---------------------------------------------------------------------------
# A1. transcripts — target lake table (MERGE key (conv_id, turn_idx); the
# analog of the reference's unique index (DEVICEID, RCV_TIMESTAMP_UTC),
# MonitorTable.java:70-76). ts/lsn of the last applied mutation are stored so
# cross-epoch LWW can be decided at MERGE time (SURVEY.md §7.5).
# ---------------------------------------------------------------------------
TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), nullable=False),
        T.StructField("turn_idx", T.IntegerType(), nullable=False),
        T.StructField("role", T.StringType(), nullable=True),
        T.StructField("text", T.StringType(), nullable=True),
        T.StructField("tool", T.StringType(), nullable=True),
        T.StructField("ts", T.TimestampNTZType(), nullable=False),
        T.StructField("lsn", T.LongType(), nullable=False),
    ]
)

# ---------------------------------------------------------------------------
# A3. conversations — entity/dimension registry (analog of the JCS tagpath
# cache + REST device registration, reference Connector.java:127-132,
# Device.java:112-195).
# ---------------------------------------------------------------------------
CONVERSATIONS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), nullable=False),
        T.StructField("conv_uuid", T.StringType(), nullable=False),
        T.StructField("conv_type", T.StringType(), nullable=True),
        T.StructField("first_seen_ts", T.TimestampNTZType(), nullable=True),
        T.StructField("first_seen_lsn", T.LongType(), nullable=True),
        T.StructField("first_seen_epoch", T.LongType(), nullable=True),
        # Dimension levels: one column per id path segment, sparse NULLs
        # beyond the id's depth — the reference registers each tagpath
        # segment as a dimension LEVEL_i on the device (Dimension.java:
        # 142-148; EntityType.java:111-118 caps at LEVEL_7).
        T.StructField("LEVEL_0", T.StringType(), nullable=True),
        T.StructField("LEVEL_1", T.StringType(), nullable=True),
        T.StructField("LEVEL_2", T.StringType(), nullable=True),
        T.StructField("LEVEL_3", T.StringType(), nullable=True),
        # LWW carrier for FIRST-writer-wins: the registry MERGE compares
        # order tuples with max-struct semantics, so storing -first_seen_lsn
        # makes the EARLIEST registration win and a re-registration of the
        # same or a later sighting lose — exactly the reference cache's
        # putSafe no-overwrite contract (TagData.java putSafe,
        # TagDataTest.java:179-188), while a genuinely earlier sighting
        # arriving late still corrects first_seen.
        T.StructField("neg_lsn", T.LongType(), nullable=True),
    ]
)

#: MERGE key / order for the conversations registry table.
REGISTRY_KEY = ("conv_id",)
REGISTRY_ORDER = ("neg_lsn",)

# ---------------------------------------------------------------------------
# A4. _lineage — per-epoch per-partition lineage (north_rule requirement;
# generalizes the reference's offset JSON metrics + 60s stats heartbeat,
# OffsetRecord.java:281-291, ConnectorStats.java:59-83). The on-disk Arrow
# twin, used by every writer and the reader, is
# lake/side_logs.LINEAGE_ARROW_SCHEMA; keep the two in lockstep.
# ---------------------------------------------------------------------------
LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("epoch_id", T.LongType(), nullable=False),
        # Full namespaced epoch key ("<checkpoint-ns>:<batch>" for streaming
        # lineages, the plain id otherwise): two different checkpoints both
        # count batches 0,1,2…, so epoch_id alone would conflate them.
        T.StructField("epoch_key", T.StringType(), nullable=True),
        T.StructField("partition_id", T.IntegerType(), nullable=False),
        T.StructField("applied", T.LongType(), nullable=False),
        T.StructField("skipped", T.LongType(), nullable=False),
        T.StructField("deleted", T.LongType(), nullable=False),
        T.StructField("max_lsn", T.LongType(), nullable=True),
        # Wall seconds for the epoch's merge (same value on every partition
        # row of the epoch) — makes throughput queryable, the reference's
        # per-cycle rate (DBConnector.java:235-238, StatsServer.java:77).
        T.StructField("wall_secs", T.DoubleType(), nullable=True),
        T.StructField("committed_ts", T.TimestampNTZType(), nullable=False),
    ]
)

# ---------------------------------------------------------------------------
# Per-epoch CHECK-constraint violation counts (the DLT expectations
# event-log analog): one row per (epoch, constraint), appended by the merge
# before the snapshot commit — at-least-once like lineage, deduped by the
# reader on (epoch_key, constraint). Arrow twin:
# lake/side_logs.METRICS_ARROW_SCHEMA.
# ---------------------------------------------------------------------------
CONSTRAINT_METRICS_SCHEMA = T.StructType(
    [
        T.StructField("epoch_id", T.LongType(), nullable=False),
        T.StructField("epoch_key", T.StringType(), nullable=False),
        T.StructField("constraint_name", T.StringType(), nullable=False),
        T.StructField("mode", T.StringType(), nullable=False),
        T.StructField("violations", T.LongType(), nullable=False),
        T.StructField("committed_ts", T.TimestampNTZType(), nullable=False),
    ]
)

#: Columns that form the MERGE/upsert key.
MERGE_KEY = ("conv_id", "turn_idx")

#: Columns that define last-writer-wins order (compared lexicographically).
LWW_ORDER = ("ts", "lsn")

#: Payload columns carried from change record to target row.
PAYLOAD_COLS = ("role", "text", "tool")
