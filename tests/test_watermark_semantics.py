"""Pin Spark's watermark late-drop bound (SURVEY.md T3 as an explicit
streaming primitive; VERDICT r3 item 9).

The driver oracle for ``stream_watermark_rollup`` replicates the measured
semantics: a row delivered in micro-batch ``b`` is DROPPED iff its window
end <= (max event time through batch ``b - 2``) - delay. Concretely: a
window keeps accepting late rows through the end of the first batch whose
in-effect watermark passes the window end (state eviction happens at that
batch's end, AFTER aggregation), and any row for an already-evicted window
is discarded. If a Spark upgrade shifts this bound, this test fails loudly
instead of the driver's value hash silently diverging."""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

T0 = datetime(2024, 1, 1)


def _write_batches(src: str, batches: list[list[datetime]]) -> None:
    os.makedirs(src)
    for i, tss in enumerate(batches):
        f = os.path.join(src, f"{i:05d}.parquet")
        pq.write_table(pa.table({"ts": pa.array(tss, pa.timestamp("us"))}), f)
        os.utime(f, (1_000_000 + i, 1_000_000 + i))


def test_late_drop_bound_is_two_batch_lagged_eviction(spark, tmpdir_path):
    src = tmpdir_path + "/stream"
    m = lambda mins: T0 + timedelta(minutes=mins)
    _write_batches(
        src,
        [
            [m(10), m(70)],          # b0: windows [00,01) and [01,02)
            [m(210)],                # b1: pushes wm (in effect b2) to 02:45
            [m(30), m(130), m(119)], # b2: all three KEPT — [00,01) end 01:00
                                     #   <= wm(b2)=02:45 but eviction is at
                                     #   b2's END, after aggregation
            [m(35)],                 # b3: [00,01) already evicted -> DROPPED
            [T0 + timedelta(days=30)],            # sentinels: flush all
            [T0 + timedelta(days=30, seconds=1)],
        ],
    )
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
            .withWatermark("ts", "45 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .writeStream.format("memory")
            .queryName("wm_pin")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)
        # one file per micro-batch actually held (the determinism guard the
        # driver query also enforces)
        got = [p["numInputRows"] for p in q.recentProgress if p["numInputRows"] > 0]
        assert got == [2, 1, 3, 1, 1, 1]
        out = {
            r["ws"]: r["n"]
            for r in spark.table("wm_pin")
            .select(F.col("w.start").cast("timestamp_ntz").alias("ws"), "n")
            .collect()
        }
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
    assert out == {
        m(0): 2,    # 00:10 + the SAME-batch-as-eviction late row 00:30
        m(60): 2,   # 01:10 + late-within-state 01:59
        m(120): 1,  # 02:10
        m(180): 1,  # 03:30
        # b3's 00:35 row dropped (evicted window); sentinel window unemitted
    }


def test_arrival_jitter_agrees_across_engines_past_int64_product(spark):
    """The watermark stream's arrival jitter is computed by Spark for the
    micro-batch layout and by DuckDB in the oracle. ``event_id * 2654435761``
    leaves int64 once event_id passes ~3.5e9 (Spark wraps or, under ANSI,
    raises; DuckDB widens), so both sides reduce event_id mod 97 first and
    must still give ``(event_id * 2654435761) % 97 - 48`` exactly."""
    import duckdb

    from mas_scada_bulkingest_spark import cdc_queries as cq

    ids = [0, 1, 48, 96, 97, 211, 9_999, 123_457, 3_500_000_000, 5_000_000_000]
    want = {i: (i * 2654435761) % 97 - 48 for i in ids}
    got_spark = dict(
        spark.createDataFrame([(i,) for i in ids], "event_id long")
        .select("event_id", cq._wm_jitter(F.col("event_id")))
        .collect()
    )
    values = ", ".join(f"({i}::BIGINT)" for i in ids)
    got_duck = dict(
        duckdb.connect()
        .execute(
            f"SELECT event_id, {cq._SQL_WM_JITTER} "
            f"FROM (VALUES {values}) v(event_id)"
        )
        .fetchall()
    )
    assert got_spark == want
    assert got_duck == want


def test_changelog_ts_and_ord_agree_across_engines_past_int64_product(
    spark, tmpdir_path
):
    """The changelog's ``ts`` offset and the oracles' ``ord`` both use
    ``(x * 2654435761) % 100000`` over ``event_id`` / ``lsn``; the product
    leaves int64 once x passes ~3.5e9. Spark's ``_events_changelog`` and the
    DuckDB mirrors (``_SQL_CHANGES``, ``_SQL_ORD``) reduce x mod 10^5 first
    and must still give the exact unreduced value."""
    import duckdb

    from mas_scada_bulkingest_spark import cdc_queries as cq

    ids = [0, 1, 99_999, 100_000, 123_457, 3_500_000_000, 4_294_967_296,
           5_000_000_000]
    off = {i: (i * 2654435761) % 100000 for i in ids}
    want_ts = {i: T0 + timedelta(seconds=i + off[i]) for i in ids}
    want_ord = {i: (i + off[i]) * 10_000_000 + i for i in ids}
    events = os.path.join(tmpdir_path, "events.parquet")
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(ids, pa.int64()),
                "user_id": pa.array([1] * len(ids), pa.int64()),
                "event_type": ["click"] * len(ids),
                "props": ["p"] * len(ids),
            }
        ),
        events,
    )
    got_spark = dict(cq._events_changelog(spark, tmpdir_path).select("lsn", "ts").collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{events}'")
    got_duck = dict(con.execute(f"WITH {cq._SQL_CHANGES} SELECT lsn, ts FROM changes").fetchall())
    got_ord = dict(
        con.execute(f"WITH {cq._SQL_CHANGES} SELECT lsn, {cq._SQL_ORD} FROM changes").fetchall()
    )
    assert got_spark == want_ts
    assert got_duck == want_ts
    assert got_ord == want_ord
