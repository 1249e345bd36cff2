"""LWW collapse: the hash-aggregate and window forms must agree with a
pandas reference, on a generated changelog and on a skewed batch
(SURVEY.md W1; reference parity: unique-index LWW, MonitorTable.java:70-76)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from mas_scada_bulkingest_spark.operators.lww import collapse_lww, collapse_lww_window
from mas_scada_bulkingest_spark.sources import generate_changelog


def _spark_changes(spark, tmpdir_path):
    generate_changelog(tmpdir_path + "/log", n_convs=40, mean_turns=5, seed=13)
    return spark.read.option("mergeSchema", "true").parquet(tmpdir_path + "/log")


def _skewed_changes(spark):
    """One (conv_id, turn_idx) key owns half of the rows, spread over every
    input partition; ts values repeat so lsn breaks ties."""
    i = F.col("id")
    hot = i % 2 == 0
    return spark.range(0, 4000, numPartitions=4).select(
        i.alias("lsn"),
        F.when(hot, "hot").otherwise(F.concat(F.lit("c"), (i % 37).cast("string"))).alias("conv_id"),
        F.when(hot, 0).otherwise(i % 5).cast("int").alias("turn_idx"),
        F.timestamp_seconds((i * 7919) % 300).cast("timestamp_ntz").alias("ts"),
        F.concat(F.lit("t"), i.cast("string")).alias("text"),
    )


def _expected(df: pd.DataFrame) -> pd.DataFrame:
    d = df.sort_values(["ts", "lsn"], kind="stable").groupby(
        ["conv_id", "turn_idx"], as_index=False
    ).tail(1)
    return d.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def test_collapse_variants_agree(spark, tmpdir_path):
    skewed = _skewed_changes(spark)
    hot = skewed.filter((F.col("conv_id") == "hot") & (F.col("turn_idx") == 0))
    assert 2 * hot.count() >= skewed.count()
    for df in (_spark_changes(spark, tmpdir_path), skewed):
        exp = _expected(df.toPandas())[["conv_id", "turn_idx", "lsn"]]
        for variant in (collapse_lww(df), collapse_lww_window(df)):
            got = (
                variant.select("conv_id", "turn_idx", "lsn")
                .orderBy("conv_id", "turn_idx")
                .toPandas()
            )
            pd.testing.assert_frame_equal(
                got.reset_index(drop=True), exp.reset_index(drop=True), check_dtype=False
            )


def test_collapse_keeps_all_columns(spark, tmpdir_path):
    df = _spark_changes(spark, tmpdir_path)
    out = collapse_lww(df)
    assert out.columns == df.columns
    assert out.groupBy("conv_id", "turn_idx").count().filter("count > 1").count() == 0
