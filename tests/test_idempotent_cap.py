"""Bounds the idempotent-replay evidence loop (VERDICT r4 item 7).

``q_cdc_idempotent_replay`` used to replay one epoch per committed epoch —
O(epochs) driver round trips. Above ``_IDEMP_MAX_EPOCHS`` it now replays a
deterministic first/last sample; these tests exercise the cap at > cap
epochs, both on the selector and end-to-end on a real table.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mas_scada_bulkingest_spark.cdc_queries import (
    _IDEMP_MAX_EPOCHS,
    _N_EPOCHS,
    _check_idempotent_cap,
    _idempotent_epoch_sample,
)
from mas_scada_bulkingest_spark.lake.snapshot_table import SnapshotTable
from mas_scada_bulkingest_spark.pipeline import apply_changes
from mas_scada_bulkingest_spark.schemas import TRANSCRIPT_SCHEMA


def test_sample_identity_below_cap():
    eps = list(range(_IDEMP_MAX_EPOCHS))
    assert _idempotent_epoch_sample(eps) == eps
    assert _idempotent_epoch_sample([0, 1, 2, 3]) == [0, 1, 2, 3]


def test_epoch_count_above_cap_fails_loudly():
    # the oracle enumerates all _N_EPOCHS epochs: the query must replay all
    assert _N_EPOCHS <= _IDEMP_MAX_EPOCHS
    _check_idempotent_cap(_IDEMP_MAX_EPOCHS, _IDEMP_MAX_EPOCHS)
    with pytest.raises(ValueError, match="_IDEMP_MAX_EPOCHS"):
        _check_idempotent_cap(_IDEMP_MAX_EPOCHS + 1, _IDEMP_MAX_EPOCHS)


def test_sample_first_last_above_cap():
    eps = list(range(40))
    got = _idempotent_epoch_sample(eps)
    assert len(got) == _IDEMP_MAX_EPOCHS
    lo = _IDEMP_MAX_EPOCHS // 2
    assert got == eps[:lo] + eps[40 - (_IDEMP_MAX_EPOCHS - lo) :]
    # deterministic
    assert _idempotent_epoch_sample(eps) == got


def test_capped_replay_end_to_end(spark, tmpdir_path):
    n_epochs = _IDEMP_MAX_EPOCHS + 4
    tbl = SnapshotTable.create(
        spark,
        os.path.join(tmpdir_path, "t"),
        TRANSCRIPT_SCHEMA,
        n_buckets=2,
        mode="mor",
    )
    base = spark.range(n_epochs).select(
        F.concat(F.lit("conv-"), F.col("id")).alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.lit("hi").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit("2024-01-01 00:00:00").cast("timestamp_ntz").alias("ts"),
        F.col("id").alias("lsn"),
        F.lit("update").alias("op"),
    )
    for e in range(n_epochs):
        apply_changes(tbl, base.filter(F.col("lsn") == e), epoch_id=e)

    epochs = sorted(int(x) for x in tbl.committed_epochs)
    assert len(epochs) == n_epochs
    sample = _idempotent_epoch_sample(epochs)
    assert len(sample) == _IDEMP_MAX_EPOCHS < n_epochs
    for e in sample:
        st = apply_changes(tbl, base.filter(F.col("lsn") == e), epoch_id=e)
        assert st.was_noop and int(st.applied) == 0
