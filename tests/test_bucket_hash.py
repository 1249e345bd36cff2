"""The driver-side bucket hash must equal the writer's bucket expression.

``SnapshotTable._bucket_of`` computes ``pmod(xxhash64(key), n_buckets)`` in
Python for string, int and long keys, so ``lookup`` and ``purge_key`` read
the bucket the writer filled without running a Spark job. Everything else
falls back to a one-row Spark probe of ``_bucket_expr``. These tests compare
both paths with ``_bucket_expr`` as Spark evaluates it, and check that a
point lookup on real written files finds every key.
"""

from __future__ import annotations

import os
from datetime import date, datetime

import pyarrow.parquet as pq

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.errors import PySparkTypeError, PySparkValueError
from pyspark.sql import types as T

from mas_scada_bulkingest_spark.lake.snapshot_table import (
    SnapshotTable,
    _bucket_expr,
    _bucket_of_value,
)
from mas_scada_bulkingest_spark.pipeline import apply_changes, create_transcripts_table

N_BUCKETS = (1, 3, 8, 4096)
INT32 = (-(1 << 31), (1 << 31) - 1)
INT64 = (-(1 << 63), (1 << 63) - 1)
_COLS = T.StructType(
    [
        T.StructField("s", T.StringType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("l", T.LongType()),
    ]
)


def _assert_driver_hash_matches_writer(spark, rows):
    """One Spark collect: every column of every row at every bucket count."""
    df = spark.createDataFrame(rows, _COLS)
    got = df.select(
        *[
            _bucket_expr(f.name, nb).alias(f"{f.name}_{nb}")
            for f in _COLS.fields
            for nb in N_BUCKETS
        ]
    ).collect()
    for row, spark_row in zip(rows, got):
        for f, value in zip(_COLS.fields, row):
            for nb in N_BUCKETS:
                assert _bucket_of_value(value, f.dataType, nb) == spark_row[
                    f"{f.name}_{nb}"
                ], (f.dataType, value, nb)


_strings = st.one_of(
    st.none(),
    st.text(max_size=8),
    st.text(min_size=33, max_size=80),  # past one 32-byte stripe
    # no lone surrogates: without a UTF-8 form they are left to the Spark
    # probe, which test_fallback_on_a_string_key_buckets_as_the_writer checks
    st.text(
        alphabet=st.characters(min_codepoint=0x80, exclude_categories=("Cs",)),
        min_size=1,
        max_size=40,
    ),
    st.text(
        alphabet=st.characters(min_codepoint=0x10000, max_codepoint=0x10FFFF),
        min_size=1,
        max_size=20,
    ),
)
_row = st.tuples(
    _strings,
    st.one_of(st.none(), st.integers(*INT32)),
    st.one_of(st.none(), st.integers(*INT64)),
)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(st.lists(_row, min_size=1, max_size=40))
def test_driver_hash_matches_writer_expression(spark, rows):
    _assert_driver_hash_matches_writer(spark, rows)


def test_driver_hash_matches_writer_on_edge_values(spark):
    strings = [
        "", "\x00", "a", "abc", "abcd", "abcdefg", "abcdefgh", "x" * 31, "x" * 32,
        "x" * 33, "y" * 64, "y" * 65, "é" * 40, "日本語", "\U0001F600" * 9,
        "a\x00b", None,
    ]
    ints = [INT32[0], INT32[0] + 1, -1, 0, 1, 42, INT32[1] - 1, INT32[1], None]
    longs = [INT64[0], INT64[0] + 1, INT32[0] - 1, -1, 0, 1, INT32[1] + 1, INT64[1], None]
    n = max(len(strings), len(ints), len(longs))
    pad = lambda xs: xs + [None] * (n - len(xs))
    _assert_driver_hash_matches_writer(
        spark, list(zip(pad(strings), pad(ints), pad(longs)))
    )


def test_unhandled_values_and_types_are_left_to_spark():
    for value, dtype in [
        (True, T.StringType()),
        (7, T.StringType()),
        ("7", T.IntegerType()),
        (True, T.IntegerType()),
        (False, T.LongType()),
        (7.0, T.LongType()),
        (INT32[1] + 1, T.IntegerType()),
        (INT64[0] - 1, T.LongType()),
        ("\ud800", T.StringType()),  # lone surrogate: no UTF-8 form
        ("a", T.StringType("UTF8_LCASE")),  # collated strings hash differently
        (1.5, T.DoubleType()),
        (date(2024, 1, 1), T.DateType()),
        (None, T.DoubleType()),
    ]:
        assert _bucket_of_value(value, dtype, 8) is None, (value, dtype)


def _spark_probe(spark, value, dtype, nb):
    df = spark.createDataFrame([(value,)], T.StructType([T.StructField("k", dtype)]))
    return df.select(_bucket_expr("k", nb).alias("b")).first()["b"]


def test_fallback_on_a_string_key_buckets_as_the_writer(spark, tmpdir_path):
    """Spark takes any Python object for a string column and stores its
    text form (``True`` becomes ``'true'``). Such values still go through
    the Spark probe, so they land where the writer would put them."""
    tbl = create_transcripts_table(spark, tmpdir_path + "/t", n_buckets=8)
    for value in (True, 7, 7.5, b"ab", "\ud800", None, "conv-1"):
        assert tbl._bucket_of(value) == _spark_probe(
            spark, value, T.StringType(), 8
        ), value


def test_lookup_and_purge_key_compare_in_the_stored_text_form(spark, tmpdir_path):
    """A non-``str`` value on a string key matches the text the writer
    stored, and other keys sharing the bucket do not make the filter cast
    the column (which raises under ANSI mode)."""
    cols = (
        "lsn long, op string, conv_id string, turn_idx int, role string,"
        " text string, tool string, ts timestamp_ntz"
    )
    tbl = create_transcripts_table(spark, tmpdir_path + "/t", n_buckets=1, mode="mor")
    t = datetime(2024, 1, 1)
    apply_changes(
        tbl,
        spark.createDataFrame(
            [(i, "insert", k, 0, "u", k, None, t) for i, k in enumerate(["7", "c1", "true"])],
            cols,
        ),
        0,
    )
    rows = lambda *key: sorted(map(tuple, tbl.lookup(*key).collect()))
    assert rows(7) == rows("7") and [r[0] for r in rows(7)] == ["7"]
    assert rows(7, 0) == rows("7")
    assert [r[0] for r in rows(True)] == ["true"]
    assert tbl.purge_key(7) == 1
    assert sorted(r["conv_id"] for r in tbl.read().collect()) == ["c1", "true"]


@pytest.mark.parametrize("dtype", [T.IntegerType(), T.LongType()])
def test_fallback_raises_as_the_probe_did(spark, tmpdir_path, dtype):
    """A value an int or long key column does not take still goes to Spark,
    so ``_bucket_of`` raises exactly the error the probe raises."""
    schema = T.StructType(
        [T.StructField("k", dtype), T.StructField("lsn", T.LongType())]
    )
    tbl = SnapshotTable.create(
        spark, tmpdir_path + "/t", schema, n_buckets=8, key=("k",), order=("lsn",)
    )
    for value in (True, "7", 7.0, INT64[1] + 1):
        with pytest.raises((PySparkTypeError, PySparkValueError)) as want:
            _spark_probe(spark, value, dtype, 8)
        with pytest.raises(type(want.value)) as got:
            tbl._bucket_of(value)
        assert str(got.value) == str(want.value), value


@pytest.mark.parametrize(
    "dtype, keys",
    [
        (T.DoubleType(), [0.0, -1.5, 2.25, 1e300, float("inf")]),
        (T.DateType(), [date(2024, 1, d) for d in range(1, 5)]),
    ],
)
def test_fallback_key_type_agrees_with_the_writer(spark, tmpdir_path, dtype, keys):
    """A table keyed on a type outside string/int/long: ``_bucket_of`` takes
    the Spark probe, and it names the bucket the writer put each key in."""
    schema = T.StructType(
        [
            T.StructField("k", dtype),
            T.StructField("v", T.StringType()),
            T.StructField("lsn", T.LongType()),
        ]
    )
    tbl = SnapshotTable.create(
        spark, tmpdir_path + "/t", schema, n_buckets=8, key=("k",),
        order=("lsn",), mode="mor",
    )
    tbl.bootstrap(
        spark.createDataFrame([(k, f"v{i}", i) for i, k in enumerate(keys)], schema),
        epoch_id=0,
    )
    where = {
        k: int(b)
        for b, files in tbl._snapshot["buckets"].items()
        for f in files
        for k in pq.read_table(os.path.join(tbl.path, f), columns=["k"])
        .column("k")
        .to_pylist()
    }
    assert set(where) == set(keys)
    for k in keys:
        assert _bucket_of_value(k, dtype, 8) is None
        assert tbl._bucket_of(k) == where[k], k
        assert [r["v"] for r in tbl.lookup(k).collect()] == [f"v{keys.index(k)}"]


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_lookup_equals_filtered_read_for_every_key(spark, tmpdir_path, mode):
    """Writer and reader agree on real files: on an 8-bucket table, every
    written key (and one absent key) looks up to exactly its filtered read."""
    cols = (
        "lsn long, op string, conv_id string, turn_idx int, role string,"
        " text string, tool string, ts timestamp_ntz"
    )
    keys = ["", "c1", "c2", "ü-7", "\U0001F600", "k" * 40] + [f"conv-{i}" for i in range(10)]
    tbl = create_transcripts_table(spark, tmpdir_path + "/t", n_buckets=8, mode=mode)
    for epoch in range(2):
        t = datetime(2024, 1, 1, 0, 0, epoch)
        apply_changes(
            tbl,
            spark.createDataFrame(
                [
                    (epoch * 100 + i * 2 + turn, "update", k, turn, "u",
                     f"{k}/{turn}/e{epoch}", None, t)
                    for i, k in enumerate(keys)
                    for turn in range(2)
                    if (epoch, i % 3) != (1, 0)
                ],
                cols,
            ),
            epoch,
        )
    full = tbl.read().collect()
    assert len(tbl._snapshot["buckets"]) > 1
    for k in keys + ["absent"]:
        want = sorted(tuple(r) for r in full if r["conv_id"] == k)
        got = sorted(map(tuple, tbl.lookup(k).collect()))
        assert got == want, k
        assert bool(got) == (k != "absent")
