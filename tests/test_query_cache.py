"""ADVICE r4: memoized work-table paths must be validated on lookup (a
tmpdir removed externally must trigger a rebuild, not a dangling-path
error) and registered for end-of-process cleanup."""

from __future__ import annotations

import os
import shutil

from mas_scada_bulkingest_spark import cdc_queries as cq


def test_cache_lookup_valid_path(tmpdir_path):
    cache = {"k": tmpdir_path}
    assert cq._cache_lookup(cache, "k") == tmpdir_path
    assert "k" in cache


def test_cache_lookup_evicts_dangling_path(tmpdir_path):
    gone = os.path.join(tmpdir_path, "sub")
    os.makedirs(gone)
    cache = {"k": gone}
    shutil.rmtree(gone)
    assert cq._cache_lookup(cache, "k") is None
    assert "k" not in cache  # evicted → caller rebuilds


def test_cache_lookup_tuple_values(tmpdir_path):
    a = os.path.join(tmpdir_path, "a")
    b = os.path.join(tmpdir_path, "b")
    os.makedirs(a)
    os.makedirs(b)
    cache = {"k": (a, b), "m": (a, {"totals": 1})}
    assert cq._cache_lookup(cache, "k") == (a, b)
    # non-path tuple members (e.g. a totals dict) are ignored
    assert cq._cache_lookup(cache, "m") == (a, {"totals": 1})
    shutil.rmtree(b)
    assert cq._cache_lookup(cache, "k") is None


def test_workdirs_registered_for_cleanup():
    d = cq._workdir("msbs-cache-test-")
    try:
        assert os.path.isdir(d)
        assert d in cq._WORKDIRS  # atexit hook will rmtree it
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_cache_lookup_evicts_table_without_current_pointer(spark, tmpdir_path):
    from mas_scada_bulkingest_spark.lake.snapshot_table import SnapshotTable
    from mas_scada_bulkingest_spark.schemas import TRANSCRIPT_SCHEMA

    tbl = SnapshotTable.create(spark, os.path.join(tmpdir_path, "t"), TRANSCRIPT_SCHEMA)
    cache = {"k": tbl.path, "m": (tbl.path, {"totals": 1})}
    assert cq._cache_lookup(cache, "k") == tbl.path
    # the snapshot file _CURRENT names is gone: stale
    with open(os.path.join(tbl.path, "_CURRENT")) as f:
        snap = os.path.join(tbl.path, "snapshots", f.read().strip())
    os.rename(snap, snap + ".moved")
    assert cq._cache_lookup(cache, "m") is None and "m" not in cache
    os.rename(snap + ".moved", snap)
    assert cq._cache_lookup(cache, "k") == tbl.path
    # directory survives, _CURRENT does not: stale
    os.remove(os.path.join(tbl.path, "_CURRENT"))
    assert os.path.isdir(tbl.path)
    assert cq._cache_lookup(cache, "k") is None and "k" not in cache


def test_cached_replay_rebuilds_after_current_removed(spark, tmpdir_path):
    """The next call after a cached table lost its ``_CURRENT`` rebuilds the
    replay instead of raising on the dangling table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n_events = 64
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n_events), pa.int64()),
                "user_id": pa.array([i % 7 for i in range(n_events)], pa.int64()),
                "event_type": ["error" if i % 9 == 0 else "click" for i in range(n_events)],
                "props": [f'{{"k": {i}}}' for i in range(n_events)],
            }
        ),
        os.path.join(tmpdir_path, "events.parquet"),
    )
    first = cq._replayed_table(spark, tmpdir_path)
    n = first.read().count()
    os.remove(os.path.join(first.path, "_CURRENT"))
    again = cq._replayed_table(spark, tmpdir_path)
    assert again.path != first.path
    assert again.read().count() == n
