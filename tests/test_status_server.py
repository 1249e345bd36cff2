"""The live operational endpoint (SURVEY.md T4; reference StatsServer.java:
64-83 + remote stop flag DBConnector.java:108-116): scrape /status and
/epochs from a live port, trigger a graceful stream stop via POST /stop."""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.request
from datetime import datetime

import pytest

from mas_scada_bulkingest_spark import status as status_mod
from mas_scada_bulkingest_spark.pipeline import apply_changes, create_transcripts_table
from mas_scada_bulkingest_spark.sources import generate_changelog
from mas_scada_bulkingest_spark.status import serve_status, status
from mas_scada_bulkingest_spark.streaming.driver import (
    await_or_stop,
    replay_batches,
    run_stream,
)


def _get(port: int, path: str):
    with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}", timeout=30) as r:
        return json.loads(r.read())


def test_status_server_scrape_and_remote_stop(spark, tmpdir_path):
    generate_changelog(
        tmpdir_path + "/log", n_convs=20, mean_turns=4, n_files=4, seed=51
    )
    tbl = create_transcripts_table(spark, tmpdir_path + "/t", n_buckets=4)
    replay_batches(spark, tmpdir_path + "/log", tbl, files_per_epoch=2)

    srv = serve_status(tbl)
    try:
        port = srv.server_port
        st = _get(port, "/status")
        assert st == status(tbl)  # the HTTP view IS the queryable status
        assert st["rows_applied"] > 0
        assert st["epochs_committed"] == 2
        # arithmetic count must agree with the expanding property
        assert tbl.committed_epoch_count == len(tbl.committed_epochs)

        eps = _get(port, "/epochs")
        assert len(eps) == 2
        assert all(e["applied"] > 0 for e in eps)
        assert [e["epoch_id"] for e in eps] == sorted(e["epoch_id"] for e in eps)

        # Prometheus scrape: same numbers as /status, text exposition format
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/metrics", timeout=30
        ) as r:
            assert r.headers["Content-Type"].startswith("text/plain")
            text = r.read().decode()
        metrics = {
            line.split(" ")[0]: float(line.split(" ")[1])
            for line in text.splitlines()
            if line and not line.startswith("#")
        }
        assert metrics["cdc_ingest_rows_applied"] == st["rows_applied"]
        assert metrics["cdc_ingest_epochs_committed"] == 2
        assert "# TYPE cdc_ingest_rows_applied counter" in text

        # metadata inspection endpoints mirror files()/partitions()
        files = _get(port, "/files")
        assert len(files) == st["n_data_files"]
        assert sum(f["bytes"] for f in files) == st["live_bytes"]
        parts = _get(port, "/partitions")
        assert sum(p["files"] for p in parts) == len(files)
        assert sum(p["records"] for p in parts) == st["stored_records"]

        with pytest.raises(urllib.error.HTTPError) as exc:
            _get(port, "/nope")
        assert exc.value.code == 404

        # remote stop: POST /stop sets the flag; await_or_stop(stop_check=…)
        # stops a live continuous stream after its in-flight batch commits
        q = run_stream(
            spark,
            tmpdir_path + "/log",
            tmpdir_path + "/t",
            tmpdir_path + "/ckpt",
            available_now=False,
        )
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/stop", method="POST"
        )
        with urllib.request.urlopen(req, timeout=30) as r:
            assert json.loads(r.read()) == {"stopping": True}
        assert srv.stop_event.is_set()
        terminated_naturally = await_or_stop(
            q, stop_check=srv.stop_event.is_set, timeout_secs=120
        )
        assert terminated_naturally is False
        assert not q.isActive
    finally:
        srv.shutdown()


def _post(port: int, path: str, body: bytes = b""):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}", data=body, method="POST"
    )
    with urllib.request.urlopen(req, timeout=30) as r:
        return json.loads(r.read())


def test_loglevel_endpoint_flips_live(spark, tmpdir_path):
    """POST /loglevel — the reference CLIServer's setDebug/unsetDebug
    (CLIServer.java:50-60) as an HTTP verb: the JVM root logger level must
    actually change, bad levels must 400."""
    tbl = create_transcripts_table(spark, tmpdir_path + "/t", n_buckets=2)
    srv = serve_status(tbl)
    try:
        port = srv.server_port

        def jvm_level() -> str:
            jvm = spark.sparkContext._jvm
            return (
                jvm.org.apache.logging.log4j.LogManager.getRootLogger()
                .getLevel()
                .toString()
            )

        assert _post(port, "/loglevel?level=DEBUG") == {"log_level": "DEBUG"}
        assert srv.log_level == "DEBUG"
        assert jvm_level() == "DEBUG"
        # JSON-body form, back to quiet
        assert _post(
            port, "/loglevel", json.dumps({"level": "error"}).encode()
        ) == {"log_level": "ERROR"}
        assert jvm_level() == "ERROR"
        with pytest.raises(urllib.error.HTTPError) as ei:
            _post(port, "/loglevel?level=LOUD")
        assert ei.value.code == 400
        assert jvm_level() == "ERROR"  # unchanged on a rejected level
    finally:
        srv.shutdown()
        spark.sparkContext.setLogLevel("ERROR")


def _scrape(port: int, path: str):
    with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}", timeout=30) as r:
        return r.headers, r.read().decode()


def _epoch(spark, tbl, e: int) -> None:
    rows = [
        (e * 10 + k, "update", f"c{k}", k, "u", f"t{e}", None, datetime(2024, 1, 1))
        for k in range(4)
    ]
    apply_changes(
        tbl,
        spark.createDataFrame(
            rows,
            "lsn long, op string, conv_id string, turn_idx int, role string, "
            "text string, tool string, ts timestamp_ntz",
        ),
        e,
    )


def test_last_commit_gauge_flags_a_stalled_stream(spark, tmpdir_path):
    """``cdc_ingest_last_commit_unix_s`` is the newest lineage commit as unix
    seconds: it holds still while nothing commits (so ``time() - gauge``
    grows) and rises with the next epoch."""
    tbl = create_transcripts_table(spark, tmpdir_path + "/t", n_buckets=2)
    _epoch(spark, tbl, 0)
    srv = serve_status(tbl)
    try:
        port = srv.server_port

        def gauge() -> float:
            _, text = _scrape(port, "/metrics")
            assert "# TYPE cdc_ingest_last_commit_unix_s gauge" in text
            (line,) = [
                ln for ln in text.splitlines()
                if ln.startswith("cdc_ingest_last_commit_unix_s ")
            ]
            return float(line.split(" ")[1])

        first = gauge()
        assert first == status(tbl)["last_commit_unix_s"]
        assert abs(time.time() - first) < 600  # real unix time, not local-as-UTC
        time.sleep(0.05)
        assert gauge() == first  # no commit between scrapes: stalled
        _epoch(spark, tbl, 1)
        assert gauge() > first
    finally:
        srv.shutdown()


def test_row_cap_truncates_listing_endpoints(spark, tmpdir_path, monkeypatch):
    """``/epochs``, ``/files`` and ``/partitions`` return at most
    ``MAX_RESPONSE_ROWS`` rows (the newest epochs for ``/epochs``) and say so
    with ``X-Truncated: true``."""
    tbl = create_transcripts_table(spark, tmpdir_path + "/t", n_buckets=4)
    for e in range(3):
        _epoch(spark, tbl, e)
    srv = serve_status(tbl)
    try:
        port = srv.server_port
        full = {}
        for path in ("/epochs", "/files", "/partitions"):
            headers, body = _scrape(port, path)
            assert headers["X-Truncated"] is None, path
            full[path] = json.loads(body)
            assert len(full[path]) > 1, path
        assert [e["epoch_id"] for e in full["/epochs"]] == [0, 1, 2]
        monkeypatch.setattr(status_mod, "MAX_RESPONSE_ROWS", 1)
        for path in ("/epochs", "/files", "/partitions"):
            headers, body = _scrape(port, path)
            assert headers["X-Truncated"] == "true", path
            assert len(json.loads(body)) == 1, path
        _, body = _scrape(port, "/epochs")
        assert json.loads(body) == full["/epochs"][-1:]  # the newest epoch
        headers, _ = _scrape(port, "/status")
        assert headers["X-Truncated"] is None
    finally:
        srv.shutdown()
