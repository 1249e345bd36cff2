"""Operational status over the lineage table.

The Spark re-expression of the reference's stats surface — the HTTP
``/masdcStats`` page (StatsServer.java:64-83), the TCP CLI ``getStats``
(CLIServer.java:34-48) and the 60 s heartbeat stats row
(ConnectorStats.java:59-83) — as plain queryable functions over the
``lineage/`` log, plus :func:`serve_status`, a minimal HTTP endpoint so a
24/7 stream deployment has a scrape target and a remote stop flag. Like the
reference's driver-local stats, the totals are aggregated on the driver
from the deduped side logs (:mod:`.lake.side_logs`); no Spark job runs.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .lake.side_logs import lineage_epoch_keys, read_constraint_metrics, read_lineage
from .lake.snapshot_table import SnapshotTable

#: Row schema of :func:`epoch_summary`.
EPOCH_SUMMARY_SCHEMA = T.StructType(
    [
        T.StructField("epoch_key", T.StringType()),
        T.StructField("epoch_id", T.LongType()),
        T.StructField("n_partitions", T.LongType()),
        T.StructField("applied", T.LongType()),
        T.StructField("skipped", T.LongType()),
        T.StructField("deleted", T.LongType()),
        T.StructField("max_lsn", T.LongType()),
        T.StructField("wall_secs", T.DoubleType()),
        T.StructField("rows_per_sec", T.DoubleType()),
        T.StructField("committed_ts", T.TimestampNTZType()),
    ]
)


def _per_epoch(table: SnapshotTable) -> pa.Table:
    """The deduped lineage rows folded to one row per epoch, on the driver
    (:data:`EPOCH_SUMMARY_SCHEMA` columns), ordered by numeric epoch with
    the key as tiebreak across checkpoint lineages (the string key alone
    would sort '10' before '2')."""
    lin = read_lineage(table.path)
    g = (
        # epoch_key disambiguates equal batch numbers from different
        # checkpoint lineages (epoch_id alone would conflate them)
        lin.set_column(
            lin.schema.get_field_index("epoch_key"),
            "epoch_key",
            lineage_epoch_keys(lin),
        )
        .append_column(
            "rows", pc.add(pc.add(lin["applied"], lin["skipped"]), lin["deleted"])
        )
        .group_by("epoch_key")
        .aggregate(
            [
                ("epoch_id", "max"),
                ("partition_id", "count", pc.CountOptions(mode="all")),
                ("applied", "sum"),
                ("skipped", "sum"),
                ("deleted", "sum"),
                ("rows", "sum"),
                ("max_lsn", "max"),
                ("wall_secs", "max"),
                ("committed_ts", "max"),
            ]
        )
    )
    wall = g["wall_secs_max"]
    out = pa.table(
        {
            "epoch_key": g["epoch_key"],
            "epoch_id": g["epoch_id_max"],
            "n_partitions": g["partition_id_count"],
            "applied": g["applied_sum"],
            "skipped": g["skipped_sum"],
            "deleted": g["deleted_sum"],
            "max_lsn": g["max_lsn_max"],
            "wall_secs": wall,
            # NULL (not a divide-by-zero or a NULL-poisoned rate) for lineage
            # rows written before wall_secs existed, and for sub-millisecond
            # merges whose wall rounds to 0.0.
            "rows_per_sec": pc.if_else(
                pc.greater(wall, 0.0),
                pc.divide(pc.cast(g["rows_sum"], pa.float64()), wall),
                pa.scalar(None, pa.float64()),
            ),
            "committed_ts": g["committed_ts_max"],
        }
    )
    return out.take(
        pc.sort_indices(
            out,
            [("epoch_id", "ascending"), ("epoch_key", "ascending")],
            null_placement="at_start",
        )
    )


def epoch_summary(table: SnapshotTable) -> DataFrame:
    """One row per epoch: totals + throughput inputs (applied/skipped/deleted,
    max LSN watermark, partitions touched). Aggregated on the driver; the
    DataFrame wraps the local rows."""
    return table.spark.createDataFrame(_per_epoch(table), EPOCH_SUMMARY_SCHEMA)


def status(table: SnapshotTable) -> dict:
    """Driver-side snapshot of connector health (the ``getStats`` analog).

    Returns totals across all committed epochs plus table-shape facts from
    the current snapshot. Runs no Spark job: the lineage and constraint-
    metrics logs are read and aggregated with pyarrow, the rest comes from
    the snapshot JSON.
    """
    per_epoch = _per_epoch(table)

    def agg(fn, col):
        return fn(per_epoch[col]).as_py()

    applied = agg(pc.sum, "applied") or 0
    skipped = agg(pc.sum, "skipped") or 0
    deleted = agg(pc.sum, "deleted") or 0
    max_lsn = agg(pc.max, "max_lsn")
    merge_secs = agg(pc.sum, "wall_secs") or None
    last_commit = agg(pc.max, "committed_ts")
    snap = table._snapshot
    # expectations event log: per-constraint violation totals across all
    # committed epochs (empty dict when the table never had constraints)
    totals = (
        read_constraint_metrics(table.path)
        .group_by(["constraint_name", "mode"])
        .aggregate([("violations", "sum")])
    )
    violations = {
        r["constraint_name"]: {"mode": r["mode"], "total": int(r["violations_sum"])}
        for r in totals.to_pylist()
    }
    n_files = sum(len(v) for v in snap["buckets"].values())
    total_rows = applied + skipped + deleted
    return {
        # arithmetic count from the folded (watermark + extras) form — the
        # expanding committed_epochs property is O(total epochs) per call
        "epochs_committed": table.committed_epoch_count,
        "epochs_with_lineage": per_epoch.num_rows,
        "rows_applied": applied,
        "rows_skipped": skipped,
        "rows_deleted": deleted,
        # the reference's per-cycle rate (rowCount*1000/cycleMillis,
        # DBConnector.java:235-238), here queryable over all epochs
        "merge_secs": merge_secs,
        "rows_per_sec": (
            round(total_rows / merge_secs, 1) if merge_secs else None
        ),
        "max_lsn": max_lsn,
        "last_commit_ts": str(last_commit) if last_commit else None,
        # the same instant as epoch seconds (lineage stamps are local wall
        # time): fixed per commit, so time() minus it is the stall age
        "last_commit_unix_s": last_commit.timestamp() if last_commit else None,
        "snapshot_version": snap["version"],
        # wall-clock commit stamp of the current snapshot (TIMESTAMP AS OF
        # anchor; None on pre-stamp snapshots)
        "snapshot_committed_at": snap.get("committed_at"),
        "n_buckets": snap["n_buckets"],
        "n_data_files": n_files,
        # manifest-level layout totals (zero file opens — the same numbers
        # files()/partitions() serve): bytes on disk, and the STORED row
        # count (base + not-yet-compacted delta versions + tombstones, so
        # >= the live-row count a read() returns; None before the
        # record-count stamp existed)
        "live_bytes": sum(snap.get("file_sizes", {}).values()),
        "stored_records": (
            None
            if any(
                snap.get("file_rows", {}).get(f) is None
                for fs in snap["buckets"].values()
                for f in fs
            )
            else sum(
                snap["file_rows"][f]
                for fs in snap["buckets"].values()
                for f in fs
            )
        ),
        "schema_fields": [f.name for f in table.schema.fields],
        "constraint_violations": violations,
    }


#: status() fields exported on /metrics, with Prometheus type + help text.
#: Only numeric fields appear; counters are cumulative over committed epochs.
_PROM_FIELDS = [
    ("epochs_committed", "counter", "Epochs sealed in the snapshot commit log"),
    ("epochs_with_lineage", "counter", "Epochs with lineage rows"),
    ("rows_applied", "counter", "Change rows applied across all epochs"),
    ("rows_skipped", "counter", "Stale change rows skipped (lost LWW)"),
    ("rows_deleted", "counter", "Delete rows applied (tombstoned)"),
    ("merge_secs", "counter", "Cumulative merge wall seconds"),
    ("rows_per_sec", "gauge", "Rows per merge-second over all epochs"),
    ("max_lsn", "gauge", "Highest LSN applied (resume watermark)"),
    (
        "last_commit_unix_s",
        "gauge",
        "Unix time of the newest epoch's lineage commit (alert on time() minus this)",
    ),
    ("snapshot_version", "gauge", "Current snapshot version"),
    ("n_buckets", "gauge", "Bucket count (hash layout)"),
    ("n_data_files", "gauge", "Live data files in the current snapshot"),
    ("live_bytes", "gauge", "Bytes across live data files (manifest sizes)"),
    ("stored_records", "gauge", "Stored rows incl. superseded delta versions"),
]


def render_prometheus(st: dict, prefix: str = "cdc_ingest") -> str:
    """:func:`status` dict → Prometheus text exposition format (0.0.4).

    Pure function so it is testable without a server; ``serve_status``
    exposes it at ``GET /metrics``. The reference publishes its stats as
    ad-hoc JSON (StatsServer.java:64-83); a fleet of 1000 ingest drivers
    needs the scrape format every monitoring stack already speaks.
    Values print exactly (no ``%g`` rounding: a unix time or an LSN past
    10^6 must not lose digits).
    """

    def num(v) -> str:
        return str(v) if isinstance(v, int) else repr(float(v))

    lines = []
    for field, kind, help_txt in _PROM_FIELDS:
        v = st.get(field)
        if v is None:
            continue
        name = f"{prefix}_{field}"
        lines.append(f"# HELP {name} {help_txt}")
        lines.append(f"# TYPE {name} {kind}")
        lines.append(f"{name} {num(v)}")
    # per-constraint violation counters, labeled (the DLT expectations
    # metrics surface — one series per constraint)
    viol = st.get("constraint_violations") or {}
    if viol:
        name = f"{prefix}_constraint_violations_total"
        lines.append(
            f"# HELP {name} CHECK-constraint violations across committed epochs"
        )
        lines.append(f"# TYPE {name} counter")
        for cname in sorted(viol):
            v = viol[cname]
            lines.append(
                f'{name}{{constraint="{cname}",mode="{v["mode"]}"}} '
                f'{num(v["total"])}'
            )
    return "\n".join(lines) + "\n"


#: Row cap of one ``/epochs``, ``/files`` or ``/partitions`` response; a
#: cut response carries ``X-Truncated: true``.
MAX_RESPONSE_ROWS = 10_000


def _newest_epochs(per_epoch: pa.Table, cap: int) -> pa.Table:
    """The ``cap`` epochs with the newest commit, in ``per_epoch`` order."""
    if per_epoch.num_rows <= cap:
        return per_epoch
    keep = pc.select_k_unstable(per_epoch, cap, [("committed_ts", "descending")])
    return per_epoch.take(sorted(keep.to_pylist()))


def serve_status(
    table: SnapshotTable, host: str = "127.0.0.1", port: int = 0
) -> ThreadingHTTPServer:
    """Serve the status surface over HTTP from a daemon thread — the live
    operational endpoint the reference runs as StatsServer (``/masdcStats``,
    StatsServer.java:64-83) plus its remotely pollable stop flag
    (DBConnector.java:108-116):

    * ``GET /status`` → :func:`status` as JSON
    * ``GET /epochs`` → :func:`epoch_summary` rows as a JSON array (the
      newest :data:`MAX_RESPONSE_ROWS` epochs)
    * ``GET /files`` / ``GET /partitions`` → the metadata inspection
      tables (``SnapshotTable.files``/``partitions``) as JSON arrays —
      the layout/skew dashboard, manifest-only (no data scan), at most
      :data:`MAX_RESPONSE_ROWS` rows
    * ``GET /metrics`` → :func:`render_prometheus` text exposition (the
      same numbers as ``/status``, scrapeable by Prometheus/Grafana)
    * ``POST /loglevel?level=DEBUG`` → flips the Spark log level live
      (the reference CLIServer's setDebug/unsetDebug, CLIServer.java:50-60)
    * ``POST /stop``  → sets the server's ``stop_event``; pass
      ``stop_check=server.stop_event.is_set`` to
      :func:`~mas_scada_bulkingest_spark.streaming.driver.await_or_stop` for
      a remotely triggered graceful shutdown (the in-flight epoch commits,
      then the stream stops)

    A response cut at :data:`MAX_RESPONSE_ROWS` carries the header
    ``X-Truncated: true``. ``/status``, ``/metrics`` and ``/epochs`` run no
    Spark job: a scrape costs one driver-side read of the lineage and
    constraint-metrics files plus the in-memory snapshot, so it grows with
    the lineage file count (``compact_lineage`` folds it), not with table
    size. ``/files`` and ``/partitions`` collect a small Spark DataFrame
    built from the manifest. ``port=0`` binds an ephemeral port (read
    ``server.server_port``). Call ``server.shutdown()`` to stop serving.
    """
    stop_event = threading.Event()

    class _Handler(BaseHTTPRequestHandler):
        def _send(self, code: int, payload, truncated: bool = False) -> None:
            body = json.dumps(payload, default=str).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            if truncated:
                self.send_header("X-Truncated", "true")
            self.end_headers()
            self.wfile.write(body)

        def _send_rows(self, df: DataFrame) -> None:
            rows = df.limit(MAX_RESPONSE_ROWS + 1).collect()
            self._send(
                200,
                [r.asDict() for r in rows[:MAX_RESPONSE_ROWS]],
                truncated=len(rows) > MAX_RESPONSE_ROWS,
            )

        def do_GET(self):
            try:
                if self.path == "/status":
                    self._send(200, status(table))
                elif self.path == "/epochs":
                    per_epoch = _per_epoch(table)
                    shown = _newest_epochs(per_epoch, MAX_RESPONSE_ROWS)
                    self._send(
                        200,
                        shown.to_pylist(),
                        truncated=shown.num_rows < per_epoch.num_rows,
                    )
                elif self.path == "/files":
                    self._send_rows(table.files())
                elif self.path == "/partitions":
                    self._send_rows(table.partitions())
                elif self.path == "/metrics":
                    body = render_prometheus(status(table)).encode()
                    self.send_response(200)
                    self.send_header(
                        "Content-Type", "text/plain; version=0.0.4"
                    )
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)
                else:
                    self._send(
                        404,
                        {"error": "not found", "endpoints": ["/status", "/epochs", "/files", "/partitions", "/metrics", "POST /stop", "POST /loglevel"]},
                    )
            except Exception as e:  # surface, don't kill the server thread
                self._send(500, {"error": str(e)})

        def do_POST(self):
            if self.path == "/stop":
                stop_event.set()
                self._send(200, {"stopping": True})
            elif self.path.startswith("/loglevel"):
                # runtime log-level toggle — the reference's CLIServer
                # setDebug/unsetDebug commands (CLIServer.java:50-60,79-82)
                # as an HTTP verb: POST /loglevel?level=DEBUG (or a JSON
                # body {"level": "DEBUG"}). Applies live via
                # SparkContext.setLogLevel; no restart, no new config.
                level = None
                if "?" in self.path:
                    from urllib.parse import parse_qs, urlsplit

                    level = parse_qs(urlsplit(self.path).query).get(
                        "level", [None]
                    )[0]
                if level is None:
                    n = int(self.headers.get("Content-Length") or 0)
                    if n:
                        try:
                            level = json.loads(self.rfile.read(n)).get("level")
                        except Exception:
                            level = None
                valid = {"ALL", "DEBUG", "ERROR", "FATAL", "INFO", "OFF",
                         "TRACE", "WARN"}
                if not level or level.upper() not in valid:
                    self._send(
                        400,
                        {"error": "pass ?level= or body {'level': ...}",
                         "valid": sorted(valid)},
                    )
                    return
                try:
                    table.spark.sparkContext.setLogLevel(level.upper())
                    server.log_level = level.upper()
                    self._send(200, {"log_level": level.upper()})
                except Exception as e:
                    self._send(500, {"error": str(e)})
            else:
                self._send(404, {"error": "not found"})

        def log_message(self, *args):  # keep the driver log clean
            pass

    server = ThreadingHTTPServer((host, port), _Handler)
    server.stop_event = stop_event
    server.log_level = None
    threading.Thread(
        target=server.serve_forever, daemon=True, name="status-http"
    ).start()
    return server
