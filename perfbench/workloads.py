"""The three CDC-replay workloads: inputs, closed-loop drive, gates, metrics.

Every workload replays a seeded changelog (Zipf-hot conversations, 5 %
verbatim duplicates, 2 % deletes, a ``metadata`` column added 60 % of the way
in) through the product path ``streaming.driver.replay_batches`` ->
``pipeline.apply_changes`` -> ``SnapshotTable.merge_changes`` into an
8-bucket table, one epoch per changelog file, as a closed loop: the next
epoch starts only after the previous commit. The engine sees only the
generated parquet files.

* ``mor_catchup`` / ``cow_catchup``: the same 3-file changelog (about 25k
  events per epoch) replayed into a fresh merge-on-read / copy-on-write
  table once per cycle, then forced full ``read()`` calls and one read set.
* ``mor_tail``: a base epoch and 3 untimed warm-up epochs, then small
  one-file epochs (about 4k events each) with auto-compaction, whole
  compaction periods of them; a read set runs after every third epoch,
  timed apart from the epochs.

A read set is a hot and a cold ``lookup``, each followed by ``status()``,
then ``read_changes`` of the epoch just committed (merge-on-read only).

The amount of work is a fixed function of ``--seconds``, so two commits do
the same work and a slower one simply takes longer.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from mas_scada_bulkingest_spark.oracle import reduce_changelog_dir
from mas_scada_bulkingest_spark.pipeline import apply_changes, create_transcripts_table
from mas_scada_bulkingest_spark.sources.changelog_gen import generate_changelog
from mas_scada_bulkingest_spark.status import status
from mas_scada_bulkingest_spark.streaming.driver import replay_batches

#: a copy-on-write epoch rewrites every bucket it touches and costs about
#: 0.1 s per bucket on 4 cores, so 8 buckets keep a run within its budget
N_BUCKETS = 8
#: merge-on-read auto-compaction threshold (files per bucket); every small
#: epoch touches every bucket, so one compaction runs per this many epochs,
#: and the warm-up epochs already include one
AUTO_COMPACT_FILES = 3
#: changelog events per conversation the generator yields at mean_turns=8
#: (8 inserts, 2 updates per insert, 2 % deletes, then 5 % duplicates)
_EVENTS_PER_CONV = 25.4
CATCHUP_CONVS = 3_000
CATCHUP_FILES = 3
TAIL_EVENTS_PER_FILE = 4_000
TAIL_BASE_FILES = 2
TAIL_WARM_EPOCHS = 3
#: mor_tail runs a read set after every this many epochs
TAIL_READ_EVERY = AUTO_COMPACT_FILES
#: catch-up warm-up epochs: one file before the schema evolution, one after
CATCHUP_WARM_FILES = (0, 1)
#: forced full reads per catch-up cycle, and at the end of mor_tail
CATCHUP_READS = 5
TAIL_READS = 5
#: ``--seconds`` buys whole units of work, each about this many measured
#: seconds on 4 cores: two catch-up cycles, or two tail compaction periods
UNIT_S = 10
#: time the input generation this many times; setup_s counts the median
PREP_REPEATS = 3
FINAL_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "lsn", "metadata"]
HOT_KEY = "conv-0"  # Zipf rank 1


@dataclass(frozen=True)
class Workload:
    name: str
    mode: str
    tail: bool


#: why each workload exists is in BENCHMARK.json and perfbench/README.md;
#: mor_catchup is runnable by hand but left out of BENCHMARK.json (run budget)
WORKLOADS = {
    w.name: w
    for w in (
        Workload("mor_catchup", "mor", False),
        Workload("cow_catchup", "cow", False),
        Workload("mor_tail", "mor", True),
    )
}


def plan(wl: Workload, seconds: int) -> dict:
    """Work per run as a function of ``--seconds`` only (never of speed)."""
    units = max(1, round(seconds / UNIT_S))
    if wl.tail:
        return {"cycles": 1, "epochs": 2 * AUTO_COMPACT_FILES * units}
    return {"cycles": 2 * units, "epochs": CATCHUP_FILES}


# ----------------------------------------------------------------- inputs


@dataclass
class Inputs:
    #: measured changelog: all files (catch-up) or the measured tail files
    log_dir: str
    files: list[str]
    events: int
    input_bytes: int
    oracle: pd.DataFrame
    n_convs: int
    base_dir: str | None = None
    warm_dir: str | None = None


def _generate(out: str, wl: Workload, seed: int, epochs: int):
    if wl.tail:
        n_files = TAIL_BASE_FILES + TAIL_WARM_EPOCHS + epochs
        n_convs = round(n_files * TAIL_EVENTS_PER_FILE / _EVENTS_PER_CONV)
    else:
        n_files, n_convs = CATCHUP_FILES, CATCHUP_CONVS
    man = generate_changelog(out, n_convs=n_convs, mean_turns=8, n_files=n_files, seed=seed)
    return sorted(man.files), n_convs


def _same_content(a: list[str], b: list[str]) -> bool:
    return len(a) == len(b) and all(
        pq.read_table(x).equals(pq.read_table(y)) for x, y in zip(a, b)
    )


def make_inputs(work: str, wl: Workload, seed: int, epochs: int) -> tuple[Inputs, dict]:
    """Generate the changelog ``PREP_REPEATS`` times (each must be identical:
    same seed, same inputs), compute the oracle, split tail files into
    base / warm-up / measured directories. Returns inputs and step times."""
    gen_s, runs = [], []
    for i in range(PREP_REPEATS):
        out = os.path.join(work, f"log-{i}")
        t0 = time.perf_counter()
        files, n_convs = _generate(out, wl, seed, epochs)
        gen_s.append(time.perf_counter() - t0)
        runs.append(files)
    for other in runs[1:]:
        if not _same_content(runs[0], other):
            raise RuntimeError(f"changelog generation is not deterministic for seed {seed}")
        shutil.rmtree(os.path.dirname(other[0]))
    log = os.path.dirname(runs[0][0])
    t0 = time.perf_counter()
    oracle = reduce_changelog_dir(log)
    oracle_s = time.perf_counter() - t0

    files = runs[0]
    base_dir = warm_dir = None
    if wl.tail:
        base_dir, warm_dir = os.path.join(work, "base"), os.path.join(work, "warm")
        log_dir = os.path.join(work, "tail")
        cut = TAIL_BASE_FILES + TAIL_WARM_EPOCHS
        for d, part in ((base_dir, files[:TAIL_BASE_FILES]),
                        (warm_dir, files[TAIL_BASE_FILES:cut]),
                        (log_dir, files[cut:])):
            os.makedirs(d)
            for f in part:
                os.rename(f, os.path.join(d, os.path.basename(f)))
        shutil.rmtree(log)
        files = sorted(os.path.join(log_dir, os.path.basename(f)) for f in files[cut:])
    else:
        log_dir = log
    inputs = Inputs(
        log_dir=log_dir,
        files=files,
        events=sum(pq.ParquetFile(f).metadata.num_rows for f in files),
        input_bytes=sum(os.path.getsize(f) for f in files),
        oracle=oracle,
        n_convs=n_convs,
        base_dir=base_dir,
        warm_dir=warm_dir,
    )
    return inputs, {"gen_s": gen_s, "oracle_s": oracle_s}


# ------------------------------------------------------------------ helpers


def force(df) -> int:
    """Materialize every column (xor of per-row xxhash64); returns the hash."""
    return df.select(F.xxhash64(*df.columns).alias("_h")).agg(F.bit_xor("_h")).first()[0]


def snapshot_doc(table_path: str) -> tuple[dict, int]:
    """The table's current snapshot JSON and its size in bytes."""
    with open(os.path.join(table_path, "_CURRENT")) as f:
        path = os.path.join(table_path, "snapshots", f.read().strip())
    with open(path) as f:
        return json.load(f), os.path.getsize(path)


def _normalized(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.copy()
    for c in FINAL_COLS:
        if c not in out.columns:
            out[c] = None
    out = out[FINAL_COLS].sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    out["turn_idx"] = out["turn_idx"].astype("int64")
    out["lsn"] = out["lsn"].astype("int64")
    out["ts"] = pd.to_datetime(out["ts"]).astype("datetime64[us]")
    for c in ("role", "text", "tool", "metadata"):
        out[c] = out[c].astype(object).where(out[c].notna(), None)
    return out


def matches_oracle(table, oracle: pd.DataFrame) -> bool:
    return _normalized(table.read().toPandas()).equals(_normalized(oracle))


# ------------------------------------------------------------------- runner


@dataclass
class Record:
    """Everything one run measured, in seconds unless named otherwise."""

    epoch_walls: list[float] = field(default_factory=list)
    #: events / sum(epoch walls), one value per cycle
    events_per_s: list[float] = field(default_factory=list)
    read_s: list[float] = field(default_factory=list)
    lookup_s: list[float] = field(default_factory=list)
    changes_s: list[float] = field(default_factory=list)
    status_s: list[float] = field(default_factory=list)
    read_hashes: list[int] = field(default_factory=list)
    #: peak files in one bucket after any measured epoch (traced runs)
    max_files_per_bucket: int = 0
    #: measured epochs that ran an auto-compaction
    compactions: int = 0
    table_bytes: int = 0
    snapshot_bytes: int = 0
    data_files: int = 0
    gates: dict = field(default_factory=dict)


class Runner:
    """Drives one workload on one session; counts every operation."""

    def __init__(self, spark, work: str, wl: Workload, inputs: Inputs):
        self.spark = spark
        self.work = work
        self.wl = wl
        self.inputs = inputs
        #: a ``tracing.Tracer`` while the measured loop runs traced
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self._n_reads = 0

    # -- one counted, optionally traced, operation --------------------------
    def op(self, span: str, fn, *args):
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if self.tracer is None:
                out = fn(*args)
            else:
                with self.tracer.span(span):
                    out = fn(*args)
        except Exception:
            self.failed += 1
            raise
        return out, time.perf_counter() - t0

    def replay(self, table, log_dir: str, start_epoch: int, walls: list | None,
               after_epoch=None, files_per_epoch: int = 1, rec: Record | None = None):
        """``replay_batches`` with per-epoch walls taken between commits; the
        ``after_epoch`` hook runs outside every epoch wall."""
        n_files = len([f for f in os.listdir(log_dir) if f.endswith(".parquet")])
        n_epochs = -(-n_files // files_per_epoch)
        tr = self.tracer if walls is not None else None
        state = {"t": time.perf_counter(), "span": tr.begin("driver.epoch") if tr else None}

        def on_epoch(st):
            t = time.perf_counter()
            self.attempted += 1
            if state["span"] is not None:
                tr.end(state["span"])
                state["span"] = None
            if walls is not None:
                walls.append(t - state["t"])
                if rec is not None:
                    rec.compactions += "compact" in (st.timings or {})
                if rec is not None and tr is not None:
                    doc, _ = snapshot_doc(table.path)
                    rec.max_files_per_bucket = max(
                        rec.max_files_per_bucket,
                        max((len(v) for v in doc["buckets"].values()), default=0),
                    )
            if after_epoch is not None:
                after_epoch(st)
            if tr is not None and len(walls) < n_epochs:
                state["span"] = tr.begin("driver.epoch")
            state["t"] = time.perf_counter()

        auto = AUTO_COMPACT_FILES if self.wl.mode == "mor" else None
        try:
            return replay_batches(
                self.spark, log_dir, table, files_per_epoch=files_per_epoch,
                start_epoch=start_epoch, on_epoch=on_epoch, auto_compact_files=auto,
            )
        except Exception:
            self.attempted += 1
            self.failed += 1
            raise
        finally:
            if state["span"] is not None:
                tr.end(state["span"])

    def read_set(self, table, epoch: int, rec: Record | None) -> None:
        """Hot and cold point lookups, each followed by ``status()`` (two
        samples per set of a call that costs about as much as a lookup), and
        the changes feed of ``epoch`` (MoR only: copy-on-write tables keep
        no feed)."""
        self._n_reads += 1
        n = self.inputs.n_convs
        cold = f"conv-{n - 1 - (self._n_reads * 7919) % (n // 2)}"
        timed = []
        for key in (HOT_KEY, cold):
            _, dt = self.op("lake.lookup", lambda k=key: force(table.lookup(k)))
            timed.append(("lookup_s", dt))
            _, dt = self.op("status.status", status, table)
            timed.append(("status_s", dt))
        if self.wl.mode == "mor":
            _, dt = self.op("lake.read_changes", lambda: force(table.read_changes(epoch, epoch)))
            timed.append(("changes_s", dt))
        if rec is not None:
            for name, dt in timed:
                getattr(rec, name).append(dt)

    def full_read(self, table, rec: Record) -> None:
        h, dt = self.op("lake.read", lambda: force(table.read()))
        rec.read_s.append(dt)
        rec.read_hashes.append(h)

    def _table(self, name: str):
        return create_transcripts_table(
            self.spark, os.path.join(self.work, name), n_buckets=N_BUCKETS, mode=self.wl.mode
        )

    # -- workloads -----------------------------------------------------------
    def warm_up(self) -> tuple[object, int]:
        """Same code paths at the measured size, untimed by the metrics.
        Returns the table the measured loop continues (tail) or None."""
        if self.wl.tail:
            table = self._table("table")
            self.replay(table, self.inputs.base_dir, 0, None, files_per_epoch=TAIL_BASE_FILES)
            n = 1 + TAIL_WARM_EPOCHS
            self.replay(table, self.inputs.warm_dir, 1, None)
            self.full_read(table, Record())
            self.read_set(table, TAIL_WARM_EPOCHS, None)
            return table, n
        warm = os.path.join(self.work, "warm")
        os.makedirs(warm)
        for i in CATCHUP_WARM_FILES:
            f = self.inputs.files[i]
            os.link(f, os.path.join(warm, os.path.basename(f)))
        table = self._table("warmup")
        self.replay(table, warm, 0, None)
        self.full_read(table, Record())
        self.read_set(table, len(CATCHUP_WARM_FILES) - 1, None)
        shutil.rmtree(table.path)
        shutil.rmtree(warm)
        return None, 0

    def measure(self, cycles: int, tail_table=None, first_epoch: int = 0) -> tuple[Record, object]:
        rec = Record()
        if self.wl.tail:
            table = tail_table
            walls: list[float] = []

            def after(st):
                if len(walls) % TAIL_READ_EVERY == 0:
                    self.read_set(table, int(st.epoch_id), rec)

            self.replay(table, self.inputs.log_dir, first_epoch, walls, after_epoch=after, rec=rec)
            rec.epoch_walls += walls
            rec.events_per_s.append(self.inputs.events / sum(walls))
            for _ in range(TAIL_READS):
                self.full_read(table, rec)
            return rec, table
        table = None
        for c in range(cycles):
            if table is not None:
                shutil.rmtree(table.path)
            table = self._table(f"table-{c}")
            walls = []
            self.replay(table, self.inputs.log_dir, 0, walls, rec=rec)
            rec.epoch_walls += walls
            rec.events_per_s.append(self.inputs.events / sum(walls))
            for _ in range(CATCHUP_READS):
                self.full_read(table, rec)
            self.read_set(table, CATCHUP_FILES - 1, rec)
        return rec, table

    def finish(self, table, rec: Record) -> None:
        """Table shape, then the correctness gates (untimed; call untraced)."""
        doc, snap_bytes = snapshot_doc(table.path)
        rec.snapshot_bytes = snap_bytes
        rec.table_bytes = sum(doc.get("file_sizes", {}).values())
        rec.data_files = sum(len(v) for v in doc["buckets"].values())
        g = rec.gates
        g["oracle_equal"] = matches_oracle(table, self.inputs.oracle)
        g["reads_agree"] = len(set(rec.read_hashes)) == 1
        epoch = table.last_committed_epoch
        before = rec.read_hashes[-1]  # the table is unchanged since
        batch = self.spark.read.option("mergeSchema", "true").parquet(self.inputs.files[-1])
        st, _ = self.op("pipeline.apply_changes", apply_changes, table, batch, epoch)
        after, _ = self.op("lake.read", lambda: force(table.read()))
        g["replay_noop"] = bool(st.was_noop) and before == after


def e2e_metrics(rec: Record, setup_s: float) -> tuple[dict, dict]:
    """End-to-end metrics, and the facts that qualify them."""
    med = statistics.median
    metrics = {
        "setup_s": (setup_s, "s"),
        "events_per_s": (med(rec.events_per_s), "1/s"),
        "epoch_s_p50": (med(rec.epoch_walls), "s"),
        "read_s": (med(rec.read_s), "s"),
        "lookup_s_p50": (med(rec.lookup_s), "s"),
        "status_s_p50": (med(rec.status_s), "s"),
        "table_mb": (rec.table_bytes / 1e6, "MB"),
    }
    facts = {
        "epochs": len(rec.epoch_walls),
        "epoch_s_max": max(rec.epoch_walls),
        "compactions": rec.compactions,
        "changes_feed_s_p50": med(rec.changes_s) if rec.changes_s else None,
        "samples": {
            "read": len(rec.read_s), "lookup": len(rec.lookup_s),
            "status": len(rec.status_s), "changes_feed": len(rec.changes_s),
        },
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, facts
