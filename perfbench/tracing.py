"""Spans around the engine's public calls, with Spark stage metrics per span.

A :class:`Tracer` keeps spans in memory. Each span gets its own Spark job
group, so every job the span's thread launches is tagged with it; after the
run, :meth:`Tracer.attach_stage_metrics` reads the jobs of each group from the
status tracker and sums their stages' metrics from the status store (this
works with ``spark.ui.enabled=false``). A span's stage metrics are inclusive:
its own group's jobs plus those of every span nested in it.

:func:`layer_spans` wraps the calls between the engine's layers for the
duration of a ``with`` block, without touching the engine's files:

* ``pipeline.apply_changes`` as the replay driver calls it,
* ``pipeline.compute_bucket_stats`` (the copy-on-write pre-pass),
* ``SnapshotTable.merge_changes`` (keeps the returned ``MergeStats``).
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: status-store stage fields summed per span (name -> StageData getter)
_STAGE_FIELDS = {
    "run_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "shuffle_write_b": "shuffleWriteBytes",
    "spill_b": "diskBytesSpilled",
    "output_b": "outputBytes",
    "failed_tasks": "numFailedTasks",
}


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    start: float
    end: float = 0.0
    #: free-form results of the wrapped call (e.g. ``MergeStats``)
    attrs: dict = field(default_factory=dict)
    #: own-group stage metrics, then made inclusive of child spans
    stages: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; one per traced run, used from one thread."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.spans: list[Span] = []
        self._open: list[Span] = []

    def _group(self, span_id: int) -> str:
        return f"perfbench-{span_id}"

    def begin(self, name: str) -> Span:
        parent = self._open[-1].span_id if self._open else None
        sp = Span(name, len(self.spans), parent, time.perf_counter())
        self.spans.append(sp)
        self._open.append(sp)
        self._sc.setJobGroup(self._group(sp.span_id), name, False)
        return sp

    def end(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        if self._open and self._open[-1] is sp:
            self._open.pop()
        if self._open:
            up = self._open[-1]
            self._sc.setJobGroup(self._group(up.span_id), up.name, False)
        else:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str):
        sp = self.begin(name)
        try:
            yield sp
        finally:
            self.end(sp)

    def children(self, sp: Span, name: str | None = None) -> list[Span]:
        return [
            c for c in self.spans
            if c.parent == sp.span_id and (name is None or c.name == name)
        ]

    def attach_stage_metrics(self) -> None:
        """Fill ``Span.stages`` (inclusive of nested spans) from the status
        store. Call once, after the traced work has finished."""
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self._sc.statusTracker()
        no_status = self._sc._jvm.java.util.ArrayList()
        no_quantiles = self._sc._gateway.new_array(self._sc._jvm.double, 0)
        for sp in self.spans:
            tot = dict.fromkeys(_STAGE_FIELDS, 0)
            tot["jobs"] = 0
            for job in tracker.getJobIdsForGroup(self._group(sp.span_id)):
                info = tracker.getJobInfo(job)
                if info is None:
                    continue
                tot["jobs"] += 1
                for stage in info.stageIds:
                    attempts = store.stageData(
                        stage, False, no_status, False, no_quantiles
                    )
                    for i in range(attempts.size()):
                        d = attempts.apply(i)
                        for k, getter in _STAGE_FIELDS.items():
                            tot[k] += int(getattr(d, getter)())
            sp.stages = tot
        # children were appended after their parent: fold bottom-up
        for sp in reversed(self.spans):
            if sp.parent is not None:
                up = self.spans[sp.parent].stages
                for k, v in sp.stages.items():
                    up[k] += v


@contextmanager
def layer_spans(tracer: Tracer):
    """Record a span around each call that crosses a layer boundary of the
    replay path while the block runs; restore the originals after."""
    import mas_scada_bulkingest_spark.pipeline as pipeline
    import mas_scada_bulkingest_spark.streaming.driver as driver
    from mas_scada_bulkingest_spark.lake.snapshot_table import SnapshotTable

    apply_changes = driver.apply_changes
    bucket_stats = pipeline.compute_bucket_stats
    merge_changes = SnapshotTable.merge_changes

    def traced_apply(*args, **kwargs):
        with tracer.span("pipeline.apply_changes"):
            return apply_changes(*args, **kwargs)

    def traced_bucket_stats(*args, **kwargs):
        with tracer.span("pipeline.compute_bucket_stats"):
            return bucket_stats(*args, **kwargs)

    def traced_merge(self, *args, **kwargs):
        with tracer.span("lake.merge_changes") as sp:
            st = merge_changes(self, *args, **kwargs)
            sp.attrs["stats"] = st
            return st

    driver.apply_changes = traced_apply
    pipeline.compute_bucket_stats = traced_bucket_stats
    SnapshotTable.merge_changes = traced_merge
    try:
        yield tracer
    finally:
        driver.apply_changes = apply_changes
        pipeline.compute_bucket_stats = bucket_stats
        SnapshotTable.merge_changes = merge_changes


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(tracer: Tracer, rec, events_in: int, input_bytes: int,
                  cycles: int, cores: int) -> dict:
    """Per-layer metrics of one traced run, named by module. Times are means
    per epoch (driver, pipeline, merge phases) or per call (read surface)."""
    epochs = [s for s in tracer.spans if s.name == "driver.epoch"]
    applies = [a for e in epochs for a in tracer.children(e, "pipeline.apply_changes")]
    merges = [m for a in applies for m in tracer.children(a, "lake.merge_changes")]
    prepass = [p for a in applies for p in tracer.children(a, "pipeline.compute_bucket_stats")]
    stats = [m.attrs["stats"] for m in merges]
    timings = [st.timings or {} for st in stats]
    n = max(1, len(epochs))

    out = {
        "driver.epoch_read_s": (
            _mean(e.wall - sum(a.wall for a in tracer.children(e, "pipeline.apply_changes"))
                  for e in epochs), "s"),
        "pipeline.apply_self_s": (
            _mean(a.wall - sum(c.wall for c in tracer.children(a)) for a in applies), "s"),
        "pipeline.prepass_s": (sum(p.wall for p in prepass) / n, "s"),
        "lww.rows_out_per_event": (
            sum(st.applied + st.skipped + st.deleted for st in stats) / events_in, "ratio"),
        "lake.merge.unaccounted_s": (
            _mean(m.wall - sum(t.values()) for m, t in zip(merges, timings)), "s"),
    }
    for phase in ("write", "lineage_stats", "commit", "compact"):
        out[f"lake.merge.{phase}_s"] = (_mean(t.get(phase, 0.0) for t in timings), "s")

    calls = {
        "lake.merge": merges,
        "lake.read": [s for s in tracer.spans if s.name == "lake.read"],
        "lake.lookup": [s for s in tracer.spans if s.name == "lake.lookup"],
    }
    for name, spans in calls.items():
        wall = sum(s.wall for s in spans)
        run_s = sum(s.stages["run_ms"] for s in spans) / 1e3
        out[f"{name}.executor_run_s"] = (_mean(s.stages["run_ms"] / 1e3 for s in spans), "s")
        out[f"{name}.executor_cpu_s"] = (_mean(s.stages["cpu_ns"] / 1e9 for s in spans), "s")
        out[f"{name}.core_busy"] = (run_s / (wall * cores) if wall else 0.0, "ratio")
        out[f"{name}.shuffle_write_mb"] = (
            _mean(s.stages["shuffle_write_b"] / 1e6 for s in spans), "MB")
        out[f"{name}.spill_mb"] = (_mean(s.stages["spill_b"] / 1e6 for s in spans), "MB")
        out[f"{name}.jobs"] = (_mean(s.stages["jobs"] for s in spans), "count")
        out[f"{name}.failed_tasks"] = (sum(s.stages["failed_tasks"] for s in spans), "count")

    status_spans = [s for s in tracer.spans if s.name == "status.status"]
    out["status.executor_run_s"] = (_mean(s.stages["run_ms"] / 1e3 for s in status_spans), "s")
    out["status.jobs"] = (_mean(s.stages["jobs"] for s in status_spans), "count")

    out["lake.snapshot_kb"] = (rec.snapshot_bytes / 1024, "KB")
    out["lake.data_files"] = (rec.data_files, "count")
    out["lake.max_files_per_bucket"] = (rec.max_files_per_bucket, "count")
    out["lake.compactions"] = (sum("compact" in t for t in timings), "count")
    out["lake.write_amp"] = (
        sum(m.stages["output_b"] for m in merges) / (input_bytes * cycles), "ratio")
    out["sources.input_mb"] = (input_bytes / 1e6, "MB")
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}
