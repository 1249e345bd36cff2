"""Layered CDC-replay benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload mor_tail --seed 1 --seconds 10 --trace 0

Run from the repository root. With ``--trace 0`` the last stdout line holds
every end-to-end metric of ``BENCHMARK.json``; with ``--trace 1`` the same
work runs with a span around each layer call and the line holds every
per-layer metric instead. The line before it holds the run's facts: seed,
host (cores, load, CPU steal, Spark/Java/Python versions), set-up steps,
gate results and sample counts. See ``perfbench/README.md``.

Spark runs in this process's JVM as ``local[N]`` with N the usable CPUs. All
scratch files live under ``.perfbench_work/`` in the repository and are
deleted when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import re
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def load_spec() -> dict:
    """BENCHMARK.json, with every metric and workload name checked."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    bad = [n for n in names if not NAME_RE.fullmatch(n)]
    if bad or len(set(names)) != len(names):
        raise ValueError(f"BENCHMARK.json names must be unique and match {NAME_RE.pattern}: {bad}")
    return spec


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat; (0, 0) where unavailable."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def usable_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def pid_alive(pid: str) -> bool:
    try:
        os.kill(int(pid), 0)
    except (ValueError, ProcessLookupError):
        return False
    except PermissionError:
        return True
    return True


def start_session(work: str, cores: int):
    from mas_scada_bulkingest_spark.streaming.driver import build_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp  # py4j handshake files and the JVM's children
    spark = build_session(
        app_name="perfbench",
        cores=cores,
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "10000",
            "spark.ui.retainedStages": "20000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = load_spec()
    if not os.path.isdir(os.path.join(ROOT, "mas_scada_bulkingest_spark")):
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads as W  # noqa: E402  (needs the engine on sys.path)
    import tracing  # noqa: E402

    wl = W.WORKLOADS.get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    plan = W.plan(wl, args.seconds)
    cores = usable_cpus()
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    for stale in os.listdir(base):
        if not pid_alive(stale.rpartition("-")[2]):  # left by a killed run
            shutil.rmtree(os.path.join(base, stale), ignore_errors=True)
    work = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(work)

    steal0, total0 = cpu_times()
    facts = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "plan": plan,
        "host": {
            "nproc": cores, "loadavg_start": os.getloadavg(),
            "python": platform.python_version(),
            "note": "BENCH_r05 ran on 32 cores with another harness: not comparable",
        },
    }
    spark = None
    correct = False
    metrics: dict = {}
    runner = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, cores)
        session_s = time.perf_counter() - t0
        facts["host"]["spark"] = spark.version
        facts["host"]["java"] = spark.sparkContext._jvm.System.getProperty("java.version")

        inputs, prep = W.make_inputs(work, wl, args.seed, plan["epochs"])
        runner = W.Runner(spark, work, wl, inputs)
        t0 = time.perf_counter()
        tail_table, first_epoch = runner.warm_up()
        warmup_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(prep["gen_s"]) + prep["oracle_s"] + warmup_s
        facts["setup"] = {"session_s": session_s, **prep, "warmup_s": warmup_s}
        facts["events_per_cycle"] = inputs.events

        tracer = tracing.Tracer(spark) if args.trace else None
        runner.tracer = tracer
        if tracer is None:
            rec, table = runner.measure(plan["cycles"], tail_table, first_epoch)
        else:
            with tracing.layer_spans(tracer):
                rec, table = runner.measure(plan["cycles"], tail_table, first_epoch)
        runner.tracer = None
        runner.finish(table, rec)
        correct = all(rec.gates.values()) and runner.failed == 0
        e2e, more = W.e2e_metrics(rec, setup_s)
        facts.update(more, gates=rec.gates)
        if tracer is None:
            metrics = e2e
        else:
            tracer.attach_stage_metrics()
            metrics = tracing.layer_metrics(
                tracer, rec, inputs.events * plan["cycles"], inputs.input_bytes,
                plan["cycles"], cores,
            )
            metrics["trace.events_per_s"] = e2e["events_per_s"]
    except Exception:
        traceback.print_exc()
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(base):
            os.rmdir(base)

    steal1, total1 = cpu_times()
    facts["host"]["loadavg_end"] = os.getloadavg()
    facts["host"]["cpu_steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    attempted = runner.attempted if runner else 0
    failed = runner.failed if runner else 0
    facts["ops_failed_frac"] = failed / attempted if attempted else None
    if not metrics:
        print(json.dumps({"perfbench": facts}))
        return 1  # nothing measured: no result line
    want = {m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    if set(metrics) != want:
        raise RuntimeError(f"metric set differs from BENCHMARK.json: {sorted(set(metrics) ^ want)}")
    print(json.dumps({"perfbench": facts}))
    print(json.dumps({
        "correct": bool(correct), "attempted": max(1, attempted),
        "failed": failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
