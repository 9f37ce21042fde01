#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload daily --seed 1 --seconds 10 --trace 0

Run from the repository root.  One run generates the workload's inputs
from ``--seed``, starts a fresh Spark JVM on ``local[<cores>]`` through
``anomaly_detection_spark.session.get_spark``, runs one unchecked warm-up
step, then timed steps until ``--seconds`` of step time are spent,
checking every step's output.  The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json.
``--trace 1`` then switches on the Spark event log and a job group per
span, measures again, isolates the sources layer, measures untraced
once more (the overhead reference), runs a ``local[1]`` baseline and
reports the per-layer metrics instead; spans go to ``.bench_out/``.
Everything else the run writes lives under ``.bench_work/`` in the
checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args():
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def start_spark(cores: int):
    from anomaly_detection_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop Spark and the JVM behind it, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def measure(wl, spark, tracer, seconds: float, keep_rdds: set[int]) -> list:
    """Timed steps on the main input until ``seconds`` of step time are
    spent (at least one), each output checked.  Returns (span, result,
    errors) per step."""
    wl.use("main")
    steps, spent = [], 0.0
    while spent < seconds or not steps:
        with tracer.span("step") as span:
            res = wl.step(spark, tracer)
        try:
            errs = wl.check(spark, res)
        except Exception as e:  # a malformed output fails its check
            errs = [f"check raised {e!r}"]
        if errs:
            log(f"step {len(steps)} check failed: {errs}")
        steps.append((span, res, errs))
        spent += span["end"] - span["start"]
        wl.cleanup(spark, keep_rdds)
    return steps


def warm_up(wl, spark, keep_rdds: set[int]) -> None:
    """An unchecked step on the warm-up input: class loading, code
    generation, JIT and Python worker start land here, not in the
    timed steps."""
    from tracing import Tracer

    wl.use("warm")
    wl.step(spark, Tracer())
    wl.cleanup(spark, keep_rdds)


def step_samples(wl, steps) -> tuple[list[float], list[float]]:
    """(step seconds, batch milliseconds).  A stream step's batches are
    its micro-batches; any other step is one batch."""
    secs = [s["end"] - s["start"] for s, _, _ in steps]
    if hasattr(wl, "batch_ms"):
        batches = [b for _, res, _ in steps for b in wl.batch_ms(res)]
    else:
        batches = [x * 1000.0 for x in secs]
    return secs, batches


def end_to_end(wl, steps, setup_s: float, peak_kb: int) -> tuple[dict, str]:
    from tracing import tail_percentile

    secs, batches = step_samples(wl, steps)
    if hasattr(wl, "batch_ms"):
        # a stream step is one drain: rate over each drain's wall time
        rate = statistics.median(wl.items / s for s in secs)
    else:
        rate = wl.items / statistics.median(secs)
    tail_name, tail = tail_percentile(batches)
    return {
        "setup_s": setup_s,
        "items_per_s": rate,
        "batch_ms_p50": statistics.median(batches),
        "batch_ms_tail": tail,
        "peak_rss_mb": peak_kb / 1024.0,
    }, tail_name


def session_layers(log_, tracer, steps, cores: int) -> dict:
    per = []
    for span, _, _ in steps:
        # a stream's batches run in the job group of the query's run id
        groups = tracer.subtree_ids(span) | {
            s["stream_group"] for s in tracer.subtree(span) if "stream_group" in s}
        t = log_.totals(groups)
        wall = span["end"] - span["start"]
        per.append({
            "spark.jobs": t["jobs"], "spark.stages": t["stages"], "spark.tasks": t["tasks"],
            "spark.sched_delay_s": t["sched_ms"] / 1000.0,
            "spark.gc_s": t["gc_ms"] / 1000.0,
            "spark.core_busy_frac": t["run_ms"] / 1000.0 / (cores * wall),
        })
    return {k: statistics.median(p[k] for p in per) for k in per[0]}


def restart(spark, cores: int, log_dir: str | None):
    """A new SparkContext in the same JVM, writing its event log to
    ``log_dir`` (none when None).  The JVM's system properties seed
    each new SparkConf."""
    props = spark.sparkContext._jvm.java.lang.System
    if log_dir is None:
        props.clearProperty("spark.eventLog.enabled")
    else:
        os.makedirs(log_dir, exist_ok=True)
        props.setProperty("spark.eventLog.enabled", "true")
        props.setProperty("spark.eventLog.compress", "false")
        props.setProperty("spark.eventLog.dir", "file://" + log_dir)
    spark.stop()
    return start_spark(cores)


def traced(wl, spark, args, cores: int, work: str, untraced_steps) -> tuple:
    """The traced half of a ``--trace 1`` run; returns (spark, metrics,
    all traced steps).

    Order: traced window, then a second untraced window in a fresh
    SparkContext without the event log, so the overhead compares the
    traced steps with untraced ones run both before and after them.
    """
    from tracing import EventLog, Tracer
    from anomaly_detection_spark.pipeline.similarity import persistent_rdd_ids

    def fresh(n: int, log_dir: str | None):
        nonlocal spark
        spark = restart(spark, n, log_dir)
        keep = persistent_rdd_ids(spark)
        warm_up(wl, spark, keep)
        return keep

    logs = {n: os.path.join(work, "eventlog", str(n)) for n in (cores, 1)}
    keep = fresh(cores, logs[cores])
    tracer = Tracer(spark, enabled=True)
    steps = measure(wl, spark, tracer, args.seconds, keep)
    probes = wl.probes(spark, tracer)
    wl.cleanup(spark, keep)

    keep = fresh(cores, None)
    after = measure(wl, spark, Tracer(), args.seconds, keep)

    # single-core baseline
    keep = fresh(1, logs[1])
    tracer1 = Tracer(spark, enabled=True)
    steps1 = measure(wl, spark, tracer1, 0, keep)
    spark.stop()  # flushes the event log

    secs_t, _ = step_samples(wl, steps)
    untraced = [statistics.median(step_samples(wl, w)[0]) for w in (untraced_steps, after)]
    out = {"trace.overhead_frac": statistics.median(secs_t) / statistics.mean(untraced) - 1.0}
    ev, ev1 = EventLog(logs[cores]), EventLog(logs[1])
    out.update(wl.layers(ev, tracer, [(s, r) for s, r, _ in steps], probes))
    out.update(session_layers(ev, tracer, steps, cores))
    out["spark.local1_core_busy_frac"] = session_layers(ev1, tracer1, steps1, 1)["spark.core_busy_frac"]
    secs1, _ = step_samples(wl, steps1)
    out["spark.local1_speedup"] = statistics.median(secs1) / statistics.median(secs_t)
    for t, tag in ((tracer, f"{cores}c"), (tracer1, "1c")):
        t.dump(os.path.join(ROOT, ".bench_out", f"spans-{wl.name}-{args.seed}-{tag}.jsonl"))
    return spark, out, steps + after + steps1


def main() -> int:
    t_start = time.perf_counter()
    sys.path.insert(0, ROOT)
    # fails fast, before any work, where the package is absent
    from anomaly_detection_spark.pipeline.similarity import persistent_rdd_ids
    from tracing import TreeRss, Tracer
    from workloads import WORKLOADS

    args = parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "SPARK_DRIVER_MEM": "2g",
        # Python workers unpickle functions from the package
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "PYSPARK_SUBMIT_ARGS": (f"--driver-java-options -Djava.io.tmpdir={tmp} "
                                "--conf spark.ui.showConsoleProgress=false pyspark-shell"),
    })
    spark = None
    try:
        wl = WORKLOADS[args.workload](args.seed, work)
        sizes = wl.prepare()
        t_gen = time.perf_counter()
        spark = start_spark(cores)
        keep = persistent_rdd_ids(spark)
        t_jvm = time.perf_counter()
        warm_up(wl, spark, keep)
        setup_s = time.perf_counter() - t_start
        log(f"{wl.name} seed={args.seed} cores={cores} inputs={sizes} set-up: "
            f"generate {t_gen - t_start:.1f} s, start {t_jvm - t_gen:.1f} s, "
            f"warm-up {t_start + setup_s - t_jvm:.1f} s")
        with TreeRss() as rss:
            steps = measure(wl, spark, Tracer(), args.seconds, keep)
        all_steps = list(steps)
        if args.trace:
            spark, metrics, traced_steps = traced(wl, spark, args, cores, work, steps)
            all_steps += traced_steps
            wanted = spec["per_layer"]
            metrics = {m["name"]: float(metrics.get(m["name"], 0.0)) for m in wanted}
            info = {}
        else:
            wanted = spec["end_to_end"]
            metrics, tail_name = end_to_end(wl, steps, setup_s, rss.peak_kb)
            info = {"batch_ms_tail": tail_name}
        failed = sum(1 for _, _, errs in all_steps if errs)
        print(json.dumps({"workload": wl.name, "seed": args.seed, "cores": cores,
                          "inputs": sizes, "items_per_step": wl.items, "unit": wl.unit,
                          "steps": len(steps), "failed_frac": failed / len(all_steps),
                          **info}))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": len(all_steps),
            "failed": failed,
            "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                        for m in wanted},
        }))
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
