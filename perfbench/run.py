#!/usr/bin/env python3
"""Benchmark of the oracle_cassandra_migrator_spark engine.

    python3 perfbench/run.py --workload migrate|curate|all \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. One workload per process, on
``local[nproc]``, driven by one closed-loop client. ``--trace 0`` prints
the end-to-end metrics; ``--trace 1`` alternates untraced iterations
with iterations traced by timing wrappers, keeps Spark's event log, and
prints the per-layer metrics. The last stdout line is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The exit code is
0 only when every correctness check passed and no attempt failed.
``--workload all`` runs both workloads one after another, each in its
own process, and prints their metrics prefixed by workload name.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import math
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# an untraced run measures at least this many iterations, however long
# they take, so its median never rests on one or two samples
MIN_ITERATIONS = 3
# a traced run alternates untraced and traced iterations, at least this
# many of each
TRACED_PAIRS = 2
# largest share of CPU time the hypervisor may steal during an iteration
# whose time is kept (a quiet host steals well under 1 %)
STEAL_LIMIT = 0.05
WORKLOADS = ("migrate", "curate")
T0 = time.perf_counter()


def note(what: str) -> None:
    """A progress line on stderr, stamped with seconds since start."""
    print(f"# {time.perf_counter() - T0:7.2f}s {what}", file=sys.stderr, flush=True)


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="measuring time of one run")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def calibrate(spark) -> float:
    """A fixed job whose time tracks the host, not this repository's
    code: the shape of bench.py's ``calibrate`` (shuffle + aggregation
    of synthetic rows) at 2M rows in 8 partitions instead of 20M in 32,
    which is what the benchmark's time budget leaves room for."""
    start = time.perf_counter()
    (spark.range(2_000_000, numPartitions=8)
     .selectExpr("id % 100000 AS k", "id AS v")
     .groupBy("k").sum("v")
     .write.format("noop").mode("overwrite").save())
    return time.perf_counter() - start


def measure(workload, seconds: float, at_least: int,
            around=lambda i: contextlib.nullcontext()) -> dict[int, float]:
    """Closed loop: start iterations, each inside ``around(i)``, until
    ``seconds`` have passed and ``at_least`` were measured. Returns the
    timings of the iterations that succeeded, by iteration id.

    An iteration during which the hypervisor stole more than
    ``STEAL_LIMIT`` of the CPU time is set aside and another one is
    started, for at most ``seconds / 2`` longer: its time tells more
    about the host than about the program. When too few others were
    measured, the least disturbed set-aside timings fill the gap."""
    from perfbench.stats import cpu_ticks

    clean, disturbed = {}, []
    i, start = 0, time.perf_counter()
    while True:
        elapsed = time.perf_counter() - start
        if len(clean) >= at_least and elapsed >= seconds:
            break
        if i >= at_least and elapsed >= 1.5 * seconds:
            break
        steal0, ticks0 = cpu_ticks()
        with around(i):
            wall = workload.run_iteration(i)
        steal1, ticks1 = cpu_ticks()
        stolen = (steal1 - steal0) / max(1, ticks1 - ticks0)
        note(f"iteration {i}: {'failed' if wall is None else f'{wall:.3f}s'}, "
             f"{stolen:.1%} stolen")
        if wall is not None and stolen <= STEAL_LIMIT:
            clean[i] = wall
        elif wall is not None:
            disturbed.append((stolen, i, wall))
        i += 1
    for _, j, wall in sorted(disturbed)[:max(0, at_least - len(clean))]:
        clean[j] = wall
    return clean


def stop_spark(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit (it exits when the
    pipe to its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run_one(args: argparse.Namespace) -> dict:
    from perfbench import layers, stats, tracing
    from perfbench.workloads import WORKLOAD_CLASSES, Context

    loadavg = os.getloadavg()[0]
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    ctx = Context(seed=args.seed, cores=cores, work=work)
    wl = WORKLOAD_CLASSES[args.workload](ctx)
    wl.make_inputs()
    note("inputs made")
    gc.collect()
    stats.reset_peak_rss()

    # Spark runs from the scratch directory, so derby.log, metastore_db
    # and spark-warehouse land there and are removed with it
    os.chdir(work)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    conf = {
        "spark.sql.shuffle.partitions": str(cores),
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    event_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(event_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false",
                     # task ends then carry the executor's memory peaks
                     "spark.executor.metrics.pollingInterval": "100ms"})
    from oracle_cassandra_migrator_spark.session import build_session

    start = time.perf_counter()
    spark = build_session(app_name=f"perfbench-{args.workload}",
                          master=f"local[{cores}]", conf=conf)
    session_s = time.perf_counter() - start
    note(f"session built in {session_s:.2f}s")
    spark.sparkContext.setLogLevel("ERROR")
    ctx.spark = spark
    try:
        wl.prepare()
        note("prepared")
        setup_s = session_s + wl.warm_up()
        note(f"warmed up; setup {setup_s:.2f}s")
        calibrate(spark)  # its own first run pays codegen; not a host reading
        calib_before = calibrate(spark)
        steal0, ticks0 = stats.cpu_ticks()
        note(f"calibrated {calib_before:.2f}s")
        if args.trace:
            # odd iterations traced, even ones not: the overhead estimate
            # then does not depend on how far the JVM has warmed up
            tracer = tracing.Tracer(spark, args.workload)
            timed = measure(wl, args.seconds, 2 * TRACED_PAIRS, lambda i: (
                tracing.traced(ctx, tracer) if i % 2 else contextlib.nullcontext()))
            traced_ids = [i for i in timed if i % 2]
            walls = [timed[i] for i in traced_ids]
            plain = [w for i, w in timed.items() if i % 2 == 0]
            with tracing.traced(ctx, tracer):
                wl.after_loop()
            groups = {gid: tracing.status_tracker_counts(spark, gid)
                      for gid in tracer.group_wall}
        else:
            walls = list(measure(wl, args.seconds, MIN_ITERATIONS).values())
            wl.after_loop()
        note("measured")
        steal1, ticks1 = stats.cpu_ticks()
        steal_share = (steal1 - steal0) / max(1, ticks1 - ticks0)
        if wl.resume_walls:
            note("resume reruns: " + ", ".join(f"{w:.3f}s" for w in wl.resume_walls))
        calib_after = calibrate(spark)
        rss = stats.peak_rss_mb()
        problems = wl.check()
        note("checked")
    finally:
        stop_spark(spark)
        os.chdir(ROOT)
        note("stopped")

    wall, n = stats.median_with_count(walls)
    if args.trace:
        (log_name,) = os.listdir(event_dir)  # one application, one file
        with open(os.path.join(event_dir, log_name), encoding="utf-8") as fh:
            events = tracing.aggregate_event_log(fh)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.spans.jsonl"))
        run_level = {
            "resume.wall_s": layers.median_or_zero(wl.resume_walls),
            "session.build_s": session_s,
            "host.calib_before_s": calib_before,
            "host.calib_after_s": calib_after,
            "host.loadavg": loadavg,
            "host.steal_share": steal_share,
            "trace.overhead_s": wall - stats.median_with_count(plain)[0],
            "failed_ratio": wl.attempts.failed_ratio(),
        }
        metrics = layers.per_layer_values(tracer, traced_ids, wl.resume_ids,
                                          wl.iteration_stats, groups, events,
                                          cores, run_level)
        units = {name: unit for name, unit, _ in layers.per_layer_catalogue()}
        counts = {name: len(wl.resume_ids) if name.startswith(("resume.", "spark.resume."))
                  else 1 if name in run_level or name == "spark.failed_tasks"
                  else len(traced_ids) for name in units}
    else:
        metrics = {"wall_p50_s": wall, "setup_s": setup_s, "peak_rss_mb": rss}
        units = {name: unit for name, unit, _ in layers.END_TO_END}
        counts = {"wall_p50_s": n, "setup_s": 1, "peak_rss_mb": 1}
    for p in problems:
        print(f"# check failed: {p}", file=sys.stderr)
    print(f"# host: calib {calib_before:.3f}s before, {calib_after:.3f}s after; "
          f"loadavg {loadavg:.2f} at start, {os.getloadavg()[0]:.2f} at end; "
          f"{steal_share:.1%} of CPU time stolen while measuring", file=sys.stderr)
    return {
        "correct": not problems and all(math.isfinite(v) for v in metrics.values()),
        "attempted": wl.attempts.attempted + 1,  # + the run's correctness check
        "failed": wl.attempts.failed + bool(problems),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        "samples": counts,
    }


def run_all(args: argparse.Namespace) -> dict:
    """Each workload in its own process, as the single-workload runs are."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}, "samples": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode not in (0, 1) or len(lines) < 2:
            raise RuntimeError(f"{name} exited with {proc.returncode}")
        res = json.loads(lines[-1])
        counts = json.loads(lines[-2])["samples"]
        merged["correct"] &= res["correct"] and proc.returncode == 0
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            merged["metrics"][f"{name}.{k}"] = v
            merged["samples"][f"{name}.{k}"] = counts[k]
    return merged


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "oracle_cassandra_migrator_spark",
                                       "pipeline.py")):
        print("perfbench: the oracle_cassandra_migrator_spark package is not "
              f"beside {os.path.dirname(os.path.abspath(__file__))}; run from a "
              "full checkout", file=sys.stderr)
        return 2
    # the package and this directory import from the checkout, and the
    # JVM-spawned Python workers inherit the same path
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    if args.workload == "all":
        result = run_all(args)
    else:
        try:
            result = run_one(args)
        finally:
            shutil.rmtree(os.path.join(ROOT, ".perfbench_work",
                                       f"{args.workload}-{os.getpid()}"),
                          ignore_errors=True)
            try:
                os.rmdir(os.path.join(ROOT, ".perfbench_work"))
            except OSError:
                pass
    # the result line has exactly the four keys of the benchmark
    # contract, so the sample counts go on the line before it
    samples = result.pop("samples")
    for name, m in result["metrics"].items():
        print(f"{name:48s} {m['value']:>16.6g} {m['unit']:<6s} n={samples[name]}")
    print(json.dumps({"samples": samples}))
    print(json.dumps(result))
    return 0 if result["correct"] and result["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
