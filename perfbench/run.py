"""Security-lake benchmark: one workload per run.

    python3 perfbench/run.py --workload {ingest,analyze,...}
        --seed N --seconds S --trace {0,1}

Generates the workload's inputs from the seed, sets up (Spark session,
inputs, lake landing, warm-up), runs the workload closed-loop through
the program's public API, checks every output against an independent
answer, and prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. S seconds buy
round(S / unit_s) units of the workload's fixed operation mix, at
least one, so every run of a workload does the same operations. With
--trace 0 the metrics are the end-to-end metrics; with --trace 1 the
run measures those units untraced and then again traced, and the
metrics are the per-layer metrics (see report.py). A JSON line before
it records the run's details (nproc, CPU steal, seed, p50, tail
percentile and samples, the workload's own metric names, failures).

Run from the repository root. Everything written goes under
perfbench/.work (removed at exit) and perfbench/out (span files and
reports).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)

END_TO_END = (("setup_s", "s"), ("work_per_s", "1/s"), ("op_geomean_s", "s"), ("peak_rss_mb", "MB"))
# the workload's own names for the generic end-to-end metrics
ISSUE_NAMES = {
    "ingest": ("events_per_s", "batch_p50_s", "batch_tail_s"),
    "ingest_malformed": ("events_per_s", "batch_p50_s", "batch_tail_s"),
    "detect": ("events_per_s", "batch_p50_s", "batch_tail_s"),
    "hunt": ("queries_per_s", "query_p50_s", "query_tail_s"),
    "curate": ("docs_per_s", "stage_p50_s", "stage_tail_s"),
    "analyze": ("ops_per_s", "op_p50_s", "op_tail_s"),
}


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(ISSUE_NAMES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def stop_spark(spark, procs) -> None:
    """Stop the session, let the JVM exit, and wait for every process
    it started; anything still alive after the grace period is killed."""
    from pyspark import SparkContext

    from perfbench import procstat

    tree = procstat.descendants(procs.jvm_pid) if procs else []
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - fall through to the kill below
                proc.kill()
                proc.wait(timeout=10)
        deadline = time.time() + 10
        for pid in tree:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass


def attach_spark_readings(bench) -> None:
    """Traced run: each span runs its Spark jobs under its own job group,
    so statusTracker attributes jobs, stages and tasks to it; op and
    transform spans also read JVM and Python-worker CPU from /proc."""
    sc = bench.spark.sparkContext
    tracker = sc.statusTracker()
    tracer, procs = bench.tracer, bench.procs

    def cpu_reading():
        jvm, workers = procs.cpu()
        return jvm, workers, time.process_time()

    def on_enter(s):
        sc.setJobGroup(f"perfbench-{s.sid}", s.name)
        if s.name.startswith("op.") or s.name == "transform.exec":
            s.cpu0 = cpu_reading()

    def on_exit(s, parent):
        jobs = tracker.getJobIdsForGroup(f"perfbench-{s.sid}")
        stages = tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for st in (info.stageIds if info else ()):
                stages += 1
                si = tracker.getStageInfo(st)
                tasks += si.numTasks if si else 0
        s.counts.update(spark_jobs=len(jobs), spark_stages=stages, spark_tasks=tasks)
        if hasattr(s, "cpu0"):
            jvm, workers, drv = cpu_reading()
            s.counts["jvm_cpu_s"] = jvm - s.cpu0[0]
            s.counts["pyworker_cpu_s"] = workers - s.cpu0[1]
            s.counts["cpu_s"] = (jvm - s.cpu0[0]) + (workers - s.cpu0[1]) + (drv - s.cpu0[2])
            del s.cpu0
        if parent is not None:
            sc.setJobGroup(f"perfbench-{parent.sid}", parent.name)
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)

    tracer.on_enter, tracer.on_exit = on_enter, on_exit


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(REPO, "matano_spark")):
        print(f"perfbench: no matano_spark package under {REPO}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)

    from perfbench import harness, procstat, report
    from perfbench.trace import Tracer, format_table
    from perfbench.workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(BENCH_DIR, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(BENCH_DIR, "out")
    os.makedirs(out_dir, exist_ok=True)
    harness.pin_environment(work)
    steal0 = procstat.cpu_times()

    units = max(1, round(args.seconds / WORKLOADS[args.workload].unit_s))
    bench = harness.Bench(
        workload=args.workload, seed=args.seed,
        units=units * (2 if args.trace else 1), work=work, cores=cores,
        t_process=harness.process_start_epoch(), tracer=Tracer(enabled=False),
    )
    spark = procs = rss = None
    try:
        from pyspark import SparkContext

        from matano_spark.session import get_spark

        spark = bench.spark = get_spark(f"perfbench-{args.workload}", cpus=cores)
        procs = bench.procs = procstat.SparkProcs(SparkContext._gateway.proc.pid)
        wl = WORKLOADS[args.workload](bench)
        wl.setup()
        setup_s = time.time() - bench.t_process
        rss = procstat.PeakRss(procs).start()  # the timed region only
        cpu0 = sum(procs.cpu()) + time.process_time()
        count_ops = getattr(wl, "count_ops", False)

        extra: dict = {}
        if args.trace:
            # untraced, then traced: the difference is the overhead
            wall_u = harness.run_units(bench, wl.next_unit, wl.clients, units)
            untraced = harness.summarize(bench.ops, wall_u, count_ops)
            all_ops, bench.ops = bench.ops, []
            from perfbench import layers

            attach_spark_readings(bench)
            bench.tracer.enabled = True
            uninstall = layers.install(bench.tracer)
            try:
                wall = harness.run_units(bench, wl.next_unit, wl.clients, units)
            finally:
                uninstall()
                bench.tracer.enabled = False
            traced_ops = bench.ops
            bench.ops = all_ops + traced_ops
            summary_t = harness.summarize(traced_ops, wall, count_ops)
            extra["trace_overhead_ratio"] = summary_t["geomean_s"] / untraced["geomean_s"] - 1
        else:
            wall = harness.run_units(bench, wl.next_unit, wl.clients, units)
        timed_cpu_s = sum(procs.cpu()) + time.process_time() - cpu0
        problems = wl.check()
        rss.stop()
        summary = harness.summarize(traced_ops if args.trace else bench.ops, wall, count_ops)
        totals = harness.summarize(bench.ops, wall, count_ops)
        by_kind = {
            kind: harness.summarize([o for o in bench.ops if o.kind == kind], wall)
            for kind in sorted({o.kind for o in bench.ops})
        }
    finally:
        if rss is not None:
            rss.stop()
        if spark is not None:
            stop_spark(spark, procs)
        shutil.rmtree(work, ignore_errors=True)

    steal = procstat.steal_pct(steal0, procstat.cpu_times())
    tput, p50, tailn = ISSUE_NAMES[args.workload]
    details = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "units": units, "trace": args.trace, "nproc": cores, "cpu_steal_pct": round(steal, 3),
        tput: summary["items_per_s"], p50: summary["p50_s"], tailn: summary["tail_s"],
        "op_geomean_s": summary["geomean_s"],
        "tail_percentile": summary["tail_pct"], "tail_samples": summary["samples"],
        "timed_cpu_s": timed_cpu_s,
        "failed_ratio": totals["failed"] / max(totals["attempted"], 1),
        "by_kind": by_kind,
        "problems": problems[:10],
        "errors": [o.error for o in bench.ops if o.error][:5],
        "ops": [[o.op_id, round(o.latency, 4), o.ok] for o in bench.ops],
        **bench.details, **extra,
    }
    correct = not problems and totals["failed"] == 0
    if args.trace:
        n_ops = sum(1 for o in traced_ops if o.timed)
        layer = report.per_layer(bench.tracer.spans, cores, n_ops, {**bench.details, **extra})
        metrics = {k: {"value": layer[k], "unit": report.unit_of(k)} for k in report.PER_LAYER}
        stem = os.path.join(out_dir, f"{args.workload}-{args.seed}")
        bench.tracer.write(stem + ".spans.jsonl")
        from perfbench.trace import layer_table

        table = format_table(layer_table(bench.tracer.spans))
        with open(stem + ".layers.txt", "w") as f:
            f.write(table + "\n")
        print(table)
    else:
        values = (setup_s, summary["items_per_s"], summary["geomean_s"], rss.peak / 2**20)
        metrics = {
            name: {"value": v, "unit": unit}
            for (name, unit), v in zip(END_TO_END, values)
        }
    details["setup_s"] = setup_s
    print(json.dumps({"perfbench": details}, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": totals["attempted"],
        "failed": totals["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
