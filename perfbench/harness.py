"""Run harness: pinned environment, the Spark session, the closed-loop
measurement, and the metrics every workload reports."""

from __future__ import annotations

import os
import statistics
import threading
import time
import traceback
from dataclasses import dataclass, field

from perfbench import procstat
from perfbench.trace import Tracer

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def process_start_epoch() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/stat") as f:
        btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def pin_environment(work: str) -> None:
    """Everything a run writes stays under `work`; Spark's Python workers
    import the program from the repository root."""
    for sub in ("spark", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    # the session's 24g default would let the heap outgrow a 15 GB host
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = tmp


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest of p50/p75/p90/p95/p99 with at
    least ten samples beyond it; the maximum (p100) when n < 20."""
    xs = sorted(samples)
    n = len(xs)
    for p in (99, 95, 90, 75, 50):
        k = -(-n * p // 100)  # samples at or below the percentile
        if n - k >= 10:
            return xs[k - 1], float(p), n
    return xs[-1], 100.0, n


@dataclass
class Op:
    kind: str
    op_id: str
    latency: float
    items: int
    ok: bool = True  # False: raised, or its output failed its check
    error: str | None = None
    result: object = None
    timed: bool = True  # False: compaction and other non-sample work
    raised: bool = False


@dataclass
class Bench:
    workload: str
    seed: int
    units: int  # closed-loop units the run executes (both halves of a traced run)
    work: str
    cores: int
    t_process: float
    spark: object = None
    procs: procstat.SparkProcs | None = None
    tracer: Tracer = None
    ops: list[Op] = field(default_factory=list)
    details: dict = field(default_factory=dict)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def record(self, op: Op) -> None:
        with self._lock:
            self.ops.append(op)

    def run_op(self, kind: str, op_id: str, fn, timed: bool = True) -> Op:
        """Call fn() -> (items, result) inside a span; failures are
        recorded, never raised, so one bad operation cannot end the run."""
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{kind}", op=op_id):
                items, result = fn()
            op = Op(kind, op_id, time.perf_counter() - t0, items, result=result, timed=timed)
        except Exception as e:  # noqa: BLE001 - a failed operation is a data point
            op = Op(kind, op_id, time.perf_counter() - t0, 0, ok=False,
                    error=f"{type(e).__name__}: {e}"[:400], timed=timed, raised=True)
            traceback.print_exc()
        self.record(op)
        return op


def run_units(bench: Bench, next_unit, clients: int, units: int) -> float:
    """Closed loop: each client takes the next of `units` units of
    operations after its previous one finished; returns the wall time."""
    t0 = time.perf_counter()
    errors: list[BaseException] = []
    taken = iter(range(units))
    lock = threading.Lock()

    def client(cid: int) -> None:
        try:
            while True:
                with lock:
                    if next(taken, None) is None:
                        return
                if not next_unit(cid):
                    return
        except BaseException as e:  # noqa: BLE001 - re-raised in the caller
            errors.append(e)

    if clients == 1:
        client(0)
    else:
        threads = [threading.Thread(target=client, args=(c,)) for c in range(clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    if errors:
        raise errors[0]
    return time.perf_counter() - t0


def summarize(ops: list[Op], wall: float, count_ops: bool = False) -> dict:
    """Throughput (items, or operations when count_ops), geometric mean,
    median and tail latency of the timed operations that ran to
    completion (an output that fails its check still did the work), and
    the failure tally."""
    timed = [o for o in ops if o.timed and not o.raised]
    lat = [o.latency for o in timed]
    p50 = statistics.median(lat) if lat else float("nan")
    geomean = statistics.geometric_mean(lat) if lat else float("nan")
    tv, tp, tn = tail(lat) if lat else (float("nan"), 0.0, 0)
    items = len(lat) if count_ops else sum(o.items for o in ops if not o.raised)
    return {
        "items": items,
        "wall_s": wall,
        "items_per_s": items / wall if wall > 0 else 0.0,
        "geomean_s": geomean,
        "p50_s": p50,
        "tail_s": tv,
        "tail_pct": tp,
        "samples": tn,
        "attempted": len(ops),
        "failed": sum(not o.ok for o in ops),
    }
