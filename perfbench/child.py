"""One measured run, in a fresh process that ``run.py`` starts with the
repository on ``PYTHONPATH`` and every temp dir inside the run's work dir.

Phases: the check path's self-test; set-up (the session started three times,
then one warm-up lap); timed laps, a closed loop with one client, while they
fit in ``--seconds`` (at least one lap); then, untimed, the traced run's
Spark metrics and the output checks of every op run. Writes one JSON record.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import sys
import time
import traceback

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen  # noqa: E402
import measure  # noqa: E402
from workloads import WORKLOADS, lap_order  # noqa: E402

SESSION_STARTS = 3


class Ctx:
    """What an op may touch: the session, the inputs and its output dirs."""

    def __init__(self, spark, sf_dir: str, out_dir: str, seed: int):
        self.spark = spark
        self.sf_dir = sf_dir
        self.out_dir = out_dir
        self.scraper = gen.SeededScraper(seed)
        self.oracle: check.Oracle | None = None
        self.last: dict[str, object] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.out_dir, *parts)

    def last_result(self, op: str):
        return self.last.get(op)


def _start_session():
    from airdatapipeline_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark("perfbench")
    return spark, time.perf_counter() - t


def _cache_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(r.memSize() + r.diskSize() for r in infos)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--result", required=True)
    a = ap.parse_args()
    w = WORKLOADS[a.workload]
    traced = bool(a.trace)
    rec: dict = {"workload": w.name, "seed": a.seed, "trace": a.trace,
                 "loadavg_start": os.getloadavg()}

    check.self_test()
    phases = {"self_test": time.time()}

    starts = []
    for i in range(SESSION_STARTS):
        spark, dt = _start_session()
        starts.append(dt)
        if i < SESSION_STARTS - 1:
            spark.stop()
    rec["session_starts"] = starts
    phases["sessions"] = time.time()
    sc = spark.sparkContext
    rec["env"] = {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": spark.version,
        "java": sc._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }
    cores = sc.defaultParallelism
    rest = measure.Rest(spark) if traced else None
    listener = None
    if traced:
        listener = measure.streaming_listener()
        spark.streams.addListener(listener)

    ctx = Ctx(spark, a.data, a.out, a.seed)
    ops = w.ops()
    order_rng = np.random.default_rng([a.seed, 1])
    spans = measure.Spans()
    outcomes: list[check.Outcome] = []
    op_id = 0

    def run_op(op, lap: int) -> float:
        nonlocal op_id
        op_id += 1
        t0 = time.time()
        parent = len(spans.spans)
        spans.add("op", t0, t0, None, op_id, op.name, lap)
        out = check.Outcome(op.name, span=parent)
        try:
            df = None
            if op.build is not None:
                df = op.build(ctx)
                tb = time.time()
                spans.add("build", t0, tb, parent, op_id, op.name, lap)
            else:
                tb = t0
            if traced and op.plans:
                df._jdf.queryExecution().executedPlan()
                tp = time.time()
                spans.add("plan", tb, tp, parent, op_id, op.name, lap)
                tb = tp
            out.result = op.run(ctx, df)
            spans.add("exec", tb, time.time(), parent, op_id, op.name, lap)
            ctx.last[op.name] = out.result
        except Exception as e:  # an op that raises is a failed op, not a crash
            out.error = f"{type(e).__name__}: {e}"
            traceback.print_exc(file=sys.stderr)
        t1 = time.time()
        spans.spans[parent].end = t1
        outcomes.append(out)
        return t1 - t0

    def lap(n: int) -> tuple[float, list[tuple[str, float]]]:
        t = time.perf_counter()
        lat = [(n, op.name, run_op(op, n)) for op in lap_order(w, ops, order_rng)]
        return time.perf_counter() - t, lat

    # the cold lap (class loading, JIT, Python worker start) takes about three
    # times a warm one; it counts in setup_s
    rec["warmup_s"] = lap(0)[0]
    phases["warmup"] = time.time()

    me = os.getpid()
    laps, op_lat = [], []
    cpu0 = measure.tree_cpu_s(me)
    ticks0 = measure.cpu_ticks()
    t_start = time.time()
    with measure.PeakPss(me) as mem:
        # another lap only if it would still end within --seconds
        while True:
            dt, lat = lap(len(laps) + 1)
            laps.append(dt)
            op_lat += lat
            if time.time() - t_start + dt > a.seconds:
                break
    t_end = time.time()
    rec["cpu_s_per_lap"] = (measure.tree_cpu_s(me) - cpu0) / len(laps)
    ticks1 = measure.cpu_ticks()
    rec["steal_frac"] = (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0])
    rec["peak_pss_mb"] = mem.peak
    rec["laps"] = laps
    rec["op_latencies"] = op_lat
    phases["timed"] = time.time()

    if traced:
        rec["layers"] = measure.layers(spans, rest.fetch(), len(laps), (t_start, t_end), cores,
                                     listener)
        rec["layers"]["cache.bytes_after"] = _cache_bytes(spark)
        rec["layers"]["session.start_s"] = statistics.median(starts)
        rec["layers"]["trace.run_s"] = statistics.median(laps)
        phases["rest"] = time.time()

    from airdatapipeline_spark.io import TABLES

    ctx.oracle = check.Oracle(a.data, TABLES)
    checks = {op.name: (lambda o: lambda r: o.check(ctx, r))(op) for op in ops}

    def checked(o, t0, t1):
        s = spans.spans[o.span]
        spans.add("check", t0, t1, o.span, s.op_id, s.op, s.lap)

    attempted, failed, why = check.account(outcomes, checks, checked)
    rec.update(attempted=attempted, failed=failed, failures=why)
    rec["loadavg_end"] = os.getloadavg()
    phases["checks"] = time.time()
    if traced:
        rec["self_s"] = spans.self_times()
        spans.dump(os.path.join(os.path.dirname(a.result), "spans.json"))
        spark.streams.removeListener(listener)
    spark.stop()
    phases["stop"] = time.time()
    rec["phases"] = phases
    with open(a.result, "w") as fh:
        json.dump(rec, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
