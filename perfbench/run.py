"""The repository's benchmark: one named workload, one run, one JSON line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Generates the workload's inputs from the seed (cached per seed under
``.bench_cache/``), then runs ``child.py`` in a fresh process with the
repository on ``PYTHONPATH`` and every temp dir (Python's, the JVM's, Spark's
local dirs) inside a per-run work dir under ``.bench_work/``. After the child
exits it measures what the engine left in those temp dirs and deletes the
work dir. The last line of stdout is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it carries the run's details (input hash, versions, load average, lap
times, failures). Exits non-zero, printing no result, if the engine is
missing or the run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

DEADLINE_S = 170.0
DRIVER_MEM = "2g"


def _du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except OSError:
                pass
    return total


def lap_tails(rec: dict) -> list[float]:
    """Each timed lap's slowest op."""
    worst: dict[int, float] = {}
    for lap, _, x in rec["op_latencies"]:
        worst[lap] = max(worst.get(lap, 0.0), x)
    return list(worst.values())


def end_to_end(rec: dict) -> dict[str, float]:
    lat = [x for _, _, x in rec["op_latencies"]]
    return {
        "setup_s": statistics.median(rec["session_starts"]) + rec["warmup_s"],
        "run_s": statistics.median(rec["laps"]),
        "op_s.p50": statistics.median(lat),
        "op_s.tail": statistics.median(lap_tails(rec)),
        "cpu_s": rec["cpu_s_per_lap"],
        "peak_pss_mb": rec["peak_pss_mb"],
        "ok_frac": 1.0 - rec["failed"] / rec["attempted"],
    }


def declared(kind: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def metrics_block(values: dict[str, float], kind: str) -> dict:
    units = declared(kind)
    if set(values) != set(units):
        raise RuntimeError(
            f"{kind} metrics differ from BENCHMARK.json: measured-only "
            f"{sorted(set(values) - set(units))}, declared-only {sorted(set(units) - set(values))}"
        )
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "airdatapipeline_spark")):
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2
    t_begin = time.time()
    w = WORKLOADS[a.workload]

    data = os.path.join(ROOT, ".bench_cache", "inputs", f"sf{w.sf}-seed{a.seed}")
    digest = gen.generate(data, a.seed, w.sf)

    work = os.path.join(ROOT, ".bench_work", f"{w.name}-seed{a.seed}-t{a.trace}-{os.getpid()}")
    tmp, local, out, cwd = (os.path.join(work, d) for d in ("tmp", "local", "out", "cwd"))
    for d in (tmp, local, out, cwd):
        os.makedirs(d)
    result = os.path.join(work, "result.json")
    # half the CPUs: the rest of the tree (driver Python, Python workers) and
    # neighbours on a shared host keep CPU to run on (see README)
    cpus = str(max(1, len(os.sched_getaffinity(0)) // 2))
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_UI", None)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=cpus,
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYSPARK_SUBMIT_ARGS=" ".join(
            [f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
             f"-XX:ActiveProcessorCount={cpus} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch'"]
            + (["--conf spark.ui.retainedJobs=1000000",
                "--conf spark.sql.ui.retainedExecutions=1000000"] if a.trace else [])
            + ["pyspark-shell"]
        ),
    )
    if a.trace:
        env["SPARK_GRAFT_UI"] = "1"
    cmd = [sys.executable, os.path.join(HERE, "child.py"), "--workload", w.name,
           "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--data", data, "--out", out, "--result", result]
    log_path = os.path.join(work, "child.log")
    # a terminated run still stops its child's process group and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                                 start_new_session=True)
            try:
                rc = p.wait(timeout=max(1.0, DEADLINE_S - (time.time() - t_begin)))
            except subprocess.TimeoutExpired:
                rc = None
            finally:
                # the child's JVM and Python workers share its process group
                try:
                    os.killpg(p.pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
                p.wait()
        if rc != 0 or not os.path.exists(result):
            with open(log_path, errors="replace") as fh:
                sys.stderr.write(fh.read()[-6000:])
            why = "timed out" if rc is None else f"exited with {rc}"
            print(f"perfbench: run {why}", file=sys.stderr)
            return 1
        with open(result) as fh:
            rec = json.load(fh)
        tmp_left = _du(tmp) + _du(local)
        if a.trace:
            # the spans outlive the work dir: one file per workload and seed
            kept = os.path.join(ROOT, ".bench_work", "spans")
            os.makedirs(kept, exist_ok=True)
            os.replace(os.path.join(work, "spans.json"),
                       os.path.join(kept, f"{w.name}-seed{a.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if a.trace:
        layers = rec["layers"]
        layers["tmp.bytes_left"] = tmp_left / (len(rec["laps"]) + 1)
        metrics = metrics_block(layers, "per_layer")
    else:
        metrics = metrics_block(end_to_end(rec), "end_to_end")
    per_op: dict[str, list[float]] = {}
    for _, name, x in rec["op_latencies"]:
        per_op.setdefault(name, []).append(x)
    detail = {
        "workload": w.name, "seed": a.seed, "trace": a.trace, "inputs_hash": digest,
        "env": rec["env"], "loadavg_start": rec["loadavg_start"],
        "loadavg_end": rec["loadavg_end"], "steal_frac": rec["steal_frac"],
        "laps": len(rec["laps"]), "lap_s": [round(x, 3) for x in rec["laps"]],
        "ops": len(rec["op_latencies"]),
        "tmp_bytes_left": tmp_left,
        "op_s": {k: round(statistics.median(v), 3) for k, v in per_op.items()},
        "failures": rec["failures"],
        "wall_s": round(time.time() - t_begin, 1),
        "phases": {k: round(v - t_begin, 1) for k, v in rec["phases"].items()},
        **({"self_s": {k: round(v, 3) for k, v in rec["self_s"].items()}} if a.trace else {}),
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
