"""Repeat the benchmark and summarise each metric's spread.

    python3 perfbench/repeat.py [--workloads A,B] [--seeds 1-10] [--trace 0|1|both]
                                [--save FILE] [--against FILE]

Runs ``run.py`` once per (workload, seed), one run at a time, and prints, per
workload and metric, the median, the first and third quartiles
(``statistics.quantiles(n=4)``) and the spread ``(q3 - q1) / median``. For an
end-to-end metric it also prints the bound from BENCHMARK.json and whether
the spread is under a third of it. With ``--trace both`` it adds the tracing
overhead: the traced runs' median lap time minus the untraced ``run_s``.
``--save`` writes every run's values; ``--against`` compares this set's
medians with a saved set's, the check that two sets of runs of the same code
agree within each metric's bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _seeds(s: str) -> list[int]:
    if "-" in s:
        lo, hi = s.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in s.split(",")]


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: run.py exited with {p.returncode}")
    lines = p.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    out["detail"] = json.loads(lines[-2])["detail"]
    return out


def summary(values: list[float]) -> tuple[float, float, float, float]:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def main() -> int:
    spec = _spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0", choices=("0", "1", "both"))
    ap.add_argument("--save")
    ap.add_argument("--against")
    a = ap.parse_args()
    traces = (0, 1) if a.trace == "both" else (int(a.trace),)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    runs: dict[str, dict[str, list[float]]] = {}
    for w in a.workloads.split(","):
        for seed in _seeds(a.seeds):
            for t in traces:
                r = run_once(w, seed, spec["run_seconds"], t)
                d = r["detail"]
                print(f"# {w} seed={seed} trace={t} correct={r['correct']} "
                      f"attempted={r['attempted']} failed={r['failed']} wall={d['wall_s']}s "
                      f"load={d['loadavg_start'][0]:.1f} steal={d['steal_frac']:.3f} "
                      f"laps={d['lap_s']}",
                      flush=True)
                for k, v in r["metrics"].items():
                    runs.setdefault(w, {}).setdefault(k, []).append(v["value"])
    old = {}
    if a.against:
        with open(a.against) as fh:
            old = json.load(fh)
    print(f"{'workload':14s} {'metric':22s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
          f"{'spread':>7s} {'bound':>6s}  note")
    for w, metrics in runs.items():
        for k, vals in metrics.items():
            med, q1, q3, spread = summary(vals)
            note = ""
            if k in bounds:
                b = bounds[k]
                note = "steady" if spread < b / 3 else ("within bound" if spread <= b else "TOO WIDE")
                if k in old.get(w, {}):
                    m0 = statistics.median(old[w][k])
                    worse = (med - m0) / m0 if better[k] == "lower" else (m0 - med) / m0
                    note += f"; vs saved {worse:+.3f} " + ("ok" if worse <= b else "REGRESSED")
            print(f"{w:14s} {k:22s} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:7.3f} "
                  f"{bounds.get(k, float('nan')):6.2f}  {note}")
        if "trace.run_s" in metrics and "run_s" in metrics:
            over = statistics.median(metrics["trace.run_s"]) - statistics.median(metrics["run_s"])
            print(f"{w:14s} {'tracing overhead (s)':22s} {over:12.4f}")
    if a.save:
        with open(a.save, "w") as fh:
            json.dump(runs, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
