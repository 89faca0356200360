"""Measurement helpers: spans, the process tree's CPU and memory, and the
per-layer roll-up from Spark's own job, stage, SQL and streaming metrics.

Spans are kept in memory. Each op gets one ``op`` span and ``build`` /
``plan`` / ``exec`` / ``check`` children sharing its op id. Spark's metrics
are read once, after the timed laps, from the status REST API of the traced
run's session, and attributed to spans by submission time: the benchmark
runs one op at a time, so a job submitted inside an op's ``build`` span was
launched by that build.
"""

from __future__ import annotations

import calendar
import json
import os
import re
import statistics
import threading
import time
import urllib.request
from dataclasses import asdict, dataclass

# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int
    op: str
    lap: int


class Spans:
    def __init__(self):
        self.spans: list[Span] = []

    def add(self, name, start, end, parent, op_id, op, lap) -> int:
        self.spans.append(Span(name, start, end, parent, op_id, op, lap))
        return len(self.spans) - 1

    def self_time(self, i: int) -> float:
        """Span duration minus the part its children cover."""
        s = self.spans[i]
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == i)
        covered, edge = 0.0, s.start
        for a, b in kids:
            a, b = max(a, edge), min(b, s.end)
            if b > a:
                covered += b - a
                edge = b
        return (s.end - s.start) - covered

    def self_times(self) -> dict[str, float]:
        """Total self time per span name, over every span recorded."""
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + self.self_time(i)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


# ---------------------------------------------------------------------------
# process tree (from /proc)
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _tree(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of the tree: own user+system time of each live process plus
    the reaped children's time the kernel has folded into their parents."""
    total = 0
    for p in _tree(root):
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in f[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return total / _TICK


def _pss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def tree_pss_mb(root: int) -> float:
    """Proportional set size of the tree: a page shared by several processes
    (Spark forks its Python workers from one daemon) counts once in total, so
    the sum does not depend on how many workers are alive when sampled."""
    total = 0
    for p in _tree(root):
        try:
            total += _pss_kb(p)
        except (OSError, IndexError, ValueError):
            continue
    return total / 1024


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) ticks of the machine's CPUs: the share of time the
    hypervisor gave to other guests, which slows every wall-clock metric."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f), f[7]


class PeakPss:
    """Samples the tree's proportional memory every ``interval`` seconds."""

    def __init__(self, root: int, interval: float = 0.5):
        self.root, self.interval = root, interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_mb(self.root))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()
        self.peak = max(self.peak, tree_pss_mb(self.root))


# ---------------------------------------------------------------------------
# Spark status REST API
# ---------------------------------------------------------------------------


def _get(base: str, path: str):
    with urllib.request.urlopen(f"{base}{path}", timeout=30) as r:
        return json.loads(r.read())


def _epoch(s: str | None) -> float | None:
    # e.g. "2024-01-31T12:00:00.123GMT"
    if not s:
        return None
    t = time.strptime(s[:19], "%Y-%m-%dT%H:%M:%S")
    return calendar.timegm(t) + int(s[20:23]) / 1000.0


_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}


def metric_value(v: str) -> float:
    """Parse a SQL metric as the REST API renders it: a plain count, or
    'total (min, med, max ...)' followed by the total with its unit on the
    next line. Times come back in seconds, sizes in bytes."""
    line = v.split("\n", 1)[1] if "\n" in v else v
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1)


class Rest:
    def __init__(self, spark):
        port = spark.sparkContext.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://localhost:{port}/api/v1"
        self.app = _get(self.base, "/applications")[0]["id"]

    def fetch(self, settle_s: float = 10.0) -> dict:
        """Jobs, stages and SQL executions, once the status store has caught up
        (no running job or execution and two equal reads in a row)."""
        deadline, last = time.time() + settle_s, None
        while True:
            jobs = _get(self.base, f"/applications/{self.app}/jobs")
            sql = _get(self.base, f"/applications/{self.app}/sql?details=true"
                                  f"&planDescription=false&length=1000000")
            key = (len(jobs), len(sql))
            busy = any(j["status"] == "RUNNING" for j in jobs) or any(
                s["status"] == "RUNNING" for s in sql)
            if (key == last and not busy) or time.time() > deadline:
                break
            last = key
            time.sleep(0.5)
        stages = _get(self.base, f"/applications/{self.app}/stages")
        return {"jobs": jobs, "stages": stages, "sql": sql}


# ---------------------------------------------------------------------------
# streaming progress
# ---------------------------------------------------------------------------


def streaming_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            # (time, query id, batch seconds, input rows, state rows)
            self.batches: list[tuple[float, str, float, int, int]] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            state = sum(s.numRowsTotal for s in p.stateOperators)
            self.batches.append(
                (time.time(), str(p.id), p.batchDuration / 1000.0, p.numInputRows, state)
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


# ---------------------------------------------------------------------------
# per-layer roll-up
# ---------------------------------------------------------------------------

_WRITE_NODES = ("InsertIntoHadoopFsRelationCommand", "WriteFiles", "SaveIntoDataSourceCommand")
_PY = {
    "time to run Python workers": "py.run_s",
    "time to start Python workers": "py.start_s",
    "time to initialize Python workers": "py.init_s",
    "data sent to Python workers": "py.bytes_sent",
    "data returned from Python workers": "py.bytes_returned",
}


def _in(t, spans) -> bool:
    return t is not None and any(s.start <= t <= s.end for s in spans)


def layers(spans: Spans, rest: dict, laps: int, window: tuple[float, float], cores: int,
           listener=None) -> dict[str, float]:
    """Per-lap sums of every per-layer metric over the timed laps."""
    t0, t1 = window
    timed = [s for s in spans.spans if t0 <= s.start and s.end <= t1]
    build = [s for s in timed if s.name == "build"]
    plan = [s for s in timed if s.name == "plan"]
    exe = [s for s in timed if s.name == "exec"]
    dur = lambda ss: sum(s.end - s.start for s in ss)  # noqa: E731
    m: dict[str, float] = {
        "build.s": dur(build),
        "plan.s": dur(plan),
        "exec.s": dur(exe),
    }
    jobs = [(j, _epoch(j.get("submissionTime"))) for j in rest["jobs"]]
    m["build.jobs"] = sum(1 for _, t in jobs if _in(t, build))
    exec_jobs = {j["jobId"] for j, t in jobs if _in(t, exe)}
    m["exec.jobs"] = len(exec_jobs)
    in_window = {j["jobId"] for j, t in jobs if t is not None and t0 <= t <= t1}
    stage_job = {sid: j["jobId"] for j, _ in jobs for sid in j.get("stageIds", ())}
    st = [s for s in rest["stages"] if stage_job.get(s["stageId"]) in in_window
          and s["status"] in ("COMPLETE", "FAILED")]
    ex_st = [s for s in st if stage_job[s["stageId"]] in exec_jobs]
    m["exec.tasks"] = sum(s["numCompleteTasks"] for s in ex_st)
    m["task.run_s"] = sum(s["executorRunTime"] for s in ex_st) / 1e3
    m["task.cpu_s"] = sum(s["executorCpuTime"] for s in ex_st) / 1e9
    m["task.gc_s"] = sum(s.get("jvmGcTime", 0) for s in ex_st) / 1e3
    m["slots.busy_frac"] = m["task.run_s"] / (m["exec.s"] * cores) if m["exec.s"] else 0.0
    m["scan.bytes"] = sum(s["inputBytes"] for s in st)
    m["scan.rows"] = sum(s["inputRecords"] for s in st)
    m["shuffle.write_bytes"] = sum(s["shuffleWriteBytes"] for s in st)
    m["shuffle.read_bytes"] = sum(s["shuffleReadBytes"] for s in st)
    m["shuffle.records"] = sum(s["shuffleWriteRecords"] for s in st)
    m["shuffle.fetch_wait_s"] = sum(s.get("shuffleFetchWaitTime", 0) for s in st) / 1e3
    m["spill.bytes"] = sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in st)

    counts = {"plan.exchanges": 0, "plan.broadcast_joins": 0, "plan.smj_joins": 0}
    py = dict.fromkeys(_PY.values(), 0.0)
    wr = {"write.s": 0.0, "write.bytes": 0.0, "write.files": 0.0}
    for q in rest["sql"]:
        t = _epoch(q.get("submissionTime"))
        if t is None or not t0 <= t <= t1:
            continue
        names = [n["nodeName"] for n in q.get("nodes", ())]
        counts["plan.exchanges"] += sum(n == "Exchange" for n in names)
        counts["plan.broadcast_joins"] += sum(n == "BroadcastHashJoin" for n in names)
        counts["plan.smj_joins"] += sum(n == "SortMergeJoin" for n in names)
        writes = False
        for n in q.get("nodes", ()):
            is_write = any(w in n["nodeName"] for w in _WRITE_NODES)
            writes |= is_write
            for mm in n.get("metrics", ()):
                if mm["name"] in _PY:
                    py[_PY[mm["name"]]] += metric_value(mm["value"])
                elif is_write and mm["name"] == "written output":
                    wr["write.bytes"] += metric_value(mm["value"])
                elif is_write and mm["name"] == "number of written files":
                    wr["write.files"] += metric_value(mm["value"])
        if writes:
            wr["write.s"] += q.get("duration", 0) / 1e3
    m.update(counts)
    m.update(py)
    m.update(wr)

    batches = [b for b in (listener.batches if listener else []) if t0 <= b[0] <= t1 + 5]
    m["stream.batches"] = len(batches)
    m["stream.input_rows"] = sum(b[3] for b in batches)
    # state is a level, not a flow: each query's rows in state after its last batch
    m["stream.state_rows"] = sum({b[1]: b[4] for b in batches}.values())
    out = {k: v / laps for k, v in m.items()}
    out["slots.busy_frac"] = m["slots.busy_frac"]
    out["stream.batch_s.p50"] = statistics.median(b[2] for b in batches) if batches else 0.0
    return out
