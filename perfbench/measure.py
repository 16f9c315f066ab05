"""Measurement helpers: spans, percentiles, /proc CPU and memory, and
Spark's own status stores.  No Spark import at module level, so the
self-tests run without a JVM."""

from __future__ import annotations

import itertools
import json
import math
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- spans
class Tracer:
    """In-memory spans (name, start, end, parent id), written at the end.

    A disabled tracer still times the block (callers need the duration
    either way) but records nothing.  Parents are tracked per thread:
    foreachBatch callbacks open spans from Spark's callback threads."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"t": time.perf_counter(), "dur": 0.0}
        if not self.enabled:
            try:
                yield rec
            finally:
                rec["dur"] = time.perf_counter() - rec["t"]
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        try:
            yield rec
        finally:
            end = time.perf_counter()
            stack.pop()
            rec["dur"] = end - rec["t"]
            self.spans.append({"id": sid, "parent": parent, "name": name,
                               "start": rec["t"], "end": end, **attrs})

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover
    (children may overlap each other; the union is subtracted)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


# ---------------------------------------------------------- percentiles
def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, q in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, candidates=(99.9, 99, 90, 50)) -> float | None:
    """Highest percentile that has at least ten samples beyond it."""
    for p in candidates:
        if n * (1 - p / 100) >= 10 - 1e-9:
            return p
    return None


median = statistics.median


# ------------------------------------------------------------ /proc
def _read(path: str) -> str | None:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:
        return None


def _stat(pid: int) -> list[str] | None:
    raw = _read(f"/proc/{pid}/stat")
    if raw is None:
        return None
    # comm may contain spaces; fields after the closing paren are fixed
    return [raw[: raw.rfind(")") + 1]] + raw[raw.rfind(")") + 2:].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st:
                kids.setdefault(int(st[2]), []).append(int(d))
    return kids


def _descendants(pid: int, kids: dict[int, list[int]]) -> list[int]:
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _cmdline(pid: int) -> str:
    return (_read(f"/proc/{pid}/cmdline") or "").replace("\0", " ")


def _hwm_mb(pid: int) -> float:
    m = re.search(r"VmHWM:\s+(\d+) kB", _read(f"/proc/{pid}/status") or "")
    return int(m.group(1)) / 1024 if m else 0.0


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
JIT_POLL_S = 0.1


class ProcSampler:
    """CPU seconds of the driver (this process), the Spark JVM and the
    Python workers below it, read from /proc.  Worker CPU includes
    reaped children (cutime/cstime), so exited workers still count.

    The JVM's JIT compiler threads are also summed on their own; Spark
    generates and compiles code for every query, so on small inputs
    they are a large share of the JVM's CPU.  The JVM starts and retires
    compiler threads as the compile queue grows and drains, so a thread
    poller reads them every JIT_POLL_S and keeps each one's last reading;
    a compiler thread that lives shorter than that is missed."""

    def __init__(self):
        self.me = os.getpid()
        self._jit: dict[tuple[int, int], float] = {}
        self._is_jit: dict[tuple[int, int], bool] = {}
        self._lock = threading.Lock()
        self._poller: threading.Thread | None = None
        self._stop = threading.Event()

    def _jit_cpu(self, jvm: int) -> float:
        try:
            tids = os.listdir(f"/proc/{jvm}/task")
        except OSError:
            tids = []
        with self._lock:
            for tid in tids:
                key = (jvm, int(tid))
                if key not in self._is_jit:
                    comm = (_read(f"/proc/{jvm}/task/{tid}/comm") or "").strip()
                    self._is_jit[key] = comm.startswith(JIT_THREADS)
                if self._is_jit[key]:
                    raw = _read(f"/proc/{jvm}/task/{tid}/stat")
                    if raw:
                        f = raw[raw.rfind(")") + 2:].split()
                        self._jit[key] = (int(f[11]) + int(f[12])) / CLK_TCK
            return sum(v for (pid, _), v in self._jit.items() if pid == jvm)

    def _poll(self, jvm: int) -> None:
        while not self._stop.wait(JIT_POLL_S):
            self._jit_cpu(jvm)

    def close(self) -> None:
        self._stop.set()
        if self._poller is not None:
            self._poller.join()

    def _tree(self):
        kids = _children()
        jvms = [p for p in kids.get(self.me, []) + _descendants(self.me, kids)
                if "java" in _cmdline(p).split(" ")[0]]
        jvm = jvms[0] if jvms else None
        workers = _descendants(jvm, kids) if jvm else []
        workers = [p for p in workers if "python" in _cmdline(p).split(" ")[0]]
        return jvm, workers

    def sample(self) -> dict:
        jvm, workers = self._tree()
        if jvm and self._poller is None:
            self._poller = threading.Thread(target=self._poll, args=(jvm,), daemon=True)
            self._poller.start()

        def cpu(pid, with_children=False):
            st = _stat(pid)
            if not st:
                return 0.0
            # st[0] is "pid (comm)"; utime, stime, cutime, cstime follow
            t = int(st[12]) + int(st[13])
            if with_children:
                t += int(st[14]) + int(st[15])
            return t / CLK_TCK

        return {
            "driver": cpu(self.me),
            "jvm": cpu(jvm) if jvm else 0.0,
            "jit": self._jit_cpu(jvm) if jvm else 0.0,
            # the daemon's reaped children + every live worker
            "python_workers": sum(cpu(p, with_children=True) for p in workers),
            "n_workers": len(workers),
            "jvm_hwm_mb": _hwm_mb(jvm) if jvm else 0.0,
            "workers_hwm_mb": sum(_hwm_mb(p) for p in workers),
            "steal": host_steal_s(),
            "load1": float((_read("/proc/loadavg") or "0").split()[0]),
        }


def host_steal_s() -> float:
    """Host-wide steal time so far, CPU-seconds summed over CPUs."""
    line = (_read("/proc/stat") or "cpu 0 0 0 0 0 0 0 0").splitlines()[0].split()
    return int(line[8]) / CLK_TCK if len(line) > 8 else 0.0


def host_probe_cpu_s(reps: int = 5) -> float:
    """Median thread CPU seconds of a fixed pure-Python loop: how fast
    the host runs the same work right now.  Steal does not show a host
    whose cores run slower (busy neighbours on shared cores), this does."""
    def once() -> float:
        t = time.thread_time()
        d: dict[int, int] = {}
        for i in range(300_000):
            d[i % 1000] = d.get(i % 1000, 0) + len(str(i))
        return time.thread_time() - t

    return median([once() for _ in range(reps)])


def delta(a: dict, b: dict) -> dict:
    return {k: b[k] - a[k] for k in ("driver", "jvm", "jit", "python_workers", "steal")}


# ------------------------------------------------- Spark status stores
_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


def parse_size(text: str) -> float:
    """First size in a formatted SQL metric ("total (min, med, max ...)
    \\n12.3 MiB (...)" or "12.3 MiB") in bytes."""
    m = re.search(r"([0-9][0-9.,]*)\s*(B|KiB|MiB|GiB|TiB)\b", text or "")
    return float(m.group(1).replace(",", "")) * _SIZE[m.group(2)] if m else 0.0


class EngineStats:
    """Exchange, spill, job and task counts of the SQL executions and
    jobs that ran since the last call (session status store)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.seen_exec = self._max_exec()
        self.seen_job = self._max_job()

    def _max_exec(self) -> int:
        ids = [e.executionId() for e in self._execs()]
        return max(ids) if ids else -1

    def _execs(self):
        lst = self.store.executionsList()
        return [lst.apply(i) for i in range(lst.size())]

    def _jobs(self):
        # the app status store behind statusTracker; jobsList(null) lists
        # every job, including those under a streaming query's job group
        lst = self.sc._jsc.sc().statusStore().jobsList(None)
        return [lst.apply(i) for i in range(lst.size())]

    def _max_job(self) -> int:
        ids = [j.jobId() for j in self._jobs()]
        return max(ids) if ids else -1

    def collect(self) -> dict:
        out = {"exchange.count": 0, "exchange.bytes": 0.0, "spill.bytes": 0.0,
               "engine.jobs": 0, "engine.tasks": 0}
        execs = [e for e in self._execs() if e.executionId() > self.seen_exec]
        for e in execs:
            graph = self.store.planGraph(e.executionId())
            values = self.store.executionMetrics(e.executionId())
            nodes = graph.allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                name = node.name()
                metrics = node.metrics()
                for j in range(metrics.size()):
                    m = metrics.apply(j)
                    mname = m.name()
                    val = values.get(m.accumulatorId())
                    text = val.get() if val.isDefined() else ""
                    if name == "Exchange" and mname == "shuffle bytes written":
                        out["exchange.bytes"] += parse_size(text)
                    elif mname == "spill size":
                        out["spill.bytes"] += parse_size(text)
                if name == "Exchange":
                    out["exchange.count"] += 1
        if execs:
            self.seen_exec = max(e.executionId() for e in execs)
        jobs = [j for j in self._jobs() if j.jobId() > self.seen_job]
        out["engine.jobs"] = len(jobs)
        out["engine.tasks"] = sum(j.numTasks() for j in jobs)
        if jobs:
            self.seen_job = max(j.jobId() for j in jobs)
        return out
