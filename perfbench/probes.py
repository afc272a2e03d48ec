"""Host fingerprint, contention and memory sampling, spans, and the Spark
event-log fold used by the benchmark driver (``run.py``).

Everything here reads ``/proc`` or files the run itself wrote; nothing
imports the engine.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time

# Contention criterion, copied from bench.py: a window is contended when
# hypervisor steal exceeds 2% of its jiffies or more than 4 cores are
# busy with work that is not this run's.
STEAL_FRAC_MAX = 0.02
FOREIGN_CORES_MAX = 4.0


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path`` (longest prefix)."""
    path = os.path.realpath(path)
    best, kind = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            _, mnt, typ = line.split()[:3]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, kind = mnt, typ
    return kind


def git_commit(root: str) -> str | None:
    """HEAD of a git checkout at ``root``; None where it is not one."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        with open(os.path.join(root, ".git", ref[5:])) as f:
            return f.read().strip()
    except OSError:
        return None


# ------------------------------------------------------------- processes


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cpu_jiffies(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as f:
            v = f.read().rsplit(")", 1)[1].split()
        return sum(int(x) for x in v[11:15])  # utime stime cutime cstime
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Resident memory of this process's descendants, sampled on a thread
    every ``period`` seconds: the peak RSS of the driver JVM, the peak mean
    RSS of a Python process (the PySpark daemon and its workers), and the
    most Python processes alive at once. The pool of Python workers grows
    by a run-dependent number of processes, so a summed peak would measure
    the pool size more than any one process's footprint."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.jvm_kb = 0
        self.python_kb = 0.0
        self.python_procs = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.period):
            jvm, py = 0, []
            for p in descendants(me):
                comm = _comm(p)
                if comm == "java":
                    jvm += _rss_kb(p)
                elif comm.startswith("python"):
                    py.append(_rss_kb(p))
            self.jvm_kb = max(self.jvm_kb, jvm)
            if py:
                self.python_kb = max(self.python_kb, sum(py) / len(py))
                self.python_procs = max(self.python_procs, len(py))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class Contention:
    """Host contention over a window from ``/proc/stat``: the steal
    fraction and the busy cores not spent by this process tree."""

    def __init__(self):
        self.before = self._sample()

    @staticmethod
    def _sample() -> tuple[int, int, int, int]:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        total = sum(vals[:8])
        idle = vals[3] + vals[4]
        me = os.getpid()
        own = _cpu_jiffies(me) + sum(_cpu_jiffies(p) for p in descendants(me))
        return total, idle, vals[7], own

    def result(self) -> dict:
        t0, i0, s0, o0 = self.before
        t1, i1, s1, o1 = self._sample()
        dt = max(1, t1 - t0)
        n = nproc()
        busy = (dt - (i1 - i0)) / dt * n
        own = (o1 - o0) / dt * n
        out = {
            "steal_frac": round((s1 - s0) / dt, 4),
            "busy_cores": round(busy, 2),
            "own_cores": round(own, 2),
            "foreign_cores": round(busy - own, 2),
        }
        out["contended"] = (
            out["steal_frac"] > STEAL_FRAC_MAX or out["foreign_cores"] > FOREIGN_CORES_MAX
        )
        return out


# ----------------------------------------------------------------- spans


class Tracer:
    """Spans around the benchmark's calls into each layer. Every span
    records wall-clock bounds (to fold Spark jobs into it) and a duration;
    given a SparkContext ``sc``, the Spark job group is the span name while
    the span is open."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack = threading.local()

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.rec = tracer, {"name": name, **attrs}

    def __enter__(self) -> dict:
        stack = self.tracer._stack.__dict__.setdefault("s", [])
        self.rec["parent"] = stack[-1]["name"] if stack else None
        stack.append(self.rec)
        if self.tracer.sc is not None:
            self.tracer.sc.setJobGroup(self.rec["name"], self.rec["name"])
        self.rec["wall_start"] = time.time()
        self._t0 = time.perf_counter()
        return self.rec

    def __exit__(self, *exc):
        self.rec["dur"] = time.perf_counter() - self._t0
        self.rec["wall_end"] = time.time()
        stack = self.tracer._stack.s
        stack.pop()
        if self.tracer.sc is not None:
            if stack:
                self.tracer.sc.setJobGroup(stack[-1]["name"], stack[-1]["name"])
            else:
                self.tracer.sc.setLocalProperty("spark.jobGroup.id", None)
                self.tracer.sc.setLocalProperty("spark.job.description", None)
        self.tracer.spans.append(self.rec)


# ------------------------------------------------------- event-log fold

_PY = {
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "python_bytes_to",
    "data returned from Python workers": "python_bytes_from",
}
_MS_TO_S = {"python_boot_s", "python_init_s", "python_run_s"}
COUNTERS = [
    "python_boot_s", "python_init_s", "python_run_s", "python_bytes_to",
    "python_bytes_from", "shuffle_write_bytes", "shuffle_read_bytes",
    "shuffle_fetch_wait_s", "tasks", "jobs", "task_max_over_median",
    "executor_cpu_s", "gc_s", "spill_bytes",
]


def fold_event_log(log_dir: str, spans: list[dict]) -> list[dict]:
    """Fold task metrics from the uncompressed Spark event log(s) under
    ``log_dir`` into ``spans``: each job belongs to the innermost span
    whose wall-clock interval holds the job's submission time. Adds a
    ``spark`` dict of :data:`COUNTERS` to every span and returns them."""
    stage_job: dict[int, int] = {}
    job_time: dict[int, float] = {}
    tasks: dict[int, list] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    job_time[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                    for s in ev["Stage IDs"]:
                        stage_job[s] = ev["Job ID"]
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    tasks.setdefault(ev["Stage ID"], []).append(ev)
    ordered = sorted(spans, key=lambda s: s["wall_end"] - s["wall_start"])

    def owner(t: float) -> dict | None:
        for s in ordered:  # shortest first = innermost
            if s["wall_start"] <= t <= s["wall_end"]:
                return s
        return None

    for s in spans:
        s["spark"] = {c: 0.0 for c in COUNTERS}
        s["_ratios"] = []
    for job, t in job_time.items():
        s = owner(t)
        if s is not None:
            s["spark"]["jobs"] += 1
    for stage, evs in tasks.items():
        s = owner(job_time.get(stage_job.get(stage, -1), -1.0))
        if s is None:
            continue
        acc = s["spark"]
        runs = []
        for ev in evs:
            m = ev["Task Metrics"]
            acc["tasks"] += 1
            acc["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
            acc["gc_s"] += m["JVM GC Time"] / 1000.0
            acc["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
            sr, sw = m["Shuffle Read Metrics"], m["Shuffle Write Metrics"]
            acc["shuffle_read_bytes"] += sr["Local Bytes Read"] + sr["Remote Bytes Read"]
            acc["shuffle_fetch_wait_s"] += sr["Fetch Wait Time"] / 1000.0
            acc["shuffle_write_bytes"] += sw["Shuffle Bytes Written"]
            runs.append(m["Executor Run Time"])
            for a in ev["Task Info"].get("Accumulables", []):
                key = _PY.get(a.get("Name"))
                if key:
                    v = float(a.get("Update") or 0)
                    acc[key] += v / 1000.0 if key in _MS_TO_S else v
        if len(runs) > 1:
            s["_ratios"].append(max(runs) / max(1.0, statistics.median(runs)))
    for s in spans:
        s["spark"]["task_max_over_median"] = max(s.pop("_ratios"), default=1.0)
    return spans


def sum_counters(spans: list[dict]) -> dict:
    """Counters summed over ``spans``; the straggler ratio is the worst."""
    out = {c: 0.0 for c in COUNTERS}
    for s in spans:
        for c in COUNTERS:
            if c == "task_max_over_median":
                out[c] = max(out[c], s["spark"][c])
            else:
                out[c] += s["spark"][c]
    return out
