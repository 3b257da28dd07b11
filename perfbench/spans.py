"""Spans, Spark event-log folding and /proc readings.

A span is recorded around each call into sketchlib from the benchmark's
own code: name, start, end, parent span and run id, kept in memory. When
tracing is on, the span id is also the Spark job description, so every
job the call starts can be matched to it in the event log; the
``SparkListenerTaskEnd`` metrics of those jobs are folded into the span.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

# event-log task fields folded per span: name -> (getter, scale to output unit)
_TASK_FIELDS = {
    "run_s": (lambda m, a: m["Executor Run Time"], 1e-3),
    "cpu_s": (lambda m, a: m["Executor CPU Time"], 1e-9),
    "gc_s": (lambda m, a: m["JVM GC Time"], 1e-3),
    "result_bytes": (lambda m, a: m["Result Size"], 1),
    "shuffle_write_bytes": (lambda m, a: m["Shuffle Write Metrics"]["Shuffle Bytes Written"], 1),
    "shuffle_write_s": (lambda m, a: m["Shuffle Write Metrics"]["Shuffle Write Time"], 1e-9),
    "fetch_wait_s": (lambda m, a: m["Shuffle Read Metrics"]["Fetch Wait Time"], 1e-3),
    "spill_bytes": (lambda m, a: m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"], 1),
    "scan_s": (lambda m, a: a.get("scan time", 0), 1e-3),
    "py_start_s": (lambda m, a: a.get("time to start Python workers", 0), 1e-3),
    "py_init_s": (lambda m, a: a.get("time to initialize Python workers", 0), 1e-3),
    "py_run_s": (lambda m, a: a.get("time to run Python workers", 0), 1e-3),
    "bytes_to_python": (lambda m, a: a.get("data sent to Python workers", 0), 1),
    "bytes_from_python": (lambda m, a: a.get("data returned from Python workers", 0), 1),
}


class Tracer:
    """In-memory span recorder. With ``spark_ctx`` set, each span's id is
    the job description of the jobs started inside it. A disabled tracer
    records nothing, so untraced runs pay no tracing cost."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.prefix = ""  # put before every span name
        self.spark_ctx = None
        self.py_cpu = None  # callable -> cumulative Python-worker CPU seconds

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        sp = {"id": f"{self.run_id}/{len(self.spans)}", "name": self.prefix + name,
              "parent": self._stack[-1]["id"] if self._stack else None,
              "run": self.run_id, **attrs}
        self.spans.append(sp)
        self._stack.append(sp)
        if self.spark_ctx is not None:
            self.spark_ctx.setJobDescription(sp["id"])
        cpu0 = self.py_cpu() if self.py_cpu else 0.0
        sp["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp["dur_s"] = time.perf_counter() - t0
            sp["end"] = sp["start"] + sp["dur_s"]
            if self.py_cpu:
                sp["py_cpu_s"] = self.py_cpu() - cpu0
            self._stack.pop()
            if self.spark_ctx is not None:
                self.spark_ctx.setJobDescription(self._stack[-1]["id"] if self._stack else None)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


def fold_event_log(log_dir: str, tracer: Tracer) -> None:
    """Add task metrics, task/job counts and job wall intervals of every
    job to the span whose id is the job's description (its innermost
    span). Parent spans get their children's folds via ``span_total``."""
    files = glob.glob(os.path.join(log_dir, "*"))
    by_id = {s["id"]: s for s in tracer.spans}
    stage_span: dict[int, dict] = {}
    job_span: dict[int, dict] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    sp = by_id.get((ev.get("Properties") or {}).get("spark.job.description"))
                    if sp is None:
                        continue
                    job_span[ev["Job ID"]] = sp
                    sp.setdefault("jobs", 0)
                    sp["jobs"] += 1
                    sp.setdefault("job_intervals", []).append([ev["Submission Time"] / 1e3, None])
                    for sid in ev["Stage IDs"]:
                        stage_span[sid] = sp
                elif kind == "SparkListenerJobEnd":
                    sp = job_span.get(ev["Job ID"])
                    if sp is not None:
                        for iv in sp["job_intervals"]:
                            if iv[1] is None:
                                iv[1] = ev["Completion Time"] / 1e3
                                break
                elif kind == "SparkListenerTaskEnd":
                    sp = stage_span.get(ev["Stage ID"])
                    if sp is None or "Task Metrics" not in ev:
                        continue
                    m = ev["Task Metrics"]
                    acc = {a["Name"]: int(a["Update"]) for a in ev["Task Info"]["Accumulables"]
                           if a.get("Metadata") == "sql" and str(a.get("Update", "")).isdigit()}
                    sp["tasks"] = sp.get("tasks", 0) + 1
                    for key, (get, scale) in _TASK_FIELDS.items():
                        sp[key] = sp.get(key, 0) + get(m, acc) * scale


def span_total(tracer: Tracer, sp: dict, key: str) -> float:
    """``key`` summed over the span and all of its descendants."""
    total = sp.get(key, 0)
    for child in tracer.spans:
        if child["parent"] == sp["id"]:
            total += span_total(tracer, child, key)
    return total


def job_covered_s(tracer: Tracer, sp: dict) -> float:
    """Seconds of the span's interval during which at least one of its
    (or its descendants') Spark jobs was running."""
    ivs = []
    stack = [sp]
    while stack:
        s = stack.pop()
        ivs += [iv for iv in s.get("job_intervals", []) if iv[1] is not None]
        stack += [c for c in tracer.spans if c["parent"] == s["id"]]
    covered, cur_end = 0.0, sp["start"]
    for a, b in sorted(ivs):
        a, b = max(a, cur_end), min(b, sp["end"])
        if b > a:
            covered += b - a
            cur_end = b
    return covered


# ------------------------------------------------------------------ /proc


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, stack = [], [pid]
    while stack:
        p = stack.pop()
        for c in kids.get(p, []):
            out.append(c)
            stack.append(c)
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def python_worker_cpu_s(jvm_pid: int) -> float:
    """Cumulative CPU seconds of the JVM's Python descendants, including
    reaped workers (their time is in the parent's cutime/cstime)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in descendants(jvm_pid):
        if not _comm(pid).startswith("python"):
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / tick


def vm_hwm_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024


def box_calibration(trials: int = 2) -> dict:
    """Fixed numpy probe (sort 1M floats, 300x300 matmul) timed on one
    thread and fanned out on nproc threads; tn/t1 near 1 means the cores
    are free, higher means something else on the host is using them."""
    from concurrent.futures import ThreadPoolExecutor

    import numpy as np

    rng = np.random.default_rng(12345)
    x = rng.normal(size=1_000_000)
    m = rng.normal(size=(300, 300))

    def work(_=None):
        np.sort(x)
        (m @ m).sum()

    n = len(os.sched_getaffinity(0))  # what nproc reports
    t1 = tn = float("inf")
    with ThreadPoolExecutor(max_workers=n) as ex:
        for _ in range(trials):
            t0 = time.perf_counter()
            work()
            t1 = min(t1, time.perf_counter() - t0)
            t0 = time.perf_counter()
            list(ex.map(work, range(n)))
            tn = min(tn, time.perf_counter() - t0)
    return {"t1_s": t1, "tn_s": tn, "contention": tn / t1, "threads": n}
