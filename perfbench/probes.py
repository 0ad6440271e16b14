"""Measurement helpers that sit outside the package under test: spans,
a /proc RSS sampler, and readers for Spark's event log and the Python
UDF profiler dump."""

from __future__ import annotations

import glob
import hashlib
import json
import multiprocessing
import os
import pstats
import statistics
import threading
import time


class Tracer:
    """Benchmark-side spans: name, start, end, parent. Kept in memory and
    written once at the end. Disabled tracers record nothing."""

    def __init__(self, trace_id: str, enabled: bool):
        self.trace_id = trace_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"trace_id": self.trace_id, "spans": self.spans}, f,
                      indent=1)


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs
        self.start = self.end = 0.0  # epoch seconds, as the event log stamps
        self._t0 = self.seconds = 0.0

    def __enter__(self):
        self.start = time.time()
        self._t0 = time.perf_counter()
        t = self.tracer
        if t.enabled:
            self.id = len(t.spans)
            t.spans.append({"id": self.id, "trace_id": t.trace_id,
                            "parent": t._stack[-1] if t._stack else None,
                            "name": self.name, "start": self.start,
                            "end": None, **self.attrs})
            t._stack.append(self.id)
        return self

    def __exit__(self, *exc):
        self.seconds = time.perf_counter() - self._t0
        self.end = time.time()
        t = self.tracer
        if t.enabled:
            t._stack.pop()
            t.spans[self.id]["end"] = self.end
        return False


# ---------------------------------------------------------------------------
# host speed: a fixed CPU task that uses no code of the package under test
# ---------------------------------------------------------------------------

def _reference_task(_: int) -> int:
    """An interpreter loop and a hash over 32 MiB: about 0.3 s of one core."""
    x = 0
    for i in range(1_500_000):
        x = (x * 31 + i) % 1_000_003
    block = bytes(range(256)) * (1 << 14)
    h = hashlib.sha256()
    for _ in range(8):
        h.update(block)
    return x


class HostSpeed:
    """Wall time of the reference task run once on each core at the same
    time, sampled between passes. Its pool is forked before the JVM
    starts; ``close`` stops it and waits for its processes."""

    def __init__(self, procs: int):
        self.procs = procs
        self.pool = multiprocessing.get_context("fork").Pool(procs)
        self.samples: list[float] = []
        self.pool.map(_reference_task, range(procs))  # warm the workers

    def sample(self, rounds: int = 3) -> None:
        for _ in range(rounds):
            t0 = time.perf_counter()
            self.pool.map(_reference_task, range(self.procs))
            self.samples.append(time.perf_counter() - t0)

    def close(self) -> None:
        self.pool.terminate()
        self.pool.join()


# ---------------------------------------------------------------------------
# peak RSS of a process tree, sampled from /proc
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def tree_rss_bytes(root_pid: int) -> int:
    """Resident set of ``root_pid`` plus that of its Python descendants
    (the pyspark daemon and its workers).

    Other descendants are short-lived helpers the JVM spawns (``chmod``
    and the like). Until such a child execs it shares every page of the
    JVM, and /proc reports the JVM's whole resident set for it, so
    counting it would double the sum for an instant."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    comm: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue  # exited between listdir and open
        name, rest = stat.split("(", 1)[1].rsplit(")", 1)
        children.setdefault(int(rest.split()[1]), []).append(int(d))
        rss[int(d)] = pages * _PAGE
        comm[int(d)] = name
    total, todo = rss.get(root_pid, 0), list(children.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        if comm[pid].startswith("python"):
            total += rss[pid]
            todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Background thread tracking the peak of ``tree_rss_bytes``."""

    def __init__(self, root_pid: int, interval: float = 0.1):
        self.root_pid, self.interval = root_pid, interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while True:
            self.peak = max(self.peak, tree_rss_bytes(self.root_pid))
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(self.root_pid))
        return False


# ---------------------------------------------------------------------------
# Spark event log (uncompressed, non-rolling: one JSON event per line)
# ---------------------------------------------------------------------------

def read_event_log(log_dir: str) -> dict:
    """Jobs and tasks of the single application logged under ``log_dir``.

    Returns ``{"jobs": [...], "tasks": [...]}``. Each job has ``id``,
    ``start``/``end`` (epoch seconds), ``stages`` and ``stage_names``.
    Each task has ``stage``, ``run_s``, ``gc_s``, ``input_b``,
    ``shuffle_write_b``, ``output_b`` and ``records_out``."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(f) and not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {files}")
    jobs: dict[int, dict] = {}
    tasks: list[dict] = []
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "id": ev["Job ID"],
                    "start": ev["Submission Time"] / 1000,
                    "end": None,
                    "stages": ev["Stage IDs"],
                    "stage_names": [s["Stage Name"] for s in ev["Stage Infos"]],
                }
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                tasks.append({
                    "stage": ev["Stage ID"],
                    "run_s": m.get("Executor Run Time", 0) / 1000,
                    "gc_s": m.get("JVM GC Time", 0) / 1000,
                    "input_b": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "shuffle_write_b": (m.get("Shuffle Write Metrics") or {})
                    .get("Shuffle Bytes Written", 0),
                    "output_b": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                    "records_out": (m.get("Output Metrics") or {})
                    .get("Records Written", 0),
                })
    return {"jobs": sorted(jobs.values(), key=lambda j: j["id"]),
            "tasks": tasks}


def jobs_within(log: dict, start: float, end: float) -> tuple[list, list]:
    """Jobs submitted inside [start, end] (benchmark clock, same host
    clock as the event log; 10 ms slack for its millisecond stamps) and
    the tasks of their stages."""
    jobs = [j for j in log["jobs"]
            if start - 0.01 <= j["start"] <= end + 0.01 and j["end"]]
    stages = {s for j in jobs for s in j["stages"]}
    return jobs, [t for t in log["tasks"] if t["stage"] in stages]


def task_skew(tasks: list[dict]) -> float:
    """max / median task run time over the stage that scanned the input
    and fed a shuffle: the extraction stage."""
    by_stage: dict[int, list[dict]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t)
    scan_stages = [ts for ts in by_stage.values()
                   if sum(t["input_b"] for t in ts) > 0
                   and sum(t["shuffle_write_b"] for t in ts) > 0]
    if not scan_stages:
        return 0.0
    ts = max(scan_stages, key=lambda ts: sum(t["input_b"] for t in ts))
    med = statistics.median(t["run_s"] for t in ts)
    return max(t["run_s"] for t in ts) / med if med > 0 else 0.0


# ---------------------------------------------------------------------------
# Python UDF profiler (spark.sql.pyspark.udf.profiler=perf)
# ---------------------------------------------------------------------------

def cumulative_seconds(dump_dir: str, func: str, file_suffix: str) -> float:
    """Cumulative time of ``func`` defined in a file ending with
    ``file_suffix``, summed over every UDF profile dumped to ``dump_dir``."""
    total = 0.0
    for path in glob.glob(os.path.join(dump_dir, "*.pstats")):
        for (fname, _line, name), (_cc, _nc, _tt, ct, _callers) in \
                pstats.Stats(path).stats.items():
            if name == func and fname.endswith(file_suffix):
                total += ct
    return total
