"""Spans, library shims, Spark event-log parsing and RSS sampling.

Everything here observes the library from outside: spans are recorded
by wrappers the benchmark installs around public entry points for the
duration of a traced run, and Spark-side numbers come from the event
log that the session writes when tracing is on. Untraced runs use a
disabled ``Tracer`` whose spans cost one ``if``.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import select
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass


@dataclass
class Span:
    span_id: int
    name: str
    parent_id: int | None
    run_id: str
    start: float  # epoch seconds, comparable with event-log milliseconds
    end: float

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Each span runs its Spark jobs under its
    own job group ``span-<id>``, so the event log attributes every job
    to the innermost open span."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self.sc.setJobGroup(f"span-{sid}", name)
        self._stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            self.spans.append(Span(sid, name, parent, self.run_id, start, end))
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(f"span-{parent}", "")

    def install(self, targets) -> None:
        """Wrap ``getattr(owner, attr)`` in a span named ``name`` for
        each ``(owner, attr, name)``; ``uninstall`` restores them."""
        if not self.enabled:
            return
        for owner, attr, name in targets:
            orig = getattr(owner, attr)
            self._patched.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name))

    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # --- queries over recorded spans ---------------------------------

    def total(self, name: str) -> float:
        return sum(s.seconds for s in self.spans if s.name == name)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def subtree(self, root_id: int) -> set[int]:
        children: dict[int, list[int]] = {}
        for s in self.spans:
            if s.parent_id is not None:
                children.setdefault(s.parent_id, []).append(s.span_id)
        out, todo = set(), [root_id]
        while todo:
            sid = todo.pop()
            out.add(sid)
            todo.extend(children.get(sid, ()))
        return out


# --- Spark event log ----------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """Parse the single (uncompressed, non-rolling) event log written
    into ``log_dir`` by a stopped session: jobs with their group and
    interval, and per-task metrics keyed by stage."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    completed_stages: set[int] = set()
    with open(os.path.join(log_dir, files[0])) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start_ms": ev["Submission Time"],
                    "end_ms": None,
                }
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                completed_stages.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                inp = m.get("Input Metrics") or {}
                tasks.append(
                    {
                        "stage": ev["Stage ID"],
                        "dur_ms": info["Finish Time"] - info["Launch Time"],
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
                        "gc_ms": m.get("JVM GC Time", 0),
                        "spill": m.get("Disk Bytes Spilled", 0),
                        "sr": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "sw": sw.get("Shuffle Bytes Written", 0),
                        "in_rows": inp.get("Records Read", 0),
                        "in_bytes": inp.get("Bytes Read", 0),
                    }
                )
    return {
        "jobs": jobs,
        "stage_job": stage_job,
        "tasks": tasks,
        "completed_stages": completed_stages,
    }


def spark_metrics(log: dict, groups: set[str], window: tuple[float, float]) -> dict:
    """``spark.*`` totals over the jobs run under ``groups``, plus
    ``driver.idle_ms``: the part of ``window`` (epoch seconds) that no
    job interval covers — plan building, collects, manifest and
    checkpoint commits."""
    job_ids = {j for j, info in log["jobs"].items() if info["group"] in groups}
    stages = {s for s, j in log["stage_job"].items() if j in job_ids}
    tasks = [t for t in log["tasks"] if t["stage"] in stages]
    run_stages = {t["stage"] for t in tasks}
    scan_stages = {t["stage"] for t in tasks if t["in_rows"] or t["in_bytes"]}
    durs = [t["dur_ms"] for t in tasks]
    intervals = sorted(
        (log["jobs"][j]["start_ms"], log["jobs"][j]["end_ms"])
        for j in job_ids
        if log["jobs"][j]["end_ms"] is not None
    )
    lo, hi = window[0] * 1000.0, window[1] * 1000.0
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in intervals:
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return {
        "spark.jobs": len(job_ids),
        "spark.stages": len(run_stages & log["completed_stages"]),
        "spark.tasks": len(tasks),
        "spark.input_rows": sum(t["in_rows"] for t in tasks),
        "spark.source_scans": len(scan_stages),
        "spark.shuffle_read_bytes": sum(t["sr"] for t in tasks),
        "spark.shuffle_write_bytes": sum(t["sw"] for t in tasks),
        "spark.spill_bytes": sum(t["spill"] for t in tasks),
        "spark.executor_run_ms": sum(t["run_ms"] for t in tasks),
        "spark.executor_cpu_ms": sum(t["cpu_ms"] for t in tasks),
        "spark.gc_ms": sum(t["gc_ms"] for t in tasks),
        "spark.max_task_ms": max(durs, default=0),
        "spark.median_task_ms": statistics.median(durs) if durs else 0,
        "driver.idle_ms": (hi - lo) - covered,
    }


# --- memory and CPU -----------------------------------------------------


def _tree_stats(root_pid: int) -> tuple[int, float]:
    """RSS bytes and CPU seconds (user + system, including reaped
    children) summed over ``root_pid`` and all its descendants, from
    /proc."""
    children: dict[int, list[int]] = {}
    stats: dict[int, tuple[int, float]] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    tick = os.sysconf("SC_CLK_TCK")
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        pid = int(entry)
        children.setdefault(int(fields[1]), []).append(pid)
        cpu = sum(int(x) for x in fields[11:15]) / tick
        stats[pid] = (int(fields[21]) * page, cpu)
    rss, cpu, todo = 0, 0.0, [root_pid]
    while todo:
        pid = todo.pop()
        r, c = stats.get(pid, (0, 0.0))
        rss, cpu = rss + r, cpu + c
        todo.extend(children.get(pid, ()))
    return rss, cpu


def cpu_seconds(jvm_pid: int) -> float:
    """CPU seconds used so far by the JVM, its Python workers and this
    process's own threads (not its other children, such as the RSS
    sampler). Unlike wall time, it does not grow while the host runs
    other guests' work (steal time)."""
    own = os.times()
    return _tree_stats(jvm_pid)[1] + own.user + own.system


def host_steal_seconds() -> float:
    """CPU seconds the hypervisor has taken from this machine's vCPUs
    since boot (the steal column of /proc/stat, summed over vCPUs)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak RSS of a process tree (the driver JVM, its Python worker
    daemon and workers), sampled from /proc by a separate process, so
    the sampling costs no CPU in the process that ``cpu_seconds``
    counts."""

    def __init__(self, root_pid: int, interval_s: float = 0.5):
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(root_pid), str(interval_s)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        self.peak = 0

    def stop(self) -> None:
        """End sampling (idempotent); ``peak`` then holds the peak."""
        if self._proc.returncode is None:
            self._proc.stdin.close()
            self.peak = int(self._proc.stdout.read())
            self._proc.wait()


def _sample_rss(root_pid: int, interval_s: float) -> None:
    """Sampler process: sample until stdin closes, then print the peak."""
    peak = 0
    while True:
        peak = max(peak, _tree_stats(root_pid)[0])
        if select.select([sys.stdin], [], [], interval_s)[0]:
            break  # EOF: the parent closed stdin
    print(max(peak, _tree_stats(root_pid)[0]))


if __name__ == "__main__":
    # python3 tracing.py PID INTERVAL_S: the RssSampler process
    _sample_rss(int(sys.argv[1]), float(sys.argv[2]))
