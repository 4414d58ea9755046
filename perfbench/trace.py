"""Spans, process-tree RSS sampling and Spark event-log task metrics.

Spans are recorded by the benchmark around its own calls into the
engine's public functions; the engine itself is not instrumented. In a
traced run every span also becomes a Spark job group, so the task
metrics Spark writes to its event log can be attributed to the span
whose call submitted the job.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICKS = os.sysconf("SC_CLK_TCK")


class NullTracer:
    """Used for the end-to-end runs: spans cost nothing and record nothing."""

    phase = ""

    def span(self, name: str):
        return contextlib.nullcontext()


class Tracer:
    """Records (id, name, parent, start, end, run id, phase) per span,
    in memory until `write`. Not thread-safe: spans nest on the one
    thread that drives Spark."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.phase = ""
        self.spans: list[dict] = []
        self._stack: list[tuple[int, str]] = []
        self._next_id = 0
        self._t0 = time.perf_counter()

    def _set_group(self) -> None:
        if self._stack:
            sid, name = self._stack[-1]
            self.sc.setJobGroup(f"perfbench-{sid}", name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def span(self, name: str):
        sid = self._next_id
        self._next_id += 1
        parent = self._stack[-1][0] if self._stack else None
        start = time.perf_counter() - self._t0
        self._stack.append((sid, name))
        self._set_group()
        try:
            yield
        finally:
            end = time.perf_counter() - self._t0
            self._stack.pop()
            self._set_group()
            self.spans.append({
                "id": sid, "name": name, "parent": parent, "start": start,
                "end": end, "run": self.run_id, "phase": self.phase,
            })

    def finished(self) -> list[dict]:
        """Spans with `self_s`: duration minus the time children cover."""
        covered: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] = covered.get(s["parent"], 0.0) + s["end"] - s["start"]
        out = []
        for s in sorted(self.spans, key=lambda s: s["id"]):
            dur = s["end"] - s["start"]
            out.append({**s, "dur_s": dur, "self_s": dur - covered.get(s["id"], 0.0)})
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.finished():
                f.write(json.dumps(s) + "\n")


# --- process tree RSS --------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


# A child younger than this is left out of the sum. The JVM starts its
# helper processes (`chmod` for every file a parquet write creates) with
# vfork: until the child execs it shares the JVM's memory, and its RSS
# reads as the JVM's whole RSS, which counted the JVM twice in one
# sample. A new Python worker likewise shares its parent's pages at first.
MIN_CHILD_AGE_S = 1.0


def _age_s(pid: int, uptime_s: float) -> float:
    with open(f"/proc/{pid}/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(")") + 2 :].split()[19])
    return uptime_s - start_ticks / _TICKS


def tree_rss_bytes(pid: int) -> int:
    """RSS of `pid` plus that of each descendant at least
    MIN_CHILD_AGE_S old."""
    with open("/proc/uptime") as f:
        uptime_s = float(f.read().split()[0])
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            if p != pid and _age_s(p, uptime_s) < MIN_CHILD_AGE_S:
                continue
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the RSS of this process and all its descendants (the
    driver JVM and its Python workers; see `tree_rss_bytes`) on a
    background thread, keeping the peak since the last `restart`."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def restart(self) -> None:
        self.peak = tree_rss_bytes(os.getpid())

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# --- event log -----------------------------------------------------------------

TASK_FIELDS = ("cpu_s", "gc_s", "shuffle_mb", "spill_mb", "tasks", "tasks_failed")


def event_log_by_span(log_dir: str) -> tuple[dict[int, dict], dict[int, int]]:
    """Per span id: summed task metrics of every stage submitted under
    that span's job group; and per span id: the number of jobs."""
    stage_span: dict[int, int] = {}
    jobs: dict[int, int] = {}
    per_span: dict[int, dict] = {}
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    sid = _span_of(ev.get("Properties") or {})
                    if sid is not None:
                        jobs[sid] = jobs.get(sid, 0) + 1
                        for st in ev.get("Stage IDs", []):
                            stage_span.setdefault(st, sid)
                elif kind == "SparkListenerStageSubmitted":
                    sid = _span_of(ev.get("Properties") or {})
                    if sid is not None:
                        stage_span[ev["Stage Info"]["Stage ID"]] = sid
                elif kind == "SparkListenerTaskEnd":
                    sid = stage_span.get(ev["Stage ID"])
                    if sid is None:
                        continue
                    m = per_span.setdefault(sid, dict.fromkeys(TASK_FIELDS, 0.0))
                    tm = ev.get("Task Metrics") or {}
                    m["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    m["shuffle_mb"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0) / 1e6
                    m["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 1e6
                    m["tasks"] += 1
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        m["tasks_failed"] += 1
    return per_span, jobs


def _span_of(props: dict) -> int | None:
    group = props.get("spark.jobGroup.id") or ""
    if group.startswith("perfbench-"):
        return int(group[len("perfbench-"):])
    return None
