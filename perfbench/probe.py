"""Measurement taken from outside the program: process-tree CPU and
memory from /proc, in-memory spans around calls into the package's
layers, and task totals read back from Spark's own event log."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")
SAMPLE_S = 0.1


def _proc_table() -> dict[int, tuple[int, str, int, int]]:
    """pid -> (ppid, comm, rss_bytes, cpu_ticks) for every visible process.

    cpu_ticks counts the process's own time plus that of the children it
    has reaped, so the sum over a live tree never double counts and never
    loses a worker that exited and was waited for."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue  # exited between listdir and open
        head, _, rest = raw.rpartition(")")
        comm = head.partition("(")[2]
        f = rest.split()
        # fields after comm: state ppid ... utime(11) stime(12) cutime(13) cstime(14) ... rss(21)
        out[int(name)] = (int(f[1]), comm, int(f[21]) * _PAGE, sum(int(x) for x in f[11:15]))
    return out


def alive() -> set[int]:
    return set(_proc_table())


def _tree(table: dict, root: int) -> dict[int, str]:
    """Descendants of ``root`` (itself included) labelled bench / jvm /
    pyworker / other.  Python processes under the JVM are Spark's Python
    daemon and its workers."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in table.items():
        kids.setdefault(ppid, []).append(pid)
    roles = {root: "bench"}
    stack = [(root, False)]
    while stack:
        pid, under_jvm = stack.pop()
        for kid in kids.get(pid, ()):
            comm = table[kid][1]
            if comm == "java":
                roles[kid] = "jvm"
            elif under_jvm and comm.startswith("python"):
                roles[kid] = "pyworker"
            else:
                roles[kid] = "other"
            stack.append((kid, under_jvm or comm == "java"))
    return roles


class ProcTree:
    """Background sampler of the benchmark's own process tree.

    ``reset()`` starts a window; ``peaks()`` returns the highest summed RSS
    seen since then, per role and in total; ``cpu_s()`` is the tree's
    cumulative CPU time right now."""

    def __init__(self):
        self.root = os.getpid()
        self._lock = threading.Lock()
        self._peaks: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="proc-sampler", daemon=True)

    def __enter__(self) -> "ProcTree":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _sample(self) -> tuple[dict[str, int], int]:
        table = _proc_table()
        rss: dict[str, int] = {"total": 0}
        cpu = 0
        for pid, role in _tree(table, self.root).items():
            _ppid, _comm, r, ticks = table[pid]
            rss[role] = rss.get(role, 0) + r
            rss["total"] += r
            cpu += ticks
        return rss, cpu

    def _loop(self) -> None:
        while not self._stop.is_set():
            rss, _ = self._sample()
            with self._lock:
                for k, v in rss.items():
                    if v > self._peaks.get(k, 0):
                        self._peaks[k] = v
            self._stop.wait(SAMPLE_S)

    def descendants(self) -> set[int]:
        return set(_tree(_proc_table(), self.root)) - {self.root}

    def reset(self) -> None:
        rss, _ = self._sample()
        with self._lock:
            self._peaks = dict(rss)

    def peaks(self) -> dict[str, float]:
        rss, _ = self._sample()
        with self._lock:
            for k, v in rss.items():
                self._peaks[k] = max(self._peaks.get(k, 0), v)
            return {k: v / 2**20 for k, v in self._peaks.items()}

    def cpu_s(self) -> float:
        return self._sample()[1] / _TICK


class Tracer:
    """Spans kept in memory and written out when the run ends.  A span
    has a name (``layer.op``), start, end, parent span and run id."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of it
        that child spans cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for c in sorted(children.get(s["id"], ()), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps({"run_id": self.run_id, "spans": self.spans, "self_s": self.self_times()}, indent=1))


def _is_kernel_stage(info: dict) -> bool:
    return any("MapInArrow" in (rdd.get("Scope") or "") + rdd.get("Name", "") for rdd in info.get("RDD Info", ()))


def eventlog_totals(log_dir: Path, group_prefix: str) -> dict[str, float]:
    """Per-job-group task totals from the event log, medianed over the
    groups whose id starts with ``group_prefix`` (one group per timed
    run).  ``stage.task_skew`` is max / median task run time of the stage
    that runs the Arrow extraction kernel."""
    # one file per application, or a directory of rolled files
    files = sorted(p for p in log_dir.rglob("*") if p.is_file() and not p.name.startswith((".", "appstatus")))
    stage_group: dict[int, str] = {}
    kernel_stages: set[int] = set()
    per_group: dict[str, dict[str, float]] = {}
    stage_tasks: dict[int, list[float]] = {}
    for path in files:
        with path.open() as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if group.startswith(group_prefix):
                        for sid in ev["Stage IDs"]:
                            stage_group[sid] = group
                        for info in ev.get("Stage Infos", ()):
                            if _is_kernel_stage(info):
                                kernel_stages.add(info["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    g = per_group.setdefault(group, {"stages": set()})
                    g["stages"].add(ev["Stage ID"])
                    sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
                    for key, val in (
                        ("tasks", 1),
                        ("executor_run_s", m.get("Executor Run Time", 0) / 1e3),
                        ("executor_cpu_s", m.get("Executor CPU Time", 0) / 1e9),
                        ("gc_s", m.get("JVM GC Time", 0) / 1e3),
                        ("spill_mb", (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 2**20),
                        ("shuffle_read_mb", (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 2**20),
                        ("shuffle_write_mb", sw.get("Shuffle Bytes Written", 0) / 2**20),
                    ):
                        g[key] = g.get(key, 0) + val
                    stage_tasks.setdefault(ev["Stage ID"], []).append(m.get("Executor Run Time", 0))
    keys = ("shuffle_write_mb", "shuffle_read_mb", "spill_mb", "gc_s", "tasks", "stages", "executor_run_s", "executor_cpu_s")
    if not per_group:
        return {f"spark.{k}": 0.0 for k in keys} | {"stage.task_skew": 0.0}
    for g in per_group.values():
        g["stages"] = len(g["stages"])
    out = {f"spark.{k}": statistics.median(g.get(k, 0) for g in per_group.values()) for k in keys}
    skews = []
    for sid in kernel_stages:
        durs = stage_tasks.get(sid)
        if durs and statistics.median(durs) > 0:
            skews.append(max(durs) / statistics.median(durs))
    out["stage.task_skew"] = statistics.median(skews) if skews else 0.0
    return out
