"""Spans around the program's layer calls, Spark event-log counters, and RSS.

Spans are recorded from outside the program: :meth:`Tracer.install` swaps a
timing wrapper into the module attribute each call site looks up at call
time (``TBL.write_table``, ``CC.connected_components``, ...), and
:meth:`Tracer.uninstall` puts the originals back. Each span also sets the
Spark job group to its own id, so task counters in the event log can be
attributed to the span, and through it to a layer.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict


class Tracer:
    """In-memory spans: id, name, parent, run id, start, end (perf_counter s)."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._undo: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"pb{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(f"pb{self._stack[-1]}", "")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, owner, attr: str, name_of):
        """Replace ``owner.attr`` by a wrapper timing each call as a span named
        ``name_of(*args, **kwargs)``."""
        orig = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name_of(*args, **kwargs)):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        from entityresolution_capstone_spark import evaluate
        from entityresolution_capstone_spark.operators import cc, incremental
        from entityresolution_capstone_spark.plans import pipeline
        from entityresolution_capstone_spark.sources import tables

        def stage_name(df, path, *a, extra_manifest=None, **k):
            stage = (extra_manifest or {}).get("stage") or os.path.basename(path)
            return f"write:{stage}"

        self.wrap(pipeline.Pipeline, "run", lambda *a, **k: "pipeline.run")
        self.wrap(tables, "write_table", stage_name)
        self.wrap(cc, "connected_components", lambda *a, **k: "cc.connected_components")
        self.wrap(evaluate, "pairwise_precision_recall", lambda *a, **k: "evaluate")
        self.wrap(incremental, "attach_to_clusters", lambda *a, **k: "attach")

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def duration(self, sid: int) -> float:
        s = self.spans[sid]
        return s["end"] - s["start"]

    def self_time(self, sid: int) -> float:
        kids = sum(self.duration(s["id"]) for s in self.spans if s["parent"] == sid)
        return self.duration(sid) - kids

    def subtree(self, sid: int) -> set[int]:
        out = {sid}
        for s in self.spans[sid + 1 :]:
            if s["parent"] in out:
                out.add(s["id"])
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


class EventLog:
    """Per-job-group Spark counters parsed from one application's event log."""

    def __init__(self, log_dir: str, app_id: str):
        self.jobs: dict[str, list[dict]] = defaultdict(list)
        self.tasks: dict[str, list[dict]] = defaultdict(list)
        stage_group: dict[int, str] = {}
        job_start: dict[int, dict] = {}
        (path,) = glob.glob(os.path.join(log_dir, app_id + "*"))
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    for st in ev["Stage IDs"]:
                        stage_group.setdefault(st, group)
                    job_start[ev["Job ID"]] = {"group": group, "t0": ev["Submission Time"]}
                elif kind == "SparkListenerJobEnd":
                    j = job_start.pop(ev["Job ID"])
                    j["t1"] = ev["Completion Time"]
                    self.jobs[j["group"]].append(j)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev["Task Info"]
                    sw = m.get("Shuffle Write Metrics") or {}
                    self.tasks[stage_group.get(ev["Stage ID"], "")].append(
                        {
                            "ms": max(1, info["Finish Time"] - info["Launch Time"]),
                            "gc_ms": m.get("JVM GC Time", 0),
                            "spill": m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0),
                            "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                            "failed": ev["Task End Reason"]["Reason"] != "Success",
                        }
                    )

    def counters(self, groups: set[str]) -> dict:
        """Engine counters over every task of jobs in ``groups``."""
        tasks = [t for g in groups for t in self.tasks.get(g, [])]
        ms = [t["ms"] for t in tasks]
        return {
            "shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / 2**20,
            "spill_mb": sum(t["spill"] for t in tasks) / 2**20,
            "task_skew": max(ms) / statistics.median(ms) if ms else 0.0,
            "gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
            "failed_tasks": sum(t["failed"] for t in tasks),
        }

    def job_count(self, groups: set[str]) -> int:
        return sum(len(self.jobs.get(g, [])) for g in groups)

    def job_busy_s(self, groups: set[str]) -> float:
        """Wall time during which at least one job of ``groups`` ran (jobs
        overlap: AQE runs broadcast and subquery jobs alongside the main one)."""
        busy, end = 0, None
        for j in sorted((j for g in groups for j in self.jobs.get(g, [])), key=lambda j: j["t0"]):
            if end is None or j["t0"] > end:
                busy += j["t1"] - j["t0"]
                end = j["t1"]
            elif j["t1"] > end:
                busy += j["t1"] - end
                end = j["t1"]
        return busy / 1000.0


def _tree_rss_kb(root_pid: int) -> int:
    """Summed VmRSS of ``root_pid`` and all its descendants (from /proc)."""
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children[ppid].append(int(d))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total


def cpu_counters(root_pid: int) -> tuple[float, float]:
    """(CPU seconds used by ``root_pid``'s process tree, reaped children
    included; CPU seconds the machine's hypervisor stole from all cores),
    both cumulative, from /proc. Differences around a unit tell whether its
    wall moved with its own work or with the machine."""
    tick = os.sysconf("SC_CLK_TCK")
    stats, children = {}, defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                continue
            stats[int(d)] = fields
            children[int(fields[1])].append(int(d))
    cpu, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        if pid in stats:  # utime, stime, cutime, cstime
            cpu += sum(int(v) for v in stats[pid][11:15])
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8])
    return cpu / tick, steal / tick


class PeakRss:
    """Samples the RSS of this process tree (driver JVM and Python workers
    included) every ``interval`` s while active; ``peak_mb`` is the maximum."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
