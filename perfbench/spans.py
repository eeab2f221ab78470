"""Spans recorded from outside the program, and the Spark event log read back.

A :class:`Tracer` wraps public functions of the program (module attributes
are swapped for the traced run only and restored afterwards).  Each span
tags the Spark jobs it launches with a job group of its own, set in the
calling thread because job groups are thread-local.  Jobs launched outside
every child span fall to the enclosing root span.

:class:`EventLog` attaches Spark's own event-log writer to the running
session for the traced run only, so no Spark conf changes.  Afterwards
:func:`read_event_log` folds the log into per-job, per-task and per-plan
figures, and :func:`span_metrics` joins them with the spans.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import statistics
import subprocess
import time
from contextlib import contextmanager

# SQL metric names of the Arrow boundary in MapInPandas / MapInArrow nodes
ARROW_TO_PY = "data sent to Python workers"
ARROW_FROM_PY = "data returned from Python workers"


class Tracer:
    def __init__(self, spark, tag: str):
        self.sc = spark.sparkContext
        self.tag = tag
        self.spans: list[dict] = []
        self._ids = itertools.count()
        self._stack: list[str] = []
        self._patches: list[tuple] = []

    @contextmanager
    def span(self, name: str, layer: str):
        sid = f"{self.tag}:{next(self._ids)}:{name}"
        rec = {"id": sid, "name": name, "layer": layer,
               "parent": self._stack[-1] if self._stack else None}
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobGroup(sid, name)
        self._stack.append(sid)
        rec["start"] = time.time()
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if prev is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(prev, prev_desc or "")
            self.spans.append(rec)

    def wrap(self, module, attr: str, name, layer) -> None:
        """Swap ``module.attr`` for a traced wrapper.  ``name`` and
        ``layer`` are strings or functions of the call's arguments."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            n = name(*args, **kwargs) if callable(name) else name
            lay = layer(*args, **kwargs) if callable(layer) else layer
            with self.span(n, lay):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)
        self._patches.append((module, attr, fn))

    def unwrap(self) -> None:
        for module, attr, fn in reversed(self._patches):
            setattr(module, attr, fn)
        self._patches.clear()


class EventLog:
    """Spark's event-log writer on the live listener bus, for the duration
    of a ``with`` block: the log holds exactly the jobs of that block, and
    the session's conf (``spark.eventLog.*`` included) stays as it is."""

    def __init__(self, spark, log_dir: str):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc._jsc.sc()
        os.makedirs(log_dir, exist_ok=True)
        none = getattr(jvm.scala, "None$").__getattr__("MODULE$")
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            sc.applicationId, none, jvm.java.net.URI("file://" + log_dir),
            self._sc.conf(), self._sc.hadoopConfiguration())

    def __enter__(self):
        self._listener.start()
        self._sc.listenerBus().addToEventLogQueue(self._listener)
        return self

    def __exit__(self, *exc):
        bus = self._sc.listenerBus()
        bus.waitUntilEmpty()        # every event of the block is written
        bus.removeListener(self._listener)
        self._listener.stop()
        return False


def _lines(path: str):
    """Event-log lines; a ``.zstd`` log is streamed through the zstd CLI."""
    if path.endswith(".zstd"):
        proc = subprocess.Popen(["zstd", "-dcq", path], stdout=subprocess.PIPE)
        try:
            yield from proc.stdout
            rc = proc.wait()
        finally:
            if proc.poll() is None:     # the reader stopped early
                proc.kill()
            proc.stdout.close()
            proc.wait()
        if rc:
            raise RuntimeError(f"zstd exited with {rc} on {path}")
        return
    with open(path, "rb") as f:
        yield from f


def event_log_files(log_dir: str) -> list[str]:
    """The event files of the one application logged under ``log_dir``, in
    order: a single file, or the ``events_<n>_*`` parts of a rolling
    ``eventlog_v2_*`` directory."""
    apps = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(apps) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {apps}")
    path = os.path.join(log_dir, apps[0])
    if not os.path.isdir(path):
        return [path]
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    parts.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(path, f) for f in parts]


_WANTED = (b'"SparkListenerJobStart"', b'"SparkListenerTaskEnd"',
           b'SparkListenerSQLExecutionStart"',
           b'SparkListenerSQLAdaptiveExecutionUpdate"')


def read_event_log(paths: list[str]) -> dict:
    """Fold an event log into jobs (with group and SQL execution), tasks
    (with timing and byte counters) and plan sizes per SQL execution."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    plans: dict[int, int] = {}
    for raw in (line for p in paths for line in _lines(p)):
        head = raw[:120]
        if not any(w in head for w in _WANTED):
            continue
        ev = json.loads(raw)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            eid = props.get("spark.sql.execution.id")
            jobs[jid] = {"group": props.get("spark.jobGroup.id"),
                         "execution": int(eid) if eid is not None else None,
                         "time": ev.get("Submission Time", 0) / 1000}
            for s in ev.get("Stage IDs", []):
                stage_job[s] = jid
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            acc: dict[str, int] = {}
            for a in info.get("Accumulables", []):
                if a.get("Name") in (ARROW_TO_PY, ARROW_FROM_PY):
                    acc[a["Name"]] = acc.get(a["Name"], 0) + int(a["Update"])
            tasks.append({
                "stage": ev["Stage ID"],
                "launch": info["Launch Time"] / 1000,
                "finish": info["Finish Time"] / 1000,
                "run_s": m.get("Executor Run Time", 0) / 1000,
                "shuffle_bytes": (m.get("Shuffle Write Metrics") or {})
                .get("Shuffle Bytes Written", 0),
                "spill_bytes": m.get("Disk Bytes Spilled", 0),
                "output_bytes": (m.get("Output Metrics") or {})
                .get("Bytes Written", 0),
                "arrow_to_py": acc.get(ARROW_TO_PY, 0),
                "arrow_from_py": acc.get(ARROW_FROM_PY, 0),
            })
        else:
            eid = ev["executionId"]
            plans[eid] = max(plans.get(eid, 0),
                             len(ev.get("physicalPlanDescription") or ""))
    for t in tasks:
        t["job"] = stage_job.get(t["stage"])
    return {"jobs": jobs, "tasks": tasks, "plans": plans}


def _union_s(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _skew(tasks: list[dict]) -> float:
    """max / median task time in the stage with the most task time."""
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["finish"] - t["launch"])
    if not by_stage:
        return 0.0
    durs = max(by_stage.values(), key=sum)
    med = statistics.median(durs)
    return max(durs) / med if med > 0 else 1.0


def span_metrics(spans: list[dict], log: dict) -> dict[str, dict]:
    """Per span: wall, jobs, task time, no-task time, skew, bytes, plans.

    Jobs of a span are those tagged with its group; a root span (no
    parent) also owns every untagged job and every job of its
    descendants, so its figures cover the whole run."""
    by_id = {s["id"]: s for s in spans}

    def root_of(sid):
        while by_id[sid]["parent"] is not None:
            sid = by_id[sid]["parent"]
        return sid

    roots = [s for s in spans if s["parent"] is None]
    owner: dict[int, set[str]] = {}
    for jid, j in log["jobs"].items():
        g = j["group"]
        if g in by_id:
            owner[jid] = {g, root_of(g)}
        else:
            owner[jid] = {r["id"] for r in roots
                          if r["start"] <= j["time"] <= r["end"]}
    out = {}
    for s in spans:
        jids = {jid for jid, o in owner.items() if s["id"] in o}
        ts = [t for t in log["tasks"] if t["job"] in jids]
        execs = {log["jobs"][j]["execution"] for j in jids} - {None}
        wall = s["end"] - s["start"]
        busy = _union_s([(t["launch"], t["finish"]) for t in ts],
                        s["start"], s["end"])
        kids = [(c["start"], c["end"]) for c in spans
                if c["parent"] == s["id"]]
        out[s["id"]] = {
            "wall_s": wall,
            "jobs": len(jids),
            "task_s": sum(t["run_s"] for t in ts),
            "no_task_s": wall - busy,
            "self_s": wall - _union_s(kids, s["start"], s["end"]),
            "task_skew": _skew(ts),
            "shuffle_bytes": sum(t["shuffle_bytes"] for t in ts),
            "spill_bytes": sum(t["spill_bytes"] for t in ts),
            "bytes_written": sum(t["output_bytes"] for t in ts),
            "arrow_bytes_to_python": sum(t["arrow_to_py"] for t in ts),
            "arrow_bytes_from_python": sum(t["arrow_from_py"] for t in ts),
            "plan_chars_max": max((log["plans"].get(e, 0) for e in execs),
                                  default=0),
        }
    return out
