"""Measurement helpers: layer spans, Spark event-log counters and a
process-tree RSS sampler. Nothing here imports kbspark."""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
from collections import defaultdict

#: SQL metrics Spark attaches to Arrow Python operators (MapInPandas, ...)
PY_BYTES_IN = "data sent to Python workers"
PY_BYTES_OUT = "data returned from Python workers"


class Tracer:
    """In-memory spans recorded at layer boundaries by the benchmark.

    A span is named ``<layer>.<operation>``; its self time is its duration
    minus the part its child spans cover. While a span is open, the Spark
    job group is set to the span's id, so the event log attributes every
    stage to exactly one span."""

    def __init__(self, spark, trace_id: str):
        self.sc = spark.sparkContext
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "trace": self.trace_id,
               "parent": self._stack[-1] if self._stack else None,
               "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"span-{sid}", name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(f"span-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, owner, attr: str, name: str):
        """Context manager that records a span around every call of
        ``owner.attr`` (a module function or a class method)."""
        original = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        @contextlib.contextmanager
        def patched():
            setattr(owner, attr, traced)
            try:
                yield
            finally:
                setattr(owner, attr, original)

        return patched()

    def subtree(self, root_id: int) -> list[dict]:
        """The span ``root_id`` and all its descendants."""
        ids = {root_id}
        for s in self.spans:  # parents always precede their children
            if s["parent"] in ids:
                ids.add(s["id"])
        return [s for s in self.spans if s["id"] in ids]

    @staticmethod
    def self_times(spans: list[dict]) -> dict[str, float]:
        """Summed self time per span name over ``spans``."""
        child = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _acc_value(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def parse_event_log(log_dir: str) -> dict:
    """Spark counters per job group from the event log of the one
    application that wrote to ``log_dir``. Returns ``{"counters": {group:
    {name: value}}, "task_secs": {stage: [task seconds]},
    "group_of_stage": {stage: group}}``."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    group_of_stage: dict[int, str | None] = {}
    counters: dict[str | None, dict[str, float]] = defaultdict(
        lambda: defaultdict(float))
    task_secs: dict[int, list[float]] = defaultdict(list)
    completed: set[int] = set()
    with open(files[0], encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev.get("Stage IDs", []):
                    group_of_stage[sid] = group
            elif kind == "SparkListenerStageCompleted":
                completed.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                c = counters[group_of_stage.get(sid)]
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                c["tasks"] += 1
                c["cpu_ns"] += m.get("Executor CPU Time", 0)
                c["gc_ms"] += m.get("JVM GC Time", 0)
                c["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                     + m.get("Disk Bytes Spilled", 0))
                c["shuffle_write_bytes"] += (
                    m.get("Shuffle Write Metrics") or {}
                ).get("Shuffle Bytes Written", 0)
                for acc in info.get("Accumulables", []):
                    if acc.get("Name") == PY_BYTES_IN:
                        c["py_bytes_in"] += _acc_value(acc.get("Update"))
                    elif acc.get("Name") == PY_BYTES_OUT:
                        c["py_bytes_out"] += _acc_value(acc.get("Update"))
                task_secs[sid].append(
                    (info.get("Finish Time", 0) - info.get("Launch Time", 0))
                    / 1000.0)
    for sid in completed:
        counters[group_of_stage.get(sid)]["stages"] += 1
    return {"counters": counters, "task_secs": task_secs,
            "group_of_stage": group_of_stage}


def totals(log: dict, span_ids: set[int]) -> dict[str, float]:
    """Event-log counters summed over the stages of ``span_ids``."""
    groups = {f"span-{i}" for i in span_ids}
    tot: dict[str, float] = defaultdict(float)
    for g, c in log["counters"].items():
        if g in groups:
            for k, v in c.items():
                tot[k] += v
    return tot


def spark_counters(log: dict, span_ids: set[int], wall_s: float,
                   cores: int) -> dict[str, float]:
    """The ``spark.*`` per-layer metrics over the stages of ``span_ids``."""
    groups = {f"span-{i}" for i in span_ids}
    tot = totals(log, span_ids)
    skew = 1.0
    for sid, secs in log["task_secs"].items():
        if log["group_of_stage"].get(sid) in groups and len(secs) > 1:
            med = statistics.median(secs)
            if med > 0:
                skew = max(skew, max(secs) / med)
    return {
        "spark.stages": tot["stages"],
        "spark.tasks": tot["tasks"],
        "spark.shuffle_write_bytes": tot["shuffle_write_bytes"],
        "spark.spill_bytes": tot["spill_bytes"],
        "spark.core_util": tot["cpu_ns"] / 1e9 / (wall_s * cores),
        "spark.task_skew": skew,
        "spark.gc_s": tot["gc_ms"] / 1000.0,
    }


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat.rsplit(b")", 1)[1].split()[1])
        children[ppid].append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", encoding="ascii") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def child_processes() -> list[int]:
    """Every live descendant of this process (the JVM and its Python
    workers)."""
    return _descendants(os.getpid())


class RssSampler:
    """Peak summed RSS of this process's descendants (the driver JVM and
    its Python workers), sampled from /proc by one background thread."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            rss = sum(_rss_bytes(p) for p in child_processes())
            self.peak = max(self.peak, rss)
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
