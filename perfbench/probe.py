"""Readers the benchmark uses to observe a run from outside the program.

- :class:`SparkCounters` reads Spark's in-process status store (jobs and
  stages, with task metrics) through the JVM gateway. It works with
  ``spark.ui.enabled=false``; the store keeps only
  ``spark.ui.retainedStages`` stages, so callers read after every
  iteration.
- :class:`ProcSampler` samples CPU time and resident memory of this
  process and every descendant (the Spark JVM, Python workers) from
  ``/proc``.
- :class:`Tracer` records spans around calls into the program's public
  functions and tags each span's Spark jobs with a job group of its own.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "input_bytes", "output_bytes",
)

GROUP_PREFIX = "perfbench-"


def _zero() -> dict:
    return {k: 0 for k in COUNTERS}


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class SparkCounters:
    """Job and stage metrics from the status store, serialized to JSON on
    the JVM side in one call each (per-field py4j calls would cost more
    than the iterations they measure)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = spark._jvm
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(
            getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"),
            "MODULE$",
        )
        self._mapper.registerModule(scala_module)
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)

    def _drain(self) -> None:
        # listener events land asynchronously; read only a settled store
        self._jsc.listenerBus().waitUntilEmpty()

    def last_job_id(self) -> int:
        self._drain()
        jobs = json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))
        return max((j["jobId"] for j in jobs), default=-1)

    def jobs_after(self, job_id: int) -> list[dict]:
        """Every job with an id above ``job_id``: its group, its interval in
        epoch seconds and the summed metrics of the stages it ran."""
        self._drain()
        jobs = [
            j for j in json.loads(
                self._mapper.writeValueAsString(self._store.jobsList(None))
            )
            if j["jobId"] > job_id
        ]
        stages = json.loads(self._mapper.writeValueAsString(
            self._store.stageList(None, False, False, self._no_quantiles, None)
        ))
        by_id: dict[int, list[dict]] = {}
        for s in stages:
            if s["status"] in ("COMPLETE", "FAILED"):
                by_id.setdefault(s["stageId"], []).append(s)
        out = []
        for j in jobs:
            c = _zero()
            c["jobs"] = 1
            for sid in j["stageIds"]:
                for s in by_id.get(sid, ()):
                    c["stages"] += 1
                    c["tasks"] += s["numCompleteTasks"] + s["numFailedTasks"]
                    c["executor_run_s"] += s["executorRunTime"] / 1e3
                    c["executor_cpu_s"] += s["executorCpuTime"] / 1e9
                    c["gc_s"] += s["jvmGcTime"] / 1e3
                    c["shuffle_read_bytes"] += s["shuffleReadBytes"]
                    c["shuffle_write_bytes"] += s["shuffleWriteBytes"]
                    c["spill_bytes"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                    c["input_bytes"] += s["inputBytes"]
                    c["output_bytes"] += s["outputBytes"]
            start = j["submissionTime"] / 1e3 if j["submissionTime"] else None
            end = j["completionTime"] / 1e3 if j["completionTime"] else None
            out.append({"job": j["jobId"], "name": j["name"], "group": j["jobGroup"],
                        "start": start, "end": end, "counters": c})
        return out


def summarize_jobs(jobs: list[dict], t0: float, t1: float, cores: int) -> dict:
    """Iteration totals plus the driver-bound signals: time in [t0, t1]
    (epoch seconds) with no job running, and executor busy share."""
    tot = _zero()
    for j in jobs:
        for k, v in j["counters"].items():
            tot[k] += v
    busy = union_length(
        (max(j["start"], t0), min(j["end"], t1))
        for j in jobs
        if j["start"] is not None and j["end"] is not None
        and j["end"] > t0 and j["start"] < t1
    )
    wall = t1 - t0
    tot["driver_gap_s"] = max(wall - busy, 0.0)
    tot["slot_util"] = tot["executor_run_s"] / (wall * cores) if wall > 0 else 0.0
    return tot


# -- /proc -------------------------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
SAMPLE_INTERVAL_S = 0.05


def _stat(pid: int):
    """(ppid, cpu seconds incl. reaped children) of one process, or None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is state (field 3); utime..cstime are fields 14..17
    ticks = sum(int(x) for x in fields[11:15])
    return int(fields[1]), ticks / _CLK


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except OSError:
        return 0


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def steal_s() -> float:
    """CPU seconds the host's hypervisor took from this machine's CPUs
    since boot; a rise during an iteration means other guests competed
    for the cores."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _CLK


def foreign_jvms(root: int) -> int:
    """Java processes on the host outside this process tree."""
    mine = set(process_tree(root))
    n = 0
    for name in os.listdir("/proc"):
        if name.isdigit() and int(name) not in mine:
            try:
                with open(f"/proc/{name}/comm") as fh:
                    n += fh.read().strip() == "java"
            except OSError:
                pass
    return n


class ProcSampler:
    """CPU seconds and peak RSS of this process tree. A background thread
    samples RSS every ``SAMPLE_INTERVAL_S`` seconds; :meth:`cpu_s` reads
    CPU time on demand. The tree is re-listed at each :meth:`reset_peak`."""

    def __init__(self):
        self.root = os.getpid()
        self._pids = process_tree(self.root)
        self._peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(SAMPLE_INTERVAL_S):
            rss = sum(_rss_bytes(p) for p in self._pids)
            self._peak = max(self._peak, rss)

    def reset_peak(self) -> None:
        self._pids = process_tree(self.root)
        self._peak = sum(_rss_bytes(p) for p in self._pids)

    def peak_rss_mb(self) -> float:
        return max(self._peak, sum(_rss_bytes(p) for p in self._pids)) / 2**20

    def cpu_s(self) -> float:
        total = 0.0
        for pid in process_tree(self.root):
            st = _stat(pid)
            if st is not None:
                total += st[1]
        return total


# -- spans -------------------------------------------------------------------

class Tracer:
    """Spans recorded around wrapped calls. Each span has a name (its
    layer is the part before the first dot), start, end, its parent span
    on the same thread, and attributes set by the wrapper. While a span is
    open, Spark jobs its thread submits carry the span's job group."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        sid = next(self._ids)
        rec = {"id": sid, "name": name,
               "parent": stack[-1]["id"] if stack else None,
               "thread": threading.get_ident(), "attrs": dict(attrs)}
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{sid}")
        stack.append(rec)
        rec["t0"] = time.time()
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` by a spanned version until :meth:`unwrap`.
        ``before(args, kwargs)`` returns state handed to
        ``after(state, rec, result)``, which may set span attributes."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            state = before(args, kwargs) if before else None
            with tracer.span(name) as rec:
                result = fn(*args, **kwargs)
            if after:
                after(state, rec, result)
            return result

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def unwrap(self) -> None:
        while self._patched:
            owner, attr, fn = self._patched.pop()
            setattr(owner, attr, fn)

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part its child spans cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
        return {
            s["id"]: (s["t1"] - s["t0"]) - union_length(kids.get(s["id"], ()))
            for s in self.spans
        }

    def attach_jobs(self, jobs: list[dict]) -> dict[str, dict]:
        """Sum each job's counters onto the span whose group tagged it and
        return per-layer totals (jobs outside any span go to ``other``)."""
        by_id = {s["id"]: s for s in self.spans}
        layers: dict[str, dict] = {}
        for j in jobs:
            g = j["group"] or ""
            span = None
            if g.startswith(GROUP_PREFIX):
                span = by_id.get(int(g[len(GROUP_PREFIX):]))
            layer = span["name"].split(".")[0] if span else "other"
            tgt = layers.setdefault(layer, _zero())
            for k, v in j["counters"].items():
                tgt[k] += v
            if span is not None:
                sc = span.setdefault("spark", _zero())
                for k, v in j["counters"].items():
                    sc[k] += v
        return layers

    def reset(self) -> None:
        self.spans = []
