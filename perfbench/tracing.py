"""Tracing from outside the program: spans around calls into each layer's
public functions, and per-op Spark job/stage accounting read from Spark's
own status store under a job group.

Spans live in memory (one list per run) and are written out when the run
ends. A span is ``(name, layer, start, end, parent, op)``; a layer's self
time is its spans' durations minus the part of that interval covered by
their child spans.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import threading
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

# (module, attribute) pairs wrapped while tracing. A function bound by name
# into another module is patched there too, since that binding is what the
# caller resolves.
WRAPPED = {
    "mpp": [("duckdb_mpp_spark.mpp", "MppSession.sql"), ("duckdb_mpp_spark.mpp", "MppSession.upsert")],
    "table": [
        ("duckdb_mpp_spark.table", "DistributedTable.insert"),
        ("duckdb_mpp_spark.table", "DistributedTable.scan"),
        ("duckdb_mpp_spark.table", "DistributedTable.compact"),
        ("duckdb_mpp_spark.table", "DistributedTable.vacuum"),
    ],
    "dml": [
        ("duckdb_mpp_spark.dml", "update"),
        ("duckdb_mpp_spark.dml", "delete"),
        ("duckdb_mpp_spark.dml", "upsert"),
    ],
    "manifest": [
        ("duckdb_mpp_spark.manifest", "commit"),
        ("duckdb_mpp_spark.manifest", "load_full"),
        ("duckdb_mpp_spark.manifest", "load_version_full"),
        ("duckdb_mpp_spark.manifest", "vacuum"),
    ],
    "pruning": [
        ("duckdb_mpp_spark.pruning", "bucket_predicate_for_where"),
        ("duckdb_mpp_spark.pruning", "evaluate_bucket_ids"),
        ("duckdb_mpp_spark.table", "bucket_predicate_for_where"),
        ("duckdb_mpp_spark.table", "evaluate_bucket_ids"),
    ],
}
LAYERS = ["bench", "mpp", "spark", "table", "dml", "manifest", "pruning", "operators"]


class Tracer:
    """Span recorder plus the monkey-patches that feed it. ``enabled``
    gates recording so the same process can run untraced and traced
    windows; ``install``/``uninstall`` restore every patched attribute."""

    def __init__(self):
        self.spans: list[tuple] = []
        self.enabled = False
        self.op = None
        self.counts: dict[str, int] = defaultdict(int)
        self.dml_kept: list[tuple[int, int]] = []
        self._stack = threading.local()
        self._lock = threading.Lock()
        self._saved: list[tuple] = []
        self._conflict: type = RuntimeError

    # -- spans -------------------------------------------------------------
    def _frames(self) -> list[int]:
        st = getattr(self._stack, "s", None)
        if st is None:
            st = self._stack.s = []
        return st

    def span(self, name: str, layer: str):
        return _Span(self, name, layer) if self.enabled else contextlib.nullcontext()

    def _wrap(self, layer: str, qualname: str, fn):
        tracer = self
        name = f"{layer}.{qualname.rsplit('.', 1)[-1]}"

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name, layer):
                try:
                    out = fn(*args, **kwargs)
                except Exception as e:
                    if isinstance(e, tracer._conflict):
                        tracer.counts["manifest.conflicts"] += 1
                    raise
                tracer._count(name, args, out)
                return out

        return wrapper

    def _count(self, name: str, args, out) -> None:
        self.counts[name] += 1
        if name == "pruning.evaluate_bucket_ids" and len(args) == 3:
            self.dml_kept.append((len(out), int(args[2])))

    def install(self) -> None:
        from duckdb_mpp_spark.manifest import CommitConflict

        self._conflict = CommitConflict
        for layer, targets in WRAPPED.items():
            for mod_name, qual in targets:
                owner = importlib.import_module(mod_name)
                parts = qual.split(".")
                for p in parts[:-1]:
                    owner = getattr(owner, p)
                orig = getattr(owner, parts[-1])
                self._saved.append((owner, parts[-1], orig))
                setattr(owner, parts[-1], self._wrap(layer, qual, orig))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    # -- analysis ----------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Per-layer self time (seconds) summed over all recorded spans."""
        children = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s[4] is not None:
                children[s[4]].append((s[2], s[3]))
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            covered = _union([iv for iv in children.get(i, [])], s[2], s[3])
            out[s[1]] += (s[3] - s[2]) - covered
        return dict(out)

    def durations(self, name: str) -> list[float]:
        return [s[3] - s[2] for s in self.spans if s[0] == name]

    def dump(self) -> list[dict]:
        return [
            {"name": s[0], "layer": s[1], "start": s[2], "end": s[3], "parent": s[4], "op": s[5]}
            for s in self.spans
        ]


class _Span:
    __slots__ = ("t", "name", "layer", "start", "parent")

    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.t, self.name, self.layer = tracer, name, layer

    def __enter__(self):
        frames = self.t._frames()
        self.parent = frames[-1] if frames else None
        self.start = time.perf_counter()
        with self.t._lock:  # reserve the index children point at
            self.t.spans.append(None)
            frames.append(len(self.t.spans) - 1)
        return self

    def __exit__(self, *exc):
        idx = self.t._frames().pop()
        self.t.spans[idx] = (
            self.name, self.layer, self.start, time.perf_counter(), self.parent, self.t.op
        )
        return False


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class SparkStatus:
    """Per-op job/stage/task/shuffle/spill/GC accounting from Spark's
    status store (the data behind the UI; the UI itself stays off), read
    for the jobs of one job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        gw = self.sc._gateway
        self._jlist = gw.jvm.java.util.ArrayList()
        self._none = gw.new_array(gw.jvm.double, 0)
        self._q = gw.new_array(gw.jvm.double, 2)
        self._q[0], self._q[1] = 0.5, 1.0

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def collect(self, group: str, timeout: float = 5.0) -> dict:
        """Totals over the group's jobs, once the listener bus has caught up."""
        st = self.sc.statusTracker()
        jobs = list(st.getJobIdsForGroup(group))
        deadline = time.perf_counter() + timeout
        while time.perf_counter() < deadline:
            infos = [st.getJobInfo(j) for j in jobs]
            if all(i is not None and i.status != "RUNNING" for i in infos):
                break
            time.sleep(0.005)
        stages = sorted({s for j in jobs for s in (st.getJobInfo(j).stageIds if st.getJobInfo(j) else [])})
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "shuffle_bytes": 0,
               "spill_bytes": 0, "gc_ms": 0, "run_ms": 0, "skews": []}
        for sid in stages:
            info = st.getStageInfo(sid)
            if info is None:
                continue
            try:
                data = self.store.stageAttempt(sid, info.currentAttemptId, False, self._jlist, False, self._none)._1()
            except Py4JJavaError:  # evicted or never submitted (skipped stage)
                continue
            if data.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += data.numTasks()
            out["shuffle_bytes"] += data.shuffleReadBytes() + data.shuffleWriteBytes()
            out["spill_bytes"] += data.memoryBytesSpilled() + data.diskBytesSpilled()
            out["gc_ms"] += data.jvmGcTime()
            out["run_ms"] += data.executorRunTime()
            if data.numTasks() > 1:
                summ = self.store.taskSummary(sid, info.currentAttemptId, self._q)
                if summ.isDefined():
                    rt = summ.get().executorRunTime()
                    med, mx = rt.apply(0), rt.apply(1)
                    if med > 0:
                        out["skews"].append(mx / med)
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        return out
