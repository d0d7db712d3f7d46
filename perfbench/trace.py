"""Traced mode: spans around the engine's public entry points, per-op
Spark job/stage/task counts, cache storage info, and process-tree RSS.

Spans are recorded from outside the engine: `Tracer.install` replaces
module and class attributes of the engine with timing wrappers for the
life of a traced run and `uninstall` restores them; the engine's files
are never edited. A span is (id, parent id, op id, layer, name, start,
end); spans of one benchmark operation share its op id. Tracing is
switched per thread (`Tracer.on`), so a traced run can interleave traced
and untraced operations and report the tracing overhead.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time
from collections import defaultdict

import numpy as np


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids[ppid].append(int(name))
    return kids


def _resident_bytes(pid: int) -> int:
    """Proportional resident bytes of one process (`Pss`): each shared
    page is split among the processes that map it, so a forked Python
    worker adds only its own pages."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of `root` and all its descendants (the driver, the
    JVM it launched and the JVM's Python workers), shared pages counted
    once."""
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            total += _resident_bytes(pid)
        except OSError:
            pass
    return total


class RssSampler:
    """Background sampler of the process tree's resident memory
    (`tree_rss_bytes`); `peak_mb`."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)


class Tracer:
    """Span recorder plus per-op counters for one traced run."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[tuple] = []
        self.ops: list[tuple] = []      # (op_id, kind, job_group, hits)
        self.counts: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple] = []
        self._pinned: list = []

    # -- switching and context --------------------------------------------
    @property
    def on(self) -> bool:
        return getattr(self._local, "on", False)

    @on.setter
    def on(self, value: bool) -> None:
        self._local.on = bool(value)

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.on:
            yield
            return
        st = self._stack()
        sid = next(self._ids)
        parent = st[-1] if st else 0
        op = getattr(self._local, "op", 0)
        st.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append((sid, parent, op, layer, name, t0, t1))

    @contextlib.contextmanager
    def op(self, kind: str):
        """One benchmark operation: a Spark job group and a root span."""
        if not self.on:
            yield None
            return
        op_id = next(self._ids)
        group = f"perfbench-op-{op_id}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, kind)
        self._local.op = op_id
        rec = {"hits": 0}
        try:
            with self.span("op", kind):
                yield rec
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            self._local.op = 0
            with self._lock:
                self.ops.append((op_id, kind, group, rec["hits"]))
            for df in self._take_pinned():
                df.unpersist()

    def _take_pinned(self) -> list:
        mine = getattr(self._local, "pinned", [])
        self._local.pinned = []
        return mine

    def count(self, key: str, value: float) -> None:
        with self._lock:
            self.counts[key] += value

    # -- wrappers ---------------------------------------------------------
    def wrap(self, layer: str, name: str, fn, after=None):
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.on:
                return fn(*args, **kwargs)
            with tracer.span(layer, name):
                out = fn(*args, **kwargs)
            if after is not None:
                after(out, args, kwargs)
            return out

        traced.__wrapped__ = fn
        return traced

    def patch(self, owner, attr: str, layer: str, name: str | None = None,
              after=None, replace=None) -> None:
        orig = getattr(owner, attr)
        new = replace(orig) if replace else self.wrap(
            layer, name or attr, orig, after)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, new)

    def install(self) -> None:
        from newssearchengine_spark.operators import hnsw
        from newssearchengine_spark.plans import delete, dsl, index_build
        from newssearchengine_spark.plans import merge, search

        si = search.SegmentIndex
        self.patch(dsl, "es_search", "dsl")
        self.patch(dsl, "es_msearch", "dsl")
        self.patch(si, "search", "search", after=self._after_search)
        self.patch(si, "search_many", "search", after=self._after_many)
        for name in ("search_phrase", "search_bool", "search_bool_tree",
                     "score_all", "analyze_query", "term_dfs"):
            self.patch(si, name, "search")
        self.patch(hnsw, "hnsw_candidates", "hnsw",
                   replace=self._eager_candidates)
        self.patch(index_build, "build_index", "index_build",
                   after=self._after_build)
        self.patch(delete, "delete_docs", "delete")
        self.patch(delete, "compact_index", "delete")
        self.patch(merge, "merge_indexes", "merge")

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- per-layer counters -----------------------------------------------
    def _after_search(self, out, args, kwargs) -> None:
        from newssearchengine_spark.plans.search import SEARCH_DRIVER_CAP

        si, query = args[0], args[1]
        if not kwargs.get("_raw") and si.n_deleted():
            return  # the tombstone wrapper: its inner _raw call counts
        terms = si.analyze_query.__wrapped__(si, query) \
            if isinstance(query, str) else list(query)
        dfs = si.term_dfs.__wrapped__(si, sorted(set(terms)))
        postings = sum(dfs.values())
        driver = (kwargs.get("mode", "taat") == "taat" and si._cache
                  and postings <= SEARCH_DRIVER_CAP)
        self.count("search.calls", 1)
        self.count("search.driver_calls", int(driver))
        self.count("search.postings", postings)

    def _after_many(self, out, args, kwargs) -> None:
        si, queries = args[0], args[1]
        if not kwargs.get("_raw") and si.n_deleted():
            return
        terms = set()
        for q in queries.values():
            terms.update(si.analyze_query.__wrapped__(si, q)
                         if isinstance(q, str) else q)
        dfs = si.term_dfs.__wrapped__(si, sorted(terms))
        self.count("search.postings", sum(dfs.values()))
        self.count("search.many_queries", len(queries))

    def _after_build(self, out, args, kwargs) -> None:
        for phase, secs in out.get("phases", {}).items():
            self.count(f"index_build.{phase.split('_wave')[0]}_s", secs)

    def _eager_candidates(self, orig):
        """hnsw_candidates returns a lazy plan; the traced form runs the
        beam search inside the span (persisted, released at op end) so
        hnsw.knn_ms times the graph probe itself."""
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.on:
                return orig(*args, **kwargs)
            with tracer.span("hnsw", "hnsw_candidates"):
                out = orig(*args, **kwargs).persist()
                out.count()
            pinned = getattr(tracer._local, "pinned", None)
            if pinned is None:
                pinned = tracer._local.pinned = []
            pinned.append(out)
            return out

        traced.__wrapped__ = orig
        return traced

    # -- Spark status -----------------------------------------------------
    def cache_storage_mb(self) -> tuple[float, float]:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        mem = sum(i.memSize() for i in infos)
        disk = sum(i.diskSize() for i in infos)
        return mem / (1 << 20), disk / (1 << 20)

    def job_counts(self) -> dict[str, list[float]]:
        """Per traced op: jobs, stages, tasks and failed tasks."""
        time.sleep(1.0)  # let the listener bus catch up
        tracker = self.spark.sparkContext.statusTracker()
        out: dict[str, list[float]] = defaultdict(list)
        for _, _, group, _ in self.ops:
            jobs = tracker.getJobIdsForGroup(group)
            stages = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            tasks = failed = 0
            for s in stages:
                st = tracker.getStageInfo(s)
                if st is not None:
                    tasks += st.numTasks
                    failed += st.numFailedTasks
            out["jobs"].append(len(jobs))
            out["stages"].append(len(stages))
            out["tasks"].append(tasks)
            out["failed"].append(failed)
        return out

    # -- reports ----------------------------------------------------------
    def self_time_by_layer(self) -> dict[str, float]:
        """Seconds per layer of span time not covered by child spans."""
        child = defaultdict(float)
        for sid, parent, *_rest, t0, t1 in self.spans:
            child[parent] += t1 - t0
        out: dict[str, float] = defaultdict(float)
        for sid, _, _, layer, _, t0, t1 in self.spans:
            out[layer] += max(0.0, (t1 - t0) - child.get(sid, 0.0))
        return out

    def durations(self, layer: str, name: str) -> list[float]:
        return [t1 - t0 for _, _, _, ly, nm, t0, t1 in self.spans
                if ly == layer and nm == name]

    def per_op_total(self, layer: str, name: str) -> list[float]:
        """Summed span seconds per op (ops with no such span count 0)."""
        by_op = defaultdict(float)
        for _, _, op, ly, nm, t0, t1 in self.spans:
            if ly == layer and nm == name:
                by_op[op] += t1 - t0
        return [by_op.get(op_id, 0.0) for op_id, *_ in self.ops]

    def write(self, path: str) -> None:
        """Spans as JSON lines (written once, when the run ends)."""
        with open(path, "w") as f:
            for sid, parent, op, layer, name, t0, t1 in self.spans:
                f.write(json.dumps({"id": sid, "parent": parent, "op": op,
                                    "layer": layer, "name": name,
                                    "start": t0, "end": t1}) + "\n")


def median_or_zero(values) -> float:
    return float(np.median(values)) if len(values) else 0.0
