"""Spans around calls into the engine's modules, for the traced run.

The engine is not instrumented; the tracer wraps module functions from
the outside while a traced run lasts.  Each span sets its own Spark job
group, so the jobs a span triggers (and their stages' executor time,
shuffle, spill and GC, read back from the status store) belong to the
innermost open span.  Spark evaluates lazily: a call that only builds a
plan triggers no job, so the wrappers of plan-building layers persist
and count the DataFrame they return inside their span.  That moves each
layer's executor work into its own span at the price of one extra pass
per layer boundary — part of the tracing overhead that the untraced run
leaves out.

A nested call into the layer already open (prepare_docs calling
attach_doc_ids) joins the open span instead of starting a child.
"""

from __future__ import annotations

import contextlib
import functools
import os
import time
from collections import defaultdict

from perfbench.core import covered, median, self_time

MB = 1e6


class Span:
    __slots__ = ("layer", "name", "parent", "group", "start", "end", "stats", "attrs")

    def __init__(self, layer: str, name: str, parent: "Span | None", group: str):
        self.layer, self.name, self.parent, self.group = layer, name, parent, group
        self.start = self.end = 0.0
        self.stats: dict = {}
        self.attrs: dict = defaultdict(float)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; every method is a no-op otherwise,
    so the untraced run executes the same workload code."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None  # spans record wall time only while no session is attached
        self.io = None
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[Span] = []
        self._persisted: list = []
        self._n = 0

    def attach(self, spark) -> None:
        if self.enabled:
            from invertedindexbuilder_spark.benchmetrics import JvmIOMeter

            self.sc, self.io = spark.sparkContext, JvmIOMeter()

    # -- spans --------------------------------------------------------
    @contextlib.contextmanager
    def span(self, layer: str, name: str = ""):
        if not self.enabled:
            yield None
            return
        top = self._stack[-1] if self._stack else None
        if top is not None and top.layer == layer:
            yield top
            return
        self._n += 1
        sp = Span(layer, name, top, f"perfbench-{os.getpid()}-{self._n}")
        sc, io = self.sc, self.io
        if sc is not None:
            prev_group = sc.getLocalProperty("spark.jobGroup.id")
            sc.setLocalProperty("spark.jobGroup.id", sp.group)
            rchar0 = io.snapshot()["rchar"]
        self._stack.append(sp)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if sc is not None:
                sp.attrs["read_bytes"] = io.snapshot()["rchar"] - rchar0
                sc.setLocalProperty("spark.jobGroup.id", prev_group)
                sp.stats = self._job_stats(sp.group)
            self.spans.append(sp)

    def _job_stats(self, group: str) -> dict:
        """Jobs of one job group, summed over their stage attempts.  Waits
        (bounded) for the listener bus to report every job finished, so
        stage metrics are final when read."""
        st = self.sc.statusTracker()
        job_ids = list(st.getJobIdsForGroup(group))
        deadline = time.time() + 10
        while time.time() < deadline:
            infos = [st.getJobInfo(j) for j in job_ids]
            if all(i is not None and i.status not in ("RUNNING", "UNKNOWN") for i in infos):
                break
            time.sleep(0.01)
        store = self.sc._jsc.sc().statusStore()
        out = {"jobs": len(job_ids), "tasks": 0, "busy_s": 0.0, "gc_s": 0.0,
               "shuffle_mb": 0.0, "spill_mb": 0.0, "stage_intervals": []}
        stage_ids = set()
        for j in job_ids:
            info = st.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            try:
                d = store.lastStageAttempt(sid)
            except Exception:  # a stage never submitted has no attempt
                continue
            if d.status().toString() == "SKIPPED":
                continue
            out["tasks"] += d.numCompleteTasks()
            out["busy_s"] += d.executorRunTime() / 1000.0
            out["gc_s"] += d.jvmGcTime() / 1000.0
            out["shuffle_mb"] += d.shuffleWriteBytes() / MB
            out["spill_mb"] += d.diskBytesSpilled() / MB
            sub, done = d.submissionTime(), d.completionTime()
            if sub.isDefined() and done.isDefined():
                out["stage_intervals"].append(
                    (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                )
        return out

    # -- wrappers around engine functions -----------------------------
    def _layer_call(self, fn, layer: str, materialize: bool):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            opened = not (self._stack and self._stack[-1].layer == layer)
            with self.span(layer, fn.__name__) as sp:
                out = fn(*args, **kwargs)
                if materialize and opened and hasattr(out, "persist"):
                    from pyspark.storagelevel import StorageLevel

                    out = out.persist(StorageLevel.MEMORY_AND_DISK)
                    self._persisted.append(out)
                    sp.attrs["rows"] += out.count()
                return out

        return wrapper

    def _timed_call(self, fn, key: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.counters[key + ".s"] += time.perf_counter() - t0
                self.counters[key + ".calls"] += 1

        return wrapper

    def _catalog_write(self, fn):
        @functools.wraps(fn)
        def wrapper(cat, df, name, *args, **kwargs):
            path = cat.path(name)
            mode = kwargs.get("mode", args[0] if args else "overwrite")
            before = tree_bytes(path) if mode == "append" else 0
            with self.span("catalog", "write"):
                fn(cat, df, name, *args, **kwargs)
            self.counters["catalog.written_bytes"] += tree_bytes(path) - before

        return wrapper

    @contextlib.contextmanager
    def patched(self):
        """Install the span wrappers for the duration of the block."""
        if not self.enabled:
            yield
            return
        from invertedindexbuilder_spark import catalog
        from invertedindexbuilder_spark.operators import index_build, local_query
        from invertedindexbuilder_spark.plans import build

        targets = [
            (build, "prepare_docs", lambda f: self._layer_call(f, "docids", True)),
            (build, "attach_doc_ids", lambda f: self._layer_call(f, "docids", True)),
            (build, "build_postings", lambda f: self._layer_call(f, "postings", True)),
            (build, "resolve_salting_sampled",
             lambda f: self._layer_call(f, "index_build", False)),
            (build, "encode_chunks", lambda f: self._layer_call(f, "index_build", True)),
            (index_build, "compact_chunks",
             lambda f: self._layer_call(f, "index_build", True)),
            (catalog.Catalog, "write", self._catalog_write),
            (catalog.Catalog, "publish", lambda f: self._layer_call(f, "catalog", False)),
            (local_query.LocalIndex, "lookup",
             lambda f: self._timed_call(f, "local_query.lookup")),
            (local_query, "decode_block_run",
             lambda f: self._timed_call(f, "compress.decode")),
        ]
        saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in targets]
        try:
            for obj, attr, wrap in targets:
                setattr(obj, attr, wrap(getattr(obj, attr)))
            yield
        finally:
            for obj, attr, orig in saved:
                setattr(obj, attr, orig)

    def release(self) -> None:
        """Unpersist what the layer wrappers materialized."""
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    def discard(self) -> None:
        """Forget the spans and counters recorded so far (a warm-up)."""
        self.spans.clear()
        self.counters.clear()

    # -- per-layer metrics ---------------------------------------------
    def _children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[id(s.parent)].append(s)
        return kids

    def _subtree(self, sp: Span, kids) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(id(s), []))
        return out

    def layer_metrics(self, cores: int, extras: dict) -> dict[str, float]:
        """Every per-layer metric of the run (0 where the workload did not
        exercise the layer).  ``extras`` holds the counts the workload
        measured itself (index shape, local queries, write amplification)."""
        kids = self._children()

        def spans(layer, name=None):
            return [s for s in self.spans
                    if s.layer == layer and (name is None or s.name == name)]

        def total(ss, key):
            return sum(s.stats.get(key, 0) for s in ss)

        def incl(ss, key):
            return sum(total(self._subtree(s, kids), key) for s in ss)

        def per(value, n):
            return value / n if n else 0.0

        builds, compacts = spans("build"), spans("compact")
        deletes, loads = spans("deletes"), spans("local_query", "load")
        queries, batches = spans("query_exec"), spans("query_batch")
        # the ingest layers are reported per bulk build when the run has
        # one (their full-scale path), else per fold; catalog per write op
        roots = builds or compacts
        scoped = [s for r in roots for s in self._subtree(r, kids)]

        def layer(name):
            return [s for s in scoped if s.layer == name]

        writes = len(builds) + len(compacts) + len(deletes)
        n_local = extras.get("local_queries", 0)
        build_wall = sum(s.duration for s in builds)
        m = {
            "docids.busy_s": per(total(layer("docids"), "busy_s"), len(roots)),
            "docids.shuffle_mb": per(total(layer("docids"), "shuffle_mb"), len(roots)),
            "postings.busy_s": per(total(layer("postings"), "busy_s"), len(roots)),
            "postings.rows": per(sum(s.attrs["rows"] for s in layer("postings")), len(roots)),
            "index_build.busy_s": per(total(layer("index_build"), "busy_s"), len(roots)),
            "index_build.shuffle_mb": per(total(layer("index_build"), "shuffle_mb"), len(roots)),
            "index_build.spill_mb": per(total(layer("index_build"), "spill_mb"), len(roots)),
            "index_build.bytes_per_posting": extras.get("bytes_per_posting", 0.0),
            "index_build.blocks": extras.get("blocks", 0),
            "catalog.write_s": per(sum(s.duration for s in spans("catalog", "write")), writes),
            "catalog.written_mb": per(self.counters["catalog.written_bytes"] / MB, writes),
            "catalog.publish_s": per(sum(s.duration for s in spans("catalog", "publish")), writes),
            "build.jobs": per(incl(builds, "jobs"), len(builds)),
            "build.tasks": per(incl(builds, "tasks"), len(builds)),
            "build.idle_core_share": (
                1.0 - incl(builds, "busy_s") / (cores * build_wall) if build_wall else 0.0
            ),
            "build.gc_s": per(incl(builds, "gc_s"), len(builds)),
            "build.self_s": per(sum(
                self_time(s.start, s.end, [(c.start, c.end) for c in kids.get(id(s), [])])
                for s in builds
            ), len(builds)),
            "query_exec.jobs_per_query": per(total(queries, "jobs"), len(queries)),
            "query_exec.tasks_per_query": per(total(queries, "tasks"), len(queries)),
            "query_exec.busy_s_per_query": per(total(queries, "busy_s"), len(queries)),
            "query_exec.no_stage_s_per_query": per(sum(
                s.duration - covered(s.start, s.end, s.stats.get("stage_intervals", []))
                for s in queries
            ), len(queries)),
            "query_exec.read_mb_per_query": per(
                sum(s.attrs["read_bytes"] for s in queries) / MB, len(queries)),
            "query_batch.jobs": per(total(batches, "jobs"), len(batches)),
            "query_batch.busy_s": per(total(batches, "busy_s"), len(batches)),
            "query_batch.read_mb": per(
                sum(s.attrs["read_bytes"] for s in batches) / MB, len(batches)),
            "local_query.load_s": median([s.duration for s in loads]) if loads else 0.0,
            "local_query.blocks_decoded_per_query": per(extras.get("blocks_decoded", 0), n_local),
            "local_query.decoded_block_share": per(
                extras.get("blocks_decoded", 0), extras.get("blocks_matched", 0)),
            "local_query.lookup_us": 1e6 * per(
                self.counters["local_query.lookup.s"], self.counters["local_query.lookup.calls"]),
            "compress.decode_calls_per_query": per(self.counters["compress.decode.calls"], n_local),
            "compress.decode_s_per_query": per(self.counters["compress.decode.s"], n_local),
            "compact.busy_s": per(incl(compacts, "busy_s"), len(compacts)),
            "compact.jobs": per(incl(compacts, "jobs"), len(compacts)),
            "compact.rewritten_mb_per_delta_mb": extras.get("write_amplification", 0.0),
            "deletes.wall_s": per(sum(s.duration for s in deletes), len(deletes)),
            "deletes.jobs": per(incl(deletes, "jobs"), len(deletes)),
        }
        return {k: float(v) for k, v in m.items()}


PER_LAYER_UNITS = {
    "docids.busy_s": "s", "docids.shuffle_mb": "MB",
    "postings.busy_s": "s", "postings.rows": "count",
    "index_build.busy_s": "s", "index_build.shuffle_mb": "MB",
    "index_build.spill_mb": "MB", "index_build.bytes_per_posting": "B",
    "index_build.blocks": "count",
    "catalog.write_s": "s", "catalog.written_mb": "MB", "catalog.publish_s": "s",
    "build.jobs": "count", "build.tasks": "count", "build.idle_core_share": "ratio",
    "build.gc_s": "s", "build.self_s": "s",
    "query_exec.jobs_per_query": "count", "query_exec.tasks_per_query": "count",
    "query_exec.busy_s_per_query": "s", "query_exec.no_stage_s_per_query": "s",
    "query_exec.read_mb_per_query": "MB",
    "query_batch.jobs": "count", "query_batch.busy_s": "s", "query_batch.read_mb": "MB",
    "local_query.load_s": "s", "local_query.blocks_decoded_per_query": "count",
    "local_query.decoded_block_share": "ratio", "local_query.lookup_us": "us",
    "compress.decode_calls_per_query": "count", "compress.decode_s_per_query": "s",
    "compact.busy_s": "s", "compact.jobs": "count",
    "compact.rewritten_mb_per_delta_mb": "ratio",
    "deletes.wall_s": "s", "deletes.jobs": "count",
}


def file_sizes(path: str) -> dict[str, int]:
    """Size of every file under ``path`` (empty if absent)."""
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            out[p] = os.path.getsize(p)
    return out


def tree_bytes(path: str) -> int:
    return sum(file_sizes(path).values())
