"""In-memory span tracer for the traced benchmark run.

Spans are recorded around public functions of the engine by wrapping them
from here, so the engine itself is unchanged. Each span runs its Spark jobs
under its own job group; after the run, the job, stage and task counts of
every group are read back from ``sc.statusTracker()``. That adds no Spark
jobs, only py4j calls, whose cost is reported as the tracing overhead.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import time

# (module, attribute, span name). A module function is patched in every
# loaded engine module that imported it by name, so calls through
# `from ... import f` copies are traced too. Functions referenced from
# closures that Spark ships to workers stay picklable by reference, because
# the wrapper carries the wrapped function's module and qualified name.
TARGETS = [
    ("lucene_rust_spark.index.build", "build_index", "index.build.build_index"),
    ("lucene_rust_spark.index.build", "build_group_job", "index.build.build_group_job"),
    ("lucene_rust_spark.index.build", "write_terms_dict", "index.build.write_terms_dict"),
    ("lucene_rust_spark.index.merge", "merge_segments", "index.merge.merge_segments"),
    ("lucene_rust_spark.streaming.incremental", "append_batch", "streaming.incremental.append_batch"),
    ("lucene_rust_spark.index.deletes", "delete_by_ids", "index.deletes.delete_by_ids"),
    ("lucene_rust_spark.index.manifest", "commit_manifest", "index.manifest.commit_manifest"),
    ("lucene_rust_spark.search.searcher", "combine_bool_arrays", "search.searcher.combine_bool_arrays"),
    ("lucene_rust_spark.functions.kernels", "for_unpack_batch", "functions.kernels.for_unpack_batch"),
]
# IndexSearcher methods, patched on the class
SEARCHER_METHODS = ["__init__", "refresh", "search", "search_df", "term_stats"]


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "counts", "jobs", "stages", "tasks", "failed_tasks")

    def __init__(self, sid: int, name: str, parent: int | None):
        self.id, self.name, self.parent = sid, name, parent
        self.start = self.end = 0.0
        self.counts: dict[str, int] = {}
        self.jobs = self.stages = self.tasks = self.failed_tasks = 0

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.id}"

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory; ``resolve()`` fills in Spark counts."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------

    def open(self, name: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), name, parent)
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        sp.start = time.perf_counter()
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self._stack.pop()
        if self._stack:
            outer = self._stack[-1]
            self.sc.setJobGroup(outer.group, outer.name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def call(self, name: str, fn, *args, count=None, **kwargs):
        sp = self.open(name)
        try:
            out = fn(*args, **kwargs)
            if count is not None:
                sp.counts.update(count(args, kwargs, out))
            return out
        finally:
            self.close(sp)

    # -- instrumentation -----------------------------------------------------

    def _wrap(self, fn, name: str, count=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return tracer.call(name, fn, *args, count=count, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap every target; ``uninstall()`` restores the originals."""
        counters = {
            "index.build.build_index": _segments_count,
            "index.merge.merge_segments": _segments_count,
            "functions.kernels.for_unpack_batch": _decoded_count,
        }
        for modname, attr, name in TARGETS:
            fn = getattr(importlib.import_module(modname), attr)
            wrapper = self._wrap(fn, name, counters.get(name))
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith("lucene_rust_spark") and getattr(mod, attr, None) is fn:
                    self._patched.append((mod, attr, fn))
                    setattr(mod, attr, wrapper)
        from lucene_rust_spark.search.searcher import IndexSearcher

        for meth in SEARCHER_METHODS:
            fn = IndexSearcher.__dict__[meth]
            self._patched.append((IndexSearcher, meth, fn))
            setattr(IndexSearcher, meth, self._wrap(fn, f"search.searcher.{meth}"))

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    # -- Spark counts --------------------------------------------------------

    def resolve(self) -> None:
        """Read job/stage/task counts per span group. Waits for Spark's
        listener bus first, because job-end events are delivered async."""
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        except Exception:  # private API; a short sleep serves the same end
            time.sleep(1.0)
        st = self.sc.statusTracker()
        for sp in self.spans:
            for jid in st.getJobIdsForGroup(sp.group):
                job = st.getJobInfo(jid)
                sp.jobs += 1
                for sid in job.stageIds if job else ():
                    stage = st.getStageInfo(sid)
                    if stage is None:
                        continue
                    sp.stages += 1
                    sp.tasks += stage.numCompletedTasks + stage.numFailedTasks
                    sp.failed_tasks += stage.numFailedTasks

    def span_cost_s(self, n: int = 200) -> float:
        """Mean cost of one empty span (the per-span tracing overhead)."""
        t0 = time.perf_counter()
        for _ in range(n):
            self.close(self.open("trace.calibrate"))
        cost = (time.perf_counter() - t0) / n
        del self.spans[-n:]
        return cost

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({
                    "id": sp.id, "name": sp.name, "parent": sp.parent,
                    "start": sp.start, "end": sp.end, "jobs": sp.jobs,
                    "stages": sp.stages, "tasks": sp.tasks,
                    "failed_tasks": sp.failed_tasks, **sp.counts,
                }) + "\n")


def _segments_count(args, kwargs, manifest) -> dict:
    return {"segments": len(manifest["segments"])}


def _decoded_count(args, kwargs, out) -> dict:
    ns = args[1] if len(args) > 1 else kwargs["ns"]
    return {"postings": int(sum(int(n) for n in ns))}


class SpanTree:
    """Queries over recorded spans: subtrees, self time, totals."""

    def __init__(self, spans: list[Span]):
        self.spans = spans
        self.children: dict[int, list[Span]] = {}
        for sp in spans:
            if sp.parent is not None:
                self.children.setdefault(sp.parent, []).append(sp)

    def named(self, name: str, under: str | None = None) -> list[Span]:
        """Spans called `name`; with `under`, only those inside a span
        called `under`."""
        out = []
        for sp in self.spans:
            if sp.name != name:
                continue
            if under is None or self.ancestor(sp, under) is not None:
                out.append(sp)
        return out

    def ancestor(self, sp: Span, name: str) -> Span | None:
        p = sp.parent
        while p is not None:
            if self.spans[p].name == name:
                return self.spans[p]
            p = self.spans[p].parent
        return None

    def subtree(self, sp: Span):
        yield sp
        for c in self.children.get(sp.id, ()):
            yield from self.subtree(c)

    def total(self, sp: Span, attr: str) -> int:
        return sum(getattr(s, attr) for s in self.subtree(sp))

    def within(self, sp: Span, name: str) -> list[Span]:
        return [s for s in self.subtree(sp) if s.name == name and s is not sp]

    def self_time(self, sp: Span) -> float:
        return sp.duration - sum(c.duration for c in self.children.get(sp.id, ()))
