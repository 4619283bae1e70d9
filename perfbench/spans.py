"""Spans, Spark job accounting and lower-layer wrappers for the traced run.

Nothing in the package is edited: layer boundaries are recorded from
the benchmark side, around the public calls it makes, and by wrapping
the public functions of the lower layers (`sinks.fs`, `sinks.zonemap`,
`sinks.bloom_index`, `operators.merge`) in every package module that
imported them.

Job counts come from `sc.statusTracker()`. The driver is one thread
and the scheduler assigns job ids in order, so the jobs a call ran are
exactly the ids between the next-id marks taken before and after it,
whatever job group the engine or a streaming query put them in.
"""

from __future__ import annotations

import functools
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JError

PACKAGE = "howto_mongo_bulk_update_from_parquet_spark"

# (module, public functions wrapped as one layer)
FS_FUNCS = ("exists", "listdir", "delete", "rename", "copy", "copy_many",
            "dir_size", "listdir_sizes", "write_text", "write_text_atomic",
            "rename_no_clobber", "newest_mtime", "probe_now_ms", "read_text")
WRAPPED = {
    "fs": (f"{PACKAGE}.sinks.fs", FS_FUNCS),
    "zonemap": (f"{PACKAGE}.sinks.zonemap",
                ("collect_zone_map", "write_zone_map", "read_zone_map",
                 "load_zone_map_index", "prune_files")),
    "bloom": (f"{PACKAGE}.sinks.bloom_index",
              ("collect_bloom_index", "write_bloom_index", "read_bloom_index",
               "bloom_index_cols", "bloom_kept_files")),
    "merge": (f"{PACKAGE}.operators.merge", ("prepare_source", "keyed_upsert")),
}


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    iteration: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. Disabled, every hook is a pass-through."""

    def __init__(self, spark, workload: str, enabled: bool):
        self.spark = spark
        self.workload = workload
        self.enabled = enabled
        self.spans: list[Span] = []
        self.iteration: int | None = None
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ----------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sp = Span(name, time.perf_counter(),
                  parent=self._stack[-1] if self._stack else None,
                  iteration=self.iteration, attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def call(self, layer_call: str, **attrs):
        """A public call into the package: job group + span + job/stage/task
        counts. The span's attrs gain jobs, stages, tasks, spill_bytes."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        group = f"{self.workload}/{layer_call}"
        sc.setJobGroup(group, group)
        first = self._job_mark()
        try:
            with self.span(layer_call, **attrs) as sp:
                yield sp
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sp.attrs.update(self._job_counts(first))

    # -- Spark job accounting -------------------------------------------
    def _job_mark(self) -> int:
        """The id the scheduler gives the next job."""
        return self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    def _job_counts(self, first: int) -> dict:
        # the status store is fed by the listener bus; let it catch up
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        end = self._job_mark()
        st = self.spark.sparkContext.statusTracker()
        stages = set()
        for j in range(first, end):
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for s in stages:
            si = st.getStageInfo(s)
            if si is not None:
                tasks += si.numCompletedTasks
        return {"jobs": end - first, "stages": len(stages), "tasks": tasks,
                "spill_bytes": self._spill(stages)}

    def _spill(self, stages) -> int:
        store = self.spark.sparkContext._jsc.sc().statusStore()
        total = 0
        for s in stages:
            try:
                data = store.stageData(
                    s, False, *(getattr(store, f"stageData$default${i}")()
                                for i in (3, 4, 5)))
            except Py4JError:      # the status store's signature differs across versions
                return -1
            for i in range(data.size()):
                d = data.apply(i)
                total += d.memoryBytesSpilled() + d.diskBytesSpilled()
        return total

    # -- lower-layer wrappers -------------------------------------------
    def install(self) -> None:
        if not self.enabled:
            return
        for layer, (mod_name, funcs) in WRAPPED.items():
            mod = sys.modules.get(mod_name) or __import__(mod_name, fromlist=["_"])
            for fn_name in funcs:
                orig = getattr(mod, fn_name)
                wrapped = self._wrap(f"{layer}.{fn_name}", orig)
                for m in list(sys.modules.values()):
                    if (getattr(m, "__name__", "").startswith(PACKAGE)
                            and getattr(m, fn_name, None) is orig):
                        setattr(m, fn_name, wrapped)
                        self._patched.append((m, fn_name, orig))
        zmod = sys.modules[f"{PACKAGE}.sinks.zonemap"]
        orig_prune = zmod.ZoneMapIndex.prune
        zmod.ZoneMapIndex.prune = self._wrap("zonemap.ZoneMapIndex.prune", orig_prune)
        self._patched.append((zmod.ZoneMapIndex, "prune", orig_prune))

    def uninstall(self) -> None:
        for obj, name, orig in reversed(self._patched):
            setattr(obj, name, orig)
        self._patched.clear()

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer._stack:      # outside any benchmark call: not counted
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)
        return wrapper

    # -- analysis ---------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Span name -> summed self time (duration minus covered child time)."""
        child = defaultdict(float)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.end - sp.start
        out: dict[str, float] = defaultdict(float)
        for i, sp in enumerate(self.spans):
            out[sp.name] += (sp.end - sp.start) - child[i]
        return dict(out)

    def calls(self, name: str) -> list[Span]:
        return [sp for sp in self.spans if sp.name == name]

    def inner(self, top: Span, prefix: str | tuple[str, ...]) -> list[Span]:
        """Spans named `prefix*` nested (at any depth) under `top`."""
        idx = self.spans.index(top)
        keep, out = {idx}, []
        for i in range(idx + 1, len(self.spans)):
            sp = self.spans[i]
            if sp.start > top.end:
                break
            if sp.parent in keep:
                keep.add(i)
                if sp.name.startswith(prefix):
                    out.append(sp)
        return out

    def covered_s(self, top: Span, *prefixes: str) -> float:
        """Seconds under `top` spent in spans named `prefix*`, counting a
        nested span of the same layer once (with its outermost span)."""
        return sum(sp.end - sp.start for sp in self.inner(top, prefixes)
                   if not self.spans[sp.parent].name.startswith(prefixes))

    def dump(self) -> list[dict]:
        return [{"name": sp.name, "start": sp.start, "end": sp.end,
                 "parent": sp.parent, "iteration": sp.iteration, **sp.attrs}
                for sp in self.spans]


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0
