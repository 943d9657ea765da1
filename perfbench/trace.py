"""Per-layer tracing for the traced benchmark run.

Spans are recorded from outside the program, by wrapping the public
functions at each layer boundary (``Tracer.install``) and by the
harness around each op.  A span carries its name, start, end, parent
span and op id; spans stay in memory and are written when the run
ends.  A span's self time is its duration minus its children's.

Spark work is attributed per op through its job group: each op runs
under ``setJobGroup(op id)``, and after the op the job ids, stage ids
and stage metrics of that group are read from Spark's status store
(works with the UI disabled).  Each op is timed across construction
and action, because the iterative operators materialize eagerly while
the query is being built.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

#: Stage-level Spark metrics summed per op: metric -> StageData getter.
STAGE_FIELDS = {
    "spark.tasks": "numTasks",
    "spark.executor_run_ms": "executorRunTime",
    "spark.executor_cpu_ms": "executorCpuTime",  # ns in the store
    "spark.input_bytes": "inputBytes",
    "spark.output_bytes": "outputBytes",
    "spark.shuffle_read_bytes": "shuffleReadBytes",
    "spark.shuffle_write_bytes": "shuffleWriteBytes",
    "spark.jvm_gc_ms": "jvmGcTime",
}

#: Functions wrapped in each layer: module -> {function: span name}.
#: Every module that bound one of them by name at import gets the same
#: wrapper, so calls through any binding are seen.
LAYER_FUNCTIONS = {
    "tropology_spark.session": {"iter_materialize": "session.iter_materialize"},
    "tropology_spark.sources.tables": {"load": "tables.load"},
    "tropology_spark.pipeline.crawl": {
        "crawl_batch": "crawl.crawl_batch",
        "refresh_degrees": "crawl.refresh_degrees",
    },
    "tropology_spark.sources.sinks": {"upsert_parquet": "sinks.upsert_parquet"},
    "tropology_spark.sources.txlog": {
        "tx_write": "txlog.tx_write",
        "tx_compact": "txlog.tx_compact",
        "tx_read": "txlog.tx_read",
    },
}


@dataclass
class Span:
    id: int
    parent: int | None
    op: int | None
    name: str
    start: float
    end: float


class Tracer:
    """Span and counter store for one traced run."""

    def __init__(self) -> None:
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.reset()
        self.span_cost_s = self._calibrate()
        self.reset()

    def reset(self) -> None:
        """Drop everything recorded so far."""
        self.spans: list[Span] = []
        self.op_stats: dict[int, dict] = {}
        self.counts: dict[str, float] = defaultdict(float)
        self.harvest_s = 0.0

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[tuple[int, int | None]]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op: int | None = None):
        stack = self._stack()
        parent, parent_op = stack[-1] if stack else (None, None)
        sid = next(self._ids)
        op = parent_op if op is None else op
        stack.append((sid, op))
        holder = [name]
        start = time.perf_counter()
        try:
            yield holder
        finally:
            end = time.perf_counter()
            stack.pop()
            self.spans.append(Span(sid, parent, op, holder[0], start, end))

    def add(self, key: str, value: float = 1.0) -> None:
        with self._lock:
            self.counts[key] += value

    def _calibrate(self, n: int = 20000) -> float:
        """Mean cost of one span, so the run can report its own overhead."""
        t0 = time.perf_counter()
        for _ in range(n):
            with self.span("calibrate"):
                pass
        return (time.perf_counter() - t0) / n

    # -- wrapping ----------------------------------------------------------

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def wrap_cache(self, fn):
        """``tables.cache_get_or_build`` with lookup/hit/build/wait counts.

        A lookup that finds the value is a hit.  A miss whose builder
        runs in this call is a build; a miss whose builder never runs
        here waited for another client's build and then reused it.  A
        build issued by ``tables.load`` is load time, not a cache build.
        """

        @functools.wraps(fn)
        def traced(cache, key, builder):
            self.add("tables.cache.lookups")
            if cache.get(key) is not None:
                self.add("tables.cache.hits")
                return fn(cache, key, builder)
            in_load = getattr(self._local, "in_load", 0) > 0
            built = []

            def timed_builder():
                with self.span("tables.load" if in_load else "tables.cache.build"):
                    value = builder()
                built.append(True)
                return value

            with self.span("tables.cache.lookup") as holder:
                value = fn(cache, key, timed_builder)
                if not built:
                    holder[0] = "tables.cache.wait"
            if not built:
                self.add("tables.cache.hits")
            return value

        return traced

    def wrap_load(self, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            self._local.in_load = getattr(self._local, "in_load", 0) + 1
            try:
                with self.span("tables.load"):
                    return fn(*args, **kwargs)
            finally:
                self._local.in_load -= 1

        return traced

    def install(self) -> None:
        """Wrap the layer functions in their home modules and in every
        ``tropology_spark`` module that imported them by name."""
        import importlib
        import sys

        from tropology_spark.sources import tables

        originals = {}
        for mod_name, funcs in LAYER_FUNCTIONS.items():
            mod = importlib.import_module(mod_name)
            for attr, span_name in funcs.items():
                fn = getattr(mod, attr)
                wrapped = self.wrap_load(fn) if span_name == "tables.load" else self.wrap(fn, span_name)
                originals[id(fn)] = wrapped
        originals[id(tables.cache_get_or_build)] = self.wrap_cache(tables.cache_get_or_build)
        for name, mod in list(sys.modules.items()):
            if not name.startswith("tropology_spark") or mod is None:
                continue
            for attr, value in list(vars(mod).items()):
                if callable(value) and id(value) in originals:
                    setattr(mod, attr, originals[id(value)])

    # -- Spark job-group statistics ------------------------------------------

    def harvest(self, sc, op: int, start: float, end: float) -> None:
        """Read the stage metrics of op ``op``'s job group.

        ``start``/``end`` are the op's ``perf_counter`` bounds; the
        driver gap is the op wall minus the union of its stage
        intervals."""
        t0 = time.perf_counter()
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        stats = defaultdict(float)
        intervals = []
        job_ids = tracker.getJobIdsForGroup(f"op{op}")
        stats["spark.jobs"] = len(job_ids)
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                stats["spark.stages"] += 1
                for key, getter in STAGE_FIELDS.items():
                    stats[key] += getattr(sd, getter)()
                stats["spark.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                sub, comp = sd.submissionTime(), sd.completionTime()
                if sub.isDefined() and comp.isDefined():
                    intervals.append((sub.get().getTime() / 1e3, comp.get().getTime() / 1e3))
        stats["spark.executor_cpu_ms"] /= 1e6
        stats["spark.driver_gap_s"] = max(0.0, (end - start) - _union_length(intervals))
        self.op_stats[op] = dict(stats)
        self.harvest_s += time.perf_counter() - t0

    # -- results -------------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Sum of self time per span name."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out = defaultdict(float)
        for s in self.spans:
            out[s.name] += (s.end - s.start) - child.get(s.id, 0.0)
        return dict(out)

    def totals(self) -> dict[str, float]:
        """Sum of inclusive duration and span count per span name."""
        out = defaultdict(float)
        for s in self.spans:
            out[s.name + ".total"] += s.end - s.start
            out[s.name + ".n"] += 1
        return dict(out)

    def spark_totals(self) -> dict[str, float]:
        out = defaultdict(float)
        for stats in self.op_stats.values():
            for key, value in stats.items():
                out[key] += value
        return dict(out)

    def overhead_s(self) -> float:
        """Time the tracer itself added: stats harvest plus spans."""
        return self.harvest_s + len(self.spans) * self.span_cost_s

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    **extra,
                    "spans": [asdict(s) for s in self.spans],
                    "op_stats": {str(k): v for k, v in self.op_stats.items()},
                },
                fh,
            )


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
