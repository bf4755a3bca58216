"""Spans, call wrappers and Spark status-store diffs for the traced run.

Nothing here changes the program: the traced run replaces chosen public
functions of the package's modules with wrappers that record a span around
each call, and brackets the benchmark's own timed calls with a diff of
Spark's status store. Untraced runs never construct a :class:`Tracer`.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Per-stage fields read from v1.StageData; name -> (getter, scale to unit).
_STAGE_FIELDS = {
    "tasks": ("numTasks", 1),
    "failed_tasks": ("numFailedTasks", 1),
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
}


class StageStore:
    """Reads Spark's status store (live even with ``spark.ui.enabled=false``).

    ``mark()`` returns the newest job and stage ids; ``since(mark)`` sums the
    metrics of every stage and counts every job created after it. Stage and
    job ids only grow, and the store lists them newest first, so a diff
    reads only the new entries. Read it around each timed call: the store
    keeps ``spark.ui.retainedStages`` stages, and a run-level diff could
    lose the oldest ones. The store is fed by the listener bus, so every read
    first waits for the bus to drain.

    Job-group accounting misses jobs that a streaming query runs on its own
    thread; the store sees them.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._empty = sc._jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def _stages(self):
        # stageList(statuses, details, withSummaries, quantiles, taskStatuses)
        return self._store.stageList(
            self._empty, False, False, self._no_quantiles, self._empty
        )

    def mark(self) -> tuple[int, int]:
        self._sc.listenerBus().waitUntilEmpty()
        stages, jobs = self._stages(), self._store.jobsList(self._empty)
        top_stage = stages.apply(0).stageId() if stages.size() else -1
        top_job = jobs.apply(0).jobId() if jobs.size() else -1
        return top_stage, top_job

    def since(self, mark: tuple[int, int]) -> dict[str, float]:
        self._sc.listenerBus().waitUntilEmpty()
        out = {k: 0.0 for k in _STAGE_FIELDS}
        out["stages"] = 0.0
        stages = self._stages()
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= mark[0]:
                break
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            for key, (getter, scale) in _STAGE_FIELDS.items():
                out[key] += getattr(s, getter)() * scale
        jobs = self._store.jobsList(self._empty)
        n_jobs = 0
        for i in range(jobs.size()):
            if jobs.apply(i).jobId() <= mark[1]:
                break
            n_jobs += 1
        out["jobs"] = float(n_jobs)
        return out


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; spans are written out once, at the end."""

    def __init__(self, spark=None):
        self.spans: list[Span] = []
        self.stream_queries: list = []  # StreamingQuery objects started
        self.active = True  # False: spans and queries are no longer kept
        self._stack: list[Span] = []
        self._store = StageStore(spark) if spark is not None else None
        self._patches: list[tuple[object, str, object]] = []

    def reset(self) -> None:
        self.spans.clear()
        self.stream_queries.clear()
        self.active = True

    @contextmanager
    def span(self, name: str, store_diff: bool = False, **attrs):
        if not self.active:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, 0.0, parent, attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        mark = self._store.mark() if store_diff and self._store else None
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if mark is not None:
                s.attrs["spark"] = self._store.since(mark)

    def wrap(self, module, attr: str, name: str, store_diff: bool = False,
             attrs_of=None, keep: list | None = None) -> None:
        """Record a span around every call of ``module.attr``.

        Package modules that imported the function by name get the wrapper
        too, so calls through either binding are seen. ``attrs_of`` maps the
        call's arguments to span attributes; ``keep`` collects return values.
        """
        orig = getattr(module, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            extra = attrs_of(*args, **kwargs) if attrs_of else {}
            with tracer.span(name, store_diff=store_diff, **extra):
                result = orig(*args, **kwargs)
            if keep is not None and tracer.active:
                keep.append(result)
            return result

        if isinstance(module, type):  # a method: patch the class only
            self._patches.append((module, attr, orig))
            setattr(module, attr, traced)
            return
        package = module.__name__.split(".")[0]
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(package):
                continue
            if getattr(mod, attr, None) is orig:
                self._patches.append((mod, attr, orig))
                setattr(mod, attr, traced)

    def unwrap_all(self) -> None:
        for mod, attr, orig in reversed(self._patches):
            setattr(mod, attr, orig)
        self._patches.clear()

    # --- reading spans back --------------------------------------------
    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(s.seconds for s in self.named(name))

    def spark_sum(self, name: str) -> dict[str, float]:
        """Store-diff metrics summed over the spans called ``name``."""
        out: dict[str, float] = {}
        for s in self.named(name):
            for k, v in s.attrs.get("spark", {}).items():
                out[k] = out.get(k, 0.0) + v
        return out

    def write_jsonl(self, path: str, run_id: str) -> None:
        """One JSON line per span; ``self_s`` is the span's duration minus
        the time its direct children cover."""
        child_s = {}
        for s in self.spans:
            if s.parent is not None:
                child_s[s.parent] = child_s.get(s.parent, 0.0) + s.seconds
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(
                    json.dumps(
                        {
                            "run": run_id,
                            "id": s.id,
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                            "parent": s.parent,
                            "self_s": s.seconds - child_s.get(s.id, 0.0),
                            **({"attrs": s.attrs} if s.attrs else {}),
                        },
                        default=str,
                    )
                    + "\n"
                )
