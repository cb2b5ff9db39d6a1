"""The traced run: spans around calls into the package's layers, Spark jobs
charged to spans, and per-layer metrics read from Spark's status store.

Span boundaries.  While a :class:`Tracer` is installed, every public
function of a layer module is replaced, in the namespace of every layer
module that holds a reference to it, by a wrapper that opens a span.  That
catches the calls the package makes into itself (``PagesPipeline.run``
calling ``canonicalize_surfaces``, which calls ``connected_components``),
not only the benchmark's own calls.  A call into the layer that is already
the innermost open span opens no new span.

Job attribution.  Each span tags its Spark jobs with ``setJobGroup``; when a
child span closes, the parent's group is set again, so jobs started before
the next span opens are charged to the open span.  A stage shared by several
jobs is charged once, to the lowest job id.  A layer whose call returned a
lazy DataFrame (or Column) does its remaining work in the job of whoever
forces it; :meth:`Tracer.read_op` reports which span ran the first job after
the lazy call returned, as ``fused``.  The tracer adds no materialization
to the op itself; ``rows_out`` is counted after the op, untimed.

Metrics per layer (``LAYER_METRICS``):

- ``wall_s``: summed duration of the layer's spans;
- ``self_s``: ``wall_s`` minus the time covered by child spans;
- ``driver_s``: the part of ``self_s`` in which no stage of the layer's own
  jobs was running (planning, py4j calls, collects, job launch);
- ``jobs``, ``stages``: jobs and non-skipped stages charged to the layer;
- ``cpu_s``: executor CPU time of those stages;
- ``shuffle_write_mb``: shuffle bytes written by those stages;
- ``task_skew``: max ÷ median task run time, averaged over the layer's
  stages of two or more tasks, weighted by stage run time;
- ``rows_out``: rows in the DataFrames (or frames) the layer returned.
"""

from __future__ import annotations

import contextlib
import dataclasses
import functools
import importlib
import time
import types
from typing import Any, Iterator

PKG = "neo4j_export_tool_spark"
LAYERS = [
    "session",
    "plans.pages_pipeline",
    "plans.flagship",
    "operators.extract",
    "operators.mentions",
    "operators.canonicalize",
    "operators.dedup",
    "operators.components",
    "operators.linking",
    "operators.graph",
    "sources.jsonl_sink",
    "sources.jsonl_source",
]
LAYER_METRICS = [
    ("wall_s", "s"),
    ("self_s", "s"),
    ("driver_s", "s"),
    ("jobs", "count"),
    ("stages", "count"),
    ("cpu_s", "s"),
    ("shuffle_write_mb", "MB"),
    ("task_skew", "ratio"),
    ("rows_out", "count"),
]
EXTRA_METRICS = [
    ("operators.components.rounds", "count"),
    ("operators.linking.linked_share", "ratio"),
    ("operators.extract.html_mb", "MB"),
    ("sources.jsonl_sink.bytes_mb", "MB"),
    ("trace.overhead_s", "s"),
]


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric name with its unit, in report order."""
    return [(f"{layer}.{m}", unit) for layer in LAYERS for m, unit in LAYER_METRICS] + EXTRA_METRICS


class TraceError(RuntimeError):
    """A traced op's Spark metrics could not be read in full."""


@dataclasses.dataclass
class Span:
    layer: str
    group: str
    parent: "Span | None"
    start: float  # time.time(), to compare with the status store's clock
    end: float = 0.0
    children: list["Span"] = dataclasses.field(default_factory=list)
    result: Any = None
    forced: bool = False  # a Tracer.force span: rows already counted


def _dataframes(value: Any) -> list[Any]:
    """The DataFrames inside a layer's return value."""
    from pyspark.sql import DataFrame

    if isinstance(value, DataFrame):
        return [value]
    if isinstance(value, (tuple, list)):
        return [d for v in value for d in _dataframes(v)]
    if dataclasses.is_dataclass(value) and not isinstance(value, type):
        return [
            getattr(value, f.name)
            for f in dataclasses.fields(value)
            if isinstance(getattr(value, f.name), DataFrame)
        ]
    return []


def _is_lazy(value: Any) -> bool:
    from pyspark.sql import Column, DataFrame

    if isinstance(value, (DataFrame, Column)):
        return True
    return isinstance(value, tuple) and any(_is_lazy(v) for v in value)


def _measure(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
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


def _subtract(span: tuple[float, float], holes: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """``span`` minus the union of ``holes``, as disjoint intervals."""
    out, cur = [], span[0]
    for s, e in sorted(holes):
        if e <= cur or s >= span[1]:
            continue
        if s > cur:
            out.append((cur, s))
        cur = max(cur, e)
    if cur < span[1]:
        out.append((cur, span[1]))
    return out


def _clip(intervals, window) -> list[tuple[float, float]]:
    return [
        (max(s, window[0]), min(e, window[1]))
        for s, e in intervals
        if min(e, window[1]) > max(s, window[0])
    ]


class Tracer:
    """Opens spans around layer calls; one instance per traced process."""

    def __init__(self, spark: Any):
        self.spark = spark
        self._patched: list[tuple[Any, str, Any]] = []
        self._stack: list[Span] = []
        self.roots: list[Span] = []
        self._n = 0
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping

    # -- installing the wrappers ---------------------------------------------

    def _wrap(self, fn: Any, layer: str) -> Any:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer) as span:
                out = fn(*args, **kwargs)
                if span is not None:
                    span.result = out
                return out

        return traced

    def _layer_of(self, obj: Any) -> str | None:
        module = getattr(obj, "__module__", None) or ""
        if not module.startswith(PKG + "."):
            return None
        layer = module[len(PKG) + 1:]
        return layer if layer in LAYERS else None

    def install(self) -> None:
        """Wrap every public layer function in every layer namespace."""
        for layer in LAYERS:
            module = importlib.import_module(f"{PKG}.{layer}")
            for name, value in list(vars(module).items()):
                if name.startswith("_"):
                    continue
                target = self._layer_of(value)
                if target is None:
                    continue
                if isinstance(value, types.FunctionType):
                    self._patch(module, name, self._wrap(value, target))
                elif isinstance(value, type) and target == layer and "run" in vars(value):
                    # PagesPipeline.run: the plan's entry point is a method
                    self._patch(value, "run", self._wrap(vars(value)["run"], target))

    def _patch(self, owner: Any, name: str, new: Any) -> None:
        self._patched.append((owner, name, getattr(owner, name)))
        setattr(owner, name, new)

    def uninstall(self) -> None:
        for owner, name, old in reversed(self._patched):
            setattr(owner, name, old)
        self._patched.clear()

    @contextlib.contextmanager
    def installed(self) -> Iterator["Tracer"]:
        t = time.perf_counter()
        self.install()
        self.overhead_s += time.perf_counter() - t
        try:
            yield self
        finally:
            self.uninstall()
            self.spark.sparkContext._jsc.clearJobGroup()

    # -- spans ------------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, layer: str) -> Iterator[Span | None]:
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if parent is not None and parent.layer == layer:
            self.overhead_s += time.perf_counter() - t0
            yield None
            return
        self._n += 1
        span = Span(layer, f"perfbench-{self._n}", parent, 0.0)
        (parent.children if parent else self.roots).append(span)
        self._stack.append(span)
        self.spark.sparkContext.setJobGroup(span.group, layer)
        span.start = time.time()
        self.overhead_s += time.perf_counter() - t0
        try:
            yield span
        finally:
            t1 = time.perf_counter()
            span.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.spark.sparkContext.setJobGroup(parent.group, parent.layer)
            else:
                self.spark.sparkContext._jsc.clearJobGroup()
            self.overhead_s += time.perf_counter() - t1

    def force(self, df: Any, *cols: str) -> Any:
        """Collect ``cols`` of ``df`` inside a span of the layer that
        produced ``df`` (the benchmark's own forcing of a lazy result)."""
        t = time.perf_counter()
        layer = self._producer(df)
        self.overhead_s += time.perf_counter() - t
        if layer is None:
            return df.select(*cols).toPandas()
        with self.span(layer) as span:
            if span is not None:
                span.forced = True
            return df.select(*cols).toPandas()

    def _producer(self, df: Any) -> str | None:
        for span in self.walk():
            if any(d is df for d in _dataframes(span.result)):
                return span.layer
        return None

    def walk(self) -> Iterator[Span]:
        todo = list(reversed(self.roots))
        while todo:
            span = todo.pop()
            yield span
            todo.extend(reversed(span.children))

    def reset(self) -> None:
        self.roots = []
        self.overhead_s = 0.0

    # -- reading an op's metrics ---------------------------------------------

    def _stage_rows(
        self, spans: list[Span]
    ) -> tuple[dict[str, list[dict[str, float]]], dict[str, int]]:
        """Stage metrics and job counts per span group; raises TraceError on
        evicted jobs or stages (the status store keeps 1,000 stages by
        default, and one pages_kg op runs about 300)."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        quantiles = sc._gateway.new_array(sc._jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        owner: dict[int, str] = {}
        jobs: dict[str, int] = {}
        for span in spans:
            ids = tracker.getJobIdsForGroup(span.group)
            jobs[span.group] = len(ids)
            for job in ids:
                owner[job] = span.group
        seen: set[int] = set()
        rows: dict[str, list[dict[str, float]]] = {s.group: [] for s in spans}
        for job in sorted(owner):
            info = tracker.getJobInfo(job)
            if info is None:
                raise TraceError(f"job {job} evicted from the status store")
            for sid in sorted(info.stageIds):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception as exc:  # py4j wraps NoSuchElementException
                    raise TraceError(f"stage {sid} of job {job} missing: {exc}") from exc
                if sd.status().toString() == "SKIPPED" or not sd.submissionTime().isDefined():
                    continue
                median = top = 0.0
                summary = store.taskSummary(sid, sd.attemptId(), quantiles)
                if summary.isDefined():
                    run = summary.get().executorRunTime()
                    median, top = run.apply(0), run.apply(1)
                end = sd.completionTime()
                rows[owner[job]].append({
                    "start": sd.submissionTime().get().getTime() / 1000.0,
                    "end": end.get().getTime() / 1000.0 if end.isDefined() else time.time(),
                    "tasks": sd.numTasks(),
                    "run_s": sd.executorRunTime() / 1000.0,
                    "cpu_s": sd.executorCpuTime() / 1e9,
                    "shuffle_write_mb": sd.shuffleWriteBytes() / 1e6,
                    "median_task_ms": median,
                    "max_task_ms": top,
                })
        return rows, jobs

    def read_op(self) -> dict[str, Any]:
        """Per-layer metrics of the spans recorded since the last reset."""
        spans = list(self.walk())
        stages, jobs = self._stage_rows(spans)
        layers: dict[str, dict[str, float]] = {}
        skew_w: dict[str, list[tuple[float, float]]] = {}
        for span in spans:
            m = layers.setdefault(span.layer, {name: 0.0 for name, _ in LAYER_METRICS})
            own = stages[span.group]
            covered = [(c.start, c.end) for c in span.children]
            exclusive = _subtract((span.start, span.end), covered)
            self_s = sum(e - s for s, e in exclusive)
            busy = 0.0
            for window in exclusive:
                busy += _measure(_clip([(r["start"], r["end"]) for r in own], window))
            m["self_s"] += self_s
            m["driver_s"] += self_s - busy
            m["wall_s"] += span.end - span.start
            m["jobs"] += jobs[span.group]
            m["stages"] += len(own)
            for r in own:
                m["cpu_s"] += r["cpu_s"]
                m["shuffle_write_mb"] += r["shuffle_write_mb"]
                if r["tasks"] >= 2 and r["median_task_ms"] > 0:
                    skew_w.setdefault(span.layer, []).append(
                        (r["max_task_ms"] / r["median_task_ms"], r["run_s"])
                    )
        for layer, pairs in skew_w.items():
            weight = sum(w for _, w in pairs)
            layers[layer]["task_skew"] = (
                sum(x * w for x, w in pairs) / weight if weight else
                sum(x for x, _ in pairs) / len(pairs)
            )
        # lazy layers: which span ran the first stage after the call returned
        starts = sorted(
            (r["start"], span.layer)
            for span in spans for r in stages[span.group]
        )
        fused: dict[str, set[str]] = {}
        for span in spans:
            if not _is_lazy(span.result):
                continue
            forcer = next((layer for t, layer in starts if t >= span.end), None)
            if forcer is not None and forcer != span.layer:
                fused.setdefault(span.layer, set()).add(forcer)
        rounds = [
            span.result.iterations for span in spans
            if span.layer == "operators.components" and hasattr(span.result, "iterations")
        ]
        return {
            "layers": layers,
            "fused": {k: sorted(v) for k, v in fused.items()},
            "components_rounds": sum(rounds),
            "overhead_s": self.overhead_s,
            "top_level_s": sum(s.end - s.start for s in self.roots),
        }

    def count_rows(self) -> dict[str, int]:
        """``rows_out`` per layer: rows of the DataFrames the layer's spans
        returned.  Runs count jobs, so call it outside any timing."""
        from neo4j_export_tool_spark.plans.pages_pipeline import PipelineResult
        from neo4j_export_tool_spark.sources.jsonl_sink import ExportResult

        out: dict[str, int] = {}
        for span in self.walk():
            if span.forced:
                continue
            result = span.result
            if isinstance(result, ExportResult):
                n = result.node_count + result.rel_count
            elif isinstance(result, PipelineResult):
                n = result.metrics[result.stages_run[-1]]["rows"] if result.stages_run else 0
            else:
                n = sum(df.count() for df in _dataframes(result))
            out[span.layer] = out.get(span.layer, 0) + n
        return out
