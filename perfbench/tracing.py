"""Span recorder and per-layer counters for the traced benchmark run.

Spans are recorded from outside the program: ``install`` replaces the
public functions of each layer module with wrappers that open a span
around the call, and wraps every ``Task.fn`` / ``Task.validate`` when a
``Pipeline`` is constructed. Before a span's calls run, the Spark job
group is set to the span id, so every Spark job is attributed to the
innermost span that launched it; after the iteration, the job and stage
metrics are read from Spark's status store (works with the UI off).

Spans are kept in memory and written out once, at the end of the run.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Any

# job group of every Spark job launched outside a traced span
UNTRACED_GROUP = "perfbench-untraced"

# Stage counters summed per span: output name -> StageData accessor.
_STAGE_COUNTERS = {
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "output_bytes": "outputBytes",
    "output_records": "outputRecords",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled",
}


@dataclass
class Span:
    id: str
    parent: str | None
    iteration: int
    kind: str
    name: str
    start: float
    end: float = 0.0
    error: bool = False
    attrs: dict[str, Any] = field(default_factory=dict)
    spark: dict[str, float] = field(default_factory=dict)
    jobs: list[tuple[float, float]] = field(default_factory=list)
    self_s: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Recorder:
    """In-memory span store. ``enabled`` is toggled per iteration, so one
    run can hold traced and untraced iterations; wrappers pass straight
    through while it is off."""

    def __init__(self, spark_context):
        self.sc = spark_context
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._iteration = -1
        self._seq = 0
        self._seen_stages: set[int] = set()
        self.captured: dict[str, Any] = {}

    def _set_group(self, group: str, desc: str) -> None:
        self.sc.setJobGroup(group, desc, False)

    @contextmanager
    def iteration(self, index: int, traced: bool):
        """Root span of one workload iteration."""
        self.enabled = traced
        self._iteration = index
        if not traced:
            self._set_group(UNTRACED_GROUP, "untraced")
            yield None
            return
        with self.span("iteration", f"iteration-{index}") as root:
            yield root
        self._set_group(UNTRACED_GROUP, "untraced")

    @contextmanager
    def span(self, kind: str, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        sp = Span(id=f"pb{self._iteration}-{self._seq}",
                  parent=parent.id if parent else None,
                  iteration=self._iteration, kind=kind, name=name,
                  start=time.perf_counter(), attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp.id, f"{kind}:{name}")
        try:
            yield sp
        except BaseException:
            sp.error = True
            raise
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self._set_group(parent.id, f"{parent.kind}:{parent.name}")

    def wrap(self, kind: str, name: str, fn, on_result=None):
        """``fn`` with a span around each call; ``on_result(span, result,
        args, kwargs)`` may attach attributes after the call returns."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(kind, name) as sp:
                out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(sp, out, args, kwargs)
            return out
        return traced

    def iteration_spans(self, index: int) -> list[Span]:
        return [s for s in self.spans if s.iteration == index]

    def collect_spark(self, index: int) -> None:
        """Attach job intervals and stage counters from the status store to
        every span of iteration ``index``. A stage shared by several jobs is
        counted once, for the first span that ran it."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for sp in self.iteration_spans(index):
            counters = dict.fromkeys(_STAGE_COUNTERS, 0)
            counters.update(jobs=0, stages=0, tasks=0)
            for job_id in sorted(tracker.getJobIdsForGroup(sp.id)):
                job = store.job(job_id)
                counters["jobs"] += 1
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    sp.jobs.append((sub.get().getTime() / 1000.0,
                                    done.get().getTime() / 1000.0))
                info = tracker.getJobInfo(job_id)
                for stage_id in (info.stageIds if info else ()):
                    if stage_id in self._seen_stages:
                        continue
                    try:
                        stage = store.lastStageAttempt(stage_id)
                    except Exception:  # noqa: BLE001 - stage evicted from store
                        continue
                    if stage.status().toString() == "SKIPPED":
                        continue
                    self._seen_stages.add(stage_id)
                    counters["stages"] += 1
                    counters["tasks"] += stage.numCompleteTasks()
                    for out, accessor in _STAGE_COUNTERS.items():
                        counters[out] += getattr(stage, accessor)()
            sp.spark = counters

    def write(self, path: str) -> None:
        compute_self_time(self.spans)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def compute_self_time(spans: list[Span]) -> None:
    """Self time: a span's duration minus the part its children cover."""
    children: dict[str, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    for sp in spans:
        kids = [(c.start, c.end) for c in children.get(sp.id, ())]
        sp.self_s = sp.duration - _union_length(kids)


def _outer(spans: list[Span], kinds: tuple[str, ...]) -> list[Span]:
    """Spans of ``kinds`` with no ancestor of ``kinds`` (no double count)."""
    by_id = {s.id: s for s in spans}
    out = []
    for sp in spans:
        if sp.kind not in kinds:
            continue
        parent = by_id.get(sp.parent) if sp.parent else None
        while parent is not None and parent.kind not in kinds:
            parent = by_id.get(parent.parent) if parent.parent else None
        if parent is None:
            out.append(sp)
    return out


def _total(spans: list[Span], *kinds: str) -> float:
    return sum(s.duration for s in _outer(spans, kinds))


def iteration_metrics(spans: list[Span], cores: int,
                      task_names: tuple[str, ...]) -> dict[str, float]:
    """Per-layer metrics of one traced iteration (span list incl. root)."""
    root = next(s for s in spans if s.kind == "iteration")
    wall = root.duration
    spark = {k: sum(s.spark.get(k, 0) for s in spans)
             for k in (*_STAGE_COUNTERS, "jobs", "stages", "tasks")}
    job_intervals = [iv for s in spans for iv in s.jobs]
    attempts = [s for s in spans if s.kind == "pipeline.fn"]
    analyze = [s for s in spans if s.kind == "healer.analyze"]
    writes = _outer(spans, ("writers.write",))
    m: dict[str, float] = {
        "spark.jobs": spark["jobs"],
        "spark.stages": spark["stages"],
        "spark.tasks": spark["tasks"],
        "driver.overhead_s": wall - _union_length(job_intervals),
        "spark.busy_ratio": spark["executor_run_ms"] / 1000.0 / (wall * cores),
        "spark.executor_cpu_s": spark["executor_cpu_ns"] / 1e9,
        "spark.gc_s": spark["gc_ms"] / 1000.0,
        "shuffle.write_bytes": spark["shuffle_write_bytes"],
        "shuffle.read_bytes": spark["shuffle_read_bytes"],
        "spill.bytes": spark["spill_bytes"],
        "scan.input_bytes": spark["input_bytes"],
        "pipeline.attempts": len(attempts),
        "pipeline.retries": len(attempts) - len({s.name for s in attempts}),
        "heal.wasted_s": sum(s.duration for s in attempts if s.error),
        "healer.analyze_s": sum(s.duration for s in analyze),
        "healer.analyze_calls": len(analyze),
        "healer.log_bytes": sum(s.attrs.get("log_bytes", 0) for s in analyze),
        "healer.apply_s": _total(spans, "healer.apply"),
        "writers.write_s": sum(s.duration for s in writes),
        "writers.output_rows": sum(s.spark.get("output_records", 0) for s in writes),
        "writers.output_bytes": sum(s.spark.get("output_bytes", 0) for s in writes),
        "writers.files": sum(s.attrs.get("files", 0) for s in writes),
        "quality.gate_s": _total(spans, "pipeline.validate", "quality.gate"),
        "detectors.build_s": _total(spans, "detectors.build"),
        "detectors.n": len(_outer(spans, ("detectors.build",))),
        "alerts.collect_s": _total(spans, "alerts.collect"),
        "alerts.deliver_s": _total(spans, "alerts.deliver"),
        "alerts.delivered": sum(s.attrs.get("delivered", 0) for s in spans
                                if s.kind == "alerts.deliver"),
        "history.read_s": _total(spans, "history.read"),
        "history.write_s": _total(spans, "history.write"),
    }
    for task in task_names:
        m[f"pipeline.task_s.{task}"] = sum(
            s.duration for s in spans
            if s.kind in ("pipeline.fn", "pipeline.validate") and s.name == task)
    return m


def _count_files(path: str) -> int:
    n = 0
    for _dirpath, _dirs, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def _patch(undo: list, obj, attr: str, new) -> None:
    undo.append((obj, attr, getattr(obj, attr)))
    setattr(obj, attr, new)


def _module_functions(module):
    return [(n, f) for n, f in vars(module).items()
            if inspect.isfunction(f) and f.__module__ == module.__name__
            and not n.startswith("_")]


def install(rec: Recorder) -> list:
    """Wrap the layer entry points; returns the undo list for ``uninstall``."""
    from selfhealingdatapipeline_gcp_spark import registry
    from selfhealingdatapipeline_gcp_spark.operators import (
        dataprep, dedup, quality, textanalysis)
    from selfhealingdatapipeline_gcp_spark.plans import (
        alerts, healer, history, pipeline)
    from selfhealingdatapipeline_gcp_spark.sources import writers

    undo: list = []

    # plans.pipeline: one span per task attempt and per quality gate
    orig_init = pipeline.Pipeline.__init__

    def init(self, name, tasks, *args, **kwargs):
        orig_init(self, name, tasks, *args, **kwargs)
        if not rec.enabled:
            return
        for t in self.tasks:
            t.fn = rec.wrap("pipeline.fn", t.name, t.fn)
            if t.validate is not None:
                t.validate = rec.wrap("pipeline.validate", t.name, t.validate)
    _patch(undo, pipeline.Pipeline, "__init__", init)

    # plans.healer
    def on_analyze(sp, fix, args, kwargs):
        sp.attrs["log_bytes"] = len(args[0] if args else kwargs["error_log"])
        sp.attrs["root_cause"] = fix.root_cause
    _patch(undo, healer, "analyze_error",
           rec.wrap("healer.analyze", "analyze_error", healer.analyze_error,
                    on_analyze))
    _patch(undo, healer, "apply_fix",
           rec.wrap("healer.apply", "apply_fix", healer.apply_fix))

    # sources.writers: files written are counted after the span closes
    orig_write = writers.write_parquet

    @functools.wraps(orig_write)
    def write_parquet(df, path, *args, **kwargs):
        if not rec.enabled:
            return orig_write(df, path, *args, **kwargs)
        before = _count_files(path)
        with rec.span("writers.write", "write_parquet") as sp:
            out = orig_write(df, path, *args, **kwargs)
        sp.attrs["files"] = _count_files(path) - before
        return out
    _patch(undo, writers, "write_parquet", write_parquet)

    # operators.quality
    for name in ("null_profile", "observed_quality_gate"):
        _patch(undo, quality, name,
               rec.wrap("quality.gate", name, getattr(quality, name)))

    # registry + operators.detectors: each builder call builds one detector
    orig_queries = registry.queries

    @functools.wraps(orig_queries)
    def queries():
        qs = orig_queries()
        if not rec.enabled:
            return qs
        return {n: rec.wrap("detectors.build", n, b) for n, b in qs.items()}
    _patch(undo, registry, "queries", queries)

    # plans.alerts + plans.history
    _patch(undo, alerts, "collect_alerts",
           rec.wrap("alerts.collect", "collect_alerts", alerts.collect_alerts))
    _patch(undo, alerts, "dedup_against_history",
           rec.wrap("alerts.dedup", "dedup_against_history",
                    alerts.dedup_against_history))

    def on_deliver(sp, n, args, kwargs):
        sp.attrs["delivered"] = n
    _patch(undo, alerts.AlertSender, "deliver",
           rec.wrap("alerts.deliver", "deliver", alerts.AlertSender.deliver,
                    on_deliver))
    _patch(undo, history, "read_alert_history",
           rec.wrap("history.read", "read_alert_history",
                    history.read_alert_history))
    for name in ("write_alert_history", "write_baseline_metrics"):
        _patch(undo, history, name,
               rec.wrap("history.write", name, getattr(history, name)))

    # operators.dedup / dataprep / textanalysis: public plan-building calls,
    # plus the LSH verifier the curation job calls directly; its result is
    # kept so the verified-pair count can be taken after the timed region
    for module in (dedup, dataprep, textanalysis):
        short = module.__name__.rsplit(".", 1)[1]
        for name, fn in _module_functions(module):
            _patch(undo, module, name, rec.wrap(f"curation.{short}", name, fn))

    def on_verified(sp, df, args, kwargs):
        rec.captured["verified_pairs"] = df
    _patch(undo, dedup, "_lsh_verified_pairs",
           rec.wrap("curation.dedup", "_lsh_verified_pairs",
                    dedup._lsh_verified_pairs, on_verified))
    return undo


def uninstall(undo: list) -> None:
    for obj, attr, orig in reversed(undo):
        setattr(obj, attr, orig)
