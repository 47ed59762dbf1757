"""Self-healing pipeline runner — the Spark-first re-expression of the
reference's Airflow DAG (dag/self_healing_pipeline.py:154-225).

The reference models the pipeline as Airflow operators (create
cluster → submit job → quality check → delete cluster) with an
on-failure callback that analyzes logs and patches the job. Here a
``Pipeline`` is a DAG of ``Task``s running against one SparkSession
(cluster lifecycle is the resource manager's job on a real
deployment); each task gets per-attempt retry with healing between
attempts: analyze_error → apply_fix (conf changes land on the session
before the retry), mirroring dag/self_healing_pipeline.py:27-144
``self_healing_callback``.

A heal is scoped to the task it heals. In the reference the fix dies
with the per-run cluster; here, when a task exits, successful or not,
the runner undoes every conf change and engine switch its heals made
(``healer.undo_fixes``). So no later task or run inherits a fix, and
``increase:`` growth never exceeds what one task's retries apply. A
downstream task that hits the same failure heals itself.
"""

from __future__ import annotations

import traceback
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import SparkSession

from selfhealingdatapipeline_gcp_spark.plans import healer


@dataclass
class Task:
    name: str
    fn: Callable[[SparkSession, dict[str, Any]], Any]
    depends_on: tuple[str, ...] = ()
    max_retries: int = 2
    # quality gate: called on the task result; raise to fail the task
    validate: Callable[[Any], None] | None = None


@dataclass
class TaskResult:
    name: str
    status: str                        # SUCCESS | FAILED | SKIPPED
    attempts: int = 0
    result: Any = None
    error: str | None = None
    fixes: list[dict[str, Any]] = field(default_factory=list)


class Pipeline:
    """Topologically-ordered task runner with self-healing retries."""

    def __init__(self, name: str, tasks: Sequence[Task]):
        self.name = name
        self.tasks = list(tasks)
        names = [t.name for t in self.tasks]
        if len(set(names)) != len(names):
            raise ValueError("duplicate task names")
        known = set(names)
        for t in self.tasks:
            missing = set(t.depends_on) - known
            if missing:
                raise ValueError(f"task {t.name}: unknown deps {missing}")

    def _topo_order(self) -> list[Task]:
        order: list[Task] = []
        done: set[str] = set()
        pending = list(self.tasks)
        while pending:
            progress = False
            for t in list(pending):
                if set(t.depends_on) <= done:
                    order.append(t)
                    done.add(t.name)
                    pending.remove(t)
                    progress = True
            if not progress:
                raise ValueError("dependency cycle in pipeline")
        return order

    def run(self, spark: SparkSession) -> dict[str, TaskResult]:
        """Run all tasks; downstream of a failure is SKIPPED. Each
        failure goes through the healing protocol before a retry —
        non-retryable classifications stop the attempts early. A task's
        context maps each task that has succeeded so far to its
        result."""
        context: dict[str, Any] = {}
        results: dict[str, TaskResult] = {}
        for task in self._topo_order():
            if any(results[d].status != "SUCCESS" for d in task.depends_on):
                results[task.name] = TaskResult(task.name, "SKIPPED")
                continue
            results[task.name] = self._run_task(spark, task, context)
            if results[task.name].status == "SUCCESS":
                context[task.name] = results[task.name].result
        return results

    def _run_task(self, spark: SparkSession, task: Task,
                  context: dict[str, Any]) -> TaskResult:
        res = TaskResult(task.name, "FAILED")
        try:
            for attempt in range(1, task.max_retries + 2):
                res.attempts = attempt
                try:
                    out = task.fn(spark, context)
                    if task.validate is not None:
                        task.validate(out)
                except Exception:
                    res.error = traceback.format_exc()
                    # === self-healing protocol (reference callback) ===
                    fix = healer.analyze_error(res.error)
                    res.fixes.append(healer.apply_fix(fix, spark=spark))
                    if not fix.retryable:
                        break
                else:
                    res.status, res.result, res.error = "SUCCESS", out, None
                    break
        finally:
            healer.undo_fixes(spark, res.fixes)
        return res
