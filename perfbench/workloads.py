"""The three benchmark workloads, each a closed loop with one client.

A workload runs one DAG per iteration through the public job entry
points in ``selfhealingdatapipeline_gcp_spark.jobs`` and checks the
iteration's outputs after its timed region. A failed check raises
``CheckFailed``; the run then reports ``correct: false`` and exits
non-zero.
"""

from __future__ import annotations

import math
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Any

import duckdb

from perfbench import faults

SINK_ROWS = 150_000
FIRST_SWEEP_ALERTS = 109
CURATION_N_IN = 4239
CURATION_N_OUT = 4037

MONITORING_DETECTORS = (
    "revenue_anomaly", "transaction_volume_anomaly",
    "pattern_break_region", "pattern_break_product",
    "reconciliation_orders_lineitem", "freshness_check",
    "feed_status", "sla_processing_velocity",
    "quality_null_trend", "quality_duplicate_trend",
    "revenue_forecast", "revenue_dow_context",
    "reconciliation_hourly_breakdown", "feed_trends",
    "feed_historical_context", "transaction_breakdown",
)

ORACLE_TABLES = ("orders", "customer", "nation", "region", "lineitem",
                 "part", "events")


class CheckFailed(Exception):
    """An output did not match its expected value."""


@dataclass
class Outcome:
    """One iteration: wall time of the DAG run and its task statuses."""
    index: int
    wall_s: float
    statuses: dict[str, str]
    extra: dict[str, Any] = field(default_factory=dict)

    @property
    def completed(self) -> bool:
        return all(s == "SUCCESS" for s in self.statuses.values())

    @property
    def failed_tasks(self) -> int:
        return sum(s in ("FAILED", "SKIPPED") for s in self.statuses.values())


class SessionGuard:
    """Restores what the healer may change between iterations: runtime
    Spark conf (the OOM and disk-full fixes double the shuffle partitions
    on the live session) and the process-wide money decimal mode."""

    def __init__(self, spark):
        from selfhealingdatapipeline_gcp_spark.functions import money
        self.spark = spark
        self.money = money
        self.conf = dict(spark.conf.getAll)
        self.decimal = money.decimal_mode()

    def restore(self) -> None:
        now = dict(self.spark.conf.getAll)
        for key, value in now.items():
            if key not in self.conf:
                self.spark.conf.unset(key)
            elif self.conf[key] != value:
                self.spark.conf.set(key, self.conf[key])
        if self.money.decimal_mode() != self.decimal:
            self.money.set_decimal_mode(self.decimal)


def _duck(data_dir: str, tables=ORACLE_TABLES):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t)}.parquet')")
    return con


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


class Workload:
    name = ""
    nominal_s = 10.0            # seconds per warm iteration, to size a run

    def __init__(self, spark, data_dir: str, work_dir: str, seed: int):
        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.seed = seed
        self.guard = SessionGuard(spark)

    def run(self, index: int) -> Outcome:
        raise NotImplementedError

    def check(self, outcome: Outcome) -> None:
        raise NotImplementedError

    def after(self, outcome: Outcome) -> None:
        self.guard.restore()

    def summary(self, outcomes: list[Outcome]) -> dict[str, Any]:
        return {}

    def close(self) -> None:
        pass


class EtlHeal(Workload):
    """``run_etl_job`` with the sink's first attempt failing in every warm
    iteration. The cold iteration runs without a fault, so ``cold_job_s``
    is the plain cold start every submit pays and never a DAG that the
    healer failed."""

    name = "etl_heal"
    # a warm run takes 4-7 s; sizing at 4 s gives a 15 s run four warm
    # iterations, so the fastest one is past the first (still JIT-bound)
    # run and one iteration the bare-403 defect fails cannot decide it
    nominal_s = 4.0

    def __init__(self, *args):
        super().__init__(*args)
        from selfhealingdatapipeline_gcp_spark import registry
        from selfhealingdatapipeline_gcp_spark.plans import healer
        from selfhealingdatapipeline_gcp_spark.sources import writers
        self.injector = faults.FaultInjector(self.seed)
        self._undo = [(writers, "write_parquet", writers.write_parquet),
                      (healer, "analyze_error", healer.analyze_error)]
        writers.write_parquet = self.injector.wrap_write(writers.write_parquet)
        healer.analyze_error = self.injector.wrap_analyze(healer.analyze_error)
        self.duck = _duck(data_dir=self.data_dir)
        oracle = registry.oracle_sql()["etl_orders_enriched"]
        self.expected_years = self._per_year(f"({oracle})")
        self.first_alerts = None

    def _per_year(self, relation: str) -> dict[int, tuple[int, float]]:
        rows = self.duck.execute(
            f"SELECT CAST(order_year AS INT), count(*), sum(totalprice) "
            f"FROM {relation} GROUP BY 1").fetchall()
        return {int(y): (int(n), float(s)) for y, n, s in rows}

    def run(self, index: int) -> Outcome:
        from selfhealingdatapipeline_gcp_spark import jobs
        out = os.path.join(self.work_dir, f"etl-{index}")
        fault = self.injector.arm(index) if index > 0 else None
        t0 = time.perf_counter()
        res = jobs.run_etl_job(self.spark, self.data_dir, out)
        wall = time.perf_counter() - t0
        self.injector.disarm()
        return Outcome(index, wall, res["statuses"],
                       {"out": out, "alerts": res["alerts"], "fault": fault})

    def check(self, o: Outcome) -> None:
        fault: faults.Fault | None = o.extra["fault"]
        if fault is None:
            if not o.completed:
                raise CheckFailed(f"iteration {o.index}: statuses "
                                  f"{o.statuses} without a fault")
            return self._check_sink(o)
        if fault.root_cause is None:
            raise CheckFailed(f"iteration {o.index}: injected fault was "
                              "never analyzed by the healer")
        if not fault.classified_right and not faults.known_defect(fault):
            raise CheckFailed(
                f"iteration {o.index}: injected {fault.cls} classified as "
                f"{fault.root_cause!r}")
        if not o.completed:
            if fault.classified_right or fault.retryable:
                raise CheckFailed(f"iteration {o.index}: DAG failed "
                                  f"{o.statuses} on a retryable fault")
            return      # the documented bare-403 defect: counted, not hidden
        self._check_sink(o)

    def _check_sink(self, o: Outcome) -> None:
        sink = (f"read_parquet('{o.extra['out']}/**/*.parquet', "
                "hive_partitioning = true)")
        got = self._per_year(sink)
        if set(got) != set(self.expected_years) or any(
                got[y][0] != self.expected_years[y][0]
                or not _close(got[y][1], self.expected_years[y][1])
                for y in got):
            raise CheckFailed(f"iteration {o.index}: sink per-year totals "
                              f"{got} != {self.expected_years}")
        n = sum(v[0] for v in got.values())
        if n != SINK_ROWS:
            raise CheckFailed(f"iteration {o.index}: sink holds {n} rows")
        alerts = sorted(map(tuple, o.extra["alerts"]))
        if self.first_alerts is None:
            self.first_alerts = alerts
        elif alerts != self.first_alerts:
            raise CheckFailed(f"iteration {o.index}: alert set changed")

    def after(self, o: Outcome) -> None:
        super().after(o)
        shutil.rmtree(o.extra["out"], ignore_errors=True)

    def summary(self, outcomes: list[Outcome]) -> dict[str, Any]:
        fs = self.injector.faults
        healed = [o.extra["fault"] for o in outcomes
                  if o.completed and o.extra["fault"] is not None]
        rec = [f.recovery_s for f in healed if f.recovery_s is not None]
        return {
            "faults": len(fs),
            "healed": len(healed),
            "classified_right": sum(f.classified_right for f in fs),
            "recovery_s": rec,
            "classes": [f.cls for f in fs],
            "log_bytes": [len(f.text) for f in fs],
        }

    def close(self) -> None:
        for obj, attr, orig in self._undo:
            setattr(obj, attr, orig)
        self.duck.close()


class MonitoringSweep(Workload):
    """``run_monitoring_sweep`` repeated on one persisted state root."""

    name = "monitoring_sweep"
    nominal_s = 12.0

    def __init__(self, *args):
        super().__init__(*args)
        from selfhealingdatapipeline_gcp_spark import registry
        self.state_root = os.path.join(self.work_dir, "state")
        self.alert_dir = os.path.join(self.work_dir, "alerts")
        oracle = registry.oracle_sql()
        with _duck(self.data_dir) as con:
            self.expected_counts = {
                n: con.execute(f"SELECT count(*) FROM ({oracle[n]})"
                               ).fetchone()[0]
                for n in MONITORING_DETECTORS}

    def run(self, index: int) -> Outcome:
        from selfhealingdatapipeline_gcp_spark import jobs
        t0 = time.perf_counter()
        res = jobs.run_monitoring_sweep(
            self.spark, self.data_dir, state_root=self.state_root,
            alert_dir=self.alert_dir)
        wall = time.perf_counter() - t0
        sent = res["alerts"]
        return Outcome(index, wall, res["statuses"], {
            "delivered": sent["n_delivered"] if sent else None,
            "report": res["report"]})

    def check(self, o: Outcome) -> None:
        if not o.completed:
            raise CheckFailed(f"sweep {o.index}: statuses {o.statuses}")
        want = FIRST_SWEEP_ALERTS if o.index == 0 else 0
        if o.extra["delivered"] != want:
            raise CheckFailed(f"sweep {o.index}: delivered "
                              f"{o.extra['delivered']} alerts, want {want}")
        if o.extra["report"] != self.expected_counts:
            raise CheckFailed(f"sweep {o.index}: daily_report "
                              f"{o.extra['report']} != oracle "
                              f"{self.expected_counts}")


class Curation(Workload):
    """``run_curation_job`` over the documents table."""

    name = "curation"
    nominal_s = 14.0

    def run(self, index: int) -> Outcome:
        from selfhealingdatapipeline_gcp_spark import jobs
        out = os.path.join(self.work_dir, f"curation-{index}")
        t0 = time.perf_counter()
        res = jobs.run_curation_job(self.spark, self.data_dir, out)
        wall = time.perf_counter() - t0
        return Outcome(index, wall, res["statuses"], {
            "out": out, "n_in": res["n_in"], "n_out": res["n_out"]})

    def check(self, o: Outcome) -> None:
        if not o.completed:
            raise CheckFailed(f"iteration {o.index}: statuses {o.statuses}")
        if (o.extra["n_in"], o.extra["n_out"]) != (CURATION_N_IN,
                                                   CURATION_N_OUT):
            raise CheckFailed(f"iteration {o.index}: n_in/n_out "
                              f"{o.extra['n_in']}/{o.extra['n_out']}")
        with duckdb.connect() as con:
            n, null_keys = con.execute(
                "SELECT count(*), count(*) FILTER (WHERE doc_id IS NULL OR "
                f"text IS NULL) FROM read_parquet('{o.extra['out']}/**/*"
                ".parquet', hive_partitioning = true)").fetchone()
        if n != CURATION_N_OUT or null_keys:
            raise CheckFailed(f"iteration {o.index}: sink holds {n} rows, "
                              f"{null_keys} with a null doc_id or text")

    def after(self, o: Outcome) -> None:
        super().after(o)
        shutil.rmtree(o.extra["out"], ignore_errors=True)


WORKLOADS = {w.name: w for w in (EtlHeal, MonitoringSweep, Curation)}
