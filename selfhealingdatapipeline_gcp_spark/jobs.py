"""End-to-end job wiring — the reference DAG as one callable
(dag/self_healing_pipeline.py:154-225: submit transform → quality
check, with self-healing on failure).

``run_etl_job`` is the equivalent of triggering the Airflow DAG: it
builds the transform, gates it on data quality, writes the sink, and
routes detector alerts — all through the self-healing Pipeline
runner, so any task failure goes through analyze → apply → retry,
and the fix is undone when the task ends.
"""

from __future__ import annotations

import itertools
import os
import time
from collections.abc import Iterable
from concurrent.futures import ThreadPoolExecutor
from typing import Any

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from selfhealingdatapipeline_gcp_spark import catalog, registry
from selfhealingdatapipeline_gcp_spark.operators import (
    analytics, detectors, quality)
from selfhealingdatapipeline_gcp_spark.plans import alerts
from selfhealingdatapipeline_gcp_spark.plans.pipeline import Pipeline, Task
from selfhealingdatapipeline_gcp_spark.sources import writers


#: The monitoring sweep's detector suite: the reference's feed and
#: revenue checks widened to every detector, plus (r2) the forecasts,
#: drill-downs and context relations the reference attaches to its
#: alert text and daily report.
SWEEP_DETECTORS = (
    "revenue_anomaly", "transaction_volume_anomaly",
    "pattern_break_region", "pattern_break_product",
    "reconciliation_orders_lineitem", "freshness_check",
    "feed_status", "sla_processing_velocity",
    "quality_null_trend", "quality_duplicate_trend",
    "revenue_forecast", "revenue_dow_context",
    "reconciliation_hourly_breakdown", "feed_trends",
    "feed_historical_context", "transaction_breakdown",
)

#: Aggregate bases that several detectors share (see the
#: operators/detectors.py docstring): each base's builder, and the
#: registered detectors whose plans read it.
SHARED_BASES = {
    "orders_daily": (
        lambda spark, sf_dir: detectors.orders_daily_base(
            catalog.load(spark, sf_dir, "orders")),
        frozenset({
            "revenue_daily", "revenue_anomaly", "revenue_forecast",
            "revenue_dow_context", "revenue_breakdown",
            "transaction_breakdown", "pattern_break_region",
            "reconciliation_orders_lineitem", "detector_incident_rollup",
        })),
    "events_hourly": (
        lambda spark, sf_dir: detectors.events_hourly_base(
            catalog.load(spark, sf_dir, "events")),
        frozenset({
            "transaction_volume_anomaly", "freshness_check", "feed_status",
            "feed_trends", "feed_historical_context",
            "sla_processing_velocity", "quality_null_trend",
            "quality_duplicate_trend",
        })),
}


class DetectorOutputs(dict):
    """Materialized detector outputs by name; ``row_counts`` holds each
    output's row count, observed while it was materialized."""

    def __init__(self, outputs: dict[str, DataFrame],
                 row_counts: dict[str, int]):
        super().__init__(outputs)
        self.row_counts = row_counts


def evaluate_detectors(spark: SparkSession, sf_dir: str,
                       names: Iterable[str]) -> DetectorOutputs:
    """Build the named detectors and materialize every output exactly
    once, concurrently.

    At this input size the sweep is bound by per-job driver overhead,
    not by data, so the work is cut in jobs. Every shared base
    (``SHARED_BASES``) that two or more of the named detectors read is
    ``cache()``d first; Spark swaps the cached relation into each
    reader's plan, so the first reader to run materializes it and the
    others skip their own scan and aggregation. A base with one reader
    is not cached: it would cost as much to materialize as it saves.

    Each detector output is ``localCheckpoint``-ed as soon as its plan
    is built, on a pool sized to the session's default parallelism;
    every pool thread inherits the caller's job group and local
    properties. Plans are built on the calling thread (builders are
    cheap and callers may trace them), so building overlaps execution.
    Each output's row count is observed during its checkpoint, at no
    extra job, and returned in ``row_counts``. Downstream consumers
    (alert collection, the daily report, the baseline snapshot) read
    the materialized rows instead of re-running the detector plans.
    The cached bases are released before returning.

    A failing detector raises here, so the calling pipeline task heals
    and retries as for any other failure; outputs already materialized
    are released first. Release the returned outputs with
    ``release_outputs`` when done."""
    names = tuple(names)
    bases = [build(spark, sf_dir).cache()
             for build, readers in SHARED_BASES.values()
             if len(readers.intersection(names)) >= 2]
    done: list[DataFrame] = []

    def materialize(plan: DataFrame) -> tuple[DataFrame, int]:
        rows = Observation()
        out = plan.observe(rows, F.count(F.lit(1)).alias("n")
                           ).localCheckpoint(eager=True)
        done.append(out)
        return out, rows.get["n"]

    checkpoint = inheritable_thread_target(spark)(materialize)
    n_threads = max(1, min(len(names), spark.sparkContext.defaultParallelism))
    try:
        with ThreadPoolExecutor(max_workers=n_threads) as pool:
            qs = registry.queries()
            futures = {n: pool.submit(checkpoint, qs[n](spark, sf_dir))
                       for n in names}
            outs = {n: f.result() for n, f in futures.items()}
    except BaseException:
        release_outputs(done)
        raise
    finally:
        for base in bases:
            base.unpersist()
    return DetectorOutputs({n: out for n, (out, _) in outs.items()},
                           {n: k for n, (_, k) in outs.items()})


def release_outputs(outputs: Iterable[DataFrame]) -> None:
    """Drop the blocks behind ``localCheckpoint``-ed DataFrames. A local
    checkpoint persists its RDD and nothing unpersists it, so a
    recurring sweep would otherwise pile up one cached RDD per
    detector per tick."""
    for df in outputs:
        df._jdf.queryExecution().logical().rdd().unpersist(False)


def run_etl_job(spark: SparkSession, sf_dir: str, output_path: str,
                ) -> dict[str, Any]:
    """The reference pipeline, Spark-first: transform → quality gate →
    partitioned sink → monitoring sweep → alert routing."""

    def transform(s: SparkSession, ctx: dict[str, Any]):
        return analytics.etl_orders_enriched(
            catalog.load(s, sf_dir, "orders"),
            catalog.load(s, sf_dir, "customer"),
            catalog.load(s, sf_dir, "nation"),
            catalog.load(s, sf_dir, "region"),
        )

    def quality_gate(df) -> None:
        # reference utils/data_quality.py: nulls must not appear in
        # key columns; here it fails the task (and thus heals/retries)
        profile = quality.null_profile(
            df, ["o_orderkey", "totalprice", "region"])
        bad = profile.filter(F.col("n_null") > 0).count()
        if bad:
            raise ValueError(f"quality gate: {bad} key columns contain nulls")

    def sink(s: SparkSession, ctx: dict[str, Any]):
        writers.write_parquet(ctx["transform"], output_path,
                              partition_by=("order_year",),
                              target_partitions=8)
        return output_path

    def monitoring(s: SparkSession, ctx: dict[str, Any]):
        outputs = evaluate_detectors(s, sf_dir, (
            "revenue_anomaly", "transaction_volume_anomaly",
            "freshness_check"))
        try:
            return alerts.collect_alerts(outputs).collect()
        finally:
            release_outputs(outputs.values())

    pipe = Pipeline("etl_orders", [
        Task("transform", transform, validate=quality_gate),
        Task("sink", sink, depends_on=("transform",)),
        Task("monitoring", monitoring, depends_on=("sink",)),
    ])
    results = pipe.run(spark)
    return {
        "statuses": {k: v.status for k, v in results.items()},
        "alerts": results["monitoring"].result
        if results["monitoring"].status == "SUCCESS" else None,
    }


def run_monitoring_sweep(spark: SparkSession, sf_dir: str,
                         history=None,
                         state_root: str | None = None,
                         alert_dir: str | None = None) -> dict[str, Any]:
    """The financial-monitoring DAG as one pipeline
    (dag/financial_monitoring_dag.py:159-187: [feed check, revenue
    check] → send alerts → daily report), widened to the full
    detector suite and run through the self-healing runner.

    ``state_root`` persists monitoring state between sweeps, mirroring
    monitoring/setup_bigquery.sql:45-70: delivered alerts append to
    the monitoring_alerts parquet (so the NEXT sweep reads last-run
    history from disk and suppresses repeats — no caller-supplied
    history DataFrame needed), and the daily-revenue baseline snapshot
    appends to baseline_metrics. ``history`` (an explicit DataFrame)
    still wins when both are given.

    ``alert_dir`` routes delivery through FileAlertSender: every
    severity-routed channel lands in ``<alert_dir>/<channel>.jsonl``
    (the portable counterpart of alert_manager.py:103-180's
    Slack/email senders); without it, the log channel prints and
    slack/email fall back to log."""

    def run_detectors(s: SparkSession, ctx: dict[str, Any]):
        return evaluate_detectors(s, sf_dir, SWEEP_DETECTORS)

    def send_alerts(s: SparkSession, ctx: dict[str, Any]):
        from selfhealingdatapipeline_gcp_spark.plans import history as hist

        outputs = {k: v for k, v in ctx["detectors"].items()
                   if k in {r.detector for r in alerts.DEFAULT_RULES}}
        stream = alerts.collect_alerts(outputs)
        past = history
        if past is None and state_root is not None:
            past = hist.read_alert_history(s, state_root)
        anchor = None
        if past is not None or state_root is not None:
            # the event-time anchor, max(ts) over events, is the latest
            # last_update among the freshness check's materialized rows
            # (one per feed)
            anchor = max((r.last_update for r in ctx["detectors"]
                          ["freshness_check"].select("last_update").collect()
                          if r.last_update is not None), default=None)
        if past is not None:
            stream = alerts.dedup_against_history(stream, past, anchor)
        sender = (alerts.FileAlertSender(alert_dir)
                  if alert_dir is not None else alerts.AlertSender())
        if state_root is None:
            return {"n_delivered": sender.deliver(stream),
                    "audit": sender.sent}
        # materialize once: the same rows are delivered AND appended
        # to the audit sink
        stream = stream.localCheckpoint(eager=True)
        try:
            n_delivered = sender.deliver(stream)
            hist.write_alert_history(stream, state_root, anchor)
        finally:
            release_outputs((stream,))
        hist.write_baseline_metrics(
            hist.baseline_metrics_from(ctx["detectors"]["revenue_anomaly"]
                                       .select("d", "revenue"),
                                       anchor),
            state_root)
        return {"n_delivered": n_delivered, "audit": sender.sent}

    def daily_report(s: SparkSession, ctx: dict[str, Any]):
        # the counts were observed while the outputs materialized: no job
        return dict(ctx["detectors"].row_counts)

    pipe = Pipeline("financial_monitoring", [
        Task("detectors", run_detectors),
        Task("send_alerts", send_alerts, depends_on=("detectors",)),
        Task("daily_report", daily_report,
             depends_on=("detectors", "send_alerts")),
    ])
    results = pipe.run(spark)
    if results["detectors"].status == "SUCCESS":
        release_outputs(results["detectors"].result.values())
    return {
        "statuses": {k: v.status for k, v in results.items()},
        "report": results["daily_report"].result,
        "alerts": results["send_alerts"].result,
    }


def run_scheduled_sweeps(spark: SparkSession, sf_dir: str,
                         state_root: str,
                         interval_s: float = 3600.0,
                         max_runs: int | None = None,
                         alert_dir: str | None = None,
                         sleep=time.sleep) -> list[dict[str, Any]]:
    """The monitoring sweep on a recurring schedule — the in-process
    counterpart of the reference's daily cron
    (dag/financial_monitoring_complete.py:176
    ``schedule_interval='0 17 * * *'``) and hourly pipeline DAG.
    Each tick is one ``run_monitoring_sweep``, whose tasks heal
    themselves; ``sleep(interval_s)`` runs between ticks, never after
    the last one, and ``max_runs=None`` loops forever. Alert
    suppression across ticks rides the persisted monitoring_alerts
    history at ``state_root`` (a repeat firing within the dedup window
    delivers NOTHING on later ticks — the reference's ``_is_duplicate``
    check, restart-proof), so ``state_root`` is required.

    Returns one sweep-output dict per tick, with ``outputs[i]["tick"]
    == i`` on every path: a tick whose tasks failed carries their
    ``statuses``; a tick whose sweep RAISED carries ``error`` and an
    empty ``statuses`` dict, and the later ticks still run. A failed
    tick is not re-run: the sweep has side effects (alert delivery,
    history and baseline appends), so re-running it would deliver
    alerts twice."""
    outputs: list[dict[str, Any]] = []
    ticks = itertools.count() if max_runs is None else range(max_runs)
    for tick in ticks:
        if tick and interval_s > 0:
            sleep(interval_s)
        try:
            out = run_monitoring_sweep(spark, sf_dir, state_root=state_root,
                                       alert_dir=alert_dir)
        except Exception as e:  # noqa: BLE001
            out = {"statuses": {}, "error": f"{type(e).__name__}: {e}"}
        out["tick"] = tick
        outputs.append(out)
    return outputs


def run_curation_job(spark: SparkSession, sf_dir: str, output_path: str,
                     dup_rate_alert_e6: int = 200_000) -> dict[str, Any]:
    """The training-data curation pipeline end to end, through the
    same self-healing runner as the reference DAG: quality filter →
    exact dedup → LSH near-dup candidates + verified drop → split →
    packing plan → partitioned sink, with a duplicate-rate alert
    routed like any detector.

    This is the composition a user of the engine actually deploys:
    every stage is one of the registered operators, chained on
    DataFrames (one logical plan per stage, no materialization
    between them except the sink), and a stage failure — including
    the engine's own loud scale guards — goes through
    analyze → apply → retry."""
    from selfhealingdatapipeline_gcp_spark.operators import dataprep, dedup

    state: dict[str, Any] = {}

    def filter_stage(s: SparkSession, ctx: dict[str, Any]):
        docs = catalog.load(s, sf_dir, "documents")
        kept = (dataprep.quality_filter_pipeline(docs)
                .filter(F.col("keep")).select("doc_id"))
        return docs.join(kept, "doc_id")

    def dedup_stage(s: SparkSession, ctx: dict[str, Any]):
        docs = ctx["filter"]
        n_in = docs.count()
        exact = dedup.dedup_exact(docs)
        keepers = exact.select(F.col("keeper_doc_id").alias("doc_id"))
        uniq = docs.join(keepers, "doc_id")
        # near-dup drop: keep doc_a (lower id), drop its verified dups
        verified = dedup._lsh_verified_pairs(uniq)
        drops = verified.select(F.col("doc_b").alias("doc_id")).distinct()
        out = uniq.join(drops, "doc_id", "left_anti")
        n_out = out.count()
        state["n_in"], state["n_out"] = n_in, n_out
        state["dup_rate_e6"] = (n_in - n_out) * 1_000_000 // max(n_in, 1)
        return out

    def split_and_pack(s: SparkSession, ctx: dict[str, Any]):
        docs = ctx["dedup"]
        split = dataprep.train_val_split(docs).select("doc_id", "split")
        pack = dataprep.seq_pack_plan(docs).select(
            "doc_id", "stream", "pack_id", "tokens_before")
        return (docs.join(split, "doc_id").join(pack, "doc_id")
                .select("doc_id", "source", "split", "stream",
                        "pack_id", "tokens_before", "text"))

    def sink(s: SparkSession, ctx: dict[str, Any]):
        # observed write: the row/null metrics ride the sink's own
        # scan (Observation API) — no post-write validation re-scan.
        # A null doc_id or text in the CURATED output means an
        # upstream join broke. Write-audit-publish: the data lands at
        # a STAGING path first and is promoted to output_path only
        # after the observed metrics pass, so consumers of the final
        # path never see gated-out data — a write-then-check at the
        # final path would have already published it when the gate
        # raises (and a non-retryable failure would leave it there).
        import shutil

        from selfhealingdatapipeline_gcp_spark.operators import quality
        observed, obs = quality.observed_quality_gate(
            ctx["split_pack"], ("doc_id", "text"), name="curation_sink")
        staging_path = output_path.rstrip("/") + ".__staging__"
        shutil.rmtree(staging_path, ignore_errors=True)
        writers.write_parquet(observed, staging_path,
                              partition_by=("split",),
                              target_partitions=8)
        metrics = obs.get
        state["sink_metrics"] = metrics
        if metrics["nulls_doc_id"] or metrics["nulls_text"]:
            shutil.rmtree(staging_path, ignore_errors=True)
            raise ValueError(
                f"curation sink staged NULL keys: {metrics} — upstream "
                "join integrity broken; staging discarded, final path "
                "untouched")
        shutil.rmtree(output_path, ignore_errors=True)
        os.rename(staging_path, output_path)
        return output_path

    def alert_on_dup_rate(s: SparkSession, ctx: dict[str, Any]):
        fired = []
        if state["dup_rate_e6"] > dup_rate_alert_e6:
            fired.append({
                "detector": "curation_dup_rate",
                "alert_key": "corpus",
                "severity": "HIGH",
                "detail": f"dup_rate_e6={state['dup_rate_e6']}",
            })
        return fired

    pipe = Pipeline("training_data_curation", [
        Task("filter", filter_stage),
        Task("dedup", dedup_stage, depends_on=("filter",)),
        Task("split_pack", split_and_pack, depends_on=("dedup",)),
        Task("sink", sink, depends_on=("split_pack",)),
        Task("alerts", alert_on_dup_rate, depends_on=("dedup",)),
    ])
    results = pipe.run(spark)
    return {
        "statuses": {k: v.status for k, v in results.items()},
        "n_in": state.get("n_in"),
        "n_out": state.get("n_out"),
        "dup_rate_e6": state.get("dup_rate_e6"),
        "alerts": (results["alerts"].result
                   if results["alerts"].status == "SUCCESS" else None),
        "sink_metrics": state.get("sink_metrics"),
        "output_path": (results["sink"].result
                        if results["sink"].status == "SUCCESS" else None),
    }


def main() -> None:
    """CLI mirror of the reference job submission
    (scripts/transform_script:28-35 argparse → run_job): spark-submit
    this module on a cluster, or run it directly in local mode."""
    import argparse
    import json

    from selfhealingdatapipeline_gcp_spark.session import get_spark

    parser = argparse.ArgumentParser(description="self-healing ETL job")
    parser.add_argument("--sf-dir", default="/root/testdata/sf0.001",
                        help="input table directory (parquet catalog)")
    parser.add_argument("--output", required=True,
                        help="output path for the enriched orders sink")
    args = parser.parse_args()

    spark = get_spark("shdp-etl-job")
    result = run_etl_job(spark, args.sf_dir, args.output)
    print(json.dumps({
        "statuses": result["statuses"],
        "n_alerts": len(result["alerts"] or []),
    }))


if __name__ == "__main__":
    main()
