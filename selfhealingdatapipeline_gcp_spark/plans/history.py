"""Persisted monitoring state (reference:
monitoring/setup_bigquery.sql:45-70 — the ``monitoring_alerts`` alert
audit table and the ``baseline_metrics`` precomputed-baseline table).

The reference keeps alert history in BigQuery so duplicate
suppression survives restarts; here the same tables are
date-partitioned parquet, written through the standard sink so the
audit trail is itself a queryable dataset. Timestamps are always
caller-provided (the event-time anchor) — never wall clock — so
round-trips are deterministic and replayable.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from selfhealingdatapipeline_gcp_spark.sources import writers

ALERTS_SUBDIR = "monitoring_alerts"
BASELINES_SUBDIR = "baseline_metrics"

_HISTORY_SCHEMA = T.StructType([
    T.StructField("detector", T.StringType()),
    T.StructField("alert_key", T.StringType()),
    T.StructField("severity", T.StringType()),
    T.StructField("detail", T.StringType()),
    T.StructField("sent_ts", T.TimestampType()),
])


def write_alert_history(alerts: DataFrame, root: str, sent_ts) -> None:
    """Append delivered alerts to the monitoring_alerts sink
    (setup_bigquery.sql:45-58: alert id/type/severity/details +
    created_at, partitioned by day). Partition column = sent day so
    retention (the reference's 180-day partition expiry) is a
    partition drop, not a rewrite."""
    out = (
        alerts.select("detector", "alert_key", "severity", "detail")
        .withColumn("sent_ts", F.lit(sent_ts).cast("timestamp"))
        .withColumn("sent_date", F.to_date("sent_ts"))
    )
    writers.write_parquet(out, os.path.join(root, ALERTS_SUBDIR),
                          mode="append", partition_by=("sent_date",))


# the stored layout: _HISTORY_SCHEMA plus the sent_date partition column
_STORED_SCHEMA = T.StructType(
    _HISTORY_SCHEMA.fields + [T.StructField("sent_date", T.DateType())])


def read_alert_history(spark: SparkSession, root: str) -> DataFrame:
    """Alert history in dedup_against_history's shape
    (detector, alert_key, sent_ts). The schema is fixed, so the read
    infers nothing and launches no job: a sweep that delivered nothing
    left only ``_SUCCESS`` there, which reads as 0 rows. A missing path
    (no run has persisted a history yet) reads as an empty relation
    too, so the first sweep suppresses nothing. Any other read failure
    (a corrupt file, a denied path) raises: an empty history would
    re-deliver every alert instead of surfacing the error. That holds
    even on the retry of a task whose corrupt-file heal turned on
    ``spark.sql.files.ignoreCorruptFiles``: skipping the bad file
    would read as "nothing persisted" too."""
    path = os.path.join(root, ALERTS_SUBDIR)
    cols = ("detector", "alert_key", "sent_ts")
    try:
        return (spark.read.schema(_STORED_SCHEMA)
                .option("ignoreCorruptFiles", "false")
                .parquet(path).select(*cols))
    except AnalysisException as exc:
        if exc.getCondition() != "PATH_NOT_FOUND":
            raise
        return spark.createDataFrame(
            [], T.StructType([_HISTORY_SCHEMA[c] for c in cols]))


def baseline_metrics_from(revenue_daily: DataFrame, anchor_date) -> DataFrame:
    """One precomputed-baseline row per metric
    (setup_bigquery.sql:61-70: metric_name, metric_date,
    baseline_value/std_dev/min/max/sample_size) from the daily-revenue
    relation — the stats detectors otherwise recompute inline every
    run. Day-grain input, single tiny agg."""
    stats = revenue_daily.agg(
        F.avg("revenue").alias("baseline_value"),
        F.stddev_samp("revenue").alias("std_dev"),
        F.min("revenue").alias("min_value"),
        F.max("revenue").alias("max_value"),
        F.count(F.lit(1)).alias("sample_size"),
    )
    return stats.select(
        F.lit("daily_revenue").alias("metric_name"),
        F.lit(anchor_date).cast("date").alias("metric_date"),
        "baseline_value", "std_dev", "min_value", "max_value",
        "sample_size",
    )


def write_baseline_metrics(baselines: DataFrame, root: str) -> None:
    writers.write_parquet(
        baselines, os.path.join(root, BASELINES_SUBDIR),
        mode="append", partition_by=("metric_date",))


def read_baseline_metrics(spark: SparkSession, root: str) -> DataFrame:
    return spark.read.parquet(os.path.join(root, BASELINES_SUBDIR))
