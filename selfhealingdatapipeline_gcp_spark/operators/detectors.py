"""Monitoring detectors, re-expressed as declarative Spark plans.

Reference parity (monitoring/detectors/*.py): each reference detector
is a BigQuery SQL statement plus driver-side Python statistics; here
the whole computation is one distributed plan per detector — the
statistics (trailing baselines, z-scores, deviation percentages) run
as window/aggregate expressions inside Catalyst, never on the driver.

Table mapping (SURVEY.md §1): the reference's ``daily_revenue`` ≈
``orders`` (+ dims for region/product), ``feed_arrivals`` ≈
``events``. "Today"/"now" is never wall-clock: the anchor is the max
date/timestamp of the table, computed as a 1-row aggregate and
broadcast-cross-joined into the plan (SURVEY.md §3) — at 100 TB that
is one extra scan-level max, not a driver round-trip per row.

Determinism (SURVEY §3): money aggregates use exact integer-cents
sums; baseline statistics derive from integer window sums; ratio
outputs floor-truncate at 4 places; z-scores guard std>0 exactly
like revenue_detector.py:49.

Shared bases: the monitoring sweep runs many detectors over the
same two tables, so those detectors build on two aggregate bases
instead of re-aggregating the raw scan each:

- ``orders_daily_base`` (orders per day: exact cents, count, last
  order timestamp) feeds ``revenue_daily``, ``revenue_anomaly``,
  ``revenue_forecast`` and ``revenue_dow_context``, and supplies the
  orders anchor of ``revenue_breakdown``, ``transaction_breakdown``,
  ``pattern_break_region`` and ``reconciliation_orders_lineitem``.
- ``events_hourly_base`` (events per ``(event_type, d, h)``: count,
  max(ts), null counts, and flags for the 24 h / 1 h / 30-day window
  each row falls in relative to the anchor) feeds
  ``transaction_volume_anomaly``, ``freshness_check``, ``feed_status``,
  ``feed_trends``, ``feed_historical_context``,
  ``sla_processing_velocity`` and ``quality_null_trend``, and supplies
  the anchor of ``quality_duplicate_trend``.

Each base ends in ``coalesce(1)``: its grain is bounded by days ×
hours × feeds at any scale, and a single-partition input already
satisfies every distribution the readers ask for, so their groupBys
and windows plan no Exchange (and launch no job of their own). A
base is never the raw fact table: the aggregation runs distributed
first. ``jobs.evaluate_detectors`` ``cache()``s a base that two or
more requested detectors read; Spark's CacheManager then swaps the
cached relation into every reader's plan, even one built from a
fresh ``catalog.load``, so builders stay the only code path. It is
``cache()``, not ``localCheckpoint()``: a checkpointed relation
reports unknown partitioning, and every reader would plan an
``Exchange SinglePartition`` (and a job) again. Per-key baselines
over a base are windows (``partitionBy("h")``), not self-joins: the
window runs inside the reader's single stage, the join plans a
broadcast and a second job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from selfhealingdatapipeline_gcp_spark.functions import money

def _max_over_all(col: str):
    """max(col) over every row, as a window: over a single-partition
    base it runs inside the reader's stage (no broadcast, no job)."""
    return F.max(col).over(Window.rowsBetween(Window.unboundedPreceding,
                                              Window.unboundedFollowing))


def _with_anchor(df: DataFrame, col: str, alias: str = "anchor") -> DataFrame:
    """Cross-join the table's max(col) as a broadcast scalar."""
    anchor = df.agg(F.max(col).alias(alias))
    return df.crossJoin(F.broadcast(anchor))


# ---------------------------------------------------------------------------
# shared aggregate bases (see the module docstring)
# ---------------------------------------------------------------------------

def orders_daily_base(orders: DataFrame) -> DataFrame:
    """Orders at day grain: ``d``, exact integer cents ``rev_c``
    (decimal-mode widened like every money sum), ``n_txn`` and the
    day's latest ``o_orderdate`` (``last_ts``; the table's anchor is
    its max). One partition, O(days) rows."""
    return (
        orders
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.sum(money.acc(money.cents(F.col("o_totalprice"))))
             .alias("rev_c"),
            F.count(F.lit(1)).alias("n_txn"),
            F.max("o_orderdate").alias("last_ts"),
        )
        .coalesce(1)
    )


def _with_orders_anchor(orders: DataFrame) -> DataFrame:
    """``_with_anchor(orders, "o_orderdate")`` with the max read off the
    day base rather than a second aggregation of the raw table."""
    anchor = orders_daily_base(orders).agg(F.max("last_ts").alias("anchor"))
    return orders.crossJoin(F.broadcast(anchor))


def events_hourly_base(events: DataFrame, window_days: int = 30,
                       null_cols: tuple[str, ...] = ("value", "props"),
                       ) -> DataFrame:
    """Events at ``(event_type, d, h)`` grain with the anchor ``now_ts``
    (max ts) on every row: ``cnt``, ``max_ts``, one ``n_null_<col>``
    per ``null_cols``, and flags ``in_24h``/``in_1h`` (ts within that
    span before the anchor, exclusive) and ``in_window`` (ts at most
    ``window_days`` before it, inclusive). The flags are grouping keys,
    so an hour cut by a window bound splits into two rows and every
    count stays exact. One partition, O(types × days × 24) rows."""
    ts, now_ts = F.col("ts"), F.col("now_ts")
    return (
        _with_anchor(events, "ts", "now_ts")
        .groupBy(
            "event_type",
            F.to_date("ts").alias("d"),
            F.hour("ts").alias("h"),
            "now_ts",
            (ts > now_ts - F.expr("INTERVAL 24 HOURS")).alias("in_24h"),
            (ts > now_ts - F.expr("INTERVAL 1 HOURS")).alias("in_1h"),
            (ts >= now_ts - F.expr(f"INTERVAL {window_days} DAYS"))
            .alias("in_window"),
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.max("ts").alias("max_ts"),
            *[F.sum(F.col(c).isNull().cast("int")).alias(f"n_null_{c}")
              for c in null_cols],
        )
        .coalesce(1)
    )


# ---------------------------------------------------------------------------
# revenue_detector.py
# ---------------------------------------------------------------------------

def revenue_daily(orders: DataFrame) -> DataFrame:
    """Daily revenue rollup (revenue_detector.py:91-105
    ``_get_daily_revenue`` generalized to all days)."""
    # (Σ cents) / 100.0 as double is money.sum_money's own arithmetic
    return orders_daily_base(orders).select(
        "d", (F.col("rev_c") / 100.0).cast("double").alias("revenue"),
        "n_txn")


def revenue_anomaly(orders: DataFrame,
                    z_threshold: float = 2.5,
                    min_history: int = 7) -> DataFrame:
    """Per-day z-score vs trailing-30-day baseline
    (revenue_detector.py:21-89 ``check_revenue_anomaly``: 2.5 sigma,
    ≥7 days of history, current day excluded from its own baseline).

    One shuffle to daily grain, then a single ordered window — the
    day-grain relation is tiny at any SF, so the window never skews.
    """
    # Exact integer grain; the window keeps INTEGER sums (sum,
    # sum-of-squares, count) and derives avg/std arithmetically:
    # engine-native windowed avg()/stddev() accumulate doubles in
    # engine-specific order and drift an ulp even on identical inputs.
    # The variance accumulator uses HUNDRED-DOLLAR integers: cents²·31
    # overflows int64 past ~sf0.05, whole dollars² past ~sf5 (the sf10
    # replica gate caught exactly that — ANSI threw loudly), hundreds²
    # hold to ~sf300 — and money.set_decimal_mode(True) widens the
    # Σx² to DECIMAL(38,0), unbounded at any plausible SF (identical
    # values below the boundary; the healer's ansi_overflow rule
    # applies it live). $100 granularity in a daily-revenue stddev is
    # immaterial; the oracle mirrors the same scaling.
    daily = (
        orders_daily_base(orders)
        # exact whole-dollar value: (k·100)/100 is exact in IEEE
        .withColumn(
            "rev_usd",
            ((F.col("rev_c") - F.pmod(F.col("rev_c"), F.lit(100))) / 100)
            .cast("bigint"))
        # hundred-dollar units for the squared window accumulator
        .withColumn(
            "rev_h",
            ((F.col("rev_usd") - F.pmod(F.col("rev_usd"), F.lit(100)))
             / 100).cast("bigint"))
    )
    # unpartitioned day-grain window: the input is ALREADY collapsed to
    # O(days) rows (bounded forever), and the trailing-30-day frame must
    # see consecutive days — partitioning (e.g. by year) would corrupt
    # frames at boundaries. Single-partition here is deliberate.
    w = Window.orderBy("d").rowsBetween(-30, -1)
    base = (
        daily
        .withColumn("sum_u", F.sum("rev_h").over(w))
        # money.sum_sq widens to DECIMAL(38,0) under set_decimal_mode
        # (unbounded headroom); int64 hundreds² hold to ~sf300
        .withColumn("sumsq_u", money.sum_sq(F.col("rev_h")).over(w))
        .withColumn("n_hist", F.count("rev_h").over(w))
    )
    n = F.col("n_hist").cast("double")
    sum_d = F.col("sum_u").cast("double")
    avg_dollars = sum_d / n * 100.0
    var_u = F.greatest(
        (F.col("sumsq_u").cast("double") - sum_d * sum_d / n) / (n - 1),
        F.lit(0.0))
    std_dollars = F.sqrt(var_u) * 100.0
    rev_dollars = F.col("rev_c") / 100.0
    z = F.when(std_dollars > 0,
               (rev_dollars - avg_dollars) / std_dollars).otherwise(F.lit(0.0))
    return (
        base
        .filter(F.col("n_hist") >= min_history)
        .select(
            "d",
            rev_dollars.alias("revenue"),
            money.trunc(avg_dollars).alias("baseline_avg"),
            money.trunc(std_dollars).alias("baseline_std"),
            money.trunc(z).alias("z_score"),
            (F.abs(z) > z_threshold).alias("is_anomaly"),
        )
    )


def revenue_forecast(orders: DataFrame, days_ahead: int = 7,
                     history_days: int = 30, ma_days: int = 7) -> DataFrame:
    """Moving-average revenue forecast (revenue_detector.py:284-314
    ``forecast_revenue``): last ``history_days`` of daily revenue,
    mean of the ``ma_days`` most recent days present, projected
    ``days_ahead`` forward. Empty result when history < ma_days —
    the reference returns None there.

    The day-grain relation is tiny at any SF; the ordered ranking
    window runs on it, never on raw orders. Exact integer cents feed
    the average; the projection repeats the reference's float
    arithmetic order so oracles match bit-exactly."""
    daily = (
        orders_daily_base(orders)
        .withColumn("anchor", _max_over_all("last_ts"))
        .filter(F.col("d")
                >= F.to_date(F.col("anchor")
                             - F.expr(f"INTERVAL {history_days} DAYS")))
        .select("d", "rev_c")
    )
    # unpartitioned day-grain window — O(days) rows, deliberate (see
    # revenue_anomaly)
    w = Window.orderBy(F.desc("d"))
    top = (
        daily.withColumn("rn", F.row_number().over(w))
        .withColumn("n_hist", F.count(F.lit(1)).over(
            Window.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing)))
        .filter(F.col("rn") <= ma_days)
    )
    avg_d = F.col("s").cast("double") / float(ma_days) / 100.0
    return (
        top.groupBy()
        .agg(F.sum("rev_c").alias("s"), F.count(F.lit(1)).alias("n7"),
             F.max("n_hist").alias("n_history_days"))
        .filter(F.col("n_history_days") >= ma_days)
        .select(
            money.trunc(avg_d).alias("forecast_daily_avg"),
            F.lit(days_ahead).cast("bigint").alias("forecast_days"),
            money.trunc(avg_d * float(days_ahead)).alias("forecast_total"),
            F.col("n_history_days"),
        )
    )


def revenue_breakdown(orders: DataFrame, lineitem: DataFrame,
                      part: DataFrame, customer: DataFrame,
                      nation: DataFrame, region: DataFrame,
                      top_n: int = 10) -> DataFrame:
    """Revenue breakdown by region x brand over the trailing 30 days
    (revenue_detector.py:141-171 ``_get_revenue_breakdown``;
    region/product_category → r_name/p_brand via dim joins).

    Facts shuffle on the order key; all dims broadcast."""
    window_orders = (
        _with_orders_anchor(orders)
        .filter(F.col("o_orderdate") >= F.col("anchor") - F.expr("INTERVAL 30 DAYS"))
    )
    return (
        window_orders
        .join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(part.select("p_partkey", "p_brand")),
              F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(customer.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("transaction_count"),
            money.sum_revenue_e4(F.col("l_extendedprice"), F.col("l_discount"))
             .alias("category_revenue"),
        )
        .withColumn(
            "avg_transaction_value",
            money.trunc(F.col("category_revenue") / F.col("transaction_count")))
        .orderBy(F.desc("category_revenue"), "region", "brand")
        .limit(top_n)
    )


# ---------------------------------------------------------------------------
# transaction_detector.py
# ---------------------------------------------------------------------------

def transaction_volume_anomaly(events: DataFrame,
                               z_threshold: float = 2.5) -> DataFrame:
    """Anchor-day hourly volumes vs per-hour-of-day historical baseline
    (transaction_detector.py:21-142: recent count compared against an
    hourly avg/std baseline).

    (day, hour) counts from the events base; the per-hour-of-day
    baseline over the days before the anchor is a window on the hour
    key, and an hour with no history has no baseline (no row)."""
    by_hour = (
        events_hourly_base(events)
        .groupBy("d", "h", F.to_date("now_ts").alias("anchor_day"))
        .agg(F.sum("cnt").alias("cnt"))
    )
    # exact integer sums → derived avg/std (engine-native stddev
    # accumulation differs at ulp level; see revenue_anomaly)
    past = F.col("d") < F.col("anchor_day")
    by_h = Window.partitionBy("h")
    current = (
        by_hour
        .withColumn("s1", F.sum(F.when(past, F.col("cnt"))).over(by_h))
        .withColumn("s2", F.sum(F.when(past, F.col("cnt") * F.col("cnt")))
                    .over(by_h))
        .withColumn("nb", F.count(F.when(past, F.lit(1))).over(by_h))
        .filter((F.col("d") == F.col("anchor_day")) & (F.col("nb") > 0))
    )
    nb = F.col("nb").cast("double")
    s1 = F.col("s1").cast("double")
    base_avg = s1 / nb
    base_std = F.when(
        F.col("nb") > 1,
        F.sqrt(F.greatest(
            (F.col("s2").cast("double") - s1 * s1 / nb) / (nb - 1),
            F.lit(0.0))))
    z = F.when(base_std > 0,
               (F.col("cnt") - base_avg) / base_std).otherwise(F.lit(0.0))
    return (
        current
        .select(
            F.col("h").alias("hour"),
            F.col("cnt").alias("txn_count"),
            money.trunc(base_avg).alias("baseline_avg"),
            money.trunc(base_std).alias("baseline_std"),
            money.trunc(z).alias("z_score"),
            (F.abs(z) > z_threshold).alias("is_anomaly"),
        )
    )


def revenue_dow_context(orders: DataFrame, lookback_days: int = 90,
                        limit: int = 12) -> DataFrame:
    """Same-day-of-week historical context (revenue_detector.py:173-202
    ``_get_historical_context``: the last ``limit`` days sharing the
    anchor's weekday within the lookback, newest first — the relation
    the reference summarizes into its alert text). Day-grain relation;
    the ranking window is tiny at any SF."""
    daily = orders_daily_base(orders).select(
        "d",
        F.to_date(_max_over_all("last_ts")).alias("anchor_day"),
        # money.sum_money's arithmetic on the base's exact cents
        (F.col("rev_c") / 100.0).cast("double").alias("revenue"))
    return (
        daily
        .filter(
            (F.dayofweek("d") == F.dayofweek("anchor_day"))
            & (F.col("d") < F.col("anchor_day"))
            & (F.col("d") >= F.date_sub("anchor_day", lookback_days)))
        .select("d", F.date_format("d", "EEEE").alias("day_of_week"),
                "revenue")
        .orderBy(F.desc("d"))
        .limit(limit)
    )


def feed_historical_context(events: DataFrame, days: int = 30) -> DataFrame:
    """Per-feed arrival pattern over the trailing window
    (feed_detector.py:84-114 ``_get_historical_context``: totals,
    distinct arrival days, last seen, average arrival hour — the
    context attached to missing-feed alerts). The reference filters to
    the currently-missing feeds; this emits all feeds so the caller
    (or a join against feed_status) selects — one scan either way."""
    # avg(hour) = Σ h·cnt / Σ cnt: the same exact double that avg()
    # divides out of its (integer-valued) sum and count
    return (
        events_hourly_base(events, window_days=days)
        .filter(F.col("in_window"))
        .groupBy(F.col("event_type").alias("feed_id"))
        .agg(
            F.sum("cnt").alias("total_arrivals"),
            F.countDistinct("d").alias("days_arrived"),
            F.max("max_ts").alias("last_seen"),
            money.trunc(F.sum(F.col("h") * F.col("cnt"))
                        / F.sum("cnt")).alias("avg_arrival_hour"),
        )
    )


def transaction_breakdown(orders: DataFrame, lineitem: DataFrame,
                          part: DataFrame, customer: DataFrame,
                          nation: DataFrame, region: DataFrame,
                          hours: int = 72, top_n: int = 10) -> DataFrame:
    """Region × category drill-down for the anomaly window
    (transaction_detector.py:143-171 ``_get_transaction_breakdown``:
    count + revenue per region/category over the trailing hours,
    top-N by volume). Same dim-broadcast shape as revenue_breakdown;
    ranked by transaction count — this is the VOLUME-anomaly analog."""
    window_orders = (
        _with_orders_anchor(orders)
        .filter(F.col("o_orderdate")
                >= F.col("anchor") - F.expr(f"INTERVAL {hours} HOURS"))
    )
    return (
        window_orders
        .join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(part.select("p_partkey", "p_brand")),
              F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(customer.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"),
                 F.col("p_brand").alias("category"))
        .agg(
            F.count(F.lit(1)).alias("txn_count"),
            money.sum_revenue_e4(F.col("l_extendedprice"), F.col("l_discount"))
             .alias("revenue"),
        )
        .orderBy(F.desc("txn_count"), "region", "category")
        .limit(top_n)
    )


# ---------------------------------------------------------------------------
# pattern_detector.py
# ---------------------------------------------------------------------------

def _pattern_break(counts_by_day: DataFrame, key: str,
                   recent_days: int, baseline_days: int,
                   break_pct: float) -> DataFrame:
    """Shared shape for pattern_detector.py:72-172: recent daily rate
    per key vs prior-window daily rate, % deviation, break flag.

    counts_by_day: (d, <key>, cnt, anchor_day), O(days × keys) rows —
    one partition, so the per-key rollup needs no second shuffle."""
    recent_lo = F.col("anchor_day") - F.expr(f"INTERVAL {recent_days} DAYS")
    base_lo = F.col("anchor_day") - F.expr(
        f"INTERVAL {recent_days + baseline_days} DAYS")
    agg = (
        counts_by_day
        .coalesce(1)
        .filter(F.col("d") > base_lo)
        .groupBy(key)
        .agg(
            (F.sum(F.when(F.col("d") > recent_lo, F.col("cnt")).otherwise(0))
             / float(recent_days)).alias("recent_daily"),
            (F.sum(F.when(F.col("d") <= recent_lo, F.col("cnt")).otherwise(0))
             / float(baseline_days)).alias("baseline_daily"),
        )
    )
    dev = F.when(
        F.col("baseline_daily") > 0,
        (F.col("recent_daily") - F.col("baseline_daily"))
        / F.col("baseline_daily") * 100.0,
    ).otherwise(F.lit(0.0))
    return agg.select(
        key,
        money.trunc(F.col("recent_daily")).alias("recent_daily"),
        money.trunc(F.col("baseline_daily")).alias("baseline_daily"),
        money.trunc(dev).alias("deviation_pct"),
        (F.abs(dev) > break_pct).alias("is_break"),
    )


def pattern_break_region(orders: DataFrame, customer: DataFrame,
                         nation: DataFrame, region: DataFrame,
                         recent_days: int = 7, baseline_days: int = 30,
                         break_pct: float = 50.0) -> DataFrame:
    """Geographic pattern break (pattern_detector.py:72-121), region
    via customer→nation→region broadcast joins."""
    counts = (
        _with_orders_anchor(orders)
        .join(F.broadcast(customer.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(
            F.to_date("o_orderdate").alias("d"),
            F.col("r_name").alias("region"),
            F.to_date("anchor").alias("anchor_day"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return _pattern_break(counts, "region", recent_days, baseline_days, break_pct)


def pattern_break_product(lineitem: DataFrame, part: DataFrame,
                          recent_days: int = 7, baseline_days: int = 30,
                          break_pct: float = 50.0) -> DataFrame:
    """Product-mix pattern break (pattern_detector.py:123-172), brand
    via broadcast part join on the lineitem ship date."""
    counts = (
        _with_anchor(lineitem, "l_shipdate")
        .join(F.broadcast(part.select("p_partkey", "p_brand")),
              F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.to_date("l_shipdate").alias("d"),
            F.col("p_brand").alias("brand"),
            F.to_date("anchor").alias("anchor_day"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return _pattern_break(counts, "brand", recent_days, baseline_days, break_pct)


# ---------------------------------------------------------------------------
# reconciliation_detector.py
# ---------------------------------------------------------------------------

def reconciliation_orders_lineitem(orders: DataFrame, lineitem: DataFrame,
                                   window_days: int = 90) -> DataFrame:
    """Source-vs-destination record reconciliation per day
    (reconciliation_detector.py:20-144: source/destination counts +
    discrepancy %). Source = orders; destination = orders that
    materialized lineitems. One pass: each windowed order left-joins
    the distinct lineitem order keys, and one day-grain aggregation
    counts both sides."""
    window_orders = (
        _with_orders_anchor(orders)
        .filter(F.col("o_orderdate")
                > F.col("anchor") - F.expr(f"INTERVAL {window_days} DAYS"))
        .select("o_orderkey", F.to_date("o_orderdate").alias("d"))
    )
    delivered = lineitem.select("l_orderkey").distinct()
    n_source, n_dest = F.col("n_source"), F.col("n_dest")
    return (
        window_orders
        .join(delivered, F.col("o_orderkey") == F.col("l_orderkey"), "left")
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n_source"),
             F.count("l_orderkey").alias("n_dest"))
        .select(
            "d",
            "n_source",
            "n_dest",
            money.trunc((n_source - n_dest) * 100.0
                        / n_source).alias("discrepancy_pct"),
            (n_source != n_dest).alias("is_mismatch"),
        )
    )


def reconciliation_hourly_breakdown(source: DataFrame, dest: DataFrame,
                                    ts_col: str = "ts") -> DataFrame:
    """Hour-grain source-vs-destination discrepancy localization
    (reconciliation_detector.py:101-144 ``_get_hourly_breakdown``:
    per-hour counts on the incident day, FULL OUTER JOIN, keep only
    nonzero discrepancies). The incident day is the source's anchor
    (max ts). Both sides collapse to single-partition (day, hour)
    relations first, so the anchor is a window over the joined rows
    and the full outer join runs on a tiny grain at any SF."""
    def by_hour(df: DataFrame, count_col: str, *aggs) -> DataFrame:
        return (
            df.groupBy(F.to_date(ts_col).alias("d"),
                       F.hour(ts_col).alias("hour"))
            .agg(F.count(F.lit(1)).alias(count_col), *aggs)
            .coalesce(1)
        )

    src_h = by_hour(source, "source_count", F.max(ts_col).alias("last_ts"))
    dst_h = by_hour(dest, "dest_count")
    sc = F.coalesce(F.col("source_count"), F.lit(0))
    dc = F.coalesce(F.col("dest_count"), F.lit(0))
    return (
        src_h.join(dst_h, ["d", "hour"], "full_outer")
        .withColumn("anchor_day", F.to_date(_max_over_all("last_ts")))
        .filter(F.col("d") == F.col("anchor_day"))
        .select(
            "hour",
            sc.alias("source_count"),
            dc.alias("dest_count"),
            (sc - dc).alias("discrepancy"),
        )
        .filter(F.col("discrepancy") != 0)
    )


# ---------------------------------------------------------------------------
# freshness_detector.py
# ---------------------------------------------------------------------------

def freshness_check(events: DataFrame, max_age_minutes: float = 60.0) -> DataFrame:
    """Staleness per source feed (freshness_detector.py:20-112), with
    event_type as the source id and the global max(ts) as "now".

    Ages computed on exact epoch microseconds so the DuckDB oracle
    can't drift."""
    per_source = (
        events_hourly_base(events)
        .groupBy(F.col("event_type").alias("source"), "now_ts")
        .agg(F.max("max_ts").alias("last_update"))
    )
    age_min = (F.unix_micros("now_ts") - F.unix_micros("last_update")) / 60e6
    return (
        per_source
        .select(
            "source",
            "last_update",
            money.trunc(age_min).alias("age_minutes"),
            (age_min > max_age_minutes).alias("is_stale"),
        )
    )


# ---------------------------------------------------------------------------
# feed_detector.py
# ---------------------------------------------------------------------------

def feed_status(events: DataFrame, cutoff_hour: int = 17) -> DataFrame:
    """Expected-vs-arrived feed check at a daily cutoff
    (feed_detector.py:20-114: which feeds arrived today before
    17:00, plus arrival stats). Expected set = all feed ids ever seen;
    arrivals = anchor-day events before the cutoff hour; both are one
    groupBy over the events base. A NULL feed id is expected but never
    matches an arrival (the reference's join semantics)."""
    today = ((F.col("d") == F.to_date("now_ts")) & (F.col("h") < cutoff_hour)
             & F.col("event_type").isNotNull())
    return (
        events_hourly_base(events)
        .groupBy(F.col("event_type").alias("feed_id"))
        .agg(
            F.max(F.when(today, F.col("max_ts"))).alias("last_arrival"),
            F.sum(F.when(today, F.col("cnt"))).alias("n_arrivals"),
        )
        .select(
            "feed_id",
            F.col("last_arrival"),
            F.coalesce("n_arrivals", F.lit(0)).alias("n_arrivals"),
            F.col("last_arrival").isNotNull().alias("arrived"),
            # firing flag for the alert rule (feed_detector.py:215
            # create_feed_alert consumes missing feeds)
            F.col("last_arrival").isNull().alias("is_missing"),
        )
    )


def feed_trends(events: DataFrame, days: int = 30) -> DataFrame:
    """Per-day feed arrival trend over the trailing window
    (feed_detector.py:195-214 ``get_feed_trends``: distinct feeds +
    total arrivals per day), rolled up from the events base."""
    return (
        events_hourly_base(events, window_days=days)
        .filter(F.col("in_window"))
        .groupBy("d")
        .agg(
            F.countDistinct("event_type").alias("feed_count"),
            F.sum("cnt").alias("total_arrivals"),
        )
    )


# ---------------------------------------------------------------------------
# sla_detector.py
# ---------------------------------------------------------------------------

def sla_processing_velocity(events: DataFrame,
                            sla_hours: float = 4.0) -> DataFrame:
    """Processing velocity + SLA-breach projection
    (sla_detector.py:20-124: records/hour over a trailing window,
    projected completion vs the SLA). Velocity = trailing 24 h rate;
    backlog = trailing 1 h arrivals. One conditional agg over the
    events base's window flags.

    Emits the reference's scaling recommendation
    (sla_detector.py:113-124 ``_calculate_required_scaling``):
    required_rate = backlog / sla_hours, scaling_factor =
    required/current (0 when idle), recommended_workers =
    int(scaling_factor) + 1 — the payload its SLA alert attaches."""
    agg = events_hourly_base(events).agg(
        F.sum(F.when(F.col("in_24h"), F.col("cnt")).otherwise(0))
         .alias("n_24h"),
        F.sum(F.when(F.col("in_1h"), F.col("cnt")).otherwise(0))
         .alias("backlog_1h"),
    )
    velocity = F.col("n_24h") / 24.0
    projected = F.when(velocity > 0, F.col("backlog_1h") / velocity).otherwise(F.lit(0.0))
    required = F.col("backlog_1h") / F.lit(sla_hours)
    scaling = F.when(velocity > 0, required / velocity).otherwise(F.lit(0.0))
    return agg.select(
        money.trunc(velocity).alias("velocity_per_hour"),
        F.col("backlog_1h"),
        money.trunc(projected).alias("projected_hours"),
        (projected > sla_hours).alias("sla_breach"),
        money.trunc(required).alias("required_rate"),
        money.trunc(scaling).alias("scaling_factor"),
        (F.floor(scaling) + 1).cast("int").alias("recommended_workers"),
    )


# ---------------------------------------------------------------------------
# quality_detector.py (trend checks; static profile lives in quality.py)
# ---------------------------------------------------------------------------

def quality_null_trend(events: DataFrame,
                       columns: tuple[str, ...] = ("value", "props")) -> DataFrame:
    """Anchor-day null rate vs historical baseline per column
    (quality_detector.py:67-116 ``_check_null_trends``). Long-format
    output via a single conditional aggregation over the events base
    + stack."""
    a = events_hourly_base(events, null_cols=columns)
    is_today = F.col("d") == F.to_date("now_ts")
    aggs = []
    for c in columns:
        n_null, n = F.col(f"n_null_{c}"), F.col("cnt")
        # try_divide: a corpus whose history (or anchor day) is empty
        # has an UNDEFINED rate, not a crash — NULL propagates through
        # delta and coalesces to is_degraded=false. Real history keeps
        # the plain-division arithmetic bit-for-bit (same operands).
        aggs += [
            F.try_divide(
                F.sum(F.when(is_today, n_null).otherwise(0)) * 100.0,
                F.sum(F.when(is_today, n).otherwise(0)))
             .alias(f"{c}__today"),
            F.try_divide(
                F.sum(F.when(~is_today, n_null).otherwise(0)) * 100.0,
                F.sum(F.when(~is_today, n).otherwise(0)))
             .alias(f"{c}__base"),
        ]
    wide = a.agg(*aggs)
    stack_expr = ", ".join(
        f"'{c}', `{c}__today`, `{c}__base`" for c in columns)
    delta = money.trunc(F.col("today_null_pct") - F.col("baseline_null_pct"))
    return (
        wide.selectExpr(
            f"stack({len(columns)}, {stack_expr}) AS (col_name, today_null_pct, baseline_null_pct)")
        .select(
            "col_name",
            money.trunc(F.col("today_null_pct")).alias("today_null_pct"),
            money.trunc(F.col("baseline_null_pct")).alias("baseline_null_pct"),
            delta.alias("delta_pct"),
            # firing threshold per quality_detector.py:96
            # (WHERE increase > 1.0)
            F.coalesce(delta > 1.0, F.lit(False)).alias("is_degraded"),
        )
    )


def quality_duplicate_trend(events: DataFrame, window_days: int = 14) -> DataFrame:
    """Per-day duplicate rate on the natural key (user_id, event_type,
    value) over the trailing window (quality_detector.py:118-168
    ``_check_duplicate_trends``), each day compared to its trailing
    30-day baseline; fires when the rate rose > 0.5 pct points
    (quality_detector.py:148 ``WHERE ... increase > 0.5``).

    Rates are integer e4 units inside the window sum so the baseline
    average is bit-identical across engines."""
    anchor = events_hourly_base(events).agg(F.max("now_ts").alias("anchor"))
    w = (
        events.crossJoin(F.broadcast(anchor))
        .filter(F.to_date("ts")
                > F.to_date(F.col("anchor") - F.expr(f"INTERVAL {window_days} DAYS")))
        .select(F.to_date("ts").alias("d"), "user_id", "event_type", "value")
    )
    day = (
        w.groupBy("d")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("user_id", "event_type", "value").alias("n_distinct"),
        )
        .select(
            "d",
            "n_rows",
            (F.col("n_rows") - F.col("n_distinct")).alias("n_dup"),
            F.floor((F.col("n_rows") - F.col("n_distinct")) * 1000000.0
                    / F.col("n_rows")).cast("bigint").alias("__dup_e4"),
        )
        .coalesce(1)
    )
    # unpartitioned day-grain window: O(days) rows forever — bounded,
    # deliberately single-partition (not a scale risk), so the day
    # relation is one partition already and the window adds no shuffle
    base_w = Window.orderBy("d").rowsBetween(-30, -1)
    base_e4 = F.sum("__dup_e4").over(base_w) / F.count("__dup_e4").over(base_w)
    return day.select(
        "d",
        "n_rows",
        "n_dup",
        (F.col("__dup_e4") / 1e4).alias("dup_pct"),
        (F.floor(base_e4) / 1e4).alias("baseline_dup_pct"),
        (F.floor(F.col("__dup_e4") - base_e4) / 1e4).alias("increase_pct"),
        F.coalesce((F.col("__dup_e4") - base_e4) > 5000.0, F.lit(False))
         .alias("is_degraded"),
    )


def event_anomaly_mad(events: DataFrame, k: float = 3.0) -> DataFrame:
    """Daily event-value totals flagged by median absolute deviation —
    the robust sibling of the z-score detectors (revenue_anomaly):
    one extreme day cannot drag a median baseline the way it drags a
    mean/stddev, so MAD keeps flagging when the corpus itself is
    dirty. Daily sums accumulate in integer micro-units
    (order-independent across engines); the median and MAD are two
    1-row aggregates over the O(days) grain relation, broadcast back
    over it — no wide shuffle anywhere."""
    daily = (
        events.groupBy(F.to_date("ts").alias("d"))
        .agg(F.sum(F.floor(F.col("value") * 1e6).cast("bigint"))
              .alias("tot_u"))
    )
    med = daily.agg(F.percentile("tot_u", 0.5).alias("med_u"))
    dev = (
        daily.crossJoin(F.broadcast(med))
        .withColumn("abs_dev_u", F.abs(F.col("tot_u") - F.col("med_u")))
    )
    mad = dev.agg(F.percentile("abs_dev_u", 0.5).alias("mad_u"))
    return (
        dev.crossJoin(F.broadcast(mad))
        .select(
            "d",
            (F.col("tot_u") / 1e6).alias("total_value"),
            (F.col("med_u") / 1e6).alias("median_value"),
            (F.col("mad_u") / 1e6).alias("mad_value"),
            (F.col("abs_dev_u") > F.lit(k) * 1.4826 * F.col("mad_u"))
             .alias("is_outlier"),
        )
    )


def value_outlier_iqr(events: DataFrame) -> DataFrame:
    """Per-event-type IQR outlier profile (Tukey fences): exact
    quartiles over each type, then a second scan counts values
    outside [q1 - 1.5·IQR, q3 + 1.5·IQR]. The quartile relation is
    O(types) rows broadcast back over the scan — same two-pass shape
    as customer_rfm, no wide shuffle. Complements the z-score
    (revenue_anomaly) and MAD (event_anomaly_mad) detectors with the
    boxplot family."""
    bounds = (
        events.groupBy("event_type")
        .agg(F.percentile("value", 0.25).alias("q1"),
             F.percentile("value", 0.75).alias("q3"))
        .select("event_type", "q1", "q3",
                (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1")))
                 .alias("lo_fence"),
                (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1")))
                 .alias("hi_fence"))
    )
    return (
        events.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(((F.col("value") < F.col("lo_fence"))
                   | (F.col("value") > F.col("hi_fence"))).cast("bigint"))
             .alias("n_outliers"),
            F.max("q1").alias("q1"),
            F.max("q3").alias("q3"),
            F.max("lo_fence").alias("lo_fence"),
            F.max("hi_fence").alias("hi_fence"),
        )
    )


def orders_backlog_aging(orders: DataFrame) -> DataFrame:
    """Open-order backlog aging (the SLA drill-down sibling of
    sla_processing_velocity): non-final orders bucketed by age since
    order date, with exact integer-cents value per bucket. Anchor =
    max(o_orderdate) computed inside the plan (never wall-clock);
    one groupBy on the derived bucket label — O(buckets) output."""
    anchor = orders.agg(F.max(F.to_date("o_orderdate")).alias("anchor"))
    age = F.datediff("anchor", F.to_date("o_orderdate"))
    bucket = (F.when(age <= 30, "00-030d")
               .when(age <= 90, "031-090d")
               .when(age <= 365, "091-365d")
               .otherwise("365d+"))
    return (
        orders.filter(F.col("o_orderstatus") != "F")
        .crossJoin(F.broadcast(anchor))
        .select(bucket.alias("age_bucket"),
                money.cents(F.col("o_totalprice")).alias("cents"))
        .groupBy("age_bucket")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             (F.sum("cents") / 100.0).alias("backlog_value"))
    )


# first-significant-digit Benford shares, round(log10(1+1/d)·1e6) —
# compile-time integer literals mirrored verbatim in the oracle SQL,
# so cross-engine parity never touches a runtime log().
_BENFORD_E6 = {1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
               6: 66947, 7: 57992, 8: 51153, 9: 45757}


def benford_first_digit(orders: DataFrame,
                        dev_threshold_e6: int = 15000) -> DataFrame:
    """First-digit (Benford) distribution of order amounts — the
    classic financial-forensics screen next to the z-score/MAD/IQR
    detectors: fabricated or unit-mixed amounts show first-digit
    shares far from log10(1+1/d). Flags digits whose observed share
    deviates more than ``dev_threshold_e6`` (1e-6 units, default
    1.5 pp).

    Everything is integer counting: one map-side-combined groupBy on
    9 digit keys, one 1-row total broadcast back, shares as
    floor-e6 integers against hardcoded Benford e6 constants — no
    runtime log(), no doubles in any compared column, so the output
    is engine- and scale-exact. Output is ≤ 9 rows at any SF.

    Amounts are abs()'d first (a negative amount's first char is
    '-', a non-digit) and sub-unit amounts (first digit 0) are
    excluded — Benford's law is only defined over leading digits
    1-9; the share denominator counts only the rows that carry a
    leading digit."""
    # abs BEFORE floor: floor(-0.2) = -1 would sneak a sub-unit
    # amount in as digit 1; floor(abs(-0.2)) = 0 drops it
    digit = F.substring(
        F.floor(F.abs(F.col("o_totalprice"))).cast("bigint").cast("string"),
        1, 1
    ).cast("int")
    counts = (
        orders.select(digit.alias("digit"))
        .filter(F.col("digit").between(1, 9))
        .groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").alias("total"))
    expected = F.create_map(
        *[F.lit(x) for kv in sorted(_BENFORD_E6.items()) for x in kv]
    )[F.col("digit")].cast("bigint")
    share_e6 = F.floor(F.col("n") * 1e6 / F.col("total")).cast("bigint")
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit", "n",
            share_e6.alias("share_e6"),
            expected.alias("benford_e6"),
            F.abs(share_e6 - expected).alias("dev_e6"),
            (F.abs(share_e6 - expected) > dev_threshold_e6)
             .alias("is_deviant"),
        )
    )


def event_rate_cusum(events: DataFrame, k: float = 0.5,
                     h: float = 5.0) -> DataFrame:
    """One-sided upper CUSUM change-point screen over daily event
    value — the sustained-drift detector the z-score family cannot
    provide (a +1σ shift never trips a z threshold but accumulates
    in a CUSUM within days). Classic parameters: slack k·σ, alarm
    at h·σ.

    The textbook recursion S_t = max(0, S_{t-1} + x_t − µ − kσ) is
    not a window function, but its closed form is: with
    cum_t = Σ_{i≤t}(x_i − µ − kσ), S_t = cum_t − min_{j≤t} cum_j —
    one cumulative-sum window plus one running-min window over the
    O(days) grain relation, no recursion, no driver loop.

    Determinism: daily totals are integer WHOLE units (sum² of the
    micro-unit form would overflow int64 at ~sf10 — the documented
    accumulator-scaling rule; money.set_decimal_mode widens the Σx²
    to DECIMAL(38,0) for unbounded headroom); µ+kσ and hσ are
    floor-truncated to integers ONCE (1-row broadcast), after which
    every windowed term is a bigint — order-independent across
    engines and retries."""
    daily = (
        events.groupBy(F.to_date("ts").alias("d"))
        .agg(F.sum(F.floor("value").cast("bigint")).alias("x"))
    )
    stats = daily.agg(
        F.sum("x").alias("s1"),
        # money.sum_sq: DECIMAL(38,0) under set_decimal_mode —
        # unbounded; int64 whole units hold to ~sf30
        money.sum_sq(F.col("x")).alias("s2"),
        F.count(F.lit(1)).alias("n"))
    mean = F.col("s1") / F.col("n")
    # s1·(s1/n), not (s1·s1)/n: the squared bigint would overflow
    # int64 around sf100 (ANSI throws); the double product cannot
    var = (F.col("s2") - F.col("s1") * mean) / F.col("n")
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    ref = stats.select(
        F.floor(mean + F.lit(k) * std).cast("bigint").alias("drift_floor"),
        F.floor(F.lit(h) * std).cast("bigint").alias("alarm_u"))
    win = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = F.sum(F.col("x") - F.col("drift_floor")).over(win)
    return (
        daily.crossJoin(F.broadcast(ref))
        .withColumn("cum", cum)
        .withColumn("run_min", F.least(F.min("cum").over(win), F.lit(0)))
        .select(
            "d", F.col("x").alias("total_value"),
            (F.col("cum") - F.col("run_min")).alias("cusum"),
            F.col("alarm_u").alias("alarm_threshold"),
            ((F.col("cum") - F.col("run_min")) > F.col("alarm_u"))
             .alias("is_alarm"))
    )


def revenue_weekly_seasonality(orders: DataFrame) -> DataFrame:
    """Day-of-week seasonal index over daily revenue — the seasonal
    baseline the z-score/CUSUM screens should normalize by before
    flagging (a quiet Sunday is not an anomaly; a Sunday-sized Monday
    is). index_e6 = dow mean / overall mean via one cross-multiplied
    expression, floor-truncated once: the numerator product exceeds
    int64 already at sf0.01 (cents · days · 1e6), so it runs in
    DOUBLES — safe here because it is a single expression evaluated
    identically in both engines (no summation, so no accumulation-
    order dependence; IEEE ops in one fixed order are bit-identical).
    O(days) grain relation → 7 rows at any SF."""
    daily = (
        orders.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.sum(money.cents(F.col("o_totalprice"))).alias("cents"))
    )
    per_dow = (
        daily
        # 1=Sunday..7=Saturday in both Spark dayofweek and DuckDB dow+1
        .groupBy(F.dayofweek("d").alias("dow"))
        .agg(F.sum("cents").alias("sum_dow"),
             F.count(F.lit(1)).alias("n_dow"))
    )
    tot = daily.agg(F.sum("cents").alias("total"),
                    F.count(F.lit(1)).alias("n_days"))
    return (
        per_dow.crossJoin(F.broadcast(tot))
        .select(
            "dow", "n_dow",
            (F.col("sum_dow") / 100.0).alias("dow_revenue"),
            F.floor(F.col("sum_dow").cast("double")
                    * F.col("n_days").cast("double") * 1e6
                    / (F.col("n_dow").cast("double")
                       * F.col("total").cast("double")))
             .cast("bigint").alias("index_e6"))
    )


def revenue_anomaly_deseasonal(orders: DataFrame,
                               z_threshold: float = 2.5,
                               min_history: int = 7) -> DataFrame:
    """Seasonally-adjusted revenue anomaly — the composition the
    seasonality index exists for: divide each day by its day-of-week
    index BEFORE the trailing z-score, so a quiet-but-normal Sunday
    stops deflating the baseline and a Sunday-sized Monday flags.

    Same integer discipline as revenue_anomaly: the index is the
    revenue_weekly_seasonality cross-multiplied expression (cents
    precision), the adjusted series floors to whole-dollar INTEGERS,
    and the trailing window keeps integer (sum, sum², count). The
    index relation is 7 rows, broadcast; everything else is the
    O(days) grain."""
    daily = (
        orders.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.sum(money.cents(F.col("o_totalprice"))).alias("rev_c"))
        .withColumn(
            "rev_usd",
            ((F.col("rev_c") - F.pmod(F.col("rev_c"), F.lit(100))) / 100)
            .cast("bigint"))
        .withColumn("dow", F.dayofweek("d"))
    )
    per_dow = daily.groupBy("dow").agg(
        F.sum("rev_c").alias("sum_dow"), F.count(F.lit(1)).alias("n_dow"))
    tot = daily.agg(F.sum("rev_c").alias("total"),
                    F.count(F.lit(1)).alias("n_days"))
    idx = (
        per_dow.crossJoin(F.broadcast(tot))
        .select("dow",
                F.floor(F.col("sum_dow").cast("double")
                        * F.col("n_days").cast("double") * 1e6
                        / (F.col("n_dow").cast("double")
                           * F.col("total").cast("double")))
                 .cast("bigint").alias("index_e6"))
    )
    adj = (
        daily.join(F.broadcast(idx), "dow")
        # clamp index to >= 1: a stratum whose revenue floors to
        # index 0 (tiny/sparse data) must not divide by zero (ANSI
        # throws; floor(inf) has no bigint) — treating it as 1e-6
        # keeps the row, loudly inflated rather than crashed
        .withColumn("adj_u",
                    F.floor(F.col("rev_usd") * 1e6
                            / F.greatest(F.col("index_e6"), F.lit(1)))
                     .cast("bigint"))
        # hundred-dollar units for the squared window (the
        # revenue_anomaly accumulator-scaling rule; dollars²
        # overflowed int64 at the sf10 gate)
        .withColumn("adj_h",
                    ((F.col("adj_u") - F.pmod(F.col("adj_u"),
                                              F.lit(100))) / 100)
                    .cast("bigint"))
    )
    w = Window.orderBy("d").rowsBetween(-30, -1)
    base = (
        adj
        .withColumn("sum_u", F.sum("adj_h").over(w))
        .withColumn("sumsq_u", money.sum_sq(F.col("adj_h")).over(w))
        .withColumn("n_hist", F.count("adj_h").over(w))
    )
    n = F.col("n_hist").cast("double")
    sum_d = F.col("sum_u").cast("double")
    avg_adj = sum_d / n * 100.0
    var_u = F.greatest(
        (F.col("sumsq_u").cast("double") - sum_d * sum_d / n) / (n - 1),
        F.lit(0.0))
    std_adj = F.sqrt(var_u) * 100.0
    adj_d = F.col("adj_u").cast("double")
    z = F.when(std_adj > 0, (adj_d - avg_adj) / std_adj) \
         .otherwise(F.lit(0.0))
    return (
        base
        .filter(F.col("n_hist") >= min_history)
        .select(
            "d",
            (F.col("rev_c") / 100.0).alias("revenue"),
            "index_e6",
            F.col("adj_u").alias("adj_revenue"),
            money.trunc(avg_adj).alias("baseline_avg"),
            money.trunc(std_adj).alias("baseline_std"),
            money.trunc(z).alias("z_score"),
            (F.abs(z) > z_threshold).alias("is_anomaly"),
        )
        .orderBy("d")
    )


def revenue_volume_correlation(orders: DataFrame,
                               window_days: int = 30,
                               min_history: int = 10,
                               decouple_threshold: float = 0.3)\
        -> DataFrame:
    """Trailing Pearson correlation between daily revenue and daily
    transaction VOLUME — the decoupling detector: revenue and order
    count normally move together, so a window where r falls toward 0
    (or negative) while both series stay active signals a pricing
    error, a partial feed, or currency drift that the per-series
    z-scores each miss (each series alone looks normal).

    Determinism: the window keeps SEVEN integer sums (n, Σx, Σy,
    Σx², Σy², Σxy in hundred-dollar × count units; the Σ² terms run
    through money.sum_sq so decimal mode widens them) and r is ONE
    closed-form expression over them — engine-exact, no windowed
    doubles. O(days) grain relation, single ordered window."""
    daily = (
        orders.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.sum(money.cents(F.col("o_totalprice"))).alias("rev_c"),
             F.count(F.lit(1)).alias("y"))
        .withColumn(
            "x",
            ((F.col("rev_c") - F.pmod(F.col("rev_c"), F.lit(10_000)))
             / 10_000).cast("bigint"))  # hundred-dollar units
    )
    w = Window.orderBy("d").rowsBetween(-(window_days - 1), 0)
    base = (
        daily
        .withColumn("n", F.count(F.lit(1)).over(w))
        .withColumn("sx", F.sum("x").over(w))
        .withColumn("sy", F.sum("y").over(w))
        .withColumn("sxx", money.sum_sq(F.col("x")).over(w))
        .withColumn("syy", money.sum_sq(F.col("y")).over(w))
        # sxy widens through the same funnel as the Σ² terms: by
        # Cauchy-Schwarz sxy can reach sqrt(sxx·syy), so the exact
        # extreme-SF regime decimal mode exists for would overflow an
        # int64 sxy while sxx/syy were already widened (ADVICE r6).
        # acc() wraps x BEFORE the multiply so the per-row product is
        # decimal too.
        .withColumn("sxy",
                    F.sum(money.acc(F.col("x")) * F.col("y")).over(w))
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    cov = n * F.col("sxy").cast("double") - sx * sy
    vx = n * F.col("sxx").cast("double") - sx * sx
    vy = n * F.col("syy").cast("double") - sy * sy
    r = F.when((vx > 0) & (vy > 0), cov / F.sqrt(vx * vy)) \
         .otherwise(F.lit(0.0))
    return (
        base
        .filter(F.col("n") >= min_history)
        .select(
            "d",
            (F.col("rev_c") / 100.0).alias("revenue"),
            F.col("y").alias("n_txn"),
            (F.floor(r * 1e6) / 1e6).alias("corr_30d"),
            (F.floor(r * 1e6) / 1e6 < decouple_threshold)
             .alias("is_decoupled"),
        )
        .orderBy("d")
    )


def feed_interarrival_stats(events: DataFrame) -> DataFrame:
    """Per-feed inter-arrival gap distribution (median / p95 / max,
    seconds) — the number an SLA threshold is actually tuned from
    (freshness_check's max-age alert fires against SOME cutoff; this
    is where that cutoff comes from: p95 of the feed's own cadence).

    One lag() window per feed (the shuffle key every downstream agg
    shares), gaps kept as exact integer MICROSECONDS through the
    percentile (Spark percentile ↔ DuckDB quantile_cont interpolate
    bit-identically on integers), divided to seconds only at the
    edge — 6-decimal seconds is exact µs, the SURVEY §3 rounding
    rule. Output is O(|feeds|) rows."""
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = (
        events
        .withColumn("__prev", F.lag("ts", 1).over(w))
        .filter(F.col("__prev").isNotNull())
        .select("event_type",
                (F.unix_micros("ts") - F.unix_micros("__prev"))
                 .alias("gap_us"))
    )
    return (
        gaps.groupBy(F.col("event_type").alias("feed_id"))
        .agg(F.count(F.lit(1)).alias("n_gaps"),
             F.round(F.percentile("gap_us", 0.5) / 1e6, 6)
              .alias("p50_gap_s"),
             F.round(F.percentile("gap_us", 0.95) / 1e6, 6)
              .alias("p95_gap_s"),
             F.round(F.max("gap_us") / 1e6, 6).alias("max_gap_s"))
    )


def revenue_autocorrelation(orders: DataFrame,
                            lags: tuple[int, ...] = (1, 7, 14, 28),
                            min_pairs: int = 10) -> DataFrame:
    """Autocorrelation of daily revenue at the calendar lags the
    other detectors assume — the diagnostic UNDER
    revenue_weekly_seasonality (a strong lag-7 reading is what makes
    the dow index meaningful) and revenue_dow_context (same-weekday
    history is only a baseline if lag-7 correlation is real). A
    collapsed lag-7 with intact lag-1 means the weekly pattern broke
    (schedule change, feed split) before any single day z-scores.

    Determinism: the correlation discipline of
    revenue_volume_correlation — revenue in hundred-dollar integer
    units, SIX integer sums per lag (n, Σx, Σy, Σx², Σy², Σxy) with
    the squared terms through money.sum_sq and the cross term widened
    via money.acc (decimal-mode covered), one closed-form r per lag,
    floor-e6. The day-grain relation is O(days), the lag windows run
    on it, and the output is O(|lags|) forever. Single-partition
    window over the day grain — deliberate, same as every day-grain
    detector (annotated in SURVEY §4)."""
    daily = (
        orders.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.sum(money.cents(F.col("o_totalprice"))).alias("rev_c"))
        .withColumn(
            "x",
            ((F.col("rev_c") - F.pmod(F.col("rev_c"), F.lit(10_000)))
             / 10_000).cast("bigint"))
    )
    w = Window.orderBy("d")
    lagged = daily.select(
        "x", *[F.lag("x", L).over(w).alias(f"y{L}") for L in lags])
    stacked = (
        lagged.select(F.explode(F.array(*[
            F.struct(F.lit(L).alias("lag_days"), F.col("x"),
                     F.col(f"y{L}").alias("y"))
            for L in lags])).alias("s"))
        .select("s.lag_days", "s.x", "s.y")
        .filter(F.col("y").isNotNull())
    )
    agg = stacked.groupBy("lag_days").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        money.sum_sq(F.col("x")).alias("sxx"),
        money.sum_sq(F.col("y")).alias("syy"),
        F.sum(money.acc(F.col("x")) * F.col("y")).alias("sxy"))
    n = F.col("n_pairs").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    cov = n * F.col("sxy").cast("double") - sx * sy
    vx = n * F.col("sxx").cast("double") - sx * sx
    vy = n * F.col("syy").cast("double") - sy * sy
    r = F.when((vx > 0) & (vy > 0), cov / F.sqrt(vx * vy)) \
         .otherwise(F.lit(0.0))
    return (
        agg.filter(F.col("n_pairs") >= min_pairs)
        .select("lag_days", "n_pairs",
                (F.floor(r * 1e6) / 1e6).alias("autocorr"))
    )


def user_burstiness(events: DataFrame, min_gaps: int = 2) -> DataFrame:
    """Per-user inter-event burstiness: coefficient of variation of
    the gap distribution — the bot/scripted-traffic screen (a human's
    gaps are over-dispersed, CV > 1; a cron job's are near-constant,
    CV ~ 0; a Poisson process sits at CV = 1). feed_interarrival_stats
    tunes SLAs at feed grain; this flags INDIVIDUAL actors — the
    admission screen a training-data events pipeline runs before
    trusting engagement signals.

    One lag() window per user (the shuffle key the aggregate shares),
    gaps floored to integer seconds, Σgap and Σgap² funneled through
    money.acc / money.sum_sq (decimal-mode safe like every
    second-order accumulator); CV is computed from the exact integer
    identity n·Σx² − (Σx)² and floored to e6 micro-units at the edge.
    Output is O(|users with ≥ min_gaps+1 events|) rows."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) \
        - F.unix_micros(F.lag("ts", 1).over(w))
    gs = (
        events.withColumn("__gap_us", gap_us)
        .filter(F.col("__gap_us").isNotNull())
        .select("user_id",
                F.floor(F.col("__gap_us") / 1000000.0).cast("bigint")
                 .alias("gap_s"))
    )
    per = gs.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.sum(money.acc(F.col("gap_s"))).alias("__s1"),
        money.sum_sq(F.col("gap_s")).alias("__s2"),
    )
    var_num = (F.col("n_gaps") * F.col("__s2")
               - F.col("__s1") * F.col("__s1")).cast("double")
    cv_e6 = F.when(
        F.col("__s1") > 0,
        F.floor(F.sqrt(F.greatest(var_num, F.lit(0.0))) * 1e6
                / F.col("__s1")).cast("bigint")
    ).otherwise(F.lit(0).cast("bigint"))
    return (
        per.filter(F.col("n_gaps") >= min_gaps)
        .select(
            "user_id",
            (F.col("n_gaps") + 1).cast("bigint").alias("n_events"),
            "n_gaps",
            F.floor(F.col("__s1") / F.col("n_gaps")).cast("bigint")
             .alias("mean_gap_s"),
            cv_e6.alias("cv_e6"),
            (cv_e6 > 1000000).alias("is_bursty"),
        )
    )


def revenue_changepoint(orders: DataFrame, min_seg: int = 7) -> DataFrame:
    """Most-likely single LEVEL SHIFT in daily revenue: the split day
    maximizing the CUSUM-standardized between-segment mean gap
    |mean_before − mean_after|·sqrt(i·(n−i)/n). The per-day z
    detectors (revenue_anomaly, revenue_detector.py:21-89) flag
    spikes; a regime change that settles at a new level z-scores for
    a week then looks normal — this is the detector that names the
    day the level moved (feed cutover, pricing change, source loss).

    Determinism: revenue in hundred-dollar integer units (the
    autocorrelation discipline), prefix sums exact bigints via one
    ordered window; the score is closed-form binary64 over those
    integers (IEEE division/sqrt are bit-specified, same in any
    engine), floor-e6 at the edge; argmax tie-breaks on earliest day.

    Scale shape: one shuffle to day grain; the prefix-sum window runs
    single-partition over the O(days) relation — the documented
    day-grain detector shape (SURVEY §4), bounded by calendar span,
    not corpus size; the argmax is TakeOrdered, not a global sort."""
    daily = (
        orders.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.sum(money.cents(F.col("o_totalprice"))).alias("rev_c"))
        .withColumn(
            "x",
            ((F.col("rev_c") - F.pmod(F.col("rev_c"), F.lit(10_000)))
             / 10_000).cast("bigint"))
    )
    w = Window.orderBy("d")
    pref = daily.select(
        "d",
        F.row_number().over(w).alias("i"),
        F.sum("x").over(w.rowsBetween(Window.unboundedPreceding, 0))
         .alias("cum"))
    totals = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("tot"))
    i = F.col("i").cast("double")
    n = F.col("n").cast("double")
    mean_l = F.col("cum").cast("double") / i
    mean_r = (F.col("tot") - F.col("cum")).cast("double") / (n - i)
    score = (F.abs(mean_l - mean_r)
             * F.sqrt(i * (n - i) / n))
    return (
        pref.crossJoin(F.broadcast(totals))
        .filter((F.col("i") >= min_seg)
                & (F.col("i") <= F.col("n") - min_seg))
        .select(
            F.col("d").alias("changepoint_day"),
            F.col("n").alias("n_days"),
            F.floor(score * 1e6).cast("bigint").alias("score_e6"),
            F.floor(F.col("cum") * 10_000 / F.col("i"))
             .cast("bigint").alias("mean_before_c"),
            F.floor((F.col("tot") - F.col("cum")) * 10_000
                    / (F.col("n") - F.col("i")))
             .cast("bigint").alias("mean_after_c"))
        .orderBy(F.desc("score_e6"), "changepoint_day")
        .limit(1)
    )


# ---------------------------------------------------------------------------
# rolling-origin forecast backtest
# ---------------------------------------------------------------------------

#: EWMA weights as e6 integers, most-recent lag first (α = 0.3, 14
#: lags). Integer literals — the oracle inlines the SAME numbers, so
#: both engines compute identical sums; e6 (not e9) keeps the
#: Σ(rev_c · w) accumulator inside int64 to ~sf1000 daily revenue.
EWMA_W_E6 = [int(1e6 * 0.3 * 0.7 ** (j - 1)) for j in range(1, 15)]


def forecast_backtest_report(orders: DataFrame) -> DataFrame:
    """Rolling-origin backtest of four one-step-ahead forecasters on
    daily revenue: naive (previous observation), seasonal-naive
    (7 observations back — the reference's weekly-pattern prior,
    revenue_detector.py:284-314 forecasts FORWARD with a trailing
    mean; this measures which rule one should trust, backward), a
    trailing-28 mean, and an EWMA(α=0.3, 14 lags). One row per
    method: days evaluated, MAE, signed bias, MAPE — the evidence for
    choosing revenue_forecast's method instead of assuming it.

    Positions are OBSERVATION-indexed (trading-day convention): lag k
    = k observations back, not k calendar days; calendar gaps are
    freshness_check / missing_order_days territory. Every method is
    scored on the SAME eval days (full 28-observation history) so the
    comparison is apples-to-apples.

    Scale: one shuffle to day grain, then a single ordered window
    over the bounded O(days) relation and a 4-row aggregate. All
    error accumulation is exact integers; means are floor-divided via
    the pmod idiom (sum − sum mod n)/n — engine-exact, no doubles
    until the final division of exactly-divisible ints."""
    daily = (
        orders.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.sum(money.cents(F.col("o_totalprice"))).alias("rev_c"))
    )
    # unpartitioned day-grain window: already collapsed to O(days)
    # rows; trailing frames must see consecutive observations
    # (same deliberate single-partition as revenue_anomaly)
    w = Window.orderBy("d")
    w28 = w.rowsBetween(-28, -1)

    def _floordiv(num, den):
        return ((num - F.pmod(num, den)) / den).cast("bigint")

    ewma_num = None
    for j, we in enumerate(EWMA_W_E6, start=1):
        term = F.lag("rev_c", j).over(w) * F.lit(we)
        ewma_num = term if ewma_num is None else ewma_num + term
    wsum = F.lit(sum(EWMA_W_E6))
    base = (
        daily
        .withColumn("n28", F.count("rev_c").over(w28))
        .withColumn("fc_naive", F.lag("rev_c", 1).over(w))
        .withColumn("fc_seasonal7", F.lag("rev_c", 7).over(w))
        .withColumn("fc_trail28",
                    _floordiv(F.sum("rev_c").over(w28), F.lit(28)))
        .withColumn("fc_ewma", _floordiv(ewma_num, wsum))
        # every method scored on the same eval days: full history
        .filter(F.col("n28") == 28)
    )
    long = (
        base.select(
            "d", "rev_c",
            F.explode(F.array(*[
                F.struct(F.lit(m).alias("method"),
                         F.col(c).cast("bigint").alias("fc"))
                for m, c in [("naive_1", "fc_naive"),
                             ("seasonal_7", "fc_seasonal7"),
                             ("trailing_mean_28", "fc_trail28"),
                             ("ewma_14", "fc_ewma")]
            ])).alias("m"))
        .select("d", "rev_c",
                F.col("m.method").alias("method"),
                F.col("m.fc").alias("fc"))
        .withColumn("err_c", F.col("fc") - F.col("rev_c"))
        .withColumn("abs_c", F.abs("err_c"))
        .withColumn(
            "ape_e6",
            F.when(F.col("rev_c") > 0,
                   _floordiv(F.col("abs_c") * F.lit(1_000_000),
                             F.col("rev_c"))))
    )
    n = F.count(F.lit(1))
    return (
        long.groupBy("method")
        .agg(n.alias("n_days"),
             _floordiv(F.sum("abs_c"), n).alias("mae_cents"),
             _floordiv(F.sum("err_c"), n).alias("bias_cents"),
             _floordiv(F.sum("ape_e6"), F.count("ape_e6"))
              .alias("mape_e6"))
    )


# ---------------------------------------------------------------------------
# SAX symbolization of the daily-revenue series
# ---------------------------------------------------------------------------

#: N(0,1) equal-probability breakpoints for alphabet size 4, e6 ints
#: (Lin/Keogh SAX): P(z < -0.6745) = P(-0.6745..0) = ... = 1/4.
SAX_BREAKPOINTS_E6 = (-674_500, 0, 674_500)


def series_sax_symbols(orders: DataFrame,
                       paa_window: int = 7) -> DataFrame:
    """SAX (Symbolic Aggregate approXimation, Lin & Keogh 2003)
    symbolization of daily revenue: PAA-average the series over
    disjoint ``paa_window``-observation windows, z-normalize against
    the WHOLE series, and classify each window into a 4-letter
    alphabet at the N(0,1) equal-probability breakpoints ±0.6745/0.
    The output string is the motif/novelty substrate: repeated
    symbol runs = recurring weekly regimes, a never-seen window
    symbol = a shape anomaly that per-day z-detectors (revenue_anomaly)
    and level-shift detectors (revenue_changepoint) don't name.

    Determinism follows the revenue_anomaly discipline: daily cents →
    $100 units by integer floor-division (keeps Σx² inside int64 to
    ~sf300; past that ``money.set_decimal_mode`` widens BOTH
    accumulators), exact integer sums, doubles only in the final
    expression-mirrored z computation, symbol from the FLOORED e6
    z — both engines bucket identical integers. Windows are
    observation-indexed (trading-day convention, as
    forecast_backtest_report).

    Scale: one day-grain shuffle; the single-partition ordered window
    rides the bounded O(days) relation (deliberate, as every series
    detector here); stats broadcast as a 1-row anchor."""
    daily = (
        orders.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.sum(money.acc(money.cents(F.col("o_totalprice"))))
              .alias("rev_c"))
    )
    rev_usd = ((F.col("rev_c") - F.pmod("rev_c", 100)) / 100).cast("bigint")
    daily = daily.select("d", rev_usd.alias("rev_usd"))
    rev_h = ((F.col("rev_usd") - F.pmod("rev_usd", 100)) / 100).cast("bigint")
    daily = daily.select("d", rev_h.alias("rev_h"))
    w = Window.orderBy("d")
    per_win = (
        daily
        .withColumn("win_idx",
                    F.floor((F.row_number().over(w) - 1)
                            / F.lit(float(paa_window))).cast("bigint"))
        .groupBy("win_idx")
        .agg(F.min("d").alias("start_day"),
             F.count(F.lit(1)).cast("bigint").alias("n_obs"),
             F.sum(money.acc(F.col("rev_h"))).alias("p_h"))
    )
    stats = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(money.acc(F.col("rev_h"))).alias("s_h"),
        money.sum_sq(F.col("rev_h")).alias("q_h"))
    nd = F.col("n").cast("double")
    sd = F.col("s_h").cast("double")
    qd = F.col("q_h").cast("double")
    mean = sd / nd
    sigma = F.sqrt(F.greatest((qd - sd * sd / nd) / nd, F.lit(0.0)))
    paa = F.col("p_h").cast("double") / F.col("n_obs").cast("double")
    z = F.when(sigma > 0, (paa - mean) / sigma).otherwise(F.lit(0.0))
    lo, mid, hi = SAX_BREAKPOINTS_E6
    out = (
        per_win.crossJoin(F.broadcast(stats))
        .withColumn("z_e6", F.floor(z * 1_000_000).cast("bigint"))
        .select(
            "win_idx", "start_day", "n_obs",
            ((F.col("p_h") - F.pmod("p_h", F.col("n_obs")))
             / F.col("n_obs")).cast("bigint").alias("paa_h"),
            "z_e6",
            F.when(F.col("z_e6") < lo, F.lit("a"))
             .when(F.col("z_e6") < mid, F.lit("b"))
             .when(F.col("z_e6") < hi, F.lit("c"))
             .otherwise(F.lit("d")).alias("symbol"))
    )
    return out


def sax_motif_novelty(orders: DataFrame, motif_len: int = 4) -> DataFrame:
    """Shape-novelty detector on top of series_sax_symbols: the SAX
    word of each trailing ``motif_len``-window run (e.g. 'aadd') is a
    MOTIF; a motif that occurs exactly once in the whole series is a
    shape never seen before or since — the multi-week pattern break
    that per-day z-scores (revenue_anomaly) normalize away and level
    detectors (revenue_changepoint) only catch if the mean moved.
    This is the SAX-discord idea (Keogh et al., HOT SAX) at word
    grain: discord = rarest subsequence, here exact-count rarity on
    the quantized alphabet. Output: every full-length window with its
    motif, the motif's series-wide occurrence count, and the novelty
    flag.

    Scale: everything downstream of the day-grain collapse rides the
    bounded O(weeks) symbol relation — the trailing-word lag window
    and the motif-count partition window shuffle dozens of rows.
    Concatenation is NULL-propagating (F.concat, not concat_ws, which
    SKIPS nulls and would fabricate short words at the series head —
    DuckDB twin uses || for the same reason); head windows without a
    full history are dropped by the null filter."""
    sym = series_sax_symbols(orders)
    w = Window.orderBy("win_idx")
    motif = F.concat(*[F.lag("symbol", motif_len - 1 - i).over(w)
                       for i in range(motif_len)])
    m = (sym.select("win_idx", "start_day",
                    motif.alias("motif"))
         .filter(F.col("motif").isNotNull()))
    wc = Window.partitionBy("motif")
    return (
        m.withColumn("n_occurrences",
                     F.count(F.lit(1)).over(wc).cast("bigint"))
        .withColumn("is_novel", F.col("n_occurrences") == 1)
    )


def detector_incident_rollup(orders: DataFrame,
                             events: DataFrame) -> DataFrame:
    """The day-grain anomaly detectors' flagged rows as ONE incident
    stream — the queryable form of what the reference's monitoring
    loop does operationally (each detector posts to a shared alert
    feed: monitoring/detectors/* → alert history; here plans/
    alerts.py + plans/history.py own routing/severity, and this
    operator is the batch query that backfills or audits that feed).
    One row per (day, detector) incident: the observed value and the
    detector's own score, on a unified schema.

    Pure composition: each leg IS the registered detector (same code
    path, same oracle SQL composed verbatim into this operator's
    oracle — parity can't drift from the parents), filtered to its
    flagged rows and projected to the shared schema. Legs union
    barrier-free; each is a bounded day-grain relation. MAD carries
    no comparable score — its score is NULL by design rather than a
    fabricated pseudo-z. Rows come back in (d, detector) order: the
    rollup is a report read top-down, day by day, so its order is
    part of the contract (one sort Exchange over the bounded
    incident rows)."""
    legs = [
        (revenue_anomaly(orders).filter(F.col("is_anomaly"))
         .select(F.col("d"), F.lit("revenue_z").alias("detector"),
                 F.col("revenue").cast("double").alias("observed"),
                 F.col("z_score").cast("double").alias("score"))),
        (revenue_anomaly_deseasonal(orders).filter(F.col("is_anomaly"))
         .select(F.col("d"),
                 F.lit("revenue_z_deseasonal").alias("detector"),
                 F.col("adj_revenue").cast("double").alias("observed"),
                 F.col("z_score").cast("double").alias("score"))),
        (event_rate_cusum(events).filter(F.col("is_alarm"))
         .select(F.col("d"), F.lit("event_value_cusum").alias("detector"),
                 F.col("total_value").cast("double").alias("observed"),
                 F.col("cusum").cast("double").alias("score"))),
        (event_anomaly_mad(events).filter(F.col("is_outlier"))
         .select(F.col("d"), F.lit("event_value_mad").alias("detector"),
                 F.col("total_value").cast("double").alias("observed"),
                 F.lit(None).cast("double").alias("score"))),
    ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out.orderBy("d", "detector")
