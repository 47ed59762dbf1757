"""Static data-quality operators (reference: utils/data_quality.py).

The reference builds ``COUNTIF(col IS NULL)`` per column from the
BigQuery table schema (data_quality.py:13-17); here the profile is
one conditional aggregation over the DataFrame's own schema — a
single scan regardless of column count, then a stack to long format.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def null_profile(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Per-column null counts + rates (data_quality.py:4-28)."""
    cols = columns or df.columns
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("bigint")).alias(f"{c}__nulls"))
    wide = df.agg(*aggs)
    stack_expr = ", ".join(f"'{c}', `{c}__nulls`" for c in cols)
    return (
        wide.selectExpr(
            "__n",
            f"stack({len(cols)}, {stack_expr}) AS (col_name, n_null)")
        .select(
            "col_name",
            "n_null",
            F.col("__n").alias("n_rows"),
            F.round(F.col("n_null") * 100.0 / F.col("__n"), 4).alias("null_pct"),
        )
    )


def completeness_check(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """Row/key/set completeness: counts, distinct keys, FK orphans,
    domain violations — the rule-based part of the reference's quality
    gate, as one plan (scan + broadcast-ish join + single agg)."""
    joined = orders.join(
        customer.select("c_custkey"),
        orders["o_custkey"] == F.col("c_custkey"), "left")
    return joined.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_orderkey").alias("n_distinct_keys"),
        F.sum(F.col("c_custkey").isNull().cast("bigint")).alias("n_orphan_fk"),
        F.sum((~F.col("o_orderstatus").isin("O", "F", "P")).cast("bigint"))
         .alias("n_bad_status"),
        F.sum((F.col("o_totalprice") <= 0).cast("bigint")).alias("n_nonpositive"),
    )


def column_profile(df: DataFrame, columns: list[str]) -> DataFrame:
    """Generic min/max/distinct profile per column, long format
    (values stringified for a uniform schema). One conditional
    aggregation pass + stack — single scan for any column count."""
    aggs = []
    for c in columns:
        # min/max on the NATIVE type, stringified after (a string-cast
        # min would order integers lexicographically)
        aggs += [
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
            F.countDistinct(c).alias(f"{c}__nd"),
        ]
    wide = df.agg(*aggs)
    stack_expr = ", ".join(
        f"'{c}', `{c}__min`, `{c}__max`, `{c}__nd`" for c in columns)
    return wide.selectExpr(
        f"stack({len(columns)}, {stack_expr}) "
        "AS (col_name, min_value, max_value, n_distinct)")


def key_skew_profile(df: DataFrame, key: str) -> DataFrame:
    """Join/agg-key skew introspection: distribution stats over per-key
    row counts. This is the measurement that decides salting /
    AQE-skew settings before a big join (SURVEY §4) — run it on the
    planned join key, not after the job dies."""
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("cnt"))
    return counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_key_rows"),
        F.percentile("cnt", 0.5).alias("p50_key_rows"),
        F.percentile("cnt", 0.99).alias("p99_key_rows"),
    ).select(
        "n_keys", "n_rows", "max_key_rows", "p50_key_rows", "p99_key_rows",
        (F.floor(F.col("max_key_rows") * 1e6 / F.col("n_rows")) / 1e6)
        .alias("top_key_share"),
    )


def drift_tv(events: DataFrame, n_bins: int = 10,
             threshold_e6: int = 200_000) -> DataFrame:
    """Distribution-drift detector: total-variation distance between
    the value distributions of each event type's FIRST and SECOND
    time halves (split at the midpoint of its observed ts range),
    binned into ``n_bins`` equal-width bins over the type's observed
    value range.

    TV instead of PSI/KL deliberately: PSI needs ln(), and libm ln is
    not correctly-rounded — the same counts can floor to different e6
    values on different engines. TV is pure counting:
    TV = Σ|p_i − q_i|/2 computed as integer cross-products
    Σ|cnt_i·Q − dnt_i·P| / (2·P·Q), so the sum is order-independent
    and the whole statistic is engine-exact. int64 bound: the
    cross-product needs P·Q ≲ 9e18, i.e. ~3e9 rows per (type, half)
    — beyond that, pre-aggregate to a coarser grain or widen to
    decimal (functions/money.py discipline).

    Scale shape: one pass for per-type bounds (broadcast, K rows),
    one pass binning + counting (map-side partials), a 2·n_bins-row
    join per type. Nothing driver-side."""
    bounds = (
        events.groupBy("event_type")
        .agg(F.min("value").alias("mn"), F.max("value").alias("mx"),
             F.min(F.unix_micros("ts")).alias("t0"),
             F.max(F.unix_micros("ts")).alias("t1"))
        .withColumn("mid_us", F.floor((F.col("t0") + F.col("t1")) / 2)
                     .cast("bigint"))
    )
    bin_ = F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
        F.least(F.lit(n_bins - 1),
                F.floor((F.col("value") - F.col("mn")) * n_bins
                        / (F.col("mx") - F.col("mn"))).cast("int")))
    binned = (
        events.join(F.broadcast(bounds), "event_type")
        .select(
            "event_type", bin_.alias("bin"),
            (F.unix_micros("ts") < F.col("mid_us")).alias("is_first"))
    )
    per_bin = (
        binned.groupBy("event_type", "bin")
        .agg(F.sum(F.when(F.col("is_first"), 1).otherwise(0)).alias("cnt"),
             F.sum(F.when(F.col("is_first"), 0).otherwise(1)).alias("dnt"))
    )
    totals = per_bin.groupBy("event_type").agg(
        F.sum("cnt").alias("p_total"), F.sum("dnt").alias("q_total"))
    return (
        per_bin.join(totals, "event_type")
        .groupBy("event_type", "p_total", "q_total")
        .agg(F.sum(F.abs(F.col("cnt") * F.col("q_total")
                         - F.col("dnt") * F.col("p_total"))).alias("num"))
        .select(
            "event_type",
            F.col("p_total").alias("n_first"),
            F.col("q_total").alias("n_second"),
            F.floor(F.col("num").cast("double") * 1e6
                    / (2.0 * F.col("p_total") * F.col("q_total")))
             .cast("bigint").alias("tv_e6"))
        .withColumn("drifted", F.col("tv_e6") > threshold_e6)
        .orderBy("event_type")
    )


def input_files_profile(df) -> "DataFrame":
    """Physical-layout introspection for a parquet-backed DataFrame:
    rows per underlying FILE — the input to the two classic ingest
    decisions at scale: the small-files problem (thousands of tiny
    files → per-task overhead dominates; compact before processing)
    and file-level skew (one giant file pins a stage to one task —
    the exact failure _spread exists to absorb).

    Pure metadata-shaped plan: input_file_name() is evaluated at the
    scan, the groupBy carries (file, count) — O(files) rows out. The
    flag thresholds are conventional: < 10k rows = small file."""
    from pyspark.sql import functions as F
    per = (
        df.select(F.element_at(
            F.split(F.input_file_name(), "/"), -1).alias("file_name"))
        .groupBy("file_name")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    return (
        per.select("file_name", "n_rows",
                   (F.col("n_rows") < 10_000).alias("is_small_file"))
        .orderBy("file_name")
    )


def observed_quality_gate(df: DataFrame, key_columns: tuple[str, ...],
                          name: str = "quality_gate"):
    """Attach an in-flight quality observation to ``df`` — row count
    plus per-key-column null counts — so the metrics come out of the
    SAME action that materializes the data (a sink write, a count),
    not a second scan. At 100 TB a post-write validation re-scan is
    an hour of cluster time; ``df.observe`` rides the write for free
    (Spark's Observation API: metrics are accumulated per-task during
    the one pass).

    Returns (observed_df, observation). After ANY action on
    observed_df, ``observation.get`` yields
    {"n_rows": ..., "nulls_<col>": ...} — feed it to a pipeline
    validate hook (plans/pipeline.Task.validate) to fail the task on
    a threshold, inside the self-healing retry protocol."""
    from pyspark.sql import Observation

    obs = Observation(name)
    metrics = [F.count(F.lit(1)).alias("n_rows")]
    for c in key_columns:
        metrics.append(
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"nulls_{c}"))
    return df.observe(obs, *metrics), obs


def schema_drift_report(old: DataFrame, new: DataFrame) -> DataFrame:
    """Schema + null-rate drift between two versions of a table — the
    ingest-contract check a self-healing pipeline runs BEFORE the
    detectors (a silently-added column or a null-rate jump is how
    upstream breakage usually announces itself; the reference's
    quality scan only sees one snapshot).

    Per column of either schema: status (added/removed/common), the
    dtypes, a type-change flag, and floor-e6 null rates per side with
    the delta. Schemas are driver-side METADATA (no data motion);
    the null rates are ONE conditional aggregation per side — two
    single-scan 1-row relations cross-joined into the long format,
    O(columns) output at any SF."""
    old_cols = dict(old.dtypes)
    new_cols = dict(new.dtypes)
    spark = old.sparkSession

    def null_rates(df: DataFrame, cols: list[str]) -> DataFrame:
        aggs = [F.count(F.lit(1)).alias("__n")]
        aggs += [F.sum(F.col(c).isNull().cast("bigint")).alias(f"__nn_{c}")
                 for c in cols]
        return df.agg(*aggs)

    o = null_rates(old, list(old_cols))
    n = null_rates(new, list(new_cols))
    rows = []
    for c in sorted(set(old_cols) | set(new_cols)):
        status = ("common" if c in old_cols and c in new_cols
                  else "removed" if c in old_cols else "added")
        rows.append((c, status, old_cols.get(c), new_cols.get(c),
                     c in old_cols and c in new_cols
                     and old_cols[c] != new_cols[c]))
    meta = spark.createDataFrame(
        rows, "column string, status string, dtype_old string, "
              "dtype_new string, type_changed boolean")
    # long-format rates via a CASE over the 1-row wide aggregates
    def rate_expr(wide_cols: dict, prefix: str):
        expr = F.lit(None).cast("bigint")
        for c in wide_cols:
            expr = F.when(F.col("column") == c,
                          F.floor(F.col(f"{prefix}nn_{c}") * 1e6
                                  / F.greatest(F.col(f"{prefix}n"),
                                               F.lit(1))).cast("bigint")
                          ).otherwise(expr)
        return expr

    o1 = o.select(F.col("__n").alias("on"),
                  *[F.col(f"__nn_{c}").alias(f"onn_{c}")
                    for c in old_cols])
    n1 = n.select(F.col("__n").alias("nn"),
                  *[F.col(f"__nn_{c}").alias(f"nnn_{c}")
                    for c in new_cols])
    out = (
        meta.crossJoin(F.broadcast(o1)).crossJoin(F.broadcast(n1))
        .select(
            "column", "status", "dtype_old", "dtype_new", "type_changed",
            rate_expr(old_cols, "o").alias("null_rate_old_e6"),
            rate_expr(new_cols, "n").alias("null_rate_new_e6"),
        )
        .withColumn(
            "null_rate_delta_e6",
            F.when(F.col("status") == "common",
                   F.col("null_rate_new_e6") - F.col("null_rate_old_e6"))
             .otherwise(F.lit(None).cast("bigint")))
        .orderBy("column")
    )
    return out


def drift_ks(events: DataFrame, threshold_e6: int = 100_000) -> DataFrame:
    """Kolmogorov–Smirnov drift companion to drift_tv: the max CDF
    gap between each event type's first- and second-half value
    distributions, on values quantized to an exact cent grid. TV on
    10 equal-width bins (drift_tv) is blind to drift that stays
    inside a bin; KS sees any shift the cent grid resolves, at the
    cost of an ordered scan over the type's distinct values.

    Determinism: pure counting, zero floats in the statistic —
    values quantize to bigint cents, the CDF gap is the integer
    cross-product max |c1·n2 − c2·n1|, floored against n1·n2 only at
    the e6 edge (the drift_tv int64 discipline: n1·n2 ≲ 9e18 →
    ~3e9 rows per half before decimal widening is needed).

    Scale shape: the corpus collapses map-side to (type, cent,
    half-counts) — the window then orders DISTINCT quantized values
    per type, not rows. Per-type ordered windows are the documented
    day-grain-style bound: cardinality = the type's distinct cents,
    and a range-partitioned prefix sum is the cluster escape if a
    type's value domain explodes."""
    mids = (
        events.groupBy("event_type")
        .agg(F.min(F.unix_micros("ts")).alias("t0"),
             F.max(F.unix_micros("ts")).alias("t1"))
        .withColumn("mid_us", F.floor((F.col("t0") + F.col("t1")) / 2)
                     .cast("bigint"))
        .select("event_type", "mid_us")
    )
    per_cent = (
        events.join(F.broadcast(mids), "event_type")
        .select(
            "event_type",
            F.round(F.col("value") * 100, 0).cast("bigint").alias("v_c"),
            (F.unix_micros("ts") < F.col("mid_us")).alias("is_first"))
        .groupBy("event_type", "v_c")
        .agg(F.sum(F.when(F.col("is_first"), 1).otherwise(0)).alias("c1"),
             F.sum(F.when(F.col("is_first"), 0).otherwise(1)).alias("c2"))
    )
    w = (Window.partitionBy("event_type").orderBy("v_c")
         .rowsBetween(Window.unboundedPreceding, 0))
    cum = per_cent.select(
        "event_type",
        F.sum("c1").over(w).alias("cum1"),
        F.sum("c2").over(w).alias("cum2"))
    totals = per_cent.groupBy("event_type").agg(
        F.sum("c1").cast("bigint").alias("n_first"),
        F.sum("c2").cast("bigint").alias("n_second"))
    return (
        cum.join(totals, "event_type")
        .groupBy("event_type", "n_first", "n_second")
        .agg(F.max(F.abs(F.col("cum1") * F.col("n_second")
                         - F.col("cum2") * F.col("n_first"))).alias("num"))
        .select(
            "event_type", "n_first", "n_second",
            F.floor(F.col("num") * 1e6
                    / (F.col("n_first") * F.col("n_second")))
             .cast("bigint").alias("ks_e6"))
        .withColumn("drifted", F.col("ks_e6") > threshold_e6)
        .orderBy("event_type")
    )


def expectations_orders(orders: DataFrame) -> DataFrame:
    """Declarative expectation suite over the orders feed — the
    one-pass generalization of the reference's rule-style quality
    gate (utils/data_quality.py builds per-column COUNTIF SQL;
    setup_bigquery.sql's checks are fixed rules): every rule is a
    conditional aggregate, so the WHOLE suite costs one scan +
    one 1-row partial-agg however many rules run, then stacks to a
    long per-rule report a gate or alert router consumes directly.

    Rules (fixed for registry determinism — the production entry
    point takes a rule list): key non-null, key uniqueness, positive
    amounts, status domain, date sanity window.

    Determinism: observed rates floor to e6 against exact counts;
    uniqueness compares exact distinct to exact rows.

    Scale shape: one scan, map-side partials for every rule, a
    single distinct-count shuffle (the uniqueness rule) — nothing
    row-grain leaves the scan; output O(|rules|)."""
    wide = orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_orderkey").isNotNull().cast("bigint")).alias("r1"),
        F.countDistinct("o_orderkey").alias("r2"),
        F.sum((F.col("o_totalprice") > 0).cast("bigint")).alias("r3"),
        F.sum(F.col("o_orderstatus").isin("O", "F", "P").cast("bigint"))
         .alias("r4"),
        F.sum(F.col("o_orderdate").between("1992-01-01", "2026-12-31")
              .cast("bigint")).alias("r5"),
    )
    return expectations_report_from_wide(wide)


def expectations_report_from_wide(wide: DataFrame) -> DataFrame:
    """The per-rule report from the 1-row (n, r1..r5) counter
    relation. Factored out so the streaming admission form
    (streaming/monitors.py streaming_expectations_guard) feeds its
    epoch-accumulated counters into the SAME stack/threshold path:
    the four conditional counts and n are plain sums and the
    uniqueness count is a distinct over the union of per-epoch key
    sets, so the accumulated state equals the batch aggregate and
    the two share one SQL oracle."""
    rules = [
        ("r1", "o_orderkey_not_null", 1_000_000),
        ("r2", "o_orderkey_unique", 1_000_000),
        ("r3", "o_totalprice_positive", 999_000),
        ("r4", "o_orderstatus_in_domain", 1_000_000),
        ("r5", "o_orderdate_in_window", 1_000_000),
    ]
    stack = ", ".join(
        f"'{rid}', '{name}', {thr}L, `{rid}`" for rid, name, thr in rules)
    return (
        wide.selectExpr(
            "n",
            f"stack({len(rules)}, {stack}) "
            "AS (rule_id, rule, threshold_e6, hits)")
        .select(
            "rule_id", "rule",
            F.col("n").cast("bigint").alias("n_rows"),
            F.floor(F.col("hits") * 1e6
                    / F.greatest(F.lit(1), F.col("n")))
             .cast("bigint").alias("observed_e6"),
            F.col("threshold_e6").cast("bigint").alias("threshold_e6"))
        .withColumn("passed", F.col("observed_e6") >= F.col("threshold_e6"))
        .orderBy("rule_id")
    )


def quantile_sketch_audit(events: DataFrame, n_buckets: int = 1024,
                          targets: tuple[int, ...] = (50, 90, 99)
                          ) -> DataFrame:
    """Fixed-state QUANTILE sketch audit — the third leg of the
    sketch trilogy (token_heavy_hitters audits counts,
    dedup_bloom_audit audits membership, this audits quantiles): a
    ``n_buckets`` equal-width histogram is the fixed-size state a
    streaming monitor can keep per key (engine-portable, unlike
    t-digest/GK internals); this operator computes each event type's
    p50/p90/p99 both exactly and from the histogram and reports the
    error — the number that says whether the fixed-state monitor can
    replace the exact percentile job at 100 TB.

    Determinism: values quantize to exact bigint cents; bucket
    assignment and the sketch estimate (bucket midpoint) are pure
    integer arithmetic; the exact side floors the interpolated
    percentile to cents. The estimate definition is "smallest bucket
    whose cumulative count reaches ceil(q·n/100), read at its
    midpoint" — deterministic on any engine.

    Scale shape: ONE corpus-grain shuffle — the (type, cent)
    collapse (map-side partial agg) — then everything runs at
    distinct-cent grain: bounds, the weighted exact percentile
    (F.percentile with a frequency column — identical to the
    row-expanded percentile), and the ≤ n_buckets histogram (THE
    fixed state). The cent relation is also the associative unit the
    streaming admission form accumulates per epoch."""
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    counts = (
        events.select("event_type", cents.alias("v_c"))
        .groupBy("event_type", "v_c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    return quantile_audit_from_counts(counts, n_buckets, targets)


def quantile_audit_from_counts(counts: DataFrame, n_buckets: int = 1024,
                               targets: tuple[int, ...] = (50, 90, 99)
                               ) -> DataFrame:
    """Factored core of quantile_sketch_audit over the associative
    (event_type, v_c, cnt) value-count relation — per-epoch partials
    sum into exactly this shape, so the batch operator and
    streaming_quantile_guard share it (and the SQL oracle)."""
    bounds = (
        counts.groupBy("event_type")
        .agg(F.min("v_c").alias("mn"), F.max("v_c").alias("mx"),
             F.sum("cnt").cast("bigint").alias("n"))
    )
    exact = (
        counts.groupBy("event_type")
        .agg(*[F.floor(F.percentile(F.col("v_c"), q / 100.0,
                                    F.col("cnt"))).cast("bigint")
                .alias(f"exact_p{q}") for q in targets])
    )
    bucket = F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
        F.least(F.lit(n_buckets - 1),
                F.floor((F.col("v_c") - F.col("mn")) * n_buckets
                        / (F.col("mx") - F.col("mn")))).cast("int"))
    hist = (
        counts.join(F.broadcast(bounds), "event_type")
        .select("event_type", bucket.alias("b"), "cnt")
        .groupBy("event_type", "b")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )
    w = (Window.partitionBy("event_type").orderBy("b")
         .rowsBetween(Window.unboundedPreceding, 0))
    cum = hist.select("event_type", "b", F.sum("cnt").over(w).alias("cum"))
    tq = counts.sparkSession.createDataFrame(
        [(q,) for q in targets], "q int")
    est = (
        cum.join(F.broadcast(bounds), "event_type")
        .crossJoin(F.broadcast(tq))
        .filter(F.col("cum") * 100 >= F.col("q") * F.col("n"))
        .groupBy("event_type", "q", "mn", "mx", "n")
        .agg(F.min("b").alias("b_hit"))
        .select(
            "event_type", "q", "n",
            F.when(F.col("mx") == F.col("mn"), F.col("mn")).otherwise(
                F.col("mn")
                + F.floor((2 * F.col("b_hit") + 1) * (F.col("mx") - F.col("mn"))
                          / (2 * n_buckets)))
             .cast("bigint").alias("est_c"))
    )
    long_exact = exact.select(
        "event_type",
        F.explode(F.array(*[
            F.struct(F.lit(q).alias("q"),
                     F.col(f"exact_p{q}").alias("exact_c"))
            for q in targets])).alias("e")
    ).select("event_type", F.col("e.q").alias("q"),
             F.col("e.exact_c").alias("exact_c"))
    return (
        est.join(long_exact, ["event_type", "q"])
        .select(
            "event_type", F.col("q").cast("int").alias("q"), "n",
            "exact_c", "est_c",
            F.abs(F.col("est_c") - F.col("exact_c")).cast("bigint")
             .alias("abs_err_c"))
        .orderBy("event_type", "q")
    )


def distinct_kmv_audit(events: DataFrame, k: int = 64, n_salt: int = 32
                       ) -> DataFrame:
    """Fixed-state DISTINCT-COUNT sketch audit — fourth leg of the
    sketch family (CMS=counts, Bloom=membership, histogram=quantiles,
    this=cardinality): a K-Minimum-Values sketch (the k smallest
    48-bit md5 hashes of the key) is the O(k) state whose estimator
    (k-1)·2^48 div h_k approximates the distinct count; unlike
    approx_count_distinct's HLL (implementation-defined registers,
    engine-specific), KMV over md5 is bit-reproducible on ANY engine
    — so the audit (estimate vs exact per event_type) gets a real SQL
    oracle instead of a rows-only check.

    Determinism: hashes are md5int (48-bit, nonnegative), the
    estimator is pure integer division, and when a type has fewer
    than k distinct keys the sketch holds them all and the estimate
    IS the exact count. int64 bound: err_e6's abs_err·1e6 product
    needs abs_err ≲ 9e12 — holds for any corpus up to trillions of
    distinct keys; beyond that widen through the functions/money.py
    decimal discipline.

    Scale shape: ONE corpus-grain shuffle — the (type, hash)
    distinct — then the min-k selection runs two-phase like
    cap_per_source (rank within (type, salt) keeping ≤ k, exact rank
    over ≤ n_salt·k survivors), so a billion-key type never lands in
    a single sort task; exact distinct count is the corpus-grain
    aggregate the sketch exists to avoid, run here to measure the
    trade."""
    from selfhealingdatapipeline_gcp_spark.functions import textfn

    d = (events
         .select("event_type",
                 textfn.md5int(F.col("user_id").cast("string")).alias("h"))
         .distinct())
    return kmv_audit_from_distinct(d, k, n_salt)


def kmv_audit_from_distinct(d: DataFrame, k: int = 64, n_salt: int = 32
                            ) -> DataFrame:
    """Factored core of distinct_kmv_audit over the associative
    (event_type, h) DISTINCT-hash relation — per-epoch distinct
    partials union into exactly this shape, so the batch operator and
    streaming_kmv_guard share it (and the SQL oracle)."""
    exact = (d.groupBy("event_type")
             .agg(F.count(F.lit(1)).cast("bigint").alias("exact_distinct")))
    w1 = Window.partitionBy("event_type", "__salt").orderBy("h")
    w2 = Window.partitionBy("event_type").orderBy("h")
    kth = (
        d.withColumn("__salt", F.pmod(F.col("h"), F.lit(n_salt)))
        .withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= k)
        .withColumn("__r2", F.row_number().over(w2))
        .filter(F.col("__r2") == k)
        .select("event_type", F.col("h").alias("h_k"))
    )
    num = (k - 1) * (1 << 48)
    return (
        exact.join(kth, "event_type", "left")
        .select(
            "event_type", "exact_distinct",
            # explicit NULL branch, NOT greatest(h_k, 1) alone:
            # greatest() IGNORES nulls (both engines), so a missing
            # h_k would divide by 1 and fabricate a ~2^54 estimate
            F.when(F.col("h_k").isNull(), F.col("exact_distinct"))
             .otherwise(
                F.expr(f"CAST({num} div greatest(h_k, 1) AS BIGINT)"))
             .alias("kmv_estimate"))
        .select(
            "event_type", "exact_distinct", "kmv_estimate",
            F.abs(F.col("kmv_estimate") - F.col("exact_distinct"))
             .cast("bigint").alias("abs_err"),
            F.floor(F.abs(F.col("kmv_estimate") - F.col("exact_distinct"))
                    * 1_000_000
                    / F.greatest(F.lit(1), F.col("exact_distinct")))
             .cast("bigint").alias("err_e6"))
        .orderBy("event_type")
    )


def join_skew_advisor(events: DataFrame, orders: DataFrame,
                      top_k: int = 10) -> DataFrame:
    """Pre-join skew measurement for a planned equi-join — the
    two-sided companion of key_skew_profile (one table's key
    distribution) for the join that actually blows up: per-key row
    counts on BOTH sides, the per-key OUTPUT cardinality (na·nb — the
    number a hot key materializes in the join), and for each of the
    top-``top_k`` hottest keys the salting factor that would level it
    back to the mean (ceil of its multiple of the mean output).
    Run this on the join key BEFORE launching a 100 TB join; the salt
    factor feeds functions/skew.py's salted-join toolbox directly.

    Determinism: counts are exact; ranking orders by (out_rows DESC,
    key); the salt recommendation is pure integer ceiling arithmetic.
    int64 bound: Σ(na·nb) ≲ 9e18 join output rows.

    Scale shape: one key-grain aggregate per side (map-side partials;
    the shuffle carries keys+counts, never rows), an equi-join of the
    two count relations at key grain, a 1-row total broadcast, and a
    TakeOrdered top-k — no corpus-grain shuffle anywhere."""
    a = (events.groupBy(F.col("user_id").alias("key"))
         .agg(F.count(F.lit(1)).cast("bigint").alias("na")))
    b = (orders.groupBy(F.col("o_custkey").alias("key"))
         .agg(F.count(F.lit(1)).cast("bigint").alias("nb")))
    per_key = (a.join(b, "key")
               .select("key", "na", "nb",
                       (F.col("na") * F.col("nb")).cast("bigint")
                        .alias("out_rows")))
    tot = per_key.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("out_rows").cast("bigint").alias("total_out"))
    return (
        per_key.crossJoin(F.broadcast(tot))
        .orderBy(F.col("out_rows").desc(), F.col("key"))
        .limit(top_k)
        .select(
            F.row_number().over(
                Window.orderBy(F.col("out_rows").desc(), F.col("key")))
             .cast("int").alias("rank"),
            "key", "na", "nb", "out_rows",
            F.floor(F.col("out_rows") * 1_000_000 / F.col("total_out"))
             .cast("bigint").alias("out_share_e6"),
            # ceil(out_rows / mean_out) via integer div on the
            # truncated mean — NOT ceil(out·n_keys/total): that
            # product overflows int64 at scales where each factor is
            # still fine
            F.expr("CAST((out_rows + (total_out div n_keys) - 1) "
                   "div (total_out div n_keys) AS BIGINT)")
             .alias("salt_factor"))
        .orderBy("rank")
    )


def k_anonymity_audit(customer: DataFrame,
                      thresholds: tuple[int, ...] = (2, 5, 10, 25)
                      ) -> DataFrame:
    """k-anonymity audit over the customer quasi-identifier tuple
    (nation, market segment, account-balance kilobucket): for each
    privacy threshold k, how many QI equivalence classes — and how
    many ROWS — sit in classes smaller than k, i.e. are
    re-identifiable below that k. The pre-release privacy gate for
    shipping customer-derived training data (Sweeney's k-anonymity;
    same compliance family as takedown_manifest / pii_redact —
    reference parity: the reference ships raw BigQuery rows with no
    privacy QC at all, scripts/transform_script:11-24).

    One QI-grain aggregate (map-side partials; the shuffle carries QI
    tuples + counts, never rows), then one conditional aggregation
    over the bounded class-size relation with every threshold
    computed in the SAME pass and stacked to long format — class
    sizes are never re-shuffled per threshold. Rates are floor-e6
    integers; everything engine-exact.

    Scale: the class-size relation is |distinct QI| rows — bounded by
    the QI domain, not the corpus; at 100 TB this is the same shape
    as key_skew_profile (aggregate, then tiny)."""
    sizes = (
        customer.groupBy(
            F.col("c_nationkey").alias("qi_nation"),
            F.col("c_mktsegment").alias("qi_segment"),
            F.floor(F.col("c_acctbal") / 1000).cast("bigint")
             .alias("qi_balance_kb"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum("n").cast("bigint").alias("n_rows")]
    for k in thresholds:
        below = (F.col("n") < k).cast("bigint")
        aggs += [F.sum(below).cast("bigint").alias(f"g{k}"),
                 F.sum(below * F.col("n")).cast("bigint").alias(f"r{k}")]
    wide = sizes.agg(*aggs)
    stack = ", ".join(f"{k}, `g{k}`, `r{k}`" for k in thresholds)
    return (
        wide.selectExpr(
            "n_groups", "n_rows",
            f"stack({len(thresholds)}, {stack}) "
            "AS (k, n_groups_below_k, n_rows_below_k)")
        .select(
            F.col("k").cast("int").alias("k"),
            "n_groups", "n_rows", "n_groups_below_k", "n_rows_below_k",
            F.floor(F.col("n_rows_below_k") * 1_000_000 / F.col("n_rows"))
             .cast("bigint").alias("at_risk_rate_e6"))
        .orderBy("k")
    )


def l_diversity_audit(customer: DataFrame,
                      thresholds: tuple[int, ...] = (2, 3, 5, 10)
                      ) -> DataFrame:
    """l-diversity audit over the customer quasi-identifier pair
    (nation, market segment) with the account-balance kilobucket as
    the sensitive attribute: for each diversity threshold l, how
    many QI equivalence classes — and how many ROWS — expose fewer
    than l distinct sensitive values (Machanavajjhala et al.'s
    refinement of k-anonymity: a large class is still unsafe when
    everyone in it shares one sensitive value). The privacy gate
    k_anonymity_audit cannot see — the two run as a pair before any
    customer-derived release.

    One QI-grain aggregate with an exact per-class distinct count
    (the shuffle carries QI tuples, never rows), then every
    threshold evaluated in the SAME pass over the bounded class
    relation and stacked to long format — the k_anonymity_audit
    discipline exactly. Rates floor-e6; everything engine-exact.

    Scale: the class relation is |distinct QI| rows — bounded by the
    QI domain, not the corpus."""
    sizes = (
        customer.groupBy(
            F.col("c_nationkey").alias("qi_nation"),
            F.col("c_mktsegment").alias("qi_segment"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
             F.count_distinct(
                 F.floor(F.col("c_acctbal") / 1000).cast("bigint"))
              .cast("bigint").alias("l_div")))
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum("n").cast("bigint").alias("n_rows")]
    for t in thresholds:
        below = (F.col("l_div") < t).cast("bigint")
        aggs += [F.sum(below).cast("bigint").alias(f"g{t}"),
                 F.sum(below * F.col("n")).cast("bigint")
                  .alias(f"r{t}")]
    wide = sizes.agg(*aggs)
    stack = ", ".join(f"{t}, `g{t}`, `r{t}`" for t in thresholds)
    return (
        wide.selectExpr(
            "n_groups", "n_rows",
            f"stack({len(thresholds)}, {stack}) "
            "AS (l, n_groups_below_l, n_rows_below_l)")
        .select(
            F.col("l").cast("int").alias("l"),
            "n_groups", "n_rows", "n_groups_below_l", "n_rows_below_l",
            F.floor(F.col("n_rows_below_l") * 1_000_000
                    / F.col("n_rows"))
             .cast("bigint").alias("at_risk_rate_e6"))
        .orderBy("l")
    )


def fk_orphan_audit(edges: list[tuple[DataFrame, str, str,
                                      DataFrame, str, str]]) -> DataFrame:
    """Referential-integrity audit: one row per foreign-key edge
    (child_table.fk_col → parent_table.pk_col) with the child row
    count, the orphan count (child rows whose FK matches no parent
    key), and the orphan rate. completeness_check covers the single
    orders→customer edge inline; this walks the WHOLE declared
    schema graph in one result — the post-load gate that catches a
    partial dimension load before any join silently drops fact rows
    (reference parity: the reference trusts BigQuery to hold
    integrity it never declares, scripts/transform_script:11-24).

    Per edge: the parent side collapses to DISTINCT keys first (for
    dims that relation broadcasts; for a fact→fact edge like
    lineitem→orders it shuffles keys only — never parent payloads),
    then a left join + one conditional aggregate on the child. The
    per-edge 1-row aggregates union into the report; Spark runs the
    union's legs independently — no cross-edge barrier."""
    reports = []
    for child, child_name, fk, parent, parent_name, pk in edges:
        pkeys = parent.select(F.col(pk).alias("__pk")).distinct()
        rep = (
            child.select(F.col(fk).alias("__fk"))
            .join(pkeys, F.col("__fk") == F.col("__pk"), "left")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_child_rows"),
                 F.sum(F.col("__pk").isNull().cast("bigint"))
                  .cast("bigint").alias("n_orphans"))
            .select(
                F.lit(child_name).alias("child_table"),
                F.lit(fk).alias("fk_col"),
                F.lit(parent_name).alias("parent_table"),
                "n_child_rows", "n_orphans",
                F.floor(F.col("n_orphans") * 1_000_000
                        / F.greatest(F.lit(1), F.col("n_child_rows")))
                 .cast("bigint").alias("orphan_rate_e6")))
        reports.append(rep)
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out.orderBy("child_table", "fk_col")


#: (table → stats columns) for catalog_stats_report: atomic columns
#: whose min/max stringify identically across engines (ints, strings,
#: timestamps — the quality_column_profile precedent); money/value
#: doubles enter as exact integer cents/e6 under suffixed names, and
#: float-repr columns (embedding arrays, raw doubles, ns-grain ts)
#: stay out by design.
CATALOG_STATS_COLS = {
    "region": ("r_regionkey", "r_name"),
    "nation": ("n_nationkey", "n_name", "n_regionkey"),
    "customer": ("c_custkey", "c_nationkey", "c_mktsegment",
                 "c_acctbal_cents"),
    "supplier": ("s_suppkey", "s_nationkey"),
    "part": ("p_partkey", "p_brand"),
    "orders": ("o_orderkey", "o_custkey", "o_orderstatus",
               "o_orderdate", "o_orderpriority", "o_totalprice_cents"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey",
                 "l_returnflag", "l_shipdate"),
    "events": ("event_id", "user_id", "event_type", "value_e6"),
    "documents": ("doc_id", "lang", "source", "n_chars"),
    "embeddings": ("vec_id", "label"),
}

#: money/value derivations feeding the spec above: source column →
#: (derived name, exact integer expression builder)
_DERIVED = {
    "c_acctbal": "c_acctbal_cents",
    "o_totalprice": "o_totalprice_cents",
    "value": "value_e6",
}


def catalog_stats_report(tables: dict[str, DataFrame]) -> DataFrame:
    """ANALYZE-style statistics over the whole catalog: one row per
    (table, column) with row count, null count, distinct count, and
    stringified native-type min/max — the inputs a cost-based
    planner's broadcast/join-order/salting decisions read (Spark's
    own ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS shape,
    re-expressed as a queryable report; the reference trusts
    BigQuery's hidden metadata for the same decisions). key_skew_
    profile measures one key's distribution; this is the breadth
    pass that says which keys deserve that look.

    One COLUMN-PRUNED aggregate leg per (table, column), unioned with
    no barrier — deliberately NOT one wide multi-countDistinct pass
    per table: Spark plans N distinct aggregates in one agg via
    EXPAND (row count × N before the shuffle), which made the wide
    form the single slowest headline query (8.6 s at sf0.1, dominated by
    the 5-distinct lineitem leg). Per-column legs each scan exactly
    one parquet column (pruned ReadSchema) with a two-phase single
    distinct — the shape ANALYZE itself uses. Honest numbers: at
    sf0.1 this reads 7.4 s vs the wide form's 8.6 (BOTH are
    scheduling-overhead-bound at sf0.1 — 34 legs × 2 stages); the
    form is chosen for 100 TB, where EXPAND's row × column-count
    multiplication into the partial aggregates is the term that
    matters and per-column pruned scans are the standard shape. NDV is
    exact countDistinct (swap approx_count_distinct at extreme scale
    and the oracle drops; exactness is what makes the report
    verifiable). Money doubles enter as exact integer cents so
    min/max stringification can never hit engine float-repr drift."""
    legs = []
    for tname, cols in CATALOG_STATS_COLS.items():
        if tname not in tables:
            continue
        df = tables[tname]
        for src, derived in _DERIVED.items():
            if src in df.columns:
                df = df.withColumn(
                    derived,
                    F.round(F.col(src) * (100 if derived.endswith("cents")
                                          else 1_000_000), 0)
                     .cast("bigint"))
        for c in cols:
            leg = df.select(c).agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum(F.col(c).isNull().cast("bigint")).cast("bigint")
                 .alias("n_nulls"),
                F.countDistinct(c).cast("bigint").alias("n_distinct"),
                F.min(c).cast("string").alias("min_value"),
                F.max(c).cast("string").alias("max_value"))
            legs.append(leg.select(
                F.lit(tname).alias("table_name"),
                F.lit(c).alias("col_name"),
                "n_rows",
                F.coalesce("n_nulls", F.lit(0)).cast("bigint")
                 .alias("n_nulls"),
                "n_distinct", "min_value", "max_value"))
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out.orderBy("table_name", "col_name")
