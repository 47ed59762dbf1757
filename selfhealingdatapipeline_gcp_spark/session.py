"""SparkSession factory tuned for both local testing and cluster scale.

Reference parity: the reference creates a bare SparkSession in
scripts/transform_script:5-7 and leaves every knob at default. We
instead pin the settings that matter at 100 TB (AQE, skew join,
partition sizing) and for oracle parity (UTC session timezone).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Pick the local-mode driver heap from the machine, not from one
    benchmark host. In local mode every executor thread shares the
    driver JVM heap, so a bigger heap keeps GC pauses out of the
    measurement (16g showed multi-second swings on the 128 GiB bench
    box) — but hardcoding 48g would invite swap/OOM-kill on smaller
    machines. Rule: ~3/8 of physical RAM, clamped to [4g, 48g];
    $SPARK_GRAFT_DRIVER_MEM overrides. Real clusters size executors
    instead and never hit this path."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_gib = int(line.split()[1]) / (1024 * 1024)
                    break
            else:
                total_gib = 16.0
    except OSError:
        total_gib = 16.0
    return f"{max(4, min(48, int(total_gib * 3 // 8)))}g"


def get_spark(app_name: str = "selfhealingdatapipeline_gcp_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Local mode defaults come from $SPARK_GRAFT_CPUS; on a real cluster
    the caller passes ``master=None`` with an external cluster manager
    and a shuffle partition count sized to executors (rule of thumb:
    2-3x total cores, bounded by ~128 MB per shuffle partition).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime coalescing, skew-join splitting, join-strategy
        # switching. Essential at scale, harmless locally.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Scale sweeps: the 1 GiB default killed streaming_sessionize
        # at sf10 (memory-sink results serialize to the driver). The
        # box has 128 GiB; a cluster deployment would size this to
        # its driver container instead.
        .config("spark.driver.maxResultSize",
                os.environ.get("SPARK_GRAFT_MAX_RESULT_SIZE", "8g"))
        # Oracle parity: DuckDB timestamps are UTC-naive.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for any pandas-interop path (multimodal mapInPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Keep scans pushdown-friendly and splittable at 100 TB:
        # 128 MB input partitions is the parquet sweet spot.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Dims up to 64 MB go broadcast without an explicit hint.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The test events table carries parquet TIMESTAMP(NANOS), which
        # Spark's reader rejects natively; read as long and convert in
        # the catalog (micros, floor — same as DuckDB's ns→us cast).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # UI off by default (headless bench/test runs); the scale demo
        # (tools/scale_demo.py) sets SPARK_GRAFT_UI=1 to read
        # per-stage shuffle totals from the public REST monitoring API
        .config("spark.ui.enabled",
                "true" if os.environ.get("SPARK_GRAFT_UI") == "1"
                else "false")
        # Console progress bars write \r-spam to stderr/stdout that
        # buries machine-readable output (a bounded tail capture once
        # filled with progress frames and parsed nothing). Nothing
        # here is interactive.
        .config("spark.ui.showConsoleProgress", "false")
        # Every sweep tick builds its detector and alert plans on the
        # driver. PySpark's per-call call-site capture (a Python stack
        # walk plus JVM round trips on every Column function) made that
        # building ~30% slower: the 16 sweep detectors took 2.0 s
        # instead of 1.45 s on a 4-vCPU host. Errors keep their Python
        # traceback, which is what the healer classifies.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Keep every job's generated classes across runs. Measured in
        # one process at sf0.1 (the same at sf0.001): the sweep uses
        # ~281 distinct classes, the ETL job 34 more, curation 145
        # more, and the history-dedup plan that first appears in
        # sweep 2 another 9: ~460 in all. The default 100-entry LRU is
        # smaller than one sweep, so each run evicted every class
        # before its next use and recompiled all of them (~280 Janino
        # compiles per warm sweep, 54-102 per ETL run, 159 per curation
        # run). At 1000 entries, about 2x that working set, every
        # later run of the three jobs compiled 0 classes. Static conf:
        # Spark reads it only when the session is built, so it must be
        # set here.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                               _default_driver_mem()))
    )
    pkgs = []
    kafka_pkg = os.environ.get("SPARK_GRAFT_KAFKA_PACKAGE")
    if kafka_pkg:
        # opt-in Kafka connector: "1" resolves the artifact matching
        # the running pyspark (needs network/ivy cache at session
        # start); any other value is used as the exact coordinate.
        # Offline environments leave this unset and the rate-source
        # loops (streaming_live_alert_loop) are the fallback.
        if kafka_pkg == "1":
            import pyspark
            # Scala suffix follows the running Spark: 4.x official
            # builds are Scala 2.13, 3.x are 2.12 — a mismatched
            # suffix is binary-incompatible (NoClassDefFoundError at
            # stream start, ADVICE r6). pyproject pins >=4.0, but
            # derive anyway so a 3.5 site-install fails resolvably.
            scala = ("2.13" if int(pyspark.__version__.split(".")[0]) >= 4
                     else "2.12")
            kafka_pkg = (f"org.apache.spark:spark-sql-kafka-0-10_{scala}:"
                         f"{pyspark.__version__}")
        pkgs.append(kafka_pkg)
    bq_pkg = os.environ.get("SPARK_GRAFT_BQ_PACKAGE")
    if bq_pkg:
        # opt-in BigQuery connector (the reference's data plane):
        # "1" uses the published with-dependencies artifact; any
        # other value is the exact coordinate. read_bigquery /
        # write_bigquery raise with setup instructions without it.
        if bq_pkg == "1":
            bq_pkg = ("com.google.cloud.spark:"
                      "spark-bigquery-with-dependencies_2.13:0.42.0")
        pkgs.append(bq_pkg)
    if pkgs:
        builder = builder.config("spark.jars.packages", ",".join(pkgs))
    if os.environ.get("SPARK_GRAFT_ROCKSDB") == "1":
        # RocksDB state store (bundled with Spark): at 100 TB the
        # streaming state (dedup keys, session windows, join state)
        # outgrows the default in-memory HDFS-backed provider — the
        # executor heap becomes the state ceiling and OOMs. RocksDB
        # keeps state off-heap with disk spill; this is the standard
        # production setting for large stateful streaming. Local
        # tests exercise it via tests/test_streaming_unbounded.py.
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try:
        # Day-grain detectors deliberately use single-partition windows
        # over O(days) relations (annotated at each site); WindowExec's
        # "No Partition Defined" warning would fire on every run and
        # bury real regressions in the log tail — silence just that
        # logger, nothing else.
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR)
    except Exception:
        pass  # non-log4j2 deployments keep the warning — cosmetic only
    return spark
