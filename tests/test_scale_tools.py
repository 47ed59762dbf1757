"""Tests for the scale toolbox: bucketed co-located joins, skew
salting, CDC/SCD2, ORC round-trip."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from selfhealingdatapipeline_gcp_spark import catalog
from selfhealingdatapipeline_gcp_spark.functions import skew
from selfhealingdatapipeline_gcp_spark.operators import cdc
from selfhealingdatapipeline_gcp_spark.sources import readers, writers

from conftest import SF_SMOKE


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    # managed tables land in the default warehouse dir (gitignored)
    orders = catalog.load(spark, SF_SMOKE, "orders")
    lineitem = catalog.load(spark, SF_SMOKE, "lineitem")
    writers.write_bucketed_table(orders, "b_orders", "o_orderkey", 8)
    writers.write_bucketed_table(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem", "o_orderkey", 8)
    try:
        a = spark.table("b_orders")
        b = spark.table("b_lineitem")
        joined = a.join(b, "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # co-located buckets: the join must not introduce an Exchange
        assert "Exchange hashpartitioning" not in plan
        assert joined.count() == lineitem.count()

        # fact ⋈ fact at scale: neither side broadcasts, and a groupBy
        # on the bucket key after the sort-merge join reuses the same
        # co-location — ZERO Exchange of any kind in the plan
        threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            per_order = joined.groupBy("o_orderkey").agg(
                F.sum("l_extendedprice").alias("revenue"))
            plan = per_order._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert "SortMergeJoin" in plan
            assert per_order.count() == lineitem.select(
                "l_orderkey").distinct().count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_salted_join_matches_plain_join(spark):
    lineitem = catalog.load(spark, SF_SMOKE, "lineitem")
    part = catalog.load(spark, SF_SMOKE, "part").withColumnRenamed(
        "p_partkey", "l_partkey")
    plain = lineitem.join(part, "l_partkey").agg(
        F.count(F.lit(1)).alias("n"), F.sum("p_retailprice").alias("s"))
    salted = skew.salted_join(lineitem, part, "l_partkey",
                              salt_factor=4,
                              big_salt_source="l_orderkey").agg(
        F.count(F.lit(1)).alias("n"), F.sum("p_retailprice").alias("s"))
    pr, sr = plain.collect()[0], salted.collect()[0]
    assert pr.n == sr.n
    assert abs(pr.s - sr.s) < 1e-6 * abs(pr.s)


def test_upsert_and_snapshot(spark):
    cur = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "k int, v string, ts int")
    upd = spark.createDataFrame(
        [(2, "b2", 30), (3, "c", 30)], "k int, v string, ts int")
    out = {r.k: r.v for r in cdc.upsert(cur, upd, "k").collect()}
    assert out == {1: "a", 2: "b2", 3: "c"}

    log = cur.unionByName(upd)
    snap = {r.k: r.v for r in cdc.latest_snapshot(log, "k", "ts").collect()}
    assert snap == {1: "a", 2: "b2", 3: "c"}


def test_scd2_apply(spark):
    t0 = datetime.datetime(2024, 1, 1)
    t1 = datetime.datetime(2024, 2, 1)
    dim = spark.createDataFrame(
        [(1, "NY", t0, None, True), (2, "LA", t0, None, True)],
        "k int, city string, effective_from timestamp, "
        "effective_to timestamp, is_current boolean")
    updates = spark.createDataFrame(
        [(1, "SF", t1), (2, "LA", t1), (3, "CHI", t1)],
        "k int, city string, effective_from timestamp")
    out = cdc.scd2_apply(dim, updates, "k", ("city",))
    rows = {(r.k, r.city, r.is_current): r for r in out.collect()}
    # key 1 changed: closed-out NY + current SF
    assert rows[(1, "NY", False)].effective_to == t1
    assert rows[(1, "SF", True)].effective_to is None
    # key 2 unchanged: single current row
    assert (2, "LA", True) in rows and (2, "LA", False) not in rows
    # key 3 brand new
    assert (3, "CHI", True) in rows
    assert len(rows) == 4


def test_orc_roundtrip(spark, tmp_path):
    df = catalog.load(spark, SF_SMOKE, "nation")
    p = str(tmp_path / "orc")
    writers.write_orc(df, p)
    assert readers.read_orc(spark, p).count() == 25


def _hot_key_events(spark, n=4000, hot_frac=0.2):
    """Fabricated power-law events: user 0 owns ``hot_frac`` of all
    rows (the key_skew_profile shape), spread over several hours so
    the bucketed cascades have buckets to spread across."""
    from pyspark.sql import functions as F
    n_hot = int(n * hot_frac)
    return (
        spark.range(n)
        .select(
            F.col("id").alias("event_id"),
            F.when(F.col("id") < n_hot, F.lit(0))
             .otherwise(F.col("id") % 97 + 1).alias("user_id"),
            (F.lit("2024-03-01 00:00:00").cast("timestamp")
             + F.make_interval(secs=(F.col("id") * 61) % 86400))
            .alias("ts"),
            F.element_at(
                F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
                (F.col("id") % 3 + 1).cast("int")).alias("event_type"),
            (F.col("id") % 50 / 10.0).alias("value"),
        )
    )


def test_transition_matrix_bucketed_matches_single_window(spark):
    """The skew-safe (user, bucket) cascade must reproduce the raw
    per-user window bit-exactly on a hot-key dataset (one user = 20%
    of events), including boundary transitions between buckets."""
    from selfhealingdatapipeline_gcp_spark.operators import analytics
    ev = _hot_key_events(spark).cache()
    try:
        fast = analytics.event_transition_matrix(ev, k=1000).collect()
        ref = analytics.event_transition_matrix(ev, k=1000,
                                                bucket=None).collect()
        assert sorted(map(tuple, fast)) == sorted(map(tuple, ref))
        # sanity: transitions conserve rows (n - 1 per user)
        n_users = ev.select("user_id").distinct().count()
        assert sum(r.n_transitions for r in fast) == ev.count() - n_users
    finally:
        ev.unpersist()


def test_sessionize_bucketed_matches_single_window(spark):
    """Two-level bucketed sessionization == one session_window pass
    on the hot-key dataset: same session count, boundaries, and
    per-session event totals."""
    from selfhealingdatapipeline_gcp_spark.operators import analytics
    ev = _hot_key_events(spark).cache()
    try:
        fast = analytics.session_duration_stats(ev).collect()[0]
        ref = analytics.session_duration_stats(ev, bucket=None).collect()[0]
        assert fast == ref
    finally:
        ev.unpersist()


def test_cdc_registered_queries_parity(spark, duck):
    from conftest import SF_ORACLE, assert_parity
    from selfhealingdatapipeline_gcp_spark import registry
    for name in ("cdc_latest_snapshot", "cdc_scd2_from_log"):
        assert_parity(registry.queries()[name](spark, SF_ORACLE), duck,
                      registry.oracle_sql()[name])


def test_scd2_from_log_versions_chain(spark):
    """Version ranges per key must chain: sorted effective_from ==
    previous effective_to, exactly one current row per key."""
    from collections import defaultdict

    from conftest import SF_ORACLE
    from selfhealingdatapipeline_gcp_spark import registry

    rows = registry.queries()["cdc_scd2_from_log"](
        spark, SF_ORACLE).collect()
    by_key = defaultdict(list)
    for r in rows:
        by_key[r.user_id].append(r)
    for k, vs in by_key.items():
        vs.sort(key=lambda r: r.effective_from)
        assert sum(1 for r in vs if r.is_current) == 1
        assert vs[-1].is_current and vs[-1].effective_to is None
        for prev, nxt in zip(vs, vs[1:]):
            assert prev.effective_to == nxt.effective_from


def test_input_files_profile_matches_parquet_metadata(spark, tmp_path):
    """Per-file row counts from the Spark plan must equal what the
    parquet footers say (pyarrow-read) — including on a multi-file
    layout with a deliberately tiny file."""
    import pyarrow.parquet as pq
    import os
    from selfhealingdatapipeline_gcp_spark import catalog
    from selfhealingdatapipeline_gcp_spark.operators import quality

    docs = catalog.load(spark, "/root/testdata/sf0.001", "documents")
    out = str(tmp_path / "multi")
    docs.filter("doc_id % 10 != 0").repartition(3).write.parquet(out)
    docs.filter("doc_id % 10 = 0").limit(7).coalesce(1).write.mode(
        "append").parquet(out)

    rows = quality.input_files_profile(spark.read.parquet(out)).collect()
    expected = {}
    for f in os.listdir(out):
        if f.endswith(".parquet") and not f.startswith(("_", ".")):
            expected[f] = pq.ParquetFile(os.path.join(out, f)).metadata.num_rows
    got = {r.file_name: r.n_rows for r in rows}
    assert got == expected
    assert all(r.is_small_file == (r.n_rows < 10_000) for r in rows)


def test_compaction_plan_bin_packing(spark, tmp_path):
    """A 12-file source with a target of ~1/3 the total rows must
    produce groups whose size stays within one straddling file of
    target, cover every file exactly once, and assign files to
    groups in deterministic name order (re-run identical)."""
    from selfhealingdatapipeline_gcp_spark import catalog
    from selfhealingdatapipeline_gcp_spark.operators import layout

    src = f"{tmp_path}/many_files.parquet"
    orders = catalog.load(spark, "/root/testdata/sf0.001", "orders")
    orders.repartition(12).write.parquet(src)
    df = spark.read.parquet(src)
    total = df.count()
    target = total // 3

    rows = layout.compaction_plan(df, target_rows_per_file=target).collect()
    assert sum(r.n_rows for r in rows) == total
    assert len({r.file_name for r in rows}) == len(rows)  # each file once
    by_group = {}
    for r in rows:
        by_group.setdefault(r.group_id, []).append(r)
    max_file = max(r.n_rows for r in rows)
    for gid, members in by_group.items():
        grows = members[0].group_rows
        assert grows == sum(r.n_rows for r in members)
        assert members[0].group_n_files == len(members)
        # next-fit by cumulative offset: a group exceeds target only
        # by (part of) one straddling file
        assert grows < target + max_file
    # groups are contiguous in file-name order
    ordered = sorted(rows, key=lambda r: r.file_name)
    gids = [r.group_id for r in ordered]
    assert gids == sorted(gids)
    # deterministic re-run
    rows2 = layout.compaction_plan(df, target_rows_per_file=target).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in rows2]


def test_make_slice_deterministic_md5_subset(spark, tmp_path):
    """tools/make_slice.py: the sampled-slice oracle input (VERDICT
    r7 #5) — embeddings filtered to a deterministic md5-prefix subset,
    every other table symlinked; rerunning produces byte-identical
    membership (content-addressed, no RNG)."""
    import hashlib
    import os
    import sys

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
    from tools.make_slice import make_slice

    src = "/root/testdata/sf0.01"
    dst = str(tmp_path / "slice")
    stats = make_slice(src, dst, hex_digits="01")
    kept, total = stats["embeddings"]["kept"], stats["embeddings"]["total"]
    assert 0 < kept < total
    # membership is exactly the md5-prefix rule
    emb = spark.read.parquet(f"{dst}/embeddings.parquet")
    ids = [r.vec_id for r in emb.select("vec_id").collect()]
    assert len(ids) == kept
    for vid in ids[:50]:
        assert hashlib.md5(str(vid).encode()).hexdigest()[0] in "01"
    # other tables ride through untouched (symlinks)
    assert os.path.islink(f"{dst}/region.parquet")
    n_reg = spark.read.parquet(f"{dst}/region.parquet").count()
    assert n_reg == spark.read.parquet(f"{src}/region.parquet").count()
    # deterministic: a rebuild keeps the identical id set
    make_slice(src, str(tmp_path / "slice2"), hex_digits="01")
    emb2 = spark.read.parquet(str(tmp_path / "slice2/embeddings.parquet"))
    assert sorted(r.vec_id for r in emb2.select("vec_id").collect()) \
        == sorted(ids)


def test_scale_copy_cipher_preserves_quality_profile(spark):
    """tools/make_sf_scale.py documents cipher: a replica copy must
    (a) keep the engine's STOPWORDS verbatim (the r8 fix — a blanket
    letter substitution destroyed function words, collapsing the
    quality filter's keep rate from 84.8% to 3.8% at sf10), so the
    per-doc keep/drop decision is copy-invariant; and (b) still not
    be a near-duplicate of its source (content words ciphered)."""
    import os
    import sys

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
    from tools import make_sf_scale as M
    from selfhealingdatapipeline_gcp_spark.operators import (
        dataprep, dedup)

    base = M.scale_copy(spark, "documents", 0)
    copy = M.scale_copy(spark, "documents", 3)
    stride = M.STRIDE["doc_id"] * 3

    # stopwords survive the cipher verbatim
    sw_base = base.filter(F.col("text").rlike(r"\bthe\b")).count()
    sw_copy = copy.filter(F.col("text").rlike(r"\bthe\b")).count()
    assert sw_base > 0 and sw_copy == sw_base

    # copy 49 is the collision copy: cipher('in') == 'of' under its
    # md5 perm, so a CHAINED restore would corrupt already-restored
    # 'of' tokens into 'in'. The synthetic corpus happens to use only
    # 'the'/'a' from STOPWORDS, so pin the two-phase marker restore
    # on fabricated text instead: every stopword must survive
    # verbatim on the collision copies.
    fab = spark.createDataFrame(
        [(1, "the quick a of and to in is end Of In The")],
        "doc_id bigint, text string")
    for c in (49, 84):
        out = fab.select(M.cipher_text_expr(c).alias("text")).first()[0]
        toks = out.split(" ")
        src = fab.first()["text"].split(" ")
        for a, b in zip(src, toks):
            if a.lower() in ("the", "a", "of", "and", "to", "in", "is"):
                assert b == a, (c, a, b)
            else:
                assert b != a, (c, a, b)

    # keep/drop decision is copy-invariant doc by doc
    keep0 = {r.doc_id for r in dataprep.quality_filter_pipeline(base)
             .filter(F.col("keep")).select("doc_id").collect()}
    keep3 = {r.doc_id - stride
             for r in dataprep.quality_filter_pipeline(copy)
             .filter(F.col("keep")).select("doc_id").collect()}
    assert keep3 == keep0

    # copies are NOT near-duplicates of their sources: texts differ
    # on every row and n-gram Jaccard finds no source↔copy pair
    same_text = (base.alias("a")
                 .join(copy.withColumn(
                     "doc_id", F.col("doc_id") - F.lit(stride)).alias("b"),
                     "doc_id")
                 .filter(F.col("a.text") == F.col("b.text")).count())
    assert same_text == 0
    re_keyed = base.select("doc_id", "text", "source").unionByName(
        copy.select("doc_id", "text", "source"))
    cross = dedup.dedup_ngram_jaccard(re_keyed).filter(
        (F.col("doc_a") % M.STRIDE["doc_id"])
        == (F.col("doc_b") % M.STRIDE["doc_id"]))
    assert cross.count() == 0


def test_slice_specs_name_real_tables_and_columns(spark):
    """driver_check's sampled-slice specs must stay valid as the
    registry moves: every spec names a registered query, a real
    catalog table, an existing id column, and resolvable prefixes."""
    from selfhealingdatapipeline_gcp_spark import registry
    from tools.driver_check import SLICE_SPECS

    qs = registry.queries()
    for name, (table, id_col, by_sf) in SLICE_SPECS.items():
        assert name in qs, name
        assert table in catalog.TABLES, (name, table)
        cols = catalog.load(spark, SF_SMOKE, table).columns
        assert id_col in cols, (name, table, id_col)
        assert "*" in by_sf, name
        for pref in by_sf.values():
            parts = pref.split(",") if "," in pref else list(pref)
            assert len({len(p) for p in parts}) == 1, (name, pref)
            assert all(c in "0123456789abcdef"
                       for p in parts for c in p), (name, pref)


def test_make_slice_multi_char_prefixes(tmp_path):
    """md5-prefix slicing: '00,01' keeps exactly the ids whose md5
    starts with those prefixes; other tables are symlinked; mixed
    prefix lengths are rejected."""
    import hashlib

    import duckdb
    import pytest as _pytest

    from tools.make_slice import make_slice

    stats = make_slice(SF_SMOKE, str(tmp_path / "sl"),
                       table="orders", id_col="o_orderkey",
                       hex_digits="00,01")
    assert 0 < stats["orders"]["kept"] < stats["orders"]["total"]
    duck = duckdb.connect()
    keys = [r[0] for r in duck.execute(
        f"SELECT o_orderkey FROM '{tmp_path}/sl/orders.parquet'"
    ).fetchall()]
    assert keys
    assert all(hashlib.md5(str(k).encode()).hexdigest()[:2]
               in ("00", "01") for k in keys)
    # untouched tables are symlinks back to the source replica
    import os
    assert os.path.islink(str(tmp_path / "sl" / "customer.parquet"))
    with _pytest.raises(ValueError, match="mixed-length"):
        make_slice(SF_SMOKE, str(tmp_path / "sl2"),
                   table="orders", id_col="o_orderkey",
                   hex_digits="0,01")


def test_sweep_green_classification_requires_passed_slice():
    """ADVICE r9: a rows-only row with an ATTACHED slice check is
    green only when the slice hash PASSED; hash_match=None from an
    errored slice check must classify bad, and killed rows are never
    green."""
    import importlib

    rss = importlib.import_module("tools.run_scale_sweep")
    ok = {"hash_match": True, "err": None}
    rows_only_no_spec = {"hash_match": None, "rows_match": True,
                         "schema_match": True,
                         "err": "rows_only_gt_2000000"}
    rows_only_slice_pass = dict(rows_only_no_spec,
                                slice={"hash_match": True})
    rows_only_slice_err = dict(rows_only_no_spec,
                               slice={"hash_match": None,
                                      "err": "OOM"})
    rows_only_slice_fail = dict(rows_only_no_spec,
                                slice={"hash_match": False})
    skip_slice_pass = {"hash_match": None,
                       "err": "oracle_skip_at_scale",
                       "slice": {"hash_match": True}}
    skip_slice_err = {"hash_match": None,
                      "err": "oracle_skip_at_scale",
                      "slice": {"hash_match": None}}
    killed = {"hash_match": None, "rows_match": None,
              "schema_match": None, "err": "killed_rc137"}
    assert rss.is_green(ok)
    assert rss.is_green(rows_only_no_spec)
    assert rss.is_green(rows_only_slice_pass)
    assert not rss.is_green(rows_only_slice_err)
    assert not rss.is_green(rows_only_slice_fail)
    assert rss.is_green(skip_slice_pass)
    assert not rss.is_green(skip_slice_err)
    assert not rss.is_green(killed)
