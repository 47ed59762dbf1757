"""Fabricate an sfN-shaped dataset from sf0.1 for SCALING MEASUREMENT
(VERDICT r4 #4). The driver testdata stops at sf0.1; every "would this
plan survive 100x" claim in BASELINE.md is extrapolated. This tool
materializes a 10x (or COPIES x) replica so the bench can measure the
sf0.1 -> sf1 per-query scaling curve on real executions.

NOT an oracle dataset — a workload-shape replica. Each copy gets:
  - key offsets on every join key (orderkey/custkey/partkey/suppkey/
    user_id/doc_id/vec_id), preserving referential integrity within
    and across copies, so join/agg cardinalities scale linearly;
  - a per-copy letter substitution cipher on document text (length,
    whitespace, punctuation, and token boundaries preserved), so
    copies are NOT near-duplicates of each other and the dedup
    operators see a naturally-scaled pair workload instead of a
    fabricated 10-way duplicate explosion;
  - a per-copy deterministic +-1 sign flip per embedding dimension,
    so copies land in different ANN cells/buckets instead of
    collapsing onto their originals.
region/nation stay fixed (constant-size dims at any SF, same as
TPC-H). Timestamps keep the sf0.1 range: more rows per day is exactly
what a higher SF means for the day-grain detectors.

Usage: python tools/make_sf_scale.py [out_dir] [copies]
  defaults: /root/repo/.testdata/sf1  10
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import export_checkout  # noqa: E402

export_checkout()

from pyspark.sql import functions as F  # noqa: E402

from selfhealingdatapipeline_gcp_spark import catalog  # noqa: E402
from selfhealingdatapipeline_gcp_spark.session import get_spark  # noqa: E402

SRC = "/root/testdata/sf0.1"
LOWER = "abcdefghijklmnopqrstuvwxyz"
UPPER = LOWER.upper()

# Strides comfortably above each table's sf0.1 max key; int64 headroom
# is ~9.2e18 so even 100 copies of 1e7 strides stay tiny.
STRIDE = {
    "custkey": 1_000_000, "suppkey": 1_000_000, "partkey": 1_000_000,
    "orderkey": 10_000_000, "event_id": 10_000_000, "user_id": 10_000_000,
    "doc_id": 1_000_000, "vec_id": 1_000_000,
}


def _perm(seed: str, alphabet: str) -> str:
    """Deterministic permutation of ``alphabet`` keyed by md5(seed) —
    a per-copy substitution cipher, no RNG state."""
    keyed = sorted(
        alphabet,
        key=lambda ch: hashlib.md5(f"{seed}|{ch}".encode()).hexdigest())
    return "".join(keyed)


def _signs(copy: int, dim: int = 64) -> list[int]:
    return [1 if int(hashlib.md5(f"sign|{copy}|{d}".encode())
                     .hexdigest()[:12], 16) % 2 else -1
            for d in range(dim)]


def _offset(col: str, kind: str, copy: int):
    # preserve the source dtype: every key in STRIDE is BIGINT already
    return (F.col(col) + F.lit(copy * STRIDE[kind]).cast("long")).alias(col)


def cipher_text_expr(c: int, col: str = "text"):
    """Stopword-preserving substitution cipher for copy ``c``.

    A blanket letter substitution turns function words into
    gibberish, so stopword-ratio quality filters reject ~96% of
    replica docs (measured at sf10: 3.8% keep vs 84.8% at sf0.1) and
    the downstream pipeline stages see a COLLAPSED workload instead
    of a 100× one. So the engine's STOPWORDS are restored after the
    cipher: translate is a letter bijection, so a standalone ciphered
    token has exactly one preimage — the restore is exact FOR THE
    RESTORED SURFACE FORMS (lowercase / Capitalized / ALL-CAPS; other
    mixed-case occurrences stay ciphered), never touches content
    words, and keeps the quality/keep profile SF-invariant while
    copies remain non-near-duplicates (content shingles still
    differ).

    The restore is TWO-PHASE: chaining regexp_replace(cipher(w) -> w)
    directly corrupts the text whenever cipher(w1) happens to EQUAL
    another stopword w2 already restored by an earlier pass (copy 49
    maps cipher('in')=='of', copy 84 maps cipher('of')=='is' under
    the md5 perms) — the later pattern would rewrite the earlier
    pass's output. Phase 1 moves each cipher image to a
    non-alphabetic marker (\\x02<i>_<j>\\x02 — invisible to every
    letter-only \\b pattern), phase 2 lands the originals, so no
    pattern ever sees another's output."""
    from selfhealingdatapipeline_gcp_spark.operators.textanalysis \
        import STOPWORDS

    sub = _perm(f"doc|{c}", LOWER)
    tr = str.maketrans(LOWER + UPPER, sub + sub.upper())
    t = F.translate(col, LOWER + UPPER, sub + sub.upper())
    # restored surface forms: lowercase, Capitalized, ALL-CAPS (the
    # engine's stopword check is case-sensitive lowercase, so only
    # the first form affects the keep profile — the other two keep
    # the restore claim honest for shouty corpora). MiXeD-case
    # occurrences beyond these three stay ciphered: still a letter
    # bijection, still exactly-one-preimage, just not restored.
    def _forms(w):
        return list(dict.fromkeys((w, w.capitalize(), w.upper())))
    for i, w in enumerate(STOPWORDS):
        for j, form in enumerate(_forms(w)):
            t = F.regexp_replace(
                t, r"\b" + form.translate(tr) + r"\b",
                f"\x02{i}_{j}\x02")
    for i, w in enumerate(STOPWORDS):
        for j, form in enumerate(_forms(w)):
            t = F.regexp_replace(t, f"\x02{i}_{j}\x02", form)
    return t


def scale_copy(spark, table: str, copy: int):
    df = catalog.load(spark, SRC, table)
    c = copy
    if table == "customer":
        return df.select(_offset("c_custkey", "custkey", c), "c_name",
                         "c_nationkey", "c_acctbal", "c_mktsegment")
    if table == "supplier":
        return df.select(_offset("s_suppkey", "suppkey", c), "s_name",
                         "s_nationkey", "s_acctbal")
    if table == "part":
        return df.select(_offset("p_partkey", "partkey", c), "p_name",
                         "p_brand", "p_type", "p_size", "p_retailprice")
    if table == "orders":
        return df.select(_offset("o_orderkey", "orderkey", c),
                         _offset("o_custkey", "custkey", c),
                         "o_orderstatus", "o_totalprice", "o_orderdate",
                         "o_orderpriority")
    if table == "lineitem":
        return df.select(_offset("l_orderkey", "orderkey", c),
                         _offset("l_partkey", "partkey", c),
                         _offset("l_suppkey", "suppkey", c),
                         "l_linenumber", "l_quantity", "l_extendedprice",
                         "l_discount", "l_tax", "l_returnflag",
                         "l_linestatus", "l_shipdate")
    if table == "events":
        return df.select(_offset("event_id", "event_id", c), "ts",
                         _offset("user_id", "user_id", c), "event_type",
                         "value", "props")
    if table == "documents":
        if c == 0:
            return df
        return df.select(
            _offset("doc_id", "doc_id", c),
            cipher_text_expr(c).alias("text"),
            "lang", "source", "n_chars")
    if table == "embeddings":
        if c == 0:
            return df
        signs = F.array(*[F.lit(float(s)) for s in _signs(c)])
        return df.select(
            _offset("vec_id", "vec_id", c),
            F.zip_with("embedding", signs, lambda x, s: x * s)
             .cast("array<float>").alias("embedding"),
            "label")
    raise KeyError(table)


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.testdata/sf1"
    copies = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    spark = get_spark("make-sf-scale")
    os.makedirs(out_dir, exist_ok=True)
    for table in catalog.TABLES:
        dest = f"{out_dir}/{table}.parquet"
        if table in ("region", "nation"):
            catalog.load(spark, SRC, table).write.mode("overwrite") \
                .parquet(dest)
        else:
            df = scale_copy(spark, table, 0)
            for c in range(1, copies):
                df = df.unionByName(scale_copy(spark, table, c))
            df.write.mode("overwrite").parquet(dest)
        n = spark.read.parquet(dest).count()
        print(f"{table}: {n} rows -> {dest}", flush=True)


if __name__ == "__main__":
    main()
