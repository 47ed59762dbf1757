"""Independent-row scale generator (VERDICT r8 #3).

The replica fabricator (tools/make_sf_scale.py: key-offset copies +
letter cipher + sign flips) has produced two fidelity bugs caught
late — both cipher artifacts. This tool is the alternative mode the
judge asked for: grow the three content tables with genuinely NEW
rows (seeded md5 synthesis, no RNG state, no ciphering):

- ``documents``: each new doc is a position-wise CROSSOVER of a
  template doc and a seeded donor doc — token i comes from the
  template or the donor by a per-position md5 bit. Token length is
  the template's exactly, every token is a real corpus token (the
  unigram mixture stays inside the corpus distribution, so quality /
  stopword keep-profiles hold), but the shingle sets and simhash
  bags are new — dedup operators see fresh content, not copies.
- ``customer``: new entities — serial names continue the
  ``Customer#%09d`` numbering into fresh key ranges (the name-mass
  profile at sf0.1 is all-distinct serials; generated rows keep that
  profile instead of duplicating name mass 10x the way the replica
  does).
- ``embeddings``: new in-manifold points — a seeded convex mix of
  the template vector and a seeded donor vector per dimension
  (never a sign-flipped copy); label follows the template.

Every other table is symlinked from SRC: the generated directory is
a TARGETED fidelity probe for the document/name/vector-driven
operator families (dedup, ER, text stats, ANN), not a full-ratio
TPC-H replica — compare_scale_fidelity documents which operators it
is valid for.

Usage:
  python tools/make_sf_generate.py OUT_DIR [COPIES]   # default 10
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import export_checkout  # noqa: E402

export_checkout()

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from selfhealingdatapipeline_gcp_spark import catalog  # noqa: E402
from selfhealingdatapipeline_gcp_spark.session import get_spark  # noqa: E402

SRC = "/root/testdata/sf0.1"
GENERATED_TABLES = ("documents", "customer", "embeddings")
STRIDE = {"documents": 1_000_000, "customer": 1_000_000,
          "embeddings": 1_000_000}


def _md5pos(*cols) -> F.Column:
    """Seeded 48-bit integer from md5 of the joined args — the same
    no-RNG idiom as sources/synthetic.py and make_sf_scale.py."""
    return F.conv(F.substring(F.md5(F.concat_ws("|", *cols)), 1, 12),
                  16, 10).cast("bigint")


def gen_documents(spark, copy: int) -> DataFrame:
    """Crossover synthesis: template doc_id d, donor doc_id
    md5(d, copy) % n_docs; token i of the new doc is template[i] or
    donor[i mod len(donor)] by the parity of md5(copy, d, i)."""
    docs = catalog.load(spark, SRC, "documents")
    n_docs = docs.count()
    donors = docs.select(F.col("doc_id").alias("donor_id"),
                         F.split("text", " ").alias("donor_toks"))
    seed = F.lit(f"gen|{copy}")
    # donor != template (skip-self modulus): a self-donor would emit
    # the template text verbatim — a fabricated exact duplicate
    raw = _md5pos(seed, F.col("doc_id")) % F.lit(n_docs - 1)
    base = docs.withColumn(
        "donor_id",
        F.when(raw >= F.col("doc_id"), raw + 1).otherwise(raw))
    mixed = (
        base.join(donors, "donor_id")
        .withColumn("toks", F.split("text", " "))
        .withColumn("new_toks", F.expr(
            f"transform(toks, (t, i) -> IF("
            f"conv(substring(md5(concat_ws('|', 'gen', '{copy}', "
            f"doc_id, i)), 1, 12), 16, 10) % 2 = 0, t, "
            f"element_at(donor_toks, CAST(1 + (i % size(donor_toks)) "
            f"AS INT))))"))
        .withColumn("new_text", F.concat_ws(" ", "new_toks"))
    )
    return mixed.select(
        (F.col("doc_id") + F.lit(copy * STRIDE["documents"])
         .cast("long")).alias("doc_id"),
        F.col("new_text").alias("text"),
        "lang", "source",
        F.length("new_text").cast("bigint").alias("n_chars"))


def gen_customer(spark, copy: int) -> DataFrame:
    """New serial entities in a fresh key range — same name FORMAT,
    never a copied name (the all-distinct profile holds at any N)."""
    cust = catalog.load(spark, SRC, "customer")
    newkey = (F.col("c_custkey")
              + F.lit(copy * STRIDE["customer"]).cast("long"))
    return cust.select(
        newkey.alias("c_custkey"),
        F.format_string("Customer#%09d", newkey).alias("c_name"),
        "c_nationkey", "c_acctbal", "c_mktsegment")


def gen_embeddings(spark, copy: int) -> DataFrame:
    """Seeded convex mix of template and donor vectors: new points
    inside the data manifold, different ANN cells, no mirror-image
    artifacts."""
    emb = catalog.load(spark, SRC, "embeddings")
    n = emb.count()
    donors = emb.select(F.col("vec_id").alias("donor_id"),
                        F.col("embedding").alias("donor_v"))
    seed = F.lit(f"gen|{copy}")
    # donor != template (same skip-self modulus as gen_documents): a
    # self-donor mixes a vector with itself — an exact duplicate
    # point under a new vec_id, the fabricated-duplicate artifact
    # class this generator exists to avoid
    raw = _md5pos(seed, F.col("vec_id")) % F.lit(n - 1)
    base = emb.withColumn(
        "donor_id",
        F.when(raw >= F.col("vec_id"), raw + 1).otherwise(raw))
    w = (_md5pos(seed, F.col("vec_id"), F.lit("w")) % 201 + 28)  # 28..228
    mixed = (
        base.join(donors, "donor_id")
        .withColumn("w", w)
        .withColumn("new_v", F.expr(
            "zip_with(embedding, donor_v, (a, b) -> "
            "CAST((a * w + b * (256 - w)) / 256.0 AS FLOAT))"))
    )
    return mixed.select(
        (F.col("vec_id") + F.lit(copy * STRIDE["embeddings"])
         .cast("long")).alias("vec_id"),
        F.col("new_v").alias("embedding"), "label")


def main(argv) -> int:
    out = argv[0] if argv else "/root/repo/.testdata/sf1_gen"
    copies = int(argv[1]) if len(argv) > 1 else 10
    os.makedirs(out, exist_ok=True)
    spark = get_spark("make-sf-generate")
    spark.sparkContext.setLogLevel("ERROR")
    gens = {"documents": gen_documents, "customer": gen_customer,
            "embeddings": gen_embeddings}
    for t in catalog.TABLES:
        src_path = os.path.join(SRC, f"{t}.parquet")
        dst_path = os.path.join(out, f"{t}.parquet")
        if not os.path.exists(src_path):
            continue
        if t not in gens:
            if os.path.islink(dst_path):
                os.remove(dst_path)
            if not os.path.exists(dst_path):
                os.symlink(src_path, dst_path)
            continue
        parts = [catalog.load(spark, SRC, t)]
        parts += [gens[t](spark, c) for c in range(1, copies)]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        df.write.mode("overwrite").parquet(dst_path)
        print(f"{t}: {copies}x generated -> {dst_path}", flush=True)
    print(f"generated scale dir at {out} ({copies}x content tables, "
          f"hash-seeded, zero ciphered rows)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
