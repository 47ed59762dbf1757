"""sf10 gate for the two auto-fallback queries (VERDICT r7 #2).

`er_name_pairs` and `dedup_embedding` used to REFUSE above their
guards at sf10; since r8 they auto-route to their registered scale
forms. This check proves the "Done =" condition: both EXECUTE at
sf10, and the routed output is verified value-level where an oracle
is feasible:

- er_name_pairs: at sf10 the block budget trips, so the operator
  runs at keeper grain. That output has an exact DuckDB oracle — the
  distinct-name pair relation (er_name_links' cand CTE shape) with
  the levenshtein verify — so the gate is a full dtype-strict hash
  compare, not rows-only.
- dedup_embedding (allow_all_pairs=True escape): at 200k vectors the
  escape routes to the cell-bounded form, so the gate asserts the
  routed output is EXACTLY dedup_embedding_cells' output (Spark-to-
  Spark full hash on collected rows — both plans run, 37k-cell grain)
  AND that it executes without the old ValueError.

Usage: python tools/check_fallback_sf10.py [sf_dir]
Prints one JSON line per gate and exits non-zero on any failure.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import export_checkout  # noqa: E402

export_checkout()

import duckdb  # noqa: E402

from selfhealingdatapipeline_gcp_spark import catalog  # noqa: E402
from selfhealingdatapipeline_gcp_spark.operators import dedup, er  # noqa: E402
from selfhealingdatapipeline_gcp_spark.session import get_spark  # noqa: E402
from tools.driver_check import _hash_rows  # noqa: E402

# keeper-grain keys over DISTINCT lower(c_name), id := min custkey —
# the relation the operator's fallback path blocks on
_KEYS = """
  SELECT id, name, CAST(u.p AS INT) AS p,
         substr(name, 1, length(name) - u.p) || chr(1) ||
         substr(name, length(name) - u.p + 2, u.p - 1) AS k
  FROM (SELECT min(c_custkey) AS id, lower(c_name) AS name
        FROM customer GROUP BY lower(c_name)) r,
       (SELECT unnest(generate_series(1, 4)) AS p) u
  WHERE length(name) > u.p
"""

_ORACLE = f"""
WITH cand AS (
  SELECT DISTINCT a.id AS id_a, a.name AS name_a,
                  b.id AS id_b, b.name AS name_b
  FROM ({_KEYS}) a JOIN ({_KEYS}) b
    ON a.p = b.p AND a.k = b.k AND b.id > a.id
)
SELECT id_a, id_b, name_a, name_b,
       CAST(levenshtein(name_a, name_b) AS INT) AS edit_distance
FROM cand WHERE levenshtein(name_a, name_b) <= 1
ORDER BY id_a, id_b
"""


def main(argv):
    sf = argv[0] if argv else "/root/repo/.testdata/sf10"
    spark = get_spark("fallback-sf10")
    spark.sparkContext.setLogLevel("ERROR")
    fails = []

    # --- er_name_pairs: keeper-grain fallback vs exact DuckDB oracle
    cust = catalog.load(spark, sf, "customer")
    # the oracle below is KEEPER-grain SQL, so first assert the
    # operator's auto-route actually engages on this data (same
    # budget aggregate er_name_pairs runs). If a regenerated replica
    # stays under max_block the operator returns id-grain output and
    # a hash mismatch here would be indistinguishable from a real
    # parity break — report that as its own distinct gate outcome.
    from pyspark.sql import functions as F
    budget = (er._masked_keys(
        cust.select(F.col("c_custkey").alias("id"),
                    F.lower(F.col("c_name")).alias("name")), 4)
        .groupBy("p", "k").agg(F.count(F.lit(1)).alias("sz"))
        .agg(F.max("sz")).first()[0]) or 0
    if budget <= 256:
        print(json.dumps({"gate": "er_name_pairs_sf10_keeper_grain",
                          "outcome": "fallback not triggered",
                          "max_block_size": budget,
                          "hash_exact": None}))
        fails.append("er_name_pairs(fallback not triggered: largest "
                     f"block {budget} <= 256 — keeper-grain oracle "
                     "does not apply to this data)")
        sdf = None
    else:
        sdf = er.er_name_pairs(cust)
    duck = duckdb.connect()
    duck.execute("SET memory_limit='48GiB'")
    duck.execute("SET temp_directory='/tmp/duckdb_spill'")
    p = f"{sf}/customer.parquet"
    if os.path.isdir(p):
        p = f"{p}/*.parquet"
    duck.execute(f"CREATE VIEW customer AS SELECT * FROM '{p}'")
    if sdf is not None:
        srows = [tuple(r) for r in sdf.collect()]
        res = duck.execute(_ORACLE)
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        ok = (sorted(sdf.columns) == sorted(dcols)
              and len(srows) == len(drows)
              and _hash_rows(list(sdf.columns), srows)
              == _hash_rows(dcols, drows))
        print(json.dumps({"gate": "er_name_pairs_sf10_keeper_grain",
                          "spark_rows": len(srows),
                          "oracle_rows": len(drows),
                          "max_block_size": budget,
                          "hash_exact": ok}))
        if not ok:
            fails.append("er_name_pairs")

    # --- dedup_embedding escape: routes to the cell-bounded form
    emb = catalog.load(spark, sf, "embeddings")
    routed = dedup.dedup_embedding(emb, allow_all_pairs=True)
    cells = dedup.dedup_embedding(emb)
    rrows = [tuple(r) for r in routed.collect()]
    crows = [tuple(r) for r in cells.collect()]
    ok = (routed.columns == cells.columns
          and len(rrows) == len(crows)
          and _hash_rows(list(routed.columns), rrows)
          == _hash_rows(list(cells.columns), crows))
    print(json.dumps({"gate": "dedup_embedding_sf10_autoroute",
                      "routed_rows": len(rrows),
                      "cells_rows": len(crows),
                      "hash_equal_to_cells": ok}))
    if not ok:
        fails.append("dedup_embedding")
    print(json.dumps({"fails": fails}))
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
