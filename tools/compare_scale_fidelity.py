"""Replica-vs-generated fidelity cross-check (VERDICT r8 #3).

Runs a set of scale-sensitive operators on TWO sf1-shaped datasets —
the ciphered-copy replica (tools/make_sf_scale.py) and the
independent-row generated dir (tools/make_sf_generate.py) — and
prints a markdown comparison table for BASELINE.md.

What "fidelity" means here: the two fabrication modes should agree
on the WORKLOAD SHAPE an operator sees (row counts within the same
order of magnitude, keep-profiles within a few points), while the
generated mode is immune by construction to the cipher-artifact
class of bug (destroyed stopwords, restore collisions) that the
replica produced twice. A large divergence on a row below is a
fabrication artifact in one of the modes — exactly the signal this
probe exists to surface.

Valid comparisons: operators driven by documents / customer /
embeddings (the three generated tables). Operators that join the
symlinked 1x fact tables are NOT comparable across the two dirs and
are not in the default set.

Usage: python tools/compare_scale_fidelity.py [REPLICA_DIR [GEN_DIR]]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import export_checkout  # noqa: E402

export_checkout()

from selfhealingdatapipeline_gcp_spark import registry  # noqa: E402
from selfhealingdatapipeline_gcp_spark.session import get_spark  # noqa: E402

# (query, scalar metric besides row count: (column, agg) or None)
PROBES = (
    ("dedup_exact", None),                  # duplicate groups
    ("dedup_minhash_lsh", None),            # verified near-dup pairs
    ("dedup_simhash", None),                # hamming-close pairs
    ("dedup_ngram_jaccard", None),          # jaccard pairs
    ("er_name_links", None),                # typo-linked name mass
    ("source_token_stats", "sum:total_tokens"),
    ("text_quality_score", "avg:quality_score"),
    ("quality_filter_pipeline", None),      # kept docs -> keep rate
)


def probe(spark, sf_dir: str) -> dict[str, dict]:
    out = {}
    qs = registry.queries()
    for name, metric in PROBES:
        try:
            df = qs[name](spark, sf_dir)
            row: dict = {"rows": df.count()}
            if metric:
                agg, col = metric.split(":")
                from pyspark.sql import functions as F
                fn = {"sum": F.sum, "avg": F.avg}[agg]
                row[metric] = float(
                    df.agg(fn(col)).first()[0] or 0.0)
        except Exception as e:  # noqa: BLE001 — a guard refusal IS
            # a fidelity result (the probe exists to surface exactly
            # this kind of workload-shape divergence), not a crash
            row = {"rows": f"REFUSED: {str(e)[:110]}"}
        out[name] = row
        print(f"  {sf_dir.rsplit('/', 1)[-1]} {name}: {row}",
              flush=True)
    return out


def main(argv) -> int:
    replica = argv[0] if argv else "/root/repo/.testdata/sf1"
    gen = argv[1] if len(argv) > 1 else "/root/repo/.testdata/sf1_gen"
    spark = get_spark("scale-fidelity")
    spark.sparkContext.setLogLevel("ERROR")
    r = probe(spark, replica)
    g = probe(spark, gen)
    print("\n| operator | replica sf1 | generated sf1 | gen/replica |")
    print("| --- | --- | --- | --- |")
    for name, _ in PROBES:
        for k in r[name]:
            rv, gv = r[name][k], g[name].get(k)
            label = name if k == "rows" else f"{name} ({k})"
            if isinstance(rv, (int, float)) and isinstance(
                    gv, (int, float)):
                ratio = f"{gv / rv:.2f}x" if rv else "inf"
                print(f"| {label} | {rv:,.6g} | {gv:,.6g} "
                      f"| {ratio} |")
            else:
                print(f"| {label} | {rv} | {gv} | — |")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
