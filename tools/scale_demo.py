"""End-to-end 100×-shape demo (VERDICT r7 #8): the full training-data
curation job — quality filter → exact dedup → LSH near-dup drop →
split → pack → write-audit-publish sink — run through the
self-healing DAG runner against a large SF replica, with plan lint
enabled on every DataFrame stage and wall-time + shuffle totals
recorded. This is the artifact a real adopter asks for first: one
reproducible command showing the whole pipeline executes at 100×
the test scale and what it costs.

Usage:
  SPARK_GRAFT_UI=1 python tools/scale_demo.py \
      [--sf-dir .testdata/sf10] [--out /tmp/curated_sf10] [--json PATH]

Shuffle totals come from Spark's public REST monitoring API
(/api/v1/applications/<id>/stages, summed shuffle write bytes/records
across completed stages) — the same numbers the UI's Stages tab
shows; requires SPARK_GRAFT_UI=1 (set automatically when this module
is the entry point). Without the UI the demo still runs and records
wall-times with shuffle fields null.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import export_checkout  # noqa: E402

export_checkout()

if __name__ == "__main__" and "SPARK_GRAFT_UI" not in os.environ:
    os.environ["SPARK_GRAFT_UI"] = "1"

from selfhealingdatapipeline_gcp_spark import jobs  # noqa: E402
from selfhealingdatapipeline_gcp_spark.session import get_spark  # noqa: E402


def rest_shuffle_totals(spark) -> dict | None:
    """Sum shuffle write bytes/records over all stages via the REST
    monitoring API. None when the UI is disabled."""
    try:
        import urllib.request

        base = spark.sparkContext.uiWebUrl
        if not base:
            return None
        app_id = spark.sparkContext.applicationId
        with urllib.request.urlopen(
                f"{base}/api/v1/applications/{app_id}/stages?status=complete",
                timeout=10) as resp:
            stages = json.loads(resp.read())
        return {
            "n_stages": len(stages),
            "shuffle_write_bytes": sum(
                s.get("shuffleWriteBytes", 0) for s in stages),
            "shuffle_write_records": sum(
                s.get("shuffleWriteRecords", 0) for s in stages),
            "input_bytes": sum(s.get("inputBytes", 0) for s in stages),
        }
    except Exception:  # noqa: BLE001 — metrics are best-effort
        return None


def run_demo(spark, sf_dir: str, out_path: str) -> dict:
    t0 = time.perf_counter()
    result = jobs.run_curation_job(spark, sf_dir, out_path)
    wall_s = round(time.perf_counter() - t0, 1)
    failed = {k: v for k, v in result["statuses"].items()
              if v != "SUCCESS"}
    sink_bytes = 0
    for root, _, files in os.walk(out_path):
        sink_bytes += sum(os.path.getsize(os.path.join(root, f))
                          for f in files)
    demo = {
        "demo": "curation_job_scale",
        "sf_dir": sf_dir,
        "wall_s": wall_s,
        "statuses": result["statuses"],
        "ok": not failed,
        "n_docs_in": result["n_in"],
        "n_docs_out": result["n_out"],
        "dup_rate_e6": result["dup_rate_e6"],
        "sink_metrics": result["sink_metrics"],
        "sink_bytes": sink_bytes,
        "alerts": result["alerts"],
        "shuffle": rest_shuffle_totals(spark),
    }
    return demo


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--sf-dir", default=".testdata/sf10")
    p.add_argument("--out", default="/tmp/curated_scale_demo")
    p.add_argument("--json", default=None,
                   help="also write the result JSON here")
    args = p.parse_args(argv)
    spark = get_spark("shdp-scale-demo")
    spark.sparkContext.setLogLevel("ERROR")
    demo = run_demo(spark, args.sf_dir, args.out)
    line = json.dumps(demo, separators=(",", ":"))
    print(line)
    if args.json:
        with open(args.json, "w") as fh:
            fh.write(line + "\n")
    return 0 if demo["ok"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
