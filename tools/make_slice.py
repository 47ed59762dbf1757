"""Deterministic md5-sampled slice of an SF replica — the
sampled-slice oracle mode (VERDICT r7 #5).

Three registered graph operators (pagerank_knn,
knn_clustering_coefficient, embedding_clusters) have DuckDB oracles
that are INFEASIBLE at sf10 on this host: the unrolled PageRank
rounds / wedge join / recursive closure over the ~9e8-row cell-pair
CTE spill past the free disk. Rows-only checks are weaker than the
gate deserves, so this tool builds a value-level alternative: a
slice directory where ONE table (default: embeddings) is filtered to
the rows whose ``md5(id)`` first hex digit falls in a chosen set —
deterministic, content-addressed, no RNG — and every other table is
symlinked from the source replica. Running tools/driver_check.py
with ``SPARK_GRAFT_TEST_SF=<slice>`` then verifies the Spark
operator against its DuckDB oracle EXACTLY (full dtype-strict value
hash) on sf10-derived data at a graph size the oracle can handle.

The check is end-to-end honest: both engines see the same sliced
input, so cluster labels / pagerank mass / clustering coefficients
are compared value-for-value — unlike filtering the OUTPUT of a
full-corpus run, which would silently change the semantics of
graph-global quantities.

Usage:
  python tools/make_slice.py SRC DST [--table embeddings]
      [--id-col vec_id] [--hex 012]

``--hex 012`` keeps ids whose md5 starts with '0', '1' or '2'
(3/16 = 18.75%; sf10's 200k vectors -> ~37.5k, between the sf1 and
sf10 grid sizes).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import export_checkout  # noqa: E402

export_checkout()

from selfhealingdatapipeline_gcp_spark import catalog  # noqa: E402


def make_slice(src: str, dst: str, table: str = "embeddings",
               id_col: str = "vec_id", hex_digits: str = "012") -> dict:
    import duckdb

    os.makedirs(dst, exist_ok=True)
    duck = duckdb.connect()
    stats = {}
    for t in catalog.TABLES:
        src_path = os.path.join(src, f"{t}.parquet")
        dst_path = os.path.join(dst, f"{t}.parquet")
        if not os.path.exists(src_path):
            continue
        if os.path.islink(dst_path) or os.path.isfile(dst_path):
            os.remove(dst_path)
        elif os.path.isdir(dst_path):
            import shutil
            shutil.rmtree(dst_path)
        if t != table:
            os.symlink(os.path.abspath(src_path), dst_path)
            continue
        glob = (f"{src_path}/*.parquet" if os.path.isdir(src_path)
                else src_path)
        # hex_digits: either a string of single hex chars ("012" =
        # 3/16) or a comma-separated list of equal-length md5
        # PREFIXES ("00,01" = 2/256) for finer slice fractions
        prefixes = (hex_digits.split(",") if "," in hex_digits
                    else list(hex_digits))
        plen = len(prefixes[0])
        if any(len(p) != plen for p in prefixes):
            raise ValueError(
                f"mixed-length md5 prefixes: {prefixes}")
        keep = ", ".join(f"'{p}'" for p in prefixes)
        pred = (f"substr(md5(CAST({id_col} AS VARCHAR)), 1, {plen}) "
                f"IN ({keep})")
        n = duck.execute(
            f"SELECT count(*) FROM '{glob}' WHERE {pred}").fetchone()[0]
        duck.execute(
            f"COPY (SELECT * FROM '{glob}' WHERE {pred} "
            f"ORDER BY {id_col}) "
            f"TO '{dst_path}' (FORMAT PARQUET)")
        total = duck.execute(
            f"SELECT count(*) FROM '{glob}'").fetchone()[0]
        stats[t] = {"kept": n, "total": total}
    return stats


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("src")
    p.add_argument("dst")
    p.add_argument("--table", default="embeddings")
    p.add_argument("--id-col", default="vec_id")
    p.add_argument("--hex", default="012", dest="hex_digits")
    args = p.parse_args(argv)
    stats = make_slice(args.src, args.dst, args.table, args.id_col,
                       args.hex_digits)
    print(stats)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
