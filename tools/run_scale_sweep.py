"""OOM-resilient orchestrator for full-registry scale sweeps.

A monolithic driver_check run at sf10 can be SIGKILLed by the OOM
reaper mid-query (r7 lost two runs at 71/90 GB; r9's first attempt
died the same way even with the DuckDB cap — untracked allocations
in list-heavy oracles). This wrapper makes the sweep converge
anyway:

- runs driver_check with ``--resume-log`` so every completed query
  is skipped on restart;
- on an abnormal exit (SIGKILL/OOM), identifies the in-flight query
  (first registry name missing from the log), appends a synthetic
  ``BAD <name>: ... err=killed`` line so the retry skips it instead
  of dying on it forever, and keeps going;
- merges every attempt's partial ``--json-out`` into ONE artifact at
  the end, wrapped with the same sweep metadata driver_check emits.

Killed queries stay visibly BAD in the artifact — the orchestrator
never converts a crash into a green row; rerun them individually
(e.g. with a lower SPARK_GRAFT_DUCK_MEM or a slice spec) and merge.

Usage:
  python tools/run_scale_sweep.py OUT.json [LOG]
Environment: same knobs as driver_check (SPARK_GRAFT_TEST_SF,
SPARK_GRAFT_MAX_HASH_ROWS, SPARK_GRAFT_ORACLE_SKIP,
SPARK_GRAFT_DUCK_MEM, SPARK_GRAFT_CPUS).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import export_checkout  # noqa: E402

export_checkout()

MAX_ATTEMPTS = 60


def _logged(log: str) -> set[str]:
    done = set()
    if os.path.exists(log):
        with open(log) as f:
            for line in f:
                if line.startswith(("OK ", "BAD ")):
                    done.add(line.split()[1].rstrip(":"))
    return done


def is_green(r: dict) -> bool:
    """Merged-artifact green classification — mirrors driver_check's
    OK line exactly. Rows-only is green ONLY when no slice check was
    attached (no spec exists); an attached slice must have PASSED —
    hash_match=None from an errored slice check is bad, not green
    (ADVICE r9)."""
    return bool(
        r.get("hash_match")
        or (r.get("err") == "no_oracle"
            and r.get("spark_rows") is not None)
        or (str(r.get("err") or "").startswith("rows_only_gt_")
            and r.get("rows_match") and r.get("schema_match")
            and (r.get("slice") is None
                 or r["slice"].get("hash_match") is True))
        or (str(r.get("err") or "").startswith("oracle_skip_at_scale")
            and (r.get("slice") or {}).get("hash_match") is True))


def main(argv) -> int:
    if not argv:
        print("usage: run_scale_sweep.py OUT.json [LOG]")
        return 2
    out_path = argv[0]
    log = argv[1] if len(argv) > 1 else out_path + ".log"

    from selfhealingdatapipeline_gcp_spark import registry
    names = list(registry.queries())

    # merged state survives orchestrator restarts too (accum file)
    accum = out_path + ".accum"
    merged: dict[str, dict] = {}
    if os.path.exists(accum):
        with open(accum) as f:
            merged = json.load(f)
    attempt = 0
    while attempt < MAX_ATTEMPTS:
        attempt += 1
        part = f"{out_path}.part{attempt}"
        with open(log, "a") as lf:
            rc = subprocess.run(
                [sys.executable, "tools/driver_check.py",
                 "--resume-log", log, "--json-out", part],
                stdout=lf, stderr=subprocess.DEVNULL,
                cwd=os.path.dirname(os.path.dirname(
                    os.path.abspath(__file__)))).returncode
        if os.path.exists(part):
            # driver_check writes the part file atomically now, but a
            # pre-fix binary or an exotic kill can still leave garbage;
            # a truncated part must NOT crash the orchestrator whose
            # job is surviving kills — the log-reconstruction pass
            # below recovers those rows anyway.
            try:
                with open(part) as f:
                    merged.update(json.load(f).get("results", {}))
            except (json.JSONDecodeError, OSError) as e:
                print(f"attempt {attempt}: part file unreadable "
                      f"({e}); relying on log reconstruction",
                      flush=True)
            os.remove(part)
            with open(accum, "w") as f:
                json.dump(merged, f)
        if rc in (0, 1):
            break  # completed (1 = finished with bad rows, not a crash)
        done = _logged(log)
        culprit = next((n for n in names if n not in done), None)
        print(f"attempt {attempt}: rc={rc} (killed); "
              f"culprit={culprit}", flush=True)
        if culprit is None:
            break
        with open(log, "a") as lf:
            lf.write(f"BAD  {culprit}: rows=None/None schema=None "
                     f"hash=None err=killed_rc{rc}\n")
        merged[culprit] = {
            "rows_match": None, "schema_match": None,
            "hash_match": None, "spark_rows": None,
            "oracle_rows": None, "err": f"killed_rc{rc}"}

    # Rows completed by a run whose JSON was lost (e.g. the
    # orchestrator itself restarted) but that the resume log skips:
    # reconstruct their status from the log's own printed line,
    # flagged so the artifact is explicit about the provenance.
    line_re = __import__("re").compile(
        r"^(OK|BAD)\s+(\S+): rows=(\S+)/(\S+) schema=(\S+) "
        r"hash=(\S+) err=(.*?)"
        r"(?: slice\[(\S+)\]=(\S+)/(\S+) hash=(\S+) err=(.*))?$")

    def _pv(tok: str):
        if tok in ("None", ""):
            return None
        if tok in ("True", "False"):
            return tok == "True"
        try:
            return int(tok)
        except ValueError:
            return tok

    if os.path.exists(log):
        with open(log) as f:
            for line in f:
                m = line_re.match(line.strip())
                if not m or m.group(2) in merged:
                    continue
                name = m.group(2)
                a, b = _pv(m.group(3)), _pv(m.group(4))
                row = {
                    "rows_match": (a == b) if (a is not None
                                               and b is not None)
                    else None,
                    "schema_match": _pv(m.group(5)),
                    "hash_match": _pv(m.group(6)),
                    "spark_rows": _pv(m.group(3)),
                    "oracle_rows": _pv(m.group(4)),
                    "err": _pv(m.group(7)),
                    "reconstructed_from_log": True,
                }
                if m.group(8):
                    row["slice"] = {
                        "prefixes": m.group(8),
                        "spark_rows": _pv(m.group(9)),
                        "oracle_rows": _pv(m.group(10)),
                        "rows_match": _pv(m.group(9)) == _pv(
                            m.group(10)),
                        "hash_match": _pv(m.group(11)),
                        "err": _pv(m.group(12)),
                    }
                merged[name] = row

    bad = sorted(n for n, r in merged.items() if not is_green(r))
    wrapped = {
        "sf_dir": os.environ.get("SPARK_GRAFT_TEST_SF",
                                 "/root/testdata/sf0.01"),
        "mode": "scale_sweep_orchestrated",
        "max_hash_rows": int(os.environ.get(
            "SPARK_GRAFT_MAX_HASH_ROWS", "0") or 0),
        "oracle_skip": sorted(
            n for n in os.environ.get(
                "SPARK_GRAFT_ORACLE_SKIP", "").split(",") if n),
        "attempts": attempt,
        "n_queries": len(merged),
        "n_green": len(merged) - len(bad),
        "bad": bad,
        "results": merged,
    }
    with open(out_path, "w") as f:
        json.dump(wrapped, f, indent=1)
    print(f"{len(merged) - len(bad)}/{len(merged)} green after "
          f"{attempt} attempts; bad: {bad}", flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
