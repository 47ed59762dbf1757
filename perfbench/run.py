"""Pipeline benchmark: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload etl_heal --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run starts one SparkSession on
``local[<cpus>]``, runs the workload's DAG once cold and then a fixed
number of warm iterations (about ``--seconds`` of work), checks every
output outside the timed region, and prints a metrics table followed by
one JSON line. ``--trace 0`` reports the end-to-end metrics; ``--trace
1`` records spans around every layer call and reports per-layer metrics
plus the tracing overhead. Spark's working directory, warehouse, scratch
and every output live under ``.perfbench_work/`` in the checkout and are
removed at exit; span dumps go to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "selfhealingdatapipeline_gcp_spark"
DATA_DIR = os.path.join(ROOT, "perfbench", "data", "sf0.1")

END_TO_END = (("setup_s", "s"), ("cold_job_s", "s"), ("job_s", "s"))

ALL_TASKS = ("transform", "sink", "monitoring", "detectors", "send_alerts",
             "daily_report", "filter", "dedup", "split_pack", "alerts")

PER_LAYER_UNITS = {
    "session.start_s": "s", "session.peak_rss_mb": "MB",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "driver.overhead_s": "s", "spark.busy_ratio": "ratio",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "spill.bytes": "bytes", "scan.input_bytes": "bytes",
    **{f"pipeline.task_s.{t}": "s" for t in ALL_TASKS},
    "pipeline.attempts": "count", "pipeline.retries": "count",
    "heal.wasted_s": "s", "recovery_s": "s", "heal_ratio": "ratio",
    "failed_ops_ratio": "ratio",
    "healer.analyze_s": "s", "healer.analyze_calls": "count",
    "healer.log_bytes": "bytes", "healer.apply_s": "s",
    "healer.correct_ratio": "ratio",
    "writers.write_s": "s", "writers.output_rows": "count",
    "writers.output_bytes": "bytes", "writers.files": "count",
    "quality.gate_s": "s",
    "detectors.build_s": "s", "detectors.n": "count",
    "alerts.collect_s": "s", "alerts.deliver_s": "s",
    "alerts.delivered": "count", "alerts.suppressed": "count",
    "history.read_s": "s", "history.write_s": "s",
    "dedup.verified_pairs": "count", "dedup.drop_ratio": "ratio",
    "tracing.overhead_s": "s",
}


def process_age_s() -> float:
    """Seconds since this process started (its start time in /proc)."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    started = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - started


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def parse_args(argv):
    from perfbench.workloads import WORKLOADS
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_environment(work: str, cpus: int) -> None:
    """Keep every file Spark and Python write inside ``work``."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: no hsperfdata files under /tmp, for the launcher
    # JVM spark-submit starts first and for the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options \"-Djava.io.tmpdir={tmp} -XX:-UsePerfData\" "
        "pyspark-shell")
    os.chdir(work)


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - JVM ignored EOF; make sure it ends
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def warm_count(seconds: float, nominal_s: float, trace: bool) -> int:
    """Warm iterations in a run: fixed per (seconds, workload), so every run
    times the same iteration indices. A traced run alternates traced and
    untraced iterations and needs at least one of each."""
    n = max(1, round(seconds / nominal_s))
    return max(2, n) if trace else n


def median(xs):
    return statistics.median(xs) if xs else None


def run(args) -> tuple[dict, list[str]]:
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    prepare_environment(work, cpus)
    import importlib
    pkg = importlib.import_module(PACKAGE)
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"{PACKAGE} imported from {pkg.__file__}, "
                         f"not from {ROOT}")
    from selfhealingdatapipeline_gcp_spark.session import get_spark

    from perfbench import tracing
    from perfbench.workloads import WORKLOADS, CheckFailed

    steal0 = cpu_ticks()
    spark = get_spark(f"perfbench-{args.workload}")
    setup_s = process_age_s()
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    wl, undo = None, []
    try:
        rec = tracing.Recorder(spark.sparkContext)
        undo = tracing.install(rec) if args.trace else []
        wl = WORKLOADS[args.workload](spark, DATA_DIR, work, args.seed)
        n_warm = warm_count(args.seconds, wl.nominal_s, bool(args.trace))
        outcomes, traced_idx, errors = [], [], []
        for i in range(1 + n_warm):
            traced = bool(args.trace) and (i == 0 or (i - 1) % 2 == 0)
            with rec.iteration(i, traced):
                o = wl.run(i)
            if traced:
                rec.collect_spark(i)
                traced_idx.append(i)
            try:
                wl.check(o)
            except CheckFailed as e:
                errors.append(str(e))
            wl.after(o)
            outcomes.append(o)
        peak_rss = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
        steal1 = cpu_ticks()
        steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        extra = {}
        if args.trace and "verified_pairs" in rec.captured:
            extra["verified_pairs"] = rec.captured["verified_pairs"].count()
        summary = wl.summary(outcomes)
        if args.trace:
            rec.write(os.path.join(
                ROOT, ".perfbench_out",
                f"spans-{args.workload}-seed{args.seed}.json"))
    finally:
        if wl is not None:
            wl.close()
        tracing.uninstall(undo)
        stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    result = report(args, outcomes, setup_s, peak_rss, summary, rec,
                    traced_idx, cpus, extra, steal)
    return result, errors


def report(args, outcomes, setup_s, peak_rss, summary, rec, traced_idx,
           cpus, extra, steal) -> dict:
    from perfbench import tracing

    cold, warm = outcomes[0], outcomes[1:]
    done_warm = [o for o in warm if o.completed]
    untraced_warm = [o.wall_s for i, o in enumerate(warm, 1)
                     if o.completed and i not in traced_idx]
    traced_warm = [o.wall_s for i, o in enumerate(warm, 1)
                   if o.completed and i in traced_idx]
    job_samples = untraced_warm if args.trace else [o.wall_s for o in done_warm]
    if not job_samples:         # every warm DAG failed: time them anyway
        job_samples = [o.wall_s for o in warm]
    # job_s is the fastest warm run: on a shared host a burst of CPU steal
    # slows whole iterations by 20-40 %, which moved the median of four
    # warm runs by a quarter across seeds while the minimum held within 8 %
    tasks_total = sum(len(o.statuses) for o in outcomes)
    tasks_failed = sum(o.failed_tasks for o in outcomes)
    e2e = {
        "setup_s": setup_s,
        "cold_job_s": cold.wall_s,
        "job_s": min(job_samples),
        "job_median_s": median(job_samples),
        "peak_rss_mb": peak_rss,
        "failed_ops_ratio": tasks_failed / tasks_total,
    }
    if "faults" in summary:
        e2e["recovery_s"] = median(summary["recovery_s"])
        e2e["heal_ratio"] = summary["healed"] / summary["faults"]

    lines = [f"workload {args.workload} seed {args.seed} trace {args.trace}: "
             f"{len(outcomes)} DAG runs (1 cold + {len(warm)} warm), closed "
             f"loop, 1 client, local[{cpus}]",
             f"  host CPU steal during the run {steal:.1%} (other tenants; "
             "high steal makes every timing noisy)",
             f"  cold DAG {'completed' if cold.completed else 'FAILED'}; "
             f"warm job_s samples {[round(x, 3) for x in job_samples]}"]
    for name, unit in (*END_TO_END, ("job_median_s", "s"),
                       ("peak_rss_mb", "MB"), ("recovery_s", "s"),
                       ("heal_ratio", ""), ("failed_ops_ratio", "")):
        v = e2e.get(name)
        shown = "n/a (no fault injected)" if v is None else f"{v:.4f} {unit}"
        lines.append(f"  {name:<18} {shown}")
    if "faults" in summary:
        lines.append(f"  faults {summary['faults']} classes "
                     f"{summary['classes']} log bytes {summary['log_bytes']} "
                     f"healed {summary['healed']} classified right "
                     f"{summary['classified_right']}")

    if not args.trace:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    else:
        per_iter = [tracing.iteration_metrics(rec.iteration_spans(i), cpus,
                                              ALL_TASKS)
                    for i in traced_idx if i > 0]
        layer = {k: median([m[k] for m in per_iter]) for k in per_iter[0]}
        layer["session.start_s"] = setup_s
        layer["session.peak_rss_mb"] = peak_rss
        faults_n = summary.get("faults", 0)
        layer["recovery_s"] = e2e.get("recovery_s") or 0.0
        layer["heal_ratio"] = e2e.get("heal_ratio", 0.0)
        layer["failed_ops_ratio"] = e2e["failed_ops_ratio"]
        layer["healer.correct_ratio"] = (
            summary["classified_right"] / faults_n if faults_n else 0.0)
        delivered = [o.extra.get("delivered") for o in outcomes]
        layer["alerts.suppressed"] = (
            median([delivered[0] - d for d in delivered[1:]])
            if delivered[0] is not None else 0)
        layer["dedup.verified_pairs"] = extra.get("verified_pairs", 0)
        if "n_in" in cold.extra:
            layer["dedup.drop_ratio"] = (
                (cold.extra["n_in"] - cold.extra["n_out"]) / cold.extra["n_in"])
        else:
            layer["dedup.drop_ratio"] = 0.0
        layer["tracing.overhead_s"] = (
            min(traced_warm) - min(untraced_warm)
            if traced_warm and untraced_warm else 0.0)
        metrics = {n: {"value": layer[n], "unit": u}
                   for n, u in PER_LAYER_UNITS.items()}
        lines.append("  per-layer (median over traced warm iterations):")
        lines += [f"    {n:<28} {m['value']:.6g} {m['unit']}"
                  for n, m in metrics.items()]
    print("\n".join(lines))
    return {"attempted": len(outcomes),
            "failed": sum(not o.completed for o in outcomes),
            "metrics": metrics}


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    for required in (os.path.join(ROOT, PACKAGE, "jobs.py"), DATA_DIR):
        if not os.path.exists(required):
            print(f"perfbench: {required} is missing; run from a full "
                  "checkout of the repository", file=sys.stderr)
            return 2
    args = parse_args(argv)
    result, errors = run(args)
    for e in errors:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    result = {"correct": not errors, **result}
    print(json.dumps(result))
    return 0 if not errors else 1


if __name__ == "__main__":
    sys.exit(main())
