"""Self-healing: error analysis → fix application → undo.

Reference parity:
- utils/vertex_ai_handler.py:5-87 ``analyze_error`` sends the Spark
  driver log to Gemini and falls back to a regex check for the
  double-dot table-name bug. Here the classifier is a deterministic
  rule engine over the real Spark/PySpark exception taxonomy; an LLM
  hook can be plugged in via ``set_llm_analyzer`` (stubbed — no AI
  SDK in this environment, and determinism is a feature in tests).
- utils/auto_healer.py:4-120 ``apply_fix`` rewrites the failing job
  script (gs:// or local) for CODE fixes. Here fixes are first-class
  objects: source-text patchers (the double-dot rewrite) AND Spark
  conf/plan-level remediations (repartition bump, broadcast-threshold
  drop, schema relax, plain retry) that a retrying pipeline can apply
  between attempts. Each ``apply_fix`` record keeps what the fix
  replaced, so ``undo_fixes`` can put the session back when the task
  it healed ends: a fix never outlives its task, the way the
  reference's fix dies with the per-run Dataproc cluster.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from selfhealingdatapipeline_gcp_spark.functions import money


@dataclass
class Fix:
    fix_type: str                      # CODE | CONFIG | RETRY | MANUAL
    root_cause: str
    suggested_fix: str
    # runtime (modifiable) conf changes a pipeline applies to the
    # SparkSession before retry
    conf_changes: dict[str, str] = field(default_factory=dict)
    # regex → replacement applied to the job's source text (CODE fixes)
    code_sub: tuple[str, str] | None = None
    # name of a registered engine-level patch (_ENGINE_PATCHES) the
    # pipeline applies before retry — remediations that live in the
    # engine's own knobs rather than Spark conf (e.g. widening the
    # integer accumulators to DECIMAL)
    engine_patch: str | None = None
    retryable: bool = True


# Engine-level patch registry: process-global switches apply_fix can
# flip between retry attempts, each as (getter, setter, patched value);
# undo_fixes hands the getter's earlier value back to the setter.
_ENGINE_PATCHES: dict[str, tuple[Callable[[], object],
                                 Callable[[object], None], object]] = {
    "money_decimal_mode": (money.decimal_mode, money.set_decimal_mode, True),
}


# Rule table: (name, pattern on the error text, fix builder).
# Patterns target real Spark exception signatures. ``.`` does not
# cross a newline, so every pattern matches within one log line: two
# words from unrelated lines never combine into a match, and a search
# never rescans to the end of the log from each candidate start, so
# classification stays linear in the log size.
_RULES: list[tuple[str, re.Pattern[str], Callable[[re.Match[str]], Fix]]] = []


def _rule(name: str, pattern: str):
    def deco(fn: Callable[[re.Match[str]], Fix]):
        _RULES.append((name, re.compile(pattern, re.IGNORECASE), fn))
        return fn
    return deco


@_rule("double_dot_table", r"\b\w+\.\.\w+|Syntax error.*\.\.")
def _fix_double_dot(m: re.Match[str]) -> Fix:
    # the reference's marquee bug: "dataset..table" (auto_healer.py:97-102)
    return Fix(
        fix_type="CODE",
        root_cause="double dot in table reference",
        suggested_fix="collapse '..' to '.' in table identifiers",
        code_sub=(r"\.\.+", "."),
    )


@_rule("missing_column", r"UNRESOLVED_COLUMN|cannot be resolved|AnalysisException.*column")
def _fix_missing_column(m: re.Match[str]) -> Fix:
    return Fix(
        fix_type="MANUAL",
        root_cause="query references a column absent from the schema",
        suggested_fix="check upstream schema / rename or drop the column reference",
        retryable=False,
    )


@_rule("missing_table", r"TABLE_OR_VIEW_NOT_FOUND|PATH_NOT_FOUND|Path does not exist|NoSuchTableException")
def _fix_missing_table(m: re.Match[str]) -> Fix:
    return Fix(
        fix_type="CONFIG",
        root_cause="input table/path missing",
        suggested_fix="verify the source landed; check ingest job and path config",
        retryable=False,
    )


@_rule("oom", r"OutOfMemoryError|MEMORY_LIMIT|Container killed.*memory|exceeds memory limit")
def _fix_oom(m: re.Match[str]) -> Fix:
    return Fix(
        fix_type="CONFIG",
        root_cause="executor/driver memory exhausted",
        suggested_fix="increase shuffle parallelism and lower in-memory batch sizes",
        conf_changes={
            "spark.sql.shuffle.partitions": "increase:2x",
            "spark.sql.files.maxPartitionBytes": str(64 * 1024 * 1024),
        },
    )


@_rule("broadcast_oom", r"Cannot broadcast|Could not execute broadcast|"
       r"broadcast.*(?:8GB|too large)|BroadcastJoin.*(?:memory|timeout)")
def _fix_broadcast(m: re.Match[str]) -> Fix:
    return Fix(
        fix_type="CONFIG",
        root_cause="broadcast side exceeded the broadcast limit",
        suggested_fix="disable auto-broadcast so the join shuffles",
        conf_changes={"spark.sql.autoBroadcastJoinThreshold": "-1"},
    )


@_rule("shuffle_fetch", r"FetchFailed|MetadataFetchFailed|ExecutorLostFailure|"
       r"Missing an output location for shuffle|shuffle.*(?:fetch|lost)")
def _fix_shuffle(m: re.Match[str]) -> Fix:
    return Fix(
        fix_type="RETRY",
        root_cause="shuffle fetch failure / lost executor (transient)",
        suggested_fix="retry; infrastructure-level transient failure",
    )


@_rule("schema_mismatch", r"Failed merging schema|CANNOT_MERGE_SCHEMAS|Parquet column cannot be converted")
def _fix_schema(m: re.Match[str]) -> Fix:
    return Fix(
        fix_type="CONFIG",
        root_cause="incompatible schemas across input files",
        suggested_fix="read with an explicit schema / enable permissive merge",
        conf_changes={"spark.sql.parquet.mergeSchema": "false"},
    )


@_rule("disk_full", r"No space left on device|DiskBlockManager.*(?:error|failed)")
def _fix_disk(m: re.Match[str]) -> Fix:
    return Fix(
        fix_type="CONFIG",
        root_cause="scratch disk exhausted (shuffle/spill space)",
        suggested_fix="reduce spill volume: lower input partition size, "
                      "raise shuffle parallelism, or add scratch disks",
        conf_changes={
            "spark.sql.shuffle.partitions": "increase:2x",
            "spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024),
        },
    )


@_rule("kryo_buffer", r"KryoException.*Buffer overflow|spark\.kryoserializer\.buffer")
def _fix_kryo(m: re.Match[str]) -> Fix:
    # the buffer size is a core conf: a live session cannot change it
    # (CANNOT_MODIFY_CONFIG), so the fix is a resubmit with a new conf
    return Fix(
        fix_type="MANUAL",
        root_cause="serializer buffer too small for a large record",
        suggested_fix="resubmit the job with "
                      "--conf spark.kryoserializer.buffer.max=512m",
        retryable=False,
    )


@_rule("corrupt_file", r"(?:Could not read footer|Corrupt|not a Parquet file|"
       r"RuntimeException.*parquet.*(?:magic|footer))")
def _fix_corrupt(m: re.Match[str]) -> Fix:
    return Fix(
        fix_type="CONFIG",
        root_cause="corrupt/truncated input file in the scan",
        suggested_fix="skip corrupt files and re-land the bad partition",
        conf_changes={"spark.sql.files.ignoreCorruptFiles": "true"},
    )


@_rule("udf_serialization", r"PicklingError|not serializable|"
       r"SerializationException|could not serialize")
def _fix_serialization(m: re.Match[str]) -> Fix:
    return Fix(
        fix_type="MANUAL",
        root_cause="closure captures an unserializable object",
        suggested_fix="move the object construction inside the function / "
                      "use a broadcast variable",
        retryable=False,
    )


@_rule("python_worker", r"Python worker exited unexpectedly|"
       r"py4j\.protocol\.Py4JNetworkError|socket\.timeout")
def _fix_pyworker(m: re.Match[str]) -> Fix:
    return Fix(
        fix_type="RETRY",
        root_cause="python worker / py4j bridge failure (transient)",
        suggested_fix="retry; if persistent, check worker memory limits",
    )


@_rule("ansi_overflow", r"ARITHMETIC_OVERFLOW|CAST_OVERFLOW|long overflow")
def _fix_overflow(m: re.Match[str]) -> Fix:
    # the engine's integer accumulators (money sums, Σx² variance /
    # HHI / CUSUM terms) all funnel through money._acc / money.sum_sq,
    # so one switch widens every one of them to DECIMAL(38,0) — the
    # correct remediation at extreme SF, applied live and retried
    return Fix(
        fix_type="CONFIG",
        root_cause="integer overflow under ANSI mode (accumulator "
                   "exceeded int64 at this data scale)",
        suggested_fix="widen the integer accumulators to DECIMAL(38,0) "
                      "(money.set_decimal_mode) and retry; do NOT "
                      "silence with ansi=false",
        engine_patch="money_decimal_mode",
    )


# Only HTTP-status-shaped 403s: a bare ``403`` also turns up in line
# numbers (``NioSocketImpl.java:403)``), block ids (``broadcast_403``),
# task ids and UUIDs, and would turn transient failures into MANUAL ones.
@_rule("permission", r"Permission denied|AccessDenied|\b403\s+Forbidden|"
       r"\bHTTP(?:/[\d.]+)?\s+403\b|\bstatus(?:\s*code)?\s*[:=]\s*403\b|"
       r"\bError\s+403\b")
def _fix_permission(m: re.Match[str]) -> Fix:
    return Fix(
        fix_type="MANUAL",
        root_cause="storage permission error",
        suggested_fix="grant the job's service account access to the path",
        retryable=False,
    )


# ---------------------------------------------------------------------------
# The engine's OWN loud scale guards (r5): every quadratic-blowup
# guard in the dedup/similarity operators raises with a distinctive
# message so this rule engine can close the loop — the self-healing
# pipeline catches the guard, reports the documented remediation, and
# (where it is a safe parameter change) retries with it. Guard text ↔
# rule pattern pairs are pinned by tests.
# ---------------------------------------------------------------------------

@_rule("lsh_bucket_overflow", r"dedup_minhash_lsh: band bucket holds")
def _fix_lsh_bucket(m: re.Match[str]) -> Fix:
    return Fix(
        fix_type="MANUAL",
        root_cause="an LSH band bucket exceeds max_bucket_docs "
                   "(near-identical boilerplate flood)",
        suggested_fix="dedup_exact the corpus first (identical docs "
                      "collapse to one bucket member), or raise "
                      "max_bucket_docs deliberately",
        retryable=False,
    )


@_rule("incremental_bucket_overflow",
       r"dedup_incremental: corpus band bucket holds")
def _fix_incremental_bucket(m: re.Match[str]) -> Fix:
    return Fix(
        fix_type="MANUAL",
        root_cause="a corpus band bucket exceeds max_bucket_docs — the "
                   "standing corpus already contains a near-identical "
                   "flood, so every incoming batch would fan out "
                   "against it (also reached via streaming_lsh_ingest "
                   "and split_leakage_check, which probe the same "
                   "bucket relation)",
        suggested_fix="dedup the standing corpus first (dedup_exact, "
                      "then dedup_verified_clusters) and re-persist "
                      "its bucket relation; raise max_bucket_docs only "
                      "for a deliberate audit pass",
        retryable=False,
    )


@_rule("ahash_bucket_overflow",
       r"multimodal_ahash_pairs: bucket holds")
def _fix_ahash_bucket(m: re.Match[str]) -> Fix:
    return Fix(
        fix_type="MANUAL",
        root_cause="a perceptual-hash window bucket exceeds "
                   "max_bucket_assets DISTINCT signatures "
                   "(identical-signature assets are already collapsed "
                   "before bucketing — the corpus genuinely has that "
                   "many distinct histogram shapes sharing a window)",
        suggested_fix="raise max_bucket_assets for a deliberate dense "
                      "run, or coarsen the similarity question: "
                      "multimodal_ahash_groups (exact-signature "
                      "grouping) answers the dedup form without "
                      "pairwise emission",
        retryable=False,
    )


@_rule("simhash_bucket_overflow", r"dedup_simhash: bucket .* holds")
def _fix_simhash_bucket(m: re.Match[str]) -> Fix:
    return Fix(
        fix_type="MANUAL",
        root_cause="a SimHash bucket exceeds max_bucket_rows "
                   "(homogeneous token distribution)",
        suggested_fix="use dedup_simhash_multitable (rotated bit "
                      "windows spread the skew) or raise "
                      "max_bucket_rows deliberately",
        retryable=False,
    )


@_rule("cell_overflow", r"(?:dedup_embedding|knn_graph_cells) cell holds")
def _fix_cell_overflow(m: re.Match[str]) -> Fix:
    return Fix(
        fix_type="MANUAL",
        root_cause="an IVF cell exceeds max_cell_rows (in-cell scoring "
                   "is quadratic by design)",
        suggested_fix="raise n_centroids so cells shrink — the fix at "
                      "scale is more cells, not a bigger buffer",
        retryable=False,
    )


@_rule("allpairs_guard", r"all-pairs dedup_embedding over \d+ vectors")
def _fix_allpairs(m: re.Match[str]) -> Fix:
    return Fix(
        fix_type="MANUAL",
        root_cause="all-pairs escape FORCED (force_all_pairs=True) "
                   "over a corpus above max_all_pairs_rows",
        suggested_fix="drop force_all_pairs so the call auto-routes "
                      "to the cell-bounded form, pass bounded "
                      "candidates, or raise max_all_pairs_rows only "
                      "for a deliberate exact verification run",
        retryable=False,
    )


@_rule("er_block_overflow", r"er_name_pairs: block holds")
def _fix_er_block(m: re.Match[str]) -> Fix:
    return Fix(
        fix_type="MANUAL",
        root_cause="an ER block exceeds max_block (a flood of "
                   "identical or near-identical keys makes in-block "
                   "pairing quadratic)",
        suggested_fix="drop force_id_grain so er_name_pairs "
                      "auto-routes to keeper grain, or use "
                      "er_name_links (distinct-name grain with "
                      "implied_id_pairs multiplicity accounting)",
        retryable=False,
    )


@_rule("er_block_overflow_name_grain",
       r"(?:er_name_links|er_name_pairs\[keeper-grain\]): block holds")
def _fix_er_block_name_grain(m: re.Match[str]) -> Fix:
    # the id-grain remedy ("drop force_id_grain") is circular here:
    # the overflow already happened AT distinct-name grain, so the
    # block genuinely holds that many distinct near-identical names
    return Fix(
        fix_type="MANUAL",
        root_cause="a distinct-name ER block exceeds max_block — "
                   "the corpus really contains that many DISTINCT "
                   "near-identical names in one masked-key bucket "
                   "(exact duplicates are already collapsed)",
        suggested_fix="shrink the masking window (fewer positions "
                      "per key family) or raise max_block "
                      "deliberately for this corpus",
        retryable=False,
    )


@_rule("cc_no_convergence",
       r"(?:component_labels|dedup_clusters) did not converge")
def _fix_cc_convergence(m: re.Match[str]) -> Fix:
    return Fix(
        fix_type="CONFIG",
        root_cause="connected components hit max_iterations (graph "
                   "diameter larger than 2^rounds)",
        suggested_fix="raise max_iterations (pointer doubling covers "
                      "2^rounds hops, so +4 rounds covers 16x the "
                      "diameter)",
        retryable=False,
    )


# optional LLM analyzer hook (reference uses Gemini; stubbed here)
_llm_analyzer: Callable[[str], Fix | None] | None = None


def set_llm_analyzer(fn: Callable[[str], Fix | None] | None) -> None:
    global _llm_analyzer
    _llm_analyzer = fn


def analyze_error(error_log: str) -> Fix:
    """Classify an error log into a Fix (vertex_ai_handler.py:5-87,
    deterministic re-expression). First matching rule wins; the
    optional LLM hook is consulted only if no rule matches."""
    for _name, pattern, builder in _RULES:
        m = pattern.search(error_log)
        if m:
            return builder(m)
    if _llm_analyzer is not None:
        fix = _llm_analyzer(error_log)
        if fix is not None:
            return fix
    return Fix(
        fix_type="RETRY",
        root_cause="unclassified failure",
        suggested_fix="retry once; escalate if it persists",
    )


def apply_code_fix(source_text: str, fix: Fix) -> str:
    """Apply a CODE fix to job source text (auto_healer.py:92-120)."""
    if fix.code_sub is None:
        return source_text
    pattern, repl = fix.code_sub
    return re.sub(pattern, repl, source_text)


def apply_conf_fix(spark, fix: Fix) -> dict[str, str]:
    """Apply CONFIG remediations to the live session; returns what
    changed. 'increase:2x' doubles the current integer value."""
    applied: dict[str, str] = {}
    for key, value in fix.conf_changes.items():
        if value.startswith("increase:"):
            factor = int(value.split(":")[1].rstrip("x"))
            current = int(spark.conf.get(key))
            value = str(current * factor)
        spark.conf.set(key, value)
        applied[key] = value
    return applied


def fix_script_file(path: str, fix: Fix,
                    opener=None) -> dict[str, object]:
    """File/URI round-trip for CODE fixes (auto_healer.py:48-90
    ``fix_gcs_file``/``fix_local_file``): read the job script, apply
    the patch, write back only when something changed.

    ``opener`` is an fsspec-style hook — ``opener(path, mode)``
    returning a context-managed text file — that makes the reference's
    object-store scenario (fix_gcs_file patching a script in cloud
    storage) portable: pass ``fsspec.open`` (or any fake) and gs://
    s3:// abfs:// URIs heal through it with the same audit-record
    contract. Without an opener, local paths and ``file://`` URIs are
    handled natively and object-store URIs raise loudly (the matching
    cloud client is not in this environment)."""
    if opener is None:
        if path.startswith(("gs://", "s3://", "abfs://")):
            raise NotImplementedError(
                "object-store script patching needs an opener hook "
                "(e.g. fsspec.open) or the matching cloud storage "
                "client; only local/file:// paths are native")
        local = path[len("file://"):] if path.startswith("file://") else path
        def opener(p, mode):
            return open(p, mode, encoding="utf-8")
    else:
        local = path
    with opener(local, "r") as f:
        content = f.read()
    fixed = apply_code_fix(content, fix)
    changed = fixed != content
    if changed:
        with opener(local, "w") as f:
            f.write(fixed)
    return {"path": path, "applied": changed,
            "n_bytes": len(fixed.encode("utf-8"))}


def apply_fix(fix: Fix, spark=None, source_text: str | None = None,
              script_path: str | None = None) -> dict[str, object]:
    """Dispatch on fix type (auto_healer.py:4-46). Returns an audit
    record of what was done. ``script_path`` routes CODE fixes through
    the file round-trip (fix_script_file); ``source_text`` keeps the
    in-memory form for callers that manage their own I/O."""
    record: dict[str, object] = {
        "fix_type": fix.fix_type,
        "root_cause": fix.root_cause,
        "suggested_fix": fix.suggested_fix,
        "applied": False,
    }
    if fix.fix_type == "CODE" and script_path is not None:
        file_record = fix_script_file(script_path, fix)
        record["file_applied"] = file_record
        record["applied"] = bool(file_record["applied"])
    elif fix.fix_type == "CODE" and source_text is not None:
        fixed = apply_code_fix(source_text, fix)
        record["fixed_source"] = fixed
        record["applied"] = fixed != source_text
    elif fix.fix_type == "CONFIG" and spark is not None and fix.conf_changes:
        # None: the key was unset
        record["conf_before"] = {key: spark.conf.get(key, None)
                                 for key in fix.conf_changes}
        record["conf_applied"] = apply_conf_fix(spark, fix)
        record["applied"] = True
    elif fix.fix_type == "RETRY":
        record["applied"] = True
    if fix.engine_patch is not None:
        get, set_, value = _ENGINE_PATCHES[fix.engine_patch]
        record["engine_before"] = get()
        set_(value)
        record["engine_patch"] = fix.engine_patch
        record["applied"] = True
    return record


def undo_fixes(spark, records: Sequence[dict[str, object]]) -> None:
    """Undo what the ``apply_fix`` records changed, newest first, so
    each conf key and engine switch ends at its value from before the
    first record touched it; a conf key that was unset is unset
    again."""
    for record in reversed(records):
        for key, before in record.get("conf_before", {}).items():
            if before is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, before)
        if "engine_patch" in record:
            _, set_, _ = _ENGINE_PATCHES[record["engine_patch"]]
            set_(record["engine_before"])
