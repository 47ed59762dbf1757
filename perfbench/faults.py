"""Seeded replay of Spark driver-log failures for the ``etl_heal`` workload.

Every ETL iteration's ``sink`` task fails once: the real parquet write
finishes, then the wrapper raises ``ReplayedDriverFailure`` carrying a
driver-log excerpt for one retryable failure class. The pipeline hands
``traceback.format_exc()`` to the healer, exactly as it would for a real
Py4J error, so the classifier sees the full log.

Class, numeric noise (stage/task/broadcast ids, executor ports,
``File.scala:NNN`` frames) and log size (~1 KB traceback up to a ~200 KB
log tail) are all drawn from ``random.Random`` seeded by
``(seed, iteration)``. No line is filtered: a number that happens to
contain ``403`` stays in the log (see ``known_defect``).
"""

from __future__ import annotations

import math
import random
import re
import time
from dataclasses import dataclass

CLASSES = ("fetch_failed", "oom", "broadcast_timeout", "disk_full",
           "python_worker", "transient")

# The healer's root cause for each injected class, i.e. the correct answer.
EXPECTED_ROOT_CAUSE = {
    "fetch_failed": "shuffle fetch failure / lost executor (transient)",
    "oom": "executor/driver memory exhausted",
    "broadcast_timeout": "broadcast side exceeded the broadcast limit",
    "disk_full": "scratch disk exhausted (shuffle/spill space)",
    "python_worker": "python worker / py4j bridge failure (transient)",
    "transient": "unclassified failure",
}

# Known healer defect: the ``permission`` rule matches a bare ``403``
# anywhere in the log. A class no earlier rule claims (``transient``)
# whose noise holds e.g. ``Foo.scala:403)`` or ``broadcast_403`` is
# classified MANUAL and never retried.
PERMISSION_ROOT_CAUSE = "storage permission error"
_DEFECT_CLASSES = ("transient",)

MIN_BYTES = 1_000
MAX_BYTES = 200_000


class ReplayedDriverFailure(RuntimeError):
    """Raised in place of the Py4J error a failed Spark action would raise."""


@dataclass
class Fault:
    iteration: int
    cls: str
    text: str
    raised_at: float | None = None
    recovered_at: float | None = None
    root_cause: str | None = None
    retryable: bool | None = None
    analyzed: str = ""                 # the text the healer classified

    @property
    def classified_right(self) -> bool:
        return self.root_cause == EXPECTED_ROOT_CAUSE[self.cls]

    @property
    def recovery_s(self) -> float | None:
        if self.raised_at is None or self.recovered_at is None:
            return None
        return self.recovered_at - self.raised_at


def known_defect(fault: Fault) -> bool:
    """True when a wrong classification is the documented bare-403 defect."""
    return (fault.cls in _DEFECT_CLASSES
            and fault.root_cause == PERMISSION_ROOT_CAUSE
            and "403" in fault.analyzed
            and not re.search(r"Permission denied|AccessDenied",
                              fault.analyzed, re.IGNORECASE))


class _Ids:
    """Random numeric noise shared by one log."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.minute = rng.randint(0, 59)
        self.second = 0
        self.stage = rng.randint(8, 420)
        self.task = rng.randint(0, 7)
        self.tid = rng.randint(20, 4000)
        self.port = rng.randint(32768, 60999)

    def ts(self) -> str:
        self.second += self.rng.randint(0, 2)
        if self.second >= 60:
            self.second -= 60
            self.minute = (self.minute + 1) % 60
        return f"26/10/17 11:{self.minute:02d}:{self.second:02d}"

    def line(self) -> int:
        return self.rng.randint(40, 2600)

    def hexid(self, n: int = 8) -> str:
        return "".join(self.rng.choice("0123456789abcdef") for _ in range(n))

    def uuid(self) -> str:
        return "-".join(self.hexid(n) for n in (8, 4, 4, 4, 12))


def _noise_line(ids: _Ids) -> str:
    r = ids.rng
    s, t, tid, b = (r.randint(1, 420), r.randint(0, 15),
                    r.randint(1, 4000), r.randint(1, 900))
    kind = r.randrange(12)
    ts = ids.ts()
    if kind == 0:
        return (f"{ts} INFO TaskSetManager: Starting task {t}.0 in stage "
                f"{s}.0 (TID {tid}) (localhost, executor driver, partition "
                f"{t}, PROCESS_LOCAL, {r.randint(9000, 99999)} bytes)")
    if kind == 1:
        return (f"{ts} INFO TaskSetManager: Finished task {t}.0 in stage "
                f"{s}.0 (TID {tid}) in {r.randint(4, 9000)} ms on localhost "
                f"(executor driver) ({r.randint(1, 8)}/8)")
    if kind == 2:
        return f"{ts} INFO Executor: Running task {t}.0 in stage {s}.0 (TID {tid})"
    if kind == 3:
        return (f"{ts} INFO Executor: Finished task {t}.0 in stage {s}.0 "
                f"(TID {tid}). {r.randint(1500, 9000)} bytes result sent to driver")
    if kind == 4:
        return (f"{ts} INFO MemoryStore: Block broadcast_{b} stored as values "
                f"in memory (estimated size {r.randint(2, 900)}.{r.randint(0, 9)} "
                f"KiB, free {r.randint(1000, 2900)}.{r.randint(0, 9)} MiB)")
    if kind == 5:
        return (f"{ts} INFO BlockManagerInfo: Added broadcast_{b}_piece0 in "
                f"memory on localhost:{ids.port} (size: {r.randint(2, 90)}.{r.randint(0, 9)} "
                f"KiB, free: {r.randint(1000, 2900)}.{r.randint(0, 9)} MiB)")
    if kind == 6:
        return (f"{ts} INFO SparkContext: Created broadcast {b} from parquet "
                f"at NativeMethodAccessorImpl.java:0")
    if kind == 7:
        return (f"{ts} INFO DAGScheduler: Submitting {r.randint(1, 8)} missing "
                f"tasks from ResultStage {s} (MapPartitionsRDD[{r.randint(10, 2000)}] "
                f"at parquet at NativeMethodAccessorImpl.java:0) (first 15 tasks "
                f"are for partitions Vector(0, 1, 2, 3))")
    if kind == 8:
        return (f"{ts} INFO DAGScheduler: Job {r.randint(1, 900)} finished: "
                f"parquet at NativeMethodAccessorImpl.java:0, took "
                f"{r.randint(0, 9)}.{r.randint(0, 999999):06d} s")
    if kind == 9:
        return f"{ts} INFO CodeGenerator: Code generated in {r.randint(2, 90)}.{r.randint(0, 999999):06d} ms"
    if kind == 10:
        return f"{ts} INFO FileFormatWriter: Start to commit write Job {ids.uuid()}."
    return (f"\tat org.apache.spark.sql.execution.SparkPlan.executeQuery"
            f"(SparkPlan.scala:{ids.line()})")


def _stage_abort(ids: _Ids, exc: str, frames: list[str]) -> list[str]:
    t, s, tid = ids.task, ids.stage, ids.tid
    body = [f"\tat {f}" for f in frames]
    return [
        f"{ids.ts()} ERROR Executor: Exception in task {t}.0 in stage {s}.0 (TID {tid})",
        exc, *body,
        f"{ids.ts()} WARN TaskSetManager: Lost task {t}.0 in stage {s}.0 "
        f"(TID {tid}) (localhost executor driver): {exc}",
        f"{ids.ts()} ERROR TaskSetManager: Task {t} in stage {s}.0 failed 1 "
        "times; aborting job",
        f"{ids.ts()} ERROR FileFormatWriter: Aborting job {ids.uuid()}.",
        "org.apache.spark.SparkException: Job aborted due to stage failure: "
        f"Task {t} in stage {s}.0 failed 1 times, most recent failure: Lost "
        f"task {t}.0 in stage {s}.0 (TID {tid}) (localhost executor driver): {exc}",
        *body,
        "Driver stacktrace:",
        f"\tat org.apache.spark.scheduler.DAGScheduler.failJobAndIndependentStages(DAGScheduler.scala:{ids.line()})",
        f"\tat org.apache.spark.scheduler.DAGScheduler.abortStage(DAGScheduler.scala:{ids.line()})",
        f"\tat org.apache.spark.scheduler.DAGScheduler.runJob(DAGScheduler.scala:{ids.line()})",
        f"\tat org.apache.spark.sql.execution.datasources.FileFormatWriter$.write(FileFormatWriter.scala:{ids.line()})",
    ]


def _error_block(cls: str, ids: _Ids) -> list[str]:
    ln = ids.line
    if cls == "fetch_failed":
        return [
            f"{ids.ts()} WARN TaskSetManager: Lost task {ids.task}.0 in stage "
            f"{ids.stage}.0 (TID {ids.tid}) (localhost executor driver): "
            f"FetchFailed(BlockManagerId(driver, localhost, {ids.port}, None), "
            f"shuffleId={ids.rng.randint(0, 90)}, mapIndex={ids.task}, "
            f"mapId={ids.tid - 3}, reduceId={ids.rng.randint(0, 7)}, message=",
            "org.apache.spark.shuffle.FetchFailedException: Failed to connect "
            f"to localhost/127.0.0.1:{ids.port}",
            f"\tat org.apache.spark.errors.SparkCoreErrors$.fetchFailedError(SparkCoreErrors.scala:{ln()})",
            f"\tat org.apache.spark.storage.ShuffleBlockFetcherIterator.throwFetchFailedException(ShuffleBlockFetcherIterator.scala:{ln()})",
            f"\tat org.apache.spark.storage.ShuffleBlockFetcherIterator.next(ShuffleBlockFetcherIterator.scala:{ln()})",
            f"{ids.ts()} INFO DAGScheduler: Resubmitting failed stages",
            "org.apache.spark.SparkException: Job aborted due to stage failure: "
            f"ResultStage {ids.stage} has failed the maximum allowable number of "
            "times: 4. Most recent failure reason: "
            "org.apache.spark.shuffle.FetchFailedException",
        ]
    if cls == "oom":
        return _stage_abort(ids, "java.lang.OutOfMemoryError: Java heap space", [
            f"org.apache.parquet.bytes.CapacityByteArrayOutputStream.addSlab(CapacityByteArrayOutputStream.java:{ln()})",
            f"org.apache.parquet.column.values.dictionary.DictionaryValuesWriter.getBytes(DictionaryValuesWriter.java:{ln()})",
            f"org.apache.parquet.hadoop.InternalParquetRecordWriter.flushRowGroupToStore(InternalParquetRecordWriter.java:{ln()})",
        ])
    if cls == "broadcast_timeout":
        return [
            f"{ids.ts()} ERROR FileFormatWriter: Aborting job {ids.uuid()}.",
            "org.apache.spark.SparkException: Could not execute broadcast in "
            "300 secs. You can increase the timeout for broadcasts via "
            "spark.sql.broadcastTimeout or disable broadcast join by setting "
            "spark.sql.autoBroadcastJoinThreshold to -1 or remove the "
            "broadcast hint if it exists in your code.",
            f"\tat org.apache.spark.sql.errors.QueryExecutionErrors$.executeBroadcastTimeoutError(QueryExecutionErrors.scala:{ln()})",
            f"\tat org.apache.spark.sql.execution.exchange.BroadcastExchangeExec.doExecuteBroadcast(BroadcastExchangeExec.scala:{ln()})",
            f"\tat org.apache.spark.sql.execution.joins.BroadcastHashJoinExec.doExecute(BroadcastHashJoinExec.scala:{ln()})",
            "Caused by: java.util.concurrent.TimeoutException",
            f"\tat java.base/java.util.concurrent.FutureTask.get(FutureTask.java:{ln()})",
        ]
    if cls == "disk_full":
        return _stage_abort(ids, "java.io.IOException: No space left on device", [
            "java.base/java.io.FileOutputStream.writeBytes(Native Method)",
            f"java.base/java.io.FileOutputStream.write(FileOutputStream.java:{ln()})",
            f"org.apache.hadoop.fs.RawLocalFileSystem$LocalFSFileOutputStream.write(RawLocalFileSystem.java:{ln()})",
            f"org.apache.parquet.hadoop.ParquetFileWriter.writeColumnChunk(ParquetFileWriter.java:{ln()})",
        ])
    if cls == "python_worker":
        return _stage_abort(
            ids, "org.apache.spark.SparkException: Python worker exited "
                 "unexpectedly (crashed)", [
                f"org.apache.spark.api.python.BasePythonRunner$ReaderIterator$$anonfun$1.applyOrElse(PythonRunner.scala:{ln()})",
                f"org.apache.spark.api.python.PythonRunner$$anon$3.read(PythonRunner.scala:{ln()})",
                f"org.apache.spark.scheduler.ResultTask.runTask(ResultTask.scala:{ln()})",
            ])
    return _stage_abort(ids, "java.io.IOException: Connection reset by peer", [
        "java.base/sun.nio.ch.SocketDispatcher.read0(Native Method)",
        f"java.base/sun.nio.ch.NioSocketImpl.implRead(NioSocketImpl.java:{ln()})",
        f"org.apache.hadoop.fs.FSInputChecker.readChecksumChunk(FSInputChecker.java:{ln()})",
        f"org.apache.spark.scheduler.ResultTask.runTask(ResultTask.scala:{ln()})",
    ])


def make_fault(seed: int, iteration: int) -> Fault:
    """The fault for one iteration: a pure function of (seed, iteration)."""
    rng = random.Random(f"etl_heal:{seed}:{iteration}")
    cls = rng.choice(CLASSES)
    target = int(math.exp(rng.uniform(math.log(MIN_BYTES),
                                      math.log(MAX_BYTES))))
    ids = _Ids(rng)
    error = "\n".join(_error_block(cls, ids))
    noise: list[str] = []
    size = len(error)
    while size < target:
        line = _noise_line(ids)
        noise.append(line)
        size += len(line) + 1
    text = "\n".join([*noise, error])
    return Fault(iteration=iteration, cls=cls, text=text)


class FaultInjector:
    """Fails the first parquet write of each armed iteration and records
    how the pipeline's failure callback handled it."""

    def __init__(self, seed: int):
        self.seed = seed
        self.faults: list[Fault] = []
        self._pending: Fault | None = None
        self._current: Fault | None = None

    def arm(self, iteration: int) -> Fault:
        fault = make_fault(self.seed, iteration)
        self._pending = fault
        self._current = None
        self.faults.append(fault)
        return fault

    def disarm(self) -> None:
        self._pending = None
        self._current = None

    def wrap_write(self, write):
        def write_then_fail(*args, **kwargs):
            out = write(*args, **kwargs)
            fault = self._pending
            if fault is not None:
                self._pending = None
                self._current = fault
                fault.raised_at = time.perf_counter()
                raise ReplayedDriverFailure(fault.text)
            if self._current is not None and self._current.recovered_at is None:
                self._current.recovered_at = time.perf_counter()
            return out
        return write_then_fail

    def wrap_analyze(self, analyze):
        def analyze_and_record(error_log: str):
            fix = analyze(error_log)
            fault = self._current
            if fault is not None and fault.root_cause is None:
                fault.root_cause = fix.root_cause
                fault.retryable = fix.retryable
                fault.analyzed = error_log
            return fix
        return analyze_and_record
