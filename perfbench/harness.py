"""Measurement plumbing shared by the workloads: the Spark session's life
cycle, in-memory trace spans, Spark SQL metrics of an executed plan, host
context (cores, load, hypervisor steal), peak resident memory and output
checksums.

Nothing here imports pyspark at module level, so ``run.py`` can report a
missing engine before any of this is touched.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
import uuid
import zlib

# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------

#: heap of the benchmark's JVM; local mode runs every executor thread in it.
#: Fits a 15 GB host that other tenants share.
DRIVER_MEM = "3g"
#: one input split per parquet file: every generated file is far below this
#: size, so the scan never packs two files into one task and the file count
#: alone fixes the number of Python-stage tasks.
SPLIT_BYTES = str(4 * 1024 * 1024)


def cores() -> int:
    """CPUs this process may run on (``nproc``)."""
    return len(os.sched_getaffinity(0))


def configure_environment(work_dir: str) -> None:
    """Point every scratch location of Spark, the JVM and Python workers
    into ``work_dir``, before the JVM starts."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_JAVA_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def remove_work_dir(work_dir: str) -> None:
    """Delete ``work_dir``, and its parent once no other run uses it."""
    shutil.rmtree(work_dir, ignore_errors=True)
    with contextlib.suppress(OSError):
        os.rmdir(os.path.dirname(work_dir))


def start_session(work_dir: str):
    """A fresh SparkSession on ``local[nproc]`` built by the engine's own
    ``get_spark``; a session left running is stopped first."""
    from pyspark.sql import SparkSession

    from ocrd_odem_spark.session import get_spark

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    n = cores()
    spark = get_spark(
        "perfbench",
        cores=n,
        shuffle_partitions=max(n, 8),
        extra_conf={
            "spark.sql.files.maxPartitionBytes": SPLIT_BYTES,
            "spark.sql.files.openCostInBytes": SPLIT_BYTES,
            "spark.local.dir": os.path.join(work_dir, "local"),
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_session() -> None:
    """Stop the active session; the JVM keeps running."""
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def shutdown_jvm(timeout: float = 60.0) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit.

    The gateway JVM exits when its stdin closes; its Python worker daemon
    is stopped with the SparkContext."""
    from pyspark import SparkContext

    shutdown_session()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except Exception:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans around layer calls: name, start, end, parent and
    run id.  Disabled tracers record nothing and cost one branch."""

    def __init__(self, enabled: bool, run_id: str | None = None):
        self.enabled = enabled
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter() - self._t0,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def fork(self) -> "Tracer":
        """A tracer on this one's run id and clock, for spans that must not
        mix with this one's until ``absorb`` takes them in."""
        child = Tracer(self.enabled, self.run_id)
        child._t0 = self._t0
        return child

    def absorb(self, child: "Tracer", parent: int | None, **attrs) -> None:
        """Append ``child``'s spans, renumbered after this tracer's, with
        its top-level spans under ``parent``."""
        base = len(self.spans)
        for s in child.spans:
            up = parent if s["parent"] is None else s["parent"] + base
            self.spans.append({**s, **attrs, "id": s["id"] + base, "parent": up})

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, **extra, "spans": self.spans}, fh)


@contextlib.contextmanager
def wrapped(owner, attr: str, tracer: Tracer, name: str):
    """Record a span around every call of ``owner.attr`` (a module function
    or a method) for the duration of the block, then restore it."""
    original = getattr(owner, attr)

    def call(*args, **kwargs):
        with tracer.span(name):
            return original(*args, **kwargs)

    setattr(owner, attr, call)
    try:
        yield
    finally:
        setattr(owner, attr, original)


# ---------------------------------------------------------------------------
# Spark SQL metrics of an executed plan
# ---------------------------------------------------------------------------

_STAGE_WRAPPERS = {
    "ShuffleQueryStageExec",
    "BroadcastQueryStageExec",
    "TableCacheQueryStageExec",
    "ResultQueryStageExec",
}


def plan_metrics(df) -> list[tuple[str, dict[str, int]]]:
    """(node name, {metric: value}) for every node of ``df``'s executed
    plan, descending into the final adaptive plan and its query stages.
    Call it after an action on ``df``."""
    root = df._jdf.queryExecution().executedPlan()
    out: list[tuple[str, dict[str, int]]] = []
    stack = [root]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.finalPhysicalPlan())
            continue
        if cls in _STAGE_WRAPPERS:
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            stack.append(node.child())
            continue
        values: dict[str, int] = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            values[kv._1()] = int(kv._2().value())
        out.append((cls, values))
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return out


#: SQL metrics the benchmark reports; Spark keeps the Python-stage times in
#: milliseconds and the data sizes in bytes
SQL_METRICS = (
    "pythonBootTime",
    "pythonInitTime",
    "pythonTotalTime",
    "pythonDataSent",
    "pythonDataReceived",
    "pythonNumRowsReceived",
    "shuffleBytesWritten",
    "spillSize",
)


def metric_totals(nodes) -> dict[str, int]:
    """Each of ``SQL_METRICS`` summed over the plan's nodes."""
    return {m: sum(values.get(m, 0) for _cls, values in nodes) for m in SQL_METRICS}


def job_tasks(spark, group: str) -> int:
    """Tasks run by every stage of the jobs tagged with ``group``."""
    tracker = spark.sparkContext.statusTracker()
    total = 0
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        for stage_id in info.stageIds:
            stage = tracker.getStageInfo(stage_id)
            if stage is not None:
                total += stage.numTasks
    return total


# ---------------------------------------------------------------------------
# host context and memory
# ---------------------------------------------------------------------------


def steal_ticks() -> int:
    """Hypervisor steal jiffies since boot (/proc/stat field 8)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


class HostProbe:
    """nproc, load average and hypervisor steal over the life of a run."""

    def __init__(self):
        self._t0 = time.monotonic()
        self._steal0 = steal_ticks()
        self.load_start = os.getloadavg()

    def report(self) -> dict:
        elapsed = time.monotonic() - self._t0
        n = cores()
        hz = os.sysconf("SC_CLK_TCK")
        steal = steal_ticks() - self._steal0
        return {
            "nproc": n,
            "loadavg_start": list(self.load_start),
            "loadavg_end": list(os.getloadavg()),
            "steal_pct": 100.0 * steal / (elapsed * hz * n) if elapsed > 0 else 0.0,
            "elapsed_s": elapsed,
        }


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, stack = [], [root]
    while stack:
        for child in children.get(stack.pop(), []):
            out.append(child)
            stack.append(child)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak summed resident memory of this process's descendants (the JVM
    and its Python workers), sampled from /proc while ``active``."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self.active = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.interval):
            if self.active:
                rss = sum(_rss_bytes(p) for p in _descendants(me))
                self.peak = max(self.peak, rss)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# ---------------------------------------------------------------------------
# checksums
# ---------------------------------------------------------------------------

_FIELD, _SPAN, _DOC = "\x1e", "\x1d", "\x1f"


def doc_line(doc_id: str, spans: list[dict]) -> str:
    """Canonical text of one output document; ``spans_checksum`` builds the
    same string in Spark."""
    return _DOC.join(
        [
            doc_id,
            _SPAN.join(
                _FIELD.join(
                    [s["kind"], s["text"] or "", s["media_ref"] or "", str(s["offset"])]
                )
                for s in spans
            ),
        ]
    )


def reference_checksum(docs: dict[str, list[dict]]) -> tuple[int, int]:
    """(documents, sum of CRC-32 of each document's canonical line)."""
    return len(docs), sum(
        zlib.crc32(doc_line(d, spans).encode("utf-8")) for d, spans in docs.items()
    )


def spans_checksum(df):
    """One-row DataFrame (n, h) matching ``reference_checksum`` over a
    (doc_id, spans) DataFrame; forcing it runs the whole plan."""
    from pyspark.sql import functions as F

    def field(s):
        return F.concat_ws(
            _FIELD,
            s["kind"],
            F.coalesce(s["text"], F.lit("")),
            F.coalesce(s["media_ref"], F.lit("")),
            s["offset"].cast("string"),
        )

    line = F.concat_ws(
        _DOC, F.col("doc_id"), F.array_join(F.transform("spans", field), _SPAN)
    )
    return df.select(
        F.count("*").alias("n"),
        F.coalesce(F.sum(F.crc32(line)), F.lit(0)).alias("h"),
    )


def force_checksum(df) -> tuple[int, int]:
    row = spans_checksum(df).collect()[0]
    return int(row["n"]), int(row["h"])


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def log_exception(what: str) -> None:
    """Report a failed operation on stderr; the run goes on and counts it."""
    print(f"perfbench: {what} failed", file=sys.stderr)
    traceback.print_exc(file=sys.stderr)
