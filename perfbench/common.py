"""Shared benchmark machinery: spans, statistics, job counting, the
Spark event-log parser, the environment fingerprint and the session
life cycle.

Nothing here imports pyspark at module load, so the statistics and
parser helpers are testable without a JVM.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager
from typing import Any, Iterable, Iterator

#: a tail percentile is only reported when at least this many samples
#: lie beyond it (so p90 needs n >= 100)
TAIL_SAMPLES_BEYOND = 10


# -- statistics ----------------------------------------------------------------


def summary(values: Iterable[float]) -> dict[str, float]:
    """``n``, ``p50`` and ``max`` of a sample; ``p90`` only when at least
    ten samples lie beyond it (n >= 100), so a tail figure is never read
    off a handful of points."""
    vals = sorted(values)
    out: dict[str, float] = {"n": len(vals)}
    if not vals:
        return out
    out["p50"] = statistics.median(vals)
    out["max"] = vals[-1]
    if len(vals) >= 10 * TAIL_SAMPLES_BEYOND:  # a tenth of the sample lies beyond p90
        out["p90"] = statistics.quantiles(vals, n=10, method="inclusive")[8]
    return out


def p50(values: Iterable[float]) -> float:
    """Median, or 0.0 for an empty sample (a layer the workload does not
    exercise)."""
    vals = list(values)
    return statistics.median(vals) if vals else 0.0


def geomean(values: Iterable[float]) -> float:
    vals = list(values)
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def outside_intervals(
    start: float, end: float, intervals: Iterable[tuple[float, float]]
) -> float:
    """Wall time of ``[start, end]`` not covered by any interval."""
    clipped = [
        (max(lo, start), min(hi, end)) for lo, hi in intervals if hi > start and lo < end
    ]
    return (end - start) - union_length(clipped)


# -- spans ---------------------------------------------------------------------


class Tracer:
    """In-memory span recorder. Spans are written once, at run end.

    A disabled tracer still yields from :meth:`span`, so call sites are
    identical in traced and untraced runs; it just records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict[str, Any]] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, op_id: str | None = None) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            idx = len(self.spans)
            self.spans.append(
                {
                    "name": name,
                    "op": op_id,
                    "parent": stack[-1] if stack else None,
                    "thread": threading.current_thread().name,
                    "start": time.time(),
                    "end": None,
                }
            )
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx]["end"] = time.time()

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": self.spans}, f)


# -- Spark event log -----------------------------------------------------------


def event_log_lines(log_dir: str) -> Iterator[dict[str, Any]]:
    """Every event of every application log under ``log_dir``: plain
    single-file logs and Spark 4's rolling ``eventlog_v2_*/events_*``
    directories. Logs must be written uncompressed
    (``spark.eventLog.compress=false``)."""
    paths = sorted(
        p
        for p in glob.glob(os.path.join(log_dir, "*"))
        if os.path.isfile(p) and not p.endswith(".crc")
    )
    for d in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*"))):
        paths += sorted(glob.glob(os.path.join(d, "events_*")))
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def parse_event_log(events: Iterable[dict[str, Any]]) -> dict[str, Any]:
    """Fold an event stream into jobs and per-job-group task totals.

    Returns ``{"jobs": {id: {"start", "end", "group"}}, "groups":
    {group: totals}, "total": totals}`` where totals holds ``tasks``,
    ``cpu_s`` (executor CPU), ``gc_s``, ``spill_mb`` and ``shuffle_mb``
    (read + written). Times are epoch seconds."""
    jobs: dict[int, dict[str, Any]] = {}
    stage_job: dict[int, int] = {}
    groups: dict[str, dict[str, float]] = {}
    total = _zero_totals()
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            jobs[jid] = {"start": ev["Submission Time"] / 1000.0, "end": None, "group": group}
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            row = {
                "tasks": 1,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                "spill_mb": (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0))
                / 2**20,
                "shuffle_mb": (
                    sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0)
                    + sw.get("Shuffle Bytes Written", 0)
                )
                / 2**20,
            }
            jid = stage_job.get(ev.get("Stage ID"))
            group = jobs[jid]["group"] if jid in jobs else None
            for acc in (total, groups.setdefault(str(group), _zero_totals())):
                for k, v in row.items():
                    acc[k] += v
    return {"jobs": jobs, "groups": groups, "total": total}


def _zero_totals() -> dict[str, float]:
    return {"tasks": 0, "cpu_s": 0.0, "gc_s": 0.0, "spill_mb": 0.0, "shuffle_mb": 0.0}


def job_intervals(parsed: dict[str, Any], group: str | None = None) -> list[tuple[float, float]]:
    return [
        (j["start"], j["end"])
        for j in parsed["jobs"].values()
        if j["end"] is not None and (group is None or j["group"] == group)
    ]


# -- job groups ----------------------------------------------------------------

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


@contextmanager
def job_group(sc, group: str) -> Iterator[None]:
    """Tag every job the calling thread submits with ``group``, then
    restore the thread's previous job-group properties (a streaming
    query thread owns a group its ``stop()`` cancels by)."""
    saved = [sc.getLocalProperty(k) for k in _GROUP_PROPS]
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        for k, v in zip(_GROUP_PROPS, saved):
            sc.setLocalProperty(k, v)


def jobs_in_group(sc, group: str) -> int:
    return len(sc.statusTracker().getJobIdsForGroup(group))


def manifest_layers(spark, table: str) -> dict[str, float]:
    """Table health of a manifest table, read once outside any timed
    region: retained versions, live entries and the data directories
    the latest snapshot references."""
    from f1_realtime_data_pipeline_spark.sources import manifest

    doc = manifest.resolve_snapshot_doc(spark, table)
    return {
        "manifest.versions": len(manifest.snapshot_versions(spark, table)),
        "manifest.live_entries": len(doc["entries"]),
        "manifest.data_dirs": len({e["path"].rsplit("/", 1)[0] for e in doc["entries"]}),
    }


# -- environment ---------------------------------------------------------------


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def code_version(root: str) -> str:
    """The git commit when the checkout is a repository, else a digest
    of the engine sources (the benchmark checkout is not a repository)."""
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
        return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        import hashlib

        h = hashlib.sha1()
        for path in sorted(glob.glob(os.path.join(root, "f1_realtime_data_pipeline_spark", "**", "*.py"), recursive=True)):
            with open(path, "rb") as f:
                h.update(f.read())
        return "src-sha1:" + h.hexdigest()[:12]


def fingerprint(spark, seed: int, root: str) -> dict[str, Any]:
    """Environment a record was taken in; records whose fingerprints
    differ are never compared."""
    jvm = spark.sparkContext._jvm
    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "driver_java_options": JVM_OPTIONS,
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "seed": seed,
        "code": code_version(root),
    }


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM, read by this process from
    the kernel's high-water mark (``VmHWM``), not from inside the JVM."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


# -- session life cycle ----------------------------------------------------------

#: driver JVM flags: ``-UsePerfData`` keeps the JVM from writing its
#: perf-data file outside the checkout; the JIT is left at its default
JVM_OPTIONS = "-XX:-UsePerfData"


class Session:
    """One benchmark process's SparkSession plus its scratch space.

    ``work`` holds every file the run writes (inputs, tables,
    checkpoints, Spark local dirs, the event log); :meth:`stop` stops
    Spark and waits for the JVM to exit, :meth:`cleanup` removes
    ``work``."""

    def __init__(self, root: str, workload: str, trace: bool) -> None:
        self.work = os.path.join(root, "perfbench", "out", f"work-{workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        for sub in ("local", "tmp", "eventlog"):
            os.makedirs(os.path.join(self.work, sub))
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        self.event_log_dir = os.path.join(self.work, "eventlog") if trace else None
        self.spark = None
        self.start_s = 0.0

    def start(self):
        from f1_realtime_data_pipeline_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} {JVM_OPTIONS}"
            ),
        }
        if self.event_log_dir:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_log_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.time()
        self.spark = get_spark("perfbench", extra_conf=conf)
        self.start_s = time.time() - t0
        return self.spark

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and the Python workers it
        forked) to exit. Idempotent; the event log is complete after."""
        if self.spark is not None:
            from pyspark import SparkContext

            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None)
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
            self.spark = None
            if gw is not None:
                gw.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
