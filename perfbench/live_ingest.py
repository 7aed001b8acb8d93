"""``live_ingest``: an open-loop race-results stream through both
streaming pipelines.

A generator thread publishes one replay file every ``PERIOD_S`` on a
fixed schedule (it never waits for the engine). Two queries read the
replay directory with the default trigger and ``maxFilesPerTrigger=1``:

- ``row``: ``transform_stream`` -> ``transactional_parquet_sink`` with
  the maintenance schedule a long-running ingest uses;
- ``mv``: ``transform_stream`` -> ``streaming_keyed_first_wins`` ->
  ``transactional_agg_sink`` (the live points view).

After the steady phase a burst of ``BURST_FILES`` lands at once.
Freshness of a steady file runs from the time it was *due* to the
later of its two commits; the drain rate is burst messages over the
time from the burst to its last commit.
"""

from __future__ import annotations

import glob
import json
import math
import os
import threading
import time
from collections import Counter
from typing import Any

from common import Tracer, job_group, jobs_in_group, manifest_layers, p50, summary
from datagen import RaceFeed

MESSAGES_PER_FILE = 200
#: publish period. On 4 cores the slower (points-view) query takes
#: ~4.5 s per file, so this offers ~55 % of the pipeline's capacity; each
#: run records the figure it saw (``detail.utilisation``). Near capacity
#: freshness measures queueing, which swings with every slowdown of the box.
PERIOD_S = 8.0
#: steady files per run at least, so the freshness median has a middle
STEADY_FILES_MIN = 3
BURST_FILES = 2
QUERIES = ("row", "mv")
KEEP_HISTORY = 10
COMPACT_EVERY = 25
WAIT_LIMIT_S = 60.0


class ProgressLog:
    """Listener-side record of every query progress event."""

    def __init__(self) -> None:
        self.events: dict[str, list[dict[str, Any]]] = {q: [] for q in QUERIES}
        self._lock = threading.Lock()

    def add(self, name: str, progress) -> None:
        ops = progress.stateOperators or []
        with self._lock:
            self.events.setdefault(name, []).append(
                {
                    "at": time.time(),
                    "batch": progress.batchId,
                    "rows": progress.numInputRows,
                    "ms": dict(progress.durationMs or {}),
                    "state_rows": sum(o.numRowsTotal for o in ops),
                    "state_bytes": sum(o.memoryUsedBytes for o in ops),
                }
            )

    def input_rows(self, name: str) -> int:
        with self._lock:
            return sum(e["rows"] for e in self.events.get(name, []))


def _listener(log: ProgressLog):
    from pyspark.sql.streaming import StreamingQueryListener

    class _L(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            log.add(event.progress.name, event.progress)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return _L()


class EpochLog:
    """Wraps a ``foreachBatch`` sink: times each call, tags its Spark
    jobs with a per-epoch job group and records when it returned (the
    moment the epoch's commit became visible to readers)."""

    def __init__(self, sc, tracer: Tracer) -> None:
        self.sc = sc
        self.tracer = tracer
        self.epochs: dict[str, dict[int, dict[str, float]]] = {q: {} for q in QUERIES}

    def wrap(self, name: str, sink):
        def write(batch_df, epoch_id: int) -> None:
            group = f"sink-{name}-{epoch_id}"
            start = time.time()
            with self.tracer.span(f"sink.{name}", op_id=f"epoch-{epoch_id}"), job_group(
                self.sc, group
            ):
                sink(batch_df, epoch_id)
            self.epochs[name][epoch_id] = {
                "start": start,
                "end": time.time(),
                "jobs": jobs_in_group(self.sc, group),
            }

        return write


def read_source_log(checkpoint: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's metadata log
    in a query checkpoint (plain and compacted log files alike)."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def commit_times(
    files: list[str],
    batch_of: dict[str, dict[str, int]],
    epochs: dict[str, dict[int, dict[str, float]]],
) -> dict[str, float | None]:
    """When each published file became visible in *every* query's
    output: the latest commit over queries of the micro-batch that read
    it. ``None`` when some query never committed it."""
    out: dict[str, float | None] = {}
    for name in files:
        ends = []
        for q, mapping in batch_of.items():
            batch = mapping.get(name)
            epoch = epochs.get(q, {}).get(batch) if batch is not None else None
            ends.append(epoch["end"] if epoch else None)
        out[name] = None if not ends or None in ends else max(ends)
    return out


def _start_queries(spark, ctx, epochs: EpochLog):
    from f1_realtime_data_pipeline_spark.plans.contract_f1 import transform_stream
    from f1_realtime_data_pipeline_spark.sources.replay import raw_value_stream
    from f1_realtime_data_pipeline_spark.streaming.pipeline import RESULT_KEYS
    from f1_realtime_data_pipeline_spark.streaming.sinks import (
        transactional_agg_sink,
        transactional_parquet_sink,
    )
    from f1_realtime_data_pipeline_spark.streaming.state import (
        streaming_keyed_first_wins,
    )

    src = ctx.session.path("src")
    row = (
        transform_stream(raw_value_stream(spark, src, 1))
        .writeStream.queryName("row")
        .foreachBatch(
            epochs.wrap(
                "row",
                transactional_parquet_sink(
                    ctx.session.path("fact"),
                    RESULT_KEYS,
                    keep_history=KEEP_HISTORY,
                    compact_every=COMPACT_EVERY,
                ),
            )
        )
        .option("checkpointLocation", ctx.session.path("ck_row"))
        .start()
    )
    deduped = streaming_keyed_first_wins(
        transform_stream(raw_value_stream(spark, src, 1)), keys=list(RESULT_KEYS)
    )
    mv = (
        deduped.writeStream.queryName("mv")
        .foreachBatch(
            epochs.wrap(
                "mv",
                transactional_agg_sink(
                    ctx.session.path("view"),
                    group_cols=["driver_number"],
                    sum_cols=["points"],
                ),
            )
        )
        .option("checkpointLocation", ctx.session.path("ck_mv"))
        .start()
    )
    return [row, mv]


class Publisher:
    """The load generator: owns the feed and the publish record."""

    def __init__(self, ctx) -> None:
        from f1_realtime_data_pipeline_spark.sources.replay import write_replay_batch

        self._write = write_replay_batch
        self.ctx = ctx
        self.feed = RaceFeed(ctx.seed)
        self.files: list[dict[str, Any]] = []

    def publish(self, due: float, phase: str) -> None:
        """Write the next file; ``due`` is stamped into every message."""
        no = len(self.files)
        lines = [
            line[:-1] + f', "due_unix": {due:.6f}}}' if line.endswith("}") else line
            for line in self.feed.batch(MESSAGES_PER_FILE)
        ]
        start = time.time()
        with self.ctx.tracer.span("gen.publish", op_id=f"file-{no}"):
            path = self._write(self.ctx.session.path("src"), lines, no)
        self.files.append(
            {
                "name": os.path.basename(path),
                "phase": phase,
                "due": due,
                "published": start,
                "publish_s": time.time() - start,
                "lateness_s": max(0.0, start - due),
                "lines": lines,
            }
        )

    def run_schedule(self, dues: list[float]) -> None:
        for due in dues:
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            self.publish(due, "steady")

    def lines_published(self) -> int:
        return sum(len(f["lines"]) for f in self.files)


def _wait_drained(progress: ProgressLog, pub: Publisher, limit: float) -> bool:
    """Block until every query has read every published line."""
    deadline = time.time() + limit
    target = pub.lines_published()
    while time.time() < deadline:
        if all(progress.input_rows(q) >= target for q in QUERIES):
            return True
        time.sleep(0.02)
    return False


def run(ctx) -> dict[str, Any]:
    spark = ctx.spark
    sc = spark.sparkContext
    progress = ProgressLog()
    spark.streams.addListener(_listener(progress))
    epochs = EpochLog(sc, ctx.tracer)
    pub = Publisher(ctx)

    # set-up: start both queries and commit a warm-up file through them
    with ctx.tracer.span("setup.streams"):
        pub.publish(time.time(), "warmup")
        queries = _start_queries(spark, ctx, epochs)
        _wait_drained(progress, pub, WAIT_LIMIT_S)
    setup_s = time.time() - ctx.process_start

    # steady phase: open loop, one file every PERIOD_S for the run length
    # (at least STEADY_FILES_MIN files)
    n_steady = max(STEADY_FILES_MIN, math.ceil(ctx.seconds / PERIOD_S))
    t0 = time.time()
    gen = threading.Thread(
        target=pub.run_schedule,
        args=([t0 + i * PERIOD_S for i in range(n_steady)],),
        name="generator",
    )
    gen.start()
    gen.join()
    drained = _wait_drained(progress, pub, WAIT_LIMIT_S)

    # burst: a block of files lands at once
    burst_at = time.time()
    for _ in range(BURST_FILES):
        pub.publish(burst_at, "burst")
    drained = _wait_drained(progress, pub, WAIT_LIMIT_S) and drained
    for q in queries:
        q.stop()

    batch_of = {
        q: read_source_log(ctx.session.path(f"ck_{q}")) for q in QUERIES
    }
    committed = commit_times([f["name"] for f in pub.files], batch_of, epochs.epochs)
    steady = [f for f in pub.files if f["phase"] == "steady"]
    burst = [f for f in pub.files if f["phase"] == "burst"]
    freshness = [
        committed[f["name"]] - f["due"] for f in steady if committed[f["name"]] is not None
    ]
    burst_ends = [committed[f["name"]] for f in burst]
    drain_s = (
        max(burst_ends) - burst_at if burst_ends and None not in burst_ends else math.inf
    )
    burst_messages = sum(len(f["lines"]) for f in burst)

    bad_files, check = _check(ctx, pub, committed)
    lateness = max(f["lateness_s"] for f in steady)
    e2e = {
        "setup_s": setup_s,
        "latency_s": p50(freshness) if freshness else math.inf,
        "throughput_per_s": burst_messages / drain_s,
    }
    layer = _layers(ctx, pub, progress, epochs, check)
    layer["gen.lateness_max_s"] = lateness
    layer["jvm.peak_rss_mb"] = ctx.rss_mb()
    return {
        "e2e": e2e,
        "layer": layer,
        "attempted": len(pub.files),
        "failed": len(bad_files),
        "valid": drained and lateness <= ctx.max_lateness_s,
        "detail": {
            # offered load: the slower query's micro-batch time per period
            "utilisation": max(layer[f"stream.{q}.trigger_p50_s"] for q in QUERIES) / PERIOD_S,
            "freshness_s": summary(freshness),
            "drain_s": drain_s,
            "burst_messages": burst_messages,
            "failed_files": sorted(bad_files),
            "late_files": sum(f["lateness_s"] > ctx.max_lateness_s for f in steady),
            "files": [{k: v for k, v in f.items() if k != "lines"} for f in pub.files],
        },
    }


def _check(ctx, pub: Publisher, committed: dict[str, float | None]):
    """Compare both tables against the batch oracle: the row table must
    equal ``dedup_results`` over the batch ``transform_stream`` of every
    published line; the points view must equal that fact's per-driver
    point sum. Returns the set of failed file names and counts for the
    per-layer record."""
    from f1_realtime_data_pipeline_spark.plans.contract_f1 import (
        dedup_results,
        transform_stream,
    )
    from f1_realtime_data_pipeline_spark.schemas import RACE_RESULTS
    from f1_realtime_data_pipeline_spark.streaming.sinks import read_sink_snapshot

    spark = ctx.spark
    cols = [f.name for f in RACE_RESULTS.fields]
    lines = [(line,) for f in pub.files for line in f["lines"]]
    raw = spark.createDataFrame(lines, "value string")
    want = Counter(tuple(r) for r in dedup_results(transform_stream(raw)).select(*cols).collect())
    got = Counter(
        tuple(r) for r in read_sink_snapshot(spark, ctx.session.path("fact")).select(*cols).collect()
    )
    want_points: Counter = Counter()
    for r in want:
        want_points[r[cols.index("driver_number")]] += r[cols.index("points")]
    got_points = {
        r.driver_number: r.points
        for r in read_sink_snapshot(spark, ctx.session.path("view")).collect()
    }
    if ctx.corrupt:
        want_points[min(want_points)] += 1

    first_file: dict[tuple[str, str], str] = {}
    rows_in = 0
    for f in pub.files:
        for line in f["lines"]:
            try:
                msg = json.loads(line)
            except ValueError:
                continue
            rows_in += msg["position"] is not None
            first_file.setdefault((msg["session_key"], msg["driver_number"]), f["name"])
    ki, kd = cols.index("session_key"), cols.index("driver_number")
    bad = {name for name, t in committed.items() if t is None}
    for row in (want - got) + (got - want):
        bad.add(first_file.get((row[ki], row[kd]), "<unknown>"))
    if dict(want_points) != got_points:
        bad.update(f["name"] for f in pub.files)
    return bad, {"rows_committed": sum(got.values()), "rows_in": rows_in}


def _layers(ctx, pub, progress: ProgressLog, epochs: EpochLog, check) -> dict[str, float]:
    out: dict[str, float] = {
        "gen.publish_p50_s": p50(f["publish_s"] for f in pub.files),
    }
    for q in QUERIES:
        evs = [e for e in progress.events.get(q, []) if e["rows"] > 0]
        ms = lambda key: [e["ms"].get(key, 0) / 1000.0 for e in evs]  # noqa: E731
        trig = ms("triggerExecution")
        out.update(
            {
                f"stream.{q}.batches": len(evs),
                f"stream.{q}.input_rows": sum(e["rows"] for e in evs),
                f"stream.{q}.trigger_p50_s": p50(trig),
                f"stream.{q}.trigger_max_s": max(trig, default=0.0),
                f"stream.{q}.add_batch_p50_s": p50(ms("addBatch")),
                f"stream.{q}.latest_offset_p50_s": p50(ms("latestOffset")),
                f"stream.{q}.query_planning_p50_s": p50(ms("queryPlanning")),
                f"stream.{q}.wal_commit_p50_s": p50(ms("walCommit")),
                f"stream.{q}.commit_offsets_p50_s": p50(ms("commitOffsets")),
            }
        )
        ep = list(epochs.epochs[q].values())
        dur = [e["end"] - e["start"] for e in ep]
        out[f"sink.{q}.epoch_p50_s"] = p50(dur)
        out[f"sink.{q}.epoch_max_s"] = max(dur, default=0.0)
        out[f"sink.{q}.jobs_per_epoch"] = p50(e["jobs"] for e in ep)
    out["sink.row.survivor_ratio"] = check["rows_committed"] / max(1, check["rows_in"])
    last_mv = (progress.events.get("mv") or [{}])[-1]
    out["state.rows_total"] = last_mv.get("state_rows", 0)
    out["state.memory_mb"] = last_mv.get("state_bytes", 0) / 2**20
    out["stream.backlog_files_max"] = _backlog_max(pub, epochs)
    out.update(manifest_layers(ctx.spark, ctx.session.path("fact")))
    return out


def _backlog_max(pub: Publisher, epochs: EpochLog) -> int:
    """Largest number of published files some query had not yet
    committed, sampled at every publish."""
    worst = 0
    for f in pub.files:
        for q in QUERIES:
            done = sum(1 for e in epochs.epochs[q].values() if e["end"] <= f["published"])
            worst = max(worst, len([g for g in pub.files if g["published"] <= f["published"]]) - done)
    return worst
