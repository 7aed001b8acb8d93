"""Transactional-sink decade sweep: commit cost vs ACCUMULATED history.

VERDICT r10 #4 (carried from r9): every other expensive family holds a
measured 10×/100× decade point in SCALE.md, but the transactional sink's
growth axis is not data volume — it is the number of accumulated epochs.
Three per-commit costs grow with history by design:

1. manifest RESOLVE — ``snapshot_versions`` lists the manifest dir
   (one file per retained commit) and the latest manifest document
   itself carries one entry per (epoch × touched bucket);
2. the idempotence ANTI-JOIN — ``read_snapshot`` unions every
   retained epoch directory of the batch's buckets, so epoch N's
   commit scans O(N) directories if nothing compacts them;
3. the COMMIT — snapshot v+1 rewrites the full entries list.

The two maintenance ops bound different terms: ``expire_history``
bounds the manifest FILE listing (term 1a) but not the entries list or
the data-directory count; ``compact_snapshot`` rewrites multi-directory
buckets into one directory, bounding terms 1b/2/3. This sweep measures
all three policies so SCALE.md can state which schedule keeps commit
cost flat:

- ``raw``      — commit epochs, no maintenance (the failure mode);
- ``expire``   — ``expire_history(keep_last=10)`` after every commit;
- ``compact``  — expire + ``compact_snapshot`` every COMPACT_EVERY
  epochs + ``vacuum`` (the recommended production schedule);
- ``auto``     — the same schedule via the sink's OWN
  ``keep_history``/``compact_every`` knobs (r11) — maintenance time
  lands inside the commit timings, proving the production one-liner
  holds the flat curve.

At each decade point (history = 10 and = 100 epochs) it also times the
other verbs at that accumulated history: a 10 %-overlap MERGE, a DELETE
of the same slice, and a full snapshot read (serve scan).

Usage: python tools/sink_epoch_sweep.py [--epochs 100] [--rows 256]
           [--modes raw expire compact] [--runs-dir /tmp/sink_sweep]
Prints one JSON line per mode; paste the numbers into SCALE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from f1_realtime_data_pipeline_spark.session import get_spark  # noqa: E402
from f1_realtime_data_pipeline_spark.sources import manifest  # noqa: E402
from f1_realtime_data_pipeline_spark.streaming.sinks import (  # noqa: E402
    read_sink_snapshot,
    transactional_delete,
    transactional_merge,
    transactional_parquet_sink,
)

#: compaction cadence for the ``compact`` policy. Every compaction
#: folds all multi-directory buckets into one dir, so between passes
#: the anti-join reads at most COMPACT_EVERY + 1 dirs per bucket —
#: the bound that keeps term 2 flat.
COMPACT_EVERY = 25

#: manifest retention for the maintained policies (Delta's
#: logRetentionDuration analog).
KEEP_LAST = 10


def epoch_batch(spark, epoch: int, rows: int):
    """Deterministic all-new-keys batch: epoch N owns key range
    [N*rows, (N+1)*rows) — every epoch commits `rows` survivors, the
    steady-state append workload."""
    return (
        spark.range(epoch * rows, (epoch + 1) * rows)
        .select(
            F.col("id").alias("event_id"),
            (F.col("id") % 97).cast("int").alias("driver_number"),
            (F.col("id") * 7 % 1000).cast("double").alias("speed"),
            F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("event_time"),
        )
    )


def window_mean(times: list[float], lo: int, hi: int) -> float:
    """Mean commit seconds over epoch indices [lo, hi) (0-based)."""
    sl = times[lo:hi]
    return round(statistics.mean(sl), 4) if sl else float("nan")


def run_mode(spark, mode: str, epochs: int, rows: int, base: str) -> dict:
    path = f"{base}/{mode}"
    shutil.rmtree(path, ignore_errors=True)
    sink_kwargs = (
        {"keep_history": KEEP_LAST, "compact_every": COMPACT_EVERY}
        if mode == "auto"
        else {}
    )
    write = transactional_parquet_sink(
        path, keys=["event_id"], order_cols=["event_time"], **sink_kwargs
    )
    commit_s: list[float] = []
    maint_s = 0.0
    probes: dict[str, dict] = {}
    for e in range(epochs):
        b = epoch_batch(spark, e, rows)
        t0 = time.time()
        write(b, e)
        commit_s.append(time.time() - t0)
        if mode in ("expire", "compact"):
            t0 = time.time()
            manifest.expire_history(spark, path, keep_last=KEEP_LAST)
            maint_s += time.time() - t0
        if mode == "compact" and (e + 1) % COMPACT_EVERY == 0:
            t0 = time.time()
            manifest.compact_snapshot(spark, path)
            manifest.expire_history(spark, path, keep_last=KEEP_LAST)
            manifest.vacuum(spark, path)
            maint_s += time.time() - t0
        if e + 1 in (10, epochs):
            probes[f"h{e + 1}"] = probe_verbs(spark, path, e, rows)
    hist = manifest.snapshot_versions(spark, path)
    _, entries = manifest.resolve_snapshot(spark, path)
    return {
        "mode": mode,
        "epochs": epochs,
        "rows_per_epoch": rows,
        # decade points: mean commit cost with ~10 vs ~100 accumulated
        # epochs (first epoch excluded — table-creation warmup)
        "commit_mean_h1_10": window_mean(commit_s, 1, 10),
        "commit_mean_h91_100": window_mean(commit_s, max(0, epochs - 10), epochs),
        # full shape (compaction cadence shows as a sawtooth): mean
        # commit seconds per consecutive tenth of the run
        "commit_decile_means": [
            window_mean(commit_s, i * epochs // 10, (i + 1) * epochs // 10)
            for i in range(10)
        ],
        "commit_total_s": round(sum(commit_s), 2),
        "maintenance_total_s": round(maint_s, 2),
        "retained_manifests": len(hist),
        "live_entries": len(entries),
        "probes": probes,
    }


def probe_verbs(spark, path: str, epoch: int, rows: int) -> dict:
    """Time MERGE / DELETE / serve-read at the CURRENT history depth —
    on a CLONE of the table. Merge/delete rewrite every touched bucket
    into one directory (bucket-granular copy-on-write), i.e. they
    compact as a side effect; probing in place would erase exactly the
    history accumulation this sweep measures."""
    import shutil as sh

    clone = f"{path}_probe_h{epoch + 1}"
    sh.rmtree(clone, ignore_errors=True)
    sh.copytree(path, clone)
    out: dict[str, float] = {}
    ups = epoch_batch(spark, epoch, rows).filter(
        F.pmod(F.col("event_id"), F.lit(10)) == 0
    ).withColumn("speed", F.col("speed") + 1.0)
    t0 = time.time()
    transactional_merge(ups, clone, keys=["event_id"], order_cols=["event_time"])
    out["merge_s"] = round(time.time() - t0, 4)
    t0 = time.time()
    transactional_delete(
        ups.select("event_id"), clone, keys=["event_id"]
    )
    out["delete_s"] = round(time.time() - t0, 4)
    t0 = time.time()
    n = read_sink_snapshot(spark, clone).count()
    out["serve_scan_s"] = round(time.time() - t0, 4)
    out["serve_rows"] = n
    sh.rmtree(clone, ignore_errors=True)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--epochs", type=int, default=100)
    ap.add_argument("--rows", type=int, default=256)
    ap.add_argument(
        "--modes", nargs="+", default=["raw", "expire", "compact", "auto"],
        choices=["raw", "expire", "compact", "auto"],
    )
    ap.add_argument("--runs-dir", default="/tmp/sink_epoch_sweep")
    args = ap.parse_args()

    spark = get_spark("sink_epoch_sweep", cpus=8, shuffle_partitions=8)
    for mode in args.modes:
        res = run_mode(spark, mode, args.epochs, args.rows, args.runs_dir)
        print(json.dumps(res))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
