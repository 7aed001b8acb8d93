#!/usr/bin/env python3
"""End-to-end benchmark of the F1 pipeline engine.

    python3 perfbench/run.py --workload live_ingest --seed 1 --seconds 10 --trace 0

Runs one workload (``live_ingest`` or ``serve_analytics``) in this
process at ``local[nproc]``, checks its
outputs, and prints one JSON object as the last stdout line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` they are its per-layer metrics, measured with spans, job
groups and the Spark event log switched on (a layer the workload does
not exercise reads 0). A full record with the environment fingerprint
goes to ``perfbench/out/results/``; traced runs also write their spans
there.

The engine is built from the checkout this file sits in; the script
exits non-zero without a result when that checkout holds no engine.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("live_ingest", "serve_analytics")
#: the run is aborted (no result printed) past this wall time
WATCHDOG_S = 170.0
#: a generator running later than this behind schedule invalidates the run
MAX_LATENESS_S = 0.5
DRIVER_MEMORY = "2g"


class Context:
    """What a workload gets: its session, seed, run length and tracer."""

    def __init__(self, args, session, tracer) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.corrupt = args.corrupt_expected
        self.session = session
        self.spark = session.spark
        self.tracer = tracer
        self.process_start = PROCESS_START
        self.max_lateness_s = MAX_LATENESS_S
        self.prepared = None

    def rss_mb(self) -> float:
        from common import jvm_peak_rss_mb

        return jvm_peak_rss_mb(self.spark)


def _engine_present() -> bool:
    return all(
        os.path.isfile(os.path.join(ROOT, p))
        for p in ("__spark_entry__.py", "f1_realtime_data_pipeline_spark/__init__.py", "tools/selfcheck.py")
    )


def _metric_spec() -> tuple[list[str], list[str], dict[str, str]]:
    """End-to-end names, per-layer names and every metric's unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    return [m["name"] for m in spec["end_to_end"]], [m["name"] for m in spec["per_layer"]], units


def _watchdog() -> None:
    """Kill the JVM and leave without a result when a run hangs."""
    sys.stderr.write(f"perfbench: run exceeded {WATCHDOG_S:.0f} s, aborting\n")
    try:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.kill()
            proc.wait(timeout=20)
    finally:
        os._exit(3)


def _event_log_layers(result: dict, log_dir: str) -> dict[str, float]:
    from common import event_log_lines, job_intervals, outside_intervals, parse_event_log

    parsed = parse_event_log(event_log_lines(log_dir))
    out = {
        "spark.task_cpu_s": parsed["total"]["cpu_s"],
        "spark.gc_s": parsed["total"]["gc_s"],
        "spark.spill_mb": parsed["total"]["spill_mb"],
    }
    for name, w in result.get("timed_groups", {}).items():
        totals = parsed["groups"].get(w["group"], {})
        out[f"batch.{name}.tasks"] = totals.get("tasks", 0)
        out[f"batch.{name}.shuffle_mb"] = totals.get("shuffle_mb", 0.0)
        out[f"batch.{name}.outside_jobs_s"] = outside_intervals(
            w["start"], w["end"], job_intervals(parsed, w["group"])
        )
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=None, help="local[N] cores (default: nproc)")
    ap.add_argument(
        "--corrupt-expected",
        action="store_true",
        help="perturb one expected answer, to show the output check fails",
    )
    args = ap.parse_args(argv)

    if not _engine_present():
        sys.stderr.write(f"perfbench: no engine sources under {ROOT}\n")
        return 2
    sys.path[:0] = [HERE, ROOT]
    from common import Session, Tracer, fingerprint, nproc

    cpus = str(args.cpus or nproc())
    # size the session for this box through the knobs get_spark reads;
    # every other setting (shuffle partitions included) is the engine's
    for knob in ("SHUFFLE_PARTITIONS", "AQE", "MAX_PARTITION_BYTES"):
        os.environ.pop(f"SPARK_GRAFT_{knob}", None)
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    e2e_names, layer_names, units = _metric_spec()

    timer = threading.Timer(WATCHDOG_S, _watchdog)
    timer.daemon = True
    timer.start()
    tracer = Tracer(bool(args.trace))
    session = Session(ROOT, args.workload, bool(args.trace))
    try:
        module = __import__(args.workload)
        prepared = (
            module.prepare(session, args.seed, tracer) if hasattr(module, "prepare") else None
        )
        with tracer.span("session.start"):
            session.start()
        ctx = Context(args, session, tracer)
        ctx.prepared = prepared
        with tracer.span(f"workload.{args.workload}"):
            result = module.run(ctx)
        record = {"fingerprint": fingerprint(session.spark, args.seed, ROOT)}
        session.stop()
        layer = {name: 0.0 for name in layer_names}
        layer.update(result["layer"])
        layer["session.start_s"] = session.start_s
        layer["traced.latency_s"] = result["e2e"]["latency_s"]
        layer["traced.throughput_per_s"] = result["e2e"]["throughput_per_s"]
        if args.trace:
            layer.update(_event_log_layers(result, session.event_log_dir))
    except Exception:  # noqa: BLE001 — the boundary: report, print no result
        traceback.print_exc()
        session.stop()
        session.cleanup()
        return 1
    session.cleanup()
    timer.cancel()

    unknown = set(result["e2e"]) - set(e2e_names) | set(layer) - set(layer_names)
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    chosen = result["e2e"] if not args.trace else layer
    names = e2e_names if not args.trace else layer_names
    finite = all(math.isfinite(chosen[n]) for n in names)
    failed = int(result["failed"])
    correct = failed == 0 and result["valid"] and finite
    line = {
        "correct": correct,
        "attempted": int(result["attempted"]),
        "failed": failed,
        "metrics": {
            n: {"value": chosen[n] if math.isfinite(chosen[n]) else -1.0, "unit": units[n]}
            for n in names
        },
    }
    _save(args, record, result, line, tracer)
    print(json.dumps(line), flush=True)
    return 0


def _save(args, record: dict, result: dict, line: dict, tracer) -> None:
    out = os.path.join(HERE, "out", "results")
    os.makedirs(out, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}"
    record.update(
        {
            "workload": args.workload,
            "seconds": args.seconds,
            "trace": args.trace,
            "valid": result["valid"],
            "e2e": result["e2e"],
            "layer": result["layer"],
            "detail": result.get("detail", {}),
            "result": line,
        }
    )
    with open(os.path.join(out, stem + ".json"), "w", encoding="utf-8") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        tracer.write(os.path.join(out, stem + ".spans.json"))


if __name__ == "__main__":
    sys.exit(main())
