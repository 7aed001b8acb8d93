"""Dashboard part of ``serve_analytics``: one client refreshing the
Streamlit-shaped dashboard from the lakehouse.

:func:`plan` draws the rows from the seed; :func:`write_inputs` writes
the driver dimension and a plain copy of them. :func:`commit` commits
the same rows as a fact table, one epoch at a time, through the row sink
with the live ingest's maintenance schedule, so every read resolves a
multi-version history, then builds the points view through the
aggregate sink. :func:`expect` computes every
expected answer once with ``F1Engine.from_parquet`` over the plain copy,
and :func:`warm_request` serves one untimed request through the
lakehouse path.

Each request resolves the latest snapshot (``F1Engine.from_lakehouse``),
calls one serving method and collects it. :func:`serve_round` serves the
six methods once each, in a seeded order.
"""

from __future__ import annotations

import random
import time
from typing import Any

from common import job_group, jobs_in_group, manifest_layers, p50, summary
from datagen import GP_NAMES, RaceFeed, drivers_rows

KEEP_HISTORY = 10
COMPACT_EVERY = 25
#: commits in set-up. ``KEEP_HISTORY + 1`` would make history expiry run,
#: but each commit costs ~3 s of set-up and a run must fit the benchmark's
#: time budget, so reads see 5 retained versions and expiry never runs
EPOCHS = 5
MESSAGES_PER_EPOCH = 100
METHODS = ("standings", "champion", "classification", "podium", "available_gps", "points_view")
#: grands prix the classification requests of one run choose from
CLASSIFICATION_GPS = 2


def plan(ctx) -> dict[str, Any]:
    """The run's rows (one list of lines per epoch), paths and request
    GPs, all from the seed."""
    feed = RaceFeed(ctx.seed)
    rng = random.Random(ctx.seed)
    return {
        "paths": {k: ctx.session.path(k) for k in ("fact", "view", "dim", "plain")},
        "epochs": [feed.batch(MESSAGES_PER_EPOCH) for _ in range(EPOCHS)],
        "gps": rng.sample(GP_NAMES, CLASSIFICATION_GPS),
    }


def write_inputs(ctx, state) -> None:
    """Write the driver dimension and the plain (unmanaged) copy of the
    transformed rows."""
    from f1_realtime_data_pipeline_spark.plans.contract_f1 import transform_stream
    from f1_realtime_data_pipeline_spark.schemas import DRIVERS

    spark, paths = ctx.spark, state["paths"]
    with ctx.tracer.span("setup.inputs"):
        spark.createDataFrame(drivers_rows(), DRIVERS).write.parquet(paths["dim"])
        every = spark.createDataFrame([(x,) for b in state["epochs"] for x in b], "value string")
        transform_stream(every).write.parquet(paths["plain"])


def commit(ctx, state) -> None:
    """Commit the fact table epoch by epoch through the row sink, then
    the points view through the aggregate sink."""
    from f1_realtime_data_pipeline_spark.plans.contract_f1 import (
        dedup_results,
        transform_stream,
    )
    from f1_realtime_data_pipeline_spark.streaming.pipeline import RESULT_KEYS
    from f1_realtime_data_pipeline_spark.streaming.sinks import (
        transactional_agg_sink,
        transactional_parquet_sink,
    )

    spark = ctx.spark
    paths, epochs = state["paths"], state["epochs"]
    sink = transactional_parquet_sink(
        paths["fact"], RESULT_KEYS, keep_history=KEEP_HISTORY, compact_every=COMPACT_EVERY
    )
    for i, lines in enumerate(epochs):
        with ctx.tracer.span("setup.fact_epoch", op_id=f"epoch-{i}"):
            sink(transform_stream(spark.createDataFrame([(x,) for x in lines], "value string")), i)
    every = spark.createDataFrame([(x,) for b in epochs for x in b], "value string")
    with ctx.tracer.span("setup.view"):
        transactional_agg_sink(paths["view"], group_cols=["driver_number"], sum_cols=["points"])(
            dedup_results(transform_stream(every)), 0
        )


def _call(eng, method: str, arg: str | None, view_path: str):
    if method == "classification":
        return eng.classification(arg)
    if method == "points_view":
        return eng.points_view(view_path)
    return getattr(eng, method)()


def expect(ctx, state) -> None:
    """Every answer a request can ask for, from ``from_parquet`` over
    the same transformed rows; the points view is the per-driver sum of
    the deduplicated fact, joined to the driver names."""
    from pyspark.sql import functions as F

    from f1_realtime_data_pipeline_spark.engine import F1Engine

    p = state["paths"]
    eng = F1Engine.from_parquet(ctx.spark, p["plain"], p["dim"])
    want: dict[tuple[str, str | None], list[tuple]] = {}
    for m in METHODS:
        if m == "points_view":
            view = (
                eng.results.groupBy("driver_number")
                .agg(F.sum("points").alias("total_points"), F.count("*").alias("n_results"))
                .join(eng.drivers.select("driver_number", "driver_name"), "driver_number", "left")
                .select(
                    "driver_number",
                    F.coalesce("driver_name", F.lit("Unknown")).alias("driver_name"),
                    "total_points",
                    "n_results",
                )
                .orderBy(F.col("total_points").desc(), F.col("driver_number").asc())
            )
            want[(m, None)] = [tuple(r) for r in view.collect()]
        elif m == "classification":
            for gp in state["gps"]:
                want[(m, gp)] = [tuple(r) for r in eng.classification(gp).collect()]
        else:
            want[(m, None)] = [tuple(r) for r in _call(eng, m, None, "").collect()]
    if ctx.corrupt:
        key = ("standings", None)
        want[key] = want[key][1:]
    state["want"] = want


def _normalize(rows: list[tuple]) -> list[tuple]:
    """Round floats so a value that prints identically compares equal
    across the two read paths."""
    return [tuple(round(v, 9) if isinstance(v, float) else v for v in r) for r in rows]


def _request(ctx, state, method: str, arg: str | None, rid: str) -> dict[str, Any]:
    """One dashboard refresh: resolve, plan, collect; checked against
    the expected answer."""
    from f1_realtime_data_pipeline_spark.engine import F1Engine

    sc = ctx.spark.sparkContext
    p = state["paths"]
    ok = True
    rows: list[tuple] = []
    with ctx.tracer.span("serve.request", op_id=rid), job_group(sc, rid):
        t0 = time.time()
        try:
            with ctx.tracer.span("serve.resolve", op_id=rid):
                eng = F1Engine.from_lakehouse(ctx.spark, p["fact"], p["dim"])
            t1 = time.time()
            with ctx.tracer.span(f"serve.{method}", op_id=rid):
                df = _call(eng, method, arg, p["view"])
            t2 = time.time()
            with ctx.tracer.span("serve.collect", op_id=rid):
                rows = [tuple(r) for r in df.collect()]
        except Exception:  # noqa: BLE001 — a failed request is counted, not fatal
            ok = False
        t3 = time.time()
    return {
        "method": method,
        "arg": arg,
        "ok": ok and _normalize(rows) == _normalize(state["want"][(method, arg)]),
        "total_s": t3 - t0,
        "resolve_s": t1 - t0 if ok else None,
        "plan_s": t2 - t1 if ok else None,
        "exec_s": t3 - t2 if ok else None,
        "jobs": jobs_in_group(sc, rid),
    }


def warm_request(ctx, state) -> None:
    """Serve one untimed request and open the request log."""
    with ctx.tracer.span("setup.warm_request"):
        _request(ctx, state, "standings", None, "warm")
    state["rng"] = random.Random(ctx.seed)
    state["requests"] = []


def serve_round(ctx, state) -> None:
    """Serve the six methods once each, in a seeded order."""
    order = list(METHODS)
    rng, requests = state["rng"], state["requests"]
    rng.shuffle(order)
    for method in order:
        arg = rng.choice(state["gps"]) if method == "classification" else None
        requests.append(_request(ctx, state, method, arg, f"req-{len(requests)}"))


def results(ctx, state) -> dict[str, Any]:
    """Per-method request times, failures and the serving layers."""
    requests = state["requests"]
    per_method = {m: [r["total_s"] for r in requests if r["method"] == m] for m in METHODS}
    good = [r for r in requests if r["ok"]]
    layer = {
        "serve.resolve_p50_s": p50(r["resolve_s"] for r in good),
        "serve.plan_p50_s": p50(r["plan_s"] for r in good),
        "serve.exec_p50_s": p50(r["exec_s"] for r in good),
        "serve.jobs_per_request": p50(r["jobs"] for r in requests),
        **manifest_layers(ctx.spark, state["paths"]["fact"]),
    }
    layer.update({f"serve.{m}_p50_s": p50(v) for m, v in per_method.items()})
    return {
        "op_s": {f"serve.{m}": v for m, v in per_method.items()},
        "layer": layer,
        "attempted": len(requests),
        "failed": len(requests) - len(good),
        "detail": {
            "request_s": summary(r["total_s"] for r in requests),
            "per_method_s": {m: summary(v) for m, v in per_method.items()},
            "failed_requests": [r for r in requests if not r["ok"]],
        },
    }
