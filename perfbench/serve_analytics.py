"""``serve_analytics``: one closed-loop client that refreshes the F1
dashboard from the lakehouse and runs the registry's heavy tail.

Set-up builds both halves at once: one background thread writes the
dashboard's plain inputs and computes its expected answers, another
commits the lakehouse epoch by epoch (:mod:`dashboard_serve`), while the
main thread warms every batch query and waits for its DuckDB oracle
(:mod:`batch_analytics`). The timed
phase then runs whole rounds, each six dashboard requests (one per
serving method, seeded order) followed by one pass over the batch
queries: at least one round, more while the run length has not passed.

``latency_s`` is the geometric mean over the eight operation kinds of
each kind's median time, so the sub-second requests are not drowned out
by ``g_hits``; ``throughput_per_s`` is operations per second of
operation time.
"""

from __future__ import annotations

import threading
import time
from typing import Any

import batch_analytics
import dashboard_serve
from common import geomean, p50

#: whole rounds per run at least
ROUNDS_MIN = 1


def prepare(session, seed: int, tracer) -> dict[str, Any]:
    return batch_analytics.prepare(session, seed, tracer)


class _Background(threading.Thread):
    """Runs ``fn(*args)``; :meth:`wait` re-raises its error in the
    caller."""

    def __init__(self, fn, *args) -> None:
        super().__init__(name=fn.__name__)
        self._fn, self._args = fn, args
        self._error: BaseException | None = None

    def run(self) -> None:
        try:
            self._fn(*self._args)
        except BaseException as e:  # noqa: BLE001 — handed to the caller
            self._error = e

    def wait(self) -> None:
        self.join()
        if self._error is not None:
            raise self._error


def _answers(ctx, dash: dict[str, Any]) -> None:
    dashboard_serve.write_inputs(ctx, dash)
    dashboard_serve.expect(ctx, dash)


def run(ctx) -> dict[str, Any]:
    dash = dashboard_serve.plan(ctx)
    answers = _Background(_answers, ctx, dash)
    commits = _Background(dashboard_serve.commit, ctx, dash)
    answers.start()
    commits.start()
    batch = batch_analytics.warm(ctx)
    answers.wait()
    commits.wait()
    dashboard_serve.warm_request(ctx, dash)
    setup_s = time.time() - ctx.process_start

    start = time.time()
    rounds = 0
    while rounds < ROUNDS_MIN or time.time() - start < ctx.seconds:
        dashboard_serve.serve_round(ctx, dash)
        batch_analytics.run_pass(ctx, batch)
        rounds += 1

    d = dashboard_serve.results(ctx, dash)
    b = batch_analytics.results(ctx, batch)
    op_s = {**d["op_s"], **b["op_s"]}
    return {
        "e2e": {
            "setup_s": setup_s,
            "latency_s": geomean(p50(v) for v in op_s.values()),
            "throughput_per_s": sum(map(len, op_s.values())) / sum(map(sum, op_s.values())),
        },
        "layer": {**d["layer"], **b["layer"], "jvm.peak_rss_mb": ctx.rss_mb()},
        "timed_groups": b["timed_groups"],
        "attempted": d["attempted"] + b["attempted"],
        "failed": d["failed"] + b["failed"],
        "valid": True,
        "detail": {"rounds": rounds, **d["detail"], **b["detail"]},
    }
