"""bench.py helper contracts (no Spark session needed).

The driver records bench.py's final JSON line per round; `vs_prev` is
the control-normalized round-over-round delta (VERDICT r14 #7) that
exonerates box drift inside the artifact itself. r15 broke the channel
twice over: the final line outgrew the driver's 2000-char tail
(parsed: null in BENCH_r15.json) and these tests crashed on exactly
that malformed artifact. Pinned here: the length-capped summary line,
the sidecar writes, the newest-USABLE-record resolution (a null-parsed
artifact is skipped, not fatal), the same-round-rerun skip, and the
vs_prev math.
"""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

#: the checkout this file lives in
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def bench():
    spec = importlib.util.spec_from_file_location(
        "bench_under_test", os.path.join(ROOT, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def prev_artifact():
    """Newest driver artifact whose parsed block is USABLE — a
    null-parsed artifact (BENCH_r15.json) must be skipped, not crash
    the suite (ADVICE r15)."""
    import glob

    for path in sorted(glob.glob(os.path.join(ROOT, "BENCH_r*.json")),
                       reverse=True):
        art = json.load(open(path))
        parsed = art.get("parsed") or {}
        if parsed.get("queries") and (parsed.get("control") or {}).get(
            "post_sec"
        ):
            return art
    pytest.skip("no usable BENCH_r*.json artifact present")


def _write_artifact(root, n, queries, ctl, sf=0.1, parsed_null=False):
    art = {"n": n, "rc": 0, "cpus": 32, "sf": sf, "tail": "",
           "parsed": None if parsed_null else {
               "queries": queries, "sf": sf,
               "control": {"post_sec": ctl}}}
    (root / f"BENCH_r{n:02d}.json").write_text(json.dumps(art))


def _append_history(root, rec):
    with open(root / "BENCH_HISTORY.jsonl", "a") as fh:
        fh.write(json.dumps(rec) + "\n")


def test_vs_prev_math_matches_hand_computation(bench, prev_artifact):
    parsed = prev_artifact["parsed"]
    prev_q = parsed["queries"]
    prev_ctl = parsed["control"]["post_sec"]
    # synthesize "this round": every common query 10% slower, control
    # 10% slower too -> normalized delta must be ~0 while raw is +10
    timings = {k: v * 1.10 for k, v in prev_q.items()}
    out = bench.vs_prev_round(timings, prev_ctl * 1.10, parsed["sf"])
    assert out is not None
    assert out["n_common"] >= len(prev_q) // 2  # real repo may resolve
    # a newer history record; the math contract is what's pinned:
    assert out["raw_delta_pct"] == pytest.approx(
        100.0 * (out["common_sum_sec"] - out["prev_common_sum_sec"])
        / out["prev_common_sum_sec"], abs=0.1)


def test_vs_prev_math_exact_on_synthetic_root(bench, tmp_path):
    q = {"q1": 1.0, "q2": 3.0}
    _write_artifact(tmp_path, 7, q, ctl=0.20)
    timings = {k: v * 1.10 for k, v in q.items()}
    out = bench.vs_prev_round(timings, 0.20 * 1.10, 0.1,
                              root=str(tmp_path))
    assert out["round"] == 7
    assert out["source"] == "artifact"
    assert out["n_common"] == 2
    assert out["raw_delta_pct"] == pytest.approx(10.0, abs=0.2)
    assert out["normalized_delta_pct"] == pytest.approx(0.0, abs=0.2)
    assert out["control_ratio"] == pytest.approx(1.10, abs=0.01)


def test_vs_prev_refuses_cross_sf_and_disjoint(bench, tmp_path):
    q = {"q1": 1.0, "q2": 3.0}
    _write_artifact(tmp_path, 7, q, ctl=0.20)
    root = str(tmp_path)
    # a cross-scale-factor comparison measures the data, not the code
    assert bench.vs_prev_round(dict(q), 0.2, 0.009, root=root) is None
    # no common queries -> nothing to compare
    assert bench.vs_prev_round({"zzz": 1.0}, 0.2, 0.1, root=root) is None
    # a dead control cannot normalize
    assert bench.vs_prev_round(dict(q), 0.0, 0.1, root=root) is None


def test_resolve_prev_skips_null_parsed_artifact(bench, tmp_path):
    """The r15 failure mode: newest artifact has parsed: null — the
    resolver must fall back to the next usable one instead of bailing
    (ADVICE r15 medium)."""
    _write_artifact(tmp_path, 14, {"q1": 2.0}, ctl=0.21)
    _write_artifact(tmp_path, 15, {}, ctl=None, parsed_null=True)
    out = bench.resolve_prev(0.1, str(tmp_path))
    assert out is not None
    rnd, source, queries, ctl = out
    assert (rnd, source) == (14, "artifact")
    assert queries == {"q1": 2.0} and ctl == 0.21


def test_resolve_prev_skips_same_round_history_rerun(bench, tmp_path):
    """A history record written while the newest artifact is r15
    belongs to round 16; when the round-16 driver bench runs it must
    NOT compare against that record (a self-comparison reports ~0 and
    buries the real round-over-round signal) — it falls back to the
    newest usable artifact."""
    _write_artifact(tmp_path, 14, {"q1": 2.0}, ctl=0.21)
    _write_artifact(tmp_path, 15, {}, ctl=None, parsed_null=True)
    _append_history(tmp_path, {"after_round": 15, "sf": 0.1, "runs": 3,
                               "queries": {"q1": 1.5},
                               "control": {"post_sec": 0.19}})
    rnd, source, queries, _ = bench.resolve_prev(0.1, str(tmp_path))
    assert (rnd, source) == (14, "artifact")
    assert queries == {"q1": 2.0}


def test_resolve_prev_prefers_fuller_history_at_same_round(bench,
                                                           tmp_path):
    """Post-r15 artifacts carry only the contract trio in their final
    line; the history record of the SAME round carries the full dict
    and must win the tie."""
    _write_artifact(tmp_path, 16, {"q0_stream_transform": 0.5}, ctl=0.2)
    _append_history(tmp_path, {"after_round": 15, "sf": 0.1, "runs": 3,
                               "queries": {"q0_stream_transform": 0.5,
                                           "q1": 1.0, "q2": 2.0},
                               "control": {"post_sec": 0.2}})
    rnd, source, queries, _ = bench.resolve_prev(0.1, str(tmp_path))
    assert (rnd, source) == (16, "history")
    assert len(queries) == 3


def test_real_repo_resolution_survives_r15_null(bench):
    """Against the real repo root: resolution must return a usable
    record (r14 artifact or newer history), never crash, never pick
    the null-parsed r15 artifact."""
    out = bench.resolve_prev(0.1, ROOT)
    assert out is not None
    rnd, source, queries, ctl = out
    assert queries and ctl
    assert not (rnd == 15 and source == "artifact")


def test_summary_line_is_capped_and_parseable(bench):
    # worst realistic case: hundreds of long-named queries — the full
    # dict must NOT ride the final line, but the block must fill with
    # as many heaviest entries as fit (VERDICT r16 #2)
    timings = {f"very_long_query_name_family_{i:03d}": 1.234 + i * 0.01
               for i in range(300)}
    timings.update({"q0_stream_transform": 0.581,
                    "q1_standings": 0.781, "q4_podium": 0.719})
    control = {"pre_sec": 0.405, "post_sec": 0.216}
    vs_prev = {"round": 15, "source": "history", "n_common": 58,
               "common_sum_sec": 61.1, "prev_common_sum_sec": 90.4,
               "control_ratio": 0.847, "raw_delta_pct": -32.4,
               "normalized_delta_pct": -20.2}
    line = bench.build_summary_line(timings, 0.1, 3, control, vs_prev)
    assert len(line) <= bench.LINE_CAP
    parsed = json.loads(line)
    assert parsed["unit"] == "sec"
    assert parsed["value"] == pytest.approx(sum(timings.values()), 0.01)
    assert parsed["n_queries"] == len(timings)
    # contract trio always present; the rest fills heaviest-first to
    # the cap (here: the highest-indexed long names have the largest
    # synthetic timings), never the full 300-entry dict
    assert {"q0_stream_transform", "q1_standings",
            "q4_podium"} <= set(parsed["queries"])
    assert 10 < len(parsed["queries"]) < 300
    extras = [q for q in parsed["queries"] if q.startswith("very_")]
    assert extras and all(
        timings[q] >= 1.234 + (300 - len(extras) - 5) * 0.01
        for q in extras
    )
    assert parsed["vs_prev"]["normalized_delta_pct"] == -20.2


def test_summary_line_fills_realistic_registry(bench):
    # the r16 driver artifact shape: ~90 real query names — the line
    # must carry enough of them for PERF's n_common/geomean/scaling
    # channels to be meaningful (VERDICT r16 #2 "Done" criterion)
    import random

    rng = random.Random(17)
    families = ("tpch_q", "e_knn_join_recall_audit_", "g_pagerank_",
                "cdc_incremental_", "sink_epoch_", "d_minhash_")
    timings = {f"{families[i % len(families)]}{i:02d}":
               round(rng.uniform(0.2, 12.0), 3) for i in range(87)}
    timings.update({"q0_stream_transform": 0.581,
                    "q1_standings": 0.781, "q4_podium": 0.719})
    line = bench.build_summary_line(
        timings, 0.1, 3, {"pre_sec": 0.4, "post_sec": 0.2}, None)
    assert len(line) <= bench.LINE_CAP
    parsed = json.loads(line)
    assert len(parsed["queries"]) >= 55
    # heaviest-first: every omitted entry is no heavier than the
    # lightest included one (modulo name-length skips near the cap)
    included = set(parsed["queries"])
    omitted_max = max((timings[q] for q in timings if q not in included),
                      default=0.0)
    kept = sorted(timings[q] for q in included if q not in
                  {"q0_stream_transform", "q1_standings", "q4_podium"})
    assert omitted_max <= kept[5]


def test_sidecars_roundtrip(bench, tmp_path):
    _write_artifact(tmp_path, 15, {}, ctl=None, parsed_null=True)
    timings = {"q1": 1.0, "q2": 2.0}
    spreads = {"q1": [1.0, 1.1, 1.2], "q2": [2.0, 2.0, 2.1]}
    bench.write_sidecars(str(tmp_path), sf=0.1, runs=3,
                         timings=timings, spreads=spreads,
                         control={"pre_sec": 0.3, "post_sec": 0.2},
                         load={}, vs_prev=None)
    detail = json.load(open(tmp_path / "BENCH_DETAIL.json"))
    assert detail["after_round"] == 15
    assert detail["queries"] == timings
    assert detail["spreads"] == spreads
    assert detail["value_sec"] == pytest.approx(3.0)
    recs = [json.loads(x) for x in
            open(tmp_path / "BENCH_HISTORY.jsonl").read().splitlines()]
    assert len(recs) == 1 and recs[0]["queries"] == timings
    # second run appends, detail overwrites
    bench.write_sidecars(str(tmp_path), sf=0.1, runs=3,
                         timings={"q1": 0.9}, spreads={}, control={},
                         load={}, vs_prev=None)
    recs = [json.loads(x) for x in
            open(tmp_path / "BENCH_HISTORY.jsonl").read().splitlines()]
    assert len(recs) == 2 and recs[1]["queries"] == {"q1": 0.9}


def test_spread_median_is_standard(bench):
    # even N takes the two-middle average (the r12 upper-middle pick
    # reported the MAX as the median and mis-triggered exoneration)
    assert bench.spread([1.0, 2.0]) == [1.0, 1.5, 2.0]
    assert bench.spread([1.0, 2.0, 9.0]) == [1.0, 2.0, 9.0]
