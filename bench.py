"""Throughput benchmark — the driver runs this per round (BENCH_r{N}.json).

Runs the engine's headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints a COMPACT
summary as the FINAL stdout line. The driver captures a fixed-size
(2000-char) stdout tail; r12 and r15 both broke the machine-readable
channel by letting the final line outgrow it (r12: summary+spreads on
one line; r15: 58 per-query timings + vs_prev + control + load). The
contract is now (VERDICT r15 #1):

- FINAL line: metric/value/unit/sf/n_queries + the three reference-
  contract query timings + compact control + vs_prev. Built by
  ``build_summary_line`` which HARD-CAPS the serialized length at
  ``LINE_CAP`` (progressively dropping optional blocks, never the
  headline value) so the tail can always parse it.
- ``BENCH_DETAIL.json`` (repo root, overwritten per run): full
  per-query timings, [min, median, max] spreads, control, load,
  vs_prev — the judge-facing sidecar.
- ``BENCH_HISTORY.jsonl`` (repo root, appended per run): the compact
  per-run record {after_round, sf, runs, queries, control, value}
  that future rounds' ``vs_prev`` reads now that the driver artifact
  no longer carries the full per-query dict.

Each query is executed to completion with the noop sink (full plan
runs, nothing is collected to the driver — same I/O shape a real job
has). One untimed warm-up query amortizes JVM/codegen startup so the
numbers measure the plans, not session boot.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from f1_realtime_data_pipeline_spark.session import get_spark  # noqa: E402

#: the queries whose throughput we track round-over-round: the
#: reference contract (q0/q1/q4), the TPC-H relational stress set, and
#: the LLM-pipeline extension ops (dedup / similarity / text quality)
HEADLINE = [
    "q0_stream_transform",
    "q1_standings",
    "q4_podium",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q10",
    "tpch_q18",
    "tpch_q2",
    "tpch_q9",
    "tpch_q13",
    "tpch_q21",
    "t_quality",
    # r5: the corpus-trained bigram-LM scorer — the heaviest text
    # pipeline shape (explode + two count aggs + join-back)
    "t_bigram_quality",
    "d_ngram_jaccard",
    "d_containment",
    "d_minhash_lsh",
    "d_simhash_pairs",
    "e_knn_lsh",
    "e_knn_join_derived",
    "e_cosine_neardup",
    "pipeline_corpus",
    # the iterative connected-components canonicalizers (VERDICT r1
    # #10): regressions in the CC loop must be visible round-over-round
    "d_dup_clusters",
    "e_neardup_clusters",
    # r12: the occupancy-capped hybrid — the production-default
    # canonicalizer (clique recall in honest buckets, star linearity
    # on masses); tracked beside the clique form it should stay at or
    # under (measured 1.45 s vs 1.74 s edges at sf0.1 with the tagged
    # persist)
    "d_dup_clusters_hybrid",
    # round-2 perf-weak finding, fixed in round 3 (corpus-derived cell
    # count + k-means centroids): tracked so the N^1.5 claim has a
    # round-over-round number behind it
    "e_semdedup",
    # r6 probes: the two heaviest selection/audit additions — DSIR's
    # corpus-wide count tables and the MinHash calibration audit
    "t_dsir_select",
    "d_minhash_est_audit",
    # r13 (VERDICT r12 #4): the embedding-family hybrid canonicalizer
    # and the four mergeable-sketch audits — previously the only new-
    # r12 operators with no round-over-round perf series
    "e_neardup_clusters_hybrid",
    "a_approx_percentile_tail",
    "t_cms_merge_audit",
    "a_kll_merge_audit",
    "a_theta_set_audit",
    # r14 (VERDICT r13 #4): the CDF read path — the sink_epoch_* probes
    # cover writes only; these time the full lifecycle + incremental
    # diff (cdc) and OPTIMIZE/expire/VACUUM + post-vacuum read
    # (compaction). Both build their table at plan-construction time,
    # so the timing covers write + maintenance + read, deliberately.
    "cdc_row_diff",
    "o_compaction_exec",
    # r15: the eleven queries registered this round (staged in r14) —
    # their first recorded perf series (SCALE.md holds the
    # measured k=1/k=10 decade rows that preceded registration). The
    # cdf pair build their table at plan-construction time like
    # cdc_row_diff above (lifecycle timing, deliberately).
    "g_pagerank",
    "g_pagerank_dangling",
    "g_ppr_seeded",
    "g_common_neighbors",
    "g_degree_stats",
    "t_classifier_scores",
    "t_classifier_dist",
    "t_bm25_topk",
    "t_bm25_postings",
    "w_decay_popularity",
    "w_decay_curve",
    "t_soft_dedup_weights",
    "cdc_row_images",
    "cdc_incremental_agg",
    "cdc_incremental_minmax",
    "t_curriculum_bins",
    "p_table_checksum",
    # r16 (VERDICT r15 #6): recall audit of the registered batch kNN
    # join — first driver-recorded perf series.
    "e_knn_join_recall_audit",
    # r16 new operators: HITS hubs/authorities (the PageRank-family
    # loop at 2 half-rounds/iteration) and RRF hybrid retrieval fusion
    # (BM25 + kNN, both registered scale forms).
    "g_hits",
    "t_rrf_fusion",
    "t_pareto_select",
    "e_knn_join_dup_recall",
    "d_cluster_exemplars",
    "pipeline_dedup_keepbest",
    "t_vocab_growth",
    "e_balanced_select",
    "e_survivor_coverage",
    "d_incremental_neardup",
    "t_novelty_score",
    "g_triangles",
    "g_kcore_trim",
    "o_schema_evolution",
    "w_trailing_spend",
    "e_pq_recall_audit",
    # r16 session 2: the temporal-dim / view-maintenance family
    # (SCD2 build + point-in-time as-of, signed-delta join-view IVM,
    # bloom-filter semi-join pruning).
    "cdc_scd2_build",
    "cdc_scd2_asof",
    "cdc_scd2_merge",
    "cdc_ivm_join",
    "j_bloom_prune",
    "p_dq_checks",
    "d_prefix_join",
    "e_mips_topk",
    "a_grouping_sets",
    "w_asof_nearest",
    "p_kanon_audit",
    "w_cusum_shift",
    "g_label_prop",
    "e_knn_ivfpq",
    "w_interval_bucket",
]


def run_to_completion(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def control_plan(spark, sf_dir):
    """FROZEN zero-code-change control (VERDICT r9 #1): defined here,
    not in the registry, and never edited round-over-round — so any
    delta in its timing between rounds measures BOX LOAD, not code.
    Timed best-of-N before and after the suite; a round whose control
    moves >10% vs the prior round's control is a loaded-box run and
    its per-query deltas are not evidence of regressions."""
    from pyspark.sql import functions as F

    return (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def timed_runs(fn, runs: int) -> list[float]:
    """All N wall-clock timings, sorted ascending. The headline number
    stays the min (steady-state throughput); the full spread is emitted
    alongside it (VERDICT r11 #6) so a spiked min self-exonerates — a
    wide min/median gap on one query with a quiet control means box
    contention hit that query's runs, not a code regression."""
    times = []
    for _ in range(runs):
        t0 = time.time()
        fn()
        times.append(time.time() - t0)
    return sorted(round(t, 3) for t in times)


def spread(times: list[float]) -> list[float]:
    """[min, median, max] of a sorted timing list — standard median
    (two-middle average on even N: with runs=2 the old upper-middle
    pick reported the MAX as the median, which would mis-trigger the
    verify skill's wide-min/median-gap exoneration rule)."""
    n = len(times)
    med = (
        times[n // 2]
        if n % 2
        else round((times[n // 2 - 1] + times[n // 2]) / 2, 3)
    )
    return [times[0], med, times[-1]]


def best_of(fn, runs: int) -> float:
    return timed_runs(fn, runs)[0]


def reclaim_scratch(spark) -> None:
    """Between-query scratch reclaim (VERDICT r16 #6, checkpoint-dir /
    cache hygiene). A finished query's persisted relations and
    localCheckpoint blocks are dead the moment its last action returns
    — but freeing them needs driver GC (py4j detach) + a JVM GC (the
    ContextCleaner's weak references only enqueue on collection), and
    on a 48 GB heap neither may fire inside a 15 s query, so dead
    blocks from query k squeeze execution memory and scratch disk for
    queries k+1..n. Measured driver-run signature: 3 s queries spiking
    to 30-150 s late in the suite (BENCH_r16 e_knn_ivfpq
    [5.7, 28.4, 151.1]) while the same queries run tight on a fresh
    session. Called BETWEEN queries, never inside a timed region —
    and deliberately NOT between the best-of-N runs of one query, so
    within-query cache reuse (the r16-comparable methodology) is
    untouched."""
    import gc

    gc.collect()
    spark._jvm.System.gc()


#: hard cap for the serialized final stdout line. The driver's tail is
#: 2000 chars (measured on every BENCH_r*.json artifact: len(tail) ==
#: 2000); the cap leaves ~10% headroom for the newline and any driver-
#: side framing.
LINE_CAP = 1800

#: the reference-contract headliners that stay in the final line even
#: in compact form (BASELINE.md's latency criteria are stated against
#: these three).
CONTRACT_HEAD = ["q0_stream_transform", "q1_standings", "q4_podium"]


def max_artifact_round(root: str) -> int:
    """Highest N among BENCH_r{N}.json driver artifacts in ``root``
    (-1 when none exist). This is "the last recorded round": a bench
    run happening now belongs to round N+1."""
    import glob

    best = -1
    for p in glob.glob(os.path.join(root, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if m:
            best = max(best, int(m.group(1)))
    return best


def _usable_record(queries, control_post, rec_sf, sf):
    """A prior record is comparable iff it carries a non-empty query
    dict, a live control, and the SAME scale factor (a cross-sf delta
    measures the data, not the code)."""
    if not isinstance(queries, dict) or not queries:
        return False
    if not control_post:
        return False
    return rec_sf == sf


def resolve_prev(sf, root: str) -> tuple | None:
    """Pick the newest USABLE prior record to compare against.

    Sources, merged and ranked by (round, #queries):

    - driver artifacts ``BENCH_r{N}.json``: newest-first, skipping any
      with ``parsed: null`` (the r15 failure) or an empty/absent query
      dict (the compact post-r15 final line keeps only the contract
      trio — still usable, but outranked by a same-round history
      record carrying the full dict).
    - ``BENCH_HISTORY.jsonl`` records appended by past runs. A record
      written when the newest artifact was r{K} belongs to round K+1;
      records with ``after_round == max_artifact_round`` are THIS
      round's local reruns and are skipped (comparing a run against
      itself would report ~0 and bury the real round-over-round
      signal).

    Returns (round_label, source, queries, control_post) or None.
    """
    import glob

    cur_max = max_artifact_round(root)
    best = None  # (round, n_queries, source, queries, ctl)

    for p in sorted(glob.glob(os.path.join(root, "BENCH_r*.json")),
                    reverse=True):
        try:
            with open(p) as fh:
                prev = json.load(fh)
        except (OSError, json.JSONDecodeError):
            continue
        parsed = prev.get("parsed") or {}
        q = parsed.get("queries") or {}
        ctl = (parsed.get("control") or {}).get("post_sec")
        if _usable_record(q, ctl, parsed.get("sf"), sf):
            best = (prev.get("n", -1), len(q), "artifact", q, ctl)
            break  # newest usable artifact; older ones can't outrank it

    hist = os.path.join(root, "BENCH_HISTORY.jsonl")
    if os.path.exists(hist):
        try:
            lines = open(hist).read().splitlines()
        except OSError:
            lines = []
        for line in reversed(lines):
            try:
                rec = json.loads(line)
            except json.JSONDecodeError:
                continue
            after = rec.get("after_round", -1)
            if cur_max >= 0 and after >= cur_max:
                continue  # same-round local rerun — not a prior round
            q = rec.get("queries") or {}
            ctl = (rec.get("control") or {}).get("post_sec")
            if not _usable_record(q, ctl, rec.get("sf"), sf):
                continue
            eff = after + 1
            if best is None or (eff, len(q)) > (best[0], best[1]):
                best = (eff, len(q), "history", q, ctl)
            break  # newest eligible history record only

    if best is None:
        return None
    return best[0], best[2], best[3], best[4]


def vs_prev_round(timings: dict, control_post: float, sf,
                  root: str | None = None) -> dict | None:
    """Control-normalized round-over-round delta (VERDICT r14 #7).

    r14's driver bench recorded a +29% sum that was ~16% box drift;
    the exoneration lived in README prose. This folds it into the
    bench artifact itself: resolve the newest USABLE prior record
    (``resolve_prev`` — driver artifact or history sidecar; r15's
    ``parsed: null`` artifact is skipped, per ADVICE r15), compare the
    sum over the queries COMMON to both rounds, and scale the delta by
    the frozen control's ratio (this round's post_sec / that round's
    post_sec — box speed, not code). ``normalized_delta_pct`` is the
    code-attributable movement; ``raw_delta_pct`` is what the wall
    clock said before exoneration. Returns None when no usable prior
    record (or no usable control) exists.
    """
    if root is None:
        root = os.path.dirname(os.path.abspath(__file__))
    if not control_post:
        return None
    prev = resolve_prev(sf, root)
    if prev is None:
        return None
    prev_n, source, prev_q, prev_ctl = prev
    common = sorted(set(timings) & set(prev_q))
    if not common:
        return None
    cur_sum = sum(timings[q] for q in common)
    prev_sum = sum(prev_q[q] for q in common)
    ratio = control_post / prev_ctl
    raw = 100.0 * (cur_sum - prev_sum) / prev_sum
    norm = 100.0 * (cur_sum / ratio - prev_sum) / prev_sum
    return {
        "round": prev_n,
        "source": source,
        "n_common": len(common),
        "common_sum_sec": round(cur_sum, 3),
        "prev_common_sum_sec": round(prev_sum, 3),
        "control_ratio": round(ratio, 3),
        "raw_delta_pct": round(raw, 1),
        "normalized_delta_pct": round(norm, 1),
    }


def build_summary_line(timings: dict, sf, runs: int, control: dict,
                       vs_prev: dict | None) -> str:
    """Serialize the FINAL stdout line, hard-capped at ``LINE_CAP``.

    Always present: metric, value (suite sum), unit, sf, n_queries,
    detail pointer. The ``queries`` block carries the contract trio
    plus as many further per-query timings as fit under the cap,
    HEAVIEST FIRST (VERDICT r16 #2: the r16 compact form kept only the
    trio, which starved the driver's round-over-round channel —
    ``n_common: 0``, null geomean, and a ``suspect_cpus_ignored``
    false positive computed over three sub-2 s driver-bound queries).
    To make room the prose ``metric`` string is a short token and the
    per-query values are rounded to 2 decimals (full precision stays
    in the sidecars); ~55-70 of the 90 entries fit, and because the
    heaviest queries are exactly the ones that parallelize, the
    driver's cpu-scaling block is computed over meaningful ratios.
    If the line would still exceed the cap, optional blocks drop in
    reverse-importance order (extra queries first, then vs_prev, then
    control) — the headline value always survives. The FULL per-query
    dict still never rides this line; it lives in BENCH_DETAIL.json /
    BENCH_HISTORY.jsonl (VERDICT r15 #1).
    """
    head = {q: round(timings[q], 2) for q in CONTRACT_HEAD if q in timings}
    payload = {
        "metric": f"suite_sum_sec_noop_best_of_{runs}",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "queries": dict(head),
        "control": {
            "pre_sec": control.get("pre_sec"),
            "post_sec": control.get("post_sec"),
        },
        "vs_prev": vs_prev,
        "detail": "BENCH_DETAIL.json",
    }
    if len(json.dumps(payload)) <= LINE_CAP:
        # fill the remaining headroom heaviest-first; skip any entry
        # whose name would overflow rather than stopping, so the block
        # holds the maximum number of comparable timings
        for q in sorted(set(timings) - set(head),
                        key=lambda q: (-timings[q], q)):
            payload["queries"][q] = round(timings[q], 2)
            if len(json.dumps(payload)) > LINE_CAP:
                del payload["queries"][q]
        return json.dumps(payload)
    for drop in ("queries", "vs_prev", "control"):
        payload.pop(drop, None)
        line = json.dumps(payload)
        if len(line) <= LINE_CAP:
            return line
    raise AssertionError(  # pragma: no cover — structurally tiny
        f"summary line {len(line)} chars exceeds LINE_CAP even "
        f"after dropping all optional blocks"
    )


def write_sidecars(root: str, *, sf, runs: int, timings: dict,
                   spreads: dict, control: dict, load: dict,
                   vs_prev: dict | None) -> None:
    """Write BENCH_DETAIL.json (overwrite — the judge-facing full
    record of the latest run) and append the compact per-run record to
    BENCH_HISTORY.jsonl (what future rounds' vs_prev reads)."""
    after = max_artifact_round(root)
    detail = {
        "after_round": after,
        "sf": sf,
        "runs": runs,
        "value_sec": round(sum(timings.values()), 3),
        "queries": timings,
        "spreads": spreads,
        "control": control,
        "load": load,
        "vs_prev": vs_prev,
    }
    with open(os.path.join(root, "BENCH_DETAIL.json"), "w") as fh:
        json.dump(detail, fh, indent=1)
        fh.write("\n")
    hist_rec = {
        "after_round": after,
        "sf": sf,
        "runs": runs,
        "value_sec": detail["value_sec"],
        "queries": timings,
        "control": {"pre_sec": control.get("pre_sec"),
                    "post_sec": control.get("post_sec")},
    }
    with open(os.path.join(root, "BENCH_HISTORY.jsonl"), "a") as fh:
        fh.write(json.dumps(hist_rec) + "\n")


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    load_start = list(os.getloadavg())

    spark = get_spark("bench")
    qs = entrymod.queries()
    names = [n for n in HEADLINE if n in qs]

    # warm-up, untimed: touch every input table (file listing + parquet
    # footers + the vectorized reader path) and run the cheapest
    # headline once (JVM/codegen warm-up) so timings measure the plans,
    # not session boot or cold I/O.
    for t in ("lineitem", "orders", "customer", "part", "supplier",
              "nation", "region", "documents", "embeddings"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").agg({"*": "count"}).collect()
    run_to_completion(qs[names[0]](spark, sf_dir))

    # best-of-N (default 3) per query: the first execution of a plan
    # pays one-time whole-stage-codegen compilation; the min reflects
    # steady-state throughput, which is what scales, and n>=3 damps
    # the box-contention noise that made round-over-round deltas on
    # this 32-way box untrustworthy at best-of-2.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    # de-warm the control (VERDICT r10 #5): one untimed execution of
    # the control plan itself, so control_pre measures box load — not
    # this plan's one-time codegen. Measured limit of that fix (r11,
    # isolated-session experiment): the control keeps speeding up for
    # tens of executions (0.66 → 0.40 s over 11 runs; 0.23 s only
    # after the full suite) — suite-wide JVM/C2 warmup, not this
    # plan's codegen — so pre≈post is NOT reachable by warmup alone.
    # Protocol: compare POST_SEC across rounds (steady-state, fully
    # warmed); pre_sec is the qualitative load snapshot at suite start.
    run_to_completion(control_plan(spark, sf_dir))
    control_pre = best_of(
        lambda: run_to_completion(control_plan(spark, sf_dir)), runs
    )
    timings: dict[str, float] = {}
    spreads: dict[str, list[float]] = {}
    for name in names:
        ts = timed_runs(
            lambda: run_to_completion(qs[name](spark, sf_dir)), runs
        )
        timings[name] = ts[0]
        spreads[name] = spread(ts)
        # untimed, between queries only (see reclaim_scratch)
        reclaim_scratch(spark)

    # row-sink epoch probes (BASELINE.md's only latency figure is the
    # reference's ~0.6-0.7 s micro-batch): one foreachBatch epoch of
    # the keyed manifest sink — within-batch dedup + bucket-pruned
    # anti-join + bucketed parquet write + atomic commit — over the
    # full q0 transform output (~1000x the reference's batch rows at
    # sf0.1). "first" = empty sink; "replay" = the SAME batch again
    # (every key already written: the anti-join drops all rows — the
    # exactly-once replay cost).
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from f1_realtime_data_pipeline_spark.streaming.sinks import (
        transactional_delete,
        transactional_merge,
        transactional_parquet_sink,
    )

    batch = qs["q0_stream_transform"](spark, sf_dir)
    probe_times: dict[str, list[float]] = {
        "sink_epoch_first": [],
        "sink_epoch_replay": [],
        "sink_epoch_merge": [],
        "sink_epoch_delete": [],
    }
    for _ in range(runs):
        sink_dir = tempfile.mkdtemp(prefix="bench_sink_") + "/sink"
        write = transactional_parquet_sink(
            sink_dir, keys=["event_id"], order_cols=["event_time"]
        )
        t0 = time.time()
        write(batch, 0)
        probe_times["sink_epoch_first"].append(time.time() - t0)
        t0 = time.time()
        write(batch, 1)
        probe_times["sink_epoch_replay"].append(time.time() - t0)
        # MERGE epoch: a 10% overlapping update slice through the
        # bucket-granular copy-on-write path (replace + carry-over)
        ups = batch.filter(F.pmod(F.col("event_id"), F.lit(10)) == 0)
        t0 = time.time()
        transactional_merge(
            ups, sink_dir, keys=["event_id"], order_cols=["event_time"]
        )
        probe_times["sink_epoch_merge"].append(time.time() - t0)
        # DELETE epoch: erase the same 10% slice copy-on-write (the
        # right-to-be-forgotten pass at the q0 batch scale)
        t0 = time.time()
        transactional_delete(
            ups.select("event_id"), sink_dir, keys=["event_id"]
        )
        probe_times["sink_epoch_delete"].append(time.time() - t0)
        shutil.rmtree(os.path.dirname(sink_dir), ignore_errors=True)
    for probe, raw in probe_times.items():
        ts = sorted(round(t, 3) for t in raw)
        timings[probe] = ts[0]
        spreads[probe] = spread(ts)
    reclaim_scratch(spark)

    control_post = best_of(
        lambda: run_to_completion(control_plan(spark, sf_dir)), runs
    )
    # Emission contract (VERDICT r15 #1): full per-query detail goes
    # to the sidecars (BENCH_DETAIL.json for the judge, a
    # BENCH_HISTORY.jsonl record for future rounds' vs_prev); the
    # FINAL stdout line is the length-capped compact summary built by
    # build_summary_line — never the per-query dict, which outgrew the
    # driver's 2000-char tail in r15 and zeroed the round's
    # machine-readable bench channel.
    root = os.path.dirname(os.path.abspath(__file__))
    control = {
        "pre_sec": control_pre,
        "post_sec": control_post,
        "desc": "frozen lineitem filter+groupBy agg; compare POST_SEC "
        "across rounds (pre carries residual JVM warmup; delta = box "
        "load, not code)",
    }
    load = {
        "start_1m_5m_15m": [round(x, 2) for x in load_start],
        "end_1m_5m_15m": [round(x, 2) for x in os.getloadavg()],
    }
    vs_prev = vs_prev_round(timings, control_post, sf, root)
    write_sidecars(root, sf=sf, runs=runs, timings=timings,
                   spreads=spreads, control=control, load=load,
                   vs_prev=vs_prev)
    # the spread line stays on stdout (human-readable continuity; it
    # precedes the final line so the tail always ends with the compact
    # summary)
    print(json.dumps({"spread": spreads}))
    line = build_summary_line(timings, sf, runs, control, vs_prev)
    assert len(line) <= LINE_CAP, len(line)
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
