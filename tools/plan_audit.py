"""Plan audit: dump the physical-plan vitals of the headline queries.

For each audited query this prints (and, with --write, records in
PLANS.md) the facts that matter at 100 TB: how many parquet scans the
plan runs, whether filters/pruning reached the scan, the exchange
(shuffle) count, the join strategies chosen, whether any Python
evaluation leaked into the plan, and whether a window runs
unpartitioned. This is the evidence behind SCALE.md's claims — rerun
after plan-affecting changes.

Usage: python tools/plan_audit.py [--sf-dir DIR] [--write] [names...]
"""

from __future__ import annotations

import argparse
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from f1_realtime_data_pipeline_spark.session import get_spark  # noqa: E402

#: headline + the operators whose plan shape carries a named claim
AUDIT = [
    "q0_stream_transform",
    "q1_standings",
    "tpch_q1",
    "tpch_q9",
    "tpch_q21",
    # r14 advice edits with new plan shapes (the other two r14-edited
    # queries, cdc_row_diff / o_compaction_exec, are deliberately NOT
    # auditable: building their plans executes a table lifecycle —
    # see inventory_star._scratch_table_dir)
    "t_chi2_drift",
    "a_theta_est_audit",
    "t_quality",
    "t_tfidf_keywords",
    "t_rare_tokens",
    "t_chunk_overlap",
    "t_contamination",
    "t_contamination_bloom",
    "d_exact",
    "w_gapfill",
    "o_rank_fractional",
    "d_ngram_jaccard",
    "d_containment",
    "d_minhash_lsh",
    "d_dup_clusters_star",
    "d_dup_clusters_hybrid",
    "a_approx_percentile_tail",
    "d_simhash_pairs",
    "d_substring_dedup",
    "d_incremental_dedup",
    "e_knn_lsh",
    "e_knn_join_derived",
    "e_knn_pq",
    "e_pq_codes",
    "e_knn_ivf",
    "e_knn_ivf_trained",
    "e_cosine_neardup",
    "e_neardup_clusters_star",
    "e_neardup_clusters_hybrid",
    "e_semdedup",
    "e_kmeans",
    "pipeline_corpus",
    "pipeline_corpus_v2",
    "d_span_splice",
    "d_editdist_neardup",
    "d_editdist_unicode",
    "t_shuffle_order",
    "t_pii_redact",
    "t_epoch_expand",
    "o_zorder_layout",
    "p_skew_profile",
    "m_video_meta",
    "m_jpeg_meta",
    "m_video_frame_plan",
    "t_bigram_quality",
    "t_interleave_sources",
    "t_length_buckets",
    "p_dataset_card",
    # r6 selection/audit surface
    "t_dsir_select",
    "t_priority_sample",
    "t_weighted_sample",
    "e_diverse_topk",
    "w_anomaly_mad",
    "m_image_ahash",
    "t_heavy_hitters_cms",
    "t_cms_merge_audit",
    "d_minhash_est_audit",
    "a_approx_percentile",
    "a_hll_merge_audit",
    "a_kll_merge_audit",
    "a_theta_set_audit",
    "t_sentence_chunk",
    "e_knn_recall_audit",
    "a_histogram",
    # r7 surface + plan-shape rewrites
    "e_semantic_decontam",
    "t_domain_weights",
    "w_asof_attribution",
    "w_lateness_audit",
    "w_watermark_curve",
    "q2_champion",
    "q4_podium",
    # r15 registrations (graph/scoring/retrieval/decay/checksum; the
    # cdf lifecycle queries stay excluded like cdc_row_diff — building
    # their plans executes a table lifecycle)
    "g_pagerank",
    "g_pagerank_dangling",
    "g_ppr_seeded",
    "g_common_neighbors",
    "g_degree_stats",
    "t_classifier_scores",
    "t_classifier_dist",
    "t_curriculum_bins",
    "t_bm25_topk",
    "t_bm25_postings",
    "w_decay_popularity",
    "w_decay_curve",
    "t_soft_dedup_weights",
    "p_table_checksum",
    # r16 registrations
    "g_hits",
    "t_rrf_fusion",
    "t_pareto_select",
    "e_knn_join_recall_audit",
    "d_cluster_exemplars",
    "pipeline_dedup_keepbest",
    "t_vocab_growth",
    "e_balanced_select",
    "e_survivor_coverage",
    "d_incremental_neardup",
    "t_novelty_score",
    "g_triangles",
    "g_kcore_trim",
    "w_trailing_spend",
    "e_pq_recall_audit",
    # o_schema_evolution stays excluded like cdc_row_diff /
    # o_compaction_exec — building its plan executes the two-epoch
    # write lifecycle.
    # r16 session 2: temporal-dim / view-maintenance family + DQ
    # audit + prefix-filter join (all side-effect-free plans — they
    # read parquet only, unlike the cdc_* lifecycle family)
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


#: queries whose plan is ALLOWED a global (unpartitioned) window:
#: - p_skew_profile: the rank window runs AFTER orderBy().limit(K)
#:   (TakeOrderedAndProject), so its input is exactly K rows — the
#:   key-domain relation itself is never single-partitioned.
#: - t_interleave_sources: the source-index rank runs over the
#:   DISTINCT-SOURCES relation — bounded by the number of corpus
#:   sources (tens), never the corpus; the per-doc rank window is
#:   partitioned by source.
#: (t_shuffle_order left this list in r5: its rank is now the
#: bucketed offset+local-rank form, no global window in the plan.)
#: - q4_podium (r7): the podium rank runs AFTER orderBy().limit(3) —
#:   the window input is exactly 3 rows (q2_champion has no window at
#:   all anymore).
#: - w_lateness_audit / w_watermark_curve (r7): the only global
#:   window is the CHUNK-level prefix max inside chunked_running_max —
#:   its input is the N/1024-row chunk aggregate (domain-sized, the
#:   same class as p_skew_profile's post-limit rank); the per-row
#:   window partitions by chunk.
#: - t_rrf_fusion (r16): the lex_rank window runs over the
#:   already-LIMITed 20-row BM25 output (the q4_podium class).
#: - t_pareto_select (r16): the strictly-prior prefix max runs over
#:   the DISTINCT-length grouped relation — bounded by max doc length,
#:   never corpus rows (the w_watermark_curve chunk-aggregate class).
#: - t_vocab_growth (r16): the prefix sum runs over the decade-bucket
#:   aggregate — ≤19 rows (bigint digit domain), the same
#:   domain-sized class as t_pareto_select.
GLOBAL_WINDOW_OK = {
    "p_skew_profile",
    "t_interleave_sources",
    "q4_podium",
    "w_lateness_audit",
    "w_watermark_curve",
    "t_rrf_fusion",
    "t_pareto_select",
    "t_vocab_growth",
}

#: (query, stage-label) exemptions for bounded global windows inside
#: CAPTURED stages (r12 advice): a whole-query GLOBAL_WINDOW_OK entry
#: would also excuse an unbounded window in the query's MAIN plan, so
#: captured-stage exceptions are keyed to the exact stage instead.
#: Currently empty — no audited query needs one.
GLOBAL_WINDOW_OK_STAGES: set[tuple[str, str]] = set()


def _has_global_window(plan: str) -> bool:
    """True iff any windowspecdefinition has an EMPTY partition spec.

    explainString never prints the executor-side "No Partition
    Defined" warning, so detect it structurally: split the
    windowspecdefinition argument list at the top paren level —
    partition columns come first, then `expr ASC/DESC NULLS ...` sort
    specs, then the specifiedwindowframe. If the FIRST argument is
    already a sort spec (or the frame), no partition columns exist."""
    for m in re.finditer(r"windowspecdefinition\(", plan):
        i, depth, cur = m.end(), 1, []
        while i < len(plan) and depth:
            ch = plan[i]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if not depth:
                    break
            elif ch == "," and depth == 1:
                break
            cur.append(ch)
            i += 1
        first = "".join(cur).strip()
        if first.startswith("specifiedwindowframe") or re.search(
            r"\b(ASC|DESC)\b", first
        ):
            return True
    return False


def _window_partition_specs(plan: str) -> list[str]:
    """Distinct window partition-key lists in the plan, e.g.
    ['source,__b'] — the evidence that a per-group rank partitions on
    (group, key-range bucket) rather than the bare group key (VERDICT
    r5 #2/#3: a bare corpus-group partition is one unbounded task per
    group at 100 TB)."""
    specs = set()
    for m in re.finditer(r"windowspecdefinition\(", plan):
        i, depth, cur, args = m.end(), 1, [], []
        while i < len(plan) and depth:
            ch = plan[i]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if not depth:
                    args.append("".join(cur).strip())
                    break
            if ch == "," and depth == 1:
                args.append("".join(cur).strip())
                cur = []
            else:
                cur.append(ch)
            i += 1
        part = []
        for a in args:
            if a.startswith("specifiedwindowframe") or re.search(r"\b(ASC|DESC)\b", a):
                break
            part.append(re.sub(r"#\d+L?", "", a))
        specs.add(",".join(part) if part else "(global)")
    return sorted(specs)


def vitals(plan: str) -> dict[str, object]:
    return {
        "parquet_scans": len(re.findall(r"\(\d+\) Scan parquet", plan)),
        "exchanges": len(re.findall(r"\(\d+\) Exchange", plan)),
        "broadcast_joins": len(re.findall(r"BroadcastHashJoin", plan)),
        "shuffle_hash_joins": len(re.findall(r"ShuffledHashJoin", plan)),
        "sort_merge_joins": len(re.findall(r"SortMergeJoin", plan)),
        "cartesian": "CartesianProduct" in plan,
        # BNLJ with a 1-row scalar (corpus count) or C-row centroid
        # side is the standard broadcast pattern, not a pair blow-up —
        # informational only; true cartesians are the failure
        "scalar_bnlj": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
        "python_eval": ("BatchEvalPython" in plan)
        or ("ArrowEvalPython" in plan),
        "arrow_map": "MapInPandas" in plan,
        "pushed_filters": "PushedFilters: [" in plan
        and not re.search(r"PushedFilters: \[\]", plan),
        "global_window": _has_global_window(plan),
        "codegen_stages": len(set(re.findall(r"codegen id : (\d+)", plan))),
        "window_partitions": ";".join(_window_partition_specs(plan)) or "-",
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--write", action="store_true")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    spark = get_spark("plan_audit", cpus=8, shuffle_partitions=8)
    qs = entrymod.queries()
    names = args.names or [n for n in AUDIT if n in qs]

    from f1_realtime_data_pipeline_spark.operators.materialize import (
        capturing_stage_plans,
    )

    def explain(df) -> str:
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    rows = []
    for name in names:
        # VERDICT r11 #4: queries that return a checkpointed DataFrame
        # used to audit as 0 scans / 0 exchanges (the ExistingRDD plan)
        # — a regression hiding in the detector stage was invisible.
        # Lineage-cutting sites record their PRE-materialization plan
        # STRING at record time (r12 advice: while upstream caches are
        # still live, so a stage that reused a persisted relation shows
        # InMemoryTableScan instead of re-deriving — and double-
        # counting — the shared lineage); the row aggregates across
        # main + captured stages and says how many stages it covers.
        with capturing_stage_plans() as stages:
            df = qs[name](spark, args.sf_dir)
        labeled = [("main", explain(df))] + list(stages)
        per = [(lbl, vitals(p)) for lbl, p in labeled]
        v = dict(per[0][1])
        for _, sv in per[1:]:
            for k, val in sv.items():
                if k in ("pushed_filters", "global_window"):
                    continue  # per-stage semantics, aggregated below
                if isinstance(val, bool):
                    v[k] = v[k] or val
                elif isinstance(val, int):
                    v[k] += val
                elif k == "window_partitions" and val != "-":
                    v[k] = val if v[k] == "-" else ";".join(
                        sorted(set(v[k].split(";")) | set(val.split(";")))
                    )
        # pushed_filters is ANDed over stages that scan parquet (r12
        # advice: True is the GOOD direction — ORing let one stage
        # with pushdown mask another that lost it). A row with no
        # parquet scan anywhere reports "no" (nothing to push).
        scanning = [sv for _, sv in per if sv["parquet_scans"] > 0]
        v["pushed_filters"] = bool(scanning) and all(
            sv["pushed_filters"] for sv in scanning
        )
        # global_window is tracked per stage so the smell check can
        # exempt by (query, stage label) — a legitimate bounded window
        # in one captured stage must not hard-fail the whole query
        # (r12 advice); the table column stays the any-stage OR.
        v["gw_stages"] = [lbl for lbl, sv in per if sv["global_window"]]
        v["global_window"] = bool(v["gw_stages"])
        v["stages"] = 1 + len(stages)
        rows.append((name, v))

    cols = [
        "parquet_scans",
        "exchanges",
        "broadcast_joins",
        "shuffle_hash_joins",
        "sort_merge_joins",
        "cartesian",
        "scalar_bnlj",
        "python_eval",
        "arrow_map",
        "pushed_filters",
        "global_window",
        "codegen_stages",
        "stages",
        "window_partitions",
    ]
    header = "| query | " + " | ".join(c.replace("_", " ") for c in cols) + " |"
    sep = "|" + "---|" * (len(cols) + 1)
    lines = [header, sep]
    for name, v in rows:
        cells = [
            ("yes" if v[c] else "no") if isinstance(v[c], bool) else str(v[c])
            for c in cols
        ]
        lines.append(f"| {name} | " + " | ".join(cells) + " |")
    table = "\n".join(lines)
    print(table)

    bad = [
        n
        for n, v in rows
        if v["cartesian"]
        or any(
            n not in GLOBAL_WINDOW_OK
            and (n, lbl) not in GLOBAL_WINDOW_OK_STAGES
            for lbl in v["gw_stages"]
        )
        or (v["python_eval"] and not v["arrow_map"])
    ]
    if bad:
        print(f"\nPLAN SMELLS: {bad}", file=sys.stderr)

    if args.write:
        with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
            f.write(
                "# PLANS — physical-plan vitals of the audited queries\n\n"
                "Generated by `python tools/plan_audit.py --write` at "
                f"sf-dir `{args.sf_dir}`. Columns: parquet scans per plan "
                "(fused pipelines should scan once), shuffle exchange "
                "count, join strategies, whether any crossjoin / "
                "row-at-a-time Python / unpartitioned window appears "
                "(they must not), filter pushdown reaching the scan, "
                "whole-stage-codegen stage count, and the number of "
                "MATERIALIZED STAGES the row aggregates (r12: "
                "checkpoint-returning queries record every "
                "pre-materialization plan — counts are summed across "
                "main + captured stages; stages=1 means the single "
                "unmaterialized plan). Stage plans are snapshotted at "
                "RECORD time while upstream caches are live (r13), so "
                "a stage that reuses a persisted relation audits as an "
                "InMemoryTableScan rather than re-counting the shared "
                "lineage. pushed filters is ANDed over parquet-scanning "
                "stages (True = EVERY scanning stage kept pushdown); "
                "global window is the any-stage OR, with smell "
                "exemptions keyed per (query, stage).\n\n" + table + "\n"
            )
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
