"""Plan-shape regression tests: the performance properties SCALE.md
promises, asserted on the optimized plans so a refactor can't silently
lose them.
"""

from __future__ import annotations

import io
import contextlib

import pytest

from pyspark.sql import functions as F

from f1_realtime_data_pipeline_spark.sources.parquet import read_table


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_and_pruning(spark, sf_dir):
    from f1_realtime_data_pipeline_spark.plans.tpch import tpch_q3

    p = _plan(tpch_q3(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate" in p
    # lineitem scan reads only the 4 needed of 11 columns
    assert (
        "ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double,"
        "l_discount:double,l_shipdate:timestamp_ntz>" in p
    )


def test_dimension_joins_broadcast(spark, sf_dir):
    from f1_realtime_data_pipeline_spark.plans.contract_star import q1_standings

    p = _plan(q1_standings(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p  # dims are broadcast at test scale


def test_no_python_udf_in_relational_plans(spark, sf_dir):
    # the relational + text surface stays JVM-side (BatchEvalPython /
    # ArrowEvalPython nodes would mean a Python UDF crept in)
    from f1_realtime_data_pipeline_spark.plans.llm_star import t_quality
    from f1_realtime_data_pipeline_spark.plans.tpch import tpch_q1

    for df in (tpch_q1(spark, sf_dir), t_quality(spark, sf_dir)):
        p = _plan(df)
        assert "EvalPython" not in p


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path):
    """Co-located join: bucketing both sides on the join key removes
    the Exchange entirely — the 100 TB fact⋈fact strategy (SCALE.md).
    """
    import shutil

    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    # a dropped-in-another-session table leaves its managed location
    # behind; clear it so saveAsTable can't hit LOCATION_ALREADY_EXISTS
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_orders", "b_lineitem"):
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("b_orders")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("b_lineitem")
    # broadcast would beat bucketing at this tiny scale (and disable
    # it); turn it off to exercise the large-large strategy the
    # buckets exist for
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bo = spark.table("b_orders")
        bl = spark.table("b_lineitem")
        joined = bl.join(bo, bl.l_orderkey == bo.o_orderkey)
        p = _plan(joined)
        assert "Exchange" not in p, "bucketed join should not shuffle"
        # and it still returns the right row count
        plain = li.join(o, li.l_orderkey == o.o_orderkey)
        assert joined.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_stream_static_broadcast_join(spark, tmp_path):
    """T9: streaming fact enriched by a static broadcast dimension —
    the in-stream form of the serving join (J1)."""
    from f1_realtime_data_pipeline_spark import fixtures

    results = fixtures.race_results(spark)
    src_dir = str(tmp_path / "src")
    results.write.parquet(src_dir)
    stream = spark.readStream.schema(results.schema).parquet(src_dir)
    dim = fixtures.drivers(spark)
    enriched = stream.join(F.broadcast(dim), "driver_number", "left")
    q = (
        enriched.writeStream.format("memory")
        .queryName("t9_enriched")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        out = spark.sql("SELECT * FROM t9_enriched")
        assert out.count() == results.count()
        # unknown driver (99) survives the left join with null name
        unknown = out.filter(F.col("driver_number") == "99").collect()
        assert len(unknown) == 1 and unknown[0].driver_name is None
    finally:
        q.stop()


def test_retention_day0_counts_all_users(spark, sf_dir):
    from f1_realtime_data_pipeline_spark.plans.windows_star import w_retention
    from f1_realtime_data_pipeline_spark.sources.parquet import read_events

    rows = w_retention(spark, sf_dir).collect()
    # every user is active on their cohort day: sum of offset-0 actives
    # == total distinct users
    day0 = sum(r.n_active for r in rows if r.offset_days == 0)
    n_users = read_events(spark, sf_dir).select("user_id").distinct().count()
    assert day0 == n_users
    assert all(r.offset_days >= 0 for r in rows)


def test_type_transitions_conservation(spark, sf_dir):
    from f1_realtime_data_pipeline_spark.plans.windows_star import w_type_transitions
    from f1_realtime_data_pipeline_spark.sources.parquet import read_events

    rows = w_type_transitions(spark, sf_dir).collect()
    ev = read_events(spark, sf_dir)
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    # each user contributes (n_i - 1) transitions; total = N - U
    assert sum(r.n_transitions for r in rows) == n_events - n_users


def test_contamination_broadcasts_test_set(spark, sf_dir):
    from f1_realtime_data_pipeline_spark.plans.llm_star import t_contamination

    p = _plan(t_contamination(spark, sf_dir))
    # the distinct test-split shingle set is the explicitly-broadcast
    # small side; the train-shingle scan must not sort-merge against it
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_pipeline_corpus_single_scan(spark, sf_dir):
    from f1_realtime_data_pipeline_spark.plans.llm_star import pipeline_corpus

    import re

    p = _plan(pipeline_corpus(spark, sf_dir))
    # normalize -> dedup -> filter -> split -> mixture must fuse into
    # ONE parquet scan of documents (no re-read per stage); formatted
    # explain prints each node once in the tree and once in the detail
    # section, so count the numbered detail entries
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_simhash_pairs_plan_is_banded(spark, sf_dir):
    """VERDICT r1 #2: the registered d_simhash_pairs must be the
    pigeonhole-banded equi-join, never an all-pairs crossjoin."""
    from f1_realtime_data_pipeline_spark.plans.llm_star import d_simhash_pairs

    p = _plan(d_simhash_pairs(spark, sf_dir))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_cosine_neardup_plan_is_lsh(spark, sf_dir):
    """VERDICT r1 #3: the registered e_cosine_neardup must generate
    candidates from the (tbl, bkt) equi-join, never a crossjoin."""
    from f1_realtime_data_pipeline_spark.plans.llm_star import e_cosine_neardup

    p = _plan(e_cosine_neardup(spark, sf_dir))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_minhash_default_has_no_global_window(spark, sf_dir):
    """VERDICT r1 #4: the registered dedup/fingerprint defaults use
    inline md5 ids — no Window operator (the vocab dense_rank was a
    single-partition global window) anywhere in the plan."""
    from f1_realtime_data_pipeline_spark.plans.llm_star import (
        d_minhash_lsh,
        d_minhash_signatures,
        d_simhash,
        t_fingerprint,
    )

    for q in (d_minhash_signatures, d_minhash_lsh, d_simhash, t_fingerprint):
        p = _plan(q(spark, sf_dir))
        assert "Window" not in p, f"{q.__name__} still has a window in its plan"


def test_pack_sequences_dist_window_is_partitioned(spark, sf_dir):
    """VERDICT r1 #5: the distributed packing variant's running sum
    must be partitioned by shard (no 'No Partition Defined' window)."""
    from f1_realtime_data_pipeline_spark.plans.llm_star import t_pack_sequences_dist

    p = _plan(t_pack_sequences_dist(spark, sf_dir))
    assert "Window" in p
    assert "hashpartitioning(shard" in p


def test_round4_single_scan_plans(spark, sf_dir):
    """Round-4 scan discipline (VERDICT r3 #3/#4): the LSH near-dup
    detector materializes its (id, raw, unit) relation once — the
    audited plan re-reads NO parquet (the 3-way planted-union fixture
    previously re-scanned the source 12×); q1_standings reads the fact
    exactly once (points/wins/season-length fused into one conditional
    aggregation pass); and the skew profile's heavy-hitter pick is
    TakeOrderedAndProject over the key domain, with its rank window fed
    by the K-row limit, never the domain itself."""
    import re

    from f1_realtime_data_pipeline_spark.plans.contract_star import q1_standings
    from f1_realtime_data_pipeline_spark.plans.layout_ext import p_skew_profile
    from f1_realtime_data_pipeline_spark.plans.llm_star import e_cosine_neardup

    p = _plan(e_cosine_neardup(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 0

    p = _plan(q1_standings(spark, sf_dir))
    # exactly one parquet scan: the broadcast customer dim (the fact
    # itself is behind the eager checkpoint, already single-scanned)
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1

    p = _plan(p_skew_profile(spark, sf_dir))
    assert "TakeOrderedAndProject" in p


def test_round3_ops_plan_shapes(spark, sf_dir):
    """Round-3 operators: TF-IDF's top-k window is doc-partitioned
    (never global), chunking is map-only (no shuffle/window at all),
    the bloom probe has no crossjoin and no Python, and the near-dup
    detector plan stays LSH-shaped with the corpus-derived plane
    count."""
    from f1_realtime_data_pipeline_spark.plans.llm_ext import (
        t_chunk_overlap,
        t_contamination_bloom,
        t_tfidf_keywords,
    )

    p = _plan(t_tfidf_keywords(spark, sf_dir))
    assert "Window" in p and "hashpartitioning(doc_id" in p
    assert "CartesianProduct" not in p

    p = _plan(t_chunk_overlap(spark, sf_dir))
    assert "Exchange" not in p and "Window" not in p  # pure map stage

    p = _plan(t_contamination_bloom(spark, sf_dir))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_r6_selection_surface_stays_jvm_side(spark, sf_dir):
    # the r6 selection/audit plans: no cartesian products, no Python
    # row evaluation (m_image_ahash's ArrowEval map is the ONE
    # documented Python site and is asserted Arrow, not row-at-a-time)
    from f1_realtime_data_pipeline_spark.plans import selection_ext as sel
    from f1_realtime_data_pipeline_spark.plans.llm_star import m_image_ahash

    for fn in (
        sel.t_dsir_select,
        sel.t_priority_sample,
        sel.t_weighted_sample,
        sel.w_anomaly_mad,
        sel.t_heavy_hitters_cms,
        sel.t_sentence_chunk,
    ):
        p = _plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in p, fn.__name__
        assert "BatchEvalPython" not in p, fn.__name__
        assert "ArrowEvalPython" not in p, fn.__name__
    p = _plan(m_image_ahash(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p  # Arrow mapInPandas only


def test_priority_sample_is_take_ordered(spark, sf_dir):
    # the sampling ops must compile to TakeOrderedAndProject (local
    # k-heaps, no global sort) — the property that keeps them O(k)
    # memory at any corpus size
    from f1_realtime_data_pipeline_spark.plans import selection_ext as sel

    for fn in (sel.t_priority_sample, sel.t_weighted_sample):
        p = _plan(fn(spark, sf_dir))
        assert "TakeOrderedAndProject" in p, fn.__name__
        assert "Exchange rangepartitioning" not in p, fn.__name__


def test_spread_is_noop_when_already_parallel(spark):
    # the small-scan guard must add NOTHING for well-split inputs —
    # the contract that makes it free at 100 TB
    from f1_realtime_data_pipeline_spark.operators.materialize import spread

    par = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 10_000, numPartitions=par)
    assert spread(wide) is wide  # identical object: no plan change
    narrow = spark.range(0, 100, numPartitions=1)
    assert spread(narrow).rdd.getNumPartitions() == par


def test_theta_exact_mode_estimates_equal_exact(spark, sf_dir):
    # r12: theta sketches at lgK=12 are EXACT (no sampling) while the
    # set cardinality stays under the nominal 4096 entries — at sf0.01
    # every per-status custkey set is ~1.5k, so the audit's estimates
    # must EQUAL the inclusion-exclusion exact counts, not merely sit
    # inside the band. This pins the sketch plumbing (a wrong filter,
    # a swapped union/intersection) far harder than the ±5% band the
    # registered oracle asserts.
    from f1_realtime_data_pipeline_spark.plans.inventory_star import (
        a_theta_set_audit,
    )

    o = read_table(spark, sf_dir, "orders")
    urgent = F.when(F.col("o_orderpriority") == "1-URGENT", F.col("o_custkey"))
    high = F.when(F.col("o_orderpriority") == "2-HIGH", F.col("o_custkey"))
    g = o.groupBy("o_orderstatus").agg(
        F.theta_sketch_agg(urgent).alias("ska"),
        F.theta_sketch_agg(high).alias("skb"),
    )
    est = {
        r.o_orderstatus: (r.eu, r.ei, r.ed)
        for r in g.select(
            "o_orderstatus",
            F.theta_sketch_estimate(F.theta_union("ska", "skb")).alias("eu"),
            F.theta_sketch_estimate(F.theta_intersection("ska", "skb")).alias("ei"),
            F.theta_sketch_estimate(F.theta_difference("ska", "skb")).alias("ed"),
        ).collect()
    }
    exact = {
        r.o_orderstatus: (r.n_union, r.n_inter, r.n_diff)
        for r in a_theta_set_audit(spark, sf_dir).collect()
    }
    for status, (nu, ni, nd) in exact.items():
        assert nu < 4096, "fixture outgrew theta exact mode; move to sf0.001"
        assert est[status] == (nu, ni, nd)
    # and the registered audit's booleans are all TRUE here
    rows = a_theta_set_audit(spark, sf_dir).collect()
    assert all(
        r.union_within_5pct and r.inter_within_5pct and r.diff_within_5pct
        for r in rows
    )


def test_cms_merge_equals_global_exactly(spark, sf_dir):
    # r12: count-min merge is cell-wise ADDITION — the merged sketch's
    # estimate must equal the globally-built sketch's estimate for
    # EVERY top-k term (linearity, not a band). The registered oracle
    # hash-pins both columns; this pytest states the invariant
    # directly so a failure names it.
    from f1_realtime_data_pipeline_spark.plans.selection_ext import (
        t_cms_merge_audit,
    )

    for r in t_cms_merge_audit(spark, sf_dir).collect():
        assert r.n_cms_merged == r.n_cms, r.w
        assert r.n_cms >= r.n_exact  # CMS estimates are upper bounds


def test_kll_total_weight_deterministic_and_exact(spark, sf_dir):
    # r12: Spark's KLL sketch is RANDOMIZED (quantile estimates vary
    # across executions of the same data — measured), which is why
    # a_kll_merge_audit band-asserts ranks instead of emitting
    # estimates. The sketch's total weight n is NOT randomized: the
    # merged sketch must carry exactly count(*) rows per group, every
    # run — a dropped or double-merged shard breaks this before any
    # quantile is consulted.
    from f1_realtime_data_pipeline_spark.plans.inventory_star import (
        a_kll_merge_audit,
    )

    li = read_table(spark, sf_dir, "lineitem")
    exact = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag").agg(F.count("*").alias("n")).collect()
    }
    runs = []
    for _ in range(2):
        rows = a_kll_merge_audit(spark, sf_dir).collect()
        assert {r.l_returnflag: r.n_rows for r in rows} == exact
        assert all(r.n_shards == 8 for r in rows)
        assert all(
            r.p50_rank_within_3p5 and r.p99_rank_within_3p5 for r in rows
        )
        runs.append(
            sorted(
                (r.l_returnflag, r.p50_rank_within_3p5, r.p99_rank_within_3p5)
                for r in rows
            )
        )
    # VERDICT r12 #6: the emitted booleans must be IDENTICAL across
    # executions, not merely all-true per run — the query's one output
    # the randomized compaction sampling could in principle touch.
    assert runs[0] == runs[1]


def test_cdc_row_diff_classes_exact(spark, sf_dir):
    # r13: the registered CDC query's classification, pinned
    # structurally at sf0.001 — every emitted row's change_type must
    # agree with its orderkey%5 residue class, updates carry MUTATED
    # (+1.0) prices and deletes ORIGINAL prices (pre-images), and the
    # carried-over classes {1,3} never appear.
    from f1_realtime_data_pipeline_spark.plans.inventory_star import (
        cdc_row_diff,
    )

    src = {
        r.o_orderkey: r.o_totalprice
        for r in read_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 10 == 3)
        .select("o_orderkey", "o_totalprice")
        .collect()
    }
    rows = cdc_row_diff(spark, sf_dir).collect()
    by_class = {"insert": 4, "delete": 0, "update": 2}
    assert rows and {r.change_type for r in rows} == set(by_class)
    for r in rows:
        assert r.o_orderkey % 5 == by_class[r.change_type]
        expect = src[r.o_orderkey] + (1 if r.change_type == "update" else 0)
        assert r.o_totalprice == expect
    # completeness: every source key of the three changed classes
    # appears exactly once
    changed = {k for k in src if k % 5 in (0, 2, 4)}
    assert sorted(r.o_orderkey for r in rows) == sorted(changed)


def test_shared_cdc_table_cache_and_rebuild(spark, sf_dir):
    """r16 (VERDICT r15 #3): the four cdc_* consumers share ONE
    committed change-script table per (app, sf_dir). Pins: (1) two
    resolutions return the SAME path and v1 (cache hit — no second
    lifecycle); (2) deleting the directory (tmp sweep / a scale
    run's between-run scrub) forces a REBUILD at a fresh
    uuid path with the identical v1 version and identical read-back;
    (3) different sf_dir keys resolve independently."""
    import os
    import shutil

    from f1_realtime_data_pipeline_spark.plans.inventory_star import (
        _CDC_CACHE,
        shared_cdc_table,
    )
    from f1_realtime_data_pipeline_spark.sources import manifest as mf

    t1, v1, _ = shared_cdc_table(spark, sf_dir)
    t2, v2, _ = shared_cdc_table(spark, sf_dir)
    assert (t1, v1) == (t2, v2)
    latest, _ = mf.resolve_snapshot(spark, t1)
    rows_before = sorted(
        map(tuple, mf.read_snapshot(spark, t1).collect())
    )
    shutil.rmtree(os.path.dirname(t1), ignore_errors=True)
    t3, v3, _ = shared_cdc_table(spark, sf_dir)
    assert t3 != t1  # fresh uuid-keyed dir
    assert v3 == v1  # same deterministic change script → same v1
    assert sorted(
        map(tuple, mf.read_snapshot(spark, t3).collect())
    ) == rows_before
    # cache state reflects the rebuild
    key = (spark.sparkContext.applicationId, sf_dir)
    assert _CDC_CACHE[key][0] == t3


def test_compaction_exec_layout_and_reclaim(spark, sf_dir):
    # r13: o_compaction_exec's oracle proves VALUES; this pins the
    # LAYOUT claims — after compact + expire + vacuum, every bucket
    # resolves to exactly ONE data directory and the superseded
    # pre-compaction directories are physically gone from disk.
    import os

    from f1_realtime_data_pipeline_spark.plans.inventory_star import (
        o_compaction_exec,
    )
    from f1_realtime_data_pipeline_spark.sources import manifest as mf

    out = o_compaction_exec(spark, sf_dir)
    n = out.count()
    assert n == (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 10 == 7)
        .count()
    )
    from f1_realtime_data_pipeline_spark.plans import inventory_star

    # r14: the scratch dir is uuid-keyed per invocation (ADVICE r13);
    # the helper records the dir it handed the plan we just ran
    table = f"{inventory_star._LAST_SCRATCH['cpx']}/orders_compact"
    _, entries = mf.resolve_snapshot(spark, table)
    per_bucket: dict[int, set[str]] = {}
    for e in entries:
        per_bucket.setdefault(e["bucket"], set()).add(e["path"].split("/")[1])
    assert per_bucket and all(len(d) == 1 for d in per_bucket.values())
    # history expired to the single compacted version, and no
    # pre-compaction epoch dirs survive on disk (vacuum reclaimed them)
    assert len(mf.snapshot_versions(spark, table)) == 1
    live = {e["path"].split("/")[1] for e in entries}
    on_disk = set(os.listdir(f"{table}/data"))
    assert on_disk == live


def test_theta_est_audit_one_empty_set(spark, tmp_path):
    # ADVICE r13: with B (totalprice >= 120k) EMPTY while A is not,
    # B's column aggregates to a NULL theta sketch — the old single
    # n_a+n_b==0 guard let that NULL reach theta_union/intersection/
    # difference and could propagate NULL into the band booleans. The
    # per-set guards must instead short-circuit to the exact answers
    # an empty operand forces (union=A, inter=0, diff=A), keeping
    # every boolean a literal TRUE. 2000 keys > 1024 nominal also
    # keeps the estimating branch live on this synthetic slice.
    from f1_realtime_data_pipeline_spark.plans.inventory_star import (
        a_theta_est_audit,
    )

    rows = [
        (i, i % 7, "O", 60000.0 + (i % 50000), None, "1-URGENT")
        for i in range(1, 2001)
    ]
    schema = (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    )
    spark.createDataFrame(rows, schema).write.parquet(
        str(tmp_path / "orders.parquet")
    )
    row = a_theta_est_audit(spark, str(tmp_path)).collect()[0]
    assert row.n_a == 2000 and row.n_b == 0 and row.n_diff == 2000
    assert row.est_mode is True
    assert row.union_within_7p5 is True
    assert row.inter_within_7p5 is True
    assert row.diff_within_7p5 is True


def test_theta_est_audit_estimating_branch_exercised(spark, sf_dir):
    # r13: est_mode is conditional — vacuously true when set A fits the
    # sketch's 1024 nominal entries. Pin that the harness fixtures
    # exercise the ESTIMATING branch (n_a > 1024 and the estimate
    # actually differs from exact), so a fixture shrink can't silently
    # turn the proof vacuous.
    from f1_realtime_data_pipeline_spark.plans.inventory_star import (
        a_theta_est_audit,
    )

    row = a_theta_est_audit(spark, sf_dir).collect()[0]
    assert row.n_a > 1024, "fixture too small: est_mode proof is vacuous"
    assert row.est_mode and row.union_within_7p5
    assert row.inter_within_7p5 and row.diff_within_7p5


def test_corr_regr_matches_numpy(spark, sf_dir):
    # r13: third-implementation cross-check — the decimal-moment
    # closed forms must agree with numpy's corrcoef/polyfit on the
    # same rows (tolerance 1e-4: the query rounds to 5 decimals).
    import numpy as np

    from f1_realtime_data_pipeline_spark.plans.inventory_star import (
        a_corr_regr,
    )

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    by_flag: dict[str, list[tuple[float, float]]] = {}
    for r in li.collect():
        by_flag.setdefault(r.l_returnflag, []).append(
            (r.l_quantity, r.l_extendedprice)
        )
    for row in a_corr_regr(spark, sf_dir).collect():
        xs, ys = zip(*by_flag[row.l_returnflag])
        x, y = np.array(xs, float), np.array(ys, float)
        assert row.n == len(xs)
        assert abs(row.corr_qty_price - np.corrcoef(x, y)[0, 1]) < 1e-4
        slope, intercept = np.polyfit(x, y, 1)
        assert abs(row.regr_slope - slope) < 1e-4 * max(1, abs(slope))
        assert abs(row.regr_intercept - intercept) < 1e-4 * max(
            1, abs(intercept)
        )


def test_schema_evolution_backfills_nulls(spark, tmp_path):
    """r16 evolution contract: epoch 0 commits without the priority
    column, epoch 1 adds it — the merged-schema read surfaces NULL for
    epoch-0 rows and the real value for epoch-1 rows, with no rewrite
    of epoch-0 files."""
    from f1_realtime_data_pipeline_spark.plans.inventory_star import (
        o_schema_evolution,
    )

    rows = [(k, 5, float(k) * 10, f"P{k}") for k in (1, 2, 3, 4)]
    spark.createDataFrame(
        rows,
        "o_orderkey bigint, o_custkey bigint, o_totalprice double, "
        "o_orderpriority string",
    ).toPandas().to_parquet(str(tmp_path / "orders.parquet"), index=False)
    out = {r.o_orderkey: r
           for r in o_schema_evolution(spark, str(tmp_path)).collect()}
    assert set(out) == {1, 2, 3, 4}
    for k in (2, 4):   # narrow epoch: column backfills as NULL
        assert out[k].o_orderpriority is None
    for k in (1, 3):   # wide epoch: the committed value survives
        assert out[k].o_orderpriority == f"P{k}"
    assert all(out[k].o_totalprice == k * 10 for k in out)
