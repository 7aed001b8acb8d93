"""Graph analytics (operators/graph.py + plans/graph_ext.py).

graph_ext registered in r15; this file stays its pytest-side
oracle gate: the same DuckDB comparison the driver runs, plus
hand-computed fixed-point unit cases the fixtures can't pin.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from f1_realtime_data_pipeline_spark.operators.graph import (
    RANK_SCALE,
    pagerank,
)
from f1_realtime_data_pipeline_spark.plans import graph_ext as gx


def _ranks(df) -> dict[int, int]:
    return {r.node: r.rank for r in df.collect()}


def test_pagerank_two_node_cycle_hand_computed(spark):
    # A <-> B: deg 1 each, rank exchange is symmetric so both stay at
    # base + 85% of the other's full rank. Hand-unrolled fixed point:
    # r0 = S; r1 = 0.15*S + 0.85*S = S (exactly, integer: 15*S//100
    # truncates nothing at S=1e9); the cycle is a fixed point.
    edges = spark.createDataFrame([(1, 2), (2, 1)], "src bigint, dst bigint")
    base = 15 * RANK_SCALE // 100
    want = base + 85 * RANK_SCALE // 100
    for iters in (1, 3):
        got = _ranks(pagerank(edges, iters=iters))
        assert got == {1: want, 2: want}


def test_pagerank_star_hand_computed(spark):
    # 1→3, 2→3 (3 dangling). After one round:
    #   r(1) = r(2) = base (no in-edges)
    #   r(3) = base + 85 * (S//1 + S//1) // 100
    # After two rounds the spokes still hold base; the hub's inflow is
    # now 2*base (the spokes' round-1 rank), its own mass DROPPED
    # (dangling contract: 3 has no out-edges).
    edges = spark.createDataFrame([(1, 3), (2, 3)], "src bigint, dst bigint")
    S = RANK_SCALE
    base = 15 * S // 100
    r1 = _ranks(pagerank(edges, iters=1))
    assert r1 == {1: base, 2: base, 3: base + (85 * 2 * S) // 100}
    r2 = _ranks(pagerank(edges, iters=2))
    assert r2 == {1: base, 2: base, 3: base + (85 * 2 * base) // 100}


def test_pagerank_multi_edge_is_weighted(spark):
    # src 1 links 2 twice and 3 once: out_deg counts edge ROWS (=3),
    # dst 2 receives two shares, dst 3 one — the weighted contract.
    edges = spark.createDataFrame(
        [(1, 2), (1, 2), (1, 3)], "src bigint, dst bigint"
    )
    S = RANK_SCALE
    base = 15 * S // 100
    got = _ranks(pagerank(edges, iters=1))
    assert got[2] == base + (85 * 2 * (S // 3)) // 100
    assert got[3] == base + (85 * (S // 3)) // 100


def test_pagerank_iters_zero_and_validation(spark):
    edges = spark.createDataFrame([(1, 2)], "src bigint, dst bigint")
    assert _ranks(pagerank(edges, iters=0)) == {1: RANK_SCALE, 2: RANK_SCALE}
    with pytest.raises(ValueError):
        pagerank(edges, iters=-1)
    # ADVICE r15: damping_pct=0 / scale=0 previously reached the
    # headroom guard's divisor as 0 and raised a bare
    # ZeroDivisionError; both must fail as contract errors instead.
    with pytest.raises(ValueError, match="damping_pct"):
        pagerank(edges, iters=1, damping_pct=0)
    with pytest.raises(ValueError, match="damping_pct"):
        pagerank(edges, iters=1, damping_pct=100)
    with pytest.raises(ValueError, match="scale"):
        pagerank(edges, iters=1, scale=0)


def test_pagerank_bigint_headroom_guard(spark):
    # N * scale * damping_pct must stay < 2^63; a scale chosen so the
    # 2-node fixture already exceeds the bound must be refused (the
    # silent alternative is wraparound corrupting every rank). The
    # message points at the remedy (smaller scale).
    edges = spark.createDataFrame([(1, 2)], "src bigint, dst bigint")
    too_big = (2**63 - 1) // 85  # bound becomes 1 node < 2 nodes
    with pytest.raises(ValueError, match="headroom"):
        pagerank(edges, iters=1, scale=too_big)
    # at the default scale the same graph is fine
    assert len(_ranks(pagerank(edges, iters=1))) == 2


def test_pagerank_stats_and_empty_graph(spark):
    stats: dict = {}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src bigint, dst bigint"
    )
    out = pagerank(edges, iters=2, stats=stats)
    assert stats == {"n_edges": 3, "n_nodes": 3, "iters": 2}
    assert out.count() == 3
    empty = edges.filter(F.lit(False))
    assert pagerank(empty, iters=2).count() == 0


def _oracle_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in ("orders", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * "
            f"FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


@pytest.mark.parametrize("name", ["g_pagerank", "g_degree_stats"])
def test_graph_ext_oracle_parity(spark, sf_dir, name):
    # the driver's comparison, run here until the module registers in
    # r15: row count, column names, exact values (order-insensitive).
    sdf = gx.QUERIES[name](spark, sf_dir).toPandas()
    odf = _oracle_con(sf_dir).execute(gx.ORACLE[name]).fetchdf()
    assert sorted(sdf.columns) == sorted(odf.columns)
    s = sdf.reindex(sorted(sdf.columns), axis=1).sort_values(
        by=sorted(sdf.columns)
    ).reset_index(drop=True)
    o = odf.reindex(sorted(odf.columns), axis=1).sort_values(
        by=sorted(odf.columns)
    ).reset_index(drop=True)
    pd.testing.assert_frame_equal(s, o, check_dtype=False)


def test_g_pagerank_shape_contracts(spark, sf_dir):
    out = gx.g_pagerank(spark, sf_dir).toPandas()
    assert len(out) == gx.PR_TOPK
    # ranks strictly ordered desc with node tie-break ⇒ deterministic
    assert list(out["rank"]) == sorted(out["rank"], reverse=True)
    assert set(out["kind"]) <= {"customer", "supplier"}
    # parity decode roundtrip: node = 2*key (+1 for suppliers)
    cust = out[out["kind"] == "customer"]
    assert (cust["node"] == cust["entity_key"] * 2).all()
    supp = out[out["kind"] == "supplier"]
    assert (supp["node"] == supp["entity_key"] * 2 + 1).all()


def _cn_fixture(spark, tmp_path, rows):
    """orders/lineitem parquet from (custkey, suppkey) pairs — one
    order per pair keeps the derivation trivial."""
    orders = [(i, c) for i, (c, _) in enumerate(rows)]
    lines = [(i, s) for i, (_, s) in enumerate(rows)]
    spark.createDataFrame(
        orders, "o_orderkey bigint, o_custkey bigint"
    ).toPandas().to_parquet(str(tmp_path / "orders.parquet"), index=False)
    spark.createDataFrame(
        lines, "l_orderkey bigint, l_suppkey bigint"
    ).toPandas().to_parquet(str(tmp_path / "lineitem.parquet"), index=False)
    return str(tmp_path)


def test_common_neighbors_hand_computed(spark, tmp_path):
    # c1:{s1,s2} c2:{s1,s2} c3:{s1,s3} — (s1,s2) shared=2 with
    # deg(s1)=3, deg(s2)=2 -> 2e6 // 3 = 666666 ppm; (s1,s3) shared=1
    # -> 1e6 // 3 = 333333 ppm; (s2,s3) share nothing and must be
    # ABSENT (retrieval returns co-occurring pairs only).
    d = _cn_fixture(
        spark, tmp_path,
        [(1, 1), (1, 2), (2, 1), (2, 2), (3, 1), (3, 3)],
    )
    out = {(r.supp_a, r.supp_b): r for r in gx.g_common_neighbors(spark, d).collect()}
    assert set(out) == {(1, 2), (1, 3)}
    assert out[(1, 2)].shared == 2 and out[(1, 2)].jaccard_ppm == 666666
    assert out[(1, 3)].shared == 1 and out[(1, 3)].jaccard_ppm == 333333
    # pair ordering contract: a < b always
    assert all(a < b for a, b in out)


def test_common_neighbors_fanout_cap_binds(spark, tmp_path, monkeypatch):
    # one hub customer with 4 suppliers; cap=2 keeps only the two
    # SMALLEST suppkeys (deterministic), so pairs among {3,4} or
    # crossing them must not appear and degrees reflect the cap.
    monkeypatch.setattr(gx, "CN_FANOUT_CAP", 2)
    d = _cn_fixture(
        spark, tmp_path,
        [(1, 1), (1, 2), (1, 3), (1, 4), (2, 1), (2, 2)],
    )
    out = {(r.supp_a, r.supp_b): r for r in gx.g_common_neighbors(spark, d).collect()}
    assert set(out) == {(1, 2)}
    assert out[(1, 2)].shared == 2
    assert out[(1, 2)].deg_a == 2 and out[(1, 2)].deg_b == 2


# ---------------------------------------------------------------------------
# HITS (r16)
# ---------------------------------------------------------------------------


def test_hits_hand_computed(spark):
    """Three L∞-normalized rounds on a 2-hub/2-authority bipartite
    graph, every intermediate hand-derived (scale=1e6):
    h3 = {1: 615384, 2: 1e6}; a3 = {10: 1e6, 11: 619047}."""
    from f1_realtime_data_pipeline_spark.operators.graph import hits

    edges = spark.createDataFrame(
        [(1, 10), (2, 10), (2, 11)], "src bigint, dst bigint"
    )
    out = {r.node: (r.hub, r.auth) for r in hits(edges, iters=3).collect()}
    assert out == {
        1: (615384, 0),
        2: (1_000_000, 0),
        10: (0, 1_000_000),
        11: (0, 619047),
    }


def test_hits_validation_and_degenerate(spark):
    from f1_realtime_data_pipeline_spark.operators.graph import hits

    edges = spark.createDataFrame([(1, 10)], "src bigint, dst bigint")
    with pytest.raises(ValueError, match="iters"):
        hits(edges, iters=-1)
    with pytest.raises(ValueError, match="scale"):
        hits(edges, iters=1, scale=0)
    # degree bound: a scale so large one edge exceeds the BIGINT
    # headroom must refuse with the remedy in the message
    with pytest.raises(ValueError, match="scale"):
        hits(edges, iters=1, scale=2**32)
    # iters=0: both sides at the initial scale, zero cross-scores
    stats: dict = {}
    out = {r.node: (r.hub, r.auth)
           for r in hits(edges, iters=0, stats=stats).collect()}
    assert out == {1: (1_000_000, 0), 10: (0, 1_000_000)}
    assert stats == {"n_edges": 1, "deg_max": 1, "iters": 0}
    # empty graph: empty result, no division ever evaluated
    assert hits(edges.filter(F.lit(False)), iters=2).count() == 0


def test_g_hits_shape(spark, sf_dir):
    # values are checked against the DuckDB twin by the oracle-parity
    # gate (tests/test_oracle_parity.py); this pins the shape contract:
    # exactly 10 hubs (customers) + 10 authorities (suppliers); per-side
    # max score is exactly the scale after a full round
    sdf = gx.QUERIES["g_hits"](spark, sf_dir).toPandas()
    kinds = sdf.groupby("kind")["score"].agg(["count", "max"])
    assert kinds.loc["hub", "count"] == 10
    assert kinds.loc["authority", "count"] == 10
    assert kinds.loc["hub", "max"] == 1_000_000
    assert kinds.loc["authority", "max"] == 1_000_000


def test_triangles_hand_computed(spark, tmp_path):
    """r16 triangle/kNN graph: customers c1,c2 buy {10,11,12} (every
    pair shares 2 -> triangle), c3,c4 buy {12,13} (edge 12-13). kNN
    cap (K=8) keeps everything. deg = 10:2, 11:2, 12:3, 13:1 ->
    wedges = 1+1+3+0 = 5, triangles = 1, closed = 3e6 // 5."""
    rows = []
    for c in (1, 2):
        rows += [(c, 10), (c, 11), (c, 12)]
    for c in (3, 4):
        rows += [(c, 12), (c, 13)]
    d = _cn_fixture(spark, tmp_path, rows)
    out = gx.g_triangles(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_nodes, r.n_edges, r.n_wedges, r.n_triangles) == (4, 4, 5, 1)
    assert r.closed_ppm == 3_000_000 // 5


def test_triangles_knn_cap_binds(spark, tmp_path, monkeypatch):
    """With TRI_KNN_K=1 every node keeps only its single most-similar
    partner, so the 3-clique (each pair shared=2, ties by id) thins to
    edges selected by either endpoint: 10->11, 11->10, 12->10 (and
    13's best is 12) -> und = {(10,11), (10,12), (12,13)}: a path, no
    triangle, and no node has degree > 2."""
    monkeypatch.setattr(gx, "TRI_KNN_K", 1)
    rows = []
    for c in (1, 2):
        rows += [(c, 10), (c, 11), (c, 12)]
    for c in (3, 4):
        rows += [(c, 12), (c, 13)]
    d = _cn_fixture(spark, tmp_path, rows)
    r = gx.g_triangles(spark, d).collect()[0]
    assert r.n_triangles == 0
    assert r.n_edges == 3


def test_kcore_trim_hand_computed(spark, tmp_path, monkeypatch):
    """r16 k-core peel at K=2 on a hand-built graph: triangle 10-11-12
    (deg 2 each, after 12-13 edge deg(12)=3) + pendant 13 (deg 1).
    Round 1 peels 13 -> triangle remains (3 edges); rounds 2-3 peel
    nothing (the triangle IS the 2-core)."""
    monkeypatch.setattr(gx, "KCORE_K", 2)
    rows = []
    for c in (1, 2):
        rows += [(c, 10), (c, 11), (c, 12)]
    for c in (3, 4):
        rows += [(c, 12), (c, 13)]
    d = _cn_fixture(spark, tmp_path, rows)
    out = [(r.round, r.n_removed, r.n_edges_after)
           for r in gx.g_kcore_trim(spark, d).collect()]
    assert out == [(1, 1, 3), (2, 0, 3), (3, 0, 3)]


def test_kcore_trim_cascade(spark, tmp_path, monkeypatch):
    """A path graph cascades: 10-11-12-13 (via shared customers) at
    K=2 — endpoints (deg 1) peel in round 1, leaving edge 11-12 whose
    endpoints now have deg 1 -> round 2 peels both, round 3 empty."""
    monkeypatch.setattr(gx, "KCORE_K", 2)
    rows = []
    for c, (s1, s2) in zip((1, 2), [(10, 11), (10, 11)]):
        rows += [(c, s1), (c, s2)]
    for c, (s1, s2) in zip((3, 4), [(11, 12), (11, 12)]):
        rows += [(c, s1), (c, s2)]
    for c, (s1, s2) in zip((5, 6), [(12, 13), (12, 13)]):
        rows += [(c, s1), (c, s2)]
    d = _cn_fixture(spark, tmp_path, rows)
    out = [(r.round, r.n_removed, r.n_edges_after)
           for r in gx.g_kcore_trim(spark, d).collect()]
    assert out == [(1, 2, 1), (2, 2, 0), (3, 0, 0)]


def test_label_prop_matches_python_model(spark, tmp_path):
    """r16 s2 LPA on a barbell graph (two triangles bridged by one
    edge) vs a sequential synchronous-LPA Python model over the SAME
    edge set — and the two triangles must keep distinct communities
    (the property that separates LPA from the min-label CC rule,
    which would merge the whole component)."""
    from collections import defaultdict

    tri1 = [(10, 11), (10, 12), (11, 12)]
    tri2 = [(20, 21), (20, 22), (21, 22)]
    bridge = [(12, 20)]
    edges = tri1 + tri2 + bridge
    rows = []
    cust = 0
    for a, b in edges:
        for _ in range(gx.TRI_MIN_SHARED):
            cust += 1
            rows += [(cust, a), (cust, b)]
    d = _cn_fixture(spark, tmp_path, rows)

    got = {
        r.node: r.community for r in gx.g_label_prop(spark, d).collect()
    }

    adj = defaultdict(list)
    for a, b in edges:
        adj[a].append(b)
        adj[b].append(a)
    labels = {v: v for v in adj}
    for _ in range(gx.LPA_ROUNDS):
        new = {}
        for v in adj:
            cnt = defaultdict(int)
            for n in adj[v]:
                cnt[labels[n]] += 1
            new[v] = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
        labels = new
    assert got == labels
    assert len({got[v] for v in (10, 11, 12)} & {got[v] for v in (20, 21, 22)}) == 0
