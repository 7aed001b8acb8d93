"""CDF consumption queries (plans/cdf_ext.py) — registered r15.

The maintenance invariants the oracle alone can't isolate (frame
signs, group drops). Both queries' values are checked against their
DuckDB twins by the oracle-parity gate (tests/test_oracle_parity.py).
"""

from __future__ import annotations

import duckdb
import pandas as pd

from f1_realtime_data_pipeline_spark.plans import cdf_ext as cx


def _orders_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * "
        f"FROM read_parquet('{sf_dir}/orders.parquet')"
    )
    return con


def _compare(sdf: pd.DataFrame, odf: pd.DataFrame) -> None:
    assert sorted(sdf.columns) == sorted(odf.columns)
    cols = sorted(sdf.columns)
    s = sdf.reindex(cols, axis=1).sort_values(by=cols, na_position="last").reset_index(drop=True)
    o = odf.reindex(cols, axis=1).sort_values(by=cols, na_position="last").reset_index(drop=True)
    pd.testing.assert_frame_equal(s, o, check_dtype=False)


def test_cdf_image_frame_invariants(spark, sf_dir):
    img = cx.cdc_row_images(spark, sf_dir).toPandas()
    by = {t: g for t, g in img.groupby("change_type")}
    # update frames pair exactly: same keys, pre holds the original
    # price, post = pre + 1 keyed row-for-row
    pre = by["update_pre"].set_index("o_orderkey").sort_index()
    post = by["update_post"].set_index("o_orderkey").sort_index()
    assert list(pre.index) == list(post.index)
    assert (post["o_totalprice"] - pre["o_totalprice"] == 1.0).all()
    # frames are disjoint by (key, type-class): an inserted key is
    # never deleted or updated in this script
    ins = set(by["insert"]["o_orderkey"])
    dele = set(by["delete"]["o_orderkey"])
    upd = set(pre.index)
    assert not (ins & dele) and not (ins & upd) and not (dele & upd)


def test_cdf_maintained_agg_matches_direct(spark, sf_dir):
    # the maintained aggregate equals a direct aggregate of the final
    # snapshot — recomputed here via the oracle's final-state SQL
    got = cx.cdc_incremental_agg(spark, sf_dir).toPandas()
    want = _orders_con(sf_dir).execute(
        cx.ORACLE["cdc_incremental_agg"]
    ).fetchdf()
    _compare(got, want)
    # sanity: the count column is the maintained (v1 ± deltas) path,
    # so every group that survived must be positive
    assert (got["n_orders"] > 0).all()


def test_table_checksum_properties(spark, sf_dir, tmp_path):
    base = cx.p_table_checksum(spark, sf_dir).toPandas()
    # partition-order invariance: same table through a different
    # physical layout folds to the identical checksums
    import pyarrow.parquet as pq

    src = f"{sf_dir}/orders.parquet"
    alt = tmp_path / "perm"
    alt.mkdir()
    t = pq.read_table(src).to_pandas().sample(frac=1, random_state=7)
    t.to_parquet(str(alt / "orders.parquet"), index=False)
    perm = cx.p_table_checksum(spark, str(alt)).toPandas()
    pd.testing.assert_frame_equal(
        base.reset_index(drop=True), perm.reset_index(drop=True), check_dtype=False
    )
    # sensitivity: one flipped cent in one row changes that group's
    # xor_hash AND sum_mod while every other group is untouched
    mut_dir = tmp_path / "mut"
    mut_dir.mkdir()
    t2 = pq.read_table(src).to_pandas()
    t2.loc[0, "o_totalprice"] = t2.loc[0, "o_totalprice"] + 0.01
    hit = t2.loc[0, "o_orderpriority"]
    t2.to_parquet(str(mut_dir / "orders.parquet"), index=False)
    mut = cx.p_table_checksum(spark, str(mut_dir)).toPandas()
    b = base.set_index("o_orderpriority")
    m = mut.set_index("o_orderpriority")
    assert m.loc[hit, "xor_hash"] != b.loc[hit, "xor_hash"]
    assert m.loc[hit, "sum_mod"] != b.loc[hit, "sum_mod"]
    assert (m.loc[hit, "n_rows"] == b.loc[hit, "n_rows"])
    others = [p for p in b.index if p != hit]
    pd.testing.assert_frame_equal(b.loc[others], m.loc[others], check_dtype=False)
    # the two-fold rationale: duplicating one row an even number of
    # times cancels in XOR (blind) but moves sum_mod and n_rows — the
    # documented reason BOTH folds are kept
    dup_dir = tmp_path / "dup"
    dup_dir.mkdir()
    t3 = pq.read_table(src).to_pandas()
    t3 = pd.concat([t3, t3.iloc[[0]], t3.iloc[[0]]], ignore_index=True)
    hit3 = t3.loc[0, "o_orderpriority"]
    t3.to_parquet(str(dup_dir / "orders.parquet"), index=False)
    dupdf = cx.p_table_checksum(spark, str(dup_dir)).toPandas().set_index("o_orderpriority")
    assert dupdf.loc[hit3, "xor_hash"] == b.loc[hit3, "xor_hash"]
    assert dupdf.loc[hit3, "sum_mod"] != b.loc[hit3, "sum_mod"]
    assert dupdf.loc[hit3, "n_rows"] == b.loc[hit3, "n_rows"] + 2


def test_minmax_maintenance_path_split(spark, sf_dir):
    # every maintenance path has its own cohort row: 1/3 purely
    # incremental from v1 (untouched -> recomputed_group 0), 4
    # additive-only inserts (0), 2 removal-affected (recomputed, 1),
    # 0 dropped entirely (all rows deleted -> absent). The values must
    # equal the direct recompute regardless of path.
    out = cx.cdc_incremental_minmax(spark, sf_dir).toPandas().set_index(
        "change_cohort"
    )
    assert sorted(out.index) == [1, 2, 3, 4]
    assert out.loc[2, "recomputed_group"] == 1
    assert [out.loc[c, "recomputed_group"] for c in (1, 3, 4)] == [0, 0, 0]
    # direct recompute of the final state, straight from source
    import pyspark.sql.functions as F

    from f1_realtime_data_pipeline_spark.sources.parquet import read_table

    src = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 10 == 3)
        .select("o_orderkey", "o_totalprice")
        .withColumn("c", F.pmod("o_orderkey", F.lit(5)))
    )
    direct = (
        src.filter(F.col("c").isin(1, 3, 4))
        .select("c", "o_totalprice")
        .unionByName(
            src.filter(F.col("c") == 2).select(
                "c", (F.col("o_totalprice") + 1).alias("o_totalprice")
            )
        )
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("n"), F.max("o_totalprice").alias("mx"))
        .toPandas()
        .set_index("c")
    )
    for c in (1, 2, 3, 4):
        assert out.loc[c, "n_orders"] == direct.loc[c, "n"]
        assert out.loc[c, "max_price"] == direct.loc[c, "mx"]
