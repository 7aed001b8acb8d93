"""Operator-inventory queries (SURVEY.md §2), one oracle-checked entry
per operator family, over the driver's star schema.

Naming: ``p_*`` projection/scalar (§2.2, §2.7), ``f_*`` filters,
``j_*`` joins (§2.3), ``a_*`` aggregations (§2.4), ``o_*``
sort/limit/rank/window (§2.5), ``s_*`` set ops (§2.6).

Every query aliases its computed columns identically in the DataFrame
plan and the DuckDB SQL (driver compares by sorted column name), uses
explicit total orders wherever a winner is picked (§3.4 tie-break
hazard), and routes double sums through exact decimals
(``operators.aggregations``) so a 1000-partition shuffle cannot drift
from the oracle's addition order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from f1_realtime_data_pipeline_spark.functions.points import (
    points_case_sql,
    points_for_position,
)
from f1_realtime_data_pipeline_spark.operators.aggregations import (
    DECIMAL_ACC,
    argmax_per_group,
    decimal_avg,
    decimal_avg_sql,
    decimal_sum,
    decimal_sum_sql,
    dedup_first_wins,
)
from f1_realtime_data_pipeline_spark.operators.materialize import materialize
from f1_realtime_data_pipeline_spark.operators.joins import (
    anti,
    broadcast_enrich,
    lookup_with_default,
    semi,
)
from f1_realtime_data_pipeline_spark.operators.sorts import (
    ranked,
    topk_global,
    topk_per_group,
)
from f1_realtime_data_pipeline_spark.plans.contract_star import race_fact
from f1_realtime_data_pipeline_spark.sources.parquet import read_table

QUERIES: dict = {}
ORACLE: dict[str, str] = {}


def _register(name: str, fn, sql: str | None) -> None:
    QUERIES[name] = fn
    if sql is not None:
        ORACLE[name] = sql


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# §2.2 projection / scalar expressions
# --------------------------------------------------------------------------


def p_project_rename(spark, sf_dir):
    """P13 projection/rename + P10 arithmetic: pure map-side, no shuffle."""
    return _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_linenumber").alias("line_no"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
    )


_register(
    "p_project_rename",
    p_project_rename,
    """SELECT l_orderkey AS order_id, l_linenumber AS line_no,
       l_extendedprice * (1 - l_discount) AS revenue
FROM lineitem""",
)


def p_json_extract(spark, sf_dir):
    """P2 JSON parse: get_json_object stays JVM-side (no UDF).
    try_cast, not cast (r8 ANSI sweep): one malformed props.k would
    otherwise kill the job under Spark 4's default ANSI mode;
    malformed → NULL in BOTH engines (TRY_CAST twin)."""
    return _t(spark, sf_dir, "events").select(
        "event_id",
        F.get_json_object("props", "$.k").try_cast("int").alias("k"),
    )


_register(
    "p_json_extract",
    p_json_extract,
    """SELECT event_id, TRY_CAST(json_extract_string(props, '$.k') AS INT) AS k
FROM events""",
)


def p_to_json(spark, sf_dir):
    """P12 JSON serialize: to_json(struct(...)) — the Kafka-sink payload
    shape (kafka_producer.py:148) as a batch expression."""
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.to_json(F.struct("o_orderkey", "o_orderstatus")).alias("payload"),
    )


_register(
    "p_to_json",
    p_to_json,
    """SELECT o_orderkey,
       CAST(to_json(struct_pack(o_orderkey := o_orderkey, o_orderstatus := o_orderstatus)) AS VARCHAR) AS payload
FROM orders""",
)


def p_case_points(spark, sf_dir):
    """P4 CASE ladder over the race analog, pre-filter — exercises the
    NULL->0 and >10->0 branches the contract queries filter away."""
    return race_fact(spark, sf_dir).select(
        "driver_number",
        "grand_prix",
        "position",
        points_for_position("position").alias("points"),
    )


_register(
    "p_case_points",
    p_case_points,
    f"""SELECT o_custkey AS driver_number,
       strftime(o_orderdate, '%Y-%m') AS grand_prix,
       CASE WHEN o_orderstatus = 'P' THEN NULL
            ELSE CAST(o_orderkey % 25 + 1 AS INT) END AS position,
       {points_case_sql("(CASE WHEN o_orderstatus = 'P' THEN NULL ELSE CAST(o_orderkey % 25 + 1 AS INT) END)")} AS points
FROM orders""",
)


def p_string_funcs(spark, sf_dir):
    """§2.7 string surface: upper/lower/length/substring/replace/lpad/concat.

    Deliberately exercises the ENGINE's native upper/lower (the §2.7
    function demo, not the corpus contract): on non-ASCII input
    Spark's full-Unicode casing and DuckDB's simple mapping diverge
    (İ, final sigma — r9 unicode sweep), so cross-engine parity here
    is pinned to the ASCII domain its TPC-H inputs guarantee. The
    corpus-pipeline contract (tokens/normalize/bpe_ish) folds via
    ``functions.text.ascii_lower`` instead, which is codepoint-exact
    in both engines on ANY input."""
    return _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.length("c_name").alias("name_len"),
        F.substring("c_name", 10, 6).alias("name_mid"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Driver")).alias("name_repl"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("key_pad"),
        F.concat_ws("-", "c_mktsegment", "c_name").alias("seg_name"),
    )


_register(
    "p_string_funcs",
    p_string_funcs,
    """SELECT c_custkey,
       upper(c_name) AS name_upper,
       lower(c_mktsegment) AS seg_lower,
       length(c_name) AS name_len,
       substring(c_name, 10, 6) AS name_mid,
       replace(c_name, 'Customer', 'Driver') AS name_repl,
       lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_pad,
       concat_ws('-', c_mktsegment, c_name) AS seg_name
FROM customer""",
)


def p_datetime_funcs(spark, sf_dir):
    """§2.7 date/time surface (P5 family): extract + truncate."""
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.quarter("o_orderdate").alias("qtr"),
        F.month("o_orderdate").alias("mth"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.weekday("o_orderdate").alias("wd_mon0"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("ymd"),
    )


_register(
    "p_datetime_funcs",
    p_datetime_funcs,
    """SELECT o_orderkey,
       CAST(year(o_orderdate) AS INT) AS yr,
       CAST(quarter(o_orderdate) AS INT) AS qtr,
       CAST(month(o_orderdate) AS INT) AS mth,
       CAST(day(o_orderdate) AS INT) AS dom,
       CAST(isodow(o_orderdate) - 1 AS INT) AS wd_mon0,
       date_trunc('month', o_orderdate) AS month_start,
       strftime(o_orderdate, '%Y-%m-%d') AS ymd
FROM orders""",
)


def p_math_funcs(spark, sf_dir):
    """§2.7 math surface: IEEE-exact ops only (no libm drift vs oracle)."""
    return _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.floor("l_extendedprice").cast("bigint").alias("price_floor"),
        F.ceil("l_extendedprice").cast("bigint").alias("price_ceil"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        F.pow(F.col("l_tax"), 2).alias("tax_sq"),
    )


_register(
    "p_math_funcs",
    p_math_funcs,
    """SELECT l_orderkey, l_linenumber,
       abs(l_discount - 0.05) AS disc_dev,
       CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
       CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
       sqrt(l_quantity) AS qty_sqrt,
       power(l_tax, 2) AS tax_sq
FROM lineitem""",
)


def p_coalesce_nullif(spark, sf_dir):
    """P11 coalesce-for-display + nullif (the 'N/A' / 'Inconnu' pattern)."""
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("IN_PROGRESS")).alias(
            "status_display"
        ),
    )


_register(
    "p_coalesce_nullif",
    p_coalesce_nullif,
    """SELECT o_orderkey,
       COALESCE(NULLIF(o_orderstatus, 'P'), 'IN_PROGRESS') AS status_display
FROM orders""",
)


# --------------------------------------------------------------------------
# §2.2 filters (P6-P9)
# --------------------------------------------------------------------------


def f_predicates(spark, sf_dir):
    """P7/P8 equality + IN + BETWEEN + LIKE, all pushed to the parquet scan."""
    o = _t(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderstatus").isin("O", "F")
        & F.col("o_totalprice").between(1000.0, 50000.0)
        & F.col("o_orderpriority").like("%URGENT%")
    ).select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")


_register(
    "f_predicates",
    f_predicates,
    """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
FROM orders
WHERE o_orderstatus IN ('O', 'F')
  AND o_totalprice BETWEEN 1000.0 AND 50000.0
  AND o_orderpriority LIKE '%URGENT%'""",
)


def f_distinct_not_null(spark, sf_dir):
    """P9: null-drop + distinct projection (the GP-picker query)."""
    return (
        _t(spark, sf_dir, "customer")
        .select("c_mktsegment")
        .where(F.col("c_mktsegment").isNotNull())
        .distinct()
    )


_register(
    "f_distinct_not_null",
    f_distinct_not_null,
    "SELECT DISTINCT c_mktsegment FROM customer WHERE c_mktsegment IS NOT NULL",
)


def f_regexp(spark, sf_dir):
    """Regex filter + extract (simple portable patterns only)."""
    return (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_name").rlike("[02468]$"))
        .select(
            "c_custkey",
            F.regexp_extract("c_name", "#0*([1-9][0-9]*)", 1).alias("key_digits"),
        )
    )


_register(
    "f_regexp",
    f_regexp,
    """SELECT c_custkey, regexp_extract(c_name, '#0*([1-9][0-9]*)', 1) AS key_digits
FROM customer WHERE regexp_matches(c_name, '[02468]$')""",
)


# --------------------------------------------------------------------------
# §2.3 joins
# --------------------------------------------------------------------------


def j_left_enrich(spark, sf_dir):
    """J1: fact ⋈ broadcast(dim) left-outer, misses kept with defaults."""
    o = _t(spark, sf_dir, "orders")
    dim = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    out = broadcast_enrich(o, dim, o.o_custkey == dim.c_custkey, "left")
    return out.select(
        "o_orderkey",
        "o_custkey",
        F.coalesce("c_name", F.lit("Inconnu")).alias("cust_name"),
        F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("segment"),
    )


_register(
    "j_left_enrich",
    j_left_enrich,
    """SELECT o_orderkey, o_custkey,
       COALESCE(c_name, 'Inconnu') AS cust_name,
       COALESCE(c_mktsegment, 'UNKNOWN') AS segment
FROM orders LEFT JOIN customer ON o_custkey = c_custkey""",
)


def j_inner(spark, sf_dir):
    """Inner equi-join lineitem ⋈ part with a computed margin column."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_name", "p_retailprice")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "inner")
        .select(
            "l_orderkey",
            "l_linenumber",
            "p_name",
            (F.col("l_extendedprice") - F.col("p_retailprice") * F.col("l_quantity")).alias(
                "margin"
            ),
        )
    )


_register(
    "j_inner",
    j_inner,
    """SELECT l_orderkey, l_linenumber, p_name,
       l_extendedprice - p_retailprice * l_quantity AS margin
FROM lineitem JOIN part ON l_partkey = p_partkey""",
)


def j_semi(spark, sf_dir):
    """Left-semi (EXISTS): customers that have at least one order."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return semi(c, o, "c_custkey").select("c_custkey", "c_name")


_register(
    "j_semi",
    j_semi,
    """SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
)


def j_anti(spark, sf_dir):
    """Left-anti (NOT EXISTS): customers with no URGENT order.

    The anti-join runs against a *filtered* orders subset: in the
    synthetic data every customer has at least one order, so the
    unfiltered form returns 0 rows — an empty oracle check proves
    nothing. Filtering the right side keeps the operator shape (filter
    pushes below the anti-join's shuffle) and yields a non-trivial
    result at every SF.
    """
    c = _t(spark, sf_dir, "customer")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return anti(c, o, "c_custkey").select("c_custkey", "c_name")


_register(
    "j_anti",
    j_anti,
    """SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')""",
)


def j_full_outer(spark, sf_dir):
    """Full-outer join of two aggregates (nations with suppliers and/or
    customers) — nulls possible on either side."""
    s_cnt = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count("*").cast("bigint").alias("n_suppliers"))
    )
    c_cnt = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count("*").cast("bigint").alias("n_customers"))
    )
    return (
        s_cnt.join(c_cnt, "nationkey", "full_outer")
        .select(
            "nationkey",
            F.coalesce("n_suppliers", F.lit(0).cast("bigint")).alias("n_suppliers"),
            F.coalesce("n_customers", F.lit(0).cast("bigint")).alias("n_customers"),
        )
    )


_register(
    "j_full_outer",
    j_full_outer,
    """WITH s_cnt AS (
  SELECT s_nationkey AS nationkey, CAST(COUNT(*) AS BIGINT) AS n_suppliers
  FROM supplier GROUP BY s_nationkey
), c_cnt AS (
  SELECT c_nationkey AS nationkey, CAST(COUNT(*) AS BIGINT) AS n_customers
  FROM customer GROUP BY c_nationkey
)
SELECT COALESCE(s_cnt.nationkey, c_cnt.nationkey) AS nationkey,
       CAST(COALESCE(n_suppliers, 0) AS BIGINT) AS n_suppliers,
       CAST(COALESCE(n_customers, 0) AS BIGINT) AS n_customers
FROM s_cnt FULL JOIN c_cnt ON s_cnt.nationkey = c_cnt.nationkey""",
)


def j_cross(spark, sf_dir):
    """Cross join (tiny × tiny only — a broadcast nested loop)."""
    r1 = _t(spark, sf_dir, "region").select(F.col("r_name").alias("region_a"))
    r2 = _t(spark, sf_dir, "region").select(F.col("r_name").alias("region_b"))
    return r1.crossJoin(F.broadcast(r2))


_register(
    "j_cross",
    j_cross,
    """SELECT a.r_name AS region_a, b.r_name AS region_b
FROM region a CROSS JOIN region b""",
)


def j_lookup_default(spark, sf_dir):
    """J2/J3: keyed lookup with default — nation name per customer,
    'Inconnu' on miss (the meeting_key -> meeting_name dict pattern)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), F.col("n_name").alias("nation_name")
    )
    return lookup_with_default(
        c, n, "c_nationkey", {"nation_name": F.lit("Inconnu")}
    ).select("c_custkey", "c_nationkey", "nation_name")


_register(
    "j_lookup_default",
    j_lookup_default,
    """SELECT c_custkey, c_nationkey, COALESCE(n_name, 'Inconnu') AS nation_name
FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey""",
)


# --------------------------------------------------------------------------
# §2.4 aggregations
# --------------------------------------------------------------------------


def a_group_count(spark, sf_dir):
    """A1 group-by count + A3 count-distinct in one pass."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.countDistinct("o_custkey").cast("bigint").alias("n_customers"),
        )
    )


_register(
    "a_group_count",
    a_group_count,
    """SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
FROM orders GROUP BY o_orderstatus""",
)


def a_sum_stats(spark, sf_dir):
    """A2 multi-key group sums + min/max/avg, FP-deterministic via the
    decimal route (operators.aggregations)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            decimal_sum("l_extendedprice", "sum_price"),
            decimal_avg("l_discount", "avg_disc"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
            F.count("*").cast("bigint").alias("n_rows"),
        )
    )


_register(
    "a_sum_stats",
    a_sum_stats,
    f"""SELECT l_returnflag, l_linestatus,
       {decimal_sum_sql("l_extendedprice", "sum_price")},
       {decimal_avg_sql("l_discount", "avg_disc")},
       MIN(l_quantity) AS min_qty,
       MAX(l_quantity) AS max_qty,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem GROUP BY l_returnflag, l_linestatus""",
)


def a_dedup_first_wins(spark, sf_dir):
    """A4: first-wins dedup with an explicit total order — each
    customer's earliest order (ties broken by key), the deterministic
    form of the reference's 'seen'-set dedup (kafka_producer.py:34-41)."""
    return dedup_first_wins(
        _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderdate"),
        keys=["o_custkey"],
        order=[F.col("o_orderdate").asc(), F.col("o_orderkey").asc()],
    )


_register(
    "a_dedup_first_wins",
    a_dedup_first_wins,
    """SELECT o_custkey, o_orderkey, o_orderdate FROM (
  SELECT o_custkey, o_orderkey, o_orderdate,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn = 1""",
)


def a_argmax(spark, sf_dir):
    """A5 arg-max per group: each customer's most expensive order."""
    return argmax_per_group(
        _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice"),
        keys=["o_custkey"],
        order=[F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
    )


_register(
    "a_argmax",
    a_argmax,
    """SELECT o_custkey, o_orderkey, o_totalprice FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn = 1""",
)


def a_rollup(spark, sf_dir):
    """Rollup (subtotals + grand total) — beyond the reference's surface
    but part of the engine's §2.4 group-by family.

    Empty-input contract (r9 sweep): SQL's ROLLUP is GROUPING
    SETS((a,b),(a),()) and the () set aggregates the empty relation
    to ONE row (COUNT 0, SUM NULL) — DuckDB/Postgres emit it; Spark's
    Expand-based rollup emits ZERO rows, a silent cross-engine
    divergence on any filter that matches nothing. Structure that
    fixes it AND the scale shape: aggregate once to the finest-grain
    partial (|flags×statuses| rows — the only corpus-wide pass, no 3×
    Expand row multiplication through the shuffle), run the native
    rollup over that tiny partial for the non-total sets, and union
    the always-one-row grand total re-aggregated from the same
    partial (COALESCE(count) to 0, decimal sums stay exact because
    the partial keeps the DECIMAL accumulator — double cast happens
    only at each level's output, the a_sum_stats parity rule)."""
    li = _t(spark, sf_dir, "lineitem")
    g = materialize(
        li.groupBy("l_returnflag", "l_linestatus").agg(
            F.count("*").cast("bigint").alias("__n"),
            F.sum(F.col("l_quantity").cast(DECIMAL_ACC)).alias("__dq"),
        )
    )
    sub = (
        g.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum("__n").cast("bigint").alias("n_rows"),
            F.sum("__dq").cast("double").alias("sum_qty"),
            F.grouping_id().alias("__gid"),
        )
        .filter(F.col("__gid") < 3)
        .drop("__gid")
    )
    total = (
        g.groupBy()
        .agg(
            F.coalesce(F.sum("__n"), F.lit(0)).cast("bigint").alias("n_rows"),
            F.sum("__dq").cast("double").alias("sum_qty"),
        )
        .select(
            F.lit(None).cast("string").alias("l_returnflag"),
            F.lit(None).cast("string").alias("l_linestatus"),
            "n_rows",
            "sum_qty",
        )
    )
    return sub.unionByName(total)


_register(
    "a_rollup",
    a_rollup,
    f"""SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       {decimal_sum_sql("l_quantity", "sum_qty")}
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
)


def a_pivot(spark, sf_dir):
    """Pivot linestatus into columns (missing cells coalesced to 0 —
    Spark's pivot yields null for absent groups, the oracle's CASE-sum
    yields 0; align on 0)."""
    piv = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "l_returnflag",
        F.coalesce(F.col("O"), F.lit(0)).cast("bigint").alias("n_open"),
        F.coalesce(F.col("F"), F.lit(0)).cast("bigint").alias("n_finished"),
    )


_register(
    "a_pivot",
    a_pivot,
    """SELECT l_returnflag,
       CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
       CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished
FROM lineitem GROUP BY l_returnflag""",
)


def a_approx_distinct(spark, sf_dir):
    """approx_count_distinct (HLL++) in its AUDIT form (VERDICT r8 #4
    — the registry's last rows-only entry, now value-checked): each
    group carries the exact distinct count beside a bounded-error
    assertion on the sketch, approx/exact ∈ [0.95, 1.05]. HLL++ is
    deterministic for fixed data, so the boolean is stable and the
    DuckDB twin — which cannot reproduce Spark's sketch — pins the
    SAME row by computing n_exact exactly and asserting the bound
    holds (a Spark regression pushing the estimate out of the band
    flips within_5pct to false and hash-mismatches). The exact column
    makes this the t_heavy_hitters_cms discipline: the estimator
    audited against the truth it approximates. Production uses the
    sketch ALONE — one pass, no distinct-shuffle, mergeable partials
    — which is why the operator exists; the audit's exact side is the
    eval-harness cost, paid at eval time only.

    rsd is pinned to 0.01, not the 0.05 default: rsd is a STANDARD
    DEVIATION, not a bound — measured at the default, one sf0.01
    group lands 8.6% off and flunks its own 5% band; at 0.01 the
    worst deviation across sf0.001/0.01/0.1 is 0.86%, a 5× margin."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").cast("bigint").alias("n_exact"),
            F.approx_count_distinct("l_orderkey", 0.01).alias("__approx"),
        )
        .select(
            "l_returnflag",
            "n_exact",
            (
                (F.col("__approx") >= F.col("n_exact") * 0.95)
                & (F.col("__approx") <= F.col("n_exact") * 1.05)
            ).alias("within_5pct"),
        )
    )


_register(
    "a_approx_distinct",
    a_approx_distinct,
    """SELECT l_returnflag,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_exact,
       TRUE AS within_5pct
FROM lineitem GROUP BY l_returnflag""",
)


# --------------------------------------------------------------------------
# §2.5 sorts / limits / rank / windows
# --------------------------------------------------------------------------


def o_topk_global(spark, sf_dir):
    """O1+O3: global sort desc + limit — TakeOrderedAndProject, never a
    full sort (each partition keeps k, driver merges k·partitions)."""
    return topk_global(
        _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice"),
        order=[F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        k=5,
    )


_register(
    "o_topk_global",
    o_topk_global,
    """SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 5""",
)


def o_topk_per_group(spark, sf_dir):
    """Top-3 lineitems per return flag, rank exposed (O5)."""
    return topk_per_group(
        _t(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"
        ),
        keys=["l_returnflag"],
        order=[
            F.col("l_extendedprice").desc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        ],
        k=3,
    )


_register(
    "o_topk_per_group",
    o_topk_per_group,
    """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice, rnk FROM (
  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
         CAST(ROW_NUMBER() OVER (PARTITION BY l_returnflag
              ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC) AS INT) AS rnk
  FROM lineitem
) WHERE rnk <= 3""",
)


def o_rank_kinds(spark, sf_dir):
    """row_number vs rank vs dense_rank under one explicit order."""
    df = _t(spark, sf_dir, "customer").select("c_mktsegment", "c_custkey", "c_acctbal")
    order = [F.col("c_acctbal").desc(), F.col("c_custkey").asc()]
    df = ranked(df, order, keys=["c_mktsegment"], col="rn", method="row_number")
    df = ranked(df, order, keys=["c_mktsegment"], col="rk", method="rank")
    return ranked(df, order, keys=["c_mktsegment"], col="drk", method="dense_rank")


_register(
    "o_rank_kinds",
    o_rank_kinds,
    """SELECT c_mktsegment, c_custkey, c_acctbal,
       CAST(ROW_NUMBER() OVER w AS INT) AS rn,
       CAST(RANK() OVER w AS INT) AS rk,
       CAST(DENSE_RANK() OVER w AS INT) AS drk
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)""",
)


def o_window_running(spark, sf_dir):
    """Running total + lag/lead per customer over order date — the
    window-aggregate surface. Running sum goes through the decimal
    route: cumulative double addition is order-dependent otherwise."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast(DECIMAL_ACC)).over(frame).cast("double").alias(
            "running_spend"
        ),
        F.lag("o_totalprice", 1).over(w).alias("prev_price"),
        F.lead("o_totalprice", 1).over(w).alias("next_price"),
    )


_register(
    "o_window_running",
    o_window_running,
    """SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
       LAG(o_totalprice, 1) OVER w AS prev_price,
       LEAD(o_totalprice, 1) OVER w AS next_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""",
)


# --------------------------------------------------------------------------
# §2.6 set operations
# --------------------------------------------------------------------------


def s_union_all(spark, sf_dir):
    """UNION ALL (duplicate-preserving append, the S5 ingest pattern)."""
    c = _t(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey", "c_mktsegment")
    b = c.filter(F.col("c_mktsegment") == "MACHINERY").select("c_custkey", "c_mktsegment")
    return a.unionAll(b)


_register(
    "s_union_all",
    s_union_all,
    """SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING'
UNION ALL
SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'MACHINERY'""",
)


def s_intersect_except(spark, sf_dir):
    """INTERSECT and EXCEPT (distinct set semantics) in one result:
    nation keys having customers, partitioned into with/without
    suppliers."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    both = c.intersect(s).withColumn("has_supplier", F.lit(True))
    only_c = c.subtract(s).withColumn("has_supplier", F.lit(False))
    return both.unionAll(only_c)


_register(
    "s_intersect_except",
    s_intersect_except,
    """SELECT nationkey, TRUE AS has_supplier FROM (
  SELECT c_nationkey AS nationkey FROM customer
  INTERSECT
  SELECT s_nationkey AS nationkey FROM supplier
)
UNION ALL
SELECT nationkey, FALSE AS has_supplier FROM (
  SELECT c_nationkey AS nationkey FROM customer
  EXCEPT
  SELECT s_nationkey AS nationkey FROM supplier
)""",
)


def s7_upsert_dim(spark, sf_dir):
    """S7 dimension upsert (ON CONFLICT DO UPDATE,
    kafka_producer.py:42-48) as a pure-DataFrame MERGE: an updates
    batch (+1000.0 balance for suppkey < 50) replaces same-key rows,
    the rest pass through. Union + row_number over source precedence —
    one shuffle on the key."""
    from f1_realtime_data_pipeline_spark.sources.tables import upsert_last_wins

    s = _t(spark, sf_dir, "supplier")
    updates = s.filter(F.col("s_suppkey") < 50).withColumn(
        "s_acctbal", F.col("s_acctbal") + F.lit(1000.0)
    )
    return upsert_last_wins(s, updates, ["s_suppkey"])


_register(
    "s7_upsert_dim",
    s7_upsert_dim,
    """SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY s_suppkey ORDER BY __src DESC) AS __rn
  FROM (
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal, 0 AS __src FROM supplier
    UNION ALL
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal + 1000.0 AS s_acctbal, 1 AS __src
    FROM supplier WHERE s_suppkey < 50
  )
) WHERE __rn = 1""",
)

def j_salted(spark, sf_dir):
    """Skew-guard join: salted equi-join of lineitem (skew side) to
    orders — result identical to the plain join, shuffle spread over
    16 salt sub-keys. Oracle = the unsalted join."""
    from f1_realtime_data_pipeline_spark.operators.joins import salted_join

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity", "l_linenumber")
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    return salted_join(li, o, "l_orderkey", salt=16)


_register(
    "j_salted",
    j_salted,
    """SELECT l_orderkey, l_quantity, l_linenumber, o_orderpriority
FROM lineitem JOIN orders ON l_orderkey = o_orderkey""",
)


def p_profile(spark, sf_dir):
    """Column profiling (per-column rows: count / nulls / distinct /
    min / max over lineitem's measures) — the scan you run before
    choosing partition and bucket keys. One pass per column, unioned;
    doubles compared exactly (min/max are selections, not sums)."""
    li = _t(spark, sf_dir, "lineitem")
    parts = []
    for c in ("l_quantity", "l_extendedprice", "l_discount", "l_tax"):
        parts.append(
            li.agg(
                F.lit(c).alias("col_name"),
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("n_null"),
                F.countDistinct(c).cast("bigint").alias("n_distinct"),
                F.min(c).cast("double").alias("min_v"),
                F.max(c).cast("double").alias("max_v"),
            )
        )
    out = parts[0]
    for p2 in parts[1:]:
        out = out.unionAll(p2)
    return out


_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
_register(
    "p_profile",
    p_profile,
    "\nUNION ALL\n".join(
        f"""SELECT '{c}' AS col_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(MIN({c}) AS DOUBLE) AS min_v,
       CAST(MAX({c}) AS DOUBLE) AS max_v
FROM lineitem"""
        for c in _PROFILE_COLS
    ),
)

def a_cube(spark, sf_dir):
    """CUBE with grouping_id: order counts across all subsets of
    (status, priority) — the full grouping-sets lattice.

    Same empty-input contract and partial-first structure as
    :func:`a_rollup` (r9 sweep): the () grouping set must emit its
    one row (n=0, gid=3) on an empty relation — Spark's native cube
    emits zero rows there while DuckDB/Postgres follow the standard.
    One corpus-wide aggregation to the finest grain; the native cube
    expands only the tiny partial; the grand total unions in from the
    same partial with COALESCE(n, 0) and a literal gid=3 (exactly the
    row native cube emits on non-empty input)."""
    o = _t(spark, sf_dir, "orders")
    g = materialize(
        o.groupBy("o_orderstatus", "o_orderpriority").agg(
            F.count("*").cast("bigint").alias("__n")
        )
    )
    sub = (
        g.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.sum("__n").cast("bigint").alias("n"),
            F.grouping_id().cast("int").alias("gid"),
        )
        .filter(F.col("gid") < 3)
    )
    total = (
        g.groupBy()
        .agg(F.coalesce(F.sum("__n"), F.lit(0)).cast("bigint").alias("n"))
        .select(
            F.lit(None).cast("string").alias("o_orderstatus"),
            F.lit(None).cast("string").alias("o_orderpriority"),
            "n",
            F.lit(3).cast("int").alias("gid"),
        )
    )
    return sub.unionByName(total)


_register(
    "a_cube",
    a_cube,
    """SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)""",
)


def a_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS — the general chosen-subset form the
    CUBE/ROLLUP lattices are sugar over: by-status totals AND
    by-priority totals in ONE aggregation pass, no cross grain and no
    () set (so the empty-input contract is the natural zero rows in
    both engines, unlike a_cube's grand-total union-in). gid
    disambiguates which set a row belongs to (Spark grouping_id and
    DuckDB GROUPING share the bitmask contract — probed, identical).
    One shuffle; Spark expands the two sets from a single scan."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"]],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("o_totalprice").cast(DECIMAL_ACC))
            .cast("double")
            .alias("sum_price"),
        )
    )


_register(
    "a_grouping_sets",
    a_grouping_sets,
    """SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS sum_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""",
)


def a_percentiles(spark, sf_dir):
    """Exact interpolated percentiles (median/p90) of order totals per
    status — Spark ``percentile`` and DuckDB ``quantile_cont`` both
    use linear interpolation on the sorted set."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.percentile("o_totalprice", F.lit(0.5)).alias("p50"),
        F.percentile("o_totalprice", F.lit(0.9)).alias("p90"),
    )


_register(
    "a_percentiles",
    a_percentiles,
    """SELECT o_orderstatus,
       quantile_cont(o_totalprice, 0.5) AS p50,
       quantile_cont(o_totalprice, 0.9) AS p90
FROM orders GROUP BY o_orderstatus""",
)


#: percentile_approx accuracy: guaranteed rank error ≤ n/ACC (0.1%),
#: audited against a 1% band — a 10× margin, the a_approx_distinct
#: rsd-vs-band discipline.
_APPROX_PCT_ACC = 1000


def a_approx_percentile(spark, sf_dir):
    """percentile_approx (the GK/KLL-style mergeable quantile sketch)
    in its AUDIT form — the a_approx_distinct discipline applied to
    the other core Spark sketch (r11): each group carries the exact
    interpolated median beside a bounded-RANK-error assertion on the
    sketch's estimate. percentile_approx returns an actual observed
    value whose rank is guaranteed within n/accuracy of the target;
    the audit recomputes that rank exactly (count of values ≤
    estimate, one broadcast join of the 3-row group aggregate back to
    the fact) and asserts it lies within ±1% of n/2 (10× the sketch's
    n/1000 guarantee, absorbing duplicate-value rank plateaus). The
    sketch is deterministic for fixed data, so the boolean is stable
    and the DuckDB twin — which cannot reproduce Spark's sketch —
    pins the same row with the exact median (quantile_cont parity,
    the a_percentiles convention) and a literal TRUE: a Spark sketch
    regression pushes the rank out of band and hash-mismatches.
    Production uses the sketch alone — one pass, mergeable partials,
    no sort — which is why the operator exists; the audit's exact
    side is eval-harness cost."""
    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    g = li.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.percentile("l_extendedprice", F.lit(0.5)).alias("exact_median"),
        F.percentile_approx(
            "l_extendedprice", F.lit(0.5), F.lit(_APPROX_PCT_ACC)
        ).alias("__ap"),
    )
    ranked = (
        li.join(F.broadcast(g), "l_returnflag")
        .groupBy("l_returnflag", "n_rows", "exact_median")
        .agg(
            F.sum(
                F.when(F.col("l_extendedprice") <= F.col("__ap"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("__n_le")
        )
    )
    return ranked.select(
        "l_returnflag",
        "n_rows",
        "exact_median",
        (
            (F.col("__n_le") >= F.col("n_rows") * 0.49)
            & (F.col("__n_le") <= F.col("n_rows") * 0.51 + 1)
        ).alias("rank_within_1pct"),
    )


_register(
    "a_approx_percentile",
    a_approx_percentile,
    """SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       quantile_cont(l_extendedprice, 0.5) AS exact_median,
       TRUE AS rank_within_1pct
FROM lineitem GROUP BY l_returnflag""",
)


#: per-shard quantile-summary width for the merge audit: each shard is
#: compressed to this many mid-quantile points, so the merge's
#: discretization rank error is ≤ n/(2·points) ≈ 0.25% of n
_MERGE_POINTS = 200


def a_approx_percentile_tail(spark, sf_dir):
    """Quantile-sketch TAIL + MERGE audit (r12, VERDICT r11 #3):
    median is the sketch's easy case — p99 on a skewed measure and a
    per-shard-partials merge are where rank error and mergeability
    actually bite at 100 TB.

    Skewed measure: ~90% of rows collapse to a single plateau value
    (0.0 — quantity ≤ 45 of a uniform 1..50) and the surviving 10%
    keep the price spread, so p99 sits in a thin tail above a massive
    duplicate plateau — the shape web-scale length/latency columns
    have.

    Two audited paths per group, both against the exact rank
    recomputed in-plan (count of values ≤ estimate, one broadcast
    join back to the fact):

    - single-pass ``percentile_approx(m, 0.99)`` — rank error
      guaranteed ≤ n/1000;
    - SHARDED merge (the a_hll_merge_audit shard scheme): each of 8
      deterministic shards is compressed to a ``_MERGE_POINTS``-point
      mid-quantile summary (one ``percentile_approx`` array call per
      shard — the mergeable partial a distributed job would ship),
      the summaries re-merge as weighted samples (weight = shard
      rows / points), and the merged weighted p99 comes out of a
      running-sum window over ≤ shards×points = 1600 rows per group
      (bounded by the SUMMARY width, constant in corpus size — the
      window partition cannot skew). Total merged rank-error budget:
      per-shard sketch n/1000 + discretization n/400 ≈ 0.35% of n.

    Both booleans assert rank within ±0.5% of 0.99·n (margin over the
    0.35% budget; deterministic for fixed data). The DuckDB twin pins
    n, the exact interpolated p99 (quantile_cont parity) and literal
    TRUEs — a sketch or merge-path regression pushes a rank out of
    band and hash-mismatches."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.when(F.col("l_quantity") <= 45, F.lit(0.0))
        .otherwise(F.col("l_extendedprice"))
        .cast("double")
        .alias("__m"),
        F.pmod(F.col("l_orderkey"), F.lit(8)).alias("__shard"),
    )
    g = li.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.percentile("__m", F.lit(0.99)).alias("exact_p99"),
        F.percentile_approx("__m", F.lit(0.99), F.lit(_APPROX_PCT_ACC)).alias(
            "__ap"
        ),
    )
    # mergeable partials: one compressed summary per (group, shard)
    pcts = F.array(
        *[F.lit((i + 0.5) / _MERGE_POINTS) for i in range(_MERGE_POINTS)]
    )
    shard = li.groupBy("l_returnflag", "__shard").agg(
        F.count("*").cast("bigint").alias("__sn"),
        F.percentile_approx("__m", pcts, F.lit(_APPROX_PCT_ACC)).alias("__qs"),
    )
    points = shard.select(
        "l_returnflag",
        (F.col("__sn").cast("double") / _MERGE_POINTS).alias("__w"),
        F.explode("__qs").alias("__v"),
    )
    cum = Window.partitionBy("l_returnflag").orderBy("__v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy("l_returnflag")
    merged = (
        points.select(
            "l_returnflag",
            "__v",
            F.sum("__w").over(cum).alias("__cw"),
            F.sum("__w").over(tot).alias("__tw"),
        )
        .filter(F.col("__cw") >= F.col("__tw") * 0.99)
        .groupBy("l_returnflag")
        .agg(F.min("__v").alias("__merged_p99"))
    )
    both = g.join(merged, "l_returnflag")
    audit = (
        li.join(F.broadcast(both), "l_returnflag")
        .groupBy("l_returnflag", "n_rows", "exact_p99")
        .agg(
            F.sum(F.when(F.col("__m") <= F.col("__ap"), 1).otherwise(0))
            .cast("bigint")
            .alias("__le_sk"),
            F.sum(F.when(F.col("__m") <= F.col("__merged_p99"), 1).otherwise(0))
            .cast("bigint")
            .alias("__le_mg"),
        )
    )
    lo, hi = 0.985, 0.995
    return audit.select(
        "l_returnflag",
        "n_rows",
        "exact_p99",
        (
            (F.col("__le_sk") >= F.col("n_rows") * lo)
            & (F.col("__le_sk") <= F.col("n_rows") * hi + 1)
        ).alias("tail_rank_within_half_pct"),
        (
            (F.col("__le_mg") >= F.col("n_rows") * lo)
            & (F.col("__le_mg") <= F.col("n_rows") * hi + 1)
        ).alias("merged_rank_within_half_pct"),
    )


_register(
    "a_approx_percentile_tail",
    a_approx_percentile_tail,
    """SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       quantile_cont(CASE WHEN l_quantity <= 45 THEN 0.0
                          ELSE l_extendedprice END, 0.99) AS exact_p99,
       TRUE AS tail_rank_within_half_pct,
       TRUE AS merged_rank_within_half_pct
FROM lineitem GROUP BY l_returnflag""",
)


def a_hll_merge_audit(spark, sf_dir):
    """MERGEABLE-sketch audit (r11): the property that makes sketches
    the 100 TB answer is not the estimate — it is that per-shard
    sketches UNION without re-scanning data (Datasketches HLL:
    ``hll_sketch_agg`` per shard, ``hll_union_agg`` across shards,
    one binary blob per shard shipped instead of the shard).
    This audit builds per-(group, shard) sketches — shard = a
    deterministic 8-way split of the order key, standing in for
    partitions/days/workers — merges them per group, and asserts the
    MERGED estimate sits within 5% of the exact distinct count (same
    band discipline as a_approx_distinct; Datasketches HLL at default
    lgK=12 has rsd ≈ 0.8%, a 6× margin). The sketch is deterministic
    for fixed data, so the boolean is stable; the DuckDB twin pins
    the exact side and a literal TRUE — a merge-path regression
    (double-counting a shard, dropping one) lands ~12.5% off and
    hash-mismatches."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_orderkey",
        F.pmod(F.col("l_orderkey"), F.lit(8)).alias("__shard"),
    )
    shard_sketches = li.groupBy("l_returnflag", "__shard").agg(
        F.hll_sketch_agg("l_orderkey").alias("__sk")
    )
    merged = shard_sketches.groupBy("l_returnflag").agg(
        F.hll_sketch_estimate(F.hll_union_agg("__sk")).alias("__est"),
        F.count("*").cast("bigint").alias("n_shards"),
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n_exact")
    )
    return (
        merged.join(exact, "l_returnflag")
        .select(
            "l_returnflag",
            "n_shards",
            "n_exact",
            (
                (F.col("__est") >= F.col("n_exact") * 0.95)
                & (F.col("__est") <= F.col("n_exact") * 1.05)
            ).alias("merged_within_5pct"),
        )
    )


_register(
    "a_hll_merge_audit",
    a_hll_merge_audit,
    """SELECT l_returnflag,
       CAST(COUNT(DISTINCT l_orderkey % 8) AS BIGINT) AS n_shards,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_exact,
       TRUE AS merged_within_5pct
FROM lineitem GROUP BY l_returnflag""",
)


def a_kll_merge_audit(spark, sf_dir):
    """NATIVE mergeable quantile sketch (r12): Spark 4's Datasketches
    KLL — ``kll_sketch_agg_double`` per shard,
    ``kll_merge_agg_double`` across shards — beside
    ``a_approx_percentile_tail``'s hand-rolled summary merge, so both
    the technique and the production API are driver-checked. Per
    group: 8 deterministic shards each build a KLL sketch, the merge
    agg unions them WITHOUT re-touching rows, and p50/p99 come off
    the merged sketch; the audit recomputes each estimate's exact
    rank in-plan (one broadcast join back to the fact) and asserts it
    within ±3.5% of the target rank.

    Band width, justified: KLL at the default k=200 has normalized
    rank error ≈1.65% at 99% confidence, and — unlike every other
    sketch in this registry — Spark's KLL is RANDOMIZED per execution
    (compaction sampling is unseeded; measured: two runs over
    identical data return different quantiles). The estimates
    therefore cannot be emitted as values; the booleans are stable
    because 3.5% sits beyond twice the 99%-confidence bound (tail
    decays ~exp(-2(ε/σ)²): flake odds per evaluation ≈1e-8). The
    sketch's total weight (``kll_sketch_get_n``) IS deterministic and
    is emitted exactly — a merge that drops or doubles a shard breaks
    it before any band is consulted."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").cast("double").alias("__m"),
        F.pmod(F.col("l_orderkey"), F.lit(8)).alias("__shard"),
    )
    shard = li.groupBy("l_returnflag", "__shard").agg(
        F.kll_sketch_agg_double("__m").alias("__sk")
    )
    merged = shard.groupBy("l_returnflag").agg(
        F.kll_merge_agg_double("__sk").alias("__sk"),
        F.count("*").cast("bigint").alias("n_shards"),
    )
    est = merged.select(
        "l_returnflag",
        "n_shards",
        F.kll_sketch_get_n_double("__sk").cast("bigint").alias("n_rows"),
        F.kll_sketch_get_quantile_double("__sk", F.lit(0.5)).alias("__p50"),
        F.kll_sketch_get_quantile_double("__sk", F.lit(0.99)).alias("__p99"),
    )
    audit = (
        li.join(F.broadcast(est), "l_returnflag")
        .groupBy("l_returnflag", "n_shards", "n_rows", "__p99")
        .agg(
            F.sum(F.when(F.col("__m") <= F.col("__p50"), 1).otherwise(0))
            .cast("bigint")
            .alias("__le50"),
            F.sum(F.when(F.col("__m") <= F.col("__p99"), 1).otherwise(0))
            .cast("bigint")
            .alias("__le99"),
            F.max("__m").alias("__mx"),
        )
    )
    # p99's rank-count upper bound (__le99 <= n_rows) is vacuous — a
    # count can never exceed n — so the band alone only guards
    # UNDERestimates (r12 advice). The __p99 <= max(__m) conjunct
    # closes the other side deterministically: KLL quantile queries
    # return retained DATA values, so a correct merge can never emit
    # p99 above the column max, while a gross overestimate (+inf, a
    # corrupted merge) now trips the boolean instead of passing.
    return audit.select(
        "l_returnflag",
        "n_shards",
        "n_rows",
        (
            (F.col("__le50") >= F.col("n_rows") * 0.465)
            & (F.col("__le50") <= F.col("n_rows") * 0.535 + 1)
        ).alias("p50_rank_within_3p5"),
        (
            (F.col("__le99") >= F.col("n_rows") * 0.955)
            & (F.col("__le99") <= F.col("n_rows") * 1.0)
            & (F.col("__p99") <= F.col("__mx"))
        ).alias("p99_rank_within_3p5"),
    )


_register(
    "a_kll_merge_audit",
    a_kll_merge_audit,
    """SELECT l_returnflag,
       CAST(COUNT(DISTINCT l_orderkey % 8) AS BIGINT) AS n_shards,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       TRUE AS p50_rank_within_3p5,
       TRUE AS p99_rank_within_3p5
FROM lineitem GROUP BY l_returnflag""",
)


def a_theta_set_audit(spark, sf_dir):
    """Theta-sketch SET ALGEBRA audit (r12): the sketch family's
    missing operation class. HLL answers |A| and |A∪B| only; theta
    sketches (Spark 4 ``theta_sketch_agg`` / ``theta_union`` /
    ``theta_intersection`` / ``theta_difference``) answer
    intersection and difference WITHOUT rescanning — the audit shape
    for overlap questions at 100 TB (how many customers does this
    segment share with that one; how many documents left the corpus
    between snapshots). Per order status: set A = custkeys with
    1-URGENT orders, set B = 2-HIGH; the exact sides come from ONE
    count-distinct aggregate (|A∩B| and |A\\B| by
    inclusion-exclusion, no second pass), the estimates from the
    sketch algebra over the same rows. Theta hashing is seeded
    deterministically (measured: exact-mode equality at sf0.01,
    ≤2.5% estimation-mode error at sf0.1 — lgK=12 rsd 1.56%), so the
    ±5% (+2 absolute) booleans are stable and the DuckDB twin pins
    the exact counts + literal TRUEs."""
    urgent = F.when(F.col("o_orderpriority") == "1-URGENT", F.col("o_custkey"))
    high = F.when(F.col("o_orderpriority") == "2-HIGH", F.col("o_custkey"))
    either = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), F.col("o_custkey")
    )
    g = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.theta_sketch_agg(urgent).alias("__ska"),
            F.theta_sketch_agg(high).alias("__skb"),
            F.count_distinct(urgent).cast("bigint").alias("n_a"),
            F.count_distinct(high).cast("bigint").alias("n_b"),
            F.count_distinct(either).cast("bigint").alias("n_union"),
        )
    )
    est = g.select(
        "o_orderstatus",
        "n_a",
        "n_b",
        "n_union",
        (F.col("n_a") + F.col("n_b") - F.col("n_union")).alias("n_inter"),
        (F.col("n_union") - F.col("n_b")).alias("n_diff"),
        F.theta_sketch_estimate(F.theta_union("__ska", "__skb")).alias("__eu"),
        F.theta_sketch_estimate(F.theta_intersection("__ska", "__skb")).alias(
            "__ei"
        ),
        F.theta_sketch_estimate(F.theta_difference("__ska", "__skb")).alias(
            "__ed"
        ),
    )

    def band(est_col, exact_col):
        return (F.col(est_col) >= F.col(exact_col) * 0.95 - 2) & (
            F.col(est_col) <= F.col(exact_col) * 1.05 + 2
        )

    return est.select(
        "o_orderstatus",
        "n_a",
        "n_b",
        "n_union",
        F.col("n_inter").cast("bigint").alias("n_inter"),
        F.col("n_diff").cast("bigint").alias("n_diff"),
        band("__eu", "n_union").alias("union_within_5pct"),
        band("__ei", "n_inter").alias("inter_within_5pct"),
        band("__ed", "n_diff").alias("diff_within_5pct"),
    )


_register(
    "a_theta_set_audit",
    a_theta_set_audit,
    """SELECT o_orderstatus,
       CAST(COUNT(DISTINCT CASE WHEN o_orderpriority = '1-URGENT'
                                THEN o_custkey END) AS BIGINT) AS n_a,
       CAST(COUNT(DISTINCT CASE WHEN o_orderpriority = '2-HIGH'
                                THEN o_custkey END) AS BIGINT) AS n_b,
       CAST(COUNT(DISTINCT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                THEN o_custkey END) AS BIGINT) AS n_union,
       CAST(COUNT(DISTINCT CASE WHEN o_orderpriority = '1-URGENT'
                                THEN o_custkey END)
          + COUNT(DISTINCT CASE WHEN o_orderpriority = '2-HIGH'
                                THEN o_custkey END)
          - COUNT(DISTINCT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                THEN o_custkey END) AS BIGINT) AS n_inter,
       CAST(COUNT(DISTINCT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                THEN o_custkey END)
          - COUNT(DISTINCT CASE WHEN o_orderpriority = '2-HIGH'
                                THEN o_custkey END) AS BIGINT) AS n_diff,
       TRUE AS union_within_5pct,
       TRUE AS inter_within_5pct,
       TRUE AS diff_within_5pct
FROM orders GROUP BY o_orderstatus""",
)


def a_theta_est_audit(spark, sf_dir):
    """Theta set algebra in PROVEN ESTIMATION MODE (r13, VERDICT r12
    #3): ``a_theta_set_audit``'s per-status custkey sets hold ~700–760
    distinct values at sf0.01 — under the 4096-entry exact-mode
    threshold at the default lgK=12, so the driver row never exercised
    the estimator. This audit re-keys on ``o_orderkey`` (unique per
    order: ~13.2k in set A at sf0.01) at lgK=10 (1024 nominal
    entries), putting every SF the harness runs (sf0.001/0.01/0.1) in
    estimation mode. The proof is in-plan: ``est_mode`` asserts the A
    estimate differs from A's exact count — exact mode has ZERO error,
    so inequality is only reachable with theta < 1 (retained <
    distinct).

    Sets are NESTED price slices (A = totalprice ≥ 60k, B ⊆ A =
    totalprice ≥ 120k) so the exact union/intersection/difference
    collapse to |A|, |B|, |A|−|B| from ONE count-distinct aggregate —
    no inclusion-exclusion subtraction noise — while the sketch side
    still runs the full union/intersection/difference algebra. Band
    ±7.5% (+2 absolute): theta hashing is deterministic per input, and
    the measured worst error across sf0.001/0.01/0.1 is 3.9%
    (intersection at sf0.01) — ≥1.9× margin, no randomness to flake.
    lgK=11 was measured WORSE at sf0.1 (difference error 8.2%: fewer
    effective retained entries survive the intersection's theta
    min-merge) — the band is lgK-specific, not monotone in k."""
    a = F.when(F.col("o_totalprice") >= 60000, F.col("o_orderkey"))
    b = F.when(F.col("o_totalprice") >= 120000, F.col("o_orderkey"))
    g = _t(spark, sf_dir, "orders").agg(
        F.theta_sketch_agg(a, 10).alias("__ska"),
        F.theta_sketch_agg(b, 10).alias("__skb"),
        F.count_distinct(a).cast("bigint").alias("n_a"),
        F.count_distinct(b).cast("bigint").alias("n_b"),
    )
    # an all-NULL input column aggregates to a NULL sketch whose
    # estimate comes back NULL — but theta_sketch_estimate DECLARES
    # non-nullable output, so a coalesce() around it is optimized
    # away and the NULL leaks through (measured on the empty fixture
    # under the two-count_distinct rewrite). Guard on the exact counts
    # instead, PER SET (ADVICE r13: a guard on n_a+n_b==0 alone left
    # the B-empty-while-A-nonempty case feeding a NULL sketch into
    # theta_union/intersection/difference): each set-algebra estimate
    # is short-circuited by CASE WHEN to the exact answer an empty
    # operand forces — union(A,∅)=A, A∩∅=∅, A∖∅=A — so a NULL sketch
    # is never an operand. B ⊆ A by construction makes the
    # A-empty/B-nonempty branch unreachable, but the guards don't
    # assume it (the query is meant to be data-independent).
    na0 = F.col("n_a") == 0
    nb0 = F.col("n_b") == 0

    def sk(col):
        return F.theta_sketch_estimate(col)

    est = g.select(
        "n_a",
        "n_b",
        (F.col("n_a") - F.col("n_b")).cast("bigint").alias("n_diff"),
        F.when(na0, F.lit(0.0)).otherwise(sk(F.col("__ska"))).alias("__ea"),
        F.when(na0 & nb0, F.lit(0.0))
        .when(nb0, sk(F.col("__ska")))
        .when(na0, sk(F.col("__skb")))
        .otherwise(sk(F.theta_union("__ska", "__skb")))
        .alias("__eu"),
        F.when(na0 | nb0, F.lit(0.0))
        .otherwise(sk(F.theta_intersection("__ska", "__skb")))
        .alias("__ei"),
        F.when(na0, F.lit(0.0))
        .when(nb0, sk(F.col("__ska")))
        .otherwise(sk(F.theta_difference("__ska", "__skb")))
        .alias("__ed"),
    )

    def band(est_col, exact_col):
        return (F.col(est_col) >= F.col(exact_col) * 0.925 - 2) & (
            F.col(est_col) <= F.col(exact_col) * 1.075 + 2
        )

    # est_mode states the CONDITIONAL proof: whenever set A exceeds
    # the sketch's nominal capacity (1024 entries at lgK=10), the
    # estimate must differ from the exact count — inequality is
    # unreachable in exact mode, so this pins theta < 1. Sets at or
    # under nominal are LEGITIMATELY exact (the empty-input fixture:
    # n_a = 0, estimate = 0), and the vacuous branch keeps the oracle's
    # literal TRUE honest there; at every harness SF n_a ≥ 1309 > 1024,
    # so the estimating branch is the one exercised.
    return est.select(
        "n_a",
        "n_b",
        "n_diff",
        (
            (F.col("n_a") <= 1024)
            | (F.col("__ea") != F.col("n_a").cast("double"))
        ).alias("est_mode"),
        band("__eu", "n_a").alias("union_within_7p5"),
        band("__ei", "n_b").alias("inter_within_7p5"),
        band("__ed", "n_diff").alias("diff_within_7p5"),
    )


_register(
    "a_theta_est_audit",
    a_theta_est_audit,
    """SELECT CAST(COUNT(DISTINCT CASE WHEN o_totalprice >= 60000
                                THEN o_orderkey END) AS BIGINT) AS n_a,
       CAST(COUNT(DISTINCT CASE WHEN o_totalprice >= 120000
                                THEN o_orderkey END) AS BIGINT) AS n_b,
       CAST(COUNT(DISTINCT CASE WHEN o_totalprice >= 60000
                                THEN o_orderkey END)
          - COUNT(DISTINCT CASE WHEN o_totalprice >= 120000
                                THEN o_orderkey END) AS BIGINT) AS n_diff,
       TRUE AS est_mode,
       TRUE AS union_within_7p5,
       TRUE AS inter_within_7p5,
       TRUE AS diff_within_7p5
FROM orders""",
)


def a_histogram(spark, sf_dir):
    """Fixed-width histogram of order totals: 20 buckets of 30k with
    an overflow clamp — one map-side-combined aggregation on a ≤20-key
    domain, the distribution profile that sizes every downstream
    percentile/skew decision. Bucket index is floor of a double
    division in BOTH engines (identical IEEE ops)."""
    o = _t(spark, sf_dir, "orders")
    b = F.least(F.floor(F.col("o_totalprice") / 30000), F.lit(19)).cast("int")
    return (
        o.groupBy(b.alias("bucket"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(
            "bucket",
            (F.col("bucket") * 30000.0).alias("lo"),
            "n",
        )
    )


_register(
    "a_histogram",
    a_histogram,
    """SELECT bucket, bucket * 30000.0 AS lo, CAST(COUNT(*) AS BIGINT) AS n
FROM (SELECT CAST(LEAST(FLOOR(o_totalprice / 30000), 19) AS INT) AS bucket
      FROM orders)
GROUP BY bucket""",
)

def p_array_funcs(spark, sf_dir):
    """Array/collection surface: collect per-customer order-priority
    lists (sorted for determinism — bare collect_list is
    partition-order-dependent), plus size/contains/distinct ops.
    try_element_at, not element_at (r8 ANSI sweep): collect_list skips
    NULLs, so a group whose every priority is NULL yields an EMPTY
    array and ANSI element_at(…, 1) aborts the job — while DuckDB's
    list index returns NULL out-of-bounds. try_element_at has exactly
    DuckDB's NULL-on-out-of-bounds semantics."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.sort_array(F.collect_list("o_orderpriority")).alias("prios"))
        .select(
            "o_custkey",
            F.size("prios").cast("int").alias("n_orders"),
            F.array_contains("prios", "1-URGENT").alias("has_urgent"),
            F.size(F.array_distinct("prios")).cast("int").alias("n_distinct_prios"),
            F.try_element_at("prios", F.lit(1)).alias("first_prio"),
        )
    )


_register(
    "p_array_funcs",
    p_array_funcs,
    """SELECT o_custkey,
       CAST(len(prios) AS INT) AS n_orders,
       list_contains(prios, '1-URGENT') AS has_urgent,
       CAST(len(list_distinct(prios)) AS INT) AS n_distinct_prios,
       prios[1] AS first_prio
FROM (
  SELECT o_custkey, list_sort(list(o_orderpriority)) AS prios
  FROM orders GROUP BY o_custkey
)""",
)

def p_key_skew(spark, sf_dir):
    """Join-key skew diagnostic: the 10 hottest lineitem order keys
    with their share of all rows — the query you run before deciding
    whether a join needs salting (operators.joins.salted_join) or AQE
    skew handling. Share is one double divide over exact counts."""
    li = _t(spark, sf_dir, "lineitem")
    total = li.agg(F.count("*").alias("__total"))
    return (
        li.groupBy("l_orderkey")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), F.col("l_orderkey").asc())
        .limit(10)
        .crossJoin(F.broadcast(total))
        .withColumn("share", F.col("n").cast("double") / F.col("__total").cast("double"))
        .drop("__total")
    )


_register(
    "p_key_skew",
    p_key_skew,
    """SELECT l_orderkey, n,
       CAST(n AS DOUBLE) / CAST((SELECT COUNT(*) FROM lineitem) AS DOUBLE) AS share
FROM (
  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n
  FROM lineitem GROUP BY l_orderkey
)
ORDER BY n DESC, l_orderkey ASC
LIMIT 10""",
)



def _scratch_table_dir(spark, sf_dir, prefix):
    """Per-invocation scratch dir for the plan-construction-time table
    lifecycles below (ADVICE r13): keyed by a fresh uuid so two
    concurrent builds of the same query inside one Spark app can never
    race on the directory (the old (sf, applicationId) key collided).
    Siblings left by OTHER (finished) applications are swept here;
    same-app siblings are deliberately left alone — a concurrent build
    may still be reading them, and they are ~100 KiB each in tmpfs.

    NOTE for tooling: merely BUILDING these plans executes the full
    write/merge/compact lifecycle (the diff needs committed
    snapshots). Do not add ``cdc_row_diff`` / ``o_compaction_exec`` to
    tools that construct plans without expecting side effects
    (plan_audit's AUDIT list)."""
    import glob
    import os
    import shutil
    import tempfile
    import uuid

    app = spark.sparkContext.applicationId
    tag = os.path.basename(sf_dir)
    root = tempfile.gettempdir()
    for old in glob.glob(os.path.join(root, f"{prefix}_{tag}_*")):
        if f"_{app}_" not in os.path.basename(old):
            shutil.rmtree(old, ignore_errors=True)
    path = os.path.join(root, f"{prefix}_{tag}_{app}_{uuid.uuid4().hex[:12]}")
    # tests inspect the produced table's on-disk layout after the plan
    # runs; the uuid makes the path undiscoverable, so record it
    _LAST_SCRATCH[prefix] = path
    return path


#: prefix → most recent scratch dir created by _scratch_table_dir in
#: this process (test introspection only; not part of the data path)
_LAST_SCRATCH: dict = {}

#: (applicationId, sf_dir) → (table, v1, src) for the shared CDC
#: change-script table (see shared_cdc_table)
_CDC_CACHE: dict = {}


def shared_cdc_table(spark, sf_dir):
    """Build-once-per-(app, sf_dir) CDC change-script table (VERDICT
    r15 #3).

    cdc_row_diff / cdc_row_images / cdc_incremental_agg /
    cdc_incremental_minmax all consume the SAME deterministic change
    script (orders slice o_custkey%10=3; orderkey%5 residue classes:
    v1 commits {0,1,2,3}, MERGE inserts class 4 and updates class 2
    with +1.0, DELETE erases class 0 — see cdc_row_diff's docstring
    for why +1.0 and not *2). Before r16 each of the four rebuilt its
    own copy at plan-construction time — ~23 s of the 94 s bench was
    duplicated fixture lifecycle. The script is write-once/read-many:
    after the three commits nothing mutates the table (the compaction
    lifecycle query keeps its own private table for exactly that
    reason), so one committed copy per (applicationId, sf_dir) serves
    every consumer with bit-identical reads.

    Returns (table_path, v1_snapshot, src_plan). Rebuilds if the
    cached directory vanished (tmp sweeps, a scale run's between-run
    scrub).
    """
    import os as _os
    import threading as _threading

    key = (spark.sparkContext.applicationId, sf_dir)
    lock = _CDC_CACHE.setdefault("__lock__", _threading.Lock())
    with lock:
        hit = _CDC_CACHE.get(key)
        if hit is not None and _os.path.exists(hit[0]):
            return hit

        from f1_realtime_data_pipeline_spark.sources import manifest as mf
        from f1_realtime_data_pipeline_spark.streaming.sinks import (
            transactional_delete,
            transactional_merge,
            transactional_parquet_sink,
        )

        table = f"{_scratch_table_dir(spark, sf_dir, 'cdc')}/orders_cdc"
        src = (
            _t(spark, sf_dir, "orders")
            .filter(F.col("o_custkey") % 10 == 3)
            .select("o_orderkey", "o_orderpriority", "o_totalprice")
        )
        mod = F.pmod(F.col("o_orderkey"), F.lit(5))
        write = transactional_parquet_sink(
            table, keys=["o_orderkey"], order_cols=["o_orderpriority"]
        )
        write(src.filter(mod != 4), 0)
        v1, _ = mf.resolve_snapshot(spark, table)
        ups = src.filter(mod.isin(2, 4)).withColumn(
            "o_totalprice",
            F.when(mod == 2, F.col("o_totalprice") + 1).otherwise(
                F.col("o_totalprice")
            ),
        )
        transactional_merge(
            ups, table, keys=["o_orderkey"], order_cols=["o_orderpriority"]
        )
        transactional_delete(
            src.filter(mod == 0).select("o_orderkey"),
            table,
            keys=["o_orderkey"],
        )
        _CDC_CACHE[key] = (table, v1, src)
        return _CDC_CACHE[key]


def cdc_row_diff(spark, sf_dir):
    """Change-data-capture contract under the driver (r13, VERDICT r12
    #7): the manifest CDF surface (``sources.manifest.read_row_diff``)
    was pytest-only — this registers the full incremental-consumption
    path as an oracle-checked batch query.

    The table is built from a deterministic orders slice (o_custkey %
    10 = 3, ~1.5k rows at sf0.01) with orderkey%5 residue classes as
    the change script:

    1. snapshot v1 commits classes {0,1,2,3} via
       ``transactional_parquet_sink``;
    2. a ``transactional_merge`` upserts class 4 (pure INSERTS) and
       class 2 with o_totalprice + 1 (in-place UPDATES — same key,
       changed row: exactly the case a key-only anti-join CDC would
       silently drop);
    3. a ``transactional_delete`` erases class 0 (DELETES).

    ``read_row_diff(v1 → latest)`` must classify every row: inserts =
    class 4 (post-images), deletes = class 0 (pre-images, ORIGINAL
    price), updates = class 2 (post-images, MUTATED price) — and must
    NOT report the carried-over classes {1,3} even though the merge
    rewrote their buckets copy-on-write (row-level exceptAll, not
    file-level attribution). The DuckDB twin derives the same
    classification straight from the source table, so a sink commit
    bug, a manifest resolution bug, or a diff misclassification all
    surface as value mismatches. The mutation is +1.0, not *2 (ADVICE
    r13): doubling is a no-op at price 0, which would silently turn an
    'update' into a dropped row on an undocumented positive-price data
    invariant — x + 1.0 changes EVERY double below 2^52 and both
    engines compute it to the identical IEEE bit pattern, no epsilon.
    The committed change-script table is built ONCE per
    (applicationId, sf_dir) and shared with the three cdf_ext
    consumers (``shared_cdc_table``, VERDICT r15 #3 — the script is
    write-once/read-many, so sharing cannot change any read)."""
    from f1_realtime_data_pipeline_spark.sources import manifest as mf

    table, v1, src = shared_cdc_table(spark, sf_dir)

    inserted, deleted, updated = mf.read_row_diff(
        spark, table, v1, keys=["o_orderkey"]
    )
    parts = [
        df.withColumn("change_type", F.lit(tag))
        for df, tag in (
            (inserted, "insert"),
            (deleted, "delete"),
            (updated, "update"),
        )
        if df is not None
    ]
    if not parts:
        # empty source → empty table → read_row_diff reports no class
        # at all; the classification is the empty relation (the
        # oracle's three UNION branches each select zero rows)
        return src.limit(0).withColumn("change_type", F.lit("insert"))
    from functools import reduce

    out = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)
    return out.select(
        "o_orderkey", "o_orderpriority", "o_totalprice", "change_type"
    )


_register(
    "cdc_row_diff",
    cdc_row_diff,
    """WITH src AS (
  SELECT o_orderkey, o_orderpriority, o_totalprice
  FROM orders WHERE o_custkey % 10 = 3
)
SELECT o_orderkey, o_orderpriority, o_totalprice, 'insert' AS change_type
FROM src WHERE o_orderkey % 5 = 4
UNION ALL
SELECT o_orderkey, o_orderpriority, o_totalprice, 'delete' AS change_type
FROM src WHERE o_orderkey % 5 = 0
UNION ALL
SELECT o_orderkey, o_orderpriority, o_totalprice + 1 AS o_totalprice,
       'update' AS change_type
FROM src WHERE o_orderkey % 5 = 2""",
)


def o_compaction_exec(spark, sf_dir):
    """Compaction EXECUTED and verified, not just planned (r13):
    ``o_compaction_plan`` computes the small-files maintenance plan;
    this runs the real thing on the manifest table and proves the
    full maintenance lifecycle preserves every row VALUE:

    1. three epoch appends of disjoint orderkey%3 slices (a custkey%10
       orders slice, ~1.5k rows at sf0.01) — every key bucket now
       spreads across 3 epoch directories, the small-files state;
    2. ``compact_snapshot`` rewrites each multi-dir bucket into one
       directory as an atomic v+1 commit;
    3. ``expire_history(keep_last=1)`` + ``vacuum`` — the erasure
       pairing — physically delete the superseded pre-compaction
       directories, so a compaction bug that dropped or duplicated
       rows can no longer be masked by readers resolving old files;
    4. the post-vacuum snapshot read must hash-match a plain DuckDB
       SELECT of the source slice.

    This is OPTIMIZE + VACUUM under the value oracle: layout changed,
    bytes moved, history gone — values identical. Working dir is
    uuid-keyed per invocation (see ``_scratch_table_dir``)."""
    from f1_realtime_data_pipeline_spark.sources import manifest as mf
    from f1_realtime_data_pipeline_spark.streaming.sinks import (
        read_sink_snapshot,
        transactional_parquet_sink,
    )

    table = f"{_scratch_table_dir(spark, sf_dir, 'cpx')}/orders_compact"

    src = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 10 == 7)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
    )
    write = transactional_parquet_sink(
        table, keys=["o_orderkey"], order_cols=["o_orderpriority"]
    )
    mod = F.pmod(F.col("o_orderkey"), F.lit(3))
    for epoch in range(3):
        write(src.filter(mod == epoch), epoch)
    if not mf.snapshot_versions(spark, table):
        # empty source: every epoch batch was empty, so the sink
        # (correctly) never committed a snapshot — the roundtrip
        # result is the empty relation, same as the oracle's SELECT
        return src.limit(0)
    mf.compact_snapshot(spark, table)
    mf.expire_history(spark, table, keep_last=1)
    mf.vacuum(spark, table)
    return read_sink_snapshot(spark, table).select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )


_register(
    "o_compaction_exec",
    o_compaction_exec,
    """SELECT o_orderkey, o_orderpriority, o_totalprice
FROM orders WHERE o_custkey % 10 = 7""",
)


def o_schema_evolution(spark, sf_dir):
    """Schema evolution under the driver (r16): epoch 0 commits the
    NARROW schema (o_orderkey, o_totalprice); epoch 1 appends rows
    carrying a NEW column (o_orderpriority). The manifest merges the
    schemas at commit time (sources.manifest.merge_schemas) and the
    snapshot read is PINNED to the merged schema, so epoch-0 files —
    written before the column existed — surface NULL for it with no
    per-file footer sweep (the r5 evolution contract of
    manifest.read_snapshot, previously exercised only by pytest).
    The oracle reconstructs the expected union: NULL priority for the
    narrow half, the real value for the wide half.

    Scale shape: add-a-column is O(1) metadata (one merged-schema doc
    in the commit) — no rewrite of existing files, the lakehouse
    contract; the read lists only the snapshot's entries."""
    from f1_realtime_data_pipeline_spark.sources import manifest as mf
    from f1_realtime_data_pipeline_spark.streaming.sinks import (
        read_sink_snapshot,
        transactional_parquet_sink,
    )

    table = f"{_scratch_table_dir(spark, sf_dir, 'evo')}/orders_evo"
    src = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") % 10 == 5)
    mod = F.pmod(F.col("o_orderkey"), F.lit(2))
    write = transactional_parquet_sink(
        table, keys=["o_orderkey"], order_cols=["o_orderkey"]
    )
    write(
        src.filter(mod == 0).select("o_orderkey", "o_totalprice"), 0
    )
    write(
        src.filter(mod == 1).select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        ),
        1,
    )
    if not mf.snapshot_versions(spark, table):
        return src.limit(0).select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        )
    out = read_sink_snapshot(spark, table)
    if "o_orderpriority" not in out.columns:
        # only the narrow epoch committed (e.g. the one-row corpus has
        # no odd-key order): the table legitimately never adopted the
        # column — NULL-pad to the query contract, the standard
        # evolution-consumer guard.
        out = out.withColumn(
            "o_orderpriority", F.lit(None).cast("string")
        )
    return out.select("o_orderkey", "o_totalprice", "o_orderpriority")


_register(
    "o_schema_evolution",
    o_schema_evolution,
    """SELECT o_orderkey, o_totalprice,
       CAST(NULL AS VARCHAR) AS o_orderpriority
FROM orders WHERE o_custkey % 10 = 5 AND o_orderkey % 2 = 0
UNION ALL
SELECT o_orderkey, o_totalprice, o_orderpriority
FROM orders WHERE o_custkey % 10 = 5 AND o_orderkey % 2 = 1""",
)


def p_unpivot(spark, sf_dir):
    """UNPIVOT/melt (r13): the inverse of ``a_pivot`` — a wide
    per-status aggregate (priority-class counts as three columns)
    melted back to tidy (status, metric, value) rows via
    ``DataFrame.unpivot``. The wide frame is exact bigint counts, so
    the melt is value-preserving by construction; the DuckDB twin is
    the explicit three-branch UNION ALL (what unpivot desugars to),
    making the hash match pin Spark's Expand-based implementation
    against the literal relational definition."""
    o = _t(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderstatus").agg(
        F.sum(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_urgent"),
        F.sum(F.when(F.col("o_orderpriority") == "2-HIGH", 1).otherwise(0))
        .cast("bigint")
        .alias("n_high"),
        F.sum(
            F.when(
                ~F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_other"),
    )
    return wide.unpivot(
        ["o_orderstatus"],
        ["n_urgent", "n_high", "n_other"],
        "metric",
        "value",
    )


_register(
    "p_unpivot",
    p_unpivot,
    """WITH wide AS (
  SELECT o_orderstatus,
         CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_urgent,
         CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_high,
         CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_other
  FROM orders GROUP BY o_orderstatus
)
SELECT o_orderstatus, 'n_urgent' AS metric, n_urgent AS value FROM wide
UNION ALL
SELECT o_orderstatus, 'n_high' AS metric, n_high AS value FROM wide
UNION ALL
SELECT o_orderstatus, 'n_other' AS metric, n_other AS value FROM wide""",
)


def o_rank_fractional(spark, sf_dir):
    """Fractional/bucketing ranks (r13): percent_rank, cume_dist, and
    ntile(4) complete the rank-function surface beside
    ``o_rank_kinds``'s row_number/rank/dense_rank. ntile is the
    curriculum-bucketing primitive (split docs into quality quartiles
    for staged training); percent_rank/cume_dist are the normalized
    positions a threshold sweep consumes. The order is TOTAL
    (totalprice desc, orderkey asc), so tie semantics never enter and
    all three functions are deterministic in both engines. Scale: one
    hash partition per status; at 100 TB the same shapes run per
    bounded key-range bucket like every other window here (the
    p_key_skew / chunked-window discipline)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_orderstatus",
        "o_orderkey",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cdist"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


_register(
    "o_rank_fractional",
    o_rank_fractional,
    """SELECT o_orderstatus, o_orderkey,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cdist,
       CAST(ntile(4) OVER w AS INT) AS quartile
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus
             ORDER BY o_totalprice DESC, o_orderkey ASC)""",
)


def w_gapfill(spark, sf_dir):
    """Time-series gap-fill + forward fill (r13): the telemetry
    regularization every monitoring/feature pipeline needs — a sparse
    per-key monthly series (a ~1% customer slice, so gaps exist at
    every SF) densified onto the full month calendar of each key's
    observed span, missing months zero-counted and flagged, with the
    last observed count carried forward (``F.last(ignorenulls=True)``
    over an unbounded-preceding frame == SQL ``last_value(x IGNORE
    NULLS)``).

    Shape: the calendar is ``sequence(min_month, max_month, interval
    1 month)`` exploded PER KEY — rows ∝ keys × span, never a global
    range table — then one left join back to the actuals and one
    per-key window ordered by the (unique) month, so every stage is
    keyed and bounded. Months come from date_trunc in both engines;
    counts are exact bigints; the fill is value-copying — nothing
    float-ordered anywhere."""
    src = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 100 == 1)
        .select(
            "o_orderpriority",
            F.date_trunc("month", F.col("o_orderdate")).alias("month"),
        )
    )
    actual = src.groupBy("o_orderpriority", "month").agg(
        F.count("*").cast("bigint").alias("n")
    )
    span = actual.groupBy("o_orderpriority").agg(
        F.min("month").alias("lo"), F.max("month").alias("hi")
    )
    cal = span.select(
        "o_orderpriority",
        F.explode(
            F.sequence("lo", "hi", F.expr("interval 1 month"))
        ).alias("month"),
    )
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("month")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return cal.join(actual, ["o_orderpriority", "month"], "left").select(
        "o_orderpriority",
        "month",
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
        F.col("n").isNull().alias("is_gap"),
        F.last("n", ignorenulls=True).over(w).cast("bigint").alias("n_ffill"),
    )


_register(
    "w_gapfill",
    w_gapfill,
    """WITH src AS (
  SELECT o_orderpriority, date_trunc('month', o_orderdate) AS month
  FROM orders WHERE o_custkey % 100 = 1
), actual AS (
  SELECT o_orderpriority, month, CAST(COUNT(*) AS BIGINT) AS n
  FROM src GROUP BY o_orderpriority, month
), span AS (
  SELECT o_orderpriority, MIN(month) AS lo, MAX(month) AS hi
  FROM actual GROUP BY o_orderpriority
), cal AS (
  SELECT o_orderpriority,
         unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS month
  FROM span
)
SELECT c.o_orderpriority, c.month,
       CAST(COALESCE(a.n, 0) AS BIGINT) AS n,
       a.n IS NULL AS is_gap,
       CAST(last_value(a.n IGNORE NULLS) OVER (
         PARTITION BY c.o_orderpriority ORDER BY c.month
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS n_ffill
FROM cal c
LEFT JOIN actual a
  ON c.o_orderpriority = a.o_orderpriority AND c.month = a.month""",
)


def a_corr_regr(spark, sf_dir):
    """SQL-standard statistics family (r13): Pearson correlation +
    least-squares slope/intercept of (quantity → extendedprice) per
    return flag — corr / regr_slope / regr_intercept, the profiling
    surface a feature pipeline runs before trusting a linear signal.

    Built the shuffle-order-free way, not via the native corr():
    streaming-covariance implementations accumulate doubles in
    partition order, so a 1000-partition plan could drift from the
    oracle's addition order. Here the FIVE moment sums (Σx, Σy, Σxy,
    Σx², Σy²) accumulate as exact DECIMAL(30,4) — products carry ≤4
    decimals, so the per-row decimal cast is the same value in both
    engines and decimal addition is order-free — and the closed-form
    formulas run on the resulting doubles with IDENTICAL expression
    structure in the DuckDB twin, then round to 5 decimals (one
    engine's evaluator contracts a multiply-add the other doesn't:
    <1e-9 divergence measured once at sf0.001; every emitted value
    sits ≥1e-7 from a 5-decimal boundary, so the rounded outputs are
    strictly deterministic). Zero-variance groups yield NULL via the
    guarded denominators rather than a division error."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").alias("x"),
        F.col("l_extendedprice").alias("y"),
    )
    g = li.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("x").cast(DECIMAL_ACC)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(DECIMAL_ACC)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(DECIMAL_ACC))
        .cast("double")
        .alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(DECIMAL_ACC))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(DECIMAL_ACC))
        .cast("double")
        .alias("syy"),
    )
    nd = F.col("n").cast("double")
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / nd
    varx = F.col("sxx") - F.col("sx") * F.col("sx") / nd
    vary = F.col("syy") - F.col("sy") * F.col("sy") / nd
    slope = cov / F.nullif(varx, F.lit(0.0))
    # round(…, 5) on BOTH sides: the input sums are bit-equal, but the
    # final expression tree is long enough for one-ulp divergence
    # (measured <1e-9 once at sf0.001 — FMA contraction territory).
    # Every emitted value sits ≥1e-7 from a 5-decimal rounding
    # boundary at every harness SF (measured), so the rounded outputs
    # are strictly deterministic cross-engine.
    return g.select(
        "l_returnflag",
        "n",
        F.round(
            cov / F.nullif(F.sqrt(varx * vary), F.lit(0.0)), 5
        ).alias("corr_qty_price"),
        F.round(slope, 5).alias("regr_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / nd, 5).alias(
            "regr_intercept"
        ),
    )


_register(
    "a_corr_regr",
    a_corr_regr,
    """WITH g AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(30,4)))
              AS DOUBLE) AS sxy,
         CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,4)))
              AS DOUBLE) AS sxx,
         CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(30,4)))
              AS DOUBLE) AS syy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       ROUND((sxy - sx * sy / CAST(n AS DOUBLE))
         / nullif(sqrt((sxx - sx * sx / CAST(n AS DOUBLE))
                       * (syy - sy * sy / CAST(n AS DOUBLE))), 0.0), 5)
         AS corr_qty_price,
       ROUND((sxy - sx * sy / CAST(n AS DOUBLE))
         / nullif(sxx - sx * sx / CAST(n AS DOUBLE), 0.0), 5) AS regr_slope,
       ROUND((sy - ((sxy - sx * sy / CAST(n AS DOUBLE))
              / nullif(sxx - sx * sx / CAST(n AS DOUBLE), 0.0)) * sx)
         / CAST(n AS DOUBLE), 5) AS regr_intercept
FROM g""",
)
