"""The reference's contract queries with EXACT reference semantics,
over reference-shaped DataFrames (schemas.py). Unit-tested against
literal fixtures (tests/test_contract_f1.py); the oracle-checked
star-schema analogs live in ``contract_star``.

Differences from the analogs, preserved deliberately (SURVEY.md §3.4):

- ``driver_number`` is TEXT end-to-end — joins must not cast
  (spark_ingestion.py:67-77 vs :40).
- ``win_rate`` is ``round(wins / total_gps * 100, 2)``
  (streamlit-app.py:57-58).
- Season-complete gate is a parameterized constant, default 22
  (streamlit-app.py:65).
- Standings order points-desc with an explicit driver_number
  tie-break (pandas was insertion-stable; Spark is not).
- The at-least-once sink can duplicate rows (no PK on race_results,
  spark_ingestion.py:24-35); :func:`dedup_results` is the idempotent
  repair keyed on (session_key, driver_number).

Serving plans are single-pass. :func:`standings` scans the fact once
(one per-driver aggregate carries points, wins and each driver's GP
set) and :func:`champion` and :func:`podium` are its first rows, not
re-planned aggregates. Every output is bounded by its domain (drivers,
GPs, one GP's sessions), so each is sorted as one partition
(``coalesce(1).sortWithinPartitions``) instead of a range-partitioned
``orderBy``: no sampling job, no sort shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from f1_realtime_data_pipeline_spark.functions.points import points_for_position
from f1_realtime_data_pipeline_spark.operators.aggregations import dedup_first_wins
from f1_realtime_data_pipeline_spark.schemas import RACE_RESULT_MSG_WITH_CORRUPT

SEASON_TOTAL_GPS = 22  # streamlit-app.py:65


def transform_stream(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Q0, the in-stream transform (spark_ingestion.py:91-113):

    CAST(value AS STRING) → from_json (PERMISSIVE + corrupt-record
    column) → flatten → points CASE ladder → to_timestamp(date) →
    filter position IS NOT NULL.

    Works identically on a batch or streaming DataFrame — the
    streaming wrapper (streaming.pipeline) passes a Kafka/file stream
    through this exact function. Malformed JSON yields a row of nulls
    with the payload in _corrupt_record (dropped by the not-null
    filter, countable upstream for observability).
    """
    return (
        raw.select(F.col(value_col).cast("string").alias("json"))
        .select(F.from_json("json", RACE_RESULT_MSG_WITH_CORRUPT).alias("data"))
        .select("data.*")
        .withColumn("points", points_for_position("position"))
        # try_to_timestamp (r8 ANSI sweep): one malformed wire date
        # ('2023-13-99') aborts the stream under Spark 4's default
        # ANSI mode; NULL-on-malformed keeps the record flowing with
        # a NULL event time — the same PERMISSIVE classify-drop the
        # from_json step applies to the rest of the payload
        .withColumn("date", F.try_to_timestamp("date"))
        .filter(F.col("position").isNotNull())
        # the corrupt-record column is always NULL past the not-null
        # filter; dropping it restores the RACE_RESULTS column
        # contract for every sink downstream (r6 review fix — the
        # leaked dead column landed in each parquet fact file and in
        # the sink's all-non-key-column order)
        .drop("_corrupt_record")
    )


def dedup_results(results: DataFrame) -> DataFrame:
    """Idempotent-sink repair: exactly one row per (session_key,
    driver_number) (SURVEY.md §3.4 duplicate amplification).

    r7 (VERDICT r6 #9): first-wins under the SAME total order the
    streaming idempotent sink uses — ALL non-key columns sorted by
    name, ascending (``streaming.sinks._resolve_order``, imported so
    there is exactly one definition). The previous ``[date,
    grand_prix]`` order was degenerate within the result key
    (duplicates of one (session, driver) share both), so which
    payload survived a conflicting-duplicate repair was
    partitioning-dependent — and could disagree with the row the
    streaming sink had kept for the same key. Batch repair and
    streaming sink now provably pick the same winner (property test
    pins it on a dirty fixture)."""
    from f1_realtime_data_pipeline_spark.streaming.sinks import _resolve_order

    keys = ["session_key", "driver_number"]
    return dedup_first_wins(
        results,
        keys=keys,
        order=_resolve_order(results, keys, None),
    )


def merged(results: DataFrame, drivers: DataFrame) -> DataFrame:
    """J1: fact ⋈ broadcast(dim) left-outer on the TEXT key
    (streamlit-app.py:41). Unknown driver_numbers survive with null
    name/headshot."""
    return results.join(F.broadcast(drivers), "driver_number", "left")


def _single_partition_sorted(df: DataFrame, *order: Column) -> DataFrame:
    """``df`` as one partition sorted by ``order`` — the serving sort
    (module docstring). ``coalesce`` is narrow: without a shuffle below
    it, the scan itself runs as one task."""
    return df.coalesce(1).sortWithinPartitions(*order)


def _board_order() -> tuple[Column, Column]:
    """The standings order: points desc, driver_number tie-break."""
    return F.col("points").desc(), F.col("driver_number").asc()


def standings(results: DataFrame, drivers: DataFrame) -> DataFrame:
    """Q1 championship standings (streamlit-app.py:41-60).

    One pass over the fact: a single ``groupBy(driver_number)`` sums
    points (A2), counts wins as ``count_if(position = 1)`` (A1+J3 —
    zero for a winless driver without a join) and collects each
    driver's set of grands prix. The per-driver rows are coalesced to
    one partition, where an unpartitioned window unions the sets into
    the season length (countDistinct grand_prix, P10) without an
    exchange; then the broadcast dimension join (J1) and win_rate
    (round 2 per the reference). Ordered points desc with a
    driver_number tie-break (O1 + §3.4) as one sorted partition.
    """
    per_driver = (
        results.groupBy("driver_number")
        .agg(
            F.sum("points").cast("bigint").alias("points"),
            F.count_if(F.col("position") == 1).alias("wins"),
            F.collect_set("grand_prix").alias("__gps"),
        )
        .coalesce(1)
    )
    season = F.collect_list("__gps").over(Window.partitionBy())
    total_gps = F.size(F.array_distinct(F.flatten(season))).cast("bigint")
    board = (
        per_driver.withColumn("total_gps", total_gps)
        .join(F.broadcast(drivers), "driver_number", "left")
        .select(
            "driver_number",
            "driver_name",
            "headshot_url",
            "points",
            "wins",
            "total_gps",
            F.round(F.col("wins") * F.lit(100.0) / F.col("total_gps"), 2).alias("win_rate"),
        )
    )
    return _single_partition_sorted(board, *_board_order())


def champion(
    results: DataFrame, drivers: DataFrame, season_total: int = SEASON_TOTAL_GPS
) -> DataFrame:
    """Q2 champion banner (streamlit-app.py:65-66): empty unless the
    season is complete (countDistinct GPs >= season_total), else the
    arg-max standings row — the first row of the sorted standings, so
    the request runs the standings plan and nothing else."""
    return (
        standings(results, drivers)
        .filter(F.col("total_gps") >= season_total)
        .limit(1)
    )


def classification(results: DataFrame, drivers: DataFrame, grand_prix: str) -> DataFrame:
    """Q3 per-GP classification (streamlit-app.py:107-121): one GP,
    ordered by position, gap_to_leader displayed with 'N/A' coalesce."""
    one_gp = (
        merged(results, drivers)
        .filter(F.col("grand_prix") == F.lit(grand_prix))
        .select(
            "driver_number",
            "driver_name",
            "position",
            F.coalesce(F.col("gap_to_leader"), F.lit("N/A")).alias("gap_to_leader"),
        )
    )
    return _single_partition_sorted(
        one_gp, F.col("position").asc(), F.col("driver_number").asc()
    )


def available_gps(results: DataFrame) -> DataFrame:
    """The GP picker (P9 + O4): distinct non-null GPs, newest first."""
    latest = (
        results.filter(F.col("grand_prix").isNotNull())
        .groupBy("grand_prix")
        .agg(F.max("date").alias("latest"))
    )
    return _single_partition_sorted(
        latest, F.col("latest").desc(), F.col("grand_prix").asc()
    ).select("grand_prix")


def podium(results: DataFrame, drivers: DataFrame) -> DataFrame:
    """Q4 podium (streamlit-app.py:127-133): top-3 standings + rank.
    The first three rows of the sorted standings, ranked in their own
    single partition — no second standings plan."""
    rank = F.row_number().over(Window.orderBy(*_board_order())).cast("int")
    return (
        standings(results, drivers)
        .limit(3)
        .select(
            rank.alias("podium_rank"), "driver_number", "driver_name", "points"
        )
    )
