"""Exact reference semantics on reference-shaped fixtures — the §3.4
hazard suite (points ladder edges, TEXT join keys, tie-breaks, dedup
idempotency, PERMISSIVE from_json)."""

from __future__ import annotations

from pyspark.sql import functions as F

from f1_realtime_data_pipeline_spark import fixtures
from f1_realtime_data_pipeline_spark.functions.points import (
    POINTS_LADDER,
    points_by_lookup,
    points_for_position,
)
from f1_realtime_data_pipeline_spark.plans import contract_f1


def test_points_ladder_edges(spark):
    rows = [(p,) for p in [None, 0, 1, 2, 3, 5, 10, 11, 15, 25, -3]]
    df = spark.createDataFrame(rows, "position int")
    out = {
        r.position: (r.ladder, r.lookup)
        for r in df.select(
            "position",
            points_for_position("position").alias("ladder"),
            points_by_lookup("position").alias("lookup"),
        ).collect()
    }
    for pos, (ladder, lookup) in out.items():
        expected = POINTS_LADDER.get(pos, 0)
        assert ladder == expected, f"position {pos}"
        assert lookup == expected, f"position {pos} (lookup)"


def test_transform_stream_permissive_and_filter(spark):
    out = contract_f1.transform_stream(fixtures.raw_messages(spark))
    rows = out.collect()
    # 11 well-formed rows; the null-position and 2 malformed rows drop
    assert len(rows) == 11
    assert all(r.position is not None for r in rows)
    by = {(r.session_key, r.driver_number, r.position): r for r in rows}
    assert by[("s1", "1", 1)].points == 25
    assert by[("s1", "16", 11)].points == 0  # >10 scores 0
    assert by[("s1", "1", 1)].date is not None  # to_timestamp applied
    assert dict(out.dtypes)["driver_number"] == "string"  # TEXT key (§3.4)


def test_transform_corrupt_records_observable(spark):
    raw = fixtures.raw_messages(spark)
    parsed = raw.select(
        F.from_json(
            F.col("value"),
            contract_f1.RACE_RESULT_MSG_WITH_CORRUPT,
        ).alias("d")
    ).select("d.*")
    assert parsed.filter(F.col("_corrupt_record").isNotNull()).count() == 2


def test_dedup_results_idempotent(spark):
    results = fixtures.race_results(spark)
    once = contract_f1.dedup_results(results)
    assert results.count() == 11
    assert once.count() == 10  # the replayed (s2, "1") duplicate gone
    # replaying the whole table again changes nothing (idempotency)
    twice = contract_f1.dedup_results(once.unionAll(results))
    assert sorted(map(tuple, twice.collect())) == sorted(map(tuple, once.collect()))


def test_standings_reference_semantics(spark):
    results = contract_f1.dedup_results(fixtures.race_results(spark))
    s = contract_f1.standings(results, fixtures.drivers(spark)).collect()
    by = {r.driver_number: r for r in s}
    # TEXT keys join without cast; unknown driver survives with null name
    assert by["99"].driver_name is None
    assert by["99"].points == 15
    # zero-wins driver gets 0 via coalesce, not null
    assert by["63"].wins == 0
    # points: driver 1 = 25+18+25 = 68, driver 44 = 18+25+18 = 61
    assert by["1"].points == 68
    assert by["44"].points == 61
    # win_rate rounded to 2 (reference semantics): 2 wins / 3 GPs
    assert by["1"].win_rate == round(2 * 100.0 / 3, 2)
    # ordering: points desc, driver_number asc tie-break
    assert [r.driver_number for r in s[:2]] == ["1", "44"]


def test_standings_tie_break_deterministic(spark):
    # two drivers with identical points: lexicographically smaller
    # driver_number (TEXT!) must come first every run
    results = fixtures.race_results(spark)
    tied = results.filter(F.col("driver_number").isin("16", "63"))
    s = contract_f1.standings(tied, fixtures.drivers(spark)).collect()
    assert s[0].points == s[1].points == 15 or s[0].points >= s[1].points
    if s[0].points == s[1].points:
        assert s[0].driver_number < s[1].driver_number


def test_champion_season_gate(spark):
    results = contract_f1.dedup_results(fixtures.race_results(spark))
    d = fixtures.drivers(spark)
    # 3 distinct GPs < 22 → no champion yet
    assert contract_f1.champion(results, d).count() == 0
    # lower the gate → champion is driver 1 (68 points)
    ch = contract_f1.champion(results, d, season_total=3).collect()
    assert len(ch) == 1 and ch[0].driver_number == "1"


def test_classification_gap_na(spark):
    results = contract_f1.dedup_results(fixtures.race_results(spark))
    rows = contract_f1.classification(results, fixtures.drivers(spark), "Jeddah").collect()
    assert [r.position for r in rows] == sorted(r.position for r in rows)
    gaps = {r.driver_number: r.gap_to_leader for r in rows}
    assert gaps["44"] == "N/A"  # winner's null gap coalesced
    assert gaps["16"] == "N/A"  # DNF null gap coalesced
    assert gaps["1"] == "+2.2"


def test_podium_and_available_gps(spark):
    results = contract_f1.dedup_results(fixtures.race_results(spark))
    d = fixtures.drivers(spark)
    pod = contract_f1.podium(results, d).collect()
    # "63" and "99" tie at 15 points; TEXT tie-break ranks "63" third
    assert [(r.podium_rank, r.driver_number) for r in pod] == [
        (1, "1"),
        (2, "44"),
        (3, "63"),
    ]
    gps = [r.grand_prix for r in contract_f1.available_gps(results).collect()]
    assert gps == ["Monza", "Jeddah", "Bahrain"]  # newest first (O4)


def test_batch_repair_picks_same_winner_as_streaming_sink(spark, tmp_path):
    # r7 property (VERDICT r6 #9): on a dirty table with CONFLICTING
    # duplicates (same (session_key, driver_number), different
    # payloads), the batch repair (dedup_results) must keep exactly
    # the row the streaming row sink would have kept — both
    # first-wins under the shared all-non-key-columns-by-name order,
    # independent of input partitioning.
    from f1_realtime_data_pipeline_spark.streaming.sinks import (
        read_sink_snapshot,
        transactional_parquet_sink,
    )

    clean = fixtures.race_results(spark)
    # conflicting replicas: every row re-sent with a different
    # position/points payload (the §3.4 duplicate-amplification shape)
    conflict = clean.withColumn(
        "position", (F.col("position") + 1).cast("int")
    ).withColumn("points", F.lit(0).cast(dict(clean.dtypes)["points"]))
    dirty = clean.unionAll(conflict).repartition(7)

    repaired = {
        (r.session_key, r.driver_number): tuple(r)
        for r in contract_f1.dedup_results(dirty).collect()
    }

    sink = str(tmp_path / "sink")
    transactional_parquet_sink(sink, keys=["session_key", "driver_number"])(dirty, 0)
    kept = {
        (r.session_key, r.driver_number): tuple(
            r[c] for c in contract_f1.dedup_results(dirty).columns
        )
        for r in read_sink_snapshot(spark, sink)
        .select(*dirty.columns)
        .collect()
    }
    assert repaired == kept
    # and the repair itself is partitioning-independent
    repaired2 = {
        (r.session_key, r.driver_number): tuple(r)
        for r in contract_f1.dedup_results(dirty.repartition(3)).collect()
    }
    assert repaired == repaired2
