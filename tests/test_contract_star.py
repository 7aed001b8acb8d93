"""Contract queries Q0-Q4 (star-schema analog): shape + semantics smoke.

The value-level gate is the DuckDB oracle (tests/test_oracle_parity.py);
these tests pin the structural semantics.
"""

from __future__ import annotations

import __spark_entry__ as entrymod
from f1_realtime_data_pipeline_spark.plans import contract_star


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"driver_number", "driver_name", "points", "wins", "total_gps", "win_rate"} == set(
        df.columns
    )


def test_q1_standings_semantics(spark, sf_dir):
    rows = contract_star.q1_standings(spark, sf_dir).collect()
    by_driver = {r.driver_number: r for r in rows}
    assert len(by_driver) == len(rows), "one row per driver"
    for r in rows:
        assert r.points >= 0
        assert r.wins >= 0
        assert r.total_gps > 0
        assert abs(r.win_rate - r.wins * 100.0 / r.total_gps) < 1e-12


def test_q2_champion_is_argmax(spark, sf_dir):
    champs = contract_star.q2_champion(spark, sf_dir).collect()
    assert len(champs) <= 1
    if champs:
        standings = contract_star.q1_standings(spark, sf_dir).collect()
        best = max(standings, key=lambda r: (r.points, -r.driver_number))
        assert champs[0].points == best.points


def test_q4_podium_top3(spark, sf_dir):
    podium = contract_star.q4_podium(spark, sf_dir).collect()
    assert [r.podium_rank for r in sorted(podium, key=lambda r: r.podium_rank)] == [1, 2, 3]
    standings = sorted(
        contract_star.q1_standings(spark, sf_dir).collect(),
        key=lambda r: (-r.points, r.driver_number),
    )
    assert {r.driver_number for r in podium} == {r.driver_number for r in standings[:3]}


def test_q0_no_error_events_and_points_range(spark, sf_dir):
    rows = contract_star.q0_stream_transform(spark, sf_dir).collect()
    assert rows
    assert all(r.event_type != "error" for r in rows)
    assert all(1 <= r.position <= 20 for r in rows)
    assert all(r.points == 0 for r in rows if r.position > 10)


def test_json_k_extract_classifies_malformed_instead_of_aborting(spark):
    # r8 ANSI sweep: under Spark 4's default ANSI mode a plain cast of
    # ONE malformed props.k ('12abc') killed the whole job with
    # CAST_INVALID_INPUT — a single bad record in a real event stream
    # takes down the pipeline. The extract sites use try_cast now:
    # malformed → NULL → classified out (q0's not-null position
    # filter; uncounted by w_json_props' COUNT(k)).
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"  # the hazard
    df = spark.createDataFrame(
        [(0, '{"k": 5}'), (1, '{"k": "12abc"}'), (2, "not json at all")],
        "event_id bigint, props string",
    )
    out = {
        r.event_id: r.k
        for r in df.select(
            "event_id",
            F.get_json_object("props", "$.k").try_cast("int").alias("k"),
        ).collect()
    }
    assert out == {0: 5, 1: None, 2: None}


def test_fact_msg_src_concurrent_publish_is_atomic(spark, sf_dir, tmp_path, monkeypatch):
    # ADVICE r8: the shared MV message fixture was check-then-act —
    # q1_standings_mv and q3_classification_mv racing the _SUCCESS
    # probe on one session could both write the same dir and tear it.
    # The publish is now write-to-unique-stage + atomic rename; two
    # concurrent builders must yield exactly ONE complete dir (the
    # loser adopts the winner's), with no stage dirs left behind.
    import os
    import tempfile
    import threading

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))

    results, errors = [], []

    def build():
        try:
            results.append(contract_star._fact_msg_src(spark, sf_dir))
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=build) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert not errors, errors
    assert len(set(results)) == 1  # both callers agree on one path
    src = results[0]
    assert os.path.exists(f"{src}/_SUCCESS")  # complete committed write
    # no orphaned stage dirs strand in the fixture root
    leftovers = [d for d in os.listdir(tmp_path) if ".stage-" in d]
    assert leftovers == []
    # the published fixture holds the full serialized fact exactly once
    n_lines = spark.read.text(src).count()
    assert n_lines == contract_star.race_fact(spark, sf_dir).count()


def test_fact_msg_src_teardown_cannot_delete_published_fixture(
    spark, sf_dir, tmp_path, monkeypatch
):
    # ADVICE r9: the probe+teardown was still check-then-act — caller
    # A sees no _SUCCESS, caller B renames a complete dir into src,
    # A's rmtree deletes the just-published fixture under B's readers.
    # The section now runs under an exclusive flock, so starting from
    # a TORN pre-state (src exists without _SUCCESS) N concurrent
    # builders must converge on one complete dir that every caller's
    # returned path can actually read.
    import os
    import tempfile
    import threading

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))

    torn = os.path.join(
        str(tmp_path),
        f"mvsrc_{os.path.basename(sf_dir)}_{spark.sparkContext.applicationId}",
    )
    os.makedirs(torn, exist_ok=True)
    with open(os.path.join(torn, "part-00000"), "w") as f:
        f.write("torn partial write\n")  # no _SUCCESS: must be torn down

    results, errors = [], []

    def build():
        try:
            src = contract_star._fact_msg_src(spark, sf_dir)
            # read IMMEDIATELY — the window the advice targeted is a
            # reader resolving its file list while another caller's
            # teardown deletes the dir
            results.append((src, spark.read.text(src).count()))
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=build) for _ in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert not errors, errors
    expected = contract_star.race_fact(spark, sf_dir).count()
    assert {r[0] for r in results} == {torn}
    assert all(r[1] == expected for r in results)
    assert os.path.exists(f"{torn}/_SUCCESS")
