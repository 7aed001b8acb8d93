"""Tests of the benchmark's own logic (not of the engine).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from common import (  # noqa: E402
    event_log_lines,
    job_intervals,
    outside_intervals,
    parse_event_log,
    summary,
    union_length,
)
from datagen import RaceFeed, star_tables  # noqa: E402
from live_ingest import commit_times, read_source_log  # noqa: E402


def test_summary_reports_p90_only_with_ten_samples_beyond_it():
    small = summary(range(1, 100))
    assert small["n"] == 99 and small["p50"] == 50 and small["max"] == 99
    assert "p90" not in small
    big = summary(range(1, 101))
    assert big["n"] == 100
    assert big["p90"] == pytest.approx(90.1)  # inclusive interpolation
    assert summary([]) == {"n": 0}


def test_union_and_outside_intervals():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0
    # wall 0..10, jobs cover 1..3 and 2..4 (union 3 s) plus one clipped to 9..10
    assert outside_intervals(0, 10, [(1, 3), (2, 4), (9, 12), (20, 30)]) == pytest.approx(6)


def _job(jid, group, stages, t0, t1):
    return [
        {
            "Event": "SparkListenerJobStart",
            "Job ID": jid,
            "Submission Time": t0,
            "Stage IDs": stages,
            "Properties": {"spark.jobGroup.id": group},
        },
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t1},
    ]


def _task(stage, cpu_ns=0, gc_ms=0, spill=0, shuffle=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": shuffle},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


def test_parse_event_log_attributes_tasks_to_job_groups(tmp_path):
    events = (
        _job(0, "q-a", [0, 1], 1000, 2000)
        + _job(1, "q-b", [2], 2500, 3000)
        + [
            _task(0, cpu_ns=2e9, gc_ms=100, shuffle=2**20),
            _task(1, cpu_ns=1e9, spill=2**21),
            _task(2, cpu_ns=5e8),
        ]
    )
    log = tmp_path / "local-123"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    parsed = parse_event_log(event_log_lines(str(tmp_path)))
    a = parsed["groups"]["q-a"]
    assert a["tasks"] == 2 and a["cpu_s"] == pytest.approx(3.0)
    assert a["gc_s"] == pytest.approx(0.1) and a["spill_mb"] == pytest.approx(2.0)
    assert a["shuffle_mb"] == pytest.approx(2.0)
    assert parsed["total"]["tasks"] == 3
    assert job_intervals(parsed, "q-b") == [(2.5, 3.0)]
    assert outside_intervals(0.5, 3.5, job_intervals(parsed)) == pytest.approx(1.5)


def test_parse_event_log_written_by_spark(tmp_path):
    """A tiny real event log in Spark 4's rolling layout: the job group
    set by the caller is found and its tasks are attributed to it."""
    pyspark = pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = (
        pyspark.sql.SparkSession.builder.master("local[1]")
        .appName("perfbench-eventlog-test")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + str(log_dir))
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "true")
        .config("spark.sql.warehouse.dir", str(tmp_path / "wh"))
        .getOrCreate()
    )
    assert isinstance(spark, SparkSession)
    try:
        spark.sparkContext.setJobGroup("tiny", "tiny")
        df = spark.range(100)
        assert df.groupBy((df.id % 3).alias("k")).count().count() == 3
    finally:
        spark.stop()
    assert any(p.startswith("eventlog_v2_") for p in os.listdir(log_dir))
    parsed = parse_event_log(event_log_lines(str(log_dir)))
    jobs = [j for j in parsed["jobs"].values() if j["group"] == "tiny"]
    assert jobs and all(j["end"] >= j["start"] for j in jobs)
    assert parsed["groups"]["tiny"]["tasks"] >= 1
    assert parsed["groups"]["tiny"]["cpu_s"] > 0


def test_read_source_log_handles_plain_and_compacted_files(tmp_path):
    log = tmp_path / "ck" / "sources" / "0"
    log.mkdir(parents=True)

    def entry(name, batch):
        return json.dumps({"path": f"file:///x/src/{name}", "timestamp": 1, "batchId": batch})

    (log / "9.compact").write_text("v1\n" + entry("batch-00000.txt", 0) + "\n" + entry("batch-00001.txt", 9) + "\n")
    (log / "10").write_text("v1\n" + entry("batch-00002.txt", 10) + "\n")
    (log / ".10.crc").write_text("junk")
    assert read_source_log(str(tmp_path / "ck")) == {
        "batch-00000.txt": 0,
        "batch-00001.txt": 9,
        "batch-00002.txt": 10,
    }


def test_commit_times_take_the_later_query_and_flag_missing_commits():
    files = ["f0", "f1", "f2"]
    batch_of = {"row": {"f0": 0, "f1": 1, "f2": 2}, "mv": {"f0": 0, "f1": 1}}
    epochs = {
        "row": {0: {"end": 10.0}, 1: {"end": 12.0}, 2: {"end": 13.0}},
        "mv": {0: {"end": 11.0}, 1: {"end": 11.5}},
    }
    assert commit_times(files, batch_of, epochs) == {"f0": 11.0, "f1": 12.0, "f2": None}
    # a batch the source log names but the sink never committed
    assert commit_times(["f0"], {"row": {"f0": 0}}, {"row": {}}) == {"f0": None}


def test_race_feed_is_seeded_and_shaped_like_the_wire():
    a, b = RaceFeed(5), RaceFeed(5)
    batches = [a.batch(200) for _ in range(3)]
    assert batches == [b.batch(200) for _ in range(3)]
    assert batches[0] != RaceFeed(6).batch(200)
    lines = [line for batch in batches for line in batch]
    malformed = [x for x in lines if not x.endswith("}")]
    assert len(malformed) == 3  # one per file
    msgs = [json.loads(x) for x in lines if x.endswith("}")]
    keys = [(m["session_key"], m["driver_number"]) for m in msgs]
    resent = len(keys) - len(set(keys))
    assert 0 < resent < 0.15 * len(keys)
    by_key = {}
    for x in lines:
        if x.endswith("}"):
            m = json.loads(x)
            by_key.setdefault((m["session_key"], m["driver_number"]), set()).add(x)
    assert all(len(v) == 1 for v in by_key.values())  # re-sends are exact copies
    assert {m["driver_number"] for m in msgs} == {str(d) for d in range(1, 21)}
    assert any(m["position"] is None for m in msgs)


def test_star_tables_are_a_function_of_the_seed():
    a, b, c = star_tables(3), star_tables(3), star_tables(4)
    assert all(a[n].equals(b[n]) for n in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 60000 and a["documents"].num_rows == 500
