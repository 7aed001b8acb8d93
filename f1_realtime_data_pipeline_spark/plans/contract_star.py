"""Contract queries Q0-Q4 over the driver's star schema (oracle-checked).

The reference's observable query surface is four serving-layer queries
plus the in-stream transform (SURVEY.md §2.9, streamlit-app.py:41-133,
spark_ingestion.py:80-134). The DuckDB oracle only has the star-schema
tables, so — per FIXTURES.md's "Reference-query ↔ star-schema mapping" —
we derive a deterministic race-shaped fact from ``orders``:

- driver_number := o_custkey                  (dim = ``customer``)
- grand_prix    := month bucket of o_orderdate
- position      := NULL when o_orderstatus = 'P' (race in progress),
                   else o_orderkey % 25 + 1   (1..25; >10 scores 0)

which preserves every semantic the real queries exercise: nullable
position (P6), the points ladder incl. >10 (P4), TEXT-vs-int join keys
aside (unit-tested separately on F1-shaped fixtures), wins-with-default
(J3), count-distinct season length (A3), win-rate arithmetic (P10),
ordering with explicit tie-breaks (§3.4).

Exact reference semantics on reference-shaped tables live in
``plans.contract_f1`` (unit-tested, and checked through ``F1Engine``
against a DuckDB twin of the dashboard in ``tests/test_engine.py``).

Determinism vs. the oracle: integer aggregates only (points are ints);
the one ratio (win_rate) is a single IEEE-754 division identical in both
engines; no double summation anywhere, so no FP-association drift. The
reference's ``round(win_rate, 2)`` (streamlit-app.py:58) is applied in
``contract_f1`` but deliberately not here — Spark rounds HALF_UP and
DuckDB's rounding of doubles may disagree at exact .005 boundaries,
which would be a false oracle mismatch.

Scale posture (100 TB): the fact derivation is a pure map-side
projection; the fact is scanned ONCE into a (driver, grand_prix)
partial+final hash aggregate (conditional count_if folds the wins
branch into the same pass), and everything downstream — the per-driver
rollup, the global season length, the broadcast dim join, the 1-row
total_gps cross join — runs over that checkpointed
|drivers|×|months|-row aggregate, never the fact again; no driver-side
collect anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from f1_realtime_data_pipeline_spark.functions.points import (
    points_case_sql,
    points_for_position,
)
from f1_realtime_data_pipeline_spark.sources.parquet import read_events
from f1_realtime_data_pipeline_spark.operators.materialize import materialize

#: season-complete threshold analog (reference hard-codes 22 GPs,
#: streamlit-app.py:65; the star-schema analog has monthly "GPs")
SEASON_COMPLETE_GPS = 12


def _orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/orders.parquet")


def _customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/customer.parquet")


def race_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived race-shaped fact (pre-filter, position still
    nullable). ``session_key`` is the per-result identity the
    reference's message schema carries (schemas.RACE_RESULT_MSG;
    ``dedup_results`` keys on it) — here the order key, wire-typed as
    string; a driver can appear several times in one grand_prix
    (several orders per customer-month), so (grand_prix,
    driver_number) alone is NOT a row identity."""
    return _orders(spark, sf_dir).select(
        F.col("o_custkey").alias("driver_number"),
        F.date_format("o_orderdate", "yyyy-MM").alias("grand_prix"),
        F.when(F.col("o_orderstatus") == "P", F.lit(None).cast("int"))
        .otherwise((F.col("o_orderkey") % 25 + 1).cast("int"))
        .alias("position"),
        F.col("o_totalprice"),
        F.col("o_orderkey").cast("string").alias("session_key"),
    )


def scored_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Race fact → not-null filter (P6) → points ladder (P4).

    Mirrors the in-stream order of spark_ingestion.py:95-113 (project
    then filter); Catalyst pushes the filter below the projection either
    way, and with NULL scoring 0 in the ladder the two orders agree.
    """
    return (
        race_fact(spark, sf_dir)
        .filter(F.col("position").isNotNull())
        .withColumn("points", points_for_position("position"))
    )


#: shared oracle CTE prologue — must stay semantically identical to
#: race_fact/scored_fact above (points ladder is rendered from the same
#: POINTS_LADDER literal via points_case_sql)
_FACT_CTES = f"""
fact AS (
  SELECT o_custkey AS driver_number,
         strftime(o_orderdate, '%Y-%m') AS grand_prix,
         CASE WHEN o_orderstatus = 'P' THEN NULL
              ELSE CAST(o_orderkey % 25 + 1 AS INT) END AS position,
         o_totalprice
  FROM orders
),
scored AS (
  SELECT *, {points_case_sql("position")} AS points
  FROM fact WHERE position IS NOT NULL
)"""


def _standings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 core: standings + wins-with-default + season length + win rate.

    Single-pass form: ONE scan of the fact feeds a
    (driver, grand_prix) partial aggregate — conditional ``count_if``
    folds the wins branch in, so the reference's LEFT JOIN +
    COALESCE(wins, 0) (J3, streamlit-app.py:41-60) collapses to a
    conditional count with identical values (0 when a driver never won;
    the join form itself stays exercised by
    ``j_left_enrich``/``j_lookup_default``). The partial aggregate —
    |drivers|×|months| rows, orders of magnitude below the fact at any
    scale — is materialized via eager ``localCheckpoint`` because both
    the per-driver rollup and the global season-length distinct read
    it; without the checkpoint each branch would re-run the fact scan
    (the round-3 plan scanned the fact 4×). Checkpoint blocks are
    ContextCleaner-collected with the plan."""
    g = (
        scored_fact(spark, sf_dir)
        .groupBy("driver_number", "grand_prix")
        .agg(
            F.sum("points").cast("bigint").alias("pts"),
            F.count(F.when(F.col("position") == 1, F.lit(1)))
            .cast("bigint")
            .alias("wns"),
        )
    )
    g = materialize(g)
    return _serve_standings(spark, sf_dir, g)


def _serve_standings(
    spark: SparkSession, sf_dir: str, g: DataFrame
) -> DataFrame:
    """The Q1 serving assembly, shared between the batch derivation
    (``_standings``) and the streaming-MV path (``q1_standings_mv``) —
    r7, VERDICT r6 deferred item (d). ``g`` is the
    (driver_number, grand_prix) partial aggregate with additive
    columns ``pts``/``wns`` — exactly the MV grain: points and wins
    are additive there; season length is NOT additive at driver
    grain, which is why the GP dimension survives to this point.
    Rollup + count-distinct season length + broadcast dim join +
    1-row cross join, all over the |drivers|×|months| relation."""
    standings = g.groupBy("driver_number").agg(
        F.sum("pts").cast("bigint").alias("points"),
        F.sum("wns").cast("bigint").alias("wins"),
    )
    totals = g.agg(
        F.countDistinct("grand_prix").cast("bigint").alias("total_gps")
    )
    dim = _customer(spark, sf_dir).select(
        F.col("c_custkey").alias("driver_number"), F.col("c_name").alias("driver_name")
    )
    return (
        standings.join(F.broadcast(dim), "driver_number", "left")
        .crossJoin(F.broadcast(totals))
        .withColumn("win_rate", F.col("wins") * F.lit(100.0) / F.col("total_gps"))
    )


_STANDINGS_CTES = (
    _FACT_CTES
    + """,
standings AS (
  SELECT driver_number, CAST(SUM(points) AS BIGINT) AS points
  FROM scored GROUP BY driver_number
),
wins AS (
  SELECT driver_number, CAST(COUNT(*) AS BIGINT) AS wins
  FROM scored WHERE position = 1 GROUP BY driver_number
),
totals AS (
  SELECT CAST(COUNT(DISTINCT grand_prix) AS BIGINT) AS total_gps FROM scored
),
q1 AS (
  SELECT s.driver_number,
         c.c_name AS driver_name,
         s.points,
         CAST(COALESCE(w.wins, 0) AS BIGINT) AS wins,
         t.total_gps,
         CAST(COALESCE(w.wins, 0) AS BIGINT) * 100.0 / t.total_gps AS win_rate
  FROM standings s
  LEFT JOIN customer c ON s.driver_number = c.c_custkey
  LEFT JOIN wins w ON s.driver_number = w.driver_number
  CROSS JOIN totals t
)"""
)


def q1_standings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 championship standings (streamlit-app.py:41-60)."""
    return _standings(spark, sf_dir).select(
        "driver_number", "driver_name", "points", "wins", "total_gps", "win_rate"
    )


Q1_SQL = f"""WITH {_STANDINGS_CTES}
SELECT driver_number, driver_name, points, wins, total_gps, win_rate FROM q1
"""


def q2_champion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 champion banner: season-complete gate + arg-max row
    (streamlit-app.py:65-66) with the §3.4 explicit tie-break.

    Rank-after-limit (r7, VERDICT r6 #6): ``orderBy().limit(1)``
    compiles to TakeOrderedAndProject — a per-partition top-1 reduced
    on the driver, no global sort, no single-partition WindowExec
    over the full |drivers|-sized standings (the previous
    ``row_number OVER (ORDER BY …)`` moved the whole relation to one
    task; at the star mapping's scale the standings are
    |customers|-sized). Same total order ⇒ same single row."""
    return (
        _standings(spark, sf_dir)
        .filter(F.col("total_gps") >= SEASON_COMPLETE_GPS)
        .orderBy(F.col("points").desc(), F.col("driver_number").asc())
        .limit(1)
        .select("driver_number", "driver_name", "points", "wins", "win_rate")
    )


Q2_SQL = f"""WITH {_STANDINGS_CTES}
SELECT driver_number, driver_name, points, wins, win_rate
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY points DESC, driver_number ASC) AS rn
  FROM q1 WHERE total_gps >= {SEASON_COMPLETE_GPS}
)
WHERE rn = 1
"""


def q3_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 per-GP classification (streamlit-app.py:107-121): pick one GP
    (deterministically: the earliest), order by position, display gap
    with the 'N/A' coalesce (P11)."""
    return _serve_classification(spark, sf_dir, scored_fact(spark, sf_dir))


def _serve_classification(
    spark: SparkSession, sf_dir: str, scored: DataFrame
) -> DataFrame:
    """The Q3 serving assembly, shared between the batch derivation
    and the lakehouse path (``q3_classification_mv``, r8 — VERDICT r7
    #7). ``scored`` carries (grand_prix, driver_number, position) at
    the classification grain."""
    target = scored.agg(F.min("grand_prix").alias("grand_prix"))
    dim = _customer(spark, sf_dir).select(
        F.col("c_custkey").alias("driver_number"), F.col("c_name").alias("driver_name")
    )
    gap = F.when(
        F.col("position") == 1, F.lit(None).cast("string")
    ).otherwise(F.concat(F.lit("+"), ((F.col("position") - 1) * 10).cast("string")))
    return (
        scored.join(F.broadcast(target), "grand_prix", "inner")
        .join(F.broadcast(dim), "driver_number", "left")
        .select(
            "driver_number",
            "driver_name",
            "position",
            F.coalesce(gap, F.lit("N/A")).alias("gap_to_leader"),
        )
        .orderBy("position", "driver_number")
    )


Q3_SQL = f"""WITH {_FACT_CTES},
target AS (SELECT MIN(grand_prix) AS grand_prix FROM scored)
SELECT f.driver_number,
       c.c_name AS driver_name,
       f.position,
       COALESCE(
         CASE WHEN f.position = 1 THEN NULL
              ELSE '+' || CAST((f.position - 1) * 10 AS VARCHAR) END,
         'N/A') AS gap_to_leader
FROM scored f
JOIN target t ON f.grand_prix = t.grand_prix
LEFT JOIN customer c ON f.driver_number = c.c_custkey
ORDER BY f.position, f.driver_number
"""


def q4_podium(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 podium: top-3 of the standings with a rank column
    (streamlit-app.py:127-133; O3 + the O5 implied row_number).

    Rank-after-limit (r7, VERDICT r6 #6): ``orderBy().limit(3)`` is
    TakeOrderedAndProject (per-partition top-3, driver-side merge of
    3-row candidates) and the row_number window ranks only the 3
    SURVIVING rows — the unpartitioned WindowExec that previously
    pulled the full |drivers|-sized standings into one task now sees
    a constant-size relation. Same total order ⇒ same 3 rows/ranks."""
    w = Window.orderBy(F.col("points").desc(), F.col("driver_number").asc())
    return (
        _standings(spark, sf_dir)
        .orderBy(F.col("points").desc(), F.col("driver_number").asc())
        .limit(3)
        .withColumn("podium_rank", F.row_number().over(w).cast("int"))
        .select("podium_rank", "driver_number", "driver_name", "points")
    )


Q4_SQL = f"""WITH {_STANDINGS_CTES}
SELECT CAST(rn AS INT) AS podium_rank, driver_number, driver_name, points
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY points DESC, driver_number ASC) AS rn
  FROM q1
)
WHERE rn <= 3
"""


def q0_stream_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q0, the in-stream transform, as a batch plan over ``events``
    (spark_ingestion.py:91-113): JSON parse (P2) → CASE points (P4) →
    string→timestamp (P5) → not-null filter (P6).

    The identical plan is wired into Structured Streaming by
    ``streaming.pipeline``; running it as batch first is what makes it
    oracle-checkable (SURVEY.md §7 phase 2).
    """
    events = read_events(spark, sf_dir)
    # try_cast (r8 ANSI sweep): under Spark 4's default ANSI mode a
    # plain cast of one malformed props.k ('12abc') kills the whole
    # job with CAST_INVALID_INPUT; try_cast yields NULL → the existing
    # not-null position filter classifies the record out — the same
    # PERMISSIVE classify-drop the streaming form's from_json applies.
    # Oracle twin: TRY_CAST (identical NULL-on-malformed semantics).
    k = F.get_json_object("props", "$.k").try_cast("int")
    position = (
        F.when(F.col("event_type") == "error", F.lit(None).cast("int"))
        .otherwise((k % 20 + 1).cast("int"))
    )
    return (
        events.withColumn("position", position)
        .withColumn("points", points_for_position("position"))
        .withColumn(
            "event_time",
            F.to_timestamp(F.date_format("ts", "yyyy-MM-dd HH:mm:ss")),
        )
        .filter(F.col("position").isNotNull())
        .select("event_id", "event_time", "user_id", "event_type", "position", "points", "value")
    )


Q0_SQL = f"""WITH parsed AS (
  SELECT event_id,
         strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S') AS event_time,
         user_id, event_type, value,
         CASE WHEN event_type = 'error' THEN NULL
              ELSE CAST(TRY_CAST(json_extract_string(props, '$.k') AS INT) % 20 + 1 AS INT)
         END AS position
  FROM events
)
SELECT event_id, event_time, user_id, event_type, position,
       {points_case_sql("position")} AS points,
       value
FROM parsed WHERE position IS NOT NULL
"""


def _fact_msg_src(spark: SparkSession, sf_dir: str) -> str:
    """Serialize the race fact ONCE per (sf, session) as
    reference-shaped JSON messages (schemas.RACE_RESULT_MSG wire
    types: driver_number TEXT, null position absent, session_key the
    per-result identity) and return the directory — shared by BOTH
    lakehouse serving paths (r8 single-sourcing: q1_standings_mv and
    q3_classification_mv carried verbatim copies of the to_json
    struct and each wrote its own fixture; one serialization, one
    wire shape, half the staging I/O per oracle pass). Reuse is
    gated on the _SUCCESS marker Spark's committer writes LAST — a
    crashed prior write is torn down, never silently replayed. The
    publish is write-to-unique-stage + atomic rename (ADVICE r8: the
    old write-in-place was check-then-act — two MV queries racing the
    probe on one session could tear the shared fixture; now ``src``
    holds either a COMPLETE committed write or nothing, and a lost
    rename race just adopts the winner's complete dir). The whole
    probe→teardown→publish section runs under an exclusive ``flock``
    (ADVICE r9: the bare re-probe still left a window where caller A's
    probe saw no ``_SUCCESS``, caller B renamed a complete dir into
    ``src``, and A's rmtree deleted the just-published fixture out
    from under B's readers). flock is released by the kernel on
    process death, so a crashed holder cannot wedge the path — and
    once ``src`` carries ``_SUCCESS`` no lock holder ever tears it
    down again, so a reader handed ``src`` can list files without
    racing any future caller."""
    import fcntl
    import os
    import shutil
    import tempfile
    import uuid

    src = os.path.join(
        tempfile.gettempdir(),
        f"mvsrc_{os.path.basename(sf_dir)}_{spark.sparkContext.applicationId}",
    )
    lock_fd = os.open(f"{src}.lock", os.O_CREAT | os.O_RDWR, 0o600)
    try:
        fcntl.flock(lock_fd, fcntl.LOCK_EX)
        if not os.path.exists(f"{src}/_SUCCESS"):
            shutil.rmtree(src, ignore_errors=True)
            # unique same-parent stage dir: the publishing rename stays
            # a same-filesystem atomic op, and concurrent callers never
            # write the same path (Spark creates the stage itself)
            stage = f"{src}.stage-{uuid.uuid4().hex[:8]}"
            try:
                race_fact(spark, sf_dir).select(
                    F.to_json(
                        F.struct(
                            F.col("grand_prix"),
                            F.col("driver_number")
                            .cast("string")
                            .alias("driver_number"),
                            F.col("position"),
                            F.col("session_key"),
                        )
                    ).alias("value")
                ).coalesce(2).write.text(stage)
                try:
                    os.rename(stage, src)
                except OSError:
                    # defense-in-depth for non-flock filesystems (NFS
                    # cross-host): only a LOST RACE is recoverable — a
                    # complete dir now occupies ``src`` (its rename was
                    # gated on its own committed stage) — adopt it.
                    # Anything else propagates (m_binary_ingest policy).
                    if not os.path.exists(f"{src}/_SUCCESS"):
                        raise
                    shutil.rmtree(stage, ignore_errors=True)
            except BaseException:
                shutil.rmtree(stage, ignore_errors=True)
                raise
    finally:
        fcntl.flock(lock_fd, fcntl.LOCK_UN)
        os.close(lock_fd)
    return src


def q1_standings_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 served FROM a streaming MATERIALIZED VIEW — the full
    lakehouse contract path composed end-to-end (VERDICT r5 #4):

    1. the race fact is serialized to JSON-lines files in the
       reference's Kafka message shape (schemas.RACE_RESULT_MSG) and
       replayed as a file stream — the broker-less Q0 ingestion,
       same discipline as ``streaming.pipeline.start_replay_pipeline``;
    2. the REAL in-stream transform (``contract_f1.transform_stream``:
       cast → from_json → points CASE → to_timestamp → not-null
       filter, spark_ingestion.py:91-113) feeds a
       ``transactional_agg_sink`` at the (driver, grand_prix)
       partial-aggregate grain — points and wins are additive there,
       season length is NOT additive at driver grain, which is why
       the MV keeps the GP dimension (the standard MV grain choice,
       and exactly ``_standings``' checkpointed intermediate);
    3. the pipeline runs TWICE, the second time from a FRESH
       checkpoint so every file replays — the manifest's
       applied-epoch ledger makes the replay a no-op (exactly-once
       totals through the atomic commit, §3.4 closed transactionally);
    4. Q1 is served from the committed MV snapshot: per-driver rollup
       + count-distinct season length + broadcast dim join.

    Oracle: the SAME Q1_SQL the batch ``q1_standings`` checks against
    — the streaming-MV path must agree with the one-shot batch
    derivation value-for-value, which is the property that makes the
    MV a valid serving layer for the reference's flagship query."""
    import tempfile

    from f1_realtime_data_pipeline_spark.plans.contract_f1 import (
        transform_stream,
    )
    from f1_realtime_data_pipeline_spark.streaming.sinks import (
        agg_sink_schema,
        declare_sink_table,
        read_sink_snapshot,
        transactional_agg_sink,
    )

    import os

    # deterministic per-(sf, session) working dir, REUSED across
    # invocations (r6 review fix — a fresh mkdtemp per run leaked the
    # serialized fact + MV + two checkpoints every oracle pass). A
    # prior run's MV/checkpoints are torn down so the replay-twice
    # exactly-once proof runs fresh each invocation; the serialized
    # fact is reused when present.
    base = os.path.join(
        tempfile.gettempdir(),
        f"q1mv_{os.path.basename(sf_dir)}_{spark.sparkContext.applicationId}",
    )
    mv = f"{base}/mv"
    import shutil

    for sub in ("mv", "ckpt", "ckpt_replay"):
        shutil.rmtree(f"{base}/{sub}", ignore_errors=True)
    # 1. the shared reference-shaped message fixture (r8: serialized
    # once per session by _fact_msg_src, reused by q3's lakehouse
    # path; _SUCCESS-gated against crashed prior writes)
    src = _fact_msg_src(spark, sf_dir)

    # CREATE TABLE before the stream (r9 empty-input sweep): an empty
    # source fires zero micro-batches, so without a declared v1 the MV
    # has no committed snapshot and serving raises instead of
    # returning the empty standings the batch oracle produces. The
    # schema derives from the REAL transform applied to a zero-row
    # wire-shaped frame — never hand-written.
    probe = transform_stream(
        spark.createDataFrame([], "value string"), value_col="value"
    ).withColumn("is_win", (F.col("position") == 1).cast("int"))
    declare_sink_table(
        spark,
        mv,
        agg_sink_schema(
            spark,
            probe.schema,
            ["driver_number", "grand_prix"],
            ["points", "is_win"],
        ),
    )

    def run_pipeline(checkpoint: str) -> None:
        raw = (
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", 1)
            .load(src)
        )
        transformed = transform_stream(raw, value_col="value").withColumn(
            "is_win", (F.col("position") == 1).cast("int")
        )
        q = (
            transformed.writeStream.outputMode("append")
            .foreachBatch(
                transactional_agg_sink(
                    mv,
                    group_cols=["driver_number", "grand_prix"],
                    sum_cols=["points", "is_win"],
                )
            )
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_pipeline(f"{base}/ckpt")
    run_pipeline(f"{base}/ckpt_replay")  # fresh checkpoint: full replay

    # 4. serve Q1 from the MV snapshot (the |drivers|×|months| grain)
    # through the SAME serving assembly as the batch derivation (r7,
    # shared helper): the MV's additive columns map onto pts/wns
    g = read_sink_snapshot(spark, mv).select(
        F.col("driver_number").cast("int").alias("driver_number"),
        "grand_prix",
        F.col("points").alias("pts"),
        F.col("is_win").alias("wns"),
    )
    return _serve_standings(spark, sf_dir, g).select(
        "driver_number", "driver_name", "points", "wins", "total_gps", "win_rate"
    )


def q3_classification_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 served FROM the transactional lakehouse sink — the detail-
    grain twin of ``q1_standings_mv`` (r8, VERDICT r7 #7: Q3 was the
    one contract query without a lakehouse serving path). Q1's MV is
    an additive AGGREGATE (agg sink + applied-epoch ledger); a
    classification is detail rows, so its lakehouse form is the KEYED
    transactional table: stream the reference-shaped fact through the
    real in-stream transform into ``transactional_parquet_sink`` keyed
    by (session_key, driver_number) — the reference's own idempotency
    key (``dedup_results``; (grand_prix, driver_number) is NOT a row
    identity, a driver races several sessions per GP) — exactly-once
    there comes from the committed-snapshot key anti-join, not a
    ledger. The pipeline runs
    TWICE, the second time from a fresh checkpoint so every file
    replays and must anti-join to zero new rows. Q3 is then served
    from the committed snapshot through the SAME assembly as the batch
    derivation and checked against the SAME Q3 oracle — the agreement
    that makes the table a valid serving layer for the classification
    page."""
    import os
    import shutil
    import tempfile

    from f1_realtime_data_pipeline_spark.plans.contract_f1 import (
        transform_stream,
    )
    from f1_realtime_data_pipeline_spark.streaming.sinks import (
        declare_sink_table,
        read_sink_snapshot,
        transactional_parquet_sink,
    )

    base = os.path.join(
        tempfile.gettempdir(),
        f"q3mv_{os.path.basename(sf_dir)}_{spark.sparkContext.applicationId}",
    )
    tbl = f"{base}/tbl"
    for sub in ("tbl", "ckpt", "ckpt_replay"):
        shutil.rmtree(f"{base}/{sub}", ignore_errors=True)
    # the shared reference-shaped message fixture (one serialization
    # per session, _SUCCESS-gated — see _fact_msg_src)
    src = _fact_msg_src(spark, sf_dir)

    # CREATE TABLE before the stream (r9 empty-input sweep, the
    # q1_standings_mv discipline): the keyed sink stores the transform
    # output rows as-is, so the declared schema IS the transform's
    # schema over a zero-row wire-shaped frame.
    declare_sink_table(
        spark,
        tbl,
        transform_stream(
            spark.createDataFrame([], "value string"), value_col="value"
        ).schema,
    )

    def run_pipeline(checkpoint: str) -> None:
        raw = (
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", 1)
            .load(src)
        )
        q = (
            transform_stream(raw, value_col="value")
            .writeStream.outputMode("append")
            .foreachBatch(
                transactional_parquet_sink(
                    tbl,
                    keys=["session_key", "driver_number"],
                )
            )
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_pipeline(f"{base}/ckpt")
    run_pipeline(f"{base}/ckpt_replay")  # fresh checkpoint: full replay

    scored = read_sink_snapshot(spark, tbl).select(
        "grand_prix",
        F.col("driver_number").cast("int").alias("driver_number"),
        "position",
    )
    return _serve_classification(spark, sf_dir, scored)


QUERIES = {
    "q0_stream_transform": q0_stream_transform,
    "q1_standings_mv": q1_standings_mv,
    "q3_classification_mv": q3_classification_mv,
    "q1_standings": q1_standings,
    "q2_champion": q2_champion,
    "q3_classification": q3_classification,
    "q4_podium": q4_podium,
}

ORACLE = {
    "q0_stream_transform": Q0_SQL,
    "q1_standings": Q1_SQL,
    "q1_standings_mv": Q1_SQL,
    "q3_classification_mv": Q3_SQL,
    "q2_champion": Q2_SQL,
    "q3_classification": Q3_SQL,
    "q4_podium": Q4_SQL,
}
