"""The Q0 streaming pipeline end-to-end (SURVEY.md §3.1, re-expressed).

Reference lifecycle (spark_ingestion.py:80-136): Kafka source → cast →
from_json → flatten → points CASE → to_timestamp → not-null filter →
foreachBatch JDBC append, checkpointed, append mode. Here the same
transform (``plans.contract_f1.transform_stream`` — literally the
batch function) runs over either source and lands in
``transactional_parquet_sink``, upgrading delivery from at-least-once
to effectively-exactly-once (§2.8 T5). Every pipeline here writes a
manifest table: ``F1Engine.from_lakehouse`` serves it,
``erase_results`` erases from it and ``results_changes`` reads it
incrementally, while the streaming writer keeps committing.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from f1_realtime_data_pipeline_spark.plans.contract_f1 import transform_stream
from f1_realtime_data_pipeline_spark.sources.kafka import kafka_stream_reader
from f1_realtime_data_pipeline_spark.sources.replay import raw_value_stream
from f1_realtime_data_pipeline_spark.streaming.sinks import transactional_parquet_sink

#: the idempotency key for race results (§3.4 duplicate amplification)
RESULT_KEYS = ("session_key", "driver_number")


def _start_result_pipeline(
    raw, sink_path: str, checkpoint_dir: str, available_now: bool
) -> StreamingQuery:
    """THE Q0→sink wiring, shared by the replay and Kafka ingestion
    paths (r7 review: both carried a verbatim copy of the writeStream
    block, so a change to the sink keying/ordering contract had to
    land twice or the two paths silently diverged).

    order_cols=None → the sink orders by ALL non-key columns (its
    documented genuine total order). The previous ["date",
    "grand_prix"] was DEGENERATE within the key — both are constant
    per session, so a producer re-send with corrected points had a
    partitioning-dependent survivor (r6 review fix)."""
    transformed = transform_stream(raw, value_col="value")
    writer = (
        transformed.writeStream.outputMode("append")
        .foreachBatch(transactional_parquet_sink(sink_path, RESULT_KEYS))
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_replay_pipeline(
    spark: SparkSession,
    source_dir: str,
    sink_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Broker-less pipeline: replay directory → Q0 transform →
    manifest table (``transactional_parquet_sink``). ``availableNow``
    drains the backlog in bounded micro-batches then stops — the
    test/replay trigger; a live deployment would use the default or a
    processingTime trigger."""
    raw = raw_value_stream(spark, source_dir, max_files_per_trigger)
    return _start_result_pipeline(
        raw, sink_path, checkpoint_dir, available_now=True
    )


def start_kafka_pipeline(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    sink_path: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """The production wiring (needs the Kafka connector jar): identical
    transform and sink, Kafka source (spark_ingestion.py:80-88
    semantics — earliest offsets, failOnDataLoss=false)."""
    raw = kafka_stream_reader(spark, bootstrap_servers, topic).load()
    return _start_result_pipeline(
        raw, sink_path, checkpoint_dir, available_now=False
    )


def start_admission_pipeline(
    spark: SparkSession,
    source_dir: str,
    corpus_hashes,
    sink_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Streaming corpus ingestion behind the incremental-dedup
    admission gate — the streaming twin of the batch
    ``d_incremental_dedup`` query: new documents arrive as JSON lines
    ``{doc_id, text}``; each micro-batch drops docs whose exact text
    already exists in the static corpus (stream-static LEFT ANTI join
    on the 8-byte ``xxhash64(text)`` — ``corpus_hashes`` is a static
    one-column (``h``) relation), then commits through the keyed row
    sink (``transactional_parquet_sink``) on the same hash, which also
    dedups duplicates WITHIN the stream and across replays
    (exactly-once under checkpoint loss, §2.8 T5 semantics).

    At 100 TB the static side is the corpus' hash index — bucketed on
    ``h`` so the per-batch anti-join prunes to matching buckets. No
    broadcast hint: an anti-join can only broadcast the STATIC (build)
    side, and pinning that would cap the corpus index at
    broadcast size — the planner is left free to broadcast while the
    index is small and switch to a bucket-pruned hash join as it
    grows (the streamed micro-batch stays the small probe side either
    way).
    """
    from pyspark.sql import functions as F

    raw = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(source_dir)
    )
    # text-less rows never reach the hash (r6 review fix, the batch
    # twin's NULL discipline): xxhash64(NULL) is a CONSTANT joinable
    # value, so one admitted null-text row would silently swallow
    # every later malformed/text-less doc via the sink's hash key —
    # and PERMISSIVE parsing turns any malformed JSON line into
    # exactly such an all-null row (the stream cannot use
    # split_quarantine's cached corrupt-column filter, so the
    # null-required-field filter IS the streaming quarantine here).
    admitted = (
        raw.filter(F.col("text").isNotNull() & F.col("doc_id").isNotNull())
        .withColumn("h", F.xxhash64("text"))
        .join(corpus_hashes, "h", "left_anti")
    )
    return (
        admitted.writeStream.outputMode("append")
        .foreachBatch(transactional_parquet_sink(sink_path, ["h"]))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
