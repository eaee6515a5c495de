"""Structured Streaming variant of the extraction job.

The reference is batch-only (SURVEY.md §2.10); this is the corpus-level
extension: a file-source stream of spans documents processed in
micro-batches with ``Trigger.AvailableNow`` — each micro-batch is one
``run_extraction`` call via ``foreachBatch`` (the same plan, one hash
route on ``doc_id``, and the same output-then-lineage commit) under
its own run id.  The Spark checkpoint alone makes restarts
exactly-once: micro-batches never anti-join against lineage, since
that would skip new documents whose partition keys an earlier batch
committed.

``foreachBatch`` is used (rather than a streaming mapInArrow) because
the extraction stage needs a repartition, which streaming DataFrames
do not allow mid-plan; inside foreachBatch the micro-batch is a plain
batch DataFrame and the whole batch pipeline applies unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..extract import DEFAULT_BASE_URL
from .job import DOCUMENTS_SCHEMA, check_run_id, run_extraction


def _read_parquet_stream(
    spark: SparkSession,
    input_path: str,
    schema,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """A parquet file stream over ``input_path``.  The file-stream
    source requires a directory, so a single parquet file streams its
    parent with a glob filter."""
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if os.path.isfile(input_path):
        reader = reader.option("pathGlobFilter", os.path.basename(input_path))
        input_path = os.path.dirname(input_path) or "."
    return reader.load(input_path)


def run_extraction_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    lineage_path: str,
    *,
    base_url: str = DEFAULT_BASE_URL,
    n_partitions: int | None = None,
    checkpoint_path: str | None = None,
    run_id: str = "stream",
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain all available input files as micro-batches, then stop."""
    run_id = check_run_id(run_id)
    checkpoint_path = checkpoint_path or output_path + "_checkpoint"

    stream = _read_parquet_stream(
        spark, input_path, DOCUMENTS_SCHEMA, max_files_per_trigger
    )

    def process_batch(batch_df, batch_id: int) -> None:
        run_extraction(
            batch_df.sparkSession,
            batch_df,
            output_path,
            lineage_path,
            base_url=base_url,
            n_partitions=n_partitions,
            run_id=f"{run_id}-{batch_id}",
            resume=False,
        )

    query = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()


EVENTS_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)


def run_windowed_stream(
    spark: SparkSession,
    input_path: str,
    *,
    query_name: str = "windowed_events",
    output_mode: str = "append",
    watermark: str = "2 hours",
    window: str = "6 hours",
    checkpoint_path: str | None = None,
):
    """Watermarked event-time tumbling-window aggregation — the real
    Structured Streaming stateful operator (not foreachBatch): state is
    keyed by (window, event_type), the watermark bounds it, and in
    append mode a window is emitted exactly once, when the watermark
    passes its end (late rows inside the watermark still count; later
    ones are dropped).  ``events_windowed_counts`` in
    operators/relational.py is the batch twin with the same window
    spec: complete-mode output equals it exactly, append-mode output
    equals it minus the windows still open at the final watermark.

    Drains available input (AvailableNow) into an in-memory sink and
    returns the result DataFrame.
    """
    import pyspark.sql.functions as F

    stream = _read_parquet_stream(spark, input_path, EVENTS_SCHEMA)

    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            # exact integer-cents sum (operators/common.py discipline)
            # — identical to the events_windowed_counts batch twin, so
            # stream == batch holds bit-for-bit
            F.expr(
                "CAST(sum(CAST(CAST(floor((value) * 100 + 0.5) AS BIGINT)"
                " AS DECIMAL(28,0))) AS DOUBLE) / 100.0"
            ).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    writer = (
        agg.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
    )
    if checkpoint_path:
        writer = writer.option("checkpointLocation", checkpoint_path)
    query = writer.start()
    query.awaitTermination()
    return spark.table(query_name)


def run_dedup_stream(
    spark: SparkSession,
    input_path: str,
    *,
    query_name: str = "dedup_events",
    watermark: str = "90 days",
):
    """At-least-once ingestion dedup: ``dropDuplicatesWithinWatermark``
    on event_id keeps the first delivery of each event and bounds the
    dedup state by the watermark — the streaming half of the
    ``events_dedup_replayed`` batch twin (operators/relational.py),
    which sees the same replayed input and must agree row-for-row on
    the surviving events.

    State sizing at scale: the store holds one key per event inside
    the watermark horizon; horizon x ingest rate bounds it, late
    re-deliveries beyond the horizon are dropped as new-but-duplicate
    (the standard trade — tighten the watermark to what the delivery
    layer can actually replay)."""
    stream = _read_parquet_stream(spark, input_path, EVENTS_SCHEMA)

    deduped = stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    query = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(query_name)
