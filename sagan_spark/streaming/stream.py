"""Structured Streaming variant of the pipeline (SURVEY.md §2.7
streaming row; [U] upstream Sagan is a streaming engine — FIFO read
loop in src/sagan.c).

ONE stateless prefix serves batch and streaming: ``streaming_hits`` is
the batch ``Pipeline``'s own match → shared extracts → explode → rule
extraction → GeoIP/classification → country gate chain, pruned to the
gate columns.  Every stage is a projection or a broadcast stream-static
join, so the same plan runs on ``readStream`` and the stateful gates
see only alerts that passed every stateless option, as in Sagan.  The
stateful gates (after/threshold, xbits/flexbits) are one
``applyInPandasWithState`` operator each in ``streaming/gates.py``,
exact under in-order arrival; the batch pipeline remains the source of
truth for exact semantics (event-time total order is not enforceable
under late data — the watermark bounds it instead), which is why the
north rule pins correctness on the batch path.

``streaming_sink_counts`` gives per-sink/per-rule counts over tumbling
event-time windows with a configurable watermark; fed by a file source
it processes each new parquet drop incrementally
(``trigger(availableNow=True)`` drains the backlog and stops — used in
tests to prove batch/stream agreement).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sagan_spark.pipeline import Pipeline
from sagan_spark.rules.model import Rule


def read_pages_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    static = spark.read.parquet(input_dir)
    reader = spark.readStream.schema(static.schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def streaming_hits(pages_stream: DataFrame, rules: list[Rule] | None = None) -> DataFrame:
    """The alert rows the gates read, on a stream: the batch
    ``Pipeline``'s enriched, country-gated rows (one plan for both
    modes)."""
    return Pipeline(pages_stream.sparkSession, rules).enriched(pages_stream).select(
        *Pipeline.GATE_COLS
    )


def streaming_sink_counts(
    hits: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window per-sink counts ([U] analog:
    processors/stats-json periodic counters)."""
    return (
        hits.withColumn("warc_ts", F.timestamp_seconds("warc_epoch"))
        .withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("win"), "sink", "sid")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("win_start"),
            "sink",
            "sid",
            "n",
        )
    )


def run_available_now(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    out_table: str = "stream_counts",
) -> None:
    """Drain the current backlog into an in-memory table and stop —
    the test/demo driver for the streaming path."""
    hits = streaming_hits(read_pages_stream(spark, input_dir))
    counts = streaming_sink_counts(hits)
    q = (
        counts.writeStream.outputMode("complete")
        .format("memory")
        .queryName(out_table)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
