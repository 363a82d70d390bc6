"""Structured Streaming variant of the match→route stage (SURVEY.md
§2.7 streaming row; [U] upstream Sagan is a streaming engine — FIFO
read loop in src/sagan.c).

The SAME compiled ruleset (CompiledRules) drives both the batch and
streaming plans — matching, extraction and routing are stateless
projections, so they lift to ``readStream`` unchanged.  The stateful
gates (after/threshold, xbits/flexbits) are one ``applyInPandasWithState``
operator each in ``streaming/gates.py``, exact under in-order arrival;
the batch pipeline remains the source of truth for exact semantics
(event-time total order is not enforceable under late data — the
watermark bounds it instead), which is why the north rule pins
correctness on the batch path.

``streaming_sink_counts`` gives per-sink/per-rule counts over tumbling
event-time windows with a configurable watermark; fed by a file source
it processes each new parquet drop incrementally
(``trigger(availableNow=True)`` drains the backlog and stops — used in
tests to prove batch/stream agreement).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sagan_spark.parse.extract import with_shared_extracts
from sagan_spark.rules.compiler import CompiledRules
from sagan_spark.rules.fixture_rules import fixture_rules
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
    """Stateless slice of the pipeline on a stream: match + explode +
    shared extracts (pure projections — identical plan to batch)."""
    rules = list(rules) if rules is not None else list(fixture_rules())
    comp = CompiledRules(rules)
    m = comp.with_sids(pages_stream).where(F.size("sids") > 0)
    m = with_shared_extracts(m)
    sink_map = {r.sid: r.sink for r in rules}
    sink_col = F.create_map(
        *[F.lit(x) for kv in sink_map.items() for x in kv]
    )
    return (
        m.withColumn("sid", F.explode("sids"))
        .drop("sids")
        .withColumn("sink", sink_col[F.col("sid")])
    )


def streaming_sink_counts(
    hits: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window per-sink counts ([U] analog:
    processors/stats-json periodic counters)."""
    return (
        hits.withWatermark("warc_ts", watermark)
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
