"""Streaming path: availableNow drain of the pages backlog produces
the same per-sink alert counts as the batch plan's enriched,
country-gated alert rows (one stateless prefix, run in both modes)."""

from __future__ import annotations

from pyspark.sql import functions as F

from sagan_spark.pages import pages_table
from sagan_spark.pipeline import Pipeline
from sagan_spark.streaming.stream import run_available_now

from .conftest import SF_DIR


def test_stream_counts_match_batch(spark, tmp_path):
    pages = pages_table(spark, SF_DIR, rep=2)
    src = str(tmp_path / "pages_src")
    pages.write.mode("overwrite").parquet(src)

    run_available_now(spark, src, str(tmp_path / "ckpt"), out_table="sc_test")
    streamed = (
        spark.table("sc_test")
        .groupBy("sink", "sid")
        .agg(F.sum("n").alias("n"))
        .collect()
    )
    got = {(r["sink"], r["sid"]): r["n"] for r in streamed}

    batch = (
        Pipeline(spark)
        .enriched(spark.read.parquet(src))
        .groupBy("sink", "sid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    exp = {(r["sink"], r["sid"]): r["n"] for r in batch}
    assert got == exp and len(exp) > 0
