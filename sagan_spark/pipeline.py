"""The flagship parse → match → extract → enrich → gate → route →
aggregate pipeline (SURVEY.md §3.2), assembled from the per-stage
modules.  One declarative DataFrame plan end-to-end: Catalyst sees the
whole thing (filter pushdown into the scan, broadcast joins for every
dimension, shared exchanges for the window gates — §4).

Stage order (defines the golden semantics; [U] engine.c hot path):
  match (M1-M8) → shared extracts (X1-X4, pre-explode) → explode to
  (page, sid) → per-rule extraction config → GeoIP + classification
  (E1-E3) → country gate → after/threshold windows (A1-A3) → xbit
  join-back (A4-A5) → sink routing (K7) → per-sink counts (A8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sagan_spark.enrich.enrich import (
    country_gate,
    geo_dim_df,
    with_classification,
    with_geo,
)
from sagan_spark.gates.xbits import apply_gates
from sagan_spark.parse.extract import (
    apply_rule_extraction,
    rule_config_df,
    with_shared_extracts,
)
from sagan_spark.rules.compiler import CompiledRules
from sagan_spark.rules.fixture_rules import (
    CLASSIFICATIONS,
    PROGRAM_PROTO,
    fixture_rules,
    geo_rows,
)
from sagan_spark.rules.model import Rule


def classification_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        CLASSIFICATIONS, schema="classtype string, description string, priority int"
    )


def proto_map_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(PROGRAM_PROTO, schema="source string, proto string")


class Pipeline:
    """Compiled end-to-end pipeline for a ruleset."""

    def __init__(self, spark: SparkSession, rules: list[Rule] | None = None):
        self.spark = spark
        self.rules = list(rules) if rules is not None else list(fixture_rules())
        self.comp = CompiledRules(self.rules)
        self.cfg = rule_config_df(spark, self.rules)
        self.cls = classification_df(spark)
        self.geo = geo_dim_df(spark, geo_rows())
        self.pmap = proto_map_df(spark)
        # E3: reference URLs attached to routed alerts ([U] src/
        # reference.c) — tiny broadcast dim joined at the routing stage
        # so the strings don't ride through the gate shuffles
        ref_rows = [(r.sid, "|".join(r.references)) for r in self.rules if r.references]
        self.refs = (
            spark.createDataFrame(ref_rows, schema="sid long, refs string")
            if ref_rows
            else None
        )

    # --- stages -----------------------------------------------------------
    def matched(self, pages: DataFrame) -> DataFrame:
        m = self.comp.with_sids(pages).where(F.size("sids") > 0)
        return with_shared_extracts(m)

    def hits(self, pages: DataFrame) -> DataFrame:
        # NO pre-explode filter: `where(size(sids) > 0)` before the
        # explode makes the optimizer inline the whole match expression
        # twice → TWO ArrowEvalPython nodes (every row crosses into
        # Python twice) and an interpreted (non-codegen) projection —
        # measured 50× slower.  explode() of an empty array already
        # emits nothing, so the filter is semantically redundant here.
        #
        # The wide text/html columns are dead after the match stage
        # (extraction reads the pre-computed shared-extract columns) —
        # dropping them BEFORE the ~10× explode keeps them out of every
        # downstream shuffle.
        m = with_shared_extracts(self.comp.with_sids(pages))
        return m.withColumn("sid", F.explode("sids")).drop(
            "sids", "html", "text", "doc_id", "rep", "warc_ts"
        )

    def extracted(self, pages: DataFrame) -> DataFrame:
        return apply_rule_extraction(self.hits(pages), self.cfg, self.pmap)

    def enriched(self, pages: DataFrame) -> DataFrame:
        df = self.extracted(pages)
        df = with_geo(df, self.geo, "src_ip", "src_cc")
        df = with_geo(df, self.geo, "dst_ip", "dst_cc")
        df = with_classification(df, self.cls)
        return country_gate(df)

    # columns the gate + routing stages actually need — everything else
    # (extraction scratch, cfg arrays, defaults) is dead weight that the
    # staging barrier would otherwise write and every shuffle carry
    GATE_COLS = [
        "url",
        "domain",
        "warc_epoch",
        "sid",
        "source",
        "src_ip",
        "dst_ip",
        "port",
        "dst_port",
        "proto",
        "hash",
        "src_cc",
        "dst_cc",
        "classtype",
        "priority",
        "sink",
        "rev",
    ]

    def window_gated(self, pages: DataFrame) -> DataFrame:
        """Alert stream after the after/threshold gates only (bit tests
        not applied): rows of rules without a window gate pass through."""
        pruned = self.enriched(pages).select(*self.GATE_COLS)
        return apply_gates(pruned, [r for r in self.rules if r.after or r.threshold])

    def gated(self, pages: DataFrame) -> DataFrame:
        # ONE staging barrier for the whole gate family: apply_gates
        # stages the keyed alert stream once, and every window and bit
        # branch sources its sid subset from that snapshot (see its
        # docstring for the overlap-only second write).
        pruned = self.enriched(pages).select(*self.GATE_COLS)
        return apply_gates(pruned, self.rules)

    def routed(self, pages: DataFrame) -> DataFrame:
        """Alert stream with routing metadata (K7): every gated alert
        goes to its rule's sink; ``signature_id`` = sid; ``refs`` =
        '|'-joined reference list (E3)."""
        g = self.gated(pages)
        if self.refs is not None:
            g = g.join(F.broadcast(self.refs), "sid", "left")
        else:
            g = g.withColumn("refs", F.lit(None).cast("string"))
        return g.select(
            "sink",
            F.col("sid").alias("signature_id"),
            "url",
            "domain",
            "warc_epoch",
            "src_ip",
            "dst_ip",
            "port",
            "dst_port",
            "proto",
            "hash",
            "src_cc",
            "dst_cc",
            "classtype",
            "priority",
            "rev",
            "refs",
        )

    def sink_counts(self, pages: DataFrame) -> DataFrame:
        """The A8 correctness contract: exact per-sink per-signature
        counts."""
        return (
            self.routed(pages)
            .groupBy("sink", "signature_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    def write_sinks(self, pages: DataFrame, out_dir: str) -> dict[str, int]:
        """Fan-out write: one directory per sink, partitioned by
        signature_id ([U] output.c dispatch → K1-K7).  Returns per-sink
        row counts.

        Single-pass: ONE ``partitionBy(sink, signature_id)`` write
        replaces the old per-sink filtered-writes loop (which scanned
        the routed frame once per sink — at 100× the data the re-scans
        are the cost).  NOTE this was a LAYOUT MIGRATION, not a
        byte-identical swap: the loop wrote ``out_dir/<sink>/...`` with
        ``sink`` as a data column; the partitioned write produces Hive
        -style ``out_dir/sink=<s>/signature_id=<n>/`` and both ``sink``
        and ``signature_id`` live only in the partition directories,
        not in the data files (tests/README reflect the new layout)."""
        routed = self.routed(pages).persist()
        try:
            counts = {
                r["sink"]: r["cnt"]
                for r in routed.groupBy("sink")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .collect()
            }
            (
                routed.write.mode("overwrite")
                .partitionBy("sink", "signature_id")
                .parquet(out_dir)
            )
            return counts
        finally:
            routed.unpersist()
