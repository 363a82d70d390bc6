"""Operational processors (SURVEY.md §2.6 A6-A7; [U] upstream
src/processors/{track-clients,client-stats,stats-json,perfmon}.c and
tools/saganpeek).

  * ``domain_stats`` — per-domain event/alert counters (client-stats /
    perfmon analog) via explicit two-phase salted aggregation (the
    Zipf-hot d0 domain holds ~30% of rows — §4 O9).
  * ``stale_clients`` — hosts that stopped logging: domains whose last
    page is older than T seconds before the batch max (track-clients).
  * ``bit_state_table`` — the xbits/flexbits state table as a queryable
    relation (saganpeek analog: inspect which bits are set per key at
    end-of-batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sagan_spark.functions.agg import salted_count
from sagan_spark.gates.xbits import bit_events, bit_ops_rows
from sagan_spark.rules.model import Rule
from sagan_spark.session import local_df


def domain_stats(hits: DataFrame, salt_n: int = 16) -> DataFrame:
    """(domain, n) alert counts per domain — salted two-phase."""
    return salted_count(hits, ["domain"], salt_n)


DOMAIN_STATS_SQL = "SELECT domain, count(*) AS n FROM matched GROUP BY domain"


def stale_clients(pages: DataFrame, stale_s: int = 21600) -> DataFrame:
    """Domains silent for > stale_s before the batch max timestamp
    ([U] track-clients: alert when a host stops logging)."""
    per = pages.groupBy("domain").agg(F.max("warc_epoch").alias("last_epoch"))
    mx = per.agg(F.max("last_epoch").alias("batch_max"))
    return (
        per.crossJoin(F.broadcast(mx))
        .where(F.col("last_epoch") < F.col("batch_max") - stale_s)
        .select("domain", "last_epoch")
    )


def stale_clients_sql(stale_s: int = 21600) -> str:
    return f"""
SELECT domain, last_epoch FROM (
  SELECT domain, max(warc_epoch) AS last_epoch FROM pages GROUP BY domain
)
WHERE last_epoch < (SELECT max(warc_epoch) FROM pages) - {stale_s}
""".strip()


def bit_state_table(gated: DataFrame, rules: list[Rule], spark: SparkSession) -> DataFrame:
    """End-of-batch bit store: latest event per (name, key) decides the
    state; expired sets are reported unset (saganpeek analog)."""
    writes, _ = bit_ops_rows(rules)
    if not writes:
        return local_df(spark, [], "name string, key string, state string, set_epoch long")
    writes_df = local_df(
        spark, writes, "sid long, name string, track string, op string, expire int"
    )
    ev = bit_events(gated, writes_df)
    batch_max = ev.agg(F.max("warc_epoch").alias("bmax"))
    w = Window.partitionBy("name", "key").orderBy(
        F.col("warc_epoch").desc(), F.col("url").desc(), F.col("esid").desc()
    )
    latest = ev.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1)
    state = F.when(
        (F.col("op") == "set")
        & (
            F.col("expire").isNull()
            | (F.col("bmax") < F.col("warc_epoch") + F.col("expire"))
        ),
        F.lit("set"),
    ).otherwise(F.lit("unset"))
    return (
        latest.crossJoin(F.broadcast(batch_max))
        .select(
            "name",
            "key",
            state.alias("state"),
            F.col("warc_epoch").alias("set_epoch"),
        )
    )


def bit_state_sql(rules: list[Rule]) -> str:
    """DuckDB twin over the oracle `bgated`-equivalent (uses wgated —
    bit writes are taken pre-bit-test, matching the engine)."""
    from sagan_spark.gates.windows import track_key_sql
    from sagan_spark.gates.xbits import bit_values_sql

    wv, _ = bit_values_sql(rules)
    ekey = track_key_sql("bw.track", prefix="g.")
    return f"""
SELECT name, key, state, set_epoch FROM (
  SELECT ev.name, ev.key, ev.warc_epoch AS set_epoch,
    CASE WHEN ev.op = 'set' AND (ev.expire IS NULL
          OR (SELECT max(warc_epoch) FROM (
                SELECT g.warc_epoch FROM wgated g JOIN {wv} ON g.sid = bw.sid
              )) < ev.warc_epoch + ev.expire)
      THEN 'set' ELSE 'unset' END AS state,
    row_number() OVER (PARTITION BY ev.name, ev.key
                       ORDER BY ev.warc_epoch DESC, ev.url DESC, ev.esid DESC) AS _rn
  FROM (
    SELECT bw.name, {ekey} AS key, g.warc_epoch, g.url, g.sid AS esid,
           bw.op, bw.expire
    FROM wgated g JOIN {wv} ON g.sid = bw.sid
  ) ev
)
WHERE _rn = 1
""".strip()
