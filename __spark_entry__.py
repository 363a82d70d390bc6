"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship pipeline (sink counts) on sf0.001.
``queries()`` / ``oracle_sql()`` — one entry per implemented operator
from SURVEY.md §2; the oracle SQL strings are generated from the SAME
rule AST as the Spark plan (sagan_spark.oracle), so names/semantics
stay in lock-step by construction.

The synthesized ``pages`` input table (BASELINE.json input_hint shape)
is derived deterministically from the driver's ``documents`` view in
both engines — see sagan_spark/pages.py for the parity-tested twins.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# replication factor for the pages synthesis in correctness queries —
# keep identical on both engines (bench scales it independently)
QUERY_REP = 4


def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.pages import pages_table

    return pages_table(spark, sf_dir, rep=QUERY_REP)


def _pipeline(spark: SparkSession):
    from sagan_spark.pipeline import Pipeline

    return Pipeline(spark)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full parse→enrich→route→aggregate, per-sink counts."""
    p = _pipeline(spark)
    return p.sink_counts(_pages(spark, "/root/testdata/sf0.001"))


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def _q_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pipeline(spark).sink_counts(_pages(spark, sf_dir))


def _q_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pipeline(spark).hits(_pages(spark, sf_dir)).select("url", "sid")


def _q_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pipeline(spark).extracted(_pages(spark, sf_dir)).select(
        "url", "sid", "src_ip", "dst_ip", "port", "dst_port", "proto", "hash"
    )


def _q_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pipeline(spark).enriched(_pages(spark, sf_dir)).select(
        "url", "sid", "src_cc", "dst_cc", "priority"
    )


def _q_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pipeline(spark).routed(_pages(spark, sf_dir)).select(
        "sink", "signature_id", "url"
    )


def _gate_urls(sid: int):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        p = _pipeline(spark)
        return (
            p.gated(_pages(spark, sf_dir))
            .where(F.col("sid") == sid)
            .select("url", "warc_epoch", "domain")
        )

    return q


def _q_blacklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.enrich.enrich import blacklist_dim_df, with_blacklist
    from sagan_spark.rules.fixture_rules import blacklist_rows

    df = _pipeline(spark).extracted(_pages(spark, sf_dir))
    bl = blacklist_dim_df(spark, blacklist_rows())
    out = with_blacklist(df, bl, "src_ip", "src_bl")
    return out.where(F.col("src_bl").isNotNull()).select("url", "sid", "src_bl")


def _q_extract_v6(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _pipeline(spark)
        .extracted(_pages(spark, sf_dir))
        .where(F.col("sid") == 5000026)
        .select("url", F.col("src_ip").alias("v6_src"), F.col("dst_ip").alias("v6_dst"))
    )


def _q_geo_v6(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.enrich.enrich import geo6_dim_df, with_geo_v6
    from sagan_spark.rules.fixture_rules import geo6_rows

    df = (
        _pipeline(spark)
        .extracted(_pages(spark, sf_dir))
        .where(F.col("sid") == 5000026)
    )
    g6 = geo6_dim_df(spark, geo6_rows())
    out = with_geo_v6(
        with_geo_v6(df, g6, "src_ip", "src_cc6"), g6, "dst_ip", "dst_cc6"
    )
    return out.select("url", "src_ip", "dst_ip", "src_cc6", "dst_cc6")


def _q_bluedot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.enrich.enrich import blacklist_dim_df, with_geo
    from sagan_spark.rules.fixture_rules import bluedot_rows

    df = _pipeline(spark).extracted(_pages(spark, sf_dir))
    bd = blacklist_dim_df(spark, bluedot_rows())
    out = with_geo(with_geo(df, bd, "src_ip", "bd_src"), bd, "dst_ip", "bd_dst")
    return out.where(
        F.col("bd_src").isNotNull() | F.col("bd_dst").isNotNull()
    ).select("url", "sid", "bd_src", "bd_dst")


def _q_routed_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _pipeline(spark)
        .routed(_pages(spark, sf_dir))
        .where(F.col("refs").isNotNull())
        .select("url", "signature_id", "refs")
    )


def _q_intel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.enrich.enrich import with_intel
    from sagan_spark.rules.fixture_rules import INTEL
    from sagan_spark.session import local_df

    intel = local_df(spark, INTEL, "indicator string, itype string, isource string")
    df = with_intel(_pipeline(spark).extracted(_pages(spark, sf_dir)), intel)
    return df.where(
        F.col("intel_domain_src").isNotNull() | F.col("intel_hash_src").isNotNull()
    ).select("url", "sid", "intel_domain_src", "intel_hash_src")


def _q_fast_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.route.formats import fast_lines

    return fast_lines(_pipeline(spark).routed(_pages(spark, sf_dir)))


def _q_alert_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.route.formats import alert_blocks

    p = _pipeline(spark)
    return alert_blocks(p.routed(_pages(spark, sf_dir)), p.rules)


def _q_unified2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.route.formats import unified2_hex

    return unified2_hex(_pipeline(spark).routed(_pages(spark, sf_dir)))


def _q_eve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.route.formats import eve_canonical

    return eve_canonical(_pipeline(spark).routed(_pages(spark, sf_dir)))


def _q_external(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.route.formats import external_payload

    return external_payload(_pipeline(spark).routed(_pages(spark, sf_dir)))


def _q_syslog(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.route.formats import syslog_lines

    p = _pipeline(spark)
    return syslog_lines(p.routed(_pages(spark, sf_dir)), p.rules)


def _q_smtp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.route.formats import smtp_messages

    p = _pipeline(spark)
    return smtp_messages(p.routed(_pages(spark, sf_dir)), p.rules)


def _q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.route.stats import domain_stats

    return domain_stats(_pipeline(spark).hits(_pages(spark, sf_dir)))


def _q_stale_clients(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.route.stats import stale_clients

    return stale_clients(_pages(spark, sf_dir))


def _q_bit_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.route.stats import bit_state_table

    p = _pipeline(spark)
    return bit_state_table(p.window_gated(_pages(spark, sf_dir)), p.rules, spark)


def _q_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sagan_spark.parse.grok import pages_grok, with_grok

    df = with_grok(_pages(spark, sf_dir), pages_grok())
    return df.select(
        "url",
        F.col("message").alias("extracted_text"),
        "nsrc_ip",
        "ndst_ip",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        "flagship_sink_counts": _q_flagship,
        "match_hits": _q_match,
        "extract_fields": _q_extract,
        "enrich_geo": _q_enrich,
        "routed_rows": _q_routed,
        "gate_after": _gate_urls(5000017),
        "gate_threshold_limit": _gate_urls(5000016),
        "gate_suppress": _gate_urls(5000018),
        "xbits_isset": _gate_urls(5000020),
        "xbits_isnotset": _gate_urls(5000021),
        "flexbits_pair_isset": _gate_urls(5000024),
        "flexbits_count": _gate_urls(5000032),
        "normalize_grok": _q_normalize,
        "extract_fields_v6": _q_extract_v6,
        "enrich_geo_v6": _q_geo_v6,
        "enrich_bluedot": _q_bluedot,
        "routed_refs": _q_routed_refs,
        "enrich_blacklist": _q_blacklist,
        "enrich_intel": _q_intel,
        "sink_fast_lines": _q_fast_lines,
        "sink_alert_blocks": _q_alert_blocks,
        "sink_unified2_hex": _q_unified2,
        "sink_eve_json": _q_eve,
        "sink_external_payload": _q_external,
        "sink_syslog_rfc5424": _q_syslog,
        "sink_smtp_message": _q_smtp,
        "stats_domain_salted": _q_domain_stats,
        "track_clients_stale": _q_stale_clients,
        "xbits_state_table": _q_bit_state,
    }
    try:
        from sagan_spark.datapipe.entry import datapipe_queries

        q.update(datapipe_queries())
    except ImportError:
        pass
    return q


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------


def oracle_sql() -> dict[str, str]:
    from sagan_spark.oracle import oracle_query
    from sagan_spark.pages import pages_with
    from sagan_spark.parse.grok import grok_sql, pages_grok

    def gate_sql(sid: int) -> str:
        return oracle_query(
            f"SELECT url, warc_epoch, domain FROM routed WHERE signature_id = {sid}",
            rep=QUERY_REP,
        )

    g = grok_sql(pages_grok())
    out = {
        "flagship_sink_counts": oracle_query(
            "SELECT sink, signature_id, count(*) AS n FROM routed GROUP BY 1, 2",
            rep=QUERY_REP,
        ),
        "match_hits": oracle_query(
            "SELECT url, sid FROM matched", rep=QUERY_REP
        ),
        "extract_fields": oracle_query(
            "SELECT url, sid, src_ip, dst_ip, port, dst_port, proto, hash FROM extracted",
            rep=QUERY_REP,
        ),
        "enrich_geo": oracle_query(
            "SELECT url, sid, src_cc, dst_cc, priority FROM cgated", rep=QUERY_REP
        ),
        "routed_rows": oracle_query(
            "SELECT sink, signature_id, url FROM routed", rep=QUERY_REP
        ),
        "gate_after": gate_sql(5000017),
        "gate_threshold_limit": gate_sql(5000016),
        "gate_suppress": gate_sql(5000018),
        "xbits_isset": gate_sql(5000020),
        "xbits_isnotset": gate_sql(5000021),
        "flexbits_pair_isset": gate_sql(5000024),
        "flexbits_count": gate_sql(5000032),
        "normalize_grok": pages_with(rep=QUERY_REP)
        + f" SELECT url, {g['message']} AS extracted_text, "
        f"{g['nsrc_ip']} AS nsrc_ip, {g['ndst_ip']} AS ndst_ip FROM pages",
    }

    from sagan_spark.enrich.enrich import blacklist_lateral_sql, bluedot_lateral_sql
    from sagan_spark.route.formats import fast_lines_sql
    from sagan_spark.route.stats import DOMAIN_STATS_SQL, bit_state_sql, stale_clients_sql
    from sagan_spark.rules.fixture_rules import (
        blacklist_values_sql,
        bluedot_values_sql,
        fixture_rules,
        intel_values_sql,
    )

    out["extract_fields_v6"] = oracle_query(
        "SELECT url, src_ip AS v6_src, dst_ip AS v6_dst FROM extracted "
        "WHERE sid = 5000026",
        rep=QUERY_REP,
    )
    from sagan_spark.enrich.enrich import geo6_lateral_sql
    from sagan_spark.rules.fixture_rules import geo6_values_sql

    out["enrich_geo_v6"] = oracle_query(
        "SELECT url, src_ip, dst_ip, "
        + geo6_lateral_sql("src_ip", "src_cc6", geo6_values_sql())
        + ", "
        + geo6_lateral_sql("dst_ip", "dst_cc6", geo6_values_sql())
        + " FROM extracted WHERE sid = 5000026",
        rep=QUERY_REP,
    )
    out["enrich_bluedot"] = oracle_query(
        "SELECT url, sid, bd_src, bd_dst FROM (SELECT url, sid, "
        + bluedot_lateral_sql("src_ip", "bd_src", bluedot_values_sql())
        + ", "
        + bluedot_lateral_sql("dst_ip", "bd_dst", bluedot_values_sql())
        + " FROM extracted) WHERE bd_src IS NOT NULL OR bd_dst IS NOT NULL",
        rep=QUERY_REP,
    )
    out["routed_refs"] = oracle_query(
        "SELECT url, signature_id, refs FROM routed WHERE refs IS NOT NULL",
        rep=QUERY_REP,
    )

    out["enrich_blacklist"] = oracle_query(
        "SELECT url, sid, src_bl FROM (SELECT url, sid, "
        + blacklist_lateral_sql("src_ip", "src_bl", blacklist_values_sql())
        + " FROM extracted) WHERE src_bl IS NOT NULL",
        rep=QUERY_REP,
    )
    out["enrich_intel"] = oracle_query(
        "SELECT e.url, e.sid, idom.isource AS intel_domain_src, "
        "ihash.isource AS intel_hash_src FROM extracted e "
        f"LEFT JOIN {intel_values_sql().replace(' AS intel(', ' AS idom(')} "
        "ON idom.itype = 'domain' AND idom.indicator = e.domain "
        f"LEFT JOIN {intel_values_sql().replace(' AS intel(', ' AS ihash(')} "
        "ON ihash.itype = 'hash' AND ihash.indicator = e.hash "
        "WHERE idom.isource IS NOT NULL OR ihash.isource IS NOT NULL",
        rep=QUERY_REP,
    )
    out["sink_fast_lines"] = oracle_query(fast_lines_sql(), rep=QUERY_REP)
    from sagan_spark.route.formats import alert_blocks_sql, unified2_hex_sql

    out["sink_alert_blocks"] = oracle_query(
        alert_blocks_sql(list(fixture_rules())), rep=QUERY_REP
    )
    out["sink_unified2_hex"] = oracle_query(unified2_hex_sql(), rep=QUERY_REP)
    from sagan_spark.route.formats import eve_canonical_sql, external_payload_sql

    out["sink_eve_json"] = oracle_query(eve_canonical_sql(), rep=QUERY_REP)
    out["sink_external_payload"] = oracle_query(external_payload_sql(), rep=QUERY_REP)
    from sagan_spark.route.formats import smtp_messages_sql, syslog_lines_sql

    out["sink_syslog_rfc5424"] = oracle_query(
        syslog_lines_sql(list(fixture_rules())), rep=QUERY_REP
    )
    out["sink_smtp_message"] = oracle_query(
        smtp_messages_sql(list(fixture_rules())), rep=QUERY_REP
    )
    out["stats_domain_salted"] = oracle_query(DOMAIN_STATS_SQL, rep=QUERY_REP)
    out["track_clients_stale"] = pages_with(rep=QUERY_REP) + "\n" + stale_clients_sql()
    out["xbits_state_table"] = oracle_query(
        bit_state_sql(list(fixture_rules())), rep=QUERY_REP
    )
    try:
        from sagan_spark.datapipe.entry import datapipe_oracles

        out.update(datapipe_oracles())
    except ImportError:
        pass
    return out
