"""Field extractors — parse_src_ip / parse_dst_ip / parse_port /
parse_proto / parse_proto_program / parse_hash + default_* fills
(SURVEY.md §2.4 X1-X4, §2.2 P7; [U] upstream src/parsers/*).

Design for scale:
  * Shared per-page extracts (the IP occurrence list, the port/proto/
    hash scans) are computed ONCE per page with builtin ``regexp_*``
    expressions — JVM-side, whole-stage codegen — *before* the explode
    fans a page out to its matching rules, so the regex work is not
    repeated per (page, rule) pair.
  * Per-rule extraction *config* (which occurrence index, which hash
    kind, defaults) is a tiny broadcast-joined DataFrame — never a
    Python branch per row.
  * Same SQL is emitted for the DuckDB oracle (dual dialect).

IPv6: ``IP_SCAN_RE`` is the v4|v6 alternation ([U] src/parsers ip
path): full 8-group form plus ::-compressed.  Colon-bearing JSON in
page text cannot false-positive — every JSON colon is preceded by a
quote, which breaks the hex-group requirement.  v6 strings pass
through the geo join unresolved (ip_to_long yields NULL → cc NULL),
matching the reference's no-GeoIP-record path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sagan_spark.rules.model import Rule
from sagan_spark.session import local_df

IPV4_RE = r"(\d{1,3}\.){3}\d{1,3}"
# v6: full 8-group form, plus ::-compressed (one double-colon).  Both
# alternatives live in the RE2 ∩ Java-regex ∩ Python-re subset (no
# lookarounds — RE2 lacks them); alternation order matters and is
# identical in all three engines (leftmost-first).
IPV6_FULL_RE = r"([0-9a-fA-F]{1,4}:){7}[0-9a-fA-F]{1,4}"
IPV6_COMP_RE = r"([0-9a-fA-F]{1,4}:){1,6}(:[0-9a-fA-F]{1,4}){1,6}"
IPV6_RE = f"{IPV6_FULL_RE}|{IPV6_COMP_RE}"
# One scan collects v4 and v6 occurrences in text order; per-rule
# parse_src_ip/parse_dst_ip indexes address the combined list, exactly
# like the reference's single IP parser pass ([U] src/parsers).
IP_SCAN_RE = f"{IPV4_RE}|{IPV6_RE}"
PORT_RE = r"port (\d{1,5})"
PROTO_RE = r"proto (tcp|udp|icmp)"
HASH_RES = {
    "md5": r"\b[a-f0-9]{32}\b",
    "sha1": r"\b[a-f0-9]{40}\b",
    "sha256": r"\b[a-f0-9]{64}\b",
}


def with_shared_extracts(df: DataFrame, text: str = "text") -> DataFrame:
    """Per-page scan columns (computed once, pre-explode)."""
    t = F.col(text)
    return (
        df.withColumn("ips", F.regexp_extract_all(t, F.lit(IP_SCAN_RE), 0))
        .withColumn("port_x", F.nullif(F.regexp_extract(t, PORT_RE, 1), F.lit("")).cast("int"))
        # second port occurrence → dport ([U] src/parsers/port.c scans
        # all ports; the first is sport, the next dport)
        .withColumn(
            "port2_x",
            F.try_element_at(
                F.regexp_extract_all(t, F.lit(PORT_RE), 1), F.lit(2)
            ).cast("int"),
        )
        .withColumn("proto_x", F.nullif(F.regexp_extract(t, PROTO_RE, 1), F.lit("")))
        .withColumn("md5_x", F.nullif(F.regexp_extract(t, HASH_RES["md5"], 0), F.lit("")))
        .withColumn("sha1_x", F.nullif(F.regexp_extract(t, HASH_RES["sha1"], 0), F.lit("")))
        .withColumn(
            "sha256_x", F.nullif(F.regexp_extract(t, HASH_RES["sha256"], 0), F.lit(""))
        )
    )


def shared_extracts_sql(text: str = "text") -> str:
    """DuckDB SELECT-list fragment — oracle twin of
    :func:`with_shared_extracts` (RE2 literals, standard SQL escapes)."""
    return (
        f"regexp_extract_all({text}, '{IP_SCAN_RE}') AS ips, "
        f"TRY_CAST(nullif(regexp_extract({text}, '{PORT_RE}', 1), '') AS INTEGER) AS port_x, "
        f"TRY_CAST(list_extract(regexp_extract_all({text}, '{PORT_RE}', 1), 2) AS INTEGER) AS port2_x, "
        f"nullif(regexp_extract({text}, '{PROTO_RE}', 1), '') AS proto_x, "
        f"nullif(regexp_extract({text}, '{HASH_RES['md5']}'), '') AS md5_x, "
        f"nullif(regexp_extract({text}, '{HASH_RES['sha1']}'), '') AS sha1_x, "
        f"nullif(regexp_extract({text}, '{HASH_RES['sha256']}'), '') AS sha256_x"
    )


# ---------------------------------------------------------------------------
# per-rule config (broadcast dimension)
# ---------------------------------------------------------------------------

CFG_COLUMNS = [
    "sid",
    "src_n",
    "dst_n",
    "want_port",
    "want_proto",
    "want_proto_program",
    "hash_kind",
    "default_proto",
    "default_src_port",
    "default_dst_port",
    "classtype",
    "country_track",
    "country_is",
    "country_isnot",
    "sink",
    "rev",
]


def rule_config_rows(rules: list[Rule]) -> list[tuple]:
    return [
        (
            r.sid,
            r.parse_src_ip,
            r.parse_dst_ip,
            r.parse_port,
            r.parse_proto,
            r.parse_proto_program,
            r.parse_hash,
            r.default_proto,
            r.default_src_port,
            r.default_dst_port,
            r.classtype,
            r.country_track,
            list(r.country_is),
            list(r.country_isnot),
            r.sink,
            r.rev,
        )
        for r in rules
    ]


def rule_config_df(spark: SparkSession, rules: list[Rule]) -> DataFrame:
    schema = (
        "sid long, src_n int, dst_n int, want_port boolean, want_proto boolean, "
        "want_proto_program boolean, hash_kind string, default_proto string, "
        "default_src_port int, default_dst_port int, classtype string, "
        "country_track string, country_is array<string>, country_isnot array<string>, "
        "sink string, rev int"
    )
    return local_df(spark, rule_config_rows(rules), schema)


def apply_rule_extraction(hits: DataFrame, cfg: DataFrame, proto_map: DataFrame) -> DataFrame:
    """hits (exploded, with shared extracts) × broadcast cfg → typed
    fields.  ``proto_map`` is the program→proto dimension
    ([U] parse_proto_program), keyed on ``source``."""
    j = hits.join(F.broadcast(cfg), "sid", "left").join(
        F.broadcast(proto_map.withColumnRenamed("proto", "pp_proto")), "source", "left"
    )
    src_ip = F.when(F.col("src_n").isNotNull(), F.try_element_at("ips", F.col("src_n")))
    dst_ip = F.when(F.col("dst_n").isNotNull(), F.try_element_at("ips", F.col("dst_n")))
    port = F.when(F.col("want_port"), F.coalesce("port_x", "default_src_port")).otherwise(
        F.col("default_src_port")
    )
    dst_port = F.when(
        F.col("want_port"), F.coalesce("port2_x", "default_dst_port")
    ).otherwise(F.col("default_dst_port"))
    proto = F.coalesce(
        F.when(F.col("want_proto"), F.col("proto_x")).when(
            F.col("want_proto_program"), F.col("pp_proto")
        ),
        F.col("default_proto"),
    )
    hsh = (
        F.when(F.col("hash_kind") == "md5", F.col("md5_x"))
        .when(F.col("hash_kind") == "sha1", F.col("sha1_x"))
        .when(F.col("hash_kind") == "sha256", F.col("sha256_x"))
    )
    return (
        j.withColumn("src_ip", src_ip)
        .withColumn("dst_ip", dst_ip)
        .withColumn("port", port)
        .withColumn("dst_port", dst_port)
        .withColumn("proto", proto)
        .withColumn("hash", hsh)
    )


def rule_config_values_sql(rules: list[Rule]) -> str:
    """DuckDB VALUES relation twin of :func:`rule_config_df`."""

    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, int):
            return str(v)
        if isinstance(v, list):
            return "[" + ", ".join(f"'{x}'" for x in v) + "]"
        return "'" + str(v).replace("'", "''") + "'"

    rows = ", ".join(
        "(" + ", ".join(lit(v) for v in row) + ")" for row in rule_config_rows(rules)
    )
    return f"(VALUES {rows}) AS cfg({', '.join(CFG_COLUMNS)})"


def extraction_sql(rules: list[Rule], pp_rows: list[tuple[str, str]]) -> str:
    """DuckDB CTE body: matched+shared rows joined to cfg → typed fields.
    Twin of :func:`apply_rule_extraction` (list_extract is 1-based and
    NULL-safe out of bounds, like Spark try_element_at)."""
    pp_values = ", ".join(f"('{s}', '{p}')" for s, p in pp_rows)
    return f"""
SELECT m.*,
  CASE WHEN cfg.src_n IS NOT NULL THEN list_extract(m.ips, cfg.src_n) END AS src_ip,
  CASE WHEN cfg.dst_n IS NOT NULL THEN list_extract(m.ips, cfg.dst_n) END AS dst_ip,
  CASE WHEN cfg.want_port THEN coalesce(m.port_x, cfg.default_src_port)
       ELSE cfg.default_src_port END AS port,
  CASE WHEN cfg.want_port THEN coalesce(m.port2_x, cfg.default_dst_port)
       ELSE cfg.default_dst_port END AS dst_port,
  coalesce(CASE WHEN cfg.want_proto THEN m.proto_x
                WHEN cfg.want_proto_program THEN pp.proto END,
           cfg.default_proto) AS proto,
  CASE cfg.hash_kind WHEN 'md5' THEN m.md5_x WHEN 'sha1' THEN m.sha1_x
       WHEN 'sha256' THEN m.sha256_x END AS hash,
  cfg.classtype, cfg.country_track, cfg.country_is, cfg.country_isnot,
  cfg.sink, cfg.rev
FROM shared m
LEFT JOIN {rule_config_values_sql(rules)} USING (sid)
LEFT JOIN (VALUES {pp_values}) AS pp(source, proto) ON m.source = pp.source
""".strip()
