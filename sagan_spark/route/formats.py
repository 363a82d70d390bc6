"""Output sink formats (SURVEY.md §2.1 K1-K3; [U] upstream
src/output-plugins/{fast,alert,eve}.c).

``fast_lines`` renders the one-line Snort "fast" alert format with
builtin string expressions (dual-dialect, oracle-checked);
``eve_json`` renders Suricata-style EVE records via ``to_json`` —
engine-native JSON serialization differs cosmetically between engines,
so its test asserts structure (parse-back), not byte equality."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# [U] fast.c format: "ts  [**] [gid:sid:rev] msg [**] [Classification: x]
# [Priority: n] {proto} src:port -> dst:port".  Ours keys on url/domain.


def fast_lines(routed: DataFrame) -> DataFrame:
    line = F.concat(
        F.col("warc_epoch").cast("string"),
        F.lit("  [**] [1:"),
        F.col("signature_id").cast("string"),
        F.lit(":1] [Classification: "),
        F.coalesce("classtype", F.lit("unknown")),
        F.lit("] [Priority: "),
        F.coalesce(F.col("priority").cast("string"), F.lit("0")),
        F.lit("] {"),
        F.coalesce("proto", F.lit("none")),
        F.lit("} "),
        F.coalesce("src_ip", F.lit("-")),
        F.lit(" -> "),
        F.coalesce("dst_ip", F.lit("-")),
        F.lit(" "),
        F.col("url"),
    )
    return routed.select("sink", F.col("signature_id"), F.col("url"), line.alias("line"))


def fast_lines_sql() -> str:
    """DuckDB twin over the oracle `routed` CTE."""
    return """
SELECT sink, signature_id, url,
  CAST(warc_epoch AS VARCHAR) || '  [**] [1:' || CAST(signature_id AS VARCHAR)
  || ':1] [Classification: ' || coalesce(classtype, 'unknown')
  || '] [Priority: ' || coalesce(CAST(priority AS VARCHAR), '0')
  || '] {' || coalesce(proto, 'none') || '} ' || coalesce(src_ip, '-')
  || ' -> ' || coalesce(dst_ip, '-') || ' ' || url AS line
FROM routed
""".strip()


def _msg_map(rules):
    """Compile-time sid → msg map (no join)."""
    return F.create_map(*[F.lit(x) for r in rules for x in (r.sid, r.msg)])


def _alert_block_col(rules):
    """The K2 multi-line alert block as a column expression, shared by
    the alert sink (K2) and the SMTP body (K6)."""
    msg_map = _msg_map(rules)
    return F.concat(
        F.lit("[**] [1:"),
        F.col("signature_id").cast("string"),
        F.lit(":"),
        F.coalesce(F.col("rev").cast("string"), F.lit("1")),
        F.lit("] "),
        F.coalesce(msg_map[F.col("signature_id")], F.lit("")),
        F.lit(" [**]\n[Classification: "),
        F.coalesce("classtype", F.lit("unknown")),
        F.lit("] [Priority: "),
        F.coalesce(F.col("priority").cast("string"), F.lit("0")),
        F.lit("]\n"),
        F.col("warc_epoch").cast("string"),
        F.lit(" "),
        F.coalesce("src_ip", F.lit("-")),
        F.lit(":"),
        F.coalesce(F.col("port").cast("string"), F.lit("0")),
        F.lit(" -> "),
        F.coalesce("dst_ip", F.lit("-")),
        F.lit(" {"),
        F.coalesce("proto", F.lit("none")),
        F.lit("} "),
        F.col("domain"),
        F.lit(" "),
        F.col("url"),
    )


def alert_blocks(routed: DataFrame, rules) -> DataFrame:
    """K2: the full multi-line "alert" format ([U] alert.c):

        [**] [gid:sid:rev] msg [**]
        [Classification: classtype] [Priority: n]
        ts src:port -> dst {proto} domain url

    ``rules`` supplies the per-sid msg text (compile-time map — no
    join)."""
    return routed.where(F.col("sink") == "alert").select(
        "signature_id", "url", _alert_block_col(rules).alias("block")
    )


def _msg_case_sql(rules) -> str:
    return (
        "CASE signature_id "
        + " ".join(
            f"WHEN {r.sid} THEN '{r.msg.replace(chr(39), chr(39) * 2)}'" for r in rules
        )
        + " ELSE '' END"
    )


def _alert_block_sql(rules) -> str:
    """DuckDB twin of :func:`_alert_block_col` (chr(10) newlines —
    identical bytes to the Spark literal)."""
    return f"""'[**] [1:' || CAST(signature_id AS VARCHAR) || ':' || coalesce(CAST(rev AS VARCHAR), '1')
  || '] ' || {_msg_case_sql(rules)} || ' [**]' || chr(10)
  || '[Classification: ' || coalesce(classtype, 'unknown') || '] [Priority: '
  || coalesce(CAST(priority AS VARCHAR), '0') || ']' || chr(10)
  || CAST(warc_epoch AS VARCHAR) || ' ' || coalesce(src_ip, '-') || ':'
  || coalesce(CAST(port AS VARCHAR), '0') || ' -> ' || coalesce(dst_ip, '-')
  || ' {{' || coalesce(proto, 'none') || '}} ' || domain || ' ' || url"""


def alert_blocks_sql(rules) -> str:
    """DuckDB twin over the oracle `routed` CTE."""
    return f"""
SELECT signature_id, url,
  {_alert_block_sql(rules)} AS block
FROM routed WHERE sink = 'alert'
""".strip()


# unified2 IDS-event record twins (K4; [U] output-plugins/unified2.c).
# The byte layout is rendered as a HEX STRING (same bytes, hex-encoded)
# so the DuckDB oracle can compare values — a binary spool writer would
# `unhex` this column.  Simplifications documented: event_id :=
# event_second (no per-process counter in a deterministic batch),
# classification_id := priority.
def unified2_hex(routed: DataFrame) -> DataFrame:
    from sagan_spark.enrich.enrich import ip_to_long_col

    def h(col, width):  # big-endian fixed-width lowercase hex
        return F.lower(F.lpad(F.hex(col.cast("long")), width, "0"))

    z = F.lit(0)
    proto_code = (
        F.when(F.col("proto") == "tcp", F.lit(6))
        .when(F.col("proto") == "udp", F.lit(17))
        .when(F.col("proto") == "icmp", F.lit(1))
        .otherwise(z)
    )
    rec = F.concat(
        h(F.lit(7), 8),  # record type: IDS event
        h(F.lit(52), 8),  # record length
        h(z, 8),  # sensor_id
        h(F.col("warc_epoch"), 8),  # event_id (:= event_second)
        h(F.col("warc_epoch"), 8),  # event_second
        h(z, 8),  # event_microsecond
        h(F.col("signature_id"), 8),
        h(F.lit(1), 8),  # generator_id
        h(F.coalesce(F.col("rev"), F.lit(1)), 8),
        h(F.coalesce(F.col("priority"), z), 8),  # classification_id
        h(F.coalesce(F.col("priority"), z), 8),  # priority_id
        h(F.coalesce(ip_to_long_col("src_ip"), z), 8),
        h(F.coalesce(ip_to_long_col("dst_ip"), z), 8),
        # sport_itype is a u16: extracted ports can exceed 65535 (the
        # extraction regex admits 5 digits), and lpad would silently
        # truncate 5 hex digits to 4 — mask into range explicitly
        h(F.pmod(F.coalesce(F.col("port"), z), F.lit(65536)), 4),
        # dport_icode: second extracted port / default_dst_port (r4;
        # [U] output-plugins/unified2.c carries both u16 ports)
        h(F.pmod(F.coalesce(F.col("dst_port"), z), F.lit(65536)), 4),
        h(proto_code, 2),  # protocol (u8)
        h(z, 2),  # impact_flag
        h(z, 2),  # impact
        h(z, 2),  # blocked
    )
    return routed.select("signature_id", "url", rec.alias("record_hex"))


def unified2_hex_sql() -> str:
    from sagan_spark.enrich.enrich import ip_to_long_sql

    def h(expr, width):
        return f"lower(lpad(to_hex(CAST({expr} AS BIGINT)), {width}, '0'))"

    proto = "CASE proto WHEN 'tcp' THEN 6 WHEN 'udp' THEN 17 WHEN 'icmp' THEN 1 ELSE 0 END"
    parts = [
        h("7", 8),
        h("52", 8),
        h("0", 8),
        h("warc_epoch", 8),
        h("warc_epoch", 8),
        h("0", 8),
        h("signature_id", 8),
        h("1", 8),
        h("coalesce(rev, 1)", 8),
        h("coalesce(priority, 0)", 8),
        h("coalesce(priority, 0)", 8),
        h(f"coalesce({ip_to_long_sql('src_ip')}, 0)", 8),
        h(f"coalesce({ip_to_long_sql('dst_ip')}, 0)", 8),
        h("coalesce(port, 0) % 65536", 4),  # u16 mask, twin of the engine's pmod
        h("coalesce(dst_port, 0) % 65536", 4),
        h(proto, 2),
        h("0", 2),
        h("0", 2),
        h("0", 2),
    ]
    return (
        "SELECT signature_id, url, " + " || ".join(parts) + " AS record_hex FROM routed"
    )


def eve_json(routed: DataFrame) -> DataFrame:
    """EVE-style JSON event per alert ([U] eve.c: timestamp, event_type,
    alert{...}, plus the original record)."""
    rec = F.struct(
        F.col("warc_epoch").alias("timestamp"),
        F.lit("alert").alias("event_type"),
        F.struct(
            F.col("signature_id").alias("signature_id"),
            F.col("classtype").alias("category"),
            F.col("priority").alias("severity"),
            F.split(F.col("refs"), r"\|").alias("references"),
        ).alias("alert"),
        F.col("url"),
        F.col("domain"),
        F.col("src_ip"),
        F.col("dst_ip"),
        F.col("proto"),
    )
    return routed.select("sink", F.to_json(rec).alias("event"))


def _eve_struct_canonical():
    """The canonical (null-free) EVE record struct: every nullable field
    is coalesced to a sentinel so ``to_json`` emits every key on every
    row — which is what makes a byte-identical concat twin possible in
    the DuckDB oracle (``to_json`` omits null fields, and a conditional
    twin would have to re-implement Jackson).  Field values stay in the
    JSON-safe charset the pages synthesis produces (no quotes/
    backslashes/control chars — fixture property)."""
    return F.struct(
        F.col("warc_epoch").alias("timestamp"),
        F.lit("alert").alias("event_type"),
        F.struct(
            F.col("signature_id").alias("signature_id"),
            F.coalesce("classtype", F.lit("unknown")).alias("category"),
            F.coalesce(F.col("priority"), F.lit(0)).alias("severity"),
            F.split(F.coalesce(F.col("refs"), F.lit("")), r"\|").alias("references"),
        ).alias("alert"),
        F.col("url"),
        F.col("domain"),
        F.coalesce("src_ip", F.lit("-")).alias("src_ip"),
        F.coalesce("dst_ip", F.lit("-")).alias("dst_ip"),
        F.coalesce("proto", F.lit("none")).alias("proto"),
    )


def eve_canonical(routed: DataFrame) -> DataFrame:
    """K3 oracle surface: the eve-sink subset rendered as canonical
    JSON (fixed key set, sentinel-coalesced) via ``to_json`` — the
    DuckDB twin (:func:`eve_canonical_sql`) builds the identical bytes
    by explicit concatenation, so the CORRECTNESS hash compares the
    actual serialized sink payload ([U] src/output-plugins/eve.c)."""
    return routed.where(F.col("sink") == "eve").select(
        "signature_id", "url", F.to_json(_eve_struct_canonical()).alias("event")
    )


def eve_canonical_sql() -> str:
    """DuckDB byte-twin of :func:`eve_canonical` over the oracle
    ``routed`` CTE.  Key order/spacing matches Spark ``to_json``
    (Jackson compact): no spaces, struct field order, arrays as
    ["a","b"]."""
    refs_arr = (
        "'[\"' || replace(coalesce(refs, ''), '|', '\",\"') || '\"]'"
    )
    return f"""
SELECT signature_id, url,
  '{{"timestamp":' || CAST(warc_epoch AS VARCHAR)
  || ',"event_type":"alert","alert":{{"signature_id":' || CAST(signature_id AS VARCHAR)
  || ',"category":"' || coalesce(classtype, 'unknown')
  || '","severity":' || CAST(coalesce(priority, 0) AS VARCHAR)
  || ',"references":' || {refs_arr}
  || '}},"url":"' || url || '","domain":"' || domain
  || '","src_ip":"' || coalesce(src_ip, '-')
  || '","dst_ip":"' || coalesce(dst_ip, '-')
  || '","proto":"' || coalesce(proto, 'none') || '"}}' AS event
FROM routed WHERE sink = 'eve'
""".strip()


def external_payload(routed: DataFrame) -> DataFrame:
    """K5: the alert document handed to an external program on stdin
    ([U] src/output-plugins/external.c — fork/exec with the alert JSON
    piped in).  The batch re-expression materializes that exact payload
    column on the external-sink subset; an operational deployment would
    ``foreachPartition`` these lines into the program, which is a side
    effect, not a semantic."""
    return routed.where(F.col("sink") == "external").select(
        "signature_id", "url", F.to_json(_eve_struct_canonical()).alias("payload")
    )


def external_payload_sql() -> str:
    """DuckDB byte-twin of :func:`external_payload`."""
    inner = eve_canonical_sql().replace("WHERE sink = 'eve'", "WHERE sink = 'external'")
    return inner.replace("AS event", "AS payload")


# K6a: syslog re-emit ([U] src/output-plugins/syslog.c — the alert is
# re-sent via syslog(3) with the configured facility/level).  The batch
# re-expression renders the RFC-5424 line that call would emit:
# PRI = facility<<3 | severity with facility fixed at local0 (16) and
# severity = min(priority, 7); HOSTNAME = the alerting domain,
# APP-NAME = sagan, MSGID = the sid.  The socket write itself is a side
# effect (same stance as K5's fork/exec).
SYSLOG_FACILITY = 16  # local0


def syslog_lines(routed: DataFrame, rules) -> DataFrame:
    pri = F.lit(SYSLOG_FACILITY * 8) + F.least(
        F.coalesce(F.col("priority"), F.lit(0)), F.lit(7)
    )
    line = F.concat(
        F.lit("<"),
        pri.cast("string"),
        F.lit(">1 "),
        F.col("warc_epoch").cast("string"),
        F.lit(" "),
        F.col("domain"),
        F.lit(" sagan - "),
        F.col("signature_id").cast("string"),
        F.lit(" - "),
        F.coalesce(_msg_map(rules)[F.col("signature_id")], F.lit("")),
        F.lit(" "),
        F.col("url"),
    )
    return routed.where(F.col("sink") == "syslog").select(
        "signature_id", "url", line.alias("line")
    )


def syslog_lines_sql(rules) -> str:
    """DuckDB byte-twin of :func:`syslog_lines`."""
    return f"""
SELECT signature_id, url,
  '<' || CAST({SYSLOG_FACILITY * 8} + least(coalesce(priority, 0), 7) AS VARCHAR)
  || '>1 ' || CAST(warc_epoch AS VARCHAR) || ' ' || domain
  || ' sagan - ' || CAST(signature_id AS VARCHAR) || ' - '
  || {_msg_case_sql(rules)} || ' ' || url AS line
FROM routed WHERE sink = 'syslog'
""".strip()


# K6b: SMTP ([U] src/output-plugins/smtp.c — emails the alert with the
# rule msg as subject and the K2 alert block as the body).  The message
# document is materialized; the SMTP session is a side effect.


def smtp_messages(routed: DataFrame, rules) -> DataFrame:
    message = F.concat(
        F.lit("Subject: [Sagan] "),
        F.coalesce(_msg_map(rules)[F.col("signature_id")], F.lit("")),
        F.lit("\n\n"),
        _alert_block_col(rules),
    )
    return routed.where(F.col("sink") == "smtp").select(
        "signature_id", "url", message.alias("message")
    )


def smtp_messages_sql(rules) -> str:
    """DuckDB byte-twin of :func:`smtp_messages`."""
    return f"""
SELECT signature_id, url,
  'Subject: [Sagan] ' || {_msg_case_sql(rules)} || chr(10) || chr(10)
  || {_alert_block_sql(rules)} AS message
FROM routed WHERE sink = 'smtp'
""".strip()
