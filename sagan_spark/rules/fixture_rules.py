"""The canonical fixture ruleset + enrichment dimensions (FIXTURES.md
F2/F3).  Upstream Sagan ships no test corpus (SURVEY.md §5.1), so this
ruleset *defines* the golden semantics; it exercises every matcher /
extractor / gate class in SURVEY.md §2 against the synthesized pages
table (sagan_spark/pages.py trigger inventory).

Regex patterns deliberately stay inside the RE2 ∩ Python-`re` ∩
Java-regex common subset so the engine (Python `re` in Arrow UDFs) and
the DuckDB oracle (RE2) agree byte-for-byte.
"""

from __future__ import annotations

from functools import lru_cache

from sagan_spark.rules.model import Rule
from sagan_spark.rules.parser import parse_rules

VARIABLES = {"HOME_NET": "any", "EXTERNAL_NET": "any"}

RULESET = r"""
# --- flagship: prefilter + content + pcre + extraction + enrich (P1,M1,M4,X1,X2,E2)
alert syslog any any -> any any (msg:"flagship src-ip page"; lang:"en"; \
  content:"spark"; pcre:"/src=10\.\d{1,3}\.\d{1,3}\.\d{1,3}/"; \
  parse_src_ip: 1; parse_port; default_src_port: 514; \
  reference:url,sagan.quadrantsec.com/rules/5000001; \
  classtype:web-anomaly; sink:"fast"; sid:5000001; rev:2;)

# --- content nocase (M1)
alert syslog any any -> any any (msg:"nocase literal"; lang:"en|de"; \
  content:"SPARK"; nocase; classtype:policy-violation; sink:"fast"; sid:5000002;)

# --- negated content (M3)
alert syslog any any -> any any (msg:"vector without customer"; \
  content:"vector"; content:!"customer"; classtype:web-anomaly; sink:"alert"; sid:5000003;)

# --- offset/depth (M2 absolute)
alert syslog any any -> any any (msg:"batch early in doc"; \
  content:"batch"; offset:0; depth:60; classtype:policy-violation; sink:"alert"; sid:5000004;)

# --- distance/within chain (M2 relative)
alert syslog any any -> any any (msg:"src then dst chain"; \
  content:"src="; content:"dst="; distance:1; within:40; \
  classtype:web-anomaly; sink:"eve"; sid:5000005;)

# --- pcre with flags (M4)
alert syslog any any -> any any (msg:"proto word ci"; \
  pcre:"/PROTO (tcp|udp)/i"; parse_proto; classtype:scan-detect; sink:"eve"; sid:5000006;)

# --- negated pcre (M4)
alert syslog any any -> any any (msg:"port but not 9xxx"; \
  content:"port "; pcre:!"/port 9[0-9]{3}/"; parse_port; \
  classtype:scan-detect; sink:"fast"; sid:5000007;)

# --- meta_content expansion (M5)
alert syslog any any -> any any (msg:"proto set via meta"; \
  meta_content:"proto %sagan%","tcp","icmp"; classtype:policy-violation; sink:"alert"; sid:5000008;)

# --- json_content (M6)
alert syslog any any -> any any (msg:"svc s1 json"; \
  json_content:".svc","s1"; classtype:web-anomaly; sink:"eve"; sid:5000009;)

# --- json_pcre (M7)
alert syslog any any -> any any (msg:"low code json"; \
  json_pcre:".code","/^[1-4]00$/"; classtype:web-anomaly; sink:"eve"; sid:5000010;)

# --- json_meta_content (M8)
alert syslog any any -> any any (msg:"svc in set"; \
  json_meta_content:".svc","s2","s3","s5"; classtype:policy-violation; sink:"alert"; sid:5000011;)

# --- alert_time window (P4)
alert syslog any any -> any any (msg:"daytime group hits"; \
  content:"group"; alert_time: hours 6-18; classtype:policy-violation; sink:"fast"; sid:5000012;)

# --- facility/source prefilter (P2)
alert syslog any any -> any any (msg:"low sources data"; \
  source:"src1|src2|src3"; content:"data"; classtype:web-anomaly; sink:"fast"; sid:5000013;)

# --- parse_hash (X4)
alert syslog any any -> any any (msg:"md5 present"; \
  content:"hash="; parse_hash: md5; classtype:malware-hit; sink:"eve"; sid:5000014;)

# --- geo country filter (E1): dst into LAN ranges, src country of interest
alert syslog any any -> any any (msg:"geo src of interest"; \
  content:"merge"; parse_src_ip: 1; parse_dst_ip: 2; \
  country_code: track by_src, is DE FR; classtype:geo-anomaly; sink:"alert"; sid:5000015;)

# --- threshold limit (A2): first 2 per domain per 2h tumbling window
alert syslog any any -> any any (msg:"join limited"; \
  content:"join"; threshold: type limit, track by_domain, count 2, seconds 7200; \
  classtype:policy-violation; sink:"fast"; sid:5000016;)

# --- after (A1): fire after >3 per domain in rolling 1h
alert syslog any any -> any any (msg:"scan burst"; \
  content:"scan"; after: track by_domain, count 3, seconds 3600; \
  reference:url,attack.mitre.org/techniques/T1595; \
  reference:cve,2024-0001; \
  classtype:scan-detect; sink:"alert"; sid:5000017;)

# --- threshold suppress (A3): drop once >5 per domain in rolling 1h
alert syslog any any -> any any (msg:"table chatter suppressed"; \
  content:"table"; threshold: type suppress, track by_domain, count 5, seconds 3600; \
  classtype:policy-violation; sink:"eve"; sid:5000018;)

# --- xbits set (A4)
alert syslog any any -> any any (msg:"merge sets brute bit"; \
  content:"merge"; xbits:set,brute,track by_domain,expire 7200; \
  classtype:web-anomaly; sink:"fast"; sid:5000019;)

# --- xbits isset (A4)
alert syslog any any -> any any (msg:"query after merge bit"; \
  content:"query"; xbits:isset,brute,track by_domain; \
  classtype:correlated; sink:"alert"; sid:5000020;)

# --- xbits isnotset (A4)
alert syslog any any -> any any (msg:"stream with no merge bit"; \
  content:"stream"; xbits:isnotset,brute,track by_domain; \
  classtype:web-anomaly; sink:"eve"; sid:5000021;)

# --- xbits unset (A4)
alert syslog any any -> any any (msg:"sort clears brute bit"; \
  content:"sort"; xbits:unset,brute,track by_domain; \
  classtype:web-anomaly; sink:"fast"; sid:5000022;)

# --- flexbits over ip_pair (A5)
alert syslog any any -> any any (msg:"filter sets pair bit"; \
  content:"filter"; parse_src_ip: 1; parse_dst_ip: 2; \
  flexbits:set,pairseen,track ip_pair,expire 3600; \
  classtype:web-anomaly; sink:"eve"; sid:5000023;)
alert syslog any any -> any any (msg:"window on seen pair"; \
  content:"window"; parse_src_ip: 1; parse_dst_ip: 2; \
  flexbits:isset,pairseen,track ip_pair; \
  classtype:correlated; sink:"alert"; sid:5000024;)

# --- defaults + proto-by-program map (P7, X3)
alert syslog any any -> any any (msg:"key with defaults"; \
  content:"key"; parse_port; default_src_port: 514; \
  parse_proto_program; default_proto: none; \
  classtype:policy-violation; sink:"fast"; sid:5000025;)

# --- IPv6 extraction (X1 v6 path): ips[3]=full-form src, ips[4]=::-compressed dst
alert syslog any any -> any any (msg:"v6-bearing page"; content:"v6="; \
  parse_src_ip: 3; parse_dst_ip: 4; classtype:web-anomaly; sink:"eve"; sid:5000026;)

# --- append_program (P6): content+pcre match against text+' '+program
alert syslog any any -> any any (msg:"program appended"; append_program; \
  content:"src3"; pcre:"/ src3$/"; classtype:policy-violation; sink:"fast"; sid:5000027;)

# --- syslog_tag (P6): substring match on the tag/program
alert syslog any any -> any any (msg:"tagged src5 or src7"; syslog_tag:"src5|src7"; \
  content:"data"; classtype:policy-violation; sink:"alert"; sid:5000028;)

# --- meta_content with absolute window (M5 meta_offset/meta_depth)
alert syslog any any -> any any (msg:"early word set"; \
  meta_content:"%sagan%","batch","join","scan"; meta_offset:0; meta_depth:120; \
  classtype:web-anomaly; sink:"fast"; sid:5000029;)

# --- meta_content chained relative window (M5 meta_distance/meta_within)
alert syslog any any -> any any (msg:"proto word right after"; content:" proto "; \
  meta_content:"%sagan%","tcp","udp"; meta_distance:0; meta_within:4; \
  classtype:scan-detect; sink:"eve"; sid:5000030;)

# --- external-program sink (K5): routed subset whose alert-JSON payload
# is materialized as the stdin document ([U] output-plugins/external.c)
alert syslog any any -> any any (msg:"merge to external handler"; \
  content:"merge"; parse_src_ip: 1; parse_dst_ip: 2; \
  reference:url,sagan.quadrantsec.com/external/handler; \
  classtype:web-anomaly; sink:"external"; sid:5000031;)

# --- flexbits count (A5 counter form; [U] src/flexbit.c): passes when
# MORE THAN 2 unexpired brute set-events exist for the domain at the
# tester's event time (sets from sid 5000019, expire 7200; unsets from
# sid 5000022 do NOT decrement — documented counter semantics)
alert syslog any any -> any any (msg:"domain brute-set repeatedly"; \
  content:"window"; \
  flexbits:count,brute,track by_domain,gt 2; \
  classtype:correlated; sink:"external"; sid:5000032;)

# --- syslog re-emit sink (K6; [U] output-plugins/syslog.c): routed
# subset re-rendered as RFC-5424 lines (PRI = local0<<3 | severity)
alert syslog any any -> any any (msg:"hash page re-emitted to syslog"; \
  content:"hash="; parse_hash: md5; classtype:malware-hit; sink:"syslog"; sid:5000033;)

# --- smtp sink (K6; [U] output-plugins/smtp.c): subject = rule msg,
# body = the K2 alert block document
alert syslog any any -> any any (msg:"ported page mailed"; \
  content:"port "; parse_port; classtype:scan-detect; sink:"smtp"; sid:5000034;)
"""


@lru_cache(maxsize=1)
def fixture_rules() -> tuple[Rule, ...]:
    return tuple(parse_rules(RULESET, VARIABLES))


# --- enrichment dimensions (FIXTURES.md F3) --------------------------------

# classification.config analog ([U] src/classifications.c)
CLASSIFICATIONS: list[tuple[str, str, int]] = [
    ("web-anomaly", "Anomalous web page", 2),
    ("policy-violation", "Policy violation", 3),
    ("scan-detect", "Scan-like pattern", 2),
    ("malware-hit", "Malware indicator", 1),
    ("geo-anomaly", "Geographic anomaly", 1),
    ("correlated", "Correlated multi-event", 1),
]

# GeoIP ranges over the synthesized 10.x/192.168.x IP space, with
# nested prefixes to pin longest-prefix-wins (E1; [U] src/geoip.c).
# (cidr, prefix_len, cc); net_start/net_end derived.
GEO_RANGES: list[tuple[str, int, str]] = [
    ("10.0.0.0", 8, "US"),
    ("10.16.0.0", 12, "DE"),  # nested in 10/8
    ("10.20.0.0", 16, "FR"),  # nested in 10.16/12
    ("10.20.30.0", 24, "CN"),  # nested in 10.20/16
    ("10.64.0.0", 12, "GB"),
    ("10.100.0.0", 16, "JP"),
    ("10.200.0.0", 14, "BR"),
    ("192.168.0.0", 16, "LAN"),
    ("192.168.7.0", 24, "DMZ"),  # nested in 192.168/16
]

# IPv6 GeoIP dim (E1 v6 path; SURVEY §1.2): 128-bit ranges as python
# ints, flattened/bucketed by the same longest-prefix sweep as v4 and
# joined on 32-char fixed-width hex.  Nested prefixes pin longest-
# prefix-wins in the v6 form too.  Covers the synthesized v6 triggers
# (2001:db8:0:0:<doc>:<rep>:0:1 and 2001:db8::<doc>).
def _h6(s: str) -> int:
    return int(s, 16)


GEO6_RANGES: list[tuple[int, int, int, str]] = [
    (_h6("20010db8" + "0" * 24), _h6("20010db8" + "f" * 24), 32, "V6NET"),
    # g5 ∈ [0200, 02ff] — nested in the /32 (doc_ids 200-299 at any sf)
    (
        _h6("20010db800000000" + "0200" + "0" * 12),
        _h6("20010db800000000" + "02ff" + "f" * 12),
        72,
        "V6DE",
    ),
    # g5 ∈ [0230, 023f] — nested in V6DE
    (
        _h6("20010db800000000" + "0230" + "0" * 12),
        _h6("20010db800000000" + "023f" + "f" * 12),
        76,
        "V6CN",
    ),
    (
        _h6("20010db800000000" + "0500" + "0" * 12),
        _h6("20010db800000000" + "05ff" + "f" * 12),
        72,
        "V6FR",
    ),
]


def geo6_rows() -> list[tuple[int, int, int, str]]:
    return list(GEO6_RANGES)


def geo6_values_sql() -> str:
    rows = ", ".join(
        f"('{format(s, '032x')}', '{format(e, '032x')}', {p}, '{cc}')"
        for s, e, p, cc in GEO6_RANGES
    )
    return f"(VALUES {rows}) AS g6(net_start, net_end, prefix_len, cc)"


# blacklist processor dim ([U] src/processors/blacklist.c) — CIDR lists
BLACKLIST_RANGES: list[tuple[str, int, str]] = [
    ("10.66.0.0", 16, "tor-exit"),
    ("10.129.64.0", 18, "botnet-c2"),
    ("192.168.7.0", 24, "dmz-watch"),
]

# bluedot-style static IP reputation dim (E6; [U] src/processors/
# bluedot.c queries a live API — the batch re-expression is a static
# CIDR→category lookup, same broadcast bucketed-equi-join as E1/E4)
BLUEDOT_RANGES: list[tuple[str, int, str]] = [
    ("10.3.0.0", 16, "malicious"),
    ("10.77.0.0", 16, "proxy"),
    ("192.168.40.0", 21, "tor"),
]


def bluedot_rows() -> list[tuple[int, int, int, str]]:
    out = []
    for cidr, plen, cat in BLUEDOT_RANGES:
        start = ip_to_long(cidr)
        out.append((start, start + (1 << (32 - plen)) - 1, plen, cat))
    return out


def bluedot_values_sql() -> str:
    rows = ", ".join(f"({s}, {e}, '{c}')" for s, e, _p, c in bluedot_rows())
    return f"(VALUES {rows}) AS bd(net_start, net_end, category)"


# zeek-intel analog ([U] src/processors/zeek-intel.c): typed indicators
INTEL: list[tuple[str, str, str]] = [
    ("d0.example.com", "domain", "feed-alpha"),
    ("d3.example.com", "domain", "feed-alpha"),
    ("d7.example.com", "domain", "feed-beta"),
    # md5(doc_id) for doc_ids 0/5/10 — present via the pages hash= trigger
    ("cfcd208495d565ef66e7dff9f98764da", "hash", "feed-hashes"),
    ("e4da3b7fbbce2345d7772b0674a318d5", "hash", "feed-hashes"),
    ("d3d9446802a44259755d38e6d163e820", "hash", "feed-hashes"),
]


def blacklist_rows() -> list[tuple[int, int, int, str]]:
    out = []
    for cidr, plen, name in BLACKLIST_RANGES:
        start = ip_to_long(cidr)
        out.append((start, start + (1 << (32 - plen)) - 1, plen, name))
    return out


def blacklist_values_sql() -> str:
    rows = ", ".join(f"({s}, {e}, '{n}')" for s, e, _p, n in blacklist_rows())
    return f"(VALUES {rows}) AS bl(net_start, net_end, list_name)"


def intel_values_sql() -> str:
    rows = ", ".join(f"('{i}', '{t}', '{s}')" for i, t, s in INTEL)
    return f"(VALUES {rows}) AS intel(indicator, itype, isource)"


# program→proto map analog ([U] parse_proto_program; keyed on `source`)
PROGRAM_PROTO: list[tuple[str, str]] = [
    ("src0", "tcp"),
    ("src1", "udp"),
    ("src2", "tcp"),
    ("src3", "icmp"),
    ("src4", "udp"),
    ("src5", "tcp"),
]


def ip_to_long(ip: str) -> int:
    a, b, c, d = (int(x) for x in ip.split("."))
    return a * 16777216 + b * 65536 + c * 256 + d


def geo_rows() -> list[tuple[int, int, int, str]]:
    """(net_start, net_end, prefix_len, cc) rows."""
    out = []
    for cidr, plen, cc in GEO_RANGES:
        start = ip_to_long(cidr)
        size = 1 << (32 - plen)
        out.append((start, start + size - 1, plen, cc))
    return out


def geo_values_sql() -> str:
    """DuckDB VALUES relation for the geo dim (oracle twin)."""
    rows = ", ".join(f"({s}, {e}, {p}, '{cc}')" for s, e, p, cc in geo_rows())
    return f"(VALUES {rows}) AS geo(net_start, net_end, prefix_len, cc)"


def classification_values_sql() -> str:
    rows = ", ".join(
        f"('{ct}', '{desc}', {pr})" for ct, desc, pr in CLASSIFICATIONS
    )
    return f"(VALUES {rows}) AS classification(classtype, description, priority)"
