"""Parser unit tests + match-stage Spark↔DuckDB parity (M1-M8, P1-P7)."""

from __future__ import annotations

import pandas as pd

from sagan_spark.pages import pages_table, pages_with
from sagan_spark.pipeline import Pipeline
from sagan_spark.rules.compiler import CompiledRules
from sagan_spark.rules.fixture_rules import fixture_rules
from sagan_spark.rules.parser import parse_rule, parse_rules

from .conftest import SF_DIR


def test_parse_flagship():
    r = parse_rule(
        'alert syslog any any -> any any (msg:"m"; lang:"en"; content:"spark"; '
        'pcre:"/src=10\\.\\d+/"; parse_src_ip: 1; classtype:web-anomaly; sid:1; rev:2;)'
    )
    assert r.sid == 1 and r.rev == 2
    assert r.lang == ("en",)
    assert r.contents[0].pattern == "spark"
    assert r.pcres[0].pattern == "src=10\\.\\d+"
    assert r.parse_src_ip == 1
    assert r.classtype == "web-anomaly"


def test_parse_modifiers_bind_to_last_content():
    r = parse_rule(
        'alert syslog any any -> any any (content:"a"; nocase; content:!"b"; '
        "content:\"c\"; distance:2; within:10; sid:2;)"
    )
    assert r.contents[0].nocase and not r.contents[1].nocase
    assert r.contents[1].negated
    assert r.contents[2].distance == 2 and r.contents[2].within == 10


def test_parse_gates():
    r = parse_rule(
        "alert syslog any any -> any any (content:\"x\"; "
        "threshold: type limit, track by_domain, count 2, seconds 7200; "
        "after: track by_src, count 3, seconds 3600; "
        "xbits:set,brute,track by_domain,expire 7200; sid:3;)"
    )
    assert r.threshold.ttype == "limit" and r.threshold.seconds == 7200
    assert r.after.count == 3
    assert r.xbits[0].op == "set" and r.xbits[0].expire == 7200


def test_parse_meta_content_chain():
    r = parse_rule(
        'alert syslog any any -> any any (content:"pre"; '
        'meta_content:"w %sagan%","tcp","udp"; meta_nocase; '
        "meta_distance:1; meta_within:9; sid:4;)"
    )
    mc = r.contents[1]
    assert mc.pattern == "w tcp" and mc.alt_patterns == ("w udp",)
    assert mc.nocase and mc.distance == 1 and mc.within == 9
    # meta modifiers require a preceding meta_content
    import pytest

    with pytest.raises(ValueError):
        parse_rule(
            'alert syslog any any -> any any (content:"x"; meta_depth:5; sid:5;)'
        )


def test_parse_p6_options():
    r = parse_rule(
        'alert syslog any any -> any any (append_program; syslog_tag:"sshd|cron"; '
        'content:"fail"; sid:6;)'
    )
    assert r.append_program
    assert r.syslog_tag == ("sshd", "cron") and not r.syslog_tag_negated
    r2 = parse_rule(
        'alert syslog any any -> any any (syslog_tag:!"kernel"; content:"x"; sid:7;)'
    )
    assert r2.syslog_tag == ("kernel",) and r2.syslog_tag_negated


def test_parse_flexbits_count():
    r = parse_rule(
        "alert syslog any any -> any any (msg:\"c\"; content:\"x\"; "
        "flexbits:count,brute,track by_domain,gt 2; sid:8;)"
    )
    x = r.bit_counts()[0]
    assert (x.op, x.name, x.track, x.cmp, x.value) == (
        "count", "brute", "by_domain", "gt", 2
    )
    assert not r.bit_tests() and not r.bit_writes()
    import pytest

    with pytest.raises(ValueError, match="flexbits"):
        parse_rule(
            "alert syslog any any -> any any (msg:\"c\"; content:\"x\"; "
            "xbits:count,brute,track by_domain,gt 2; sid:9;)"
        )
    with pytest.raises(ValueError, match="gt|lt|eq"):
        parse_rule(
            "alert syslog any any -> any any (msg:\"c\"; content:\"x\"; "
            "flexbits:count,brute,track by_domain; sid:10;)"
        )


def test_fixture_ruleset_parses():
    rules = fixture_rules()
    assert len(rules) == 34
    sids = {r.sid for r in rules}
    assert min(sids) == 5000001 and max(sids) == 5000034


def test_match_parity_spark_vs_duckdb(spark, duck):
    """The engine's matched (url, sid) set equals the oracle's, per sid."""
    comp = CompiledRules(list(fixture_rules()))
    pages = pages_table(spark, SF_DIR, rep=4)
    got = (
        Pipeline(spark).hits(pages)
        .select("url", "sid")
        .toPandas()
        .sort_values(["url", "sid"])
        .reset_index(drop=True)
    )
    exp = (
        duck.execute(
            pages_with(rep=4)
            + ", matched AS (\n"
            + comp.matched_sql()
            + ")\nSELECT url, sid FROM matched ORDER BY url, sid"
        )
        .fetchdf()
        .reset_index(drop=True)
    )
    assert len(got) > 0, "no rule matched anything — fixture ruleset is dead"
    # per-sid coverage sanity: every sid fires at least once at rep=4
    fired = set(got["sid"].unique())
    all_sids = {r.sid for r in fixture_rules()}
    assert fired == all_sids, f"dead rules: {sorted(all_sids - fired)}"
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


# --- regex portability gate (r4; VERDICT r3 item 5) -------------------------

def _pcre_rule(pat: str):
    return parse_rule(
        f'alert syslog any any -> any any (msg:"m"; pcre:"/{pat}/"; sid:77;)'
    )


def test_portable_patterns_accepted():
    for pat in [
        r"src=10\.\d{1,3}",
        r"PROTO (tcp|udp)",
        r"^[1-4]00$",
        r"a+b*c?",
        r"[A-Za-z_]{3,}",
        r"foo\(bar\)",       # escaped parens, not a group construct
    ]:
        assert _pcre_rule(pat).pcres[0].pattern == pat
    # escaped backslash then digit is NOT a backref (rule-file escaping:
    # \\\\ unquotes to one literal backslash in the pattern)
    assert _pcre_rule(r"lit\\\\1eral").pcres[0].pattern == r"lit\\1eral"


def test_non_portable_patterns_rejected():
    import pytest

    for pat, label in [
        (r"(?<=foo)bar", "lookbehind"),
        (r"(?<!foo)bar", "lookbehind"),
        (r"foo(?=bar)", "lookahead"),
        (r"foo(?!bar)", "lookahead"),
        (r"(?>atomic)", "atomic"),
        (r"a++", "possessive"),
        (r"a{2,3}+", "possessive"),
        (r"foo\Kbar", r"\\K"),
        (r"(?R)", "recursion"),
        (r"(a)\1", "backreference"),
        (r"(?P<n>a)(?P=n)", "backreference"),
        (r"end\Z", "anchor"),
    ]:
        with pytest.raises(ValueError, match="sid 77") as ei:
            _pcre_rule(pat)
        assert "non-portable" in str(ei.value), (pat, label, str(ei.value))


def test_json_pcre_also_gated():
    import pytest

    with pytest.raises(ValueError, match="sid 78"):
        parse_rule(
            'alert syslog any any -> any any (msg:"m"; '
            'json_pcre:".code","/(?=x)/"; sid:78;)'
        )
