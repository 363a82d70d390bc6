"""Streaming stateful gates agree with the batch window gates
(VERDICT r1 item 9): the after-gated and suppress-gated row sets for
fixture sids 5000017/5000018 match the batch pipeline exactly under an
in-order availableNow drain."""

from __future__ import annotations

from pyspark.sql import functions as F

from sagan_spark.pages import pages_table
from sagan_spark.pipeline import Pipeline
from sagan_spark.streaming.gates import (
    after_gate_stream,
    limit_gate_stream,
    suppress_gate_stream,
    xbits_gate_stream,
)
from sagan_spark.streaming.stream import read_pages_stream, streaming_hits

from .conftest import SF_DIR


def _drain(spark, gated, tmp_path, name):
    q = (
        gated.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return {r["url"] for r in spark.table(name).collect()}


def test_streaming_after_and_suppress_match_batch(spark, tmp_path):
    pages = pages_table(spark, SF_DIR, rep=2)
    src = str(tmp_path / "pages_src")
    # one file → one micro-batch → event-time order within groups is
    # establishable; the agreement contract is documented for this case
    pages.coalesce(1).write.mode("overwrite").parquet(src)

    hits = streaming_hits(read_pages_stream(spark, src))
    got_after = _drain(
        spark,
        after_gate_stream(hits, 5000017, "by_domain", 3, 3600),
        tmp_path,
        "after_stream",
    )
    got_supp = _drain(
        spark,
        suppress_gate_stream(hits, 5000018, "by_domain", 5, 3600),
        tmp_path,
        "supp_stream",
    )
    got_limit = _drain(
        spark,
        limit_gate_stream(hits, 5000016, "by_domain", 2, 7200),
        tmp_path,
        "limit_stream",
    )

    pipe = Pipeline(spark)
    batch = pipe.window_gated(spark.read.parquet(src))
    exp_after = {
        r["url"] for r in batch.where(F.col("sid") == 5000017).select("url").collect()
    }
    exp_supp = {
        r["url"] for r in batch.where(F.col("sid") == 5000018).select("url").collect()
    }
    exp_limit = {
        r["url"] for r in batch.where(F.col("sid") == 5000016).select("url").collect()
    }
    assert got_after == exp_after and len(exp_after) > 0
    assert got_supp == exp_supp and len(exp_supp) > 0
    assert got_limit == exp_limit and len(exp_limit) > 0


def test_streaming_xbits_match_batch(spark, tmp_path):
    """Streaming bit store agrees with the batch join-back for the
    brute-bit rule family (set 5000019 / isset 5000020 / isnotset
    5000021 / unset 5000022) under an in-order availableNow drain."""
    from sagan_spark.rules.fixture_rules import fixture_rules

    pages = pages_table(spark, SF_DIR, rep=2)
    src = str(tmp_path / "pages_src_xb")
    pages.coalesce(1).write.mode("overwrite").parquet(src)

    brute = [r for r in fixture_rules() if r.sid in (5000019, 5000020, 5000021, 5000022)]
    hits = streaming_hits(read_pages_stream(spark, src))
    gated = xbits_gate_stream(hits, brute)
    q = (
        gated.writeStream.outputMode("append")
        .format("memory")
        .queryName("xbits_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt_xb"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r["url"], r["sid"]) for r in spark.table("xbits_stream").collect()}

    pipe = Pipeline(spark)
    batch = pipe.gated(spark.read.parquet(src))
    exp = {
        (r["url"], r["sid"])
        for r in batch.where(F.col("sid").isin([5000020, 5000021]))
        .select("url", "sid")
        .collect()
    }
    assert got == exp and len(exp) > 0


def test_streaming_flexbits_count_matches_batch(spark, tmp_path):
    """Streaming flexbits-count (expiry-multiset state) agrees with the
    batch running-sum sweep for the fixture's counter rule family
    (sets 5000019 / unsets 5000022 / count tester 5000032) under an
    in-order availableNow drain — r4, closes the VERDICT r3 gap."""
    from sagan_spark.rules.fixture_rules import fixture_rules

    rules = [r for r in fixture_rules() if r.sid in (5000019, 5000022, 5000032)]
    pages = pages_table(spark, SF_DIR, rep=2)
    src = str(tmp_path / "pages_src_cnt")
    pages.coalesce(1).write.mode("overwrite").parquet(src)

    hits = streaming_hits(read_pages_stream(spark, src))
    gated = xbits_gate_stream(hits, rules)
    q = (
        gated.writeStream.outputMode("append")
        .format("memory")
        .queryName("flexcnt_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt_cnt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["url"] for r in spark.table("flexcnt_stream").collect()}

    pipe = Pipeline(spark)
    batch = pipe.gated(spark.read.parquet(src))
    exp = {
        r["url"]
        for r in batch.where(F.col("sid") == 5000032).select("url").collect()
    }
    assert got == exp and len(exp) > 0


# multi-NAME count family (r5, closes VERDICT r4 item 4): two setter
# rules on different bit names + one tester whose count tests read BOTH
# names — rides a composite ("\x00multi:<sid>", key) state group
MULTI_NAME_RULES = r"""
alert syslog any any -> any any (msg:"set mna"; \
  content:"merge"; flexbits:set,mna,track by_domain,expire 7200; \
  classtype:web-anomaly; sink:"fast"; sid:6000001;)
alert syslog any any -> any any (msg:"set mnb"; \
  content:"sort"; flexbits:set,mnb,track by_domain,expire 7200; \
  classtype:web-anomaly; sink:"fast"; sid:6000002;)
alert syslog any any -> any any (msg:"multi-name brute pair"; \
  content:"window"; \
  flexbits:count,mna,track by_domain,gt 2; \
  flexbits:count,mnb,track by_domain,gt 0; \
  classtype:correlated; sink:"external"; sid:6000003;)
"""


def test_streaming_flexbits_count_multi_name_matches_batch(spark, tmp_path):
    """A rule carrying TWO count tests on DIFFERENT bit names streams
    through the composite state group and agrees with the batch
    ALL-pass sweep (r5 — this case previously raised
    NotImplementedError; VERDICT r4 item 4)."""
    from sagan_spark.rules.parser import parse_rules

    rules = parse_rules(MULTI_NAME_RULES)
    assert len(rules) == 3 and len(rules[2].bit_counts()) == 2
    pages = pages_table(spark, SF_DIR, rep=2)
    src = str(tmp_path / "pages_src_mn")
    pages.coalesce(1).write.mode("overwrite").parquet(src)

    hits = streaming_hits(read_pages_stream(spark, src), rules)
    gated = xbits_gate_stream(hits, rules)
    q = (
        gated.writeStream.outputMode("append")
        .format("memory")
        .queryName("mncnt_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt_mn"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["url"] for r in spark.table("mncnt_stream").collect()}

    pipe = Pipeline(spark, rules)
    batch = pipe.gated(spark.read.parquet(src))
    exp = {
        r["url"]
        for r in batch.where(F.col("sid") == 6000003).select("url").collect()
    }
    assert got == exp and len(exp) > 0


def test_streaming_bit_tests_differing_tracks_rejected(spark, tmp_path):
    """ALL-tests-pass across tests keyed by DIFFERENT tracks needs a
    cross-group join the streaming state store doesn't have — rejected
    loudly (batch handles it: per-test key columns + min(_ok)), whether
    the tests read several bit names or one."""
    import pytest

    from sagan_spark.rules.model import Rule, XbitOp

    multi_name = Rule(
        sid=99,
        xbits=(
            XbitOp(op="count", name="a", track="by_domain", cmp="gt", value=1),
            XbitOp(op="count", name="b", track="by_src", cmp="gt", value=1),
        ),
    )
    single_name = Rule(
        sid=97,
        xbits=(
            XbitOp(op="isset", name="a", track="by_domain"),
            XbitOp(op="isset", name="a", track="by_src"),
        ),
    )
    pages = pages_table(spark, SF_DIR, rep=1)
    src = str(tmp_path / "pages_src_multi")
    pages.coalesce(1).write.mode("overwrite").parquet(src)
    hits = streaming_hits(read_pages_stream(spark, src))
    for r in (multi_name, single_name):
        with pytest.raises(NotImplementedError, match="batch-only"):
            xbits_gate_stream(hits, [r])


def test_mixed_bit_families_rejected_everywhere(spark, tmp_path):
    """A rule mixing count with isset/isnotset tests is rejected in the
    batch engine, the oracle builder AND the streaming path — the two
    gate branches would double-emit rows passing both families."""
    import pytest

    from sagan_spark.gates.xbits import apply_gates, bit_tests_sql
    from sagan_spark.rules.model import Rule, XbitOp

    r = Rule(
        sid=98,
        xbits=(
            XbitOp(op="count", name="a", track="by_domain", cmp="gt", value=1),
            XbitOp(op="isset", name="a", track="by_domain"),
        ),
    )
    with pytest.raises(ValueError, match="mixing"):
        bit_tests_sql([r])
    df = spark.createDataFrame(
        [], schema="sid long, url string, domain string, warc_epoch long, "
        "src_ip string, dst_ip string, source string"
    )
    with pytest.raises(ValueError, match="mixing"):
        apply_gates(df, [r])
    pages = pages_table(spark, SF_DIR, rep=1)
    src = str(tmp_path / "pages_src_mixed")
    pages.coalesce(1).write.mode("overwrite").parquet(src)
    hits = streaming_hits(read_pages_stream(spark, src))
    with pytest.raises(ValueError, match="mixing"):
        xbits_gate_stream(hits, [r])


def test_streaming_gates_second_micro_batch_match_batch(spark, tmp_path):
    """Group state carried INTO a later micro-batch: two files split by
    warc_epoch (in order) drain with maxFilesPerTrigger=1, so every gate
    reads state written by the first batch.  after / suppress / limit
    and the brute-bit xbits family must still agree with the batch
    gates."""
    import os

    from sagan_spark.rules.fixture_rules import fixture_rules

    pages = pages_table(spark, SF_DIR, rep=2)
    (cut,) = pages.approxQuantile("warc_epoch", [0.5], 0.0)
    src = tmp_path / "pages_src_2b"
    src.mkdir()
    for i, half in enumerate(
        (pages.where(F.col("warc_epoch") < cut), pages.where(F.col("warc_epoch") >= cut))
    ):
        part = str(tmp_path / f"half{i}")
        half.coalesce(1).write.mode("overwrite").parquet(part)
        (f,) = [n for n in os.listdir(part) if n.endswith(".parquet")]
        os.rename(os.path.join(part, f), src / f"part-{i}.parquet")
        # the file source orders a backlog by modification time
        os.utime(src / f"part-{i}.parquet", (1_000_000 + i, 1_000_000 + i))

    brute = [r for r in fixture_rules() if r.sid in (5000019, 5000020, 5000021, 5000022)]
    hits = streaming_hits(read_pages_stream(spark, str(src), max_files_per_trigger=1))
    # one stateful operator per query: each gate drains on its own
    streams = {
        "after_2b": after_gate_stream(hits, 5000017, "by_domain", 3, 3600),
        "supp_2b": suppress_gate_stream(hits, 5000018, "by_domain", 5, 3600),
        "limit_2b": limit_gate_stream(hits, 5000016, "by_domain", 2, 7200),
        "xbits_2b": xbits_gate_stream(hits, brute),
    }
    got = set()
    for name, gated in streams.items():
        q = (
            gated.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert sum(p["numInputRows"] > 0 for p in q.recentProgress) == 2, name
        got |= {(r["url"], r["sid"]) for r in spark.table(name).collect()}

    pipe = Pipeline(spark)
    batch = pipe.gated(spark.read.parquet(str(src)))
    sids = [5000016, 5000017, 5000018, 5000020, 5000021]
    exp = {
        (r["url"], r["sid"])
        for r in batch.where(F.col("sid").isin(sids)).select("url", "sid").collect()
    }
    assert got == exp
    assert {sid for _, sid in exp} == set(sids)
