"""Gate semantics on hand-crafted event sequences (FIXTURES.md F4):
exactly-N-th event, expiry boundary, unset-then-test, same-page
set+test ordering."""

from __future__ import annotations

import random
import re

import duckdb
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from sagan_spark.gates.windows import gates_cfg_values_sql, window_gates_sql
from sagan_spark.gates.xbits import apply_gates, bit_tests_sql
from sagan_spark.rules.model import AfterGate, Rule, ThresholdGate, XbitOp

COLS = "sid long, url string, domain string, warc_epoch long, src_ip string, dst_ip string, source string"


def _frame(spark, rows):
    return spark.createDataFrame(rows, schema=COLS)


def _rows(sid, epochs, domain="d1"):
    return [
        (sid, f"u{sid}-{i}-{e}", domain, e, "10.0.0.1", "192.168.0.1", "s")
        for i, e in enumerate(epochs)
    ]


def _kept_epochs(df, sid):
    return sorted(r["warc_epoch"] for r in df.where(F.col("sid") == sid).collect())


def test_after_fires_only_past_count(spark):
    r = Rule(sid=1, after=AfterGate(track="by_domain", count=2, seconds=100))
    df = _frame(spark, _rows(1, [0, 50, 100, 101, 250]))
    out = apply_gates(df, [r])
    # rolling [-100, 0] inclusive boundary: event at t=100 still counts t=0
    assert _kept_epochs(out, 1) == [100, 101]


def test_threshold_limit_tumbling_first_n(spark):
    r = Rule(sid=2, threshold=ThresholdGate(ttype="limit", track="by_domain", count=1, seconds=100))
    df = _frame(spark, _rows(2, [0, 50, 100, 101, 250]))
    out = apply_gates(df, [r])
    assert _kept_epochs(out, 2) == [0, 100, 250]


def test_threshold_suppress_drops_over_count(spark):
    r = Rule(sid=3, threshold=ThresholdGate(ttype="suppress", track="by_domain", count=2, seconds=100))
    df = _frame(spark, _rows(3, [0, 50, 100, 101, 250]))
    out = apply_gates(df, [r])
    assert _kept_epochs(out, 3) == [0, 50, 250]


def test_gates_key_isolation(spark):
    """Different domains count independently."""
    r = Rule(sid=4, after=AfterGate(track="by_domain", count=1, seconds=1000))
    rows = _rows(4, [0, 10], domain="a") + _rows(4, [20], domain="b")
    out = apply_gates(_frame(spark, rows), [r])
    kept = sorted(
        (r["domain"], r["warc_epoch"]) for r in out.where(F.col("sid") == 4).collect()
    )
    assert kept == [("a", 10)]  # b never reaches count 2


SET_RULE = Rule(sid=10, xbits=(XbitOp(op="set", name="bit", track="by_domain", expire=100),))
UNSET_RULE = Rule(sid=11, xbits=(XbitOp(op="unset", name="bit", track="by_domain"),))
ISSET_RULE = Rule(sid=12, xbits=(XbitOp(op="isset", name="bit", track="by_domain"),))
ISNOT_RULE = Rule(sid=13, xbits=(XbitOp(op="isnotset", name="bit", track="by_domain"),))


def test_xbit_isset_and_expiry_boundary(spark):
    rules = [SET_RULE, ISSET_RULE, ISNOT_RULE]
    rows = (
        _rows(10, [0])  # set at t=0, expire 100
        + _rows(12, [50, 99, 100, 150])  # isset testers
        + _rows(13, [50, 100])  # isnotset testers
    )
    out = apply_gates(_frame(spark, rows), rules)
    assert _kept_epochs(out, 10) == [0]  # setter row passes through
    # boundary: tester exactly at set_ts + expire sees the bit CLEARED
    assert _kept_epochs(out, 12) == [50, 99]
    assert _kept_epochs(out, 13) == [100]


def test_xbit_unset_then_test(spark):
    rules = [SET_RULE, UNSET_RULE, ISSET_RULE]
    rows = _rows(10, [0]) + _rows(11, [60]) + _rows(12, [50, 70])
    out = apply_gates(_frame(spark, rows), rules)
    assert _kept_epochs(out, 12) == [50]  # 70 sees the unset at 60


def test_xbit_same_epoch_set_visible_to_tester(spark):
    """Same event-time set is visible when (epoch, url) order admits it;
    setter url sorts before tester url here."""
    rules = [SET_RULE, ISSET_RULE]
    rows = [
        (10, "a-set", "d1", 5, "10.0.0.1", "192.168.0.1", "s"),
        (12, "b-test", "d1", 5, "10.0.0.1", "192.168.0.1", "s"),
    ]
    out = apply_gates(_frame(spark, rows), rules)
    assert _kept_epochs(out, 12) == [5]


def test_xbit_key_isolation(spark):
    rules = [SET_RULE, ISSET_RULE]
    rows = _rows(10, [0], domain="a") + _rows(12, [10], domain="b")
    out = apply_gates(_frame(spark, rows), rules)
    assert _kept_epochs(out, 12) == []  # different key, bit not set


SET2_RULE = Rule(sid=16, xbits=(XbitOp(op="set", name="bit2", track="by_domain", expire=100),))
MULTI_RULE = Rule(
    sid=15,
    xbits=(
        XbitOp(op="isset", name="bit", track="by_domain"),
        XbitOp(op="isnotset", name="bit2", track="by_domain"),
    ),
)


def test_xbit_multi_test_requires_all(spark):
    """A rule carrying SEVERAL bit tests alerts iff EVERY test passes
    (conjunctive, [U] src/xbit.c), and emits exactly ONE row — not one
    per passing test (ADVICE r4)."""
    rules = [SET_RULE, SET2_RULE, MULTI_RULE]
    rows = (
        _rows(10, [0])     # set 'bit'  (expire 100)
        + _rows(16, [50])  # set 'bit2' (expire 100)
        + _rows(15, [10, 60, 150])  # isset(bit) AND isnotset(bit2)
    )
    out = apply_gates(_frame(spark, rows), rules)
    # t=10: bit set, bit2 clear → both pass.  t=60: bit2 set → isnotset
    # fails → dropped even though isset passes.  t=150: bit expired.
    assert _kept_epochs(out, 15) == [10]
    assert out.where(F.col("sid") == 15).count() == 1


COUNT_RULE = Rule(
    sid=14, xbits=(XbitOp(op="count", name="bit", track="by_domain", cmp="gt", value=1),)
)
# set at 0/10/20 (expire 100) → unexpired count at t: 1@[0,10), 2@[10,20),
# 3@[20,100), 2@[100,110) (first set expires), 1@[110,120), 0 from 120
COUNT_ROWS = _rows(10, [0, 10, 20]) + _rows(14, [5, 15, 105, 115, 130])


def test_flexbits_count_running_sum(spark):
    """The running count over set(+1) / expiry(-1) rows per (name, key):
    each tester passes iff the unexpired set count at its position is
    above 1."""

    def kept(rows, setter=SET_RULE):
        return _kept_epochs(apply_gates(_frame(spark, rows), [setter, COUNT_RULE]), 14)

    assert kept(COUNT_ROWS) == [15, 105]
    # a fourth set at t=30 lifts the count above 1 at t=115 too
    assert kept(COUNT_ROWS + _rows(10, [30])) == [15, 105, 115]
    # sid 17 sets the bit once, so the count never exceeds 1
    one_setter = Rule(
        sid=17, xbits=(XbitOp(op="set", name="bit", track="by_domain", expire=100),)
    )
    assert kept(COUNT_ROWS + _rows(17, [1]), setter=one_setter) == []


def test_count_gates_run_no_probe(spark, memo_store):
    """isset and count tests on one name share ONE running window per
    (name, key), and building them caches nothing: no driver-side job
    decides the plan."""
    rows = COUNT_ROWS + _rows(12, [50, 150])
    out = apply_gates(_frame(spark, rows), [SET_RULE, COUNT_RULE, ISSET_RULE])
    assert memo_store == {}
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    windows = re.findall(r"Window \[.*\], \[(.*?)\], \[", plan)
    assert [re.sub(r"#\d+L?", "", w) for w in windows] == ["bname, bkey"]


# Parity rules: setters with no, zero and positive expiry plus an unset
# on name "c", a second name "d" keyed by source IP, and gt/lt/eq
# testers (sid 34 carries two tests that must both pass), and isset /
# isnotset testers on the same names and keys (sid 38 carries both, and
# sid 39 mixes a count test with an isset test).
_PARITY_RULES = [
    Rule(sid=21, xbits=(XbitOp(op="set", name="c", track="by_domain"),)),
    Rule(sid=22, xbits=(XbitOp(op="set", name="c", track="by_domain", expire=0),)),
    Rule(sid=23, xbits=(XbitOp(op="set", name="c", track="by_domain", expire=40),)),
    Rule(sid=24, xbits=(XbitOp(op="unset", name="c", track="by_domain"),)),
    Rule(sid=25, xbits=(XbitOp(op="set", name="d", track="by_src", expire=30),)),
    Rule(sid=31, xbits=(XbitOp(op="count", name="c", track="by_domain", cmp="gt", value=3),)),
    Rule(sid=32, xbits=(XbitOp(op="count", name="c", track="by_domain", cmp="lt", value=5),)),
    Rule(sid=33, xbits=(XbitOp(op="count", name="c", track="by_domain", cmp="eq", value=2),)),
    Rule(
        sid=34,
        xbits=(
            XbitOp(op="count", name="c", track="by_domain", cmp="gt", value=1),
            XbitOp(op="count", name="d", track="by_src", cmp="lt", value=3),
        ),
    ),
    Rule(sid=35, xbits=(XbitOp(op="count", name="d", track="by_src", cmp="gt", value=0),)),
    Rule(sid=36, xbits=(XbitOp(op="isset", name="c", track="by_domain"),)),
    Rule(sid=37, xbits=(XbitOp(op="isnotset", name="d", track="by_src"),)),
    Rule(
        sid=38,
        xbits=(
            XbitOp(op="isset", name="c", track="by_domain"),
            XbitOp(op="isnotset", name="d", track="by_src"),
        ),
    ),
    Rule(
        sid=39,
        xbits=(
            XbitOp(op="count", name="c", track="by_domain", cmp="gt", value=2),
            XbitOp(op="isset", name="c", track="by_domain"),
        ),
    ),
]
# columns bit_tests_sql selects beyond COLS; the parity frame leaves them NULL
_ORACLE_PAD = (
    "text lang ips port_x port2_x proto_x md5_x sha1_x sha256_x port dst_port "
    "proto hash classtype country_track country_is country_isnot sink rev "
    "after_track after_count after_seconds th_type th_track th_count "
    "th_seconds src_cc dst_cc priority description"
).split()


def _parity_rows(seed: int) -> list[tuple]:
    """Pages, each matching a random subset of the parity sids: one hot
    domain of a few thousand alert rows plus cold domains.  Epochs are
    dense, so sets and testers share epochs, and url order is random
    against epoch order."""
    rng = random.Random(seed)
    sids = [r.sid for r in _PARITY_RULES]
    # one weight per _PARITY_RULES entry: sets that expire after 40 s are
    # the most common and never-expiring sets the rarest, so the hot
    # group's count rises and falls instead of only growing
    weights = [1, 2, 6, 2, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2]
    pages = [("hot", rng.randrange(600)) for _ in range(1500)]
    pages += [(f"cold{rng.randrange(40)}", rng.randrange(600)) for _ in range(400)]
    rows = []
    for i, (domain, epoch) in enumerate(pages):
        url = f"u{rng.randrange(10**6):06d}-{i}"
        src = f"10.0.0.{rng.randrange(8)}"
        for sid in set(rng.choices(sids, weights, k=rng.randint(1, 3))):
            rows.append((sid, url, domain, epoch, src, "192.168.0.1", "s"))
    return rows


@pytest.mark.parametrize("seed", [1, 2])
def test_bit_tests_match_duckdb_twin(spark, seed):
    """Count and isset/isnotset gates, swept together, keep the same
    (url, sid) set as the DuckDB twin's join formulations, on a hot
    group, equal-epoch set/tester pairs, None/0/positive expiries and
    unset rows."""
    rows = _parity_rows(seed)
    out = apply_gates(_frame(spark, rows), _PARITY_RULES)
    got = {(r["url"], r["sid"]) for r in out.select("url", "sid").collect()}

    names = [c.split()[0] for c in COLS.split(", ")]
    base = pa.table({c: [r[i] for r in rows] for i, c in enumerate(names)})
    pad = ", ".join(f"NULL AS {c}" for c in _ORACLE_PAD)
    with duckdb.connect() as con:
        con.register("base", base)
        con.execute(f"CREATE VIEW wgated AS SELECT *, {pad} FROM base")
        sql = f"SELECT url, sid FROM ({bit_tests_sql(_PARITY_RULES)})"
        want = set(con.execute(sql).fetchall())
    assert got == want
    # not vacuous: every tester rule keeps some rows and drops others
    for sid in (31, 32, 33, 34, 35, 36, 37, 38, 39):
        n_in = sum(r[0] == sid for r in rows)
        n_kept = sum(s == sid for _, s in got)
        assert 0 < n_kept < n_in, (sid, n_kept, n_in)


# Overlap rules: a window gate on a bit writer and on two bit testers,
# so the window survivors feed both sides of the bit sweep, plus an
# ungated tester, a window-only rule and a plain rule.
_OVERLAP_RULES = [
    Rule(
        sid=51,
        xbits=(XbitOp(op="set", name="o", track="by_domain", expire=60),),
        after=AfterGate(track="by_domain", count=1, seconds=30),
    ),
    Rule(
        sid=52,
        xbits=(XbitOp(op="isset", name="o", track="by_domain"),),
        threshold=ThresholdGate(ttype="limit", track="by_domain", count=2, seconds=50),
    ),
    Rule(
        sid=53,
        xbits=(XbitOp(op="count", name="o", track="by_domain", cmp="gt", value=1),),
        after=AfterGate(track="by_domain", count=1, seconds=40),
    ),
    Rule(sid=54, xbits=(XbitOp(op="isnotset", name="o", track="by_domain"),)),
    Rule(
        sid=55,
        threshold=ThresholdGate(ttype="suppress", track="by_domain", count=3, seconds=60),
    ),
    Rule(sid=56),
]


@pytest.mark.parametrize("seed", [1, 2])
def test_overlapping_gates_match_duckdb_twin(spark, seed):
    """Window gates on bit writers and testers: the bit sweep reads the
    window survivors, and the kept (url, sid) set equals the DuckDB
    twins' window gates followed by their bit tests."""
    rng = random.Random(seed)
    sids = [r.sid for r in _OVERLAP_RULES]
    rows = []
    for i in range(900):
        domain = "hot" if rng.random() < 0.7 else f"cold{rng.randrange(12)}"
        url = f"u{rng.randrange(10**6):06d}-{i}"
        epoch = rng.randrange(1500)
        for sid in set(rng.choices(sids, k=rng.randint(1, 3))):
            rows.append((sid, url, domain, epoch, "10.0.0.1", "192.168.0.1", "s"))
    out = apply_gates(_frame(spark, rows), _OVERLAP_RULES)
    got = {(r["url"], r["sid"]) for r in out.select("url", "sid").collect()}

    names = [c.split()[0] for c in COLS.split(", ")]
    base = pa.table({c: [r[i] for r in rows] for i, c in enumerate(names)})
    cfg = "after_track after_count after_seconds th_type th_track th_count th_seconds".split()
    pad = ", ".join(f"NULL AS {c}" for c in _ORACLE_PAD if c not in cfg)
    with duckdb.connect() as con:
        con.register("base", base)
        con.execute(
            f"CREATE VIEW enr AS SELECT b.*, {pad}, "
            + ", ".join(f"gcfg.{c}" for c in cfg)
            + f" FROM base b LEFT JOIN {gates_cfg_values_sql(_OVERLAP_RULES)}"
            " ON b.sid = gcfg.sid"
        )
        con.execute(f"CREATE VIEW wgated AS {window_gates_sql(_OVERLAP_RULES, 'enr')}")
        sql = f"SELECT url, sid FROM ({bit_tests_sql(_OVERLAP_RULES)})"
        want = set(con.execute(sql).fetchall())
    assert got == want
    # not vacuous: every gated rule keeps some rows and drops others
    for sid in (51, 52, 53, 54, 55):
        n_in = sum(r[0] == sid for r in rows)
        n_kept = sum(s == sid for _, s in got)
        assert 0 < n_kept < n_in, (sid, n_kept, n_in)
    assert sum(s == 56 for _, s in got) == sum(r[0] == 56 for r in rows)
