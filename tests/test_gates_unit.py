"""Gate semantics on hand-crafted event sequences (FIXTURES.md F4):
exactly-N-th event, expiry boundary, unset-then-test, same-page
set+test ordering."""

from __future__ import annotations

from pyspark.sql import functions as F

from sagan_spark.gates import xbits
from sagan_spark.gates.xbits import apply_gates
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


def _flexcount_plan(df) -> str:
    """The running-count plan apply_gates built: only the chunked form
    adds a ``_chunk`` column."""
    plan = df._jdf.queryExecution().analyzed().toString()
    return "chunked" if "_chunk" in plan else "single"


def _count_run(spark, monkeypatch, threshold=None, frame=None, setter=SET_RULE):
    """(kept count-tester epochs, flexcount plan) for one build."""
    if threshold is not None:
        monkeypatch.setattr(xbits, "FLEXCOUNT_CHUNK_THRESHOLD", threshold)
    frame = _frame(spark, COUNT_ROWS) if frame is None else frame
    out = apply_gates(frame, [setter, COUNT_RULE])
    return _kept_epochs(out, 14), _flexcount_plan(out)


def test_flexbits_count_single_vs_chunked_agree(spark, monkeypatch):
    """The epoch-chunked two-phase prefix sum is semantics-identical to
    the single-window running sum (the hot-key escalation path)."""
    expected = [15, 105]  # count>1 at those tester times
    assert _count_run(spark, monkeypatch) == (expected, "single")
    # synthetic hot key: drop the threshold below this group's size
    assert _count_run(spark, monkeypatch, threshold=3) == (expected, "chunked")


def test_flexbits_count_trigger_flips_on_hot_key(spark, monkeypatch):
    """The plan is 'single' for small groups and escalates to 'chunked'
    once the hottest (name, key) group crosses the row threshold."""
    # the one (bit, d1) group holds 3 sets + 3 expiries + 5 testers
    _, plan = _count_run(spark, monkeypatch, threshold=11)
    assert plan == "single"
    _, plan = _count_run(spark, monkeypatch, threshold=10)
    assert plan == "chunked"
    assert xbits._pick_flexcount_plan(10**9) == "chunked"


def test_flexcount_threshold_is_the_calibrated_value():
    """Pin the r5-calibrated crossover (scripts/calibrate_flexcount.py:
    single-window degrades super-linearly past ~10^6 rows/group while
    chunked stays flat; tie at 1M, chunked 2x at 2M).  The default must
    flip exactly above 2M rows/group."""
    assert xbits.FLEXCOUNT_CHUNK_THRESHOLD == 2_000_000
    assert xbits._pick_flexcount_plan(2_000_000) == "single"
    assert xbits._pick_flexcount_plan(2_000_001) == "chunked"


def test_flexcount_probe_memo(spark, monkeypatch):
    """The hottest-group probe is memoized per (upstream plan, gate
    specs): a second build over the same input must not re-run the
    stats job (bench reps / repeated queries re-paid ~1 s of fixed
    latency per plan build), and a ruleset with the same count specs
    but different writers probes a different stream, so it must not
    share the entry (ADVICE r5)."""
    xbits.clear_flexcount_probe_cache()
    # NOTE: reuse the SAME DataFrame object — a fresh createDataFrame
    # local relation gets new expression ids and a different semantic
    # hash (memo miss, re-probe, correct but uncached).  The production
    # shape (spark.read.parquet of the same path) hashes stably.
    frame = _frame(spark, COUNT_ROWS + _rows(17, [1]))
    assert _count_run(spark, monkeypatch, frame=frame) == ([15, 105], "single")
    assert len(xbits._FLEXCOUNT_PROBE_CACHE) == 1
    # poison the cached value: if the second build re-probed, the memo
    # entry would be overwritten back to the true count; if it read the
    # memo, the poisoned value forces the chunked plan while results
    # stay identical (plan choice never changes semantics)
    (key,) = xbits._FLEXCOUNT_PROBE_CACHE
    xbits._FLEXCOUNT_PROBE_CACHE[key] = 10**9
    assert _count_run(spark, monkeypatch, frame=frame) == ([15, 105], "chunked")
    # sid 17 sets the bit once, so the count never exceeds 1; re-probed,
    # not served the poisoned entry
    other_setter = Rule(
        sid=17, xbits=(XbitOp(op="set", name="bit", track="by_domain", expire=100),)
    )
    assert _count_run(spark, monkeypatch, frame=frame, setter=other_setter) == (
        [],
        "single",
    )
    assert len(xbits._FLEXCOUNT_PROBE_CACHE) == 2
    xbits.clear_flexcount_probe_cache()
    assert not xbits._FLEXCOUNT_PROBE_CACHE
