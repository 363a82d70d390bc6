"""xbits / flexbits as one running-window sweep (SURVEY.md §2.6 A4-A5,
§3.3; [U] upstream src/xbit.c, src/xbit-mmap.c, src/flexbit.c).

Batch re-expression of the mmap bit store: ``set`` / ``unset`` matches
become rows of a **bit-event table** ``(name, key, warc_epoch, url, op,
expire)``; isset / isnotset / count testers read it under the
deterministic total order ``(warc_epoch, url)`` (same-page
set-then-test is visible, mirroring the reference's in-message rule
ordering).  A bit is *set* iff the latest event is a ``set`` AND the
tester is strictly inside its expiry window (``t < set.epoch +
expire`` — a tester exactly at the boundary sees the bit cleared,
FIXTURES.md F4); see :func:`_apply_bit_tests`.

:func:`apply_gates` is the whole batch gate stage: one staged snapshot,
one decision pass over its narrow rows (window survivors, then the bit
sweep over those same survivors), and one LEFT SEMI join-back of the
decided ``(url, sid)`` keys.

Scale: at 10^12 rows the bit-event table is partition-pruned by the
same warc_ts partitioning as the pages table (events can only affect
testers within max-expire of their partition, so per-partition
processing carries a bounded look-back tail — see runner/ notes).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sagan_spark.gates.windows import (
    stage_frame,
    track_key_col,
    track_key_sql,
    window_survivors,
    with_gate_keys,
)
from sagan_spark.rules.model import Rule
from sagan_spark.session import local_df


def bit_ops_rows(rules: list[Rule]) -> tuple[list[tuple], list[tuple]]:
    """(writes, tests): (sid, name, track, op, expire) rows."""
    writes, tests = [], []
    for r in rules:
        for x in r.bit_writes():
            writes.append((r.sid, x.name, x.track, x.op, x.expire))
        for x in r.bit_tests():
            tests.append((r.sid, x.name, x.track, x.op))
    return writes, tests


def bit_count_rows(rules: list[Rule]) -> list[tuple]:
    """flexbits ``count`` testers: (sid, name, track, cmp, value)."""
    return [
        (r.sid, x.name, x.track, x.cmp, x.value)
        for r in rules
        for x in r.bit_counts()
    ]


def bit_events(df: DataFrame, writes_df: DataFrame) -> DataFrame:
    """Gated rows of writer rules → bit-event table."""
    ev = df.join(F.broadcast(writes_df), "sid", "inner")
    return ev.select(
        F.col("name"),
        track_key_col(F.col("track")).alias("key"),
        F.col("warc_epoch"),
        F.col("url"),
        F.col("sid").alias("esid"),
        F.col("op"),
        F.col("expire"),
    )


def apply_gates(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """The gate stage: after/threshold windows, then xbits/flexbits
    tests, over the alert stream ``df``.  Rows of rules carrying no
    gate pass through untouched; every output row carries the gate
    config and key columns of :func:`with_gate_keys`.

    One barrier, one decision pass, one join-back: the keyed alert
    stream is staged once when some rule has a window gate or a bit
    test, whatever the ruleset.  The decision runs on NARROW rows
    projected off that snapshot (keys, clock, gate config): window
    survivors of window-gated sids, and the bit sweep
    (:func:`_apply_bit_tests`) over testers and bit events taken from
    those same survivors, so a bit rule that also carries a window gate
    takes the same path as any other.  The decided ``(url, sid)`` keys
    (unique per alert row, skew-free) then LEFT SEMI join back to the
    staged rows of decided sids once; other rows pass through."""
    writes, tests = bit_ops_rows(rules)
    counts = bit_count_rows(rules)
    win_sids = {r.sid for r in rules if r.after or r.threshold}
    test_sids = {t[0] for t in tests} | {c[0] for c in counts}
    df = with_gate_keys(df, rules)
    if not (win_sids or test_sids):
        return df
    staged = stage_frame(df)
    narrow = staged.select(
        "sid", "url", "warc_epoch", "domain", "src_ip", "dst_ip", "source",
        "after_key", "th_key", "after_seconds", "after_count",
        "th_type", "th_seconds", "th_count",
    )

    def alerts(sids: set) -> DataFrame:
        """Narrow window survivors among ``sids``: only window-gated
        sids enter the window exchange, and no branch plans an empty
        window."""
        gated, ungated = sorted(sids & win_sids), sorted(sids - win_sids)
        parts = [narrow.where(F.col("sid").isin(ungated))] if ungated else []
        if gated:
            parts.append(window_survivors(narrow.where(F.col("sid").isin(gated)), rules))
        return reduce(DataFrame.unionByName, parts or [narrow.where(F.lit(False))])

    only_win = win_sids - test_sids
    keys = [alerts(only_win).select("url", "sid")] if only_win else []
    if test_sids:
        spark = df.sparkSession
        writes_df = local_df(
            spark, writes, "sid long, name string, track string, op string, expire int"
        )
        writer_sids = {w[0] for w in writes}
        keys.append(
            _apply_bit_tests(
                alerts(test_sids), alerts(writer_sids), tests, counts, writes_df, spark
            )
        )
    decided = F.col("sid").isin(sorted(win_sids | test_sids))
    keys = reduce(DataFrame.unionByName, keys)
    return staged.where(~decided).unionByName(
        staged.where(decided).join(keys, ["url", "sid"], "leftsemi")
    )


def _apply_bit_tests(
    tester_src: DataFrame,
    event_src: DataFrame,
    tests: list[tuple],
    counts: list[tuple],
    writes_df: DataFrame,
    spark: SparkSession,
) -> DataFrame:
    """The ``(url, sid)`` keys of the passing rows of ``tester_src``
    under its xbits ``isset`` / ``isnotset`` and flexbits ``count``
    tests ([U] src/flexbit.c).

    Semantics (fixture-defining, mirrored in :func:`bit_tests_sql`):
    isset / isnotset read the LATEST bit event at-or-before the tester;
    count reads the number of UNEXPIRED ``set`` events at-or-before it
    (``unset`` does not decrement) and passes iff ``count <cmp> value``.
    A tester row passes iff ALL of its rule's tests pass.

    Scale shape: an (events × testers) join on (name, key) is
    O(sets × testers) per key and melted on the hot Zipf domain (r3).
    Instead events, expiry rows and testers are UNIONed into one stream
    per (name, key), sorted once, and each tester reads both answers
    off ONE running window: ``last(bev, ignorenulls)`` is the latest
    event, ``sum(delta)`` the count (set +1, expiry -1).  Linear per
    key; hot keys are longer sorted runs (an epoch-chunked plan lost
    below ~10^6 rows per group, BASELINE.md).

    The order (epoch, k0, url, kind, esid) encodes the semantics: at
    equal epoch, expiries (k0=0, no ``bev``) precede everything
    (expired iff t ≥ eepoch+expire), then events and testers interleave
    by url, event before tester at equal url, events by writer sid.  A
    set with expire ≤ 0 can be the latest event but never counts.

    Testers ride the sweep as NARROW (url, sid) keys (r4: a full-payload
    carry made the hot group's single sort task ~3× wider, and that task
    WAS the stage wall); min(ok) over (url, sid) is the ALL-pass
    aggregate, and the caller joins the passing keys back to the staged
    rows.  The DuckDB oracle keeps the join formulation as an
    independent cross-check."""
    tests_df = local_df(
        spark,
        [(sid, name, track, op, None, None) for sid, name, track, op in tests]
        + [(sid, name, track, "count", c, v) for sid, name, track, c, v in counts],
        "sid long, name string, track string, test_op string, cmp string, cval int",
    )
    bev_t = "struct<eepoch: long, esid: long, eop: string, eexpire: int>"
    live_set = (
        (F.col("op") == "set")
        & F.col("name").isin(sorted({c[1] for c in counts}))
        & (F.col("expire").isNull() | (F.col("expire") > 0))
    )
    # one scan → the event row (+1 iff a counted live set) and, for such
    # a set with an expire, its (-1) expiry row
    ev_pair = F.array(
        F.struct(
            F.col("warc_epoch").cast("long").alias("epoch"),
            F.lit(1).alias("k0"),
            F.col("url"),
            F.struct(
                F.col("warc_epoch").alias("eepoch"),
                F.col("esid"),
                F.col("op").alias("eop"),
                F.col("expire").alias("eexpire"),
            ).alias("bev"),
            live_set.cast("int").alias("delta"),
        ),
        F.when(
            live_set & F.col("expire").isNotNull(),
            F.struct(
                (F.col("warc_epoch") + F.col("expire")).cast("long").alias("epoch"),
                F.lit(0).alias("k0"),
                F.lit("").alias("url"),
                F.lit(None).cast(bev_t).alias("bev"),
                F.lit(-1).alias("delta"),
            ),
        ),
    )
    tested = sorted({t[1] for t in tests} | {c[1] for c in counts})
    events = (
        bit_events(event_src, writes_df)
        .where(F.col("name").isin(tested))
        .select("name", "key", F.explode(ev_pair).alias("e"))
        .where(F.col("e").isNotNull())
        .select(
            F.col("name").alias("bname"),
            F.col("key").alias("bkey"),
            "e.*",
            F.lit(0).alias("kind"),
            F.lit(None).cast("string").alias("test_op"),
            F.lit(None).cast("string").alias("cmp"),
            F.lit(None).cast("int").alias("cval"),
            F.lit(None).cast("long").alias("tsid"),
        )
    )
    testers = tester_src.join(F.broadcast(tests_df), "sid", "inner").select(
        F.col("name").alias("bname"),
        track_key_col(F.col("track")).alias("bkey"),
        F.col("warc_epoch").cast("long").alias("epoch"),
        F.lit(1).alias("k0"),
        "url",
        F.lit(None).cast(bev_t).alias("bev"),
        F.lit(0).alias("delta"),
        F.lit(1).alias("kind"),
        "test_op",
        "cmp",
        "cval",
        F.col("sid").alias("tsid"),
    )
    w = (
        Window.partitionBy("bname", "bkey")
        .orderBy("epoch", "k0", "url", "kind", F.col("bev.esid").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    swept = events.unionByName(testers).select(
        "url", "epoch", "kind", "tsid", "test_op", "cmp", "cval",
        F.last("bev", ignorenulls=True).over(w).alias("lev"),
        F.sum("delta").over(w).alias("n"),
    )
    isset = (
        F.col("lev").isNotNull()
        & (F.col("lev.eop") == "set")
        & (
            F.col("lev.eexpire").isNull()
            | (F.col("epoch") < F.col("lev.eepoch") + F.col("lev.eexpire"))
        )
    )
    ok = (
        F.when(F.col("test_op") == "isset", isset)
        .when(F.col("test_op") == "isnotset", ~isset)
        .when(F.col("cmp") == "gt", F.col("n") > F.col("cval"))
        .when(F.col("cmp") == "lt", F.col("n") < F.col("cval"))
        .otherwise(F.col("n") == F.col("cval"))
    )
    return (
        swept.where(F.col("kind") == 1)
        .groupBy("url", "tsid")
        .agg(F.min(ok.cast("int")).alias("_all_ok"))
        .where(F.col("_all_ok") == 1)
        .select("url", F.col("tsid").alias("sid"))
    )


def bit_values_sql(rules: list[Rule]) -> tuple[str, str]:
    writes, tests = bit_ops_rows(rules)

    def lit(v):
        return "NULL" if v is None else (str(v) if isinstance(v, int) else f"'{v}'")

    w = ", ".join("(" + ", ".join(lit(v) for v in row) + ")" for row in writes) or "(NULL, NULL, NULL, NULL, NULL)"
    t = ", ".join("(" + ", ".join(lit(v) for v in row) + ")" for row in tests) or "(NULL, NULL, NULL, NULL)"
    return (
        f"(VALUES {w}) AS bw(sid, name, track, op, expire)",
        f"(VALUES {t}) AS bt(sid, name, track, test_op)",
    )


def bit_tests_sql(rules: list[Rule], rel: str = "wgated") -> str:
    """DuckDB twin of the bit-test half of :func:`apply_gates`: returns
    the full SQL for the bit-gated relation, non-testers UNION the
    testers whose every bit test passes.

    Join formulation, independent of the engine's sweep: each isset /
    isnotset test reads the latest event at-or-before the tester (a
    ``row_number`` over the tester × events join), each count test
    counts the unexpired sets at-or-before it (a grouped join).  Both
    families yield per-test ``(url, sid, ok)`` rows; one ``bool_and``
    per (url, sid) over their UNION ALL is the ALL-pass aggregate, so a
    rule may mix the families."""
    writes, tests = bit_ops_rows(rules)
    counts = bit_count_rows(rules)
    if not tests and not counts:
        return f"SELECT * FROM {rel}"
    wv, tv = bit_values_sql(rules)
    tester_sids = ", ".join(
        str(s) for s in sorted({t[0] for t in tests} | {c[0] for c in counts})
    )
    ekey = track_key_sql("bw.track", prefix="g.")
    cols = (
        "url, domain, warc_epoch, text, lang, source, sid, ips, port_x, port2_x, proto_x, "
        "md5_x, sha1_x, sha256_x, src_ip, dst_ip, port, dst_port, proto, hash, classtype, "
        "country_track, country_is, country_isnot, sink, rev, after_track, "
        "after_count, after_seconds, th_type, th_track, th_count, th_seconds, "
        "src_cc, dst_cc, priority, description"
    )
    per_test = []
    if tests:
        # isset/isnotset: the latest event per (tester, test) decides
        tkey = track_key_sql("bt.track", prefix="t.")
        per_test.append(f"""
  SELECT url, sid,
    CASE WHEN _test_op = 'isset'
      THEN coalesce(eop = 'set' AND (eexpire IS NULL OR warc_epoch < eepoch + eexpire), FALSE)
      ELSE NOT coalesce(eop = 'set' AND (eexpire IS NULL OR warc_epoch < eepoch + eexpire), FALSE)
    END AS ok
  FROM (
    SELECT t.url, t.sid, t.warc_epoch, ev.eop, ev.eexpire, ev.eepoch,
      row_number() OVER (PARTITION BY t.url, t.sid, bt.name, bt.track, bt.test_op
                         ORDER BY ev.eepoch DESC NULLS LAST, ev.eurl DESC NULLS LAST,
                                  ev.esid DESC NULLS LAST) AS _rn,
      bt.test_op AS _test_op
    FROM {rel} t
    JOIN {tv} ON t.sid = bt.sid
    LEFT JOIN (
      SELECT bw.name AS ename, {ekey} AS ekey, g.warc_epoch AS eepoch,
             g.url AS eurl, g.sid AS esid, bw.op AS eop, bw.expire AS eexpire
      FROM {rel} g JOIN {wv} ON g.sid = bw.sid
    ) ev ON ev.ename = bt.name AND ev.ekey = {tkey}
        AND (ev.eepoch < t.warc_epoch
             OR (ev.eepoch = t.warc_epoch AND ev.eurl <= t.url))
  ) q WHERE _rn = 1""")
    if counts:
        # count: unexpired sets at-or-before the tester (unset does not
        # decrement; expire <= 0 never counts)
        cvals = ", ".join(
            f"({sid}, '{name}', '{track}', '{cmp}', {val})"
            for sid, name, track, cmp, val in counts
        )
        cv = f"(VALUES {cvals}) AS bc(sid, name, track, cmp, cval)"
        ckey = track_key_sql("bc.track", prefix="t2.")
        per_test.append(f"""
  SELECT url, sid,
    CASE cmp WHEN 'gt' THEN n > cval WHEN 'lt' THEN n < cval ELSE n = cval END AS ok
  FROM (
    SELECT t2.url, t2.sid, bc.cmp, bc.cval, count(ev.eurl) AS n
    FROM {rel} t2 JOIN {cv} ON t2.sid = bc.sid
    LEFT JOIN (
      SELECT bw.name AS ename, {ekey} AS ekey, g.warc_epoch AS eepoch,
             g.url AS eurl, bw.expire AS eexpire
      FROM {rel} g JOIN {wv} ON g.sid = bw.sid WHERE bw.op = 'set'
    ) ev ON ev.ename = bc.name AND ev.ekey = {ckey}
        AND (ev.eepoch < t2.warc_epoch
             OR (ev.eepoch = t2.warc_epoch AND ev.eurl <= t2.url))
        AND (ev.eexpire IS NULL OR t2.warc_epoch < ev.eepoch + ev.eexpire)
    GROUP BY t2.url, t2.sid, bc.name, bc.track, bc.cmp, bc.cval
  ) c""")
    union = "\n  UNION ALL".join(per_test)
    return f"""
SELECT {cols} FROM {rel} WHERE sid NOT IN ({tester_sids})
UNION ALL
SELECT {cols} FROM {rel} t3
WHERE t3.sid IN ({tester_sids})
  AND (t3.url, t3.sid) IN (
    SELECT (url, sid) FROM ({union}
    ) GROUP BY url, sid HAVING bool_and(ok))
""".strip()
