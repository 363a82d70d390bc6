"""xbits / flexbits as join-back state tables (SURVEY.md §2.6 A4-A5,
§3.3; [U] upstream src/xbit.c, src/xbit-mmap.c, src/flexbit.c).

Batch re-expression of the mmap bit store:

  * ``set`` / ``unset`` matches become rows of a **bit-event table**
    ``(name, key, warc_epoch, url, op, expire)``.
  * ``isset`` / ``isnotset`` testers LEFT-join back to the latest bit
    event at-or-before their own event time, under the deterministic
    total order ``(warc_epoch, url)`` (same-page set-then-test is
    visible, mirroring the reference's in-message rule ordering).
  * The bit is *set* iff that latest event is a ``set`` AND the tester
    is strictly inside the expiry window
    (``t.epoch < set.epoch + expire`` — a tester exactly at the expiry
    boundary sees the bit cleared, FIXTURES.md F4).

Scale: the join is equi on (name, key) with a range residual — a
shuffled hash join; hot keys ride on AQE skew splitting.  At 10^12
rows the bit-event table is partition-pruned by the same warc_ts
partitioning as the pages table (events can only affect testers within
max-expire of their partition, so per-partition processing carries a
bounded look-back tail — see runner/ checkpoint notes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sagan_spark.gates.windows import (
    split_window_gates,
    stage_frame,
    track_key_col,
    track_key_sql,
    with_gate_keys,
)
from sagan_spark.rules.model import Rule


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


def _reject_mixed_bit_families(tests: list[tuple], counts: list[tuple]) -> None:
    """A rule carrying BOTH count tests and isset/isnotset tests would
    be routed through two independent gate branches here (each with its
    own ALL-pass aggregate), double-emitting rows that pass both and
    mis-emitting rows that pass only one.  No fixture or synth rule
    mixes the families ([U] upstream rules don't either); reject loudly
    in engine, oracle and streaming rather than silently diverge."""
    mixed = sorted({t[0] for t in tests} & {c[0] for c in counts})
    if mixed:
        raise ValueError(
            f"rules mixing flexbits count tests with xbits isset/isnotset "
            f"tests are not supported (sids {mixed})"
        )


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

    ONE staging barrier: the keyed alert stream is staged once when
    some rule has a window gate or a bit test.  Every branch (window-
    gated rows, pass-through rows, bit events, isset testers, count
    testers) then sources its sid subset from that snapshot instead of
    recomputing the upstream match plan.  The window computation
    re-runs only inside branches whose sids are themselves window-
    gated: when those sids and the bit-op sids are disjoint (the common
    ruleset shape, and the fixture's), the windows run exactly once;
    when they overlap, the (small) window-gated subset is staged too so
    each overlapping branch reads a scan instead of re-sorting."""
    writes, tests = bit_ops_rows(rules)
    counts = bit_count_rows(rules)
    _reject_mixed_bit_families(tests, counts)
    # probe-memo identity: the PRE-staging plan plus every spec the
    # probed stream depends on.  The staged snapshot's path changes per
    # run, but its contents derive deterministically from these.
    probe_key = _plan_key(df) if counts else None
    if probe_key is not None:
        probe_key = (
            probe_key,
            tuple(counts),
            tuple(writes),
            tuple((r.sid, r.after, r.threshold) for r in rules),
        )
    win_sids = {r.sid for r in rules if r.after or r.threshold}
    df = with_gate_keys(df, rules)
    if not (win_sids or tests or counts):
        return df
    df = stage_frame(df, "gates")
    win, rest = split_window_gates(df, rules) if win_sids else (None, df)
    if not (tests or counts):
        return rest if win is None else win.unionByName(rest)
    writer_sids = {w[0] for w in writes}
    tester_sids = {t[0] for t in tests}
    count_sids = {c[0] for c in counts}
    if win_sids & (writer_sids | tester_sids | count_sids):
        # ≥2 branches would re-run the window sort — stage the (small)
        # window-gated subset once instead
        win = stage_frame(win, "wingate")

    def source(sids, exclude: bool = False) -> DataFrame:
        sids = list(sids)
        if exclude:
            parts = [
                f.where(~F.col("sid").isin(sids))
                for f in (win, rest)
                if f is not None
            ]
        else:
            parts = []
            in_win = sorted(set(sids) & win_sids)
            in_rest = sorted(set(sids) - win_sids)
            if in_win:
                parts.append(win.where(F.col("sid").isin(in_win)))
            if in_rest:
                parts.append(rest.where(F.col("sid").isin(in_rest)))
            if not parts:
                parts = [rest.where(F.lit(False))]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    spark = df.sparkSession
    writes_df = spark.createDataFrame(
        writes, schema="sid long, name string, track string, op string, expire int"
    )
    out = source(tester_sids | count_sids, exclude=True)
    if counts:
        out = out.unionByName(
            _apply_count_tests(
                source(count_sids), source(writer_sids), counts, writes_df, spark,
                probe_key=probe_key,
            )
        )
    if tests:
        out = out.unionByName(
            _apply_isset_tests(
                source(tester_sids), source(writer_sids), tests, writes_df, spark
            )
        )
    return out


def _plan_key(df: DataFrame) -> int | None:
    """Semantic hash of the analyzed plan — the stable identity used by
    the flexcount probe memo.  None (→ no memoization) if the py4j
    surface changed."""
    try:
        return df._jdf.queryExecution().analyzed().semanticHash()
    except Exception:
        return None


# hottest-(name, key)-group row count per (upstream plan, gate specs)
# — see the auto-trigger block in _apply_count_tests
_FLEXCOUNT_PROBE_CACHE: dict[tuple, int] = {}


def clear_flexcount_probe_cache() -> None:
    """Invalidation hook for the rewrote-the-same-path case the
    semantic-hash key cannot see (twin of clear_centroid_cache)."""
    _FLEXCOUNT_PROBE_CACHE.clear()


def _apply_isset_tests(
    tester_src: DataFrame,
    event_src: DataFrame,
    tests: list[tuple],
    writes_df: DataFrame,
    spark: SparkSession,
) -> DataFrame:
    """xbits ``isset`` / ``isnotset`` testers: the passing rows of
    ``tester_src``.

    Scale-critical formulation: a naive (events × testers) join on
    (name, key) is O(E·T) **per key** and melts down on hot Zipf
    domains (measured: a 3-task straggler stage at 80k pages).
    Instead, events and testers are UNIONed into one stream per
    (name, key), sorted once by the deterministic total order
    (epoch, url, kind, writer-sid), and each tester reads the latest
    bit event via ``last(..., ignorenulls)`` over the running window —
    one shuffle + sort, linear per key, hot keys are just longer sorted
    runs (no pairwise blowup).  The DuckDB oracle keeps the join+
    row_number formulation as an independent cross-check."""
    tests_df = spark.createDataFrame(
        tests, schema="sid long, name string, track string, test_op string"
    )

    # NARROW sweep rows (r4 session 2): tester rows carry only
    # (url, sid) through the window sort, and survivors are joined back
    # to the staged tester scan with a LEFT SEMI on (url, sid) — unique
    # per alert row, uniformly distributed, so the join-back cannot
    # skew.  Rationale: the sweep's hot (name, key) group lands in ONE
    # task whose CPU is proportional to row width × group length; a
    # 4-core event-log profile showed that straggler task AT the stage
    # wall (11.7 s) while every other core idled.  Carrying the full
    # 17-column payload struct (the r3 form) made the hot sort ~3×
    # wider than it needs to be; the semi join-back is linear and
    # shuffles on unskewed keys.  (This is NOT the r3 melt revisited:
    # that was a time-range join producing O(sets×testers) rows per
    # key; this is an equi semi-join on unique keys.)
    events = bit_events(event_src, writes_df).select(
        F.col("name").alias("bname"),
        F.col("key").alias("bkey"),
        "warc_epoch",
        "url",
        F.lit(0).alias("kind"),  # events sort before same-(epoch,url) testers
        F.struct(
            F.col("warc_epoch").alias("eepoch"),
            F.col("esid"),
            F.col("op").alias("eop"),
            F.col("expire").alias("eexpire"),
        ).alias("bev"),
        F.lit(None).cast("string").alias("test_op"),
        F.lit(None).cast("long").alias("tsid"),
    )

    testers = (
        tester_src
        .join(F.broadcast(tests_df), "sid", "inner")
        .select(
            F.col("name").alias("bname"),
            track_key_col(F.col("track")).alias("bkey"),
            F.col("warc_epoch"),
            F.col("url"),
            F.lit(1).alias("kind"),
            F.lit(None)
            .cast("struct<eepoch: long, esid: long, eop: string, eexpire: int>")
            .alias("bev"),
            F.col("test_op"),
            F.col("sid").alias("tsid"),
        )
    )

    stream = events.unionByName(testers)
    w = (
        Window.partitionBy("bname", "bkey")
        .orderBy(
            "warc_epoch", "url", "kind", F.col("bev.esid").asc_nulls_last()
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    latest = stream.withColumn("lev", F.last("bev", ignorenulls=True).over(w))

    isset = (
        F.col("lev").isNotNull()
        & (F.col("lev.eop") == "set")
        & (
            F.col("lev.eexpire").isNull()
            | (F.col("warc_epoch") < F.col("lev.eepoch") + F.col("lev.eexpire"))
        )
    )
    ok = F.when(F.col("test_op") == "isset", isset).otherwise(~isset)
    # ALL-pass per alert row: a rule carrying several bit tests emits
    # its alert iff EVERY test passes (min over the per-test ok flags,
    # the same rule _apply_count_tests uses) — a bare `where(ok)` +
    # semi-join would keep the row when ANY single test passed
    # (ADVICE r4; [U] src/xbit.c chains tests conjunctively).
    passed_keys = (
        latest.where(F.col("kind") == 1)
        .groupBy("url", "tsid")
        .agg(F.min(ok.cast("int")).alias("_all_ok"))
        .where(F.col("_all_ok") == 1)
        .select("url", F.col("tsid").alias("sid"))
    )
    return tester_src.join(passed_keys, ["url", "sid"], "leftsemi")


def _apply_count_tests(
    tester_src: DataFrame,
    event_src: DataFrame,
    counts: list[tuple],
    writes_df: DataFrame,
    spark: SparkSession,
    probe_key: tuple | None = None,
) -> DataFrame:
    """flexbits ``count`` testers ([U] src/flexbit.c counter form).

    Semantics (fixture-defining, mirrored in :func:`bit_tests_sql`):
    the counter value at a tester's event time is the number of
    UNEXPIRED ``set`` events for (name, key) at-or-before it under the
    total order (warc_epoch, url); ``unset`` does not decrement.  The
    tester passes iff ``count <cmp> value`` for ALL of its count tests.

    Scale shape (r3 fix): the first cut was a LEFT equi-join on
    (name, key) with time/expiry residuals + a per-tester count.  That
    join's output is O(sets × testers) **per key** — on the fixture's
    hot Zipf domain at 320k pages it emits ~10^9 rows inside one key
    group and a 2-core bench cell ran 6 minutes per rep (correct at
    rep=4, melted at rep=64: the exact hot-key pathology the isset path
    already avoids).  Count needs the event multiset, but a COUNT over
    a multiset is a RUNNING SUM over a sorted stream: union set(+1) /
    expiry(-1) / tester(read) rows per (name, key), sort once by the
    deterministic total order, take sum(delta) over the running window.
    One shuffle + sort, linear per key — hot keys are longer sorted
    runs, never a pairwise blowup.  Ordering encodes the exact
    semantics: at equal epoch, expiries (k0=0) precede everything
    (expired iff t ≥ eepoch+expire), then sets/testers interleave by
    url with set-before-tester at equal url (counted iff eurl ≤ url).
    Sets with expire ≤ 0 can never be counted ((eepoch ≤ t) ∧
    (t < eepoch) is empty) and are dropped from both streams.

    Stage economy: tester rows ride the sweep as NARROW (url, sid)
    keys (r4 session 2 — a full-payload carry made the hot key group's
    single sort task ~3× wider than needed and that straggler task WAS
    the stage wall in a 4-core profile), a set row emits its optional
    expiry row via one explode, ALL-tests-pass aggregates min(ok) over
    the scalar (url, sid) group, and survivors LEFT-SEMI join back to
    the staged tester scan on that unique, unskewed pair.  The DuckDB
    oracle keeps the join+filter formulation as an independent
    cross-check."""
    cdf = spark.createDataFrame(
        counts, schema="sid long, name string, track string, cmp string, cval int"
    )
    # NARROW sweep rows (r4 session 2, same rationale as the isset
    # sweep): testers ride as (surl=url, tsid=sid) only; survivors semi-
    # join back to the staged tester scan on the unique, unskewed
    # (url, sid) pair.  The ALL-tests aggregation groups on those two
    # scalar keys instead of the full 17-column payload struct.
    tester_rows = tester_src.join(F.broadcast(cdf), "sid", "inner").select(
        F.col("name").alias("cname"),
        track_key_col(F.col("track")).alias("ckey"),
        F.col("warc_epoch").alias("epoch"),
        F.lit(1).alias("k0"),
        F.col("url").alias("surl"),
        F.lit(1).alias("k1"),
        F.lit(0).alias("delta"),
        "cmp",
        "cval",
        F.col("sid").alias("tsid"),
    )
    sets = (
        bit_events(event_src, writes_df)
        .where(F.col("op") == "set")
        .where(F.col("name").isin([c[1] for c in counts]))
        .where(F.col("expire").isNull() | (F.col("expire") > 0))
    )
    # one scan → (+1 at the set position) and (-1 at its expiry) rows
    ev_pair = F.array(
        F.struct(
            F.col("warc_epoch").cast("long").alias("epoch"),
            F.lit(1).alias("k0"),
            F.col("url").alias("surl"),
            F.lit(0).alias("k1"),
            F.lit(1).alias("delta"),
        ),
        F.when(
            F.col("expire").isNotNull(),
            F.struct(
                (F.col("warc_epoch") + F.col("expire")).cast("long").alias("epoch"),
                F.lit(0).alias("k0"),
                F.lit("").alias("surl"),
                F.lit(0).alias("k1"),
                F.lit(-1).alias("delta"),
            ),
        ),
    )
    event_rows = (
        sets.select(
            F.col("name").alias("cname"),
            F.col("key").alias("ckey"),
            F.explode(ev_pair).alias("e"),
        )
        .where(F.col("e").isNotNull())
        .select(
            "cname",
            "ckey",
            F.col("e.epoch").alias("epoch"),
            F.col("e.k0").alias("k0"),
            F.col("e.surl").alias("surl"),
            F.col("e.k1").alias("k1"),
            F.col("e.delta").alias("delta"),
            F.lit(None).cast("string").alias("cmp"),
            F.lit(None).cast("int").alias("cval"),
            F.lit(None).cast("long").alias("tsid"),
        )
    )
    stream = event_rows.unionByName(tester_rows)
    # hot-key trigger: one cheap stats job over the (payload-pruned)
    # stream decides whether any single (name, key) group has outgrown
    # one task's sort.  The columns scanned are tiny (the staged base is
    # parquet, payload pruned away), and at 100× one Zipf-hot domain
    # otherwise serializes the whole stage.
    #
    # The hottest-group count is MEMOIZED per ``probe_key`` (upstream-
    # plan semantic hash + count, writer and window-gate specs): the
    # probe is an eager one-row job at plan-build time, and a session
    # that rebuilds the same pipeline over the same input (bench reps,
    # repeated queries) re-paid its ~1 s of fixed latency for a
    # deterministic answer.  Same immutable-path contract as the IVF
    # centroid memo (datapipe/similarity.py) — regenerating data IN
    # PLACE at the same path must call clear_flexcount_probe_cache().
    max_group = _FLEXCOUNT_PROBE_CACHE.get(probe_key) if probe_key else None
    if max_group is None:
        stats = (
            event_rows.select("cname", "ckey", "epoch")
            .unionByName(tester_rows.select("cname", "ckey", "epoch"))
            .groupBy("cname", "ckey")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.max("n").alias("max_group"))
            .first()
        )
        max_group = stats["max_group"] or 0
        if probe_key is not None:
            _FLEXCOUNT_PROBE_CACHE[probe_key] = max_group
    withn = _running_count(stream, _pick_flexcount_plan(max_group))
    ok = (
        F.when(F.col("cmp") == "gt", F.col("_n") > F.col("cval"))
        .when(F.col("cmp") == "lt", F.col("_n") < F.col("cval"))
        .otherwise(F.col("_n") == F.col("cval"))
    )
    passed_keys = (
        withn.withColumn("_ok", ok)
        .where(F.col("k1") == 1)
        .groupBy("surl", "tsid")
        .agg(F.min(F.col("_ok").cast("int")).alias("_all_ok"))
        .where(F.col("_all_ok") == 1)
        .select(F.col("surl").alias("url"), F.col("tsid").alias("sid"))
    )
    return tester_src.join(passed_keys, ["url", "sid"], "leftsemi")


# A (name, key) group beyond this row count escalates to the epoch-
# chunked two-phase prefix sum.  r5 calibration (scripts/
# calibrate_flexcount.py: isolated single-hot-group sweep at 8 pinned
# cores, interleaved modes, warmup-dropped):
#
#   rows/group   single-window   chunked
#      2×10^5          1.0 s       2.1 s
#      1×10^6          2.7 s       2.6 s   ← tie
#      2×10^6          4.5 s       2.2 s
#      4×10^6         10.2 s       3.7 s
#      8×10^6         33.4 s       4.9 s
#     16×10^6         53.1 s       9.2 s
#
# The single-task sort degrades super-linearly past ~10^6 rows (sort
# spill) while chunked stays near-flat.  Threshold 2M rather than the
# 1M tie point: the r3 FULL-pipeline A/B at 6×10^5 rows showed single
# clearly faster in context (chunked's extra shuffle competes with
# concurrent stages), so the default biases to single where the two
# are close and escalates where chunked wins ≥2×.  (Pre-r5 value was 8M,
# extrapolated from the 6×10^5 A/B alone.)
FLEXCOUNT_CHUNK_THRESHOLD = 2_000_000
FLEXCOUNT_TARGET_CHUNKS = 64


def _pick_flexcount_plan(max_group: int) -> str:
    """Escalation trigger: 'chunked' iff the hottest (name, key) group
    exceeds the single-task sort threshold."""
    return "chunked" if max_group > FLEXCOUNT_CHUNK_THRESHOLD else "single"


def _running_count(stream: DataFrame, plan: str) -> DataFrame:
    """The count sweep: ``stream`` plus ``_n`` = running sum(delta) per
    (name, key) under the total order (epoch, k0, surl, k1).

    ``single``: one window per (name, key) group.  ``chunked``: the
    epoch-chunked two-phase prefix sum — the hot-key escalation ([U] no
    upstream analog; upstream's mmap counter is inherently single-
    threaded per key).  A single (name, key) window group lands in ONE
    task; for a Zipf-hot key at 100× that task serializes the stage.
    Phase 1 splits each group into epoch chunks (epoch is the leading
    sort key, so equal epochs never straddle a chunk) and computes the
    running sum WITHIN (name, key, chunk) — parallel across chunks of
    the same hot key.  Phase 2 turns per-chunk totals into per-chunk
    offsets with a window over the (tiny) chunk-totals frame and
    broadcast-joins them back: global running sum = local running sum
    + preceding-chunks offset.  Cost: one extra small shuffle (chunk
    totals) + a broadcast join — the A/B'd overhead that makes this the
    escalation path, not the default (see FLEXCOUNT_CHUNK_THRESHOLD)."""
    order = ("epoch", "k0", "surl", "k1")
    running = (Window.unboundedPreceding, Window.currentRow)
    if plan == "single":
        w = Window.partitionBy("cname", "ckey").orderBy(*order).rowsBetween(*running)
        return stream.withColumn("_n", F.sum("delta").over(w))
    bounds = stream.agg(
        F.min("epoch").alias("emin"), F.max("epoch").alias("emax")
    ).first()
    emin, emax = bounds["emin"], bounds["emax"]
    if emin is None:
        return stream.withColumn("_n", F.col("delta").cast("long"))
    width = max(1, (int(emax) - int(emin) + 1) // FLEXCOUNT_TARGET_CHUNKS)
    chunked = stream.withColumn(
        "_chunk", ((F.col("epoch") - F.lit(int(emin))) / F.lit(width)).cast("long")
    )
    w_local = (
        Window.partitionBy("cname", "ckey", "_chunk").orderBy(*order).rowsBetween(*running)
    )
    chunked = chunked.withColumn("_ls", F.sum("delta").over(w_local))
    totals = chunked.groupBy("cname", "ckey", "_chunk").agg(
        F.sum("delta").alias("_tot")
    )
    w_off = (
        Window.partitionBy("cname", "ckey")
        .orderBy("_chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.withColumn("_off", F.sum("_tot").over(w_off)).select(
        "cname", "ckey", "_chunk", "_off"
    )
    return (
        chunked.join(F.broadcast(offsets), ["cname", "ckey", "_chunk"], "left")
        .withColumn("_n", F.col("_ls") + F.coalesce(F.col("_off"), F.lit(0)))
        .drop("_chunk", "_ls", "_off")
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
    """DuckDB twin of the bit-test half of :func:`apply_gates`: returns the full SQL for
    the bit-gated relation (non-testers UNION passing isset/isnotset
    testers UNION passing flexbits-count testers)."""
    writes, tests = bit_ops_rows(rules)
    counts = bit_count_rows(rules)
    _reject_mixed_bit_families(tests, counts)
    if not tests and not counts:
        return f"SELECT * FROM {rel}"
    wv, tv = bit_values_sql(rules)
    all_tester_sids = ", ".join(
        str(s) for s in sorted({t[0] for t in tests} | {c[0] for c in counts})
    )
    ekey = track_key_sql("bw.track", prefix="g.")
    tkey = track_key_sql("bt.track", prefix="t.")
    cols = (
        "url, domain, warc_epoch, text, lang, source, sid, ips, port_x, port2_x, proto_x, "
        "md5_x, sha1_x, sha256_x, src_ip, dst_ip, port, dst_port, proto, hash, classtype, "
        "country_track, country_is, country_isnot, sink, rev, after_track, "
        "after_count, after_seconds, th_type, th_track, th_count, th_seconds, "
        "src_cc, dst_cc, priority, description"
    )
    count_branch = ""
    if counts:
        cvals = ", ".join(
            f"({sid}, '{name}', '{track}', '{cmp}', {val})"
            for sid, name, track, cmp, val in counts
        )
        cv = f"(VALUES {cvals}) AS bc(sid, name, track, cmp, cval)"
        ckey = track_key_sql("bc.track", prefix="t2.")
        count_branch = f"""
UNION ALL
SELECT {cols} FROM {rel} t
WHERE t.sid IN ({", ".join(str(c[0]) for c in counts)})
  AND (t.url, t.sid) IN (
    SELECT (url, sid) FROM (
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
      GROUP BY t2.url, t2.sid, bc.name, bc.cmp, bc.cval
    ) GROUP BY url, sid
    HAVING bool_and(CASE cmp WHEN 'gt' THEN n > cval
                             WHEN 'lt' THEN n < cval
                             ELSE n = cval END))
""".rstrip()
    if not tests:
        return (
            f"SELECT {cols} FROM {rel} WHERE sid NOT IN ({all_tester_sids})"
            + count_branch
        )
    # isset/isnotset branch: per-(url, sid, test-name) latest event →
    # per-test ok, then ALL-pass per (url, sid) via bool_and — one alert
    # row iff EVERY bit test on the rule passes, the engine twin of the
    # min(_all_ok) aggregate above (ADVICE r4 multi-test semantics).
    return f"""
SELECT {cols} FROM {rel} WHERE sid NOT IN ({all_tester_sids}){count_branch}
UNION ALL
SELECT {cols} FROM {rel} t3
WHERE t3.sid IN ({", ".join(str(s) for s in sorted({t[0] for t in tests}))})
  AND (t3.url, t3.sid) IN (
  SELECT (url, sid) FROM (
    SELECT url, sid,
      CASE WHEN _test_op = 'isset'
        THEN coalesce(eop = 'set' AND (eexpire IS NULL OR warc_epoch < eepoch + eexpire), FALSE)
        ELSE NOT coalesce(eop = 'set' AND (eexpire IS NULL OR warc_epoch < eepoch + eexpire), FALSE)
      END AS _ok
    FROM (
      SELECT t.url, t.sid, t.warc_epoch, ev.eop, ev.eexpire, ev.eepoch,
        row_number() OVER (PARTITION BY t.url, t.sid, bt.name
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
    ) q WHERE _rn = 1
  ) GROUP BY url, sid HAVING bool_and(_ok))
""".strip()
