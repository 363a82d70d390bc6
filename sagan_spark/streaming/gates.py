"""Stateful streaming gates (SURVEY.md §2.6 A1-A5 on the §2.7
streaming path): the window gates (after, threshold limit / suppress /
threshold) and the xbits/flexbits bit store, each ONE
``applyInPandasWithState`` operator — the streaming re-expression of
``gates/windows.py`` and ``gates/xbits.py`` ([U] upstream holds the
same per-(signature, key) counters in mmap; here group state).  Both
read ``streaming_hits``: the batch pipeline's enriched alert rows, so
they see only alerts that passed every stateless option.

Each micro-batch is sorted in the batch gates' order within a group
and treated as following every row of the carried state.  Agreement
with the batch gates is exact when micro-batches arrive in event-time
order and no (sid, key) epoch tie straddles a micro-batch boundary
(the availableNow file drain, pinned by tests/test_streaming_gates.py);
a row behind the state is not detected, and under out-of-order
arrival the batch path remains the source of truth — SURVEY.md §2.7.

Scale: state per group is bounded by the gates' own windows; groups
shard across executors by the same (sid, key) hash as the batch
exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sagan_spark.gates.windows import track_key_col
from sagan_spark.rules.model import AfterGate, Rule

OUT_SCHEMA = "url string, domain string, warc_epoch long, sid long"
# the group's carried epochs, sorted
WINDOW_STATE_SCHEMA = "epochs array<long>"


def _window_fn(specs: dict[int, list[tuple]]):
    """Every window gate of one (sid, key) group ([U] engine.c after /
    threshold counters).  ``specs[sid]`` lists the rule's gates as
    (type, count N, seconds S), type ``after`` or a threshold type; a
    row is emitted iff EVERY gate passes, each counting every row.

    In-order arrival makes state + sorted batch one sorted run ``ts``,
    so each gate is a prefix difference over it.  Rolling gates (after
    > N, suppress <= N, threshold % N == 0) count the epochs in
    [t - S, t], peers at t included — the batch ``rangeBetween(-S, 0)``
    frame.  Limit keeps a row whose position after its tumbling
    window's first epoch (window = epoch // S, (warc_epoch, url) order
    — the batch row_number) is < N.  The state keeps what a later row
    can read: the epochs >= t_last - S of each rolling gate and the
    first N epochs of the last row's limit window."""
    import numpy as np
    import pandas as pd

    def fn(key, pdf_iter, state):
        old = np.asarray(state.get[0] if state.exists else [], dtype=np.int64)
        rows = pd.concat(list(pdf_iter), ignore_index=True)
        rows = rows.sort_values(["warc_epoch", "url"], ignore_index=True)
        t = rows["warc_epoch"].to_numpy(dtype=np.int64)
        ts = np.concatenate([old, t])
        pos = np.arange(len(old), len(ts))
        upto = np.searchsorted(ts, t, "right")
        ok = np.ones(len(t), dtype=bool)
        carry = np.zeros(len(ts), dtype=bool)
        for kind, count, seconds in specs[int(key[0])]:
            if kind == "limit":
                first = np.searchsorted(ts, t // seconds * seconds, "left")
                ok &= pos - first < count
                carry[first[-1] : first[-1] + count] = True
                continue
            n = upto - np.searchsorted(ts, t - seconds, "left")
            if kind == "after":
                ok &= n > count
            else:  # suppress keeps n <= N, threshold every N-th row
                ok &= n <= count if kind == "suppress" else n % count == 0
            carry |= ts >= t[-1] - seconds
        state.update((ts[carry].tolist(),))
        yield rows[ok][["url", "domain", "warc_epoch", "sid"]]

    return fn


def window_gate_stream(hits: DataFrame, rules) -> DataFrame:
    """Streaming ``after`` and ``threshold`` (limit, suppress,
    threshold) for every rule that carries one: one operator grouped
    by (sid, gate_key), so the stream is read and matched once however
    many rules are gated.

    A rule's after and threshold gates must share one track: gates
    keyed by differing tracks would need two state groups per row, so
    they are rejected loudly (batch-only)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    specs: dict[int, list[tuple]] = {}
    tracks: dict[int, str] = {}
    for r in rules:
        gates = [g for g in (r.after, r.threshold) if g]
        if not gates:
            continue
        if len({g.track for g in gates}) > 1:
            raise NotImplementedError(
                f"streaming after/threshold with DIFFERING tracks "
                f"(sid {r.sid}, tracks {sorted(g.track for g in gates)}) are batch-only"
            )
        specs[r.sid] = [
            ("after" if g is r.after else g.ttype, g.count, g.seconds) for g in gates
        ]
        tracks[r.sid] = gates[0].track
    if not specs:
        return hits.where(F.lit(False)).select("url", "domain", "warc_epoch", "sid")
    track = F.create_map(*[F.lit(x) for kv in tracks.items() for x in kv])[F.col("sid")]
    key = track_key_col(track).alias("gate_key")
    keyed = hits.where(F.col("sid").isin(list(specs)))
    keyed = keyed.select("sid", key, "url", "domain", "warc_epoch")
    return keyed.groupBy("sid", "gate_key").applyInPandasWithState(
        _window_fn(specs),
        outputStructType=OUT_SCHEMA,
        stateStructType=WINDOW_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def after_gate_stream(
    hits: DataFrame, sid: int, track: str, count: int, seconds: int
) -> DataFrame:
    """Streaming ``after: track T, count N, seconds S`` for one rule."""
    return window_gate_stream(
        hits, [Rule(sid=sid, after=AfterGate(track=track, count=count, seconds=seconds))]
    )


# Per tester rule, one slot per bit name it reads, found by ``names``
# (after a ruleset edit a name new to the rule starts unset): ``until``
# folds the latest event into one bound (isset(t) iff t < until) and
# ``exps`` holds the sorted expiries of unexpired live sets.  A
# checkpoint of an earlier state layout cannot be resumed: the
# restarted query fails loudly in its first micro-batch, with
# STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE (or on the source count),
# never misreading the old state.  Discard it, or use a new query name
# and checkpoint location.
BIT_STATE_SCHEMA = "names array<string>, until array<long>, exps array<array<long>>"

# ``until`` of a `set` with no expire; ``-_NEVER`` is an unset (or no event)
_NEVER = 1 << 62


def _bit_fn(specs: dict[int, list[tuple]]):
    """Streaming bit store ([U] src/xbit.c latest-bit slot +
    src/flexbit.c counter form — the mmap slot becomes group state).
    One group = one (tester sid, key): its tester rows plus a copy of
    every writer row of a name the rule reads.  ``specs[sid]`` lists
    the rule's tests as (name, op, cmp, value); a tester row is emitted
    iff EVERY test passes — the streaming twin of the batch ALL-pass
    aggregate.

    Rows are taken in the batch sweep's total order (warc_epoch, url,
    kind, sid), writers (kind=0) before testers (kind=1).  Per name:
    the latest writer before a row is a running max over writer
    positions (falling back to the carried ``until``), so isset is
    ``t < until`` — the batch boundary (a `set` with expire <= 0 is
    never live).  The count at tester time t is the live sets before
    the row minus those expiring at or before t: in-order arrival puts
    every live set with expiry <= t before the tester, so one
    ``searchsorted`` over the sorted expiries is exact (an entry
    expiring exactly at t is dead; ``unset`` does not decrement —
    documented counter semantics)."""
    import numpy as np
    import pandas as pd

    compare = {"gt": np.greater, "lt": np.less, "eq": np.equal}

    def fn(key, pdf_iter, state):
        rule = specs[int(key[0])]
        names = sorted({nm for nm, *_ in rule})
        slots = {nm: (u, x) for nm, u, x in zip(*state.get)} if state.exists else {}
        rows = pd.concat(list(pdf_iter), ignore_index=True)
        rows = rows.sort_values(
            ["warc_epoch", "url", "kind", "sid"], ignore_index=True
        )
        t = rows["warc_epoch"].to_numpy(dtype=np.int64)
        ex = rows["expire"]
        exp = np.where(ex.isna(), _NEVER, t + ex.fillna(0).to_numpy(dtype=np.int64))
        is_set = (rows["op"] == "set").to_numpy()
        row_until = np.where(is_set, exp, -_NEVER)
        live = is_set & (exp > t)
        pos = np.arange(len(rows))
        isset, count, new_until, new_exps = {}, {}, [], []
        for nm in names:
            until, exps = slots.get(nm, (-_NEVER, []))
            w = (rows["ename"] == nm).to_numpy()
            last = np.maximum.accumulate(np.where(w, pos, -1))
            u = np.where(last < 0, until, row_until[last])
            old = np.asarray(exps, dtype=np.int64)
            xs = np.sort(np.concatenate([old, exp[w & live]]))
            isset[nm] = t < u
            count[nm] = np.cumsum(w & live) + len(old) - np.searchsorted(xs, t, "right")
            new_until.append(int(u[-1]))
            # entries at or before the last event time are dead for every
            # later tester (in-order arrival): the state is bounded by the
            # sets inside the longest expire window
            new_exps.append(xs[xs > t[-1]].tolist())
        state.update((names, new_until, new_exps))
        ok = (rows["kind"] == 1).to_numpy()
        for nm, op, cmp_, value in rule:
            if op == "count":
                ok &= compare[cmp_](count[nm], value)
            else:
                ok &= isset[nm] == (op == "isset")
        yield rows[ok][["url", "domain", "warc_epoch", "sid"]]

    return fn


def xbits_gate_stream(hits: DataFrame, rules) -> DataFrame:
    """Streaming xbits/flexbits set/unset/isset/isnotset/count
    (SURVEY §2.6 A4-A5 on the streaming path).

    Each tester rule gets its own state group (tester sid, key): its
    tester rows and a copy of the rows of every writer of a name the
    rule reads, for ``applyInPandasWithState`` ([U] src/xbit.c,
    src/flexbit.c counter form).  One join with a broadcast feed table
    makes the copies, so a writer row rides once per tester rule that
    reads its name and the stream is still read once.

    ALL of a rule's tests must share one track: tests keyed by
    differing tracks would need a cross-group join the state store
    doesn't have, so they are rejected loudly (batch-only).  So is a
    writer or tester rule that also carries after/threshold: the batch
    bit gates read that rule's window-gate survivors, and one query
    holds only one ``applyInPandasWithState``.  Agreement
    with the batch join-back is exact under in-order arrival
    (availableNow drain — pinned by tests/test_streaming_gates.py)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from sagan_spark.gates.xbits import bit_count_rows, bit_ops_rows
    from sagan_spark.session import local_df

    windowed = sorted(r.sid for r in rules if r.xbits and (r.after or r.threshold))
    if windowed:
        raise NotImplementedError(
            f"streaming bit rules that also carry after/threshold (sids {windowed}) "
            f"are batch-only"
        )
    writes, tests = bit_ops_rows(rules)
    tests = [(sid, track, (name, op, None, None)) for sid, name, track, op in tests] + [
        (sid, track, (name, "count", cmp_, val))
        for sid, name, track, cmp_, val in bit_count_rows(rules)
    ]
    if not tests:
        return hits.where(F.lit(False)).select("url", "domain", "warc_epoch", "sid")

    specs: dict[int, list[tuple]] = {}
    for sid, _, spec in tests:
        specs.setdefault(sid, []).append(spec)
    # (tsid, sid, track, kind, ename, op, expire): which hit sids feed
    # which tester rule's groups, and as what
    feeds = []
    for tsid, rule in sorted(specs.items()):
        tracks = {tr for sid, tr, _ in tests if sid == tsid}
        if len(tracks) > 1:
            # one tester row evaluates ALL of its rule's tests against
            # ONE state group, keyed on one track's value ([U] flexbit.c)
            raise NotImplementedError(
                f"streaming bit tests with DIFFERING tracks "
                f"(sid {tsid}, tracks {sorted(tracks)}) are batch-only"
            )
        names = {nm for nm, *_ in rule}
        feeds.append((tsid, tsid, tracks.pop(), 1, None, None, None))
        feeds += [
            (tsid, sid, track, 0, name, op, expire)
            for sid, name, track, op, expire in writes
            if name in names
        ]
    feed = local_df(
        hits.sparkSession,
        feeds,
        "tsid long, sid long, track string, kind int, ename string, op string, expire long",
    )
    key = track_key_col(F.col("track")).alias("bkey")
    # one stream-static join, so the stream is read and matched once
    keyed = hits.join(F.broadcast(feed), "sid").select(
        "tsid", key, "warc_epoch", "url", "domain", "sid", "kind", "ename", "op", "expire"
    )
    return keyed.groupBy("tsid", "bkey").applyInPandasWithState(
        _bit_fn(specs),
        outputStructType=OUT_SCHEMA,
        stateStructType=BIT_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
