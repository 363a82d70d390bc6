"""Stateful streaming gates (SURVEY.md §2.6 A1/A3 on the §2.7
streaming path): ``after`` and ``threshold suppress`` as
``applyInPandasWithState`` over (sid, gate_key) groups — the streaming
re-expression of the batch keyed-window aggregates in
``gates/windows.py`` ([U] upstream holds the same per-key counters in
mmap; here the rolling-event buffer is Spark-managed state).

State = the rolling list of event epochs within the last S seconds for
the group; each micro-batch's rows are processed in (warc_epoch, url)
order within the group.  Agreement with the batch gates is exact when
micro-batches arrive in event-time order (the availableNow file-drain
case, pinned by tests/test_streaming_gates.py); under out-of-order
arrival the watermarked batch path remains the source of truth —
SURVEY.md §2.7 note.

Scale: state per (sid, key) is O(events in S window) — bounded by the
gate's own window; groups shard across executors by the same
(sid, key) hash as the batch exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sagan_spark.gates.windows import track_key_col

OUT_SCHEMA = "url string, domain string, warc_epoch long, sid long"
STATE_SCHEMA = "epochs array<long>"


def _rolling_fn(count: int, seconds: int, mode: str):
    """mode='after': emit once rolling count > N (boundary-inclusive,
    same as batch rangeBetween(-S, 0)); mode='suppress': emit while
    rolling count <= N.  In-order arrival makes state + sorted batch
    one sorted run ``ts``, so a row's count is a prefix difference:
    one binary search per row, no per-row buffer rebuild."""
    import numpy as np
    import pandas as pd

    def fn(key, pdf_iter, state):
        old = np.asarray(state.get[0] if state.exists else [], dtype=np.int64)
        rows = pd.concat(list(pdf_iter), ignore_index=True)
        rows = rows.sort_values(["warc_epoch", "url"], ignore_index=True)
        t = rows["warc_epoch"].to_numpy(dtype=np.int64)
        ts = np.concatenate([old, t])
        pos = np.arange(len(old), len(ts))
        n = pos + 1 - np.searchsorted(ts, t - seconds, "left")
        state.update(([int(x) for x in ts[ts >= t[-1] - seconds]],))
        out = rows[n > count if mode == "after" else n <= count]
        yield out[["url", "domain", "warc_epoch", "sid"]]

    return fn


def _apply(
    hits: DataFrame, sid: int, track: str, fn, state_schema: str = STATE_SCHEMA
) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    keyed = hits.where(F.col("sid") == sid)
    keyed = keyed.withColumn("gate_key", track_key_col(track))
    return keyed.groupBy("sid", "gate_key").applyInPandasWithState(
        fn,
        outputStructType=OUT_SCHEMA,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# Per tester rule, one slot per bit name it reads (sorted name order):
# ``until`` folds the latest event into one bound (isset(t) iff
# t < until) and ``exps`` holds the sorted expiries of unexpired live
# sets.  A checkpoint written by the earlier version (string state
# keyed by (bit name, key), one stream source per unioned rule branch)
# cannot be resumed: on pyspark 4.1.2 the restarted query fails in its
# first micro-batch, on the source count ("There are [4] sources in
# the checkpoint offsets and now there are [1]") or, for a one-branch
# query, with STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE; it never misreads
# the old state.  Discard such a checkpoint, or give the query a new
# name and checkpoint location.
BIT_STATE_SCHEMA = "until array<long>, exps array<array<long>>"

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
        if state.exists:
            until, exps = state.get
        else:
            until, exps = [-_NEVER] * len(names), [[]] * len(names)
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
        for i, nm in enumerate(names):
            w = (rows["ename"] == nm).to_numpy()
            last = np.maximum.accumulate(np.where(w, pos, -1))
            u = np.where(last < 0, until[i], row_until[last])
            old = np.asarray(exps[i], dtype=np.int64)
            xs = np.sort(np.concatenate([old, exp[w & live]]))
            isset[nm] = t < u
            count[nm] = np.cumsum(w & live) + len(old) - np.searchsorted(xs, t, "right")
            new_until.append(int(u[-1]))
            # entries at or before the last event time are dead for every
            # later tester (in-order arrival): the state is bounded by the
            # sets inside the longest expire window
            new_exps.append(xs[xs > t[-1]].tolist())
        state.update((new_until, new_exps))
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
    doesn't have, so they are rejected loudly (batch-only).  Agreement
    with the batch join-back is exact under in-order arrival
    (availableNow drain — pinned by tests/test_streaming_gates.py)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from sagan_spark.gates.xbits import bit_count_rows, bit_ops_rows
    from sagan_spark.session import local_df

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
    # the key over only the tracks in use: a stream may lack the
    # columns of the others
    bkey = F.lit(None).cast("string")
    for tr in sorted({f[2] for f in feeds}):
        bkey = F.when(F.col("track") == tr, track_key_col(tr)).otherwise(bkey)
    # one stream-static join, so the stream is read and matched once
    keyed = hits.join(F.broadcast(feed), "sid").select(
        "tsid",
        bkey.alias("bkey"),
        "warc_epoch",
        "url",
        "domain",
        "sid",
        "kind",
        "ename",
        "op",
        "expire",
    )
    return keyed.groupBy("tsid", "bkey").applyInPandasWithState(
        _bit_fn(specs),
        outputStructType=OUT_SCHEMA,
        stateStructType=BIT_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def after_gate_stream(
    hits: DataFrame, sid: int, track: str, count: int, seconds: int
) -> DataFrame:
    """Streaming ``after: track T, count N, seconds S`` for one rule."""
    return _apply(hits, sid, track, _rolling_fn(count, seconds, "after"))


def suppress_gate_stream(
    hits: DataFrame, sid: int, track: str, count: int, seconds: int
) -> DataFrame:
    """Streaming ``threshold: type suppress`` for one rule."""
    return _apply(hits, sid, track, _rolling_fn(count, seconds, "suppress"))


LIMIT_STATE_SCHEMA = "win long, n long"


def _limit_fn(count: int, seconds: int):
    """``threshold: type limit``: keep the first N per (sid, key) per
    tumbling S-second window aligned to the epoch (win = epoch // S —
    identical anchoring and (warc_epoch, url) order as the batch
    row_number in gates/windows.py).  State is O(1): (window id,
    emitted count).  A row's rank in its window is its position minus
    the window's first position in the sorted batch, plus the carried
    count when the window continues the state's."""
    import numpy as np
    import pandas as pd

    def fn(key, pdf_iter, state):
        win, n = state.get if state.exists else (-1, 0)
        rows = pd.concat(list(pdf_iter), ignore_index=True)
        rows = rows.sort_values(["warc_epoch", "url"], ignore_index=True)
        w = rows["warc_epoch"].to_numpy(dtype=np.int64) // seconds
        carried = np.where(w == win, n, 0)
        k = np.arange(len(w)) - np.searchsorted(w, w, "left") + carried
        in_last = len(w) - np.searchsorted(w, w[-1], "left")
        state.update((int(w[-1]), min(count, int(carried[-1]) + in_last)))
        yield rows[k < count][["url", "domain", "warc_epoch", "sid"]]

    return fn


def limit_gate_stream(
    hits: DataFrame, sid: int, track: str, count: int, seconds: int
) -> DataFrame:
    """Streaming ``threshold: type limit`` for one rule (A2 on the
    streaming path — completes the window-gate trio there)."""
    return _apply(
        hits, sid, track, _limit_fn(count, seconds), state_schema=LIMIT_STATE_SCHEMA
    )
