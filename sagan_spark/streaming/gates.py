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


# The r5 (lat, exps) state cannot read a checkpoint written with the
# pre-r5 bit-state schema.  Discard such checkpoints, or start the query
# under a new name, before running this version.
BIT_STATE_SCHEMA = "lat array<string>, exps array<string>"

# sentinel expiry for `set` events with no expire: effectively never
_NEVER = 1 << 62

# field separator inside state/spec strings — cannot appear in bit names
_SEP = "\x1f"


def _bit_fn():
    """Per-group streaming bit store ([U] src/xbit.c latest-bit slot +
    src/flexbit.c counter form — the mmap slot becomes group state).
    One group = one (bit name, key) pair, or one (multi-test rule, key)
    composite (r5 — multi-name rules previously raised).  State carries
    BOTH views of the event history PER BIT NAME:

      * ``lat`` — the LATEST bit event per name
        ("name␟eepoch␟eop␟eexpire"), for isset/isnotset testers
        (set + strictly-inside expiry — same boundary as
        gates/xbits.py);
      * ``exps`` — the expiry min-multiset of UNEXPIRED ``set`` events
        per name ("name␟expiry"), for ``count`` testers: counter value
        at tester time t = number of entries > t (an entry expiring
        exactly at t is dead, matching the batch sweep's expiry-before-
        tester ordering; ``unset`` does not decrement — documented
        counter semantics).

    Tester rows carry ALL of their rule's test specs in ``cmps``
    ("name␟isset|name␟count␟gt␟2"); the row is emitted iff EVERY spec
    passes — the streaming twin of the batch min(ok) ALL-pass
    aggregate.  Rows are processed in the batch sweep's total order
    (warc_epoch, url, kind, sid): writer rows (kind=0) update the state,
    tester rows (kind=1) evaluate against it."""
    import pandas as pd

    def fn(key, pdf_iter, state):
        lat: dict[str, tuple[int, str, int | None]] = {}
        exps: dict[str, list[int]] = {}
        if state.exists:
            lat_raw, exp_raw = state.get
            for s in lat_raw or []:
                nm, ep, op, ex = s.split(_SEP)
                lat[nm] = (int(ep), op, None if ex == "-" else int(ex))
            for s in exp_raw or []:
                nm, x = s.split(_SEP)
                exps.setdefault(nm, []).append(int(x))
        rows = pd.concat(list(pdf_iter), ignore_index=True)
        rows = rows.sort_values(
            ["warc_epoch", "url", "kind", "sid"], ignore_index=True
        )
        keep = []
        for r in rows.itertuples():
            t = int(r.warc_epoch)
            if r.kind == 0:
                nm = r.ename
                ex = None if pd.isna(r.expire) else int(r.expire)
                lat[nm] = (t, r.op, ex)
                keep.append(False)
                if r.op == "set":
                    # expire <= 0 can never be counted (dead on arrival)
                    if ex is None:
                        exps.setdefault(nm, []).append(_NEVER)
                    elif ex > 0:
                        exps.setdefault(nm, []).append(t + ex)
            else:
                ok = True
                for spec in str(r.cmps).split("|"):
                    parts = spec.split(_SEP)
                    nm, op = parts[0], parts[1]
                    if op == "count":
                        cur = [x for x in exps.get(nm, []) if x > t]
                        exps[nm] = cur
                        n = len(cur)
                        cmp_, v = parts[2], int(parts[3])
                        ok = ok and (
                            n > v if cmp_ == "gt" else n < v if cmp_ == "lt" else n == v
                        )
                    else:
                        le = lat.get(nm)
                        isset = (
                            le is not None
                            and le[1] == "set"
                            and (le[2] is None or t < le[0] + le[2])
                        )
                        ok = ok and (isset if op == "isset" else not isset)
                keep.append(ok)
        # entries at-or-before the last processed event time are dead for
        # every future tester (in-order arrival contract) — pruning here
        # bounds the state by the sets inside the max expire window
        t_last = int(rows["warc_epoch"].iloc[-1])
        state.update(
            (
                sorted(
                    f"{nm}{_SEP}{ep}{_SEP}{op}{_SEP}{'-' if ex is None else ex}"
                    for nm, (ep, op, ex) in lat.items()
                ),
                sorted(
                    f"{nm}{_SEP}{x}"
                    for nm, xs in exps.items()
                    for x in xs
                    if x > t_last
                ),
            )
        )
        out = rows[pd.Series(keep)]
        yield out[["url", "domain", "warc_epoch", "sid"]]

    return fn


def xbits_gate_stream(hits: DataFrame, rules) -> DataFrame:
    """Streaming xbits/flexbits set/unset/isset/isnotset/count
    (SURVEY §2.6 A4-A5 on the streaming path; r5 closes the last gap —
    multi-NAME test rules previously raised NotImplementedError).

    Writer- and tester-rule rows are unioned into one keyed stream;
    ``applyInPandasWithState`` holds the latest bit event AND the
    unexpired-set expiry multiset per bit name ([U] src/xbit.c,
    src/flexbit.c counter form).  Grouping:

      * a rule whose bit tests all read ONE name groups by that
        (name, key) — writers feed the group once;
      * a rule whose tests span SEVERAL names gets a COMPOSITE group
        ("\\x00multi:<sid>", key): its tester rows AND a duplicate of
        every relevant writer's rows ride that group, whose state holds
        per-name slots.

    Either way ALL of a rule's tests must share one track: tests keyed
    by differing tracks would need a cross-group join the state store
    doesn't have, so they are rejected loudly (batch-only).

    A tester row carries ALL of its rule's test specs in ``cmps`` and
    is emitted iff EVERY spec passes, count and isset/isnotset specs
    alike — the streaming twin of the batch ALL-pass aggregate
    (gates/xbits.py).  Agreement with the batch join-back is exact
    under in-order arrival (availableNow drain — pinned by
    tests/test_streaming_gates.py)."""
    from functools import reduce

    from sagan_spark.gates.xbits import bit_count_rows, bit_ops_rows

    writes, tests = bit_ops_rows(rules)
    counts = bit_count_rows(rules)
    if not tests and not counts:
        return hits.where(F.lit(False)).select(
            "url", "domain", "warc_epoch", "sid"
        )

    # per-sid test specs: (name, track, spec-string)
    per_sid: dict[int, list[tuple[str, str, str]]] = {}
    for sid, name, track, op in tests:
        per_sid.setdefault(sid, []).append((name, track, f"{name}{_SEP}{op}"))
    for sid, name, track, cmp_, val in counts:
        per_sid.setdefault(sid, []).append(
            (name, track, f"{name}{_SEP}count{_SEP}{cmp_}{_SEP}{val}")
        )

    def writer_branch(group: str, sid: int, name: str, track: str, op: str, expire):
        return hits.where(F.col("sid") == sid).select(
            F.lit(group).alias("bname"),
            track_key_col(track).alias("bkey"),
            "warc_epoch",
            "url",
            "domain",
            "sid",
            F.lit(0).alias("kind"),
            F.lit(name).alias("ename"),
            F.lit(op).alias("op"),
            F.lit(expire).cast("long").alias("expire"),
            F.lit(None).cast("string").alias("cmps"),
        )

    def tester_branch(group: str, sid: int, track: str, specs: list[str]):
        return hits.where(F.col("sid") == sid).select(
            F.lit(group).alias("bname"),
            track_key_col(track).alias("bkey"),
            "warc_epoch",
            "url",
            "domain",
            "sid",
            F.lit(1).alias("kind"),
            F.lit(None).cast("string").alias("ename"),
            F.lit(None).cast("string").alias("op"),
            F.lit(None).cast("long").alias("expire"),
            F.lit("|".join(specs)).alias("cmps"),
        )

    branches = []
    single_names: set[str] = set()  # names needing plain (name, key) groups
    composite_names: dict[str, set[str]] = {}  # group id → names it reads
    for sid, entries in sorted(per_sid.items()):
        names = {nm for nm, _, _ in entries}
        tracks = {tr for _, tr, _ in entries}
        specs = [sp for _, _, sp in entries]
        if len(tracks) > 1:
            # one tester row evaluates ALL of its rule's tests against
            # ONE state group, keyed on one track's value; tests keyed
            # by different tracks would need a cross-group join the
            # streaming store doesn't have ([U] flexbit.c)
            raise NotImplementedError(
                f"streaming bit tests with DIFFERING tracks "
                f"(sid {sid}, tracks {sorted(tracks)}) are batch-only"
            )
        track = next(iter(tracks))
        if len(names) == 1:
            # several specs on one name (e.g. count gt + lt) fold into
            # one cmps string: ALL must pass
            nm = next(iter(names))
            single_names.add(nm)
            branches.append(tester_branch(nm, sid, track, specs))
        else:
            group = f"\x00multi:{sid}"
            composite_names[group] = names
            branches.append(tester_branch(group, sid, track, specs))

    for sid, name, track, op, expire in writes:
        if name in single_names:
            branches.append(writer_branch(name, sid, name, track, op, expire))
        for group, names in composite_names.items():
            if name in names:
                branches.append(writer_branch(group, sid, name, track, op, expire))

    stream = reduce(lambda a, b: a.unionByName(b), branches)
    from pyspark.sql.streaming.state import GroupStateTimeout

    return stream.groupBy("bname", "bkey").applyInPandasWithState(
        _bit_fn(),
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
