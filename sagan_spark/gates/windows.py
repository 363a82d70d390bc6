"""after / threshold suppression as keyed window aggregates
(SURVEY.md §2.6 A1-A3; [U] upstream engine.c + mmap counters).

Semantics (ours, fixture-defining — upstream ships no tests):

  * ``after count N seconds S``  — fire only when the rolling count of
    events with the same (sid, key) in the last S seconds (boundary
    inclusive: an event exactly S old still counts — mmap counter
    resets only when ``now - old > S``) exceeds N.
  * ``threshold type limit``     — keep the first N events per
    (sid, key) per **tumbling** S-second window aligned to the epoch
    (deterministic, shuffle-friendly re-expression of the reference's
    first-event-anchored window; divergence documented SURVEY.md §7).
  * ``threshold type suppress``  — keep while the rolling-S count ≤ N.
  * ``threshold type threshold`` — keep every N-th event (rolling
    count % N == 0).

Scale notes: one Window pass per *distinct* S value, all partitioned by
(sid, key) — Catalyst reuses a single exchange for same-partitioning
specs, so rule count does not multiply shuffles.  The windows read
narrow rows of window-gated sids only (keys, clock, gate config; the
caller, gates/xbits.py ``apply_gates``, projects them off its one
staged snapshot and joins its decided (url, sid) keys back once), so
ungated rows never enter the exchange and no alert payload rides the
sorts.  Total order for row_number is (warc_epoch, url): (url, sid)
rows are unique, so ties are impossible.  Hot keys (Zipf domains) are
bounded per (sid, key, window) and AQE handles residual skew.
"""

from __future__ import annotations

import atexit
import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sagan_spark.rules.model import Rule
from sagan_spark.session import local_df

# Every staged snapshot written by this process lives under one
# per-process dir, removed at interpreter exit (and removable earlier
# via cleanup_staged()) — without this, tmpfs fills with dead snapshots
# across a bench / the 4-way-parallel unit runner / a long session.
_STAGE_SESSION_DIR: str | None = None


def _stage_base() -> str:
    global _STAGE_SESSION_DIR
    if _STAGE_SESSION_DIR is None:
        # staging defaults to tmpfs when present: the barrier write is
        # bandwidth-bound, and a single virtio disk serializes 32
        # writer tasks (measured: identical stage wall at 8 and 32
        # cores on /tmp; scales on /dev/shm).  The cluster analog is
        # fast staging storage (local NVMe / object store), not one
        # spindle.
        default_base = (
            "/dev/shm/sagan_stage" if os.path.isdir("/dev/shm") else "/tmp/sagan_stage"
        )
        base = os.environ.get("SPARK_GRAFT_STAGE_DIR", default_base)
        _STAGE_SESSION_DIR = os.path.join(base, f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    return _STAGE_SESSION_DIR


def cleanup_staged() -> None:
    """Delete every staged snapshot this process has written.  Safe to
    call repeatedly; also registered atexit (once, at module import).

    WARNING: staged snapshots back the DataFrames that stage_frame()
    previously returned *lazily* — any outstanding frame from an earlier
    stage_frame() call becomes invalid (actions on it raise
    FileNotFound) after this runs.  Call it only between independent
    jobs, when no staged frame is still live."""
    global _STAGE_SESSION_DIR
    if _STAGE_SESSION_DIR is not None:
        shutil.rmtree(_STAGE_SESSION_DIR, ignore_errors=True)
        _STAGE_SESSION_DIR = None


# one registration for the whole process: cleanup_staged() reads the
# CURRENT session dir at exit time, so re-registering per recreated base
# (the pre-r4 behavior) only stacked redundant hooks
atexit.register(cleanup_staged)


def stage_frame(df: DataFrame) -> DataFrame:
    """Materialize a frame once as a staged parquet snapshot and return a
    scan over it (the cluster-scale shape: an Iceberg staging table).
    One parallel write, then plain splittable scans for every downstream
    branch.  (An in-memory ``persist()`` barrier lost this A/B at 320k
    pages/local[32]: branch stages raced on block-manager cache locks,
    and the cached blocks promoted to old gen, driving 30s+ ParallelGC
    full collections on later runs.)
    """
    path = os.path.join(_stage_base(), f"stage-{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def track_key_col(track: str | Column) -> Column:
    """Gate key for ``track``: a literal track name (the key column
    itself), or a Column holding each row's track (a CASE over the same
    map — the batch gates read tracks from the joined gate config)."""
    keys = {
        "by_src": F.col("src_ip"),
        "by_dst": F.col("dst_ip"),
        "by_username": F.col("source"),
        "ip_pair": F.concat_ws(">", "src_ip", "dst_ip"),
    }
    default = F.col("domain")  # by_domain / by_string
    if isinstance(track, str):
        return keys.get(track, default)
    key = F
    for name, col in keys.items():
        key = key.when(track == name, col)
    return key.otherwise(default)


def track_key_sql(track_expr: str, prefix: str = "") -> str:
    p = prefix
    return (
        f"CASE {track_expr} WHEN 'by_src' THEN {p}src_ip WHEN 'by_dst' THEN {p}dst_ip "
        f"WHEN 'by_username' THEN {p}source "
        f"WHEN 'ip_pair' THEN concat({p}src_ip, '>', {p}dst_ip) "
        f"ELSE {p}domain END"
    )


def _cfg_row(r: Rule) -> tuple:
    """(sid, after_track, after_count, after_seconds, th_type, th_track,
    th_count, th_seconds) — one gate-config row, shared by the engine's
    broadcast dim and the DuckDB twin's VALUES list."""
    a, t = r.after, r.threshold
    return (
        r.sid,
        a.track if a else None,
        a.count if a else None,
        a.seconds if a else None,
        t.ttype if t else None,
        t.track if t else None,
        t.count if t else None,
        t.seconds if t else None,
    )


def with_gate_keys(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """Join each alert row to its rule's gate config (built from
    ``rules``) and add the ``after_key`` / ``th_key`` track columns.

    Exchange sharing: when no rule carries BOTH an after and a
    threshold gate with *different* track keys (the overwhelmingly
    common case), both keys are the single (sid, gate_key) pair —
    rolling frames share one exchange + sort, and the tumbling `limit`
    window's (sid, gate_key, win_id) clustering is subset-satisfied by
    the same exchange (re-sort only, no second shuffle)."""
    cfg = local_df(
        df.sparkSession,
        [_cfg_row(r) for r in rules],
        "sid long, after_track string, after_count int, after_seconds int, "
        "th_type string, th_track string, th_count int, th_seconds int",
    )
    df = df.join(F.broadcast(cfg), "sid", "left")
    unified = all(
        not (r.after and r.threshold) or r.after.track == r.threshold.track
        for r in rules
    )
    if unified:
        df = df.withColumn("_gt", F.coalesce("after_track", "th_track"))
        df = df.withColumn("after_key", track_key_col(F.col("_gt")))
        return df.withColumn("th_key", F.col("after_key")).drop("_gt")
    df = df.withColumn("after_key", track_key_col(F.col("after_track")))
    return df.withColumn("th_key", track_key_col(F.col("th_track")))


def window_survivors(narrow: DataFrame, rules: list[Rule]) -> DataFrame:
    """The rows of ``narrow`` that survive their rule's after/threshold
    gates.  ``narrow`` = window-gated rows of the staged
    :func:`with_gate_keys` stream, projected to their keys, clock and
    gate config (gates/xbits.py ``apply_gates`` owns the barrier, the
    projection and the one join-back).  One Window spec per distinct S,
    shared (sid, key) partitioning; the hot Zipf (sid, domain) groups
    sort in ONE task whose CPU is width × rows, so the rows stay narrow.
    """
    after_secs = sorted({r.after.seconds for r in rules if r.after})
    keep = F.lit(True)
    for s in after_secs:
        w = (
            Window.partitionBy("sid", "after_key")
            .orderBy("warc_epoch")
            .rangeBetween(-s, 0)
        )
        cnt = F.count(F.lit(1)).over(w)
        keep = keep & F.when(
            (F.col("after_seconds") == s), cnt > F.col("after_count")
        ).otherwise(F.lit(True))

    roll_secs = sorted(
        {
            r.threshold.seconds
            for r in rules
            if r.threshold and r.threshold.ttype in ("suppress", "threshold")
        }
    )
    for s in roll_secs:
        w = (
            Window.partitionBy("sid", "th_key").orderBy("warc_epoch").rangeBetween(-s, 0)
        )
        cnt = F.count(F.lit(1)).over(w)
        keep = keep & (
            F.when(
                (F.col("th_seconds") == s) & (F.col("th_type") == "suppress"),
                cnt <= F.col("th_count"),
            )
            .when(
                (F.col("th_seconds") == s) & (F.col("th_type") == "threshold"),
                cnt % F.col("th_count") == 0,
            )
            .otherwise(F.lit(True))
        )

    limit_secs = sorted(
        {r.threshold.seconds for r in rules if r.threshold and r.threshold.ttype == "limit"}
    )
    for s in limit_secs:
        win_id = F.floor(F.col("warc_epoch") / s)
        w = Window.partitionBy("sid", "th_key", win_id).orderBy("warc_epoch", "url")
        rn = F.row_number().over(w)
        keep = keep & F.when(
            (F.col("th_seconds") == s) & (F.col("th_type") == "limit"),
            rn <= F.col("th_count"),
        ).otherwise(F.lit(True))

    # window functions can't live in a WHERE clause — project then filter
    return narrow.withColumn("_keep", keep).where(F.col("_keep")).drop("_keep")


def window_gates_sql(rules: list[Rule], rel: str = "enriched") -> str:
    """DuckDB twin: same window computations over the enriched CTE.
    Emits ``SELECT * ... QUALIFY <keep>`` text."""
    after_secs = sorted({r.after.seconds for r in rules if r.after})
    roll_secs = sorted(
        {
            r.threshold.seconds
            for r in rules
            if r.threshold and r.threshold.ttype in ("suppress", "threshold")
        }
    )
    limit_secs = sorted(
        {r.threshold.seconds for r in rules if r.threshold and r.threshold.ttype == "limit"}
    )

    ak = track_key_sql("after_track")
    tk = track_key_sql("th_track")
    conds = []
    for s in after_secs:
        cnt = (
            f"count(*) OVER (PARTITION BY sid, {ak} ORDER BY warc_epoch "
            f"RANGE BETWEEN {s} PRECEDING AND CURRENT ROW)"
        )
        conds.append(
            f"(after_seconds IS DISTINCT FROM {s} OR {cnt} > after_count)"
        )
    for s in roll_secs:
        cnt = (
            f"count(*) OVER (PARTITION BY sid, {tk} ORDER BY warc_epoch "
            f"RANGE BETWEEN {s} PRECEDING AND CURRENT ROW)"
        )
        conds.append(
            f"(th_seconds IS DISTINCT FROM {s} OR th_type <> 'suppress' OR {cnt} <= th_count)"
        )
        conds.append(
            f"(th_seconds IS DISTINCT FROM {s} OR th_type <> 'threshold' OR {cnt} % th_count = 0)"
        )
    for s in limit_secs:
        rn = (
            f"row_number() OVER (PARTITION BY sid, {tk}, (warc_epoch // {s}) "
            f"ORDER BY warc_epoch, url)"
        )
        conds.append(
            f"(th_seconds IS DISTINCT FROM {s} OR th_type <> 'limit' OR {rn} <= th_count)"
        )

    qualify = " AND ".join(conds) if conds else "TRUE"
    return f"SELECT * FROM {rel} QUALIFY {qualify}"


def gates_cfg_values_sql(rules: list[Rule]) -> str:
    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, int):
            return str(v)
        return f"'{v}'"

    rows = ", ".join(
        "(" + ", ".join(lit(v) for v in _cfg_row(r)) + ")" for r in rules
    )
    return (
        f"(VALUES {rows}) AS gcfg(sid, after_track, after_count, after_seconds, "
        "th_type, th_track, th_count, th_seconds)"
    )
