"""spark-submit entrypoint: partitioned, resumable pipeline runs with
per-partition lineage + metrics manifests (SURVEY.md §4 O5; north-rule
checkpoint requirement; [U] analog: Sagan's mmap state survives
restarts — ours is replayable event-time batch instead).

Partition unit = event-time bucket of ``--partition-hours`` (the
Iceberg-layout analog: at 10^12 docs the pages table is partitioned by
days/hours(warc_ts); each unit is processed independently and its sink
output + manifest committed atomically-enough for resume).

**Exactness under partitioning**: the stateful gates look back at most
``LOOKBACK = max(after.seconds, threshold.seconds, xbits.expire)``
(7200 s for the fixture ruleset).  Each unit therefore scans
``[t0 - LOOKBACK, t1)`` and keeps only outputs in ``[t0, t1)`` — this
reproduces the global run *bit-for-bit* (tests/test_runner.py) because:
  * rolling window counts only reference events within S ≤ LOOKBACK;
  * tumbling `limit` windows of span S start within LOOKBACK of any
    event they contain;
  * a bit event older than LOOKBACK ≥ expire implies the bit is
    expired (isset = false) regardless of its op.
A ruleset with a no-expiry xbit would make LOOKBACK unbounded — the
runner detects that and falls back to a single global partition.

A unit runs one write (:func:`sagan_spark.pipeline.write_routed`),
which returns the per-sink counts from the written files' footers.
``input_rows`` (pages in ``[t0, t1)``) is an ``Observation`` on the
unit's pages, filled by the first job that reads them: the gate
staging write for the fixture ruleset, else the sink write.

Resume: a unit whose manifest exists (and matches the run's lineage
fingerprint) is skipped.  Manifests record input/routed row counts,
per-sink counts, wall time, and the lineage (input path, ruleset
sha256, code rev) — the run is auditable and re-entrant via
``spark-submit --py-files sagan_spark.zip sagan_spark/runner/job.py``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import subprocess
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from sagan_spark.pages import BASE_EPOCH, SPAN_S
from sagan_spark.pipeline import Pipeline, write_routed
from sagan_spark.rules.fixture_rules import RULESET, fixture_rules
from sagan_spark.rules.model import Rule

# units in flight at once: Spark's scheduler runs their jobs side by side
MAX_PARALLEL_UNITS = 4


def lookback_seconds(rules: list[Rule]) -> int | None:
    """Max stateful look-back; None = unbounded (no-expiry xbit).

    Bit events older than ``expire`` are dead (expired set, or an unset
    masking an even older set) — so only events within ``expire`` of a
    tester matter, and *their* window gates need a further ``S`` of
    context from the writer rule's own after/threshold windows:
    ``LOOKBACK = max(all window S, max(expire + writer's window S))``."""
    win = {
        r.sid: max(
            r.after.seconds if r.after else 0,
            r.threshold.seconds if r.threshold else 0,
        )
        for r in rules
    }
    lb = max(win.values(), default=0)
    for r in rules:
        for x in r.bit_writes():
            if x.op == "set" and x.expire is None:
                return None  # a never-expiring set needs unbounded history
            # unset events carry no expire; they only mask older sets,
            # and a masked set older than the unset is what bounds us
            lb = max(lb, (x.expire or 0) + win[r.sid])
    return lb


def _code_rev() -> str:
    """Short git revision of the checkout this package was loaded from
    (``unknown`` outside a git checkout or without git)."""
    try:
        proc = subprocess.run(
            ["git", "-C", os.path.dirname(os.path.abspath(__file__)),
             "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, check=True,
        )
    except (OSError, subprocess.CalledProcessError):
        return "unknown"
    return proc.stdout.strip() or "unknown"


def lineage_fingerprint(input_path: str, rep: int, ruleset_text: str | None = None) -> str:
    """Run identity = (input, rep, ruleset sha, code rev).  This is the
    batch re-expression of R2 ``dynamic_load`` ([U] rules.c reload on
    SIGHUP): editing the ruleset changes the fingerprint, so every
    unit's manifest mismatches and the next run recomputes everything
    under the new rules — reload-on-restart with exact provenance,
    instead of reload-in-place."""
    rs = RULESET if ruleset_text is None else ruleset_text
    h = hashlib.sha256(
        f"{input_path}|{rep}|{hashlib.sha256(rs.encode()).hexdigest()}".encode()
    ).hexdigest()[:16]
    return f"{h}@{_code_rev()}"


def run_partitioned(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    partition_hours: int = 6,
    lineage: str = "",
) -> dict:
    """Process event-time units with manifest-based resume.  Returns
    run summary (units run/skipped, totals).  Units run in a small
    thread pool, so Spark stays busy while one unit builds its plan or
    reads and writes files; results merge in bounds order."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    rules = list(fixture_rules())
    pipe = Pipeline(spark, rules)
    lb = lookback_seconds(rules)

    manifest_dir = os.path.join(out_dir, "_manifests")
    os.makedirs(manifest_dir, exist_ok=True)

    if lb is None:
        bounds = [(BASE_EPOCH, BASE_EPOCH + SPAN_S)]
    else:
        step = partition_hours * 3600
        bounds = [
            (t0, min(t0 + step, BASE_EPOCH + SPAN_S))
            for t0 in range(BASE_EPOCH, BASE_EPOCH + SPAN_S, step)
        ]

    def process(t0: int, t1: int) -> dict:
        part_id = f"{t0}_{t1}"
        mpath = os.path.join(manifest_dir, f"part-{part_id}.json")
        if os.path.exists(mpath):
            with open(mpath) as f:
                m = json.load(f)
            if m.get("lineage") == lineage:
                return {"skipped": True, **m["metrics"]}

        t_start = time.time()
        # partition pruning: at scale this filter prunes Iceberg
        # partitions; on parquet it becomes a pushed-down row filter
        seen = Observation()
        unit_pages = pages.where(
            (F.col("warc_epoch") >= t0 - (lb or 0)) & (F.col("warc_epoch") < t1)
        ).observe(seen, F.count_if(F.col("warc_epoch") >= t0).alias("input_rows"))
        routed = pipe.routed(unit_pages).where(
            (F.col("warc_epoch") >= t0) & (F.col("warc_epoch") < t1)
        )
        sink_counts = write_routed(routed, os.path.join(out_dir, f"part={part_id}"))

        metrics = {
            "input_rows": seen.get["input_rows"],
            "routed_rows": sum(sink_counts.values()),
            "sink_counts": sink_counts,
            "wall_s": round(time.time() - t_start, 3),
        }
        manifest = {
            "partition": {"t0": t0, "t1": t1, "lookback_s": lb},
            "lineage": lineage,
            "metrics": metrics,
        }
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, mpath)  # manifest last + atomic rename = commit point
        return {"skipped": False, **metrics}

    # a pool thread does not inherit the caller's job group or other
    # local properties; wrapping captures them here, on the caller's
    # thread, once per unit so concurrent units never share one copy
    with ThreadPoolExecutor(max_workers=min(MAX_PARALLEL_UNITS, len(bounds))) as ex:
        futures = [ex.submit(inheritable_thread_target(spark)(process), *b) for b in bounds]
        results = [f.result() for f in futures]

    summary = {"units": len(bounds), "run": 0, "skipped": 0, "routed_rows": 0, "input_rows": 0}
    totals: dict[str, int] = {}
    for res in results:
        summary["skipped" if res["skipped"] else "run"] += 1
        summary["routed_rows"] += res["routed_rows"]
        summary["input_rows"] += res["input_rows"]
        for k, v in res["sink_counts"].items():
            totals[k] = totals.get(k, 0) + v
    summary["sink_counts"] = totals
    return summary


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default="/root/testdata/sf0.1")
    ap.add_argument("--output", required=True)
    ap.add_argument("--rep", type=int, default=8)
    ap.add_argument("--partition-hours", type=int, default=6)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from sagan_spark.pages import pages_table
    from sagan_spark.session import build_session

    spark = build_session("sagan_spark_job", master=args.master)
    pages = pages_table(spark, args.input, rep=args.rep)
    lineage = lineage_fingerprint(args.input, args.rep)
    t0 = time.time()
    summary = run_partitioned(
        spark, pages, args.output, args.partition_hours, lineage
    )
    summary["wall_s"] = round(time.time() - t0, 3)
    summary["events_per_sec"] = round(summary["input_rows"] / max(summary["wall_s"], 1e-9), 1)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
