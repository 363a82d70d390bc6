"""Calibrate FLEXCOUNT_CHUNK_THRESHOLD empirically (VERDICT r4 item 5).

The r3/r4 default (8M rows/group) was extrapolated from a 6×10^5-row
A/B.  This script PINS the single-window vs chunked crossover by timing
BOTH plans on synthetic count streams whose hottest (name, key) group
is exactly K rows, K swept across the suspected crossover.

Isolation: each (K, mode) cell runs in its own taskset-pinned
subprocess (same discipline as bench.py) so JIT/GC state never leaks
between modes and the measured cores are fixed.

Usage:
  python scripts/calibrate_flexcount.py [cores] [K ...]
Defaults: 8 cores, K = 1M 2M 4M 8M 16M.
Prints one JSON line per (K, mode) and a final crossover summary.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, statistics, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from sagan_spark.session import build_session
from sagan_spark.gates import xbits

K, mode, cores = {k}, {mode!r}, {cores}
spark = build_session(f"flexcal_{{mode}}_{{K}}", master=f"local[{{cores}}]",
                      shuffle_partitions=cores * 2)

# synthetic count stream: ONE hot (name, key) group of K rows — the
# exact shape _apply_count_tests feeds the running sum.  90% writer
# events (delta +1, with a matching -1 expiry at epoch+3600), 10%
# testers (k1=1).  Epochs increase with id so the chunked plan's
# epoch-range chunks balance, matching the real stream's time spread.
base = spark.range(K).select(
    F.lit("hot").alias("cname"),
    F.lit("d0.example.com").alias("ckey"),
    (F.lit(1704067200) + F.col("id")).alias("epoch"),
    F.when(F.col("id") % 10 == 9, F.lit(1)).otherwise(F.lit(0)).alias("k1"),
    F.concat(F.lit("https://u/"), F.col("id")).alias("surl"),
    F.col("id").alias("rid"),
)
writers = base.where(F.col("k1") == 0)
events = writers.select(
    "cname", "ckey", "epoch", F.lit(0).alias("k0"), F.lit("").alias("surl"),
    F.lit(0).alias("k1"), F.lit(1).alias("delta"),
    F.lit(None).cast("string").alias("cmp"), F.lit(None).cast("int").alias("cval"),
    F.lit(None).cast("long").alias("tsid"),
).unionByName(writers.select(
    "cname", "ckey", (F.col("epoch") + 3600).alias("epoch"),
    F.lit(0).alias("k0"), F.lit("").alias("surl"), F.lit(0).alias("k1"),
    F.lit(-1).alias("delta"),
    F.lit(None).cast("string").alias("cmp"), F.lit(None).cast("int").alias("cval"),
    F.lit(None).cast("long").alias("tsid"),
))
testers = base.where(F.col("k1") == 1).select(
    "cname", "ckey", "epoch", F.lit(1).alias("k0"), "surl",
    F.lit(1).alias("k1"), F.lit(0).alias("delta"),
    F.lit("gt").alias("cmp"), F.lit(1800).alias("cval"),
    F.lit(9001).cast("long").alias("tsid"),
)
stream = events.unionByName(testers)
# materialize the input once so the timed region is ONLY the prefix-sum
# plan, not the synthesis (parquet, like the real staged base)
path = f"/dev/shm/flexcal_{{K}}"
stream.write.mode("overwrite").parquet(path)
stream = spark.read.parquet(path)

def run(mode):
    withn = xbits._running_count(stream, mode)
    ok = F.col("_n") > F.col("cval")
    return (
        withn.withColumn("_ok", ok)
        .where(F.col("k1") == 1)
        .groupBy("surl", "tsid")
        .agg(F.min(F.col("_ok").cast("int")).alias("_all_ok"))
        .where(F.col("_all_ok") == 1)
        .count()
    )

walls, rows = [], None
for i in range(3):  # rep 0 = warmup (codegen + JIT), median of the rest
    t0 = time.time()
    rows = run(mode)
    walls.append(round(time.time() - t0, 2))
import shutil
shutil.rmtree(path, ignore_errors=True)
spark.stop()
print("@@CAL@@" + json.dumps(
    {{"K": K, "mode": mode, "walls": walls, "wall": statistics.median(walls[1:]),
      "rows": rows}}))
"""


def cell(k: int, mode: str, cores: int) -> dict:
    ncpu = os.cpu_count() or cores
    lo, hi = max(0, ncpu - cores), ncpu - 1
    p = subprocess.run(
        ["taskset", "-c", f"{lo}-{hi}", sys.executable, "-c",
         CHILD.format(repo=REPO, k=k, mode=mode, cores=cores)],
        capture_output=True, text=True, timeout=1800, cwd=REPO,
    )
    for line in p.stdout.splitlines():
        if line.startswith("@@CAL@@"):
            return json.loads(line[len("@@CAL@@"):])
    raise RuntimeError(f"cell K={k} mode={mode} failed:\n{p.stderr[-1500:]}")


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    ks = [int(x) for x in sys.argv[2:]] or [
        1_000_000, 2_000_000, 4_000_000, 8_000_000, 16_000_000
    ]
    results = []
    for k in ks:
        # interleave modes within each K so host drift hits both alike
        for mode in ("single", "chunked"):
            r = cell(k, mode, cores)
            results.append(r)
            print(json.dumps(r), flush=True)
    cross = None
    for k in ks:
        s = next(r["wall"] for r in results if r["K"] == k and r["mode"] == "single")
        c = next(r["wall"] for r in results if r["K"] == k and r["mode"] == "chunked")
        if c < s and cross is None:
            cross = k
    print(json.dumps({"crossover_at_or_below": cross, "cores": cores}), flush=True)


if __name__ == "__main__":
    main()
