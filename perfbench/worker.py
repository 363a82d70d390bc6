"""The benchmark's Spark child: one process, one ``local[4]`` JVM.

``run.py`` starts this with the work directory it prepared (inputs and
reference already written) and reads the ``--out`` JSON back.  Setup
time runs from the moment ``run.py`` spawned the process (``--t0``)
until the session is up, every pages column byte has been read once and
the rules are compiled (``Pipeline``, or the streaming gate plan).

Modes:
  * ``timed``: a cold job, then warm jobs until ``--seconds`` is used up
    (at least two), each checked against the reference;
  * ``trace``: a cold job, the ``run_partitioned`` leg with its resume
    where the workload has one, an untagged warm job, then the tagged
    per-layer calls (the prefix chain on batch workloads) and one tagged
    full job.  The parent enables the Spark event log.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import eventlog
import proctree
import workloads

MIN_WARM_JOBS = 2
ENGINE_KEYS = ("jobs", "stages", "tasks", "task_failures", "task_cpu_s", "gc_s",
               "shuffle_mb", "spill_mb")


def du_mb(path: str) -> float:
    """Bytes under ``path`` in MB; a missing directory reads 0."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total / 1e6


class Worker:
    def __init__(self, args):
        self.a = args
        self.spec = workloads.WORKLOADS[args.workload]
        self.pages_dir = f"{args.work}/data/pages"
        self.stage_dir = os.environ["SPARK_GRAFT_STAGE_DIR"]
        with open(f"{args.work}/reference.json") as f:
            self.ref = json.load(f)
        self.out: dict = {"jobs": []}

    # --- setup ------------------------------------------------------------
    def setup(self) -> None:
        from sagan_spark.session import build_session

        self.spark = build_session(f"perfbench_{self.a.workload}", master="local[4]")
        t_session = time.time()
        self.pages = self.spark.read.parquet(self.pages_dir)
        self.scan()  # the read itself, not just the parquet footers
        t_read = time.time()
        if self.spec["stream"]:
            from sagan_spark.streaming.gates import after_gate_stream
            from sagan_spark.streaming.stream import read_pages_stream, streaming_hits

            hits = streaming_hits(read_pages_stream(self.spark, self.pages_dir))
            self.stream = after_gate_stream(hits, *workloads.AFTER_GATE)
        else:
            from sagan_spark.pipeline import Pipeline

            self.pipe = Pipeline(self.spark)
        t_done = time.time()
        self.out.update(
            setup_s=t_done - self.a.t0,
            session_start_s=t_session - self.a.t0,
            compile_s=t_done - t_read,
        )

    def scan(self):
        from pyspark.sql import functions as F

        return self.pages.select(F.sum(F.length("text"))).collect()

    # --- one job ------------------------------------------------------------
    def batch_job(self) -> tuple[float, bool]:
        t = time.time()
        rows = self.pipe.sink_counts(self.pages).collect()
        wall = time.time() - t
        got = {f"{r['sink']}/{r['signature_id']}": r["n"] for r in rows}
        self.out["routed_rows"] = sum(got.values())
        self.out["routed_groups"] = len(got)
        return wall, got == self.ref["counts"]

    def stream_job(self, tag: str) -> tuple[float, bool]:
        ckpt = f"{self.a.work}/ckpt/{tag}"
        t = time.time()
        q = (
            self.stream.writeStream.outputMode("append")
            .format("memory")
            .queryName(f"after_{tag}")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        wall = time.time() - t
        rows = self.spark.table(f"after_{tag}").collect()
        progress = q.recentProgress
        self.out["stream"] = {
            "batch_s": sum(p["durationMs"].get("triggerExecution", 0) for p in progress) / 1e3,
            "state_rows": sum(
                op.get("numRowsTotal", 0) for p in progress for op in p["stateOperators"]
            ),
            "state_mb": sum(
                op.get("memoryUsedBytes", 0) for p in progress for op in p["stateOperators"]
            )
            / 1e6,
            "rows_out": len(rows),
        }
        self.spark.catalog.dropTempView(f"after_{tag}")
        shutil.rmtree(ckpt, ignore_errors=True)
        return wall, sorted(r["url"] for r in rows) == self.ref["after"]

    def job(self, tag: str) -> float | None:
        """Run, check and record one job; returns its wall if it passed."""
        try:
            wall, ok = self.stream_job(tag) if self.spec["stream"] else self.batch_job()
            err = None if ok else "output differs from the reference"
        except Exception:  # a failed job is counted, not fatal
            wall, ok, err = None, False, traceback.format_exc()
        finally:
            # staged snapshots of a finished job are dead: start each job clean
            shutil.rmtree(self.stage_dir, ignore_errors=True)
        print(f"job {tag} {wall or 0:.1f} s {err or 'ok'}", file=sys.stderr, flush=True)
        self.out["jobs"].append({"tag": tag, "wall_s": wall, "ok": ok})
        return wall if ok else None

    # --- timed mode -----------------------------------------------------------
    def timed(self) -> None:
        self.job("cold")
        t0, cpu0 = time.time(), proctree.cpu_seconds(os.getpid())
        deadline, i = t0 + self.a.seconds, 0
        # at least two warm jobs: with a cold JVM and a cold job paid on
        # every run, a third would add a sixth to each run's wall
        while i < MIN_WARM_JOBS or time.time() < deadline:
            self.job(f"warm{i}")
            i += 1
        self.out["warm_cpu_s"] = proctree.cpu_seconds(os.getpid()) - cpu0

    # --- traced mode ----------------------------------------------------------
    def call(self, layer: str, fn):
        """Time ``fn()`` tagged as ``layer``; returns (result, seconds,
        process-tree CPU seconds)."""
        self.spark.sparkContext.setJobDescription(layer)
        cpu0, t = proctree.cpu_seconds(os.getpid()), time.time()
        res = fn()
        wall = time.time() - t
        self.spark.sparkContext.setJobDescription(None)
        print(f"call {layer} {wall:.1f} s", file=sys.stderr, flush=True)
        return res, wall, proctree.cpu_seconds(os.getpid()) - cpu0

    def traced(self) -> None:
        lay = {}
        self.out["cold_s"] = self.job("cold")
        if self.spec.get("runner_hours"):
            lay.update(self.runner_leg())
        self.out["warm_s"] = self.job("warm")  # untagged: the overhead reference
        _, t_scan, c_scan = self.call("scan", self.scan)
        lay["pages.read_s"] = t_scan
        if self.spec["stream"]:
            self.spark.sparkContext.setJobDescription("full")
            self.out["full_s"] = self.job("full")
            self.spark.sparkContext.setJobDescription(None)
            lay.update({"stream." + k: v for k, v in self.out["stream"].items()})
        else:
            lay.update(self.prefix_chain(t_scan, c_scan))
        self.out["layers"] = lay

    def prefix_chain(self, t_scan: float, c_scan: float) -> dict:
        """Self time of layer k = prefix(k) - prefix(k-1): each call
        recomputes everything upstream of its layer."""
        from pyspark.sql import functions as F

        pipe, pages = self.pipe, self.pages
        m, t_match, c_match = self.call(
            "match",
            lambda: pipe.comp.with_sids(pages)
            .select(
                F.sum(F.size("sids")).alias("alerts"),
                F.sum((F.size("sids") > 0).cast("int")).alias("hit"),
            )
            .collect()[0],
        )
        n_ext, t_ext, c_ext = self.call("extract", lambda: pipe.extracted(pages).count())
        enr, t_enr, c_enr = self.call(
            "enrich",
            lambda: pipe.enriched(pages)
            .select(F.count("*").alias("n"), F.count("src_cc"), F.count("dst_cc"))
            .collect()[0],
        )
        # window_gated / gated return after their eager work (the staging
        # write, the hot-group probe); the count runs the rest
        wg, t_wg_call, _ = self.call("window_gated.call", lambda: pipe.window_gated(pages))
        stage_mb = du_mb(self.stage_dir)
        n_wg, t_wg_count, _ = self.call("window_gated.count", wg.count)
        shutil.rmtree(self.stage_dir, ignore_errors=True)
        g, t_g_call, _ = self.call("gated.call", lambda: pipe.gated(pages))
        n_g, t_g_count, _ = self.call("gated.count", g.count)
        shutil.rmtree(self.stage_dir, ignore_errors=True)
        self.spark.sparkContext.setJobDescription("full")
        t_full = self.out["full_s"] = self.job("full")
        self.spark.sparkContext.setJobDescription(None)

        n_pages = self.ref["pages"]
        return {
            "match.s": t_match - t_scan,
            "match.cpu_s": c_match - c_scan,
            "match.pages_hit": m["hit"] or 0,
            "match.alerts": m["alerts"] or 0,
            "match.alerts_per_page": (m["alerts"] or 0) / n_pages,
            "extract.s": t_ext - t_match,
            "extract.cpu_s": c_ext - c_match,
            "extract.rows": n_ext,
            "enrich.s": t_enr - t_ext,
            "enrich.cpu_s": c_enr - c_ext,
            "enrich.rows": enr["n"],
            "enrich.geo_hit_frac": (enr[1] + enr[2]) / (2 * enr["n"]) if enr["n"] else 0.0,
            "stage.s": t_wg_call - t_enr,
            "stage.mb": stage_mb,
            "window.s": t_wg_count,
            "window.rows_in": enr["n"],
            "window.rows_out": n_wg,
            "bits.build_s": t_g_call - t_wg_call,
            "bits.s": t_g_count - t_wg_count,
            "bits.rows_out": n_g,
            "route.s": t_full - t_g_call - t_g_count if t_full is not None else 0.0,
            "route.rows": self.out.get("routed_rows", 0),
            "route.groups": self.out.get("routed_groups", 0),
        }

    def runner_leg(self) -> dict:
        """``run_partitioned`` over the workload's pages, checked against
        the global sink counts (its bit-for-bit contract), then rerun
        after one unit's manifest and output are deleted."""
        import pyarrow.parquet as pq

        from sagan_spark.runner.job import run_partitioned

        out_dir, hours = f"{self.a.work}/runner", self.spec["runner_hours"]
        mdir = f"{out_dir}/_manifests"

        def run(tag: str, want_run) -> tuple[dict, float | None]:
            try:
                s, wall, _ = self.call(
                    tag, lambda: run_partitioned(self.spark, self.pages, out_dir, hours, "perfbench")
                )
                ok = s["sink_counts"] == self.ref["counts"] and s["run"] == want_run(s)
            except Exception:
                print(f"job {tag} failed: {traceback.format_exc()}", file=sys.stderr, flush=True)
                s, wall, ok = {}, None, False
            finally:
                shutil.rmtree(self.stage_dir, ignore_errors=True)
            self.out["jobs"].append({"tag": tag, "wall_s": wall, "ok": ok})
            return s, wall if ok else None

        shutil.rmtree(out_dir, ignore_errors=True)
        s, _ = run("runner", lambda s: s["units"])
        if not s:
            return {}
        manifests = []
        for name in sorted(os.listdir(mdir)):
            with open(f"{mdir}/{name}") as f:
                manifests.append(json.load(f))
        unit_s = [m["metrics"]["wall_s"] for m in manifests]
        epochs = pq.read_table(self.pages_dir, columns=["warc_epoch"])["warc_epoch"].to_pylist()
        scanned = sum(
            sum(p["t0"] - (p["lookback_s"] or 0) <= e < p["t1"] for e in epochs)
            for p in (m["partition"] for m in manifests)
        )
        files = sum(
            f.endswith(".parquet")
            for d, _, fs in os.walk(out_dir)
            if not d.startswith(mdir)
            for f in fs
        )
        lay = {
            "runner.units": s["units"],
            "runner.unit_s_p50": statistics.median(unit_s),
            "runner.unit_s_max": max(unit_s),
            "runner.scan_overlap": scanned / len(epochs),
            "runner.write_mb": du_mb(out_dir) - du_mb(mdir),
            "runner.files": files,
        }
        first = manifests[0]["partition"]
        unit = f"{first['t0']}_{first['t1']}"
        os.remove(f"{mdir}/part-{unit}.json")
        shutil.rmtree(f"{out_dir}/part={unit}")
        _, lay["runner.resume_s"] = run("runner.resume", lambda s: 1)
        shutil.rmtree(out_dir, ignore_errors=True)
        return lay

    def finish_trace(self, log_dir: str) -> None:
        """Engine metrics of the tagged full job, from the event log
        (readable once the session has stopped and flushed it)."""
        by_desc = eventlog.by_description(eventlog.load(log_dir))
        lay = self.out["layers"]
        if self.spec["stream"]:
            # micro-batch jobs carry their query name as the description head
            full = eventlog.merge(
                [v for k, v in by_desc.items() if k.split("\n")[0] == "after_full"]
            )
        else:
            full = by_desc.get("full", eventlog.merge([]))
            for layer, desc in (("window", "window_gated.count"), ("bits", "gated.count")):
                lay[f"{layer}.task_skew"] = eventlog.task_skew(
                    by_desc.get(desc, eventlog.merge([]))
                )
        for k in ENGINE_KEYS:
            lay[f"spark.{k}"] = full[k]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--mode", choices=("timed", "trace"), default="timed")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    w = Worker(a)
    w.setup()
    print(f"setup {w.out['setup_s']:.1f} s", file=sys.stderr, flush=True)
    if a.mode == "timed":
        w.timed()
    else:
        w.traced()
    t = time.time()
    w.spark.stop()
    if a.mode == "trace":
        w.finish_trace(os.environ["PERFBENCH_EVENT_LOG"])
    print(f"stop {time.time() - t:.1f} s", file=sys.stderr, flush=True)
    with open(a.out, "w") as f:
        json.dump(w.out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
