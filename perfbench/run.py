"""Benchmark of the sagan_spark pipeline (see BENCHMARK.json).

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 10 --trace 0

Run from the repository root.  Prints one JSON object as the last line
of standard output: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``).

One run:
  1. makes the seeded inputs and the DuckDB oracle reference (untimed);
  2. with ``--trace 0`` starts the timed Spark child, a fresh
     ``local[4]`` JVM, and samples its process tree for memory;
  3. with ``--trace 1`` starts the traced child instead, with the Spark
     event log on, and reports per-layer metrics.
Every file it writes stays under ``.perfbench/`` in the working
directory; its own work directory is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
RUN_BUDGET_S = 170  # a run must end within 180 s
MIN_FREE_GB = 2
PHASES = ("setup ", "job ", "call ", "stop ")  # the worker's progress lines
SPARK_DRIVER_MEMORY = "2g"


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


class Child:
    """One worker process in its own process group, with a memory sampler
    over its whole tree (worker, JVM, Python workers)."""

    def __init__(self, args: list[str], env: dict, log_path: str, deadline: float):
        self.t0 = time.time()
        self.log = open(log_path, "ab")
        self.proc = subprocess.Popen(
            [sys.executable, f"{HERE}/worker.py", "--t0", repr(self.t0), *args],
            cwd=ROOT,
            env=env,
            stdout=self.log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        self.deadline = deadline
        self.peak_mem = 0
        self._done = threading.Event()
        self._sampler = threading.Thread(target=self._sample, daemon=True)
        self._sampler.start()

    def _sample(self) -> None:
        from proctree import pss_bytes

        # reading smaps_rollup walks the JVM's page tables: once a second
        # keeps the sampler's own CPU use near 5% of one core
        while not self._done.wait(1.0):
            self.peak_mem = max(self.peak_mem, pss_bytes(self.proc.pid))

    def wait(self) -> int:
        """Wait for the worker, then for every process of its group."""
        from proctree import group_alive

        try:
            rc = self.proc.wait(timeout=max(1.0, self.deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            self._done.set()
            self._sampler.join()
        pg = self.proc.pid
        grace = time.time() + (10 if rc is not None else 0)
        while group_alive(pg) and time.time() < grace:
            time.sleep(0.1)
        if group_alive(pg):
            os.killpg(pg, signal.SIGKILL)
            if rc is None:
                self.proc.wait()  # reap the worker, or it stays in the group
            while group_alive(pg):
                time.sleep(0.1)
        self.log.close()
        return -1 if rc is None else rc


def run_child(mode: str, a, work: str, env: dict, deadline: float) -> tuple[dict, Child]:
    out = f"{work}/{mode}-{time.time_ns()}.json"
    child = Child(
        ["--workload", a.workload, "--work", work, "--seconds", str(a.seconds),
         "--mode", mode, "--out", out],
        env,
        f"{work}/worker.log",
        deadline,
    )
    rc = child.wait()
    print(f"perfbench: {mode} child {time.time() - child.t0:.1f} s", file=sys.stderr)
    if rc != 0 or not os.path.exists(out):
        with open(f"{work}/worker.log", errors="replace") as f:
            tail = "".join(line for line in f if " WARN " not in line)[-4000:]
        fail(f"{mode} worker exited with {rc}:\n{tail}", 1)
    with open(f"{work}/worker.log", errors="replace") as f:
        phases = [line.strip() for line in f if line.startswith(PHASES)]
    print(f"perfbench: {mode} phases: {'; '.join(phases)}", file=sys.stderr)
    with open(out) as f:
        return json.load(f), child


def child_env(work: str, event_log: str | None = None) -> dict:
    for d in ("local", "tmp"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        SPARK_DRIVER_MEMORY=SPARK_DRIVER_MEMORY,
        SPARK_GRAFT_LOCAL_DIR=f"{work}/local",
        SPARK_GRAFT_STAGE_DIR=f"{work}/stage",
        TMPDIR=f"{work}/tmp",
        # the JVM's temp files and perf-data file would otherwise land in /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    )
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        env["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.dir=file://{event_log} "
            "--conf spark.eventLog.compress=false pyspark-shell"
        )
        env["PERFBENCH_EVENT_LOG"] = event_log
    return env


def prepare(a, work: str) -> dict:
    """Seeded inputs and the oracle reference, outside every timed region."""
    import inputs
    import workloads

    spec = workloads.WORKLOADS[a.workload]
    data = f"{work}/data"
    n_pages = inputs.write_inputs(a.seed, spec["n_docs"], spec["rep"], data, f"{work}/duck")
    con = inputs.connect(data, f"{work}/duck")
    try:
        ref = inputs.reference(con, spec["stream"], spec["rep"])
    finally:
        con.close()
    ref["pages"] = n_pages
    ref["pages_mb"] = sum(
        os.path.getsize(os.path.join(f"{data}/pages", f)) for f in os.listdir(f"{data}/pages")
    ) / 1e6
    with open(f"{work}/reference.json", "w") as f:
        json.dump(ref, f)
    return ref


def metric(name: str, value: float, unit: str) -> tuple[str, dict]:
    return name, {"value": value, "unit": unit}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    deadline = t_start + RUN_BUDGET_S

    if not os.path.isfile(os.path.join(ROOT, "sagan_spark", "pipeline.py")):
        fail("run from the repository root: sagan_spark/ is not here")
    sys.path.insert(0, ROOT)
    import workloads

    if a.workload not in workloads.WORKLOADS:
        fail(f"unknown workload {a.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    free_gb = shutil.disk_usage(base).free / 1e9
    if free_gb < MIN_FREE_GB:
        fail(f"only {free_gb:.1f} GB free under {base}; need {MIN_FREE_GB}")
    work = os.path.join(base, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        ref = prepare(a, work)
        print(f"perfbench: inputs + reference {time.time() - t_start:.1f} s", file=sys.stderr)
        n_pages = ref["pages"]
        if a.trace:
            traced, _ = run_child("trace", a, work, child_env(work, f"{work}/eventlog"),
                                  deadline)
            jobs = traced["jobs"]
            failed = sum(not j["ok"] for j in jobs)
            metrics = dict(layer_metrics(traced, ref, failed / len(jobs)))
        else:
            timed, child = run_child("timed", a, work, child_env(work), deadline)
            jobs = timed["jobs"]
            warm = [j["wall_s"] for j in jobs[1:] if j["ok"]]
            failed = sum(not j["ok"] for j in jobs)
            if not warm or jobs[0]["wall_s"] is None:
                fail(f"no passing job to time ({failed} of {len(jobs)} failed)", 1)
            n_warm = len(jobs) - 1
            metrics = dict(
                [
                    metric("setup_s", timed["setup_s"], "s"),
                    metric("peak_pss_mb", child.peak_mem / 1e6, "MB"),
                    metric("cpu_s_per_kpage",
                           timed["warm_cpu_s"] / (n_warm * n_pages / 1e3), "s/kpage"),
                ]
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"correct": failed == 0, "attempted": len(jobs), "failed": failed,
                      "metrics": metrics}))
    return 0


def layer_metrics(traced: dict, ref: dict, failed_frac: float):
    """Per-layer metrics of the traced child, named and unit-tagged as
    BENCHMARK.json lists them.  A layer the workload does not run (and
    a leg whose job failed, which ``failed_frac`` shows) reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        per_layer = json.load(f)["per_layer"]
    lay = dict(traced["layers"])
    full, warm = traced.get("full_s"), traced.get("warm_s")
    lay.update(
        {
            "session.start_s": traced["session_start_s"],
            "pages.rows": ref["pages"],
            "pages.mb": ref["pages_mb"],
            "compiler.build_s": traced["compile_s"],
            "cold_run_s": traced.get("cold_s"),
            "pages_per_s": ref["pages"] / warm if warm else None,
            "trace.full_s": full,
            "trace.overhead": full / warm - 1 if full and warm else None,
            "failed_frac": failed_frac,
        }
    )
    undeclared = set(lay) - {m["name"] for m in per_layer}
    if undeclared:
        fail(f"per-layer metrics missing from BENCHMARK.json: {sorted(undeclared)}")
    for m in per_layer:
        value = lay.get(m["name"])
        yield metric(m["name"], 0 if value is None else value, m["unit"])


if __name__ == "__main__":
    sys.exit(main())
