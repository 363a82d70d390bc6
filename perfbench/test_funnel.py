"""The traced run's row funnel against the DuckDB oracle, and its
repeatability.

    python3 -m pytest perfbench/test_funnel.py -q

Run from the repository root.  It makes two traced ``flagship`` runs of
one seed (a few minutes) and checks that

  * the funnel counts equal the row counts of the oracle relations
    ``matched``, ``extracted``, ``cgated``, ``wgated`` and ``routed``;
  * every count-valued per-layer metric repeats exactly across the two
    runs, so a later change can claim a count (``match.alerts``,
    ``spark.jobs``, ...) exactly.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402
import workloads  # noqa: E402

SEED = 7
FUNNEL = {
    "match.alerts": "matched",
    "extract.rows": "extracted",
    "enrich.rows": "cgated",
    "window.rows_out": "wgated",
    "route.rows": "routed",
}
# counts that must repeat exactly; times and byte sizes may drift
EXACT = [
    *FUNNEL,
    "pages.rows",
    "match.pages_hit",
    "window.rows_in",
    "bits.rows_out",
    "route.groups",
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.task_failures",
]


def traced_run() -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "flagship",
         "--seed", str(SEED), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0, res
    return {k: v["value"] for k, v in res["metrics"].items()}


@pytest.fixture(scope="module")
def runs() -> list[dict]:
    return [traced_run(), traced_run()]


def test_funnel_equals_oracle(runs, tmp_path):
    spec = workloads.WORKLOADS["flagship"]
    data = str(tmp_path / "data")
    n_pages = inputs.write_inputs(SEED, spec["n_docs"], spec["rep"], data, str(tmp_path))
    con = inputs.connect(data, str(tmp_path))
    try:
        want = inputs.oracle_funnel(con, None, spec["rep"])
    finally:
        con.close()
    got = runs[0]
    assert got["pages.rows"] == n_pages
    assert {k: got[k] for k in FUNNEL} == {k: want[rel] for k, rel in FUNNEL.items()}
    assert got["bits.rows_out"] == got["route.rows"]


def test_counts_repeat(runs):
    a, b = runs
    assert {k: a[k] for k in EXACT} == {k: b[k] for k in EXACT}
