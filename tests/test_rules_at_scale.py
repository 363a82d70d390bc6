"""Ruleset-at-scale stress (VERDICT r1 item 2): 2,000 synthetic rules
through the compiler — the realistic upstream operating point ([U]
engine.c iterates thousands of rules per message).

Checks:
  * the match stage compiles and executes (no codegen blowup — the
    sid-array is chunked at 64 slots; a Janino 64KB overflow would
    throw or fall back visibly slower);
  * per-sid match counts equal a single-scan DuckDB oracle (2,000
    CASE-sum aggregates — one pass, not 2,000 queries);
  * per-rule cost stays within 2x of the 30-rule fixture run, timed in
    a fresh subprocess session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from sagan_spark.pages import load_pages, pages_with
from sagan_spark.rules.compiler import DUCKDB, CompiledRules, full_rule_sql
from sagan_spark.rules.fixture_rules import fixture_rules
from sagan_spark.rules.synth import synth_rules

from .conftest import SF_DIR, duck_con

N_RULES = 2000


@pytest.fixture(scope="module")
def pages_df(spark):
    return load_pages(spark, SF_DIR, rep=1).persist()


def _sid_counts(comp: CompiledRules, pages) -> dict[int, int]:
    rows = (
        comp.with_sids(pages)
        .select(F.explode("sids").alias("sid"))
        .groupBy("sid")
        .count()
        .collect()
    )
    return {r["sid"]: r["count"] for r in rows}


def test_2k_rules_match_correct(spark, pages_df):
    rules = list(synth_rules(N_RULES))
    comp = CompiledRules(rules)
    got = _sid_counts(comp, pages_df)
    assert got, "no synthetic rule matched anything"

    # single-scan oracle: one CASE-sum per rule over the pages CTE
    sums = ", ".join(
        f"sum(CASE WHEN {full_rule_sql(r, DUCKDB)} THEN 1 ELSE 0 END) AS c{r.sid}"
        for r in rules
    )
    con = duck_con(SF_DIR)
    row = con.execute(pages_with(rep=1) + f" SELECT {sums} FROM pages").fetchone()
    exp = {
        r.sid: int(row[i] or 0) for i, r in enumerate(rules) if int(row[i] or 0) > 0
    }
    assert got == exp, (
        f"{len(set(got) ^ set(exp))} sids differ; "
        f"sample={list(sorted(set(got) ^ set(exp)))[:5]}"
    )


# The timing cell runs in a fresh interpreter and session, the way
# bench.py:flagship_cell isolates its cells: in the shared test session
# the walls carry whatever the earlier tests left behind (heap, cached
# plans, JIT state), and the ratio failed in full runs only.
COST_CHILD = r"""
import json, sys, time
sys.path.insert(0, ".")
sf_dir, n_rules = sys.argv[1], int(sys.argv[2])
from pyspark.sql import functions as F
from sagan_spark.pages import load_pages
from sagan_spark.rules.compiler import CompiledRules
from sagan_spark.rules.fixture_rules import fixture_rules
from sagan_spark.rules.synth import synth_rules
from sagan_spark.session import build_session
spark = build_session("rules_at_scale_cost", master="local[4]", shuffle_partitions=8)
pages = load_pages(spark, sf_dir, rep=1).persist()
pages.count()  # materialize persist outside timing

def wall(rules):
    comp = CompiledRules(list(rules))
    best = float("inf")
    for _ in range(2):
        t0 = time.time()
        comp.with_sids(pages).select(F.sum(F.size("sids"))).collect()
        best = min(best, time.time() - t0)
    return best

base = wall(fixture_rules())
big = wall(synth_rules(n_rules))
spark.stop()
print("@@COST@@" + json.dumps({"base": base, "big": big, "n_base": len(fixture_rules())}))
"""


def test_2k_rules_per_rule_cost():
    p = subprocess.run(
        [sys.executable, "-c", COST_CHILD, SF_DIR, str(N_RULES)],
        capture_output=True,
        text=True,
        timeout=1800,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("@@COST@@")]
    assert lines, f"cost cell failed:\n{p.stderr[-2000:]}"
    r = json.loads(lines[-1][len("@@COST@@"):])
    base, big = r["base"], r["big"]  # 30 fixture rules, N_RULES synthetic
    per_rule_base = base / r["n_base"]
    per_rule_big = big / N_RULES
    # scale-up must not degrade per-rule cost by more than 2x (codegen
    # fallback or quadratic planning would blow far past this)
    assert per_rule_big <= 2 * per_rule_base, (
        f"per-rule cost {per_rule_big * 1e3:.2f}ms vs base "
        f"{per_rule_base * 1e3:.2f}ms (walls: {big:.1f}s / {base:.1f}s)"
    )
