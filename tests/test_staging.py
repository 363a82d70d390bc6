"""Staged-snapshot lifecycle (VERDICT r2 item 5 / ADVICE): gated()
writes one parquet snapshot per evaluation under the staging base — they
must all live under one per-process dir and be removed by
cleanup_staged() (also registered atexit), leaving no orphans."""

from __future__ import annotations

import dataclasses
import os

from sagan_spark.gates import windows
from sagan_spark.pages import pages_table
from sagan_spark.pipeline import Pipeline
from sagan_spark.rules.fixture_rules import fixture_rules
from sagan_spark.rules.model import AfterGate

from .conftest import SF_DIR


def test_staged_snapshots_cleaned(spark, tmp_path, monkeypatch):
    base = str(tmp_path / "stage")
    monkeypatch.setenv("SPARK_GRAFT_STAGE_DIR", base)
    # force re-read of the env var for this test's base dir
    windows.cleanup_staged()

    pipe = Pipeline(spark)
    pages = pages_table(spark, SF_DIR, rep=1)
    pipe.gated(pages).count()
    pipe.gated(pages).count()

    # both runs staged under ONE session dir inside the base
    session_dirs = os.listdir(base)
    assert len(session_dirs) == 1
    snaps = os.listdir(os.path.join(base, session_dirs[0]))
    assert len(snaps) == 2  # one gate barrier per gated() run

    windows.cleanup_staged()
    assert not os.path.exists(os.path.join(base, session_dirs[0]))
    # idempotent
    windows.cleanup_staged()


def test_overlapping_gates_stage_once(spark, tmp_path, monkeypatch):
    """A bit writer and a bit tester that also carry window gates take
    the same path as disjoint rules: one snapshot per gated() run."""
    monkeypatch.setenv("SPARK_GRAFT_STAGE_DIR", str(tmp_path / "stage"))
    windows.cleanup_staged()
    after = AfterGate(track="by_domain", count=1, seconds=3600)
    rules = [
        dataclasses.replace(r, after=after) if r.sid in (5000019, 5000020) else r
        for r in fixture_rules()
    ]
    pages = pages_table(spark, SF_DIR, rep=1)
    Pipeline(spark, rules).gated(pages).count()

    (session_dir,) = os.listdir(tmp_path / "stage")
    assert len(os.listdir(tmp_path / "stage" / session_dir)) == 1
    windows.cleanup_staged()
