"""Staged-snapshot lifecycle (VERDICT r2 item 5 / ADVICE): gated()
writes one parquet snapshot per evaluation under the staging base — they
must all live under one per-process dir and be removed by
cleanup_staged() (also registered atexit), leaving no orphans."""

from __future__ import annotations

import os

from sagan_spark.gates import windows
from sagan_spark.pages import pages_table
from sagan_spark.pipeline import Pipeline

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
