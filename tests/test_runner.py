"""Partitioned/resumable runner: exactness vs the global run, and
manifest-based resume (north-rule checkpoint contract)."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import threading
from urllib.parse import urlparse

import pyarrow.parquet as pq
import pytest

from sagan_spark.pages import pages_table
from sagan_spark.pipeline import Pipeline
from sagan_spark.runner import job
from sagan_spark.runner.job import lookback_seconds, run_partitioned
from sagan_spark.rules.fixture_rules import fixture_rules

from .conftest import SF_DIR


def test_lookback_bound():
    lb = lookback_seconds(list(fixture_rules()))
    assert lb == 7200  # max(after 3600, th 7200, xbit 7200+0, flexbit 3600+0)


def test_ruleset_change_invalidates_lineage():
    """R2 dynamic_load, batch form: a ruleset edit changes the lineage
    fingerprint, so every manifest mismatches and the next run
    recomputes under the new rules (reload-on-restart)."""
    from sagan_spark.runner.job import lineage_fingerprint

    a = lineage_fingerprint("/in", 4, ruleset_text="alert ... sid:1;")
    b = lineage_fingerprint("/in", 4, ruleset_text="alert ... sid:2;")
    same = lineage_fingerprint("/in", 4, ruleset_text="alert ... sid:1;")
    assert a != b and a == same
    # input identity also participates
    assert lineage_fingerprint("/other", 4, ruleset_text="alert ... sid:1;") != a


def test_partitioned_equals_global_and_resumes(spark, tmp_path):
    pages = pages_table(spark, SF_DIR, rep=4)
    out = str(tmp_path / "sinks")

    summary = run_partitioned(spark, pages, out, partition_hours=12, lineage="t1")
    assert summary["units"] == 4 and summary["run"] == 4 and summary["skipped"] == 0

    # global reference
    pipe = Pipeline(spark)
    global_counts = {
        f"{r['sink']}/{r['signature_id']}": r["n"]
        for r in pipe.sink_counts(pages).collect()
    }
    assert summary["sink_counts"] == global_counts
    assert summary["routed_rows"] == sum(global_counts.values())

    # routed parquet matches too (set equality via counts per part dir)
    manifests = sorted(os.listdir(os.path.join(out, "_manifests")))
    assert len(manifests) == 4
    m0 = json.load(open(os.path.join(out, "_manifests", manifests[0])))
    assert m0["lineage"] == "t1"
    assert m0["partition"]["lookback_s"] == 7200
    assert m0["metrics"]["wall_s"] > 0

    # input_rows counts each unit's own pages [t0, t1), look-back excluded,
    # exactly once: checked against the pages' files read with pyarrow
    files = [urlparse(f).path for f in pages.inputFiles()]
    epochs = pq.ParquetDataset(files).read(columns=["warc_epoch"])["warc_epoch"].to_pylist()
    inputs = []
    for name in manifests:
        m = json.load(open(os.path.join(out, "_manifests", name)))
        t0, t1 = m["partition"]["t0"], m["partition"]["t1"]
        assert m["metrics"]["input_rows"] == sum(t0 <= e < t1 for e in epochs), name
        inputs.append(m["metrics"]["input_rows"])
    assert sum(inputs) == summary["input_rows"] == pages.count()

    # one write per unit, rebalanced by group: one file per leaf directory
    leaves = glob.glob(os.path.join(out, "part=*", "sink=*", "signature_id=*"))
    assert leaves
    for leaf in leaves:
        assert len(glob.glob(os.path.join(leaf, "*.parquet"))) == 1, leaf

    # resume: same lineage → all skipped, same totals
    summary2 = run_partitioned(spark, pages, out, partition_hours=12, lineage="t1")
    assert summary2["run"] == 0 and summary2["skipped"] == 4
    assert summary2["sink_counts"] == global_counts

    # changed lineage (code/ruleset/input changed) → reruns
    summary3 = run_partitioned(spark, pages, out, partition_hours=12, lineage="t2")
    assert summary3["run"] == 4 and summary3["sink_counts"] == global_counts


def test_units_inherit_the_callers_job_group(spark, tmp_path):
    """Every Spark job a run starts carries the job group its caller
    set, so the caller can count or cancel a run's jobs by that group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    pages = pages_table(spark, SF_DIR, rep=1)
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("runner-units", "two runner units")
    try:
        summary = run_partitioned(spark, pages, str(tmp_path / "sinks"), partition_hours=24)
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    assert summary["units"] == 2 and summary["run"] == 2
    assert tracker.getJobIdsForGroup("runner-units")
    assert not set(tracker.getJobIdsForGroup(None)) - ungrouped


def _global_counts(spark, pages) -> dict[str, int]:
    return {
        f"{r['sink']}/{r['signature_id']}": r["n"]
        for r in Pipeline(spark).sink_counts(pages).collect()
    }


def test_crash_before_manifest_commit_resumes(spark, tmp_path, monkeypatch):
    """A unit killed after writing its ``part=`` dir but before its
    manifest commit is the only unit the next run redoes, and the
    resumed totals equal the global answer."""
    pages = pages_table(spark, SF_DIR, rep=4)
    out = str(tmp_path / "sinks")
    mdir = os.path.join(out, "_manifests")
    real_replace = os.replace
    lock = threading.Lock()
    crashed: list[str] = []

    def replace_crashing_once(src, dst):
        with lock:
            crash = not crashed and os.path.dirname(dst) == mdir
            if crash:
                crashed.append(dst)
        if crash:
            raise OSError("injected crash before the manifest commit")
        return real_replace(src, dst)

    monkeypatch.setattr(job.os, "replace", replace_crashing_once)
    with pytest.raises(OSError, match="injected crash"):
        run_partitioned(spark, pages, out, partition_hours=12, lineage="t1")
    monkeypatch.setattr(job.os, "replace", real_replace)

    (lost,) = crashed
    part_id = os.path.basename(lost)[len("part-"):-len(".json")]
    assert os.path.isdir(os.path.join(out, f"part={part_id}"))
    committed = {
        f: os.stat(os.path.join(mdir, f)).st_mtime_ns
        for f in os.listdir(mdir)
        if f.endswith(".json")
    }
    assert len(committed) == 3 and os.path.basename(lost) not in committed

    summary = run_partitioned(spark, pages, out, partition_hours=12, lineage="t1")
    assert summary["units"] == 4 and summary["run"] == 1 and summary["skipped"] == 3
    assert os.path.exists(lost)
    for f, mtime in committed.items():
        assert os.stat(os.path.join(mdir, f)).st_mtime_ns == mtime, f"{f} re-ran"
    assert summary["sink_counts"] == _global_counts(spark, pages)


def test_lineage_code_rev_follows_the_package_checkout(tmp_path, monkeypatch):
    """The code revision is read from the checkout the package lives in,
    whatever the working directory, and is ``unknown`` without git."""
    pkg = os.path.dirname(os.path.abspath(job.__file__))
    proc = subprocess.run(
        ["git", "-C", pkg, "rev-parse", "--short", "HEAD"],
        capture_output=True, text=True,
    )
    want = proc.stdout.strip() if proc.returncode == 0 else "unknown"
    monkeypatch.chdir(tmp_path)
    assert job.lineage_fingerprint("/in", 4, ruleset_text="x").endswith(f"@{want}")
    monkeypatch.setenv("PATH", str(tmp_path))  # no git executable
    assert job.lineage_fingerprint("/in", 4, ruleset_text="x").endswith("@unknown")
