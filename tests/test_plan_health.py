"""Physical-plan health pins (SURVEY.md §4): the properties that make
the 100 TB story true are asserted on the actual executed plans, not
just claimed in docstrings.

  * column pruning: the match stage never scans the wide ``html``
    binary column (only plans that reference it may);
  * join strategy: no BroadcastNestedLoopJoin / CartesianProduct
    anywhere in the flagship — every dimension join must stay a
    broadcast HASH join (the geo range join carries an equality
    conjunct precisely so it hash-joins);
  * the only Python crossings are the gated Arrow regex batches
    (ONE ArrowEvalPython in the batch and streaming match plans, so a
    page crosses into Python once), never row-at-a-time BatchEvalPython,
    and never a hidden one: no plan reads a Python-list dimension as a PythonRDD
    (``LogicalRDD`` / ``Scan ExistingRDD``), which would re-run Python
    worker tasks on every action — every dimension broadcast builds from
    a ``LocalTableScan``;
  * one join-back: the gate stage's plan has one ``Join LeftSemi``.
"""

from __future__ import annotations

import re

from sagan_spark.pages import pages_table
from sagan_spark.pipeline import Pipeline

from .conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _logical_leaves(df) -> list[str]:
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return [leaves.apply(i).nodeName() for i in range(leaves.size())]


def _broadcast_subtrees(plan: str) -> list[str]:
    """The tree-string lines under each BroadcastExchange node."""
    lines = plan.splitlines()
    node_col = [len(ln) - len(re.sub(r"^[\s:+\-]*", "", ln)) for ln in lines]
    out = []
    for i, ln in enumerate(lines):
        if ln[node_col[i]:].startswith("BroadcastExchange"):
            sub = []
            for j in range(i + 1, len(lines)):
                if node_col[j] <= node_col[i]:
                    break
                sub.append(lines[j])
            out.append("\n".join(sub))
    return out


def _assert_no_python_rdd_leaf(df, what: str) -> None:
    assert "LogicalRDD" not in _logical_leaves(df), f"{what}: PythonRDD dimension"
    dims = [t for t in _broadcast_subtrees(_plan(df)) if "FileScan" not in t]
    assert dims, f"{what}: no dimension broadcast"
    for t in dims:
        assert "LocalTableScan" in t, f"{what}: dimension not a local relation:\n{t}"


def _node_names(plan) -> list[str]:
    """Every node name of a physical plan, looking through the AQE
    wrapper (whose string form also prints the initial plan) and its
    query stages."""
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan":
        return _node_names(plan.executedPlan())
    if name.endswith("QueryStage"):
        return _node_names(plan.plan())
    kids = plan.children()
    return [name] + [n for i in range(kids.size()) for n in _node_names(kids.apply(i))]


def test_match_scan_prunes_html(spark):
    pipe = Pipeline(spark)
    pages = pages_table(spark, SF_DIR, rep=1)
    plan = _plan(pipe.hits(pages))
    scan_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan_lines, "no FileScan in match plan"
    for ln in scan_lines:
        assert "html" not in ln, f"match stage scans the wide html column: {ln}"


def test_flagship_no_nested_loop_join(spark):
    pipe = Pipeline(spark)
    pages = pages_table(spark, SF_DIR, rep=1)
    plan = _plan(pipe.sink_counts(pages))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # the dimension joins


def test_gates_join_back_once(spark):
    """The gate stage decides on narrow rows and joins the decided
    (url, sid) keys back to the staged alert rows in ONE left semi
    join, window and bit gates together."""
    pipe = Pipeline(spark)
    pages = pages_table(spark, SF_DIR, rep=1)
    plan = pipe.gated(pages)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join LeftSemi") == 1, plan


def test_ivf_corpus_side_no_shuffle(spark):
    """IVF cell assignment must be a pure projection on the corpus
    side: the centroid set rides in as a one-row broadcast (nested-loop
    is FINE there — one row), and no Exchange may touch the corpus
    stream.  The only shuffle in the whole plan is the single-row
    collect_list aggregate on the centroid side."""
    from sagan_spark.datapipe.similarity import ivf_cells, load_embeddings

    plan = _plan(ivf_cells(load_embeddings(spark, SF_DIR)))
    # corpus scan feeds the broadcast join directly — no Exchange between
    # the embeddings FileScan and the BroadcastNestedLoopJoin
    corpus_branch = plan.split("BroadcastExchange")[0]
    assert "embeddings.parquet" in corpus_branch
    assert "Exchange" not in corpus_branch, (
        "corpus side of IVF assignment shuffles:\n" + corpus_branch
    )


def test_python_crossings_are_arrow_only(spark):
    pipe = Pipeline(spark)
    pages = pages_table(spark, SF_DIR, rep=1)
    # sink_counts' own plan starts at the staged-parquet scan (the
    # staging write runs as its own job), so the Python crossing is
    # checked on the pre-staging match plan
    match_plan = _plan(pipe.hits(pages))
    assert "BatchEvalPython" not in match_plan, "row-at-a-time Python UDF in hot path"
    assert "ArrowEvalPython" in match_plan  # the gated regex batches
    assert "BatchEvalPython" not in _plan(pipe.sink_counts(pages))
    _assert_no_python_rdd_leaf(pipe.enriched(pages), "enriched")
    _assert_no_python_rdd_leaf(pipe.sink_counts(pages), "sink_counts")


def test_match_crosses_into_python_once(spark, tmp_path):
    """One ArrowEvalPython per match plan, batch and streaming: a
    filter on the match result ahead of the explode would inline the
    regex UDF twice, and every page would cross into Python twice."""
    from sagan_spark.streaming.stream import read_pages_stream, streaming_hits

    pages = pages_table(spark, SF_DIR, rep=1)
    batch = _node_names(Pipeline(spark).hits(pages)._jdf.queryExecution().executedPlan())
    assert batch.count("ArrowEvalPython") == 1, batch
    src = str(tmp_path / "pages_src")
    pages.coalesce(1).write.mode("overwrite").parquet(src)
    q = (
        streaming_hits(read_pages_stream(spark, src))
        .writeStream.format("memory")
        .queryName("plan_health_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    stream = _node_names(q._jsq.streamingQuery().lastExecution().executedPlan())
    assert stream.count("ArrowEvalPython") == 1, stream
