"""The benchmark's workloads (kept free of heavy imports: the Spark
child imports this inside its timed set-up).

documents x rep = pages; n_docs is a multiple of 60 (see
inputs.documents).  Per-job fixed cost (plan build, codegen, the
staging barrier) dominates at these sizes: the flagship warm job takes
about the same wall at 2k pages as at 40k, so the inputs stay small
enough for the DuckDB oracle to check every job.
"""

WORKLOADS = {
    # full sink_counts
    "flagship": {"n_docs": 480, "rep": 4, "stream": False},
    # the same pages through the other two entry points: an availableNow
    # drain through the after streaming gate on the hot domain (a per-row
    # Python state kernel) and, in the traced run, run_partitioned with
    # 24-hour units (two units over the 48-hour span, each rescanning the
    # rules' 2-hour lookback) and its resume
    "stream_gates": {"n_docs": 480, "rep": 4, "stream": True, "runner_hours": 24},
}
AFTER_GATE = (5000017, "by_domain", 3, 3600)
