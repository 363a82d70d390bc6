"""SparkSession factory with scale-oriented defaults.

All knobs are chosen for the 100 TB design point and merely *scaled
down* for local testing:

  * AQE on (runtime re-plan, skew-join splitting) — SURVEY.md §4 O9.
  * shuffle partitions proportional to cores (reference batches work
    per thread; we batch per partition) — SURVEY.md §4 O4.
  * session timezone pinned to UTC so event-time window semantics are
    identical everywhere (and identical to the DuckDB oracle).
  * Arrow enabled for the pandas-UDF regex batches.
  * Python workers start from :mod:`sagan_spark.pydaemon`, without
    Spark's jar and zips on their path.

It also owns :func:`local_df`, the one way a driver-side Python list
becomes a DataFrame, and :func:`memo`, the one driver-side cache.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Hashable, Iterable, Sequence
from typing import TypeVar
from urllib.parse import unquote, urlparse

import pyarrow as pa
from py4j.protocol import Py4JError
from pyspark import SparkConf
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

T = TypeVar("T")

# the directory that holds the sagan_spark package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_session(
    app_name: str = "sagan_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    # -Xms pinned to -Xmx (see extraJavaOptions note below).  The 16g
    # default is gated on physical RAM: on a small host a pinned 16g
    # heap fails at JVM startup, so scale down to ~RAM/3 (min 2g).
    try:
        ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / (1 << 30)
    except (ValueError, OSError, AttributeError):
        ram_gb = 64.0
    default_mem = "16g" if ram_gb >= 48 else f"{max(2, int(ram_gb / 3))}g"
    drv_mem = os.environ.get("SPARK_DRIVER_MEMORY", default_mem)
    # shuffle/spill on tmpfs only when RAM is plentiful — spilling to
    # RAM-backed tmpfs on a small host consumes the resource memory
    # pressure is shedding (compounding, not relieving)
    default_local = (
        "/dev/shm/spark-local" if (ram_gb >= 48 and os.path.isdir("/dev/shm")) else "/tmp"
    )
    # cores x 2: enough parallelism for AQE to coalesce down, not so many
    # that task overhead dominates at local scale.  On a real cluster this
    # would be cores x (2-4) across executors.
    if shuffle_partitions is None:
        try:
            n = int(master.split("[")[1].rstrip("]*")) if "[" in master else cpus
        except ValueError:
            n = cpus
        shuffle_partitions = max(8, n * 2)
    # workers run `python -m sagan_spark.pydaemon` from the driver's cwd,
    # so they need the package root on their path.  A value a running
    # JVM already holds (spark-defaults, --conf) stays behind it; the
    # JVM itself appends the driver's own PYTHONPATH
    worker_path = SparkConf().get("spark.executorEnv.PYTHONPATH", "")

    return (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # InferFiltersFromGenerate clones the generator expression into a
        # pre-explode filter; with a pandas-UDF inside the match array
        # that doubles every row's trip through Python and forces an
        # interpreted projection (measured ~8×) — the non-outer explode
        # drops empty rows anyway, so the inferred filter buys nothing
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # rule matching is ~10-50× more CPU per byte than a plain scan;
        # the default 128 MB split packs a whole bench input into 2-4
        # tasks and serializes the match stage (measured: task-time ≈
        # wall at every core count).  16 MB targets ~cores×2-4 match
        # tasks; a pure-scan workload on a real cluster would keep 128m
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local-mode executor heap == driver heap.  FIXED 16g (-Xms via
        # extraJavaOptions below): r1's grow-on-demand 48g heap let old
        # gen accumulate staged/cached blocks across runs until a
        # 30-second ParallelGC full collection hit (measured via
        # -Xlog:gc*: one 34.4s "Pause Full (Ergonomics)"), producing
        # 3-5× run-to-run swings.  A fixed modest heap keeps full
        # collections rare and bounded; the live set is ~2-4 GB.
        .config("spark.driver.memory", drv_mem)
        .config("spark.driver.maxResultSize", "4g")
        # G1's time-to-safepoint stalls under many threads inside long
        # counted codegen loops (string-heavy match expressions) were
        # measured to SLOW local[32] 4-6× below local[8]; ParallelGC +
        # counted-loop safepoints restore linear-ish thread scaling
        # (39-60s → 9.4s for the match stage at 32 threads)
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:+UseParallelGC -Xms{drv_mem} -XX:+UnlockDiagnosticVMOptions "
            "-XX:+UseCountedLoopSafepoints -XX:LoopStripMiningIter=1000",
        )
        .config("spark.python.daemon.module", "sagan_spark.pydaemon")
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.pathsep.join(p for p in (_PACKAGE_ROOT, worker_path) if p),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # shuffle/spill files on tmpfs when available: local[32] puts 32
        # concurrent writers on spark.local.dir; one virtio disk
        # serializes them (measured non-scaling shuffle stages)
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_GRAFT_LOCAL_DIR", default_local),
        )
        .getOrCreate()
    )


def local_df(spark: SparkSession, rows: Sequence[Sequence], ddl: str) -> DataFrame:
    """``rows`` (tuples in ``ddl`` column order) as a JVM ``LocalRelation``.

    Every driver-side dimension table (rule config, classification,
    GeoIP, gate and bit specs, centroids, ...) is built here, never by
    ``spark.createDataFrame`` over a Python list.  That yields a
    ``LogicalRDD`` over a PythonRDD, so every action that reads the
    table re-runs one Python worker task per default-parallelism slot
    (4 under local[4]) whatever the row count.  Each task starts with
    ``importlib.invalidate_caches()``, which on CPython 3.11 re-reads
    every archive on the worker's path: the spark-core jar and Spark's
    zips, unless :mod:`sagan_spark.pydaemon` has removed them.  An Arrow
    table is shipped to the JVM once and becomes a ``LocalRelation``: a
    broadcast over it needs no Python worker and no Spark job, so the
    regex batches stay the only Python tasks."""
    schema = StructType.fromDDL(ddl)
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema=schema)


def file_fingerprint(paths: Iterable[str]) -> tuple:
    """Sorted ``(path, size, st_mtime_ns)`` of every file named by
    ``paths`` (local paths or ``file:`` URIs; a directory stands for
    the files under it).  Raises ``OSError`` for anything it cannot
    stat, such as a remote URI."""
    out = []
    for p in paths:
        path = unquote(urlparse(p).path) if p.startswith("file:") else p
        for f in [os.path.join(d, n) for d, _, ns in os.walk(path) for n in ns] or [path]:
            st = os.stat(f)
            out.append((f, st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


_MEMO: dict[tuple, object] = {}


def memo(df: DataFrame, params: Hashable, compute: Callable[[], T]) -> T:
    """``compute()``, cached per (``df``'s input content, ``params``).

    The key is the analyzed plan's semantic hash, the fingerprint of
    ``df.inputFiles()`` and ``params``.  The semantic hash alone cannot
    see a path rewritten in place: the plan reads the same, only its
    files change.  With their sizes and mtimes in the key such a
    rewrite recomputes, so no entry needs clearing by hand.  When the
    key cannot be built (an input that is not a local file, or a frame
    with no JVM plan behind it) the value is computed and not stored."""
    try:
        key = (
            df._jdf.queryExecution().analyzed().semanticHash(),
            file_fingerprint(df.inputFiles()),
            params,
        )
    except (OSError, Py4JError, AttributeError):
        return compute()
    if key not in _MEMO:
        _MEMO[key] = compute()
    return _MEMO[key]
