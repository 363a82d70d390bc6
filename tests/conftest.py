from __future__ import annotations

import duckdb
import pytest

from sagan_spark import session
from sagan_spark.session import build_session

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MED = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="session")
def spark():
    s = build_session("sagan_spark_tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def memo_store(monkeypatch):
    """An empty store for :func:`sagan_spark.session.memo`, restored
    after the test."""
    store: dict = {}
    monkeypatch.setattr(session, "_MEMO", store)
    return store


_DUCK_CONS: dict[str, duckdb.DuckDBPyConnection] = {}


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with the same views the driver registers.

    ONE memoized connection per sf_dir: the driver-loop simulation runs
    ~48 oracle queries, several with recursive CTEs / all-pairs joins —
    a fresh connection per query leaks each one's buffer pool for the
    rest of the session (observed: C++ bad_alloc in DuckDB mid-suite
    after ~a dozen heavy oracles)."""
    con = _DUCK_CONS.get(sf_dir)
    if con is None:
        con = duckdb.connect()
        # Heavy oracle twins (k-means CTEs, recursive dedup clusters,
        # all-candidate cosine joins) must SPILL, not bad_alloc: an
        # explicit memory_limit + temp_directory turns "allocate past
        # the pool and die" into "spill to disk and finish" (VERDICT r4
        # item 2 — ann_ivf_topk OOM'd the shared connection).
        con.execute("SET memory_limit='4GB'")
        con.execute("SET temp_directory='/tmp/duckdb_spill'")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        _DUCK_CONS[sf_dir] = con
    return con


@pytest.fixture(scope="session")
def duck():
    return duck_con(SF_DIR)
