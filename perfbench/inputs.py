"""Seeded benchmark inputs: documents, the pages table, rulesets and
the DuckDB oracle reference counts.

Everything here runs before any timed region.  The pages table is
synthesised with the oracle's SQL twin of ``pages.load_pages``
(``pages.pages_cte``, parity-tested byte-identical against the Spark
builder) and written with the same 64-way ``warc_epoch`` range layout
that ``pages.pages_table`` gives its cache, so the engine scans what it
would scan in production while the benchmark writes only inside its
own work directory.
"""

from __future__ import annotations

import os
import random

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from sagan_spark.oracle import pipeline_ctes
from sagan_spark.pages import pages_cte
from workloads import AFTER_GATE

# the corpus vocabulary and language mix of the repo's documents tables
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS = ["en"] * 41 + ["zh"] * 15 + ["es"] * 15 + ["fr"] * 15 + ["de"] * 14
SOURCES = [f"src{i}" for i in range(20)]
DOC_ID_SPACE = 100_000
PAGE_FILES = 64  # pages_table's range-partition count


PAGES_COLS = (
    "url, domain, warc_epoch, to_timestamp(warc_epoch) AS warc_ts, "
    "encode('<html><body>' || text || '</body></html>') AS html, "
    "text, lang, source, doc_id, rep"
)


def documents(seed: int, n_docs: int) -> pa.Table:
    """``n_docs`` documents: the seed picks a block of consecutive doc ids
    and the text.  The pages triggers are residues of the doc id (``% 3``
    port, ``% 4`` proto, ``% 5`` hash, ``% 6`` v6, ...), so a block whose
    length is a multiple of 60 carries every trigger at its exact rate
    and the work per run does not swing with the seed; a random sample
    of a few hundred ids would move the rule-hit mix by several percent."""
    rng = random.Random(seed)
    first = rng.randrange(DOC_ID_SPACE)
    ids = range(first, first + n_docs)
    texts = [" ".join(rng.choices(WORDS, k=rng.randint(10, 100))) for _ in ids]
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": texts,
            "lang": [rng.choice(LANGS) for _ in ids],
            "source": [rng.choice(SOURCES) for _ in ids],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def connect(data_dir: str, tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads=4")
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{tmp_dir}'")
    con.execute("SET max_expression_depth TO 100000")
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{data_dir}/documents.parquet')"
    )
    return con


def write_inputs(seed: int, n_docs: int, rep: int, data_dir: str, tmp_dir: str) -> int:
    """Write ``documents.parquet`` and the ``pages/`` table; returns the
    page count."""
    os.makedirs(data_dir, exist_ok=True)
    os.makedirs(tmp_dir, exist_ok=True)
    pq.write_table(documents(seed, n_docs), f"{data_dir}/documents.parquet")
    con = connect(data_dir, tmp_dir)
    try:
        pages = con.execute(
            f"WITH pages AS ({pages_cte(rep)}) "
            f"SELECT {PAGES_COLS} FROM pages ORDER BY warc_epoch, url"
        ).arrow()
    finally:
        con.close()
    out = f"{data_dir}/pages"
    os.makedirs(out, exist_ok=True)
    n = pages.num_rows
    for i in range(PAGE_FILES):
        lo, hi = n * i // PAGE_FILES, n * (i + 1) // PAGE_FILES
        if hi > lo:
            pq.write_table(pages.slice(lo, hi - lo), f"{out}/part-{i:05d}.parquet")
    return n


def _ctes(rules, rep: int) -> str:
    # pages is read once per rule by the matched UNION ALL: materialize
    # it, or thousands of rules re-synthesize it thousands of times.  A
    # ruleset without window gates (the synthetic sets) makes
    # window_gates_sql emit ``QUALIFY TRUE``, which DuckDB rejects
    # without a window function; the relation is then cgated itself.
    return (
        pipeline_ctes(rules, rep)
        .replace("WITH pages AS (", "WITH pages AS MATERIALIZED (", 1)
        .replace(" QUALIFY TRUE", "")
    )


def oracle_rows(con, select_sql: str, rules, rep: int) -> list[tuple]:
    return con.execute(_ctes(rules, rep) + "\n" + select_sql).fetchall()


def oracle_funnel(con, rules, rep: int) -> dict[str, int]:
    """Row counts of the oracle relations the traced funnel mirrors."""
    rels = ("matched", "extracted", "cgated", "wgated", "routed")
    sql = _ctes(rules, rep) + "\nSELECT " + ", ".join(
        f"(SELECT count(*) FROM {r})" for r in rels
    )
    return dict(zip(rels, con.execute(sql).fetchone()))


def reference(con, stream: bool, rep: int) -> dict:
    """What every timed job must reproduce, from the DuckDB oracle."""
    rows = oracle_rows(
        con, "SELECT sink, signature_id, count(*) FROM routed GROUP BY 1, 2", None, rep
    )
    ref = {"counts": {f"{s}/{sid}": n for s, sid, n in rows}}
    if stream:
        sql = f"SELECT url FROM wgated WHERE sid = {AFTER_GATE[0]}"
        ref["after"] = sorted(r[0] for r in oracle_rows(con, sql, None, rep))
    return ref
