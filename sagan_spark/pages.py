"""The `pages` input table (BASELINE.json:input_hint).

Production shape: an Iceberg table of Common-Crawl-style web pages
``(url string, warc_ts timestamp, html binary, text string, lang
string)`` at 10^12-document scale, read with
``spark.read.format("iceberg").load(tbl)`` so Catalyst gets partition
pruning and column pruning for free (the wide ``html`` binary column
is only scanned by plans that reference it — SURVEY.md §4 O7).

Sandbox shape: no Iceberg catalog and no external data are available,
so `pages` is synthesized **deterministically** from the driver's
``documents.parquet`` with arithmetic that is expressible *identically*
in Spark and in DuckDB.  The same derivation exists twice:

  * :func:`load_pages`  — Spark DataFrame builder (the engine input)
  * :func:`pages_cte`   — DuckDB SQL text (the oracle input)

``tests/test_pages_parity.py`` asserts byte-identical ``text`` per
``url`` between the two — this is the input_hint per-row invariant
("byte-identical extracted text per url") at the source.

Synthesis properties (FIXTURES.md F1):
  * hot-domain skew: domain drawn from 50 domains with ~30/20/12/8%
    mass on the top four (drives the skew-handling code paths);
  * ``warc_ts`` spread over a 48 h span (drives window/expiry gates);
  * a seeded fraction of rows carries rule triggers appended to the
    document text: IPv4 pairs, ``port NNNN``, proto words, md5 hex,
    and a JSON blob (drives matchers M1-M8 and extractors X1-X4).
"""

from __future__ import annotations

import hashlib
import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sagan_spark.session import file_fingerprint

# Default replication factor: each source document becomes REP pages
# (distinct urls, distinct timestamps/domains).  Keeps the correctness
# tables small while letting bench scale rows independently of sf.
REP = 8

BASE_EPOCH = 1704067200  # 2024-01-01T00:00:00Z
SPAN_S = 172_800  # 48 h


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def load_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _s(col):  # int column -> string, identical to DuckDB's || coercion
    return col.cast("string")


def load_pages(spark: SparkSession, sf_dir: str, rep: int = REP) -> DataFrame:
    """Build the pages DataFrame.  Twin of :func:`pages_cte` — any edit
    here MUST be mirrored there (parity-tested)."""
    d = load_documents(spark, sf_dir)
    r = spark.range(rep).withColumnRenamed("id", "rep")
    df = d.crossJoin(r)

    doc_id, rep_c = F.col("doc_id"), F.col("rep")
    dd = (doc_id * 31 + rep_c * 17) % 997
    domain_id = (
        F.when(dd < 300, F.lit(0))
        .when(dd < 500, F.lit(1))
        .when(dd < 620, F.lit(2))
        .when(dd < 700, F.lit(3))
        .otherwise(dd % 46 + 4)
    )
    domain = F.concat(F.lit("d"), _s(domain_id), F.lit(".example.com"))
    url = F.concat(
        F.lit("https://"), domain, F.lit("/doc/"), _s(doc_id), F.lit("/"), _s(rep_c)
    )
    warc_epoch = F.lit(BASE_EPOCH) + (doc_id * 173 + rep_c * 7919) % SPAN_S

    a = _s(doc_id % 250)
    b = _s((rep_c * 11) % 250)
    c = _s((doc_id * 7) % 250)
    dsts = F.concat(F.lit(" dst=192.168."), _s(doc_id % 100), F.lit("."), _s(rep_c % 50))
    srcs = F.concat(F.lit(" src=10."), a, F.lit("."), b, F.lit("."), c)
    port = F.when(
        doc_id % 3 == 0, F.concat(F.lit(" port "), _s(doc_id % 5000 + 1024))
    ).otherwise(F.lit(""))
    # a second `port NNNN` occurrence on a subset of port-bearing rows:
    # drives the dual-port (sport/dport) extraction path (X2 → K4
    # unified2 dport_icode; [U] src/parsers/port.c scans ALL ports)
    port2 = F.when(
        (doc_id % 3 == 0) & (rep_c % 2 == 1),
        F.concat(F.lit(" port "), _s((doc_id * 13) % 5000 + 1024)),
    ).otherwise(F.lit(""))
    proto = (
        F.when(doc_id % 4 == 0, F.lit(" proto tcp"))
        .when(doc_id % 4 == 1, F.lit(" proto udp"))
        .when(doc_id % 4 == 2, F.lit(" proto icmp"))
        .otherwise(F.lit(""))
    )
    hsh = F.when(
        doc_id % 5 == 0, F.concat(F.lit(" hash="), F.md5(_s(doc_id)))
    ).otherwise(F.lit(""))
    js = F.when(
        doc_id % 2 == 0,
        F.concat(
            F.lit(' {"svc": "s'),
            _s(doc_id % 7),
            F.lit('", "code": '),
            _s((doc_id % 9) * 100),
            F.lit("}"),
        ),
    ).otherwise(F.lit(""))
    # v6 triggers: one full-form + one ::-compressed address (decimal
    # digits are valid hex chars; %9999 keeps groups ≤4 chars)
    v6 = F.when(
        doc_id % 6 == 0,
        F.concat(
            F.lit(" v6=2001:db8:0:0:"),
            _s(doc_id % 9999),
            F.lit(":"),
            _s((rep_c * 13) % 9999),
            F.lit(":0:1 v6dst=2001:db8::"),
            _s(doc_id % 250),
        ),
    ).otherwise(F.lit(""))

    text = F.concat(F.col("text"), srcs, dsts, port, port2, proto, hsh, js, v6)

    return df.select(
        url.alias("url"),
        domain.alias("domain"),
        warc_epoch.cast("long").alias("warc_epoch"),
        F.timestamp_seconds(warc_epoch).alias("warc_ts"),
        F.encode(
            F.concat(F.lit("<html><body>"), text, F.lit("</body></html>")), "UTF-8"
        ).alias("html"),
        text.alias("text"),
        F.col("lang").alias("lang"),
        F.col("source").alias("source"),
        doc_id.alias("doc_id"),
        rep_c.alias("rep"),
    )


def pages_cte(rep: int = REP) -> str:
    """DuckDB CTE body producing the identical pages relation from the
    pre-registered ``documents`` view.  Returned text is the SELECT for
    ``WITH pages AS ( ... )``."""
    return f"""
SELECT
  'https://' || dom || '/doc/' || d.doc_id || '/' || r.rep AS url,
  dom AS domain,
  {BASE_EPOCH} + (d.doc_id * 173 + r.rep * 7919) % {SPAN_S} AS warc_epoch,
  d.text
    || ' src=10.' || (d.doc_id % 250) || '.' || ((r.rep * 11) % 250) || '.' || ((d.doc_id * 7) % 250)
    || ' dst=192.168.' || (d.doc_id % 100) || '.' || (r.rep % 50)
    || CASE WHEN d.doc_id % 3 = 0 THEN ' port ' || (d.doc_id % 5000 + 1024) ELSE '' END
    || CASE WHEN d.doc_id % 3 = 0 AND r.rep % 2 = 1 THEN ' port ' || ((d.doc_id * 13) % 5000 + 1024) ELSE '' END
    || CASE d.doc_id % 4 WHEN 0 THEN ' proto tcp' WHEN 1 THEN ' proto udp' WHEN 2 THEN ' proto icmp' ELSE '' END
    || CASE WHEN d.doc_id % 5 = 0 THEN ' hash=' || md5(CAST(d.doc_id AS VARCHAR)) ELSE '' END
    || CASE WHEN d.doc_id % 2 = 0 THEN ' {{"svc": "s' || (d.doc_id % 7) || '", "code": ' || ((d.doc_id % 9) * 100) || '}}' ELSE '' END
    || CASE WHEN d.doc_id % 6 = 0 THEN ' v6=2001:db8:0:0:' || (d.doc_id % 9999) || ':' || ((r.rep * 13) % 9999) || ':0:1 v6dst=2001:db8::' || (d.doc_id % 250) ELSE '' END
    AS text,
  d.lang,
  d.source,
  d.doc_id,
  r.rep
FROM documents d
CROSS JOIN (
  SELECT CAST(x.range AS BIGINT) AS rep FROM range({rep}) x
) r
CROSS JOIN LATERAL (
  SELECT 'd' || (CASE WHEN dd < 300 THEN 0 WHEN dd < 500 THEN 1
                      WHEN dd < 620 THEN 2 WHEN dd < 700 THEN 3
                      ELSE dd % 46 + 4 END) || '.example.com' AS dom
  FROM (SELECT (d.doc_id * 31 + r.rep * 17) % 997 AS dd)
) dm
""".strip()


def pages_with(rep: int = REP) -> str:
    """``WITH pages AS (...)`` prefix for oracle SQL strings."""
    return f"WITH pages AS (\n{pages_cte(rep)}\n)"


def pages_table(
    spark: SparkSession,
    sf_dir: str,
    rep: int = REP,
    fmt: str = "parquet",
    iceberg_table: str | None = None,
) -> DataFrame:
    """Materialized pages table (process-cached parquet under /tmp).

    Production reads pages from an Iceberg table — pass
    ``fmt="iceberg"`` and the catalog table identifier to take that
    path (``spark.read.format("iceberg").load(tbl)``; Catalyst gets
    hours(warc_ts) partition pruning + column pruning from the Iceberg
    scan).  The sandbox ships no Iceberg runtime jar, so the default
    stays the parquet twin with the same 64-way warc_epoch range
    layout; tests/test_pages_parity.py skips the iceberg leg when the
    DataSource is absent and exercises it when present.

    The synthesized frame's expression tree would otherwise be
    re-inlined into every downstream operator (each rule condition
    references `text`), which both bloats codegen and re-executes the
    synthesis — materializing once is exactly what the real scan gives
    us for free."""
    if fmt == "iceberg":
        if not iceberg_table:
            raise ValueError("fmt='iceberg' requires iceberg_table=<catalog.db.tbl>")
        return spark.read.format("iceberg").load(iceberg_table)
    if fmt != "parquet":
        raise ValueError(f"unsupported pages format: {fmt!r}")
    # keyed on this module's own bytes (the synthesis) and the
    # documents input's files, so an edit to either rebuilds the cache
    h = hashlib.md5(Path(__file__).read_bytes())
    h.update(repr((rep, file_fingerprint([f"{sf_dir}/documents.parquet"]))).encode())
    path = f"/tmp/sagan_pages_cache/{h.hexdigest()[:12]}"
    marker = f"{path}/_SUCCESS"
    if not os.path.exists(marker):
        # 64-way range layout on warc_epoch: the synthesis plan would
        # otherwise inherit the single-file documents scan and write ~6
        # files, capping every downstream scan at 6-way parallelism
        # (measured).  Range partitioning gives contiguous time slices,
        # so the runner's event-time units prune files via parquet
        # min/max stats — the parquet analog of Iceberg hours(warc_ts).
        (
            load_pages(spark, sf_dir, rep)
            .repartitionByRange(64, "warc_epoch")
            .write.mode("overwrite")
            .parquet(path)
        )
    return spark.read.parquet(path)
