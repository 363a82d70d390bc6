"""Enrichment joins — GeoIP country lookup, classification→priority,
country_code gate (SURVEY.md §2.5 E1-E3; [U] upstream src/geoip.c,
src/classifications.c).

GeoIP at scale (§4 O8): a naive range join against an overlapping-CIDR
table becomes a BroadcastNestedLoopJoin (O(rows × ranges)) and
longest-prefix needs a per-row window (a shuffle).  Both are avoided by
preprocessing the dimension ONCE on the driver:

  1. **Flatten** overlapping CIDRs into disjoint intervals, resolving
     longest-prefix-wins during the sweep (nested /24 beats its /16).
  2. **Expand** each disjoint interval to the /16 buckets it covers.

The runtime join is then a plain **broadcast hash equi-join** on
``ip >> 16`` plus a residual range filter — O(1) per probe, no window,
no shuffle, and each IP matches at most one row.  The DuckDB oracle
deliberately takes the *other* route (overlapping ranges + row_number
by prefix length) so the flattening itself is verified.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sagan_spark.session import local_df


def flatten_ranges(
    rows: list[tuple[int, int, int, str]],
) -> list[tuple[int, int, str]]:
    """(start, end, prefix_len, cc) overlapping → disjoint (start, end, cc),
    longest prefix wins on overlap.

    O(n log n) boundary sweep with a max-heap of active intervals
    (lazy expiry): real GeoIP2 tables carry ~400 k CIDRs, for which the
    naive per-segment scan is O(bounds × rows) ≈ 10¹¹ comparisons of
    driver time.  Tie-break on equal prefix length = first row in input
    order (heap key ``(-plen, input_idx)``), matching the naive spec.
    ``tests/test_enrich_sweep.py`` pins equivalence to the naive
    implementation on random nested CIDR sets and a 100 k-range timing
    bound."""
    if not rows:
        return []
    import heapq

    bounds = sorted({b for s, e, _, _ in rows for b in (s, e + 1)})
    by_start = sorted(range(len(rows)), key=lambda i: rows[i][0])
    heap: list[tuple[int, int, int, str]] = []  # (-plen, idx, end, cc)
    out: list[tuple[int, int, str]] = []
    i = 0
    for lo, hi in zip(bounds, bounds[1:]):
        while i < len(by_start) and rows[by_start[i]][0] <= lo:
            idx = by_start[i]
            s, e, plen, cc = rows[idx]
            heapq.heappush(heap, (-plen, idx, e, cc))
            i += 1
        while heap and heap[0][2] < lo:  # expired under the sweep line
            heapq.heappop(heap)
        if heap:
            cc = heap[0][3]
            if out and out[-1][1] == lo - 1 and out[-1][2] == cc:
                out[-1] = (out[-1][0], hi - 1, cc)
            else:
                out.append((lo, hi - 1, cc))
    return out


def bucketed_geo_rows(
    rows: list[tuple[int, int, int, str]],
) -> list[tuple[int, int, int, str]]:
    """Disjoint intervals × the /16 buckets they touch →
    (bucket, net_start, net_end, cc)."""
    out = []
    for s, e, cc in flatten_ranges(rows):
        for b in range(s >> 16, (e >> 16) + 1):
            out.append((b, s, e, cc))
    return out


def geo_dim_df(spark: SparkSession, rows: list[tuple[int, int, int, str]]) -> DataFrame:
    return local_df(
        spark, bucketed_geo_rows(rows), "bucket long, net_start long, net_end long, cc string"
    )


def ip_to_long_col(ip_col: str) -> Column:
    """IPv4 dotted-quad → long.  NULL (not an error) for anything else —
    IPv6 strings flow through the geo join unresolved, so the casts and
    element accesses must be the TRY_ forms (ANSI-safe)."""
    p = F.split(F.col(ip_col), r"\.")

    def seg(i: int) -> Column:
        return F.try_element_at(p, F.lit(i)).try_cast("long")

    return seg(1) * 16777216 + seg(2) * 65536 + seg(3) * 256 + seg(4)


def ip_to_long_sql(ip: str) -> str:
    """DuckDB twin of :func:`ip_to_long_col` (string_split is 1-based,
    NULL out of bounds; TRY_CAST mirrors Spark try_cast)."""
    return (
        f"(TRY_CAST(string_split({ip}, '.')[1] AS BIGINT) * 16777216 + "
        f"TRY_CAST(string_split({ip}, '.')[2] AS BIGINT) * 65536 + "
        f"TRY_CAST(string_split({ip}, '.')[3] AS BIGINT) * 256 + "
        f"TRY_CAST(string_split({ip}, '.')[4] AS BIGINT))"
    )


def with_geo(df: DataFrame, geo: DataFrame, ip_col: str, out_cc: str) -> DataFrame:
    """Broadcast bucketed-equi geo join (disjoint dim ⇒ ≤1 match/row)."""
    ip_long = ip_to_long_col(ip_col)
    g = geo.select(
        F.col("bucket").alias(f"_b_{out_cc}"),
        F.col("net_start").alias(f"_s_{out_cc}"),
        F.col("net_end").alias(f"_e_{out_cc}"),
        F.col("cc").alias(out_cc),
    )
    df = df.withColumn(f"_ipl_{out_cc}", ip_long)
    joined = df.join(
        F.broadcast(g),
        (F.col(f"_ipl_{out_cc}") >= F.col(f"_s_{out_cc}"))
        & (F.col(f"_ipl_{out_cc}") <= F.col(f"_e_{out_cc}"))
        & (F.shiftright(F.col(f"_ipl_{out_cc}"), 16) == F.col(f"_b_{out_cc}")),
        "left",
    )
    return joined.drop(f"_b_{out_cc}", f"_s_{out_cc}", f"_e_{out_cc}", f"_ipl_{out_cc}")


def geo_sql(ip: str, out_cc: str, geo_values: str) -> str:
    """DuckDB lateral twin: overlapping ranges + longest-prefix-wins via
    ORDER BY prefix_len DESC LIMIT 1 — independently verifies the
    driver-side flattening."""
    ipl = ip_to_long_sql(ip)
    return (
        f"(SELECT cc FROM {geo_values} "
        f"WHERE {ipl} >= geo.net_start AND {ipl} <= geo.net_end "
        f"ORDER BY geo.prefix_len DESC LIMIT 1) AS {out_cc}"
    )


def ipv6_hex_col(ip_col: str) -> Column:
    """IPv6 string (full or ``::``-compressed) → 32-char lowercase hex.

    Fixed-width hex makes LEXICOGRAPHIC order equal NUMERIC order, so
    range joins work on plain string comparisons — no 128-bit integer
    type needed (SURVEY §1.2 promised 16-byte binary; fixed-width hex is
    the same ordering with plain builtin expressions on both engines).
    NULL for anything that is not an 8-group v6 address after ``::``
    expansion (v4, malformed, v4-embedded forms)."""
    ip = F.lower(F.col(ip_col))
    nonempty = lambda x: x != ""  # noqa: E731
    lparts = F.filter(F.split(F.substring_index(ip, "::", 1), ":"), nonempty)
    rparts = F.filter(F.split(F.substring_index(ip, "::", -1), ":"), nonempty)
    mid = F.array_repeat(F.lit("0"), F.lit(8) - F.size(lparts) - F.size(rparts))
    # the expansion branch needs ≥1 elided group; a "::" with 8+ written
    # groups is malformed and falls through to the plain split (where
    # the empty group makes size ≠ 8 → NULL, same as the oracle twin)
    groups = F.when(
        ip.contains("::") & (F.size(lparts) + F.size(rparts) < F.lit(8)),
        F.concat(lparts, mid, rparts),
    ).otherwise(F.split(ip, ":"))
    hexs = F.array_join(F.transform(groups, lambda g: F.lpad(g, 4, "0")), "")
    # >1 '::' is malformed (RFC 4291 allows at most one elision) — and
    # the engine/oracle twins would otherwise disagree on which side of
    # the extra '::' to keep, so both reject it identically (r4 fix)
    one_elision = F.size(F.split(ip, "::")) <= 2
    return F.when(
        ip.contains(":")
        & one_elision
        & (F.size(groups) == 8)
        & hexs.rlike("^[0-9a-f]{32}$"),
        hexs,
    )


def ipv6_hex_sql(ip: str) -> str:
    """DuckDB twin of :func:`ipv6_hex_col` (list_filter/list_transform
    mirror the Spark higher-order functions)."""
    low = f"lower({ip})"
    lparts = f"list_filter(string_split(string_split({low}, '::')[1], ':'), x -> x != '')"
    rparts = (
        f"list_filter(string_split(coalesce(string_split({low}, '::')[2], ''), ':'),"
        " x -> x != '')"
    )
    groups = (
        f"(CASE WHEN contains({low}, '::') THEN "
        f"list_concat(list_concat({lparts}, "
        f"string_split(rtrim(repeat('0,', 8 - len({lparts}) - len({rparts})), ','), ',')), "
        f"{rparts}) "
        f"ELSE string_split({low}, ':') END)"
    )
    hexs = f"list_aggregate(list_transform({groups}, g -> lpad(g, 4, '0')), 'string_agg', '')"
    return (
        f"(CASE WHEN contains({low}, ':') "
        f"AND len(string_split({low}, '::')) <= 2 "
        f"AND len({groups}) = 8 "
        f"AND regexp_matches({hexs}, '^[0-9a-f]{{32}}$') THEN {hexs} END)"
    )


def flatten_ranges_hex(
    rows: list[tuple[int, int, int, str]],
) -> list[tuple[str, str, str, str]]:
    """(start128, end128, prefix_len, cc) overlapping v6 CIDRs →
    disjoint bucketed (bucket, start_hex, end_hex, cc) rows.  Reuses the
    v4 longest-prefix heap sweep (pure-int, width-agnostic); the bucket
    is the top 16 bits (first 4 hex chars) — the v6 analog of the v4
    ``/16`` equi-join bucket."""
    out = []
    for s, e, cc in flatten_ranges(rows):
        for b in range(s >> 112, (e >> 112) + 1):
            out.append((format(b, "04x"), format(s, "032x"), format(e, "032x"), cc))
    return out


def geo6_dim_df(
    spark: SparkSession, rows: list[tuple[int, int, int, str]]
) -> DataFrame:
    return local_df(
        spark,
        flatten_ranges_hex(rows),
        "bucket string, net_start string, net_end string, cc string",
    )


def with_geo_v6(df: DataFrame, geo6: DataFrame, ip_col: str, out_cc: str) -> DataFrame:
    """E1 for IPv6: broadcast bucketed equi-join on the /16-bit hex
    prefix plus a string-range residual (disjoint dim ⇒ ≤1 match)."""
    g = geo6.select(
        F.col("bucket").alias(f"_b6_{out_cc}"),
        F.col("net_start").alias(f"_s6_{out_cc}"),
        F.col("net_end").alias(f"_e6_{out_cc}"),
        F.col("cc").alias(out_cc),
    )
    df = df.withColumn(f"_ip6_{out_cc}", ipv6_hex_col(ip_col))
    joined = df.join(
        F.broadcast(g),
        (F.substring(F.col(f"_ip6_{out_cc}"), 1, 4) == F.col(f"_b6_{out_cc}"))
        & (F.col(f"_ip6_{out_cc}") >= F.col(f"_s6_{out_cc}"))
        & (F.col(f"_ip6_{out_cc}") <= F.col(f"_e6_{out_cc}")),
        "left",
    )
    return joined.drop(
        f"_b6_{out_cc}", f"_s6_{out_cc}", f"_e6_{out_cc}", f"_ip6_{out_cc}"
    )


def geo6_lateral_sql(ip: str, out_cc: str, geo6_values: str) -> str:
    """Oracle twin: overlapping v6 ranges + longest-prefix-wins — the
    independent route, verifying the hex flattening."""
    ip6 = ipv6_hex_sql(ip)
    return (
        f"(SELECT cc FROM {geo6_values} "
        f"WHERE {ip6} >= g6.net_start AND {ip6} <= g6.net_end "
        f"ORDER BY g6.prefix_len DESC LIMIT 1) AS {out_cc}"
    )


def with_blacklist(df: DataFrame, bl: DataFrame, ip_col: str, out: str) -> DataFrame:
    """Blacklist processor (E4; [U] src/processors/blacklist.c): CIDR
    hit → list name.  Same disjoint-bucketed broadcast equi-join shape
    as GeoIP (lists are non-overlapping by construction; overlapping
    feeds would go through the same flatten_ranges preprocessing)."""
    return with_geo(df, bl, ip_col, out)


def blacklist_dim_df(spark: SparkSession, rows: list[tuple[int, int, int, str]]) -> DataFrame:
    """rows = (net_start, net_end, prefix_len, list_name) → bucketed."""
    return geo_dim_df(spark, rows)


def blacklist_lateral_sql(ip: str, out: str, bl_values: str) -> str:
    """Oracle: plain range probe (independent of the bucketing)."""
    ipl = ip_to_long_sql(ip)
    return (
        f"(SELECT list_name FROM {bl_values} "
        f"WHERE {ipl} >= bl.net_start AND {ipl} <= bl.net_end LIMIT 1) AS {out}"
    )


def bluedot_lateral_sql(ip: str, out: str, bd_values: str) -> str:
    """Oracle twin for the bluedot-style static reputation lookup (E6):
    plain range probe, independent of the engine's bucketing."""
    ipl = ip_to_long_sql(ip)
    return (
        f"(SELECT category FROM {bd_values} "
        f"WHERE {ipl} >= bd.net_start AND {ipl} <= bd.net_end LIMIT 1) AS {out}"
    )


def with_intel(df: DataFrame, intel: DataFrame) -> DataFrame:
    """Zeek-intel joins (E5; [U] src/processors/zeek-intel.c): typed
    indicator equi-joins — domain indicators vs the page domain, hash
    indicators vs the extracted hash.  Broadcast both (intel feeds are
    small dims)."""
    dom = intel.where(F.col("itype") == "domain").select(
        F.col("indicator").alias("domain"), F.col("isource").alias("intel_domain_src")
    )
    hsh = intel.where(F.col("itype") == "hash").select(
        F.col("indicator").alias("hash"), F.col("isource").alias("intel_hash_src")
    )
    return df.join(F.broadcast(dom), "domain", "left").join(
        F.broadcast(hsh), "hash", "left"
    )


def with_classification(df: DataFrame, cls: DataFrame) -> DataFrame:
    """classtype → (priority, description); broadcast equi-join (E2)."""
    return df.join(F.broadcast(cls), "classtype", "left")


def country_gate(df: DataFrame) -> DataFrame:
    """Apply the per-rule country_code is/isnot predicate (E1 gate).
    Unknown country is '--' (never in a fixture list), so `is` fails and
    `isnot` passes for unresolved IPs — matching the reference's
    'no GeoIP record' path ([U] src/geoip.c)."""
    cc = F.coalesce(
        F.when(F.col("country_track") == "by_src", F.col("src_cc")).otherwise(
            F.col("dst_cc")
        ),
        F.lit("--"),
    )
    keep = (
        F.col("country_track").isNull()
        | (
            (
                (F.size("country_is") == 0)
                | F.array_contains("country_is", cc)
            )
            & (
                (F.size("country_isnot") == 0)
                | ~F.array_contains("country_isnot", cc)
            )
        )
    )
    return df.where(keep)


def country_gate_sql() -> str:
    """DuckDB WHERE twin of :func:`country_gate`."""
    cc = (
        "coalesce(CASE WHEN country_track = 'by_src' THEN src_cc ELSE dst_cc END, '--')"
    )
    return (
        "(country_track IS NULL OR ("
        f"(len(country_is) = 0 OR list_contains(country_is, {cc})) AND "
        f"(len(country_isnot) = 0 OR NOT list_contains(country_isnot, {cc}))))"
    )
