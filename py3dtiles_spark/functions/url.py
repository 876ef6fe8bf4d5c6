"""URL analysis operators for web-corpus curation — all native column
expressions (regexp + string ops inside whole-stage codegen), mirroring
what a Common-Crawl-scale pipeline runs before any text processing:
host/registrable-domain extraction, domain blocklist filtering,
and per-domain crawl stats.

Scale notes:
- extraction is per-row native regex — embarrassingly parallel, zero
  shuffle, stays in codegen;
- blocklist filtering is a BROADCAST anti-join (blocklists are dim-table
  sized: thousands to low millions of rows) — the points side never
  shuffles;
- per-domain stats are groupBy(host) with map-side partial aggregation;
  hot domains (the web's zipfian head) are exactly the AQE skew-join /
  two-level-agg case, so the cardinality-reducing agg runs BEFORE any
  join against domain metadata.

The `domain_stats` query in `__spark_entry__.py` cross-checks the regex
extraction: its DuckDB oracle derives host and domain from the URL
construction arithmetic instead of parsing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# scheme://host[:port]/path... — host is everything after the optional
# scheme and userinfo up to the first :, / or end
_HOST_RE = r"^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/@]*@)?([^:/?#]+)"
# multi-label public suffixes a heuristic registrable-domain needs (the
# common two-label suffixes; a production run ships the full PSL as a
# broadcast dim table — same join shape)
_TWO_LABEL_SUFFIXES = (
    "co.uk", "ac.uk", "gov.uk", "com.au", "net.au", "org.au", "co.jp",
    "ne.jp", "or.jp", "com.br", "com.cn", "com.mx", "co.in", "co.kr",
    "com.tr", "com.ar")


def url_host(url_col: str = "url") -> Column:
    """Hostname, lowercased."""
    return F.lower(F.regexp_extract(F.col(url_col), _HOST_RE, 1))


def registrable_domain(url_col: str = "url") -> Column:
    """eTLD+1 heuristic: last two host labels, or last three when the
    two-label tail is a known multi-label public suffix."""
    parts = F.split(url_host(url_col), r"\.")
    n = F.size(parts)
    last2 = F.concat_ws(".", F.element_at(parts, -2), F.element_at(parts, -1))
    last3 = F.concat_ws(".", F.element_at(parts, -3), F.element_at(parts, -2),
                        F.element_at(parts, -1))
    return (F.when(n <= 2, url_host(url_col))
            .when(last2.isin(*_TWO_LABEL_SUFFIXES) & (n >= 3), last3)
            .otherwise(last2))


def filter_domain_blocklist(df: DataFrame, blocklist: DataFrame,
                            url_col: str = "url",
                            domain_col: str = "domain") -> DataFrame:
    """Drop rows whose registrable domain is blocklisted — BROADCAST
    left-anti join, so the corpus side never shuffles. `blocklist` is a
    one-column DataFrame of lowercase domains (dim-table sized)."""
    tagged = df.withColumn("_rd", registrable_domain(url_col))
    bl = F.broadcast(
        blocklist.select(F.lower(F.col(domain_col)).alias("_rd")).distinct())
    return tagged.join(bl, "_rd", "left_anti").drop("_rd")


def domain_stats(df: DataFrame, url_col: str = "url",
                 chars_col: str | None = None) -> DataFrame:
    """Per-registrable-domain crawl stats: docs, distinct hosts, total
    chars (when a size column exists). One map-side-combined agg."""
    g = df.select(registrable_domain(url_col).alias("domain"),
                  url_host(url_col).alias("host"),
                  *( [F.col(chars_col).alias("_c")] if chars_col else []))
    aggs = [F.count(F.lit(1)).alias("docs"),
            F.countDistinct("host").alias("hosts")]
    if chars_col:
        aggs.append(F.sum("_c").alias("total_chars"))
    return g.groupBy("domain").agg(*aggs)
