"""Geohash native-expr encode (known public test vectors + SQL-twin
parity) and URL curation operators."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest

from py3dtiles_spark.functions.geohash import (
    BASE32, geohash_expr, geohash_sql)


def _ref_geohash(lat: float, lon: float, precision: int) -> str:
    """Independent bisection reference (the textbook algorithm)."""
    lat_rng, lon_rng = [-90.0, 90.0], [-180.0, 180.0]
    bits, out, ch, even = 0, [], 0, True
    while len(out) < precision:
        if even:
            mid = (lon_rng[0] + lon_rng[1]) / 2
            if lon >= mid:
                ch = (ch << 1) | 1
                lon_rng[0] = mid
            else:
                ch <<= 1
                lon_rng[1] = mid
        else:
            mid = (lat_rng[0] + lat_rng[1]) / 2
            if lat >= mid:
                ch = (ch << 1) | 1
                lat_rng[0] = mid
            else:
                ch <<= 1
                lat_rng[1] = mid
        even = not even
        bits += 1
        if bits == 5:
            out.append(BASE32[ch])
            bits, ch = 0, 0
    return "".join(out)


KNOWN = [
    (57.64911, 10.40744, "u4pruydqqvj"),     # Niemeyer's canonical vector
    (42.6, -5.6, "ezs42"),                   # original geohash.org example
]


def test_reference_bisection_matches_known_vectors():
    for lat, lon, gh in KNOWN:
        assert _ref_geohash(lat, lon, len(gh)) == gh


def test_expr_matches_known_vectors_and_reference(spark):
    rng = np.random.default_rng(4)
    pts = [(lon, lat) for lat, lon, _ in KNOWN] + [
        (float(lon), float(lat))
        for lon, lat in zip(rng.uniform(-180, 180, 60),
                            rng.uniform(-90, 90, 60))]
    df = spark.createDataFrame(pts, "x double, y double")
    for precision in (1, 5, 7, 11):
        got = [r[0] for r in
               df.select(geohash_expr(precision).alias("gh")).collect()]
        want = [_ref_geohash(lat, lon, precision) for lon, lat in pts]
        assert got == want


def test_sql_twin_matches_expr(spark):
    rng = np.random.default_rng(9)
    pts = [(float(lon), float(lat))
           for lon, lat in zip(rng.uniform(-180, 180, 200),
                               rng.uniform(-90, 90, 200))]
    df = spark.createDataFrame(pts, "x double, y double")
    got = sorted(r[0] for r in
                 df.select(geohash_expr(6).alias("gh")).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE pts(x DOUBLE, y DOUBLE)")
    con.executemany("INSERT INTO pts VALUES (?, ?)", pts)
    want = sorted(r[0] for r in con.execute(
        f"SELECT {geohash_sql(6, 'x', 'y')} FROM pts").fetchall())
    assert got == want


def test_prefix_is_parent_cell(spark):
    """Truncation = coarser cell: points sharing a 6-char hash share all
    shorter prefixes (hierarchy, the quadkey property)."""
    rng = np.random.default_rng(2)
    pts = [(float(lon), float(lat))
           for lon, lat in zip(rng.uniform(-180, 180, 100),
                               rng.uniform(-90, 90, 100))]
    df = spark.createDataFrame(pts, "x double, y double")
    rows = df.select(geohash_expr(7).alias("g7"),
                     geohash_expr(4).alias("g4"),
                     geohash_expr(2).alias("g2")).collect()
    for r in rows:
        assert r.g7.startswith(r.g4) and r.g4.startswith(r.g2)


def test_precision_guard():
    with pytest.raises(ValueError):
        geohash_expr(0)
    with pytest.raises(ValueError):
        geohash_expr(13)
    with pytest.raises(ValueError):
        geohash_sql(13, "x", "y")


# ------------------------------------------------------------------- URL --

def test_url_parts(spark):
    from py3dtiles_spark.functions.url import registrable_domain, url_host
    rows = [
        ("https://www.Example.COM/a/b?q=1", "www.example.com", "example.com"),
        ("http://news.bbc.co.uk/stories/x", "news.bbc.co.uk", "bbc.co.uk"),
        ("ftp://user:pw@files.host9.example:21/data", "files.host9.example",
         "host9.example"),
        ("host42.example/p/7", "host42.example", "host42.example"),
        ("https://localhost", "localhost", "localhost"),
    ]
    df = spark.createDataFrame([(r[0],) for r in rows], "url string")
    got = df.select("url", url_host().alias("h"),
                    registrable_domain().alias("d")).collect()
    for (u, h, d), r in zip(rows, got):
        assert (r.h, r.d) == (h, d), u


def test_blocklist_anti_join_broadcast(spark):
    from py3dtiles_spark.functions.url import filter_domain_blocklist
    urls = [f"https://host{i % 5}.example/p/{i}" for i in range(100)]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    bl = spark.createDataFrame([("host0.example",), ("HOST3.example",)],
                               "domain string")
    kept = filter_domain_blocklist(df, bl)
    assert kept.count() == 60                     # 2 of 5 hosts dropped
    assert "_rd" not in kept.columns
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_domain_stats(spark):
    from py3dtiles_spark.functions.url import domain_stats
    rows = [(f"https://h{i % 3}.site{i % 2}.example/x", i) for i in range(12)]
    df = spark.createDataFrame(rows, "url string, n long")
    got = {r.domain: (r.docs, r.hosts, r.total_chars)
           for r in domain_stats(df, chars_col="n").collect()}
    # site0 gets even i (6 docs), site1 odd (6 docs); hosts h0/h1/h2 x site
    assert got["site0.example"][0] == 6 and got["site1.example"][0] == 6
    assert got["site0.example"][1] == 3 and got["site1.example"][1] == 3
    assert got["site0.example"][2] == sum(i for i in range(12) if i % 2 == 0)
