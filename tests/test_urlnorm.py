"""URL canonicalization / resolution / request-identity tests.

resolve cases mirror /root/reference/tests/tests.sh:625-626 (fn:resolve-uri)
and readme.txt:178-182; request identity mirrors tests.sh:557-559
(post4b/post4c: same url+body deduped, same url different method kept).
"""

import pytest
from pyspark.sql import functions as F

from xidel_spark.crawl.requests import canonical_headers, dedup_requests, request_key
from xidel_spark.urlnorm import canonicalize_one, resolve_one


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("HTTP://Example.COM:80/a/b", "http://example.com/a/b"),
        ("https://example.com:443/", "https://example.com/"),
        ("https://example.com:8443/", "https://example.com:8443/"),
        ("http://example.com/a/./b/../c?z=1&a=2#frag", "http://example.com/a/c?a=2&z=1"),
        ("http://example.com", "http://example.com/"),
        ("http://example.com/a/b/..", "http://example.com/a/"),
        ("http://example.com/../../x", "http://example.com/x"),
        ("http://example.com/p?", "http://example.com/p"),
    ],
)
def test_canonicalize(raw, expected):
    assert canonicalize_one(raw) == expected


@pytest.mark.parametrize(
    "ref,base,expected",
    [
        ("b.xml", "http://e.com/dir/a.xml", "http://e.com/dir/b.xml"),
        ("/b.xml", "http://e.com/dir/a.xml", "http://e.com/b.xml"),
        ("../up.xml", "http://e.com/d1/d2/a.xml", "http://e.com/d1/up.xml"),
        ("//other.com/x", "https://e.com/a", "https://other.com/x"),
        ("http://abs.com/x", "http://e.com/a", "http://abs.com/x"),
        ("?q=1", "http://e.com/p/a?old=2", "http://e.com/p/a?q=1"),
    ],
)
def test_resolve(ref, base, expected):
    assert resolve_one(ref, base) == expected


CANON_BATTERY = [
    "HTTP://Example.COM:80/a/b",
    "https://example.com:443/",
    "https://example.com:8443/",
    "http://example.com/a/./b/../c?z=1&a=2#frag",
    "http://example.com",
    "http://example.com/a/b/..",
    "http://example.com/../../x",
    "http://example.com/p?",
    "http://example.com/p?&&b=2&a=1",
    "http://example.com/a/.",
    "http://example.com/a/..",
    "http://h.example.com:8080/x/../y/./z?m=3&k=1#f",
    "ftp://Files.example.com:21/pub",
    "mailto:someone",
    "relative/path",
    "http://example.com/a%20b?x=%41",
    "http://example.com/?",
    "http://example.com/trailing/",
    None,
]

RESOLVE_BATTERY = [
    ("b.xml", "http://e.com/dir/a.xml"),
    ("/b.xml", "http://e.com/dir/a.xml"),
    ("../up.xml", "http://e.com/d1/d2/a.xml"),
    ("//other.com/x", "https://e.com/a"),
    ("http://abs.com/x", "http://e.com/a"),
    ("?q=1", "http://e.com/p/a?old=2"),
    ("x/y/../z", "http://e.com/d/a"),
    ("./here", "http://e.com/d/a"),
    ("deep", "http://e.com"),
    ("a", None),
    (None, "http://e.com/a"),
    ("q?x=1", "http://e.com/d/p?y=2"),
]


def test_canonicalize_three_engines_agree(spark):
    """vectorized Arrow UDF (production), pure-Catalyst expression, and the
    row-at-a-time oracle must agree byte-for-byte on the battery."""
    from xidel_spark.urlnorm import canonicalize, canonicalize_expr

    df = spark.createDataFrame([(u,) for u in CANON_BATTERY], "url string")
    rows = df.select(
        "url",
        canonicalize(F.col("url")).alias("vec"),
        canonicalize_expr(F.col("url")).alias("cat"),
    ).collect()
    for r in rows:
        expect = canonicalize_one(r["url"])
        assert r["vec"] == expect, ("vec", r["url"], r["vec"], expect)
        assert r["cat"] == expect, ("cat", r["url"], r["cat"], expect)


def test_resolve_three_engines_agree(spark):
    from xidel_spark.urlnorm import resolve_url, resolve_url_expr

    df = spark.createDataFrame(RESOLVE_BATTERY, "ref string, base string")
    rows = df.select(
        "ref", "base",
        resolve_url(F.col("ref"), F.col("base")).alias("vec"),
        resolve_url_expr(F.col("ref"), F.col("base")).alias("cat"),
    ).collect()
    for r in rows:
        expect = resolve_one(r["ref"], r["base"])
        assert r["vec"] == expect, ("vec", r["ref"], r["base"], r["vec"], expect)
        assert r["cat"] == expect, ("cat", r["ref"], r["base"], r["cat"], expect)


def test_canonicalize_engines_on_dirty_corpus(spark):
    """full synthetic dirty-URL corpus: all engines agree row-wise."""
    from xidel_spark.corpus import dirty_urls
    from xidel_spark.urlnorm import canonicalize, canonicalize_expr

    df = dirty_urls(spark, "/root/testdata/sf0.001")
    bad = df.select(
        canonicalize(F.col("raw_url")).alias("vec"),
        canonicalize_expr(F.col("raw_url")).alias("cat"),
    ).where("vec IS DISTINCT FROM cat")
    assert bad.count() == 0


def test_request_identity_post4(spark):
    # tests.sh:557-559 — same (url, body) twice → one; same url, method
    # GET vs PUT → two
    rows = [
        ("http://x/api", "POST", "a=1", [], 1),
        ("http://x/api", "POST", "a=1", [], 2),   # dup of row 1
        ("http://x/api", "GET", "", [], 3),
        ("http://x/api", "PUT", "", [], 4),       # different method: kept
        ("http://x/api", "GET", "", ["X-H: 1"], 5),  # different headers: kept
    ]
    df = spark.createDataFrame(
        rows, "url string, method string, hbody string, hdrs array<string>, arrival int"
    ).select(
        "url",
        "method",
        F.col("hbody").alias("body"),
        canonical_headers(F.col("hdrs")).alias("headers"),
        "arrival",
    )
    kept = dedup_requests(df).collect()
    assert len(kept) == 4
    arrivals = sorted(r["arrival"] for r in kept)
    assert arrivals == [1, 3, 4, 5]


def test_header_order_insensitive_hash(spark):
    df = spark.createDataFrame(
        [(["b: 2", "a: 1"],), (["a: 1", "b: 2"],)], "hdrs array<string>"
    ).select(
        request_key(F.lit("u"), F.lit("GET"), F.lit(""), canonical_headers(F.col("hdrs"))).alias("k")
    )
    ks = [r["k"] for r in df.collect()]
    assert ks[0] == ks[1]


def test_engine_knob(spark):
    """the engine is chosen from the master, with no conf: on the local
    session `canonicalize` plans the Arrow row-map, the Catalyst forms
    (`canonicalize_expr`, `resolve_url_expr`) plan no Python at all, and
    both engines return identical bytes."""
    from xidel_spark.corpus import dirty_urls
    from xidel_spark.urlnorm import (
        canonicalize, canonicalize_expr, resolve_url, resolve_url_expr,
    )

    df = dirty_urls(spark, "/root/testdata/sf0.001")
    base = F.lit("http://h.example.com/a/b/c")
    prod = df.select(
        "doc_id", canonicalize(F.col("raw_url")).alias("c"),
        resolve_url(F.col("raw_url"), base).alias("r"),
    )
    expr = df.select(
        "doc_id", canonicalize_expr(F.col("raw_url")).alias("c"),
        resolve_url_expr(F.col("raw_url"), base).alias("r"),
    )
    assert "ArrowEvalPython" in prod._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in expr._jdf.queryExecution().executedPlan().toString()
    assert sorted(map(tuple, prod.collect())) == sorted(map(tuple, expr.collect()))


def test_canonicalize_resolve_fuzz_parity(spark):
    """randomized nasty inputs (dot chains up to depth 9, '//' pops, empty
    query params, odd ports/schemes): the Catalyst forms match the Python
    oracles byte-for-byte — guards the round-3 regex-pass rework."""
    import random

    from xidel_spark.urlnorm import (
        canonicalize_expr, canonicalize_one, resolve_one, resolve_url_expr,
    )

    random.seed(11)
    segs = ["a", "b", ".", "..", "x9", "", "X"]
    rows = []
    for i in range(1500):
        n = random.randint(0, 8)
        path = "/" + "/".join(random.choice(segs) for _ in range(n)) if n else ""
        q = random.choice(["", "?b=2&a=1", "?", "?&&a", "?z&y&z"])
        base = (
            f"{random.choice(['http', 'HTTP', 'xy-z'])}://Ex{i % 9}.COM"
            f"{random.choice(['', ':80', ':8080'])}{path}{q}{random.choice(['', '#f'])}"
        )
        rel = "/".join(random.choice(segs) for _ in range(random.randint(0, 5)))
        ref = random.choice(
            [rel, "/" + rel, "?x=1", "//other.com/p", "http://abs.com/p", rel + "?q=2"]
        )
        rows.append((base, ref))
    rows += [
        ("http://h/" + "a/" * 9 + "../" * 9 + "z", "../" * 9 + "z"),
        ("http://h//a/../b", "a//../b"),
        ("noscheme", "x"),
        ("http://", ""),
        (None, None),
    ]
    df = spark.createDataFrame(rows, "base string, ref string")
    got = df.select(
        "base", "ref",
        canonicalize_expr(F.col("base")).alias("c"),
        resolve_url_expr(F.col("ref"), F.col("base")).alias("r"),
    ).collect()
    for r in got:
        assert r["c"] == canonicalize_one(r["base"]), r["base"]
        assert r["r"] == resolve_one(r["ref"], r["base"]), (r["ref"], r["base"])
