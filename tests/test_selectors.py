"""Selector compiler: XPath axes/predicates + CSS over node trees.

Mirrors the reference's selector surface: axis regressions
(tests/tests.sh:593-596 with goldens tests/output/regression_text1*),
entity decoding (tests.sh:599-601), fragment html/body wrapping
(tests.sh:597), doc-loading to //title (tests.sh:589, golden AAA), and the
CSS grammar of readme.txt:120-196.
"""

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from xidel_spark.extract.css import compile_css
from xidel_spark.extract.links import _flat_fast, compile_selector, extract_links
from xidel_spark.extract.nodes import parse_html_nodes, parse_xml_nodes, spans_to_nodes
from xidel_spark.extract.xpath import compile_xpath

GOLDEN = Path("/root/reference/tests/output")


def _eval_html(spark, html: str, expr: str, css: bool = False) -> list[str]:
    sel = compile_css(expr) if css else compile_xpath(expr)
    df = spark.createDataFrame([(html,)], "h string").withColumn(
        "nodes", parse_html_nodes(F.col("h"))
    )
    [row] = df.select(sel.values(F.col("nodes")).alias("v")).collect()
    return list(row["v"])


# --- reference goldens (parse-html + axes) ---------------------------------

@pytest.mark.needs_reference
def test_golden_regression_text1a(spark):
    # tests.sh:593  '<r><a>1</a><a>2</a></r>' -e ...{text()} per <a>
    assert _eval_html(spark, "<r><a>1</a><a>2</a></r>", "//a[1]/text()") == [
        GOLDEN.joinpath("regression_text1a").read_text().strip()
    ]


@pytest.mark.needs_reference
def test_golden_regression_text1b(spark):
    # tests.sh:594 following-sibling::a/text() from the first <a> → '2'
    got = _eval_html(spark, "<r><a>1</a><a>2</a></r>", "//a[1]/following-sibling::a/text()")
    assert got == [GOLDEN.joinpath("regression_text1b").read_text().strip()]


def test_golden_regression_text1e_fragment_wrap(spark):
    # tests.sh:597 pins that a bare fragment gets the implicit /html/body
    got = _eval_html(spark, "<a>2</a>", "/html/body/a/text()")
    assert got == ["2"]


@pytest.mark.needs_reference
def test_golden_entity_decoding(spark):
    # tests.sh:599-600: '&amp;' decodes once, '&amp;amp;' stays '&amp;'
    assert _eval_html(spark, "<a>&amp;</a>", "//a") == [
        GOLDEN.joinpath("regression_entity1a").read_text().strip()
    ]
    assert _eval_html(spark, "<a>&amp;amp;</a>", "//a") == [
        GOLDEN.joinpath("regression_entity1b").read_text().strip()
    ]


@pytest.mark.needs_reference
def test_golden_doclocal_title(spark):
    # tests.sh:589: doc('tests/a.xml')//title → AAA, via parse_xml on the
    # reference's actual fixture file
    xml = Path("/root/reference/tests/a.xml").read_text()
    df = spark.createDataFrame([(xml,)], "x string").withColumn(
        "nodes", parse_xml_nodes(F.col("x"))
    )
    sel = compile_xpath("//title")
    [row] = df.select(sel.values(F.col("nodes")).alias("v")).collect()
    assert list(row["v"]) == [GOLDEN.joinpath("regression_doclocal").read_text().strip()]


# --- axes / predicates over parsed trees -----------------------------------

HTML = (
    "<div id='top' class='box main'>"
    "<h1>head</h1><p class='x'>one</p><p class='y'>two</p><p class='x'>three</p>"
    "<ul><li>a</li><li>b</li><li>c</li></ul>"
    "</div><div class='box'><p>four</p></div>"
)


@pytest.mark.parametrize(
    "expr,expected",
    [
        ("//p", ["one", "two", "three", "four"]),
        ("//div[1]//p", ["one", "two", "three"]),
        ("//p[@class='x']", ["one", "three"]),
        ("//p[2]", ["two"]),  # positional counts per parent (div2 has one p)
        ("//p[last()]", ["three", "four"]),
        ("//li[last()-1]", ["b"]),
        ("//h1/following-sibling::p", ["one", "two", "three"]),
        ("//h1/following-sibling::p[1]", ["one"]),
        ("//p[@class='y']/preceding-sibling::p", ["one"]),
        ("//li/parent::ul", ["abc"]),
        ("//li[1]/ancestor::div", ["headonetwothreeabc"]),
        ("//p[position() > 2]", ["three"]),
        ("//ul/child::li", ["a", "b", "c"]),
        ("//p[contains(., 'hre')]", ["three"]),
        ("//p[starts-with(@class, 'x')]", ["one", "three"]),
        ("//div[h1]/p[1]", ["one"]),  # relative-path predicate
        ("//h1 | //li[1]", ["head", "a"]),  # union, document order
        ("//div[2]/p/text()", ["four"]),
        ("//div/@id", ["top"]),
    ],
)
def test_xpath_axes_matrix(spark, expr, expected):
    assert _eval_html(spark, HTML, expr) == expected


@pytest.mark.parametrize(
    "expr,expected",
    [
        ("p", ["one", "two", "three", "four"]),
        ("div > p", ["one", "two", "three", "four"]),
        ("div p", ["one", "two", "three", "four"]),
        ("#top p", ["one", "two", "three"]),
        (".box.main p", ["one", "two", "three"]),
        ("p.x", ["one", "three"]),
        ("h1 + p", ["one"]),
        ("h1 ~ p", ["one", "two", "three"]),
        ("p.x + p.y", ["two"]),
        ("li:first-child", ["a"]),
        ("li:last-child", ["c"]),
        ("li:nth-child(2)", ["b"]),
        ("p[class=y]", ["two"]),
        ("p[class^=x]", ["one", "three"]),
        ("div[class~=main] h1", ["head"]),
        ("h1, li:nth-child(3)", ["head", "c"]),
        ("ul *", ["a", "b", "c"]),
    ],
)
def test_css_matrix(spark, expr, expected):
    assert _eval_html(spark, HTML, expr, css=True) == expected


# --- span-table evaluation + flat fast path --------------------------------

SPAN_EXPRS = [
    "//a", "//a/@href", "//img", "//img/@src", "//title", "//ad/@href",
    "//a[@href='c.xml']/@href", "//a[1]/following-sibling::a/@href",
    "//a[last()]/@href", "title ~ a", "a + a", "//a/text()",
]


def test_fast_path_matches_generic_engine(spark):
    """every flat-eligible selector must give byte-identical results via the
    fast span filter and the generic node-tree engine."""
    from xidel_spark.corpus import fixture_graph

    fx = fixture_graph(spark)
    nodes = spans_to_nodes(F.col("spans"))
    n_fast = 0
    for expr in SPAN_EXPRS:
        sel = compile_selector(expr)
        fast = _flat_fast(sel)
        gen = fx.select("doc_id", sel.values(nodes).alias("v")).orderBy("doc_id").collect()
        if fast is None:
            continue
        n_fast += 1
        fa = (
            fx.select("doc_id", fast(F.col("spans"), "value").alias("v"))
            .orderBy("doc_id")
            .collect()
        )
        assert [(r["doc_id"], list(r["v"])) for r in gen] == [
            (r["doc_id"], list(r["v"])) for r in fa
        ], expr
    assert n_fast >= 7  # the hot-path selectors actually take the fast path


def test_extract_links_excludes_non_anchor(spark):
    """'//a' must not follow the <ad href> span (golden tef has no DDD)."""
    from xidel_spark.corpus import fixture_graph

    out = extract_links(fixture_graph(spark), "//a")
    pairs = {(r["src"], r["dst"]) for r in out.collect()}
    assert ("a.xml", "d.xml") not in pairs  # <ad href=d.xml> is not an <a>
    assert ("dpre.xml", "d.xml") in pairs   # but dpre's real anchor is
    dsts = {d for _, d in pairs}
    assert {"b.xml", "c.xml", "b1.xml", "b2.xml", "c1.xml", "c2.xml"} <= dsts
    # but an explicit attribute wildcard does reach it
    all_refs = extract_links(fixture_graph(spark), "//ad/@href")
    assert {r["dst"] for r in all_refs.collect()} == {"d.xml"}


def test_selector_plan_is_pure_catalyst(spark):
    """axes/predicates must not smuggle in a Python UDF or a shuffle."""
    from xidel_spark.corpus import fixture_graph

    out = extract_links(fixture_graph(spark), "//a[1]/following-sibling::a")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "pythonUDF"):
        assert marker not in plan


def test_unsupported_selector_raises():
    # round 3: predicates beyond the fixed vocabulary parse as general
    # expressions; an UNKNOWN function now fails at evaluation through the
    # registry (KeyError naming candidates), not at parse
    from xidel_spark.extract.xpath import matched_type

    sel = compile_xpath("//a[foo(bar)]")
    with pytest.raises(KeyError):
        sel.ids(F.array().cast(matched_type()))
    with pytest.raises(ValueError):
        compile_xpath("//a[@@]")
    with pytest.raises(ValueError):
        compile_css("p::before")


@pytest.mark.needs_reference
def test_outer_xml_matches_inputformat_goldens(spark):
    """outer-xml(/) of parsed fragments vs goldens inputformatAutoA/C/Xml:
    html parsing wraps known-HTML fragments in <html><head/><body>…; auto
    dispatches on the root tag; xml parses as-is."""
    from xidel_spark.extract.nodes import outer_xml, parse_auto_nodes, parse_xml_nodes

    df = spark.createDataFrame([("<a>x</a>",), ("<c>x</c>",)], "m string")
    auto = df.select("m", outer_xml(parse_auto_nodes(F.col("m"))).alias("o")).collect()
    got = {r["m"]: r["o"] for r in auto}
    assert got["<a>x</a>"] == GOLDEN.joinpath("inputformatAutoA").read_text().strip()
    assert got["<c>x</c>"] == GOLDEN.joinpath("inputformatAutoC").read_text().strip()
    [xml] = df.where("m = '<a>x</a>'").select(
        outer_xml(parse_xml_nodes(F.col("m"))).alias("o")
    ).collect()
    assert xml["o"] == GOLDEN.joinpath("inputformatXml").read_text().strip()


def test_inner_xml_and_subtree_serialization(spark):
    from xidel_spark.extract.nodes import inner_xml_py, outer_xml_py, _parse_xml_py

    nodes = _parse_xml_py('<r a="1&amp;2"><b>x</b><c/></r>')
    assert outer_xml_py(nodes) == '<r a="1&amp;2"><b>x</b><c/></r>'
    assert inner_xml_py(nodes, 1) == "<b>x</b><c/>"
    # subtree rooted at <b> (id 2)
    assert outer_xml_py(nodes, 2) == "<b>x</b>"


def test_css_function_inside_xpath_path(spark):
    """css("a.cls")/@href — the reference's CSS/XPath bridge
    (readme.txt:195-196)."""
    html = '<div><a class="cls" href="u1">one</a><a href="u2">two</a></div>'
    assert _eval_html(spark, html, 'css("a.cls")/@href') == ["u1"]
    assert _eval_html(spark, html, '//div/css("a")/@href') == ["u1", "u2"]


def test_serializer_expr_matches_udf(spark):
    """the pure-Catalyst subtree serializer (outer_xml_expr/inner_xml_expr)
    is byte-identical to the Python serializer on escaping, self-closing
    empties, attributes and nesting — it's what the expression language's
    outer-xml()/inner-xml() compile to."""
    from xidel_spark.extract.nodes import (
        inner_xml_expr, inner_xml_udf, outer_xml_expr, outer_xml_udf,
        parse_auto_nodes,
    )

    markups = [
        "<a x='1'>3<b>c</b></a>",
        "<d><p class='x&y'>t&lt;1</p><br/><p>q\"z\"</p></d>",
        "<html><head></head><body><a href='u'>L</a>tail</body></html>",
        "<r><e/><e>x</e><e a='1' b='2'/></r>",
    ]
    nd = (
        spark.createDataFrame([(m,) for m in markups], "m string")
        .select("m", parse_auto_nodes(F.col("m")).alias("nodes"))
        .localCheckpoint()
    )
    rows = nd.select(
        "m",
        outer_xml_expr(F.col("nodes")).alias("oe"),
        outer_xml_udf(F.col("nodes"), F.lit(0)).alias("ou"),
        inner_xml_expr(F.col("nodes")).alias("ie"),
        inner_xml_udf(F.col("nodes"), F.lit(0)).alias("iu"),
    ).collect()
    for r in rows:
        assert r["oe"] == r["ou"], r["m"]
        assert r["ie"] == r["iu"], r["m"]


def test_exprlang_serialization_functions(spark):
    from xidel_spark.exprlang import compile_expr
    from xidel_spark.extract.nodes import parse_auto_nodes

    nd = (
        spark.createDataFrame([("<a x='1'>3<b>c</b></a>",)], "m string")
        .select(parse_auto_nodes(F.col("m")).alias("nodes"))
        .localCheckpoint()
    )
    got = nd.select(
        compile_expr("outer-xml(//b)").string(nodes=F.col("nodes")).alias("o"),
        compile_expr("inner-xml(//b)").string(nodes=F.col("nodes")).alias("i"),
        compile_expr("/").string(nodes=F.col("nodes")).alias("root"),
    ).first()
    assert got["o"] == "<b>c</b>" and got["i"] == "c" and got["root"] == "3c"
