"""Output-format serializers vs the reference's golden files
(tests/tests.sh:132-175 matrix; pattern '<a>{.}</a>*' over a.xml/b.xml)."""

from pathlib import Path

import pytest

from xidel_spark.corpus import fixture_graph
from xidel_spark.extract.patterns import apply_pattern
from xidel_spark.io.golden_output import adhoc_lines, bash_lines, json_wrapped

G = Path("/root/reference/tests/output")

# the pattern "<a>{.}</a>*" → default var 'result' over anchor text;
# "<title>{title:=.}</title><a>{.}</a>*" adds the title capture
P_A = [{"kind": "link", "capture": "result", "repeat": "*"}]
P_TA = [
    {"kind": "title", "capture": "title"},
    {"kind": "link", "capture": "result", "repeat": "*"},
]


@pytest.fixture(scope="module")
def docs(spark):
    return fixture_graph(spark).cache()


def log_for(spark, docs, pattern, urls):
    rows = apply_pattern(docs.where(docs.doc_id.isin(urls)), pattern).collect()
    per_doc = {u: [] for u in urls}
    for r in sorted(rows, key=lambda r: r["seq_index"]):
        per_doc[r["doc_id"]].append((r["var_name"], r["value"]))
    return [per_doc[u] for u in urls]


@pytest.mark.needs_reference
def test_adhoc1_golden(spark, docs):
    (log,) = log_for(spark, docs, P_A, ["a.xml"])
    assert adhoc_lines(log) == G.joinpath("adhoc1").read_text().splitlines()


@pytest.mark.needs_reference
def test_adhoc3_golden(spark, docs):
    logs = log_for(spark, docs, P_TA, ["a.xml", "b.xml"])
    flat = [kv for log in logs for kv in log]
    assert adhoc_lines(flat) == G.joinpath("adhoc3").read_text().splitlines()


@pytest.mark.needs_reference
def test_json1_golden(spark, docs):
    logs = log_for(spark, docs, P_A, ["a.xml"])
    assert json_wrapped(logs) == G.joinpath("json1").read_text().strip()


@pytest.mark.needs_reference
def test_json3_golden(spark, docs):
    logs = log_for(spark, docs, P_TA, ["a.xml", "b.xml"])
    assert json_wrapped(logs) == G.joinpath("json3").read_text().strip()


@pytest.mark.needs_reference
def test_bash1_golden(spark, docs):
    logs = log_for(spark, docs, P_A, ["a.xml"])
    flat = [kv for log in logs for kv in log]
    assert bash_lines(flat) == G.joinpath("bash1").read_text().splitlines()


@pytest.mark.needs_reference
def test_bash3_golden(spark, docs):
    logs = log_for(spark, docs, P_TA, ["a.xml", "b.xml"])
    flat = [kv for log in logs for kv in log]
    assert bash_lines(flat) == G.joinpath("bash3").read_text().splitlines()


@pytest.mark.needs_reference
def test_cmd1_golden(spark, docs):
    """--output-format cmd (golden tests/output/cmd1): SET scalar + indexed
    + count lines, via the Catalyst cmd serializer."""
    from xidel_spark.io.output import cmd_vars

    (log,) = log_for(spark, docs, P_A, ["a.xml"])
    df = spark.createDataFrame(
        [(v, i, val) for i, (v, val) in enumerate(log)],
        "var_name string, seq_index long, value string",
    )
    got = [r["line"] for r in cmd_vars(df).collect()]
    assert got == G.joinpath("cmd1").read_text().splitlines()


@pytest.mark.needs_reference
def test_cmd2_golden(spark, docs):
    from xidel_spark.io.output import cmd_vars

    logs = log_for(spark, docs, P_A, ["a.xml", "b.xml"])
    flat = [kv for log in logs for kv in log]
    df = spark.createDataFrame(
        [(v, i, val) for i, (v, val) in enumerate(flat)],
        "var_name string, seq_index long, value string",
    )
    got = [r["line"] for r in cmd_vars(df).collect()]
    assert got == G.joinpath("cmd2").read_text().splitlines()


def _anchor_nodes(spark, docs, urls):
    """matched <a> elements of the pattern, as (tag, ref, text) rows in
    document order (for the html serializer)."""
    from pyspark.sql import functions as F

    rows = []
    for u in urls:
        spans = docs.where(docs.doc_id == u).select("spans").collect()[0]["spans"]
        for s in sorted(spans, key=lambda s: s["offset"]):
            if s["kind"] == "link":
                rows.append(("a", s["media_ref"], s["text"]))
    return spark.createDataFrame(rows, "tag string, ref string, text string")


@pytest.mark.needs_reference
def test_htmlraw1_golden(spark, docs):
    """--output-format html (golden tests/output/htmlraw1): outer-HTML per
    matched element inside the html/body wrapper."""
    from xidel_spark.io.output import HTML_FOOTER, HTML_HEADER, html_wrapped

    nodes = _anchor_nodes(spark, docs, ["a.xml"])
    body = [r["line"] for r in html_wrapped(nodes).collect()]
    got = HTML_HEADER.splitlines() + body + [HTML_FOOTER]
    assert got == G.joinpath("htmlraw1").read_text().splitlines()


@pytest.mark.needs_reference
def test_htmlraw2_golden(spark, docs):
    from xidel_spark.io.output import HTML_FOOTER, HTML_HEADER, html_wrapped

    nodes = _anchor_nodes(spark, docs, ["a.xml", "b.xml"])
    body = [r["line"] for r in html_wrapped(nodes).collect()]
    got = HTML_HEADER.splitlines() + body + [HTML_FOOTER]
    assert got == G.joinpath("htmlraw2").read_text().splitlines()


def _ref_golden(name):
    from pathlib import Path

    return Path("/root/reference/tests/output").joinpath(name).read_text()


@pytest.mark.needs_reference
def test_output_separator_goldens():
    """--output-separator/-header/-footer/-declaration byte-exact vs the
    reference goldens (tests/tests.sh:146,263-268): '(1,2)' -e 5 -e '""'
    -e v:=18 -e 0 under adhoc/xml/html with separator 'x' and the
    '<div>'/'<br>' overrides; xmlraw1c pins a custom declaration with the
    default separator and the implicit raw wrapper."""
    from xidel_spark.io.golden_output import serialize_document

    items = [(None, "1"), (None, "2"), (None, "5"), (None, ""), ("v", "18"), (None, "0")]
    assert serialize_document(items, "adhoc", separator="x") == _ref_golden("separator-adhoc")
    assert serialize_document(items, "xml", separator="x") == _ref_golden("separator-xml")
    assert serialize_document(items, "html", separator="x") == _ref_golden("separator-html")
    assert serialize_document(
        items, "xml", separator="<br>", header="<div>", footer="</div>"
    ) == _ref_golden("separator-xml2")
    assert serialize_document(
        items, "html", separator="<br>", header="<div>", footer="</div>"
    ) == _ref_golden("separator-html2")
    raw = [(None, '<a href="b.xml">b</a>'), (None, '<a href="c.xml">c</a>')]
    assert serialize_document(raw, "xml", declaration="<?xml>") == _ref_golden("xmlraw1c")


def test_output_encoding():
    from xidel_spark.io.golden_output import encode_output, serialize_document

    s = serialize_document([(None, "héllo")], "adhoc")
    assert encode_output(s) == "héllo\n".encode("utf-8")
    assert encode_output(s, "latin-1") == b"h\xe9llo\n"
    import pytest

    with pytest.raises(UnicodeEncodeError):
        encode_output("日本\n", "latin-1")


@pytest.mark.needs_reference
def test_assemble_document_distributed(spark):
    """the DataFrame assembly matches serialize_document byte-for-byte on
    the separator-xml golden, with ordering restored from an order column."""
    from xidel_spark.io.output import assemble_document

    rows = [(1, None, "1"), (2, None, "2"), (3, None, "5"), (4, None, ""),
            (5, "v", "18"), (6, None, "0")]
    df = spark.createDataFrame(rows, "ord int, name string, value string").repartition(4)
    got = assemble_document(
        df, value_col="value", name_col="name", order_col="ord",
        fmt="xml", separator="x",
    ).first()
    assert got["line"] == _ref_golden("separator-xml")
    assert bytes(got["bytes"]) == _ref_golden("separator-xml").encode()
