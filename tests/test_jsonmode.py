"""--json-mode matrix vs the reference goldens (tests/tests.sh:322-366,
tests/output/jsonmode/*) and map:/array: module sanity."""

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from xidel_spark.functions import jsonfn as jf
from xidel_spark.functions import jsonmode as jm

GOLDEN = Path("/root/reference/tests/output/jsonmode")

# reference probe queries index $a differently per mode (tests.sh:322-325)
_CTOR_MEMBER_INDEX = {"standard": 2, "jsoniq": 1, "deprecated": 1, "unified": 1}
_CTOR_GOLDEN = {"standard": "standard", "jsoniq": "jsoniq",
                "deprecated": "deprecated", "unified": "default"}


def _one(spark, cols: list):
    row = spark.range(1).select(*[c.alias(f"c{i}") for i, c in enumerate(cols)]).collect()[0]
    return ["" if v is None else (str(v).lower() if isinstance(v, bool) else str(v)) for v in row]


@pytest.mark.needs_reference
@pytest.mark.parametrize("name", ["standard", "jsoniq", "deprecated", "unified"])
def test_constructor_matrix_matches_golden(spark, name):
    """let $x := <a><b>c</b></a>//b, $o := {"a": (), "b": $x, "c": (1,2)},
    $a := [(), $x, 1 to 3] — count/root-name/size probes per mode."""
    from xidel_spark.extract.nodes import parse_xml_nodes
    from xidel_spark.extract.xpath import compile_xpath

    mode = jm.MODES[name]
    # the UDF result must be a materialized column before lambda use
    parsed = spark.range(1).select(parse_xml_nodes(F.lit("<a><b>c</b></a>")).alias("nodes"))
    sel = compile_xpath("//b")
    [row] = parsed.select(
        F.try_element_at(
            F.transform(sel.nodes_result(F.col("nodes")), lambda n: n["tag"]), F.lit(1)
        ).alias("tag"),
        F.element_at(F.col("nodes"), 2)["tag"].alias("root"),
    ).collect()
    node_tag = F.lit(row["tag"])
    orig_root = F.lit(row["root"])  # first element under #doc
    member_counts = F.array(F.lit(0), F.lit(1), F.lit(3))
    # line 7: name(root($a(N))) with the mode's own N (the reference query)
    n = _CTOR_MEMBER_INDEX[name]
    if mode.array_flattens:
        # flattened member 1 is $x (the () vanished)
        line7 = jm.root_name_of_node_value(orig_root, "b", mode)
    elif n == 2:
        line7 = jm.root_name_of_node_value(orig_root, "b", mode)
    else:  # member 1 is () → empty
        line7 = F.lit(None).cast("string")
    got = _one(spark, [
        jm.ctor_object_value_count(F.lit(0), mode),
        jm.root_name_of_node_value(orig_root, "b", mode),
        jm.ctor_object_value_count(F.lit(2), mode),
        F.lit(""),
        jm.ctor_array_size(member_counts, mode),
        jm.member_item_counts(member_counts, mode),
        line7,
    ])
    # sanity: the node selector really found <b> inside <a>
    assert row["tag"] == "b" and row["root"] == "a"
    expected = GOLDEN.joinpath(_CTOR_GOLDEN[name]).read_text().splitlines()
    assert got == expected, (name, got, expected)


@pytest.mark.needs_reference
@pytest.mark.parametrize("name,golden", [
    ("standard", "standard-null"), ("jsoniq", "jsoniq-null"),
    ("deprecated", "deprecated-null"), ("unified", "default-null"),
])
def test_null_matrix_matches_golden(spark, name, golden):
    """data2.json = [null, {"a": null, "b": 1}]: count/is-null per slot."""
    mode = jm.MODES[name]
    got = _one(spark, [
        jm.null_count(F.lit(True), mode),
        jm.is_null(F.lit(True), mode),
        jm.null_count(F.lit(True), mode),
        jm.is_null(F.lit(True), mode),
        jm.null_count(F.lit(False), mode),
        jm.is_null(F.lit(False), mode),
    ])
    expected = GOLDEN.joinpath(golden).read_text().splitlines()
    assert got == expected, (name, got, expected)


@pytest.mark.needs_reference
@pytest.mark.parametrize("name,golden", [
    ("standard", "standard-literals"), ("jsoniq", "jsoniq-literals"),
    ("deprecated", "deprecated-literals"), ("unified", "default-literals"),
])
def test_literals_matrix_matches_golden(spark, name, golden):
    mode = jm.MODES[name]
    vals = _one(spark, [jm.parse_literal(F.lit(t), mode) for t in ("true", "false", "null")])
    got = [v for v in vals if v != ""]
    expected = GOLDEN.joinpath(golden).read_text().splitlines()
    assert got == [l for l in expected if l != ""], (name, got, expected)


@pytest.mark.needs_reference
@pytest.mark.parametrize("name,golden", [
    ("standard", "standard-dotnotation"), ("jsoniq", "jsoniq-dotnotation"),
    ("deprecated", "deprecated-dotnotation"), ("unified", "default-dotnotation"),
])
def test_dot_notation_matrix_matches_golden(spark, name, golden):
    mode = jm.MODES[name]
    obj = F.map_from_arrays(F.array(F.lit("a")), F.array(F.lit("1")))
    [got] = _one(spark, [jm.dot_access(obj, "a", mode)])
    expected = GOLDEN.joinpath(golden).read_text().strip()
    assert got == expected, (name, got, expected)


def test_map_module_basics(spark):
    m = F.map_from_arrays(F.array(F.lit("b"), F.lit("a")), F.array(F.lit("2"), F.lit("1")))
    got = _one(spark, [
        F.array_join(jf.map_keys(m), ","),
        jf.map_size(m),
        jf.map_get(m, "a"),
        jf.map_get(jf.map_put(m, "a", F.lit("9")), "a"),
        jf.map_size(jf.map_remove(m, F.lit("b"))),
        jf.map_contains(m, F.lit("zz")),
    ])
    assert got == ["a,b", "2", "1", "9", "1", "false"]


def test_map_merge_use_first(spark):
    a = F.map_from_arrays(F.array(F.lit("k")), F.array(F.lit("first")))
    b = F.map_from_arrays(F.array(F.lit("k"), F.lit("x")), F.array(F.lit("second"), F.lit("3")))
    got = _one(spark, [
        jf.map_get(jf.map_merge(a, b), "k"),
        F.array_join(jf.map_keys(jf.map_merge(a, b)), ","),
    ])
    assert got == ["first", "k,x"]


def test_array_module_basics(spark):
    a = F.array(F.lit(10), F.lit(20), F.lit(30))
    got = _one(spark, [
        jf.array_size(a), jf.array_head(a),
        F.array_join(jf.array_tail(a), ","),
        F.array_join(jf.array_reverse(a), ","),
        F.array_join(jf.array_insert_before(a, 2, F.lit(15)), ","),
        F.array_join(jf.array_remove(a, 2), ","),
        F.array_join(jf.array_subarray(a, 2, 1), ","),
        jf.array_fold_left(a, F.lit(0), lambda acc, x: acc + x),
        jf.array_get(a, 9),
    ])
    assert got == ["3", "10", "20,30", "30,20,10", "10,15,20,30", "10,30", "20", "60", ""]


def test_libjn_accumulate_first_wins(spark):
    maps = F.array(
        F.map_from_arrays(F.array(F.lit("a")), F.array(F.lit("1"))),
        F.map_from_arrays(F.array(F.lit("a"), F.lit("b")), F.array(F.lit("X"), F.lit("2"))),
    )
    acc = jf.libjn_accumulate(maps)
    got = _one(spark, [jf.map_get(acc, "a"), jf.map_get(acc, "b")])
    assert got == ["1", "2"]