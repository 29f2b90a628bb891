"""Expression-language goldens: the -e string surface (readme.txt:120-196),
kind auto-detection (tests/tests.sh:423-452), weak typing + collation
(readme.txt:167-176), and the pure-Catalyst collation key vs the Python
reference implementation."""

import pytest
from pyspark.sql import functions as F

from xidel_spark.exprlang import compile_expr, detect_kind

CASES = [
    # arithmetic + precedence
    ("1+2", "3"),
    ("2 + 3 * 4", "14"),
    ("(2 + 3) * 4", "20"),
    ("7 div 2", "3.5"),
    ("7 idiv 2", "3"),
    ("-7 idiv 2", "-3"),
    ("7 mod 2", "1"),
    # weak typing (readme.txt:174-176)
    ('1 + "2"', "3"),
    ("'false' = false()", "true"),
    ("(if (1 = 1) then 'true' else 'x') = true()", "true"),
    # collation (readme.txt:167-173: '9xy' = '9XY' < '10XY' < 'xy')
    ("'9xy' = '9XY'", "true"),
    ("'9xy' < '10XY'", "true"),
    ("'10XY' < 'xy'", "true"),
    ("'abc' eq 'ABC'", "true"),
    # numeric edge: XPath INF/NaN forms, not ANSI errors
    ("string(1 div 0e0)", "INF"),
    ("-1 div 0e0", "-INF"),
    ("0e0 div 0e0", "NaN"),
    ("4 mod 0e0", "NaN"),
    # conditionals / logic
    ("if (1 < 2) then 'a' else 'b'", "a"),
    ("if (2 > 1 and 3 > 2 or 1 > 5) then 1 else 0", "1"),
    ("not(0)", "true"),
    ("boolean('')", "false"),
    # FLWOR core
    ("let $x := 5 return $x * 2", "10"),
    ("let $a := 2, $b := 3 return $a * $b", "6"),
    ("for $x in 1 to 3 return $x * $x", "1\n4\n9"),
    ("for $x in (1,2), $y in (10,20) return $x * $y", "10\n20\n20\n40"),
    ("for $x in 1 to 10 where $x mod 2 = 0 return $x", "2\n4\n6\n8\n10"),
    # quantified
    ("some $x in (1,2,3) satisfies $x > 2", "true"),
    ("every $x in (1,2,3) satisfies $x > 2", "false"),
    ("some $x in (1,2), $y in (3,4) satisfies $x + $y = 6", "true"),
    # sequences, ranges, predicates
    ("5 to 1", ""),
    ("count((1,2,3))", "3"),
    ("(1,2,3)[2]", "2"),
    ("(1,2,3)[. > 1]", "2\n3"),
    ("(10,20,30)[position() = last()]", "30"),
    ("(1,2,3) = 3", "true"),
    ("(1,2,3) = 5", "false"),
    # strings
    ("'a' || 'b' || 'c'", "abc"),
    ("concat('x', 1+1, 'y')", "x2y"),
    ("string-join(for $i in 1 to 5 return string($i), ',')", "1,2,3,4,5"),
    ('x"There are {1+2+3} elements"', "There are 6 elements"),
    ('x"a{{b}}c"', "a{b}c"),
    ("upper-case('ab')", "AB"),
    ("substring-before('a=b', '=')", "a"),
    # aggregates over sequences
    ("sum((1,2,3))", "6"),
    ("avg((2,4))", "3"),
    ("max((1,9,4))", "9"),
    ("min((3,1,4))", "1"),
    # weak-typed min/max over non-numeric strings: collation order picks the
    # ORIGINAL item (not a mangled key), all-numeric strings compare as numbers
    ("max(('apple','Banana','cherry'))", "cherry"),
    ("min(('apple','Banana','cherry'))", "apple"),
    ("max(('1','10','9'))", "10"),
    # predicate over a document-literal node set: the filter must carry the
    # literal's backing array (ids would otherwise atomize against the
    # context document)
    ("((<r><a>2</a><a>1</a></r>)//a)[2]", "1"),
    ("string-join((<r><a>2</a><a>1</a></r>)//a[. > 1], ',')", "2"),
    # casts
    ("3.14 cast as xs:integer", "3"),
    ("'42' cast as xs:double", "42"),
    ("42 cast as xs:string || '!'", "42!"),
    # window clauses (xquery5 golden family)
    ("for tumbling window $x in (1,2,3,4) start when . mod 2 = 1 return sum($x)", "3\n7"),
    ("for sliding window $x in (1,2,3) start when true() return string-join($x, '')", "123\n23\n3"),
    ("for sliding window $x in (1,2,3,4) start when true() end when true() return sum($x)", "1\n2\n3\n4"),
    # try/catch with the idiv dynamic-error model (divisionInt golden)
    ("try { 1 idiv 0e0 } catch * { $__err_code }", "err:FOAR0001"),
    ("try { number('NaN') idiv 1 } catch * { $__err_code }", "err:FOAR0002"),
    ("try { -1 idiv -1 } catch * { $__err_code }", "1"),
    # mod is arithmetic, not IEEE fmod: zero remainders are +0 from
    # nonzero dividends (modulo golden)
    ("string(-1 mod -1)", "0"),
    ("string(-0e0 mod -1)", "-0"),
    # static pattern destructuring (regression_mutablevariable2)
    ("let <a>{$foo}</a> := <a>123</a> return $foo", "123"),
    ("for <a>{$foo}</a> in <a>123</a> return $foo", "123"),
    # path-step function calls (readme.txt:147-149)
    ("(<html><body><a>1</a><a>2</a></body></html>)//a/concat('>',text(),'<')", ">1<\n>2<"),
]


def test_expression_goldens(spark):
    df = spark.range(1)
    cols = [
        compile_expr(src).string().alias(f"c{i}") for i, (src, _) in enumerate(CASES)
    ]
    row = df.select(*cols).first()
    for i, (src, want) in enumerate(CASES):
        assert row[f"c{i}"] == want, f"{src!r}: want {want!r} got {row[f'c{i}']!r}"


NODE_CASES = [
    # tests/tests.sh:448-452 xpath8/9/10 over '<a>3</a>'
    (" 3 + . ", "6"),
    (" . + 3 ", "6"),
    (" . ", "3"),
    (" . eq . ", "true"),
    ("//a", "3"),
    ("count(//a)", "1"),
    ("string-length(.)", "1"),
    ("let $x := //a return $x", "3"),
    ("for $x in //a return concat($x, '!')", "3!"),
    ("if (//a = 3) then 'y' else 'n'", "y"),
]


def test_expression_node_context(spark):
    from xidel_spark.extract.nodes import parse_auto_nodes

    nd = (
        spark.createDataFrame([("<a>3</a>",)], "m string")
        .select(parse_auto_nodes(F.col("m")).alias("nodes"))
        .localCheckpoint()
    )
    cols = [
        compile_expr(src).string(nodes=F.col("nodes")).alias(f"c{i}")
        for i, (src, _) in enumerate(NODE_CASES)
    ]
    row = nd.select(*cols).first()
    for i, (src, want) in enumerate(NODE_CASES):
        assert row[f"c{i}"] == want, f"{src!r}: want {want!r} got {row[f'c{i}']!r}"


def test_env_bindings(spark):
    df = spark.createDataFrame([(7, "x")], "a long, s string")
    env = {"a": F.col("a"), "s": F.col("s")}
    got = df.select(
        compile_expr("$a * 2").string(env=env).alias("v1"),
        compile_expr("$s || string($a)").string(env=env).alias("v2"),
        compile_expr("if ($a > 5) then 'big' else 'small'").string(env=env).alias("v3"),
    ).first()
    assert (got["v1"], got["v2"], got["v3"]) == ("14", "x7", "big")


def test_kind_auto_detection():
    """tests/tests.sh:423-452 pins: css2 → a.foobar is CSS; xpath4/5/6 bare
    names and //-paths are XPath; xquery4/5 let/for are XPath/XQuery;
    template starts with '<'; xpath8/9/10 full expressions are XPath."""
    assert detect_kind("a.foobar") == "css"
    assert detect_kind("   a.foobar   ") == "css"
    assert detect_kind("a#id") == "css"
    assert detect_kind("html") == "xpath"
    assert detect_kind("a") == "xpath"
    assert detect_kind("//a") == "xpath"
    assert detect_kind("    //a   ") == "xpath"
    assert detect_kind("let    $x := //a return $x") == "xpath"
    assert detect_kind("'&gt;'") == "xpath"
    assert detect_kind('"x"') == "xpath"
    assert detect_kind(" 3 + . ") == "xpath"
    assert detect_kind(" . ") == "xpath"
    assert detect_kind(" . eq . ") == "xpath"
    assert detect_kind('<a class="foobar">{.}</a>') == "pattern"
    assert detect_kind("concat(//title, 'x')") == "xpath"


def test_routing_errors():
    """constructs that live in library operators raise a routing message
    instead of silently mis-parsing (window clauses graduated to in-string
    compilation in round 4, group-by/count in round 5)."""
    for src in [
        # multi-for group-by stays library-level (queries_fn.py);
        # the routing error surfaces at column-compile time
        "for $x in (1,2), $y in (3,4) group by $x return $x",
    ]:
        with pytest.raises(ValueError):
            compile_expr(src).column()


def test_flwor_group_by(spark):
    """in-string 'group by'/'count' (single-for form, XQuery 3.0
    semantics): the grouping variable rebinds to the key, non-grouping
    variables to their grouped sequences; groups emit in first-appearance
    order; 'order by' reorders groups; 'count' binds positions."""
    cases = [
        # grouping var becomes the scalar key (count($x) is 1 per spec)
        ("string-join(for $x in (1,2,3,1,2,1) group by $x "
         "return concat($x,'#',count($x)), ',')", "1#1,2#1,3#1"),
        # non-grouping FOR var rebinds to the group's value sequence
        ("string-join(for $w in ('apple','ant','bee','bat','cow') "
         "let $k := substring($w,1,1) group by $k "
         "return concat($k,':',string-join($w,'+')), ',')",
         "a:apple+ant,b:bee+bat,c:cow"),
        ("string-join(for $x in (5,3,5,1) group by $x order by $x "
         "return string($x), ',')", "1,3,5"),
        ("string-join(for $x in (5,3,5,1) group by $x order by $x "
         "descending return string($x), ',')", "5,3,1"),
        # 'group by $k := expr' binding form (XQuery 3.1)
        ("string-join(for $w in ('aa','ab','ba','bb','ac') "
         "group by $k := substring($w,1,1) "
         "return concat($k,'>',count($w)), ',')", "a>3,b>2"),
        # aggregate over the grouped sequence; where filters GROUPS
        ("string-join(for $x in (1,1,2,2,2,9) let $g := $x group by $g "
         "where count($x) > 1 return concat($g,'=',sum($x)), ',')",
         "1=2,2=6"),
        # count clause: 1-based tuple position
        ("string-join(for $x in ('a','b','c') count $c "
         "return concat($c,$x), ',')", "1a,2b,3c"),
    ]
    df = spark.range(1)
    cols = [compile_expr(s).string().alias(f"c{i}") for i, (s, _) in enumerate(cases)]
    row = df.select(*cols).first()
    for i, (src, want) in enumerate(cases):
        assert row[f"c{i}"] == want, f"{src!r}: want {want!r} got {row[f'c{i}']!r}"


def test_variable_assignment_extension(spark):
    """xidel's `$v := e` / `v := e` (readme.txt:131-135): evaluates to the
    value, later sequence items see the binding, assignments surface for
    the change log; top-level comma lists are sequences; the xquery
    version prolog strips."""
    cases = [
        ("$a := 5", "5"),
        ("($a := 2, $b := $a * 3, $b + 1)", "2\n6\n7"),
        ("v := 18", "18"),
        ("1, 2, 5", "1\n2\n5"),
        ('xquery version "1.0"; 1+1', "2"),
        ("2, xs:int(17), xs:untypedAtomic('?'), 3.7", "2\n17\n?\n3.7"),
    ]
    df = spark.range(1)
    cols = [compile_expr(s).string().alias(f"c{i}") for i, (s, _) in enumerate(cases)]
    row = df.select(*cols).first()
    for i, (src, want) in enumerate(cases):
        assert row[f"c{i}"] == want, f"{src!r}: want {want!r} got {row[f'c{i}']!r}"
    _, log = compile_expr("($t := 'x', $n := 5)").with_assignments()
    names = [n for n, _ in log]
    assert names == ["t", "n"]


@pytest.mark.needs_reference
def test_reference_expression_acceptance():
    """coverage meter: the parser must accept >=70% of the reference's own
    -e/-extract/--xpath/--xquery test strings (tests/tests.sh), with
    pattern templates routed to the pattern engine."""
    import shlex

    from xidel_spark.exprlang import detect_kind, parse_expr

    src = open("/root/reference/tests/tests.sh").read()
    exprs = []
    for line in src.splitlines():
        if not line.strip().startswith("tests/test.sh"):
            continue
        try:
            toks = shlex.split(line.split("#")[0])
        except ValueError:
            continue
        for i, t in enumerate(toks):
            if t in ("-e", "--extract", "--xpath", "--xquery") and i + 1 < len(toks):
                exprs.append(toks[i + 1])
    assert len(exprs) > 600
    ok = routed = 0
    for e in exprs:
        if detect_kind(e) in ("pattern", "css"):
            routed += 1
            continue
        try:
            compile_expr(e)  # incl. doc-literal preprocessing
            ok += 1
        except Exception:
            pass
    handled = ok + routed
    # measured 100% (729/729) at round 5 — pinned with slack for refactors
    assert handled / len(exprs) >= 0.97, f"{handled}/{len(exprs)}"
    _ = parse_expr  # the raw parser stays importable for the meter


def test_flwor_order_by(spark):
    """in-string 'order by' (single-for form): ascending/descending,
    after where, over lets, and under xidel collation ('9xy'<'10XY'<'xy')."""
    cases = [
        ("for $x in (3,1,2) order by $x return $x", "1\n2\n3"),
        ("for $x in (3,1,2) order by $x descending return $x", "3\n2\n1"),
        ("for $x in (1,2,3,4) where $x mod 2 = 0 order by $x descending return $x", "4\n2"),
        ("for $w in ('xy','9xy','10XY') order by $w return $w", "9xy\n10XY\nxy"),
        ("for $x in (3,1,2) let $y := $x * 10 order by $y return $y", "10\n20\n30"),
        ("for $x in (1,2) order by $x return $x * 100", "100\n200"),
    ]
    df = spark.range(1)
    cols = [compile_expr(s).string().alias(f"c{i}") for i, (s, _) in enumerate(cases)]
    row = df.select(*cols).first()
    for i, (src, want) in enumerate(cases):
        assert row[f"c{i}"] == want, f"{src!r}: want {want!r} got {row[f'c{i}']!r}"


def test_collation_key_expr_matches_python(spark):
    """the pure-Catalyst collation key must be byte-identical to the Python
    reference key (collation_key_one) — it feeds every string comparison
    the expression language compiles."""
    from xidel_spark.functions.collation import collation_key_expr, collation_key_one

    vals = [
        "", "9xy", "9XY", "10XY", "xy", "a01b002", "0", "000",
        "x" + "1" * 30 + "y", "A1B2C3", "  spaces  ", "ALLCAPS", "123",
        "v1.2.3-alpha", None,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    rows = {
        r["s"]: r["k"]
        for r in df.select("s", collation_key_expr(F.col("s")).alias("k")).collect()
    }
    for v in vals:
        assert rows[v] == collation_key_one(v), repr(v)


def test_no_python_udf_in_expression_plan(spark):
    """expressions must stay in codegen: no BatchEvalPython / ArrowEval
    nodes in the physical plan."""
    df = spark.range(10).select(F.col("id").cast("long").alias("a"))
    out = df.select(
        compile_expr("if ($a > 5) then 'big' else 'small'")
        .string(env={"a": F.col("a")})
        .alias("v"),
        compile_expr("'x' || string($a) < 'x' || string($a + 1)")
        .string(env={"a": F.col("a")})
        .alias("w"),
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_expression_predicates_in_paths(spark):
    """round-3 unification: path predicates beyond the fixed vocabulary
    compile through the expression language — position math, numeric
    attribute comparisons, function calls, not()."""
    from xidel_spark.extract.nodes import parse_auto_nodes
    from xidel_spark.extract.xpath import compile_xpath

    html = "<d><a x='1'>one</a><a x='5'>two</a><a x='9'>three</a><a>four</a></d>"
    nd = (
        spark.createDataFrame([(html,)], "m string")
        .select(parse_auto_nodes(F.col("m")).alias("nodes"))
        .localCheckpoint()
    )
    cases = [
        ("//a[2]", ["two"]),
        ("//a[@x > 4]", ["two", "three"]),
        ("//a[position() mod 2 = 1]", ["one", "three"]),
        ("//a[position() = last() - 1]", ["three"]),
        ("//a[number(@x) + 1 = 6]", ["two"]),
        ("//a[string-length(.) > 3]", ["three", "four"]),
        ("//a[not(@x)]", ["four"]),
    ]
    cols = [
        compile_xpath(sel).values(F.col("nodes")).alias(f"c{i}")
        for i, (sel, _) in enumerate(cases)
    ]
    row = nd.select(*cols).first()
    for i, (sel, want) in enumerate(cases):
        assert list(row[f"c{i}"]) == want, sel


def test_xpath31_operators(spark):
    """XPath 3.1/4.0 surface from the changelog: '=>' arrow, '!' simple
    map, 'otherwise', JSONiq array literals."""
    cases = [
        ("'abc' => upper-case()", "ABC"),
        ("'a,b,c' => tokenize(',') => count()", "3"),
        ("(1,2,3) ! (. * 10)", "10\n20\n30"),
        ("(1 to 3) ! position()", "1\n2\n3"),
        ("() otherwise 'fallback'", "fallback"),
        ("'x' otherwise 'y'", "x"),
        ("(1,2) otherwise 9", "1\n2"),
        ("[1, 2, 3]", "1\n2\n3"),
        ("count([4,5])", "2"),
        ("sum([1,2,3] ! (. + 1))", "9"),
        ("-2 ! (. + 1)", "-3"),  # unary binds above simple map
        ("'7' => xs:integer() + 1", "8"),
        ("'a,b' => tokenize(',') ! upper-case(.)", "A\nB"),
    ]
    df = spark.range(1)
    cols = [compile_expr(s).string().alias(f"c{i}") for i, (s, _) in enumerate(cases)]
    row = df.select(*cols).first()
    for i, (src, want) in enumerate(cases):
        assert row[f"c{i}"] == want, f"{src!r}: want {want!r} got {row[f'c{i}']!r}"


def test_jsoniq_objects_and_lookups(spark):
    """JSONiq object constructors (readme.txt:142-152), the three access
    syntaxes ($m?k, $m('k'), $m.k), lookups on sequences, castable as."""
    cases = [
        ('{"a": 1, "b": 2}?a', "1"),
        ('{"a": 1}("a")', "1"),
        ('{"n": 5}.n', "5"),
        ("let $m := {'x': 'v1', 'y': 'v2'} return $m?y", "v2"),
        ("count(jn:keys({'a':1,'b':2}))", "2"),
        ("(10,20,30)?2", "20"),
        ("[5,6,7]?3", "7"),
        ("map:get({'k':'v'}, 'k')", "v"),
        ("map:contains({'k':'v'}, 'z')", "false"),
        ("'42' castable as xs:integer", "true"),
        ("'4x2' castable as xs:integer", "false"),
        ("'2020-01-01' castable as xs:date", "true"),
        ('{"a": 1+1}?a', "2"),
        ("string({'a':'b'})", '{"a":"b"}'),
    ]
    df = spark.range(1)
    cols = [compile_expr(s).string().alias(f"c{i}") for i, (s, _) in enumerate(cases)]
    row = df.select(*cols).first()
    for i, (src, want) in enumerate(cases):
        assert row[f"c{i}"] == want, f"{src!r}: want {want!r} got {row[f'c{i}']!r}"


def test_empty_sequence_edges(spark):
    """empty-sequence semantics through every operator class, plus the
    reserved-word lexer fix ('in ()' is keyword + empty parens, not a
    function token)."""
    cases = [
        ("() = 1", "false"),
        ("count(())", "0"),
        ("string(())", ""),
        ("sum(())", "0"),
        ("('a','b')[0]", ""),
        ("(1,2)[3]", ""),
        ("not(())", "true"),
        ("0 = '0'", "true"),
        ("if (()) then 1 else 2", "2"),
        ("for $x in () return $x", ""),
        ("some $x in () satisfies true()", "false"),
        ("every $x in () satisfies false()", "true"),
        ("for $x in (1,2) return ()", ""),
        ("concat('a', (), 'b')", "ab"),
        ("boolean('false')", "true"),  # EBV of a non-empty string, not a cast
    ]
    df = spark.range(1)
    cols = [compile_expr(s).string().alias(f"c{i}") for i, (s, _) in enumerate(cases)]
    row = df.select(*cols).first()
    for i, (src, want) in enumerate(cases):
        assert row[f"c{i}"] == want, f"{src!r}: want {want!r} got {row[f'c{i}']!r}"


@pytest.mark.needs_reference
def test_computed_constructors(spark):
    """computed element/attribute/text constructors serialize — byte-exact
    vs the reference golden linebreaksXMLElementNodes-NoDecl-NoIndent
    (tests.sh:273: element nodes {(1 to 3) ! element node {...}})."""
    golden = open(
        "/root/reference/tests/output/linebreaksXMLElementNodes-NoDecl-NoIndent"
    ).read().rstrip("\n")
    cases = [
        ('element nodes {(1 to 3) ! element node {attribute id {.},"value"||.}}', golden),
        ("element x {}", "<x/>"),
        ("element x {'a', 'b'}", "<x>a b</x>"),
        ("element p {attribute cls {'c&d'}, 'x<y'}", '<p cls="c&amp;d">x&lt;y</p>'),
        ("element o {element i {1}, element i {2}}", "<o><i>1</i><i>2</i></o>"),
        ("text {'a<b'}", "a&lt;b"),
        ("attribute q {42}", "42"),
        ("element w {1 + 1}", "<w>2</w>"),
    ]
    df = spark.range(1)
    cols = [compile_expr(s).string().alias(f"c{i}") for i, (s, _) in enumerate(cases)]
    row = df.select(*cols).first()
    for i, (src, want) in enumerate(cases):
        assert row[f"c{i}"] == want, f"{src!r}: want {want!r} got {row[f'c{i}']!r}"


def test_static_document_literals(spark):
    """static direct XML constructors compile to CONSTANT node arrays —
    '(<html>..</html>)//td' navigates a compile-time literal (no per-row
    parse, no UDF); the literal's value is the element node."""
    cases = [
        ("(<r><td>a</td><td>b</td></r>)//td", "a\nb"),
        ("count((<x><i/><i/><i/></x>)//i)", "3"),
        ("(<a href='u'>L</a>)/@href", "u"),
        ("string((<p>hi</p>))", "hi"),
        ("(<t>5</t>) + 1", "6"),
        ("(<r><a>1</a></r>)//a = 1", "true"),
    ]
    df = spark.range(1)
    cols = [compile_expr(s).string().alias(f"c{i}") for i, (s, _) in enumerate(cases)]
    row = df.select(*cols).first()
    for i, (src, want) in enumerate(cases):
        assert row[f"c{i}"] == want, f"{src!r}: want {want!r} got {row[f'c{i}']!r}"
    # the plan stays UDF-free: the literal is data, not a parse call
    plan = (
        df.select(compile_expr("(<r><td>x</td></r>)//td").string().alias("v"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan


def test_declare_prolog(spark):
    """declare variable / declare function prologs (tests.sh xquery6):
    variables become lets, functions inline statically with params bound
    (recursion is depth-guarded — column plans cannot recurse)."""
    cases = [
        ('declare function local:abc(){"&gt;"}; local:abc()', "&gt;"),
        ("declare function local:dbl($x){$x * 2}; local:dbl(21)", "42"),
        ("declare function local:add($a, $b){$a + $b}; local:add(1, local:add(2, 3))", "6"),
        ('declare variable $xyz := "hello"; substring($xyz,2,3)', "ell"),
        ("declare variable $a := 3; declare variable $b := $a * 2; $a + $b", "9"),
    ]
    df = spark.range(1)
    cols = [compile_expr(s).string().alias(f"c{i}") for i, (s, _) in enumerate(cases)]
    row = df.select(*cols).first()
    for i, (src, want) in enumerate(cases):
        assert row[f"c{i}"] == want, f"{src!r}: want {want!r} got {row[f'c{i}']!r}"
    with pytest.raises(ValueError, match="depth"):
        compile_expr("declare function local:f($x){local:f($x)}; local:f(1)").column()


def test_instance_of(spark):
    """'instance of' — decidable statically (the compile-time kind IS the
    dynamic type in the column value model), incl. occurrence indicators
    and the vacuous empty-sequence rule."""
    cases = [
        ("5 instance of xs:integer", "true"),
        ("5 instance of xs:string", "false"),
        ("'x' instance of xs:string", "true"),
        ("5.1 instance of xs:double", "true"),
        ("(1,2) instance of xs:integer*", "true"),
        ("(1,2) instance of xs:integer", "false"),
        ("() instance of xs:integer?", "true"),
        ("(1,2) instance of xs:integer+", "true"),
        ("true() instance of xs:boolean", "true"),
        ("5 instance of item()", "true"),
    ]
    df = spark.range(1)
    cols = [compile_expr(s).string().alias(f"c{i}") for i, (s, _) in enumerate(cases)]
    row = df.select(*cols).first()
    for i, (src, want) in enumerate(cases):
        assert row[f"c{i}"] == want, f"{src!r}: want {want!r} got {row[f'c{i}']!r}"
