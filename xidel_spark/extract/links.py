"""Link / span extraction over the interleaved documents table.

This is the vectorized replacement for the reference's follow-expression
evaluation (`-f '//a'` → element nodes resolved to @href via
``pxp:resolve-html(., $url)``, xidelbase.pas:2054-2085 and 1494-1535).

Selectors are compiled, not looked up: any XPath-lite location path
(axes, predicates — extract/xpath.py) or CSS selector (extract/css.py)
evaluates as pure Catalyst array algebra over the per-document node tree
(extract/nodes.py) — no UDF, whole-stage-codegen friendly, and the scan
prunes every column but `doc_id`/`spans`.

The reference pins that ``//a`` selects only real anchor elements: the
fixture <ad href="d.xml"> in tests/a.xml must NOT be followed (golden
tests/output/tef has no DDD). Span kinds map to element tags (link → a),
so the generic compiler preserves that exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .css import compile_css
from .kinds import guess_kind
from .nodes import spans_to_nodes
from .xpath import CompiledXPath, compile_xpath


def compile_selector(expr: str) -> CompiledXPath:
    """-e/-f argument → compiled selector, with the reference's
    guessExtractionKind dispatch (xidelbase.pas:2540-2543): CSS shapes via
    the CSS grammar, everything else as XPath."""
    if guess_kind(expr) == "css":
        return compile_css(expr)
    return compile_xpath(expr)


# ---------------------------------------------------------------------------
# flat fast path
#
# The interleaved-spans table is a depth-1 tree (every span is a child of
# the root), so the crawl-loop's typical selectors ('//a', '//img/@src',
# 'a[href]', ...) reduce to ONE F.filter over the spans array — ~50× faster
# than the generic node-tree evaluator (measured 0.44 s vs 21.5 s per 500k
# docs at local[32]) because it skips building the node structs entirely.
# The AST decides eligibility, so both backends share one grammar; anything
# with sibling/parent axes, positional predicates, unions or nested paths
# falls through to the generic engine.
# ---------------------------------------------------------------------------


def _span_ref_name(s) -> Column:
    return F.when(s["kind"] == "image", F.lit("src")).otherwise(F.lit("href"))


def _span_attr(s, name: str) -> Column:
    return F.when(
        (_span_ref_name(s) == name) & s["media_ref"].isNotNull(), s["media_ref"]
    )


def _span_tag_matches(s, test: str) -> Column:
    if test == "*":
        return F.lit(True)
    from .nodes import _KIND_TAG

    kinds = [k for k, t in _KIND_TAG.items() if t == test]
    cond = s["kind"] == test
    for k in kinds:
        cond = cond | (s["kind"] == k)
    return cond


def _span_pred(pred):
    """predicate AST → callable(span)->Column, or None if not flat-safe."""
    kind = pred[0]
    if kind == "attr-exists":
        return lambda s: _span_attr(s, pred[1]).isNotNull()
    if kind == "attr-cmp":
        _, name, op, val = pred
        if op == "=":
            return lambda s: _span_attr(s, name) == val
        return lambda s: _span_attr(s, name).isNotNull() & (_span_attr(s, name) != val)
    if kind == "str-cmp":
        _, src, op, val = pred
        if op == "=":
            return lambda s: s["text"] == val
        return lambda s: s["text"].isNotNull() & (s["text"] != val)
    if kind == "fn":
        _, fname, arg, val = pred
        if arg.startswith("@"):
            src = lambda s: _span_attr(s, arg[1:])  # noqa: E731
        else:
            src = lambda s: s["text"]  # noqa: E731
        fns = {
            "contains": lambda c: c.contains(val),
            "starts-with": lambda c: c.startswith(val),
            "ends-with": lambda c: c.endswith(val),
            "word": lambda c: F.array_contains(F.split(c, r"\s+"), val),
            "lang-prefix": lambda c: (c == F.lit(val)) | c.startswith(val + "-"),
        }
        if fname in fns:
            return lambda s: fns[fname](src(s))
    return None


def _flat_fast(sel: CompiledXPath):
    """If the selector is flat-safe, return f(spans, want) -> array<string>
    (want in 'ref'|'value'); else None."""
    if len(sel.paths) != 1:
        return None
    steps = list(sel.paths[0].steps)
    text_tail = False
    if (
        len(steps) == 2
        and steps[1].test == "#text"
        and not steps[1].preds
        and steps[1].axis in ("child", "descendant")
    ):
        text_tail = True
        steps = steps[:1]
    if len(steps) != 1:
        return None
    st = steps[0]
    if st.axis not in ("descendant", "child", "descendant-or-self"):
        return None
    if st.test in ("#text", "node()"):
        return None
    preds = [_span_pred(p) for p in st.preds]
    if any(p is None for p in preds):
        return None
    attr = sel.attr

    def eval_flat(spans: Column, want: str) -> Column:
        def keep(s):
            cond = _span_tag_matches(s, st.test)
            for p in preds:
                cond = cond & p(s)
            return cond

        # filter BEFORE the document-order sort: the comparator then runs
        # over the few matching spans instead of the whole span array
        # (r6 — measured 2.06 → 1.49 s on 1M docs). Equivalent for ties
        # too: the underlying sort is stable (TimSort), so sort∘filter and
        # filter∘sort both keep original order within equal offsets.
        hits = F.array_sort(
            F.filter(spans, keep),
            lambda a, b: F.when(a["offset"] < b["offset"], -1)
            .when(a["offset"] > b["offset"], 1)
            .otherwise(0),
        )
        if attr is not None:
            vals = F.transform(hits, lambda s: _span_attr(s, attr))
        elif want == "ref":
            vals = F.transform(hits, lambda s: s["media_ref"])
        elif text_tail:
            vals = F.transform(hits, lambda s: s["text"])
        else:  # element string-value
            return F.transform(hits, lambda s: s["text"])
        return F.filter(vals, lambda v: v.isNotNull())

    return eval_flat


def _ref_of(n) -> Column:
    """element → its resource attribute (the reference resolves <a> to
    @href, <img>/<source> to @src; pxp:resolve-html semantics)."""
    return F.coalesce(
        F.try_element_at(n["attrs"], F.lit("href")),
        F.try_element_at(n["attrs"], F.lit("src")),
    )


def extract_links(docs: DataFrame, selector: str = "//a", url_col: str = "doc_id") -> DataFrame:
    """(src, idx, dst): one row per followed link, idx = document order.

    Equivalent of evaluating the follow expression and resolving each hit
    to its resource attribute; `dst` targets are assumed absolute here —
    resolution against base_uri is urlnorm.resolve_url's job.
    """
    sel = compile_selector(selector)
    fast = _flat_fast(sel)
    if fast is not None:
        refs = fast(F.col("spans"), "ref")
    else:
        nodes = spans_to_nodes(F.col("spans"))
        if sel.attr is not None:
            refs = sel.values(nodes)
        else:
            refs = F.filter(
                F.transform(sel.nodes_result(nodes), _ref_of), lambda v: v.isNotNull()
            )
    return (
        docs.select(F.col(url_col).alias("src"), F.posexplode(refs).alias("idx", "dst"))
        .select("src", F.col("idx").cast("int").alias("idx"), "dst")
    )


def extract_kind_text(docs: DataFrame, selector: str, url_col: str = "doc_id") -> DataFrame:
    """(url, idx, value): string values of selector hits — the `-e`
    extraction analogue (element string-value, @attr value, or text())."""
    sel = compile_selector(selector)
    fast = _flat_fast(sel)
    if fast is not None:
        vals = fast(F.col("spans"), "value")
    else:
        vals = sel.values(spans_to_nodes(F.col("spans")))
    return docs.select(
        F.col(url_col).alias("url"), F.posexplode(vals).alias("idx", "value")
    )
