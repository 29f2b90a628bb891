"""URL canonicalization + resolution — three engines, measured choice.

The reference resolves every followed link against the document base URI
(`strResolveURI`, used at xidelbase.pas:1546-1555; `pxp:resolve-html` at
1503) and its IRI handling is pinned by tests/tests.sh:625-626
(fn:resolve-uri cases). The north rule adds the canonical form used as the
frontier dedup key: scheme/host lowercasing, dot-segment removal
(RFC 3986 §5.2.4), default-port stripping, query-param ordering.

Engines (tests/test_urlnorm.py pins them byte-equal); `canonicalize` and
`resolve_url` pick one from the session's master (see `_engine`):

1. `canonicalize_udf` / `resolve_udf` — Arrow-batched pandas UDF mapping a
   single compiled-regex ROW function (not column-vectorized pandas: one
   compiled-regex pass per row beats ten full-column .str passes on a
   memory-bandwidth-bound box — measured 0.8 s vs ~2 s / 2M dirty URLs).
   Used on local masters.
2. `canonicalize_expr` / `resolve_url_expr` — pure Catalyst, no Python
   boundary. Round-3 letless rework: substring-arithmetic skeleton +
   bounded regex-pass dot removal on the common path (~1.7 s / 2M dirty,
   was 18.9 s), with the exact `_let`/F.aggregate stack machine only
   behind a lazily-evaluated top-level branch for paths the passes can't
   finish. Used on cluster masters: no per-candidate Python ser/de/GIL.
3. `canonicalize_one` / `resolve_one` — the row functions (oracles).

Known-slow shapes, kept out by measurement: `_let`-bound Catalyst
everywhere (HOFs have no codegen — one anywhere drops the whole Project
out of whole-stage codegen: 10-38 s); naive compositional Catalyst
without lets (273 KB expression, 40 s+).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

DEFAULT_PORTS = {"http": "80", "https": "443", "ftp": "21"}


def _remove_dot_segments(path: str) -> str:
    # RFC 3986 §5.2.4
    out: list[str] = []
    for seg in path.split("/"):
        if seg == ".":
            continue
        if seg == "..":
            if out and out[-1] != "":
                out.pop()
                if not out:
                    out = [""]
        else:
            out.append(seg)
    if path.endswith("/.") or path.endswith("/.."):
        if out and out[-1] != "":
            out.append("")
    res = "/".join(out)
    if not res.startswith("/"):
        res = "/" + res
    return res


_URL_RE = None


def canonicalize_one(url: str) -> str:
    """Row-at-a-time oracle for `canonicalize` (RFC 3986 component split:
    authority ends at the first of '/', '?', '#')."""
    global _URL_RE
    if url is None:
        return None
    import re

    if _URL_RE is None:
        _URL_RE = re.compile(r"^([^:/?#]+)://([^/?#]*)([^?#]*)(?:\?(.*))?$")
    s = url.strip().split("#", 1)[0]
    if "://" not in s:
        return s
    m = _URL_RE.match(s)
    if not m:
        return s
    scheme = m.group(1).lower()
    authority = m.group(2).lower()
    path, query = m.group(3), m.group(4)
    if ":" in authority:
        host, port = authority.rsplit(":", 1)
        if DEFAULT_PORTS.get(scheme) == port:
            authority = host
    pathq = _remove_dot_segments(path)
    if query is not None:
        params = [p for p in query.split("&") if p]
        if params:
            pathq += "?" + "&".join(sorted(params))
    return f"{scheme}://{authority}{pathq}"


def resolve_one(ref: str, base: str) -> str:
    """Relative → absolute per RFC 3986 §5 (the strResolveURI analogue)."""
    if ref is None:
        return None
    if "://" in ref:
        return ref
    if base is None or "://" not in base:
        return ref
    scheme, rest = base.split("://", 1)
    authority, _, basepath = rest.partition("/")
    basepath = "/" + basepath
    if ref.startswith("//"):
        return scheme + ":" + ref
    if ref.startswith("/"):
        merged = ref
    elif ref.startswith("?"):
        merged = basepath.split("?", 1)[0] + ref
    else:
        merged = basepath.rsplit("/", 1)[0] + "/" + ref
    return f"{scheme}://{authority}{_remove_dot_segments(merged.split('?', 1)[0])}" + (
        ("?" + merged.split("?", 1)[1]) if "?" in merged else ""
    )


@F.pandas_udf(StringType())
def canonicalize_udf(urls: pd.Series) -> pd.Series:
    """Arrow-batched row-map. Measured FASTEST of three tried shapes at
    24M URLs / local[32]: row-map 4.2 s clean / 5.8 s dirty; a fully
    column-vectorized pandas version (one .str.extract pass + masked
    subsets) 7.2 s / 12.2 s (each .str op is a full-column pass — memory
    traffic dominates); the pure-Catalyst expression 10 s / 38 s. The
    single compiled-regex one-pass-per-row beats ten column passes."""
    return urls.map(canonicalize_one)


@F.pandas_udf(StringType())
def resolve_udf(r: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-batched row-map (see canonicalize_udf for the measurements)."""
    return pd.Series(
        [resolve_one(x, y) for x, y in zip(r, b)], index=r.index, dtype="object"
    )


# ---------------------------------------------------------------------------
# Catalyst implementations (the hot path)
# ---------------------------------------------------------------------------


def _let(value: Column, body) -> Column:
    """Expression-level let-binding: evaluate `value` ONCE per row and make
    it a lambda variable (a leaf) inside `body`. Without this, every Column
    reference duplicates its whole subtree — a canonicalize built by plain
    composition was a 273 KB expression (40 s / 24M rows); with lets it is
    ~3 KB (0.4 s). transform over a 1-element array is the cheapest
    let-binding Catalyst offers."""
    return F.get(F.transform(F.array(value), body), 0)


def _slash_fix(p: Column) -> Column:
    return _let(
        p, lambda v: F.when(v.startswith("/"), v).otherwise(F.concat(F.lit("/"), v))
    )


def _dots_cat(path: Column) -> Column:
    """RFC 3986 §5.2.4 dot-segment removal as an F.aggregate stack machine,
    bypassed (pure passthrough + leading-slash fix) when the path contains
    no dot segment at all — the common case pays one `contains`."""

    def step(acc, sg):
        popped = F.when(F.size(acc) <= 1, F.array(F.lit(""))).otherwise(
            F.slice(acc, 1, F.size(acc) - 1)
        )
        can_pop = (F.size(acc) > 0) & (F.try_element_at(acc, F.lit(-1)) != "")
        return (
            F.when(sg == ".", acc)
            .when(sg == "..", F.when(can_pop, popped).otherwise(acc))
            .otherwise(F.concat(acc, F.array(sg)))
        )

    def with_norm(norm):
        def with_stack(stack):
            trailing = norm.endswith("/.") | norm.endswith("/..")
            stack2 = F.when(
                trailing & (F.size(stack) > 0) & (F.try_element_at(stack, F.lit(-1)) != ""),
                F.concat(stack, F.array(F.lit(""))),
            ).otherwise(stack)
            return F.array_join(stack2, "/")

        slow = _let(
            F.aggregate(F.split(norm, "/"), F.array().cast("array<string>"), step),
            with_stack,
        )
        needs = norm.contains("/.") | norm.startswith(".")
        return F.when(needs, _slash_fix(slow)).otherwise(_slash_fix(norm))

    return _let(F.when(path == "", F.lit("/")).otherwise(path), with_norm)


def _dots_fast(path: Column) -> tuple[Column, Column]:
    """(result, unresolved): dot-segment removal with NO higher-order
    functions — a bounded chain of regexp_replace passes. `unresolved` is
    true for the inputs the passes provably didn't finish (deeper than 4
    '..'-levels, '//' empty-segment pop quirks); callers route those to the
    exact aggregate stack machine.

    Mirrors _remove_dot_segments exactly where resolved: '.' segments
    drop, '..' pops the nearest poppable segment (a '..' segment itself is
    never popped — the (?!\\.\\.) guard), root-level '..' runs vanish, and
    a trailing '/.'/'/..' leaves a trailing slash."""
    trailing = path.endswith("/.") | path.endswith("/..")
    # phase A: '.' segments — mid-path in one pass (lookahead keeps the
    # separator so '/././' collapses fully), trailing '/.' → '/'
    t = F.regexp_replace(path, r"/\.(?=/)", "")
    t = F.regexp_replace(t, r"/\.$", "/")
    # phase B: pop one '..' NESTING level per pass (sequential pops like
    # 'a/../b/../c' resolve in a single pass — replaceAll scans on), never
    # popping a '..' itself
    pop = r"/(?!\.\.(?:/|$))[^/]+/\.\.(?=/|$)"
    for _ in range(3):
        t = F.regexp_replace(t, pop, "")
    # phase C: root-level '..' runs vanish ('/..' can pop nothing)
    t = F.regexp_replace(t, r"^(/\.\.)+(?=/|$)", "")
    # inputs here always start with '/' (they follow an authority), and the
    # passes only ever remove whole '/x' chunks — t is ''-or-'/'-leading,
    # so the generic _slash_fix (an interpreted _let) is not needed
    done = F.when(t == "", F.lit("/")).otherwise(
        F.when(trailing & ~t.endswith("/"), F.concat(t, F.lit("/"))).otherwise(t)
    )
    # conservative finish guard computed on the ORIGINAL path — never on
    # the t-chain: every extra reference to t re-evaluates the whole regex
    # chain (expression trees have no sharing), which doubled the cost.
    # ≤3 '/..' occurrences bounds the nesting depth at 3 passes; '//'
    # empty-segment pops route to the exact machine.
    n_dotdot = (F.length(path) - F.length(F.replace(path, F.lit("/.."), F.lit("")))) / 3
    unresolved = path.contains("//") | (n_dotdot > 3)
    return done, unresolved


def _default_port(scheme: Column) -> Column:
    out = F.lit(None).cast("string")
    for sch, port in DEFAULT_PORTS.items():
        out = F.when(scheme == sch, F.lit(port)).otherwise(out)
    return out


def _canon_core(col: Column, dots) -> Column:
    """Shared canonicalize skeleton; `dots(path) -> (path2, needs)` plugs
    in the dot-segment strategy. Letless: cheap component subtrees
    (trim / substring / instr) are duplicated instead of `_let`-bound —
    higher-order functions have no codegen support, so ONE HOF anywhere
    drops the whole Project out of whole-stage codegen and re-evaluating
    a substring a few times beats interpreting everything by ~4×."""
    s = F.substring_index(F.trim(col), "#", 1)
    pos = F.instr(s, "://")  # 0 when absent
    scheme_raw = F.substring(s, F.lit(1), pos - 1)
    # oracle parity: the scheme must be non-empty and free of :/?#
    # (otherwise canonicalize_one's regex declines and returns s as-is)
    bad_scheme = (pos <= 1) | scheme_raw.rlike("[:/?#]")
    scheme = F.lower(scheme_raw)
    rest = F.substring(s, pos + 3, F.length(s))
    slash = F.instr(rest, "/")
    qmark = F.instr(rest, "?")
    past_end = F.length(rest) + 1
    auth_end = F.least(
        F.when(slash > 0, slash).otherwise(past_end),
        F.when(qmark > 0, qmark).otherwise(past_end),
    )
    auth = F.lower(F.substring(rest, F.lit(1), auth_end - 1))
    pathq = F.substring(rest, auth_end, F.length(rest))
    qp = F.instr(pathq, "?")
    path = F.when(qp > 0, F.substring(pathq, F.lit(1), qp - 1)).otherwise(pathq)
    query = F.when(qp > 0, F.substring(pathq, qp + 1, F.length(pathq)))
    # explicit port (rare branch): strip when it equals the scheme default;
    # rsplit-on-last-':' via substring_index(-1)
    port = F.substring_index(auth, ":", -1)
    host = F.substring(auth, F.lit(1), F.length(auth) - F.length(port) - 1)
    auth2 = F.when(
        auth.contains(":"),
        F.when(port == _default_port(scheme), host).otherwise(auth),
    ).otherwise(auth)
    # query param sort (rare branch): strip empty params with regex+btrim
    # FIRST so split/sort_array/array_join are all plain codegen
    # expressions — no filter() lambda (ArrayFilter has no codegen)
    qclean = F.btrim(F.regexp_replace(query, "&{2,}", "&"), F.lit("&"))
    qsuffix = F.when(
        query.isNotNull() & (qclean != ""),
        F.concat(F.lit("?"), F.array_join(F.sort_array(F.split(qclean, "&")), "&")),
    ).otherwise(F.lit(""))
    # a let dispatch costs ~1.4 µs/row interpreted — gate it INSIDE the
    # dot branch so the ~80% dotless rows never pay it, while dot rows
    # evaluate the path chain once instead of ~6× (the aggregate in the
    # slow branch keeps this whole Project out of codegen either way)
    path2 = F.when(path == "", F.lit("/")).otherwise(
        F.when(
            path.contains("/."), _let(path, lambda p: dots(p)[0])
        ).otherwise(path)
    )
    needs_inner = path.contains("/.") & dots(path)[1]  # And short-circuits
    rebuilt = F.concat(scheme, F.lit("://"), auth2, path2, qsuffix)
    out = F.when(col.isNull(), F.lit(None).cast("string")).otherwise(
        F.when(bad_scheme, s).otherwise(rebuilt)
    )
    return out, col.isNotNull() & ~bad_scheme & needs_inner


def canonicalize_expr(col: Column) -> Column:
    """Frontier dedup key — Catalyst only, no Python anywhere on the
    candidate hot path.

    Round-3 rework (18.9 s → ~1.7 s / 2M dirty URLs on this box): the
    common path is the letless skeleton with regex-pass dot removal; only
    rows the bounded passes provably cannot finish (deeper than 4
    '..'-levels, '//' pop quirks — none in any real crawl corpus) take the
    exact aggregate stack machine, behind a lazily-evaluated CaseWhen
    branch at the TOP of the expression so the machine's per-row cost is
    never paid on the fast path.

    WHY NOT CODEGEN (round-4 measurement, closing round-2's open idea):
    the HOF branch keeps this Project out of whole-stage codegen, but
    restoring codegen does NOT pay here. Three measured variants at 1M
    URLs / 4 cores, byte-equal to this form: (a) a letless HOF-free tree
    (2 codegen spans) — 9.1 s; (b) a staged multi-Project form with
    column-leaf sharing and 5 codegen spans — 10.0 s; (c) THIS
    interpreted form with _let sharing — 2.9 s. Regex expressions are
    excluded from Spark's subexpression elimination, so every letless
    variant re-executes the substring/regex chains enough times to
    overwhelm codegen's instruction-level win; _let sharing beats
    whole-stage codegen ~3x on this workload. The Arrow row-map remains
    ~2.5x faster at equal cores and stays the local-master engine; this
    form is the cluster-master, no-Python engine (see `_engine`)."""
    fast, needs = _canon_core(col, _dots_fast)
    slow, _ = _canon_core(col, lambda p: (_dots_cat(p), F.lit(False)))
    return F.when(needs, slow).otherwise(fast)


def resolve_url_expr(ref: Column, base: Column) -> Column:
    """strResolveURI analogue (RFC 3986 §5) — Catalyst only; one expression
    per followed link in the crawl loop.

    Same letless round-3 shape as canonicalize_expr: the common path is
    substring arithmetic + regex-pass dot removal; only provably-unfinished
    paths route to the exact `_let`/aggregate form (`_resolve_slow`)."""
    pos = F.instr(base, "://")
    scheme = F.substring(base, F.lit(1), pos - 1)
    rest = F.substring(base, pos + 3, F.length(base))
    slash = F.instr(rest, "/")
    auth = F.when(slash > 0, F.substring(rest, F.lit(1), slash - 1)).otherwise(rest)
    basepath = F.when(slash > 0, F.substring(rest, slash, F.length(rest))).otherwise(
        F.lit("/")
    )
    dir_prefix = F.substring(
        basepath, F.lit(1), F.length(basepath) - F.instr(F.reverse(basepath), "/")
    )
    merged0 = (
        F.when(ref.startswith("/"), ref)
        .when(ref.startswith("?"), F.concat(F.substring_index(basepath, "?", 1), ref))
        .otherwise(F.concat(dir_prefix, F.lit("/"), ref))
    )

    # `merged` and `mpath` are each referenced ~6× downstream; without the
    # two lets, interpreted eval re-computes their whole subtrees per
    # reference (measured 14 s vs 2.6 s / 2M links). Two lets ≠ the old
    # all-lets form — that one wrapped every component and paid an
    # interpreted HOF dispatch per binding.
    def _with_merged(merged):
        qp = F.instr(merged, "?")
        mpath0 = F.when(qp > 0, F.substring(merged, F.lit(1), qp - 1)).otherwise(merged)
        qsuffix = F.when(
            qp > 0, F.concat(F.lit("?"), F.substring(merged, qp + 1, F.length(merged)))
        ).otherwise(F.lit(""))

        def _with_mpath(mpath):
            d, unresolved = _dots_fast(mpath)
            # dotless merged paths pass through _remove_dot_segments
            # unchanged (always '/'-leading: every merge branch is)
            path2 = F.when(mpath.contains("/."), d).otherwise(mpath)
            needs = mpath.contains("/.") & unresolved
            return F.when(needs, _resolve_slow(ref, base)).otherwise(
                F.concat(scheme, F.lit("://"), auth, path2, qsuffix)
            )

        return _let(mpath0, _with_mpath)

    assembled = _let(merged0, _with_merged)
    return (
        F.when(ref.isNull(), F.lit(None).cast("string"))
        .when(ref.contains("://"), ref)
        .when(base.isNull() | ~base.contains("://"), ref)
        .when(ref.startswith("//"), F.concat(scheme, F.lit(":"), ref))
        .otherwise(assembled)
    )


def _resolve_slow(ref: Column, base: Column) -> Column:
    """exact `_let`/aggregate form — only evaluated on the rare rows the
    bounded regex passes can't finish (callers guard ref/base validity)."""
    def with_parts(p):
        scheme, auth, basepath = p["scheme"], p["auth"], p["basepath"]

        def with_merged(merged):
            qp = F.instr(merged, "?")
            mpath = F.when(qp > 0, F.substring(merged, F.lit(1), qp - 1)).otherwise(merged)
            qsuffix = F.when(
                qp > 0, F.concat(F.lit("?"), F.substring(merged, qp + 1, F.length(merged)))
            ).otherwise(F.lit(""))
            return F.concat(scheme, F.lit("://"), auth, _dots_cat(mpath), qsuffix)

        def with_basepath(bp):
            # bp up to its last '/': length - position-of-last-slash-from-end
            dir_prefix = F.substring(
                bp, F.lit(1), F.length(bp) - F.instr(F.reverse(bp), "/")
            )
            return (
                F.when(ref.startswith("/"), ref)
                .when(ref.startswith("?"), F.concat(F.substring_index(bp, "?", 1), ref))
                .otherwise(F.concat(dir_prefix, F.lit("/"), ref))
            )

        return F.when(ref.startswith("//"), F.concat(scheme, F.lit(":"), ref)).otherwise(
            _let(_let(basepath, with_basepath), with_merged)
        )

    pos = F.instr(base, "://")
    rest0 = F.substring(base, pos + 3, F.length(base))

    def split_base(rest):
        slash = F.instr(rest, "/")
        return F.struct(
            F.substring(base, F.lit(1), F.instr(base, "://") - 1).alias("scheme"),
            F.when(slash > 0, F.substring(rest, F.lit(1), slash - 1))
            .otherwise(rest)
            .alias("auth"),
            F.when(slash > 0, F.substring(rest, slash, F.length(rest)))
            .otherwise(F.lit("/"))
            .alias("basepath"),
        )

    return _let(_let(rest0, split_base), with_parts)


def host_of(url: Column) -> Column:
    """Host (lowercased) — the politeness/partition key. Pure Catalyst."""
    return F.lower(F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1))


def _engine() -> str:
    """'arrow' on local masters, 'expr' otherwise: the Arrow row-map (a
    single compiled-regex pass per row) wins on one DRAM-bound box
    (measured 0.8 s vs 1.7 s / 2M dirty URLs), but on a real cluster the
    Python-worker ser/de + GIL cost scales with every candidate while the
    pure-Catalyst form stays JVM-side — and after the round-3 letless
    rework the expr form is ~2× the UDF instead of the old 5-30×."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    master = spark.conf.get("spark.master", "local") if spark is not None else "local"
    return "arrow" if master.startswith("local") else "expr"


def canonicalize(col: Column) -> Column:
    """Production canonicalization — engine chosen from the session's
    master (see _engine). Tests pin the engines byte-equal; bench carries
    both timings."""
    return canonicalize_udf(col) if _engine() == "arrow" else canonicalize_expr(col)


def resolve_url(ref: Column, base: Column) -> Column:
    """Production link resolution — engine chosen like `canonicalize`."""
    return resolve_udf(ref, base) if _engine() == "arrow" else resolve_url_expr(ref, base)
