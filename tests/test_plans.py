"""Physical-plan assertions — the 100-TB shape checks.

Correctness tests prove the answers; these prove the PLANS: filters reach
the parquet scan, scans prune columns, small dims broadcast, aggregations
have map-side partials, and UDF stages sit on top of pruned scans. A plan
regression here is a scale bug even when results stay right.
"""

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_pricing_summary_pushdown_and_partial_agg(spark):
    from xidel_spark.queries_fn import q_agg_pricing_summary

    plan = plan_of(q_agg_pricing_summary(spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # map-side combine: two HashAggregate nodes around the exchange
    assert plan.count("HashAggregate") >= 2
    # column pruning: the 11-column lineitem scan reads only what's used
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_comment" not in read_schema and "l_orderkey" not in read_schema


def test_star_join_broadcasts_dims(spark):
    from xidel_spark.queries_fn import q_join_broadcast_dim

    plan = plan_of(q_join_broadcast_dim(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims must never shuffle the fact side


def test_link_extraction_prunes_columns(spark):
    from xidel_spark.queries import q_link_extraction

    plan = plan_of(q_link_extraction(spark, SF))
    read_schema = " ".join(l for l in plan.splitlines() if "ReadSchema" in l)
    # spans are synthesized from doc_id + text; lang/source/n_chars must not be read
    assert "lang" not in read_schema and "n_chars" not in read_schema


def test_exact_dedup_single_shuffle(spark):
    from xidel_spark.queries_ops import q_dedup_exact

    plan = plan_of(q_dedup_exact(spark, SF))
    # one shuffle on the content hash ("formatted" lists each node twice:
    # tree line "+- Exchange (n)" + detail header)
    assert plan.count("+- Exchange") == 1
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_robots_rules_broadcast(spark):
    from xidel_spark.queries import q_robots_filter

    plan = plan_of(q_robots_filter(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_total_order_no_single_partition_exchange(spark):
    """the crawl-order ordinal must never plan Exchange SinglePartition over
    the data (the 100×-scale killer the old global Window.orderBy had);
    the only allowed single-partition piece is the tiny per-partition
    offset table, which must sit under a broadcast."""
    from xidel_spark.corpus import synth_docs, synth_seeds
    from xidel_spark.crawl.engine import crawl_exact
    from xidel_spark.extract.links import extract_links

    res = crawl_exact(spark, extract_links(synth_docs(spark, SF), "//a"),
                      synth_seeds(spark, SF))
    plan = plan_of(res.visited)
    assert "Exchange SinglePartition" not in plan
    # all remaining exchanges must be broadcasts (the tiny offset table);
    # the range exchange is pinned inside the localCheckpoint
    assert plan.count("Exchange") == plan.count("BroadcastExchange")
    assert "Window" not in plan


def test_total_order_values_match_global_sort(spark):
    from pyspark.sql.window import Window

    from xidel_spark.util import total_order

    df = spark.range(0, 5000).select(
        (F.col("id") * 2654435761 % 100003).alias("key"), F.col("id")
    )
    got = total_order(df, ["key", "id"], out_col="ord")
    ref = df.withColumn("ord", F.row_number().over(Window.orderBy("key", "id")))
    assert got.join(ref, ["key", "id", "ord"]).count() == 5000


def test_canonicalize_is_arrow_vectorized(spark):
    """the frontier dedup key uses the measured-fastest engine: an
    Arrow-batched, column-vectorized pandas UDF (never row-at-a-time
    BatchEvalPython). The pure-Catalyst variant exists (canonicalize_expr,
    pinned equal by test_urlnorm) but measured 2.5-9x slower."""
    from xidel_spark.queries import q_url_canonicalize

    plan = plan_of(q_url_canonicalize(spark, SF))
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_bloom_probe_plan_is_broadcast_only(spark):
    """the broadcast-regime bloom probe must be k hash lookups in one
    codegen stage: every Exchange a BroadcastExchange, no Python, no
    shuffle of the candidates."""
    from xidel_spark.crawl.bloom import build_bloom, flag_candidates

    seen = spark.range(2000).select(F.format_string("http://s/%d", "id").alias("url"))
    bloom = build_bloom(seen, capacity=10_000, n_shards=4)
    cand = spark.range(100).select(F.format_string("http://c/%d", "id").alias("url"))
    plan = flag_candidates(cand, bloom)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    n_exchanges = plan.count("Exchange") - plan.count("BroadcastExchange") - plan.count("ReusedExchange")
    assert n_exchanges <= 0, plan[:2000]
    for marker in ("BatchEvalPython", "ArrowEvalPython", "pythonUDF"):
        assert marker not in plan


def test_expression_queries_plan_shape(spark):
    """round-3 gated queries: zero Python nodes, zero exchanges (pure
    per-row Catalyst), and column-pruned parquet scans."""
    from xidel_spark.queries_expr import (
        q_request_combine, q_xpath_expressions, q_xs_constructors,
    )

    for q, cols in [
        (q_xpath_expressions, "o_orderkey:bigint,o_totalprice:double,o_orderpriority:string"),
        (q_xs_constructors, "o_orderkey:bigint,o_orderdate:timestamp"),
        (q_request_combine, "o_orderkey:bigint,o_orderpriority:string"),
    ]:
        plan = q(spark, "/root/testdata/sf0.001")._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan, q.__name__
        assert plan.count("Exchange") == 0, q.__name__
        schema = plan.split("ReadSchema")[1][:120]
        for c in cols.split(",")[:2]:
            assert c.split(":")[0] in schema, (q.__name__, c, schema)


def test_instance_of_dynamic_plan_shape(spark):
    """round-4 dynamic type tests: the xs lexical-lattice checks compile
    to pure per-row Catalyst — zero Python nodes, zero exchanges,
    whole-stage codegen, pruned scan."""
    from xidel_spark.queries_expr import q_instance_of_dynamic

    plan = (
        q_instance_of_dynamic(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan
    assert plan.count("Exchange") == 0
    assert plan.count("*(") >= 1  # whole-stage codegen spans
    schema = plan.split("ReadSchema")[1][:160]
    assert "o_orderkey" in schema and "o_totalprice" not in schema


def test_flwor_group_by_plan_shape(spark):
    """round-5 in-string `group by`/`count`: the grouped FLWOR compiles to
    per-row higher-order Catalyst (array_distinct/filter/transform) — zero
    Python nodes, zero exchanges, pruned scan. The DISTRIBUTED grouping
    path is the library operator; this is the expression surface."""
    from xidel_spark.queries_fn import q_flwor_group_by

    plan = (
        q_flwor_group_by(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan
    assert plan.count("Exchange") == 0
    schema = plan.split("ReadSchema")[1][:160]
    assert "doc_id" in schema and "text" not in schema


def test_curation_ops_plan_shape(spark):
    """round-5 curation ops: paragraph dedup + PII scrub are per-row
    (zero exchanges, whole-stage codegen); the contamination check's only
    broadcast is the benchmark n-gram set — documents never build a
    shuffle for the membership join (the groupBy on doc_id is the one
    legitimate aggregation exchange)."""
    from xidel_spark.queries_ops import (
        q_contamination_ngram, q_dedup_paragraph, q_pii_scrub,
    )

    from xidel_spark.queries_ops import q_text_stats

    for q in (q_dedup_paragraph, q_pii_scrub, q_text_stats):
        plan = q(spark, "/root/testdata/sf0.001")._jdf.queryExecution() \
            .executedPlan().toString()
        assert "EvalPython" not in plan, q.__name__
        assert plan.count("Exchange") == 0, q.__name__
    plan = q_contamination_ngram(spark, "/root/testdata/sf0.001") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "BroadcastExchange" in plan  # benchmark side broadcasts
    assert "SortMergeJoin" not in plan  # membership join never shuffles docs


def test_wave_loop_join_strategies(spark, monkeypatch):
    """the loop joins' physical strategies on a small (statically planned,
    AQE-off) crawl: the crawler broadcasts the frontier into the expansion
    and hash-joins the seen side for dedup — never a sort-merge join,
    which would sort the whole seen set every wave — and crawl_exact
    broadcasts best into every relaxation. Spies on localCheckpoint the
    way test_recursing_stage_no_frontier_collect spies on collect."""
    import re

    from pyspark.sql.classic.dataframe import DataFrame

    from xidel_spark.crawl.crawler import FrontierCrawler
    from xidel_spark.crawl.engine import crawl_exact

    real = DataFrame.localCheckpoint
    plans = []

    def spy(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return real(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    links = spark.createDataFrame(
        [(f"u{i}", k, f"u{(3 * i + k + 1) % 30}") for i in range(30) for k in range(2)],
        "src string, idx int, dst string",
    )
    FrontierCrawler(spark, links).run(["u0"])
    crawl_exact(spark, links, ["u0"])
    expand = re.compile(r"BroadcastHashJoin \[url#\d+\], \[src#\d+\], Inner, BuildLeft")
    dedup = re.compile(r"ShuffledHashJoin \[url#\d+\], \[url#\d+\], LeftOuter, BuildRight")
    waves = [p for p in plans if "CollectMetrics crawl_w" in p]
    relax = [p for p in plans if "CollectMetrics relax_" in p]
    assert waves and relax
    for p in waves:
        assert expand.search(p) and dedup.search(p), p
        assert "SortMergeJoin" not in p, p
    for p in relax:
        assert expand.search(p), p


def test_waves_compile_nothing_once_warm(spark, tmp_path, monkeypatch):
    """a wave's generated code is compiled once per crawl, not once per
    wave: on a 10-level robots + politeness + store crawl, waves >= 4 add
    no Janino compilation, and the same crawl run again adds none. The
    rerun stops after the waves that compiled (0-3), which hold the whole
    working set, to keep the test's time down.
    With codegen stage ids in class names every wave recompiled, because
    the seen union's one new child per wave renumbers every later stage
    (session.CODEGEN_CONF). Spies on the crawler's frontier checkpoint the
    way test_state.test_wave_actions_pinned spies on actions."""
    from xidel_spark.crawl import crawler as crawler_mod
    from xidel_spark.crawl.checkpoint import CrawlStateStore
    from xidel_spark.crawl.crawler import FrontierCrawler

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    real = crawler_mod.checkpoint_reset_stats
    at_wave = []

    def spy(df, *args, **kwargs):
        at_wave.append(compiles.getCount())
        return real(df, *args, **kwargs)

    monkeypatch.setattr(crawler_mod, "checkpoint_reset_stats", spy)

    def url(level, j):
        return f"http://h{j % 4}.test/l{level}/p{j}"

    levels, width = 10, 10
    rows = [
        (url(lv, j), k, dst)
        for lv in range(levels - 1)
        for j in range(width)
        for k, dst in enumerate([
            url(lv + 1, j), url(lv + 1, (j + 7) % width),  # next level
            url(max(lv - 1, 0), (j + 3) % width),  # back-link: a duplicate
            f"http://h1.test/private/{lv}/{j}",  # robots-blocked
        ])
    ]
    links = spark.createDataFrame(rows, "src string, idx int, dst string")
    rules = spark.createDataFrame(
        [(f"h{i}.test", "/", True) for i in range(4)] + [("h1.test", "/private/", False)],
        "host string, prefix string, allow boolean",
    )
    seeds = [url(0, j) for j in range(width)]

    def crawl(name, **kw):
        at_wave.clear()
        store = CrawlStateStore(str(tmp_path / name))
        crawler = FrontierCrawler(spark, links, store=store, robots_rules=rules, wait_ms=250)
        run = crawler.run(seeds, **kw)
        at_wave.append(compiles.getCount())
        return run, [b - a for a, b in zip(at_wave, at_wave[1:])]

    run, per_wave = crawl("first")
    assert run.waves == levels and len(per_wave) == levels + 1, run.metrics
    assert per_wave[4:] == [0] * (len(per_wave) - 4), per_wave
    _, again = crawl("again", max_waves=4)
    assert len(again) == 4 and sum(again) == 0, again
