"""Driver contract for the spark-graft builder (PySpark target).

entry()      — flagship: exact xidel DFS crawl (dedup ON) over the sf0.001
               interleaved-spans corpus, returning (url, rank, depth, ord,
               title) in crawl order.
queries()    — 50 named operators from SURVEY.md §2 (crawl core +
               extraction + expression language + xs constructors +
               scale ops) — exactly the driver's 50-row record budget;
               redundant gates are merged into multi-mode gates so every
               registered query gets a CORRECTNESS row. Each callable is
               (spark, sf_dir) -> DataFrame.
oracle_sql() — matching DuckDB SQL per query (xidel_spark/oracle*.py);
               every query is fully oracled (rows + schema + value hash)
               — expr_goldens only where the reference checkout exists.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from pyspark.sql import functions as F

    from xidel_spark import corpus
    from xidel_spark.crawl.engine import crawl_exact
    from xidel_spark.extract.links import extract_kind_text, extract_links

    spark.conf.set("spark.sql.shuffle.partitions", "16")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    sf_dir = "/root/testdata/sf0.001"
    docs = corpus.synth_docs(spark, sf_dir)
    links = extract_links(docs, "//a")
    seeds = corpus.synth_seeds(spark, sf_dir)
    res = crawl_exact(spark, links, seeds)
    titles = extract_kind_text(docs, "//title").where(F.col("idx") == 0)
    return (
        res.visited.join(titles, "url")
        .select("url", "rank", "depth", "ord", F.col("value").alias("title"))
        .orderBy("ord")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from xidel_spark.queries import CRAWL_QUERIES
    from xidel_spark.queries_fn import FN_QUERIES
    from xidel_spark.queries_ops import OPS_QUERIES

    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    from xidel_spark.queries_ext import EXT_QUERIES

    from xidel_spark.queries_json import JSON_QUERIES
    from xidel_spark.queries_sel import SEL_QUERIES

    out.update(CRAWL_QUERIES)
    out.update(OPS_QUERIES)
    out.update(FN_QUERIES)
    out.update(EXT_QUERIES)
    out.update(SEL_QUERIES)
    out.update(JSON_QUERIES)
    from xidel_spark.queries_expr import EXPR_QUERIES

    out.update(EXPR_QUERIES)
    from xidel_spark.queries_goldens import GOLDEN_QUERIES

    out.update(GOLDEN_QUERIES)
    return out


def oracle_sql() -> dict[str, str]:
    from xidel_spark import oracle
    from xidel_spark.oracle_ops import OPS_ORACLES

    out = {
        "crawl_dfs_order": oracle.CRAWL_DFS_ORDER,
        "crawl_modes": oracle.CRAWL_MODES,
        "link_extraction": oracle.LINK_EXTRACTION,
        "url_canonicalize": oracle.URL_CANONICALIZE,
        "politeness_schedule": oracle.POLITENESS_SCHEDULE,
        "robots_filter": oracle.ROBOTS_FILTER,
        "frontier_dedup_request_tuple": oracle.FRONTIER_DEDUP_REQUEST_TUPLE,
    }
    out.update(OPS_ORACLES)
    from xidel_spark.oracle_fn import FN_ORACLES

    out.update(FN_ORACLES)
    from xidel_spark.oracle_ext import EXT_ORACLES

    out.update(EXT_ORACLES)
    from xidel_spark.oracle_sel import SEL_ORACLES

    out.update(SEL_ORACLES)
    from xidel_spark.oracle_json import JSON_ORACLES

    out.update(JSON_ORACLES)
    from xidel_spark.oracle_expr import EXPR_ORACLES

    out.update(EXPR_ORACLES)
    from xidel_spark.queries_goldens import REF, expr_goldens_oracle

    # the expr_goldens oracle embeds the reference checkout's golden files;
    # without the checkout that gate has no oracle (unverifiable here)
    if REF.exists():
        out["expr_goldens"] = expr_goldens_oracle()
    return out
