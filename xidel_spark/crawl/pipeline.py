"""Processing-context pipelines — the `[ ]` grouping / -f chaining model.

The reference builds a tree of processing contexts: `-f` chains a child
context that receives the followed documents (xidelbase.pas:3362-3370),
`[ ]` brackets scope sub-pipelines (3425-3451), and a *trailing* -f sets
followTo := self for unbounded recursion (3829-3841). The goldens pin the
observable difference:

    a.xml -f //a -e //title   → BBB CCC        (tfe: extract on followed)
    a.xml -e //title -f //a   → AAA BBB … C2   (tef: recurse, extract all)
    a.xml -e //t [-f //a -e //t] → AAA BBB CCC (tefe: one hop, both extract)

Spark form: a pipeline is a list of Stage specs; each stage extracts from
ITS documents and follows into the next stage's seeds; a stage marked
recurse=True runs the full rank-fixpoint crawl instead of a single hop.
Output rows carry (stage, ord) so the global print order is reproducible.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..extract.links import extract_kind_text, extract_links
from .engine import _fixpoint, _pinned, _seeds_df, crawl_exact


@dataclass
class Stage:
    extract: list[str] = field(default_factory=list)  # selectors, e.g. ['//title']
    follow: str | None = None                          # link selector feeding the next stage
    recurse: bool = False                              # trailing -f: followTo := self


def run_pipeline(
    spark: SparkSession, docs: DataFrame, seeds: list[str], stages: list[Stage]
) -> DataFrame:
    """(stage, url, ord, selector, value): extraction output in the
    reference's print order — stage by stage, crawl order within."""
    outputs: list[DataFrame] = []
    current = spark.createDataFrame(
        [(u, i + 1) for i, u in enumerate(seeds)], "url string, ord int"
    )
    seen_all = current.select("url")  # global duplication list spans ALL stages
    for si, stage in enumerate(stages):
        if stage.recurse:
            links = extract_links(docs, stage.follow or "//a")
            # the stage frontier stays a DataFrame end-to-end — collecting
            # it to the driver to re-seed would cap recursing stages at
            # driver memory (crawl_exact takes (url, seed_idx) directly)
            res = crawl_exact(
                spark, links, current.select("url", F.col("ord").cast("long").alias("seed_idx"))
            )
            current = res.visited.select("url", "ord")
        for sel in stage.extract:
            vals = extract_kind_text(docs, sel)
            outputs.append(
                current.join(vals, "url").select(
                    F.lit(si).alias("stage"), "url", "ord", F.lit(sel).alias("selector"),
                    F.col("value"),
                )
            )
        if stage.follow and not stage.recurse:
            # one-hop follow: ordered by (parent ord, link idx), deduped at
            # enqueue against everything this pipeline has fetched
            links = extract_links(docs, stage.follow)
            nxt = (
                current.join(links, current.url == links.src)
                .select(
                    F.col("dst").alias("url"),
                    F.struct(F.col("ord").alias("p"), F.col("idx").alias("i")).alias("k"),
                )
                .groupBy("url")
                .agg(F.min("k").alias("k"))
            )
            from ..util import total_order

            nxt = nxt.join(seen_all, "url", "left_anti").select(
                "url", F.col("k.p").alias("__p"), F.col("k.i").alias("__i")
            )
            current = total_order(nxt, ["__p", "__i"], out_col="ord").select(
                "url", "ord"
            )
            seen_all = seen_all.unionByName(current.select("url"))
    result = outputs[0]
    for o in outputs[1:]:
        result = result.unionByName(o)
    return result.orderBy("stage", "ord")


def run_pipeline_dfs(
    spark: SparkSession, docs: DataFrame, seeds: list[str], stages: list[Stage],
    *, max_iter: int = 50,
) -> DataFrame:
    """Unbracketed `-f/-e` chains in the reference's TRUE print order
    (golden tests/output/nest9a): every followed document is processed
    depth-first with the REMAINING action suffix, under one global
    duplication list — so outputs interleave across stages (b's subtree
    prints before c starts).

    Spark form: the stage pipeline is a rank fixpoint like crawl_exact,
    with STAGE-INDEXED link tables (a doc reached at stage s follows stage
    s's selector into stage s+1). The first-enqueuer rule is the min over
    (parent rank, link idx) — the smallest parent rank IS the earliest
    processed parent; the winning enqueue fixes the doc's stage and hence
    its action suffix. The stage graph has no beyond-the-end follows, so
    there is no over-depth poisoning (cf. engine.crawl_exact_depth_limited).
    Known gap: relaxation never retracts a candidate, so when a doc's
    min-rank enqueue later moves it to a stage that does not follow, the
    children it enqueued at its earlier stage stay in the output.

    Returns (url, stage, rank, selector, value, ord) ordered by ord =
    (rank, selector position, hit index) — the print order."""
    from functools import reduce

    from ..util import total_order

    best = _seeds_df(spark, seeds, dedup=True).withColumnRenamed("depth", "stage")
    # one link table for all stages, tagged with the stage whose selector
    # produced it: _expand joins it on (url, stage), so the first-enqueuer
    # min runs across ALL stages at once
    tagged = [
        extract_links(docs, st.follow).withColumn("stage", F.lit(s))
        for s, st in enumerate(stages)
        if st.follow is not None and s + 1 < len(stages)
    ]
    if tagged:
        with _pinned(reduce(lambda a, b: a.unionByName(b), tagged), "stage") as (links, n_links):
            best, _, _ = _fixpoint(
                spark, links, n_links, best, max_iter=max_iter, payload="stage"
            )
    outputs = []
    for s, stage in enumerate(stages):
        for sel_i, sel in enumerate(stage.extract):
            vals = extract_kind_text(docs, sel)
            outputs.append(
                best.where(F.col("stage") == s)
                .join(vals, "url")
                .select(
                    "url", "stage", "rank", F.lit(sel).alias("selector"),
                    F.col("value"), F.lit(sel_i).alias("__sel"), F.col("idx").alias("__hit"),
                )
            )
    if not outputs:
        return spark.createDataFrame(
            [], "url string, stage int, rank string, selector string, value string, ord int"
        )
    res = outputs[0]
    for o in outputs[1:]:
        res = res.unionByName(o)
    return total_order(res, ["rank", "__sel", "__hit"], out_col="ord").drop(
        "__sel", "__hit"
    )
