"""The distributed crawl engine: frontier closure + exact DFS crawl order.

Reference semantics being reproduced (see SURVEY.md §2.2 and
xidel_spark/crawl/simulator.py for the sequential oracle):

- **DFS visit order** (xidelbase.pas:2007-2020): children of a document are
  enqueued all at once at the parent's visit, in link-document order, and
  each child is fully processed before its later siblings.
- **Enqueue-time dedup** (xidelbase.pas:1484-1491): a URL is dropped iff an
  equal request was *ever enqueued* before — where "before" is the parent's
  visit time, not the child's. Consequence (pinned by golden
  tests/output/tef): a URL enqueued by an early-visited shallow parent
  shadows links from later-visited parents, and the URL is visited at the
  *enqueueing* parent's position.

Spark-first formulation
-----------------------
DFS order is encoded as a rank string (order.py). The final crawl tree
satisfies a fixpoint: a node's first enqueuer is the *visited* in-neighbor
with the smallest rank, and ``rank(v) = rank(first_enqueuer) || seg(link_idx)``.

With dedup ON and unlimited depth (the reference's default: followMaxLevel
99999 ≈ ∞), "visited" = "reachable", so the fixpoint is a *monotone*
lexicographic-min path problem — solved by Bellman-Ford-style DataFrame
relaxation (`crawl_exact`): each iteration is one join + one aggregation,
ranks only decrease, convergence in O(tree height) iterations. This is the
same shape as distributed SSSP / connected components, and parallelizes to
arbitrarily many executors: no sequential pop loop.

With dedup OFF (``--allow-repetitions``) the crawl is pure tree expansion
(`expand_nodedup`) — embarrassingly parallel per wave.

With dedup ON **and** a finite depth limit, the reference's behavior is
genuinely sequential (an over-depth enqueue still poisons the seen set:
xidelbase.pas add() registers before processFollowTo's depth check), and
lexicographically-first DFS is P-complete — `crawl_exact_depth_limited`
replays it with a per-pop Spark loop (exact; used at fixture scale). The
scalable path for bounded-depth production crawls is `crawl_waves`.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .order import seg, seg_py

UNLIMITED = 1 << 30

# Physical sizing of the iterative loops, measured at local[32] (r6): rows
# per shuffle partition; the loop size up to which AQE stays off (its
# per-query stage re-planning measured ~0.5 s of planning latency per tiny
# iteration); the largest frontier / best side broadcast into the
# expansion join; and the crawler's fanout guess before it has observed a
# wave.
ROWS_PER_PARTITION = 50_000
AQE_MIN_ROWS = 5_000_000
BROADCAST_MAX_ROWS = 2_000_000
FANOUT_GUESS = 4.0


def _partitions(base: int, rows: int) -> int:
    """Shuffle partitions for `rows` rows, capped at `base`."""
    return min(base, max(1, -(-int(rows) // ROWS_PER_PARTITION)))


@contextmanager
def _sized_loop(spark: SparkSession):
    """Scale-adaptive physical sizing for an iterative loop (r6, guide §2).

    Yields `size(expected_rows) -> static`, which sets shuffle partitions
    from the loop's bounded work (expected_rows / ROWS_PER_PARTITION,
    capped at the setting on entry) and turns AQE off while expected_rows
    <= AQE_MIN_ROWS. `static` tells callers the plan is statically sized:
    they then hint SHUFFLE_HASH where the planner would otherwise pick a
    sort-merge join on default-stat checkpointed inputs. Results are
    unaffected; only partition counts and re-planning change.

    Both confs are session-global, so the loop owns the session while it
    runs: a query planned concurrently on the same session inherits the
    loop's sizing. Both are restored on exit, exceptions included."""
    conf = spark.conf
    parts0 = conf.get("spark.sql.shuffle.partitions")
    aqe0 = conf.get("spark.sql.adaptive.enabled", "true")

    def size(expected_rows: int) -> bool:
        static = expected_rows <= AQE_MIN_ROWS
        conf.set("spark.sql.shuffle.partitions", str(_partitions(int(parts0), expected_rows)))
        conf.set("spark.sql.adaptive.enabled", "false" if static else "true")
        return static

    try:
        yield size
    finally:
        conf.set("spark.sql.shuffle.partitions", parts0)
        conf.set("spark.sql.adaptive.enabled", aqe0)


@contextmanager
def _pinned(links: DataFrame, *extra: str):
    """Yields (links, |links|): the loop's (src, idx, dst, *extra) table,
    materialized ONCE and hash-partitioned on the join key; released on
    exit. Without this every step re-runs the whole upstream plan (corpus
    synthesis / span extraction — scan + groupBy + join + explode per
    iteration, guide §2.4) and re-shuffles links for the join. The
    persisted InMemoryRelation keeps hashpartitioning(src), so only the
    small side exchanges per step. MEMORY_AND_DISK spills at scale."""
    links = (
        links.select(F.col("src"), F.col("idx").cast("int").alias("idx"), F.col("dst"), *extra)
        .repartition(F.col("src"))
        .persist()
    )
    try:
        yield links, links.count()
    finally:
        links.unpersist()


@dataclass
class CrawlResult:
    visited: DataFrame   # (url, rank, depth, ...) — one row per visit (repeats possible if dedup off)
    seen: DataFrame      # (url) — every enqueued url (the duplication list)
    waves: int = 0
    metrics: list[dict] = field(default_factory=list)
    frontier: DataFrame | None = None  # FrontierCrawler: the last wave's increment


def _seeds_df(spark: SparkSession, seeds: list[str] | DataFrame, dedup: bool) -> DataFrame:
    """Seed frontier with FIFO ranks; dedup-at-enqueue applies to seeds too
    (golden tests/output/repetitionoff: the same seed twice fetches once)."""
    if isinstance(seeds, DataFrame):
        df = seeds.select("url", "seed_idx")
    else:
        df = spark.createDataFrame(
            [(u, i) for i, u in enumerate(seeds)], "url string, seed_idx long"
        )
    if dedup:
        df = (
            df.groupBy("url")
            .agg(F.min("seed_idx").alias("seed_idx"))
        )
    return df.select("url", seg(F.col("seed_idx").cast("int")).alias("rank"), F.lit(0).alias("depth"))


def _expand(frontier: DataFrame, links: DataFrame, rows: int | None, payload: str = "depth") -> DataFrame:
    """frontier (url, rank, payload) ⋈ links (src, idx, dst): one candidate
    per dst, from its FIRST enqueuer — the min (parent rank, link idx).
    The min runs on the parent rank BEFORE the child segment is
    concatenated: comparing concatenated child ranks would wrongly prefer
    a longer path through an earlier-rank subtree. The payload (depth, or
    the pipeline's stage) rides the min and comes out incremented; links
    that carry a payload column also join on it.

    The frontier is broadcast while `rows` (its size, or an upper bound)
    is at most BROADCAST_MAX_ROWS, so links need neither exchange nor
    sort; above that the planner picks the shuffle join (no SHUFFLE_HASH
    hint: a hash build cannot spill). Lazy: runs no Spark action."""
    on = frontier.url == links.src
    if payload in links.columns:
        on = on & (frontier[payload] == links[payload])
    side = F.broadcast(frontier) if rows is not None and rows <= BROADCAST_MAX_ROWS else frontier
    return (
        side.join(links, on)
        .groupBy(links.dst)
        .agg(F.min(F.struct(frontier.rank, links.idx, frontier[payload])).alias("m"))
        .select(
            F.col("dst").alias("url"),
            F.concat(F.col("m.rank"), seg(F.col("m.idx"))).alias("rank"),
            (F.col(f"m.{payload}") + 1).alias(payload),
        )
    )


def _relax(
    best: DataFrame, cand: DataFrame, seeds: DataFrame, name: str, payload: str = "depth"
) -> tuple[DataFrame, int]:
    """One relaxation step: per url the min (rank, payload) over the
    previous best and the new candidates, checkpointed. Returns (new best,
    urls changed).

    Seeds are excluded from the candidates: all data sources are enqueued
    into the dup list before any visit (xidelbase.pas:2099-2100), so a
    seed's rank is fixed and links back to a seed are always dedup-dropped.
    Convergence detection is FUSED into the aggregate: the best side
    carries its previous rank, and a url changed iff it is new (no old
    rank) or relaxed below it. The count rides the checkpoint job as an
    Observation — no separate anti-join probe per step."""
    merged = best.withColumn("old_rank", F.col("rank")).unionByName(
        cand.join(seeds.select("url"), "url", "left_anti")
        .withColumn("old_rank", F.lit(None).cast("string"))
    )
    obs = Observation(name)
    new_best = (
        merged.groupBy("url")
        .agg(
            F.min(F.struct("rank", payload)).alias("m"),
            F.min("old_rank").alias("old_rank"),
        )
        .withColumn(
            "__changed",
            (F.col("old_rank").isNull() | (F.col("m.rank") < F.col("old_rank"))).cast("int"),
        )
        .observe(obs, F.sum("__changed").alias("ch"))
        .select("url", F.col("m.rank").alias("rank"), F.col(f"m.{payload}").alias(payload))
        .localCheckpoint(eager=True)
    )
    return new_best, int(obs.get["ch"] or 0)


def _fixpoint(
    spark: SparkSession, links: DataFrame, n_links: int, seeds: DataFrame,
    *, max_iter: int, payload: str = "depth",
) -> tuple[DataFrame, int, int]:
    """Relax ranks from `seeds` (url, rank, payload) over pinned `links`
    until no url changes, sized once from |links|. Returns (best, steps,
    rows) where rows = |seeds| + Σ changed ≥ |best| (every new url counts
    as changed), tracked exactly from the Observations; it decides the
    broadcast of best into each expansion."""
    steps = 0
    with _sized_loop(spark) as size:
        size(n_links)
        # seed prep (a dedup groupBy + checkpoint) runs under the loop
        # sizing too — at fixture/gate scale it is a 1-partition job
        seeds = seeds.localCheckpoint(eager=True)
        best, rows = seeds, seeds.count()
        while steps < max_iter:
            cand = _expand(best, links, rows, payload)
            new_best, changed = _relax(best, cand, seeds, f"relax_{steps}", payload)
            steps += 1
            if best is not seeds:
                best.unpersist()  # superseded relaxation state
            best, rows = new_best, rows + changed
            if changed == 0:
                break
    return best, steps, rows


def _with_order(visited: DataFrame, approx_rows: int | None = None) -> DataFrame:
    """ord = global crawl-order position. Range-partitioned two-pass
    numbering (util.total_order) — the rank string already IS the total
    order, so no single-partition sort is ever needed. Callers that track
    the visited size pass approx_rows so the range partitioning is sized
    by data instead of the session constant (guide §2)."""
    from ..util import total_order

    n = None
    if approx_rows is not None:
        base = int(visited.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        n = _partitions(base, approx_rows)
    return total_order(visited, ["rank"], out_col="ord", num_partitions=n)


def crawl_exact(
    spark: SparkSession,
    links: DataFrame,
    seeds: list[str] | DataFrame,
    *,
    max_iter: int = 200,
) -> CrawlResult:
    """Exact xidel crawl (dedup ON, unlimited depth) via rank relaxation.

    `links`: (src: string, idx: int|long, dst: string) — link-document order
    per src given by idx. Returns visit order identical to the reference's
    recursive loop (golden tests/output/tef).
    """
    with _pinned(links) as (links, n_links):
        best, steps, rows = _fixpoint(
            spark, links, n_links, _seeds_df(spark, seeds, dedup=True), max_iter=max_iter
        )
    # best derives from checkpointed RDDs only — links is already free
    return CrawlResult(visited=_with_order(best, approx_rows=rows), seen=best.select("url"), waves=steps)


def expand_nodedup(
    spark: SparkSession,
    links: DataFrame,
    seeds: list[str] | DataFrame,
    *,
    max_depth: int,
) -> CrawlResult:
    """Crawl with ``--allow-repetitions`` (dedup OFF) and a depth limit.

    Pure tree expansion: every link spawns a visit instance (goldens
    tests/output/maxlevel0..3, repetitionon). One wave per depth level.
    """
    enqueued_only = None
    with _pinned(links) as (links, n_links), _sized_loop(spark) as size:
        lnk = links.hint("SHUFFLE_HASH") if size(n_links) else links
        level = _seeds_df(spark, seeds, dedup=False).localCheckpoint(eager=True)
        layers = [level]
        for d in range(max_depth + 1):
            children = (
                level.join(lnk, level.url == links.src)
                .select(
                    F.col("dst").alias("url"),
                    F.concat("rank", seg(F.col("idx"))).alias("rank"),
                    F.lit(d + 1).alias("depth"),
                )
            )
            if d < max_depth:
                level = children.localCheckpoint(eager=True)
                if level.limit(1).count() == 0:
                    break
                layers.append(level)
            else:
                # children of depth-max_depth visits are enqueued
                # (registered) but never fetched (xidelbase.pas:2012
                # depth check at fetch time) — materialized so the
                # returned seen set does not re-reference links after
                # unpersist
                enqueued_only = children.select("url").localCheckpoint(eager=True)
    visited = layers[0]
    for extra in layers[1:]:
        visited = visited.unionByName(extra)
    seen = visited.select("url")
    if enqueued_only is not None:
        seen = seen.unionByName(enqueued_only)
    return CrawlResult(visited=_with_order(visited), seen=seen.distinct(), waves=len(layers))


def crawl_exact_depth_limited(
    spark: SparkSession,
    links: dict[str, list[str]] | DataFrame,
    seeds: list[str],
    *,
    max_depth: int,
) -> CrawlResult:
    """Exact semantics for dedup ON + finite depth limit.

    This combination is inherently sequential in the reference (the seen set
    is mutated in visit order and over-depth enqueues still poison it), so we
    replay it with the sequential oracle and parallelize the result. Only
    used at fixture scale; production bounded-depth crawls use crawl_waves.

    Guarded: a link table above `max_replay_links` rows raises instead of
    OOM-ing the driver — this path is P-complete (dedup ON + finite depth
    serializes on the visit-order-mutated seen set), so there is no
    distributed exact form to fall back to; callers at scale must accept
    crawl_waves' BFS order or lift the depth limit (crawl_exact).
    """
    from .simulator import simulate_crawl

    max_replay_links = int(
        spark.conf.get("xidel.crawl.maxReplayLinks", "5000000")
    )
    if isinstance(links, DataFrame):
        n_links = links.count()
        if n_links > max_replay_links:
            raise ValueError(
                f"crawl_exact_depth_limited replays the crawl on the driver "
                f"(P-complete: dedup ON + finite depth is inherently "
                f"sequential) and the link table has {n_links} rows "
                f"(> xidel.crawl.maxReplayLinks={max_replay_links}). "
                f"Use crawl_waves(max_depth=...) for scalable BFS-order "
                f"bounded crawls, or crawl_exact for unlimited depth."
            )
        rows = links.select("src", "idx", "dst").collect()
        adj: dict[str, list[tuple[int, str]]] = {}
        for r in rows:
            adj.setdefault(r["src"], []).append((r["idx"], r["dst"]))
        link_map = {k: [d for _, d in sorted(v)] for k, v in adj.items()}
    else:
        link_map = links
    sim = simulate_crawl(link_map, seeds, max_depth=max_depth, dedup=True)
    visited = spark.createDataFrame(
        [(u, seg_py(i), d, i + 1) for i, (u, d) in enumerate(zip(sim.visit_order, sim.visit_depths))],
        "url string, rank string, depth int, ord int",
    )
    seen = spark.createDataFrame([(u,) for u in sorted(sim.seen)], "url string")
    return CrawlResult(visited=visited, seen=seen, waves=len(sim.visit_order))


def crawl_waves(
    spark: SparkSession,
    links: DataFrame,
    seeds: list[str] | DataFrame,
    *,
    max_depth: int = UNLIMITED,
) -> CrawlResult:
    """Scalable wave-synchronous (BFS) frontier loop: FrontierCrawler with
    robots, politeness and the state store off. Ranks still give a total,
    deterministic crawl order (BFS-flavored); the seen SET equals the
    exact engine's whenever depth is unlimited, since both are
    reachability."""
    from .crawler import FrontierCrawler

    res = FrontierCrawler(spark, links, max_depth=max_depth).run(seeds)
    res.visited = _with_order(res.visited.select("url", "rank", "depth"))
    return res
