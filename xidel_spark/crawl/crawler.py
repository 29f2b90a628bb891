"""FrontierCrawler — the production wave loop with all scale components.

One object wires together what the reference does in its recursive loop
(xidelbase.pas:1996-2137) plus the north rule's scale transplants:

frontier wave → link expansion (frontier ⋈ links) → within-wave
first-enqueuer resolution → robots flag (broadcast rule join) → Bloom
pre-filter → exact anti-join vs seen → politeness-scheduled new frontier →
checkpoint (frontier + seen + bloom + lineage metrics) → next wave.

All of that is ONE candidate plan per wave: the candidate, robots-blocked
and duplicate counts are an Observation on the frontier checkpoint, so
with robots, politeness and the store on a wave runs three Spark actions
(frontier checkpoint, watermark checkpoint, parquet commit) plus the
Bloom filter's own build/merge when it is active. Wave 0 flags and
schedules the seeds the same way.

The expansion and the loop sizing are engine.py's (`_expand`,
`_sized_loop`), shared with the exact engines.

Partitioning: with politeness on (wait_ms > 0) the frontier is
hash-partitioned by host (politeness bucket == shuffle partition);
candidates shuffle once on url for the dedup aggregate, and the
anti-join's seen side is partitioned the same way so AQE can plan it
shuffle-free or skew-split it.

Resume: constructing a crawler over a store with committed waves continues
from the latest snapshot; a crawl killed mid-wave re-runs only that wave
(snapshot isolation via atomic manifests). The frontier, seen set, visited
set and politeness watermark all derive from the snapshot's one list of
increments.
"""

from __future__ import annotations

import time
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..urlnorm import host_of
from ..util import checkpoint_reset_stats
from .bloom import ShardedBloom, build_bloom, split_candidates
from .checkpoint import CrawlStateStore
from .engine import FANOUT_GUESS, UNLIMITED, CrawlResult, _expand, _seeds_df, _sized_loop
from .politeness import host_watermark, politeness_schedule
from .robots import apply_robots


def _union(dfs: list[DataFrame]) -> DataFrame:
    return reduce(lambda a, b: a.unionByName(b), dfs)


def _fresh(flagged: DataFrame, obs: Observation) -> DataFrame:
    """The allowed, unseen rows of (..., allowed, __seen). `obs` counts the
    allowed (n), robots-blocked and already-seen allowed (dup) rows on the
    job that materializes the result — no count job of its own."""
    allowed, dup = F.col("allowed"), F.col("__seen").isNotNull()
    return (
        flagged.observe(
            obs,
            F.count_if(allowed).alias("n"),
            F.count_if(~allowed).alias("blocked"),
            F.count_if(allowed & dup).alias("dup"),
        )
        .where(allowed & ~dup)
        .drop("allowed", "__seen")
    )


def _expected_rows(metrics: list[dict]) -> int:
    """Rows the next wave's dedup join handles, from the previous wave's
    metrics (metrics[-1]): its enqueued count is the live frontier size
    and candidates/enqueued its observed fanout. The join's BIG side is
    the seen table (its whole right side shuffles every wave), so this is
    max(expected candidates, |seen|) — sizing by candidates alone
    funnelled the 1M-row seen sort through one task at the tail."""
    fan, fresh = FANOUT_GUESS, 1
    if metrics:
        fresh = metrics[-1].get("enqueued") or 1
        if metrics[-1].get("candidates"):
            fan = max(1.0, metrics[-1]["candidates"] / fresh)
    return int(max(1, fresh * fan, sum(m["enqueued"] for m in metrics)))


class FrontierCrawler:
    def __init__(
        self,
        spark: SparkSession,
        links: DataFrame,
        *,
        store: CrawlStateStore | None = None,
        robots_rules: DataFrame | None = None,
        wait_ms: int = 0,
        max_depth: int = UNLIMITED,
        use_bloom: bool | str = "auto",
        bloom_shards: int = 16,
    ):
        self.spark = spark
        self.links = links.select(
            F.col("src"), F.col("idx").cast("int").alias("idx"), F.col("dst")
        )
        self.store = store
        self.robots_rules = robots_rules
        self.wait_ms = wait_ms
        self.max_depth = max_depth
        self.use_bloom = use_bloom
        self.bloom_shards = bloom_shards
        # 'auto' flips the Bloom pre-filter on once the crawl matures past
        # the measured break-even and keeps it on (build cost amortized by
        # incremental merges). Break-even re-derived from min-of-3 warm legs
        # (r4): probe+amortized-adjudication LOSES below ~20M seen (0.53x
        # at 5M/100k, 0.80x at 1M/100k) and wins 1.5-3.2x at 20M seen /
        # 50k candidates (ratio 400) — the probe cost is ~flat in |seen|
        # while the exact anti-join reshuffles the whole seen side, so the
        # advantage GROWS with crawl maturity (the 10^10-URL design point).
        # Thresholds sit at the measured crossover and are conf-overridable.
        self._bloom_active = use_bloom is True

    def _bloom_this_wave(self, seen_count: int, frontier_size: int | None) -> bool:
        if self.use_bloom is True:
            return True
        if self.use_bloom is False or self.use_bloom != "auto":
            return False
        if self._bloom_active:
            return True
        min_seen = int(self.spark.conf.get("xidel.crawl.bloomAutoMinSeen", "20000000"))
        min_ratio = int(self.spark.conf.get("xidel.crawl.bloomAutoMinRatio", "200"))
        if seen_count >= min_seen and seen_count >= min_ratio * max(frontier_size or 1, 1):
            self._bloom_active = True
        return self._bloom_active

    def _grow_bloom(
        self, bloom: ShardedBloom | None, seen: DataFrame, frontier: DataFrame,
        seen_count: int, last_fresh: int,
    ) -> ShardedBloom:
        """The Bloom filter over `seen`, sized from the OBSERVED seen count
        (exact, from wave metrics): rebuilt at 4x when the count outgrows
        capacity, otherwise extended INCREMENTALLY — only the previous
        wave's fresh urls are hashed and OR-merged, O(increment + filter),
        never O(seen)."""
        if bloom is None or seen_count > 0.7 * bloom.capacity:
            old = bloom
            bloom = build_bloom(
                seen,
                capacity=max(1_000_000, 4 * seen_count),
                n_shards=self.bloom_shards,
                approx_rows=seen_count,
            )
            if old is not None:
                old.unpersist()
            return bloom
        inc = build_bloom(
            frontier.select("url"),
            capacity=bloom.capacity,
            n_shards=self.bloom_shards,
            eager=False,
            approx_rows=last_fresh,
        )
        merged = bloom.merge(inc)
        bloom.unpersist()
        return merged

    def _with_host(self, fresh: DataFrame, watermark: DataFrame | None) -> DataFrame:
        """The new frontier's host column. With politeness on, also the
        earliest allowed fetch time per host bucket (a window over the host
        partition about to be created); the watermark offsets each host
        past its previous wave's last fetch, so spacing holds across the
        wave boundary too. Only politeness consumes the host partitioning:
        without it the repartition is a pure-cost exchange of the whole
        fresh frontier (guide §2.4 — 0.12 s/wave at 1M nodes)."""
        if self.wait_ms > 0:
            return politeness_schedule(
                fresh, wait_ms=self.wait_ms, watermark=watermark
            ).repartition(F.col("host"))
        return fresh.withColumn("host", host_of(F.col("url")))

    def _advance_watermark(self, frontier: DataFrame, watermark: DataFrame | None) -> DataFrame:
        """(host, last_ms) folded with the frontier's scheduled fetches."""
        new_watermark = host_watermark(
            frontier.select("host", "scheduled_ms"), watermark
        ).localCheckpoint(eager=True)
        if watermark is not None:
            watermark.unpersist()
        return new_watermark

    def _flag_robots(self, cand: DataFrame) -> DataFrame:
        if self.robots_rules is None:
            return cand.withColumn("allowed", F.lit(True))
        return apply_robots(cand, self.robots_rules)

    def run(self, seeds: list[str] | DataFrame, *, max_waves: int = 10_000) -> CrawlResult:
        spark = self.spark
        watermark = None  # per-host last scheduled_ms carried ACROSS waves
        snap = self.store.load(spark) if self.store else None
        if snap is not None:
            increments, metrics, wave = snap.increments, snap.metrics, snap.wave + 1
            sched = [i.select("host", "scheduled_ms") for i in increments if "scheduled_ms" in i.columns]
            if self.wait_ms > 0 and sched:
                # rebuild the politeness watermark from committed waves so
                # the >= wait spacing survives a kill/resume boundary
                watermark = host_watermark(_union(sched)).localCheckpoint(eager=True)
        else:
            # seeds are fetches too: robots-flagged like candidates, and
            # scheduled so the cross-wave watermark starts at the seeds'
            # last per-host fetch
            obs = Observation("crawl_seeds")
            flagged = self._flag_robots(_seeds_df(spark, seeds, dedup=True))
            fresh = _fresh(flagged.withColumn("__seen", F.lit(None).cast("boolean")), obs)
            frontier = checkpoint_reset_stats(self._with_host(fresh, None))
            m = {"wave": 0, "candidates": 0, "deduped": 0,
                 "robots_blocked": obs.get["blocked"], "enqueued": obs.get["n"]}
            increments, metrics, wave = [frontier], [m], 1
            if self.wait_ms > 0:
                watermark = self._advance_watermark(frontier, watermark)
            if self.store:
                self.store.commit(0, frontier, m)
        frontier = increments[-1]
        # append-only seen: the union of the increments, never rewritten
        seen = _union([i.select("url") for i in increments])

        bloom = None
        last_fresh = metrics[-1]["enqueued"]
        with _sized_loop(spark) as size:
            while wave < max_waves and wave <= self.max_depth:
                wave_t0 = time.time()
                seen_count = sum(m["enqueued"] for m in metrics)
                # the dedup join's seen side: on statically planned waves
                # (AQE off) the planner would pick a sort-merge join —
                # sorting the whole seen side every wave — so it is hinted
                # SHUFFLE_HASH; per-partition builds are bounded by the
                # wave sizing. Big AQE waves are left to the runtime
                # SMJ→SHJ conversion, which checks actual sizes.
                seen_side = seen.withColumn("__seen", F.lit(True))
                if size(_expected_rows(metrics)):
                    seen_side = seen_side.hint("SHUFFLE_HASH")
                # only the columns the expansion needs are broadcast
                # (url/rank/depth — not host/scheduled_ms; guide §2.3)
                cand = self._flag_robots(
                    _expand(frontier.select("url", "rank", "depth"), self.links, last_fresh)
                )
                if self._bloom_this_wave(seen_count, last_fresh):
                    # Bloom pre-filter: definitely-new candidates skip the
                    # exact join; only maybe-seen get the flag lookup
                    bloom = self._grow_bloom(bloom, seen, frontier, seen_count, last_fresh)
                    definitely_new, maybe = split_candidates(cand, bloom)
                    joined = definitely_new.withColumn(
                        "__seen", F.lit(None).cast("boolean")
                    ).unionByName(maybe.join(seen_side, "url", "left"))
                else:
                    joined = cand.join(seen_side, "url", "left")
                # ONE job per wave: the counts ride the frontier checkpoint
                # as an Observation over the joined rows, above the Bloom
                # split's two references to the candidate plan
                obs = Observation(f"crawl_w{wave}")
                fresh = _fresh(joined, obs)
                next_frontier = self._with_host(fresh, watermark)
                # slim dedicated checkpoint: what stays alive across waves is
                # only (url, rank, depth, host) per increment — the seen union
                # reads these. Stats are RESET here: the bloom probe's 8 joins
                # would compound sizeInBytes estimates 8x per wave (see util)
                next_frontier = checkpoint_reset_stats(next_frontier)
                got = obs.get
                n_fresh = got["n"] - got["dup"]
                m = {
                    "wave": wave,
                    "candidates": got["n"],
                    "deduped": got["dup"],
                    "robots_blocked": got["blocked"],
                    "enqueued": n_fresh,
                    "wall_s": round(time.time() - wave_t0, 3),
                }
                metrics.append(m)
                last_fresh = n_fresh
                if n_fresh == 0:
                    next_frontier.unpersist()
                    break
                frontier = next_frontier
                increments.append(frontier)
                if self.wait_ms > 0:
                    watermark = self._advance_watermark(frontier, watermark)
                seen = seen.unionByName(frontier.select("url"))
                if self.store:
                    self.store.commit(wave, frontier, m)
                wave += 1
        return CrawlResult(
            visited=_union(increments), seen=seen, waves=wave, metrics=metrics, frontier=frontier
        )
