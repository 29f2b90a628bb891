"""Focused tests for the round-6 optimization internals.

Each optimization claims BIT-IDENTICAL results through a different
physical plan; these pin that claim at unit scale (the DuckDB gates pin
it at corpus scale).
"""

import pytest
from pyspark.sql import functions as F

import xidel_spark.crawl.bloom as bl
from xidel_spark.crawl.bloom import build_bloom, flag_candidates


def _urls(spark, n, salt=""):
    return spark.range(n).select(
        F.format_string(f"http://h%d.test/{salt}%d", F.col("id") % 7, F.col("id")).alias("url")
    )


def test_bloom_shard_first_build_identical(spark):
    """the r6 shard-first build (repartition (shard,h1,h2) by shard before
    exploding probe words) must produce the exact word table of the
    legacy explode-first build — same hashes, same (shard, widx, word)."""
    seen = _urls(spark, 3000)
    legacy_thresh = spark.conf.get("xidel.bloom.shardBuildMinRows", None)
    # force the shard-first path even though the input is small
    spark.conf.set("xidel.bloom.shardBuildMinRows", "1")
    try:
        shard_first = build_bloom(seen, capacity=20_000, n_shards=8, approx_rows=3000)
    finally:
        spark.conf.set("xidel.bloom.shardBuildMinRows", "1000000000000")
    try:
        legacy = build_bloom(seen, capacity=20_000, n_shards=8, approx_rows=3000)
    finally:
        if legacy_thresh is None:
            spark.conf.unset("xidel.bloom.shardBuildMinRows")
        else:
            spark.conf.set("xidel.bloom.shardBuildMinRows", legacy_thresh)
    assert shard_first.df.exceptAll(legacy.df).count() == 0
    assert legacy.df.exceptAll(shard_first.df).count() == 0
    # and the filter still has no false negatives through the probe
    cand = _urls(spark, 500)  # all seen
    flagged = flag_candidates(cand, shard_first)
    assert flagged.where(~F.col("__maybe")).count() == 0


def test_minhash_barrier_signatures_match_unshared_form(spark):
    """the shuffle-barrier signature pass must equal the naive unshared
    per-column formula, including NULL signatures for shingle-less docs."""
    from xidel_spark.ops.dedup_text import minhash_signature, shingles_col

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "too short"),            # < 3 tokens -> empty shingles -> NULLs
         (3, ""),
         (4, "one two three four five six seven")],
        "doc_id long, text string",
    )
    got = minhash_signature(docs, k=4)
    sh = shingles_col(F.col("text"), 3)
    ref = docs.select(
        "doc_id",
        *[F.array_min(
            F.transform(sh, (lambda p: (lambda s: F.md5(F.concat(F.lit(p), s))))(f"{j}|"))
          ).alias(f"sig_{j}") for j in range(4)],
    )
    assert got.exceptAll(ref).count() == 0 and ref.exceptAll(got).count() == 0
    nulls = got.where(F.col("doc_id").isin(2, 3)).collect()
    assert all(r[f"sig_{j}"] is None for r in nulls for j in range(4))


def test_sized_loop_restores_confs_on_exception(spark):
    from xidel_spark.crawl.engine import _sized_loop

    parts0 = spark.conf.get("spark.sql.shuffle.partitions")
    aqe0 = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try:
        with _sized_loop(spark) as size:
            assert size(10)
            assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
            assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts0
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe0


def test_crawler_restores_confs_when_a_wave_raises(spark, tmp_path, monkeypatch):
    """a FrontierCrawler.run that dies mid-wave (here: the wave-1 store
    commit) must leave the session's shuffle/AQE confs as it found them."""
    from xidel_spark.crawl.checkpoint import CrawlStateStore
    from xidel_spark.crawl.crawler import FrontierCrawler

    links = spark.createDataFrame(
        [(f"u{i}", 0, f"u{(i + 1) % 10}") for i in range(10)], "src string, idx int, dst string"
    )
    store = CrawlStateStore(str(tmp_path / "st"))
    commit = store.commit

    def failing_commit(wave, frontier, metrics):
        if wave >= 1:
            raise RuntimeError("commit failed")
        return commit(wave, frontier, metrics)

    monkeypatch.setattr(store, "commit", failing_commit)
    parts0 = spark.conf.get("spark.sql.shuffle.partitions")
    aqe0 = spark.conf.get("spark.sql.adaptive.enabled", "true")
    with pytest.raises(RuntimeError, match="commit failed"):
        FrontierCrawler(spark, links, store=store).run(["u0"])
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts0
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe0


def test_crawler_host_partition_auto_equals_forced(spark):
    """host partitioning (on iff politeness is on, wait_ms > 0) must leave
    the crawl results and per-wave metrics identical to the crawl without
    it."""
    from xidel_spark.crawl.crawler import FrontierCrawler

    links = spark.createDataFrame(
        [(f"http://h{i % 3}.test/p{i}", 0, f"http://h{(i + 1) % 3}.test/p{(i * 7 + 1) % 40}")
         for i in range(40)],
        "src string, idx int, dst string",
    ).localCheckpoint(eager=True)
    seeds = ["http://h0.test/p0", "http://h1.test/p1"]
    plain = FrontierCrawler(spark, links).run(seeds)
    polite = FrontierCrawler(spark, links, wait_ms=250).run(seeds)
    assert plain.waves == polite.waves
    assert [m["enqueued"] for m in plain.metrics] == [m["enqueued"] for m in polite.metrics]
    a = plain.seen.select("url")
    f = polite.seen.select("url")
    assert a.exceptAll(f).count() == 0 and f.exceptAll(a).count() == 0


def test_link_extraction_filter_before_sort_unsorted_spans(spark):
    """the flat fast path sorts AFTER filtering now; feed deliberately
    UNSORTED spans to pin that document order still comes out right."""
    from xidel_spark.extract.links import extract_links
    from xidel_spark.schemas import DOCUMENTS

    rows = [(
        "d1",
        [("link", "b", "b.html", 5), ("title", "T", None, 0), ("link", "a", "a.html", 1)],
        "d1", "text/html", {}, "html",
    )]
    docs = spark.createDataFrame(rows, DOCUMENTS)
    got = [(r["idx"], r["dst"]) for r in extract_links(docs, "//a").orderBy("idx").collect()]
    assert got == [(0, "a.html"), (1, "b.html")]
