"""Bloom filter, checkpoint/resume, and crawler integration tests."""

import pytest
from pyspark.sql import functions as F

from xidel_spark.crawl.bloom import build_bloom, split_candidates
from xidel_spark.crawl.checkpoint import CrawlStateStore
from xidel_spark.crawl.crawler import FrontierCrawler
from xidel_spark.crawl.simulator import simulate_crawl
from xidel_spark.corpus import fixture_graph
from xidel_spark.extract.links import extract_links


@pytest.fixture(scope="module")
def cyclic_links(spark):
    # small cyclic graph: dst = (3*i + k + 1) % 40
    rows = [
        (f"http://h{i % 5}.test/p/{i}", k, f"http://h{(3 * i + k + 1) % 40 % 5}.test/p/{(3 * i + k + 1) % 40}")
        for i in range(40)
        for k in range(2)
    ]
    return spark.createDataFrame(rows, "src string, idx int, dst string").cache()


SEEDS = ["http://h0.test/p/0", "http://h1.test/p/1"]
# every host allows all; h1.test disallows /p/, i.e. all of its pages
H1_DISALLOWED = [(f"h{i}.test", "/", True) for i in range(5)] + [("h1.test", "/p/", False)]


def _rules(spark, rules=H1_DISALLOWED):
    return spark.createDataFrame(rules, "host string, prefix string, allow boolean")


@pytest.fixture(scope="module")
def exact_run(spark, cyclic_links):
    """exact_run(rules): the exact-path (no Bloom, no store) crawl of
    cyclic_links from SEEDS, run once per rule set and shared by the tests
    that compare against it."""
    runs = {}

    def run(rules=None):
        key = None if rules is None else tuple(rules)
        if key not in runs:
            robots = None if rules is None else _rules(spark, rules)
            runs[key] = FrontierCrawler(spark, cyclic_links, robots_rules=robots).run(SEEDS)
        return runs[key]

    return run


def test_bloom_no_false_negatives(spark):
    seen = spark.createDataFrame([(f"u{i}",) for i in range(500)], "url string")
    bloom = build_bloom(seen, n_shards=4, capacity=4000)
    cands = spark.createDataFrame(
        [(f"u{i}",) for i in range(400, 900)], "url string"
    )  # 100 seen + 400 new
    definitely_new, maybe = split_candidates(cands, bloom)
    new_urls = {r["url"] for r in definitely_new.collect()}
    # no seen url may be classified definitely-new
    assert not any(int(u[1:]) < 500 for u in new_urls)
    # the pre-filter must actually pass most genuinely-new urls
    assert len(new_urls) > 300
    # split is a partition of the candidates
    assert definitely_new.count() + maybe.count() == 500


def test_bloom_merge_and_distributed_probe(spark):
    """incremental OR-merge keeps the no-false-drop guarantee, and the
    DISTRIBUTED (non-broadcast) probe path gives identical verdicts."""
    import xidel_spark.crawl.bloom as bl

    a = spark.createDataFrame([(f"a{i}",) for i in range(300)], "url string")
    b = spark.createDataFrame([(f"b{i}",) for i in range(300)], "url string")
    bloom = build_bloom(a, n_shards=4, capacity=4000).merge(
        build_bloom(b, n_shards=4, capacity=4000, eager=False)
    )
    cands = spark.createDataFrame(
        [(f"a{i}",) for i in range(0, 300, 3)]
        + [(f"b{i}",) for i in range(0, 300, 3)]
        + [(f"c{i}",) for i in range(200)],
        "url string",
    )
    new_b, maybe_b = split_candidates(cands, bloom)
    seen_new_b = {r["url"] for r in new_b.collect()}
    assert not any(u[0] in "ab" for u in seen_new_b)
    # force the shuffle-join probe path and compare verdicts exactly
    old = bl.BROADCAST_MAX_BITS
    bl.BROADCAST_MAX_BITS = 0
    try:
        new_d, maybe_d = split_candidates(cands, bloom)
        assert seen_new_b == {r["url"] for r in new_d.collect()}
        assert {r["url"] for r in maybe_b.collect()} == {r["url"] for r in maybe_d.collect()}
    finally:
        bl.BROADCAST_MAX_BITS = old


def test_bloom_never_driver_resident(spark):
    """the word table must stay a DataFrame (the 10^10 shape): building a
    filter over many urls must not collect anything to the driver."""
    seen = spark.range(0, 50_000).select(F.format_string("http://x/%d", "id").alias("url"))
    bloom = build_bloom(seen, capacity=200_000, n_shards=8)
    # word rows live in the cluster; only the tiny row count comes back
    assert bloom.df.count() > 0
    assert not hasattr(bloom, "blocks")


def test_crawler_matches_engine_seen(cyclic_links, exact_run):
    """the crawler's seen set is the sequential reference's dup list
    (reachability, since depth is unlimited)."""
    link_map: dict[str, list[str]] = {}
    for r in cyclic_links.orderBy("src", "idx").collect():
        link_map.setdefault(r["src"], []).append(r["dst"])
    run = exact_run()
    assert {r["url"] for r in run.seen.collect()} == simulate_crawl(link_map, SEEDS).seen


@pytest.mark.parametrize("rules", [None, H1_DISALLOWED], ids=["no_rules", "h1_disallowed"])
def test_crawler_bloom_path_equal(spark, cyclic_links, exact_run, rules):
    """the Bloom path gives the exact path's per-wave counts, with and
    without robots rules. The counts are an Observation above the Bloom
    split, which references the candidate plan twice; robots_blocked is
    checked against a sequential BFS recount (distinct blocked candidate
    urls per wave, the seeds at wave 0)."""
    robots = None if rules is None else _rules(spark, rules)
    plain = exact_run(rules)
    bloomed = FrontierCrawler(
        spark, cyclic_links, robots_rules=robots, use_bloom=True, bloom_shards=4
    ).run(SEEDS)
    assert {r["url"] for r in plain.seen.collect()} == {r["url"] for r in bloomed.seen.collect()}
    keys = ("candidates", "deduped", "robots_blocked", "enqueued")
    assert [[m[k] for k in keys] for m in plain.metrics] == [
        [m[k] for k in keys] for m in bloomed.metrics
    ]

    adj: dict[str, list[str]] = {}
    for r in cyclic_links.collect():
        adj.setdefault(r["src"], []).append(r["dst"])
    blocked = {u for u in adj if rules is not None and u.startswith("http://h1.test/p/")}
    cand, seen, expect = set(SEEDS), set(), []
    while True:
        fresh = cand - blocked - seen
        expect.append([len(cand & blocked), len(fresh)])
        if not fresh:
            break
        seen |= fresh
        cand = {d for u in fresh for d in adj[u]}
    assert [[m["robots_blocked"], m["enqueued"]] for m in plain.metrics] == expect
    assert any(e[0] for e in expect) == (rules is not None)


def test_checkpoint_resume_exact(spark, cyclic_links, tmp_path):
    """a robots + politeness crawl killed after 3 waves and resumed from
    the store ends exactly where an uninterrupted crawl does: the same
    per-wave metrics (minus wall_s) and the same visits and schedule, so
    the politeness spacing holds across the resume too."""
    kw = {"robots_rules": _rules(spark), "wait_ms": 250}
    full = FrontierCrawler(spark, cyclic_links, **kw).run(SEEDS)

    store = CrawlStateStore(str(tmp_path / "ckpt"))
    # run only 3 waves, "crash"
    partial = FrontierCrawler(spark, cyclic_links, store=store, **kw).run(SEEDS, max_waves=3)
    assert partial.waves == 3
    assert store.latest() is not None

    # resume in a "new" crawler over the same store
    resumed = FrontierCrawler(spark, cyclic_links, store=store, **kw).run(SEEDS)
    assert {r["url"] for r in resumed.seen.collect()} == {
        r["url"] for r in full.seen.collect()
    }

    def metrics(run):
        return [{k: v for k, v in m.items() if k != "wall_s"} for m in run.metrics]

    assert metrics(resumed) == metrics(full)
    cols = ("url", "rank", "depth", "host", "scheduled_ms")
    visits = sorted(resumed.visited.select(*cols).collect())
    assert visits == sorted(full.visited.select(*cols).collect())
    # lineage: manifests cover every wave with metrics, and the row counts
    # the commits took from the metrics are the increments' real sizes (a
    # wave's increment is its depth's visits)
    manifests = store.manifests()
    assert [m["wave"] for m in manifests] == list(range(len(manifests)))
    assert all("lineage" in m and m["lineage"]["frontier_files"] for m in manifests)
    assert [m["frontier_rows"] for m in manifests] == [
        sum(v["depth"] == m["wave"] for v in visits) for m in manifests
    ]


def test_wave_actions_pinned(spark, cyclic_links, tmp_path, monkeypatch):
    """a robots + politeness + store crawl runs three Spark actions per
    enqueuing wave, wave 0 included: the frontier checkpoint, the
    watermark checkpoint and the parquet commit; the last (empty) wave
    only its frontier checkpoint. Nothing in the crawler or the store
    counts, and a resume reads each committed increment once. Spies the
    way test_plans.test_wave_loop_join_strategies does."""
    import sys

    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    events, counts = [], []

    def spy(cls, name, tag):
        real = getattr(cls, name)

        def wrapper(self, *args, **kwargs):
            events.append(tag)
            if tag == "count":
                counts.append(sys._getframe(1).f_code.co_filename)
            return real(self, *args, **kwargs)

        monkeypatch.setattr(cls, name, wrapper)

    spy(DataFrame, "localCheckpoint", "ckpt")
    spy(DataFrame, "count", "count")
    spy(DataFrameWriter, "parquet", "write")
    spy(DataFrameReader, "parquet", "read")
    store = CrawlStateStore(str(tmp_path / "acts"))
    kw = {"store": store, "robots_rules": _rules(spark), "wait_ms": 250}
    wave = ["ckpt", "ckpt", "write"]

    FrontierCrawler(spark, cyclic_links, **kw).run(SEEDS, max_waves=2)
    assert events == wave * 2  # waves 0 and 1
    events.clear()
    run = FrontierCrawler(spark, cyclic_links, **kw).run(SEEDS)
    enqueuing = sum(m["enqueued"] > 0 for m in run.metrics[2:])
    # resume: one read per committed increment, the watermark rebuild
    assert events == ["read"] * 2 + ["ckpt"] + wave * enqueuing + ["ckpt"]
    assert not [f for f in counts if f.endswith(("crawler.py", "checkpoint.py"))]


def test_robots_blocks_host(exact_run):
    unfiltered = exact_run()
    filtered = exact_run(H1_DISALLOWED)
    seen_unf = {r["url"] for r in unfiltered.seen.collect()}
    seen_flt = {r["url"] for r in filtered.seen.collect()}
    assert any("h1.test" in u for u in seen_unf)          # would have crawled h1
    assert not any("h1.test" in u for u in seen_flt)      # robots blocked it
    assert any(m["robots_blocked"] > 0 for m in filtered.metrics)
    assert seen_flt <= seen_unf


def test_parse_robots_txt():
    from xidel_spark.crawl.robots import parse_robots_txt

    txt = """
# comment
User-agent: googlebot
Disallow: /private/

User-agent: *
Disallow: /tmp/
Allow: /tmp/ok/
Disallow:
"""
    rules = parse_robots_txt("h.test", txt)
    # default-allow rule has the EMPTY prefix so explicit rules outrank it
    assert ("h.test", "", True) in rules
    assert ("h.test", "/tmp/", False) in rules
    assert ("h.test", "/tmp/ok/", True) in rules
    assert all(p != "/private/" for _, p, _ in rules)  # wrong agent group
    gb = parse_robots_txt("h.test", txt, agent="googlebot")
    assert ("h.test", "/private/", False) in gb


def test_robots_disallow_all_is_deterministic(spark):
    """'Disallow: /' must always beat the injected default-allow — the old
    same-length tie was resolved by partition luck."""
    from xidel_spark.crawl.robots import apply_robots, parse_robots_txt

    rules = spark.createDataFrame(
        parse_robots_txt("h.test", "User-agent: *\nDisallow: /\n"),
        "host string, prefix string, allow boolean",
    )
    cand = spark.createDataFrame(
        [(f"http://h.test/p{i}",) for i in range(200)], "url string"
    ).repartition(8)
    out = apply_robots(cand, rules)
    assert out.where("allowed").count() == 0


def test_torn_wave_is_invisible(spark, cyclic_links, exact_run, tmp_path):
    """snapshot isolation: a crash AFTER data files land but BEFORE the
    manifest commit must leave the store at the previous wave."""
    store = CrawlStateStore(str(tmp_path / "torn"))
    FrontierCrawler(spark, cyclic_links, store=store).run(SEEDS, max_waves=3)
    last = store.latest()
    # simulate a torn wave: data directory exists, no manifest
    torn_dir = tmp_path / "torn" / f"wave={last + 1}" / "frontier"
    torn_dir.mkdir(parents=True)
    (torn_dir / "part-00000.parquet").write_bytes(b"GARBAGE")
    assert store.latest() == last
    snap = store.load(spark)
    assert snap.wave == last
    # resume proceeds correctly from the last committed wave
    resumed = FrontierCrawler(spark, cyclic_links, store=store).run(SEEDS)
    full = exact_run()
    assert {r["url"] for r in resumed.seen.collect()} == {r["url"] for r in full.seen.collect()}


def test_bloom_null_url_candidate_not_lost(spark):
    """regression: a NULL-url candidate must land in exactly one split (the
    maybe/exact-check side) in BOTH probe regimes, never vanish."""
    import xidel_spark.crawl.bloom as bl
    from xidel_spark.crawl.bloom import build_bloom, split_candidates

    seen = spark.createDataFrame([(f"u{i}",) for i in range(100)], "url string")
    bloom = build_bloom(seen, n_shards=2, capacity=1000)
    cands = spark.createDataFrame([("u1",), (None,), ("x9",)], "url string")
    for max_bits in (None, 0):  # broadcast regime, then distributed regime
        old = bl.BROADCAST_MAX_BITS
        if max_bits is not None:
            bl.BROADCAST_MAX_BITS = max_bits
        try:
            new, maybe = split_candidates(cands, bloom)
            assert new.count() + maybe.count() == 3
            assert maybe.where(F.col("url").isNull()).count() == 1
        finally:
            bl.BROADCAST_MAX_BITS = old


def test_bloom_auto_mode(spark):
    """use_bloom='auto' (the default) stays OFF below the break-even and
    flips ON (sticky) once seen/frontier crosses the configured thresholds;
    results match the exact-join crawler exactly."""
    links = fixture_graph(spark)
    ltab = extract_links(links, "//a")
    crawler_exact = FrontierCrawler(spark, ltab, use_bloom=False)
    run_exact = crawler_exact.run(SEEDS)

    # tiny thresholds so the fixture crawl crosses break-even at wave 1
    spark.conf.set("xidel.crawl.bloomAutoMinSeen", "1")
    spark.conf.set("xidel.crawl.bloomAutoMinRatio", "1")
    try:
        crawler_auto = FrontierCrawler(spark, ltab, use_bloom="auto")
        run_auto = crawler_auto.run(SEEDS)
        assert crawler_auto._bloom_active  # flipped on
        assert {r["url"] for r in run_auto.seen.collect()} == {
            r["url"] for r in run_exact.seen.collect()
        }
        assert [m["enqueued"] for m in run_auto.metrics] == [
            m["enqueued"] for m in run_exact.metrics
        ]
    finally:
        spark.conf.unset("xidel.crawl.bloomAutoMinSeen")
        spark.conf.unset("xidel.crawl.bloomAutoMinRatio")
    # default thresholds: fixture-scale crawls never activate the filter
    crawler_def = FrontierCrawler(spark, ltab)
    run_def = crawler_def.run(SEEDS)
    assert not crawler_def._bloom_active
    assert {r["url"] for r in run_def.seen.collect()} == {
        r["url"] for r in run_exact.seen.collect()
    }
