"""Tests for the benchmark's own code (no Spark session needed).

    python3 -m pytest frontier_bench/tests -q
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

import numpy as np
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from frontier_bench import oracles, run, workloads  # noqa: E402
from frontier_bench.workloads import Graph  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
GOLDEN = ["a.xml", "b.xml", "b1.xml", "b2.xml", "c.xml", "c1.xml", "c2.xml"]


@pytest.mark.parametrize("name", sorted(workloads.GENERATORS))
def test_seed_determines_graph(name):
    gen = workloads.GENERATORS[name]
    assert gen(7).digest() == gen(7).digest()
    assert gen(7).digest() != gen(8).digest()


@pytest.mark.parametrize("name", sorted(workloads.GENERATORS))
def test_bfs_levels_match_design(name):
    g = workloads.GENERATORS[name](3)
    src, dst = oracles.allowed_edges(g)
    levels, seen = oracles.bfs_levels(g.n_pages, src, dst, g.seeds)
    assert levels == list(g.levels) + [0]
    assert seen.all()


def fixture_graph() -> tuple[Graph, list[str]]:
    from xidel_spark.corpus import fixture_link_map

    link_map = fixture_link_map()
    names = sorted(link_map)
    ids = {n: i for i, n in enumerate(names)}
    rows = [(ids[s], k, ids[d]) for s, ds in link_map.items() for k, d in enumerate(ds)]
    src, idx, dst = (np.array(c, dtype=np.int64) for c in zip(*rows))
    g = Graph(src, idx.astype(np.int32), dst, np.array([ids["a.xml"]]),
              np.zeros(len(names), np.int64), len(names), ())
    return g, names


def test_oracles_reproduce_fixture_golden_order():
    g, names = fixture_graph()
    titles = oracles.dfs_expectation(g)
    assert [names[int(t[1:])] for t in titles] == GOLDEN
    levels, seen = oracles.bfs_levels(g.n_pages, g.src, g.dst, g.seeds)
    assert levels == [1, 2, 4, 0]
    assert sorted(names[i] for i in np.flatnonzero(seen)) == sorted(GOLDEN)


def test_dirty_hrefs_canonicalize_to_document_urls():
    from xidel_spark.urlnorm import canonicalize_one

    for page in (0, 3, 4, 12, 40):
        url = workloads.canonical_url(5, page)
        assert canonicalize_one(url) == url
        assert {canonicalize_one(workloads.dirty_href(5, page, v)) for v in range(64)} == {url}


def test_corrupted_seen_set_fails():
    g = workloads.polite_deep(1, levels=4, width=50)
    levels, urls = oracles.frontier_expectation(g)
    good = sorted(urls)
    assert oracles.check_frontier(levels, good, levels, urls) == []
    assert oracles.check_frontier(levels, good[1:], levels, urls)
    assert oracles.check_frontier(levels, good + good[:1], levels, urls)
    blocked = workloads.page_url(0, g.n_pages, g.n_pages)
    assert oracles.check_frontier(levels, good[1:] + [blocked], levels, urls)
    assert oracles.check_frontier(levels[:-2] + [levels[-1], levels[-2]], good, levels, urls)


def test_corrupted_order_fails_and_is_counted():
    g, _ = fixture_graph()
    expected = oracles.dfs_expectation(g)
    swapped = expected[:2] + [expected[3], expected[2]] + expected[4:]
    assert oracles.check_order(expected, expected) == []
    assert oracles.check_order(swapped, expected)
    assert oracles.check_order(expected[:-1], expected)
    good = run.Rep(crawl_s=1.0, cpu_s=2.0, urls=10, steps=[0.1])
    bad = run.Rep(crawl_s=1.0, cpu_s=2.0, urls=10, steps=[0.1], problems=oracles.check_order(swapped, expected))
    line = run.summarize([good, bad], 2.0, False, {})
    assert (line["attempted"], line["failed"], line["correct"]) == (2, 1, False)
    assert run.summarize([good], 2.0, False, {})["correct"] is True


def test_metric_names_and_units():
    emitted = run.summarize([run.Rep(crawl_s=1.0, cpu_s=2.0, urls=10, steps=[0.1])], 2.0, False, {})
    traced = run.summarize([run.Rep(crawl_s=1.0, cpu_s=2.0, urls=10, traced=True)], 2.0, True, {})
    for line in (emitted, traced):
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        for name, m in line["metrics"].items():
            assert NAME.fullmatch(name), name
            assert UNIT.fullmatch(m["unit"]), m["unit"]
    assert set(emitted["metrics"]) == set(run.END_TO_END)
    assert set(traced["metrics"]) == set(run.per_layer_metrics())


def test_benchmark_json_matches_emitted_metrics():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == list(run.per_layer_metrics())
    for m in spec["end_to_end"] + spec["per_layer"]:
        unit, better = (run.END_TO_END | run.per_layer_metrics())[m["name"]]
        assert (m["unit"], m["better"]) == (unit, better)
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
