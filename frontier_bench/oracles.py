"""Independent oracles and the off-clock output checks.

The crawler oracle is a numpy BFS over integer ids; the DFS-order oracle is
the repository's sequential simulator (`crawl/simulator.simulate_crawl`) run
on the generator's integer graph. Checks are pure functions over plain
Python values, so a corrupted result can be fed to them directly.
"""

from __future__ import annotations

import numpy as np

from .workloads import Graph, canonical_url, page_url


def bfs_levels(n: int, src: np.ndarray, dst: np.ndarray, seeds: np.ndarray):
    """(level sizes ending in 0, reached mask) of a BFS from `seeds`."""
    order = np.argsort(src, kind="stable")
    s, d = src[order], dst[order]
    indptr = np.searchsorted(s, np.arange(n + 1))
    seen = np.zeros(n, dtype=bool)
    frontier = np.unique(seeds)
    seen[frontier] = True
    levels = [int(frontier.size)]
    while frontier.size:
        start, length = indptr[frontier], indptr[frontier + 1] - indptr[frontier]
        total = int(length.sum())
        offsets = np.repeat(start - np.cumsum(length) + length, length) + np.arange(total)
        nxt = np.unique(d[offsets])
        frontier = nxt[~seen[nxt]]
        seen[frontier] = True
        levels.append(int(frontier.size))
    return levels, seen


def allowed_edges(g: Graph) -> tuple[np.ndarray, np.ndarray]:
    """The robots-filtered graph: links to /private/ ids are dropped."""
    keep = g.dst < g.n_pages
    return g.src[keep], g.dst[keep]


def frontier_expectation(g: Graph) -> tuple[list[int], set[str]]:
    """(per-wave enqueued counts, seen URL set) a correct crawl produces."""
    src, dst = allowed_edges(g)
    levels, seen = bfs_levels(g.n_pages, src, dst, g.seeds)
    urls = {page_url(int(g.host[i]), int(i), g.n_pages) for i in np.flatnonzero(seen)}
    return levels, urls


def dfs_expectation(g: Graph) -> list[str]:
    """`//title` values in the reference's DFS visit order."""
    from xidel_spark.crawl.simulator import simulate_crawl

    link_map: dict[str, list[str]] = {}
    urls = [canonical_url(int(g.host[i]), i) for i in range(g.n_pages)]
    order = np.lexsort((g.idx, g.src))
    for s, d in zip(g.src[order].tolist(), g.dst[order].tolist()):
        link_map.setdefault(urls[s], []).append(urls[d])
    sim = simulate_crawl(link_map, [urls[s] for s in g.seeds.tolist()])
    title_of = {u: f"T{i}" for i, u in enumerate(urls)}
    return [title_of[u] for u in sim.visit_order]


def check_frontier(enqueued: list[int], seen: list[str], levels: list[int], urls: set[str]) -> list[str]:
    """Problems with a crawler result; empty when it is correct."""
    problems = []
    if enqueued != levels:
        problems.append(f"per-wave enqueued {enqueued[:6]}... != BFS levels {levels[:6]}...")
    if len(seen) != len(set(seen)):
        problems.append(f"seen set has {len(seen) - len(set(seen))} duplicate urls")
    if set(seen) != urls:
        problems.append(
            f"seen set differs from reachability: {len(set(seen) - urls)} extra, "
            f"{len(urls - set(seen))} missing"
        )
    return problems


def check_order(titles: list[str], expected: list[str]) -> list[str]:
    if titles == expected:
        return []
    first = next(
        (i for i, (a, b) in enumerate(zip(titles, expected)) if a != b),
        min(len(titles), len(expected)),
    )
    return [f"visit order differs from the simulator at position {first} ({len(titles)} vs {len(expected)} visits)"]
