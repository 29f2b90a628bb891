"""Seeded input generators for the crawl-frontier benchmark.

Every graph is generated in numpy as integer edge lists; that is the single
source of truth for both the Spark inputs and the independent oracles.

All three graphs are *levelled by construction*: each page's "spine" links
cover every page of the next level, and every other link points at a level
no deeper than the next one. The BFS level sizes are therefore fixed by the
workload, whatever the seed, so run-to-run work (waves, fresh URLs per wave)
stays the same while the seed still changes every link target, label, host
and document-order position. The seed picks the spine multipliers, the
relabelling multiplier and offset, and the random extra links.
"""

from __future__ import annotations

import hashlib
import math
from dataclasses import dataclass

import numpy as np


@dataclass(frozen=True)
class Graph:
    src: np.ndarray      # int64 page id of the linking page
    idx: np.ndarray      # int32 link position in document order
    dst: np.ndarray      # int64 id of the link target
    seeds: np.ndarray    # int64 ids in seed order
    host: np.ndarray     # host number per id (pages, then blocked ids)
    n_pages: int         # ids >= n_pages live under /private/ (robots-blocked)
    levels: tuple        # designed BFS level sizes (pages only)

    @property
    def n_ids(self) -> int:
        return int(self.host.size)

    def digest(self) -> str:
        h = hashlib.sha256()
        for a in (self.src, self.idx, self.dst, self.seeds, self.host):
            h.update(np.ascontiguousarray(a).tobytes())
        h.update(str(self.n_pages).encode())
        return h.hexdigest()[:16]


def _coprime_mult(rng: np.random.Generator, m: int) -> int:
    while True:
        a = int(rng.integers(1, 1 << 31)) | 1
        if math.gcd(a, m) == 1:
            return a


def _layered(rng, sizes, extras_per_page, extra_target):
    """(src, dst) in level-major ids. Spine: level l covers level l+1 through
    a seeded bijection of positions. Extras: `extras_per_page(l, pos)` links
    per page, targets drawn by `extra_target(l, count)` (level-major ids)."""
    starts = np.concatenate(([0], np.cumsum(sizes)))
    src_parts, dst_parts = [], []
    for lvl in range(len(sizes) - 1):
        m, m2 = sizes[lvl], sizes[lvl + 1]
        q = np.arange(max(m, m2), dtype=np.int64)
        a, b = _coprime_mult(rng, m2), int(rng.integers(0, m2))
        src_parts.append(starts[lvl] + q % m)
        dst_parts.append(starts[lvl + 1] + (q % m2 * a + b) % m2)
    for lvl in range(len(sizes)):
        pos = np.arange(sizes[lvl], dtype=np.int64)
        cnt = extras_per_page(lvl, pos)
        total = int(cnt.sum())
        if total:
            src_parts.append(np.repeat(starts[lvl] + pos, cnt))
            dst_parts.append(extra_target(lvl, total))
    return np.concatenate(src_parts), np.concatenate(dst_parts), starts


def _finish(rng, src, dst, seeds, n_pages, host, levels) -> Graph:
    """Relabel ids by a seeded affine bijection, deduplicate parallel links
    (first occurrence wins) and shuffle each page's links into a seeded
    document order."""
    mult, off = _coprime_mult(rng, n_pages), int(rng.integers(0, n_pages))

    def relabel(ids):
        ids = np.asarray(ids, dtype=np.int64)
        page = ids < n_pages
        return np.where(page, (ids * mult + off) % n_pages, ids)

    src, dst, seeds = relabel(src), relabel(dst), relabel(seeds)
    key = src * np.int64(host.size) + dst
    _, first = np.unique(key, return_index=True)
    src, dst = src[first], dst[first]
    order = np.lexsort((rng.random(src.size), src))
    src, dst = src[order], dst[order]
    group_start = np.flatnonzero(np.r_[True, src[1:] != src[:-1]])
    idx = np.arange(src.size) - np.repeat(group_start, np.diff(np.r_[group_start, src.size]))
    host_by_id = np.empty_like(host)
    host_by_id[relabel(np.arange(host.size))] = host
    return Graph(src, idx.astype(np.int32), dst, seeds, host_by_id, n_pages, tuple(int(s) for s in levels))


# broad_bfs: the bench.py-shaped wide cyclic graph, scaled to 4 cores so a
# warm crawl takes seconds (bench.py's 1M nodes took 27 s cold).
BROAD_NODES = 120_000
BROAD_PROFILE = (1.0, 2.0, 3.5, 5.5, 7.5, 8.0, 6.0, 3.5, 1.6, 0.6, 0.2, 0.07)
BROAD_HOSTS = 997


def _profile_sizes(n: int, profile) -> list[int]:
    sizes = [max(1, int(n * p / sum(profile))) for p in profile]
    sizes[int(np.argmax(sizes))] += n - sum(sizes)
    return sizes


def broad_bfs(seed: int, n: int = BROAD_NODES) -> Graph:
    """Wide cyclic graph with quadratic host skew: ~2 links per page, extra
    links land anywhere up to the next level (cross-wave dedup hits)."""
    rng = np.random.default_rng([seed, 1])
    sizes = _profile_sizes(n, BROAD_PROFILE)
    starts = np.concatenate(([0], np.cumsum(sizes)))
    src, dst, _ = _layered(
        rng,
        sizes,
        lambda lvl, pos: (pos + seed) % 3,
        lambda lvl, k: rng.integers(0, starts[min(lvl + 2, len(sizes))], size=k),
    )
    ids = np.arange(n, dtype=np.int64)
    seeds = rng.permutation(sizes[0]).astype(np.int64)
    return _finish(rng, src, dst, seeds, n, (ids * ids) % BROAD_HOSTS, sizes)


# polite_deep: deep and narrow; every page has one forward link, two
# back-links into already-seen pages, and every third page links one
# /private/ URL that robots.txt blocks (~10% of pre-robots candidates).
DEEP_LEVELS = 6
DEEP_WIDTH = 1_000
DEEP_HOSTS = 16


def polite_deep(seed: int, levels: int = DEEP_LEVELS, width: int = DEEP_WIDTH) -> Graph:
    rng = np.random.default_rng([seed, 2])
    sizes = [width] * levels
    n = width * levels
    starts = np.arange(levels + 1, dtype=np.int64) * width
    src, dst, _ = _layered(
        rng,
        sizes,
        lambda lvl, pos: np.full(pos.size, 2, np.int64),
        lambda lvl, k: rng.integers(0, starts[lvl + 1], size=k),
    )
    blockers = np.flatnonzero((np.arange(n) + seed) % 3 == 0).astype(np.int64)
    src = np.concatenate((src, blockers))
    dst = np.concatenate((dst, n + np.arange(blockers.size, dtype=np.int64)))
    host = np.concatenate((np.arange(n), blockers)) % DEEP_HOSTS
    seeds = rng.permutation(width).astype(np.int64)
    return _finish(rng, src, dst, seeds, n, host.astype(np.int64), sizes)


# ingest_dfs: the reference's `-e //title -f //a` recursion over a shallow
# layered graph; links only go one level down, so the exact DFS order stays
# shallow and the relaxation converges in a handful of steps.
INGEST_SIZES = (1_200, 3_600, 9_000, 18_000, 28_200)
INGEST_HOSTS = 13


def ingest_dfs(seed: int, sizes=INGEST_SIZES) -> Graph:
    rng = np.random.default_rng([seed, 3])
    sizes = list(sizes)
    n = sum(sizes)
    starts = np.concatenate(([0], np.cumsum(sizes)))
    last = len(sizes) - 1
    src, dst, _ = _layered(
        rng,
        sizes,
        lambda lvl, pos: np.where(lvl < last, (pos + seed) % 2, 0),
        lambda lvl, k: rng.integers(starts[lvl + 1], starts[lvl + 2], size=k),
    )
    ids = np.arange(n, dtype=np.int64)
    seeds = rng.permutation(sizes[0]).astype(np.int64)
    return _finish(rng, src, dst, seeds, n, ids % INGEST_HOSTS, sizes)


def page_url(host: int, page_id: int, n_pages: int) -> str:
    kind = "p" if page_id < n_pages else "private"
    return f"http://h{host:03d}.example.com/{kind}/{page_id}"


def canonical_url(host: int, page_id: int) -> str:
    """ingest_dfs document URL: every fourth page carries a (sorted) query."""
    query = f"?a={page_id % 5}&b={page_id % 3}" if page_id % 4 == 0 else ""
    return f"http://h{host:03d}.example.com/p/{page_id}{query}"


def dirty_href(host: int, page_id: int, v: int) -> str:
    """A link to `canonical_url(host, page_id)` as pages write them: each bit
    of the variant `v` switches on one of mixed-case scheme, mixed-case host,
    default port, dot segments, unsorted query, fragment."""
    scheme = "HTTP" if v & 1 else "http"
    hostname = f"H{host:03d}.Example.COM" if v & 2 else f"h{host:03d}.example.com"
    port = ":80" if v & 4 else ""
    path = f"/p/./x/../{page_id}" if v & 8 else f"/p/{page_id}"
    a, b = page_id % 5, page_id % 3
    query = "" if page_id % 4 else (f"?b={b}&a={a}" if v & 16 else f"?a={a}&b={b}")
    frag = f"#s{v}" if v & 32 else ""
    return f"{scheme}://{hostname}{port}{path}{query}{frag}"


def documents(g: Graph, seed: int):
    """Interleaved-span documents (doc_id, spans) as an Arrow table: per page
    its links (dirty hrefs, kind 'link', stored in reverse document order),
    then a closing text span, an image and an ad span whose targets are real
    pages that `//a` must not follow, an intro text span and the title. The
    offsets, not the array order, give document order."""
    import pyarrow as pa

    n = g.n_pages
    canon = np.array([canonical_url(int(h), i) for i, h in enumerate(g.host[:n].tolist())], dtype=object)
    order = np.lexsort((-g.idx, g.src))
    ls, lk, lt = g.src[order], g.idx[order], g.dst[order]
    count = np.bincount(ls, minlength=n)
    starts = np.concatenate(([0], np.cumsum(count + 5)))
    group = np.concatenate(([0], np.cumsum(count)))
    link_pos = starts[ls] + np.arange(ls.size) - group[ls]
    total = int(starts[-1])
    kind = np.empty(total, dtype=object)
    text = np.empty(total, dtype=object)
    ref = np.full(total, None, dtype=object)
    offset = np.empty(total, dtype=np.int32)
    kind[link_pos] = "link"
    text[link_pos] = [f"link {k}" for k in lk.tolist()]
    variants = (ls * 31 + lk * 7 + seed) % 64
    ref[link_pos] = [
        dirty_href(h, t, v) for h, t, v in zip(g.host[lt].tolist(), lt.tolist(), variants.tolist())
    ]
    offset[link_pos] = lk * 3 + 2
    d = np.arange(n)
    ad = (d * 7919 + seed) % n
    fixed = (
        ("text", np.full(n, "closing words", dtype=object), None, 1000),
        ("image", np.full(n, "img", dtype=object), canon[(ad + 1) % n], 4),
        ("ad", np.full(n, "sponsored", dtype=object), canon[ad], 3),
        ("text", np.array([f"intro {i}" for i in range(n)], dtype=object), None, 1),
        ("title", np.array([f"T{i}" for i in range(n)], dtype=object), None, 0),
    )
    for j, (k, t, r, o) in enumerate(fixed):
        pos = starts[:-1] + count + j
        kind[pos], text[pos], offset[pos] = k, t, o
        if r is not None:
            ref[pos] = r
    spans = pa.StructArray.from_arrays(
        [pa.array(kind, pa.string()), pa.array(text, pa.string()), pa.array(ref, pa.string()), pa.array(offset)],
        names=["kind", "text", "media_ref", "offset"],
    )
    lists = pa.ListArray.from_arrays(pa.array(starts.astype(np.int32)), spans)
    return pa.table({"doc_id": pa.array(canon, pa.string()), "spans": lists})


GENERATORS = {"broad_bfs": broad_bfs, "polite_deep": polite_deep, "ingest_dfs": ingest_dfs}
