"""Context-chaining pipelines vs the reference goldens tfe/tef/tefe."""

import pytest
from test_crawl_properties import GRAPHS, SEEDS

from xidel_spark.corpus import FIXTURE, fixture_graph
from xidel_spark.crawl.pipeline import Stage, run_pipeline


@pytest.fixture(scope="module")
def docs(spark):
    return fixture_graph(spark).cache()


def titles(df):
    return [r["value"] for r in df.collect()]


def test_tfe_extract_on_followed(spark, docs):
    # a.xml -f //a -e //title → BBB CCC
    out = run_pipeline(spark, docs, ["a.xml"],
                       [Stage(follow="//a"), Stage(extract=["//title"])])
    assert titles(out) == ["BBB", "CCC"]


def test_tef_recursive(spark, docs):
    # a.xml -e //title -f //a (trailing -f) → full DFS crawl extraction
    out = run_pipeline(spark, docs, ["a.xml"],
                       [Stage(extract=["//title"], follow="//a", recurse=True)])
    assert titles(out) == ["AAA", "BBB", "B1", "B2", "CCC", "C1", "C2"]


def test_tefe_both_contexts_extract(spark, docs):
    # a.xml -e //title [-f //a -e //title] → AAA BBB CCC (one hop)
    out = run_pipeline(spark, docs, ["a.xml"],
                       [Stage(extract=["//title"], follow="//a"), Stage(extract=["//title"])])
    assert titles(out) == ["AAA", "BBB", "CCC"]


def test_two_hop_chain(spark, docs):
    out = run_pipeline(spark, docs, ["a.xml"],
                       [Stage(follow="//a"), Stage(follow="//a"), Stage(extract=["//title"])])
    # hop1: b, c ; hop2 from b: c(dup→dropped? c was fetched in hop1) b1 b2; from c: c1 c2
    assert titles(out) == ["B1", "B2", "C1", "C2"]


def _golden(name):
    from pathlib import Path

    return Path("/root/reference/tests/output").joinpath(name).read_text().splitlines()


@pytest.mark.needs_reference
def test_nest9a_dfs_interleaving(spark, docs):
    """golden tests/output/nest9a: 'a.xml -f //a -e //title -f //a -e //title'
    — unbracketed chains process each followed doc DEPTH-FIRST with the
    remaining action suffix under one global dup list, so b's whole subtree
    (BBB B1 B2) prints before c starts (CCC C1 C2)."""
    from xidel_spark.crawl.pipeline import run_pipeline_dfs

    out = run_pipeline_dfs(spark, docs, ["a.xml"], [
        Stage(follow="//a"),
        Stage(extract=["//title"], follow="//a"),
        Stage(extract=["//title"]),
    ])
    assert [r["value"] for r in out.orderBy("ord").collect()] == _golden("nest9a")


@pytest.mark.needs_reference
def test_nest9b_bracket_scopes_follow(spark, docs):
    """golden nest9b: '[ -f //a -e //title -f //a ] -e //title' — the
    bracket's trailing follow is scoped away; the outer -e runs on the
    ORIGINAL context afterwards."""
    from xidel_spark.crawl.pipeline import run_pipeline_dfs
    from xidel_spark.extract.links import extract_kind_text

    inner = run_pipeline_dfs(spark, docs, ["a.xml"], [
        Stage(follow="//a"),
        Stage(extract=["//title"], follow="//a"),
        Stage(),
    ])
    outer = extract_kind_text(docs.where(docs.doc_id == "a.xml"), "//title")
    got = [r["value"] for r in inner.orderBy("ord").collect()] + [
        r["value"] for r in outer.collect()
    ]
    assert got == _golden("nest9b")


@pytest.mark.needs_reference
def test_nest9c_bracket_then_outer_extract(spark, docs):
    """golden nest9c: the bracketed nest9a chain, then -e //title on the
    pre-bracket context — AAA prints last."""
    from xidel_spark.crawl.pipeline import run_pipeline_dfs
    from xidel_spark.extract.links import extract_kind_text

    inner = run_pipeline_dfs(spark, docs, ["a.xml"], [
        Stage(follow="//a"),
        Stage(extract=["//title"], follow="//a"),
        Stage(extract=["//title"]),
    ])
    outer = extract_kind_text(docs.where(docs.doc_id == "a.xml"), "//title")
    got = [r["value"] for r in inner.orderBy("ord").collect()] + [
        r["value"] for r in outer.collect()
    ]
    assert got == _golden("nest9c")


def test_dfs_pipeline_first_enqueuer_dedup(spark, docs):
    """c.xml is enqueued by a (stage 0) before b is processed — the later
    b→c enqueue must lose even though its concatenated rank string would
    compare smaller (the min is over PARENT rank, not child rank)."""
    from xidel_spark.crawl.pipeline import run_pipeline_dfs

    out = run_pipeline_dfs(spark, docs, ["a.xml"], [
        Stage(follow="//a"),
        Stage(extract=["//title"], follow="//a"),
        Stage(extract=["//title"]),
    ])
    rows = {r["url"]: r for r in out.select("url", "stage", "rank").distinct().collect()}
    assert rows["c.xml"]["stage"] == 1
    assert rows["c.xml"]["rank"] == "00000000" + "00000001"


def test_recursing_stage_no_frontier_collect(spark, docs, monkeypatch):
    """100x-scale regression (VERDICT r2 #2): a recursing pipeline stage
    must hand its frontier to crawl_exact AS A DATAFRAME — any .collect()
    of url-carrying rows routes the whole frontier through the driver.
    Allowed collects (total_order partition stats) carry no url column."""
    from pyspark.sql.classic.dataframe import DataFrame  # the class that
    # actually DEFINES collect in Spark 4 — patching the abstract base
    # never intercepts

    real_collect = DataFrame.collect
    url_collects = []

    def spy(self):
        if "url" in self.columns:
            url_collects.append(self.schema.simpleString())
        return real_collect(self)

    monkeypatch.setattr(DataFrame, "collect", spy)
    out = run_pipeline(spark, docs, ["a.xml"],
                       [Stage(extract=["//title"], follow="//a", recurse=True)])
    vals = [r["value"] for r in real_collect(out.select("value"))]
    assert vals == ["AAA", "BBB", "B1", "B2", "CCC", "C1", "C2"]
    assert url_collects == [], f"frontier collected on driver: {url_collects}"


def _sequential_chain(link_map, titles, seeds, stages):
    """Sequential replay of an unbracketed -f/-e chain: every document runs
    the remaining action suffix depth-first — its stage's extractions,
    then its follows, each enqueued unless ANY stage enqueued it before
    (one global dup list) and processed fully before its later siblings.
    All seeds are enqueued before the first is processed."""
    seen, out = set(), []

    def enqueue(urls):
        kept = [u for u in dict.fromkeys(urls) if u not in seen]
        seen.update(kept)
        return kept

    def process(url, s):
        for sel in stages[s].extract:
            if url in titles:
                out.append((url, s, sel, titles[url]))
        if stages[s].follow is not None and s + 1 < len(stages):
            for child in enqueue(link_map.get(url, [])):
                process(child, s + 1)

    for url in enqueue(seeds):
        process(url, 0)
    return out


def _docs_of(spark, link_map):
    """A documents table for a link map: each node titled by its upper-cased
    name, its links as //a spans in document order."""
    from xidel_spark.schemas import DOCUMENTS

    nodes = sorted(set(link_map) | {d for ds in link_map.values() for d in ds})
    rows = [
        (u, [("title", u.upper(), None, 0)]
         + [("link", d, d, i + 1) for i, d in enumerate(link_map.get(u, []))],
         u, "text/html", {"status": "200"}, "html")
        for u in nodes
    ]
    return spark.createDataFrame(rows, DOCUMENTS)


CHAINS = {
    # nest9a: a.xml -f //a -e //title -f //a -e //title
    "f_ef_e": [Stage(follow="//a"), Stage(extract=["//title"], follow="//a"),
               Stage(extract=["//title"])],
    "ef_ef_ef_e": [Stage(extract=["//title"], follow="//a")] * 3 + [Stage(extract=["//title"])],
}


@pytest.mark.parametrize("chain", sorted(CHAINS))
@pytest.mark.parametrize("name", ["fixture"] + sorted(GRAPHS))
def test_dfs_pipeline_matches_sequential_chain(spark, docs, name, chain):
    """run_pipeline_dfs print order == the sequential chain evaluator, on
    the fixture graph and the crawl property graphs (offline stand-in for
    the nest9a/b/c reference goldens)."""
    from xidel_spark.crawl.pipeline import run_pipeline_dfs

    stages = CHAINS[chain]
    if name == "fixture":
        link_map = {doc: links for doc, _, links, _ in FIXTURE}
        titles = {doc: title for doc, title, _, _ in FIXTURE}
        seeds, graph_docs = ["a.xml"], docs
    else:
        link_map = GRAPHS[name]
        seeds, graph_docs = SEEDS.get(name, ["a"]), _docs_of(spark, link_map)
        titles = {r["doc_id"]: r["doc_id"].upper() for r in graph_docs.select("doc_id").collect()}
    out = run_pipeline_dfs(spark, graph_docs, seeds, stages)
    got = [(r["url"], r["stage"], r["selector"], r["value"]) for r in out.orderBy("ord").collect()]
    assert got == _sequential_chain(link_map, titles, seeds, stages)
