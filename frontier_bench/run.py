"""Crawl-frontier benchmark for xidel_spark.

    python3 frontier_bench/run.py --workload polite_deep --seed 1 --seconds 15 --trace 0

One workload per process, on `local[N]` with N = the CPUs this process may
use. The seed picks the generated graph; the program only ever sees the
generated DataFrames. Set-up happens before the clock: session start, input
generation and materialization (SETUP_PASSES times, median taken), and
WARMUP_REPS unchecked repetitions of the workload, which is about what the
JVM's JIT needs to settle. The timed loop then repeats the workload's chain
of public calls until `--seconds` have passed; every repetition's output is
checked off the clock against an independent oracle, and a repetition that
raises, overruns REP_TIMEOUT_S or fails its check counts as failed.

Times are taken in wall seconds and in CPU seconds of this process tree
(the driver JVM and its Python workers). The end-to-end metrics are the CPU
ones: on a shared host the wall time of the same run moves by a factor of
two with the time the hypervisor steals, CPU time by far less. The wall
figures are in the traced record and on the description line.

`--trace 0` reports the end-to-end metrics from untraced repetitions.
`--trace 1` alternates untraced and traced repetitions and reports the
per-layer metrics (tracing.py), the wall-clock figures, the unattributed
remainder and the tracing overhead (traced minus untraced crawl time).

The last line of standard output is the JSON result; the lines before it
describe the run (sample counts, box state). All scratch files live under
`.bench_work/` in the checkout.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".bench_work"
CORES = len(os.sched_getaffinity(0))
SETUP_PASSES = 3
WARMUP_REPS = 4
REP_TIMEOUT_S = 90.0
SOFT_LIMIT_S = 135.0  # no repetition starts that would likely end past this
WATCHDOG_S = 160

END_TO_END = {
    "setup_s": ("s", "lower"),
    "crawl_cpu_s": ("s", "lower"),
    "urls_per_cpu_s": ("1/s", "higher"),
}
COUNTS = {
    "crawl.wall_s": ("s", "lower"),
    "crawl.urls_per_s": ("1/s", "higher"),
    "crawl.wave_p50_s": ("s", "lower"),
    "jvm.peak_rss_mb": ("MB", "lower"),
    "crawler.waves": ("count", "lower"),
    "crawler.candidates": ("count", "lower"),
    "crawler.fresh_ratio": ("ratio", "higher"),
    "crawler.resume_s": ("s", "lower"),
    "robots.blocked": ("count", "lower"),
    "store.bytes_written": ("bytes", "lower"),
    "bloom.active_waves": ("count", "higher"),
    "extract.links": ("count", "lower"),
    "engine.relax_steps": ("count", "lower"),
    "jvm.gc_s": ("s", "lower"),
    "setup.wall_s": ("s", "lower"),
    "setup.cold_s": ("s", "lower"),
    "trace.crawl_s": ("s", "lower"),
    "trace.untraced_crawl_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "trace.unattributed_s": ("s", "lower"),
    "box.loadavg_before": ("load", "lower"),
    "box.loadavg_after": ("load", "lower"),
    "box.mem_available_mb": ("MB", "higher"),
    "box.cpufreq_mhz_min": ("MHz", "higher"),
    "box.cpufreq_mhz_max": ("MHz", "higher"),
    "box.spin_s": ("s", "lower"),
}


def per_layer_metrics() -> dict[str, tuple[str, str]]:
    from frontier_bench.tracing import LAYERS, SPAN_METRICS

    out = {f"{layer}.{m}": spec for layer in LAYERS for m, spec in SPAN_METRICS.items()}
    out.update(COUNTS)
    return out


@dataclass
class Rep:
    """One timed repetition of a workload."""

    crawl_s: float = 0.0
    cpu_s: float = 0.0            # CPU seconds of this process tree over crawl_s
    traced: bool = False
    urls: int = 0                 # frontier URLs scheduled (numerator of urls_per_s)
    steps: list = field(default_factory=list)   # per-wave (or per-step) wall seconds
    counts: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    problems: list = field(default_factory=list)


def untraced(reps: list[Rep]) -> list[Rep]:
    """The untraced repetitions that passed their check (all untraced ones
    if none passed)."""
    plain = [r for r in reps if not r.traced]
    return [r for r in plain if not r.problems] or plain


def per_cpu_s(r: Rep) -> float:
    return r.urls / r.cpu_s if r.cpu_s else 0.0


def summarize(reps: list[Rep], setup_s: float, trace: bool, extra: dict) -> dict:
    """The result line: a repetition fails when it has problems."""
    failed = sum(1 for r in reps if r.problems)
    metrics: dict[str, float] = {}
    if not trace:
        ok = untraced(reps)
        metrics = {
            "setup_s": setup_s,
            "crawl_cpu_s": statistics.median(r.cpu_s for r in ok),
            "urls_per_cpu_s": statistics.median(per_cpu_s(r) for r in ok),
        }
        spec = END_TO_END
    else:
        spec = per_layer_metrics()
        metrics = {name: float(extra.get(name, 0.0)) for name in spec}
    return {
        "correct": failed == 0,
        "attempted": len(reps),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": spec[k][0]} for k, v in metrics.items()},
    }


# --------------------------------------------------------------------------
# Spark inputs
# --------------------------------------------------------------------------


def _url(host, page_id, n_pages):
    """Spark twin of workloads.page_url (concat, not format_string: Java's
    String.format made input materialization 3x slower)."""
    from pyspark.sql import functions as F

    kind = F.when(page_id < n_pages, F.lit("/p/")).otherwise(F.lit("/private/"))
    return F.concat(
        F.lit("http://h"), F.lpad(host.cast("string"), 3, "0"), F.lit(".example.com"),
        kind, page_id.cast("string"),
    )


def links_df(spark, g):
    import pandas as pd
    from pyspark.sql import functions as F

    pdf = pd.DataFrame({"s": g.src, "idx": g.idx, "d": g.dst, "sh": g.host[g.src], "dh": g.host[g.dst]})
    return spark.createDataFrame(pdf).select(
        _url(F.col("sh"), F.col("s"), g.n_pages).alias("src"),
        F.col("idx"),
        _url(F.col("dh"), F.col("d"), g.n_pages).alias("dst"),
    )


def seeds_df(spark, g, url_fn=None):
    import pandas as pd
    from pyspark.sql import functions as F

    pdf = pd.DataFrame({"i": g.seeds, "h": g.host[g.seeds], "seed_idx": range(g.seeds.size)})
    url = url_fn(F.col("h"), F.col("i")) if url_fn else _url(F.col("h"), F.col("i"), g.n_pages)
    return spark.createDataFrame(pdf).select(url.alias("url"), "seed_idx")


def robots_df(spark, g):
    """Every host disallows /private/ (and allows a never-linked sub-path,
    so the longest-prefix rule has something to rank)."""
    from xidel_spark.crawl.robots import parse_robots_txt

    text = "User-agent: *\nDisallow: /private/\nAllow: /private/open/\n"
    rows = []
    for h in sorted(set(g.host.tolist())):
        rows += parse_robots_txt(f"h{h:03d}.example.com", text)
    return spark.createDataFrame(rows, "host string, prefix string, allow boolean")


def canonical_df_url(host, page_id):
    """Spark twin of workloads.canonical_url, for the seed table."""
    from pyspark.sql import functions as F

    query = F.when(
        page_id % 4 == 0,
        F.concat(F.lit("?a="), (page_id % 5).cast("string"), F.lit("&b="), (page_id % 3).cast("string")),
    ).otherwise(F.lit(""))
    return F.concat(_url(host, page_id, page_id + 1), query)


def docs_df(spark, g, seed):
    from pyspark.sql import functions as F

    from frontier_bench.workloads import documents

    return spark.createDataFrame(documents(g, seed)).select(
        "doc_id",
        "spans",
        F.col("doc_id").alias("base_uri"),
        F.lit("text/html").alias("content_type"),
        F.create_map(F.lit("status"), F.lit("200")).alias("headers"),
        F.lit("html").alias("input_format"),
    )


# --------------------------------------------------------------------------
# Workloads
# --------------------------------------------------------------------------


class Workload:
    """A seeded input, its oracle expectation, and the timed chain of calls."""

    name = ""

    def __init__(self, spark, seed: int, tracer):
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.graph = self.generate()
        self.expected = self.expect(self.graph)

    def generate(self):
        from frontier_bench import workloads

        return workloads.GENERATORS[self.name](self.seed)


class CrawlerWorkload(Workload):
    """broad_bfs: FrontierCrawler with default settings."""

    name = "broad_bfs"

    def expect(self, g):
        from frontier_bench import oracles

        return oracles.frontier_expectation(g)

    def materialize(self, g) -> dict:
        return {
            "links": links_df(self.spark, g).localCheckpoint(eager=True),
            "seeds": seeds_df(self.spark, g).localCheckpoint(eager=True),
        }

    def crawl(self, inputs: dict):
        from xidel_spark.crawl.crawler import FrontierCrawler

        t = self.tracer
        with t.span("crawler.run"):
            run = FrontierCrawler(self.spark, inputs["links"]).run(inputs["seeds"])
        with t.span("crawler.wave"):
            n_seen = run.seen.count()
        return run, n_seen

    def rep(self, inputs: dict, check: bool = True) -> Rep:
        shutil.rmtree(WORK / "store", ignore_errors=True)
        cpu0, t0 = _tree_cpu_s(os.getpid()), time.perf_counter()
        with self.tracer.span("crawl"):
            run, n_seen = self.crawl(inputs)
        rep = Rep(crawl_s=time.perf_counter() - t0, cpu_s=_tree_cpu_s(os.getpid()) - cpu0)
        if check:
            self.finish(rep, run, n_seen)
        return rep

    def finish(self, rep: Rep, run, n_seen: int) -> None:
        from frontier_bench import oracles

        waves = [m for m in run.metrics if m["wave"] > 0]
        cand = sum(m["candidates"] for m in run.metrics)
        rep.urls = cand + n_seen
        rep.steps = [m["wall_s"] for m in waves if "wall_s" in m]
        rep.counts.update({
            "crawler.waves": run.waves,
            "crawler.candidates": cand,
            "crawler.fresh_ratio": sum(m["enqueued"] for m in waves) / max(cand, 1),
            "robots.blocked": sum(m.get("robots_blocked", 0) for m in run.metrics),
        })
        seen = run.seen.toPandas()["url"].tolist()
        levels, urls = self.expected
        rep.problems += oracles.check_frontier([m["enqueued"] for m in run.metrics], seen, levels, urls)
        if n_seen != len(seen):
            rep.problems.append(f"seen count {n_seen} != {len(seen)} collected")


class PoliteDeepWorkload(CrawlerWorkload):
    """polite_deep: robots, politeness and a state store; the crawl stops at
    the midpoint and a fresh crawler resumes it from the store."""

    name = "polite_deep"
    wait_ms = 250

    def materialize(self, g) -> dict:
        out = super().materialize(g)
        out["robots"] = robots_df(self.spark, g).localCheckpoint(eager=True)
        out["levels"] = len(g.levels)
        return out

    def crawler(self, inputs: dict, store_dir: Path):
        from xidel_spark.crawl.checkpoint import CrawlStateStore
        from xidel_spark.crawl.crawler import FrontierCrawler

        return FrontierCrawler(
            self.spark, inputs["links"], store=CrawlStateStore(str(store_dir)),
            robots_rules=inputs["robots"], wait_ms=self.wait_ms,
        )

    def crawl(self, inputs: dict):
        store_dir = WORK / "store"
        mid = inputs["levels"] // 2
        t = self.tracer
        with t.span("crawler.run"):
            self.crawler(inputs, store_dir).run(inputs["seeds"], max_waves=mid)
        with t.span("crawler.run"):
            t0 = time.perf_counter()
            run = self.crawler(inputs, store_dir).run(inputs["seeds"])
            run.resume_wall_s = time.perf_counter() - t0
            run.mid = mid
        with t.span("crawler.wave"):
            n_seen = run.seen.count()
        return run, n_seen

    def finish(self, rep: Rep, run, n_seen: int) -> None:
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        from xidel_spark.crawl.checkpoint import CrawlStateStore
        from xidel_spark.crawl.politeness import assert_spacing

        super().finish(rep, run, n_seen)
        g = self.graph
        resumed = sum(m.get("wall_s", 0.0) for m in run.metrics if m["wave"] >= run.mid)
        rep.counts["crawler.resume_s"] = run.resume_wall_s - resumed
        store_dir = WORK / "store"
        rep.counts["store.bytes_written"] = sum(
            p.stat().st_size for p in store_dir.rglob("*") if p.is_file()
        )
        blocked = g.n_ids - g.n_pages
        if rep.counts["robots.blocked"] != blocked:
            rep.problems.append(f"robots blocked {rep.counts['robots.blocked']} != {blocked}")
        incs = CrawlStateStore(str(store_dir)).increments(self.spark)
        sched = incs[0].select("host", "scheduled_ms")
        for inc in incs[1:]:
            sched = sched.unionByName(inc.select("host", "scheduled_ms"))
        sched = sched.withColumn(
            "host_seq", F.row_number().over(Window.partitionBy("host").orderBy("scheduled_ms"))
        )
        if not assert_spacing(sched, self.wait_ms):
            rep.problems.append("politeness spacing violated across waves")


class IngestWorkload(Workload):
    """ingest_dfs: extract_links -> canonicalize(dst) -> crawl_exact ->
    //title in crawl order."""

    name = "ingest_dfs"

    def expect(self, g):
        from frontier_bench import oracles

        return oracles.dfs_expectation(g)

    def materialize(self, g) -> dict:
        return {
            "docs": docs_df(self.spark, g, self.seed).localCheckpoint(eager=True),
            "seeds": seeds_df(self.spark, g, canonical_df_url).localCheckpoint(eager=True),
        }

    def rep(self, inputs: dict, check: bool = True) -> Rep:
        from pyspark.sql import functions as F

        from frontier_bench import oracles
        from xidel_spark.crawl.engine import crawl_exact
        from xidel_spark.extract.links import extract_kind_text, extract_links
        from xidel_spark.urlnorm import canonicalize

        t = self.tracer
        docs = inputs["docs"]
        cpu0, t0 = _tree_cpu_s(os.getpid()), time.perf_counter()
        with t.span("crawl"):
            with t.span("extract"):
                links = extract_links(docs, "//a").localCheckpoint(eager=True)
                titles = extract_kind_text(docs, "//title").localCheckpoint(eager=True)
            with t.span("urlnorm"):
                clinks = links.withColumn("dst", canonicalize(F.col("dst"))).localCheckpoint(eager=True)
            with t.span("crawl_exact"):
                t1 = time.perf_counter()
                res = crawl_exact(self.spark, clinks, inputs["seeds"])
                exact_s = time.perf_counter() - t1
            with t.span("engine.order"):
                out = (
                    res.visited.join(titles.select("url", "value"), "url")
                    .orderBy("ord").select("value").toPandas()["value"].tolist()
                )
        rep = Rep(crawl_s=time.perf_counter() - t0, cpu_s=_tree_cpu_s(os.getpid()) - cpu0)
        n_links = links.count()
        rep.urls = n_links + len(out)
        rep.steps = [exact_s / max(res.waves, 1)]
        rep.counts.update({"extract.links": n_links, "engine.relax_steps": res.waves})
        if check:
            rep.problems += oracles.check_order(out, self.expected)
        return rep


WORKLOADS = {w.name: w for w in (CrawlerWorkload, PoliteDeepWorkload, IngestWorkload)}


# --------------------------------------------------------------------------
# Driver
# --------------------------------------------------------------------------


def _prepare_env() -> None:
    """Keep every file Spark, the JVM and Python write inside WORK."""
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(WORK / "warehouse")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def _start_spark():
    from xidel_spark.session import get_spark

    java_opts = f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"
    spark = get_spark(
        "frontier_bench",
        master=f"local[{CORES}]",
        shuffle_partitions=max(CORES, 8),
        extra_conf={
            "spark.driver.extraJavaOptions": java_opts,
            "spark.executor.extraJavaOptions": java_opts,
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "40000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait until it exits."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of `root` and its live descendants (the JVM
    and its Python workers), children they reaped included. The kernel keeps
    time the hypervisor steals out of these counters."""
    tick = os.sysconf("SC_CLK_TCK")
    parent, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(d)] = int(fields[1])
        cpu[int(d)] = sum(int(x) for x in fields[11:15]) / tick
    total, stack = 0.0, [root]
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    while stack:
        pid = stack.pop()
        total += cpu.get(pid, 0.0)
        stack += children.get(pid, [])
    return total


def _gc_seconds(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


def _release(spark, keep: set) -> None:
    """Drop every cached/checkpointed RDD except the inputs, so repetitions
    start from the same state."""
    gc.collect()
    for rid, rdd in spark.sparkContext._jsc.getPersistentRDDs().items():
        if rid not in keep:
            rdd.unpersist(True)


def _spin_s() -> float:
    """CPU seconds of a fixed pure-Python loop: the host's speed at the start
    of the run (it drifts by tens of percent on a shared host)."""
    c0 = time.process_time()
    x = 0
    for i in range(2_000_000):
        x += i * i % 7
    return time.process_time() - c0


def _box(snapshot: dict) -> dict:
    load = snapshot.get("loadavg") or [0]
    freqs = snapshot.get("cpufreq_khz_min_max") or [0, 0]
    return {
        "load1": float(load[0]),
        "mem_available_mb": snapshot.get("mem_available_kb", 0) / 1024.0,
        "cpufreq_mhz_min": freqs[0] / 1000.0,
        "cpufreq_mhz_max": freqs[1] / 1000.0,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "xidel_spark").is_dir() or not (ROOT / "bench_extra.py").is_file():
        print(f"frontier_bench: no xidel_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from bench_extra import box_snapshot
    from frontier_bench.tracing import (
        Tracer, active_waves, layer_metrics, median_dict, next_job_id, status_store_since,
    )

    def watchdog(signum, frame):
        raise TimeoutError(f"benchmark exceeded {WATCHDOG_S} s")

    signal.signal(signal.SIGALRM, watchdog)
    signal.alarm(WATCHDOG_S)
    _prepare_env()
    box_before = box_snapshot()

    def clock() -> tuple[float, float]:
        return time.perf_counter(), _tree_cpu_s(os.getpid())

    def since(mark: tuple[float, float]) -> tuple[float, float]:
        now = clock()
        return now[0] - mark[0], now[1] - mark[1]

    spin_s = _spin_s()
    t0 = clock()
    spark = _start_spark()
    try:
        session = since(t0)
        tracer = Tracer(sc=spark.sparkContext)
        wl = WORKLOADS[args.workload](spark, args.seed, tracer)
        passes = []
        for _ in range(SETUP_PASSES):
            _release(spark, set())
            p0 = clock()
            inputs = wl.materialize(wl.generate())
            passes.append(since(p0))
        keep = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
        w0 = clock()
        for _ in range(WARMUP_REPS):
            _release(spark, keep)
            wl.rep(inputs, check=False)
        warmup = since(w0)
        setup_wall, setup_cpu = (
            session[i] + statistics.median(p[i] for p in passes) + warmup[i] for i in (0, 1)
        )

        reps: list[Rep] = []
        m0 = time.perf_counter()
        # traced runs alternate untraced and traced repetitions, both kinds
        # at least once, time permitting
        want, need = (2, 2) if args.trace else (1, 1)
        while (len(reps) < want or time.perf_counter() - m0 < args.seconds) and (
            len(reps) < need or time.perf_counter() - t0[0] + reps[-1].crawl_s < SOFT_LIMIT_S
        ):
            _release(spark, keep)
            traced = bool(args.trace) and len(reps) % 2 == 1
            gc0 = _gc_seconds(spark)
            first_job = next_job_id(spark.sparkContext)
            tracer.spans.clear()
            if traced:
                tracer.install()
            try:
                rep = wl.rep(inputs)
            except Exception as exc:  # a failed repetition is counted, not fatal
                rep = Rep(crawl_s=REP_TIMEOUT_S, problems=[f"{type(exc).__name__}: {exc}"])
            finally:
                if traced:
                    tracer.uninstall()
            rep.traced = traced
            rep.counts["jvm.gc_s"] = _gc_seconds(spark) - gc0
            if rep.crawl_s > REP_TIMEOUT_S:
                rep.problems.append(f"repetition took {rep.crawl_s:.1f} s > {REP_TIMEOUT_S} s")
            if traced:
                jobs, stages = status_store_since(spark.sparkContext, first_job)
                rep.layers = layer_metrics(tracer, jobs, stages, CORES, "crawl")
                rep.layers["bloom.active_waves"] = active_waves(tracer.spans, "bloom.")
            reps.append(rep)
        peak_rss = _vm_hwm_mb(_jvm_pid(spark))
    finally:
        _stop_spark(spark)
    signal.alarm(0)
    box_after = box_snapshot()

    plain = untraced(reps)
    steps = [s for r in plain for s in r.steps]
    extra: dict[str, float] = {}
    if args.trace:
        traced = [r for r in reps if r.traced and not r.problems] or [r for r in reps if r.traced]
        extra.update(median_dict([r.counts | r.layers for r in traced]))
        if "crawler.resume_s" in plain[0].counts:
            extra["crawler.resume_s"] = statistics.median(r.counts["crawler.resume_s"] for r in plain)
        extra["crawl.wall_s"] = statistics.median(r.crawl_s for r in plain)
        extra["crawl.urls_per_s"] = statistics.median(r.urls / r.crawl_s for r in plain)
        extra["crawl.wave_p50_s"] = statistics.median(steps) if steps else 0.0
        extra["jvm.peak_rss_mb"] = peak_rss
        extra["trace.crawl_s"] = statistics.median(r.crawl_s for r in traced)
        extra["trace.untraced_crawl_s"] = extra["crawl.wall_s"]
        extra["trace.overhead_s"] = extra["trace.crawl_s"] - extra["trace.untraced_crawl_s"]
        extra["setup.wall_s"] = setup_wall
        extra["setup.cold_s"] = session[0] + passes[0][0] + warmup[0]
        b0, b1 = _box(box_before), _box(box_after)
        extra.update({
            "box.loadavg_before": b0["load1"],
            "box.loadavg_after": b1["load1"],
            "box.mem_available_mb": b0["mem_available_mb"],
            "box.cpufreq_mhz_min": b0["cpufreq_mhz_min"],
            "box.cpufreq_mhz_max": b0["cpufreq_mhz_max"],
            "box.spin_s": spin_s,
        })

    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "cores": CORES,
        "repetitions": len(reps), "traced_repetitions": sum(r.traced for r in reps),
        "wave_samples": len(steps), "wave_p50_s": statistics.median(steps) if steps else None,
        "spin_s": spin_s, "session_s": session, "setup_passes_s": passes, "warmup_s": warmup,
        "setup_wall_s": setup_wall, "peak_rss_mb": peak_rss,
        "crawl_s_each": [round(r.crawl_s, 4) for r in reps],
        "cpu_s_each": [round(r.cpu_s, 2) for r in reps],
        "run_wall_s": time.perf_counter() - t0[0],
        "problems": [p for r in reps for p in r.problems][:5],
        "box": {"before": box_before, "after": box_after},
    }))
    print(json.dumps(summarize(reps, setup_cpu, bool(args.trace), extra)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
