"""SparkSession factory tuned for the crawl workload.

Scale posture (targets a 1000-executor cluster; tests run on local[4]):
- AQE on: runtime coalescing of the per-wave shuffles + skew-join splitting
  (crawl link graphs are power-law; host partitions skew).
- Arrow on: every Python-side stage is an Arrow batch, never per-row.
- shuffle.partitions kept modest locally; on a real cluster this comes from
  the submit conf, the code never hard-codes partition counts into plans.
- Generated code is compiled once per crawl, not once per wave
  (CODEGEN_CONF):
  - `spark.sql.codegen.useIdInClassName=false`. Whole-stage codegen names
    each class after its codegen stage id (GeneratedIteratorForCodegenStageN),
    and the codegen cache is keyed by the generated source, name included.
    The dedup join's seen side is a union that gains one child per wave,
    which shifts the stage id of every later pipeline, so otherwise
    identical pipelines missed the cache on every wave. On a 16-level
    robots + politeness + store crawl each wave compiled 13-56 new classes
    (452 in all) and a second identical crawl 417; without the id, waves
    >= 3 compile none and a second identical crawl compiles none.
  - `spark.sql.codegen.cache.maxEntries=1000` (default 100). Without the
    id a crawl's working set is ~110 classes (frontier_bench polite_deep)
    and ~98 (ingest_dfs); an LRU cycled past its capacity misses every
    time, so a process running more than one crawl recompiled each one.
    The cache is JVM-wide and the setting is static: it must be set before
    the session starts.
  A caller that brings its own SparkSession should set both.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

# Applied by get_spark and by tools/run_crawl.py, which makes its own session.
CODEGEN_CONF = {
    "spark.sql.codegen.useIdInClassName": "false",
    "spark.sql.codegen.cache.maxEntries": "1000",
}


def get_spark(
    app_name: str = "xidel_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # session-wide SMJ→SHJ conversion was tried and REVERTED (r6): the
        # AQE threshold at 128 MB OOMed 32 concurrent hash builds in the
        # 8 GB local JVM on the 20M-row anti-join, and at 64 MB the full
        # bench still ran ~15% slower overall despite a faster anti-join
        # leg (compressed-shuffle-size thresholds understate in-memory
        # build cost ~5-8×, and SMJ spills gracefully where SHJ cannot).
        # Shuffled-hash joins are instead applied as bounded per-join
        # hints inside the wave loops (crawler/engine), where the wave
        # sizing caps the build side.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # 8g measured FASTER than 24g end-to-end on the full bench (112.8
        # vs 130.5 s, r6): the larger heap's GC ergonomics cost more than
        # the extra headroom buys on this DRAM-bound box. Env-overridable.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config(map=CODEGEN_CONF)
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/xidel_spark_warehouse"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
