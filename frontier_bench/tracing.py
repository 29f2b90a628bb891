"""Spans and layer attribution for the traced run.

Spans are wall-clock intervals recorded in memory: the benchmark opens one
around each public call it makes, and, while tracing is installed, one
around every PySpark action (count, localCheckpoint, collect, parquet
write/read, ...). An action's layer comes from its Python call site: the
innermost `xidel_spark` frame that a rule below recognises, else the
innermost open layer span of the benchmark. The layer and the call site are
also set as the Spark job call site, so every job in Spark's status store
carries its layer; the per-job executor figures are summed by that name.

A span's self time is its duration minus the time its child spans cover.
Layer wall time is the sum of its spans' self time, so the layers and the
unattributed remainder add up to the traced crawl time.
"""

from __future__ import annotations

import functools
import linecache
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

LAYERS = (
    "crawler.wave",
    "robots",
    "politeness",
    "store.commit",
    "store.load",
    "bloom.build",
    "bloom.probe",
    "extract",
    "urlnorm",
    "engine.relax",
    "engine.order",
)
SPAN_METRICS = {
    "wall_s": ("s", "lower"),
    "exec_s": ("s", "lower"),
    "driver_s": ("s", "lower"),
    "shuffle_bytes": ("bytes", "lower"),
    "spill_bytes": ("bytes", "lower"),
    "task_skew": ("ratio", "lower"),
}
UNATTRIBUTED = "unattributed"

# (path fragment, functions or None for any, call-text token or None, layer);
# the first rule that matches a frame decides it, and frames no rule matches
# (util.checkpoint_reset_stats, for one) defer to their caller.
_RULES = (
    ("/crawl/bloom.py", ("split_candidates", "flag_candidates"), None, "bloom.probe"),
    ("/crawl/bloom.py", None, None, "bloom.build"),
    ("/crawl/checkpoint.py", ("commit",), None, "store.commit"),
    ("/crawl/checkpoint.py", None, None, "store.load"),
    ("/crawl/robots.py", None, None, "robots"),
    ("/crawl/crawler.py", ("_filter_robots",), None, "robots"),
    ("/crawl/politeness.py", None, None, "politeness"),
    ("/crawl/crawler.py", None, "watermark", "politeness"),
    ("/crawl/crawler.py", None, "snap.", "store.load"),
    ("/crawl/crawler.py", None, None, "crawler.wave"),
    ("/xidel_spark/util.py", ("total_order",), None, "engine.order"),
    ("/crawl/engine.py", ("_with_order",), None, "engine.order"),
    ("/crawl/engine.py", None, None, "engine.relax"),
    ("/xidel_spark/extract/", None, None, "extract"),
    ("/xidel_spark/urlnorm.py", None, None, "urlnorm"),
)


def _call_text(frame) -> str:
    """Source of the call expression the frame is executing (all its lines)."""
    pos = list(frame.f_code.co_positions())[frame.f_lasti // 2]
    lo = pos[0] or frame.f_lineno
    hi = pos[1] or lo
    return "".join(linecache.getline(frame.f_code.co_filename, i) for i in range(lo, hi + 1))


def classify(frame) -> tuple[str | None, str]:
    """(layer or None, 'file:line' of the innermost caller outside pyspark)."""
    site = None
    while frame is not None:
        path = frame.f_code.co_filename.replace("\\", "/")
        if "/pyspark/" not in path and "/py4j/" not in path:
            if site is None:
                site = f"{path.rsplit('/', 1)[-1]}:{frame.f_lineno}"
            if "/xidel_spark/" in path:
                text = None
                for frag, funcs, token, layer in _RULES:
                    if frag not in path or (funcs and frame.f_code.co_name not in funcs):
                        continue
                    if token is not None:
                        text = _call_text(frame) if text is None else text
                        if token not in text:
                            continue
                    return layer, site
        frame = frame.f_back
    return None, site or "?"


@dataclass
class Span:
    name: str
    parent: int | None
    t0: float
    t1: float = 0.0


@dataclass
class Tracer:
    """Records spans when `enabled`; a disabled tracer only times nothing."""

    sc: object = None
    enabled: bool = False
    spans: list = field(default_factory=list)
    _open: list = field(default_factory=list)
    _patched: list = field(default_factory=list)
    _in_action: bool = False

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        self.spans.append(Span(name, self._open[-1] if self._open else None, time.perf_counter()))
        i = len(self.spans) - 1
        self._open.append(i)
        try:
            yield
        finally:
            self._open.pop()
            self.spans[i].t1 = time.perf_counter()

    def _current_layer(self) -> str:
        for i in reversed(self._open):
            if self.spans[i].name in LAYERS:
                return self.spans[i].name
        return UNATTRIBUTED

    def _wrap(self, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(obj, *args, **kwargs):
            if tracer._in_action:
                return fn(obj, *args, **kwargs)
            layer, site = classify(sys._getframe(1))
            layer = layer or tracer._current_layer()
            tracer._in_action = True
            tracer.sc.setLocalProperty("callSite.short", f"{layer} {fn.__name__} at {site}")
            try:
                with tracer.span(layer):
                    return fn(obj, *args, **kwargs)
            finally:
                tracer.sc.setLocalProperty("callSite.short", None)
                tracer._in_action = False

        return traced

    def install(self) -> None:
        """Wrap the PySpark entry points that run jobs."""
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

        targets = {
            DataFrame: ("count", "collect", "localCheckpoint", "checkpoint", "toPandas",
                        "toLocalIterator", "isEmpty", "tail", "foreach", "foreachPartition"),
            DataFrameWriter: ("save", "parquet", "json", "csv", "orc", "text", "saveAsTable",
                              "insertInto"),
            DataFrameReader: ("parquet", "load", "json", "csv", "orc", "table"),
        }
        self.enabled = True
        for cls, names in targets.items():
            for name in names:
                own = cls.__dict__.get(name)
                self._patched.append((cls, name, own))
                setattr(cls, name, self._wrap(getattr(cls, name)))

    def uninstall(self) -> None:
        for cls, name, own in reversed(self._patched):
            if own is None:
                delattr(cls, name)
            else:
                setattr(cls, name, own)
        self._patched.clear()
        self.enabled = False

    def self_times(self) -> dict[str, float]:
        """Self time per span name."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.t1 - s.t0
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            out[s.name] = out.get(s.name, 0.0) + (s.t1 - s.t0) - c
        return out


def active_waves(spans: list[Span], layer_prefix: str) -> int:
    """Waves in which a layer ran: `crawler.wave` action spans (each wave
    ends in one) preceded by a span of the layer since the previous one."""
    count, pending = 0, False
    for s in sorted(spans, key=lambda s: s.t0):
        if s.name.startswith(layer_prefix):
            pending = True
        elif s.name == "crawler.wave" and pending:
            count, pending = count + 1, False
    return count


def _json(sc, obj) -> list:
    """A JVM status-store object serialised by Jackson (one py4j round trip)."""
    import json

    jvm = sc._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala, "MODULE$"))
    return json.loads(mapper.writeValueAsString(obj))


def next_job_id(sc) -> int:
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return max(sc.statusTracker().getJobIdsForGroup(), default=-1) + 1


def status_store_since(sc, first_job: int) -> tuple[list[dict], dict[int, dict]]:
    """Jobs with id >= first_job and their executed stages, with per-stage
    median and max task run time, from Spark's status store."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = [j for j in _json(sc, store.jobsList(None)) if j["jobId"] >= first_job]
    quantiles = sc._gateway.new_array(sc._jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    wanted = {sid for j in jobs for sid in j["stageIds"]}
    stages = {
        st["stageId"]: st
        for st in _json(sc, store.stageList(None, False, True, quantiles, None))
        if st["stageId"] in wanted and st["status"] != "SKIPPED"
    }
    return jobs, stages


def layer_metrics(tracer: Tracer, jobs: list[dict], stages: dict[int, dict], cores: int, root: str) -> dict[str, float]:
    """Per-layer figures of one traced repetition, plus the remainder of the
    root span that no layer covers."""
    selft = tracer.self_times()
    root_s = sum(s.t1 - s.t0 for s in tracer.spans if s.name == root)
    acc = {layer: {"exec_ms": 0.0, "shuffle": 0.0, "spill": 0.0, "skew_w": 0.0, "skew_ms": 0.0} for layer in LAYERS}
    claimed: set[int] = set()
    for job in jobs:
        layer = (job.get("name") or "").split(" ", 1)[0]
        if layer not in acc:
            continue
        a = acc[layer]
        for sid in job["stageIds"]:
            st = stages.get(sid)
            if st is None or sid in claimed:
                continue
            claimed.add(sid)
            a["exec_ms"] += st["executorRunTime"]
            a["shuffle"] += st["shuffleReadBytes"] + st["shuffleWriteBytes"]
            a["spill"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
            dist = st.get("taskMetricsDistributions") or {}
            q = dist.get("executorRunTime") or []
            if st["numTasks"] >= 2 and len(q) == 2:
                a["skew_w"] += st["executorRunTime"] * q[1] / max(q[0], 1.0)
                a["skew_ms"] += st["executorRunTime"]
    out: dict[str, float] = {}
    covered = 0.0
    for layer in LAYERS:
        a = acc[layer]
        wall = selft.get(layer, 0.0)
        covered += wall
        exec_s = a["exec_ms"] / 1000.0
        out[f"{layer}.wall_s"] = wall
        out[f"{layer}.exec_s"] = exec_s
        out[f"{layer}.driver_s"] = wall - exec_s / cores
        out[f"{layer}.shuffle_bytes"] = a["shuffle"]
        out[f"{layer}.spill_bytes"] = a["spill"]
        out[f"{layer}.task_skew"] = a["skew_w"] / a["skew_ms"] if a["skew_ms"] else 0.0
    out["trace.unattributed_s"] = root_s - covered
    return out


def median_dict(rows: list[dict]) -> dict[str, float]:
    keys = rows[0].keys() if rows else ()
    return {k: statistics.median(r[k] for r in rows) for k in keys}
