"""Snapshot checkpoint store: frontier increments + lineage per wave.

North-rule requirement: checkpoint frontier and seen-filter state each wave
so a killed crawl resumes exactly, with per-partition lineage and
fetch/dedup metrics.

This is an Iceberg-snapshot-shaped store implemented on plain parquet +
atomic JSON manifests (the sandbox has no Iceberg runtime jar). The layout
and commit protocol mirror Iceberg's semantics so the backend swaps for a
real catalog on a cluster (`CrawlStateStore` is the only seam):

    root/
      manifests/wave-<n>.json    -- atomic rename commit; highest n wins
      wave=<n>/frontier/*.parquet   -- the wave's NEW urls (seen increment)

Commits are APPEND-ONLY: each wave writes only its frontier increment; the
seen set is the union of all committed increments (what Iceberg appends +
snapshot manifests give for free). A manifest records the wave's row count
(the crawler's `enqueued`, known without a count job), per-partition file
lineage and the wave's dedup metrics. An interrupted wave (data written,
manifest missing) is invisible on load — snapshot isolation. A commit
runs one Spark action (the parquet write); `load` reads each manifest and
each increment once, and the crawler derives its frontier, seen set,
visited set and politeness watermark from that one list of increments.
"""

from __future__ import annotations

import json
import os
import tempfile
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Snapshot:
    wave: int                    # latest committed wave
    increments: list[DataFrame]  # every committed wave's frontier, in wave order
    metrics: list[dict]          # every committed wave's metrics, in wave order


class CrawlStateStore:
    def __init__(self, root: str):
        self.root = Path(root)
        (self.root / "manifests").mkdir(parents=True, exist_ok=True)

    def _wave_dir(self, wave: int) -> Path:
        return self.root / f"wave={wave}"

    def commit(self, wave: int, frontier: DataFrame, metrics: dict) -> dict:
        wd = self._wave_dir(wave)
        frontier.write.mode("overwrite").parquet(str(wd / "frontier"))
        lineage = {
            "frontier_files": sorted(p.name for p in (wd / "frontier").glob("*.parquet")),
        }
        manifest = {
            "wave": wave,
            "metrics": metrics,
            "lineage": lineage,
            "frontier_rows": metrics["enqueued"],
        }
        # atomic commit: write-then-rename; readers never see a partial wave
        fd, tmp = tempfile.mkstemp(dir=self.root / "manifests", suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self.root / "manifests" / f"wave-{wave}.json")
        return manifest

    def latest(self) -> int | None:
        waves = [
            int(p.stem.split("-")[1])
            for p in (self.root / "manifests").glob("wave-*.json")
        ]
        return max(waves) if waves else None

    def load(self, spark: SparkSession) -> Snapshot | None:
        manifests = self.manifests()
        if not manifests:
            return None
        wave = manifests[-1]["wave"]
        return Snapshot(
            wave=wave,
            increments=self.increments(spark, wave),
            metrics=[m["metrics"] for m in manifests],
        )

    def increments(self, spark: SparkSession, wave: int | None = None) -> list[DataFrame]:
        """Full-column frontier increments of waves 0..`wave` (default: the
        latest committed), in wave order — one parquet read each."""
        wave = self.latest() if wave is None else wave
        if wave is None:
            return []
        return [
            spark.read.parquet(str(self._wave_dir(w) / "frontier"))
            for w in range(wave + 1)
        ]

    def manifests(self) -> list[dict]:
        out = []
        for p in sorted((self.root / "manifests").glob("wave-*.json")):
            with open(p) as f:
                out.append(json.load(f))
        return sorted(out, key=lambda m: m["wave"])
