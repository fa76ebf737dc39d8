"""Checkpoint store — per-wave atomic commit + resume (SURVEY §7.4).

Contract (Iceberg-shaped, Parquet-directory implementation since the
sandbox ships no Iceberg runtime jars):

  {root}/results/wave=K/   — extracted rows appended by wave K
  {root}/seen/wave=K/      — URLs first examined in wave K (append-only)
  {root}/frontier/wave=K/  — the full pending frontier AFTER wave K
  {root}/metrics/wave=K/   — counter rows for wave K
  {root}/_commits/wave_K.json — commit marker, written LAST

A wave is all-or-nothing: readers only trust directories whose marker
exists, so a run killed mid-wave resumes from the last marker — the
wave boundary is the only commit point, and replaying a wave is
idempotent because wave membership is deterministic (the analog of the
reference's upsert idempotence, app/database/data_manager.py:400-411).
On Iceberg this maps 1:1 to one snapshot per wave with the same
wave partition column; MERGE INTO replaces the directory append.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

# Parquet codec for the per-wave data writes.  Checkpoints are
# write-once/read-next-wave, so cheap-and-fast beats dense: lz4_raw cuts
# encode CPU vs snappy at slightly larger files, and unlike Spark's
# hadoop-framed "lz4" it is the parquet-standard frame DuckDB/Arrow read.
CHECKPOINT_CODEC = "lz4_raw"


@dataclass
class CheckpointStore:
    root: str

    def _dir(self, table: str, wave: int) -> str:
        return os.path.join(self.root, table, f"wave={wave}")

    def _marker(self, wave: int) -> str:
        return os.path.join(self.root, "_commits", f"wave_{wave}.json")

    def write_wave_data(
        self,
        wave: int,
        *,
        results: DataFrame,
        seen_delta: DataFrame,
        frontier: DataFrame,
        frontier_kind: str = "full",
    ) -> dict[str, float | str]:
        """Write the wave's three data tables concurrently (independent
        Spark jobs).  The wave loop hands in frames built on its
        checkpointed leaves, so each write scans those leaves and runs
        only its own projection, union or merge on top — no upstream
        stage is shared or recomputed.  Returns per-write wall seconds.
        NOT a commit — commit_wave() writes the marker.

        frontier_kind: "full" writes the complete pending frontier to
        frontier/wave=K (read back directly); "delta" writes only the
        wave's newly-discovered children to frontier_delta/wave=K —
        the Iceberg merge-on-read layout; readers reconstruct via the
        wave loop's replay (last full snapshot + deltas + seen)."""
        import time as _time
        from concurrent.futures import ThreadPoolExecutor

        # values are per-write seconds plus the frontier_kind tag — a
        # numeric aggregation must filter to float values (r03 advisory)
        timings: dict[str, float | str] = {}
        fdir = "frontier" if frontier_kind == "full" else "frontier_delta"

        def _write(name_df):
            name, df = name_df
            t0 = _time.time()
            df.write.mode("overwrite").option(
                "compression", CHECKPOINT_CODEC
            ).parquet(self._dir(name, wave))
            return f"write_{name}", round(_time.time() - t0, 3)

        with ThreadPoolExecutor(max_workers=3) as pool:
            for key, secs in pool.map(
                _write,
                [("results", results), ("seen", seen_delta), (fdir, frontier)],
            ):
                timings[key.replace("frontier_delta", "frontier")] = secs
        timings["frontier_kind"] = frontier_kind
        return timings

    def commit_wave(
        self,
        wave: int,
        metrics_rows: list[tuple],
        stats: dict | None = None,
        lineage_rows: list[tuple] | None = None,
    ) -> None:
        """Write the metrics table and per-partition lineage counters
        (driver-side rows -> pyarrow, no Spark job) and then the commit
        marker — strictly LAST, so readers never see a partially written
        wave."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        mdir = self._dir("metrics", wave)
        os.makedirs(mdir, exist_ok=True)
        table = pa.Table.from_pydict(
            {
                "wave": pa.array([r[0] for r in metrics_rows], pa.int32()),
                "metric": pa.array([r[1] for r in metrics_rows], pa.string()),
                "value": pa.array([r[2] for r in metrics_rows], pa.int64()),
            }
        )
        pq.write_table(table, os.path.join(mdir, "part-0.parquet"))
        if lineage_rows is not None:
            ldir = self._dir("lineage", wave)
            os.makedirs(ldir, exist_ok=True)
            ltable = pa.Table.from_pydict(
                {
                    "wave": pa.array([r[0] for r in lineage_rows], pa.int32()),
                    "partition_id": pa.array([r[1] for r in lineage_rows], pa.int32()),
                    "rows": pa.array([r[2] for r in lineage_rows], pa.int64()),
                    "bytes": pa.array([r[3] for r in lineage_rows], pa.int64()),
                }
            )
            pq.write_table(ltable, os.path.join(ldir, "part-0.parquet"))
        os.makedirs(os.path.join(self.root, "_commits"), exist_ok=True)
        tmp = self._marker(wave) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"wave": wave, "stats": stats or {}}, fh)
        os.replace(tmp, self._marker(wave))  # atomic rename = commit

    def committed_waves(self) -> list[int]:
        d = os.path.join(self.root, "_commits")
        if not os.path.isdir(d):
            return []
        waves = []
        for name in os.listdir(d):
            if name.startswith("wave_") and name.endswith(".json"):
                waves.append(int(name[5:-5]))
        return sorted(waves)

    def last_wave(self) -> int | None:
        waves = self.committed_waves()
        return waves[-1] if waves else None

    def _read_committed(
        self, spark: SparkSession, table: str, upto: int | None = None
    ) -> DataFrame | None:
        waves = self.committed_waves()
        if upto is not None:
            waves = [w for w in waves if w <= upto]
        paths = [self._dir(table, w) for w in waves if os.path.isdir(self._dir(table, w))]
        paths = [p for p in paths if any(f.endswith(".parquet") for f in os.listdir(p))]
        if not paths:
            return None
        return spark.read.parquet(*paths)

    def read_results(self, spark: SparkSession) -> DataFrame | None:
        return self._read_committed(spark, "results")

    def read_seen(
        self, spark: SparkSession, upto: int | None = None
    ) -> DataFrame | None:
        """Committed seen deltas; upto=w restricts to waves <= w — the
        'seen as of wave w+1' view the delta-frontier replay needs."""
        return self._read_committed(spark, "seen", upto=upto)

    def read_metrics(self, spark: SparkSession) -> DataFrame | None:
        return self._read_committed(spark, "metrics")

    def read_lineage(self, spark: SparkSession) -> DataFrame | None:
        """Per-(wave, partition) extracted-row/byte counters — the
        lineage the north rule's resumable checkpoints carry."""
        return self._read_committed(spark, "lineage")

    def read_frontier(self, spark: SparkSession, wave: int) -> DataFrame:
        return spark.read.parquet(self._dir("frontier", wave))

    def has_full_frontier(self, wave: int) -> bool:
        d = self._dir("frontier", wave)
        return os.path.isdir(d) and any(
            f.endswith(".parquet") for f in os.listdir(d)
        )

    def read_frontier_delta(self, spark: SparkSession, wave: int) -> DataFrame:
        """The children discovered in exactly wave `wave` (delta-mode
        frontier checkpoint; see write_wave_data)."""
        return spark.read.parquet(self._dir("frontier_delta", wave))

    def read_seen_delta(self, spark: SparkSession, wave: int) -> DataFrame:
        """URLs first examined in exactly wave `wave` — the unit of the
        prefilter's incremental maintenance (delta merge / cohort age-out)."""
        return spark.read.parquet(self._dir("seen", wave))
