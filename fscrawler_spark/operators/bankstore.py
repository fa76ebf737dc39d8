"""Storage-resident prefilter bank — the one home of the seen-set
prefilter (operators/dedup.py anti_join_seen's tier 1).

At 10^10 seen URLs a 1%-FPP bloom bank is ~12 GB: it neither fits on
the driver nor should transit it every wave.  StoredBank keeps the
bank in a parquet table of shard blobs inside the checkpoint directory:

  {path}/v{K}/          parquet (shard int, payload binary) — one
                        bloom bit array per shard
  {path}/meta.json      kind ("bloom") + geometry + shard->version
                        manifest + crawl bookkeeping (n_added,
                        merged_upto)

and every operation is an executor-side Spark job over that table:

  build       hash shards -> mapInPandas builds each shard's
              dedup.NumpyBloom locally -> .write.parquet(v0).  No
              collect — payload bytes go executor -> storage, never
              through the driver.
  merge_delta the wave's seen-delta hashes COGROUP the bank scan
              FILTERED to the delta's touched shards; updated blobs
              land in a new version dir.  Job input ~ O(|delta| +
              touched shard blobs); untouched shards keep their old
              file (manifest pointer unchanged) — nothing is copied.
  probe       dedup.cogroup_probe fed by the bank-table scan: filter
              bytes flow storage -> executors.
  compact     rewrites the latest blobs into one version dir when the
              manifest spans too many (merge-on-read -> snapshot, the
              same model as the delta frontier checkpoint).

The driver holds ONLY meta.json content: geometry ints and a
shard->version dict (O(n_shards) ints) — never a payload byte.

Crash-consistency: meta.json is written atomically (tmp + rename)
AFTER each version dir, and records `merged_upto` = the last wave
whose seen-delta is merged in; a resume reopens the bank instead of
rebuilding it and replays the committed seen-deltas it missed
(wave_loop.py), so the bank lags the exact seen table by at most one
recoverable step.  Reference parity: this is the durable analog of the
reference's in-memory processed-paths set + DB probe
(app/crawler/file_system_crawler.py:70,412-415).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fscrawler_spark.operators.dedup import NumpyBloom, _hash_cols, cogroup_probe

BANK_SCHEMA = "shard int, payload binary"


def _atomic_json(path: str, obj: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


class StoredBank:
    """Handle over the parquet bank table.  Holds meta only — no
    payload bytes ever live in this object or the driver."""

    def __init__(self, path: str, meta: dict):
        self.path = path
        # always "bloom" when written by this module; a reader must
        # treat a bank of any other kind as absent
        self.kind = meta["kind"]
        self.n_shards = int(meta["n_shards"])
        self.n_bits = int(meta.get("n_bits") or 0)
        self.n_hashes = int(meta.get("n_hashes") or 0)
        self.capacity_items = int(meta["capacity_items"])
        self.n_added = int(meta.get("n_added", 0))
        # shard -> version dir index holding that shard's LATEST blob
        self.shard_versions: dict[int, int] = {
            int(k): int(v) for k, v in meta.get("shard_versions", {}).items()
        }
        self.next_version = int(meta.get("next_version", 1))
        self.merged_upto = int(meta.get("merged_upto", -1))
        # manifest spanning more live versions than this triggers an
        # auto-compaction on the next merge (bounds read fan-out)
        self.compact_span = int(meta.get("compact_span", 12))

    # -- persistence -------------------------------------------------------
    def _meta_path(self) -> str:
        return os.path.join(self.path, "meta.json")

    def _vdir(self, v: int) -> str:
        return os.path.join(self.path, f"v{v}")

    def save(self) -> None:
        _atomic_json(
            self._meta_path(),
            {
                "kind": self.kind,
                "n_shards": self.n_shards,
                "n_bits": self.n_bits,
                "n_hashes": self.n_hashes,
                "capacity_items": self.capacity_items,
                "n_added": self.n_added,
                "shard_versions": {str(k): v for k, v in self.shard_versions.items()},
                "next_version": self.next_version,
                "merged_upto": self.merged_upto,
                "compact_span": self.compact_span,
            },
        )

    @classmethod
    def open(cls, path: str) -> "StoredBank":
        with open(os.path.join(path, "meta.json")) as fh:
            return cls(path, json.load(fh))

    @classmethod
    def exists(cls, path: str) -> bool:
        return os.path.isfile(os.path.join(path, "meta.json"))

    def total_bytes(self) -> int:
        """Payload bytes on storage (live versions only) — file sizes,
        no payload read."""
        live = set(self.shard_versions.values())
        total = 0
        for v in live:
            d = self._vdir(v)
            if os.path.isdir(d):
                total += sum(
                    os.path.getsize(os.path.join(d, f))
                    for f in os.listdir(d)
                    if f.endswith(".parquet")
                )
        return total

    # -- build -------------------------------------------------------------
    @classmethod
    def build(
        cls,
        df: DataFrame,
        col: str,
        path: str,
        n_items: int = 1,
        fpp: float = 0.01,
        n_shards: int | None = None,
    ) -> "StoredBank":
        """Distributed build straight to storage: hash shards ->
        mapInPandas builds each shard's bloom locally -> parquet v0.
        The only driver materialization is the shard-id manifest
        read-back — payload column pruned by Catalyst."""
        spark = df.sparkSession
        if n_shards is None:
            n_shards = max(1, spark.sparkContext.defaultParallelism)
        proto = NumpyBloom.sized_for(max(64, int(n_items / n_shards * 1.25)), fpp)
        n_bits, n_hashes = proto.n_bits, proto.n_hashes

        shutil.rmtree(path, ignore_errors=True)  # stale versions from a prior bank
        os.makedirs(path, exist_ok=True)

        hashed = _hash_cols(df, col).withColumn(
            "_s", F.pmod(F.col("_h1"), F.lit(n_shards)).cast("int")
        )
        parted = hashed.repartition(n_shards, "_s")

        def build_shards(batches):
            acc: dict[int, list[pd.DataFrame]] = {}
            for pdf in batches:
                for s, grp in pdf.groupby("_s"):
                    acc.setdefault(int(s), []).append(grp)
            rows = []
            for s, chunks in acc.items():
                b = NumpyBloom(n_bits, n_hashes)
                b.add_hashes(
                    np.concatenate([c["_h1"].to_numpy(np.int64) for c in chunks]),
                    np.concatenate([c["_h2"].to_numpy(np.int64) for c in chunks]),
                )
                rows.append((s, b.bits.tobytes()))
            yield pd.DataFrame(rows, columns=["shard", "payload"])

        vdir = os.path.join(path, "v0")
        parted.mapInPandas(build_shards, BANK_SCHEMA).write.mode(
            "overwrite"
        ).parquet(vdir)
        # manifest read-back: shard ids only (payloads pruned)
        built = spark.read.parquet(vdir).select("shard").collect()
        bank = cls(
            path,
            {
                "kind": "bloom",
                "n_shards": n_shards,
                "n_bits": n_bits,
                "n_hashes": n_hashes,
                "capacity_items": n_items,
                "shard_versions": {str(int(r["shard"])): 0 for r in built},
            },
        )
        bank.save()
        return bank

    # -- read views --------------------------------------------------------
    def bank_df(
        self, spark: SparkSession, shards: "list[int] | None" = None
    ) -> DataFrame:
        """Latest blob per shard (optionally restricted to `shards`):
        per live version dir, scan it filtered to the shards whose
        manifest pointer is that version — the isin predicate pushes
        into the parquet scan, so a merge touching k shards reads ~k
        blobs, not the bank.  Only (shard, payload) is read, so a blob
        file carrying further columns reads the same."""
        byver: dict[int, list[int]] = {}
        want = None if shards is None else set(shards)
        for s, v in self.shard_versions.items():
            if want is None or s in want:
                byver.setdefault(v, []).append(s)
        parts = []
        for v, ss in sorted(byver.items()):
            parts.append(
                spark.read.parquet(self._vdir(v))
                .where(F.col("shard").isin(ss))
                .select("shard", "payload")
            )
        if not parts:
            return spark.createDataFrame([], BANK_SCHEMA)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # -- probe -------------------------------------------------------------
    def probe(self, candidates: DataFrame, url_col: str) -> DataFrame:
        """Tag candidates with _maybe_seen via the shard-routed cogroup
        against the bank-table scan; a shard with no blob row means no
        seen hash ever landed there -> definitely unseen (the cogroup's
        empty-right branch)."""
        return cogroup_probe(
            candidates,
            url_col,
            self.bank_df(candidates.sparkSession),
            n_shards=self.n_shards,
            n_bits=self.n_bits,
            n_hashes=self.n_hashes,
        )

    # -- incremental maintenance --------------------------------------------
    def merge_delta(
        self,
        delta: DataFrame,
        col: str,
        *,
        meta_updates: dict | None = None,
    ) -> None:
        """Insert `delta`'s urls: cogroup their hashes with ONLY the
        touched shards' blobs; write updated blobs to a new version
        dir; repoint the manifest.

        meta_updates (attrs like merged_upto/n_added) are applied in
        the SAME atomic meta.json write that repoints the payloads: a
        crash can never leave a bank whose blobs contain a delta its
        lineage does not claim, so a resume replays exactly the deltas
        the bank is missing."""
        spark = delta.sparkSession
        # persisted: the touched-shard collect below and the cogroup
        # write both consume it — without the cache the delta would be
        # scanned + hashed twice per wave (the hot incremental path)
        hashed = _hash_cols(delta, col).withColumn(
            "_s", F.pmod(F.col("_h1"), F.lit(self.n_shards)).cast("int")
        ).persist()
        # touched-shard ids: config-scale collect (<= n_shards ints) so
        # the bank side scans only those blobs
        touched = [
            int(r["_s"]) for r in hashed.select("_s").distinct().collect()
        ]
        if not touched:
            hashed.unpersist()
            if meta_updates:  # empty delta still advances the lineage
                self._apply_meta(meta_updates)
                self.save()
            return
        bank_side = self.bank_df(spark, shards=touched)
        n_bits, n_hashes = self.n_bits, self.n_hashes

        def fn(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            if left.empty:
                return pd.DataFrame(
                    {
                        "shard": pd.Series([], dtype="int32"),
                        "payload": pd.Series([], dtype=object),
                    }
                )
            bits = (
                None if right.empty
                else np.frombuffer(right.iloc[0]["payload"], np.uint64).copy()
            )
            b = NumpyBloom(n_bits, n_hashes, bits)
            b.add_hashes(
                left["_h1"].to_numpy(np.int64), left["_h2"].to_numpy(np.int64)
            )
            return pd.DataFrame(
                {"shard": [int(left["_s"].iloc[0])], "payload": [b.bits.tobytes()]}
            )

        v = self.next_version
        vdir = self._vdir(v)
        try:
            (
                hashed.groupBy("_s")
                .cogroup(bank_side.groupBy("shard"))
                .applyInPandas(fn, BANK_SCHEMA)
                .write.mode("overwrite")
                .parquet(vdir)
            )
        finally:
            hashed.unpersist()
        written = spark.read.parquet(vdir).select("shard").collect()
        for r in written:
            self.shard_versions[int(r["shard"])] = v
        self.next_version = v + 1
        if meta_updates:
            self._apply_meta(meta_updates)
        self.save()
        self._gc()
        if len(set(self.shard_versions.values())) > self.compact_span:
            self.compact(spark)

    def _apply_meta(self, updates: dict) -> None:
        for k, val in updates.items():
            if not hasattr(self, k):
                raise AttributeError(f"unknown bank meta field {k!r}")
            setattr(self, k, val)

    def _gc(self) -> None:
        """Drop version dirs no shard references anymore (a merge that
        repoints a dir's last shard fully supersedes it)."""
        live = {f"v{v}" for v in set(self.shard_versions.values())}
        for d in os.listdir(self.path):
            if d.startswith("v") and d not in live:
                shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)

    def compact(self, spark: SparkSession) -> None:
        """Rewrite every shard's latest blob into one snapshot version
        and drop superseded dirs — bounds bank_df's read fan-out the
        same way the frontier's compaction snapshots bound the delta
        replay."""
        v = self.next_version
        vdir = self._vdir(v)
        self.bank_df(spark).write.mode("overwrite").parquet(vdir)
        self.shard_versions = {s: v for s in self.shard_versions}
        self.next_version = v + 1
        self.save()
        self._gc()
