"""Storage-resident prefilter bank — the one home of the seen-set
prefilter (operators/dedup.py anti_join_seen's tier 1).

At 10^10 seen URLs a 1%-FPP bloom bank is ~12 GB: it neither fits on
the driver nor should transit it every wave.  StoredBank keeps the
bank in a parquet table of shard blobs inside the checkpoint directory:

  {path}/v{version}/    parquet (shard int, payload binary) — one
                        bloom bit array per shard; the ONE live version
  {path}/meta.json      kind ("bloom") + geometry + the live version +
                        crawl bookkeeping (n_added, merged_upto)

and every operation is an executor-side Spark job over that table:

  build       hash shards -> mapInPandas builds each shard's
              dedup.NumpyBloom locally -> .write.parquet(v0).  No
              collect — payload bytes go executor -> storage, never
              through the driver.
  merge_delta the wave's seen-delta hashes COGROUP the whole live
              version; a shard with delta rows ORs them into its blob,
              a shard without passes its blob through unchanged, and
              the result is the next version dir.  It rewrites every
              shard: there are defaultParallelism shards, so a wave
              delta of more than a few times that many URLs touches
              all of them anyway (at 10^10 URLs every wave's delta
              does); only a tail wave with fewer URLs than shards
              copies blobs it did not change.
  probe       dedup.cogroup_probe fed by the bank-table scan: filter
              bytes flow storage -> executors.

The driver holds ONLY meta.json content (geometry and bookkeeping
ints) — never a payload byte.

Crash-consistency: a merge writes v{version+1} in full, THEN saves
meta.json atomically (tmp + rename) with the new version and the crawl
lineage together, THEN deletes every other version dir — a crash at
any point leaves meta.json naming a complete version.  `merged_upto`
is the last wave whose seen-delta is merged in; a resume reopens the
bank instead of rebuilding it and replays the committed seen-deltas it
missed (wave_loop.py), so the bank lags the exact seen table by at
most one recoverable step.  Reference parity: this is the durable
analog of the reference's in-memory processed-paths set + DB probe
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
        # the live payload dir v{version}; None for a meta.json of an
        # older layout (a per-shard version manifest), which a reader
        # must treat as absent like a bank of another kind
        self.version: int | None = meta.get("version")
        self.merged_upto = int(meta.get("merged_upto", -1))

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
                "version": self.version,
                "merged_upto": self.merged_upto,
            },
        )

    @classmethod
    def open(cls, path: str) -> "StoredBank":
        with open(os.path.join(path, "meta.json")) as fh:
            return cls(path, json.load(fh))

    @classmethod
    def exists(cls, path: str) -> bool:
        return os.path.isfile(os.path.join(path, "meta.json"))

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
        A shard no row hashed to gets no blob row; the probe answers
        it definitely-unseen."""
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

        bank = cls(
            path,
            {
                "kind": "bloom",
                "n_shards": n_shards,
                "n_bits": n_bits,
                "n_hashes": n_hashes,
                "capacity_items": n_items,
                "version": 0,
            },
        )
        parted.mapInPandas(build_shards, BANK_SCHEMA).write.mode(
            "overwrite"
        ).parquet(bank._vdir(0))
        bank.save()
        return bank

    # -- read views --------------------------------------------------------
    def bank_df(self, spark: SparkSession) -> DataFrame:
        """The live version's blobs, one row per populated shard.  Only
        (shard, payload) is read, so a blob file carrying further
        columns reads the same."""
        return spark.read.parquet(self._vdir(self.version)).select(
            "shard", "payload"
        )

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
        """Insert `delta`'s urls: cogroup their hashes with the live
        version's blobs and write every shard to the next version dir
        (a shard without delta rows passes its blob through), then
        switch meta.json to it and delete every other version dir.

        meta_updates (attrs like merged_upto/n_added) are applied in
        the SAME atomic meta.json write that switches the version: a
        crash can never leave a bank whose blobs contain a delta its
        lineage does not claim, so a resume replays exactly the deltas
        the bank is missing.  An empty delta rewrites the blobs as
        they are and still advances the lineage."""
        hashed = _hash_cols(delta, col).withColumn(
            "_s", F.pmod(F.col("_h1"), F.lit(self.n_shards)).cast("int")
        )
        n_bits, n_hashes = self.n_bits, self.n_hashes

        def fn(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            if left.empty:  # no delta rows: the blob passes through
                return right
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

        nxt = self.version + 1
        (
            hashed.groupBy("_s")
            .cogroup(self.bank_df(delta.sparkSession).groupBy("shard"))
            .applyInPandas(fn, BANK_SCHEMA)
            .write.mode("overwrite")
            .parquet(self._vdir(nxt))
        )
        self.version = nxt
        if meta_updates:
            self._apply_meta(meta_updates)
        self.save()
        live = f"v{nxt}"
        for d in os.listdir(self.path):
            if d.startswith("v") and d != live:
                shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)

    def _apply_meta(self, updates: dict) -> None:
        for k, val in updates.items():
            if not hasattr(self, k):
                raise AttributeError(f"unknown bank meta field {k!r}")
            setattr(self, k, val)
