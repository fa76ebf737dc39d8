"""Seen-set dedup (J2) — exact anti-join anchored, prefilter-accelerated.

The reference keeps an in-memory processed-paths set + a DB point probe
(app/crawler/file_system_crawler.py:70,412-415;
app/crawling_queue_consumer.py:111-115; app/database/data_manager.py:85-87).
At 10^10 URLs neither fits one machine, so the contract is two tiers:

  tier 1 — a sharded bloom **prefilter** tags each candidate as
           definitely-unseen or possibly-seen.  The bank lives in a parquet table of per-shard blobs
           (operators/bankstore.StoredBank); the probe is a cogroup
           that ships each task only its own shard (cogroup_probe).
  tier 2 — exact **left_anti join** against the `seen` table for the
           possibly-seen minority.  The prefilter is only ever a
           pre-filter: its false positives fall through to the exact
           join and are resolved there, never dropped (SURVEY §7.4 —
           FP => candidate wrongly dropped is the failure mode this
           two-tier split prevents).  A URL aged out of `seen` by a
           re-crawl horizon is just such a stale positive until the
           next bank rebuild drops it.

The definitely-unseen majority skips the exact join entirely — the warm
re-run speedup the reference reports (156x, README.md:111-115)
becomes "anti-join input shrinks to the filter-positive fraction".

This module holds the shard kernel (NumpyBloom), the routed probe
plan and the exact tier; bankstore.py owns the bank's storage (one
live version of shard blobs), its build and the per-wave delta merge
that writes the next version.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

if TYPE_CHECKING:
    from fscrawler_spark.operators.bankstore import StoredBank


class NumpyBloom:
    """Double-hashing Bloom filter over (xxhash64, murmur3) column pairs.

    Position i = (h1 + i*h2) mod m — Kirsch-Mitzenmacher double hashing,
    k probes from two base hashes, both computed JVM-side (F.xxhash64 /
    F.hash), so Python only ever sees int64 arrays, never URLs.
    """

    def __init__(self, n_bits: int, n_hashes: int, bits: np.ndarray | None = None):
        self.n_bits = int(n_bits)
        self.n_hashes = int(n_hashes)
        self.bits = bits if bits is not None else np.zeros(
            (self.n_bits + 63) // 64, dtype=np.uint64
        )

    @classmethod
    def sized_for(cls, n_items: int, fpp: float = 0.01) -> "NumpyBloom":
        n_items = max(n_items, 1)
        m = int(-n_items * np.log(fpp) / (np.log(2) ** 2)) + 64
        k = max(1, int(round(m / n_items * np.log(2))))
        return cls(m, min(k, 8))

    def _positions(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        # (n, k) probe positions; uint64 arithmetic wraps (mod 2^64) then mod m.
        i = np.arange(self.n_hashes, dtype=np.uint64)
        return (
            h1.astype(np.uint64)[:, None] + i[None, :] * h2.astype(np.uint64)[:, None]
        ) % np.uint64(self.n_bits)

    def add_hashes(self, h1: np.ndarray, h2: np.ndarray) -> None:
        pos = self._positions(h1, h2).ravel()
        np.bitwise_or.at(self.bits, (pos // 64).astype(np.int64), np.uint64(1) << (pos % 64))

    def might_contain(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        pos = self._positions(h1, h2)
        probe = (self.bits[(pos // 64).astype(np.int64)] >> (pos % 64)) & np.uint64(1)
        return probe.all(axis=1)


def _hash_cols(df: DataFrame, col: str) -> DataFrame:
    return df.select(
        F.xxhash64(F.col(col)).alias("_h1"), F.hash(F.col(col)).cast("long").alias("_h2")
    )

def cogroup_probe(
    candidates: DataFrame,
    url_col: str,
    tables: DataFrame,
    *,
    n_shards: int,
    n_bits: int,
    n_hashes: int,
) -> DataFrame:
    """The shard-routed probe plan: candidates are grouped by
    pmod(h1, n_shards) and COGROUPed with `tables` — a DataFrame of
    (shard int, payload binary) bloom-bit rows, one per populated
    shard (StoredBank feeds it the bank-table scan).  Each task
    receives exactly its shard's filter bytes, so the bank never
    broadcasts and never transits the driver.  A shard with no row
    answers False."""
    base_cols = candidates.columns
    out_schema = T.StructType(
        list(candidates.schema.fields)
        + [T.StructField("_maybe_seen", T.BooleanType())]
    )
    cand = (
        candidates.withColumn("_h1", F.xxhash64(F.col(url_col)))
        .withColumn("_h2", F.hash(F.col(url_col)).cast("long"))
        .withColumn("_s", F.pmod(F.col("_h1"), F.lit(n_shards)).cast("int"))
    )

    def fn(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        out = left[base_cols].copy()
        if left.empty:  # table-side sentinel/orphan shard: no candidates
            out["_maybe_seen"] = pd.Series([], dtype=bool)
            return out
        if right.empty:
            # no seen hash ever landed in this shard -> definitely unseen
            maybe = np.zeros(len(left), dtype=bool)
        else:
            b = NumpyBloom(
                n_bits, n_hashes,
                np.frombuffer(right.iloc[0]["payload"], np.uint64).copy(),
            )
            maybe = b.might_contain(
                left["_h1"].to_numpy(np.int64), left["_h2"].to_numpy(np.int64)
            )
        out["_maybe_seen"] = maybe
        return out

    return (
        cand.groupBy("_s")
        .cogroup(tables.groupBy("shard"))
        .applyInPandas(fn, out_schema)
    )

def _flip_resolve(maybe: DataFrame, seen: DataFrame, url_col: str) -> DataFrame:
    """`maybe` rows whose url is NOT in `seen`, computed WITHOUT
    shuffling the seen side.

    A plain ``maybe LEFT ANTI seen`` is a sort-merge join: Spark can
    only broadcast-build the RIGHT side of an anti-join, and at
    10^10-URL scale `seen` is far past broadcast range — so the entire
    seen table re-shuffles every wave, the one O(|seen|)-per-wave cost
    the prefilter cannot remove (it only shrinks the candidate side).
    Flipped, the set algebra is identical:

        found = seen LEFT SEMI broadcast(maybe.urls)   -- seen is scan-
                                                       -- only: a BHJ
                                                       -- probe, no
                                                       -- exchange
        out   = maybe LEFT ANTI broadcast(found)       -- found <= |maybe|

    Caller must guarantee `maybe` is broadcast-bounded (the wave loop
    keys this off the same scheduled/frontier bound as the fetch join).
    """
    maybe_urls = maybe.select(url_col)
    found = seen.select(url_col).join(
        F.broadcast(maybe_urls), url_col, "left_semi"
    )
    return maybe.join(F.broadcast(found), url_col, "left_anti")


def anti_join_seen(
    candidates: DataFrame,
    seen: DataFrame,
    url_col: str = "url",
    bloom: "StoredBank | None" = None,
    flip_broadcast: bool = False,
) -> DataFrame:
    """Rows of `candidates` whose url is NOT in `seen` — exact.

    With a prefilter bank (`bloom`, a bankstore.StoredBank), only filter-positive rows enter the anti-join; negatives are
    provably unseen and bypass it.

    flip_broadcast: resolve the exact membership via _flip_resolve
    (seen is scanned, never shuffled) — set it when the candidate side
    is broadcast-bounded; the seen side can be any size.
    """
    if bloom is None:
        if flip_broadcast:
            return _flip_resolve(candidates, seen, url_col)
        return candidates.join(
            seen.select(F.col(url_col).alias(url_col)), url_col, "left_anti"
        )

    tagged = bloom.probe(candidates, url_col)
    sure_new = tagged.where(~F.col("_maybe_seen")).drop("_maybe_seen")
    maybe = tagged.where(F.col("_maybe_seen")).drop("_maybe_seen")
    if flip_broadcast:
        resolved = _flip_resolve(maybe, seen, url_col)
    else:
        resolved = maybe.join(seen.select(url_col), url_col, "left_anti")
    return sure_new.unionByName(resolved)


def exact_duplicate_groups(
    df: DataFrame, hash_col: str, size_col: str | None = None
) -> DataFrame:
    """J1/A5 — duplicate groups by content identity: groupBy(hash[,size])
    HAVING count>1 (app/database/data_manager.py:330-359; sql/stats.sql:16-33).
    Returns (hash[, size], dup_count)."""
    keys = [hash_col] + ([size_col] if size_col else [])
    return df.groupBy(*keys).agg(F.count("*").alias("dup_count")).where(
        F.col("dup_count") > 1
    )
