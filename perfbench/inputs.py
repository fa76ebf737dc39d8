"""Benchmark inputs, generated from the workload seed.

Two input sets, each written once per seed under the benchmark's cache
directory and reused by later runs with the same seed:

* the crawl fixture: ``fscrawler_spark.datagen`` pages/robots at the
  benchmark's own scale, plus a warm-start seen table (half of the
  fixture's leaf pages and a block of synthetic URLs on hosts outside
  the fixture);
* the curate tables: ``lineitem``, ``orders``, ``events``,
  ``documents`` and ``embeddings`` with the column layout the
  ``__spark_entry__`` queries read, including planted near-duplicate
  documents and embeddings so the similarity queries have live pairs.

The program under test only ever receives these tables.
"""

from __future__ import annotations

import json
import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# datagen scale registered by the benchmark: (cold hosts, pages per cold
# host); host 0 is the hot host holding ~30% of all pages.
CRAWL_SCALE = "perfbench"
CRAWL_HOSTS = 100
CRAWL_PAGES_PER_HOST = 20
SYNTHETIC_SEEN = 50_000


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_done"))


def _mark_done(path: str) -> None:
    with open(os.path.join(path, "_done"), "w") as fh:
        fh.write("ok")


def leaf_urls(urls: list[str]) -> list[str]:
    """Pages with no page below them in their host's tree."""
    parents = {u.rsplit("/", 1)[0] for u in urls if u.count("/") > 2}
    return [u for u in urls if u not in parents]


def crawl_fixture(cache_dir: str, seed: int) -> str:
    """Write (once per seed) pages.parquet, robots.parquet and
    seen_init.parquet; return the directory."""
    from fscrawler_spark import datagen

    datagen.SCALES.setdefault(CRAWL_SCALE, (CRAWL_HOSTS, CRAWL_PAGES_PER_HOST))
    out = os.path.join(cache_dir, f"crawl-{seed}")
    if _done(out):
        return out
    datagen.write_fixture(out, CRAWL_SCALE, seed=seed)
    urls = pq.read_table(os.path.join(out, "pages.parquet"), columns=["url"])
    urls = urls.column("url").to_pylist()
    # leaves of odd hosts: those drop at the seen layer, the rest fetch
    known = [u for u in leaf_urls(urls) if int(u[8:].split(".", 1)[0]) % 2 == 1]
    rng = np.random.Generator(np.random.PCG64(seed))
    ids = rng.permutation(SYNTHETIC_SEEN * 4)[:SYNTHETIC_SEEN]
    synthetic = [f"http://x{i % 997}.seen.example/p{i}" for i in ids.tolist()]
    pq.write_table(
        pa.table({"url": pa.array(known + synthetic, pa.string())}),
        os.path.join(out, "seen_init.parquet"),
    )
    _mark_done(out)
    return out


def read_crawl_records(fixture_dir: str) -> tuple[list[dict], list[dict], list[str]]:
    """(pages, robots, seen_init urls) as python records for the oracle."""
    pages = pq.read_table(os.path.join(fixture_dir, "pages.parquet")).to_pylist()
    robots = pq.read_table(os.path.join(fixture_dir, "robots.parquet")).to_pylist()
    seen = pq.read_table(os.path.join(fixture_dir, "seen_init.parquet"))
    return pages, robots, seen.column("url").to_pylist()


# ---------------------------------------------------------------------------
# curate tables

CURATE_ROWS = {
    "lineitem": 60_000,
    "orders": 15_000,
    "events": 20_000,
    "documents": 500,
    "embeddings": 400,
}

_WORDS = (
    "spark batch part line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data join "
    "vector customer"
).split()
_STOP = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "on"],
    "fr": ["le", "la", "les", "et", "de", "des", "un", "une", "est", "pour"],
    "de": ["der", "die", "das", "und", "von", "zu", "ist", "mit", "den", "ein"],
    "es": ["el", "la", "los", "las", "de", "que", "y", "en", "es", "por"],
    "zh": [],
}
_LANGS = ["en", "en", "en", "fr", "de", "es", "zh"]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    langs: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.04:
            # near duplicate: copy an earlier doc, change one word
            j = int(rng.integers(0, i))
            toks = texts[j].split(" ")
            toks[int(rng.integers(0, len(toks)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(toks))
            langs.append(langs[j])
            continue
        if i > 10 and r < 0.05:
            # exact duplicate
            j = int(rng.integers(0, i))
            texts.append(texts[j])
            langs.append(langs[j])
            continue
        lang = _LANGS[int(rng.integers(0, len(_LANGS)))]
        vocab = _WORDS + _STOP[lang]
        n_words = int(rng.integers(8, 90))
        texts.append(" ".join(vocab[k] for k in rng.integers(0, len(vocab), n_words)))
        langs.append(lang)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centers = rng.normal(0, 1, (10, dim))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] * 0.5 + rng.normal(0, 1, (n, dim))
    # planted near duplicates (cosine ~0.99) so the t>=0.9 dedup has pairs
    for i in range(10, n):
        if rng.random() < 0.04:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + rng.normal(0, 0.05, dim)
            labels[i] = labels[j]
    vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True) * 0.25
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )


def _round2(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _ts(base: datetime, seconds: np.ndarray) -> pa.Array:
    us = (np.datetime64(base, "us") + seconds.astype("timedelta64[us]"))
    return pa.array(us, pa.timestamp("us"))


def _lineitem(rng: np.random.Generator, n: int, n_orders: int) -> pa.Table:
    day = 86_400 * 1_000_000
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 20_000, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 1_000, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(float), pa.float64()),
            "l_extendedprice": pa.array(_round2(rng.uniform(900, 105_000, n)), pa.float64()),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, pa.float64()),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n), pa.string()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n), pa.string()),
            "l_shipdate": _ts(datetime(1995, 1, 1), rng.integers(0, 2500, n) * day),
        }
    )


def _orders(rng: np.random.Generator, n: int) -> pa.Table:
    day = 86_400 * 1_000_000
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, 15_000, n), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n), pa.string()),
            "o_totalprice": pa.array(_round2(rng.uniform(1_000, 500_000, n)), pa.float64()),
            "o_orderdate": _ts(datetime(1995, 1, 1), rng.integers(0, 2500, n) * day),
            "o_orderpriority": pa.array(rng.choice(prio, n), pa.string()),
        }
    )


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n))
    kinds = ["click", "view", "purchase", "signup", "error"]
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts(datetime(2024, 1, 1), ts),
            "user_id": pa.array(rng.integers(0, 1_500, n), pa.int64()),
            "event_type": pa.array(rng.choice(kinds, n), pa.string()),
            "value": pa.array(_round2(rng.uniform(0, 150, n)), pa.float64()),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n).tolist()], pa.string()
            ),
        }
    )


def curate_tables(cache_dir: str, seed: int) -> str:
    """Write (once per seed) the five curate tables; return the directory."""
    out = os.path.join(cache_dir, f"curate-{seed}")
    if _done(out):
        return out
    os.makedirs(out, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    n = CURATE_ROWS
    tables = {
        "orders": _orders(rng, n["orders"]),
        "lineitem": _lineitem(rng, n["lineitem"], n["orders"]),
        "events": _events(rng, n["events"]),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    with open(os.path.join(out, "rows.json"), "w") as fh:
        json.dump({k: v.num_rows for k, v in tables.items()}, fh)
    _mark_done(out)
    return out

