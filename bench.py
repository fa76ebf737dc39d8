"""Benchmark harness (driver contract, run per-round).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line:  {"metric": ..., "value": <total sec>, "unit": "sec",
        "queries": {name: sec, ...}, "sf": ...}

The crawl benchmark runs the full wave loop on the deterministic
"small" synthetic pages fixture (60k pages / 50 hosts + hot host) and
reports urls_per_sec = scheduled+extracted URLs / crawl seconds — the
BASELINE.json target metric.  The history of the two-parallelism
scaling campaigns (local[8] vs local[32]) is in BENCH/BASELINE.md; the
per-layer performance reference is perfbench/.

Analytic queries are timed with a noop-format write so every output
column is computed (a bare count() would let Catalyst prune the work).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from fscrawler_spark import schemas  # noqa: E402
from fscrawler_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
FIXTURE_CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_cache")

BENCH_QUERIES = [
    "q01_pricing_summary",
    "q02_count_by_type",
    "q04_dup_groups",
    "q05_dup_selfjoin",
    "q06_topk_per_group",
    "q11_politeness_window",
    "q13_exact_dedup",
    "q16_text_stats",
    "q17_lang_quality_agg",
    "q18_cosine_topk",
    "q27_text_search",
    "q45_winnow_fingerprints",
    "q47_asof_join",
]


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def bench_minhash(spark, sf_dir):
    """MinHash-LSH near-dup at scale config (b=32, r=4, t>=0.8 —
    selective bands so candidate volume stays ~linear)."""
    from fscrawler_spark.operators.similarity import minhash_lsh_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_lsh_pairs(docs, "doc_id", "text", 0.8, num_hashes=128, bands=32)


def bench_simhash(spark, sf_dir):
    from fscrawler_spark.functions.textstats import tokens
    from fscrawler_spark.operators.similarity import simhash_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select("doc_id", tokens(F.lower(F.col("text"))).alias("tk"))
    return simhash_pairs(toks, "doc_id", F.col("tk"), max_hamming=1, chunks=2)


def bench_embedding_lsh(spark, sf_dir):
    """LSH-bucketed embedding dedup at the selective-regime threshold.
    Bench cost knob (r02 verdict #9, re-measured r3): miss 1e-6 /
    tables<=128 -> (14 planes, 114 tables).  Relaxing target_miss at
    FULL max_tables buys selectivity (16384 buckets/table), which is
    what cuts the dominant cost — the within-bucket candidate join.
    The r2-suggested knob (1e-6, max 64 -> 10 planes) was measured a
    4-5x PESSIMIZATION at sf0.1 because dropping planes quadruples
    bucket occupancy (interleaved A/B in BENCH/BASELINE.md round-3
    section; regime table in embedding_dedup_pairs' docstring)."""
    from fscrawler_spark.operators.similarity import embedding_dedup_pairs

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_dedup_pairs(
        e, threshold=0.9, method="lsh", target_miss=1e-6, max_tables=128
    )


def crawl_bench(spark, scale: str = "small") -> tuple[float, int]:
    """Full wave-loop crawl on the synthetic fixture (all host roots
    seeded, 6 waves); returns (seconds, scheduled_urls)."""
    from fscrawler_spark.datagen import SCALES, host_root, write_fixture
    from fscrawler_spark.filters import ExtensionFilter
    from fscrawler_spark.plans.job import CrawlJob
    from fscrawler_spark.plans.wave_loop import run_crawl

    fix_dir = write_fixture(os.path.join(FIXTURE_CACHE, scale), scale)
    pages = spark.read.schema(schemas.PAGES).parquet(f"{fix_dir}/pages.parquet")
    robots = spark.read.schema(schemas.ROBOTS).parquet(f"{fix_dir}/robots.parquet")
    seed_rows = [
        {"url": host_root(h), "seed_id": h} for h in range(SCALES[scale][0])
    ]
    job = CrawlJob(
        politeness_budget=2000,
        max_waves=6,
        skip_filters=(
            ExtensionFilter(excluded=frozenset({"tmp", "log", "bak", "pyc"})),
        ),
    )
    ckpt = tempfile.mkdtemp(prefix="fsc_bench_", dir="/dev/shm")
    t0 = time.time()
    res = run_crawl(spark, pages, seed_rows, job, robots=robots, checkpoint_dir=ckpt)
    secs = time.time() - t0
    scheduled = (
        res.metrics(spark)
        .where(F.col("metric") == "scheduled_n")
        .agg(F.sum("value"))
        .collect()[0][0]
        or 0
    )
    return secs, int(scheduled)


def main() -> None:
    spark = get_spark(
        app_name="fscrawler_bench",
        cores=CPUS,
        extra_conf={
            # partition sizing matched to local data scale (see
            # BENCH/BASELINE.md methodology); spill to tmpfs
            "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(4 * 1024 * 1024),
            "spark.local.dir": "/dev/shm/fsc_bench_tmp",
        },
    )
    # warnings (WindowExec small-wave notices etc.) drown the one-line
    # JSON contract in the driver's captured tail — keep stderr terse
    spark.sparkContext.setLogLevel("ERROR")
    # warmup: JVM + codegen paths
    spark.range(1000).agg(F.sum("id")).collect()

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    timings: dict[str, float] = {}
    all_q = entrymod.queries()

    for name in BENCH_QUERIES:
        t0 = time.time()
        _noop_write(all_q[name](spark, SF_DIR))
        timings[name] = round(time.time() - t0, 3)

    t0 = time.time()
    _noop_write(bench_minhash(spark, SF_DIR))
    timings["q15_minhash_lsh_b32"] = round(time.time() - t0, 3)

    t0 = time.time()
    _noop_write(bench_simhash(spark, SF_DIR))
    timings["q20_simhash_h1"] = round(time.time() - t0, 3)

    t0 = time.time()
    _noop_write(bench_embedding_lsh(spark, SF_DIR))
    timings["q26_embedding_lsh_t90"] = round(time.time() - t0, 3)

    t0 = time.time()
    _noop_write(all_q["q38_dedup_clusters"](spark, SF_DIR))
    timings["q38_dedup_clusters"] = round(time.time() - t0, 3)

    crawl_secs, scheduled = crawl_bench(spark, "small")
    timings["crawl_small"] = round(crawl_secs, 3)
    urls_per_sec = round(scheduled / crawl_secs, 1) if crawl_secs else 0.0

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline queries + wave-loop crawl wall time",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "crawl_urls_per_sec": urls_per_sec,
                "crawl_scheduled_urls": scheduled,
                "cpus": CPUS,
            }
        )
    )


if __name__ == "__main__":
    main()
