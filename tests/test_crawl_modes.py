"""Engine-vs-simulator parity for the remaining crawl modes (wave_cap,
invert, warm re-crawl) plus checkpoint-contract crash safety."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from fscrawler_spark.filters import ExtensionFilter
from fscrawler_spark.plans.job import CrawlJob
from fscrawler_spark.plans.simulator import simulate_crawl
from fscrawler_spark.plans.wave_loop import run_crawl


def _order(spark, res):
    return {
        r["url"]: (r["wave"], r["rank_in_wave"])
        for r in res.results(spark).where("stage='EXTRACTED'").collect()
    }


def test_wave_cap_engine_matches_simulator(spark, pages_df, robots_df, tiny, tmp_path_factory):
    job = CrawlJob(politeness_budget=20, max_waves=3, wave_cap=7)
    sim = simulate_crawl(tiny["pages"], tiny["seeds"], job, tiny["robots"])
    res = run_crawl(
        spark, pages_df, tiny["seeds"], job, robots=robots_df,
        checkpoint_dir=str(tmp_path_factory.mktemp("cap")),
    )
    assert _order(spark, res) == sim.order
    assert {r["url"] for r in res.seen(spark).collect()} == sim.seen
    # the cap binds: no wave schedules more than 7
    per_wave = (
        res.results(spark).where("stage='EXTRACTED'")
        .groupBy("wave").agg(F.count("*").alias("n")).collect()
    )
    assert all(r["n"] <= 7 for r in per_wave) and any(r["n"] == 7 for r in per_wave)


def test_invert_engine_matches_simulator(spark, pages_df, robots_df, tiny, tmp_path_factory):
    """Invert = blanket verdict negation (fast_crawler.py:96-113), so the
    delete-list use-case selects a complement that can still traverse:
    'everything NOT under h0.example'."""
    from fscrawler_spark.filters import PatternFilter

    job = CrawlJob(
        politeness_budget=20, max_waves=3, invert=True,
        skip_filters=(PatternFilter(authorized_pattern="h0.example"),),
    )
    sim = simulate_crawl(tiny["pages"], tiny["seeds"], job, tiny["robots"])
    res = run_crawl(
        spark, pages_df, tiny["seeds"], job, robots=robots_df,
        checkpoint_dir=str(tmp_path_factory.mktemp("inv")),
    )
    assert _order(spark, res) == sim.order
    assert sim.order, "invert complement must fetch non-h0 pages"
    assert all("h0.example" not in u for u in sim.order)


def test_warm_recrawl_schedules_nothing(spark, pages_df, robots_df, tiny, tmp_path_factory):
    """The warm re-run (README.md:111-115): a second crawl with the first
    run's seen-set schedules zero URLs — everything drops at the first
    anti-join."""
    job = CrawlJob(politeness_budget=10, max_waves=3)
    first = run_crawl(
        spark, pages_df, tiny["seeds"], job, robots=robots_df,
        checkpoint_dir=str(tmp_path_factory.mktemp("cold")),
    )
    seen = first.seen(spark)
    t0 = time.time()
    warm = run_crawl(
        spark, pages_df, tiny["seeds"], job, robots=robots_df,
        checkpoint_dir=str(tmp_path_factory.mktemp("warm")), seen_init=seen,
    )
    warm_secs = time.time() - t0
    assert warm.waves_run == 1  # wave 0 examines nothing new -> empty frontier
    r = warm.results(spark)
    assert r is None or r.count() == 0
    assert warm_secs < 30  # the 156x-analog: one near-empty wave


def test_uncommitted_partial_wave_is_ignored_on_resume(
    spark, pages_df, robots_df, tiny, tmp_path_factory
):
    """Checkpoint contract: data directories without a commit marker are
    invisible — a crash mid-wave resumes from the last marker and
    converges to the uninterrupted result."""
    job2 = CrawlJob(politeness_budget=5, max_waves=2)
    job4 = CrawlJob(politeness_budget=5, max_waves=4)
    ref_dir = str(tmp_path_factory.mktemp("ref"))
    crash_dir = str(tmp_path_factory.mktemp("crash"))

    full = run_crawl(spark, pages_df, tiny["seeds"], job4, robots=robots_df,
                     checkpoint_dir=ref_dir)

    half = run_crawl(spark, pages_df, tiny["seeds"], job2, robots=robots_df,
                     checkpoint_dir=crash_dir)
    assert half.store.last_wave() == 1
    # simulate a crash during wave 2: partial data files, NO marker
    for table in ("results", "seen", "frontier"):
        d = os.path.join(crash_dir, table, "wave=2")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "part-garbage.parquet"), "wb") as fh:
            fh.write(b"NOT A PARQUET FILE")

    resumed = run_crawl(spark, pages_df, tiny["seeds"], job4, robots=robots_df,
                        checkpoint_dir=crash_dir, resume=True)
    assert _order(spark, resumed) == _order(spark, full)
    assert {r["url"] for r in resumed.seen(spark).collect()} == {
        r["url"] for r in full.seen(spark).collect()
    }


def test_parity_on_alternate_seed(spark, tmp_path_factory):
    """Engine==simulator on a DIFFERENT generated web (seed=7): guards
    against fixture-specific lucky passes in the ordering/seen-set
    contract."""
    from fscrawler_spark import schemas
    from fscrawler_spark.datagen import generate_pages
    from fscrawler_spark.filters import DepthFilter, ExtensionFilter
    from fscrawler_spark.plans.job import CrawlJob
    from fscrawler_spark.plans.simulator import simulate_crawl
    from fscrawler_spark.plans.wave_loop import run_crawl

    pages, seeds, robots = generate_pages("tiny", seed=7)

    def rows(records, schema):
        return [tuple(r.get(f.name) for f in schema.fields) for r in records]

    pages_df = spark.createDataFrame(rows(pages, schemas.PAGES), schemas.PAGES)
    robots_df = spark.createDataFrame(rows(robots, schemas.ROBOTS), schemas.ROBOTS)
    job = CrawlJob(
        politeness_budget=3,
        max_waves=4,
        skip_filters=(
            DepthFilter(4),
            ExtensionFilter(excluded=frozenset({"tmp", "log", "bak", "pyc"})),
        ),
    )
    sim = simulate_crawl(pages, seeds, job, robots)
    res = run_crawl(
        spark, pages_df, seeds, job, robots=robots_df,
        checkpoint_dir=str(tmp_path_factory.mktemp("ckpt_seed7")),
    )
    order = {
        r["url"]: (r["wave"], r["rank_in_wave"])
        for r in res.results(spark).where("stage = 'EXTRACTED'").collect()
    }
    assert order == sim.order
    assert {r["url"] for r in res.seen(spark).collect()} == sim.seen


def test_global_wave_budget_engine_matches_simulator(
    spark, pages_df, robots_df, tiny, tmp_path_factory
):
    """Water-filled global budget: engine == simulator on ordering and
    seen set, the per-wave total respects the budget, and small hosts
    keep service a plain wave_cap would deny them."""
    job = CrawlJob(politeness_budget=20, max_waves=3, global_wave_budget=9)
    sim = simulate_crawl(tiny["pages"], tiny["seeds"], job, tiny["robots"])
    res = run_crawl(
        spark, pages_df, tiny["seeds"], job, robots=robots_df,
        checkpoint_dir=str(tmp_path_factory.mktemp("gwb")),
    )
    assert _order(spark, res) == sim.order
    assert {r["url"] for r in res.seen(spark).collect()} == sim.seen
    per_wave = (
        res.results(spark).where("stage='EXTRACTED'")
        .groupBy("wave").agg(F.count("*").alias("n")).collect()
    )
    assert all(r["n"] <= 9 for r in per_wave)
    # fairness: in a budget-bound wave, no host may take the whole
    # budget while another host with demand got nothing
    hw = (
        res.results(spark).where("stage='EXTRACTED'")
        .groupBy("wave", "host").agg(F.count("*").alias("n")).collect()
    )
    by_wave: dict[int, list[int]] = {}
    for r in hw:
        by_wave.setdefault(r["wave"], []).append(r["n"])
    for wave, counts in by_wave.items():
        if sum(counts) == 9 and len(counts) > 1:
            assert max(counts) < 9


def test_global_budget_carryover_engine_matches_simulator(
    spark, pages_df, robots_df, tiny, tmp_path_factory
):
    """Carryover mode: under-demand waves bank unspent capacity
    (token-bucket, burst <= 2x), so a later wave may schedule beyond
    the base budget — engine == simulator on ordering and seen set,
    and at least one wave provably spends banked credit."""
    job = CrawlJob(
        politeness_budget=20, max_waves=4,
        global_wave_budget=30, global_budget_carryover=True,
    )
    sim = simulate_crawl(tiny["pages"], tiny["seeds"], job, tiny["robots"])
    res = run_crawl(
        spark, pages_df, tiny["seeds"], job, robots=robots_df,
        checkpoint_dir=str(tmp_path_factory.mktemp("gwbc")),
    )
    assert _order(spark, res) == sim.order
    assert {r["url"] for r in res.seen(spark).collect()} == sim.seen
    per_wave = {
        r["wave"]: r["n"]
        for r in res.results(spark).where("stage='EXTRACTED'")
        .groupBy("wave").agg(F.count("*").alias("n")).collect()
    }
    assert all(n <= 60 for n in per_wave.values())  # burst cap 2x
    # the seed wave is far under 30, so a later wave must exceed the
    # base budget using the banked credit
    assert any(n > 30 for n in per_wave.values()), per_wave


def test_global_budget_carryover_parallelism_invariant(tmp_path):
    """The determinism claim (SURVEY §7.3) extended to the session-8
    knobs: the SAME carryover-budget crawl at local[4] and local[16]
    (fresh processes) produces identical (url, wave, rank) outputs."""
    import json
    import subprocess
    import sys

    code = """
import json, sys, tempfile
sys.path.insert(0, "/root/repo")
from fscrawler_spark import schemas
from fscrawler_spark.datagen import generate_pages
from fscrawler_spark.plans.job import CrawlJob
from fscrawler_spark.plans.wave_loop import run_crawl
from fscrawler_spark.session import get_spark
cores = sys.argv[1]
spark = get_spark("par_inv", cores=cores)
pages, seeds, robots = generate_pages("tiny", seed=42)
rows = [tuple(r.get(f.name) for f in schemas.PAGES.fields) for r in pages]
pages_df = spark.createDataFrame(rows, schemas.PAGES)
robots_df = spark.createDataFrame(
    [tuple(r.get(f.name) for f in schemas.ROBOTS.fields) for r in robots],
    schemas.ROBOTS)
job = CrawlJob(politeness_budget=20, max_waves=4,
               global_wave_budget=30, global_budget_carryover=True)
res = run_crawl(spark, pages_df, seeds, job, robots=robots_df,
                checkpoint_dir=tempfile.mkdtemp())
out = sorted((r["url"], r["wave"], r["rank_in_wave"])
             for r in res.results(spark).where("stage='EXTRACTED'").collect())
print(json.dumps(out))
"""
    outs = []
    for cores in ("4", "16"):
        r = subprocess.run(
            [sys.executable, "-c", code, cores],
            capture_output=True, text=True, cwd="/root/repo", timeout=420,
            env={**os.environ, "SPARK_DRIVER_MEM": "2g"},
        )
        assert r.returncode == 0, r.stderr[-2000:]
        outs.append(json.loads(r.stdout.strip().splitlines()[-1]))
    assert outs[0] == outs[1] and len(outs[0]) > 50
