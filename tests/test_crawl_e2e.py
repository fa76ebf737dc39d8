"""End-to-end crawl equivalence (SURVEY §5.3): the Spark wave loop must
reproduce the scalar simulator's URL-seen set, (wave, rank_in_wave)
scheduling order, and per-URL extraction bit-for-bit, under the same
seeds + filters + politeness budget — the executable form of matching
FsCrawler's deterministic traversal of a known tree."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fscrawler_spark.filters import DepthFilter, ExtensionFilter, SizeFilter
from fscrawler_spark.functions.extract import keywords_py, rating_py
from fscrawler_spark.functions.urls import url_name_py
from fscrawler_spark.plans.job import CrawlJob, accept_seeds
from fscrawler_spark.plans.simulator import simulate_crawl
from fscrawler_spark.plans.wave_loop import run_crawl

JOB = CrawlJob(
    politeness_budget=4,
    max_waves=5,
    skip_filters=(
        DepthFilter(4),
        ExtensionFilter(excluded=frozenset({"tmp", "log", "bak", "pyc"})),
        SizeFilter(1, 150_000),
    ),
)


@pytest.fixture(scope="module")
def sim(tiny):
    return simulate_crawl(tiny["pages"], tiny["seeds"], JOB, tiny["robots"])


@pytest.fixture(scope="module")
def engine(spark, pages_df, robots_df, tiny, tmp_path_factory):
    ckpt = str(tmp_path_factory.mktemp("ckpt_main"))
    return run_crawl(
        spark, pages_df, tiny["seeds"], JOB, robots=robots_df, checkpoint_dir=ckpt
    )


def test_seed_overlap_dedup(tiny):
    accepted = accept_seeds(tiny["seeds"])
    urls = [s["url"] for s in accepted]
    # the overlapping seed (subpath of h1's root) must be rejected (S4)
    assert "http://h1.example/s1" not in urls
    assert "http://h1.example" in urls


def test_order_and_seen_set(spark, engine, sim):
    results = engine.results(spark)
    eng_order = {
        r["url"]: (r["wave"], r["rank_in_wave"])
        for r in results.where("stage = 'EXTRACTED'").collect()
    }
    assert eng_order == sim.order
    eng_seen = {r["url"] for r in engine.seen(spark).collect()}
    assert eng_seen == sim.seen
    assert engine.waves_run == sim.waves_run


def test_extraction_matches_oracle(spark, engine, sim):
    rows = engine.results(spark).where("stage = 'EXTRACTED'").collect()
    expect = {x["url"]: x for x in sim.results if x["stage"] == "EXTRACTED"}
    assert {r["url"] for r in rows} == set(expect)
    for r in rows:
        e = expect[r["url"]]
        assert r["md5_hex"] == e["md5_hex"], r["url"]
        assert r["text"] == e["text"], r["url"]  # byte-identical invariant
        assert r["size"] == e["size"]
        assert r["extension"] == e["extension"]
        assert (r["keywords"] or None) == e["keywords"], r["url"]
        assert r["rating"] == e["rating"], r["url"]
        assert r["mime"] == e["mime"], r["url"]  # C7 sniffed mime parity


def test_error_rows_for_dangling_links(spark, engine, sim):
    eng_err = {
        r["url"]
        for r in engine.results(spark).where("stage = 'ERROR'").collect()
    }
    sim_err = {u for u, s in sim.statuses.items() if s == "ERROR"}
    assert eng_err == sim_err
    assert eng_err, "fixture must contain dangling links (D4 targets)"


def test_robots_subtree_denied(sim):
    denied = {u for u, s in sim.statuses.items() if s == "ROBOTS_DENIED"}
    assert any(u.startswith("http://h1.example/s1") for u in denied)
    # denied URLs never scheduled, and their subtrees never expanded
    assert not any(u in sim.order for u in denied)


def test_politeness_budget_respected(spark, engine, tiny):
    per = (
        engine.results(spark)
        .where("stage = 'EXTRACTED'")
        .groupBy("wave", "host")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    tokens = {
        r["host"]: r["crawl_delay_tokens"]
        for r in tiny["robots"]
        if r["allow"] and r.get("crawl_delay_tokens") is not None
    }
    for r in per:
        budget = tokens.get(r["host"], JOB.politeness_budget)
        assert r["n"] <= budget, (r["host"], r["wave"])


def test_metrics_match_simulator(spark, engine, sim):
    eng = {
        (r["wave"], r["metric"]): r["value"]
        for r in engine.metrics(spark).collect()
    }
    for m in sim.metrics:
        w = m["wave"]
        for key, simkey in [
            ("scheduled_n", "scheduled_n"),
            ("skipped_n", "skipped_n"),
            ("missing_n", "missing_n"),
            ("deferred_n", "deferred_n"),
        ]:
            eng_v = eng.get((w, key.replace("_n", "") + "_n"), 0)
            assert eng_v == m[simkey], (w, key)
        assert eng.get((w, "scheduled_bytes"), 0) == m["scheduled_bytes"], w


@pytest.mark.parametrize("flt", ["bloom"])
def test_bloom_mode_identical(spark, pages_df, robots_df, tiny, sim, tmp_path_factory, flt):
    """Two-tier prefilter+anti-join must change nothing observable (J2 —
    the bloom is a pre-filter, never a decider)."""
    job = CrawlJob(**{**JOB.__dict__, "use_bloom": True})
    ckpt = str(tmp_path_factory.mktemp(f"ckpt_{flt}"))
    res = run_crawl(
        spark, pages_df, tiny["seeds"], job, robots=robots_df, checkpoint_dir=ckpt
    )
    order = {
        r["url"]: (r["wave"], r["rank_in_wave"])
        for r in res.results(spark).where("stage = 'EXTRACTED'").collect()
    }
    assert order == sim.order
    assert {r["url"] for r in res.seen(spark).collect()} == sim.seen


def test_salted_path_parity_with_truncation(
    spark, pages_df, robots_df, tiny, tmp_path_factory, monkeypatch
):
    """Engine==simulator with the salted politeness phase FORCED on
    (SMALL_WAVE_ROWS=0) and budget=1 so phase-1 truncation really
    happens (any host with >=3 queued URLs truncates at SALT_BUCKETS=2).
    r01 advisory (high): truncated rows used to vanish from the frontier
    — neither scheduled nor deferred — which this parity run would catch
    as a seen-set/order divergence in later waves."""
    from fscrawler_spark.plans import wave_loop

    monkeypatch.setattr(wave_loop, "SMALL_WAVE_ROWS", 0)
    monkeypatch.setattr(wave_loop, "SALT_BUCKETS", 2)
    job = CrawlJob(**{**JOB.__dict__, "politeness_budget": 1})
    sim2 = simulate_crawl(tiny["pages"], tiny["seeds"], job, tiny["robots"])
    assert any(m["deferred_n"] > 0 for m in sim2.metrics), (
        "fixture+budget must actually defer rows for this test to bite"
    )
    ckpt = str(tmp_path_factory.mktemp("ckpt_salted"))
    res = run_crawl(
        spark, pages_df, tiny["seeds"], job, robots=robots_df, checkpoint_dir=ckpt
    )
    order = {
        r["url"]: (r["wave"], r["rank_in_wave"])
        for r in res.results(spark).where("stage = 'EXTRACTED'").collect()
    }
    assert order == sim2.order
    assert {r["url"] for r in res.seen(spark).collect()} == sim2.seen
    eng = {
        (r["wave"], r["metric"]): r["value"]
        for r in res.metrics(spark).collect()
    }
    for m in sim2.metrics:
        assert eng.get((m["wave"], "deferred_n"), 0) == m["deferred_n"], m["wave"]


def test_per_partition_lineage(spark, engine, sim):
    """Checkpoint lineage (north rule): per-(wave, partition) counters
    whose totals reconcile with the scheduled metrics."""
    lineage = engine.store.read_lineage(spark)
    assert lineage is not None
    per_wave = {
        r["wave"]: (r["rows"], r["bytes"])
        for r in lineage.groupBy("wave")
        .agg(F.sum("rows").alias("rows"), F.sum("bytes").alias("bytes"))
        .collect()
    }
    for m in sim.metrics:
        if m["scheduled_n"]:
            assert per_wave[m["wave"]] == (m["scheduled_n"], m["scheduled_bytes"])


def test_crawl_results_feed_dedup_pipeline(spark, engine, sim):
    """Composition: the crawl's results table feeds the training-data
    dedup operators directly — exact fingerprint dup-groups over the
    crawled text must equal an independent scalar computation over the
    simulator's byte-identical texts."""
    import hashlib
    import re
    from collections import Counter

    from fscrawler_spark.functions.textstats import fingerprint

    results = engine.results(spark).where("stage = 'EXTRACTED'")
    groups = (
        results.select(fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n"))
        .where("n > 1")
    )

    def fp_py(t):
        norm = re.sub(r"\s+", " ", (t or "").lower()).strip()
        return hashlib.md5(norm.encode()).hexdigest()

    cnt = Counter(
        fp_py(x["text"]) for x in sim.results if x["stage"] == "EXTRACTED"
    )
    expect_groups = {(k, v) for k, v in cnt.items() if v > 1}
    got_groups = {(r["fp"], r["n"]) for r in groups.collect()}
    assert got_groups == expect_groups
    # full fingerprint multiset parity (live regardless of dup presence)
    all_fp = Counter(
        r["fp"]
        for r in results.select(fingerprint(F.col("text")).alias("fp")).collect()
    )
    assert all_fp == cnt and cnt, "fingerprint multiset must match scalar"


def test_checkpoint_files_duckdb_readable(spark, engine):
    """External-tool contract: checkpoint directories are plain parquet
    that DuckDB/Arrow can read directly (operators can inspect a live
    crawl without Spark).  Guards the codec choice — Spark's plain
    "lz4" writes hadoop-framed files DuckDB rejects; the default is
    the parquet-standard lz4_raw (plans/storage.py CheckpointStore)."""
    import duckdb

    root = engine.store.root
    n_spark = engine.results(spark).count()
    n_duck = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{root}/results/*/*.parquet')"
    ).fetchone()[0]
    assert n_duck == n_spark and n_spark > 0
    # frontier layout depends on CrawlJob.frontier_compact_every:
    # compaction waves write frontier/wave=K snapshots, the others
    # frontier_delta/wave=K children — whatever exists must be plain
    # DuckDB-readable parquet
    import os

    frontier_dirs = [
        d for d in ("frontier", "frontier_delta")
        if os.path.isdir(os.path.join(root, d))
    ]
    assert frontier_dirs, "no frontier checkpoint directory written"
    for table in ["seen", *frontier_dirs]:
        duckdb.sql(
            f"SELECT * FROM read_parquet('{root}/{table}/*/*.parquet') LIMIT 1"
        ).fetchall()
