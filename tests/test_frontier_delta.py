"""Delta-frontier checkpoints (Iceberg merge-on-read layout): on
non-compaction waves only the wave's discovered children are written —
O(wave) write volume instead of O(|frontier|) — and the full frontier
is recomposable at ANY wave as

    frontier_{w+1} = merge(children_w, frontier_w ANTI seen_as_of_{w+1})

A snapshot every wave (frontier_compact_every=1, "full" below) is the
reference layout.  These tests pin (a) crawl-output equivalence with
it, (b) exact replay equivalence per wave, (c) resume from a
non-compaction wave, (d) replay under seen_horizon_waves aging, and
(e) the write-volume reduction itself — and that every crawl, including
one whose wave raises, leaves no persisted block behind."""

from __future__ import annotations

import os

import pytest

from fscrawler_spark.filters import DepthFilter, ExtensionFilter
from fscrawler_spark.plans.job import CrawlJob
from fscrawler_spark.plans.storage import CheckpointStore
from fscrawler_spark.plans.wave_loop import (
    reconstruct_frontier,
    run_crawl,
    seeds_to_frontier,
)

_FILTERS = (
    DepthFilter(3),
    ExtensionFilter(excluded=frozenset({"tmp", "log", "bak", "pyc"})),
)

JOB_FULL = CrawlJob(
    politeness_budget=5, max_waves=4, skip_filters=_FILTERS,
    frontier_compact_every=1,  # a full snapshot every wave
)
JOB_DELTA = CrawlJob(
    politeness_budget=5,
    max_waves=4,
    skip_filters=_FILTERS,
    frontier_compact_every=3,  # waves 0,1,3 delta; wave 2 compaction
)


def _persisted(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _crawl(spark, *args, **kwargs):
    """run_crawl that must leave no persisted block behind: every wave
    checkpoint and frontier checkpoint is released before it returns.
    (No NEW persisted RDD, rather than an equal count, so an older
    test's RDD the context cleaner drops meanwhile cannot flake it.)"""
    before = _persisted(spark)
    res = run_crawl(spark, *args, **kwargs)
    assert _persisted(spark) - before == set()
    return res


def _crawl_state(spark, res):
    order = {
        r["url"]: (r["wave"], r["rank_in_wave"])
        for r in res.results(spark).where("stage='EXTRACTED'").collect()
    }
    seen = {(r["url"], r["wave"]) for r in res.seen(spark).collect()}
    metrics = {
        (r["wave"], r["metric"]): r["value"]
        for r in res.metrics(spark).collect()
    }
    return order, seen, metrics


def _frontier_rows(df):
    return {
        (r["url"], r["host"], r["depth"], r["priority"], r["seed_id"])
        for r in df.collect()
    }


def test_delta_mode_crawl_equals_full_mode(
    spark, pages_df, robots_df, tiny, tmp_path_factory
):
    full_dir = str(tmp_path_factory.mktemp("fr_full"))
    delta_dir = str(tmp_path_factory.mktemp("fr_delta"))
    full = _crawl(
        spark, pages_df, tiny["seeds"], JOB_FULL, robots=robots_df,
        checkpoint_dir=full_dir,
    )
    delta = _crawl(
        spark, pages_df, tiny["seeds"], JOB_DELTA, robots=robots_df,
        checkpoint_dir=delta_dir,
    )
    assert _crawl_state(spark, delta) == _crawl_state(spark, full)

    # layout: children deltas on non-compaction waves, one snapshot at
    # the compaction wave, never both
    for w in range(4):
        has_full = delta.store.has_full_frontier(w)
        has_delta = os.path.isdir(
            os.path.join(delta_dir, "frontier_delta", f"wave={w}")
        )
        if (w + 1) % JOB_DELTA.frontier_compact_every == 0:
            assert has_full and not has_delta
        else:
            assert has_delta and not has_full

    # replay equivalence: the reconstructed frontier AFTER each wave
    # equals the full-mode snapshot of that wave (exact row sets)
    seed_fr = seeds_to_frontier(spark, tiny["seeds"])
    for w in range(4):
        rebuilt = reconstruct_frontier(spark, delta.store, w, seed_fr)
        expect = full.store.read_frontier(spark, w)
        assert _frontier_rows(rebuilt) == _frontier_rows(expect), f"wave {w}"

    # the scale claim: by the last delta wave the frontier has grown
    # past the per-wave children, so the delta write is strictly
    # smaller than the full rewrite it replaces
    last_delta = spark.read.parquet(
        os.path.join(delta_dir, "frontier_delta", "wave=3")
    ).count()
    last_full = full.store.read_frontier(spark, 3).count()
    assert last_delta < last_full


def test_delta_mode_resume_from_noncompaction_wave(
    spark, pages_df, robots_df, tiny, tmp_path_factory
):
    # compact_every=4 -> waves 0..2 are ALL delta; stopping after wave 1
    # forces resume to replay (seed frontier + 2 children deltas)
    job4 = CrawlJob(**{**JOB_DELTA.__dict__, "frontier_compact_every": 4})
    full_dir = str(tmp_path_factory.mktemp("fr_res_full"))
    part_dir = str(tmp_path_factory.mktemp("fr_res_part"))
    full = _crawl(
        spark, pages_df, tiny["seeds"], JOB_FULL, robots=robots_df,
        checkpoint_dir=full_dir,
    )
    half = _crawl(
        spark, pages_df, tiny["seeds"],
        CrawlJob(**{**job4.__dict__, "max_waves": 2}),
        robots=robots_df, checkpoint_dir=part_dir,
    )
    assert half.store.last_wave() == 1
    assert not half.store.has_full_frontier(1)
    resumed = _crawl(
        spark, pages_df, tiny["seeds"], job4, robots=robots_df,
        checkpoint_dir=part_dir, resume=True,
    )
    assert _crawl_state(spark, resumed) == _crawl_state(spark, full)


def test_delta_mode_replay_under_seen_horizon_aging(
    spark, pages_df, robots_df, tiny, tmp_path_factory
):
    # horizon=2: cohorts age out mid-crawl, so the replay's per-wave
    # horizon-filtered seen view (not an end-of-run filter) is what
    # keeps reconstruction exact
    base = dict(
        politeness_budget=5, max_waves=5, skip_filters=_FILTERS,
        seen_horizon_waves=2,
    )
    jf = CrawlJob(**base, frontier_compact_every=1)
    jd = CrawlJob(**base, frontier_compact_every=5)
    full = _crawl(
        spark, pages_df, tiny["seeds"], jf, robots=robots_df,
        checkpoint_dir=str(tmp_path_factory.mktemp("fr_h_full")),
    )
    part_dir = str(tmp_path_factory.mktemp("fr_h_part"))
    _crawl(
        spark, pages_df, tiny["seeds"],
        CrawlJob(**{**jd.__dict__, "max_waves": 3}),
        robots=robots_df, checkpoint_dir=part_dir,
    )
    resumed = _crawl(
        spark, pages_df, tiny["seeds"], jd, robots=robots_df,
        checkpoint_dir=part_dir, resume=True,
    )
    assert _crawl_state(spark, resumed) == _crawl_state(spark, full)


def test_raising_wave_releases_every_checkpoint(
    spark, pages_df, robots_df, tiny, tmp_path, monkeypatch
):
    """A wave that raises frees what the crawl holds at that moment —
    the pages-metadata and robots-rules caches, wave 0's frontier
    checkpoint (JOB_DELTA: wave 0 is not a compaction) and wave 1's
    four checkpoints — instead of leaving them to the context
    cleaner.  The same crawl checks the phase job labels: the fetch join
    runs under "wave N / fetch_extract", and the caller's own job
    description is back after the raise."""
    from fscrawler_spark.plans import wave_loop

    sc = spark.sparkContext
    commit = CheckpointStore.commit_wave
    fetch_join = wave_loop.fetch_join
    labels = []

    def failing_commit(self, wave, *args, **kwargs):
        if wave == 1:
            raise RuntimeError("commit failed")
        return commit(self, wave, *args, **kwargs)

    def labelled_fetch_join(*args, **kwargs):
        labels.append(sc.getLocalProperty("spark.job.description"))
        return fetch_join(*args, **kwargs)

    monkeypatch.setattr(CheckpointStore, "commit_wave", failing_commit)
    monkeypatch.setattr(wave_loop, "fetch_join", labelled_fetch_join)
    before = _persisted(spark)
    sc.setJobDescription("caller")
    try:
        with pytest.raises(RuntimeError, match="commit failed"):
            run_crawl(
                spark, pages_df, tiny["seeds"], JOB_DELTA, robots=robots_df,
                checkpoint_dir=str(tmp_path / "ck"),
            )
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setJobDescription(None)
    assert labels == ["wave 0 / fetch_extract", "wave 1 / fetch_extract"]
    assert _persisted(spark) - before == set()
