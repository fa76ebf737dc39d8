"""Storage-resident prefilter bank (operators/bankstore.py) — the one
home of the seen prefilter; the bank never transits the driver:

* probe parity: the two-tier result (table-scan-fed cogroup probe +
  exact tier) equals the exact join;
* one blob row per shard: a probe task holds 1/n_shards of the bank;
* one live version: every merge writes the next version dir in full
  and deletes the rest, and a reopened handle reads the same bank;
* the driver never holds payload bytes (meta.json is ints only);
* wave-loop e2e parity with the scalar simulator + resume-reload (no
  rebuild), and a full build instead of a reload for a stored bank that
  is not bloom or has an older layout.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from fscrawler_spark.operators.bankstore import StoredBank
from fscrawler_spark.operators.dedup import anti_join_seen
from fscrawler_spark.plans.job import CrawlJob
from fscrawler_spark.plans.wave_loop import run_crawl


def _urls(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.concat(F.lit("http://h"), (F.col("id") % 50).cast("string"),
                 F.lit("/p"), F.col("id").cast("string")).alias("url")
    )


@pytest.mark.parametrize("kind", ["bloom"])
def test_stored_probe_two_tier_parity(spark, tmp_path, kind):
    seen = _urls(spark, 0, 600)
    cand = _urls(spark, 300, 900)
    bank = StoredBank.build(
        seen, "url", str(tmp_path / "bank"), n_items=2400, n_shards=8
    )
    assert StoredBank.open(bank.path).kind == kind
    exact = {r["url"] for r in anti_join_seen(cand, seen).collect()}
    stored = {
        r["url"] for r in anti_join_seen(cand, seen, bloom=bank).collect()
    }
    assert stored == exact
    # the prefilter must pass every truly-seen url to the exact tier:
    # no true-seen candidate may be tagged definitely-unseen
    tagged = bank.probe(cand, "url")
    missed = (
        tagged.where(~F.col("_maybe_seen"))
        .join(seen, "url", "left_semi")
        .count()
    )
    assert missed == 0


def test_stored_bank_one_row_per_shard(spark, tmp_path):
    """The bank table has exactly one blob row per shard, so a cogroup
    probe task holds 1/n_shards of the bank's bytes by construction;
    per-shard payload must be well under the bank total."""
    bank = StoredBank.build(
        _urls(spark, 0, 4000), "url", str(tmp_path / "bank"),
        n_items=8000, n_shards=8,
    )
    rows = bank.bank_df(spark).collect()
    assert sorted(int(r["shard"]) for r in rows) == list(range(8))
    per_shard = max(len(r["payload"]) for r in rows)
    assert per_shard * 4 <= sum(len(r["payload"]) for r in rows)


def test_driver_holds_no_payload_bytes(spark, tmp_path):
    bank = StoredBank.build(
        _urls(spark, 0, 2000), "url", str(tmp_path / "bank"),
        n_items=8000, n_shards=8,
    )
    # the handle object carries no payload
    for v in vars(bank).values():
        assert not isinstance(v, (bytes, bytearray))
        if isinstance(v, dict):
            assert all(not isinstance(x, (bytes, bytearray)) for x in v.values())
    # meta.json is ints/strings only, and the blobs live on storage
    with open(os.path.join(bank.path, "meta.json")) as fh:
        meta = json.load(fh)
    assert "payload" not in json.dumps(meta)


def test_auto_compaction_bounds_versions_and_keeps_parity(spark, tmp_path):
    """No compaction is needed: six merges leave exactly one version dir on disk, the one
    meta.json names, and two-tier == exact through the handle and
    through a reopened one."""
    seen = _urls(spark, 0, 300)
    bank = StoredBank.build(
        seen, "url", str(tmp_path / "bank"), n_items=8000, n_shards=4,
    )
    total = seen
    for i in range(6):
        d = _urls(spark, 300 + i * 25, 325 + i * 25)
        bank.merge_delta(d, "url")
        total = total.unionByName(d)
    assert bank.version == 6
    on_disk = {d for d in os.listdir(bank.path) if d.startswith("v")}
    assert on_disk == {"v6"}
    cand = _urls(spark, 200, 600)
    exact = {r["url"] for r in anti_join_seen(cand, total).collect()}
    stored = {
        r["url"] for r in anti_join_seen(cand, total, bloom=bank).collect()
    }
    assert stored == exact
    # a reopened handle sees the same state (meta round-trip)
    re = StoredBank.open(bank.path)
    assert re.version == 6
    stored2 = {
        r["url"] for r in anti_join_seen(cand, total, bloom=re).collect()
    }
    assert stored2 == exact


# --------------------------------------------------------------------------
# wave-loop e2e


@pytest.mark.parametrize("kind", ["bloom"])
def test_crawl_stored_bank_e2e_parity(
    spark, pages_df, robots_df, tiny, tmp_path, kind, assert_matches_simulator
):
    job = CrawlJob(politeness_budget=4, max_waves=4, use_bloom=True)
    r_tab = run_crawl(
        spark, pages_df, tiny["seeds"], job,
        robots=robots_df, checkpoint_dir=str(tmp_path / "tab"),
    )
    assert_matches_simulator(r_tab, job)
    # the bank table lives inside the checkpoint dir and was
    # incrementally maintained (one build + per-wave delta merges)
    assert StoredBank.open(str(tmp_path / "tab" / "prefilter")).kind == kind
    probe_actions = [t.get("prefilter", {}).get("action") for t in r_tab.timings]
    assert probe_actions.count("full_build") == 1
    upd = [t["prefilter_update"] for t in r_tab.timings if "prefilter_update" in t]
    assert upd and all(u["action"] == "delta_merge" for u in upd)


def test_crawl_stored_bank_resume_reloads_not_rebuilds(
    spark, pages_df, robots_df, tiny, tmp_path, assert_matches_simulator
):
    base = dict(politeness_budget=4, use_bloom=True)
    ck = str(tmp_path / "ck")
    run_crawl(
        spark, pages_df, tiny["seeds"], CrawlJob(**base, max_waves=2),
        robots=robots_df, checkpoint_dir=ck,
    )
    job = CrawlJob(**base, max_waves=5)
    r2 = run_crawl(
        spark, pages_df, tiny["seeds"], job,
        robots=robots_df, checkpoint_dir=ck, resume=True,
    )
    actions = [t.get("prefilter", {}).get("action") for t in r2.timings]
    assert actions[0] == "loaded", f"resume rebuilt the bank: {actions}"
    assert "full_build" not in actions
    # resumed run == one uninterrupted run
    assert_matches_simulator(r2, job)


def test_crawl_stored_bank_reload_replays_missed_delta(
    spark, pages_df, robots_df, tiny, tmp_path, assert_matches_simulator
):
    """Crash between wave commit and bank save: the bank's merged_upto
    lags the committed waves; the resume reconcile replays the missing
    seen-delta before probing."""
    base = dict(politeness_budget=4, use_bloom=True)
    ck = str(tmp_path / "ck")
    run_crawl(
        spark, pages_df, tiny["seeds"], CrawlJob(**base, max_waves=3),
        robots=robots_df, checkpoint_dir=ck,
    )
    # simulate the crash window: roll merged_upto back one wave
    bank = StoredBank.open(os.path.join(ck, "prefilter"))
    assert bank.merged_upto == 2
    bank.merged_upto = 1
    bank.save()
    job = CrawlJob(**base, max_waves=5)
    r2 = run_crawl(
        spark, pages_df, tiny["seeds"], job,
        robots=robots_df, checkpoint_dir=ck, resume=True,
    )
    first = next(t["prefilter"] for t in r2.timings if "prefilter" in t)
    assert first["action"] == "loaded"
    # the replayed delta re-inserts wave 2's cohort (idempotent for the
    # filter: double-inserted fingerprints only cost false-positive rate)
    assert first["rows_hashed"] > 0
    assert_matches_simulator(r2, job)


def test_crawl_full10_regime_parity(
    spark, pages_df, robots_df, tiny, tmp_path, assert_matches_simulator
):
    """The COMPLETE 10^10-URL knob set, on together (VERDICT r3 #6):
    stored bloom bank + horizon aging machinery + flip-gated exact
    resolution + delta frontier.  With the horizon == max_waves no
    cohort ages out inside the run, so the schedule must equal the
    all-defaults crawl exactly."""
    base = dict(politeness_budget=4, max_waves=4)
    r_f10 = run_crawl(
        spark, pages_df, tiny["seeds"],
        CrawlJob(
            **base, use_bloom=True, seen_horizon_waves=4,
        ),
        robots=robots_df, checkpoint_dir=str(tmp_path / "f10"),
    )
    assert_matches_simulator(r_f10, CrawlJob(**base))
    # every feature actually engaged
    assert StoredBank.exists(str(tmp_path / "f10" / "prefilter"))
    assert {t.get("frontier_kind") for t in r_f10.timings} == {"delta"}
    upd = [t for t in r_f10.timings if "prefilter_update" in t]
    assert upd, "stored bank never delta-merged"


def test_merge_delta_meta_updates_single_atomic_save(spark, tmp_path, monkeypatch):
    """Crawl lineage (merged_upto/n_added) must land in the SAME
    meta.json write that repoints the payloads — a crash between two
    separate saves would leave a bank whose blobs hold a delta its
    lineage does not claim.  merge_delta(meta_updates=...) does exactly
    one save, and a reopened bank sees payloads and lineage together."""
    seen = _urls(spark, 0, 300)
    bank = StoredBank.build(
        seen, "url", str(tmp_path / "bank"), n_items=4000, n_shards=4,
    )
    saves = []
    orig = StoredBank.save

    def spy(self):
        saves.append((self.merged_upto, self.n_added))
        orig(self)

    monkeypatch.setattr(StoredBank, "save", spy)
    delta = _urls(spark, 300, 360)
    bank.merge_delta(
        delta, "url", meta_updates={"n_added": 360, "merged_upto": 3},
    )
    assert len(saves) == 1
    assert saves[0] == (3, 360)  # lineage inside THE save
    monkeypatch.setattr(StoredBank, "save", orig)

    reopened = StoredBank.open(str(tmp_path / "bank"))
    assert reopened.merged_upto == 3
    assert reopened.n_added == 360
    # and the payload repoint is in the same meta: the delta's urls
    # now probe maybe-seen through the reopened handle
    tagged = reopened.probe(delta, "url")
    assert tagged.where(~F.col("_maybe_seen")).count() == 0

    # an EMPTY delta still advances the lineage atomically
    empty = _urls(spark, 0, 0)
    reopened.merge_delta(empty, "url", meta_updates={"merged_upto": 4})
    again = StoredBank.open(str(tmp_path / "bank"))
    assert again.merged_upto == 4 and again.n_added == 360


@pytest.mark.parametrize(
    "stale_meta",
    [
        {"kind": "legacy"},
        # an older build's per-shard version manifest, no live version
        {"version": None, "shard_versions": {"0": 0}, "next_version": 1},
    ],
    ids=["non_bloom", "old_layout"],
)
def test_crawl_resume_rebuilds_a_non_bloom_bank(
    spark, pages_df, robots_df, tiny, tmp_path, stale_meta
):
    """A stored bank whose meta.json kind is not "bloom" (an older
    build's filter), or whose meta names no live version (an older
    build's per-shard manifest layout), cannot be read as this layout's
    bloom bits without false negatives: the resume treats it as absent
    and does the one full build instead of reloading it."""
    base = dict(politeness_budget=4, use_bloom=True)
    ck = str(tmp_path / "ck")
    run_crawl(
        spark, pages_df, tiny["seeds"], CrawlJob(**base, max_waves=2),
        robots=robots_df, checkpoint_dir=ck,
    )
    meta_path = os.path.join(ck, "prefilter", "meta.json")
    with open(meta_path) as fh:
        meta = json.load(fh)
    meta.update(stale_meta)
    if meta["version"] is None:
        del meta["version"]
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)
    r2 = run_crawl(
        spark, pages_df, tiny["seeds"], CrawlJob(**base, max_waves=3),
        robots=robots_df, checkpoint_dir=ck, resume=True,
    )
    assert r2.timings[0]["prefilter"]["action"] == "full_build"
    rebuilt = StoredBank.open(os.path.join(ck, "prefilter"))
    assert rebuilt.kind == "bloom" and rebuilt.version is not None
