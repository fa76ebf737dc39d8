"""Round-3 scale mechanics (r02 verdict items 2/3/7/8 + advisories):

- incremental seen-prefilter maintenance on the stored bloom bank: a
  delta merge equals a full build over seen + delta; the per-wave
  filter job reads ONLY the wave's seen delta (never the full seen
  set), full rebuilds happen only on capacity resizes, and results
  stay identical to the scalar simulator's;
- seen-horizon aging: re-crawl actually occurs, and the bank's stale
  positives for aged-out URLs resolve exactly (parity with the
  no-filter run);
- scheduled-bound broadcast guard;
- pages pre-partitioned by url: no exchange above the cached html side
  in the non-broadcast fetch join;
- flipped exact resolution: parity, and seen is never shuffled.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from fscrawler_spark.operators.bankstore import StoredBank
from fscrawler_spark.operators.dedup import anti_join_seen
from fscrawler_spark.plans.job import CrawlJob
from fscrawler_spark.plans.wave_loop import (
    fetch_join,
    resolve_can_broadcast,
    run_crawl,
)


def _urls(spark, lo, hi, prefix="http://h/"):
    return spark.range(lo, hi).select(
        F.concat(F.lit(prefix), F.col("id")).alias("url")
    )


def _shard_payloads(spark, bank):
    return {
        int(r["shard"]): bytes(r["payload"]) for r in bank.bank_df(spark).collect()
    }


def _all_maybe_seen(bank, df):
    return bank.probe(df, "url").where(~F.col("_maybe_seen")).count() == 0


# --------------------------------------------------------------------------
# incremental bloom maintenance (unit level)


def test_bloom_delta_merge_equals_full_rebuild(spark, tmp_path):
    seen = _urls(spark, 0, 500)
    delta = _urls(spark, 500, 700)
    b0 = StoredBank.build(
        seen, "url", str(tmp_path / "inc"), n_items=2000, n_shards=8
    )
    b0.merge_delta(delta, "url")
    bfull = StoredBank.build(
        seen.unionByName(delta), "url", str(tmp_path / "full"),
        n_items=2000, n_shards=8,
    )
    assert (b0.n_bits, b0.n_hashes) == (bfull.n_bits, bfull.n_hashes)
    inc, full = _shard_payloads(spark, b0), _shard_payloads(spark, bfull)
    assert set(inc) == set(full)
    for s in full:
        assert inc[s] == full[s], s


# --------------------------------------------------------------------------
# wave-loop integration: delta-only maintenance + parity


def test_crawl_prefilter_delta_only_and_parity(
    spark, pages_df, robots_df, tiny, tmp_path, assert_matches_simulator
):
    job_inc = CrawlJob(politeness_budget=4, max_waves=4, use_bloom=True)
    r_inc = run_crawl(
        spark, pages_df, tiny["seeds"], job_inc, robots=robots_df,
        checkpoint_dir=str(tmp_path / "inc"),
    )
    assert_matches_simulator(r_inc, job_inc)
    # maintenance log: exactly one full build (first filtered wave);
    # every later update is a delta merge whose row count < total seen
    probe_actions = [t.get("prefilter", {}).get("action") for t in r_inc.timings]
    upd = [t["prefilter_update"] for t in r_inc.timings if "prefilter_update" in t]
    assert probe_actions.count("full_build") == 1
    assert upd, "no maintenance records"
    total_seen = r_inc.seen(spark).count()
    for u in upd:
        assert u["action"] == "delta_merge"
        assert u["rows_hashed"] < total_seen


# --------------------------------------------------------------------------
# seen-horizon aging


def _order(res, spark):
    return {
        (r["url"], r["wave"], r["rank_in_wave"])
        for r in res.results(spark).collect()
    }


def test_seen_horizon_recrawls_bank_parity(
    spark, pages_df, robots_df, tiny, tmp_path
):
    """Under a re-crawl horizon the bloom bank still holds aged-out
    URLs: they probe maybe-seen, fall through to the exact tier, which
    reads the horizon-filtered seen view and re-admits them — so the
    bank crawl equals the exact crawl, re-crawls included."""
    base = dict(
        politeness_budget=4, max_waves=6, seen_horizon_waves=2,
    )
    r_exact = run_crawl(
        spark, pages_df, tiny["seeds"], CrawlJob(**base, use_bloom=False),
        robots=robots_df, checkpoint_dir=str(tmp_path / "ex"),
    )
    r_bank = run_crawl(
        spark, pages_df, tiny["seeds"], CrawlJob(**base, use_bloom=True),
        robots=robots_df, checkpoint_dir=str(tmp_path / "bank"),
    )
    assert _order(r_exact, spark) == _order(r_bank, spark)
    # the horizon made at least one URL re-crawlable (appears in 2 waves)
    re_crawled = (
        r_exact.results(spark)
        .where("stage = 'EXTRACTED'")
        .groupBy("url")
        .count()
        .where("count > 1")
        .select("url")
    )
    assert re_crawled.count() > 0, "horizon produced no re-crawl; fixture too small?"
    # ... and the bank, never rebuilt, still answers maybe-seen for every
    # one of them: the re-crawls went through the exact tier
    actions = [t.get("prefilter", {}).get("action") for t in r_bank.timings]
    assert actions.count("full_build") == 1
    bank = StoredBank.open(str(tmp_path / "bank" / "prefilter"))
    assert _all_maybe_seen(bank, re_crawled)


# --------------------------------------------------------------------------
# scheduled-bound broadcast guard


def test_resolve_can_broadcast_uses_tightest_cheap_bound():
    calls = []

    def counter():
        calls.append(1)
        return 7

    # frontier small -> broadcast, no count
    assert resolve_can_broadcast(10, None, 100, counter) and not calls
    # huge frontier, tight wave_cap -> broadcast, STILL no count (r02 #7)
    assert resolve_can_broadcast(10**9, 50, 100, counter) and not calls
    # huge frontier, no cap -> exact count decides
    assert resolve_can_broadcast(10**9, None, 100, counter) and len(calls) == 1
    assert not resolve_can_broadcast(10**9, None, 5, counter)


# --------------------------------------------------------------------------
# pages pre-partitioned by url: fat side never re-shuffles


def test_prepartitioned_pages_no_fat_side_exchange(spark):
    pages = spark.range(0, 5000).select(
        F.concat(F.lit("http://h/"), F.col("id")).alias("url"),
        F.sha2(F.col("id").cast("string"), 256).cast("binary").alias("html"),
    )
    slim = _urls(spark, 0, 400)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pre = pages.repartition(8, "url").persist()
        pre.count()
        joined = fetch_join(pre, slim, can_broadcast=False)
        joined.count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # pages branch prints above its InMemoryTableScan: no Exchange
        # there means the html side reused the cached partitioning
        cut = plan.find("InMemoryTableScan")
        assert cut > 0, plan
        assert "Exchange" not in plan[:cut], plan[:cut]
        pre.unpersist()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


# --------------------------------------------------------------------------
# flipped exact resolution: seen is scanned, never shuffled


def test_flip_resolve_parity(spark, tmp_path):
    seen = _urls(spark, 0, 600)
    cand = _urls(spark, 300, 900)
    exact = {r["url"] for r in anti_join_seen(cand, seen).collect()}
    flip = {
        r["url"]
        for r in anti_join_seen(cand, seen, flip_broadcast=True).collect()
    }
    bank = StoredBank.build(
        seen, "url", str(tmp_path / "bank"), n_items=2400, n_shards=8
    )
    flip_bank = {
        r["url"]
        for r in anti_join_seen(
            cand, seen, bloom=bank, flip_broadcast=True
        ).collect()
    }
    assert flip == exact and flip_bank == exact


def test_flip_resolve_never_shuffles_seen(spark, tmp_path):
    """With auto-broadcast off (the 10^10-seen stand-in: seen is too
    big for Spark to broadcast on its own), the plain left_anti is a
    SortMergeJoin — the whole seen table crosses an exchange every
    wave — while the flipped plan stays exchange-free: seen feeds a
    BroadcastHashJoin LeftSemi probe as a pure scan."""
    seen = _urls(spark, 0, 5000)
    seen.write.mode("overwrite").parquet(str(tmp_path / "seen"))
    seen_pq = spark.read.parquet(str(tmp_path / "seen"))
    cand = _urls(spark, 4000, 6000)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plain = anti_join_seen(cand, seen_pq)
        plain.count()
        plan_plain = plain._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan_plain, plan_plain

        flip = anti_join_seen(cand, seen_pq, flip_broadcast=True)
        flip.count()
        plan_flip = flip._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan_flip, plan_flip
        # BroadcastExchange is fine (that's the point); a shuffle of the
        # seen scan would print as "Exchange hashpartitioning"
        assert "Exchange hashpartitioning" not in plan_flip, plan_flip
        assert "BroadcastHashJoin" in plan_flip and "LeftSemi" in plan_flip
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
