"""The wave loop — the crawl driver program (SURVEY §3.1 translation).

FsCrawler's recursive DFS + producer/consumer threads collapse into an
iterative sequence of declarative DataFrame passes; one wave =

  frontier (QUEUED)
    -> seen anti-join                 (J2 — skip already-examined)
    -> stat join vs pages             (the os.scandir/stat analog)
    -> missing -> ERROR               (error containment, D4)
    -> skip-filter AND chain          (F1..F11; deny prunes the subtree)
    -> robots deny prefixes           (.crawlerignore analog)
    -> politeness window              (salted per-host top-k budget)
    -> fetch join (html) + extract    (C4/C5/C6/C8 processors)
    -> notify-filter OR gate -> results
    -> link expansion -> next frontier (merged with deferred rows)
    -> checkpoint commit (wave = the only commit point)

Everything except the loop control runs JVM-side / Arrow-batched; the
driver never touches row data (no collect in the data path — the only
driver materializations are per-wave counter rows and the config-scale
seed list).

Determinism (SURVEY §7.3): wave membership and ranks depend only on
total-order sort keys (priority, host, url) — identical at any
parallelism, which is what the two-cluster-size scaling check relies on.
"""

from __future__ import annotations

import os
import tempfile
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from fscrawler_spark.filters.builders import and_all, or_any
from fscrawler_spark.functions.extract import processor_columns
from fscrawler_spark.functions.urls import (
    url_depth,
    url_host,
    url_normalize,
    url_path,
)
from fscrawler_spark.operators.bankstore import StoredBank
from fscrawler_spark.operators.dedup import anti_join_seen
from fscrawler_spark.operators.links import expand_from_hrefs
from fscrawler_spark.operators.politeness import politeness_take, wave_rank
from fscrawler_spark.plans.job import CrawlJob, accept_seeds
from fscrawler_spark.plans.storage import CheckpointStore

_FRONTIER_COLS = ["url", "host", "depth", "priority", "seed_id"]

# Flip the EXACT tier of the seen anti-join to the seen-scan-only
# broadcast semi/anti pair (dedup._flip_resolve) only when the seen
# table is at least this many times the pending frontier.  Above the
# ratio the plain left_anti sort-merge re-shuffles a seen side far
# bigger than the candidates (the 10^10-seen regime — the flip removes
# that entirely); below it the two sides are comparable, a same-size
# SMJ is cheap, and two per-wave driver broadcasts are pure overhead
# (measured: +67% plan_build on the 4N scaling leg when flipping at
# seen:frontier ~ 2:1).  The frontier must also be under
# CrawlJob.broadcast_wave_threshold for the flip to be safe.
FLIP_SEEN_FACTOR = 4.0
# The prefilter bank is built once sized for PREFILTER_CAPACITY_FACTOR
# x the current seen count at BLOOM_FPP, then maintained from per-wave
# deltas; a full rebuild happens only when the count outgrows capacity
# (geometric growth -> O(log n) rebuilds over a crawl, amortized O(n)).
# A false positive only costs the exact tier a row, never an output.
BLOOM_FPP = 0.01
PREFILTER_CAPACITY_FACTOR = 8.0
# Salt buckets of the politeness window's phase 1 on large waves.
SALT_BUCKETS = 32
# Waves whose pending frontier is below this row count take the
# small-wave physical path (no salt phase, single-window rank) —
# identical results, fewer shuffles.  The crossover only matters for
# job-overhead-dominated waves.
SMALL_WAVE_ROWS = 100_000


@dataclass
class CrawlResult:
    store: CheckpointStore
    waves_run: int
    stats: dict = field(default_factory=dict)
    # One dict per wave; wall seconds unless noted.  Each phase key is
    # one _phase interval (its Spark jobs are labelled "wave N / <key>"),
    # covering both building that phase's plan and materializing it:
    #   admit            wave start -> `stat` checkpoint (bank open, seen
    #                    anti-join, stat join, robots decision)
    #   schedule         -> `ranked` checkpoint (waterfill, politeness)
    #   fetch_extract    -> `pre_rank` checkpoint (fetch join + UDFs)
    #   rank             -> `extracted` checkpoint (wave_rank join-back)
    #   collect_metrics  the per-status counter collect
    #   write_phase      the three concurrent writes together
    #   lineage_commit   lineage collect + metrics/marker commit
    #   reload_state     next frontier + seen view, checkpoint release
    # and
    #   write_results / write_seen / write_frontier  per-table writes
    #   frontier_kind    "full" | "delta" (a string, not seconds)
    #   prefilter        bank open/reuse record {action, rows_hashed}
    #   prefilter_update bank maintenance record {action, rows_hashed,
    #                    secs} (its secs: the upkeep phase)
    #   wave             the wave number
    #   wall             wave start -> end of the wave's bookkeeping
    timings: list[dict] = field(default_factory=list)

    def results(self, spark: SparkSession) -> DataFrame | None:
        return self.store.read_results(spark)

    def seen(self, spark: SparkSession) -> DataFrame | None:
        return self.store.read_seen(spark)

    def metrics(self, spark: SparkSession) -> DataFrame | None:
        return self.store.read_metrics(spark)


def _release(checkpointed: DataFrame | None) -> None:
    """Free a localCheckpoint's executor blocks now.  DataFrame.unpersist()
    does nothing here: a checkpointed frame's plan is a LogicalRDD leaf,
    not a cached relation, so the leaf's RDD is unpersisted instead."""
    if checkpointed is not None:
        checkpointed._jdf.logicalPlan().rdd().unpersist(False)


def seeds_to_frontier(spark: SparkSession, seed_rows: list[dict]) -> DataFrame:
    """Wave-0 frontier from the accepted seed list (driver-side config)."""
    accepted = accept_seeds(seed_rows)
    df = spark.createDataFrame(
        [(r["url"], r["seed_id"]) for r in accepted], "url string, seed_id int"
    )
    return df.select(
        url_normalize(F.col("url")).alias("url"),
        url_host(url_normalize(F.col("url"))).alias("host"),
        url_depth(F.col("url")).alias("depth"),
        url_depth(F.col("url")).alias("priority"),
        "seed_id",
    )


def resolve_can_broadcast(
    frontier_n: int,
    wave_cap: int | None,
    threshold: int,
    scheduled_count_fn,
) -> bool:
    """Decide the fetch-join strategy from the SCHEDULED set's bound
    (r02 advisory): the pending-frontier size is a cheap upper bound, a
    wave_cap is a tighter one, and only when both exceed the threshold
    is the exact scheduled count (one scan of the already-checkpointed
    ranked frame) consulted — so a huge frontier under a tight budget
    keeps the fast broadcast probe without ever calling the counter."""
    if frontier_n <= threshold:
        return True
    if wave_cap is not None and wave_cap <= threshold:
        return True
    return scheduled_count_fn() <= threshold


def fetch_join(
    pages: DataFrame, sched_slim: DataFrame, can_broadcast: bool
) -> DataFrame:
    """The wave's only html-reading join.  Broadcast regime probes the
    pages scan in place (no shuffle of html bytes); above the wave
    threshold the hard broadcast hint is dropped and AQE chooses."""
    return pages.join(
        F.broadcast(sched_slim) if can_broadcast else sched_slim, "url", "inner"
    )


def _stat_join(queued: DataFrame, pages_meta: DataFrame) -> DataFrame:
    """Left join against page metadata — the scandir/stat analog.  A miss
    (dangling link) is the web analog of a scan error (D4)."""
    return queued.join(pages_meta, "url", "left").withColumn(
        "is_missing", F.col("size").isNull() & F.col("warc_ts").isNull()
    )


def _merge_frontier(children: DataFrame, deferred: DataFrame) -> DataFrame:
    """Next-wave frontier: children U deferred, one row per URL keeping
    the lexicographically-min (depth, priority, seed_id) struct —
    earliest/shallowest discovery wins (simulator semantics, SURVEY
    §7.3).  Struct-min is associative + commutative, which is what lets
    the delta-frontier replay recompose the same frontier from
    per-wave children deltas."""
    return (
        children.select(*_FRONTIER_COLS)
        .unionByName(deferred.select(*_FRONTIER_COLS))
        .groupBy("url", "host")
        .agg(F.min(F.struct("depth", "priority", "seed_id")).alias("_m"))
        .select(
            "url", "host",
            F.col("_m.depth").alias("depth"),
            F.col("_m.priority").alias("priority"),
            F.col("_m.seed_id").alias("seed_id"),
        )
    )


def _committed_seen(
    spark: SparkSession,
    store: CheckpointStore,
    wave_now: int,
    horizon: int | None,
    seen_init: DataFrame | None,
    upto: int | None = None,
) -> DataFrame | None:
    """The seen-set view wave `wave_now`'s anti-join uses: committed
    per-wave deltas (restricted to waves <= upto when replaying
    history) + the warm-start seen_init as a wave=-1 cohort.

    With a horizon k (seen_horizon_waves), only the last k cohorts block
    re-scheduling (a URL seen in wave w is retained while
    w >= wave_now - k): older URLs age out of the exact table and become
    re-crawlable.  The bloom prefilter keeps them until its next
    rebuild; meanwhile they are stale positives, which the exact tier
    (this view) resolves as unseen."""
    committed = store.read_seen(spark, upto=upto)
    if committed is not None and horizon is not None:
        committed = committed.where(F.col("wave") >= F.lit(wave_now - horizon))
    if seen_init is None or (horizon is not None and -1 < wave_now - horizon):
        return committed
    base = seen_init.select("url").withColumn("wave", F.lit(-1))
    if committed is None:
        return base
    return committed.select("url", "wave").unionByName(base)


def reconstruct_frontier(
    spark: SparkSession,
    store: CheckpointStore,
    upto_wave: int,
    seed_frontier: DataFrame,
    horizon: int | None = None,
    seen_init: DataFrame | None = None,
) -> DataFrame:
    """Frontier AFTER wave `upto_wave` from a delta-mode checkpoint:
    start at the newest full snapshot <= upto_wave (or the seed
    frontier when none exists) and replay each later wave w as

        frontier_{w+1} = merge(children_w,
                               frontier_w ANTI-JOIN seen_as_of_{w+1})

    which is exactly what the live loop computes: rows leave the
    frontier either at the wave's seen anti-join (url seen in an
    earlier wave) or by being examined (url lands in wave w's own seen
    delta).  The anti-join view is the one the LIVE wave-w anti-join
    used — wave_now=w, so its horizon bound keeps cohort w-h — plus
    wave w's own delta, which the 'deltas <= w at horizon >= w-h'
    read already contains (w >= w-h).  Using the post-wave view
    (wave_now=w+1) instead would drop cohort w-h a wave early and
    resurrect rows the live loop removed.  The view is rebuilt per
    replayed wave (not once at the end) so seen_horizon_waves aging
    replays exactly.  The whole replay is one lazy plan over <=
    frontier_compact_every delta files."""
    waves = [w for w in store.committed_waves() if w <= upto_wave]
    base_wave = max(
        (w for w in waves if store.has_full_frontier(w)), default=None
    )
    if base_wave is None:
        fr = seed_frontier
        replay = waves
    else:
        fr = store.read_frontier(spark, base_wave)
        replay = [w for w in waves if w > base_wave]
    for w in replay:
        seen = _committed_seen(
            spark, store, wave_now=w, horizon=horizon,
            seen_init=seen_init, upto=w,
        )
        if seen is not None:
            fr = fr.join(seen.select("url"), "url", "left_anti")
        fr = _merge_frontier(store.read_frontier_delta(spark, w), fr)
    return fr


def _open_bank(
    spark: SparkSession,
    store: CheckpointStore,
    wave: int,
    reload: bool,
    seen_df: DataFrame,
    seen_count: int,
) -> tuple[StoredBank, dict]:
    """The prefilter bank for wave `wave`, plus its log record.

    reload (first wave of a resume): reopen the bank a previous run
    left in the checkpoint dir — at 10^10 URLs the reload-vs-rebuild
    difference is the whole seen set.  Its merged_upto lineage says
    which committed seen-deltas it already holds; any it missed (killed
    between wave commit and bank save) are replayed as ordinary delta
    merges.  A stored bank whose kind is not "bloom" (an older build's
    other filter) or whose meta names no live version (an older
    build's per-shard manifest layout) counts as absent: read as this
    layout's bloom bits it would give false negatives.  Otherwise
    (fresh crawl, such a bank, or a capacity resize) this is the ONLY
    full build, sized with PREFILTER_CAPACITY_FACTOR headroom."""
    path = os.path.join(store.root, "prefilter")
    if reload and StoredBank.exists(path):
        bank = StoredBank.open(path)
        if bank.kind == "bloom" and bank.version is not None:
            replayed = 0
            for w in store.committed_waves():
                if bank.merged_upto < w < wave:
                    d = store.read_seen_delta(spark, w)
                    dn = d.count()
                    # lineage rides the merge's atomic save: a crash
                    # mid-replay never leaves a delta half-claimed
                    bank.merge_delta(
                        d, "url",
                        meta_updates={"n_added": bank.n_added + dn, "merged_upto": w},
                    )
                    replayed += dn
            return bank, {"action": "loaded", "rows_hashed": replayed}
    capacity = max(int(PREFILTER_CAPACITY_FACTOR * max(seen_count, 1)), 4096)
    bank = StoredBank.build(seen_df, "url", path, n_items=capacity, fpp=BLOOM_FPP)
    bank.n_added, bank.merged_upto = seen_count, wave - 1
    bank.save()
    return bank, {"action": "full_build", "rows_hashed": seen_count}


def _maintain_bank(
    spark: SparkSession,
    store: CheckpointStore,
    bank: StoredBank,
    wave: int,
    delta_n: int,
) -> dict:
    """Fold wave `wave`'s committed seen delta (`delta_n` rows, the
    wave's examined count) into the bank and return the log record.
    The merge is one executor-side cogroup writing the bank's next
    version; the lineage (n_added, merged_upto — what lets a resumed
    run reload instead of rebuild) rides the same atomic meta write
    that switches to it.  The O(|seen|) work happens only on capacity
    resizes: action "rebuild_scheduled" tells the caller to drop the
    bank so the next filtered wave does a full build — which, built
    from the horizon-filtered seen view, is also where URLs aged out by
    seen_horizon_waves leave the bank."""
    if bank.n_added + delta_n > bank.capacity_items:
        return {"action": "rebuild_scheduled", "rows_hashed": delta_n}
    bank.merge_delta(
        store.read_seen_delta(spark, wave), "url",
        meta_updates={"n_added": bank.n_added + delta_n, "merged_upto": wave},
    )
    return {"action": "delta_merge", "rows_hashed": delta_n}


@dataclass(frozen=True)
class _Crawl:
    """What stays fixed for one run_crawl call."""

    spark: SparkSession
    store: CheckpointStore
    job: CrawlJob
    pages: DataFrame
    pages_meta: DataFrame
    rules_arr: DataFrame | None
    host_budgets: DataFrame | None
    seed_dim: DataFrame | None
    seen_init: DataFrame | None
    skip_pred: Column
    notify_pred: Column


@dataclass
class WaveState:
    """What one wave hands the next."""

    frontier: DataFrame | None = None
    # the frontier when it is a localCheckpoint (not a committed snapshot
    # or the seed list); released once the next frontier exists
    frontier_ckpt: DataFrame | None = None
    frontier_n: int = 0
    seen: DataFrame | None = None  # the anti-join's seen view, if any
    # rows per seen cohort (its wave; seen_init is -1): the in-horizon
    # sum sizes the bank and gates the flip, so aged-out cohorts stop
    # counting (r03 advisory)
    seen_cohorts: dict[int, int] = field(default_factory=dict)
    # the prefilter bank: opened or built on the first filtered wave,
    # then fed per-wave seen deltas; None after a capacity resize, so the
    # next wave does a full build
    bank: StoredBank | None = None
    carry: int = 0  # global-budget carryover credit (reset on resume)
    # this wave's materialization points (`stat`, `ranked`, `pre_rank`,
    # `extracted`); released after commit_wave
    ckpts: list[DataFrame] = field(default_factory=list)

    def checkpoint(self, df: DataFrame) -> DataFrame:
        self.ckpts.append(df.localCheckpoint(eager=True))
        return self.ckpts[-1]

    def release(self) -> None:
        while self.ckpts:
            _release(self.ckpts.pop())

    def seen_count(self, wave: int, horizon: int | None) -> int:
        """Rows of wave `wave`'s seen view (_committed_seen's bound)."""
        return sum(
            n for w, n in self.seen_cohorts.items()
            if horizon is None or w >= wave - horizon
        )


@contextmanager
def _phase(timings: dict, wave: int, name: str):
    """One wave phase: its wall seconds go to timings[name], the Spark
    jobs it starts carry the description "wave N / name", and the
    caller's description is restored on exit, also on a raise.  Yields
    the phase's start time."""
    sc = SparkContext.getOrCreate()
    outer = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(f"wave {wave} / {name}")
    t0 = time.time()
    try:
        yield t0
    finally:
        timings[name] = round(time.time() - t0, 3)
        sc.setJobDescription(outer)


def _robots_rules(robots: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(rules_arr, host_budgets) from the robots table; the caller
    unpersists rules_arr.  REP longest-match precedence: BOTH allow and
    deny prefixes participate, the longest matching prefix decides, an
    allow winning ties ('Disallow: /' + 'Allow: /public' keeps /public
    crawlable — r01 advisory).  Crawl-delay rows are budget metadata,
    not path rules.  Shape (r03 — the r02 gate cost ~10% of the whole
    crawl): rules collapse ONCE into one array row per DENY-governed
    host (allow-only hosts can never deny); each wave broadcast-joins
    the array and decides per URL with higher-order functions — a pure
    projection, no per-wave groupBy shuffle and no hit-set join-backs."""
    path_rules = robots.where(F.col("crawl_delay_tokens").isNull()).select(
        "host", "path_prefix", "allow"
    )
    governed = path_rules.where(~F.col("allow")).select("host").distinct()
    rules_arr = (
        path_rules.join(governed, "host", "left_semi")
        .groupBy("host")
        .agg(F.collect_list(F.struct("path_prefix", "allow")).alias("_rules"))
    ).persist()
    host_budgets = (
        robots.where(F.col("allow") & F.col("crawl_delay_tokens").isNotNull())
        .groupBy("host")
        .agg(F.min("crawl_delay_tokens").alias("tokens"))
    )
    return rules_arr, host_budgets


def _with_rep_decision(stat: DataFrame, rules_arr: DataFrame) -> DataFrame:
    """Longest-match REP as a projection: `_rep_denied` iff the longest
    matching deny prefix is strictly longer than the longest matching
    allow prefix (tie -> allow; no matching deny or no rules -> allow).
    `_path` is computed once as a column BEFORE the lambdas — Catalyst
    does no CSE inside higher-order-function lambdas, so inlining the
    regex would re-run it per rule element."""

    def longest(want_allow: bool):
        return F.array_max(
            F.transform(
                F.filter(
                    F.col("_rules"),
                    lambda r: (r["allow"] == F.lit(want_allow))
                    & F.col("_path").startswith(r["path_prefix"]),
                ),
                lambda r: F.length(r["path_prefix"]),
            )
        )

    return (
        stat.join(F.broadcast(rules_arr), "host", "left")
        .withColumn("_path", url_path(F.col("url")))
        .withColumn(
            "_rep_denied",
            F.coalesce(
                longest(False) > F.coalesce(longest(True), F.lit(-1)), F.lit(False)
            ),
        )
        .drop("_rules", "_path")
    )


def _start(c: _Crawl, st: WaveState, seed_rows: list[dict], resume: bool) -> int:
    """Load the first wave's frontier, seen view and seen cohorts into
    `st` (fresh, or after the last commit marker); return that wave.
    One groupBy collect counts every cohort of the seen view."""
    spark, store, job = c.spark, c.store, c.job
    start_wave = 0
    if resume and store.last_wave() is not None:
        lw = store.last_wave()
        start_wave = lw + 1
        if store.has_full_frontier(lw):
            st.frontier = store.read_frontier(spark, lw)
        else:
            # the last wave wasn't a compaction:
            # replay (last snapshot + children deltas + seen anti-joins)
            st.frontier = st.frontier_ckpt = reconstruct_frontier(
                spark, store, lw, seeds_to_frontier(spark, seed_rows),
                horizon=job.seen_horizon_waves, seen_init=c.seen_init,
            ).localCheckpoint(eager=True)
        st.frontier_n = st.frontier.count()  # parquet-footer count, cheap
    else:
        st.frontier = seeds_to_frontier(spark, seed_rows)
        st.frontier_n = len(accept_seeds(seed_rows))
    st.seen = _committed_seen(spark, store, start_wave, job.seen_horizon_waves, c.seen_init)
    if st.seen is not None:
        st.seen_cohorts = {
            r["wave"]: r["count"] for r in st.seen.groupBy("wave").count().collect()
        }
    return start_wave


def _admit(
    c: _Crawl, st: WaveState, wave: int, t: dict, reload: bool
) -> tuple[DataFrame, ...]:
    """Seen anti-join (J2; two-tier with the bank) + stat join + the
    robots decision, checkpointed as `stat`; returns (missing, skipped,
    robots_denied, authorized), pure filters over that leaf.  A
    skip-filter deny prunes the subtree; robots decide among the rows
    the filters pass.  The REP decision is baked in BEFORE the
    checkpoint, so the rules join + longest-match lambdas run exactly
    once per row.  (r02's hit-set shape — broadcast joins + groupBy(url)
    + semi/anti join-backs, re-executed per consumer — was re-measured
    as the whole of round 2's crawl regression.)"""
    job = c.job
    new = st.frontier.select(*_FRONTIER_COLS)
    if st.seen is not None:
        seen_count = st.seen_count(wave, job.seen_horizon_waves)
        if job.use_bloom and st.bank is None:
            st.bank, t["prefilter"] = _open_bank(
                c.spark, c.store, wave, reload, st.seen, seen_count
            )
        elif job.use_bloom:
            t["prefilter"] = {"action": "reuse", "rows_hashed": 0}
        # Exact-resolution strategy: when the pending frontier is
        # broadcast-bounded AND the seen table dwarfs it
        # (FLIP_SEEN_FACTOR), flip the anti-join so the seen table is
        # scanned but NEVER shuffled (at 10^10 seen URLs the plain
        # left_anti re-shuffles all of seen every wave — Spark cannot
        # broadcast-build the left side of an anti).  At comparable
        # sizes the plain SMJ is cheaper than two per-wave broadcasts,
        # so the gate keeps it.
        new = anti_join_seen(
            new, st.seen, "url", st.bank,
            flip_broadcast=(
                st.frontier_n <= job.broadcast_wave_threshold
                and seen_count >= FLIP_SEEN_FACTOR * max(st.frontier_n, 1)
            ),
        )
    stat = _stat_join(new, c.pages_meta)
    if c.rules_arr is None:
        # a literal after the checkpoint: the robots-denied branches
        # are empty relations Catalyst prunes from every plan
        stat = st.checkpoint(stat).withColumn("_rep_denied", F.lit(False))
    else:
        stat = st.checkpoint(_with_rep_decision(stat, c.rules_arr))
    keep = F.coalesce(c.skip_pred, F.lit(False))
    present = stat.where(~F.col("is_missing")).drop("is_missing")
    passed = present.where(keep)
    return (
        stat.where(F.col("is_missing")),
        present.where(~keep).drop("_rep_denied"),
        passed.where(F.col("_rep_denied")).drop("_rep_denied"),
        passed.where(~F.col("_rep_denied")).drop("_rep_denied"),
    )


def _schedule(
    c: _Crawl, st: WaveState, authorized: DataFrame, small: bool
) -> tuple[DataFrame, int | None]:
    """Politeness window, checkpointed as `ranked`; returns it with the
    wave's effective global budget (None when off).  The optional
    global tier water-fills ONE wave capacity across hosts (max-min
    fair, operators/politeness.py) into per-host budgets, demand capped
    first at each host's politeness/crawl-delay budget so no allocation
    is unspendable; the demand rollup re-reads the checkpointed `stat`
    leaf.  Small waves skip the salt phase (same results, fewer jobs)."""
    job = c.job
    budgets, gwb_eff = c.host_budgets, None
    if job.global_wave_budget is not None:
        from fscrawler_spark.operators.politeness import waterfill_budget

        gwb_eff = job.global_wave_budget + st.carry
        dem = authorized.groupBy("host").agg(F.count("*").cast("long").alias("_n"))
        cap = F.lit(job.politeness_budget).cast("long")
        if c.host_budgets is not None:
            dem = dem.join(
                F.broadcast(c.host_budgets.select("host", "tokens")), "host", "left"
            )
            cap = F.coalesce(F.col("tokens"), cap)
        dem = dem.select("host", F.least(F.col("_n"), cap).alias("demand"))
        budgets = waterfill_budget(dem, ["host"], "demand", gwb_eff).select(
            "host", F.col("alloc").cast("int").alias("tokens")
        )
    ranked = st.checkpoint(politeness_take(
        authorized, job.politeness_budget, budgets,
        1 if small else SALT_BUCKETS, job.wave_cap,
    ))
    return ranked, gwb_eff


def _fetch_extract(
    c: _Crawl, st: WaveState, ranked: DataFrame
) -> tuple[DataFrame, bool]:
    """Fetch join + the processor chain (C4-C8), checkpointed as
    `pre_rank` BEFORE ranking, so the html scan + UDFs run once per
    wave; returns it with the broadcast decision.  The scheduled set
    (<= hosts x budget) is broadcast so the pages scan is probed in
    place, html never shuffled — but a broadcast is a HARD hint, so
    resolve_can_broadcast bounds the SCHEDULED set (r02 advisory).
    Above it a shuffled join exchanges the whole pages side, html
    included, unless pages arrive hash-partitioned by url."""
    can_broadcast = resolve_can_broadcast(
        st.frontier_n, c.job.wave_cap, c.job.broadcast_wave_threshold,
        lambda: ranked.where(F.col("scheduled")).count(),
    )
    scheduled = ranked.where(F.col("scheduled")).drop("scheduled", "host_rank")
    fetched = fetch_join(c.pages, scheduled.drop("warc_ts", "size"), can_broadcast)
    for col_name, col in processor_columns().items():
        fetched = fetched.withColumn(col_name, col)
    # the binary never crosses a shuffle
    return st.checkpoint(fetched.drop("html")), can_broadcast


def _rank(
    st: WaveState, pre_rank: DataFrame, wave: int, small: bool, can_broadcast: bool
) -> DataFrame:
    """Rank a SLIM projection and join it back, checkpointed as
    `extracted`: text/hrefs never pass through the rank exchange, so
    every consumer keeps the checkpoint's parallel partitioning.  The
    rank map (<= hosts x budget slim rows) is broadcast under the same
    decision as the fetch join."""
    slim = wave_rank(
        pre_rank.select("priority", "host", "url"), small=small
    ).select("url", "rank_in_wave")
    return st.checkpoint(
        pre_rank.join(F.broadcast(slim) if can_broadcast else slim, "url")
        .withColumn("wave", F.lit(wave))
        .withColumn("n_links", F.size("hrefs"))
    )


def _commit(
    c: _Crawl, st: WaveState, wave: int, t: dict, *, missing: DataFrame,
    skipped: DataFrame, denied: DataFrame, ranked: DataFrame,
    extracted: DataFrame, compact: bool, gwb_eff: int | None,
) -> tuple[dict, DataFrame]:
    """Results, seen delta and frontier written, counters collected,
    then the commit marker.  Returns the wave's per-status stats and
    the merged next frontier.  Every input reads checkpointed leaves:
    the collects and the three concurrent writes each run only their
    own operators on top, never the wave's upstream passes again."""
    scheduled = ranked.where(F.col("scheduled"))
    deferred = ranked.where(~F.col("scheduled")).select(*_FRONTIER_COLS)
    results = extracted.where(
        F.coalesce(c.notify_pred, F.lit(True))
    ).withColumn("stage", F.lit("EXTRACTED"))
    if c.seed_dim is None:
        results = results.withColumn("target_table", F.lit(None).cast("string"))
    else:
        results = results.join(
            F.broadcast(c.seed_dim.select("seed_id", "target_table")), "seed_id", "left"
        )
    results = results.select(
        "url", "host", "depth", "wave", "rank_in_wave", "seed_id",
        "warc_ts", "size", "md5_hex", "xxhash", "text", "lang",
        "extension", "mime", "keywords", "rating", "n_links", "stage",
        "target_table",
    ).unionByName(
        missing.select(
            "url", "host", "depth", F.lit(wave).alias("wave"),
            F.lit("ERROR").alias("stage"),
        ),
        allowMissingColumns=True,
    )
    # Non-compaction waves write only `children`: the consumed frontier
    # rows are already recorded in the seen delta, so children are the
    # wave's ONLY new frontier information — O(wave) write volume
    # instead of O(|frontier|).
    children = expand_from_hrefs(extracted.select("url", "hrefs", "depth", "seed_id"))
    merged = _merge_frontier(children, deferred)
    seen_delta = (
        scheduled.select("url")
        .unionByName(skipped.select("url"))
        .unionByName(missing.select("url"))
        .unionByName(denied.select("url"))
        .distinct()
        .withColumn("wave", F.lit(wave))
    )

    def tagged(df: DataFrame, status: str, size=F.col("size")) -> DataFrame:
        return df.select(F.lit(status).alias("s"), size.alias("size"))

    # One aggregation action yields every wave counter (A2 analog);
    # 'fetched' duplicates 'scheduled' informationally — the metrics
    # table carries it, the seen accounting skips it.
    counts = (
        tagged(scheduled, "scheduled")
        .unionByName(tagged(extracted, "fetched"))
        .unionByName(tagged(skipped, "skipped"))
        .unionByName(tagged(missing, "missing"))
        .unionByName(tagged(denied, "robots_denied"))
        .unionByName(tagged(deferred, "deferred", F.lit(None).cast("long")))
        .groupBy("s")
        .agg(F.count("*").alias("n"), F.sum("size").alias("bytes"))
    )
    with _phase(t, wave, "collect_metrics"):
        stats = {
            r["s"]: {"n": r["n"], "bytes": r["bytes"] or 0} for r in counts.collect()
        }
    with _phase(t, wave, "write_phase"):
        t.update(c.store.write_wave_data(
            wave, results=results, seen_delta=seen_delta,
            frontier=merged if compact else children,
            frontier_kind="full" if compact else "delta",
        ))
    if gwb_eff is not None and c.job.global_budget_carryover:
        # token-bucket credit: unspent capacity rolls forward, burst
        # capped at one extra wave's budget
        st.carry = min(
            c.job.global_wave_budget,
            max(0, gwb_eff - int(stats.get("scheduled", {}).get("n", 0))),
        )
    metrics_rows = [
        (wave, f"{k}_{m}", int(v[m])) for k, v in stats.items() for m in ("n", "bytes")
    ] or [(wave, "empty", 0)]
    with _phase(t, wave, "lineage_commit"):
        # per-partition lineage counters (north rule: checkpoints carry
        # per-partition lineage) — one cheap agg over the extracted leaf
        lineage_rows = [
            (wave, int(r["pid"]), int(r["rows"]), int(r["bytes"] or 0))
            for r in extracted.groupBy(F.spark_partition_id().alias("pid"))
            .agg(F.count("*").alias("rows"), F.sum("size").alias("bytes"))
            .collect()
        ]
        c.store.commit_wave(wave, metrics_rows, stats, lineage_rows)
    return stats, merged


def _reload(
    c: _Crawl, st: WaveState, wave: int, compact: bool, merged: DataFrame
) -> None:
    """Next frontier + seen view, with frontier lineage truncated:
    compaction waves re-read the committed snapshot (resume path ==
    normal path); other waves localCheckpoint the merged frame (no second
    full write) BEFORE the wave's checkpoints it reads are released.
    Only then is the previous frontier released: commit_wave is past, so
    nothing reads this wave's candidates again."""
    if compact:
        frontier = c.store.read_frontier(c.spark, wave)
    else:
        frontier = merged.localCheckpoint(eager=True)
    _release(st.frontier_ckpt)
    st.frontier, st.frontier_ckpt = frontier, None if compact else frontier
    st.release()
    st.frontier_n = frontier.count()  # footer / leaf count, cheap
    st.seen = _committed_seen(
        c.spark, c.store, wave + 1, c.job.seen_horizon_waves, c.seen_init
    )


def run_crawl(
    spark: SparkSession,
    pages: DataFrame,
    seed_rows: list[dict],
    job: CrawlJob,
    robots: DataFrame | None = None,
    checkpoint_dir: str | None = None,
    seed_dim: DataFrame | None = None,
    resume: bool = False,
    seen_init: DataFrame | None = None,
) -> CrawlResult:
    """Run (or resume) a crawl; state lives in the CheckpointStore.

    seen_init: optional pre-existing seen-set (url column) for warm
    re-crawls — the reference's warm re-run (README.md:111-115, 156x
    speedup via the DB probe) becomes "every previously-examined URL
    drops at the first anti-join".

    Each wave runs the phases admit -> schedule -> fetch_extract ->
    rank -> commit (collect_metrics, write_phase, lineage_commit) ->
    reload_state, then bank upkeep (prefilter_update); each is timed
    into CrawlResult.timings and labels its Spark jobs "wave N /
    <phase>".  The wave materializes at four points — `stat`, `ranked`,
    `pre_rank`, `extracted` — with localCheckpoint(eager=True), so every
    later query of the wave plans over a one-node leaf instead of the
    nested DAG above it; non-compaction frontiers are checkpointed the
    same way.  These checkpoints live in executor block storage and are
    NOT recomputable: a lost executor fails the wave, and resume replays
    it from the last commit marker (nothing of an uncommitted wave is
    ever read back).  All of them are released before this returns or
    raises."""
    store = CheckpointStore(checkpoint_dir or tempfile.mkdtemp(prefix="fsc_ckpt_"))
    # Page metadata view (no html) — Catalyst prunes the binary column out
    # of every pass except the fetch join.  `size` must still read html
    # (schema has no length column), so the metadata view is persisted
    # ONCE: one html scan for the whole crawl instead of one per wave.
    # A production pages table would carry a size column / Iceberg column
    # stats and make this a pure metadata scan.
    pages_meta = pages.select(
        "url", "warc_ts", F.length("html").cast("long").alias("size")
    ).persist()
    rules_arr = host_budgets = None
    st = WaveState()
    waves_run, all_timings = 0, []
    try:
        if robots is not None and job.respect_robots:
            rules_arr, host_budgets = _robots_rules(robots)
        skip_pred = and_all(list(job.skip_filters))
        if job.invert:
            skip_pred = ~F.coalesce(skip_pred, F.lit(False))
        c = _Crawl(
            spark, store, job, pages, pages_meta, rules_arr, host_budgets,
            seed_dim, seen_init, skip_pred, or_any(list(job.notify_filters)),
        )
        waves_run = start_wave = _start(c, st, seed_rows, resume)
        for wave in range(start_wave, job.max_waves):
            if st.frontier_n == 0:
                break
            waves_run = wave + 1
            t: dict = {"wave": wave}  # see CrawlResult.timings
            small = st.frontier_n < SMALL_WAVE_ROWS
            with _phase(t, wave, "admit") as wave_t0:
                missing, skipped, denied, authorized = _admit(
                    c, st, wave, t, resume and wave == start_wave
                )
            with _phase(t, wave, "schedule"):
                ranked, gwb_eff = _schedule(c, st, authorized, small)
            with _phase(t, wave, "fetch_extract"):
                pre_rank, can_broadcast = _fetch_extract(c, st, ranked)
            with _phase(t, wave, "rank"):
                extracted = _rank(st, pre_rank, wave, small, can_broadcast)
            compact = (wave + 1) % max(job.frontier_compact_every, 1) == 0
            stats, merged = _commit(
                c, st, wave, t, missing=missing, skipped=skipped, denied=denied,
                ranked=ranked, extracted=extracted, compact=compact, gwb_eff=gwb_eff,
            )
            with _phase(t, wave, "reload_state"):
                _reload(c, st, wave, compact, merged)
            # examined this wave = its seen-delta rows: every status but
            # deferred (still queued) and 'fetched' (a copy of scheduled)
            st.seen_cohorts[wave] = sum(
                v["n"] for k, v in stats.items() if k not in ("deferred", "fetched")
            )
            if st.bank is not None:
                with _phase(t, wave, "prefilter_update"):
                    upkeep = _maintain_bank(
                        spark, store, st.bank, wave, st.seen_cohorts[wave]
                    )
                if upkeep["action"] == "rebuild_scheduled":
                    st.bank = None
                t["prefilter_update"] = {**upkeep, "secs": t["prefilter_update"]}
            t["wall"] = round(time.time() - wave_t0, 3)
            all_timings.append(t)
    finally:
        # also on the way out of a wave that raised: nothing is left
        # for the context cleaner
        st.release()
        _release(st.frontier_ckpt)
        pages_meta.unpersist()
        if rules_arr is not None:
            rules_arr.unpersist()
    return CrawlResult(store=store, waves_run=waves_run, timings=all_timings)
