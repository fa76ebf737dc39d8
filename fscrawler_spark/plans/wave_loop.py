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
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fscrawler_spark.filters.builders import and_all, or_any
from fscrawler_spark.functions.extract import (
    SNIFF_HEAD_BYTES,
    extract_text_udf,
    keywords_udf,
    content_rating,
    sniff_mime_udf,
)
from fscrawler_spark.functions.urls import (
    mime_type,
    url_depth,
    url_extension,
    url_host,
    url_name,
    url_normalize,
    url_path,
)
from fscrawler_spark.functions.extract import extract_hrefs_udf
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


@dataclass
class CrawlResult:
    store: CheckpointStore
    waves_run: int
    stats: dict = field(default_factory=dict)
    # One dict per wave; wall seconds unless noted.  Phase timers, each
    # covering both building that phase's plan and materializing it:
    #   admit          wave start -> `stat` checkpoint (bank open, seen
    #                  anti-join, stat join, skip/robots classify)
    #   schedule       -> `ranked` checkpoint (waterfill, politeness)
    #   fetch_extract  -> `pre_rank` checkpoint (fetch join + UDFs)
    #   rank           -> `extracted` checkpoint (wave_rank join-back)
    # then
    #   plan_build       wave start -> first materialization (the
    #                    `stat` checkpoint); includes the bank open
    #   collect_metrics  the per-status counter collect
    #   write_results / write_seen / write_frontier  per-table writes
    #   write_phase      the three concurrent writes together
    #   frontier_kind    "full" | "delta" (a string, not seconds)
    #   lineage_commit   lineage collect + metrics/marker commit
    #   reload_state     next frontier + seen view, checkpoint release
    #   prefilter        bank open/reuse record {action, rows_hashed}
    #   prefilter_update bank maintenance record {action, rows_hashed,
    #                    secs}
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


def _lap(timings: dict, phase: str, since: float) -> float:
    """Record `phase` as the wall seconds since `since`; return now."""
    now = time.time()
    timings[phase] = round(now - since, 3)
    return now


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
    history) + the warm-start seen_init as a wave=-1 cohort, with
    cohorts older than seen_horizon_waves aged out."""
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
    job: CrawlJob,
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
    other filter) counts as absent: read as bloom bits its payload
    would give false negatives.  Otherwise (fresh crawl, such a bank,
    or a capacity resize) this is the ONLY full build, sized with
    prefilter_capacity_factor headroom."""
    path = os.path.join(store.root, "prefilter")
    if reload and StoredBank.exists(path):
        bank = StoredBank.open(path)
        if bank.kind == "bloom":
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
    capacity = max(int(job.prefilter_capacity_factor * max(seen_count, 1)), 4096)
    bank = StoredBank.build(
        seen_df, "url", path, n_items=capacity, fpp=job.bloom_fpp,
    )
    bank.n_added, bank.merged_upto = seen_count, wave - 1
    bank.save()
    return bank, {"action": "full_build", "rows_hashed": seen_count}


def _maintain_bank(
    spark: SparkSession,
    store: CheckpointStore,
    bank: StoredBank,
    wave: int,
) -> dict:
    """Fold wave `wave`'s committed seen delta into the bank and return
    the log record.  The merge is an executor-side cogroup against the
    touched shards' blobs only; the lineage (n_added, merged_upto —
    what lets a resumed run reload instead of rebuild) rides the same
    atomic meta write that repoints the payloads.  The O(|seen|) work
    happens only on capacity resizes: action "rebuild_scheduled" tells
    the caller to drop the bank so the next filtered wave does a full
    build — which, built from the horizon-filtered seen view, is also
    where URLs aged out by seen_horizon_waves leave the bank."""
    delta = store.read_seen_delta(spark, wave)
    delta_n = delta.count()  # footer count, cheap
    if bank.n_added + delta_n > bank.capacity_items:
        return {"action": "rebuild_scheduled", "rows_hashed": delta_n}
    bank.merge_delta(
        delta, "url",
        meta_updates={"n_added": bank.n_added + delta_n, "merged_upto": wave},
    )
    return {"action": "delta_merge", "rows_hashed": delta_n}


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

    Each wave materializes at four points — `stat`, `ranked`,
    `pre_rank`, `extracted` — with localCheckpoint(eager=True), so every
    later query of the wave plans over a one-node leaf instead of the
    nested DAG above it; non-compaction frontiers are checkpointed the
    same way.  These checkpoints live in executor block storage and are
    NOT recomputable: a lost executor fails the wave, and resume replays
    it from the last commit marker (nothing of an uncommitted wave is
    ever read back).  All of them are released before this returns or
    raises."""
    store = CheckpointStore(
        checkpoint_dir or tempfile.mkdtemp(prefix="fsc_ckpt_")
    )

    # Page metadata view (no html) — Catalyst prunes the binary column out
    # of every pass except the fetch join.  `size` must still read html
    # (schema has no length column), so the metadata view is persisted
    # ONCE: one html scan for the whole crawl instead of one per wave.
    # A production pages table would carry a size column / Iceberg column
    # stats and make this a pure metadata scan.
    pages_meta = pages.select(
        "url", "warc_ts", F.length("html").cast("long").alias("size")
    ).persist()
    rules_arr = None
    # the current frontier when it is a localCheckpoint (None when it
    # is a committed snapshot or the seed list); released as soon as
    # the next frontier exists
    frontier_ckpt: DataFrame | None = None
    # this wave's materialization points (`stat`, `ranked`, `pre_rank`,
    # `extracted`); released after commit_wave
    wave_ckpts: list[DataFrame] = []

    def checkpoint(df: DataFrame) -> DataFrame:
        wave_ckpts.append(df.localCheckpoint(eager=True))
        return wave_ckpts[-1]

    try:
        host_budgets = None
        if robots is not None and job.respect_robots:
            # REP longest-match precedence: BOTH allow and deny prefixes
            # participate; per URL the longest matching prefix decides, an
            # allow winning length ties ('Disallow: /' + 'Allow: /public'
            # keeps /public crawlable — r01 advisory).  Crawl-delay carrier
            # rows are budget metadata, not path rules.
            #
            # Shape (r03 — the r02 gate cost ~10% of the whole crawl): rules
            # collapse ONCE, outside the loop, into one array row per
            # DENY-governed host (allow-only hosts can never deny, so their
            # rows carry no rules and decide instantly); each wave then
            # broadcast-joins the array and decides per URL with
            # higher-order functions — a pure projection, no per-wave
            # groupBy shuffle and no hit-set join-backs.  At a 10^8-host
            # rule table the broadcast would switch to a shuffled join on
            # host, same plan shape otherwise.
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

        skip_pred = and_all(list(job.skip_filters))
        if job.invert:
            skip_pred = ~F.coalesce(skip_pred, F.lit(False))
        notify_pred = or_any(list(job.notify_filters))

        def _load_seen(wave_now: int) -> DataFrame | None:
            """Committed seen-set plus the warm-start seen_init (if any).

            With seen_horizon_waves=k set, only the last k cohorts block
            re-scheduling (a URL seen in wave w is retained while
            w >= wave_now - k): older URLs age out of the exact table and
            become re-crawlable.  The bloom prefilter keeps them until its
            next rebuild; meanwhile they are stale positives, which the
            exact tier (this view) resolves as unseen.  The warm-start
            seen_init ages as a wave=-1 cohort."""
            return _committed_seen(
                spark, store, wave_now, job.seen_horizon_waves, seen_init
            )

        start_wave = 0
        seen_count = 0
        if resume and store.last_wave() is not None:
            lw = store.last_wave()
            start_wave = lw + 1
            if store.has_full_frontier(lw):
                frontier = store.read_frontier(spark, lw)
            else:
                # the last wave wasn't a compaction:
                # replay (last snapshot + children deltas + seen anti-joins)
                frontier = reconstruct_frontier(
                    spark, store, lw, seeds_to_frontier(spark, seed_rows),
                    horizon=job.seen_horizon_waves, seen_init=seen_init,
                ).localCheckpoint(eager=True)
                frontier_ckpt = frontier
            frontier_n = frontier.count()  # parquet-footer count, cheap
            seen_df = _load_seen(start_wave)
            seen_count = seen_df.count() if seen_df is not None else 0
        else:
            frontier = seeds_to_frontier(spark, seed_rows)
            frontier_n = len(accept_seeds(seed_rows))
            seen_df = _load_seen(start_wave)
            seen_count = seen_df.count() if seen_df is not None else 0

        # Under a re-crawl horizon, seen_count must TRACK the horizon-
        # filtered view (r03 advisory: a monotone accumulator overstates
        # the seen:frontier ratio once cohorts age out, engaging the flip
        # and oversizing the bank).  Per-cohort counts reproduce it: the
        # initial view count decomposes into committed-wave footer counts
        # (+ seen_init as the wave=-1 cohort), later waves append theirs.
        seen_wave_counts: dict[int, int] = {}
        if job.seen_horizon_waves is not None:
            lo = start_wave - job.seen_horizon_waves
            seen_wave_counts = {
                w: store.read_seen_delta(spark, w).count()
                for w in store.committed_waves()
                if w >= lo
            }
            if seen_init is not None and -1 >= lo:
                seen_wave_counts[-1] = seen_init.count()

        # Seen-prefilter bank: opened or built on the first filtered wave,
        # then maintained incrementally from per-wave seen deltas; dropped
        # (None) when a capacity resize needs the next wave's full build.
        prefilter: StoredBank | None = None

        waves_run = start_wave
        all_timings: list[dict] = []

        gwb_carry = 0  # carryover credit (driver state; reset on resume)
        for wave in range(start_wave, job.max_waves):
            if frontier_n == 0:
                break
            _wave_t0 = time.time()
            phase_s: dict = {}  # phase timers (see CrawlResult.timings)
            waves_run = wave + 1
            # Adaptive physical path: small pending frontiers skip the salt
            # phase and use the single-window rank (same results, fewer jobs).
            small = frontier_n < job.small_wave_threshold
            salt_buckets = 1 if small else job.salt_buckets

            queued = frontier.select(*_FRONTIER_COLS)

            # --- seen anti-join (J2): two-tier when a pre-filter enabled -----
            prefilter_probe_log: dict | None = None
            if seen_df is not None:
                if job.use_bloom and prefilter is None:
                    prefilter, prefilter_probe_log = _open_bank(
                        spark, store, job, wave, resume and wave == start_wave,
                        seen_df, seen_count,
                    )
                elif job.use_bloom:
                    prefilter_probe_log = {"action": "reuse", "rows_hashed": 0}
                # Exact-resolution strategy: when the pending frontier is
                # broadcast-bounded AND the seen table dwarfs it
                # (FLIP_SEEN_FACTOR), flip the anti-join so the seen table
                # is scanned but NEVER shuffled (at 10^10 seen URLs the
                # plain left_anti re-shuffles all of seen every wave —
                # Spark cannot broadcast-build the left side of an anti).
                # At comparable sizes the plain SMJ is cheaper than two
                # per-wave broadcasts, so the gate keeps it.
                new = anti_join_seen(
                    queued, seen_df, "url", prefilter,
                    flip_broadcast=(
                        frontier_n <= job.broadcast_wave_threshold
                        and seen_count >= FLIP_SEEN_FACTOR * max(frontier_n, 1)
                    ),
                )
            else:
                new = queued

            # --- stat join + classification ----------------------------------
            # checkpointed: consumed by missing/skipped/authorized branches,
            # the seen delta and the metrics aggregate (one compute, many
            # readers).  The REP decision is baked in as a boolean column
            # BEFORE the checkpoint, so the rules join + longest-match
            # lambdas run exactly once per row — every downstream branch is
            # then a pure filter on a one-node leaf.  (r02's hit-set shape —
            # broadcast joins + groupBy(url) + semi/anti join-backs,
            # re-executed per consumer — was re-measured as the whole of
            # round 2's crawl regression.)
            stat_raw = _stat_join(new, pages_meta)
            if rules_arr is not None:
                # Longest-match REP as a projection: denied iff the longest
                # matching deny prefix is strictly longer than the longest
                # matching allow prefix (tie -> allow; no matching deny or
                # no rules -> allow).  `_path` is computed once as a column
                # BEFORE the lambdas — Catalyst does no CSE inside
                # higher-order-function lambdas, so inlining the regex
                # would re-run it per rule element.
                def _longest(want_allow: bool):
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

                stat_raw = (
                    stat_raw.join(F.broadcast(rules_arr), "host", "left")
                    .withColumn("_path", url_path(F.col("url")))
                    .withColumn(
                        "_rep_denied",
                        F.coalesce(
                            _longest(False) > F.coalesce(_longest(True), F.lit(-1)),
                            F.lit(False),
                        ),
                    )
                    .drop("_rules", "_path")
                )
            else:
                stat_raw = stat_raw.withColumn("_rep_denied", F.lit(False))
            # Driver-side lazy-DAG construction + any eager jobs before it
            # (prefilter build) — everything between wave start and the
            # first materialization.
            _plan_build_s = round(time.time() - _wave_t0, 3)
            stat = checkpoint(stat_raw)
            t_phase = _lap(phase_s, "admit", _wave_t0)
            missing = stat.where(F.col("is_missing"))
            present = stat.where(~F.col("is_missing")).drop("is_missing")

            skipped = present.where(~F.coalesce(skip_pred, F.lit(False))).drop(
                "_rep_denied"
            )
            passed = present.where(F.coalesce(skip_pred, F.lit(False)))
            robots_denied = None
            if rules_arr is not None:
                robots_denied = passed.where(F.col("_rep_denied")).drop("_rep_denied")
            authorized = passed.where(~F.col("_rep_denied")).drop("_rep_denied")

            # --- politeness window -------------------------------------------
            # Optional global-budget tier: water-fill ONE wave capacity
            # across hosts (max-min fair, operators/politeness.py) and feed
            # the allocations to the per-host window as its budget dim.
            # Demand is capped at each host's politeness/crawl-delay budget
            # first, so waterfill never allocates tokens a host cannot
            # spend.  The demand rollup re-reads the CHECKPOINTED `stat`
            # frame (one leaf scan + map-side count per wave); the level
            # search itself runs on distinct demand values only.
            hb_wave = host_budgets
            gwb_eff = None
            if job.global_wave_budget is not None:
                from fscrawler_spark.operators.politeness import waterfill_budget

                gwb_eff = job.global_wave_budget + (
                    gwb_carry if job.global_budget_carryover else 0
                )
                dem = authorized.groupBy("host").agg(
                    F.count("*").cast("long").alias("_n")
                )
                if host_budgets is not None:
                    dem = dem.join(
                        F.broadcast(host_budgets.select("host", "tokens")),
                        "host",
                        "left",
                    )
                    cap = F.coalesce(
                        F.col("tokens"), F.lit(job.politeness_budget)
                    ).cast("long")
                else:
                    cap = F.lit(job.politeness_budget).cast("long")
                dem = dem.select("host", F.least(F.col("_n"), cap).alias("demand"))
                hb_wave = waterfill_budget(
                    dem, ["host"], "demand", gwb_eff
                ).select("host", F.col("alloc").cast("int").alias("tokens"))
            ranked = checkpoint(politeness_take(
                authorized,
                job.politeness_budget,
                hb_wave,
                salt_buckets,
                job.wave_cap,
            ))
            t_phase = _lap(phase_s, "schedule", t_phase)
            scheduled = ranked.where(F.col("scheduled")).drop("scheduled", "host_rank")
            deferred = ranked.where(~F.col("scheduled")).select(*_FRONTIER_COLS)

            # --- fetch join + extraction (the only pass that reads html) -----
            # The scheduled set is bounded by (hosts x budget) — typically far
            # smaller than pages — broadcast it so the big pages scan is
            # probed in place with no shuffle of the html bytes.  Broadcast
            # is a HARD hint though: past the threshold it would OOM the
            # driver.  The guard keys off the SCHEDULED set (r02 advisory):
            # frontier_n bounds it cheaply; a tight wave_cap bounds it
            # tighter; past both, one count over the checkpointed ranked
            # frame decides exactly — so a huge frontier with a small
            # budget keeps the fast broadcast probe.
            # In the non-broadcast regime a shuffled join exchanges the
            # ENTIRE pages side, html included, every wave, unless the
            # caller passes pages already hash-partitioned by url (then
            # only the slim side shuffles).
            can_broadcast = resolve_can_broadcast(
                frontier_n,
                job.wave_cap,
                job.broadcast_wave_threshold,
                lambda: ranked.where(F.col("scheduled")).count(),
            )
            fetched = fetch_join(
                pages, scheduled.drop("warc_ts", "size"), can_broadcast
            )
            name = url_name(F.col("url"))
            extracted = (
                fetched.withColumn("size", F.length("html").cast("long"))
                .withColumn("md5_hex", F.md5("html"))
                .withColumn("xxhash", F.xxhash64("html"))
                .withColumn("text", extract_text_udf(F.col("html")))
                .withColumn("hrefs", extract_hrefs_udf(F.col("html")))
                .withColumn("extension", url_extension(F.col("url")))
                # C7: content-sniffed mime (magic bytes — only a 64-byte
                # head enters Arrow), extension map as fallback
                .withColumn(
                    "mime",
                    F.coalesce(
                        sniff_mime_udf(
                            F.expr(f"substring(html, 1, {SNIFF_HEAD_BYTES})")
                        ),
                        mime_type(F.col("url")),
                    ),
                )
                .withColumn("keywords", keywords_udf(name))
                .withColumn("rating", content_rating(name, F.col("url")))
                .drop("html")  # the binary never crosses a shuffle
            )
            # checkpointed BEFORE ranking: wave_rank's passes and the
            # join-back both read the extracted set, and the html scan +
            # UDFs must run exactly once per wave.
            pre_rank = checkpoint(extracted)
            t_phase = _lap(phase_s, "fetch_extract", t_phase)
            # Rank a SLIM projection and join it back: the heavy text/hrefs
            # columns never pass through the rank exchange (the single-
            # partition sort at small waves, the range exchange at large
            # ones), so every downstream consumer keeps the checkpoint's
            # parallel partitioning.  The rank map is politeness-bounded
            # (<= hosts x budget slim rows per wave) — broadcast below the
            # same wave threshold as the fetch join; above it, plain
            # equi-join (the rank map is 2 slim columns, so the shuffle is
            # cheap relative to the wave itself).
            slim_ranked = wave_rank(
                pre_rank.select("priority", "host", "url"), small=small
            ).select("url", "rank_in_wave")
            extracted = checkpoint(
                pre_rank.join(
                    F.broadcast(slim_ranked) if can_broadcast else slim_ranked, "url"
                )
                .withColumn("wave", F.lit(wave))
                .withColumn("n_links", F.size("hrefs"))
            )
            _lap(phase_s, "rank", t_phase)

            results_wave = extracted.where(
                F.coalesce(notify_pred, F.lit(True))
            ).withColumn("stage", F.lit("EXTRACTED"))
            if seed_dim is not None:
                results_wave = results_wave.join(
                    F.broadcast(seed_dim.select("seed_id", "target_table")),
                    "seed_id",
                    "left",
                )
            else:
                results_wave = results_wave.withColumn(
                    "target_table", F.lit(None).cast("string")
                )
            error_rows = missing.select(
                "url", "host", "depth", F.lit(wave).alias("wave"),
                F.lit("ERROR").alias("stage"),
            )

            # --- link expansion + next frontier -------------------------------
            children = expand_from_hrefs(
                extracted.select("url", "hrefs", "depth", "seed_id")
            )
            merged = _merge_frontier(children, deferred)
            # Non-compaction waves checkpoint only `children`: the consumed
            # frontier rows are already recorded in the seen delta, so
            # children are the wave's ONLY new frontier information —
            # O(wave) write volume instead of O(|frontier|).
            compact = (wave + 1) % max(job.frontier_compact_every, 1) == 0

            # --- commit wave ---------------------------------------------------
            seen_delta_parts = [scheduled.select("url"), skipped.select("url"),
                                missing.select("url")]
            if robots_denied is not None:
                seen_delta_parts.append(robots_denied.select("url"))
            seen_delta = seen_delta_parts[0]
            for p in seen_delta_parts[1:]:
                seen_delta = seen_delta.unionByName(p)
            seen_delta = seen_delta.distinct().withColumn("wave", F.lit(wave))

            results_out = results_wave.select(
                "url", "host", "depth", "wave", "rank_in_wave", "seed_id",
                "warc_ts", "size", "md5_hex", "xxhash", "text", "lang",
                "extension", "mime", "keywords", "rating", "n_links", "stage",
                "target_table",
            ).unionByName(error_rows, allowMissingColumns=True)

            # One aggregation action yields every wave counter (A2 analog).
            status_counts_df = (
                scheduled.select(F.lit("scheduled").alias("s"), "size")
                # 'fetched' duplicates 'scheduled' informationally; the
                # metrics table carries it, the seen accounting skips it
                .unionByName(extracted.select(F.lit("fetched").alias("s"), "size"))
                .unionByName(skipped.select(F.lit("skipped").alias("s"), "size"))
                .unionByName(missing.select(F.lit("missing").alias("s"), "size"))
                .unionByName(
                    robots_denied.select(F.lit("robots_denied").alias("s"), "size")
                    if robots_denied is not None
                    else spark.createDataFrame([], "s string, size long")
                )
                .unionByName(deferred.select(F.lit("deferred").alias("s"),
                                             F.lit(None).cast("long").alias("size")))
                .groupBy("s")
                .agg(F.count("*").alias("n"), F.sum("size").alias("bytes"))
            )
            # Every input below reads checkpointed leaves: the collect and
            # the three concurrent writes each run only their own operators
            # on top, never the wave's upstream passes again.
            t_collect = time.time()
            status_counts = status_counts_df.collect()
            t_collect = round(time.time() - t_collect, 3)
            t_write = time.time()
            wave_timings = store.write_wave_data(
                wave,
                results=results_out,
                seen_delta=seen_delta,
                frontier=merged if compact else children,
                frontier_kind="full" if compact else "delta",
            )
            wave_timings["write_phase"] = round(time.time() - t_write, 3)
            wave_timings["collect_metrics"] = t_collect
            wave_timings.update(phase_s)
            wave_timings["wave"] = wave
            stats = {
                r["s"]: {"n": r["n"], "bytes": r["bytes"] or 0} for r in status_counts
            }
            if gwb_eff is not None and job.global_budget_carryover:
                # token-bucket credit: unspent capacity rolls forward, burst
                # capped at one extra wave's budget
                _sched_n = stats.get("scheduled", {}).get("n", 0)
                gwb_carry = min(
                    job.global_wave_budget, max(0, gwb_eff - int(_sched_n))
                )
            metrics_rows = [
                (wave, f"{k}_{m}", int(v[m]))
                for k, v in stats.items()
                for m in ("n", "bytes")
            ] or [(wave, "empty", 0)]
            # per-partition lineage counters (north rule: checkpoints carry
            # per-partition lineage) — one cheap agg over the extracted leaf
            t_lc = time.time()
            lineage_rows = [
                (wave, int(r["pid"]), int(r["rows"]), int(r["bytes"] or 0))
                for r in extracted.groupBy(F.spark_partition_id().alias("pid"))
                .agg(F.count("*").alias("rows"), F.sum("size").alias("bytes"))
                .collect()
            ]
            store.commit_wave(wave, metrics_rows, stats, lineage_rows)
            wave_timings["lineage_commit"] = round(time.time() - t_lc, 3)

            # Truncate frontier lineage (no exponential plan growth across
            # waves).  Compaction waves re-read the committed snapshot
            # (resume path == normal path).  Other waves localCheckpoint the
            # merged frame instead — executor-local blocks, no second full
            # write — BEFORE the wave's checkpoints it reads are released.
            # Only then is the previous frontier released: commit_wave is
            # past, so nothing reads this wave's candidates again.
            t0 = time.time()
            if compact:
                frontier = store.read_frontier(spark, wave)
            else:
                frontier = merged.localCheckpoint(eager=True)
            _release(frontier_ckpt)
            frontier_ckpt = None if compact else frontier
            while wave_ckpts:
                _release(wave_ckpts.pop())
            frontier_n = frontier.count()  # footer / leaf count, cheap
            seen_df = _load_seen(wave + 1)
            wave_timings["reload_state"] = round(time.time() - t0, 3)

            # --- prefilter incremental maintenance ---------------------------
            if prefilter is not None:
                t0 = time.time()
                upd_log = _maintain_bank(spark, store, prefilter, wave)
                if upd_log["action"] == "rebuild_scheduled":
                    prefilter = None
                upd_log["secs"] = round(time.time() - t0, 3)
                wave_timings["prefilter_update"] = upd_log
            if prefilter_probe_log is not None:
                wave_timings["prefilter"] = prefilter_probe_log
            wave_timings["plan_build"] = _plan_build_s
            wave_timings["wall"] = round(time.time() - _wave_t0, 3)
            all_timings.append(wave_timings)
            # bank sizing + flip gate: examined-this-wave = everything
            # except deferred rows (still queued) and the 'fetched'
            # duplicate of 'scheduled'.  With a horizon, the count is
            # re-derived from the in-horizon cohorts so aged-out URLs stop
            # counting (they ARE re-crawlable again).
            wave_examined = sum(
                v["n"] for k, v in stats.items() if k not in ("deferred", "fetched")
            )
            if job.seen_horizon_waves is None:
                seen_count += wave_examined
            else:
                seen_wave_counts[wave] = wave_examined
                lo = (wave + 1) - job.seen_horizon_waves
                seen_count = sum(
                    n for w, n in seen_wave_counts.items() if w >= lo
                )
    finally:
        # also on the way out of a wave that raised: nothing is left
        # for the context cleaner
        for ckpt in wave_ckpts:
            _release(ckpt)
        _release(frontier_ckpt)
        pages_meta.unpersist()
        if rules_arr is not None:
            rules_arr.unpersist()
    return CrawlResult(store=store, waves_run=waves_run, timings=all_timings)
