"""CrawlJob — the declarative crawl plan (SURVEY §3.1 stage 1).

The reference's "planning" is constructing a live object graph of
crawler + filters + observers + processors (app/crawler_entry_point.py:
56-128).  Here the plan is a frozen config dataclass; the wave loop
interprets it and Catalyst owns the physical plan.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from fscrawler_spark.filters.builders import FilterSpec


@dataclass(frozen=True)
class CrawlJob:
    """Everything that defines a crawl run.

    skip_filters — AND chain, deny prunes the subtree (no link expansion
        from a denied URL): file_system_crawler.py:447-460 semantics.
    notify_filters — OR chain deciding which fetched pages land in
        results; empty = all (file_system_crawler.py:462-468).
    invert — select only filtered-out paths (fast_crawler.py:96-113).
    politeness_budget — default max fetches per host per wave; robots
        crawl_delay_tokens overrides per host.
    wave_cap — optional global scheduled-URL cap per wave (bounded
        queue maxsize analog, app/config/config.py:129-131).
    use_bloom — two-tier seen-set probe: a stored bloom bank in front
        of the exact anti-join (operators/dedup.py,
        operators/bankstore.py); each wave's seen delta is merged into
        the bank's next version.
    respect_robots — apply robots deny prefixes before scheduling.

    Physical-plan constants that change no output (SALT_BUCKETS,
    SMALL_WAVE_ROWS, FLIP_SEEN_FACTOR, and the bank's BLOOM_FPP and
    PREFILTER_CAPACITY_FACTOR) live in plans/wave_loop.py.
    """

    politeness_budget: int = 8
    max_waves: int = 50
    wave_cap: int | None = None
    # Optional global per-wave fetch capacity, water-filled across
    # hosts (max-min fair integer level, operators/politeness.py
    # waterfill_budget) and applied as each host's budget for the
    # wave; per-host demand is pre-capped at the politeness /
    # crawl-delay budget so allocations are always spendable.  Differs
    # from wave_cap (a post-rank truncation by global priority): the
    # water level preserves small hosts' service when one mega-host
    # dominates the frontier.  None = off.
    global_wave_budget: int | None = None
    # With carryover on, a wave's unspent global budget (sub-level
    # waterfill remainder + under-demand slack) rolls into the next
    # wave's capacity, token-bucket style with burst capped at one
    # extra wave's budget (eff <= 2*global_wave_budget) — so a quiet
    # frontier banks at most one wave of credit.  Off (default) keeps
    # each wave's capacity exact.  The carry counter is driver state,
    # reset on resume (documented; the budget is a rate control, not
    # an exactness invariant).
    global_budget_carryover: bool = False
    skip_filters: tuple[FilterSpec, ...] = field(default_factory=tuple)
    notify_filters: tuple[FilterSpec, ...] = field(default_factory=tuple)
    invert: bool = False
    use_bloom: bool = False
    respect_robots: bool = True
    # Broadcast the scheduled set into the fetch join (and the rank map
    # back over the extracted cache) only when the wave's SCHEDULED set
    # is below this row count; above it the broadcast would be a hard
    # hint that OOMs the driver (10^8 hosts x budget rows), so the plan
    # falls back to a plain equi-join and AQE picks the strategy.  ~2M
    # slim rows (url+4 ints, <200 B) ~ 400 MB on the driver — the safe
    # edge for the default 8g driver; raise on bigger drivers.  (r02
    # advisory: the guard keys off the scheduled bound — wave_cap, then
    # the exact ranked count — not the pending frontier size, so a huge
    # frontier with a tight budget keeps the fast broadcast path.)
    broadcast_wave_threshold: int = 2_000_000
    # Accepted only as "table" (the bank's one home: a parquet table of
    # shard blobs in the checkpoint dir, operators/bankstore.StoredBank);
    # any other value raises ValueError.
    prefilter_store: str = "table"
    # Re-crawl horizon: a URL seen in wave w blocks re-scheduling for
    # the next seen_horizon_waves waves, then ages out of the exact
    # seen table.  The bloom prefilter drops it at the next rebuild;
    # until then its stale positive resolves in the exact tier.
    # None = never re-crawl (reference semantics).
    seen_horizon_waves: int | None = None
    # Frontier checkpoint layout: non-compaction waves write only the
    # wave's discovered children (frontier_delta/wave=K — the consumed
    # rows are already recorded in the seen delta), and every
    # frontier_compact_every-th wave writes a full snapshot
    # (frontier/wave=K): the Iceberg merge-on-read model, O(wave) write
    # volume instead of O(|frontier|).  1 = a full snapshot every wave.
    # In-loop lineage is truncated with localCheckpoint (released when
    # the next one exists); resume replays the last snapshot + deltas +
    # per-wave seen anti-joins (exact under seen_horizon_waves aging
    # too).  Outputs do not depend on the setting (pytest-pinned).
    frontier_compact_every: int = 8

    def __post_init__(self) -> None:
        if self.prefilter_store != "table":
            raise ValueError(
                f"prefilter_store={self.prefilter_store!r}: the prefilter "
                "bank lives only in the checkpoint table ('table')"
            )


def accept_seeds(seed_rows: list[dict]) -> list[dict]:
    """Sequential root-overlap dedup (S4): iterate seeds in seed_id
    order; reject any seed that is a URL-prefix of, or prefixed by, an
    already-accepted seed (file_system_crawler.py:203-228, prefix test
    both directions at :212-218).  Seeds are config-scale (a handful of
    rows — the reference holds them in a dict), so this runs driver-side;
    the engine and the simulator share this exact function.
    """
    accepted: list[dict] = []
    for row in sorted(seed_rows, key=lambda r: r["seed_id"]):
        url = row["url"]
        if any(
            url.startswith(a["url"]) or a["url"].startswith(url) for a in accepted
        ):
            continue
        accepted.append(row)
    return accepted
