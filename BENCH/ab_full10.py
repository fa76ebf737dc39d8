"""Interleaved default-vs-full10 A/B at one parallelism level.

The round-4 campaign's cross-run comparison (scaling_result_r4_1 vs
_r4_f10) is phase-contaminated: full10's wave-0 N-leg ran 28% FASTER
than default's wave 0 although no full10 feature is active at wave 0,
so single-run deltas at this scale measure the box, not the knobs.
This runner settles VERDICT r3 #6's "not slower than defaults" bar the
same way bench_ab.py settles the bench drift: strictly interleaved
D F D F ... runs at local[8] (the leg where the apparent +42% showed),
same box phase, medians reported, outputs asserted identical.

Usage:  python BENCH/ab_full10.py [--rounds 2] [--cores 8]
Writes: BENCH/ab_full10_result.json
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from fscrawler_spark.datagen import host_root, write_fixture  # noqa: E402
from fscrawler_spark.filters import ExtensionFilter  # noqa: E402
from fscrawler_spark.plans.job import CrawlJob  # noqa: E402

sys.path.insert(0, os.path.join(REPO, "BENCH"))
from scaling import run_at  # noqa: E402


def make_job(regime: str, waves: int, budget: int) -> CrawlJob:
    kw = dict(
        politeness_budget=budget,
        max_waves=waves,
        skip_filters=(
            ExtensionFilter(excluded=frozenset({"tmp", "log", "bak", "pyc"})),
        ),
    )
    if regime == "full10":
        kw.update(
            use_bloom=True,
            seen_filter="bloom",
            seen_horizon_waves=waves,
        )
    return CrawlJob(**kw)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rounds", type=int, default=2)
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--scale", default="bench2")
    ap.add_argument("--waves", type=int, default=8)
    ap.add_argument("--budget", type=int, default=4000)
    args = ap.parse_args()

    fix_dir = write_fixture(
        os.path.join(REPO, ".bench_cache", args.scale), args.scale
    )
    seed_rows = [{"url": host_root(h), "seed_id": h} for h in range(2000)]

    runs: dict[str, list[dict]] = {"default": [], "full10": []}
    for i in range(args.rounds):
        for regime in ("default", "full10"):
            r = run_at(
                args.cores, fix_dir, make_job(regime, args.waves, args.budget),
                seed_rows,
            )
            runs[regime].append(r)
            print(
                f"round {i + 1} {regime}: {r['seconds']}s"
                f" ({r['urls_per_sec']} urls/s)",
                flush=True,
            )

    sched = {r["scheduled_urls"] for rs in runs.values() for r in rs}
    seen = {r["seen_urls"] for rs in runs.values() for r in rs}
    assert len(sched) == 1 and len(seen) == 1, (
        f"regimes disagree on outputs: scheduled={sched} seen={seen}"
    )

    med = {
        k: round(statistics.median(r["seconds"] for r in rs), 1)
        for k, rs in runs.items()
    }
    result = {
        "cores": args.cores,
        "seconds_all": {k: [r["seconds"] for r in rs] for k, rs in runs.items()},
        "seconds_median": med,
        "full10_over_default": round(med["full10"] / med["default"], 3),
        "scheduled_urls": sched.pop(),
        "seen_urls": seen.pop(),
    }
    print(json.dumps(result))
    with open(os.path.join(REPO, "BENCH", "ab_full10_result.json"), "w") as fh:
        json.dump(result, fh, indent=2)


if __name__ == "__main__":
    main()
