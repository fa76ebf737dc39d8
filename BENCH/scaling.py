"""Two-parallelism scaling run — the sandbox evidence protocol for the
north rule's N-vs-4N-executor criterion (BASELINE.md).

Runs the IDENTICAL wave-loop crawl job on the IDENTICAL input (the
deterministic 600k-page "bench" fixture) at local[N] and local[4N]
(default 4 vs 16 — both under this box's >16-thread python-worker
contention cliff; the burn-test hardware ceiling for 4->16 is 3.7x),
reports throughput (scheduled+extracted URLs/sec) at both, and the
scaling efficiency  eff = (thr_4N / thr_N) / 4.

Determinism note: the scheduled set, ordering ranks and all outputs are
identical at both parallelism levels by construction (total-order sort
keys everywhere; asserted here on the seen-set count and scheduled
count), so the two runs differ only in wall time.

Usage:  python BENCH/scaling.py  [--scale bench2] [--waves 8] [--cpus-per-worker 4]
Writes: BENCH/scaling_result.json (BASELINE.md is hand-maintained)
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from fscrawler_spark import schemas  # noqa: E402
from fscrawler_spark.datagen import write_fixture  # noqa: E402
from fscrawler_spark.filters import ExtensionFilter  # noqa: E402
from fscrawler_spark.plans.job import CrawlJob  # noqa: E402
from fscrawler_spark.plans.wave_loop import run_crawl  # noqa: E402
from fscrawler_spark.session import get_spark, stop_spark  # noqa: E402


def run_at(
    cores: int,
    fix_dir: str,
    job: CrawlJob,
    seed_rows: list | None = None,
    cpus_per_worker: int = 0,
) -> dict:
    stop_spark()
    # Proportional CPU pinning (--cpus-per-worker): confine this leg's
    # JVM + python workers to cores*cpus_per_worker physical cores, so
    # BOTH legs get the SAME cores-per-worker ratio — the resource model
    # of real N vs 4N executors, where 4N brings exactly 4x of every
    # resource.  Unpinned, the local[2] leg of a 32-core VM free-rides
    # on ~30 idle cores' turbo headroom and memory bandwidth (observed:
    # its wall time swings 594-714s run-to-run while local[8] holds
    # 190-218s), overstating 2-core throughput and deflating the
    # measured ratio below what N real 2-core executors would provide.
    # Affinity is inherited by the JVM and the forked python workers.
    if cpus_per_worker:
        os.sched_setaffinity(0, set(range(cores * cpus_per_worker)))
    # Partition sizing matched to the local data scale so task counts
    # exceed core counts at BOTH levels (identical config — fair):
    # default 128MB maxPartitionBytes would carve a ~600MB fixture into
    # ~5 scan tasks and AQE's 64MB advisory would collapse post-shuffle
    # stages to 1-2 tasks, capping parallelism below even local[8].
    # On a real cluster against 100TB the defaults are correct; the
    # ratio data-size/partition-size >> total-cores is what matters.
    # Shuffle/cache spill and the per-wave checkpoint go to tmpfs: on a
    # real cluster every executor brings its own disks (storage bandwidth
    # scales with N), but this box has ONE shared disk — the only
    # resource that cannot scale between the two runs.  RAM-backed dirs
    # restore the per-executor-storage assumption for both levels equally.
    conf = {
        "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(4 * 1024 * 1024),
        "spark.local.dir": f"/dev/shm/fsc_spark_tmp_{cores}",
    }
    spark = get_spark(app_name=f"fsc_scaling_{cores}", cores=cores, extra_conf=conf)
    pages = spark.read.schema(schemas.PAGES).parquet(f"{fix_dir}/pages.parquet")
    robots = spark.read.schema(schemas.ROBOTS).parquet(f"{fix_dir}/robots.parquet")
    if seed_rows is None:
        seed_rows = [
            r.asDict() for r in spark.read.parquet(f"{fix_dir}/seeds.parquet").collect()
        ]
    # warmup (JVM, codegen, python workers)
    spark.range(10_000).agg(F.sum("id")).collect()
    t0 = time.time()
    res = run_crawl(
        spark, pages, seed_rows, job, robots=robots,
        checkpoint_dir=tempfile.mkdtemp(
            prefix=f"fsc_scale_{cores}_", dir="/dev/shm"
        ),
    )
    secs = time.time() - t0
    m = res.metrics(spark)
    scheduled = int(
        m.where(F.col("metric") == "scheduled_n").agg(F.sum("value")).collect()[0][0]
        or 0
    )
    sched_bytes = int(
        m.where(F.col("metric") == "scheduled_bytes").agg(F.sum("value")).collect()[0][0]
        or 0
    )
    seen_n = res.seen(spark).count()
    out = {
        "cores": cores,
        "seconds": round(secs, 1),
        "scheduled_urls": scheduled,
        "seen_urls": seen_n,
        "scheduled_bytes": sched_bytes,
        "urls_per_sec": round(scheduled / secs, 1),
        "waves": res.waves_run,
        # per-wave phase breakdown (collect_metrics materializes the wave's
        # cached compute; write_* are the checkpoint IO; reload_state is the
        # lineage-truncating re-read) — report-only, for diagnosing which
        # phase stops scaling between the two legs.
        "wave_timings": res.timings,
    }
    stop_spark()
    import shutil

    shutil.rmtree(res.store.root, ignore_errors=True)
    shutil.rmtree(f"/dev/shm/fsc_spark_tmp_{cores}", ignore_errors=True)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", default="bench2")
    ap.add_argument("--waves", type=int, default=8)
    ap.add_argument("--budget", type=int, default=4000)
    ap.add_argument("--n-cores", type=int, default=2,
                    help="N in the N-vs-4N comparison (default local[2] vs local[8] — see BASELINE.md methodology)")
    ap.add_argument("--seed-hosts", type=int, default=2000,
                    help="seed the first N host roots directly (0 = fixture seeds);"
                         " seeding every host makes waves big and compute-bound")
    ap.add_argument("--cpus-per-worker", type=int, default=0,
                    help="pin each leg to cores*this many CPUs (0 = unpinned)."
                         " 4 gives local[2]->8 cores vs local[8]->32 cores:"
                         " resources scale exactly 4x, like real executors")
    ap.add_argument("--out", default="scaling_result.json",
                    help="result filename under BENCH/ (default overwrites"
                         " the canonical scaling_result.json — pass a"
                         " distinct name for smoke/regime runs)")
    ap.add_argument("--regime", default="default", choices=["default", "full10"],
                    help="full10 = the complete 10^10-URL feature set ON:"
                         " seen prefilter (bloom) stored as a parquet shard"
                         " table, seen horizon aging,"
                         " flip-gated exact resolution, delta frontier —"
                         " the at-scale configuration integration-tested"
                         " only at toy scale before round 4")
    args = ap.parse_args()

    fix_dir = write_fixture(
        os.path.join(REPO, ".bench_cache", args.scale), args.scale
    )
    job_kw = dict(
        politeness_budget=args.budget,
        max_waves=args.waves,
        skip_filters=(
            ExtensionFilter(excluded=frozenset({"tmp", "log", "bak", "pyc"})),
        ),
    )
    if args.regime == "full10":
        job_kw.update(
            use_bloom=True,
            seen_filter="bloom",
            seen_horizon_waves=args.waves,  # == waves run: the aging
            #   machinery (cohort tracking, horizon-filtered view) runs
            #   every wave but no cohort ages out inside the run, so
            #   outputs stay comparable to the default regime
        )
    job = CrawlJob(**job_kw)
    seed_rows = None
    if args.seed_hosts:
        from fscrawler_spark.datagen import host_root

        seed_rows = [
            {"url": host_root(h), "seed_id": h} for h in range(args.seed_hosts)
        ]

    r8 = run_at(args.n_cores, fix_dir, job, seed_rows, args.cpus_per_worker)
    r32 = run_at(4 * args.n_cores, fix_dir, job, seed_rows, args.cpus_per_worker)

    assert r8["scheduled_urls"] == r32["scheduled_urls"], "nondeterministic schedule!"
    assert r8["seen_urls"] == r32["seen_urls"], "nondeterministic seen set!"

    eff = (r32["urls_per_sec"] / r8["urls_per_sec"]) / 4
    result = {"N": r8, "fourN": r32, "scaling_efficiency": round(eff, 3)}
    print(json.dumps(result))

    with open(os.path.join(REPO, "BENCH", args.out), "w") as fh:
        json.dump(result, fh, indent=2)

    # BASELINE.md is hand-maintained as of round 3 (the header presents
    # the multi-run distribution; a single fresh run must not overwrite
    # it).  Append this run to the round's all-runs table by hand from
    # BENCH/scaling_result.json.


if __name__ == "__main__":
    main()
