"""The ``crawl`` workload: one crawl, interrupted and resumed.

One operation is ``run_crawl`` for waves ``0..SPLIT_WAVE-1`` followed by
``run_crawl(resume=True)`` up to ``MAX_WAVES``, on a fresh checkpoint
directory.  The job turns on every crawl layer the benchmark measures:
the junk-extension skip filter and robots (classify), a per-host
politeness budget under a global per-wave budget (politeness window +
water-fill), a warm-start seen table behind the stored bloom bank
(seen anti-join + bank build/probe/merge), link expansion, per-wave
checkpoint writes and commits, and the resume read path (frontier
reconstruction from deltas, bank reload).

Output check: the result must equal ``plans.simulator.simulate_crawl``
on the same fixture and job, with the warm-start seen table preloaded
into the simulator's seen set: the (url -> wave, rank_in_wave) map,
the md5 of each extracted text, the ERROR rows, and the seen set.  The
simulator is uninterrupted, so this is also the resume == uninterrupted
check.  No seen_init URL may appear in the results.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile
import time
from dataclasses import dataclass, replace

from pyspark.sql import functions as F

from fscrawler_spark import schemas
from fscrawler_spark.datagen import SCALES, host_root
from fscrawler_spark.filters import ExtensionFilter
from fscrawler_spark.plans import simulator, wave_loop
from fscrawler_spark.plans.job import CrawlJob
from fscrawler_spark.plans.storage import CheckpointStore

from inputs import CRAWL_SCALE, read_crawl_records

SPLIT_WAVE = 1
MAX_WAVES = 2
JOB = CrawlJob(
    global_wave_budget=200,
    max_waves=MAX_WAVES,
    skip_filters=(ExtensionFilter(excluded=frozenset({"tmp", "log", "bak", "pyc"})),),
    use_bloom=True,
    prefilter_store="table",
)


def seed_rows() -> list[dict]:
    return [{"url": host_root(h), "seed_id": h} for h in range(SCALES[CRAWL_SCALE][0])]


@dataclass
class CrawlInputs:
    pages: object
    robots: object
    seen_init: object
    oracle: dict


def open_inputs(spark, fixture_dir: str, oracle: dict) -> CrawlInputs:
    """Open the input tables the way a user would before a crawl."""
    return CrawlInputs(
        pages=spark.read.schema(schemas.PAGES).parquet(f"{fixture_dir}/pages.parquet"),
        robots=spark.read.schema(schemas.ROBOTS).parquet(f"{fixture_dir}/robots.parquet"),
        seen_init=spark.read.parquet(f"{fixture_dir}/seen_init.parquet"),
        oracle=oracle,
    )


def _md5(text: str | None) -> str | None:
    return None if text is None else hashlib.md5(text.encode("utf-8")).hexdigest()


def oracle(fixture_dir: str) -> dict:
    """The simulator's answer for JOB on this fixture, cached beside it."""
    path = os.path.join(fixture_dir, "oracle.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    pages, robots, seen_init = read_crawl_records(fixture_dir)
    preload = set(seen_init)
    # the simulator has no warm-start argument; start it from a result
    # whose seen set already holds seen_init (restored right after)
    sim_result = simulator.SimResult
    simulator.SimResult = lambda: sim_result(seen=set(preload))
    try:
        sim = simulator.simulate_crawl(pages, seed_rows(), JOB, robots)
    finally:
        simulator.SimResult = sim_result
    ans = {
        "extracted": {
            r["url"]: [r["wave"], r["rank_in_wave"], _md5(r["text"])]
            for r in sim.results
            if r["stage"] == "EXTRACTED"
        },
        "errors": sorted([r["url"], r["wave"]] for r in sim.results if r["stage"] == "ERROR"),
        "seen": sorted(sim.seen - preload),
        "scheduled_bytes": sum(m["scheduled_bytes"] for m in sim.metrics),
    }
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(ans, fh)
    os.replace(tmp, path)
    return ans


def check(spark, ckpt: str, inp: CrawlInputs) -> bool:
    """True when the committed crawl equals the oracle's answer."""
    store = CheckpointStore(ckpt)
    res = store.read_results(spark)
    rows = res.select(
        "url", "wave", "rank_in_wave", "stage", F.md5(F.col("text")).alias("m")
    ).collect()
    extracted = {
        r["url"]: [r["wave"], r["rank_in_wave"], r["m"]]
        for r in rows
        if r["stage"] == "EXTRACTED"
    }
    errors = sorted([r["url"], r["wave"]] for r in rows if r["stage"] == "ERROR")
    seen = sorted({r["url"] for r in store.read_seen(spark).select("url").collect()})
    leaked = res.join(inp.seen_init, "url", "left_semi").limit(1).count()
    ora = inp.oracle
    return (
        extracted == ora["extracted"]
        and errors == ora["errors"]
        and seen == ora["seen"]
        and len(rows) == len(extracted) + len(errors)
        and leaked == 0
    )


def _dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs
    )


def run_op(spark, inp: CrawlInputs, work_dir: str, tracer=None) -> dict:
    """One crawl operation on a fresh checkpoint; returns its figures.
    The checkpoint is measured, checked and then removed.  A tracer
    (traced runs) is told where each run_crawl call starts."""
    ckpt = tempfile.mkdtemp(prefix="ckpt-", dir=work_dir)
    seeds = seed_rows()
    try:
        t0 = time.perf_counter()
        if tracer is not None:
            tracer.start_wave(0)
        first = wave_loop.run_crawl(
            spark, inp.pages, seeds, replace(JOB, max_waves=SPLIT_WAVE),
            robots=inp.robots, checkpoint_dir=ckpt, seen_init=inp.seen_init,
        )
        if tracer is not None:
            tracer.start_wave(SPLIT_WAVE)
        resume_wall = time.time()
        second = wave_loop.run_crawl(
            spark, inp.pages, seeds, JOB, robots=inp.robots, checkpoint_dir=ckpt,
            resume=True, seen_init=inp.seen_init,
        )
        wall = time.perf_counter() - t0
        marker = os.path.join(ckpt, "_commits", f"wave_{SPLIT_WAVE}.json")
        resume_s = os.stat(marker).st_mtime - resume_wall
        timings = first.timings + second.timings
        metrics = {
            r["metric"]: r["v"]
            for r in second.metrics(spark)
            .groupBy("metric")
            .agg(F.sum("value").alias("v"))
            .collect()
        }
        scheduled = int(metrics.get("scheduled_n", 0))
        out = {
            "kind": "crawl",
            "wall_s": wall,
            "resume_s": resume_s,
            "steps": [t["wall"] for t in timings],
            "timings": timings,
            "metrics": metrics,
            "scheduled": scheduled,
            "ckpt_bytes": _dir_bytes(ckpt),
            "ckpt_dir_bytes": {
                d: _dir_bytes(os.path.join(ckpt, d))
                for d in os.listdir(ckpt)
                if os.path.isdir(os.path.join(ckpt, d))
            },
            "ok": check(spark, ckpt, inp) and scheduled > 0,
        }
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return out
