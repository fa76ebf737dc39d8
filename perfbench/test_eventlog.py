"""The event-log reader on a tiny traced crawl.

    python3 -m pytest perfbench/test_eventlog.py -q

Runs a one-wave crawl on the ``tiny`` datagen fixture in a Spark
session with an uncompressed rolling event log, with the tracer's
wrappers installed, then checks what ``eventlog.EventLog`` reads back
against what the crawl itself reports.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]


@pytest.fixture(scope="module")
def traced_crawl(tmp_path_factory):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from fscrawler_spark import schemas
    from fscrawler_spark.datagen import write_fixture
    from fscrawler_spark.plans.job import CrawlJob
    from fscrawler_spark.plans.wave_loop import run_crawl
    from fscrawler_spark.session import get_spark, stop_spark
    from spans import Tracer

    base = tmp_path_factory.mktemp("eventlog")
    log_dir = str(base / "log")
    os.makedirs(log_dir)
    fixture = write_fixture(str(base / "fixture"), "tiny")
    stop_spark()
    spark = get_spark(
        app_name="perfbench-eventlog-test",
        cores=2,
        shuffle_partitions=2,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "true",
        },
    )
    pages = spark.read.schema(schemas.PAGES).parquet(f"{fixture}/pages.parquet")
    seeds = [{"url": "http://h0.example", "seed_id": 0}, {"url": "http://h1.example", "seed_id": 1}]
    tracer = Tracer(spark)
    tracer.install()
    try:
        tracer.start_wave(0)
        res = run_crawl(
            spark, pages, seeds, CrawlJob(max_waves=1),
            checkpoint_dir=str(base / "ckpt"), seen_init=pages.limit(0).select("url"),
        )
        extracted = res.results(spark).where("stage = 'EXTRACTED'").count()
    finally:
        tracer.uninstall()
    stop_spark()  # closes the event log
    yield {"log_dir": log_dir, "extracted": extracted, "tracer": tracer}


def test_jobs_are_labelled_by_wave_and_call(traced_crawl):
    from eventlog import EventLog

    log = EventLog(traced_crawl["log_dir"])
    labels = log.by_label()
    assert "wave 0 / run_crawl" in labels
    assert "wave 0 / trace.count" in labels
    # write_wave_data's worker-thread jobs carry no description; the
    # reader names them from their write node
    for table in ("results", "seen", "frontier"):
        assert labels[f"wave 0 / write_{table}"]["jobs"] >= 1
    assert "unlabelled" not in labels


def test_task_sums_add_up_across_views(traced_crawl):
    from eventlog import EventLog

    log = EventLog(traced_crawl["log_dir"])
    rows = log.stage_rows()
    by_label = log.by_label()
    for field in ("tasks", "run_s", "shuffle_write_bytes"):
        total = sum(r[field] for r in rows)
        assert total == pytest.approx(sum(v[field] for v in by_label.values()))
    assert sum(r["tasks"] for r in rows) > 0
    assert sum(r["cpu_s"] for r in rows) > 0


def test_python_udf_and_scan_metrics(traced_crawl):
    from eventlog import EventLog

    sql = EventLog(traced_crawl["log_dir"]).sql_metrics()
    wave = [r for r in sql if r["label"].startswith("wave 0 /")]
    arrow_rows = sum(
        r["value"] for r in wave
        if r["node"] == "ArrowEvalPython" and r["metric"] == "number of output rows"
    )
    # every extracted page passes through the extraction UDF node(s)
    assert traced_crawl["extracted"] > 0
    assert arrow_rows >= traced_crawl["extracted"]
    assert arrow_rows % traced_crawl["extracted"] == 0
    scanned = sum(
        r["value"] for r in wave
        if r["node"] == "Scan parquet" and r["metric"] == "size of files read"
        and "pages.parquet" in r["desc"]
    )
    assert scanned > 0


def test_spans_cover_the_wave_calls(traced_crawl):
    tracer = traced_crawl["tracer"]
    names = {s["name"] for s in tracer.spans}
    for call in ("anti_join_seen", "politeness_take", "fetch_join", "expand_from_hrefs",
                 "CheckpointStore.write_wave_data", "CheckpointStore.commit_wave"):
        assert call in names
    assert all(s["wave"] == 0 and s["end"] >= s["start"] for s in tracer.spans)
    (count,) = tracer.counts
    assert count["candidates"] == 2 and count["survivors"] == 2
