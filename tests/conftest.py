"""Shared fixtures: one session-scoped SparkSession + tiny deterministic
fixture tables (FIXTURES.md §1-§4)."""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from fscrawler_spark import schemas
from fscrawler_spark.datagen import generate_pages
from fscrawler_spark.session import get_spark


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    s = get_spark(app_name="fscrawler_tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def tiny():
    pages, seeds, robots = generate_pages("tiny", seed=42)
    return {"pages": pages, "seeds": seeds, "robots": robots}


def _rows(records, schema):
    return [tuple(r.get(f.name) for f in schema.fields) for r in records]


@pytest.fixture(scope="session")
def pages_df(spark, tiny):
    return spark.createDataFrame(_rows(tiny["pages"], schemas.PAGES), schemas.PAGES)


@pytest.fixture(scope="session")
def robots_df(spark, tiny):
    return spark.createDataFrame(_rows(tiny["robots"], schemas.ROBOTS), schemas.ROBOTS)


@pytest.fixture(scope="session")
def assert_matches_simulator(spark, tiny):
    """assert_matches_simulator(res, job): the engine crawl `res` equals
    the scalar simulator (the reference implementation) running `job`
    over the tiny fixture — every result row's (url, wave,
    rank_in_wave, stage) and the seen set."""
    from fscrawler_spark.plans.simulator import simulate_crawl

    def check(res, job):
        sim = simulate_crawl(tiny["pages"], tiny["seeds"], job, tiny["robots"])
        got = {
            (r["url"], r["wave"], r["rank_in_wave"], r["stage"])
            for r in res.results(spark).collect()
        }
        assert got == {
            (r["url"], r["wave"], r.get("rank_in_wave"), r["stage"])
            for r in sim.results
        }
        assert {r["url"] for r in res.seen(spark).collect()} == sim.seen

    return check
