"""WARC source: Common-Crawl-style archive ingestion (ISO 28500)."""

from __future__ import annotations

import datetime
import gzip

import pytest

from fscrawler_spark import schemas
from fscrawler_spark.sources.warc import (
    iter_warc_records,
    read_warc,
    records_to_rows,
    write_warc_py,
)

ROWS = [
    {"url": "http://a.example/x", "html": b"<html><body>A</body></html>",
     "warc_ts": datetime.datetime(2026, 1, 2, 3, 4, 5)},
    {"url": "http://b.example", "html": b"<html>B \xe2\x82\xac</html>",
     "warc_ts": datetime.datetime(2025, 12, 31, 23, 59, 59)},
    {"url": "http://c.example/empty", "html": b"", "warc_ts": None},
]


def test_roundtrip_scalar():
    data = write_warc_py(ROWS)
    rows = records_to_rows("x.warc", data)
    assert [(r[0], r[2]) for r in rows] == [(d["url"], d["html"]) for d in ROWS]
    assert rows[0][1] == ROWS[0]["warc_ts"]
    assert rows[2][1] == datetime.datetime(2026, 1, 1)  # writer default ts


def test_non_response_records_and_garbage_resync():
    rec = write_warc_py(ROWS[:1])
    meta = (b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 4\r\n\r\nabcd\r\n\r\n")
    garbage = b"\x00\xff NOT A RECORD \r\n"
    data = meta + garbage + rec
    rows = records_to_rows("x.warc", data)
    assert len(rows) == 1 and rows[0][0] == ROWS[0]["url"]
    # all records (incl. warcinfo) still visible at the iterator level
    assert len(list(iter_warc_records(data))) == 2


def test_read_warc_spark_plain_and_gz(spark, tmp_path):
    data = write_warc_py(ROWS)
    (tmp_path / "seg1.warc").write_bytes(data)
    (tmp_path / "seg2.warc.gz").write_bytes(gzip.compress(data))
    df = read_warc(spark, str(tmp_path))
    assert df.schema == schemas.PAGES
    got = sorted(
        (r["url"], bytes(r["html"] or b"")) for r in df.collect()
    )
    want = sorted((d["url"], d["html"]) for d in ROWS) * 1
    # two segment files -> every page twice
    assert got == sorted(want + want)


def test_write_warc_segments_overwrites_earlier_segments(spark, tmp_path):
    """Segments are named by partition id, so a second write into the
    same directory must clear the first one's: read_warc then returns
    exactly the second write's rows, not stale segments as well."""
    from pyspark.sql import functions as F

    from fscrawler_spark.sources.warc import write_warc_segments

    rows = [(d["url"], d["warc_ts"], d["html"]) for d in ROWS]
    df = spark.createDataFrame(  # one row per partition
        spark.sparkContext.parallelize(rows, len(rows)),
        "url string, warc_ts timestamp, html binary",
    )
    out = str(tmp_path / "segs")
    assert write_warc_segments(df, out).count() == len(rows)
    second = df.where(F.col("url") == ROWS[1]["url"]).coalesce(1)
    assert write_warc_segments(second, out).count() == 1
    got = [(r["url"], bytes(r["html"])) for r in read_warc(spark, out).collect()]
    assert got == [(ROWS[1]["url"], ROWS[1]["html"])]


@pytest.mark.parametrize("compress", [True, False])
def test_write_warc_segments_reports_file_bytes(spark, tmp_path, compress):
    """n_bytes is what each segment file holds on disk — the gzip
    members when compressed, not the uncompressed record bytes."""
    import os

    from fscrawler_spark.sources.warc import write_warc_segments

    rows = [(d["url"], d["warc_ts"], d["html"]) for d in ROWS]
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2),
        "url string, warc_ts timestamp, html binary",
    )
    report = write_warc_segments(df, str(tmp_path / "segs"), compress=compress).collect()
    assert report
    assert sum(r["n_bytes"] for r in report) == sum(
        os.path.getsize(r["path"]) for r in report
    )


def test_warc_date_is_utc_in_any_session_time_zone(spark, tmp_path):
    """WARC-Date names the UTC instant whatever the session time zone,
    and read_warc returns that instant: written and read back in a
    New York session, then read again in a UTC one."""
    from pyspark.sql import functions as F

    from fscrawler_spark.sources.warc import to_warc_records, write_warc_segments

    epoch = 1508888125  # 2017-10-24T23:35:25Z
    df = spark.createDataFrame(
        [("http://a.example/t", epoch), ("http://a.example/null", None)],
        "url string, e long",
    ).select(
        "url",
        F.timestamp_seconds("e").alias("warc_ts"),
        F.lit(b"<html>t</html>").alias("html"),
    )
    out = str(tmp_path / "tz")

    def read_epoch():
        got = read_warc(spark, out).where(F.col("url") == "http://a.example/t")
        return got.select(F.unix_seconds("warc_ts")).first()[0]

    session_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        records = {r["url"]: bytes(r["record"]) for r in to_warc_records(df).collect()}
        write_warc_segments(df, out, compress=False).collect()
        local_epoch = read_epoch()
    finally:
        spark.conf.set("spark.sql.session.timeZone", session_tz)
    assert b"\r\nWARC-Date: 2017-10-24T23:35:25Z\r\n" in records["http://a.example/t"]
    # a missing timestamp keeps the fixed default date
    assert b"\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n" in records["http://a.example/null"]
    assert local_epoch == epoch
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        assert read_epoch() == epoch
    finally:
        spark.conf.set("spark.sql.session.timeZone", session_tz)


def test_warc_roundtrip_property():
    """Hypothesis: arbitrary (url, body) sets survive the serialize ->
    parse roundtrip byte-for-byte, including bodies containing CRLF
    pairs, WARC magic, and arbitrary binary."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    url_st = st.text(
        alphabet=st.characters(min_codepoint=33, max_codepoint=126),
        min_size=1, max_size=40,
    ).map(lambda s: "http://h.example/" + s)
    body_st = st.binary(max_size=300)

    @settings(max_examples=60, deadline=None)
    @given(st.lists(st.tuples(url_st, body_st), min_size=1, max_size=8))
    def run(pairs):
        rows = [{"url": u, "html": b, "warc_ts": None} for u, b in pairs]
        data = write_warc_py(rows)
        got = records_to_rows("x.warc", data)
        assert [(r[0], r[2]) for r in got] == [(u, b) for u, b in pairs]

    run()


def test_crawl_from_warc_equals_crawl_from_parquet(
    spark, pages_df, robots_df, tiny, tmp_path_factory
):
    """Source invariance: the same pages ingested via WARC vs parquet
    must produce the identical crawl (order, seen set, extraction)."""
    from fscrawler_spark.plans.wave_loop import run_crawl
    from tests.test_crawl_e2e import JOB

    tmp = tmp_path_factory.mktemp("warc_src")
    rows = [
        {"url": p["url"], "warc_ts": p.get("warc_ts"), "html": p["html"]}
        for p in tiny["pages"]
    ]
    (tmp / "seg.warc.gz").write_bytes(
        __import__("gzip").compress(write_warc_py(rows))
    )
    pages_warc = read_warc(spark, str(tmp))

    res_w = run_crawl(
        spark, pages_warc, tiny["seeds"], JOB, robots=robots_df,
        checkpoint_dir=str(tmp_path_factory.mktemp("ckpt_w")),
    )
    res_p = run_crawl(
        spark, pages_df, tiny["seeds"], JOB, robots=robots_df,
        checkpoint_dir=str(tmp_path_factory.mktemp("ckpt_p")),
    )

    def fp(res):
        return {
            (r["url"], r["wave"], r["rank_in_wave"], r["md5_hex"], r["text"])
            for r in res.results(spark).where("stage='EXTRACTED'").collect()
        }

    assert fp(res_w) == fp(res_p)
    assert {r["url"] for r in res_w.seen(spark).collect()} == {
        r["url"] for r in res_p.seen(spark).collect()
    }


def test_parse_sitemaps_and_index(spark):
    """Sitemap source: urlset entries, whitespace tolerance, missing
    lastmod -> null, loc-less entries dropped, index level."""
    from fscrawler_spark.sources.sitemap import (
        parse_sitemap_index,
        parse_sitemaps,
    )

    body = (
        "<?xml version='1.0'?><urlset>"
        "<url><loc>http://a.example/1</loc>"
        "<lastmod>2026-01-02</lastmod></url>"
        "<url><loc>\n  http://a.example/2 \n</loc></url>"
        "<url><lastmod>2026-03-04</lastmod></url>"  # no loc -> dropped
        "</urlset>"
    )
    idx = (
        "<sitemapindex><sitemap><loc>http://a.example/s1.xml</loc>"
        "<lastmod>2026-05-06</lastmod></sitemap>"
        "<sitemap><loc>http://a.example/s2.xml</loc></sitemap></sitemapindex>"
    )
    df = spark.createDataFrame([("h1", body)], "site string, body string")
    got = parse_sitemaps(df, "body", keep_cols=["site"]).orderBy("loc").collect()
    assert [(r["site"], r["loc"], r["lastmod"]) for r in got] == [
        ("h1", "http://a.example/1", "2026-01-02"),
        ("h1", "http://a.example/2", None),
    ]
    di = spark.createDataFrame([(idx,)], "body string")
    gi = parse_sitemap_index(di, "body").orderBy("loc").collect()
    assert [(r["loc"], r["lastmod"]) for r in gi] == [
        ("http://a.example/s1.xml", "2026-05-06"),
        ("http://a.example/s2.xml", None),
    ]


def test_parse_sitemaps_garbage_is_contained(spark):
    """Malformed/garbage bodies never crash the parser — they just
    yield zero (or only well-formed) rows; nulls pass through."""
    import random

    from fscrawler_spark.sources.sitemap import parse_sitemaps

    rng = random.Random(5)
    junk = [
        "",
        None,
        "<url><loc></loc></url>",            # empty loc -> dropped
        "<urlset><url><loc>ok</loc>",        # unclosed url block -> no match
        "<url>" + "x" * 5000,                # unterminated
        "".join(chr(rng.randrange(32, 127)) for _ in range(2000)),
        "<url><url><loc>nested</loc></url></url>",
    ]
    df = spark.createDataFrame([(b,) for b in junk], "body string")
    rows = parse_sitemaps(df, "body").collect()
    assert all(r["loc"] for r in rows)
    assert {r["loc"] for r in rows} <= {"nested"}


def test_warc_write_read_roundtrip_distributed(spark, tmp_path):
    """write_warc_segments -> read_warc round-trips every page
    byte-identically (url, body bytes, timestamp to the second)."""
    from datetime import datetime

    from fscrawler_spark import schemas
    from fscrawler_spark.sources.warc import read_warc, write_warc_segments

    rows = [
        (f"http://h{i % 3}.example/p{i}",
         datetime(2026, 2, 1, 12, 0, i % 60),
         bytes([i % 256]) * (i + 1), "", "en")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, schemas.PAGES).repartition(4)
    out_dir = str(tmp_path / "segments")
    report = write_warc_segments(df, out_dir).collect()
    assert sum(r["n_records"] for r in report) == 40
    assert 1 <= len(report) <= 4

    back = read_warc(spark, f"{out_dir}/*.warc.gz")
    got = {r["url"]: (bytes(r["html"]), r["warc_ts"]) for r in back.collect()}
    assert len(got) == 40
    for url, ts, html, _, _ in rows:
        b, t = got[url]
        assert b == html, url
        assert t == ts, url
