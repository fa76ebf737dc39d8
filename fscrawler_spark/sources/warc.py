"""WARC source — ingest Common-Crawl-style web archives into the
engine's pages table (BASELINE.json input_hint schema: url, warc_ts,
html, text, lang).

The reference crawls a live filesystem (app/crawler/file_system_crawler
.py); the web analog of "the corpus you already have on disk" is a WARC
archive (ISO 28500 — the format Common Crawl publishes).  This source
reads segment files via Spark's binaryFile source (one task per file —
Common Crawl shards a snapshot into ~64k segment files, so file-count
parallelism is the natural unit at scale) and parses records with an
Arrow-batched mapInPandas: no external warc library, no per-row Python
UDF calls.

Only `WARC-Type: response` records become pages; the HTTP response
headers inside the block are stripped so `html` is the raw body bytes.
Handles plain ``.warc`` and (multi-member) ``.warc.gz``.
"""

from __future__ import annotations

import gzip
import io
from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from fscrawler_spark import schemas

_CRLF2 = b"\r\n\r\n"


def _maybe_gunzip(data: bytes, path: str) -> bytes:
    if path.endswith(".gz") or data[:2] == b"\x1f\x8b":
        # GzipFile consumes ALL members (Common Crawl gzips per record)
        with gzip.GzipFile(fileobj=io.BytesIO(data)) as fh:
            return fh.read()
    return data


def iter_warc_records(data: bytes):
    """Yield (headers: dict[str, str], block: bytes) per WARC record.
    Tolerant scanner: resyncs on the next ``WARC/`` magic if a record
    is malformed (truncated segment tails are common in the wild)."""
    pos = 0
    n = len(data)
    while pos < n:
        start = data.find(b"WARC/", pos)
        if start < 0:
            return
        hdr_end = data.find(_CRLF2, start)
        if hdr_end < 0:
            return
        headers: dict[str, str] = {}
        for line in data[start:hdr_end].split(b"\r\n")[1:]:
            if b":" in line:
                k, _, v = line.partition(b":")
                headers[k.strip().lower().decode("ascii", "replace")] = (
                    v.strip().decode("utf-8", "replace")
                )
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            pos = start + 5
            continue
        block_start = hdr_end + len(_CRLF2)
        block = data[block_start : block_start + length]
        yield headers, block
        pos = block_start + length


def _http_body(block: bytes) -> bytes:
    """Strip the HTTP response headers from a response record's block."""
    if block[:5] in (b"HTTP/",):
        sep = block.find(_CRLF2)
        if sep >= 0:
            return block[sep + len(_CRLF2):]
    return block


def _parse_warc_ts(v: str | None):
    if not v:
        return None
    try:
        # WARC-Date is ISO-8601 UTC, e.g. 2017-10-24T23:35:25Z
        return datetime.fromisoformat(v.replace("Z", "+00:00")).astimezone(
            timezone.utc
        ).replace(tzinfo=None)
    except ValueError:
        return None


def records_to_rows(path: str, data: bytes) -> list[tuple]:
    """(url, warc_ts, html, text, lang) rows from one segment file."""
    rows = []
    for headers, block in iter_warc_records(_maybe_gunzip(data, path)):
        if headers.get("warc-type") != "response":
            continue
        url = headers.get("warc-target-uri")
        if not url:
            continue
        rows.append(
            (url, _parse_warc_ts(headers.get("warc-date")), _http_body(block),
             None, None)
        )
    return rows


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """WARC segment files (glob ok) -> pages DataFrame (schemas.PAGES)."""
    files = spark.read.format("binaryFile").load(path).select("path", "content")

    def parse(batches):
        for pdf in batches:
            out = []
            for p, content in zip(pdf["path"], pdf["content"]):
                out.extend(records_to_rows(p, bytes(content)))
            pages = pd.DataFrame(out, columns=[f.name for f in schemas.PAGES.fields])
            # UTC-aware, so Spark keeps the instant in any session time zone
            # (a naive value would be read as session-local)
            pages["warc_ts"] = pd.to_datetime(pages["warc_ts"], utc=True)
            yield pages

    return files.mapInPandas(parse, schemas.PAGES)


def write_warc_py(rows: list[dict]) -> bytes:
    """Serialize (url, warc_ts, html) dicts to WARC bytes — the test/
    fixture twin of the reader (also usable to emit crawl results as a
    response archive)."""
    out = io.BytesIO()
    for r in rows:
        body = r.get("html") or b""
        http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
        ts = r.get("warc_ts")
        ts_s = (ts.strftime("%Y-%m-%dT%H:%M:%SZ") if ts is not None
                else "2026-01-01T00:00:00Z")
        hdr = b"\r\n".join(
            [
                b"WARC/1.0",
                b"WARC-Type: response",
                b"WARC-Target-URI: " + r["url"].encode(),
                b"WARC-Date: " + ts_s.encode(),
                b"Content-Length: " + str(len(http)).encode(),
            ]
        )
        out.write(hdr + _CRLF2 + http + _CRLF2)
    return out.getvalue()


def to_warc_records(
    df: DataFrame,
    url_col: str = "url",
    body_col: str = "html",
    ts_col: str | None = "warc_ts",
) -> DataFrame:
    """Adds a ``record`` binary column: each row serialized as an ISO
    28500 response record (the writer twin of iter_warc_records — the
    reader round-trips these byte-identically).

    Record construction is ONE codegen'd binary concat — header
    literals, UTF-8 url/date casts, the Content-Length octet count from
    ``length()`` on the assembled HTTP block — no Python per row, so
    archiving 10^10 fetched pages is a projection, not a UDF pass
    (write_warc_py above stays the scalar/test twin).  Missing
    timestamps serialize as the fixed epoch date so output is
    deterministic (q91's oracle rebuilds the exact bytes in SQL).
    """
    from pyspark.sql import functions as F

    body = F.coalesce(F.col(body_col).cast("binary"), F.lit(b""))
    http = F.concat(
        F.lit(b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"), body
    )
    ts_s = F.lit("2026-01-01T00:00:00Z")
    if ts_col is not None:
        # UTC in any session time zone: built from the epoch, since
        # date_format renders session-local time
        secs = F.unix_seconds(F.col(ts_col))
        tod = F.pmod(secs, F.lit(86400))
        ts_s = F.when(secs.isNull(), ts_s).otherwise(
            F.format_string(
                "%sT%02d:%02d:%02dZ",
                F.date_from_unix_date(((secs - tod) / 86400).cast("int")).cast("string"),
                F.floor(tod / 3600), F.floor(tod / 60) % 60, tod % 60,
            )
        )
    rec = F.concat(
        F.lit(b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
        F.col(url_col).cast("binary"),
        F.lit(b"\r\nWARC-Date: "),
        ts_s.cast("binary"),
        F.lit(b"\r\nContent-Length: "),
        F.length(http).cast("string").cast("binary"),
        F.lit(_CRLF2),
        http,
        F.lit(_CRLF2),
    )
    return df.withColumn("record", rec)


def write_warc_segments(
    df: DataFrame,
    out_dir: str,
    url_col: str = "url",
    body_col: str = "html",
    ts_col: str | None = "warc_ts",
    compress: bool = True,
) -> DataFrame:
    """Distributed WARC sink: every partition writes its own
    ``part-<pid>.warc[.gz]`` segment (per-record gzip members, the
    Common Crawl layout) and reports (path, n_records, n_bytes), with
    n_bytes the size of the segment file as written — one
    segment per task is exactly how CC shards a snapshot, so segment
    parallelism follows data parallelism.  ``out_dir`` must be a
    filesystem every executor can reach (local dir in local mode, a
    DFS/NFS mount on a cluster — parquet-based archival stays the
    default checkpoint path; this sink is the interchange format).
    Round-trips through read_warc byte-identically (pytest).  Earlier
    segments in ``out_dir`` are deleted when this is called, so the
    directory holds only this write's (overwrite semantics).
    """
    import glob
    import os

    for old in glob.glob(os.path.join(out_dir, "part-*.warc*")):
        os.remove(old)
    recs = to_warc_records(df, url_col, body_col, ts_col).select("record")

    def write_part(batches):
        pid = None
        bufs = []
        for b in batches:
            for r in b["record"]:
                bufs.append(bytes(r))
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        if not bufs:
            return
        ext = "warc.gz" if compress else "warc"
        path = os.path.join(out_dir, f"part-{pid:05d}.{ext}")
        os.makedirs(out_dir, exist_ok=True)
        with open(path, "wb") as fh:
            for raw in bufs:
                fh.write(gzip.compress(raw) if compress else raw)
            n = fh.tell()  # bytes in the segment file, gzip members included
        yield pd.DataFrame(
            {"path": [path], "n_records": [len(bufs)], "n_bytes": [n]}
        )

    return recs.mapInPandas(
        write_part, "path string, n_records long, n_bytes long"
    )
