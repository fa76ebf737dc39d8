"""Content extraction — the processor pipeline (SURVEY §2.8, C4/C5/C6/C8).

Semantics re-implemented from the reference's processors:
  - hash:     app/processors/hash_file_processor.py:35-51 (chunked digest ==
              whole-bytes digest; we use Spark's built-in ``F.md5`` /
              ``F.sha2`` / ``F.xxhash64`` — JVM-side, no UDF)
  - text:     app/processors/text_extractor_file_processor.py:20-55 with the
              10 MB size cap (:27,:37); the extractor itself is this
              engine's own deterministic HTML->text pipeline
  - keywords: app/processors/metadata_extractor/keywords_file_processor.py:37-81
  - rating:   app/processors/metadata_extractor/rating_file_processor.py:22-39

**Byte-identical invariant**: the pandas UDFs and the scalar oracle both
execute the same regex step table (``_TEXT_STEPS``) through Python's
``re`` engine, so per-URL output is identical by construction — the
single-code-path rule of SURVEY §7.4.  Per-row Python appears only
inside Arrow-batched pandas UDFs (never Spark row-at-a-time UDFs),
matching the input_hint's "vectorized pandas/Arrow UDFs only".
"""

from __future__ import annotations

import hashlib
import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from fscrawler_spark.functions.urls import mime_type, url_extension, url_name

# Reference caps extraction at 10 MB (text_extractor_file_processor.py:27,37).
MAX_TEXT_EXTRACT_BYTES = 10 * 1024 * 1024

# Ordered (pattern, replacement) regex steps; flags baked into patterns so
# the scalar and vectorized paths cannot drift.  Kept to FOUR passes —
# each pass rewrites the whole string, so pass count is the extraction
# hot path's memory-bandwidth multiplier: (1) script/style/comment
# blocks in one alternation, (2) tags, (3) entities in one single-pass
# decode (callable replacement — also the html-correct behavior:
# '&amp;lt;' decodes to '&lt;', not '<'), (4) whitespace collapse.
_ENTITIES = {
    "&amp;": "&", "&lt;": "<", "&gt;": ">",
    "&quot;": '"', "&#39;": "'", "&nbsp;": " ",
}

_TEXT_STEPS: list[tuple[str, object]] = [
    (r"(?is)<script\b.*?</script\s*>|<style\b.*?</style\s*>|<!--.*?-->", " "),
    (r"(?s)<[^>]*>", " "),
    (r"&(?:amp|lt|gt|quot|#39|nbsp);", lambda m: _ENTITIES[m.group(0)]),
    (r"\s+", " "),
]

_HREF_RE = r"""(?is)<a\s[^>]*?href\s*=\s*["']([^"']*)["']"""


# ---------------------------------------------------------------------------
# Scalar core — the oracle code path (also used by the frontier simulator).

def extract_text_py(html: bytes | None) -> str | None:
    if html is None or len(html) >= MAX_TEXT_EXTRACT_BYTES:
        return None
    s = html.decode("utf-8", errors="replace")
    for pat, rep in _TEXT_STEPS:
        s = re.sub(pat, rep, s)
    return s.strip()


def extract_hrefs_py(html: bytes | None) -> list[str]:
    if html is None:
        return []
    s = html.decode("utf-8", errors="replace")
    return re.findall(_HREF_RE, s)


def md5_hex_py(data: bytes | None) -> str | None:
    return hashlib.md5(data).hexdigest() if data is not None else None


def _split_words_py(part: str) -> list[str] | None:
    # keywords_file_processor.py:75-81: '.'/'_' -> ', '; reject parts with
    # chars outside [a-zA-Z0-9,\s\]]; split on ', ', strip each.
    part = part.replace(".", ", ").replace("_", ", ")
    if ", " in part:
        if re.findall(r"[^a-zA-Z0-9,\s\]]+", part):
            return None
        return [k.strip() for k in part.split(", ")]
    return None


def keywords_py(name: str | None) -> list[str] | None:
    """Naming-convention keywords (keywords_file_processor.py:39-56).

    If '- ' occurs in the name: scan name.split('-') from the END, first
    part whose word-split succeeds wins.  Else scan name.split('[') from
    the end with ']' removed.  None when nothing matches.
    """
    if not name:
        return None
    keywords: list[str] | None = None
    if "- " in name:
        for part in reversed(name.split("-")):
            keywords = _split_words_py(part)
            if keywords:
                break
    if not keywords:
        for part in reversed(name.split("[")):
            keywords = _split_words_py(part.replace("]", ""))
            if keywords:
                break
    return keywords if keywords else None


def rating_py(name: str | None, full: str | None = None) -> int | None:
    """First run of '+' in the name (else the full path), capped at 5
    (rating_file_processor.py:34-39, cap = Rating.EXCELLENT.value)."""
    for s in (name, full):
        if not s:
            continue
        m = re.search(r"(\++)", s)
        if m:
            return min(len(m.group(1)), 5)
    return None


# ---------------------------------------------------------------------------
# Content-sniffed MIME (C7) — magic-byte detection over the first bytes,
# mirroring the reference's libmagic call on content
# (extended_attributes_file_processor.py:28-45) without libmagic: the
# common web signatures cover what a crawl meets, and the extension-based
# mime (urls.mime_type) stays as the fallback for unknowns.

SNIFF_HEAD_BYTES = 64  # only this prefix ever crosses into Arrow

_MAGIC: list[tuple[bytes, str]] = [
    (b"%PDF-", "application/pdf"),
    (b"\x89PNG\r\n\x1a\n", "image/png"),
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"GIF87a", "image/gif"),
    (b"GIF89a", "image/gif"),
    (b"PK\x03\x04", "application/zip"),
    (b"\x1f\x8b", "application/gzip"),
]

_TEXT_BYTES = frozenset(range(32, 127)) | {9, 10, 13} | set(range(128, 256))


def sniff_mime_py(head: bytes | None) -> str | None:
    """MIME from leading bytes; None when undecidable (caller falls back
    to the extension map).  Deterministic, no libmagic."""
    if not head:
        return None
    for sig, mime in _MAGIC:
        if head.startswith(sig):
            return mime
    if head[:4] == b"RIFF" and len(head) >= 12:
        kind = head[8:12]
        if kind == b"WAVE":
            return "audio/wav"
        if kind == b"WEBP":
            return "image/webp"
        if kind == b"AVI ":
            return "video/x-msvideo"
    s = head.lstrip(b" \t\r\n")
    if s[:3] == b"\xef\xbb\xbf":  # UTF-8 BOM before markup
        s = s[3:].lstrip(b" \t\r\n")
    low = s[:32].lower()
    if low.startswith(b"<!doctype html") or low.startswith(b"<html"):
        return "text/html"
    if low.startswith(b"<?xml"):
        return "application/xml"
    # printable heuristic: control bytes outside \t\r\n => binary
    if all(b in _TEXT_BYTES for b in head):
        return "text/plain"
    return "application/octet-stream"


# ---------------------------------------------------------------------------
# Vectorized pandas UDFs — Arrow-batched, same regex table.

@pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    # Over-cap rows are masked to NaN BEFORE decode — they short-circuit
    # the whole pipeline (NaN propagates through .str ops), mirroring the
    # scalar path's early return instead of paying 4 regex passes on a
    # result that is discarded.
    over_cap = html.map(lambda b: b is not None and len(b) >= MAX_TEXT_EXTRACT_BYTES)
    s = html.mask(over_cap).str.decode("utf-8", errors="replace")
    # pandas .str.replace(regex=True) uses the same `re` engine as the
    # scalar path — identical semantics, vectorized over the Arrow batch.
    for pat, rep in _TEXT_STEPS:
        s = s.str.replace(pat, rep, regex=True)
    return s.str.strip()


@pandas_udf(T.ArrayType(T.StringType()))
def extract_hrefs_udf(html: pd.Series) -> pd.Series:
    s = html.str.decode("utf-8", errors="replace")
    return s.str.findall(_HREF_RE).map(
        lambda v: v if isinstance(v, list) else []
    )


@pandas_udf(T.StringType())
def sniff_mime_udf(head: pd.Series) -> pd.Series:
    """Arrow-batched twin of ``sniff_mime_py`` — feed it
    substring(html, 1, SNIFF_HEAD_BYTES), never the whole blob."""
    return head.map(sniff_mime_py)


@pandas_udf(T.ArrayType(T.StringType()))
def keywords_udf(name: pd.Series) -> pd.Series:
    return name.map(keywords_py)


@pandas_udf(T.IntegerType())
def rating_udf(name: pd.Series, full: pd.Series) -> pd.Series:
    out = pd.Series(
        [rating_py(n, f) for n, f in zip(name, full)], index=name.index, dtype="object"
    )
    return out


# ---------------------------------------------------------------------------
# Column-level (JVM-side) pieces.

def md5_hex(html: Column) -> Column:
    """RFC-1321 MD5 of the raw bytes — digest-equivalent to the reference's
    chunked update loop (hash_file_processor.py:36-42)."""
    return F.md5(html)


def content_rating(name: Column, full: Column) -> Column:
    """Native-Column twin of ``rating_py`` — preferred in the hot path
    (rating_file_processor.py:34-39 as a regexp_extract)."""
    first_run = F.regexp_extract(name, r"(\++)", 1)
    fallback = F.regexp_extract(full, r"(\++)", 1)
    run = F.when(first_run != "", first_run).otherwise(fallback)
    return F.when(run == "", F.lit(None).cast("int")).otherwise(
        F.least(F.length(run), F.lit(5))
    )


def processor_columns() -> dict[str, Column]:
    """The processor chain (C4-C8) over a page row's `url` and raw
    `html` columns, as named Columns in plan order — the one definition
    the batch wave loop and the streaming pipeline both project: C4
    digests, C8 text, the link scrape, the extension, C7's
    content-sniffed mime (magic bytes — only a SNIFF_HEAD_BYTES head
    enters Arrow — with the extension map as fallback), C5 keywords
    and C6 rating."""
    url, html = F.col("url"), F.col("html")
    name = url_name(url)
    return {
        "size": F.length(html).cast("long"),
        "md5_hex": F.md5(html),
        "xxhash": F.xxhash64(html),
        "text": extract_text_udf(html),
        "hrefs": extract_hrefs_udf(html),
        "extension": url_extension(url),
        "mime": F.coalesce(
            sniff_mime_udf(F.expr(f"substring(html, 1, {SNIFF_HEAD_BYTES})")),
            mime_type(url),
        ),
        "keywords": keywords_udf(name),
        "rating": content_rating(name, url),
    }
