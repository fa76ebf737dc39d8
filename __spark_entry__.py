"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one or more operators from
SURVEY.md §2 (reference file:line cites in the docstrings of the
implementing modules under ``fscrawler_spark/``); ``oracle_sql()``
carries the DuckDB-runnable twin with identical column aliases.
Entries without an oracle are non-SQL-expressible (iterative wave
loop, approximate ANN, simhash) and are instead verified by the
pytest suite against the scalar simulator (tests/test_crawl_e2e.py).
"""

from __future__ import annotations

import struct as _st
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from fscrawler_spark.functions.layout import zorder2_sql as _zorder2_sql
from fscrawler_spark.functions.sketch import (
    hll_estimate_sql as _hll_estimate_sql,
    hll_rho_sql as _hll_rho_sql,
)
from fscrawler_spark.metrics import (
    hist_bin_sql as _hist_bin_sql,
    hist_mid_sql as _hist_mid_sql,
)

_T = ["region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings"]


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Synthetic URL view over `documents` — gives the URL-domain operators
# (filters F2/F3, url functions C1/C13) a SQL-checkable target.  The
# derivation is intentionally simple enough to mirror 1:1 in ANSI SQL.

def _doc_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _load(spark, sf_dir, "documents")
    ext = (
        F.when(F.col("doc_id") % 4 == 0, F.lit(".html"))
        .when(F.col("doc_id") % 4 == 1, F.lit(".txt"))
        .when(F.col("doc_id") % 4 == 2, F.lit(".tmp"))
        .otherwise(F.lit(""))
    )
    seg2 = F.when(F.col("doc_id") % 3 == 0, F.lit("")).otherwise(
        F.concat(F.lit("/d"), (F.col("doc_id") % 7).cast("string"))
    )
    url = F.concat(
        F.lit("http://"), F.col("source"), F.lit(".example/"), F.col("lang"),
        seg2, F.lit("/doc"), F.col("doc_id").cast("string"), ext,
    )
    return d.withColumn("url", url)


_DOC_URL_SQL = """
  SELECT *,
         'http://' || source || '.example/' || lang
         || (CASE WHEN doc_id % 3 = 0 THEN '' ELSE '/d' || (doc_id % 7) END)
         || '/doc' || doc_id
         || (CASE WHEN doc_id % 4 = 0 THEN '.html'
                  WHEN doc_id % 4 = 1 THEN '.txt'
                  WHEN doc_id % 4 = 2 THEN '.tmp' ELSE '' END) AS url
  FROM documents
"""

_SW = {
    "de": ["der", "die", "das", "und", "von", "zu", "ist", "mit", "den", "ein"],
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "on"],
    "es": ["el", "la", "los", "las", "de", "que", "y", "en", "es", "por"],
    "fr": ["le", "la", "les", "et", "de", "des", "un", "une", "est", "pour"],
}


def _sw_hits_sql(lang: str) -> str:
    lst = ",".join(f"'{w}'" for w in _SW[lang])
    return (
        "len(list_intersect(regexp_split_to_array(trim(lower(text)), '\\s+'),"
        f" [{lst}]))"
    )


def _lang_id_sql() -> str:
    hits = {lang: _sw_hits_sql(lang) for lang in sorted(_SW)}
    best = "greatest(" + ",".join(hits.values()) + ")"
    cases = " ".join(
        f"WHEN {hits[lang]} = {best} AND {best} > 0 THEN '{lang}'"
        for lang in sorted(_SW)
    )
    return f"CASE {cases} ELSE 'und' END"


_NTOK_SQL = ("CASE WHEN trim(text) = '' THEN 0 ELSE"
             " len(regexp_split_to_array(trim(text), '\\s+')) END")


# ---------------------------------------------------------------------------
# Query catalog

def q01_pricing_summary(spark, sf_dir):
    """Flagship: grouped aggregate sweep (A3/A4 analog; sql/stats.sql:2-13
    pattern on the TPC-H lineitem surrogate)."""
    li = _load(spark, sf_dir, "lineitem")
    # Final aggregates are SCALED BIGINTs, not decimals (r02 verdict root
    # cause): any final DECIMAL column is structurally unable to pass the
    # driver's value hash — Spark fetches object Decimal('49341.00') while
    # DuckDB decimal fetches as float64 49341.0 at the pandas layer, even
    # when values/types match exactly.  So: round each double measure to
    # its exact decimal grid (decimal(18,2)/(18,6) — both engines round
    # identically, proven by r02's row-by-row check), scale to an integer
    # (×100 / ×1e6, exact: inputs are on that grid), and sum LONGs.  Long
    # sums are exact and order-independent under any partitioning, and
    # int64 survives the pandas fetch identically in both engines.
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum((F.col("l_quantity").cast("decimal(18,2)") * 100)
                  .cast("long")).alias("sum_qty_c2"),
            F.sum((F.col("l_extendedprice").cast("decimal(18,2)") * 100)
                  .cast("long")).alias("sum_base_price_c2"),
            F.sum(
                ((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                 .cast("decimal(18,6)") * 1000000).cast("long")
            ).alias("sum_disc_price_c6"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q02_count_by_type(spark, sf_dir):
    """A3 — count by category, ordered (sql/stats.sql:2-6)."""
    ev = _load(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "event_type")
    )


def q03_sum_by_group(spark, sf_dir):
    """A4 — sum of a measure per group (sql/stats.sql:9-13)."""
    li = _load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            # scaled-BIGINT final aggregate — see q01's note
            F.sum((F.col("l_quantity").cast("decimal(18,2)") * 100)
                  .cast("long")).alias("sum_qty_c2"),
            F.count("*").alias("cnt"),
        )
        .orderBy("l_returnflag")
    )


def q04_dup_groups(spark, sf_dir):
    """A5 — duplicate groups HAVING count>1 (data_manager.py:334-340)."""
    from fscrawler_spark.operators.dedup import exact_duplicate_groups

    li = _load(spark, sf_dir, "lineitem")
    return (
        exact_duplicate_groups(li, "l_partkey", "l_suppkey")
        .orderBy(F.desc("dup_count"), "l_partkey", "l_suppkey")
        .limit(100)
    )


def q05_dup_selfjoin(spark, sf_dir):
    """J1 — duplicate-finding equi self-join (data_manager.py:330-359)."""
    o = _load(spark, sf_dir, "orders")
    a, b = o.alias("a"), o.alias("b")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.o_orderdate") == F.col("b.o_orderdate"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey")),
        )
        .select(
            F.col("a.o_custkey").alias("custkey"),
            F.col("a.o_orderkey").alias("okey_a"),
            F.col("b.o_orderkey").alias("okey_b"),
        )
        .orderBy("custkey", "okey_a", "okey_b")
    )


def q06_topk_per_group(spark, sf_dir):
    """A7/§2.5 window — top-3 orders by totalprice per priority class
    (metrics_observer.py:50-77 top-k analog)."""
    from fscrawler_spark.operators.topk import top_k_per_group

    o = _load(spark, sf_dir, "orders")
    ranked = top_k_per_group(
        o, ["o_orderpriority"],
        [F.desc("o_totalprice"), F.asc("o_orderkey")], 3, rank_col="rk",
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        ranked.withColumn("rnk", F.row_number().over(w))
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rnk")
        .orderBy("o_orderpriority", "rnk")
    )


def q07_staged_filter(spark, sf_dir):
    """S7/O2 — staged batch read: filter by stage column + ORDER/LIMIT/
    OFFSET (data_manager.py:219-276; index_files.py:53-57)."""
    ev = _load(spark, sf_dir, "events")
    return (
        ev.where((F.col("event_type") == "signup") & (F.col("value") >= 100.0))
        .select("event_id", "user_id", "value")
        .orderBy("event_id")
        .offset(10)
        .limit(200)
    )


def q08_filter_chain(spark, sf_dir):
    """F1+F4+F5 composition — AND chain of size/pattern/regex predicates
    (file_system_crawler.py:447-460 skip-chain semantics) over documents."""
    d = _load(spark, sf_dir, "documents")
    pred = (
        F.col("n_chars").between(F.lit(100), F.lit(800))
        & F.col("text").contains("spark")
        & F.col("text").rlike("(?i)scan|merge")
        & ~F.col("source").isin("src3")
    )
    return d.where(pred).select("doc_id", "lang", "n_chars").orderBy("doc_id")


def q09_set_minus(spark, sf_dir):
    """U1 — set difference both directions via anti-join
    (metrics_observer.py:85-86)."""
    d = _load(spark, sf_dir, "documents")
    all_langs = d.select("lang").distinct()
    src0_langs = d.where(F.col("source") == "src0").select("lang").distinct()
    return all_langs.join(src0_langs, "lang", "left_anti").orderBy("lang")


def q10_empty_groups(spark, sf_dir):
    """A9 analog — parents with no children: customers without orders
    (empty_directory_observer.py:51-57 semantics)."""
    c = _load(spark, sf_dir, "customer")
    o = _load(spark, sf_dir, "orders")
    return (
        c.join(o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey")
    )


def q11_politeness_window(spark, sf_dir):
    """§2.5 politeness semantics on a generic table: first 2 events per
    user by time (row_number budget — the per-host fetch budget shape)."""
    ev = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 2)
        .select("user_id", "event_id", "rnk")
        .orderBy("user_id", "rnk")
    )


def q12_url_filters(spark, sf_dir):
    """C1/C13 URL functions + F2 depth + F3 extension deny-list over the
    synthesized documents-URL view (extension cap/lowering:
    extension_filter.py:46-49; depth disable: depth_filter.py:30)."""
    from fscrawler_spark.filters import DepthFilter, ExtensionFilter
    from fscrawler_spark.functions.urls import url_depth, url_extension, url_host

    d = _doc_urls(spark, sf_dir)
    flt = [
        DepthFilter(3),
        ExtensionFilter(excluded=frozenset({"tmp", "log"})),
    ]
    pred = flt[0].column() & flt[1].column()
    return (
        d.select(
            "doc_id",
            "url",
            url_host(F.col("url")).alias("host"),
            url_depth(F.col("url")).alias("depth"),
            url_extension(F.col("url")).alias("ext"),
        )
        .where(F.coalesce(pred, F.lit(False)))
        .orderBy("doc_id")
    )


def q13_exact_dedup(spark, sf_dir):
    """Exact near-identity dedup: md5 fingerprint of normalized text,
    groups with count>1 (hash-groupBy dedup; C4 + A5)."""
    from fscrawler_spark.functions.textstats import fingerprint

    d = _load(spark, sf_dir, "documents")
    return (
        d.select("doc_id", fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("dup_count"), F.min("doc_id").alias("keep_id"))
        .where(F.col("dup_count") > 1)
        .orderBy("fp")
    )


def q14_ngram_jaccard(spark, sf_dir):
    """Exact word-3-gram Jaccard near-dup pairs >= 0.5 (all-pairs
    baseline for the LSH path)."""
    from fscrawler_spark.operators.similarity import exact_jaccard_pairs

    d = _load(spark, sf_dir, "documents")
    return (
        exact_jaccard_pairs(d, "doc_id", "text", 0.5)
        .orderBy("id_a", "id_b")
    )


def q15_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup pairs, exact-Jaccard verified.  b=64, r=2:
    P(miss | j>=0.5) = 0.75^64 ~ 1e-8, so the verified output equals the
    exact all-pairs result — the oracle runs the exact computation."""
    from fscrawler_spark.operators.similarity import minhash_lsh_pairs

    d = _load(spark, sf_dir, "documents")
    return (
        minhash_lsh_pairs(d, "doc_id", "text", 0.5, num_hashes=128, bands=64)
        .orderBy("id_a", "id_b")
    )


def q16_text_stats(spark, sf_dir):
    """Text analytics sweep: whitespace + BPE-ish token counts, stopword
    lang-id, quality score, fingerprint — all JVM-side Columns."""
    from fscrawler_spark.functions import textstats as TS

    d = _load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TS.token_count(F.col("text")).alias("ntok"),
        TS.bpe_ish_token_count(F.col("text")).alias("npiece"),
        TS.lang_id(F.col("text")).alias("langid"),
        # r8 fix of the r01 class: round(double,4) resolved the
        # 0.65875-boundary docs differently per engine at sf0.1 — emit
        # the exact-integer e4 grid divided back, bit-identical on both
        (TS.quality_e4(F.col("text")) / F.lit(10000.0)).alias("quality"),
        TS.fingerprint(F.col("text")).alias("fp"),
    ).orderBy("doc_id")


def q17_lang_quality_agg(spark, sf_dir):
    """Aggregate over detected language; quality summed on the exact-
    integer 1e4 grid (``quality_e4``) — integer sums are order-
    independent AND tie-free across engines (r01 fix: the old
    round(score*1e4) double round-trip resolved rounding-boundary
    documents differently in Spark vs DuckDB)."""
    from fscrawler_spark.functions import textstats as TS

    d = _load(spark, sf_dir, "documents")
    return (
        d.select(
            TS.lang_id(F.col("text")).alias("langid"),
            TS.quality_e4(F.col("text")).alias("q_e4"),
        )
        .groupBy("langid")
        .agg(F.count("*").alias("cnt"), F.sum("q_e4").alias("sum_q_e4"))
        .orderBy("langid")
    )


def q18_cosine_topk(spark, sf_dir):
    """Similarity search — exact brute-force cosine top-5 per query
    vector (F.aggregate/zip_with fold, broadcast query side)."""
    from fscrawler_spark.operators.similarity import brute_force_topk

    e = _load(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 8)
    return (
        brute_force_topk(q, e, k=5)
        .select("qid", "cid", "rank", F.round("sim", 6).alias("sim6"))
        .orderBy("qid", "rank")
    )


def q19_ann_lsh_topk(spark, sf_dir):
    """Approximate cosine top-k via random-hyperplane LSH (scale path of
    q18).  Deterministic (seeded planes) but approximate — rows-only."""
    from fscrawler_spark.operators.similarity import hyperplane_lsh_topk

    e = _load(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 8)
    return (
        hyperplane_lsh_topk(q, e, k=5)
        .select("qid", "cid", "rank", F.round("sim", 6).alias("sim6"))
        .orderBy("qid", "rank")
    )


def q20_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs (hamming <= 2, pigeonhole block join).
    Engine-defined 64-bit hash — rows-only."""
    from fscrawler_spark.functions.textstats import tokens
    from fscrawler_spark.operators.similarity import simhash_pairs

    d = _load(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens(F.lower(F.col("text"))).alias("tk"))
    return simhash_pairs(toks, "doc_id", F.col("tk"), max_hamming=2).orderBy(
        "id_a", "id_b"
    )


def q21_crawl_waves(spark, sf_dir):
    """The wave-loop crawl itself on the deterministic synthetic pages
    fixture (BASELINE.json input_hint schema; no external data).
    Iterative — non-SQL-expressible; verified against the scalar
    simulator by tests/test_crawl_e2e.py.  Returns the scheduled set
    with (wave, rank) and extraction hashes."""
    from fscrawler_spark import schemas
    from fscrawler_spark.datagen import generate_pages
    from fscrawler_spark.filters import DepthFilter, ExtensionFilter
    from fscrawler_spark.plans.job import CrawlJob
    from fscrawler_spark.plans.wave_loop import run_crawl

    pages, seeds, robots = generate_pages("tiny", seed=42)

    def rows(records, schema):
        return [tuple(r.get(f.name) for f in schema.fields) for r in records]

    pages_df = spark.createDataFrame(rows(pages, schemas.PAGES), schemas.PAGES)
    robots_df = spark.createDataFrame(rows(robots, schemas.ROBOTS), schemas.ROBOTS)
    job = CrawlJob(
        politeness_budget=4,
        max_waves=4,
        skip_filters=(
            DepthFilter(4),
            ExtensionFilter(excluded=frozenset({"tmp", "log", "bak", "pyc"})),
        ),
    )
    res = run_crawl(
        spark, pages_df, seeds, job, robots=robots_df,
        checkpoint_dir=tempfile.mkdtemp(prefix="fsc_entry_"),
    )
    return (
        res.results(spark)
        .where(F.col("stage") == "EXTRACTED")
        .select("url", "wave", "rank_in_wave", "md5_hex", "extension")
        .orderBy("wave", "rank_in_wave")
    )


def q22_prefix_lookup(spark, sf_dir):
    """J5 — prefix + LIKE + mime-prefix lookup (the playlist query,
    data_manager.py:278-328: path LIKE 'p%' AND name LIKE '%n%' AND
    mime LIKE 'text/%') over the synthesized URL view; mime derives
    from extension (C3 analog)."""
    from fscrawler_spark.functions.urls import mime_type, url_name

    d = _doc_urls(spark, sf_dir)
    mime = mime_type(F.col("url"))
    return (
        d.where(
            F.col("url").startswith("http://src0.example/")
            & url_name(F.col("url")).contains("doc1")
            & mime.startswith("text/")
        )
        .select("doc_id", "url", mime.alias("mime"))
        .orderBy("doc_id")
    )


def q25_subtree_rollup(spark, sf_dir):
    """A1 — recursive subtree rollup (dir size = sum of children,
    file_system_crawler.py:486-488), Spark-first: one prefix-explode +
    hash aggregate computes every subtree total simultaneously."""
    from fscrawler_spark.operators.rollup import subtree_rollup

    d = _doc_urls(spark, sf_dir).select(
        "url", F.col("n_chars").cast("long").alias("size")
    )
    return subtree_rollup(d, "url", "size").orderBy("prefix")


def q26_embedding_dedup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (the vector-space dedup modality).
    Runs the hyperplane-LSH BUCKETED scale path (auto-tuned so a true
    pair at the threshold escapes all tables with prob <= 1e-9, then
    exact-cosine verified) — the oracle twin is the exact all-pairs SQL,
    so this green row proves bucketed == exact.  Threshold 0.45 is
    tuned to the synthetic embedding distribution (max pairwise cos
    ~0.51 at sf0.01) so the check has live targets."""
    from fscrawler_spark.operators.similarity import embedding_dedup_pairs

    e = _load(spark, sf_dir, "embeddings")
    return embedding_dedup_pairs(e, threshold=0.45, method="lsh").orderBy(
        "id_a", "id_b"
    )


_Q24_MEDIA_DIR = "/tmp/fscrawler_spark_q24_media"


def _q24_media_rows():
    from fscrawler_spark.functions import multimodal as MM

    rows = []
    for i in range(64):
        rows.append((i, f"http://m.example/img{i}.png", "image",
                     MM.encode_fake_image(8 + i % 9, 6, 3, seed=i)))
    for i in range(64, 80):
        rows.append((i, f"http://m.example/v{i}.mp4", "video",
                     MM.encode_fake_video(6 + i % 3, 4, 3, seed=i)))
    return rows


def _ensure_q24_media() -> str:
    """Materialize the deterministic fake-media table as parquet so BOTH
    engines read the same blobs (the DuckDB oracle can't call the numpy
    generators).  Always rewritten (cheap, 80 rows) so a stale file from
    older code can't skew the compare; os.replace keeps it atomic."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(_Q24_MEDIA_DIR, "media.parquet")
    os.makedirs(_Q24_MEDIA_DIR, exist_ok=True)
    rows = _q24_media_rows()
    tbl = pa.table({
        "media_id": pa.array([r[0] for r in rows], pa.int64()),
        "url": pa.array([r[1] for r in rows], pa.string()),
        "media_type": pa.array([r[2] for r in rows], pa.string()),
        "data": pa.array([r[3] for r in rows], pa.binary()),
    })
    tmp = path + ".tmp"
    pq.write_table(tbl, tmp)
    os.replace(tmp, path)
    return path


def q24_media_features(spark, sf_dir):
    """Multimodal columns: fake media blobs in parquet -> mapInPandas
    header decode + exact payload byte-sum feature + frame sampling (the
    Spark plumbing is real; codecs stubbed —
    fscrawler_spark/functions/multimodal.py).  All outputs are exact
    integers (-1 = not-applicable for the other modality), so the DuckDB
    twin can reparse the same blobs digit-exactly via hex().  The
    float32 feature vectors (image_features) stay pytest-verified — a
    float32 pooled mean can't be reproduced bit-exactly in SQL."""
    from fscrawler_spark.functions import multimodal as MM

    media = spark.read.parquet(_ensure_q24_media())
    info = MM.image_info(media)
    frames = (
        MM.sample_frames(media, every_n=2)
        .groupBy("media_id")
        .agg(F.count("*").alias("nf"))
    )
    base = media.select(
        "media_id", "media_type", F.length("data").cast("long").alias("n_bytes")
    )
    return (
        base
        .join(
            info.select(
                "media_id",
                F.col("width").cast("long").alias("w"),
                F.col("height").cast("long").alias("h"),
                F.col("channels").cast("long").alias("c"),
                "px_sum",
            ),
            "media_id", "left",
        )
        .join(frames, "media_id", "left")
        .select(
            "media_id", "media_type", "n_bytes",
            F.coalesce("w", F.lit(-1)).alias("width"),
            F.coalesce("h", F.lit(-1)).alias("height"),
            F.coalesce("c", F.lit(-1)).alias("channels"),
            F.coalesce("px_sum", F.lit(-1)).alias("px_sum"),
            F.coalesce("nf", F.lit(-1)).cast("long").alias("n_frames_sampled"),
        )
        .orderBy("media_id")
    )


def q34_thumbnails(spark, sf_dir):
    """Preview/thumbnail generation (the reference's
    PreviewFileProcessor, app/processors/preview_file_processor.py:17-62):
    per image one cover thumbnail, per video a cover frame plus evenly
    spaced frames, each mean-pooled to max_px=4 and re-encoded as real
    PNG bytes (fscrawler_spark/functions/multimodal.py:thumbnails).
    The oracle recomputes the frame-index selection and the pooled
    output dimensions from the same blob headers with pure integer
    SQL; the PNG pixel bytes themselves are pytest-verified by decode
    round-trip (zlib output is not reproducible in SQL)."""
    from fscrawler_spark.functions import multimodal as MM

    media = spark.read.parquet(_ensure_q24_media())
    return (
        MM.thumbnails(media, max_px=4, n_frames=4, cover_offset_frac=0.1)
        .select(
            "media_id", "kind",
            F.col("frame_idx").cast("long").alias("frame_idx"),
            F.col("width").cast("long").alias("width"),
            F.col("height").cast("long").alias("height"),
        )
        .orderBy("media_id", "kind", "frame_idx")
    )


_Q35_MEDIA_DIR = "/tmp/fscrawler_spark_q35_media"


def _encode_bmp24(arr) -> bytes:
    """Minimal bottom-up 24-bit BI_RGB BMP writer for the q35 fixture
    (the engine only DECODES BMP; this is fixture plumbing)."""
    import numpy as np

    h, w, _ = arr.shape
    row = (w * 3 + 3) & ~3
    pix = bytearray()
    for y in range(h - 1, -1, -1):
        line = np.ascontiguousarray(arr[y, :, ::-1]).tobytes()
        pix += line + b"\x00" * (row - len(line))
    off = 14 + 40
    hdr = b"BM" + _st.pack("<IHHI", off + len(pix), 0, 0, off)
    hdr += _st.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix),
                    2835, 2835, 0, 0)
    return bytes(hdr) + bytes(pix)


def _encode_bmp16(vals, bitfields: bool = False) -> bytes:
    """Minimal bottom-up 16-bit BMP writer for the q35 fixture:
    BI_RGB (implied 5-5-5) or BI_BITFIELDS with appended 5-6-5 masks.
    vals is an (h, w) uint16 array of raw sample words."""
    h, w = vals.shape
    row = (w * 2 + 3) & ~3
    pix = bytearray()
    for y in range(h - 1, -1, -1):
        line = vals[y].astype("<u2").tobytes()
        pix += line + b"\x00" * (row - len(line))
    masks = _st.pack("<III", 0xF800, 0x07E0, 0x001F) if bitfields else b""
    off = 14 + 40 + len(masks)
    hdr = b"BM" + _st.pack("<IHHI", off + len(pix), 0, 0, off)
    hdr += _st.pack("<IiiHHIIiiII", 40, w, h, 1, 16,
                    3 if bitfields else 0, len(pix), 2835, 2835, 0, 0)
    return bytes(hdr) + masks + bytes(pix)


def _encode_bmp_embedded(stream: bytes, w: int, h: int, comp: int) -> bytes:
    """BI_JPEG(4)/BI_PNG(5) BMP wrapper for the q35 fixture: the
    bitmap data is one complete embedded JPEG/PNG stream at
    bfOffBits=54, biBitCount=0 per the MSDN embedding semantics."""
    off = 14 + 40
    hdr = b"BM" + _st.pack("<IHHI", off + len(stream), 0, 0, off)
    hdr += _st.pack("<IiiHHIIiiII", 40, w, h, 1, 0, comp, len(stream),
                    2835, 2835, 0, 0)
    return bytes(hdr) + stream


def _q35_media_rows():
    import numpy as np

    from fscrawler_spark.functions import multimodal as MM
    from fscrawler_spark.functions.gif import encode_gif
    from fscrawler_spark.functions.jpeg import encode_jpeg
    from fscrawler_spark.functions.tiff import encode_tiff

    def rng(seed):
        return np.random.Generator(np.random.PCG64(seed))

    rows = []

    def add(blob, ext):
        rows.append((len(rows), f"http://m.example/{len(rows)}.{ext}",
                     "image", blob))

    for i in range(10):  # PNG: all four channel counts
        c = (1, 2, 3, 4)[i % 4]
        arr = rng(100 + i).integers(0, 256, (5 + i, 7 + i % 5, c),
                                    dtype=np.uint8)
        add(MM.encode_png(arr), "png")
    for i in range(10):  # GIF: palette images (static -> RGB)
        pal = rng(200 + i).integers(0, 256, (32, 3), dtype=np.uint8)
        idx = rng(300 + i).integers(0, 32, (4 + i, 6 + i % 4))
        add(encode_gif(pal[idx]), "gif")
    for i in range(10):  # BMP 24-bit
        arr = rng(400 + i).integers(0, 256, (6 + i, 5 + i % 6, 3),
                                    dtype=np.uint8)
        add(_encode_bmp24(arr), "bmp")
    for i in range(10):  # JPEG: gray and color, quality 100
        shape = (8 + i, 9 + i % 5) if i % 2 else (8 + i, 9 + i % 5, 3)
        arr = rng(500 + i).integers(0, 256, shape, dtype=np.uint8)
        add(encode_jpeg(arr, quality=100), "jpg")
    for i in range(8):  # TIFF: gray/RGB/RGBA, single strip
        c = (1, 3, 4)[i % 3]
        shape = (4 + i, 6 + i % 4) if c == 1 else (4 + i, 6 + i % 4, c)
        arr = rng(600 + i).integers(0, 256, shape, dtype=np.uint8)
        add(encode_tiff(arr), "tif")
    for i in range(6):  # PNG Adam7-interlaced (all channel counts)
        c = (1, 2, 3, 4)[i % 4]
        arr = rng(700 + i).integers(0, 256, (3 + 3 * i, 9 - i, c),
                                    dtype=np.uint8)
        add(MM.encode_png(arr, interlace=True), "png")
    for i in range(6):  # JPEG progressive (SOF2), gray + color
        shape = (7 + i, 11 - i % 3) if i % 2 else (7 + i, 11 - i % 3, 3)
        arr = rng(800 + i).integers(0, 256, shape, dtype=np.uint8)
        add(encode_jpeg(arr, quality=100, progressive=True,
                        subsample=(i == 4)), "jpg")
    # TIFF LZW / PackBits (round-5), predictor on/off, multi-strip.
    # The Predictor tag (317) sorts LAST in the IFD, so the oracle's
    # fixed entry offsets (ifd+10/22/82) are unchanged.
    for i, (comp, pred) in enumerate([(5, 1), (5, 2), (32773, 1),
                                      (32773, 2)]):
        c = (1, 3)[i % 2]
        shape = (5 + i, 7 - i % 3) if c == 1 else (5 + i, 7 - i % 3, c)
        arr = rng(900 + i).integers(0, 256, shape, dtype=np.uint8)
        add(encode_tiff(arr, rows_per_strip=3, compression=comp,
                        predictor=pred), "tif")
    for i in range(4):  # BMP 16-bit: BI_RGB 555 and BI_BITFIELDS 565
        vals = rng(950 + i).integers(0, 1 << 16, (4 + i, 5 + i % 3),
                                     dtype=np.uint16)
        add(_encode_bmp16(vals, bitfields=i % 2 == 1), "bmp")
    # Round-5 delegation paths: BI_PNG/BI_JPEG embedded BMPs (dims
    # stay at the standard BMP header offsets; channels come from the
    # embedded stream — PNG IHDR color type at the fixed bfOffBits=54,
    # JPEG SOF via the same marker scan as standalone JPEGs) and
    # JPEG-in-TIFF Compression 7 (same 9-tag IFD layout as the
    # uncompressed rows, so the oracle's fixed entry offsets hold).
    for i in range(4):  # BI_PNG at all four channel counts
        c = (1, 2, 3, 4)[i]
        arr = rng(980 + i).integers(0, 256, (5 + i, 6 + i % 3, c),
                                    dtype=np.uint8)
        add(_encode_bmp_embedded(MM.encode_png(arr), arr.shape[1],
                                 arr.shape[0], 5), "bmp")
    for i in range(2):  # BI_JPEG gray + color
        shape = (6, 8) if i == 0 else (7, 8, 3)
        arr = rng(990 + i).integers(0, 256, shape, dtype=np.uint8)
        add(_encode_bmp_embedded(encode_jpeg(arr, quality=100), 8,
                                 6 + i, 4), "bmp")
    for i, (spp, rps) in enumerate([(1, None), (3, None), (3, 3)]):
        shape = (5 + i, 7) if spp == 1 else (5 + i, 7, 3)
        arr = rng(995 + i).integers(0, 256, shape, dtype=np.uint8)
        add(encode_tiff(arr, rows_per_strip=rps, compression=7), "tif")
    for i, pred in enumerate([1, 2]):  # TIFF Deflate, predictor off/on
        arr = rng(1000 + i).integers(0, 256, (6, 5 + i, 3),
                                     dtype=np.uint8)
        add(encode_tiff(arr, rows_per_strip=2, compression=8,
                        predictor=pred), "tif")
    # BMP BI_ALPHABITFIELDS (compression 6): four appended masks
    # (4-4-4-4 ARGB), decodes to 4 channels
    vals = rng(1010).integers(0, 1 << 16, (5, 4), dtype=np.uint16)
    pix = bytearray()
    for y in range(4, -1, -1):
        line = vals[y].astype("<u2").tobytes()
        pix += line + b"\x00" * (-len(line) % 4)
    masks = _st.pack("<IIII", 0x0F00, 0x00F0, 0x000F, 0xF000)
    off = 14 + 40 + 16
    hdr = b"BM" + _st.pack("<IHHI", off + len(pix), 0, 0, off)
    hdr += _st.pack("<IiiHHIIiiII", 40, 4, 5, 1, 16, 6, len(pix),
                    2835, 2835, 0, 0)
    add(bytes(hdr) + masks + bytes(pix), "bmp")
    return rows


def _ensure_q35_media() -> str:
    """Materialize the REAL-codec media table (PNG/GIF/BMP/JPEG/TIFF
    blobs from this repo's own encoders) so both engines read identical
    bytes — same protocol as _ensure_q24_media."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(_Q35_MEDIA_DIR, "media.parquet")
    os.makedirs(_Q35_MEDIA_DIR, exist_ok=True)
    rows = _q35_media_rows()
    tbl = pa.table({
        "media_id": pa.array([r[0] for r in rows], pa.int64()),
        "url": pa.array([r[1] for r in rows], pa.string()),
        "media_type": pa.array([r[2] for r in rows], pa.string()),
        "data": pa.array([r[3] for r in rows], pa.binary()),
    })
    tmp = path + ".tmp"
    pq.write_table(tbl, tmp)
    os.replace(tmp, path)
    return path


def q35_real_codec_info(spark, sf_dir):
    """REAL-format codec verification, oracle-checked: image_info runs
    the from-scratch PNG/GIF/BMP/JPEG/TIFF decoders
    (fscrawler_spark/functions/) over blobs those codecs' own encoders
    produced, and the DuckDB twin re-derives width/height/channels
    INDEPENDENTLY from the raw container headers with hex/strpos
    integer arithmetic (PNG IHDR big-endian, GIF/BMP/TIFF little-endian
    fields, JPEG SOF0 located by marker scan — safe at quality 100
    where no pre-SOF byte is 0xFF).  Decoded pixel values stay
    pytest-verified (entropy-coded payloads are not reproducible in
    SQL); this row proves the dispatch + header geometry of every real
    decoder against an independent parser."""
    from fscrawler_spark.functions import multimodal as MM

    media = spark.read.parquet(_ensure_q35_media())
    codec = (
        F.when(F.hex(F.substring("data", 1, 4)) == "89504E47", "png")
        .when(F.hex(F.substring("data", 1, 3)) == "474946", "gif")
        .when(F.hex(F.substring("data", 1, 2)) == "424D", "bmp")
        .when(F.hex(F.substring("data", 1, 2)) == "FFD8", "jpeg")
        .when(F.hex(F.substring("data", 1, 4)) == "49492A00", "tiff")
    )
    base = media.select(
        "media_id", codec.alias("codec"),
        F.length("data").cast("long").alias("n_bytes"),
    )
    info = MM.image_info(media).select(
        "media_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("channels").cast("long").alias("channels"),
    )
    return base.join(info, "media_id").orderBy("media_id")


_Q36_MEDIA_DIR = "/tmp/fscrawler_spark_q36_media"


def _q36_media_rows():
    """Deterministic compressed-media fixtures: MP3 (CBR Layer III,
    both MPEG versions), MP4 (avc1+SPS / raw video / +audio /
    audio-only, dyadic durations so duration*1e6 is double-exact),
    and single-audio-page Ogg Opus/Vorbis.  ID3/Xing/multi-page
    regimes stay pytest-covered (tests/test_mediameta.py) — this
    table is the fixed-layout regime the SQL twin can re-parse."""
    from fscrawler_spark.functions import mediameta as MM

    rows = []

    def add(blob, ext):
        rows.append((len(rows), f"http://m.example/{len(rows)}.{ext}",
                     "av", blob))

    mp3_specs = [
        (25, 128, 44100, 2, False), (40, 320, 48000, 2, False),
        (13, 96, 32000, 1, False), (7, 40, 44100, 1, False),
        (60, 64, 22050, 2, True), (31, 24, 24000, 1, True),
        (18, 144, 16000, 2, True), (5, 8, 22050, 1, True),
        (100, 192, 44100, 2, False), (3, 160, 16000, 2, True),
    ]
    for n, br, sr, ch, v2 in mp3_specs:
        add(MM.synth_mp3(n, br, sr, ch, mpeg2=v2), "mp3")
    mp4_specs = [
        # (duration dyadic, timescale | 1e6, w, h, sps?, audio?)
        (12.5, 1000, 1920, 1080, True, None),
        (0.5, 8000, 640, 480, True, (44100, 2)),
        (90.25, 250, 1280, 720, True, None),
        (3.75, 1000, 320, 240, False, None),      # raw video, tkhd dims
        (8.0, 16, None, None, False, (48000, 1)),  # audio-only
        (0.0625, 8000, 1918, 1078, True, None),    # cropped SPS dims
        (2.25, 1000, 100, 50, True, (8000, 2)),
    ]
    for d, ts, w, h, use_sps, audio in mp4_specs:
        sps = MM.encode_sps(w, h) if use_sps else None
        add(MM.synth_mp4(d, ts, w, h, sps=sps, audio=audio), "mp4")
    for n48, ch, preskip in [(48000 * 3, 2, 312), (4800, 1, 0),
                             (96000, 2, 3840), (480, 1, 312)]:
        add(MM.synth_ogg("opus", n48, channels=ch, preskip=preskip), "opus")
    for n, sr, ch in [(44100 * 2, 44100, 2), (8000, 8000, 1),
                      (12000, 32000, 2)]:
        add(MM.synth_ogg("vorbis", n, sample_rate=sr, channels=ch), "ogg")
    webm_specs = [
        # (duration, timescale, w, h, vcodec, (sr, ch), acodec)
        (12.5, 1_000_000, 1920, 1080, "V_VP9", (48000, 2), "A_OPUS"),
        (3.25, 500_000, None, None, "V_VP9", (44100, 1), "A_VORBIS"),
        (0.5, 1_000_000, 640, 360, "V_VP8", None, "A_OPUS"),
        (8.0, 1_000_000, 256, 144, "V_AV1", (24000, 1), "A_OPUS"),
    ]
    for d, ts, w, h, vc, audio, ac in webm_specs:
        add(MM.synth_webm(d, timescale=ts, width=w, height=h,
                          video_codec=vc, audio=audio, audio_codec=ac),
            "webm")
    return rows


def _ensure_q36_media() -> str:
    """Materialize the compressed-media metadata table (same protocol
    as _ensure_q35_media: both engines read identical bytes)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(_Q36_MEDIA_DIR, "media.parquet")
    os.makedirs(_Q36_MEDIA_DIR, exist_ok=True)
    rows = _q36_media_rows()
    tbl = pa.table({
        "media_id": pa.array([r[0] for r in rows], pa.int64()),
        "url": pa.array([r[1] for r in rows], pa.string()),
        "media_type": pa.array([r[2] for r in rows], pa.string()),
        "data": pa.array([r[3] for r in rows], pa.binary()),
    })
    tmp = path + ".tmp"
    pq.write_table(tbl, tmp)
    os.replace(tmp, path)
    return path


def q36_media_metadata(spark, sf_dir):
    """Structural metadata for COMPRESSED media (the declared
    entropy-decode boundary formats), oracle-checked: media_info walks
    MP3 frame headers, MP4 boxes (H.264 SPS dims via Exp-Golomb) and
    Ogg pages and WebM EBML trees (functions/mediameta.py), and the
    DuckDB twin re-derives every field independently from the raw
    container bytes — the MP3 header tables and frame-length
    arithmetic restated in SQL, mvhd/tkhd/mp4a fields at strpos-located
    box offsets, Ogg granule/pre-skip arithmetic at the fixed
    single-page layout, and WebM's IEEE-float64 duration/sample-rate
    payloads reconstructed exactly from hex ((2^52+mantissa) *
    2^(exp-1075)).  duration_e6 is computed with the same double-op
    order on both sides, so the value hash is exact."""
    from fscrawler_spark.functions import mediameta as MM

    media = spark.read.parquet(_ensure_q36_media())
    return (
        MM.media_info(media)
        .select(
            "media_id", "container", "codec",
            F.round(F.col("duration_sec") * 1e6).cast("long")
            .alias("duration_e6"),
            F.col("width").cast("long").alias("width"),
            F.col("height").cast("long").alias("height"),
            F.col("sample_rate").cast("long").alias("sample_rate"),
            F.col("channels").cast("long").alias("channels"),
            F.col("bit_rate_kbps").cast("long").alias("bit_rate_kbps_floor"),
            F.col("n_frames").cast("long").alias("n_frames"),
            F.col("n_bytes").cast("long").alias("n_bytes"),
        )
        .orderBy("media_id")
    )


def q37_repeated_passages(spark, sf_dir):
    """Exact repeated-passage detection: word 8-grams shared by >= 2
    distinct documents (fixed-window substring-dedup signal, the
    distributable form of suffix-array training-data dedup).  Same
    tokenizer convention as q14's Jaccard shingles, so the DuckDB twin
    restates it with regexp_split + list slicing."""
    from fscrawler_spark.operators.similarity import repeated_ngram_passages

    d = _load(spark, sf_dir, "documents")
    return (
        repeated_ngram_passages(d, "doc_id", "text", n=8, min_docs=2)
        .orderBy(F.desc("n_docs"), "gram")
    )


def q38_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS: the q15 pair graph resolved to connected
    components (alternating large-star/small-star — Kiveris et al.
    2014) with a deterministic min-id canonical per cluster; every
    document labeled, singletons included.  The DuckDB twin computes
    the same pairs, then the transitive closure as a recursive CTE."""
    from fscrawler_spark.operators.graph import dedup_clusters
    from fscrawler_spark.operators.similarity import minhash_lsh_pairs

    d = _load(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(d, "doc_id", "text", 0.5, num_hashes=128, bands=64)
    return (
        dedup_clusters(d, "doc_id", pairs)
        .orderBy("doc_id")
    )


def q39_stratified_sample(spark, sf_dir):
    """Deterministic per-language downsampling (hash-threshold
    sampling): en to 25%, zh to 60%, everything else 50%.  The
    predicate is a pushable scan filter — md5 hex compared against a
    fixed-width hex threshold string, bit-identical in any engine, so
    the DuckDB twin runs the SAME expression (no RNG to reconcile)."""
    from fscrawler_spark.operators.sampling import stratified_hash_sample

    d = _load(spark, sf_dir, "documents")
    return (
        stratified_hash_sample(
            d, "lang", "doc_id", {"en": 0.25, "zh": 0.6},
            default_fraction=0.5, salt="s1",
        )
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


def q40_decontamination(spark, sf_dir):
    """Train/test decontamination: training docs (doc_id % 10 != 0)
    sharing any word-8-gram with the held-out slice (doc_id % 10 == 0).
    Test grams collapse to distinct before a broadcast semi-join — the
    training corpus never shuffles."""
    from fscrawler_spark.operators.similarity import contaminated_ids

    d = _load(spark, sf_dir, "documents")
    train = d.where(F.col("doc_id") % 10 != 0)
    test = d.where(F.col("doc_id") % 10 == 0)
    return contaminated_ids(train, test, "doc_id", "text", n=8).orderBy("doc_id")


def q41_pii_redaction(spark, sf_dir):
    """PII masking (C4/Dolma-style): emails -> <EMAIL>, IPv4 -> <IP>,
    E.164-ish phones -> <PHONE>, one fused codegen projection
    (functions/pii.py — patterns deterministic under both Java regex
    and RE2, so the oracle md5-compares the redacted text
    byte-for-byte).  Deterministic PII is appended per-doc first so
    every row exercises all three masks regardless of corpus content."""
    from fscrawler_spark.functions import pii

    d = _load(spark, sf_dir, "documents")
    aug = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(" Contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.1."),
        (F.col("doc_id") % 250).cast("string"),
        F.lit(".7 call +1 555 "),
        F.lpad(((F.col("doc_id") * 7) % 10000).cast("string"), 4, "0"),
    )
    e_masked = pii.mask_emails(aug)
    i_masked = pii.mask_ipv4(e_masked)
    return (
        d.select(
            "doc_id",
            pii.email_count(aug).alias("email_cnt"),
            F.regexp_count(e_masked, F.lit(pii.IPV4_RE)).cast("int").alias("ipv4_cnt"),
            F.regexp_count(i_masked, F.lit(pii.PHONE_RE)).cast("int").alias("phone_cnt"),
            F.md5(pii.mask_phones(i_masked)).alias("red_md5"),
            F.length(pii.mask_phones(i_masked)).alias("red_len"),
        )
        .orderBy("doc_id")
    )


def q42_crawl_pagerank(spark, sf_dir):
    """Crawl-frontier prioritization: 3-iteration fixed-point PageRank
    (operators/graph.py pagerank_scores) over a deterministic synthetic
    link graph derived from `documents` (node = dense doc rank, three
    out-links per node via a fixed affine map).  Integer micro-rank
    arithmetic end-to-end, so the oracle (the same three rounds
    unrolled as DuckDB CTEs) matches bit-for-bit — float PageRank sums
    would be partition-order-dependent and uncheckable."""
    from fscrawler_spark.operators.graph import pagerank_scores

    d = _load(spark, sf_dir, "documents")
    n = d.count()
    w = Window.orderBy("doc_id")
    nid = d.select((F.row_number().over(w) - 1).cast("long").alias("nid"))
    e = (
        nid.select(
            "nid", F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j")
        )
        .select(
            F.col("nid").alias("src"),
            ((F.col("nid") * 31 + F.col("j") * 97) % n).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
    )
    return pagerank_scores(e, iters=3).orderBy("id")


def q43_tfidf_topk(spark, sf_dir):
    """Per-document salient-term extraction: top-3 terms by linear-idf
    tf-idf (operators/textsearch.tfidf_topk) over the q27 posting
    table.  n_docs is the one config-scale scalar collected."""
    from fscrawler_spark.operators.textsearch import build_inverted_index, tfidf_topk

    d = _load(spark, sf_dir, "documents")
    idx = build_inverted_index(d, "doc_id", "text")
    return tfidf_topk(idx, n_docs=d.count(), k=3).orderBy("doc_id", "rk")


def q44_repetition_filter(spark, sf_dir):
    """Gopher-style word-level repetition rules
    (operators/textsearch.repetition_stats): top-word fraction,
    duplicate-word mass, unique-word ratio, and the keep decision —
    thresholds chosen so the sf corpus splits on every rule."""
    from fscrawler_spark.operators.textsearch import (
        build_inverted_index,
        repetition_stats,
    )

    d = _load(spark, sf_dir, "documents")
    idx = build_inverted_index(d, "doc_id", "text")
    return repetition_stats(idx).orderBy("doc_id")


def q45_winnow_fingerprints(spark, sf_dir):
    """Winnowing (MOSS) document fingerprints: word 4-gram md5
    prefixes, minimum per sliding window of 4
    (operators/similarity.winnow_fingerprints) — the position-robust
    substring sketch with the 2/(w+1) density guarantee."""
    from fscrawler_spark.operators.similarity import winnow_fingerprints

    d = _load(spark, sf_dir, "documents")
    return winnow_fingerprints(d, "doc_id", "text", k=4, w=4).orderBy(
        "doc_id", "fp"
    )


def q46_sessionize(spark, sf_dir):
    """Gap-based sessionization of the events stream via Spark's NATIVE
    batch session_window aggregate (operators/sessions.sessionize):
    6-hour idle gap, per-session counts/bounds/duration plus an exact
    centi-unit value sum."""
    from fscrawler_spark.operators.sessions import sessionize

    e = _load(spark, sf_dir, "events")
    return sessionize(e, "user_id", "ts", "6 hours", value_col="value").orderBy(
        "user_id", "session_seq"
    )


def q47_asof_join(spark, sf_dir):
    """Backward as-of join (operators/asof.asof_join_backward): each
    click attributed to the user's latest view at or before it — the
    union + carry-forward pattern, one shuffle, no inequality join.
    Oracle: DuckDB's NATIVE ASOF LEFT JOIN."""
    from fscrawler_spark.operators.asof import asof_join_backward

    def us(c):
        return F.timestamp_diff(
            "MICROSECOND", F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"), c
        )

    e = _load(spark, sf_dir, "events")
    views = e.where(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.col("event_id").alias("view_id"),
        us(F.col("ts")).alias("view_us"),
    )
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    j = asof_join_backward(
        clicks, views, ["user_id"], "ts", ["click_id"], ["view_id", "view_us"]
    )
    return j.select(
        "user_id",
        us(F.col("ts")).alias("click_us"),
        "click_id",
        "view_id",
        "view_us",
        (us(F.col("ts")) - F.col("view_us")).alias("lag_us"),
    ).orderBy("click_id")


def q48_range_join(spark, sf_dir):
    """Bucketed range join (operators/rangejoin.interval_point_join):
    every event vs the ±5-minute windows around error events — the
    concurrent-incident counter.  Oracle: a plain theta join (DuckDB
    IEJoin) over the same inclusive bounds."""
    from fscrawler_spark.operators.rangejoin import interval_point_join

    def us(c):
        return F.timestamp_diff(
            "MICROSECOND", F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"), c
        )

    e = _load(spark, sf_dir, "events")
    half = 300_000_000  # 5 minutes in micros
    points = e.select("event_id", "event_type", us(F.col("ts")).alias("x_us"))
    errs = e.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        (us(F.col("ts")) - half).alias("lo_us"),
        (us(F.col("ts")) + half).alias("hi_us"),
    )
    pairs = interval_point_join(
        points, errs, "x_us", "lo_us", "hi_us", bucket_width=2 * half, how="left"
    )
    return (
        pairs.groupBy("event_id", "event_type")
        .agg(
            F.count(
                F.when(F.col("err_id") != F.col("event_id"), F.col("err_id"))
            )
            .cast("long")
            .alias("n_concurrent_errors")
        )
        .orderBy("event_id")
    )


def q49_percentiles(spark, sf_dir):
    """Per-type exact distribution profile
    (metrics.distribution_profile): count/min/max + exact interpolated
    p50/p90/p99 — Spark's sort-based percentile aggregate, digit-exact
    vs ANSI percentile_cont."""
    from fscrawler_spark.metrics import distribution_profile

    e = _load(spark, sf_dir, "events")
    return distribution_profile(e, "event_type", "value").orderBy("event_type")


def q50_hashed_classifier(spark, sf_dir):
    """fastText-shape hashed linear classifier
    (functions/textclass.hashed_linear_score): 16-bit md5 feature
    hashing, deterministic integer weights, per-doc score + keep."""
    from fscrawler_spark.functions.textclass import hashed_linear_score

    d = _load(spark, sf_dir, "documents")
    return hashed_linear_score(d, "doc_id", "text").orderBy("doc_id")


def q51_hopping_window(spark, sf_dir):
    """Hopping (sliding) time-window aggregation with Spark's NATIVE
    F.window operator — 1-day windows every 6 hours, so each event
    lands in 4 overlapping windows; per (window, type) counts and
    exact centi-unit sums.  SURVEY §2.5's time windows as a
    first-class batch query (the streaming twin is
    streaming/pipeline.host_window_counts)."""

    def us(c):
        return F.timestamp_diff(
            "MICROSECOND", F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"), c
        )

    e = _load(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 day", "6 hours").alias("win"), "event_type"
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long"))
            .cast("long")
            .alias("sum_value_e2"),
        )
        .select(
            us(F.col("win.start")).alias("win_start_us"),
            "event_type",
            "n",
            "sum_value_e2",
        )
        .orderBy("win_start_us", "event_type")
    )


def q52_prefix_filter_join(spark, sf_dir):
    """Exact threshold Jaccard join via prefix filtering (PPJoin
    family, operators/similarity.prefix_filter_jaccard_pairs):
    subquadratic AND exact — same contract and oracle as q14/q15."""
    from fscrawler_spark.operators.similarity import prefix_filter_jaccard_pairs

    d = _load(spark, sf_dir, "documents")
    return prefix_filter_jaccard_pairs(d, "doc_id", "text", 0.5, 3).orderBy(
        "id_a", "id_b"
    )


def q53_scalar_quantize(spark, sf_dir):
    """FAISS-SQ8-style per-vector scalar quantization
    (operators/similarity.scalar_quantize_codes): engine-exact int
    codes for every (vector, dim)."""
    from fscrawler_spark.operators.similarity import scalar_quantize_codes

    e = _load(spark, sf_dir, "embeddings")
    return scalar_quantize_codes(e, "vec_id", "embedding").orderBy(
        "vec_id", "pos"
    )


def q54_collocations(spark, sf_dir):
    """Corpus collocations by integer-exact cosine association
    (operators/textsearch.collocations_topk): top-50 adjacent pairs,
    score_e6 = cxy^2*1e6 DIV (cx*cy)."""
    from fscrawler_spark.operators.textsearch import collocations_topk

    d = _load(spark, sf_dir, "documents")
    return collocations_topk(d, "doc_id", "text", k=50, min_pair=2)


def q55_json_extract(spark, sf_dir):
    """JSON path extraction over the events props column (SURVEY §2.8
    scalar-function surface): get_json_object stays inside codegen; per
    type, sum/min/max/distinct of the extracted integer."""
    e = _load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.count_distinct("k").cast("long").alias("n_distinct_k"),
        )
        .orderBy("event_type")
    )


def q56_pivot(spark, sf_dir):
    """Relational PIVOT (wide counts): days x event_type via Spark's
    native pivot with an explicit value list (explicit values keep the
    plan one pass — no distinct-collection job — and pin the output
    schema for the oracle)."""
    e = _load(spark, sf_dir, "events")
    day = F.date_trunc("DAY", F.col("ts")).cast("date")
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        e.select(day.alias("day"), "event_type")
        .groupBy("day")
        .pivot("event_type", types)
        .count()
        .na.fill(0, types)
    )
    return out.select(
        F.col("day").cast("string").alias("day"),
        *[F.col(t).cast("long").alias(f"n_{t}") for t in types],
    ).orderBy("day")


def q57_corpus_prep(spark, sf_dir):
    """End-to-end corpus-prep composition (operators/prep.corpus_prep):
    Gopher repetition filter (q44 machinery) -> exact near-dup
    canonicalization (min doc_id per normalized-text fingerprint) ->
    deterministic 50% hash sample (q39 machinery), as ONE declarative
    plan Catalyst optimizes whole."""
    from fscrawler_spark.operators.prep import corpus_prep

    d = _load(spark, sf_dir, "documents")
    out = corpus_prep(d, "doc_id", "text", 0.5, salt="corpusv1")
    return out.select("doc_id", "lang", "source", "n_chars").orderBy("doc_id")


def q58_surt_keys(spark, sf_dir):
    """SURT canonical URL keys (functions/urls.surt_key) over the
    synthesized documents-URL view — the CDX/WARC locality + frontier
    range-partitioning key; domain_key is the host-only prefix."""
    from fscrawler_spark.functions.urls import surt_key, url_host

    d = _doc_urls(spark, sf_dir)
    host = F.lower(url_host(F.col("url")))
    return d.select(
        "doc_id",
        surt_key(F.col("url")).alias("surt"),
        F.array_join(F.reverse(F.split(host, r"\.")), ",").alias("domain_key"),
    ).orderBy("surt", "doc_id")


def q59_hash_split(spark, sf_dir):
    """Deterministic 80/10/10 train/valid/test split
    (operators/sampling.hash_split): complementary md5 ranges —
    disjoint and exhaustive by construction, stable across engines."""
    from fscrawler_spark.operators.sampling import hash_split

    d = _load(spark, sf_dir, "documents")
    out = hash_split(
        d, "doc_id", {"train": 0.8, "valid": 0.1, "test": 0.1}, salt="splitv1"
    )
    return (
        out.groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .orderBy("split")
    )


def q60_star_join(spark, sf_dir):
    """TPC-H Q5-shaped star join: region -> nation -> customer ->
    orders -> lineitem with the local-supplier constraint
    (s_nationkey = c_nationkey).  Dims are broadcast (explicitly for
    region/nation/supplier; AQE would pick the same), the two fact
    joins are the only shuffles, and revenue uses the q01 scaled-
    BIGINT recipe so the sum is exact and order-independent."""
    r = _load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = _load(spark, sf_dir, "nation")
    c = _load(spark, sf_dir, "customer")
    o = _load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = _load(spark, sf_dir, "lineitem")
    s = _load(spark, sf_dir, "supplier")
    rev = (
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(18,6)") * 1000000
    ).cast("long")
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .join(o, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.sum(rev).alias("revenue_c6"),
            F.count("*").cast("long").alias("n_items"),
        )
        .orderBy(F.col("revenue_c6").desc(), "n_name")
    )


def q61_quality_buckets(spark, sf_dir):
    """CCNet-style head/middle/tail corpus bucketing: ntile(3) over the
    exact quality score within each language (deterministic total
    order: score desc, doc_id asc), then per-bucket profile.  The
    perplexity-tercile pattern with the engine-exact q17 score."""
    from pyspark.sql import Window

    from fscrawler_spark.functions.textstats import quality_e4

    d = _load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.col("q_e4").desc(), F.col("doc_id").asc()
    )
    scored = d.select(
        "doc_id", "lang", quality_e4(F.col("text")).alias("q_e4")
    ).withColumn("bucket", F.ntile(3).over(w))
    return (
        scored.groupBy("lang", "bucket")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("q_e4").alias("min_q"),
            F.max("q_e4").alias("max_q"),
        )
        .orderBy("lang", "bucket")
    )


def q62_recrawl_diff(spark, sf_dir):
    """Recrawl change detection (the CDC diff that drives refresh
    scheduling — Cho & Garcia-Molina change-rate estimation needs
    exactly this signal): snapshot A = the documents table; snapshot B
    = a deterministic synthetic recrawl (every 5th doc's text mutated,
    every 11th doc dropped as a dead link, every 13th doc_id shifted
    into a new-page id range).  Full outer join on doc_id + md5
    compare -> added / removed / changed / unchanged, counted per
    lang of whichever side exists."""
    d = _load(spark, sf_dir, "documents")
    b = (
        d.where(F.col("doc_id") % 11 != 0)
        .select(
            F.when(
                F.col("doc_id") % 13 == 0, F.col("doc_id") + 1000000
            ).otherwise(F.col("doc_id")).alias("doc_id"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.col("text"), F.lit(" [updated]")),
            ).otherwise(F.col("text")).alias("text"),
            "lang",
        )
    )
    a = d.select("doc_id", "text", "lang")
    j = a.alias("a").join(
        b.alias("b"), F.col("a.doc_id") == F.col("b.doc_id"), "full_outer"
    )
    status = (
        F.when(F.col("a.doc_id").isNull(), F.lit("added"))
        .when(F.col("b.doc_id").isNull(), F.lit("removed"))
        .when(
            F.md5(F.coalesce(F.col("a.text"), F.lit("")))
            == F.md5(F.coalesce(F.col("b.text"), F.lit(""))),
            F.lit("unchanged"),
        )
        .otherwise(F.lit("changed"))
    )
    return (
        j.select(
            F.coalesce(F.col("a.lang"), F.col("b.lang")).alias("lang"),
            status.alias("status"),
        )
        .groupBy("lang", "status")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy("lang", "status")
    )


def q63_vocab_coverage(spark, sf_dir):
    """Vocabulary coverage curve (tokenizer-budget planning: how much
    token mass does a frequency cutoff keep).  The cumulative sum runs
    over the COLLAPSED frequency domain — groupBy(freq) first, so the
    no-partition window orders a few hundred Zipf levels, not the raw
    vocabulary (the scale-safe global-cumsum pattern; a cumsum over
    terms themselves would be a single-task sort of the whole vocab).
    All int64: cum_frac_e6 = cum_mass*1e6 DIV total."""
    from pyspark.sql import Window

    d = _load(spark, sf_dir, "documents")
    terms = d.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("term")
    ).where(F.trim(F.coalesce(F.col("text"), F.lit(""))) != "")
    tf = terms.groupBy("term").agg(F.count("*").alias("freq"))
    lv = tf.groupBy("freq").agg(
        F.count("*").cast("long").alias("n_terms")
    ).withColumn("mass", (F.col("freq") * F.col("n_terms")).cast("long"))
    w = Window.orderBy(F.col("freq").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = lv.withColumn("cum_mass", F.sum("mass").over(w).cast("long"))
    total = F.sum("mass").over(
        Window.orderBy(F.lit(1)).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    return (
        cum.withColumn("total_mass", total.cast("long"))
        .withColumn("cum_frac_e6", F.expr("cum_mass * 1000000 DIV total_mass"))
        .select("freq", "n_terms", "mass", "cum_mass", "cum_frac_e6")
        .orderBy(F.col("freq").desc())
    )


def q64_zorder_layout(spark, sf_dir):
    """Z-order (Morton) layout keys (functions/layout.zorder2): the
    lakehouse data-skipping clustering transform, computed from ONE
    SQL expression text shared verbatim with the oracle.  Sorted by z
    so the output IS the clustered layout order."""
    from fscrawler_spark.functions.layout import zorder2

    e = _load(spark, sf_dir, "events")
    return (
        e.select(
            "event_id",
            F.col("user_id"),
            zorder2("user_id", "event_id % 65536").alias("z"),
        )
        .orderBy("z", "event_id")
    )


def q65_lang_confusion(spark, sf_dir):
    """Declared-vs-detected language confusion matrix — the evaluation
    query a lang-id stage ships with: groupBy(declared, detected)
    counts + per-declared-lang totals for agreement rates (all int64;
    rate left to the consumer to keep the hash integer-exact)."""
    from fscrawler_spark.functions.textstats import lang_id

    d = _load(spark, sf_dir, "documents")
    return (
        d.select("lang", lang_id(F.col("text")).alias("detected"))
        .groupBy("lang", "detected")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy("lang", "detected")
    )


def q66_load_skew_gini(spark, sf_dir):
    """Integer-exact Gini coefficient of per-entity load within each
    event type — the skew measurement a politeness scheduler reports
    (are fetches spread fairly across hosts, or is one hot host eating
    the budget?).  For sorted loads x_1<=..<=x_n:
    G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) — all int64, scaled
    e6 with DIV, so the hash is engine-exact.  The rank window runs
    over the per-entity AGGREGATE (entities per group, not raw rows) —
    the q63 collapsed-domain discipline."""
    e = _load(spark, sf_dir, "events")
    per = e.groupBy("event_type", "user_id").agg(
        F.count("*").cast("long").alias("x")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(
        F.col("x").asc(), F.col("user_id").asc()
    )
    ranked = per.withColumn("i", F.row_number().over(w).cast("long"))
    return (
        ranked.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_entities"),
            F.sum("x").cast("long").alias("total"),
            F.sum(F.col("i") * F.col("x")).cast("long").alias("iwx"),
        )
        .select(
            "event_type",
            "n_entities",
            "total",
            F.expr(
                "(2 * iwx - (n_entities + 1) * total) * 1000000"
                " DIV (n_entities * total)"
            ).alias("gini_e6"),
        )
        .orderBy("event_type")
    )


def q67_kmeans_sq8(spark, sf_dir):
    """Integer-exact k-means (operators/clustering.kmeans_codes): two
    Lloyd iterations over the q53 SQ8 codes, k=8, md5-order seeds —
    assignments, floor-mean centroid updates, and inertia all int64,
    so the oracle (the iterations unrolled as DuckDB CTEs, the q42
    recipe) hash-matches the per-cluster profile bit-for-bit."""
    from fscrawler_spark.operators.clustering import kmeans_codes
    from fscrawler_spark.operators.similarity import scalar_quantize_codes

    e = _load(spark, sf_dir, "embeddings")
    codes = scalar_quantize_codes(e, "vec_id", "embedding")
    return kmeans_codes(codes, "vec_id", k=8, iters=2).orderBy("cluster")


def q68_bigram_lm_score(spark, sf_dir):
    """Corpus bigram LM fluency score per document
    (operators/textsearch.ngram_lm_scores) — the KenLM/CCNet
    perplexity-filter stage in its engine-exact integer form: mean
    floor-scaled bigram MLE conditional probability, int64 end-to-end
    so the oracle hash-matches (a log-space perplexity never could —
    IEEE ln() sums are partition-order-dependent)."""
    from fscrawler_spark.operators.textsearch import ngram_lm_scores

    d = _load(spark, sf_dir, "documents")
    return ngram_lm_scores(d, "doc_id", "text").orderBy("doc_id")


def q69_hll_distinct(spark, sf_dir):
    """Relational HyperLogLog (functions/sketch.py): grouped
    approximate count-distinct whose sketch AND estimate are
    engine-exact — integer bucket/rank state, one shared-text IEEE
    estimator — joined against the exact distinct for accuracy
    reading.  Spark's own approx_count_distinct is an opaque JVM
    sketch that can never be oracle-checked; this one is."""
    from fscrawler_spark.functions.sketch import hll_distinct

    e = _load(spark, sf_dir, "events")
    est = hll_distinct(e, ["event_type"], "user_id")
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    return est.join(exact, "event_type").orderBy("event_type")


def q70_cms_heavy_hitters(spark, sf_dir):
    """Count-Min frequency sketch (functions/sketch.py): estimate the
    event counts of the top-20 users from the d=4 x w=1024 counter
    sketch and compare with the exact counts in the same row.  Pure
    integer arithmetic — unlike HLL's IEEE estimator, even the
    ESTIMATES are oracle-exact; the one-sided error bound
    (cms_n >= exact_n) is visible in the output."""
    from fscrawler_spark.functions.sketch import cms_build, cms_estimate

    e = _load(spark, sf_dir, "events")
    sketch = cms_build(e, "user_id")
    exact = e.groupBy("user_id").agg(F.count("*").cast("long").alias("exact_n"))
    top = exact.orderBy(F.col("exact_n").desc(), F.col("user_id").asc()).limit(20)
    est = cms_estimate(sketch, top.select("user_id"), "user_id")
    return top.join(est, "user_id").orderBy(
        F.col("exact_n").desc(), F.col("user_id").asc()
    )


def q74_semdedup(spark, sf_dir):
    """SemDeDup (operators/similarity.semdedup_cluster_stats): one
    integer-exact cluster assignment over SQ8 codes, then min-id-keep
    cosine pruning WITHIN each cluster — the subquadratic semantic
    dedup published pipelines run; per-cluster (n_vecs, n_dropped,
    n_kept), cosines at the q26 round-6 device."""
    from fscrawler_spark.operators.similarity import semdedup_cluster_stats

    e = _load(spark, sf_dir, "embeddings")
    return semdedup_cluster_stats(
        e, "vec_id", "embedding", k=8, threshold=0.45
    ).orderBy("cluster")


def q73_anchor_rollup(spark, sf_dir):
    """Anchor-text aggregation per link target
    (operators/links.anchor_text_rollup) over the q42 synthetic link
    graph, each link carrying a token of its SOURCE page as anchor —
    in-degree, distinct-anchor count, and the deterministic top
    anchor per target, all engine-exact."""
    from fscrawler_spark.operators.links import anchor_text_rollup

    d = _load(spark, sf_dir, "documents")
    n = d.count()
    w = Window.orderBy("doc_id")
    nid = d.select(
        (F.row_number().over(w) - 1).cast("long").alias("nid"),
        F.split(
            F.trim(F.lower(F.coalesce(F.col("text"), F.lit("")))), r"\s+"
        ).alias("toks"),
    )
    e = (
        nid.select(
            "nid",
            "toks",
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j"),
        )
        .select(
            F.col("nid").alias("src"),
            ((F.col("nid") * 31 + F.col("j") * 97) % n).alias("dst"),
            F.coalesce(
                F.get("toks", F.col("j") - 1), F.lit("none")
            ).alias("anchor"),
        )
        .where(F.col("src") != F.col("dst"))
    )
    return anchor_text_rollup(e, "dst", "anchor").orderBy("dst")


def q72_bloom_membership(spark, sf_dir):
    """Relational Bloom filter (functions/sketch.py): build the
    65536-bit filter over purchasing users, probe EVERY user, and
    cross-tabulate verdict vs truth — the no-false-negative cell
    (maybe_present=false, actual=true) is absent by construction, and
    because the exact bit pattern is engine-shared the false-positive
    count itself hash-matches the oracle."""
    from fscrawler_spark.functions.sketch import bloom_build, bloom_contains

    e = _load(spark, sf_dir, "events")
    buyers = (
        e.where(F.col("event_type") == "purchase").select("user_id").distinct()
    )
    bloom = bloom_build(buyers, "user_id")
    probed = bloom_contains(bloom, e.select("user_id").distinct(), "user_id")
    res = probed.join(
        buyers.withColumn("actual", F.lit(True)), "user_id", "left"
    ).select(
        "maybe_present", F.coalesce("actual", F.lit(False)).alias("actual")
    )
    return (
        res.groupBy("maybe_present", "actual")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy("maybe_present", "actual")
    )


def q71_hist_quantiles(spark, sf_dir):
    """Histogram quantiles (metrics.histogram_quantiles): the
    global-profile scale path q49's exact percentile defers to —
    fixed-width bins + integer cumulative thresholds (cum*den >=
    n*num), the input collapsing to <= n_bins rows per group before
    any window runs.  Bin texts and midpoints are shared verbatim
    with the oracle."""
    from fscrawler_spark.metrics import histogram_quantiles

    e = _load(spark, sf_dir, "events")
    return histogram_quantiles(
        e, "event_type", "value", lo=0.0, hi=1000.0, n_bins=200
    ).orderBy("event_type")


def q23_cube_rollup(spark, sf_dir):
    """Grouping sets — cube over two dims with exact decimal sums
    (SURVEY §2.4 note: free in Catalyst, exposed as an operator)."""
    o = _load(spark, sf_dir, "orders")
    # NULL group keys from cube(): Spark sorts NULLS FIRST by default,
    # DuckDB NULLS LAST — pin NULLS LAST explicitly (r01 q23 hash-FAIL),
    # and emit a scaled-BIGINT final aggregate (see q01's note).
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("cnt"),
            F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100)
                  .cast("long")).alias("sum_price_c2"),
        )
        .orderBy(
            F.asc_nulls_last("o_orderstatus"), F.asc_nulls_last("o_orderpriority")
        )
    )


def q27_text_search(spark, sf_dir):
    """S10 — inverted-index full-text search, the Spark-native
    replacement for the reference's Elasticsearch sink + queries
    (app/elastic_search_client.py:6-37): build a (term, doc_id, tf)
    posting table over documents, then a match-ALL query
    ('spark' AND 'vector') with an exclusion term ('slow'), tf-summed."""
    from fscrawler_spark.operators.textsearch import build_inverted_index, match_query

    d = _load(spark, sf_dir, "documents")
    idx = build_inverted_index(d, "doc_id", "text")
    return match_query(
        idx, ["spark", "vector"], mode="all", exclude=["slow"]
    ).orderBy("doc_id")


def q28_merge_actions(spark, sf_dir):
    """D3 — MERGE-action decision table (copy_path_processor.py:54-72 /
    delete_path_processor.py:21-70 conditional actions as one
    full-outer equi-join): dest = even events, incoming = events above
    the median id with every 5th size doubled — yields all four actions
    (insert / same-size skip / diff-size replace / soft-delete)."""
    from fscrawler_spark.plans.stages import merge_actions

    ev = _load(spark, sf_dir, "events")
    base = ev.select(
        "event_id", F.col("value").cast("decimal(18,2)").alias("sz")
    )
    dest = base.where(F.col("event_id") % 2 == 0)
    incoming = base.where(F.col("event_id") % 3 == 0).withColumn(
        "sz",
        F.when(
            F.col("event_id") % 5 == 0, F.col("sz") * 2
        ).otherwise(F.col("sz")).cast("decimal(18,2)"),
    )
    return (
        merge_actions(dest, incoming, key="event_id", size_col="sz")
        .groupBy("action")
        .agg(F.count("*").alias("n"))
        .orderBy("action")
    )


def q30_ann_ivf_topk(spark, sf_dir):
    """IVF approximate top-k (the inverted-file ANN scale path named in
    the build brief): deterministic k-means coarse quantizer, queries
    probe their n_probe nearest cells, exact cosine rerank within the
    probed cells.  Runs the MATERIALIZED-index path (r03): the
    cell-partitioned index is written once and the probe partition-
    prunes to n_probe cell directories — indexed == in-memory parity
    and the PartitionFilters plan are pytest-asserted.  Approximate +
    engine-defined quantizer — rows-only."""
    from fscrawler_spark.operators.similarity import (
        ivf_topk_from_index,
        write_ivf_index,
    )

    e = _load(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 8)
    path = "/tmp/fscrawler_spark_q30_ivf"
    write_ivf_index(e, path, n_centroids=16)
    return (
        ivf_topk_from_index(spark, q, path, k=5, n_probe=4)
        .select("qid", "cid", "rank", F.round("sim", 6).alias("sim6"))
        .orderBy("qid", "rank")
    )


def q31_ivf_full_probe(spark, sf_dir):
    """IVF exactness gate: with n_probe == n_centroids a query probes
    EVERY cell, and because the quantizer partitions the corpus (each
    vector is assigned to exactly one cell) the probed union is the
    whole corpus — the 'approximate' path must return exactly the
    brute-force cosine top-k.  That makes the full IVF machinery
    (deterministic k-means, cell assignment, cell-keyed probe join,
    within-cell exact rerank) oracle-checkable against an independent
    brute-force SQL twin; q30 then exercises the same machinery in its
    pruned n_probe<n_centroids regime (rows-only by design)."""
    from fscrawler_spark.operators.similarity import ivf_topk

    e = _load(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") % 61 == 3)
    return (
        ivf_topk(q, e, k=7, n_centroids=8, n_probe=8)
        .select("qid", "cid", "rank", F.round("sim", 6).alias("sim6"))
        .orderBy("qid", "rank")
    )


def q32_lsh_full_bucket(spark, sf_dir):
    """Hyperplane-LSH exactness gate (the q31 pattern applied to LSH):
    n_planes=0 hashes every vector to the single empty-prefix bucket,
    so the candidate set is the whole corpus and the 'approximate'
    pipeline — bucketize, exploded bucket join, ids-only candidate
    dedup, vector rejoin, exact cosine rerank — must return exactly
    the brute-force top-k, checkable against an independent SQL twin.
    q19 exercises the same machinery in its selective multi-table
    regime (rows-only by design: seeded hyperplanes)."""
    from fscrawler_spark.operators.similarity import hyperplane_lsh_topk

    e = _load(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") % 83 == 5)
    return (
        hyperplane_lsh_topk(q, e, k=4, n_planes=0, n_tables=1)
        .select("qid", "cid", "rank", F.round("sim", 6).alias("sim6"))
        .orderBy("qid", "rank")
    )


def q33_simhash_exact_gate(spark, sf_dir):
    """SimHash exactness gate (the q31/q32 pattern applied to q20's
    machinery, round-3 verdict "Next round" #5): run the banded
    pigeonhole join in its EXACT regime (max_hamming = chunks-1, where
    any pair within distance must share an identical block) with a
    token hash BOTH engines compute identically (md5 hex -> 60-bit
    int), so signature aggregation, banding, candidate dedup and the
    popcount verify are all value-hash-checked against an independent
    all-pairs hamming join in DuckDB.  q20 then exercises the same
    machinery with the engine hash (xxhash64) — rows-only by design."""
    from fscrawler_spark.functions.textstats import tokens
    from fscrawler_spark.operators.similarity import simhash_pairs

    d = _load(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens(F.lower(F.col("text"))).alias("tk"))

    def md5h(t):
        # 15 hex chars = 60 bits, always positive in an int64 — the
        # same value DuckDB's ('0x'||substr(md5(t),1,15))::BIGINT yields
        return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")

    return simhash_pairs(
        toks, "doc_id", F.col("tk"), max_hamming=3, chunks=4, hash_fn=md5h
    ).orderBy("id_a", "id_b")


_TAXONOMY_ROWS = [
    {"name": "web", "parent": None},
    {"name": "news", "parent": "web", "min_age": 8},
    {"name": "forums", "parent": "web", "min_age": 14},
    {"name": "threads", "parent": "forums"},        # inherits 14
    {"name": "archive", "parent": "web"},           # unrestricted
    {"name": "adult", "parent": "forums", "min_age": 18},
]

# source-number % 5 -> category assignment (covers every srcN)
_SRC_CAT = {0: "news", 1: "threads", 2: "archive", 3: "adult", 4: "forums"}


def q29_age_gate(spark, sf_dir):
    """Taxonomy age gate (reference app/models/taxnomy.py:10-77):
    documents categorized by source, gated at max_age=14.  The Spark
    side resolves nearest-ancestor min_age inheritance driver-side
    (plans/taxonomy.py); the DuckDB twin resolves it INDEPENDENTLY with
    a recursive CTE over the same raw (name, parent, min_age) rows —
    two implementations of the inheritance semantics."""
    from fscrawler_spark.plans.taxonomy import age_gate, build_taxonomy

    d = _load(spark, sf_dir, "documents")
    # Guarded identically to the SQL twin (r02 ADVICE): a source with no
    # digit yields '' from regexp_extract; nullif/coalesce maps it to -1,
    # and -1 % 5 = -1 (dividend-signed in both engines) falls through to
    # the explicit 'forums' default — never an ungated NULL group.
    srcnum = (
        F.coalesce(
            F.nullif(F.regexp_extract(F.col("source"), r"(\d+)", 1), F.lit("")),
            F.lit("-1"),
        ).cast("int") % 5
    )
    cat = F.lit("forums")
    for n, c in _SRC_CAT.items():
        cat = F.when(srcnum == n, F.lit(c)).otherwise(cat)
    tax = build_taxonomy(spark, _TAXONOMY_ROWS)
    gated = age_gate(d.withColumn("category", cat), tax, max_age=14)
    return (
        gated.groupBy("category")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("category")
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q01_pricing_summary(spark, "/root/testdata/sf0.001")


def q75_pack_sequences(spark, sf_dir):
    """Training-sequence packing (operators/prep.pack_sequences):
    concatenate-then-chunk assignment of documents to cap-token
    sequences via one per-bucket window cumsum — the closed-form,
    engine-exact version of the dataloader packing step; per-sequence
    doc count, token sum, and id span."""
    from fscrawler_spark.operators.prep import pack_sequences

    d = _load(spark, sf_dir, "documents")
    return pack_sequences(d, "doc_id", "text", cap=256, n_buckets=16).orderBy(
        "bucket", "seq_id"
    )


def q76_containment_pairs(spark, sf_dir):
    """Directional shingle containment join
    (operators/similarity.containment_pairs): |S(a)∩S(b)| / |S(a)|
    over df-capped (max_df=100) word-3-shingles, score integer-exact
    at 1e4 scale — the quote-inclusion dedup case Jaccard misses
    (Broder 1997 containment)."""
    from fscrawler_spark.operators.similarity import containment_pairs

    d = _load(spark, sf_dir, "documents")
    return containment_pairs(
        d, "doc_id", "text", threshold_e4=8000, max_df=100
    ).orderBy("id_a", "id_b")


def q77_redirect_chains(spark, sf_dir):
    """Redirect-chain resolution by pointer doubling
    (operators/graph.resolve_redirect_chains): a synthetic acyclic
    redirect graph over documents (md5-gated, always pointing at a
    smaller id) collapsed to (src, final_dst, hops) in O(log L)
    join rounds; the oracle walks the same chains with a recursive
    CTE."""
    from fscrawler_spark.operators.graph import resolve_redirect_chains

    d = _load(spark, sf_dir, "documents")
    w = Window.orderBy("doc_id")
    nid = d.select((F.row_number().over(w) - 1).cast("long").alias("nid"))
    h = F.conv(
        F.substring(F.md5(F.col("nid").cast("string")), 1, 8), 16, 10
    ).cast("long")
    edges = (
        nid.select("nid", h.alias("h"))
        .where((F.col("nid") > 0) & (F.col("h") % 10 < 6))
        .select(
            F.col("nid").alias("src"),
            F.greatest(
                F.lit(0).cast("long"),
                F.col("nid") - 1 - F.col("h") % 3,
            ).alias("dst"),
        )
    )
    return (
        resolve_redirect_chains(edges, "src", "dst")
        .select("src", "final_dst", "hops")
        .orderBy("src")
    )


def q78_budget_waterfill(spark, sf_dir):
    """Max-min fair global-budget split across hosts
    (operators/politeness.waterfill_budget): the integer water level
    L with sum(min(demand, L)) <= budget, level search on DISTINCT
    demand values only; budget = |documents| DIV 3 over synthetic
    hosts source-(doc_id%10)."""
    from fscrawler_spark.operators.politeness import waterfill_budget

    d = _load(spark, sf_dir, "documents")
    budget = d.count() // 3
    hosts = d.groupBy(
        F.concat(
            F.col("source"), F.lit("-"), (F.col("doc_id") % 10).cast("string")
        ).alias("host")
    ).agg(F.count("*").cast("long").alias("demand"))
    return waterfill_budget(hosts, ["host"], "demand", budget).orderBy("host")


def q79_mixture_weights(spark, sf_dir):
    """Domain-mixture reweighting (operators/prep.mixture_weights):
    integer sampling weights per language that move the corpus token
    distribution onto a fixed target (en 40%, others 15%); weight and
    resampled mass engine-exact on the 1e6 grid."""
    from fscrawler_spark.operators.prep import mixture_weights

    d = _load(spark, sf_dir, "documents")
    targets = {"de": 1500, "en": 4000, "es": 1500, "fr": 1500, "zh": 1500}
    return mixture_weights(d, "lang", "text", targets).orderBy("lang")


def q80_yield_funnel(spark, sf_dir):
    """Corpus-curation yield funnel (operators/prep.yield_funnel):
    per-stage doc and token accounting for raw -> min-10-token filter
    -> normalized-fingerprint exact dedup — the no-silent-caps report
    of a curation run."""
    from fscrawler_spark.operators.prep import yield_funnel

    d = _load(spark, sf_dir, "documents")
    return yield_funnel(d, "doc_id", "text", min_tokens=10).orderBy("stage")


def q81_canonical_urls(spark, sf_dir):
    """URL canonicalization collapse (functions/urls.canonicalize_url):
    two tracking-param/fragment alias spellings per page collapse to
    one canonical frontier row (param strip + byte-sort, fragment
    drop, scheme+host lower) — count of variants per canonical URL;
    docs divisible by 4 carry a real extra param so their variants
    canonicalize APART (the rule must not over-merge)."""
    from fscrawler_spark.functions.urls import canonicalize_url

    u = _doc_urls(spark, sf_dir)
    v = u.select(
        "doc_id", "url",
        F.explode(F.array(F.lit(1), F.lit(2))).alias("j"),
    )
    raw = v.select(
        F.when(
            F.col("j") == 1,
            F.concat(F.col("url"), F.lit("?utm_source=feed&b=2&a=1")),
        )
        .otherwise(
            F.concat(
                F.col("url"),
                F.lit("?a=1&gclid=x"),
                F.col("doc_id").cast("string"),
                F.lit("&b=2"),
                F.when(F.col("doc_id") % 4 == 0, F.lit("&c=3")).otherwise(
                    F.lit("")
                ),
                F.lit("#sec"),
            )
        )
        .alias("raw_url")
    )
    return (
        raw.select(canonicalize_url(F.col("raw_url")).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(F.count("*").cast("long").alias("n_variants"))
        .orderBy("canonical_url")
    )


def q82_registered_domains(spark, sf_dir):
    """Public-suffix longest-match registrable-domain rollup
    (operators/links.registered_domains): per-SITE page and host
    counts over synthetic hosts exercising subdomain collapse, the
    multi-label suffix (co.example beats example), and the
    bare-suffix null case."""
    from fscrawler_spark.operators.links import registered_domains

    d = _load(spark, sf_dir, "documents")
    # variant gate: md5(doc_id), NOT doc_id % 4 — the fixture interleaves
    # doc_ids across sources, so a plain modulus is constant per source
    # and would never exercise multi-host collapse within one domain
    v = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 4
    )
    host = (
        F.when(v == 0, F.concat(F.lit("www."), F.col("source"), F.lit(".example")))
        .when(v == 1, F.concat(F.col("source"), F.lit(".co.example")))
        .when(v == 2, F.concat(F.lit("a.b."), F.col("source"), F.lit(".example")))
        .otherwise(F.lit("co.example"))
    )
    h = d.select(host.alias("host"))
    out = registered_domains(h, "host", ["example", "co.example"])
    return out.groupBy("registered_domain").agg(
        F.count("*").cast("long").alias("n_pages"),
        F.countDistinct("host").cast("long").alias("n_hosts"),
    ).orderBy("registered_domain")


def q83_indegree_bins(spark, sf_dir):
    """Log-binned in-degree distribution of the q42 link graph — the
    power-law profile a crawl operator reads before picking skew
    mitigations; the log2 bin is engine-exact via the binary-string
    length (length(bin(deg)) - 1), never float log2."""
    d = _load(spark, sf_dir, "documents")
    n = d.count()
    w = Window.orderBy("doc_id")
    nid = d.select((F.row_number().over(w) - 1).cast("long").alias("nid"))
    e = (
        nid.select(
            "nid", F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j")
        )
        .select(
            F.col("nid").alias("src"),
            ((F.col("nid") * 31 + F.col("j") * 97) % n).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
    )
    deg = e.groupBy("dst").agg(F.count("*").cast("long").alias("deg"))
    return (
        deg.select(
            (F.length(F.bin(F.col("deg"))) - 1).cast("long").alias("log2_bin"),
            "deg",
        )
        .groupBy("log2_bin")
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum("deg").cast("long").alias("edge_sum"),
        )
        .orderBy("log2_bin")
    )


def q84_sitemap_roundtrip(spark, sf_dir):
    """Sitemap source round-trip (sources/sitemap.parse_sitemaps):
    per-source <urlset> XML synthesized deterministically
    (array_sort'd struct list == string_agg ORDER BY), parsed back to
    (loc, lastmod) rows with the codegen'd regex grammar; per source:
    url count, lastmod coverage, first loc, max lastmod."""
    from fscrawler_spark.sources.sitemap import parse_sitemaps

    u = _doc_urls(spark, sf_dir)
    entry = F.concat(
        F.lit("<url><loc> "), F.col("url"), F.lit(" </loc>"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit("<lastmod>2026-0"),
                ((F.col("doc_id") % 9) + 1).cast("string"),
                F.lit("-15</lastmod>"),
            ),
        ).otherwise(F.lit("")),
        F.lit("</url>"),
    )
    xml = (
        u.select(
            "source", F.struct(F.col("doc_id"), entry.alias("e")).alias("s")
        )
        .groupBy("source")
        .agg(F.array_sort(F.collect_list("s")).alias("arr"))
        .select(
            "source",
            F.concat(
                F.lit("<urlset>"),
                F.array_join(F.transform("arr", lambda s: s["e"]), ""),
                F.lit("</urlset>"),
            ).alias("body"),
        )
    )
    parsed = parse_sitemaps(xml, "body", keep_cols=["source"])
    return parsed.groupBy("source").agg(
        F.count("*").cast("long").alias("n_urls"),
        F.count("lastmod").cast("long").alias("n_lastmod"),
        F.min("loc").alias("first_loc"),
        F.max("lastmod").alias("max_lastmod"),
    ).orderBy("source")


def q85_chunk_spans(spark, sf_dir):
    """Sliding-window chunk spans (operators/prep.chunk_spans):
    size-24 stride-16 overlapping windows per document, closed-form
    chunk count, no shuffle — the retrieval-pipeline counterpart of
    q75's cross-doc packing."""
    from fscrawler_spark.operators.prep import chunk_spans

    d = _load(spark, sf_dir, "documents")
    return chunk_spans(d, "doc_id", "text", size=24, stride=16).orderBy(
        "doc_id", "chunk_id"
    )


def q86_funnel_conversion(spark, sf_dir):
    """Ordered event funnel (view -> click -> purchase): users reached
    per step, where each step's event must be STRICTLY LATER than the
    previous step's earliest qualifying event — three min-aggregates
    chained through broadcast joins on the small user dim; the
    sequential dependency is data (a min), never iteration."""
    e = _load(spark, sf_dir, "events")
    v = e.where(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t1")
    )
    c = (
        e.where(F.col("event_type") == "click")
        .join(F.broadcast(v), "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(F.broadcast(c), "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    steps = (
        v.agg(F.count("*").cast("long").alias("n_users")).select(
            F.lit("1_view").alias("step"), "n_users"
        )
        .unionByName(
            c.agg(F.count("*").cast("long").alias("n_users")).select(
                F.lit("2_click").alias("step"), "n_users"
            )
        )
        .unionByName(
            p.agg(F.count("*").cast("long").alias("n_users")).select(
                F.lit("3_purchase").alias("step"), "n_users"
            )
        )
    )
    return steps.orderBy("step")


def q87_retention_cohorts(spark, sf_dir):
    """Retention triangle: users grouped by first-activity day
    (cohort), counted distinct per day offset — the engagement report
    every event pipeline ships; two aggregates and one broadcast join
    on the user dim, day arithmetic engine-exact."""
    e = _load(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(
        F.to_date(F.min("ts")).alias("cohort_day")
    )
    return (
        e.join(F.broadcast(first), "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.to_date("ts"), F.col("cohort_day")).cast("long").alias(
                "day_offset"
            ),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


def q88_segment_dedup(spark, sf_dir):
    """CCNet-style segment-level boilerplate removal with document
    reconstruction (operators/prep.segment_dedup): 3-token segments in
    more than 5 distinct docs dropped, survivors stitched back in
    segment order — the REBUILT text's md5 is oracle-hash-checked, not
    just the counts."""
    from fscrawler_spark.operators.prep import segment_dedup

    d = _load(spark, sf_dir, "documents")
    return segment_dedup(d, "doc_id", "text", seg_len=3, max_df=5).orderBy(
        "doc_id"
    )


def q89_cdc_dup_chunks(spark, sf_dir):
    """Content-defined chunking dedup (operators/prep.cdc_chunks,
    FastCDC family): rolling-hash token chunks, then the cross-doc
    duplicate-chunk table — boundaries move with content, so edited
    near-copies still share their unedited chunks (fixed segments
    cannot)."""
    from fscrawler_spark.operators.prep import cdc_chunks

    d = _load(spark, sf_dir, "documents")
    c = cdc_chunks(d, "doc_id", "text", window=3, divisor=4)
    return (
        c.groupBy("chunk_md5")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_occurrences"),
            F.max("n_toks").cast("long").alias("n_toks"),
        )
        .where(F.col("n_docs") >= 2)
        .orderBy("chunk_md5")
    )


def q90_weighted_sample(spark, sf_dir):
    """Quality-weighted subsampling (operators/sampling.
    score_weighted_sample): each doc's keep probability IS its q17
    quality score (e4 grid) — per language: raw count, kept count, and
    the raw/kept mean quality (on a wide score distribution the kept
    mean sits above raw; this fixture's scores cluster near 0.66, so
    the keep RATE ~ the score is the visible effect here)."""
    from fscrawler_spark.functions.textstats import quality_e4
    from fscrawler_spark.operators.sampling import score_weighted_sample

    d = _load(spark, sf_dir, "documents").select(
        "doc_id", "lang", quality_e4(F.col("text")).alias("q_e4")
    )
    kept = score_weighted_sample(d, "doc_id", "q_e4", salt="qs1")
    raw_agg = d.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_raw"),
        F.sum("q_e4").cast("long").alias("q_sum_raw"),
    )
    kept_agg = kept.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.sum("q_e4").cast("long").alias("q_sum_kept"),
    )
    return (
        raw_agg.join(kept_agg, "lang", "left")
        .select(
            "lang",
            "n_raw",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.expr("q_sum_raw DIV n_raw").alias("mean_q_raw"),
            F.expr(
                "CASE WHEN coalesce(n_kept, 0) > 0"
                " THEN q_sum_kept DIV n_kept ELSE 0 END"
            ).cast("long").alias("mean_q_kept"),
        )
        .orderBy("lang")
    )


def q91_warc_records(spark, sf_dir):
    """WARC sink record construction (sources/warc.to_warc_records):
    each page serialized to an ISO 28500 response record in ONE
    codegen'd binary concat — the oracle rebuilds the exact bytes in
    SQL and the md5 of every record hash-matches (fixed date; payload
    = document text)."""
    from fscrawler_spark.sources.warc import to_warc_records

    u = _doc_urls(spark, sf_dir).select("doc_id", "url", "text")
    recs = to_warc_records(u, "url", "text", ts_col=None)
    return recs.select(
        "doc_id",
        F.length("record").cast("long").alias("record_len"),
        F.md5("record").alias("record_md5"),
    ).orderBy("doc_id")


def q92_sitemap_discovery(spark, sf_dir):
    """robots -> sitemap discovery chained into the sitemap source:
    synthetic per-source robots bodies (comments, mixed case, a UA
    group the directive must survive) -> extract_sitemap_urls ->
    synthesize each discovered sitemap's <urlset> -> parse_sitemaps;
    per host: sitemaps found, URLs listed."""
    from fscrawler_spark.functions.robots import extract_sitemap_urls
    from fscrawler_spark.sources.sitemap import parse_sitemaps

    d = _load(spark, sf_dir, "documents")
    robots = d.groupBy(F.col("source").alias("host")).agg(
        F.count("*").cast("long").alias("n_docs")
    ).select(
        "host",
        F.concat(
            F.lit("# robots for "), F.col("host"), F.lit("\n"),
            F.lit("User-agent: *\nDisallow: /tmp\n"),
            F.lit("SiteMap: http://"), F.col("host"),
            F.lit(".example/sitemap.xml   # inline comment\n"),
            F.when(
                F.col("n_docs") % 2 == 0,
                F.concat(
                    F.lit("sitemap: http://"), F.col("host"),
                    F.lit(".example/sitemap2.xml\n"),
                ),
            ).otherwise(F.lit("")),
        ).alias("body"),
    )
    disc = extract_sitemap_urls(robots)
    xml = disc.select(
        "host",
        "loc",
        F.concat(
            F.lit("<urlset><url><loc>"), F.col("loc"),
            F.lit("?u=1</loc></url><url><loc>"), F.col("loc"),
            F.lit("?u=2</loc></url></urlset>"),
        ).alias("body"),
    )
    parsed = parse_sitemaps(xml, "body", keep_cols=["host"])
    n_maps = disc.groupBy("host").agg(
        F.countDistinct("loc").cast("long").alias("n_sitemaps")
    )
    n_urls = parsed.groupBy("host").agg(
        F.count("*").cast("long").alias("n_urls"),
        F.min("loc").alias("first_url"),
    )
    return n_maps.join(n_urls, "host").orderBy("host")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_pricing_summary": q01_pricing_summary,
        "q02_count_by_type": q02_count_by_type,
        "q03_sum_by_group": q03_sum_by_group,
        "q04_dup_groups": q04_dup_groups,
        "q05_dup_selfjoin": q05_dup_selfjoin,
        "q06_topk_per_group": q06_topk_per_group,
        "q07_staged_filter": q07_staged_filter,
        "q08_filter_chain": q08_filter_chain,
        "q09_set_minus": q09_set_minus,
        "q10_empty_groups": q10_empty_groups,
        "q11_politeness_window": q11_politeness_window,
        "q12_url_filters": q12_url_filters,
        "q13_exact_dedup": q13_exact_dedup,
        "q14_ngram_jaccard": q14_ngram_jaccard,
        "q15_minhash_lsh": q15_minhash_lsh,
        "q16_text_stats": q16_text_stats,
        "q17_lang_quality_agg": q17_lang_quality_agg,
        "q18_cosine_topk": q18_cosine_topk,
        "q19_ann_lsh_topk": q19_ann_lsh_topk,
        "q20_simhash_pairs": q20_simhash_pairs,
        "q21_crawl_waves": q21_crawl_waves,
        "q22_prefix_lookup": q22_prefix_lookup,
        "q23_cube_rollup": q23_cube_rollup,
        "q24_media_features": q24_media_features,
        "q25_subtree_rollup": q25_subtree_rollup,
        "q26_embedding_dedup": q26_embedding_dedup,
        "q27_text_search": q27_text_search,
        "q28_merge_actions": q28_merge_actions,
        "q29_age_gate": q29_age_gate,
        "q30_ann_ivf_topk": q30_ann_ivf_topk,
        "q31_ivf_full_probe": q31_ivf_full_probe,
        "q32_lsh_full_bucket": q32_lsh_full_bucket,
        "q33_simhash_exact_gate": q33_simhash_exact_gate,
        "q34_thumbnails": q34_thumbnails,
        "q35_real_codec_info": q35_real_codec_info,
        "q36_media_metadata": q36_media_metadata,
        "q37_repeated_passages": q37_repeated_passages,
        "q38_dedup_clusters": q38_dedup_clusters,
        "q39_stratified_sample": q39_stratified_sample,
        "q40_decontamination": q40_decontamination,
        "q41_pii_redaction": q41_pii_redaction,
        "q42_crawl_pagerank": q42_crawl_pagerank,
        "q43_tfidf_topk": q43_tfidf_topk,
        "q44_repetition_filter": q44_repetition_filter,
        "q45_winnow_fingerprints": q45_winnow_fingerprints,
        "q46_sessionize": q46_sessionize,
        "q47_asof_join": q47_asof_join,
        "q48_range_join": q48_range_join,
        "q49_percentiles": q49_percentiles,
        "q50_hashed_classifier": q50_hashed_classifier,
        "q51_hopping_window": q51_hopping_window,
        "q52_prefix_filter_join": q52_prefix_filter_join,
        "q53_scalar_quantize": q53_scalar_quantize,
        "q54_collocations": q54_collocations,
        "q55_json_extract": q55_json_extract,
        "q56_pivot": q56_pivot,
        "q57_corpus_prep": q57_corpus_prep,
        "q58_surt_keys": q58_surt_keys,
        "q59_hash_split": q59_hash_split,
        "q60_star_join": q60_star_join,
        "q61_quality_buckets": q61_quality_buckets,
        "q62_recrawl_diff": q62_recrawl_diff,
        "q63_vocab_coverage": q63_vocab_coverage,
        "q64_zorder_layout": q64_zorder_layout,
        "q65_lang_confusion": q65_lang_confusion,
        "q66_load_skew_gini": q66_load_skew_gini,
        "q67_kmeans_sq8": q67_kmeans_sq8,
        "q68_bigram_lm_score": q68_bigram_lm_score,
        "q69_hll_distinct": q69_hll_distinct,
        "q70_cms_heavy_hitters": q70_cms_heavy_hitters,
        "q71_hist_quantiles": q71_hist_quantiles,
        "q72_bloom_membership": q72_bloom_membership,
        "q73_anchor_rollup": q73_anchor_rollup,
        "q74_semdedup": q74_semdedup,
        "q75_pack_sequences": q75_pack_sequences,
        "q76_containment_pairs": q76_containment_pairs,
        "q77_redirect_chains": q77_redirect_chains,
        "q78_budget_waterfill": q78_budget_waterfill,
        "q79_mixture_weights": q79_mixture_weights,
        "q80_yield_funnel": q80_yield_funnel,
        "q81_canonical_urls": q81_canonical_urls,
        "q82_registered_domains": q82_registered_domains,
        "q83_indegree_bins": q83_indegree_bins,
        "q84_sitemap_roundtrip": q84_sitemap_roundtrip,
        "q85_chunk_spans": q85_chunk_spans,
        "q86_funnel_conversion": q86_funnel_conversion,
        "q87_retention_cohorts": q87_retention_cohorts,
        "q88_segment_dedup": q88_segment_dedup,
        "q89_cdc_dup_chunks": q89_cdc_dup_chunks,
        "q90_weighted_sample": q90_weighted_sample,
        "q91_warc_records": q91_warc_records,
        "q92_sitemap_discovery": q92_sitemap_discovery,
    }


_JACCARD_SQL = """
WITH s AS (
  SELECT doc_id,
         list_distinct([array_to_string(toks[i:i+2], ' ')
                        for i in generate_series(1, len(toks)-2)]) AS sh
  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
        FROM documents WHERE trim(text) <> '')
  WHERE len(toks) >= 3)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       len(list_intersect(a.sh, b.sh))::DOUBLE
         / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
        / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
ORDER BY id_a, id_b
"""

_FP_SQL = "md5(trim(regexp_replace(lower(coalesce(text,'')), '\\s+', ' ', 'g')))"

# Exact-integer 1e4 quality grid — the SQL twin of textstats.quality_e4
# (IEEE-deterministic: exact-double product, one division, floor).
_QUALITY_E4_SQL = f"""
  (CASE WHEN length(coalesce(text,'')) = 0 THEN 0
        ELSE floor(5000.0
             * length(regexp_replace(coalesce(text,''), '[^A-Za-z]', '', 'g'))
             / length(coalesce(text,'')) + 0.5)::BIGINT END
   + CASE WHEN ({_NTOK_SQL}) > 0
           AND (length(regexp_replace(trim(coalesce(text,'')), '\\s', '', 'g'))::DOUBLE
                / ({_NTOK_SQL})) BETWEEN 3 AND 10 THEN 2500 ELSE 0 END
   + CASE WHEN ({" + ".join(_sw_hits_sql(lang) for lang in sorted(_SW))}) >= 2
          THEN 2500 ELSE 0 END)::BIGINT
"""


_Q21_PAGES_DIR = "/tmp/fscrawler_spark_q21_pages"


def _ensure_q21_pages() -> str:
    """Materialize the deterministic tiny crawl fixture's (url, html)
    as parquet so the DuckDB oracle reads the exact page bytes the
    Spark query crawls (datagen.generate_pages is seed-deterministic,
    so these records equal the DataFrame q21 builds in-process).
    Always rewritten — cheap (~500 rows) and immune to stale files."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from fscrawler_spark.datagen import generate_pages

    path = os.path.join(_Q21_PAGES_DIR, "pages.parquet")
    os.makedirs(_Q21_PAGES_DIR, exist_ok=True)
    pages, _, _ = generate_pages("tiny", seed=42)
    tbl = pa.table({
        "url": pa.array([p["url"] for p in pages], pa.string()),
        "html": pa.array([p["html"] for p in pages], pa.binary()),
    })
    tmp = path + ".tmp"
    pq.write_table(tbl, tmp)
    os.replace(tmp, path)
    return path


# Python-regex semantics ported to RE2 (DuckDB) — same patterns as
# functions/urls.py + functions/extract.py scalar twins.
_Q21_HREF_RE_SQL = r"""'(?is)<a\s[^>]*?href\s*=\s*["'']([^"'']*)["'']'"""


def _q21_sql_path(u: str) -> str:
    return f"regexp_replace({u}, '^[a-z][a-z0-9+.-]*://[^/]+', '')"


def _q21_sql_host(u: str) -> str:
    return f"regexp_extract({u}, '^[a-z][a-z0-9+.-]*://([^/]+)', 1)"


def _q21_sql_ext(p: str) -> str:
    """url_extension_py over a PATH expression: last segment of the
    trailing-slash-stripped path, then the 1-12-char dot suffix
    (lowercased; NULL when absent)."""
    name = f"regexp_extract(regexp_replace({p}, '/+$', ''), '[^/]*$')"
    return (
        f"nullif(lower(regexp_extract({name},"
        f" '\\.([A-Za-z0-9_]{{1,12}})$', 1)), '')"
    )


def _q21_sql_depth(u: str) -> str:
    trimmed = f"regexp_replace({_q21_sql_path(u)}, '^/+|/+$', '', 'g')"
    return (
        f"CASE WHEN {trimmed} = '' THEN 0"
        f" ELSE len(regexp_split_to_array({trimmed}, '/+')) END"
    )


def _q21_sql_norm(nf: str) -> str:
    """url_normalize_py over an already-defragmented URL expression:
    lowercase scheme+host, collapse duplicate slashes in the tail,
    strip trailing slashes; non-URL strings pass through."""
    tail = (
        f"regexp_replace(regexp_replace(regexp_replace({nf},"
        f" '^[a-z][a-z0-9+.-]*://[^/]+', ''),"
        f" '/{{2,}}', '/', 'g'), '/+$', '')"
    )
    return (
        f"CASE WHEN regexp_matches({nf}, '^[a-z][a-z0-9+.-]*://[^/]+')"
        f" THEN lower(regexp_extract({nf},"
        f" '^([a-z][a-z0-9+.-]*://[^/]+)', 1)) || {tail}"
        f" ELSE {nf} END"
    )


def _q21_oracle_sql() -> str:
    """Independent SQL twin of q21's 4-wave tiny crawl: the wave loop
    UNROLLED into plain CTE stages (max_waves=4 is a fixed job
    parameter, so the iteration is finite and SQL-expressible after
    all).  Mirrors plans/simulator.py stage by stage — root-overlap
    seed accept (recursive-CTE greedy), per-wave seen anti-join,
    DepthFilter(4) + junk ExtensionFilter, REP longest-match with
    allow-beats-deny ties, per-host politeness rank with crawl-delay
    token budget override, global (priority, host, url) wave rank,
    href extraction / resolution / normalization, md5 extraction.
    Only fixture DATA (seed/robots literals, the pages parquet) comes
    from the engine package; every transformation is re-expressed in
    SQL."""
    from fscrawler_spark.datagen import generate_seeds_robots

    pages_path = _ensure_q21_pages()
    seeds, robots = generate_seeds_robots("tiny")
    seed_vals = ", ".join(f"({s['seed_id']}, '{s['url']}')" for s in seeds)
    rule_vals = ", ".join(
        f"('{r['host']}', '{r['path_prefix']}', {str(bool(r['allow'])).upper()})"
        for r in robots
        if r["crawl_delay_tokens"] is None
    )
    tok: dict[str, int] = {}
    for r in robots:
        if r["crawl_delay_tokens"] is not None and r["allow"]:
            tok[r["host"]] = min(
                tok.get(r["host"], 1 << 30), r["crawl_delay_tokens"]
            )
    budget_vals = ", ".join(f"('{h}', {b})" for h, b in sorted(tok.items()))

    MAX_WAVES, DEFAULT_BUDGET, MAX_DEPTH = 4, 4, 4
    JUNK = "'tmp', 'log', 'bak', 'pyc'"

    seed_nf = "regexp_replace(url, '#.*$', '')"
    w = [
        f"""
pages AS (SELECT url, html FROM read_parquet('{pages_path}')),
rawseeds(seed_id, url) AS (VALUES {seed_vals}),
sord AS (SELECT seed_id, url,
                row_number() OVER (ORDER BY seed_id) AS rn
         FROM rawseeds),
acc AS (
  SELECT 0 AS i, []::VARCHAR[] AS urls
  UNION ALL
  SELECT acc.i + 1,
         CASE WHEN len(list_filter(acc.urls,
                u -> starts_with(s.url, u) OR starts_with(u, s.url))) > 0
              THEN acc.urls ELSE list_append(acc.urls, s.url) END
  FROM acc JOIN sord s ON s.rn = acc.i + 1),
accepted AS (
  SELECT s.seed_id, s.url FROM sord s
  WHERE s.url IN (SELECT unnest(urls) FROM
                  (SELECT urls FROM acc ORDER BY i DESC LIMIT 1))),
rules(host, prefix, allow) AS (VALUES {rule_vals}),
budget(host, b) AS (VALUES {budget_vals}),
f0 AS (
  SELECT url, depth, priority, seed_id FROM (
    SELECT nu AS url, d AS depth, d AS priority, seed_id,
           row_number() OVER (PARTITION BY nu ORDER BY d, seed_id) AS rn
    FROM (SELECT {_q21_sql_norm(seed_nf)} AS nu,
                 {_q21_sql_depth('url')} AS d, seed_id
          FROM accepted))
  WHERE rn = 1),
seen0 AS (SELECT ''::VARCHAR AS url WHERE FALSE)"""
    ]
    for k in range(MAX_WAVES):
        w.append(f"""
new{k} AS (SELECT * FROM f{k}
           WHERE url NOT IN (SELECT url FROM seen{k})),
stat{k} AS (
  SELECT n.url, n.depth, n.priority, n.seed_id, p.html,
         {_q21_sql_host('n.url')} AS host,
         {_q21_sql_path('n.url')} AS path,
         {_q21_sql_ext(_q21_sql_path('n.url'))} AS ext
  FROM new{k} n LEFT JOIN pages p USING (url)),
miss{k} AS (SELECT url FROM stat{k} WHERE html IS NULL),
skip{k} AS (SELECT url FROM stat{k}
            WHERE html IS NOT NULL AND NOT (depth <= {MAX_DEPTH}
              AND NOT coalesce(ext IN ({JUNK}), FALSE))),
auth{k} AS (SELECT * FROM stat{k}
            WHERE html IS NOT NULL AND depth <= {MAX_DEPTH}
              AND NOT coalesce(ext IN ({JUNK}), FALSE)),
rep{k} AS (
  SELECT url, NOT best_allow AS denied FROM (
    SELECT a.url, r.allow AS best_allow,
           row_number() OVER (PARTITION BY a.url
             ORDER BY len(r.prefix) DESC, r.allow DESC) AS rn
    FROM auth{k} a JOIN rules r
      ON r.host = a.host AND starts_with(a.path, r.prefix))
  WHERE rn = 1),
den{k} AS (SELECT url FROM rep{k} WHERE denied),
hr{k} AS (
  SELECT a.*, coalesce(b.b, {DEFAULT_BUDGET}) AS bud,
         row_number() OVER (PARTITION BY a.host
           ORDER BY a.priority, a.url) AS hr
  FROM auth{k} a LEFT JOIN budget b ON b.host = a.host
  WHERE a.url NOT IN (SELECT url FROM den{k})),
sched{k} AS (SELECT * FROM hr{k} WHERE hr <= bud),
defer{k} AS (SELECT url, depth, priority, seed_id
             FROM hr{k} WHERE hr > bud),
ranked{k} AS (
  SELECT url, CAST({k} AS INTEGER) AS wave,
         CAST(row_number() OVER (ORDER BY priority, host, url) AS INTEGER)
           AS rank_in_wave,
         md5(decode(html)) AS md5_hex, ext AS extension
  FROM sched{k}),
child{k} AS (
  SELECT url, depth, priority, seed_id FROM (
    SELECT cu AS url, pdepth + 1 AS depth, pdepth + 1 AS priority,
           seed_id,
           row_number() OVER (PARTITION BY cu
             ORDER BY pdepth + 1, seed_id) AS rn
    FROM (
      SELECT pdepth, seed_id, {_q21_sql_norm('nf')} AS cu FROM (
        SELECT pdepth, seed_id,
               regexp_replace(rs, '#.*$', '') AS nf FROM (
          SELECT pdepth, seed_id,
                 CASE
                   WHEN regexp_matches(href, '^https?://') THEN href
                   WHEN starts_with(href, '//') THEN 'http:' || href
                   WHEN starts_with(href, '/') THEN sh || href
                   WHEN regexp_matches(href, '^[a-z][a-z0-9+.-]*:')
                        OR href = '' THEN NULL
                   ELSE CASE WHEN len(bd) - len(replace(bd, '/', '')) < 3
                             THEN sh || '/' ELSE bd END || href
                 END AS rs
          FROM (
            SELECT s.depth AS pdepth, s.seed_id,
                   unnest(regexp_extract_all(decode(s.html),
                          {_Q21_HREF_RE_SQL}, 1)) AS href,
                   regexp_extract(s.url,
                     '^([a-z][a-z0-9+.-]*://[^/]+)', 1) AS sh,
                   regexp_replace(s.url, '[^/]*$', '') AS bd
            FROM sched{k} s))
        WHERE rs IS NOT NULL))
    WHERE starts_with(cu, 'http://') OR starts_with(cu, 'https://'))
  WHERE rn = 1),
f{k + 1} AS (
  SELECT url, depth, priority, seed_id FROM (
    SELECT *, row_number() OVER (PARTITION BY url
               ORDER BY depth, priority, seed_id) AS rn
    FROM (SELECT * FROM child{k}
          UNION ALL
          SELECT * FROM defer{k}))
  WHERE rn = 1),
seen{k + 1} AS (
  SELECT url FROM seen{k}
  UNION SELECT url FROM sched{k}
  UNION SELECT url FROM skip{k}
  UNION SELECT url FROM miss{k}
  UNION SELECT url FROM den{k})""")

    union = "\nUNION ALL\n".join(
        f"SELECT * FROM ranked{k}" for k in range(MAX_WAVES)
    )
    return (
        "WITH RECURSIVE " + ",".join(w)
        + f"\nSELECT url, wave, rank_in_wave, md5_hex, extension"
        f" FROM ({union})\nORDER BY wave, rank_in_wave"
    )


def oracle_sql() -> dict[str, str]:
    # q24's input blobs live in a parquet BOTH engines read (written
    # deterministically here too, so oracle-before-query ordering works)
    _q24_path = _ensure_q24_media()
    # hex-pair -> byte value, as a plain SQL expression over hx at
    # 0-based byte offset {i} (DuckDB blobs have no byte indexing;
    # hex() + strpos on the nibble alphabet is exact)
    _hb = (
        "((strpos('0123456789ABCDEF', substr(hx, 2*({i})+1, 1))-1)*16"
        " + (strpos('0123456789ABCDEF', substr(hx, 2*({i})+2, 1))-1))"
    )
    _q24_sql = f"""
        WITH raw AS (
          SELECT media_id, media_type, hex(data) AS hx,
                 octet_length(data)::BIGINT AS n_bytes
          FROM read_parquet('{_q24_path}')),
        b AS (
          SELECT media_id, i,
                 {_hb.format(i='i')}::BIGINT AS bv
          FROM (SELECT media_id, hx, unnest(range(0, n_bytes)) AS i
                FROM raw)),
        agg AS (
          SELECT media_id,
            sum(CASE WHEN i=7  THEN bv WHEN i=8  THEN bv*256
                     WHEN i=9  THEN bv*65536 WHEN i=10 THEN bv*16777216
                     ELSE 0 END)::BIGINT AS u1,
            sum(CASE WHEN i=11 THEN bv WHEN i=12 THEN bv*256
                     WHEN i=13 THEN bv*65536 WHEN i=14 THEN bv*16777216
                     ELSE 0 END)::BIGINT AS u2,
            sum(CASE WHEN i=15 THEN bv WHEN i=16 THEN bv*256
                     WHEN i=17 THEN bv*65536 WHEN i=18 THEN bv*16777216
                     ELSE 0 END)::BIGINT AS u3,
            sum(CASE WHEN i>=19 THEN bv ELSE 0 END)::BIGINT AS psum
          FROM b GROUP BY media_id)
        SELECT r.media_id, r.media_type, r.n_bytes,
          CASE WHEN r.media_type='image' THEN a.u1 ELSE -1 END AS width,
          CASE WHEN r.media_type='image' THEN a.u2 ELSE -1 END AS height,
          CASE WHEN r.media_type='image' THEN a.u3 ELSE -1 END AS channels,
          CASE WHEN r.media_type='image' THEN a.psum ELSE -1 END AS px_sum,
          CASE WHEN r.media_type='video' THEN (a.u1+1)//2 ELSE -1 END
            AS n_frames_sampled
        FROM raw r JOIN agg a USING (media_id)
        ORDER BY r.media_id
    """
    # q34: the thumbnail operator's frame-index selection and pooled
    # output dims recomputed from the same blob headers in pure integer
    # SQL (max_px=4, n_frames=4, cover_offset_frac=0.1 — the exact knob
    # set q34_thumbnails passes; PNG pixel bytes are pytest-verified by
    # decode round-trip, zlib output being non-reproducible in SQL)
    _q34_sql = f"""
        WITH raw AS (
          SELECT media_id, media_type, hex(data) AS hx
          FROM read_parquet('{_q24_path}')
          WHERE media_type IN ('image', 'video')),
        b AS (
          SELECT media_id, i, {_hb.format(i='i')}::BIGINT AS bv
          FROM (SELECT media_id, hx, unnest(range(7, 19)) AS i FROM raw)),
        agg AS (
          SELECT media_id,
            sum(CASE WHEN i=7  THEN bv WHEN i=8  THEN bv*256
                     WHEN i=9  THEN bv*65536 WHEN i=10 THEN bv*16777216
                     ELSE 0 END)::BIGINT AS u1,
            sum(CASE WHEN i=11 THEN bv WHEN i=12 THEN bv*256
                     WHEN i=13 THEN bv*65536 WHEN i=14 THEN bv*16777216
                     ELSE 0 END)::BIGINT AS u2,
            sum(CASE WHEN i=15 THEN bv WHEN i=16 THEN bv*256
                     WHEN i=17 THEN bv*65536 WHEN i=18 THEN bv*16777216
                     ELSE 0 END)::BIGINT AS u3
          FROM b GROUP BY media_id),
        dims AS (
          SELECT r.media_id, r.media_type,
            CASE WHEN r.media_type='image' THEN a.u1 ELSE a.u2 END AS w,
            CASE WHEN r.media_type='image' THEN a.u2 ELSE a.u3 END AS h,
            CASE WHEN r.media_type='video' THEN a.u1 ELSE 1 END AS n
          FROM raw r JOIN agg a USING (media_id)),
        pd AS (
          SELECT media_id, media_type, n, w, h,
            (greatest(w, h) + 3) // 4 AS k
          FROM dims),
        sized AS (
          SELECT media_id, media_type, n,
            CASE WHEN k <= 1 THEN w ELSE greatest(1, w // k) END AS pw,
            CASE WHEN k <= 1 THEN h ELSE greatest(1, h // k) END AS ph
          FROM pd),
        thumbs AS (
          SELECT media_id, 'cover' AS kind,
                 CASE WHEN media_type='video' THEN least(n - 1, n // 10)
                      ELSE 0 END AS frame_idx,
                 pw, ph
          FROM sized
          UNION ALL
          SELECT DISTINCT s.media_id, 'frame' AS kind,
                 (g.i * (s.n - 1)) // 3 AS frame_idx, s.pw, s.ph
          FROM sized s, (SELECT unnest(range(0, 4)) AS i) g
          WHERE s.media_type = 'video')
        SELECT media_id, kind, frame_idx::BIGINT AS frame_idx,
               pw::BIGINT AS width, ph::BIGINT AS height
        FROM thumbs
        ORDER BY media_id, kind, frame_idx
    """
    # q35: the REAL-codec blobs, header fields re-derived independently
    # from container bytes.  _hb works for any integer SQL expression i,
    # so computed offsets (JPEG SOF0 marker position, TIFF IFD offset)
    # are plain arithmetic — no unnest needed.
    _q35_path = _ensure_q35_media()

    def _b(i) -> str:
        return _hb.format(i=i)

    _q35_sql = f"""
        WITH raw AS (
          SELECT media_id, hex(data) AS hx,
                 octet_length(data)::BIGINT AS n_bytes
          FROM read_parquet('{_q35_path}')),
        c AS (
          SELECT media_id, hx, n_bytes,
            CASE WHEN substr(hx,1,8)='89504E47' THEN 'png'
                 WHEN substr(hx,1,6)='474946'  THEN 'gif'
                 WHEN substr(hx,1,4)='424D'    THEN 'bmp'
                 WHEN substr(hx,1,4)='FFD8'    THEN 'jpeg'
                 WHEN substr(hx,1,8)='49492A00' THEN 'tiff'
            END AS codec,
            -- SOF0 (baseline) or SOF2 (progressive), whichever the
            -- stream carries: first match wins (pre-SOF bytes at q100
            -- contain no F-F nibble run, so the earlier position is
            -- always the true SOF; the OTHER pattern can still match
            -- misaligned hex inside later entropy data, hence the
            -- min-nonzero rather than a sum).
            -- also computed for BI_JPEG BMPs (compression byte 30 = 4):
            -- the embedded stream's SOF is found by the same scan
            CASE WHEN substr(hx,1,4)='FFD8'
                 OR (substr(hx,1,4)='424D' AND {_b(30)}=4)
                 THEN (least(
                     CASE WHEN strpos(hx,'FFC0')=0 THEN 2147483647
                          ELSE strpos(hx,'FFC0') END,
                     CASE WHEN strpos(hx,'FFC2')=0 THEN 2147483647
                          ELSE strpos(hx,'FFC2') END)-1)//2
                 ELSE 0 END AS sofm,
            CASE WHEN substr(hx,1,8)='49492A00'
                 THEN {_b(4)} + 256*{_b(5)} + 65536*{_b(6)}
                      + 16777216*{_b(7)}
                 ELSE 0 END AS ifd
          FROM raw)
        SELECT media_id, codec, n_bytes,
          (CASE codec
            WHEN 'png'  THEN 16777216*{_b(16)} + 65536*{_b(17)}
                             + 256*{_b(18)} + {_b(19)}
            WHEN 'gif'  THEN {_b(6)} + 256*{_b(7)}
            WHEN 'bmp'  THEN {_b(18)} + 256*{_b(19)} + 65536*{_b(20)}
                             + 16777216*{_b(21)}
            WHEN 'jpeg' THEN 256*{_b('sofm+7')} + {_b('sofm+8')}
            WHEN 'tiff' THEN {_b('ifd+10')} + 256*{_b('ifd+11')}
          END)::BIGINT AS width,
          (CASE codec
            WHEN 'png'  THEN 16777216*{_b(20)} + 65536*{_b(21)}
                             + 256*{_b(22)} + {_b(23)}
            WHEN 'gif'  THEN {_b(8)} + 256*{_b(9)}
            WHEN 'bmp'  THEN {_b(22)} + 256*{_b(23)} + 65536*{_b(24)}
                             + 16777216*{_b(25)}
            WHEN 'jpeg' THEN 256*{_b('sofm+5')} + {_b('sofm+6')}
            WHEN 'tiff' THEN {_b('ifd+22')} + 256*{_b('ifd+23')}
          END)::BIGINT AS height,
          (CASE codec
            WHEN 'png'  THEN CASE {_b(25)} WHEN 0 THEN 1 WHEN 2 THEN 3
                                  WHEN 3 THEN 3 WHEN 4 THEN 2
                                  WHEN 6 THEN 4 END
            WHEN 'gif'  THEN 3
            -- BI_PNG(5): embedded PNG IHDR color type at bfOffBits=54
            -- + 25; BI_JPEG(4): embedded SOF component count;
            -- BI_ALPHABITFIELDS(6): four masks -> 4 channels; the
            -- native profiles in this fixture decode to 3
            WHEN 'bmp'  THEN CASE {_b(30)}
                              WHEN 5 THEN CASE {_b(79)}
                                   WHEN 0 THEN 1 WHEN 2 THEN 3
                                   WHEN 3 THEN 3 WHEN 4 THEN 2
                                   WHEN 6 THEN 4 END
                              WHEN 4 THEN {_b('sofm+9')}
                              WHEN 6 THEN 4
                              ELSE 3 END
            WHEN 'jpeg' THEN {_b('sofm+9')}
            WHEN 'tiff' THEN {_b('ifd+82')} + 256*{_b('ifd+83')}
          END)::BIGINT AS channels
        FROM c
        ORDER BY media_id
    """
    # q36: compressed-media structural metadata re-derived independently.
    # The MP3 header tables (public MPEG header constants) and the
    # frame-length arithmetic are restated in SQL; MP4 fields are read
    # at strpos-located box offsets; Ogg uses the fixture's fixed
    # single-audio-page layout (multi-page walks are pytest-covered).
    # duration_e6 uses the same double-op ORDER as the Python parsers
    # ((int*int)/int, then *1e6, then round) so values are bit-equal.
    _q36_path = _ensure_q36_media()
    _q36_sql = f"""
        WITH raw AS (
          SELECT media_id, hex(data) AS hx,
                 octet_length(data)::BIGINT AS n_bytes
          FROM read_parquet('{_q36_path}')),
        c AS (
          SELECT media_id, hx, n_bytes,
            CASE
              WHEN substr(hx,9,8)='66747970' THEN 'mp4'
              WHEN substr(hx,1,8)='1A45DFA3' THEN 'webm'
              WHEN substr(hx,1,8)='4F676753' THEN
                CASE WHEN substr(hx,57,16)='4F70757348656164' THEN 'opus'
                     WHEN substr(hx,57,14)='01766F72626973' THEN 'vorbis'
                END
              WHEN substr(hx,1,2)='FF' AND {_b(1)}>=224 THEN 'mp3'
            END AS kind
          FROM raw),
        mp3 AS (
          SELECT media_id,
            ({_b(1)}//8)%4 AS ver,
            CASE WHEN ({_b(1)}//8)%4=3
                 THEN ([32,40,48,56,64,80,96,112,128,160,192,224,256,320])[{_b(2)}//16]
                 ELSE ([8,16,24,32,40,48,56,64,80,96,112,128,144,160])[{_b(2)}//16]
            END AS br,
            CASE WHEN ({_b(1)}//8)%4=3
                 THEN ([44100,48000,32000])[({_b(2)}//4)%4+1]
                 ELSE ([22050,24000,16000])[({_b(2)}//4)%4+1]
            END AS sr,
            CASE WHEN {_b(3)}//64=3 THEN 1 ELSE 2 END AS ch,
            n_bytes
          FROM c WHERE kind='mp3'),
        mp3f AS (
          SELECT media_id, ver, br, sr, ch,
                 n_bytes//(((CASE WHEN ver=3 THEN 144 ELSE 72 END)
                            *br*1000)//sr) AS nf,
                 CASE WHEN ver=3 THEN 1152 ELSE 576 END AS spf
          FROM mp3),
        mp4 AS (
          SELECT media_id, hx, n_bytes,
            (strpos(hx,'6D766864')-1)//2 AS mv,
            strpos(hx,'746B6864') AS tk_pos,
            (strpos(hx,'746B6864')-1)//2 AS tk,
            strpos(hx,'6D703461') AS a_pos,
            (strpos(hx,'6D703461')-1)//2 AS a,
            strpos(hx,'61766343') AS avcc_pos
          FROM c WHERE kind='mp4'),
        mp4f AS (
          SELECT media_id,
            16777216*{_b('mv+16')} + 65536*{_b('mv+17')}
              + 256*{_b('mv+18')} + {_b('mv+19')} AS ts,
            16777216*{_b('mv+20')} + 65536*{_b('mv+21')}
              + 256*{_b('mv+22')} + {_b('mv+23')} AS dur,
            CASE WHEN avcc_pos>0 THEN 'avc1/h264'
                 WHEN tk_pos>0 THEN 'raw' ELSE 'mp4a' END AS codec,
            CASE WHEN tk_pos>0
                 THEN 256*{_b('tk+80')} + {_b('tk+81')} END AS w,
            CASE WHEN tk_pos>0
                 THEN 256*{_b('tk+84')} + {_b('tk+85')} END AS h,
            CASE WHEN a_pos>0
                 THEN 256*{_b('a+20')} + {_b('a+21')} END AS ach,
            CASE WHEN a_pos>0
                 THEN 256*{_b('a+28')} + {_b('a+29')} END AS asr
          FROM mp4),
        webm AS (
          -- EBML elements located by id+size needles (the fixture uses
          -- minimal 1-byte sizes; float payloads verified needle-free),
          -- IEEE float64 payloads reconstructed exactly from hex:
          -- (2^52+mantissa) * 2^(exp-1075) for positive normal values
          SELECT media_id, hx,
            (strpos(hx,'2AD7B183')-1)//2 AS t0,
            (strpos(hx,'448988')-1)//2 AS d0,
            strpos(hx,'B082') AS w_pos,
            (strpos(hx,'B082')-1)//2 AS w0,
            (strpos(hx,'BA82')-1)//2 AS h0,
            strpos(hx,'B588') AS s_pos,
            (strpos(hx,'B588')-1)//2 AS s0,
            strpos(hx,'9F81') AS c_pos,
            (strpos(hx,'9F81')-1)//2 AS c0
          FROM c WHERE kind='webm'),
        webmf AS (
          SELECT media_id,
            65536*{_b('t0+4')} + 256*{_b('t0+5')} + {_b('t0+6')} AS tscale,
            (4503599627370496 + ({_b('d0+4')}%16)*281474976710656
              + {_b('d0+5')}*1099511627776 + {_b('d0+6')}*4294967296
              + {_b('d0+7')}*16777216 + {_b('d0+8')}*65536
              + {_b('d0+9')}*256 + {_b('d0+10')})
              * power(2.0, ({_b('d0+3')}%128)*16 + {_b('d0+4')}//16 - 1075)
              AS ticks,
            CASE WHEN w_pos>0
                 THEN 256*{_b('w0+2')} + {_b('w0+3')} END AS w,
            CASE WHEN w_pos>0
                 THEN 256*{_b('h0+2')} + {_b('h0+3')} END AS h,
            CASE WHEN s_pos>0 THEN
              ((4503599627370496 + ({_b('s0+3')}%16)*281474976710656
                + {_b('s0+4')}*1099511627776 + {_b('s0+5')}*4294967296
                + {_b('s0+6')}*16777216 + {_b('s0+7')}*65536
                + {_b('s0+8')}*256 + {_b('s0+9')})
               * power(2.0, ({_b('s0+2')}%128)*16 + {_b('s0+3')}//16 - 1075)
              )::BIGINT END AS asr,
            CASE WHEN c_pos>0 THEN {_b('c0+2')} END AS ach,
            CASE WHEN strpos(hx,'565F565039')>0 THEN 'V_VP9'
                 WHEN strpos(hx,'565F565038')>0 THEN 'V_VP8'
                 WHEN strpos(hx,'565F415631')>0 THEN 'V_AV1'
                 WHEN strpos(hx,'415F4F505553')>0 THEN 'A_OPUS'
                 WHEN strpos(hx,'415F564F52424953')>0 THEN 'A_VORBIS'
            END AS codec
          FROM webm),
        ogg AS (
          SELECT media_id, kind,
            CASE kind WHEN 'opus' THEN {_b(37)} ELSE {_b(39)} END AS ch,
            CASE kind WHEN 'opus'
                 THEN {_b(40)} + 256*{_b(41)} + 65536*{_b(42)}
                      + 16777216*{_b(43)}
                 ELSE {_b(40)} + 256*{_b(41)} + 65536*{_b(42)}
                      + 16777216*{_b(43)}
            END AS sr,
            {_b(38)} + 256*{_b(39)} AS preskip,
            CASE kind WHEN 'opus'
                 THEN {_b(53)} + 256*{_b(54)} + 65536*{_b(55)}
                      + 16777216*{_b(56)}
                 ELSE {_b(63)} + 256*{_b(64)} + 65536*{_b(65)}
                      + 16777216*{_b(66)}
            END AS granule
          FROM c WHERE kind IN ('opus','vorbis'))
        SELECT c.media_id,
          CASE c.kind WHEN 'mp3' THEN 'mp3' WHEN 'mp4' THEN 'mp4'
               WHEN 'webm' THEN 'webm' ELSE 'ogg' END AS container,
          CASE c.kind WHEN 'mp3' THEN 'mp3' WHEN 'mp4' THEN m4.codec
               WHEN 'webm' THEN wb.codec ELSE c.kind END AS codec,
          (CASE c.kind
            WHEN 'mp3' THEN round(((m3.nf*m3.spf)/m3.sr)*1000000)
            WHEN 'mp4' THEN round((m4.dur/m4.ts)*1000000)
            WHEN 'webm' THEN
              round(((wb.ticks*wb.tscale)/1000000000.0)*1000000)
            WHEN 'opus' THEN round(((o.granule-o.preskip)/48000)*1000000)
            WHEN 'vorbis' THEN round((o.granule/o.sr)*1000000)
          END)::BIGINT AS duration_e6,
          (CASE c.kind WHEN 'mp4' THEN m4.w
                WHEN 'webm' THEN wb.w END)::BIGINT AS width,
          (CASE c.kind WHEN 'mp4' THEN m4.h
                WHEN 'webm' THEN wb.h END)::BIGINT AS height,
          (CASE c.kind WHEN 'mp3' THEN m3.sr WHEN 'mp4' THEN m4.asr
                WHEN 'webm' THEN wb.asr ELSE o.sr END)::BIGINT
            AS sample_rate,
          (CASE c.kind WHEN 'mp3' THEN m3.ch WHEN 'mp4' THEN m4.ach
                WHEN 'webm' THEN wb.ach ELSE o.ch END)::BIGINT AS channels,
          (CASE WHEN c.kind='mp3' THEN m3.br END)::BIGINT
            AS bit_rate_kbps_floor,
          (CASE WHEN c.kind='mp3' THEN m3.nf END)::BIGINT AS n_frames,
          c.n_bytes
        FROM c
        LEFT JOIN mp3f m3 USING (media_id)
        LEFT JOIN mp4f m4 USING (media_id)
        LEFT JOIN webmf wb USING (media_id)
        LEFT JOIN ogg o USING (media_id)
        ORDER BY c.media_id
    """
    return {
        "q24_media_features": _q24_sql,
        "q34_thumbnails": _q34_sql,
        "q35_real_codec_info": _q35_sql,
        "q36_media_metadata": _q36_sql,
        # q37: same tokenizer restatement as q14 (regexp_split after
        # trim+lower, 1-based inclusive list slices = word 8-grams,
        # list_distinct per doc so count(*) is the distinct-doc count)
        # q39: the SAME md5-hex-threshold expression the Spark side
        # runs — fixed-width lowercase hex compares lexicographically
        # == numerically, and md5 is engine-portable by definition.
        "q39_stratified_sample": r"""
            SELECT doc_id, lang FROM documents
            WHERE substr(md5('s1' || doc_id::VARCHAR), 1, 8) <
                  CASE WHEN lang = 'zh' THEN '99999999'
                       WHEN lang = 'en' THEN '40000000'
                       ELSE '80000000' END
            ORDER BY doc_id
        """,
        # q40: q37's shingle restatement on both slices; EXISTS-style
        # semi join on the gram, distinct train ids out.
        "q40_decontamination": r"""
            WITH g AS (
              SELECT doc_id,
                     unnest(list_distinct(
                       [array_to_string(toks[i:i+7], ' ')
                        for i in generate_series(1, len(toks)-7)])) AS gram
              FROM (SELECT doc_id,
                           regexp_split_to_array(trim(lower(text)), '\s+') AS toks
                    FROM documents WHERE trim(text) <> '')
              WHERE len(toks) >= 8)
            SELECT DISTINCT tr.doc_id
            FROM (SELECT * FROM g WHERE doc_id % 10 <> 0) tr
            SEMI JOIN (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 0) te
              ON tr.gram = te.gram
            ORDER BY doc_id
        """,
        # q41: the same three masks re-stated in RE2 (DuckDB), applied
        # in the same normative order (email -> ipv4 -> phone); md5 of
        # the final redacted text compares the masking byte-for-byte.
        # Patterns are copied verbatim from functions/pii.py.
        "q41_pii_redaction": r"""
            WITH aug AS (
              SELECT doc_id,
                     coalesce(text,'') || ' Contact user' || doc_id ||
                     '@example.com from 10.1.' || (doc_id % 250) ||
                     '.7 call +1 555 ' ||
                     lpad(((doc_id * 7) % 10000)::VARCHAR, 4, '0') AS t
              FROM documents),
            m1 AS (SELECT doc_id, t,
                     regexp_replace(t,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g') AS t1 FROM aug),
            m2 AS (SELECT *, regexp_replace(t1,
                     '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
                     '<IP>', 'g') AS t2 FROM m1),
            m3 AS (SELECT *, regexp_replace(t2,
                     '\+\d{1,3}[ -]\d{3}[ -]\d{3,4}\b',
                     '<PHONE>', 'g') AS t3 FROM m2)
            SELECT doc_id,
                   len(regexp_extract_all(t,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::INTEGER
                     AS email_cnt,
                   len(regexp_extract_all(t1,
                     '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::INTEGER
                     AS ipv4_cnt,
                   len(regexp_extract_all(t2,
                     '\+\d{1,3}[ -]\d{3}[ -]\d{3,4}\b'))::INTEGER
                     AS phone_cnt,
                   md5(t3) AS red_md5,
                   length(t3)::INTEGER AS red_len
            FROM m3 ORDER BY doc_id
        """,
        # q42: the three PageRank rounds unrolled as CTEs; identical
        # integer micro-rank arithmetic (DIV == // on positives), so
        # ranks compare bit-for-bit.  base = 1e6*(100-85)//100.
        "q42_crawl_pagerank": r"""
            WITH nid AS (SELECT (row_number() OVER (ORDER BY doc_id) - 1)::BIGINT
                           AS nid FROM documents),
            nn AS (SELECT count(*)::BIGINT AS n FROM documents),
            e AS (SELECT nid AS s, ((nid*31 + j*97) % nn.n)::BIGINT AS d
                  FROM nid, nn, (SELECT unnest([1,2,3]) AS j) js
                  WHERE nid <> (nid*31 + j*97) % nn.n),
            nodes AS (SELECT DISTINCT s AS id FROM e
                      UNION SELECT DISTINCT d FROM e),
            o AS (SELECT s, count(*)::BIGINT AS odeg FROM e GROUP BY s),
            r0 AS (SELECT id, 1000000::BIGINT AS rank FROM nodes),
            c1 AS (SELECT e.d AS id,
                          sum((r.rank * 85) // (100 * o.odeg))::BIGINT AS m
                   FROM e JOIN r0 r ON e.s = r.id JOIN o ON e.s = o.s
                   GROUP BY e.d),
            r1 AS (SELECT nodes.id, (150000 + coalesce(m, 0))::BIGINT AS rank
                   FROM nodes LEFT JOIN c1 ON nodes.id = c1.id),
            c2 AS (SELECT e.d AS id,
                          sum((r.rank * 85) // (100 * o.odeg))::BIGINT AS m
                   FROM e JOIN r1 r ON e.s = r.id JOIN o ON e.s = o.s
                   GROUP BY e.d),
            r2 AS (SELECT nodes.id, (150000 + coalesce(m, 0))::BIGINT AS rank
                   FROM nodes LEFT JOIN c2 ON nodes.id = c2.id),
            c3 AS (SELECT e.d AS id,
                          sum((r.rank * 85) // (100 * o.odeg))::BIGINT AS m
                   FROM e JOIN r2 r ON e.s = r.id JOIN o ON e.s = o.s
                   GROUP BY e.d),
            r3 AS (SELECT nodes.id, (150000 + coalesce(m, 0))::BIGINT AS rank
                   FROM nodes LEFT JOIN c3 ON nodes.id = c3.id)
            SELECT id, rank FROM r3 ORDER BY id
        """,
        # q43: identical tokenization (lower, trim, split on \s+) and
        # identical score arithmetic — exact int64 product cast to
        # double, then ONE correctly-rounded IEEE division, so the
        # doubles (and repr hashes) match bit-for-bit.  rk cast to
        # INTEGER to mirror Spark's row_number IntegerType.
        "q43_tfidf_topk": r"""
            WITH words AS (
              SELECT doc_id,
                     unnest(string_split_regex(trim(lower(text)), '\s+'))
                       AS term
              FROM documents WHERE trim(coalesce(text, '')) <> ''),
            tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
                   FROM words GROUP BY 1, 2),
            dfq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
            nn AS (SELECT count(*)::BIGINT AS n FROM documents),
            scored AS (
              SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
                     CAST(tf.tf * nn.n AS DOUBLE) / dfq.df AS score
              FROM tf JOIN dfq USING (term), nn),
            rked AS (
              SELECT *, row_number() OVER (
                          PARTITION BY doc_id
                          ORDER BY score DESC, term ASC)::INTEGER AS rk
              FROM scored)
            SELECT doc_id, term, tf, df, score, rk
            FROM rked WHERE rk <= 3 ORDER BY doc_id, rk
        """,
        # q44: same posting-table aggregate; each fraction is one
        # int->double cast + one IEEE division, thresholds are exact
        # double literals on both sides.
        "q44_repetition_filter": r"""
            WITH words AS (
              SELECT doc_id,
                     unnest(string_split_regex(trim(lower(text)), '\s+'))
                       AS term
              FROM documents WHERE trim(coalesce(text, '')) <> ''),
            tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
                   FROM words GROUP BY 1, 2),
            per AS (
              SELECT doc_id,
                     sum(tf)::BIGINT AS n_words,
                     max(tf)::BIGINT AS top_tf,
                     count(*)::BIGINT AS n_uniq,
                     sum(CASE WHEN tf >= 2 THEN tf ELSE 0 END)::BIGINT
                       AS dup_mass
              FROM tf GROUP BY 1),
            fr AS (
              SELECT doc_id, n_words, n_uniq,
                     CAST(top_tf AS DOUBLE) / n_words AS top_frac,
                     CAST(dup_mass AS DOUBLE) / n_words AS dup_frac,
                     CAST(n_uniq AS DOUBLE) / n_words AS uniq_frac
              FROM per)
            SELECT *,
                   (top_frac <= 0.10 AND dup_frac <= 0.80
                    AND uniq_frac >= 0.40) AS keep
            FROM fr ORDER BY doc_id
        """,
        # q45: the winnowing selection restated relationally — the gram
        # hash is a fixed-width lowercase md5 hex prefix on BOTH sides,
        # so lexicographic window MIN == the engine's numeric MIN and
        # the selected fingerprint set matches bit-for-bit.
        "q45_winnow_fingerprints": r"""
            WITH t AS (
              SELECT doc_id,
                     regexp_split_to_array(trim(lower(text)), '\s+') AS toks
              FROM documents WHERE trim(coalesce(text, '')) <> ''),
            g AS (
              SELECT doc_id,
                     unnest(generate_series(1, len(toks) - 3)) AS pos,
                     unnest([substr(md5(array_to_string(toks[i:i+3], ' ')), 1, 8)
                             for i in generate_series(1, len(toks) - 3)]) AS h
              FROM t WHERE len(toks) >= 4),
            m AS (
              SELECT doc_id, pos,
                     min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                       AS fp,
                     count(*) OVER (PARTITION BY doc_id) AS n_grams
              FROM g)
            SELECT DISTINCT doc_id, fp
            FROM m WHERE pos <= greatest(1, n_grams - 3)
            ORDER BY doc_id, fp
        """,
        # q46: the session_window gap-merge restated as lag + cumulative
        # CASE sum; a delta of EXACTLY the gap starts a new session
        # (Spark's per-event window is half-open [ts, ts+gap)), hence
        # `>=` here.  All outputs int64 (epoch micros / counts /
        # centi-units), so the hash compare is engine-exact.
        "q46_sessionize": r"""
            WITH o AS (
              SELECT user_id, event_id, ts, value,
                     lag(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id)
                       AS prev_us
              FROM events),
            s AS (
              SELECT user_id, ts, value,
                     sum(CASE WHEN prev_us IS NULL
                                OR epoch_us(ts) - prev_us >= 21600000000
                              THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS sess
              FROM o)
            SELECT user_id,
                   sess::BIGINT AS session_seq,
                   count(*)::BIGINT AS n_events,
                   min(epoch_us(ts))::BIGINT AS start_us,
                   max(epoch_us(ts))::BIGINT AS end_us,
                   (max(epoch_us(ts)) - min(epoch_us(ts)))::BIGINT
                     AS duration_us,
                   sum(CAST(round(value * 100) AS BIGINT))::BIGINT
                     AS sum_value_e2
            FROM s GROUP BY user_id, sess
            ORDER BY user_id, session_seq
        """,
        # q47: DuckDB's native ASOF LEFT JOIN is the independent oracle
        # for the union+carry-forward implementation (backward,
        # inclusive; (user_id, ts) pairs are unique in the fixture so
        # tie rules never engage).
        "q47_asof_join": r"""
            WITH v AS (
              SELECT user_id, ts, event_id AS view_id,
                     epoch_us(ts) AS view_us
              FROM events WHERE event_type = 'view'),
            c AS (
              SELECT user_id, ts, event_id AS click_id
              FROM events WHERE event_type = 'click')
            SELECT c.user_id, epoch_us(c.ts) AS click_us, c.click_id,
                   v.view_id, v.view_us,
                   epoch_us(c.ts) - v.view_us AS lag_us
            FROM c ASOF LEFT JOIN v
              ON c.user_id = v.user_id AND v.ts <= c.ts
            ORDER BY click_id
        """,
        # q48: the range join as DuckDB's IEJoin theta join — an
        # independent physical strategy for the same inclusive bounds.
        "q48_range_join": r"""
            WITH p AS (
              SELECT event_id, event_type, epoch_us(ts) AS x_us
              FROM events),
            iv AS (
              SELECT event_id AS err_id,
                     epoch_us(ts) - 300000000 AS lo_us,
                     epoch_us(ts) + 300000000 AS hi_us
              FROM events WHERE event_type = 'error')
            SELECT p.event_id, p.event_type,
                   count(CASE WHEN iv.err_id <> p.event_id
                              THEN iv.err_id END)::BIGINT
                     AS n_concurrent_errors
            FROM p LEFT JOIN iv
              ON iv.lo_us <= p.x_us AND p.x_us <= iv.hi_us
            GROUP BY p.event_id, p.event_type
            ORDER BY p.event_id
        """,
        # q49: exact percentiles — quantile_cont shares percentile's
        # interpolation convention (h = (n-1)q, one IEEE multiply-add),
        # so doubles hash-match digit-for-digit.
        "q49_percentiles": r"""
            SELECT event_type,
                   count(*)::BIGINT AS n,
                   min(value) AS min_v,
                   max(value) AS max_v,
                   quantile_cont(value, 0.5) AS p50,
                   quantile_cont(value, 0.9) AS p90,
                   quantile_cont(value, 0.99) AS p99
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        # q50: identical hash/weight arithmetic — the 16-bit md5 prefix
        # parses via the 0x cast, weights are pure int64 expressions.
        "q50_hashed_classifier": r"""
            WITH words AS (
              SELECT doc_id,
                     unnest(string_split_regex(trim(lower(text)), '\s+'))
                       AS term
              FROM documents WHERE trim(coalesce(text, '')) <> ''),
            sc AS (
              SELECT doc_id,
                     (CAST(concat('0x', substr(md5(term), 1, 4)) AS BIGINT)
                        % 65536) * 2654435761 % 1000 - 500 AS w
              FROM words)
            SELECT doc_id,
                   count(*)::BIGINT AS n_tokens,
                   sum(w)::BIGINT AS score,
                   (sum(w) >= 0) AS keep
            FROM sc GROUP BY doc_id ORDER BY doc_id
        """,
        # q51: Spark's hopping windows are epoch-aligned multiples of
        # the slide; an event at t belongs to starts s with
        # t - len < s <= t — restated as one generate_series per event.
        "q51_hopping_window": r"""
            WITH e AS (
              SELECT event_type, epoch_us(ts) AS t,
                     CAST(round(value * 100) AS BIGINT) AS v
              FROM events),
            x AS (
              SELECT event_type, v,
                     unnest(generate_series(
                       ((t - 86400000000) // 21600000000 + 1)
                         * 21600000000,
                       (t // 21600000000) * 21600000000,
                       21600000000)) AS win_start_us
              FROM e)
            SELECT win_start_us, event_type,
                   count(*)::BIGINT AS n,
                   sum(v)::BIGINT AS sum_value_e2
            FROM x GROUP BY win_start_us, event_type
            ORDER BY win_start_us, event_type
        """,
        # q53: floats widen to double FIRST on both sides; the rounded
        # quantity is non-negative so HALF_UP == half-away-from-zero.
        "q53_scalar_quantize": r"""
            WITH e AS (
              SELECT vec_id,
                     unnest(generate_series(0, len(embedding) - 1)) AS pos,
                     unnest([x::DOUBLE for x in embedding]) AS xd
              FROM embeddings),
            m AS (
              SELECT vec_id, pos, xd,
                     min(xd) OVER (PARTITION BY vec_id) AS mn,
                     max(xd) OVER (PARTITION BY vec_id) AS mx
              FROM e)
            SELECT vec_id, pos::INTEGER AS pos,
                   CASE WHEN mx = mn THEN 0
                        ELSE CAST(round(255 * (xd - mn) / (mx - mn))
                                  AS INTEGER) END AS code
            FROM m ORDER BY vec_id, pos
        """,
        # q54: same bigram/unigram counts; the TakeOrdered tie rule
        # (score desc, pair asc) restated via ORDER BY + LIMIT.
        "q54_collocations": r"""
            WITH t AS (
              SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS toks
              FROM documents WHERE trim(coalesce(text, '')) <> ''),
            pr AS (
              SELECT unnest([array_to_string(toks[i:i+1], ' ')
                             for i in generate_series(1, len(toks) - 1)])
                       AS pair
              FROM t WHERE len(toks) >= 2),
            cp AS (SELECT pair, count(*)::BIGINT AS c_pair
                   FROM pr GROUP BY pair),
            un AS (
              SELECT unnest(toks) AS term FROM t),
            cu AS (SELECT term, count(*)::BIGINT AS c FROM un GROUP BY term)
            SELECT cp.pair, cp.c_pair,
                   cl.c AS c_left, cr.c AS c_right,
                   (cp.c_pair * cp.c_pair * 1000000)
                     // (cl.c * cr.c) AS score_e6
            FROM cp
            JOIN cu cl ON cl.term = string_split(cp.pair, ' ')[1]
            JOIN cu cr ON cr.term = string_split(cp.pair, ' ')[2]
            WHERE cp.c_pair >= 2
            ORDER BY score_e6 DESC, cp.pair ASC
            LIMIT 50
        """,
        # q55: ->> extraction + the same aggregate set, all int64.
        "q55_json_extract": r"""
            SELECT event_type,
                   count(*)::BIGINT AS n,
                   sum((props->>'k')::BIGINT)::BIGINT AS sum_k,
                   min((props->>'k')::BIGINT)::BIGINT AS min_k,
                   max((props->>'k')::BIGINT)::BIGINT AS max_k,
                   count(DISTINCT (props->>'k')::BIGINT)::BIGINT
                     AS n_distinct_k
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        # q56: the pivot restated as conditional counts (the classic
        # CASE encoding), day rendered as a date string on both sides.
        "q56_pivot": r"""
            SELECT CAST(date_trunc('day', ts) AS DATE)::VARCHAR AS day,
                   count(*) FILTER (event_type = 'click')::BIGINT
                     AS n_click,
                   count(*) FILTER (event_type = 'error')::BIGINT
                     AS n_error,
                   count(*) FILTER (event_type = 'purchase')::BIGINT
                     AS n_purchase,
                   count(*) FILTER (event_type = 'signup')::BIGINT
                     AS n_signup,
                   count(*) FILTER (event_type = 'view')::BIGINT
                     AS n_view
            FROM events GROUP BY 1 ORDER BY 1
        """,
        # q57: the three stages restated and chained; the sample
        # threshold is the engine's exact hex literal for 0.5.
        "q57_corpus_prep": r"""
            WITH words AS (
              SELECT doc_id,
                     unnest(string_split_regex(trim(lower(text)), '\s+'))
                       AS term
              FROM documents WHERE trim(coalesce(text, '')) <> ''),
            tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
                   FROM words GROUP BY 1, 2),
            per AS (
              SELECT doc_id, sum(tf)::BIGINT AS n_words,
                     max(tf)::BIGINT AS top_tf,
                     count(*)::BIGINT AS n_uniq,
                     sum(CASE WHEN tf >= 2 THEN tf ELSE 0 END)::BIGINT
                       AS dup_mass
              FROM tf GROUP BY 1),
            kept AS (
              SELECT d.* FROM documents d JOIN per USING (doc_id)
              WHERE CAST(per.top_tf AS DOUBLE) / per.n_words <= 0.10
                AND CAST(per.dup_mass AS DOUBLE) / per.n_words <= 0.80
                AND CAST(per.n_uniq AS DOUBLE) / per.n_words >= 0.40),
            fp AS (
              SELECT *, md5(trim(regexp_replace(lower(coalesce(text, '')),
                                                '\s+', ' ', 'g'))) AS f
              FROM kept),
            canon AS (
              SELECT *, min(doc_id) OVER (PARTITION BY f) AS canon_id
              FROM fp)
            SELECT doc_id, lang, source, n_chars
            FROM canon
            WHERE doc_id = canon_id
              AND substr(md5('corpusv1' || doc_id::VARCHAR), 1, 8)
                    < '80000000'
            ORDER BY doc_id
        """,
        # q58: the same URL synthesis (q12's view) + SURT restated with
        # list_reverse; '.' splits are literal on both sides.
        "q58_surt_keys": r"""
            WITH u AS (
              SELECT doc_id,
                     concat('http://', source, '.example/', lang,
                            CASE WHEN doc_id % 3 = 0 THEN ''
                                 ELSE concat('/d', (doc_id % 7)::VARCHAR)
                            END,
                            '/doc', doc_id::VARCHAR,
                            CASE WHEN doc_id % 4 = 0 THEN '.html'
                                 WHEN doc_id % 4 = 1 THEN '.txt'
                                 WHEN doc_id % 4 = 2 THEN '.tmp'
                                 ELSE '' END) AS url
              FROM documents),
            h AS (
              SELECT doc_id, url,
                     lower(regexp_extract(url,
                       '^[a-z][a-z0-9+.-]*://([^/]+)', 1)) AS host,
                     regexp_replace(url,
                       '^[a-z][a-z0-9+.-]*://[^/]+', '') AS path
              FROM u)
            SELECT doc_id,
                   concat(array_to_string(
                            list_reverse(string_split(host, '.')), ','),
                          ')', path) AS surt,
                   array_to_string(
                     list_reverse(string_split(host, '.')), ',')
                     AS domain_key
            FROM h ORDER BY surt, doc_id
        """,
        # q59: identical bucket expression and hex range bounds
        # (0.8 -> 'cccccccc', 0.9 -> 'e6666666' on both engines since
        # the thresholds are engine-independent python-format literals
        # baked into the CASE on the Spark side and written out here).
        "q59_hash_split": r"""
            WITH b AS (
              SELECT *, substr(md5('splitv1' || doc_id::VARCHAR), 1, 8)
                          AS bk
              FROM documents),
            s AS (
              SELECT *,
                     CASE WHEN bk >= '00000000' AND bk < 'cccccccc'
                            THEN 'train'
                          WHEN bk >= 'cccccccc' AND bk < 'e6666666'
                            THEN 'valid'
                          WHEN bk >= 'e6666666' AND bk < 'ffffffff'
                            THEN 'test'
                     END AS split
              FROM b)
            SELECT split, count(*)::BIGINT AS n,
                   min(doc_id) AS min_id, max(doc_id) AS max_id,
                   sum(n_chars)::BIGINT AS sum_chars
            FROM s GROUP BY split ORDER BY split
        """,
        # q60: TPC-H Q5 restated; revenue on the q01 scaled-BIGINT grid.
        "q60_star_join": r"""
            SELECT n.n_name,
                   sum(CAST(CAST(l.l_extendedprice * (1 - l.l_discount)
                                 AS DECIMAL(18,6)) * 1000000 AS BIGINT)
                      )::BIGINT AS revenue_c6,
                   count(*)::BIGINT AS n_items
            FROM customer c
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            JOIN orders o ON o.o_custkey = c.c_custkey
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
                           AND s.s_nationkey = c.c_nationkey
            WHERE r.r_name = 'ASIA'
              AND o.o_orderdate >= TIMESTAMP '1996-01-01'
              AND o.o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY n.n_name
            ORDER BY revenue_c6 DESC, n.n_name
        """,
        # q61: ntile's uneven-split rule (earlier buckets take the
        # remainder) is ANSI-shared and the order is total, so the
        # assignment is engine-exact; q_e4 is the canonical q17 twin.
        "q61_quality_buckets": f"""
            WITH s AS (
              SELECT doc_id, lang, {_QUALITY_E4_SQL} AS q_e4
              FROM documents),
            b AS (
              SELECT lang, q_e4,
                     ntile(3) OVER (PARTITION BY lang
                                    ORDER BY q_e4 DESC, doc_id ASC)
                       AS bucket
              FROM s)
            SELECT lang, bucket::INTEGER AS bucket,
                   count(*)::BIGINT AS n,
                   min(q_e4) AS min_q, max(q_e4) AS max_q
            FROM b GROUP BY lang, bucket ORDER BY lang, bucket
        """,
        # q62: the synthetic snapshot B and the diff restated; the %5
        # mutation keys on the ORIGINAL doc_id (applied before the %13
        # id shift on the Spark side too, since both read the source
        # column).
        "q62_recrawl_diff": r"""
            WITH b AS (
              SELECT CASE WHEN doc_id % 13 = 0 THEN doc_id + 1000000
                          ELSE doc_id END AS doc_id,
                     CASE WHEN doc_id % 5 = 0
                          THEN concat(text, ' [updated]')
                          ELSE text END AS text,
                     lang
              FROM documents WHERE doc_id % 11 <> 0),
            a AS (SELECT doc_id, text, lang FROM documents),
            j AS (
              SELECT coalesce(a.lang, b.lang) AS lang,
                     CASE WHEN a.doc_id IS NULL THEN 'added'
                          WHEN b.doc_id IS NULL THEN 'removed'
                          WHEN md5(coalesce(a.text, ''))
                               = md5(coalesce(b.text, ''))
                            THEN 'unchanged'
                          ELSE 'changed' END AS status
              FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
            SELECT lang, status, count(*)::BIGINT AS n
            FROM j GROUP BY lang, status ORDER BY lang, status
        """,
        # q63: same collapse-then-cumsum; int64 throughout.
        "q63_vocab_coverage": r"""
            WITH words AS (
              SELECT unnest(string_split_regex(trim(lower(text)), '\s+'))
                       AS term
              FROM documents WHERE trim(coalesce(text, '')) <> ''),
            tf AS (SELECT term, count(*)::BIGINT AS freq
                   FROM words GROUP BY term),
            lv AS (SELECT freq, count(*)::BIGINT AS n_terms,
                          (freq * count(*))::BIGINT AS mass
                   FROM tf GROUP BY freq),
            c AS (
              SELECT freq, n_terms, mass,
                     sum(mass) OVER (ORDER BY freq DESC
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND CURRENT ROW)::BIGINT
                       AS cum_mass,
                     sum(mass) OVER ()::BIGINT AS total_mass
              FROM lv)
            SELECT freq, n_terms, mass, cum_mass,
                   (cum_mass * 1000000) // total_mass AS cum_frac_e6
            FROM c ORDER BY freq DESC
        """,
        # q64: the SAME expression text the Spark side runs via F.expr —
        # generated once in functions/layout.py, no twin to drift.
        "q64_zorder_layout": (
            "SELECT event_id, user_id, "
            + _zorder2_sql("user_id", "event_id % 65536")
            + " AS z FROM events ORDER BY z, event_id"
        ),
        # q65: the canonical lang-id twin crossed with the declared lang.
        "q65_lang_confusion": f"""
            SELECT lang, {_lang_id_sql()} AS detected,
                   count(*)::BIGINT AS n
            FROM documents GROUP BY 1, 2 ORDER BY lang, detected
        """,
        # q66: the sorted-load Gini identity, same total rank order.
        "q66_load_skew_gini": r"""
            WITH per AS (
              SELECT event_type, user_id, count(*)::BIGINT AS x
              FROM events GROUP BY 1, 2),
            rk AS (
              SELECT event_type, x,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY x ASC, user_id ASC)
                       ::BIGINT AS i
              FROM per)
            SELECT event_type,
                   count(*)::BIGINT AS n_entities,
                   sum(x)::BIGINT AS total,
                   (((2 * sum(i * x)::BIGINT
                      - (count(*) + 1) * sum(x)::BIGINT) * 1000000)
                     // (count(*) * sum(x)::BIGINT))::BIGINT AS gini_e6
            FROM rk GROUP BY event_type ORDER BY event_type
        """,
        # q67: the two Lloyd iterations unrolled as CTEs (the q42
        # integer-PageRank recipe).  Codes are the q53 SQ8 derivation;
        # every quantity is int64 (squared-L2 distances, argmin with
        # ties to the smallest cluster, floor-mean centroid updates —
        # DuckDB `//` == Spark `DIV` on non-negatives), so the
        # per-cluster profile hash-matches bit-for-bit.  DuckDB sums
        # return HUGEINT, hence the ::BIGINT on every sum (q66's note).
        "q67_kmeans_sq8": r"""
            WITH eq AS (
              SELECT vec_id,
                     unnest(generate_series(0, len(embedding) - 1)) AS pos,
                     unnest([x::DOUBLE for x in embedding]) AS xd
              FROM embeddings),
            mq AS (
              SELECT vec_id, pos, xd,
                     min(xd) OVER (PARTITION BY vec_id) AS mn,
                     max(xd) OVER (PARTITION BY vec_id) AS mx
              FROM eq),
            c AS (
              SELECT vec_id AS id, pos,
                     CASE WHEN mx = mn THEN 0
                          ELSE CAST(round(255 * (xd - mn) / (mx - mn))
                                    AS BIGINT) END AS code
              FROM mq),
            sqv AS (SELECT id, sum(code * code)::BIGINT AS sq_v
                    FROM c GROUP BY id),
            seeds AS (
              SELECT id,
                     (row_number() OVER (ORDER BY md5(id::VARCHAR), id)
                      - 1)::BIGINT AS cluster
              FROM (SELECT DISTINCT id FROM c)
              QUALIFY row_number() OVER (ORDER BY md5(id::VARCHAR), id) <= 8),
            cent0 AS (SELECT s.cluster, c.pos, c.code AS ccode
                      FROM c JOIN seeds s USING (id)),
            sqc0 AS (SELECT cluster, sum(ccode * ccode)::BIGINT AS sq_c
                     FROM cent0 GROUP BY cluster),
            dot1 AS (SELECT c.id, k.cluster,
                            sum(c.code * k.ccode)::BIGINT AS dot
                     FROM c JOIN cent0 k USING (pos) GROUP BY 1, 2),
            dist1 AS (SELECT d.id, d.cluster,
                             (v.sq_v + q.sq_c - 2 * d.dot)::BIGINT AS d2
                      FROM dot1 d JOIN sqc0 q USING (cluster)
                                  JOIN sqv v USING (id)),
            asg1 AS (SELECT id, cluster, d2 FROM dist1
                     QUALIFY row_number() OVER (PARTITION BY id
                                                ORDER BY d2, cluster) = 1),
            sum1 AS (SELECT a.cluster, c.pos,
                            sum(c.code)::BIGINT AS s, count(*)::BIGINT AS n
                     FROM c JOIN asg1 a USING (id) GROUP BY 1, 2),
            cent1 AS (SELECT k.cluster, k.pos,
                             coalesce(s.s // s.n, k.ccode)::BIGINT AS ccode
                      FROM cent0 k LEFT JOIN sum1 s USING (cluster, pos)),
            sqc1 AS (SELECT cluster, sum(ccode * ccode)::BIGINT AS sq_c
                     FROM cent1 GROUP BY cluster),
            dot2 AS (SELECT c.id, k.cluster,
                            sum(c.code * k.ccode)::BIGINT AS dot
                     FROM c JOIN cent1 k USING (pos) GROUP BY 1, 2),
            dist2 AS (SELECT d.id, d.cluster,
                             (v.sq_v + q.sq_c - 2 * d.dot)::BIGINT AS d2
                      FROM dot2 d JOIN sqc1 q USING (cluster)
                                  JOIN sqv v USING (id)),
            asg2 AS (SELECT id, cluster, d2 FROM dist2
                     QUALIFY row_number() OVER (PARTITION BY id
                                                ORDER BY d2, cluster) = 1),
            sum2 AS (SELECT a.cluster, c.pos,
                            sum(c.code)::BIGINT AS s, count(*)::BIGINT AS n
                     FROM c JOIN asg2 a USING (id) GROUP BY 1, 2),
            cent2 AS (SELECT k.cluster, k.pos,
                             coalesce(s.s // s.n, k.ccode)::BIGINT AS ccode
                      FROM cent1 k LEFT JOIN sum2 s USING (cluster, pos)),
            prof AS (SELECT cluster,
                            count(*)::BIGINT AS n_vecs,
                            sum(id)::BIGINT AS sum_ids,
                            sum(d2)::BIGINT AS inertia
                     FROM asg2 GROUP BY cluster),
            l1 AS (SELECT cluster, sum(ccode)::BIGINT AS centroid_l1
                   FROM cent2 GROUP BY cluster)
            SELECT l1.cluster,
                   coalesce(prof.n_vecs, 0)::BIGINT AS n_vecs,
                   coalesce(prof.sum_ids, 0)::BIGINT AS sum_ids,
                   l1.centroid_l1,
                   coalesce(prof.inertia, 0)::BIGINT AS inertia
            FROM l1 LEFT JOIN prof USING (cluster)
            ORDER BY cluster
        """,
        # q68: the q54 bigram/unigram count CTEs with the doc id
        # retained; per-occurrence p_e6 and the per-doc mean are both
        # floor divisions on int64, so scores match bit-for-bit.
        "q68_bigram_lm_score": r"""
            WITH t AS (
              SELECT doc_id,
                     regexp_split_to_array(trim(lower(text)), '\s+') AS toks
              FROM documents WHERE trim(coalesce(text, '')) <> ''),
            pr AS (
              SELECT doc_id,
                     unnest([array_to_string(toks[i:i+1], ' ')
                             for i in generate_series(1, len(toks) - 1)])
                       AS pair
              FROM t WHERE len(toks) >= 2),
            pd AS (SELECT doc_id, pair, count(*)::BIGINT AS m
                   FROM pr GROUP BY 1, 2),
            cp AS (SELECT pair, count(*)::BIGINT AS c_pair
                   FROM pr GROUP BY 1),
            un AS (SELECT unnest(toks) AS term FROM t),
            cu AS (SELECT term, count(*)::BIGINT AS c_left
                   FROM un GROUP BY 1),
            sc AS (SELECT pd.doc_id, pd.m,
                          ((cp.c_pair * 1000000) // cu.c_left)::BIGINT AS p_e6
                   FROM pd JOIN cp USING (pair)
                   JOIN cu ON cu.term = string_split(pd.pair, ' ')[1])
            SELECT doc_id,
                   sum(m)::BIGINT AS n_bigrams,
                   (sum(m * p_e6) // sum(m))::BIGINT AS lm_score_e6
            FROM sc GROUP BY doc_id ORDER BY doc_id
        """,
        # q69: same md5 bucket/substream split via the '0x' cast (the
        # q50 device), then the IDENTICAL generated rho CASE text and
        # estimator text the Spark side runs through F.expr — integer
        # sketch state, one shared IEEE division, bit-exact.
        "q69_hll_distinct": f"""
            WITH h AS (
              SELECT event_type,
                     CAST(concat('0x', substr(md5(user_id::VARCHAR), 1, 2))
                          AS BIGINT) AS bucket,
                     CAST(concat('0x', substr(md5(user_id::VARCHAR), 3, 8))
                          AS BIGINT) AS v32
              FROM events),
            r AS (SELECT event_type, bucket,
                         {_hll_rho_sql('v32')}::BIGINT AS rho
                  FROM h),
            sk AS (SELECT event_type, bucket, max(rho) AS rmax
                   FROM r GROUP BY 1, 2),
            ag AS (SELECT event_type,
                          count(*)::BIGINT AS n_hit,
                          sum(1::BIGINT << (33 - rmax))::BIGINT AS s_hit
                   FROM sk GROUP BY 1),
            fin AS (SELECT event_type, n_hit,
                           ((256 - n_hit) * 8589934592 + s_hit)::BIGINT
                             AS s_scaled
                    FROM ag),
            ex AS (SELECT event_type,
                          count(DISTINCT user_id)::BIGINT AS exact_distinct
                   FROM events GROUP BY 1)
            SELECT fin.event_type, n_hit, s_scaled,
                   {_hll_estimate_sql('s_scaled')} AS est_distinct,
                   exact_distinct
            FROM fin JOIN ex USING (event_type) ORDER BY event_type
        """,
        # q70: the d=4 row hashes restated via the '0x' cast; updates,
        # counters, and the min-over-rows point query are all integer,
        # so even the sketch ESTIMATES hash-match.
        "q70_cms_heavy_hitters": r"""
            WITH js AS (SELECT unnest([0, 1, 2, 3]) AS j),
            ex AS (SELECT user_id, count(*)::BIGINT AS exact_n
                   FROM events GROUP BY 1),
            top AS (SELECT user_id, exact_n FROM ex
                    ORDER BY exact_n DESC, user_id ASC LIMIT 20),
            occ AS (
              SELECT j,
                     CAST(concat('0x',
                            substr(md5(j::VARCHAR || ':' || user_id::VARCHAR),
                                   1, 8)) AS BIGINT) % 1024 AS idx
              FROM events, js),
            sk AS (SELECT j, idx, count(*)::BIGINT AS c
                   FROM occ GROUP BY 1, 2),
            pr AS (
              SELECT t.user_id, t.exact_n, j,
                     CAST(concat('0x',
                            substr(md5(j::VARCHAR || ':' || t.user_id::VARCHAR),
                                   1, 8)) AS BIGINT) % 1024 AS idx
              FROM top t, js)
            SELECT pr.user_id, pr.exact_n,
                   min(coalesce(sk.c, 0))::BIGINT AS cms_n
            FROM pr LEFT JOIN sk USING (j, idx)
            GROUP BY 1, 2 ORDER BY exact_n DESC, user_id ASC
        """,
        # q71: the same shared bin/midpoint texts (module functions
        # spliced verbatim); cumulative thresholds are the integer
        # comparisons cum*den >= n*num, so bins are engine-exact and
        # the midpoints are one shared IEEE expression.
        "q71_hist_quantiles": f"""
            WITH b AS (
              SELECT event_type,
                     {_hist_bin_sql('value', 0.0, 1000.0, 200)} AS bin
              FROM events WHERE value IS NOT NULL),
            bc AS (SELECT event_type, bin, count(*)::BIGINT AS c
                   FROM b GROUP BY 1, 2),
            cw AS (SELECT event_type, bin,
                          sum(c) OVER (PARTITION BY event_type
                                       ORDER BY bin)::BIGINT AS cum,
                          sum(c) OVER (PARTITION BY event_type)::BIGINT AS n
                   FROM bc),
            ag AS (SELECT event_type,
                          max(n)::BIGINT AS n,
                          min(CASE WHEN cum * 2 >= n * 1 THEN bin END)::BIGINT
                            AS p50_bin,
                          min(CASE WHEN cum * 10 >= n * 9 THEN bin END)::BIGINT
                            AS p90_bin,
                          min(CASE WHEN cum * 100 >= n * 99 THEN bin END)::BIGINT
                            AS p99_bin
                   FROM cw GROUP BY 1)
            SELECT event_type, n,
                   p50_bin, {_hist_mid_sql('p50_bin', 0.0, 1000.0, 200)} AS p50_mid,
                   p90_bin, {_hist_mid_sql('p90_bin', 0.0, 1000.0, 200)} AS p90_mid,
                   p99_bin, {_hist_mid_sql('p99_bin', 0.0, 1000.0, 200)} AS p99_mid
            FROM ag ORDER BY event_type
        """,
        # q72: the same md5 positions via the '0x' cast; 32-bit word
        # packing keeps every shift sign-safe (DuckDB range-checks
        # 1::BIGINT << 63), so the exact bit pattern — and the false
        # positives it implies — matches bit-for-bit.
        "q72_bloom_membership": r"""
            WITH js AS (SELECT unnest([0, 1, 2, 3]) AS j),
            buyers AS (SELECT DISTINCT user_id FROM events
                       WHERE event_type = 'purchase'),
            bp AS (
              SELECT user_id,
                     CAST(concat('0x',
                            substr(md5('b' || j::VARCHAR || ':'
                                       || user_id::VARCHAR), 1, 8))
                          AS BIGINT) % 65536 AS pos
              FROM buyers, js),
            bl AS (SELECT pos // 32 AS word,
                          bit_or(1::BIGINT << CAST(pos % 32 AS INT))::BIGINT
                            AS bits
                   FROM bp GROUP BY 1),
            allu AS (SELECT DISTINCT user_id FROM events),
            pp AS (
              SELECT user_id,
                     CAST(concat('0x',
                            substr(md5('b' || j::VARCHAR || ':'
                                       || user_id::VARCHAR), 1, 8))
                          AS BIGINT) % 65536 AS pos
              FROM allu, js),
            pb AS (SELECT user_id, pos // 32 AS word,
                          1::BIGINT << CAST(pos % 32 AS INT) AS b
                   FROM pp),
            hit AS (SELECT pb.user_id,
                           CASE WHEN (coalesce(bl.bits, 0) & pb.b) = pb.b
                                THEN 1 ELSE 0 END AS hit
                    FROM pb LEFT JOIN bl USING (word)),
            mp AS (SELECT user_id, min(hit) = 1 AS maybe_present
                   FROM hit GROUP BY 1),
            res AS (SELECT mp.maybe_present,
                           (b.user_id IS NOT NULL) AS actual
                    FROM mp LEFT JOIN buyers b USING (user_id))
            SELECT maybe_present, actual, count(*)::BIGINT AS n
            FROM res GROUP BY 1, 2 ORDER BY 1, 2
        """,
        # q73: the q42 edge derivation with a source-token anchor
        # (DuckDB toks[j] is 1-based == Spark get(toks, j-1)); the top
        # anchor's (count desc, anchor asc) order is total, so the
        # winner is engine-exact.
        "q73_anchor_rollup": r"""
            WITH nid AS (
              SELECT (row_number() OVER (ORDER BY doc_id) - 1)::BIGINT AS nid,
                     regexp_split_to_array(trim(lower(coalesce(text, ''))),
                                           '\s+') AS toks
              FROM documents),
            nn AS (SELECT count(*)::BIGINT AS n FROM documents),
            e AS (SELECT nid AS src,
                         ((nid*31 + j*97) % nn.n)::BIGINT AS dst,
                         coalesce(toks[j], 'none') AS anchor
                  FROM nid, nn, (SELECT unnest([1, 2, 3]) AS j) js
                  WHERE nid <> (nid*31 + j*97) % nn.n),
            pa AS (SELECT dst, anchor, count(*)::BIGINT AS c
                   FROM e GROUP BY 1, 2),
            rk AS (SELECT dst, anchor, c,
                          row_number() OVER (PARTITION BY dst
                                             ORDER BY c DESC, anchor ASC) AS r,
                          sum(c) OVER (PARTITION BY dst)::BIGINT AS in_degree,
                          count(*) OVER (PARTITION BY dst)::BIGINT AS n_anchors
                   FROM pa)
            SELECT dst, in_degree, n_anchors,
                   anchor AS top_anchor, c AS top_anchor_n
            FROM rk WHERE r = 1 ORDER BY dst
        """,
        # q74: the q67 CTE chain through the FIRST assignment (iters=1
        # == assign against the seed centroids), then the q26 cosine
        # restatement per cluster; min-id keep via the distinct-id_b
        # drop set.
        "q74_semdedup": r"""
            WITH eq AS (
              SELECT vec_id,
                     unnest(generate_series(0, len(embedding) - 1)) AS pos,
                     unnest([x::DOUBLE for x in embedding]) AS xd
              FROM embeddings),
            mq AS (
              SELECT vec_id, pos, xd,
                     min(xd) OVER (PARTITION BY vec_id) AS mn,
                     max(xd) OVER (PARTITION BY vec_id) AS mx
              FROM eq),
            c AS (
              SELECT vec_id AS id, pos,
                     CASE WHEN mx = mn THEN 0
                          ELSE CAST(round(255 * (xd - mn) / (mx - mn))
                                    AS BIGINT) END AS code
              FROM mq),
            sqv AS (SELECT id, sum(code * code)::BIGINT AS sq_v
                    FROM c GROUP BY id),
            seeds AS (
              SELECT id,
                     (row_number() OVER (ORDER BY md5(id::VARCHAR), id)
                      - 1)::BIGINT AS cluster
              FROM (SELECT DISTINCT id FROM c)
              QUALIFY row_number() OVER (ORDER BY md5(id::VARCHAR), id) <= 8),
            cent0 AS (SELECT s.cluster, c.pos, c.code AS ccode
                      FROM c JOIN seeds s USING (id)),
            sqc0 AS (SELECT cluster, sum(ccode * ccode)::BIGINT AS sq_c
                     FROM cent0 GROUP BY cluster),
            dot1 AS (SELECT c.id, k.cluster,
                            sum(c.code * k.ccode)::BIGINT AS dot
                     FROM c JOIN cent0 k USING (pos) GROUP BY 1, 2),
            dist1 AS (SELECT d.id, d.cluster,
                             (v.sq_v + q.sq_c - 2 * d.dot)::BIGINT AS d2
                      FROM dot1 d JOIN sqc0 q USING (cluster)
                                  JOIN sqv v USING (id)),
            asg1 AS (SELECT id, cluster FROM dist1
                     QUALIFY row_number() OVER (PARTITION BY id
                                                ORDER BY d2, cluster) = 1),
            v AS (SELECT e.vec_id, e.embedding, a.cluster
                  FROM embeddings e JOIN asg1 a ON a.id = e.vec_id),
            p AS (SELECT b.vec_id AS id_b,
                    round(
                      list_sum([a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE
                                for i in generate_series(1, len(a.embedding))])
                      / (sqrt(list_sum([a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE
                                for i in generate_series(1, len(a.embedding))]))
                       * sqrt(list_sum([b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE
                                for i in generate_series(1, len(b.embedding))]))),
                      6) AS cos6
                  FROM v a JOIN v b
                    ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
            drp AS (SELECT DISTINCT id_b FROM p WHERE cos6 >= 0.45),
            per AS (SELECT cluster,
                           count(*)::BIGINT AS n_vecs,
                           sum(CASE WHEN drp.id_b IS NOT NULL THEN 1
                                    ELSE 0 END)::BIGINT AS n_dropped
                    FROM v LEFT JOIN drp ON v.vec_id = drp.id_b
                    GROUP BY 1)
            SELECT cluster, n_vecs, n_dropped,
                   (n_vecs - n_dropped)::BIGINT AS n_kept
            FROM per ORDER BY cluster
        """,
        # q92: same robots synthesis; directive extraction restated as
        # per-line comment-strip + case-insensitive regexp; the urlset
        # synthesis + re-parse mirrors the q84 grammar.
        "q92_sitemap_discovery": r"""
            WITH r AS (
              SELECT source AS host, count(*)::BIGINT AS n_docs
              FROM documents GROUP BY 1),
            rb AS (SELECT host,
                          '# robots for ' || host || chr(10)
                          || 'User-agent: *' || chr(10)
                          || 'Disallow: /tmp' || chr(10)
                          || 'SiteMap: http://' || host
                          || '.example/sitemap.xml   # inline comment'
                          || chr(10)
                          || CASE WHEN n_docs % 2 = 0
                                  THEN 'sitemap: http://' || host
                                       || '.example/sitemap2.xml' || chr(10)
                                  ELSE '' END AS body
                   FROM r),
            ln AS (SELECT host, unnest(string_split(body, chr(10))) AS raw
                   FROM rb),
            disc AS (SELECT DISTINCT host,
                            trim(regexp_extract(
                              trim(regexp_replace(raw, '#.*$', '')),
                              '(?i)^sitemap\s*:\s*(.*)$', 1)) AS loc
                     FROM ln
                     WHERE trim(regexp_extract(
                             trim(regexp_replace(raw, '#.*$', '')),
                             '(?i)^sitemap\s*:\s*(.*)$', 1)) <> ''),
            xml AS (SELECT host, loc,
                           '<urlset><url><loc>' || loc
                           || '?u=1</loc></url><url><loc>' || loc
                           || '?u=2</loc></url></urlset>' AS body
                    FROM disc),
            blocks AS (SELECT host,
                              unnest(regexp_extract_all(body,
                                '(?s)<url>(.*?)</url>', 1)) AS b
                       FROM xml),
            p AS (SELECT host,
                         nullif(regexp_extract(b,
                           '(?s)<loc>\s*(.*?)\s*</loc>', 1), '') AS loc
                  FROM blocks),
            nm AS (SELECT host, count(DISTINCT loc)::BIGINT AS n_sitemaps
                   FROM disc GROUP BY 1),
            nu AS (SELECT host, count(*)::BIGINT AS n_urls,
                          min(loc) AS first_url
                   FROM p WHERE loc IS NOT NULL GROUP BY 1)
            SELECT nm.host, nm.n_sitemaps, nu.n_urls, nu.first_url
            FROM nm JOIN nu USING (host) ORDER BY nm.host
        """,
        # q91: the record grammar rebuilt as VARCHAR (every part is
        # UTF-8); strlen = octet count matches Spark's length(binary);
        # md5(varchar) hashes the UTF-8 bytes == Spark md5(binary).
        "q91_warc_records": r"""
            WITH u AS ({_DOC_URL_SQL}),
            h AS (SELECT doc_id,
                         'HTTP/1.1 200 OK' || chr(13)||chr(10)
                         || 'Content-Type: text/html' || chr(13)||chr(10)
                         || chr(13)||chr(10) || coalesce(text, '') AS http,
                         url
                  FROM u),
            r AS (SELECT doc_id,
                         'WARC/1.0' || chr(13)||chr(10)
                         || 'WARC-Type: response' || chr(13)||chr(10)
                         || 'WARC-Target-URI: ' || url || chr(13)||chr(10)
                         || 'WARC-Date: 2026-01-01T00:00:00Z'
                         || chr(13)||chr(10)
                         || 'Content-Length: ' || strlen(http)::VARCHAR
                         || chr(13)||chr(10)||chr(13)||chr(10)
                         || http || chr(13)||chr(10)||chr(13)||chr(10) AS rec
                  FROM h)
            SELECT doc_id, strlen(rec)::BIGINT AS record_len,
                   md5(rec) AS record_md5
            FROM r ORDER BY doc_id
        """.format(_DOC_URL_SQL=_DOC_URL_SQL),
        # q90: same u32*1e4 < w_e4*2^32 integer compare over the shared
        # quality grid; per-lang raw/kept means via integer DIV.
        "q90_weighted_sample": r"""
            WITH d AS (
              SELECT doc_id, lang, {QUALITY} AS q_e4 FROM documents),
            k AS (
              SELECT * FROM d
              WHERE CAST(concat('0x',
                      substr(md5('qs1' || doc_id::VARCHAR), 1, 8))
                    AS BIGINT) * 10000 < q_e4 * 4294967296),
            ra AS (SELECT lang, count(*)::BIGINT AS n_raw,
                          sum(q_e4)::BIGINT AS q_sum_raw
                   FROM d GROUP BY 1),
            ka AS (SELECT lang, count(*)::BIGINT AS n_kept,
                          sum(q_e4)::BIGINT AS q_sum_kept
                   FROM k GROUP BY 1)
            SELECT ra.lang, ra.n_raw,
                   coalesce(ka.n_kept, 0)::BIGINT AS n_kept,
                   (ra.q_sum_raw // ra.n_raw)::BIGINT AS mean_q_raw,
                   (CASE WHEN coalesce(ka.n_kept, 0) > 0
                         THEN ka.q_sum_kept // ka.n_kept
                         ELSE 0 END)::BIGINT AS mean_q_kept
            FROM ra LEFT JOIN ka USING (lang) ORDER BY ra.lang
        """.replace("{QUALITY}", _QUALITY_E4_SQL),
        # q89: the same rolling-hash boundary rule (md5 of the last-3-
        # token window, 0 mod 4), chunk ids via the shifted cumsum,
        # chunk text via string_agg ORDER BY.
        "q89_cdc_dup_chunks": r"""
            WITH t AS (SELECT doc_id,
                              regexp_split_to_array(trim(text), '\s+')
                                AS toks
                       FROM documents
                       WHERE trim(coalesce(text, '')) <> ''),
            p AS (SELECT doc_id, toks,
                         unnest(generate_series(1, len(toks))) AS i
                  FROM t),
            b AS (SELECT doc_id, i, toks[i] AS tok,
                         CASE WHEN i >= 3 AND
                              CAST(concat('0x',
                                substr(md5(array_to_string(
                                  toks[greatest(1, i-2) : i], ' ')), 1, 8))
                                AS BIGINT) % 4 = 0
                              THEN 1 ELSE 0 END AS bd
                  FROM p),
            a AS (SELECT doc_id, i, tok,
                         coalesce(sum(bd) OVER (PARTITION BY doc_id
                           ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) AS chunk_id
                  FROM b),
            c AS (SELECT doc_id, chunk_id, count(*)::BIGINT AS n_toks,
                         md5(string_agg(tok, ' ' ORDER BY i)) AS chunk_md5
                  FROM a GROUP BY 1, 2)
            SELECT chunk_md5, count(DISTINCT doc_id)::BIGINT AS n_docs,
                   count(*)::BIGINT AS n_occurrences,
                   max(n_toks)::BIGINT AS n_toks
            FROM c GROUP BY 1
            HAVING count(DISTINCT doc_id) >= 2 ORDER BY 1
        """,
        # q88: segment explode via generate_series, doc-frequency drop,
        # reconstruction via string_agg ORDER BY segment index — the
        # rebuilt text md5 itself hash-matches.
        "q88_segment_dedup": r"""
            WITH t AS (SELECT doc_id,
                              regexp_split_to_array(trim(text), '\s+')
                                AS toks
                       FROM documents
                       WHERE trim(coalesce(text, '')) <> ''),
            c AS (SELECT doc_id, toks,
                         (len(toks) + 2) // 3 AS nc FROM t),
            s AS (SELECT doc_id, k,
                         array_to_string(toks[k*3+1 : k*3+3], ' ') AS seg
                  FROM c, (SELECT unnest(generate_series(0, 4095)) AS k) ks
                  WHERE k < nc),
            f AS (SELECT seg, count(DISTINCT doc_id)::BIGINT AS df
                  FROM s GROUP BY 1),
            j AS (SELECT s.doc_id, s.k, s.seg, f.df
                  FROM s JOIN f USING (seg)),
            reb AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
                           string_agg(seg, ' ' ORDER BY k) AS txt
                    FROM j WHERE df <= 5 GROUP BY 1),
            per AS (SELECT doc_id, count(*)::BIGINT AS n_segs
                    FROM s GROUP BY 1)
            SELECT d.doc_id,
                   coalesce(per.n_segs, 0)::BIGINT AS n_segs,
                   (coalesce(per.n_segs, 0)
                    - coalesce(reb.n_kept, 0))::BIGINT AS n_dropped,
                   md5(coalesce(reb.txt, '')) AS rebuilt_md5
            FROM documents d
            LEFT JOIN per USING (doc_id)
            LEFT JOIN reb USING (doc_id)
            ORDER BY d.doc_id
        """,
        # q86: the same chained strictly-later min-aggregates.
        "q86_funnel_conversion": r"""
            WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
                       WHERE event_type = 'view' GROUP BY 1),
            c AS (SELECT e.user_id, min(e.ts) AS t2
                  FROM events e JOIN v USING (user_id)
                  WHERE e.event_type = 'click' AND e.ts > v.t1
                  GROUP BY 1),
            p AS (SELECT e.user_id, min(e.ts) AS t3
                  FROM events e JOIN c USING (user_id)
                  WHERE e.event_type = 'purchase' AND e.ts > c.t2
                  GROUP BY 1)
            SELECT '1_view' AS step, count(*)::BIGINT AS n_users FROM v
            UNION ALL
            SELECT '2_click', count(*)::BIGINT FROM c
            UNION ALL
            SELECT '3_purchase', count(*)::BIGINT FROM p
            ORDER BY step
        """,
        # q87: first-day cohort x day-offset distinct users.
        "q87_retention_cohorts": r"""
            WITH f AS (SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
                       FROM events GROUP BY 1)
            SELECT f.cohort_day,
                   date_diff('day', f.cohort_day,
                             CAST(e.ts AS DATE))::BIGINT AS day_offset,
                   count(DISTINCT e.user_id)::BIGINT AS n_users
            FROM events e JOIN f USING (user_id)
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        # q84: string_agg ORDER BY == Spark's array_sort'd struct list;
        # the same (?s) non-greedy grammar re-parses the bodies.
        "q84_sitemap_roundtrip": r"""
            WITH u AS ({_DOC_URL_SQL}),
            ent AS (SELECT source, doc_id,
                           '<url><loc> ' || url || ' </loc>'
                           || CASE WHEN doc_id % 2 = 0
                                   THEN '<lastmod>2026-0'
                                        || ((doc_id % 9) + 1)::VARCHAR
                                        || '-15</lastmod>'
                                   ELSE '' END
                           || '</url>' AS e
                    FROM u),
            xml AS (SELECT source,
                           '<urlset>' || string_agg(e, '' ORDER BY doc_id)
                           || '</urlset>' AS body
                    FROM ent GROUP BY 1),
            blocks AS (SELECT source,
                              unnest(regexp_extract_all(body,
                                '(?s)<url>(.*?)</url>', 1)) AS b
                       FROM xml),
            p AS (SELECT source,
                         nullif(regexp_extract(b,
                           '(?s)<loc>\s*(.*?)\s*</loc>', 1), '') AS loc,
                         nullif(regexp_extract(b,
                           '(?s)<lastmod>\s*(.*?)\s*</lastmod>', 1), '')
                           AS lastmod
                  FROM blocks)
            SELECT source, count(*)::BIGINT AS n_urls,
                   count(lastmod)::BIGINT AS n_lastmod,
                   min(loc) AS first_loc, max(lastmod) AS max_lastmod
            FROM p WHERE loc IS NOT NULL GROUP BY 1 ORDER BY 1
        """.format(_DOC_URL_SQL=_DOC_URL_SQL),
        # q85: the chunk-count closed form + generate_series expansion.
        "q85_chunk_spans": r"""
            WITH t AS (SELECT doc_id,
                              (CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                                    ELSE len(regexp_split_to_array(trim(text),
                                                                   '\s+'))
                               END)::BIGINT AS n
                       FROM documents),
            c AS (SELECT doc_id, n,
                         CASE WHEN n <= 24 THEN 1
                              ELSE 1 + (n - 24 + 16 - 1) // 16 END AS nc
                  FROM t),
            s AS (SELECT doc_id, n,
                         unnest(generate_series(0, nc - 1)) AS chunk_id
                  FROM c)
            SELECT doc_id, chunk_id::BIGINT AS chunk_id,
                   (chunk_id * 16)::BIGINT AS start_tok,
                   least(chunk_id * 16 + 24, n)::BIGINT AS end_tok,
                   (least(chunk_id * 16 + 24, n)
                    - chunk_id * 16)::BIGINT AS chunk_len
            FROM s ORDER BY doc_id, chunk_id
        """,
        # q82: the PSL longest-match restated with DuckDB list slices
        # (1-based inclusive: last k labels = labels[len-k+1 : len]).
        "q82_registered_domains": r"""
            WITH hv AS (
              SELECT source,
                     CAST(concat('0x', substr(md5(doc_id::VARCHAR), 1, 8))
                          AS BIGINT) % 4 AS v
              FROM documents),
            h AS (
              SELECT CASE WHEN v = 0 THEN 'www.' || source || '.example'
                          WHEN v = 1 THEN source || '.co.example'
                          WHEN v = 2 THEN 'a.b.' || source || '.example'
                          ELSE 'co.example' END AS host
              FROM hv),
            sfx(sfx, nl) AS (VALUES ('co.example', 2), ('example', 1)),
            hl AS (SELECT DISTINCT lower(host) AS hh FROM h),
            lab AS (SELECT hh, string_split(hh, '.') AS labels FROM hl),
            cand AS (SELECT hh, labels,
                            array_to_string(
                              labels[len(labels)-k+1 : len(labels)], '.')
                              AS cand
                     FROM lab, (SELECT unnest(generate_series(1, 8)) AS k) ks
                     WHERE k <= len(labels)),
            m AS (SELECT hh, labels, nl
                  FROM cand JOIN sfx ON cand.cand = sfx.sfx),
            best AS (SELECT hh,
                            CASE WHEN len(labels) > nl
                                 THEN array_to_string(
                                   labels[len(labels)-nl : len(labels)], '.')
                            END AS rd
                     FROM m
                     QUALIFY row_number() OVER (PARTITION BY hh
                                                ORDER BY nl DESC) = 1),
            j AS (SELECT h.host, best.rd
                  FROM h LEFT JOIN best ON lower(h.host) = best.hh)
            SELECT rd AS registered_domain, count(*)::BIGINT AS n_pages,
                   count(DISTINCT host)::BIGINT AS n_hosts
            FROM j GROUP BY 1 ORDER BY 1
        """,
        # q83: the q42 edge CTE; log2 bin via binary-string length on
        # both engines (bin() is exact where float log2 is not).
        "q83_indegree_bins": r"""
            WITH nid AS (
              SELECT (row_number() OVER (ORDER BY doc_id) - 1)::BIGINT AS nid
              FROM documents),
            nn AS (SELECT count(*)::BIGINT AS n FROM documents),
            e AS (SELECT nid AS src, ((nid*31 + j*97) % nn.n)::BIGINT AS dst
                  FROM nid, nn, (SELECT unnest([1, 2, 3]) AS j) js
                  WHERE nid <> (nid*31 + j*97) % nn.n),
            deg AS (SELECT dst, count(*)::BIGINT AS deg
                    FROM e GROUP BY 1)
            SELECT (length(bin(deg)) - 1)::BIGINT AS log2_bin,
                   count(*)::BIGINT AS n_nodes,
                   sum(deg)::BIGINT AS edge_sum
            FROM deg GROUP BY 1 ORDER BY 1
        """,
        # q81: the full canonicalization restated in DuckDB list
        # functions over the same two-variant alias synthesis; list_sort
        # and array_sort share binary collation on ASCII params.
        "q81_canonical_urls": r"""
            WITH u AS ({_DOC_URL_SQL}),
            v AS (SELECT doc_id, url, unnest([1, 2]) AS j FROM u),
            raw AS (SELECT CASE WHEN j = 1
                                THEN url || '?utm_source=feed&b=2&a=1'
                                ELSE url || '?a=1&gclid=x'
                                     || doc_id::VARCHAR || '&b=2'
                                     || (CASE WHEN doc_id % 4 = 0
                                              THEN '&c=3' ELSE '' END)
                                     || '#sec' END AS raw_url
                   FROM v),
            st1 AS (SELECT regexp_replace(raw_url, '#.*$', '') AS nofrag
                    FROM raw),
            st2 AS (SELECT nofrag,
                           substr(nofrag,
                                  len(regexp_extract(nofrag,
                                      '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)',
                                      1)) + 1) AS rest
                    FROM st1),
            st3 AS (SELECT nofrag, rest,
                           CASE WHEN instr(rest, '?') > 0
                                THEN regexp_replace(rest, '^[^?]*\?', '')
                                ELSE '' END AS query
                    FROM st2),
            st4 AS (SELECT nofrag, rest,
                           CASE WHEN query = '' THEN []::VARCHAR[]
                                ELSE string_split(query, '&') END AS params
                    FROM st3),
            st5 AS (SELECT nofrag, rest,
                           array_to_string(list_sort(list_filter(params,
                             p -> NOT regexp_matches(lower(p),
                               '^(utm_[^=]*|gclid|fbclid|msclkid|phpsessid|jsessionid|sessionid)(=|$)'))),
                             '&') AS q2
                    FROM st4),
            c AS (SELECT lower(regexp_extract(nofrag,
                           '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1))
                         || regexp_replace(rest, '\?.*$', '')
                         || CASE WHEN q2 = '' THEN ''
                                 ELSE '?' || q2 END AS canonical_url
                  FROM st5)
            SELECT canonical_url, count(*)::BIGINT AS n_variants
            FROM c GROUP BY 1 ORDER BY 1
        """.format(_DOC_URL_SQL=_DOC_URL_SQL),
        # q79: same group rollup + VALUES target table; integer weight
        # on the 1e6 grid, resampled mass re-derived from the weight.
        "q79_mixture_weights": r"""
            WITH toks AS (
              SELECT lang AS grp, count(*)::BIGINT AS n_docs,
                     sum(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                              ELSE len(regexp_split_to_array(trim(text),
                                                             '\s+'))
                         END)::BIGINT AS tok_sum
              FROM documents GROUP BY 1),
            tgt AS (SELECT * FROM (VALUES ('de', 1500), ('en', 4000),
                                          ('es', 1500), ('fr', 1500),
                                          ('zh', 1500))
                    t(grp, target_share_e4)),
            j AS (SELECT toks.grp, toks.n_docs, toks.tok_sum,
                         tgt.target_share_e4::BIGINT AS target_share_e4,
                         sum(toks.tok_sum) OVER ()::BIGINT AS total
                  FROM toks LEFT JOIN tgt USING (grp))
            SELECT grp AS lang, n_docs, tok_sum, target_share_e4,
                   (target_share_e4 * total * 100 // tok_sum)::BIGINT
                     AS weight_e6,
                   (tok_sum * (target_share_e4 * total * 100 // tok_sum)
                    // 1000000)::BIGINT AS resampled_tok
            FROM j ORDER BY lang
        """,
        # q80: one base CTE feeds the three stage rollups; fingerprint
        # is the q57 normalized-text md5; canonical keep = min doc_id.
        "q80_yield_funnel": r"""
            WITH b AS (
              SELECT doc_id AS id,
                     (CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                           ELSE len(regexp_split_to_array(trim(text),
                                                          '\s+'))
                      END)::BIGINT AS tok,
                     md5(trim(regexp_replace(lower(coalesce(text, '')),
                                             '\s+', ' ', 'g'))) AS fp
              FROM documents),
            s0 AS (SELECT '0_raw' AS stage, count(*)::BIGINT AS n_docs,
                          sum(tok)::BIGINT AS tok_sum FROM b),
            l AS (SELECT * FROM b WHERE tok >= 10),
            s1 AS (SELECT '1_minlen' AS stage, count(*)::BIGINT,
                          sum(tok)::BIGINT FROM l),
            c AS (SELECT * FROM l
                  QUALIFY row_number() OVER (PARTITION BY fp
                                             ORDER BY id) = 1),
            s2 AS (SELECT '2_exact_dedup' AS stage, count(*)::BIGINT,
                          sum(tok)::BIGINT FROM c)
            SELECT * FROM s0 UNION ALL SELECT * FROM s1
            UNION ALL SELECT * FROM s2 ORDER BY stage
        """,
        # q78: the same level search on the distinct-demand table —
        # the satisfied region is a prefix in d (f(d) is nondecreasing),
        # so per-column MAX over the satisfied rows is the arg-max row.
        "q78_budget_waterfill": r"""
            WITH hosts AS (
              SELECT source || '-' || (doc_id % 10)::VARCHAR AS host,
                     count(*)::BIGINT AS demand
              FROM documents GROUP BY 1),
            b AS (SELECT (count(*) // 3)::BIGINT AS budget FROM documents),
            pv AS (SELECT demand AS d, count(*)::BIGINT AS cnt
                   FROM hosts GROUP BY 1),
            cum AS (SELECT d,
                           sum(d * cnt) OVER (ORDER BY d)::BIGINT AS cm,
                           sum(cnt) OVER (ORDER BY d)::BIGINT AS cc,
                           sum(cnt) OVER ()::BIGINT AS n
                    FROM pv),
            lv AS (SELECT
                     coalesce(max(CASE WHEN cm + d*(n-cc) <= b.budget
                                       THEN d END), -1)::BIGINT AS dstar,
                     coalesce(max(CASE WHEN cm + d*(n-cc) <= b.budget
                                       THEN cm END), 0)::BIGINT AS smass,
                     coalesce(max(CASE WHEN cm + d*(n-cc) <= b.budget
                                       THEN cc END), 0)::BIGINT AS scnt,
                     max(n)::BIGINT AS n,
                     max(b.budget)::BIGINT AS budget
                   FROM cum, b)
            SELECT h.host, h.demand,
                   (CASE WHEN h.demand <= l.dstar THEN h.demand
                         ELSE least(h.demand,
                                    (l.budget - l.smass) // greatest(l.n - l.scnt, 1))
                    END)::BIGINT AS alloc
            FROM hosts h, lv l ORDER BY h.host
        """,
        # q75: the packing closed form — per-bucket prefix sum minus own
        # tokens, integer-divided by the cap; token counts are the
        # engine-shared whitespace tokenizer (empty/null -> 0).
        "q75_pack_sequences": r"""
            WITH t AS (
              SELECT doc_id, (doc_id % 16)::BIGINT AS bucket,
                     (CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                           ELSE len(regexp_split_to_array(trim(text), '\s+'))
                      END)::BIGINT AS n_tok
              FROM documents),
            o AS (
              SELECT *,
                     (sum(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id)
                      - n_tok)::BIGINT AS start_off
              FROM t)
            SELECT bucket, (start_off // 256)::BIGINT AS seq_id,
                   count(*)::BIGINT AS n_docs,
                   sum(n_tok)::BIGINT AS tok_sum,
                   min(doc_id) AS first_doc, max(doc_id) AS last_doc
            FROM o GROUP BY 1, 2 ORDER BY 1, 2
        """,
        # q76: the q14 shingle derivation, df-capped at 100, then the
        # directional containment rollup; score integer-exact at 1e4.
        "q76_containment_pairs": r"""
            WITH s AS (
              SELECT doc_id AS id,
                     unnest(list_distinct(
                       [array_to_string(toks[i:i+2], ' ')
                        for i in generate_series(1, len(toks)-2)])) AS g
              FROM (SELECT doc_id,
                           regexp_split_to_array(trim(lower(text)), '\s+') AS toks
                    FROM documents WHERE trim(text) <> '')
              WHERE len(toks) >= 3),
            kept AS (SELECT g FROM s GROUP BY g HAVING count(*) <= 100),
            sk AS (SELECT s.id, s.g FROM s JOIN kept USING (g)),
            sz AS (SELECT id, count(*)::BIGINT AS sz FROM sk GROUP BY id),
            inter AS (SELECT a.id AS id_a, b.id AS id_b,
                             count(*)::BIGINT AS inter_n
                      FROM sk a JOIN sk b USING (g)
                      WHERE a.id <> b.id GROUP BY 1, 2)
            SELECT id_a, id_b, inter_n, z.sz AS size_a,
                   (inter_n * 10000 // z.sz)::BIGINT AS contain_e4
            FROM inter JOIN sz z ON z.id = inter.id_a
            WHERE inter_n * 10000 // z.sz >= 8000
            ORDER BY id_a, id_b
        """,
        # q77: the same md5-gated always-downhill edge derivation, then
        # a recursive walk to the terminal; max-hops row per src == the
        # pointer-doubled fixed point.
        "q77_redirect_chains": r"""
            WITH RECURSIVE nid AS (
              SELECT (row_number() OVER (ORDER BY doc_id) - 1)::BIGINT AS nid
              FROM documents),
            hh AS (
              SELECT nid,
                     CAST(concat('0x', substr(md5(nid::VARCHAR), 1, 8))
                          AS BIGINT) AS h
              FROM nid),
            e AS (
              SELECT nid AS src,
                     greatest(0, nid - 1 - (h % 3))::BIGINT AS dst
              FROM hh WHERE nid > 0 AND h % 10 < 6),
            walk(src, cur, hops) AS (
              SELECT src, dst, 1::BIGINT FROM e
              UNION ALL
              SELECT w.src, e2.dst, w.hops + 1
              FROM walk w JOIN e e2 ON w.cur = e2.src)
            SELECT src, cur AS final_dst, hops FROM walk
            QUALIFY row_number() OVER (PARTITION BY src
                                       ORDER BY hops DESC) = 1
            ORDER BY src
        """,
        # q38: q15's pair derivation, then connected components as a
        # recursive-CTE transitive closure (UNION dedups, so it
        # terminates); component label = min reachable id.
        "q38_dedup_clusters": r"""
            WITH RECURSIVE s AS (
              SELECT doc_id,
                     list_distinct([array_to_string(toks[i:i+2], ' ')
                                    for i in generate_series(1, len(toks)-2)]) AS sh
              FROM (SELECT doc_id,
                           regexp_split_to_array(trim(lower(text)), '\s+') AS toks
                    FROM documents WHERE trim(text) <> '')
              WHERE len(toks) >= 3),
            p AS (
              SELECT a.doc_id AS ia, b.doc_id AS ib
              FROM s a JOIN s b ON a.doc_id < b.doc_id
              WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
                      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
            e AS (SELECT ia AS u, ib AS v FROM p
                  UNION SELECT ib, ia FROM p),
            reach(u, v) AS (
              SELECT u, v FROM e
              UNION
              SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
            comp AS (SELECT u AS id, least(u, min(v)) AS c
                     FROM reach GROUP BY u)
            SELECT d.doc_id,
                   coalesce(comp.c, d.doc_id) AS cluster_id,
                   (coalesce(comp.c, d.doc_id) = d.doc_id) AS is_canonical
            FROM documents d LEFT JOIN comp ON d.doc_id = comp.id
            ORDER BY d.doc_id
        """,
        "q37_repeated_passages": r"""
            WITH s AS (
              SELECT doc_id,
                     list_distinct(
                       [array_to_string(toks[i:i+7], ' ')
                        for i in generate_series(1, len(toks)-7)]) AS sh
              FROM (SELECT doc_id,
                           regexp_split_to_array(trim(lower(text)),
                                                 '\s+') AS toks
                    FROM documents WHERE trim(text) <> '')
              WHERE len(toks) >= 8)
            SELECT gram, count(*)::BIGINT AS n_docs
            FROM (SELECT doc_id, unnest(sh) AS gram FROM s)
            GROUP BY gram
            HAVING count(*) >= 2
            ORDER BY n_docs DESC, gram
        """,
        "q01_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   sum(((l_quantity::DECIMAL(18,2)) * 100)::BIGINT)::BIGINT AS sum_qty_c2,
                   sum(((l_extendedprice::DECIMAL(18,2)) * 100)::BIGINT)::BIGINT AS sum_base_price_c2,
                   sum((((l_extendedprice * (1 - l_discount))::DECIMAL(18,6)) * 1000000)::BIGINT)::BIGINT AS sum_disc_price_c6,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q02_count_by_type": """
            SELECT event_type, count(*) AS cnt FROM events
            GROUP BY event_type ORDER BY cnt DESC, event_type
        """,
        "q03_sum_by_group": """
            SELECT l_returnflag,
                   sum(((l_quantity::DECIMAL(18,2)) * 100)::BIGINT)::BIGINT AS sum_qty_c2,
                   count(*) AS cnt
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        "q04_dup_groups": """
            SELECT l_partkey, l_suppkey, count(*) AS dup_count
            FROM lineitem GROUP BY l_partkey, l_suppkey
            HAVING count(*) > 1
            ORDER BY dup_count DESC, l_partkey, l_suppkey LIMIT 100
        """,
        "q05_dup_selfjoin": """
            SELECT a.o_custkey AS custkey, a.o_orderkey AS okey_a,
                   b.o_orderkey AS okey_b
            FROM orders a JOIN orders b
              ON a.o_custkey = b.o_custkey
             AND a.o_orderdate = b.o_orderdate
             AND a.o_orderkey < b.o_orderkey
            ORDER BY custkey, okey_a, okey_b
        """,
        "q06_topk_per_group": """
            SELECT o_orderpriority, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_orderpriority
                                      ORDER BY o_totalprice DESC, o_orderkey)::INTEGER AS rnk
            FROM orders
            QUALIFY rnk <= 3
            ORDER BY o_orderpriority, rnk
        """,
        "q07_staged_filter": """
            SELECT event_id, user_id, value FROM events
            WHERE event_type = 'signup' AND value >= 100.0
            ORDER BY event_id LIMIT 200 OFFSET 10
        """,
        "q08_filter_chain": """
            SELECT doc_id, lang, n_chars FROM documents
            WHERE n_chars BETWEEN 100 AND 800
              AND text LIKE '%spark%'
              AND regexp_matches(text, '(?i)scan|merge')
              AND source NOT IN ('src3')
            ORDER BY doc_id
        """,
        "q09_set_minus": """
            SELECT lang FROM (SELECT DISTINCT lang FROM documents)
            EXCEPT SELECT DISTINCT lang FROM documents WHERE source = 'src0'
            ORDER BY lang
        """,
        "q10_empty_groups": """
            SELECT c_custkey FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
            ORDER BY c_custkey
        """,
        "q11_politeness_window": """
            SELECT user_id, event_id,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id)::INTEGER AS rnk
            FROM events QUALIFY rnk <= 2
            ORDER BY user_id, rnk
        """,
        "q12_url_filters": f"""
            WITH u AS ({_DOC_URL_SQL}),
            parsed AS (
              SELECT doc_id, url,
                     regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/]+)', 1) AS host,
                     (CASE WHEN trim(BOTH '/' FROM
                               regexp_replace(url, '^[a-z][a-z0-9+.-]*://[^/]+', '')) = ''
                          THEN 0
                          ELSE len(regexp_split_to_array(
                               trim(BOTH '/' FROM
                                 regexp_replace(url, '^[a-z][a-z0-9+.-]*://[^/]+', '')),
                               '/+')) END)::INTEGER AS depth,
                     nullif(lower(regexp_extract(
                       regexp_extract(url, '[^/]*$'),
                       '\\.([A-Za-z0-9_]{{1,12}})$', 1)), '') AS ext
              FROM u)
            SELECT doc_id, url, host, depth, ext FROM parsed
            WHERE depth <= 3
              AND (ext IS NULL OR ext NOT IN ('tmp', 'log'))
            ORDER BY doc_id
        """,
        "q13_exact_dedup": f"""
            SELECT fp, count(*) AS dup_count, min(doc_id) AS keep_id
            FROM (SELECT doc_id, {_FP_SQL} AS fp FROM documents)
            GROUP BY fp HAVING count(*) > 1 ORDER BY fp
        """,
        "q14_ngram_jaccard": _JACCARD_SQL,
        # q52: exact-join algorithms must agree with the exact all-pairs
        # derivation — same oracle as q14/q15 by construction.
        "q52_prefix_filter_join": _JACCARD_SQL,
        "q15_minhash_lsh": _JACCARD_SQL,  # LSH@b64r2 == exact (see docstring)
        "q16_text_stats": f"""
            SELECT doc_id,
                   ({_NTOK_SQL})::INTEGER AS ntok,
                   len(regexp_extract_all(trim(coalesce(text,'')),
                       '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::INTEGER AS npiece,
                   {_lang_id_sql()} AS langid,
                   ({_QUALITY_E4_SQL}) / 10000.0 AS quality,
                   {_FP_SQL} AS fp
            FROM documents ORDER BY doc_id
        """,
        "q17_lang_quality_agg": f"""
            SELECT langid, count(*) AS cnt, sum(q_e4)::BIGINT AS sum_q_e4
            FROM (SELECT {_lang_id_sql()} AS langid,
                         {_QUALITY_E4_SQL} AS q_e4
                  FROM documents)
            GROUP BY langid ORDER BY langid
        """,
        "q18_cosine_topk": """
            WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
                       WHERE vec_id < 8),
            c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings),
            s AS (SELECT qid, cid,
                    list_sum([qv[i]::DOUBLE * cv[i]::DOUBLE
                              for i in generate_series(1, len(qv))])
                    / (sqrt(list_sum([qv[i]::DOUBLE * qv[i]::DOUBLE
                                      for i in generate_series(1, len(qv))]))
                     * sqrt(list_sum([cv[i]::DOUBLE * cv[i]::DOUBLE
                                      for i in generate_series(1, len(cv))]))) AS sim
                  FROM q JOIN c ON qid <> cid)
            SELECT qid, cid,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY sim DESC, cid)::INTEGER AS rank,
                   round(sim, 6) AS sim6
            FROM s QUALIFY rank <= 5 ORDER BY qid, rank
        """,
        "q22_prefix_lookup": f"""
            WITH u AS ({_DOC_URL_SQL}),
            m AS (SELECT doc_id, url,
                    CASE WHEN url LIKE '%.html' THEN 'text/html'
                         WHEN url LIKE '%.txt' THEN 'text/plain'
                         ELSE NULL END AS mime
                  FROM u)
            SELECT doc_id, url, mime FROM m
            WHERE url LIKE 'http://src0.example/%'
              AND regexp_extract(url, '[^/]*$') LIKE '%doc1%'
              AND mime LIKE 'text/%'
            ORDER BY doc_id
        """,
        "q23_cube_rollup": """
            SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
                   sum(((o_totalprice::DECIMAL(18,2)) * 100)::BIGINT)::BIGINT AS sum_price_c2
            FROM orders
            GROUP BY CUBE (o_orderstatus, o_orderpriority)
            ORDER BY o_orderstatus NULLS LAST, o_orderpriority NULLS LAST
        """,
        "q25_subtree_rollup": f"""
            WITH u AS ({_DOC_URL_SQL}),
            s AS (SELECT n_chars::BIGINT AS sz,
                    regexp_extract(url, '^([a-z][a-z0-9+.-]*://[^/]+)', 1) AS base,
                    trim(BOTH '/' FROM
                      regexp_replace(url, '^[a-z][a-z0-9+.-]*://[^/]+', '')) AS path
                  FROM u),
            segd AS (SELECT *, CASE WHEN path = '' THEN CAST([] AS VARCHAR[])
                          ELSE regexp_split_to_array(path, '/+') END AS segs
                     FROM s),
            pre AS (SELECT sz,
                      unnest(list_prepend(base,
                        [base || '/' || array_to_string(segs[1:i], '/')
                         for i in generate_series(1, len(segs))])) AS prefix
                    FROM segd)
            SELECT prefix,
                   regexp_extract(prefix, '^[a-z][a-z0-9+.-]*://([^/]+)', 1) AS host,
                   (CASE WHEN trim(BOTH '/' FROM
                          regexp_replace(prefix, '^[a-z][a-z0-9+.-]*://[^/]+', '')) = ''
                        THEN 0
                        ELSE len(regexp_split_to_array(trim(BOTH '/' FROM
                          regexp_replace(prefix, '^[a-z][a-z0-9+.-]*://[^/]+', '')),
                          '/+')) END)::INTEGER AS depth,
                   sum(sz)::BIGINT AS total_bytes,
                   count(*) AS n_pages
            FROM pre GROUP BY prefix ORDER BY prefix
        """,
        "q26_embedding_dedup": """
            WITH c AS (SELECT vec_id, embedding FROM embeddings),
            s AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                    round(
                      list_sum([a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE
                                for i in generate_series(1, len(a.embedding))])
                      / (sqrt(list_sum([a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE
                                for i in generate_series(1, len(a.embedding))]))
                       * sqrt(list_sum([b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE
                                for i in generate_series(1, len(b.embedding))]))),
                      6) AS cos6
                  FROM c a JOIN c b ON a.vec_id < b.vec_id)
            SELECT id_a, id_b, cos6 FROM s WHERE cos6 >= 0.45
            ORDER BY id_a, id_b
        """,
        "q27_text_search": """
            WITH t AS (
              SELECT doc_id,
                     regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
              FROM documents WHERE trim(coalesce(text, '')) <> ''),
            s AS (
              SELECT doc_id,
                     len(list_filter(toks, x -> x = 'spark')) AS tf_spark,
                     len(list_filter(toks, x -> x = 'vector')) AS tf_vector,
                     len(list_filter(toks, x -> x = 'slow')) AS tf_slow
              FROM t)
            SELECT doc_id,
                   ((tf_spark > 0)::INT + (tf_vector > 0)::INT)::BIGINT AS n_matched,
                   (tf_spark + tf_vector)::BIGINT AS score
            FROM s
            WHERE tf_spark > 0 AND tf_vector > 0 AND tf_slow = 0
            ORDER BY doc_id
        """,
        "q28_merge_actions": """
            WITH base AS (
              SELECT event_id, value::DECIMAL(18,2) AS sz FROM events),
            d AS (SELECT event_id, sz AS dest_size FROM base
                  WHERE event_id % 2 = 0),
            i AS (SELECT event_id,
                         (CASE WHEN event_id % 5 = 0 THEN sz * 2 ELSE sz
                          END)::DECIMAL(18,2) AS incoming_size
                  FROM base WHERE event_id % 3 = 0),
            acts AS (
              SELECT CASE
                       WHEN d.dest_size IS NULL THEN 'insert'
                       WHEN i.incoming_size IS NULL THEN 'soft_delete'
                       WHEN d.dest_size = i.incoming_size THEN 'skip_same_size'
                       ELSE 'replace_diff_size'
                     END AS action
              FROM i FULL OUTER JOIN d USING (event_id))
            SELECT action, count(*) AS n FROM acts
            GROUP BY action ORDER BY action
        """,
        # The taxonomy twin resolves min_age inheritance INDEPENDENTLY
        # via a recursive CTE (the Spark side resolves it driver-side).
        "q29_age_gate": """
            WITH RECURSIVE tax(name, parent, min_age) AS (
              VALUES ('web', NULL, NULL),
                     ('news', 'web', 8),
                     ('forums', 'web', 14),
                     ('threads', 'forums', NULL),
                     ('archive', 'web', NULL),
                     ('adult', 'forums', 18)),
            resolved AS (
              SELECT name, min_age AS eff FROM tax WHERE parent IS NULL
              UNION ALL
              SELECT t.name, coalesce(t.min_age, r.eff)
              FROM tax t JOIN resolved r ON t.parent = r.name),
            cats AS (
              SELECT doc_id,
                     CASE coalesce(nullif(regexp_extract(source, '(\\d+)', 1), ''), '-1')::INT % 5
                       WHEN 0 THEN 'news' WHEN 1 THEN 'threads'
                       WHEN 2 THEN 'archive' WHEN 3 THEN 'adult'
                       ELSE 'forums' END AS category
              FROM documents)
            SELECT category, count(*) AS n_docs
            FROM cats c LEFT JOIN resolved r ON c.category = r.name
            WHERE r.eff IS NULL OR r.eff <= 14
            GROUP BY category ORDER BY category
        """,
        # The 4-wave crawl: unrolled wave-loop SQL twin (max_waves is
        # a fixed job parameter, so the iteration is finite and the
        # whole crawl — seeds, filters, REP, politeness, rank,
        # extraction — is SQL-expressible after all).
        "q21_crawl_waves": _q21_oracle_sql(),
        # IVF at full probe == exact top-k (quantizer partitions the
        # corpus; probing all cells covers it) -> brute-force twin.
        "q31_ivf_full_probe": """
            WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
                       WHERE vec_id % 61 = 3),
            c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings),
            s AS (SELECT qid, cid,
                    list_sum([qv[i]::DOUBLE * cv[i]::DOUBLE
                              for i in generate_series(1, len(qv))])
                    / (sqrt(list_sum([qv[i]::DOUBLE * qv[i]::DOUBLE
                                      for i in generate_series(1, len(qv))]))
                     * sqrt(list_sum([cv[i]::DOUBLE * cv[i]::DOUBLE
                                      for i in generate_series(1, len(cv))]))) AS sim
                  FROM q JOIN c ON qid <> cid)
            SELECT qid, cid,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY sim DESC, cid)::INTEGER AS rank,
                   round(sim, 6) AS sim6
            FROM s QUALIFY rank <= 7 ORDER BY qid, rank
        """,
        # LSH at n_planes=0: one bucket == full candidate set == exact
        # top-k (the q31 gate applied to the hyperplane-LSH pipeline).
        "q32_lsh_full_bucket": """
            WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
                       WHERE vec_id % 83 = 5),
            c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings),
            s AS (SELECT qid, cid,
                    list_sum([qv[i]::DOUBLE * cv[i]::DOUBLE
                              for i in generate_series(1, len(qv))])
                    / (sqrt(list_sum([qv[i]::DOUBLE * qv[i]::DOUBLE
                                      for i in generate_series(1, len(qv))]))
                     * sqrt(list_sum([cv[i]::DOUBLE * cv[i]::DOUBLE
                                      for i in generate_series(1, len(cv))]))) AS sim
                  FROM q JOIN c ON qid <> cid)
            SELECT qid, cid,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY sim DESC, cid)::INTEGER AS rank,
                   round(sim, 6) AS sim6
            FROM s QUALIFY rank <= 4 ORDER BY qid, rank
        """,
        # SimHash exactness gate: same signatures in both engines (md5
        # token hash), banded join in its exact regime == all-pairs
        # hamming join.  Covers q20's machinery value-exactly.
        "q33_simhash_exact_gate": """
            WITH tok AS (
              SELECT doc_id,
                     unnest(regexp_split_to_array(
                         trim(lower(coalesce(text,''))), '\\s+')) AS t
              FROM documents WHERE trim(coalesce(text,'')) <> ''
            ),
            h AS (SELECT doc_id,
                         ('0x' || substr(md5(t),1,15))::BIGINT AS hv
                  FROM tok),
            bits AS (
              SELECT doc_id, b,
                     sum(((hv >> b) & 1)::BIGINT) AS ones, count(*) AS n
              FROM h CROSS JOIN
                   (SELECT unnest(generate_series(0,59)) AS b) g
              GROUP BY doc_id, b
            ),
            sig0 AS (SELECT doc_id,
                            sum(CASE WHEN 2*ones > n
                                THEN (1::BIGINT << b) ELSE 0 END) AS sh
                     FROM bits GROUP BY doc_id),
            sig AS (SELECT d.doc_id, coalesce(s.sh, 0) AS sh
                    FROM documents d LEFT JOIN sig0 s USING (doc_id))
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   bit_count(xor(a.sh, b.sh))::INTEGER AS hamming
            FROM sig a JOIN sig b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sh, b.sh)) <= 3
            ORDER BY id_a, id_b
        """,
        # q19 (approximate ANN) and q20 (engine-defined simhash) stay
        # rows-only: their outputs depend on seeded hyperplanes /
        # xxhash64, which no independent SQL engine reproduces; q33
        # value-hash-checks the simhash machinery with a SQL-twin hash.
    }
