"""Link expansion — the only table-function shape in the engine
(SURVEY §2.10): 1 fetched page -> N outlinks.

Pipeline: pandas-UDF href scrape (Arrow-batched regex findall) ->
``explode`` -> JVM-side resolve/normalize Column expressions
(functions/urls.py) -> per-URL combine.  This is the web analog of
``Path.iterdir()`` producing children (file_system_crawler.py:482-488).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fscrawler_spark.functions.extract import extract_hrefs_udf
from fscrawler_spark.functions.urls import url_host, url_normalize, url_resolve


def expand_links(fetched: DataFrame) -> DataFrame:
    """fetched(url, html, depth, seed_id, ...) -> candidate child rows.
    Runs the href-scrape UDF then delegates to ``expand_from_hrefs``."""
    return expand_from_hrefs(
        fetched.withColumn("hrefs", extract_hrefs_udf(F.col("html")))
    )


def expand_from_hrefs(fetched: DataFrame) -> DataFrame:
    """fetched(url, hrefs, depth, seed_id, ...) -> candidate child rows
    (url, host, depth, priority, seed_id), one per distinct resolved
    outlink, combined deterministically across parents.  Takes a
    pre-scraped ``hrefs`` array so the extraction UDF runs exactly once
    per fetched page even when results and expansion both consume it.

    Combine rule: a URL discovered from several parents keeps the
    lexicographically-min (depth, priority, seed_id) struct — the
    earliest/shallowest discovery, mirroring the simulator (SURVEY §7.3).
    """
    hrefs = fetched.select(
        F.col("url").alias("base_url"),
        F.col("depth").alias("parent_depth"),
        F.col("seed_id"),
        F.explode(F.col("hrefs")).alias("href"),
    )
    resolved = hrefs.select(
        url_normalize(url_resolve(F.col("base_url"), F.col("href"))).alias("url"),
        F.col("parent_depth"),
        F.col("seed_id"),
    ).where(F.col("url").isNotNull() & F.col("url").rlike(r"^https?://"))

    child_depth = (F.col("parent_depth") + 1).cast("int")
    candidates = resolved.select(
        "url",
        url_host(F.col("url")).alias("host"),
        child_depth.alias("depth"),
        child_depth.alias("priority"),  # BFS priority = depth (shallow first)
        "seed_id",
    )
    # Deterministic per-URL combine (struct min = lexicographic min).
    combined = candidates.groupBy("url", "host").agg(
        F.min(F.struct("depth", "priority", "seed_id")).alias("_m")
    )
    return combined.select(
        "url",
        "host",
        F.col("_m.depth").alias("depth"),
        F.col("_m.priority").alias("priority"),
        F.col("_m.seed_id").alias("seed_id"),
    )


def anchor_text_rollup(
    edges: DataFrame, dst_col: str = "dst", anchor_col: str = "anchor"
) -> DataFrame:
    """Anchor-text aggregation per link target — the link-text index a
    crawl feeds to ranking/indexing (anchor terms describe the TARGET
    better than its own page text; the classic web-search signal).
    The reference scrapes hrefs but never aggregates them
    (ContentProcessor pipeline stops at link expansion); a web-scale
    tier always does.

    Per target: in-degree, distinct anchor count, and the top anchor
    by (count desc, anchor asc) — a total order, so the result is
    deterministic and engine-exact.

    Shape: one map-side-combined count on (dst, anchor) — the raw
    edge volume collapses to the distinct-anchor domain before any
    window — then one window pass keyed on dst computes the rank,
    in-degree and anchor count together (three functions, one
    partitioning).  The second exchange moves only the collapsed
    rows.  Hot targets (the skew axis: every page links the homepage)
    are bounded by their distinct-anchor vocabulary, not their
    in-degree, exactly because the count collapses first.
    """
    from pyspark.sql import Window

    pa = edges.groupBy(dst_col, anchor_col).agg(F.count("*").cast("long").alias("c"))
    w_rk = Window.partitionBy(dst_col).orderBy(
        F.col("c").desc(), F.col(anchor_col).asc()
    )
    w_all = Window.partitionBy(dst_col)
    rk = pa.select(
        dst_col,
        anchor_col,
        "c",
        F.row_number().over(w_rk).alias("_r"),
        F.sum("c").over(w_all).cast("long").alias("in_degree"),
        F.count("*").over(w_all).cast("long").alias("n_anchors"),
    )
    return rk.where(F.col("_r") == 1).select(
        dst_col,
        "in_degree",
        "n_anchors",
        F.col(anchor_col).alias("top_anchor"),
        F.col("c").alias("top_anchor_n"),
    )


def registered_domains(
    df: DataFrame,
    host_col: str,
    suffixes: list[str],
    out_col: str = "registered_domain",
) -> DataFrame:
    """Longest-suffix public-suffix match: adds ``out_col`` = the
    registrable domain of ``host_col`` (one label + the longest
    matching suffix from ``suffixes``), null when the host IS a bare
    suffix or matches none.

    Per-SITE (not per-subdomain) grouping for politeness, dedup
    scoping, and frontier statistics: 'a.b.src.example' and
    'www.src.example' are one registrant.  A naive "last two labels"
    split is wrong for multi-label suffixes ('x.co.example' registers
    at THREE labels) — hence longest-match against the suffix list.

    Only literal suffix entries are matched, compared label-for-label
    and case-insensitively.  This is the core of the Mozilla PSL
    algorithm, not all of it: PSL wildcard (``*.ck``) and exception
    (``!www.ck``) rules are NOT supported — such an entry is treated
    as a literal string that no real host label matches.

    Scale shape: the match runs on DISTINCT lower-cased hosts
    (10^7-10^8 rows at web scale, orders of magnitude below the URL
    table), each exploded into its <= label-count candidate suffixes
    and equi-joined against the BROADCAST suffix dictionary (the real
    PSL is ~10^4 rows); the winner is a max(struct) map-side-combined
    argmax, and the host->domain map joins back on the host key.  No
    Python, no regex-per-suffix — one explode, one broadcast hash
    join, two aggregates.
    """
    spark = df.sparkSession
    sfx = spark.createDataFrame(
        [(s.lower(), s.count(".") + 1) for s in sorted(set(suffixes))],
        "sfx string, nl int",
    )
    hosts = df.select(F.lower(F.col(host_col)).alias("_h")).distinct()
    lab = hosts.select("_h", F.split("_h", r"\.").alias("_labels"))
    cand = lab.select(
        "_h",
        "_labels",
        F.explode(F.sequence(F.lit(1), F.size("_labels"))).alias("_k"),
    ).select(
        "_h",
        "_labels",
        F.array_join(F.slice("_labels", -F.col("_k"), F.col("_k")), ".").alias(
            "_cand"
        ),
    )
    m = cand.join(F.broadcast(sfx), cand["_cand"] == sfx["sfx"])
    rd = F.when(
        F.size("_labels") > F.col("nl"),
        F.array_join(
            F.slice("_labels", -(F.col("nl") + 1), F.col("nl") + 1), "."
        ),
    )
    best = (
        m.select("_h", F.struct(F.col("nl"), rd.alias("rd")).alias("_s"))
        .groupBy("_h")
        .agg(F.max("_s").alias("_s"))
        .select("_h", F.col("_s.rd").alias(out_col))
    )
    return df.join(
        best, F.lower(F.col(host_col)) == best["_h"], "left"
    ).drop("_h")
