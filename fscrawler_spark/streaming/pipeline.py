"""Structured Streaming extraction pipeline (SURVEY §2.9).

The reference is a bounded producer/consumer micro-batcher (walk thread
-> bounded queue -> consumer pool, app/crawler_entry_point.py:130-137);
the wave loop is its deterministic batch translation.  This module is
the unbounded translation: pages arriving as a stream (new parquet
files landing in a directory — the web-archive-ingest shape) flow
through the SAME extraction Columns/UDFs, with

  - backpressure  -> maxFilesPerTrigger (queue maxsize analog,
    app/config/config.py:129-131)
  - stateful dedup -> dropDuplicates on url with a watermark
    (the seen-set J2 under streaming state; state store instead of
    the exact Iceberg table)
  - windowed counters -> per-host tumbling-window aggregation with
    late-data watermark (MetricsObserver A2 under event time)

The batch wave loop remains the correctness anchor (deterministic
ordering is untestable under streaming); this pipeline shares every
extraction expression with it, so per-row outputs are identical.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fscrawler_spark import schemas
from fscrawler_spark.functions.extract import processor_columns
from fscrawler_spark.functions.urls import url_host


def read_pages_stream(
    spark: SparkSession, pages_dir: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-source stream of pages parquet (new files = newly fetched
    pages).  maxFilesPerTrigger is the backpressure knob."""
    return (
        spark.readStream.schema(schemas.PAGES)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(pages_dir)
    )


def extract_stream(pages: DataFrame) -> DataFrame:
    """Streaming extraction: the batch wave loop's processor columns
    (functions/extract.processor_columns: C4 hash, C8 text, link
    scrape, C7 mime, C5 keywords, C6 rating), plus exact url-dedup
    standing in for the seen-set.

    Deliberately NO watermark on the dedup: web-archive timestamps span
    years, so an event-time watermark would discard re-ordered files as
    late data; the seen-set contract is exact (J2), which in streaming
    means unbounded dedup state (the state store plays the role the
    seen table + bloom play in the batch engine)."""
    p = processor_columns()
    return (
        pages.dropDuplicates(["url"])  # streaming seen-set (state store)
        .select(
            "url",
            url_host(F.col("url")).alias("host"),
            F.col("warc_ts"),
            *(p[k].alias(k) for k in ("size", "md5_hex", "text")),
            F.size(p["hrefs"]).alias("n_links"),
            *(p[k].alias(k) for k in ("extension", "mime", "keywords", "rating")),
            "lang",
        )
    )


def host_window_counts(
    pages: DataFrame, window: str = "10 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Per-host tumbling-window page counts + bytes with late-data
    watermark — the streaming form of the per-wave metrics table (A2)."""
    return (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(
            F.window("warc_ts", window).alias("win"),
            url_host(F.col("url")).alias("host"),
        )
        .agg(
            F.count("*").alias("pages"),
            F.sum(F.length("html")).alias("bytes"),
        )
    )


def host_session_windows(
    pages: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Per-host SESSION windows over the page stream — fetch bursts
    separated by >= gap of idle (the streaming twin of
    operators/sessions.sessionize; session_window is the one window
    type whose bounds are data-driven, so Spark tracks open sessions
    in the state store and the watermark bounds how long one stays
    open).  Works identically on a batch DataFrame — pytest pins
    stream == batch row-for-row."""
    return (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(
            F.session_window("warc_ts", gap).alias("sw"),
            url_host(F.col("url")).alias("host"),
        )
        .agg(
            F.count("*").alias("pages"),
            F.sum(F.length("html")).alias("bytes"),
        )
        .select(
            "host",
            F.col("sw.start").alias("session_start"),
            "pages",
            "bytes",
        )
    )


HOST_STATE_SCHEMA = "host string, total_pages long, total_bytes long, batches int"


def host_crawl_state(pages: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): a
    per-host running crawl ledger — total pages/bytes fetched and how
    many micro-batches touched the host.  This is the streaming form of
    the per-host budget bookkeeping the batch politeness window derives
    per wave (and the shape any custom stateful operator takes here:
    grouped Arrow batches in, explicit GroupState in/out).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: "GroupState"):
        total_pages, total_bytes, batches = (
            state.get if state.exists else (0, 0, 0)
        )
        for pdf in pdfs:
            total_pages += int(len(pdf))
            total_bytes += int(pdf["size"].sum())
        batches += 1
        state.update((total_pages, total_bytes, batches))
        yield pd.DataFrame(
            {
                "host": [key[0]],
                "total_pages": [total_pages],
                "total_bytes": [total_bytes],
                "batches": [batches],
            }
        )

    keyed = pages.select(
        url_host(F.col("url")).alias("host"),
        F.length("html").cast("long").alias("size"),
    )
    return keyed.groupBy("host").applyInPandasWithState(
        update,
        outputStructType=HOST_STATE_SCHEMA,
        stateStructType="total_pages long, total_bytes long, batches int",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_to_memory(
    stream_df: DataFrame,
    query_name: str,
    timeout_sec: int = 120,
    mode: str = "append",
):
    """Drain a bounded stream into an in-memory sink (test harness).
    Use mode='complete' for aggregations whose final windows would
    otherwise wait on a watermark that never advances past end-of-stream."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    return q


def run_to_parquet(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    timeout_sec: int = 180,
):
    """Checkpointed parquet sink — the production face of the stream
    (run_to_memory is the test harness): availableNow drains whatever
    has arrived, the checkpoint records the consumed file offsets, and
    a LATER invocation with the same checkpoint processes only new
    files — exactly-once across restarts (pytest proves no dup rows
    after a stop/arrive/restart cycle)."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    return q


def _latest_sketch_version(spark, state_dir: str, below: int):
    """Newest committed sketch version with batch id < ``below``
    (replays of batch b must re-merge from b's own predecessor)."""
    import os

    if not os.path.isdir(state_dir):
        return None
    vs = [
        int(d[1:])
        for d in os.listdir(state_dir)
        if d.startswith("v") and d[1:].isdigit() and int(d[1:]) < below
    ]
    if not vs:
        return None
    return os.path.join(state_dir, f"v{max(vs):09d}")


def maintain_sketch_stream(
    stream_df: DataFrame,
    build_fn,
    merge_fn,
    state_dir: str,
    checkpoint_dir: str,
    timeout_sec: int = 180,
):
    """Incrementally maintain a mergeable sketch (functions/sketch.py
    HLL or CMS) over a stream via foreachBatch: build the micro-batch's
    bounded sketch, merge it with the previous state, write a NEW
    versioned state directory named by the batch id.

    Mergeability is the whole point — the merged state equals the
    batch sketch of everything seen (pytest-proved), so a 10^10-row
    stream never re-aggregates history: each trigger touches only its
    own rows plus the bounded state.  Versioned-by-batch-id writes
    make replays idempotent: a retried batch b re-merges from b's own
    predecessor and overwrites v{b}, never double-counting.

    build_fn(batch_df) -> sketch frame; merge_fn(prev, cur) -> sketch
    frame (e.g. partial(cms_build, key_col='k') with cms_merge, or
    hll_sketch with hll_merge).
    """
    import os

    spark = stream_df.sparkSession

    def _update(batch_df, batch_id):
        sk = build_fn(batch_df)
        prev = _latest_sketch_version(spark, state_dir, below=batch_id)
        if prev is not None:
            sk = merge_fn(spark.read.parquet(prev), sk)
        (
            sk.coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(state_dir, f"v{batch_id:09d}"))
        )

    q = (
        stream_df.writeStream.foreachBatch(_update)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    return q


def read_sketch_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """The newest committed sketch state."""
    path = _latest_sketch_version(spark, state_dir, below=1 << 62)
    if path is None:
        raise FileNotFoundError(f"no sketch state under {state_dir}")
    return spark.read.parquet(path)


def canonical_dedup_stream(pages: DataFrame) -> DataFrame:
    """Alias-collapsing streaming seen-set: canonicalize_url
    (functions/urls.py — tracking-param strip, param byte-sort,
    fragment drop) runs BEFORE the exact dropDuplicates, so every alias
    spelling of one page consumes ONE state-store row and one
    downstream slot — the streaming twin of the batch frontier's
    canonicalize-then-probe order.  Same no-watermark contract as
    extract_stream (the seen-set is exact; archive timestamps make
    event-time eviction wrong)."""
    from fscrawler_spark.functions.urls import canonicalize_url

    return pages.withColumn(
        "canonical_url", canonicalize_url(F.col("url"))
    ).dropDuplicates(["canonical_url"])
