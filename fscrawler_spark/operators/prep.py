"""The corpus-prep composition — the standard published-pipeline
recipe (Gopher-rule quality filter → exact near-dup canonicalization →
deterministic sample) as one reusable, declaratively-composed plan.

Each stage is the engine-exact machinery of a standalone operator
(textsearch.repetition_stats / textstats.fingerprint /
sampling.hash_sample), chained WITHOUT materialization so Catalyst
optimizes the whole: the keep-filter semi-join prunes documents before
fingerprinting ever runs, and the sample predicate is a plain scan
filter on the surviving rows.  Exposed on the CLI as ``text --op
prep`` and oracle-checked end-to-end as q57.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fscrawler_spark.functions.textstats import fingerprint
from fscrawler_spark.operators.sampling import hash_sample
from fscrawler_spark.operators.textsearch import (
    build_inverted_index,
    repetition_stats,
)


def corpus_prep(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sample_fraction: float = 0.5,
    salt: str = "corpusv1",
) -> DataFrame:
    """Filter → canonicalize → sample; returns the surviving rows of
    ``df`` (all original columns).  Canonicalization keeps the MINIMUM
    id per normalized-text md5 fingerprint — deterministic on any
    engine and partitioning."""
    idx = build_inverted_index(df, id_col, text_col)
    kept_ids = repetition_stats(idx).where(F.col("keep")).select(
        F.col("doc_id").alias(id_col)
    )
    kept = df.join(kept_ids, id_col, "left_semi")
    fp = kept.withColumn("_fp", fingerprint(F.col(text_col)))
    canon = fp.withColumn(
        "_canon", F.min(id_col).over(Window.partitionBy("_fp"))
    ).where(F.col(id_col) == F.col("_canon"))
    return hash_sample(canon, id_col, sample_fraction, salt=salt).drop(
        "_fp", "_canon"
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    cap: int = 256,
    n_buckets: int = 16,
) -> DataFrame:
    """Pack documents into fixed-token-budget training sequences:
    (bucket, seq_id, n_docs, tok_sum, first_doc, last_doc) per packed
    sequence.

    The step between a cleaned corpus and a pretraining dataloader:
    documents are concatenated in a deterministic order and chunked
    into ``cap``-token sequences; a document belongs to the chunk
    containing its START offset (the concatenate-then-chunk packing
    that published LM pipelines use — GPT/T5-style "example packing").
    That closed form — ``seq_id = (running_prefix_sum - own_tokens)
    DIV cap`` — makes the assignment a single window expression
    instead of an iterative first-fit bin packer, so it is exactly
    reproducible on any engine and any partitioning (q75's oracle).

    Scale shape: the only ordering is WITHIN a bucket
    (``id % n_buckets``), so the window sort is a per-hash-partition
    sort, never a global one; buckets are embarrassingly parallel.  At
    10^10 documents raise ``n_buckets`` to ~2^14 so each bucket's
    window holds ~10^6 rows — the assignment stays one shuffle
    (hash-partition by bucket) plus one in-partition sort, and the
    final per-sequence rollup partial-aggregates map-side because rows
    of a (bucket, seq_id) group are CONTIGUOUS in the sorted partition.
    Token counts are the engine-shared whitespace tokenizer
    (functions/textstats.tokens — null/empty-safe), fully codegen'd;
    no Python in the plan.
    """
    from fscrawler_spark.functions.textstats import token_count

    w = Window.partitionBy("bucket").orderBy(id_col)
    base = df.select(
        F.col(id_col),
        (F.col(id_col) % n_buckets).cast("long").alias("bucket"),
        token_count(F.col(text_col)).cast("long").alias("n_tok"),
    )
    offs = base.withColumn(
        "start_off", F.sum("n_tok").over(w) - F.col("n_tok")
    ).withColumn("seq_id", F.expr(f"start_off DIV {int(cap)}"))
    return offs.groupBy("bucket", "seq_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("tok_sum"),
        F.min(id_col).alias("first_doc"),
        F.max(id_col).alias("last_doc"),
    )


def mixture_weights(
    df: DataFrame,
    group_col: str,
    text_col: str,
    targets_e4: dict[str, int],
) -> DataFrame:
    """Static domain-mixture reweighting: per group (lang/source/
    domain), the integer sampling weight that moves the corpus's token
    distribution onto a TARGET distribution — the mixture step every
    published pretraining pipeline runs between curation and the
    dataloader (the Pile's per-set epochs, DoReMi's static reference
    weights).

    ``targets_e4`` maps each group to its target share in 1e-4 units
    (shares should sum to 10^4; an unlisted group keeps its row and its
    tokens in the total, with null target columns).  Output per group:
    n_docs, tok_sum, target_share_e4, ``weight_e6`` = share_e4 *
    total_tokens * 100 DIV tok_sum (1e6 == keep as-is; >1e6 upsample/
    epochs; <1e6 downsample), and ``resampled_tok`` = tok_sum *
    weight_e6 DIV 1e6, whose sum re-derives the target mass — all int64, engine-exact
    (q79's oracle).  int64 headroom: total_tokens < 9.2e12 at the 1e6
    weight grid; pre-scale tok_sum to kilotokens above that.

    Scale shape: one map-side-combined groupBy over the corpus; the
    total and the target join run on the GROUP table (tens to
    thousands of rows at any corpus size — the single-partition window
    is over that, never over documents).
    """
    from fscrawler_spark.functions.textstats import token_count

    spark = df.sparkSession
    toks = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(token_count(F.col(text_col))).cast("long").alias("tok_sum"),
    )
    tgt = spark.createDataFrame(
        [(k, int(v)) for k, v in sorted(targets_e4.items())],
        "grp string, target_share_e4 long",
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    j = toks.join(F.broadcast(tgt), "grp", "left").withColumn(
        "_total", F.sum("tok_sum").over(wall)
    )
    return j.select(
        F.col("grp").alias(group_col),
        "n_docs",
        "tok_sum",
        "target_share_e4",
        F.expr("target_share_e4 * _total * 100 DIV tok_sum").alias("weight_e6"),
        F.expr(
            "tok_sum * (target_share_e4 * _total * 100 DIV tok_sum) DIV 1000000"
        ).alias("resampled_tok"),
    )


def yield_funnel(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int = 10,
) -> DataFrame:
    """Stage-by-stage corpus yield accounting: (stage, n_docs,
    tok_sum) for raw -> min-length filter -> exact dedup (normalized-
    text fingerprint, min-id canonical).  The "no silent caps" report
    a 100 TB curation run ships with its output — every stage's doc
    and token loss is visible, so a pipeline that silently dropped
    half its corpus cannot read as \"covered everything\".

    One scan feeds all three stages (the filter and fingerprint are
    plain columns; Catalyst collapses the funnel into one pass plus
    one fingerprint shuffle for the canonical-min window); the three
    rollups are map-side-combined counts.
    """
    from fscrawler_spark.functions.textstats import fingerprint, token_count

    base = df.select(
        F.col(id_col).alias("_id"),
        token_count(F.col(text_col)).cast("long").alias("_tok"),
        fingerprint(F.col(text_col)).alias("_fp"),
    )
    def _stage(frame: DataFrame, name: str) -> DataFrame:
        return frame.agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("_tok").cast("long").alias("tok_sum"),
        ).select(F.lit(name).alias("stage"), "n_docs", "tok_sum")

    s0 = _stage(base, "0_raw")
    lenok = base.where(F.col("_tok") >= min_tokens)
    s1 = _stage(lenok, "1_minlen")
    canon = lenok.withColumn(
        "_keep", F.min("_id").over(Window.partitionBy("_fp"))
    ).where(F.col("_id") == F.col("_keep"))
    s2 = _stage(canon, "2_exact_dedup")
    return s0.unionByName(s1).unionByName(s2)


def chunk_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Sliding-window chunk spans per document: (id, chunk_id,
    start_tok, end_tok, chunk_len) — the INTRA-document counterpart of
    pack_sequences (retrieval/embedding pipelines chunk long docs into
    overlapping windows; stride < size gives the overlap).

    Closed form, no iteration: ``n_chunks = 1 + ceil((n - size) /
    stride)`` for n > size else 1, expanded with one
    ``explode(sequence(...))`` — all integer DIV arithmetic, so the
    span table is engine-exact (q85's oracle).  Empty docs keep one
    empty span (the chunk table stays total over documents — a doc
    that vanishes here would silently fall out of the embedding
    pipeline downstream).

    Scale: embarrassingly parallel — one projection + explode, no
    shuffle at all; output rows ~ corpus_tokens / stride.
    """
    from fscrawler_spark.functions.textstats import token_count

    if stride <= 0 or size <= 0:
        raise ValueError("size and stride must be positive")
    n = token_count(F.col(text_col)).cast("long")
    base = df.select(F.col(id_col), n.alias("_n"))
    nc = F.when(F.col("_n") <= size, F.lit(1).cast("long")).otherwise(
        F.lit(1).cast("long") + F.expr(f"(_n - {size} + {stride} - 1) DIV {stride}")
    )
    spans = base.select(
        id_col, "_n", F.explode(F.sequence(F.lit(0).cast("long"), nc - 1)).alias("chunk_id")
    )
    start = F.col("chunk_id") * stride
    end = F.least(start + size, F.col("_n"))
    return spans.select(
        id_col,
        "chunk_id",
        start.alias("start_tok"),
        end.alias("end_tok"),
        (end - start).alias("chunk_len"),
    )


def segment_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_len: int = 3,
    max_df: int = 5,
) -> DataFrame:
    """Segment-level boilerplate removal WITH document reconstruction —
    the CCNet line-dedup stage (Wenzek et al. 2020 dedup lines/
    paragraphs across shards before LM filtering): drop every
    ``seg_len``-token segment appearing in more than ``max_df``
    DISTINCT documents, stitch the survivors back in order, and report
    per doc (n_segs, n_dropped, rebuilt_md5).

    The md5 of the REBUILT text is the contract: reconstruction order
    is the segment index (a total order per doc), so the output text —
    not just the counts — is engine-exact (q88's oracle rebuilds with
    string_agg ORDER BY and hash-matches).  Documents with no segment
    dropped rebuild to their exact normalized token stream.

    Scale shape: segments collapse to a (seg, distinct-doc-count)
    table before any join (map-side-combined, the boilerplate head is
    bounded by vocabulary not corpus size); the doc-frequency verdict
    joins back on the segment key; reconstruction is one groupBy(id)
    with an in-aggregate sort of that doc's own segments.  Empty docs
    bypass the pipeline and rebuild to md5('') — the report stays
    total over documents.
    """
    from fscrawler_spark.functions.textstats import tokens

    base = df.select(
        F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_toks")
    ).where(F.size("_toks") > 0)
    nc = F.expr(f"(size(_toks) + {seg_len} - 1) DIV {seg_len}")
    segs = base.select(
        "_id",
        "_toks",
        F.explode(F.sequence(F.lit(0).cast("long"), nc - 1)).alias("k"),
    ).select(
        "_id",
        "k",
        F.array_join(
            F.slice("_toks", F.col("k") * seg_len + 1, F.lit(seg_len)), " "
        ).alias("seg"),
    )
    freq = segs.groupBy("seg").agg(
        F.countDistinct("_id").alias("_df")
    )
    j = segs.join(freq, "seg")
    reb = (
        j.where(F.col("_df") <= max_df)
        .groupBy("_id")
        .agg(
            F.count("*").cast("long").alias("_n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("k", "seg"))),
                    lambda s: s["seg"],
                ),
                " ",
            ).alias("_txt"),
        )
    )
    per = segs.groupBy("_id").agg(F.count("*").cast("long").alias("_n_segs"))
    ids = df.select(F.col(id_col))
    return (
        ids.join(per, ids[id_col] == per["_id"], "left")
        .drop("_id")
        .join(reb, ids[id_col] == reb["_id"], "left")
        .drop("_id")
        .select(
            id_col,
            F.coalesce("_n_segs", F.lit(0)).cast("long").alias("n_segs"),
            (
                F.coalesce("_n_segs", F.lit(0))
                - F.coalesce("_n_kept", F.lit(0))
            ).cast("long").alias("n_dropped"),
            F.md5(F.coalesce("_txt", F.lit(""))).alias("rebuilt_md5"),
        )
    )


def cdc_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 3,
    divisor: int = 4,
) -> DataFrame:
    """Content-defined chunking (the FastCDC/Gear family, token-level):
    chunk boundaries fall AFTER every position whose ``window``-token
    rolling hash is ``0 mod divisor`` — so boundaries move WITH the
    content, and an insertion near the front of a document re-chunks
    only its neighborhood instead of shifting every downstream segment
    (the failure mode of fixed-length segmentation like segment_dedup:
    one added word breaks every later segment's hash).  Storage-dedup
    literature's core trick, now standard in training-data pipelines
    for chunk-level dedup of edited/near-identical pages.

    Pure content determinism, no min/max chunk clamps (those add a
    sequential dependency; the unclamped rule is positionally
    decidable, hence relational and engine-exact — q89's oracle).
    Returns one row per chunk: (id, chunk_id, start_tok, end_tok,
    n_toks, chunk_md5) where chunk_md5 hashes the space-joined tokens.

    Plan: posexplode -> per-position window hash (md5 of the last
    ``window`` tokens, engine-shared) -> one doc-keyed window cumsum
    assigns chunk ids -> one (doc, chunk) rollup whose in-aggregate
    sort rebuilds the chunk text.  ONE shuffle on the doc key; chunks
    never cross documents, so 10^10 docs parallelize on the id hash.
    """
    from fscrawler_spark.functions.textstats import tokens

    base = df.select(
        F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_toks")
    ).where(F.size("_toks") > 0)
    pos = base.select("_id", "_toks", F.posexplode("_toks").alias("_i0", "tok"))
    # boundary AFTER 1-based position i, defined for i >= window
    i = F.col("_i0") + 1
    win = F.array_join(
        F.slice("_toks", F.greatest(F.lit(1), i - window + 1), F.lit(window)),
        " ",
    )
    h = F.conv(F.substring(F.md5(win), 1, 8), 16, 10).cast("long")
    pos = pos.select(
        "_id",
        i.alias("i"),
        F.col("tok"),
        ((i >= window) & (h % divisor == 0)).cast("long").alias("_b"),
    )
    wc = (
        Window.partitionBy("_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    assigned = pos.withColumn(
        "chunk_id", F.coalesce(F.sum("_b").over(wc), F.lit(0)).cast("long")
    )
    return (
        assigned.groupBy("_id", "chunk_id")
        .agg(
            F.min("i").cast("long").alias("start_tok"),
            F.max("i").cast("long").alias("end_tok"),
            F.count("*").cast("long").alias("n_toks"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("i", "tok"))),
                        lambda s: s["tok"],
                    ),
                    " ",
                )
            ).alias("chunk_md5"),
        )
        .select(
            F.col("_id").alias(id_col),
            "chunk_id",
            "start_tok",
            "end_tok",
            "n_toks",
            "chunk_md5",
        )
    )
