"""Command-line entry points — the spark-submit face of the engine.

The reference's entry points (SURVEY §3):
  crawler_entry_point.main  (config-driven event crawl)   -> `crawl`
  fast_crawler.crawl        (scan-only walk)              -> `crawl --no-extract`
  process_files/index_files (staged post-processing)      -> `process`
  sql/stats.sql             (hand-run analytics)          -> `stats`

Ship with:
  spark-submit --py-files fscrawler_spark.zip -m fscrawler_spark.cli ...
or locally:
  python -m fscrawler_spark.cli crawl --pages P --seeds S --checkpoint C

Config file (YAML) mirrors the reference's config.yml shape
(app/process_files.py:20-64): seeds + filter chain by name
(filters/builders.py build_filters) + budgets.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F

from fscrawler_spark import metrics as M
from fscrawler_spark import schemas
from fscrawler_spark.filters.builders import build_filters
from fscrawler_spark.plans.job import CrawlJob
from fscrawler_spark.plans.storage import CheckpointStore
from fscrawler_spark.plans.wave_loop import run_crawl
from fscrawler_spark.session import get_spark


def _load_config(path: str | None) -> dict:
    if not path:
        return {}
    with open(path) as fh:
        if path.endswith(".json"):
            return json.load(fh)
        import yaml

        return yaml.safe_load(fh)


def _flag_over_config(cfg: dict, key: str, flag_value, default):
    """Option precedence: an explicitly passed CLI flag wins over the
    config value, which wins over the default (r03 advisory — a flag
    with argparse default=None marks "not given")."""
    return flag_value if flag_value is not None else cfg.get(key, default)


# CrawlJob fields a crawl config may set (the filter chains are built
# from their specs separately)
_CRAWL_CONFIG_KEYS = (
    "politeness_budget", "max_waves", "wave_cap", "global_wave_budget",
    "global_budget_carryover", "invert", "use_bloom", "respect_robots",
    "broadcast_wave_threshold", "frontier_compact_every",
)
_UNSET = object()


def _crawl_job(cfg: dict, args: argparse.Namespace) -> CrawlJob:
    """The crawl's CrawlJob from the config and the flags.  It gets only
    the keys a flag or the config gives, so each default is decided in
    one place (plans/job.py)."""
    flags = {
        "politeness_budget": args.budget,
        "max_waves": args.waves,
        "global_wave_budget": args.global_budget,
        "use_bloom": args.bloom,
    }
    kw = {}
    for key in _CRAWL_CONFIG_KEYS:
        val = _flag_over_config(cfg, key, flags.get(key), _UNSET)
        if val is not _UNSET:
            kw[key] = val
    for key in ("skip_filters", "notify_filters"):
        if key in cfg:
            kw[key] = tuple(build_filters(cfg[key]))
    return CrawlJob(**kw)


def cmd_crawl(args: argparse.Namespace) -> None:
    cfg = _load_config(args.config)
    spark = get_spark("fscrawler_crawl", cores=args.cores)
    if args.warc:
        from fscrawler_spark.sources.warc import read_warc

        pages = read_warc(spark, args.pages)
    else:
        pages = spark.read.schema(schemas.PAGES).parquet(args.pages)
    robots = None
    if args.robots:
        robots = spark.read.schema(schemas.ROBOTS).parquet(args.robots)
    elif args.robots_txt:
        from fscrawler_spark.functions.robots import parse_robots

        robots = parse_robots(
            spark.read.parquet(args.robots_txt)  # (host, body)
        )
    if args.seeds:
        seed_rows = [r.asDict() for r in spark.read.parquet(args.seeds).collect()]
    else:
        seed_rows = [
            {"url": u, "seed_id": i} for i, u in enumerate(cfg.get("seeds", []))
        ]
    if not seed_rows:
        sys.exit("no seeds: pass --seeds parquet or config with seeds: [...]")

    job = _crawl_job(cfg, args)
    res = run_crawl(
        spark,
        pages,
        seed_rows,
        job,
        robots=robots,
        checkpoint_dir=args.checkpoint,
        resume=args.resume,
    )
    results = res.results(spark)
    mets = res.metrics(spark)
    report = (
        M.crawl_report(results, mets)
        if results is not None and mets is not None
        else {"rows": 0}
    )
    print(json.dumps({"waves_run": res.waves_run, **{k: (int(v) if v is not None else None) for k, v in report.items() if not isinstance(v, (list, dict))}}, default=str))


def cmd_stats(args: argparse.Namespace) -> None:
    spark = get_spark("fscrawler_stats", cores=args.cores)
    store = CheckpointStore(args.checkpoint)
    results = store.read_results(spark)
    if results is None:
        sys.exit("no committed results under " + args.checkpoint)
    for name, df in [
        ("count_by_extension", M.count_by_extension(results)),
        ("size_by_extension", M.size_by_extension(results)),
        ("duplicate_groups", M.duplicate_url_groups(results)),
        ("top_hosts_by_pages", M.top_hosts_by_pages(results)),
        ("top_deepest", M.top_deepest(results)),
    ]:
        print(f"== {name}")
        for row in df.limit(20).collect():
            print("  ", row.asDict())


def cmd_dedup(args: argparse.Namespace) -> None:
    from fscrawler_spark.functions.textstats import fingerprint, tokens
    from fscrawler_spark.operators.similarity import (
        embedding_dedup_pairs,
        minhash_lsh_pairs,
        simhash_pairs,
    )

    spark = get_spark("fscrawler_dedup", cores=args.cores)
    df = spark.read.parquet(args.input)
    if args.method == "minhash":
        pairs = minhash_lsh_pairs(
            df, args.id_col, args.text_col, threshold=args.threshold
        )
    elif args.method == "simhash":
        toks = df.select(
            F.col(args.id_col),
            tokens(F.lower(F.col(args.text_col))).alias("_tk"),
        )
        pairs = simhash_pairs(toks, args.id_col, F.col("_tk"), max_hamming=3)
    elif args.method == "embedding":
        pairs = embedding_dedup_pairs(
            df, id_col=args.id_col, vec_col=args.vec_col,
            threshold=args.threshold, method="lsh",
        )
    elif args.method == "prefix":
        from fscrawler_spark.operators.similarity import (
            prefix_filter_jaccard_pairs,
        )

        pairs = prefix_filter_jaccard_pairs(
            df, args.id_col, args.text_col, threshold=args.threshold
        ).select("id_a", "id_b")
    elif args.method == "winnow":
        from fscrawler_spark.operators.similarity import winnow_fingerprints

        fps = winnow_fingerprints(df, args.id_col, args.text_col)
        a = fps.select(F.col(args.id_col).alias("id_a"), "fp")
        b = fps.select(F.col(args.id_col).alias("id_b"), "fp")
        pairs = (
            a.join(b, "fp")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
    elif args.method == "containment":
        from fscrawler_spark.operators.similarity import containment_pairs

        # containment is directional (id_a ⊆ id_b); the drop convention
        # below removes id_b, so emit the CONTAINED doc as id_b
        pairs = containment_pairs(
            df, args.id_col, args.text_col,
            threshold_e4=int(round(args.threshold * 10000)),
            max_df=args.max_df,
        ).select(
            F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")
        )
    elif args.method == "exact":
        fp = df.select(
            F.col(args.id_col), fingerprint(F.col(args.text_col)).alias("_fp")
        )
        a, b = fp.alias("a"), fp.alias("b")
        pairs = (
            a.join(b, (F.col("a._fp") == F.col("b._fp"))
                   & (F.col(f"a.{args.id_col}") < F.col(f"b.{args.id_col}")))
            .select(F.col(f"a.{args.id_col}").alias("id_a"),
                    F.col(f"b.{args.id_col}").alias("id_b"))
        )
    else:
        sys.exit(f"unknown dedup method: {args.method}")
    drop = pairs.select(F.col("id_b").alias(args.id_col)).distinct()
    if args.out:
        drop.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"pairs": pairs.count(), "dropped": drop.count(),
                          "out": args.out}))
    else:
        print(json.dumps({"pairs": pairs.count(), "dropped": drop.count()}))


def cmd_text(args: argparse.Namespace) -> None:
    """Text-pipeline ops over a parquet of documents: winnowing
    fingerprints, hashed linear quality classification, collocation
    mining, or the full corpus-prep composition (filter -> dedup
    canonicalize -> deterministic sample)."""
    spark = get_spark("fscrawler_text", cores=args.cores)
    df = spark.read.parquet(args.input)
    if args.op == "winnow":
        from fscrawler_spark.operators.similarity import winnow_fingerprints

        out = winnow_fingerprints(df, args.id_col, args.text_col)
    elif args.op == "classify":
        from fscrawler_spark.functions.textclass import hashed_linear_score

        out = hashed_linear_score(df, args.id_col, args.text_col)
    elif args.op == "collocations":
        from fscrawler_spark.operators.textsearch import collocations_topk

        out = collocations_topk(df, args.id_col, args.text_col, k=args.topk)
    elif args.op == "prep":
        from fscrawler_spark.operators.prep import corpus_prep

        out = corpus_prep(
            df, args.id_col, args.text_col, args.fraction, salt=args.salt
        )
    elif args.op == "lmscore":
        from fscrawler_spark.operators.textsearch import ngram_lm_scores

        out = ngram_lm_scores(df, args.id_col, args.text_col)
    elif args.op == "pack":
        from fscrawler_spark.operators.prep import pack_sequences

        out = pack_sequences(
            df, args.id_col, args.text_col, cap=args.cap,
            n_buckets=args.buckets,
        )
    elif args.op == "mixture":
        from fscrawler_spark.operators.prep import mixture_weights

        targets = {}
        for kv in (args.targets or "").split(","):
            if kv.strip():
                k, _, v = kv.partition("=")
                targets[k.strip()] = int(v)
        if not targets:
            sys.exit("--targets required for --op mixture (e.g. en=4000,de=6000)")
        out = mixture_weights(df, args.group_col, args.text_col, targets)
    elif args.op == "funnel":
        from fscrawler_spark.operators.prep import yield_funnel

        out = yield_funnel(
            df, args.id_col, args.text_col, min_tokens=args.min_tokens
        )
    elif args.op == "segdedup":
        from fscrawler_spark.operators.prep import segment_dedup

        out = segment_dedup(df, args.id_col, args.text_col)
    elif args.op == "chunks":
        from fscrawler_spark.operators.prep import chunk_spans

        out = chunk_spans(
            df, args.id_col, args.text_col, size=args.cap, stride=args.stride
        )
    else:
        sys.exit(f"unknown text op: {args.op}")
    if args.out:
        out.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"op": args.op, "rows": out.count(), "out": args.out}))
    else:
        out.show(20, truncate=False)
        print(json.dumps({"op": args.op, "rows": out.count()}))


def cmd_profile(args: argparse.Namespace) -> None:
    """Distribution/cardinality profiling over any parquet — the CLI
    face of the sketch + histogram family: grouped HyperLogLog
    distinct estimates (engine-exact sketch, functions/sketch.py),
    a Count-Min frequency sketch (the bounded counter table itself —
    the mergeable state a heavy-hitters consumer probes), or
    fixed-bin histogram quantiles (metrics.histogram_quantiles)."""
    spark = get_spark("fscrawler_profile", cores=args.cores)
    df = spark.read.parquet(args.input)
    if args.op == "hll":
        from fscrawler_spark.functions.sketch import hll_distinct

        out = hll_distinct(df, [args.group_col], args.key_col)
    elif args.op == "cms":
        from fscrawler_spark.functions.sketch import cms_build

        out = cms_build(df, args.key_col)
    elif args.op == "quantiles":
        from fscrawler_spark.metrics import histogram_quantiles

        out = histogram_quantiles(
            df, args.group_col, args.value_col, args.lo, args.hi, args.bins
        )
    else:
        sys.exit(f"unknown profile op: {args.op}")
    if args.out:
        out.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"op": args.op, "rows": out.count(), "out": args.out}))
    else:
        out.show(20, truncate=False)
        print(json.dumps({"op": args.op, "rows": out.count()}))


def cmd_frontier(args: argparse.Namespace) -> None:
    """Frontier-scheduling ops over any parquet — the CLI face of the
    politeness/graph family: max-min fair water-filling of one global
    wave budget across hosts (operators/politeness.waterfill_budget),
    or redirect-chain collapse by pointer doubling
    (operators/graph.resolve_redirect_chains)."""
    spark = get_spark("fscrawler_frontier", cores=args.cores)
    df = spark.read.parquet(args.input)
    if args.op == "waterfill":
        from fscrawler_spark.operators.politeness import waterfill_budget

        if args.demand_col:
            demands = df.select(
                args.group_col, F.col(args.demand_col).alias("demand")
            )
        else:
            demands = df.groupBy(args.group_col).agg(
                F.count("*").cast("long").alias("demand")
            )
        out = waterfill_budget(demands, [args.group_col], "demand", args.budget)
    elif args.op == "redirects":
        from fscrawler_spark.operators.graph import resolve_redirect_chains

        out = resolve_redirect_chains(df, args.src_col, args.dst_col)
    elif args.op == "canonicalize":
        from fscrawler_spark.functions.urls import canonicalize_url

        out = df.withColumn(
            "canonical_url", canonicalize_url(F.col(args.url_col))
        )
    elif args.op == "domains":
        from fscrawler_spark.operators.links import registered_domains

        suffixes = [x.strip() for x in (args.suffixes or "").split(",") if x.strip()]
        if not suffixes:
            sys.exit("--suffixes required for --op domains (e.g. com,co.uk)")
        out = registered_domains(df, args.group_col, suffixes)
    else:
        sys.exit(f"unknown frontier op: {args.op}")
    if args.out:
        out.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"op": args.op, "rows": out.count(), "out": args.out}))
    else:
        out.show(20, truncate=False)
        print(json.dumps({"op": args.op, "rows": out.count()}))


def cmd_process(args: argparse.Namespace) -> None:
    """Staged post-processing over a pages parquet — the CLI face of
    the reference's process_files/index_files entry points
    (plans/stages.py standard_pipeline: hash -> text -> indexed, error
    containment by stage tagging, never dropping)."""
    from fscrawler_spark.plans.stages import standard_pipeline

    spark = get_spark("fscrawler_process", cores=args.cores)
    pages = spark.read.schema(schemas.PAGES).parquet(args.input)
    staged = pages.withColumn("stage", F.lit("CRAWLED"))
    out = standard_pipeline(staged)
    counts = {
        r["stage"]: r["n"]
        for r in out.groupBy("stage").agg(F.count("*").alias("n")).collect()
    }
    if args.out:
        out.write.mode("overwrite").parquet(args.out)
    warc_report = None
    if args.warc_out:
        from fscrawler_spark.sources.warc import write_warc_segments

        segs = write_warc_segments(pages, args.warc_out).collect()
        warc_report = {
            "segments": len(segs),
            "records": sum(r["n_records"] for r in segs),
        }
    print(json.dumps({"stages": counts, "rows": sum(counts.values()),
                      "out": args.out, "warc": warc_report}))


def cmd_media(args: argparse.Namespace) -> None:
    """Media processing over a parquet of binary blobs (MEDIA_SCHEMA
    shape) — the CLI face of the reference's preview/metadata
    processors (PreviewFileProcessor, ExtendedAttributesProcessor),
    running this repo's real codecs (PNG/BMP/TIFF/JPEG/GIF/AVI/WAV/
    FLAC) inside mapInPandas."""
    from fscrawler_spark.functions import multimodal as MM

    spark = get_spark("fscrawler_media", cores=args.cores)
    media = spark.read.parquet(args.input)
    if args.op == "info":
        out = MM.image_info(media)
    elif args.op == "meta":
        from fscrawler_spark.functions.mediameta import media_info

        out = media_info(media)
    elif args.op == "features":
        out = MM.image_features(media, dim=args.dim)
    elif args.op == "frames":
        out = MM.sample_frames(media, every_n=args.every_n)
    elif args.op == "audio":
        out = MM.audio_features(media, n_windows=args.windows)
    elif args.op == "thumbnails":
        out = MM.thumbnails(media, max_px=args.max_px,
                            codec=args.thumb_codec)
    else:
        sys.exit(f"unknown media op: {args.op}")
    if args.out:
        out.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"op": args.op, "rows": spark.read.parquet(
            args.out).count(), "out": args.out}))
    else:
        for row in out.limit(20).collect():
            d = row.asDict()
            for k, v in d.items():
                if isinstance(v, (bytes, bytearray)):
                    d[k] = f"<{len(v)} bytes>"
            print("  ", d)


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="fscrawler_spark")
    p.add_argument("--cores", default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("crawl", help="run the wave-loop crawl")
    c.add_argument("--pages", required=True)
    c.add_argument("--warc", action="store_true",
                   help="treat --pages as WARC segment file(s)/glob")
    c.add_argument("--seeds")
    c.add_argument("--robots", help="pre-parsed rules parquet (schemas.ROBOTS)")
    c.add_argument("--robots-txt", help="raw robots parquet (host, body) — parsed in-engine")
    c.add_argument("--config", help="YAML/JSON: seeds, skip_filters, budgets")
    c.add_argument("--checkpoint", required=True)
    # default=None marks "not given" so _flag_over_config can let an
    # explicit flag win over the config (r03 advisory, all three flags)
    c.add_argument("--budget", type=int, default=None)
    c.add_argument("--global-budget", type=int, default=None,
                   help="per-wave global fetch capacity, water-filled "
                        "across hosts (max-min fair)")
    c.add_argument("--waves", type=int, default=None)
    c.add_argument("--bloom", action=argparse.BooleanOptionalAction,
                   default=None)
    c.add_argument("--resume", action="store_true")
    c.set_defaults(fn=cmd_crawl)

    s = sub.add_parser("stats", help="analytics over committed results")
    s.add_argument("--checkpoint", required=True)
    s.set_defaults(fn=cmd_stats)

    d = sub.add_parser("dedup", help="near-dup scan (minhash/simhash/embedding/exact/prefix/winnow)")
    d.add_argument("--method", default="minhash",
                   choices=["minhash", "simhash", "embedding", "exact",
                            "prefix", "winnow", "containment"])
    d.add_argument("--vec-col", default="embedding",
                   help="vector column for --method embedding")
    d.add_argument("--input", required=True)
    d.add_argument("--id-col", default="doc_id")
    d.add_argument("--text-col", default="text")
    d.add_argument("--threshold", type=float, default=0.8)
    d.add_argument("--max-df", type=int, default=None,
                   help="containment: drop shingles in more than N docs")
    d.add_argument("--out")
    d.set_defaults(fn=cmd_dedup)

    t = sub.add_parser(
        "text",
        help="text-pipeline ops (winnow/classify/collocations/prep)",
    )
    t.add_argument("--input", required=True)
    t.add_argument("--op", default="prep",
                   choices=["winnow", "classify", "collocations", "prep",
                            "lmscore", "pack", "mixture", "funnel",
                            "segdedup", "chunks"])
    t.add_argument("--id-col", default="doc_id")
    t.add_argument("--text-col", default="text")
    t.add_argument("--topk", type=int, default=50)
    t.add_argument("--fraction", type=float, default=0.5)
    t.add_argument("--salt", default="corpusv1")
    t.add_argument("--cap", type=int, default=256,
                   help="pack: tokens per training sequence")
    t.add_argument("--buckets", type=int, default=16,
                   help="pack: parallel packing buckets (id %% buckets)")
    t.add_argument("--group-col", default="lang",
                   help="mixture: grouping column")
    t.add_argument("--targets", default=None,
                   help="mixture: target shares in 1e-4, e.g. en=4000,de=6000")
    t.add_argument("--min-tokens", type=int, default=10,
                   help="funnel: min-length stage threshold")
    t.add_argument("--stride", type=int, default=48,
                   help="chunks: window stride (overlap = cap - stride)")
    t.add_argument("--out")
    t.set_defaults(fn=cmd_text)

    pf = sub.add_parser(
        "profile",
        help="sketch/histogram profiling (hll/cms/quantiles) over any parquet",
    )
    pf.add_argument("--input", required=True)
    pf.add_argument("--op", default="quantiles",
                    choices=["hll", "cms", "quantiles"])
    pf.add_argument("--group-col", default="event_type")
    pf.add_argument("--key-col", default="user_id")
    pf.add_argument("--value-col", default="value")
    pf.add_argument("--lo", type=float, default=0.0)
    pf.add_argument("--hi", type=float, default=1000.0)
    pf.add_argument("--bins", type=int, default=200)
    pf.add_argument("--out")
    pf.set_defaults(fn=cmd_profile)

    fr = sub.add_parser(
        "frontier",
        help="frontier scheduling ops (waterfill/redirects) over any parquet",
    )
    fr.add_argument("--input", required=True)
    fr.add_argument("--op", default="waterfill",
                    choices=["waterfill", "redirects", "canonicalize",
                             "domains"])
    fr.add_argument("--suffixes", default=None,
                    help="domains: comma-separated public-suffix list")
    fr.add_argument("--url-col", default="url")
    fr.add_argument("--group-col", default="host")
    fr.add_argument("--budget", type=int, default=1000)
    fr.add_argument("--demand-col", default=None,
                    help="waterfill: input is already (group, demand) — "
                         "use this column instead of counting rows")
    fr.add_argument("--src-col", default="src")
    fr.add_argument("--dst-col", default="dst")
    fr.add_argument("--out")
    fr.set_defaults(fn=cmd_frontier)

    pr = sub.add_parser(
        "process",
        help="staged post-processing (hash -> text -> indexed) over a pages parquet",
    )
    pr.add_argument("--input", required=True)
    pr.add_argument("--out")
    pr.add_argument("--warc-out",
                    help="also archive the input pages as per-partition "
                         ".warc.gz segments under this directory")
    pr.set_defaults(fn=cmd_process)

    m = sub.add_parser(
        "media",
        help="decode/feature/thumbnail a parquet of media blobs "
             "(real PNG/BMP/TIFF/JPEG/GIF/AVI/WAV/FLAC codecs)",
    )
    m.add_argument("--input", required=True)
    m.add_argument("--op", default="info",
                   choices=["info", "meta", "features", "frames", "audio",
                            "thumbnails"])
    m.add_argument("--dim", type=int, default=16)
    m.add_argument("--every-n", type=int, default=2)
    m.add_argument("--windows", type=int, default=8)
    m.add_argument("--max-px", type=int, default=128)
    m.add_argument("--thumb-codec", default="png", choices=["png", "jpeg"])
    m.add_argument("--out")
    m.set_defaults(fn=cmd_media)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
