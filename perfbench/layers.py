"""Per-layer metrics of a traced run, from its spans, the tracer's
counts, the op's own figures and the Spark event log.

Every metric in ``UNITS`` is reported on every workload; a layer that
does not run on a workload reports 0.  Span-derived times are driver
wall time inside the wrapped call; event-log times are executor task
time summed over the stages named.
"""

from __future__ import annotations

import statistics

from curate import QUERIES
from spans import LAZY_CALLS

SIMILARITY = {
    "q15": "q15_minhash_lsh_b32",
    "q20": "q20_simhash_h1",
    "q26": "q26_embedding_lsh_t90",
}
JOINS = (
    "SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
    "BroadcastNestedLoopJoin", "CartesianProduct",
)

UNITS = {
    "wave_loop.plan_build_s": "s",
    "wave_loop.jobs_per_wave": "count",
    "wave_loop.tasks_per_wave": "count",
    "fetch.scan_bytes": "B",
    "fetch.useful_scan_ratio": "ratio",
    "extract.py_run_s": "s",
    "extract.py_start_s": "s",
    "extract.py_bytes_sent": "B",
    "extract.rows": "count",
    "schedule.exec_s": "s",
    "schedule.waterfill_s": "s",
    "schedule.deferred_ratio": "ratio",
    "seen.anti_join_s": "s",
    "seen.bank_build_s": "s",
    "seen.bank_probe_s": "s",
    "seen.bank_merge_s": "s",
    "seen.dropped_ratio": "ratio",
    "seen.filter_precision": "ratio",
    "links.expand_s": "s",
    "links.new_child_ratio": "ratio",
    "storage.write_s": "s",
    "storage.commit_s": "s",
    "storage.bytes.results": "B",
    "storage.bytes.seen": "B",
    "storage.bytes.frontier": "B",
    "storage.reload_s": "s",
    "storage.reconstruct_s": "s",
    "crawl.urls": "count",
    "crawl.resume_s": "s",
    "crawl.ckpt_bytes_per_url": "B/URL",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.gc_s": "s",
    "spark.tasks": "count",
    **{f"curate.{q}_s": "s" for q in QUERIES},
    **{f"similarity.candidate_pairs.{k}": "count" for k in SIMILARITY},
    **{f"similarity.verified_pairs.{k}": "count" for k in SIMILARITY},
    "trace.wall_s": "s",
    "trace.count_s": "s",
    "trace.jobs": "count",
}


def _span_s(
    spans: list[dict], names: set[str], top_only: bool = False, wave: int | None = None
) -> float:
    """Summed wall of spans named in `names` (of one wave, if given); with
    top_only, spans nested in another span of the same set are not
    counted twice."""
    total = 0.0
    for s in spans:
        if s["name"] not in names or (wave is not None and s["wave"] != wave):
            continue
        parent = s["parent"]
        if top_only and parent is not None and spans[parent]["name"] in names:
            continue
        total += s["end"] - s["start"]
    return total


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def compute(op: dict, spans: list[dict], counts: list[dict], log) -> dict[str, float]:
    """All per-layer values for one traced operation."""
    out = dict.fromkeys(UNITS, 0.0)
    labels = log.by_label()
    # the benchmark's own jobs: set-up warm-up and the tracer's counts
    own = {k for k in labels if k == "setup" or k.endswith("/ trace.count")}
    work = {k: v for k, v in labels.items() if k not in own}
    stages = [r for r in log.stage_rows() if r["label"] not in own]
    sql = [r for r in log.sql_metrics() if r["label"] not in own]

    def stage_sum(field: str, scope: str | None = None, exclude=()) -> float:
        return sum(
            r[field] for r in stages
            if (scope is None or scope in r["scopes"])
            and not any(x in r["label"] for x in exclude)
        )

    def node_sum(node: str, metric: str, where=lambda r: True) -> float:
        return sum(
            r["value"] for r in sql
            if r["node"] == node and r["metric"] == metric and where(r)
        )

    out["spark.executor_run_s"] = stage_sum("run_s")
    out["spark.executor_cpu_s"] = stage_sum("cpu_s")
    out["spark.shuffle_read_bytes"] = stage_sum("shuffle_read_bytes")
    out["spark.shuffle_write_bytes"] = stage_sum("shuffle_write_bytes")
    out["spark.spill_bytes"] = stage_sum("spill_bytes")
    out["spark.gc_s"] = stage_sum("gc_s")
    out["spark.tasks"] = stage_sum("tasks")
    out["trace.wall_s"] = op["wall_s"]
    out["trace.count_s"] = op.get("count_s", 0.0)
    out["trace.jobs"] = sum(v["jobs"] for v in work.values())

    out["extract.py_run_s"] = node_sum("ArrowEvalPython", "time to run Python workers")
    out["extract.py_start_s"] = node_sum("ArrowEvalPython", "time to start Python workers")
    out["extract.py_bytes_sent"] = node_sum("ArrowEvalPython", "data sent to Python workers")
    out["extract.rows"] = node_sum("ArrowEvalPython", "number of output rows")

    if op.get("kind") == "crawl":
        _crawl(out, op, spans, counts, work, stage_sum, node_sum)
    else:
        for q in QUERIES:
            out[f"curate.{q}_s"] = op["secs"][q]
        for key, q in SIMILARITY.items():
            joins = [
                r["value"] for r in sql
                if r["label"] == q and r["node"] in JOINS
                and r["metric"] == "number of output rows"
            ]
            out[f"similarity.candidate_pairs.{key}"] = max(joins, default=0.0)
            out[f"similarity.verified_pairs.{key}"] = op["rows"][q]
    return out


def _crawl(out, op, spans, counts, work, stage_sum, node_sum) -> None:
    waves = sorted({s["wave"] for s in spans if s["wave"] is not None})
    per_wave = [_span_s(spans, LAZY_CALLS, top_only=True, wave=w) for w in waves]
    out["wave_loop.plan_build_s"] = statistics.median(per_wave) if per_wave else 0.0
    wave_labels = [v for k, v in work.items() if k.startswith("wave ")]
    n_waves = max(len(waves), 1)
    out["wave_loop.jobs_per_wave"] = sum(v["jobs"] for v in wave_labels) / n_waves
    out["wave_loop.tasks_per_wave"] = sum(v["tasks"] for v in wave_labels) / n_waves

    def reads_pages_html(r) -> bool:
        return "pages.parquet" in r["desc"] and "html:binary" in r["desc"]

    scan = node_sum("Scan parquet", "size of files read", reads_pages_html)
    out["fetch.scan_bytes"] = scan
    metrics = op["metrics"]
    out["fetch.useful_scan_ratio"] = _ratio(metrics.get("scheduled_bytes", 0), scan)

    out["schedule.exec_s"] = stage_sum("run_s", "Window")
    out["schedule.waterfill_s"] = _span_s(spans, {"waterfill_budget"})
    sched, deferred = metrics.get("scheduled_n", 0), metrics.get("deferred_n", 0)
    out["schedule.deferred_ratio"] = _ratio(deferred, sched + deferred)

    out["seen.anti_join_s"] = _span_s(spans, {"anti_join_seen"})
    out["seen.bank_build_s"] = _span_s(spans, {"StoredBank.build"})
    out["seen.bank_merge_s"] = _span_s(spans, {"StoredBank.merge_delta"})
    out["seen.bank_probe_s"] = stage_sum(
        "run_s", "FlatMapCoGroupsInPandas", exclude=("StoredBank.merge_delta", "StoredBank.build")
    )
    cand = sum(c["candidates"] for c in counts)
    out["seen.dropped_ratio"] = _ratio(cand - sum(c["survivors"] for c in counts), cand)
    out["seen.filter_precision"] = _ratio(
        sum(c.get("filter_true_positives", 0) for c in counts),
        sum(c.get("filter_positives", 0) for c in counts),
    )

    out["links.expand_s"] = _span_s(spans, {"expand_from_hrefs"})
    out["links.new_child_ratio"] = _ratio(
        sum(c.get("new_children", 0) for c in counts), sum(c.get("hrefs", 0) for c in counts)
    )

    out["storage.write_s"] = _span_s(spans, {"CheckpointStore.write_wave_data"})
    out["storage.commit_s"] = _span_s(spans, {"CheckpointStore.commit_wave"})
    dirs = op["ckpt_dir_bytes"]
    out["storage.bytes.results"] = dirs.get("results", 0)
    out["storage.bytes.seen"] = dirs.get("seen", 0)
    out["storage.bytes.frontier"] = dirs.get("frontier", 0) + dirs.get("frontier_delta", 0)
    out["storage.reload_s"] = sum(t.get("reload_state", 0) for t in op["timings"])
    out["storage.reconstruct_s"] = _span_s(spans, {"reconstruct_frontier"})

    out["crawl.urls"] = op["scheduled"]
    out["crawl.resume_s"] = op["resume_s"]
    out["crawl.ckpt_bytes_per_url"] = _ratio(op["ckpt_bytes"], op["scheduled"])
