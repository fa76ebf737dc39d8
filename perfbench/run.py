"""fscrawler_spark benchmark: one workload, one process, one JSON line.

    python3 perfbench/run.py --workload crawl|curate --seed N \\
        --seconds S --trace 0|1

Run from the repository root.  Load shape: a closed loop with one
driver process and no client threads, on Spark ``local[<cores>]`` where
<cores> is the CPU count the process may use (``nproc``).  The workload
operation (one crawl, or one pass of the curate queries) runs first in
the fresh process, then again until ``--seconds`` have passed.  Inputs
are generated from ``--seed`` (``perfbench/inputs.py``) and cached per
seed under ``.perfbench/cache``; expected answers are computed once per
seed beside them and are not part of the timed set-up.

``--trace 0`` prints the end-to-end metrics:

* ``setup_s``: median of three set-ups in the run, each a Spark
  session start (or restart), the input tables opened and a warm-up
  query with a pandas UDF;
* ``cold_s``: wall time of the first operation in the process;
* ``step_gmean_s``: geometric mean of the step wall times over every
  operation, a step being a crawl wave (from the engine's
  ``CrawlResult.timings``) or one query (the median of 17 query times
  jumps between the fast and the slow queries from run to run);
* ``items_per_s``: work per second over every operation: URLs
  scheduled and extracted (crawl), input rows read (curate);
* ``peak_rss_mb``: peak memory of the process tree: the peak RSS of this
  process and of the JVM plus the peak summed proportional set size of
  the Python workers (sampled every 0.5 s; they share pages).

``--trace 1`` runs one traced operation instead, with Spark's event log
on and spans recorded around the engine's public calls
(``perfbench/spans.py``), and prints the per-layer metrics
(``perfbench/layers.py``).  The spans and counts are written to
``.perfbench/traces/<workload>-<seed>.json`` and the event-log sums per
job label and per node name to ``<workload>-<seed>-eventlog.json``.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``.
Every file the run writes lives under ``.perfbench/``; each run's own
scratch directory (checkpoints, Spark spill, event log) is removed at
exit, and the JVM is stopped and waited for.  A directory without the
engine sources makes the run fail with an import error before any
result is printed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("crawl", "curate")
END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "step_gmean_s": "s",
    "items_per_s": "1/s",
    "peak_rss_mb": "MB",
}
SETUPS = 3
DRIVER_MEMORY = "2g"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_environment(work: str) -> int:
    """Point every scratch path of the run into `work`, make the package
    importable by the Python workers and cap the driver heap (the inputs
    are megabytes; the default 8g heap only makes the JVM's footprint
    wander with GC timing); return the core count."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # spark-submit's launcher JVM: no hsperfdata file in the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.pop("SPARK_GRAFT_CPUS", None)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    sys.path.insert(0, ROOT)
    return len(os.sched_getaffinity(0))


def spark_conf(work: str, event_log: str | None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file in the system temp directory
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if event_log is not None:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "true",
        })
    return conf


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class MemorySampler:
    """Peak memory of this process and its descendants.

    This process and the JVM (no pages shared between them) count their
    kernel-kept peak RSS (VmHWM).  The Python workers are forked from
    one daemon and share most of their pages, so they count the peak of
    their summed proportional set size, sampled every `interval` s on a
    background thread."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.workers_peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _jvm_pid() -> int | None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        return gateway.proc.pid if gateway is not None else None

    def _workers_kb(self) -> int:
        jvm = self._jvm_pid()
        if jvm is None:
            return 0
        return sum(_pss_kb(p) for p in _descendants(jvm) if p != jvm)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.workers_peak_kb = max(self.workers_peak_kb, self._workers_kb())
            self._stop.wait(self.interval)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        kb = _status_kb(os.getpid(), "VmHWM:") + _status_kb(self._jvm_pid(), "VmHWM:")
        return (kb + max(self.workers_peak_kb, self._workers_kb())) / 1024.0


def stop_jvm() -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    from fscrawler_spark.session import stop_spark

    stop_spark()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Workload:
    """Inputs, set-up and one operation of a named workload."""

    def __init__(self, name: str, seed: int, cache: str, work: str):
        self.name = name
        self.work = work
        if name == "crawl":
            import crawl
            import inputs

            self.mod = crawl
            self.input_dir = inputs.crawl_fixture(cache, seed)
            self.answer = crawl.oracle(self.input_dir)
        else:
            import curate
            import inputs

            self.mod = curate
            self.input_dir = inputs.curate_tables(cache, seed)
            self.answer = curate.oracle(self.input_dir)
        self.state = None

    def open(self, spark) -> None:
        if self.name == "crawl":
            self.state = self.mod.open_inputs(spark, self.input_dir, self.answer)
        else:
            if self.state is None:
                self.state = self.mod.Curate(self.input_dir, self.answer)
            self.state.open(spark)

    def run_op(self, spark, tracer=None) -> dict:
        if self.name == "crawl":
            op = self.mod.run_op(spark, self.state, self.work, tracer)
            op.update(items=op["scheduled"], attempted=1, failed=0 if op["ok"] else 1)
        else:
            op = self.state.run_op(spark, tracer.span if tracer else None)
            op.update(items=self.state.work_rows, attempted=len(op["secs"]),
                      failed=len(op["failed"]))
        return op


def warm_up(spark) -> None:
    """The once-per-process warm-up a user pays: one JVM query and one
    pandas UDF pass (starts the Python workers)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def plus_one(v: pd.Series) -> pd.Series:
        return v + 1

    spark.range(10_000).select(plus_one(F.col("id")).alias("x")).agg(F.sum("x")).collect()


def setup(wl: Workload, cores: int, conf: dict) -> tuple[object, float]:
    from fscrawler_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{wl.name}", cores=cores, shuffle_partitions=cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setJobDescription("setup")
    wl.open(spark)
    warm_up(spark)
    spark.sparkContext.setJobDescription(None)
    return spark, time.perf_counter() - t0


def run_untraced(wl: Workload, cores: int, work: str, seconds: float) -> dict:
    from fscrawler_spark.session import stop_spark

    conf = spark_conf(work, None)
    setups = []
    ops = []
    with MemorySampler() as mem:
        for i in range(SETUPS):
            if i:
                stop_spark()
            spark, secs = setup(wl, cores, conf)
            setups.append(secs)
        t0 = time.perf_counter()
        while not ops or time.perf_counter() - t0 < seconds:
            ops.append(wl.run_op(spark))
        peak_mb = mem.peak_mb
    metrics = {
        "setup_s": statistics.median(setups),
        "cold_s": ops[0]["wall_s"],
        "step_gmean_s": statistics.geometric_mean(s for op in ops for s in op["steps"]),
        "items_per_s": sum(op["items"] for op in ops) / sum(op["wall_s"] for op in ops),
        "peak_rss_mb": peak_mb,
    }
    return {"ops": ops, "metrics": metrics, "units": END_TO_END}


def run_traced(wl: Workload, cores: int, work: str, seed: int) -> dict:
    import eventlog
    import layers
    from spans import Tracer

    log_dir = os.path.join(work, "eventlog")
    spark, _ = setup(wl, cores, spark_conf(work, log_dir))
    tracer = Tracer(spark)
    tracer.install()
    try:
        op = wl.run_op(spark, tracer)
    finally:
        tracer.uninstall()
    op["count_s"] = tracer.count_s
    traces = os.path.join(STATE, "traces")
    os.makedirs(traces, exist_ok=True)
    tracer.dump(os.path.join(traces, f"{wl.name}-{seed}.json"))
    stop_jvm()  # flushes and closes the event log
    log = eventlog.EventLog(log_dir)
    with open(os.path.join(traces, f"{wl.name}-{seed}-eventlog.json"), "w") as fh:
        json.dump(log.summarize(), fh)
    values = layers.compute(op, tracer.spans, tracer.counts, log)
    return {"ops": [op], "metrics": values, "units": layers.UNITS}


def main(argv=None) -> int:
    args = parse_args(argv)
    cache = os.path.join(STATE, "cache")
    os.makedirs(cache, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=STATE)
    try:
        cores = pin_environment(work)
        wl = Workload(args.workload, args.seed, cache, work)
        if args.trace:
            res = run_traced(wl, cores, work, args.seed)
        else:
            res = run_untraced(wl, cores, work, args.seconds)
    finally:
        try:
            stop_jvm()
        except ImportError:
            pass
        shutil.rmtree(work, ignore_errors=True)
    attempted = sum(op["attempted"] for op in res["ops"])
    failed = sum(op["failed"] for op in res["ops"])
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            name: {"value": float(value), "unit": res["units"][name]}
            for name, value in res["metrics"].items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
