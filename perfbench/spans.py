"""Spans around the engine's public calls, recorded from outside.

``Tracer.install()`` rebinds, for the length of a traced run, the names
the wave loop calls (``fscrawler_spark.plans.wave_loop.anti_join_seen``
and friends, ``CheckpointStore`` and ``StoredBank`` methods) to wrappers
that time each call, label the Spark jobs it starts
(``sc.setJobDescription("wave N / <call>")``) and keep the span in
memory.  ``uninstall()`` puts the originals back.  Nothing in the engine
source changes.

Jobs that run between wrapped calls (the wave's metrics collect, the
lineage collect, state reload) carry ``wave N / run_crawl``.  Jobs
started from ``write_wave_data``'s worker threads carry no description
(PySpark's pinned threads do not inherit it); the event-log reader
attributes them by their write node instead.

At each ``commit_wave`` the tracer also counts, with labelled jobs of
its own (``wave N / trace.count``), what the layer ratios need: seen
candidates and survivors, bank filter positives and how many of them
were truly seen, hrefs emitted and new children.  That time is kept
apart (``count_s``) so it can be taken out of the traced wall time.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager

from pyspark.sql import functions as F

from fscrawler_spark.operators import bankstore, politeness
from fscrawler_spark.plans import storage, wave_loop

# wave-loop module names wrapped; the calls marked as wave starts move
# the tracer to the next wave once the previous one has committed
WAVE_LOOP_CALLS = (
    "anti_join_seen",
    "politeness_take",
    "wave_rank",
    "fetch_join",
    "expand_from_hrefs",
    "reconstruct_frontier",
)
WAVE_START_CALLS = {"anti_join_seen", "StoredBank.build"}
STORE_METHODS = (
    "write_wave_data",
    "commit_wave",
    "read_frontier",
    "read_frontier_delta",
    "read_seen",
    "read_seen_delta",
)
BANK_METHODS = ("probe", "merge_delta")
# lazy calls: their span is driver plan-building time (layers.py)
LAZY_CALLS = {
    "anti_join_seen",
    "politeness_take",
    "waterfill_budget",
    "wave_rank",
    "fetch_join",
    "expand_from_hrefs",
}


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self.counts: list[dict] = []
        self.count_s = 0.0
        self.wave: int | None = None
        self._pending: int | None = None
        self._stack: list[int] = []
        self._restore: list[tuple] = []
        self._wave_state: dict = {}

    # -- spans ---------------------------------------------------------------
    def _label(self, name: str) -> str:
        return name if self.wave is None else f"wave {self.wave} / {name}"

    @contextmanager
    def span(self, name: str):
        if name in WAVE_START_CALLS and self._pending is not None:
            self.wave, self._pending = self._pending, None
        rec = {
            "name": name,
            "wave": self.wave,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self.t0,
        }
        idx = len(self.spans)
        self.spans.append(rec)
        self._stack.append(idx)
        self.sc.setJobDescription(self._label(name))
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            outer = self.spans[self._stack[-1]]["name"] if self._stack else "run_crawl"
            self.sc.setJobDescription(
                self._label(outer) if self.wave is not None else None
            )

    def start_wave(self, wave: int) -> None:
        self.wave, self._pending = wave, None

    def _wrap(self, name: str, fn, after=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if after is not None:
                after(args, kwargs, out)
            return out

        return wrapper

    # -- install / uninstall ---------------------------------------------------
    def _set(self, owner, attr: str, value) -> None:
        self._restore.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def install(self) -> None:
        hooks = {
            "anti_join_seen": self._after_anti_join,
            "expand_from_hrefs": self._after_expand,
        }
        for name in WAVE_LOOP_CALLS:
            fn = getattr(wave_loop, name)
            self._set(wave_loop, name, self._wrap(name, fn, hooks.get(name)))
        # imported inside run_crawl at call time, so rebinding the
        # politeness module attribute is what the wave loop sees
        self._set(
            politeness, "waterfill_budget",
            self._wrap("waterfill_budget", politeness.waterfill_budget),
        )
        store = storage.CheckpointStore
        for m in STORE_METHODS:
            self._set(store, m, self._wrap(f"CheckpointStore.{m}", store.__dict__[m]))
        commit = store.commit_wave

        def commit_wave(obj, wave, *args, **kwargs):
            self._count_wave(obj, wave)
            out = commit(obj, wave, *args, **kwargs)
            self._pending = wave + 1
            return out

        store.commit_wave = functools.wraps(commit)(commit_wave)
        bank = bankstore.StoredBank
        for m in BANK_METHODS:
            self._set(bank, m, self._wrap(f"StoredBank.{m}", bank.__dict__[m]))
        build = bank.__dict__["build"].__func__
        self._set(bank, "build", classmethod(self._wrap("StoredBank.build", build)))

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, value = self._restore.pop()
            setattr(owner, attr, value)
        self.sc.setJobDescription(None)

    # -- layer counts ------------------------------------------------------------
    def _after_anti_join(self, args, kwargs, out) -> None:
        names = ("candidates", "seen", "url_col", "bloom")
        call = dict(zip(names, args))
        call.update((k, v) for k, v in kwargs.items() if k in names)
        self._wave_state.update(
            candidates=call["candidates"], seen=call["seen"],
            bloom=call.get("bloom"), survivors=out,
        )

    def _after_expand(self, args, kwargs, out) -> None:
        self._wave_state.update(parents=args[0], children=out)

    def _count_wave(self, store, wave: int) -> None:
        st, self._wave_state = self._wave_state, {}
        if "candidates" not in st:
            return
        t0 = time.perf_counter()
        self.sc.setJobDescription(f"wave {wave} / trace.count")
        try:
            cand, seen = st["candidates"], st["seen"].select("url")
            row = {"wave": wave, "candidates": cand.count(),
                   "survivors": st["survivors"].count()}
            bloom = st.get("bloom")
            if bloom is not None and hasattr(bloom, "probe"):
                pos = bloom.probe(cand, "url").where(F.col("_maybe_seen")).select("url")
                row["filter_positives"] = pos.count()
                row["filter_true_positives"] = pos.join(seen, "url", "left_semi").count()
            if "children" in st:
                row["hrefs"] = int(
                    st["parents"].agg(F.sum(F.size("hrefs"))).collect()[0][0] or 0
                )
                row["new_children"] = (
                    st["children"].select("url")
                    .join(seen, "url", "left_anti")
                    .join(cand.select("url"), "url", "left_anti")
                    .count()
                )
            self.counts.append(row)
        finally:
            self.count_s += time.perf_counter() - t0
            self.sc.setJobDescription(f"wave {wave} / run_crawl")

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "counts": self.counts}, fh)
