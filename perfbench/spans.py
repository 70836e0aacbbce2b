"""Tracing for the traced run: spans at the engine's layer boundaries,
Spark counters per span, streaming progress, and the counting connector.

Nothing here edits the engine. `Tracer.install` wraps public entry
points at runtime; a wrapped call records a span only while the tracer
is enabled, so one process can run an untraced cycle and then a traced
one and report the difference as the tracing overhead.

Each span sets its own Spark job group, so the jobs a span starts
(outside any nested span) are attributed to it; their task counters
come from the SparkContext status store, which is populated with the UI
disabled.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager

from pse_stocks_etl_spark.sources.pse_edge import FakePseEdge

JOB_GROUP = "spark.jobGroup.id"
SPARK_COUNTERS = (
    "jobs",
    "tasks",
    "failed_tasks",
    "input_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "executor_run_s",
)
# Spans whose Spark counters are reported (one set per span name; the
# per-query exec spans are pooled under plans.exec).
COUNTED_SPANS = ("store.merge", "store.overwrite", "store.read", "plans.sync_prices", "plans.exec")


def _active_sc():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.op = None  # id of the top-level operation spans belong to
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._pending: list[dict] = []  # spans whose Spark counters are unresolved
        self.counts: dict[str, float] = {}

    # -- spans ---------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "op": self.op,
            "start": time.perf_counter(),
        }
        sc = _active_sc()
        prev_group = sc.getLocalProperty(JOB_GROUP) if sc else None
        if sc:
            rec["group"] = f"perfbench-{sid}"
            sc.setLocalProperty(JOB_GROUP, rec["group"])
        stack.append(rec)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            if sc:
                sc.setLocalProperty(JOB_GROUP, prev_group)
                self._pending.append(rec)
            self.spans.append(rec)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- Spark counters --------------------------------------------------------
    def resolve(self) -> None:
        """Attach Spark counters to finished spans. Listener events are
        delivered asynchronously, so drain the bus first."""
        sc = _active_sc()
        if sc is None or not self._pending:
            return
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        no_status = getattr(store, "stageData$default$3")()
        no_quantiles = getattr(store, "stageData$default$5")()
        for rec in self._pending:
            c = dict.fromkeys(SPARK_COUNTERS, 0)
            for job in tracker.getJobIdsForGroup(rec["group"]):
                info = tracker.getJobInfo(job)
                if info is None:
                    continue
                c["jobs"] += 1
                for stage in list(info.stageIds):
                    attempts = store.stageData(stage, False, no_status, False, no_quantiles)
                    for i in range(attempts.size()):
                        s = attempts.apply(i)
                        c["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
                        c["failed_tasks"] += s.numFailedTasks()
                        c["input_bytes"] += s.inputBytes()
                        c["shuffle_write_bytes"] += s.shuffleWriteBytes()
                        c["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                        c["executor_run_s"] += s.executorRunTime() / 1000.0
            rec["spark"] = c
        self._pending.clear()

    # -- instrumentation -------------------------------------------------------
    def install(self) -> None:
        """Wrap the engine's public entry points. Must run before
        pse_stocks_etl_spark.plans is imported: plan modules bind
        catalog.load_table at import time."""
        from pse_stocks_etl_spark.sources import catalog

        catalog.load_table = self.wrap("sources.load_table", catalog.load_table)

        from pyspark.sql.streaming.query import StreamingQuery

        # The engine drives its bounded streams to completion through
        # processAllAvailable: that call is the streaming layer's boundary.
        StreamingQuery.processAllAvailable = self.wrap(
            "streaming.process", StreamingQuery.processAllAvailable
        )

        from pse_stocks_etl_spark.plans import llm_queries
        from pse_stocks_etl_spark.plans.sync import PseDatasets
        from pse_stocks_etl_spark.store.parquet_table import ParquetTable

        for cls, method, name in (
            (ParquetTable, "merge", "store.merge"),
            (ParquetTable, "overwrite", "store.overwrite"),
            (ParquetTable, "init_empty", "store.init"),
            (PseDatasets, "sync_companies", "plans.sync_companies"),
            (PseDatasets, "sync_prices", "plans.sync_prices"),
        ):
            setattr(cls, method, self.wrap(name, getattr(cls, method)))

        lru = llm_queries._PersistedLRU
        get_or_build = lru.get_or_build
        tracer = self

        def counted(self_, key, build, cleanup=None):
            if tracer.enabled:
                tracer.count("plans.cache_lookups")

            def counted_build():
                if tracer.enabled:
                    tracer.count("plans.cache_builds")
                return build()

            return get_or_build(self_, key, counted_build, cleanup)

        lru.get_or_build = counted

    def count(self, name: str, n: float = 1) -> None:
        self.counts[name] = self.counts.get(name, 0) + n

    def watch_streams(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                if tracer.enabled:
                    p = event.progress
                    tracer.count("streaming.batches")
                    tracer.count("streaming.input_rows", p.numInputRows)
                    tracer.count(
                        "streaming.trigger_s", p.durationMs.get("triggerExecution", 0) / 1000.0
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Progress())

    # -- aggregation -------------------------------------------------------
    def summary(self, ops) -> dict[str, float]:
        """Per-layer totals over spans whose op is in `ops`: wall time
        per span name, self time per layer, Spark counters per counted
        span."""
        spans = [s for s in self.spans if s["op"] in ops]
        child_time: dict[int, float] = {}
        for s in spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in spans:
            dur = s["end"] - s["start"]
            out[f"{s['name']}_s"] = out.get(f"{s['name']}_s", 0.0) + dur
            out[f"{s['name']}.calls"] = out.get(f"{s['name']}.calls", 0) + 1
            layer = s["name"].split(".")[0]
            key = f"{layer}.self_s"
            out[key] = out.get(key, 0.0) + dur - child_time.get(s["id"], 0.0)
            pooled = "plans.exec" if s["name"].startswith("plans.exec.") else s["name"]
            if pooled in COUNTED_SPANS and "spark" in s:
                for k, v in s["spark"].items():
                    out[f"{pooled}.{k}"] = out.get(f"{pooled}.{k}", 0) + v
        return out

    def dump(self) -> list[dict]:
        return [
            {k: (round(v, 6) if isinstance(v, float) else v) for k, v in s.items() if k != "group"}
            for s in self.spans
        ]


class CountingEdge(FakePseEdge):
    """FakePseEdge whose price fetches (which run inside executor tasks)
    count calls, rows and busy time into Spark accumulators; the
    driver-side company listing is timed as a span."""

    def __init__(self, sc, tracer: Tracer, **kwargs) -> None:
        super().__init__(**kwargs)
        self.calls = sc.accumulator(0)
        self.rows = sc.accumulator(0)
        self.busy_s = sc.accumulator(0.0)
        self._tracer = tracer

    def __getstate__(self):
        state = dict(self.__dict__)
        state.pop("_tracer")  # driver-only; holds locks
        return state

    def get_listed_companies(self):
        with self._tracer.span("sources.companies"):
            return super().get_listed_companies()

    def get_stock_data(self, symbol, start, end):
        t0 = time.perf_counter()
        out = super().get_stock_data(symbol, start, end)
        self.busy_s.add(time.perf_counter() - t0)
        self.calls.add(1)
        self.rows.add(len(out))
        return out

    def totals(self) -> dict[str, float]:
        return {
            "sources.fetch_calls": self.calls.value,
            "sources.fetch_rows": self.rows.value,
            "sources.fetch_busy_s": self.busy_s.value,
        }
