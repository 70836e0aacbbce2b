"""Workload driver: one closed-loop client (the next operation starts
when the previous one returns) against the engine's public API.

Run it through perfbench/run.py, which pins the environment and gives
this process a throwaway working directory. The last stdout line is the
result: {"correct", "attempted", "failed", "metrics"}; the line before
it carries every workload-specific metric by name and unit, and in a
traced run the line before that carries the spans.

Workloads (perfbench/README.md gives shapes and why each was chosen):
  sync_daily  daily incremental sync + latest-price read on a seeded store
  query_mix   a seeded shuffle of 15 registry queries into the noop sink
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import random
import statistics
import string
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from datetime import date, timedelta

HERE = os.path.dirname(os.path.abspath(__file__))
T = time.perf_counter
T_START = T()


def log(msg: str) -> None:
    print(f"perfbench: {T() - T_START:7.2f}s {msg}", file=sys.stderr, flush=True)

SHAPES = {
    "full": {"symbols": 280, "history_weeks": 4, "sf": "sf0.01"},
    "smoke": {"symbols": 8, "history_weeks": 2, "sf": "sf0.001"},
}
# Eleven members spanning scans, joins, windows, as-of joins, the docs
# working-set caches, vectors and streaming. Four more registry queries
# that repeat these shapes (freshness_merge_preview, local_supplier_volume,
# docs_tfidf_top_terms, emb_pq_quantize) are left out: with them a run
# costs ~10 s more, and 22 runs per workload must fit the time budget.
QUERY_MIX = (
    "flagship_latest_price",
    "watermark_per_key",
    "dedup_argmax",
    "pricing_summary",
    "star_join_revenue",
    "sessionization",
    "asof_click_attribution",
    "docs_minhash_lsh_pairs",
    "docs_ngram_jaccard_pairs",
    "emb_cosine_topk",
    "streaming_hourly_counts",
)
# Drives a stream and resizes the session's shuffle partitions while it
# runs, so its warm-up must not overlap the other members'.
SERIAL_WARMUP = ("streaming_hourly_counts",)
LAYERS = ("sources", "operators", "store", "plans", "streaming")
MAX_WEEKS = 8


# -- measurement helpers -----------------------------------------------------
PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
CLK_TCK = os.sysconf("SC_CLK_TCK")


def process_tree(exclude=()) -> tuple[int, float]:
    """(resident KiB, CPU seconds) summed over this process and all its
    descendants, the JVM and its Python workers, except the subtrees
    rooted at `exclude`. CPU includes reaped children, so short-lived
    workers are counted too."""
    children: dict[int, list[int]] = {}
    stats: dict[int, tuple[int, int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while we looked
        # fields[0] is stat field 3 (state): ppid is field 4, utime..cstime
        # fields 14-17, rss (pages) field 24.
        children.setdefault(int(fields[1]), []).append(int(entry))
        stats[int(entry)] = (int(fields[21]), sum(int(x) for x in fields[11:15]))
    rss = ticks = 0
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        r, t = stats.get(pid, (0, 0))
        rss += r
        ticks += t
        todo.extend(children.get(pid, ()))
    return rss * PAGE_KB, ticks / CLK_TCK


def cpu_s() -> float:
    return process_tree()[1]


class RssSampler(threading.Thread):
    """Peak resident memory of the process tree, sampled from /proc
    until stop(). Processes of the harness itself (the oracle engine)
    are added to `exclude`."""

    def __init__(self, interval: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.exclude: set[int] = set()
        self.peak_kb = 0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak_kb = max(self.peak_kb, process_tree(self.exclude)[0])
            self._halt.wait(self.interval)

    def stop(self) -> float:
        """Stop sampling (idempotent); returns the peak in MB."""
        self._halt.set()
        if self.is_alive():
            self.join()
        return self.peak_kb / 1024.0


def percentiles(xs: list[float]) -> dict:
    """Median, plus the highest percentile with at least ten samples
    beyond it (None below eleven samples), with the sample count."""
    xs = sorted(xs)
    n = len(xs)
    out = {"p50": statistics.median(xs), "n": n, "tail": None, "tail_pct": None}
    if n >= 11:
        out["tail"] = xs[n - 11]
        out["tail_pct"] = round(100.0 * (n - 10) / n, 1)
    return out


def timing(prefix: str, xs: list[float]) -> dict:
    p = percentiles(xs)
    return {
        f"{prefix}.p50": (p["p50"], "s"),
        f"{prefix}.tail": (p["tail"], "s"),
        f"{prefix}.tail_pct": (p["tail_pct"], "%"),
        f"{prefix}.n": (p["n"], "count"),
    }


class Checks:
    """Operations attempted and failed; a failure is an exception or a
    result that disagrees with the reference computation."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def record(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            print(f"perfbench: CHECK FAILED {what}: {problems}", file=sys.stderr)

    def guard(self, what: str, fn):
        """Run fn(); an exception counts as a failed operation and
        returns None."""
        try:
            return fn()
        except Exception:
            self.attempted += 1
            self.failed += 1
            print(f"perfbench: {what} raised\n{traceback.format_exc()}", file=sys.stderr)
            return None


def span(tracer, name: str):
    return tracer.span(name) if tracer else nullcontext()


def start_session(app: str, tracer):
    from pse_stocks_etl_spark.session import get_spark

    if tracer:
        tracer.op = "setup"
        tracer.enabled = True
    with span(tracer, "session.start"):
        spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# -- sync_daily --------------------------------------------------------------
def seeded_symbols(rng: random.Random, n: int) -> list[str]:
    out: set[str] = set()
    while len(out) < n:
        out.add("".join(rng.choices(string.ascii_uppercase, k=rng.choice((3, 4)))))
    return sorted(out)


def sync_daily(args, shape, checks: Checks, tracer, rss: RssSampler) -> dict:
    if tracer:
        tracer.install()
    from pse_stocks_etl_spark.operators.dedup import argmax_dedup
    from pse_stocks_etl_spark.plans.sync import PseDatasets
    from pse_stocks_etl_spark.sources.pse_edge import FakePseEdge

    from . import oracle

    rng = random.Random(args.seed)
    symbols = seeded_symbols(rng, shape["symbols"])
    # A Monday: set-up backfills through the previous Friday, and every
    # week of syncs (Tuesday..Monday) then sees five data days and two
    # empty polls, whatever the seed.
    anchor = date(2021, 1, 4) + timedelta(weeks=rng.randrange(260))
    history_start = anchor - timedelta(weeks=shape["history_weeks"])
    edge_kwargs = {"symbols": symbols, "history_start": history_start.isoformat()}
    expected = oracle.expected_prices(
        FakePseEdge(**edge_kwargs), history_start, anchor + timedelta(weeks=MAX_WEEKS)
    )

    log("imported, reference computed")
    t0 = T()
    spark = start_session("perfbench-sync-daily", tracer)
    if tracer:
        from .spans import CountingEdge

        edge = CountingEdge(spark.sparkContext, tracer, **edge_kwargs)
    else:
        edge = FakePseEdge(**edge_kwargs)
    root = os.path.join(os.getcwd(), "store")
    ds = PseDatasets(spark, root, connector=edge)
    ds.initdb()
    t1 = T()
    ds.backfill(today=anchor.isoformat())
    t2 = T()
    setup_layout = oracle.store_layout(root, "daily_stock_price")
    checks.record(
        "backfill", oracle.check_table(ds.prices.path, expected, anchor - timedelta(days=1))
    )
    per: dict[str, float] = {}
    if tracer:
        tracer.enabled = False
        tracer.resolve()
        per.update(setup_trace_metrics(tracer.summary({"setup"}), edge.totals(), setup_layout))

    def latest_price():
        return (
            argmax_dedup(ds.prices.read(), ["symbol"], "date")
            .join(ds.company.read(), "symbol")
            .collect()
        )

    day = anchor
    perturb = args.perturb_oracle

    def run_week(traced: bool) -> dict:
        nonlocal day, perturb
        rec = {"sync": [], "read": [], "day": [], "commits": [], "pending": 0, "probe_s": 0.0}
        cpu = 0.0
        for _ in range(7):
            day += timedelta(days=1)
            today = day.isoformat()
            if traced:
                tracer.op = today
                # Probe, traced run only: the symbols this sync will fetch.
                t = T()
                with tracer.span("operators.fetch_plan_probe"):
                    rec["pending"] += ds.price_fetch_plan(today=today).count()
                rec["probe_s"] += T() - t
            before = ds.prices.current_version()
            c = cpu_s()
            t_sync = T()
            out = checks.guard(f"sync {today}", lambda: ds.sync(today=today))
            t_read = T()
            with span(tracer if traced else None, "store.read"):
                rows = checks.guard(f"read {today}", latest_price)
            t_end = T()
            cpu += cpu_s() - c
            rec["sync"].append(t_read - t_sync)
            rec["read"].append(t_end - t_read)
            rec["day"].append(t_end - t_sync)
            if out is not None and ds.prices.current_version() != before:
                layout = oracle.store_layout(root, "daily_stock_price")
                layout["source_rows"] = out["price_rows"]
                rec["commits"].append(layout)
            if rows is not None:
                through = day - timedelta(days=1)
                checks.record(
                    f"latest_price {today}",
                    oracle.check_latest(rows, expected, through, perturb),
                )
                perturb = False
            if traced:
                tracer.resolve()
        # Operations only: the harness's own checks between days and the
        # traced run's probe are left out.
        rec["cycle"] = sum(rec["day"])
        rec["cpu"] = cpu
        return rec

    if tracer:
        untraced = run_week(traced=False)
        sources_before = edge.totals()
        tracer.enabled = True
        weeks = [run_week(traced=True)]
        tracer.enabled = False
    else:
        weeks = []
        t_start = T()
        while not weeks or (T() - t_start < args.seconds and len(weeks) < MAX_WEEKS):
            weeks.append(run_week(traced=False))
    log("measured")
    peak_mb = rss.stop()
    checks.record("table", oracle.check_table(ds.prices.path, expected, day - timedelta(days=1)))
    final = oracle.store_layout(root, "daily_stock_price")
    spark.stop()
    log("stopped")

    def pooled(key):
        return [x for w in weeks for x in w[key]]

    commits = pooled("commits")
    detail = {
        "backfill_s": (t2 - t1, "s"),
        **timing("sync_s", pooled("sync")),
        **timing("read_s", pooled("read")),
        "space_amp": (final["space_amp"], "ratio"),
        "store.versions_retained": (final["versions_retained"], "count"),
        "store.bytes_on_disk": (final["bytes_on_disk"], "bytes"),
        "setup.rows": (setup_layout["rows_written"], "count"),
        "setup.partitions": (setup_layout["partitions_rewritten"], "count"),
        "weeks": (len(weeks), "count"),
        "cycle_cpu_s": (statistics.median(w["cpu"] for w in weeks), "s"),
    }
    result = {
        "setup_s": t2 - t0,
        "op_s.p50": statistics.median(pooled("day")),
        "cycle_s": statistics.median(w["cycle"] for w in weeks),
        "peak_rss_mb": peak_mb,
        "detail": detail,
    }
    if tracer:
        week = weeks[0]
        traced_days = {s["op"] for s in tracer.spans if s["op"] != "setup"}
        summ = tracer.summary(traced_days)
        src_rows = sum(c["source_rows"] for c in commits)
        per.update(
            {
                "session.start_s": session_start(tracer),
                "sources.companies_s": summ.get("sources.companies_s", 0.0),
                "operators.fetch_plan_s": week["probe_s"],
                "operators.pending_keys": week["pending"],
                "operators.merge.rows_rewritten_per_source_row": (
                    sum(c["rows_written"] for c in commits) / src_rows if src_rows else 0.0
                ),
                "store.versions_retained": final["versions_retained"],
                "store.bytes_on_disk": final["bytes_on_disk"],
                "store.space_amp": final["space_amp"],
            }
        )
        for name in (
            "store.merge",
            "store.overwrite",
            "store.read",
            "plans.sync_companies",
            "plans.sync_prices",
        ):
            per[f"{name}_s"] = summ.get(f"{name}_s", 0.0)
        for k in (
            "bytes_written",
            "files_written",
            "files_linked",
            "partitions_rewritten",
            "partitions_carried",
            "files_per_version",
            "mean_file_bytes",
        ):  # per commit of the fact table
            per[f"store.{k}"] = sum(c[k] for c in commits) / max(len(commits), 1)
        for k, v in edge.totals().items():
            per[k] = v - sources_before[k]
        per.update(spark_counters(summ))
        per.update({f"{layer}.self_s": summ.get(f"{layer}.self_s", 0.0) for layer in LAYERS})
        result["per_layer"] = per
        result["untraced_cycle_s"] = untraced["cycle"]
    return result


def session_start(tracer) -> float:
    s = next(s for s in tracer.spans if s["name"] == "session.start")
    return s["end"] - s["start"]


def setup_trace_metrics(summ: dict, fetched: dict, layout: dict) -> dict:
    """The set-up's backfill, traced: the bulk path a daily sync skips."""
    out = {f"setup.{k}": v for k, v in fetched.items()}
    out["setup.store.merge_s"] = summ.get("store.merge_s", 0.0)
    out["setup.plans.sync_prices_s"] = summ.get("plans.sync_prices_s", 0.0)
    for k in ("bytes_written", "files_written", "partitions_rewritten", "partitions_carried"):
        out[f"setup.store.{k}"] = layout[k]
    rows = fetched["sources.fetch_rows"]
    out["setup.operators.merge.rows_rewritten_per_source_row"] = (
        layout["rows_written"] / rows if rows else 0.0
    )
    return out


def spark_counters(summ: dict) -> dict:
    from .spans import COUNTED_SPANS, SPARK_COUNTERS

    return {f"{s}.{c}": summ.get(f"{s}.{c}", 0) for s in COUNTED_SPANS for c in SPARK_COUNTERS}


# -- query_mix ----------------------------------------------------------------
def query_mix(args, shape, checks: Checks, tracer, rss: RssSampler) -> dict:
    if tracer:
        tracer.install()
    from pse_stocks_etl_spark import plans
    from pse_stocks_etl_spark.testing import strict_compare

    sf_dir = os.path.join(HERE, "data", shape["sf"])
    rng = random.Random(args.seed)

    # Set-up (setup_s): start a session, then execute every member once
    # so plan code and working-set caches are warm. Members run
    # concurrently, as a service warming up would (the streaming member
    # alone). Meanwhile a separate process computes the DuckDB oracles;
    # it is left out of the memory and CPU figures. The warm-up results
    # are compared with the oracles before the measured cycle.
    sqls = {n: plans.REGISTRY[n].oracle for n in QUERY_MIX}
    if args.perturb_oracle:
        sqls[QUERY_MIX[0]] = f"SELECT * FROM ({sqls[QUERY_MIX[0]]}) t OFFSET 1"
    ctx = multiprocessing.get_context("spawn")
    receiver, sender = ctx.Pipe(duplex=False)
    oracle_proc = ctx.Process(target=oracle_tables, args=(sf_dir, sqls, sender))
    log("imported")
    t0 = T()
    oracle_proc.start()
    rss.exclude.add(oracle_proc.pid)
    spark = start_session("perfbench-query-mix", tracer)

    def execute_collect(name):
        return plans.REGISTRY[name].fn(spark, sf_dir).toArrow()

    results = {}
    workers = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4)
    with ThreadPoolExecutor(max_workers=workers) as pool:
        futures = {
            n: pool.submit(execute_collect, n) for n in QUERY_MIX if n not in SERIAL_WARMUP
        }
        for name, fut in futures.items():
            results[name] = checks.guard(f"warm-up {name}", fut.result)
    for name in SERIAL_WARMUP:
        results[name] = checks.guard(f"warm-up {name}", lambda: execute_collect(name))
    t_warm = T()
    log("warm-up done")
    expected = checks.guard("oracle process", receiver.recv) or {}  # drain before join
    oracle_proc.join()
    for name in QUERY_MIX:
        if results[name] is None:
            continue  # already counted as failed
        want = expected.get(name, "no oracle result")
        if isinstance(want, str):
            checks.record(f"oracle {name}", [want])
        else:
            checks.record(f"oracle {name}", strict_compare(results[name], want))
    log("checked")
    if tracer:
        tracer.enabled = False
        tracer.watch_streams(spark)

    def execute(name: str, traced: bool) -> float:
        """One query into the noop sink; returns its latency."""
        q = plans.REGISTRY[name]

        def run():
            with span(tracer if traced else None, "plans.build"):
                df = q.fn(spark, sf_dir)
            with span(tracer if traced else None, f"plans.exec.{name}"):
                df.write.format("noop").mode("overwrite").save()
            return True

        t = T()
        if checks.guard(f"query {name}", run):
            checks.attempted += 1
        return T() - t

    def run_cycle(traced: bool) -> dict:
        """Two passes over the mix, each in a fresh seeded order."""
        order = []
        for _ in range(2):
            members = list(QUERY_MIX)
            rng.shuffle(members)
            order += members
        lat, cpu = [], 0.0
        for name in order:
            if traced:
                tracer.op = name
            c = cpu_s()
            lat.append(execute(name, traced))
            cpu += cpu_s() - c
            if traced:
                tracer.resolve()
        return {"lat": lat, "cycle": sum(lat), "cpu": cpu}

    if tracer:
        untraced = run_cycle(traced=False)
        tracer.enabled = True
        cycles = [run_cycle(traced=True)]
        tracer.enabled = False
    else:
        cycles = []
        t_start = T()
        while not cycles or T() - t_start < args.seconds:
            cycles.append(run_cycle(traced=False))
    log("measured")
    peak_mb = rss.stop()
    spark.stop()

    lats = [x for c in cycles for x in c["lat"]]
    detail = {
        "warmup_s": (t_warm - t0, "s"),
        **timing("query_s", lats),
        "query_qps": (len(lats) / sum(c["cycle"] for c in cycles), "1/s"),
        "cycle_cpu_s": (statistics.median(c["cpu"] for c in cycles), "s"),
        "cycles": (len(cycles), "count"),
    }
    result = {
        "setup_s": t_warm - t0,
        "op_s.p50": statistics.median(lats),
        "cycle_s": statistics.median(c["cycle"] for c in cycles),
        "peak_rss_mb": peak_mb,
        "detail": detail,
    }
    if tracer:
        summ = tracer.summary(set(QUERY_MIX))
        counts = tracer.counts
        lookups = counts.get("plans.cache_lookups", 0)
        builds = counts.get("plans.cache_builds", 0)
        per = {
            "session.start_s": session_start(tracer),
            "sources.load_table_calls": summ.get("sources.load_table.calls", 0),
            "sources.load_table_s": summ.get("sources.load_table_s", 0.0),
            "plans.build_s": summ.get("plans.build_s", 0.0),
            "plans.cache_lookups": lookups,
            "plans.cache_builds": builds,
            "plans.cache_hit_ratio": (lookups - builds) / lookups if lookups else 0.0,
        }
        for k in ("streaming.batches", "streaming.input_rows", "streaming.trigger_s"):
            per[k] = counts.get(k, 0)
        for name in QUERY_MIX:  # per execution
            per[f"plans.exec_s.{name}"] = (
                summ.get(f"plans.exec.{name}_s", 0.0) / summ.get(f"plans.exec.{name}.calls", 1)
            )
        per.update(spark_counters(summ))
        per.update({f"{layer}.self_s": summ.get(f"{layer}.self_s", 0.0) for layer in LAYERS})
        result["per_layer"] = per
        result["untraced_cycle_s"] = untraced["cycle"]
    return result


def oracle_tables(sf_dir: str, sqls: dict, out) -> None:
    """Child process: run each oracle in DuckDB and send back
    {name: Arrow table, or the error text}."""
    from pse_stocks_etl_spark.testing import duck_connection

    con = duck_connection(sf_dir)
    con.sql("SET threads = 2")  # leave the cores to the warm-up
    tables = {}
    for name, sql in sqls.items():
        try:
            tables[name] = con.sql(sql).fetch_arrow_table()
        except Exception as e:  # reported as that member's check failure
            tables[name] = f"oracle raised {e!r}"
    con.close()
    out.send(tables)
    out.close()


WORKLOADS = {"sync_daily": sync_daily, "query_mix": query_mix}


def declared_metrics() -> dict:
    """Metric names and units as BENCHMARK.json at the checkout root
    declares them."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {k: {m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer")}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--shape", choices=sorted(SHAPES), default="full")
    ap.add_argument(
        "--perturb-oracle",
        action="store_true",
        help="corrupt one expected value (smoke test of the failure count)",
    )
    args = ap.parse_args(argv)
    declared = declared_metrics()
    tracer = None
    if args.trace:
        from .spans import Tracer

        tracer = Tracer()
    checks = Checks()
    rss = RssSampler()
    rss.start()
    try:
        res = WORKLOADS[args.workload](args, SHAPES[args.shape], checks, tracer, rss)
    finally:
        rss.stop()
    detail = {k: {"value": v, "unit": u} for k, (v, u) in res["detail"].items()}
    detail["peak_rss_mb"] = {"value": res["peak_rss_mb"], "unit": "MB"}
    detail["fail_ratio"] = {"value": checks.failed / max(checks.attempted, 1), "unit": "ratio"}
    if tracer:
        # Both cycles ran in this process, the first untraced and the
        # second traced: their difference is the tracing overhead.
        per = res["per_layer"]
        per["trace.overhead_s"] = res["cycle_s"] - res["untraced_cycle_s"]
        per["trace.overhead_ratio"] = res["cycle_s"] / res["untraced_cycle_s"] - 1.0
        # Layers this workload does not touch report 0; listing them
        # lets the smoke test tell them from misspelt names.
        detail["not_applicable"] = {
            "value": sorted(n for n in declared["per_layer"] if n not in per),
            "unit": "names",
        }
        metrics = {
            name: {"value": per.get(name, 0), "unit": unit}
            for name, unit in declared["per_layer"].items()
        }
        print(json.dumps({"spans": tracer.dump()}))
    else:
        metrics = {
            name: {"value": res[name], "unit": unit}
            for name, unit in declared["end_to_end"].items()
        }
    print(json.dumps({"workload": args.workload, "seed": args.seed, "detail": detail}))
    result = {
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
