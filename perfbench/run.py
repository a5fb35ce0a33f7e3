#!/usr/bin/env python3
"""Repo benchmark: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 10 --trace 0

Run from the repository root. One driver process runs one Spark job at
a time on ``local[<cores>]`` (cores from the CPU affinity mask, i.e.
``nproc``); nothing else generates load. Inputs come from ``--seed``.
The workload repeats its unit of work (one crawl, one query pass) until
``--seconds`` have been measured, checks the outputs against the serial
oracles outside the timed window, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
Human-readable tables go to stderr. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import nullcontext

from common import QUERIES, dir_stats, log, peak_rss_mb, tree_cpu_s

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))

# crawl workload: one seed per host, politeness/robots/budgets on; the
# round budget makes the mega-host (and every crawl-delay host) admit a
# bounded number of pages per round, and the crawl runs past a
# seen-index compaction
CRAWL_ROUNDS = 2
CRAWL_ROUND_BUDGET_MS = 40
CRAWL_COMPACT_EVERY = 1

ENGINE_SETUPS = 3


def driver_memory() -> str:
    """A quarter of physical memory, between 1 and 8 GB (4g on 15 GB)."""
    with open("/proc/meminfo") as fh:
        kb = int(fh.readline().split()[1])  # MemTotal
    return f"{max(1, min(8, round(kb / 2**20 / 4)))}g"


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


class Run:
    """State shared by a workload: arguments, scratch dir, session."""

    def __init__(self, args) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.cores = len(os.sched_getaffinity(0))  # what nproc reports
        self.work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
        os.makedirs(self.work, exist_ok=True)
        self.spark = None
        self.tracer = None
        self.metrics: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, tuple[float, str]] = {}
        self.finish = None  # traced runs: charges event-log stages to spans

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_spark(self) -> float:
        from atra_spark.session import get_spark

        conf = {
            "spark.driver.memory": driver_memory(),
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')}",
        }
        if self.trace:
            from spans import event_log_conf

            conf.update(event_log_conf(self.path("eventlog")))
        t0 = time.monotonic()
        self.spark = get_spark(
            f"perfbench-{self.workload}", cores=self.cores,
            shuffle_partitions=self.cores, extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1000).selectExpr("sum(id)").collect()  # first-job warm-up
        took = time.monotonic() - t0
        if self.trace:
            from spans import Tracer

            self.tracer = Tracer(self.spark, self.workload)
            self.tracer.install()
        return took

    def stop_spark(self) -> None:
        """Stop the session, then end the JVM (it exits when its stdin
        closes) and wait for it."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if proc is None:
            return
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    def phase(self, name: str) -> None:
        if self.tracer is not None:
            self.tracer.phase = name
            self.tracer.round = None

    def unit_metrics(self, walls: list[float], cpus: list[float], step: float, items: int) -> None:
        """End-to-end metrics of the measured units. Wall-clock and
        peak-RSS figures go to stderr and the traced metrics only: on a
        shared VM they swing more than the largest bound (README.md)."""
        cpu = statistics.median(cpus)
        rss, rss_by_name = peak_rss_mb()
        self.e2e("cpu_s", cpu, "s")
        self.e2e("items_per_cpu_s", items / cpu, "1/s")
        self.layer("mem.peak_rss_mb", rss, "MB")
        log(f"peak RSS {rss:.0f} MB by process:", {k: round(v) for k, v in rss_by_name.items()})
        wall = statistics.median(walls)
        self.layer("run.wall_s", wall, "s")
        self.layer("run.step_s", step, "s")
        self.layer("run.items_per_s", items / wall, "1/s")
        log(f"wall_s {wall:.3f}  step_s {step:.3f}  items_per_s {items / wall:.3f}  "
            f"(cpu_s {cpu:.2f}, {items} items)")

    def e2e(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (value, unit)

    def layer(self, name: str, value: float, unit: str) -> None:
        self.layers[name] = (value, unit)


# ------------------------------------------------------------------ crawl
def crawl_config():
    from atra_spark.config import CrawlConfig
    from atra_spark.urlkit import NORMAL, UNBOUNDED_DISTANCE, Budget

    return CrawlConfig(
        default_budget=Budget(kind=NORMAL, depth_on_website=0, distance_to_seed=UNBOUNDED_DISTANCE),
        delay_ms=1,
        round_budget_ms=CRAWL_ROUND_BUDGET_MS,
        max_rounds=CRAWL_ROUNDS,
        blacklist=[r".*blocked\.example.*"],
        audit_tables=False,
        seen_compact_every=CRAWL_COMPACT_EVERY,
    )


def run_crawl(run: Run) -> tuple[int, int]:
    from atra_spark.plans.crawl import CrawlEngine
    from atra_spark.sources.oracle_crawler import crawl_oracle
    from atra_spark.sources.store import CheckpointStore

    import inputs

    fx, paths, seeds = inputs.crawl_corpus(run.seed, run.path("corpus"))
    shape = inputs.corpus_stats(fx)
    log("corpus", json.dumps(shape))
    cfg = crawl_config()
    session_s = run.start_spark()
    nb = run.cores
    engines, setup_s = [], []
    for i in range(ENGINE_SETUPS):
        t0 = time.monotonic()
        store = CheckpointStore(run.path(f"store{i}"), num_buckets=nb)
        engines.append(CrawlEngine(run.spark, store, cfg, paths["pages"], paths["robots"], num_buckets=nb))
        setup_s.append(time.monotonic() - t0)
    run.e2e("setup_s", session_s + statistics.median(setup_s), "s")

    run.phase("measure")
    walls, cpus, rounds, fetched, crawls = [], [], [], 0, []
    t_start = time.monotonic()
    while not walls or time.monotonic() - t_start < run.seconds:
        eng = engines[len(walls)] if len(walls) < len(engines) else CrawlEngine(
            run.spark, CheckpointStore(run.path(f"store{len(walls)}"), num_buckets=nb),
            cfg, paths["pages"], paths["robots"], num_buckets=nb)
        t0, c0 = time.monotonic(), tree_cpu_s()
        report = eng.run(seeds=seeds)
        walls.append(time.monotonic() - t0)
        cpus.append(tree_cpu_s() - c0)
        rounds += [r.wall_ms / 1e3 for r in report.rounds]
        fetched = report.fetched_total
        crawls.append((eng, report))
    run.unit_metrics(walls, cpus, statistics.median(rounds), fetched)

    # ---- output check, outside the timed window ----
    run.phase("check")
    robots = {h: (t, s) for h, t, s, _ in fx.robots}
    oracle = crawl_oracle(fx.golden_links, {p[0] for p in fx.pages}, robots, seeds, cfg)
    want_seen = {u: k for u, (k, _, _) in oracle.seen.items()}
    attempted = failed = 0
    for eng, report in crawls:
        seen = {r["url"]: r["kind"] for r in eng.store.read_snapshot(run.spark, "seen")
                .select("url", "kind").collect()}
        ok = seen == want_seen and report.fetched_total == len(oracle.order)
        attempted += len(report.rounds)
        failed += 0 if ok else len(report.rounds)
        if not ok:
            log(f"ORACLE MISMATCH: seen {len(seen)} vs {len(want_seen)}, "
                f"fetched {report.fetched_total} vs {len(oracle.order)}")
    store_bytes = dir_stats(crawls[-1][0].store.root)[0]
    log(f"crawl: {len(walls)} crawl(s), wall {walls}, rounds {len(crawls[-1][1].rounds)}, "
        f"fetched {fetched}, store {store_bytes} B ({store_bytes / max(1, fetched):.0f} B/page), "
        f"failed_ratio {failed / max(1, attempted)}")
    for r in crawls[-1][1].rounds:
        log(f"  round {r.round}: polled {r.polled} admitted {r.admitted} deferred {r.deferred} "
            f"fetched {r.fetched_ok + r.fetch_errors} new {r.new_urls} wall {r.wall_ms / 1e3:.2f} s")
    if run.trace:
        import layers

        eng, report = crawls[-1]
        run.layer("setup.session_start_s", session_s, "s")
        run.layer("setup.engine_s", statistics.median(setup_s), "s")
        run.phase("posthoc")
        cands = layers.crawl_posthoc(run, eng, report, fx)
        run.finish = lambda stages: layers.charge_crawl(run, stages, report, cands)
    return attempted, failed


# -------------------------------------------------------------- operators
def _canon(df) -> tuple[list[str], list[tuple]]:
    def norm(v):
        if v is None:
            return ("\x00null",)
        if isinstance(v, float):
            return ("\x00nan",) if math.isnan(v) else round(v, 9)
        if isinstance(v, bool):
            return int(v)
        return v

    cols = sorted(df.columns)
    rows = [tuple(norm(v) for v in row) for row in df[cols].itertuples(index=False)]
    return cols, sorted(rows, key=repr)


def oracle_sql(entry, name: str) -> str:
    """The query's DuckDB oracle, built without ``entry.oracle_sql()``
    (which also materializes oracles for queries this workload skips)."""
    if name in entry._SQL_OPS:
        return entry._SQL_OPS[name]("duckdb")
    return getattr(entry, f"sql_{name}")("duckdb")


def run_operators(run: Run) -> tuple[int, int]:
    import duckdb

    import inputs

    sf_dir = inputs.write_tables(run.seed, run.path("sf"))
    session_s = run.start_spark()
    import __spark_entry__ as entry

    setup_s = []
    for _ in range(ENGINE_SETUPS):
        t0 = time.monotonic()
        qs = entry.queries()
        for t in entry.TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                run.spark.read.parquet(p).schema
        setup_s.append(time.monotonic() - t0)
    run.e2e("setup_s", session_s + statistics.median(setup_s), "s")

    # ---- timed: one pass of every query in the fresh session, results
    # collected to the driver (they are a few hundred rows each) ----
    run.phase("pass")
    times: dict[str, list[float]] = {n: [] for n in QUERIES}
    outputs: list[tuple[str, object]] = []
    passes: list[float] = []
    cpus: list[float] = []
    t_start = time.monotonic()
    while not passes or time.monotonic() - t_start < run.seconds:
        t_pass, c0 = time.monotonic(), tree_cpu_s()
        for name in QUERIES:
            t0 = time.monotonic()
            with run.tracer.span(f"query.{name}") if run.tracer else nullcontext():
                outputs.append((name, qs[name](run.spark, sf_dir).toPandas()))
            times[name].append(time.monotonic() - t0)
        passes.append(time.monotonic() - t_pass)
        cpus.append(tree_cpu_s() - c0)
    per_query = {n: statistics.median(v) for n, v in times.items()}
    run.unit_metrics(passes, cpus, geomean(list(per_query.values())), len(QUERIES))

    # ---- output check, outside the timed window ----
    run.phase("check")
    con = duckdb.connect()
    for t in entry.TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    want = {n: _canon(con.execute(oracle_sql(entry, n)).df()) for n in QUERIES}
    con.close()
    failed = 0
    for name, got in outputs:
        got = _canon(got)
        if got != want[name]:
            failed += 1
            log(f"ORACLE MISMATCH: {name}: {len(got[1])} rows vs {len(want[name][1])}")
    attempted = len(outputs)
    log(f"operators: {len(passes)} pass(es), wall {passes}, failed_ratio {failed / attempted}")
    for n, secs in per_query.items():
        log(f"  {n:28s} {secs:8.3f} s")
    if run.trace:
        import layers

        run.layer("setup.session_start_s", session_s, "s")
        run.layer("setup.engine_s", statistics.median(setup_s), "s")
        run.finish = lambda stages: layers.charge_operators(
            run, stages, per_query, len(passes), passes[-1])
    return attempted, failed


WORKLOADS = {"crawl": run_crawl, "operators": run_operators}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isdir(os.path.join(ROOT, "atra_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        log("perfbench: run from the repository root (atra_spark/ not found)")
        return 2

    sys.path[:0] = [HERE, ROOT]
    run = Run(args)
    # Python workers import the engine from the checkout; every scratch
    # file (Spark local dirs, temp files) stays inside the run's work dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    for sub in ("tmp", "spark-local"):
        os.makedirs(run.path(sub), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = run.path("tmp")
    os.environ["SPARK_LOCAL_DIRS"] = run.path("spark-local")

    import bench

    load_1m = os.getloadavg()[0]
    steal0 = bench._steal_cpu_s()
    try:
        attempted, failed = WORKLOADS[args.workload](run)
        steal = bench._steal_delta(steal0)
        run.stop_spark()
        log(f"telemetry: steal_cpu_s {steal}, loadavg_1m {load_1m}, cores {run.cores}")
        if run.trace:
            import layers
            from spans import read_event_log

            run.finish(read_event_log(run.path("eventlog")))
            run.layer("host.steal_cpu_s", steal, "s")
            run.layer("host.loadavg_1m", load_1m, "count")
            run.layer("host.cores", run.cores, "count")
            layers.fill_catalogue(run)
        metrics = run.layers if run.trace else run.metrics
        for name, (value, unit) in sorted(metrics.items()):
            log(f"  {name:40s} {value:16.4f} {unit}")
    finally:
        run.stop_spark()
        shutil.rmtree(run.work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
