"""Per-layer metrics for a traced run (``--trace 1``).

Two steps. ``crawl_posthoc`` runs while the session is still up, after
the measured unit: counts read back from committed snapshots and
single-thread kernel timings, all outside every span. ``charge_crawl``
and ``charge_operators`` run after the session has stopped and the event
log is complete: they charge each completed stage's task metrics to the
span whose job group it ran under.

``CATALOGUE`` lists every per-layer metric; a workload reports 0 for the
layers it never touches (the operators workload touches no crawl layer).
"""

from __future__ import annotations

import os
import random
import re
import statistics
import time
from collections import defaultdict

from common import QUERIES, dir_stats, log
from spans import interval_cover

STORE_TABLES = ("results", "frontier", "seen", "host_state", "metrics")

CATALOGUE: list[tuple[str, str]] = [
    ("crawl.rounds", "count"),
    ("crawl.round_s", "s"),
    ("crawl.round_self_s", "s"),
    ("crawl.seed_s", "s"),
    *[(f"store.{t}.write_s", "s") for t in STORE_TABLES],
    ("store.compact_s", "s"),
    ("store.driver_reads_s", "s"),
    *[(f"store.{t}.bytes", "B") for t in STORE_TABLES],
    *[(f"store.{t}.files_per_round", "count") for t in STORE_TABLES],
    ("store.bytes_per_page", "B"),
    ("seen_index.add_urls_s", "s"),
    ("seen_index.commit_s", "s"),
    ("seen_index.compact_s", "s"),
    ("seen_index.probe_task_s", "s"),
    ("seen_index.candidates", "count"),
    ("seen_index.new_urls", "count"),
    ("seen_index.new_share", "ratio"),
    ("seen_index.new_share_first", "ratio"),
    ("seen_index.new_share_last", "ratio"),
    ("seen_index.candidates_last", "count"),
    ("seen_index.bytes", "B"),
    ("seen_index.files", "count"),
    ("admission.polled", "count"),
    ("admission.admitted", "count"),
    ("admission.deferred", "count"),
    ("admission.admit_share", "ratio"),
    ("admission.task_s", "s"),
    ("extract.task_s", "s"),
    ("extract.python_in_bytes", "B"),
    ("extract.python_out_bytes", "B"),
    ("extract.rows", "count"),
    ("extract.boundary_s", "s"),
    ("extract.kernel_ms_per_page", "ms"),
    ("extract.decode_ms_per_page", "ms"),
    ("extract.html_ms_per_page", "ms"),
    ("extract.lang_ms_per_page", "ms"),
    ("extract.canon_us_per_link", "us"),
    *[(f"query.{q}.s", "s") for q in QUERIES],
    *[(f"query.{q}.shuffle_bytes", "B") for q in QUERIES],
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.task_run_s", "s"),
    ("spark.task_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_read_bytes", "B"),
    ("spark.shuffle_write_bytes", "B"),
    ("spark.spill_bytes", "B"),
    ("spark.core_util", "ratio"),
    ("setup.session_start_s", "s"),
    ("setup.engine_s", "s"),
    ("mem.peak_rss_mb", "MB"),
    ("run.wall_s", "s"),
    ("run.step_s", "s"),
    ("run.items_per_s", "1/s"),
    ("trace.unattributed_s", "s"),
    ("host.steal_cpu_s", "s"),
    ("host.loadavg_1m", "count"),
    ("host.cores", "count"),
]


def _sum(rows, key: str) -> float:
    return float(sum(r[key] for r in rows))


def _is_python(stage: dict) -> bool:
    return any("InPandas" in s or "Python" in s or "Arrow" in s for s in stage["scopes"])


def spark_totals(run, stages: list[dict], wall: float) -> None:
    run.layer("spark.stages", len(stages), "count")
    run.layer("spark.tasks", _sum(stages, "tasks"), "count")
    run.layer("spark.task_run_s", _sum(stages, "run_s"), "s")
    run.layer("spark.task_cpu_s", _sum(stages, "cpu_s"), "s")
    run.layer("spark.gc_s", _sum(stages, "gc_s"), "s")
    run.layer("spark.shuffle_read_bytes", _sum(stages, "shuffle_read_bytes"), "B")
    run.layer("spark.shuffle_write_bytes", _sum(stages, "shuffle_write_bytes"), "B")
    run.layer("spark.spill_bytes", _sum(stages, "spill_bytes"), "B")
    run.layer("spark.core_util", _sum(stages, "run_s") / (wall * run.cores), "ratio")


# ------------------------------------------------------------------ crawl
def _kernel_timings(run, fx, sample: int = 150) -> None:
    """Single-thread extraction kernel timings on a sample of the
    workload's own pages."""
    import pandas as pd

    from atra_spark.functions.extract import decode_bytes, extract_html, extract_pages_batch
    from atra_spark.functions.langdata import detect_lang
    from atra_spark.urlkit import canonicalize

    rng = random.Random(run.seed)
    pages = [p for p in fx.pages if p[2]]
    pages = rng.sample(pages, min(sample, len(pages)))
    batch = pd.DataFrame({
        "url": [p[0] for p in pages],
        "warc_ts": [p[1] for p in pages],
        "html": [p[2] for p in pages],
    })
    t0 = time.perf_counter()
    for _ in extract_pages_batch(iter([batch])):
        pass
    run.layer("extract.kernel_ms_per_page", (time.perf_counter() - t0) * 1e3 / len(pages), "ms")
    dec = html = lang = 0.0
    links: list[tuple[str, str]] = []
    for url, _ts, raw, *_ in pages:
        tld = url.split("/")[2].rsplit(".", 1)[-1]
        t0 = time.perf_counter()
        text, _enc, _err = decode_bytes(raw, tld=tld)
        t1 = time.perf_counter()
        dom_text, found = extract_html(text, url)
        t2 = time.perf_counter()
        detect_lang(dom_text)
        t3 = time.perf_counter()
        dec, html, lang = dec + t1 - t0, html + t2 - t1, lang + t3 - t2
        links += [(u, url) for u, _k, _m in found]
    n = len(pages)
    run.layer("extract.decode_ms_per_page", dec * 1e3 / n, "ms")
    run.layer("extract.html_ms_per_page", html * 1e3 / n, "ms")
    run.layer("extract.lang_ms_per_page", lang * 1e3 / n, "ms")
    t0 = time.perf_counter()
    for u, base in links:
        canonicalize(u, base=base)
    run.layer("extract.canon_us_per_link", (time.perf_counter() - t0) * 1e6 / max(1, len(links)), "us")


def crawl_posthoc(run, engine, report, fx) -> dict:
    """Counts from the committed snapshots, kernel timings; returns the
    per-round candidate counts for ``charge_crawl``."""
    from pyspark.sql import functions as F

    spark, store = run.spark, engine.store
    cands = {}
    for r in report.rounds:
        res = spark.read.parquet(os.path.join(store.root, "results", f"r{r.round:05d}"))
        cands[r.round] = (
            res.filter(F.col("fetched"))
            .select(F.explode("links").alias("l"))
            .filter((F.col("l.kind") != "data") & F.col("l.host").isNotNull())
            .select("l.url").distinct().count()
        )
    _kernel_timings(run, fx)
    idx_bytes, idx_files = dir_stats(os.path.join(store.root, "seen_index"))
    run.layer("seen_index.bytes", idx_bytes, "B")
    run.layer("seen_index.files", idx_files, "count")
    return cands


def charge_crawl(run, stages: list[dict], report, cands: dict) -> None:
    spans = [s for s in run.tracer.spans if s.round is not None]
    rounds = {s.round: s for s in spans if s.name == "round"}
    by_group: dict[str, list[dict]] = defaultdict(list)
    for st in stages:
        by_group[st["group"]].append(st)

    def span_s(name: str) -> float:
        return sum(s.wall for s in spans if s.name == name)

    def group_stages(suffix: str) -> list[dict]:
        pat = re.compile(rf"{run.workload}:r\d+:{re.escape(suffix)}$")
        return [st for g, rows in by_group.items() if pat.match(g) for st in rows]

    # ---- per-round reconciliation: child spans + self = round wall ----
    log("round  wall_s  children_s  self_s  task_s  core_util  candidates  new  new_share")
    selfs, walls, round_stages = [], [], []
    for r in report.rounds:
        sp = rounds[r.round]
        kids = [s for s in spans if s.round == r.round and s is not sp]
        covered = interval_cover([(k.start, k.end) for k in kids], sp.start, sp.end)
        mine = [st for g, rows in by_group.items() if g.startswith(f"{run.workload}:r{r.round}:")
                for st in rows]
        round_stages += mine
        task_s = _sum(mine, "run_s")
        share = r.new_urls / cands[r.round] if cands[r.round] else 0.0
        log(f"{r.round:5d} {sp.wall:7.2f} {covered:11.2f} {sp.wall - covered:7.2f} "
            f"{task_s:7.2f} {task_s / (sp.wall * run.cores):10.2f} {cands[r.round]:11d} "
            f"{r.new_urls:4d} {share:10.3f}")
        for name in sorted({k.name for k in kids}):
            log(f"        {name:32s} {sum(k.wall for k in kids if k.name == name):7.2f} s")
        selfs.append(sp.wall - covered)
        walls.append(sp.wall)
    run.layer("crawl.rounds", len(report.rounds), "count")
    run.layer("crawl.round_s", statistics.median(walls), "s")
    run.layer("crawl.round_self_s", statistics.median(selfs), "s")
    run.layer("crawl.seed_s", sum(s.wall for s in run.tracer.spans if s.name == "seed"), "s")
    run.layer("trace.unattributed_s", sum(selfs), "s")

    # ---- store ----
    fetched = report.fetched_total
    total_bytes = 0
    for t in STORE_TABLES:
        run.layer(f"store.{t}.write_s", span_s(f"store.{t}.write"), "s")
        paths = {s.path for s in spans if s.name == f"store.{t}.write"} - {None}
        size = files = 0
        for p in paths:
            b, f = dir_stats(p)
            size, files = size + b, files + f
        total_bytes += size
        run.layer(f"store.{t}.bytes", size, "B")
        run.layer(f"store.{t}.files_per_round", files / max(1, len(report.rounds)), "count")
    run.layer("store.bytes_per_page", total_bytes / max(1, fetched), "B")
    run.layer("store.compact_s", sum(s.wall for s in spans if s.name.startswith("store.")
                                     and s.name.endswith(".compact")), "s")
    run.layer("store.driver_reads_s", span_s("store.driver_reads"), "s")

    # ---- seen index ----
    for n in ("add_urls", "commit", "compact"):
        run.layer(f"seen_index.{n}_s", span_s(f"seen_index.{n}"), "s")
    run.layer("seen_index.probe_task_s",
              _sum([st for st in group_stages("store.frontier.write") if _is_python(st)], "run_s"), "s")
    n_cand = sum(cands.values())
    n_new = sum(r.new_urls for r in report.rounds)
    first, last = report.rounds[0], report.rounds[-1]
    run.layer("seen_index.candidates", n_cand, "count")
    run.layer("seen_index.new_urls", n_new, "count")
    run.layer("seen_index.new_share", n_new / max(1, n_cand), "ratio")
    run.layer("seen_index.new_share_first", first.new_urls / max(1, cands[first.round]), "ratio")
    run.layer("seen_index.new_share_last", last.new_urls / max(1, cands[last.round]), "ratio")
    run.layer("seen_index.candidates_last", cands[last.round], "count")

    # ---- admission: counts from RoundStats, window stage from the log ----
    polled = sum(r.polled for r in report.rounds)
    admitted = sum(r.admitted for r in report.rounds)
    run.layer("admission.polled", polled, "count")
    run.layer("admission.admitted", admitted, "count")
    run.layer("admission.deferred", sum(r.deferred for r in report.rounds), "count")
    run.layer("admission.admit_share", admitted / max(1, polled), "ratio")
    # the results-write job runs admission (state lookup, host window,
    # cache fill) and then the pages scan -> MapInPandas -> write stage
    results_stages = group_stages("store.results.write")
    extract = [st for st in results_stages if "MapInPandas" in st["scopes"]
               and "WriteFiles" in st["scopes"]
               and any(s.startswith("Scan parquet") for s in st["scopes"])]
    admission = [st for st in results_stages if st not in extract]
    run.layer("admission.task_s", _sum(admission, "run_s"), "s")

    # ---- extraction: the MapInPandas stage of the results write ----
    task_s = _sum(extract, "run_s")
    rows = sum(r.fetched_ok for r in report.rounds)
    run.layer("extract.task_s", task_s, "s")
    run.layer("extract.python_in_bytes", _sum(extract, "python_in_bytes"), "B")
    run.layer("extract.python_out_bytes", _sum(extract, "python_out_bytes"), "B")
    run.layer("extract.rows", rows, "count")
    kernel_ms = run.layers.get("extract.kernel_ms_per_page", (0.0, ""))[0]
    run.layer("extract.boundary_s", task_s - kernel_ms * rows / 1e3, "s")
    spark_totals(run, round_stages, sum(walls))


# -------------------------------------------------------------- operators
def charge_operators(run, stages: list[dict], per_query: dict[str, float],
                     passes: int, pass_wall: float) -> None:
    prefix = f"{run.workload}:pass:query."
    mine = [st for st in stages if st["group"].startswith(prefix)]
    log("query                           s   stages  task_s  shuffle_B")
    for q, secs in per_query.items():
        rows = [st for st in mine if st["group"] == prefix + q]
        shuffle = _sum(rows, "shuffle_write_bytes") / passes
        run.layer(f"query.{q}.s", secs, "s")
        run.layer(f"query.{q}.shuffle_bytes", shuffle, "B")
        log(f"{q:28s} {secs:6.2f} {len(rows) / passes:7.0f} {_sum(rows, 'run_s') / passes:7.2f} "
            f"{shuffle:10.0f}")
    run.layer("trace.unattributed_s", pass_wall - sum(per_query.values()), "s")
    spark_totals(run, mine, pass_wall * passes)


def fill_catalogue(run) -> None:
    for name, unit in CATALOGUE:
        run.layers.setdefault(name, (0.0, unit))
