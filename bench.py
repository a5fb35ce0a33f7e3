#!/usr/bin/env python
"""Benchmark harness: headline operator queries at $SPARK_GRAFT_SF_DIR
plus the crawl-engine throughput benchmark on the deterministic bench
corpus. Prints ONE JSON line:

  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

- value         = total wall seconds of the suite (lower is better)
- queries       = per-query seconds; "crawl_bench" is the full engine
                  round loop on the bench pages corpus
- urls_per_sec  = crawl throughput (fetched+parsed URLs / crawl wall),
                  the north-rule metric (BASELINE.json)

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default: the CPUs this process may run on),
     ATRA_BENCH_PAGES (default 50000).
"""

from __future__ import annotations

import json
import os
import sys
import time
from shutil import which as shutil_which

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

HEADLINE = [
    "q1_pricing_summary",
    "q3_join_topk",
    "frontier_antijoin_dedup",
    "politeness_topk_admission",
    "seen_merge_latest_state",
    "dedup_exact_hash",
    "dedup_ngram_jaccard",
    "minhash_band_pairs",
    "embedding_cosine_topk",
    "embedding_ivf_topk",
    "simhash",
    "token_count",
    "repetition_metrics",
    "dedup_clusters",
    "decontamination",
    "embedding_near_dup",
    "pagerank",
    "bigram_lm_score",
    "chunk_dedup",
    "bm25_topk",
    "event_sessions",
    "dsir_weights",
    "kmeans_clusters",
    "warc_roundtrip",  # full export->read-back loop through real .warc files
    "bpe_token_counts",  # pass 1 pays distributed BPE training (memoized)
]


def media_bench(spark, n_items: int) -> tuple[float, int, int]:
    """Multimodal decode throughput: synthesize real PNG/GIF/BMP/WAV
    payloads DISTRIBUTED (one deterministic _synth_row per id on the
    executors), materialize them, then time one full pass of the decode
    feature extractor + the thumbnail resize stage (noop sink) — the
    two Arrow-batched media stages a training-data pipeline runs per
    payload."""
    import pandas as pd

    from atra_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        extract_media_features,
        media_resize,
    )

    cols = [f.name for f in MEDIA_SCHEMA.fields]

    def gen(batches):
        from atra_spark.functions.multimodal import _synth_row

        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                kind, payload, _info, _status, _src = _synth_row(int(i), 42)
                rows.append((int(i), kind, None, payload, None, None, None))
            yield pd.DataFrame(rows, columns=cols)

    from pyspark.sql import functions as F

    media = (
        spark.range(n_items)
        .repartition(int(spark.conf.get("spark.sql.shuffle.partitions")))
        .mapInPandas(gen, MEDIA_SCHEMA)
        .persist()
    )
    n_bytes = media.select(F.sum(F.length("payload"))).first()[0] or 0
    t0 = time.monotonic()
    extract_media_features(media).write.format("noop").mode("overwrite").save()
    media_resize(media, max_dim=8).write.format("noop").mode("overwrite").save()
    sec = time.monotonic() - t0
    media.unpersist()
    return sec, n_items, int(n_bytes)


def _bench_fixtures(n_pages: int):
    from atra_spark.sources.fixtures import ensure_fixtures

    fix_dir = os.path.join(
        os.environ.get("ATRA_BENCH_CACHE", "/tmp/atra_bench_fixtures"), f"r{n_pages}"
    )
    # realistic Common-Crawl-ish pages: ~7 KB html, 30-90 anchors
    return ensure_fixtures(
        fix_dir, n_pages=n_pages, n_hosts=96, body_paragraphs=8, links_range=(30, 90)
    )


def archive_bench(spark, n_pages: int) -> tuple[float, int, int]:
    """Archive-loop throughput over the bench corpus: digest-dedup'd
    WARC export + full read-back + CDX index build (sources/warc.py).
    Returns (sec, archive_bytes_written, pages_read_back)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from atra_spark.plans.export import export_warc
    from atra_spark.sources.warc import build_cdx, read_warc_pages

    paths = _bench_fixtures(n_pages)
    pages = spark.read.parquet(paths["pages"]).select(
        "url", F.col("warc_ts").alias("fetched_at"), "html"
    )
    out = tempfile.mkdtemp(
        prefix="atra_bench_warc",
        dir="/dev/shm" if os.path.isdir("/dev/shm") else None,
    )
    try:
        t0 = time.monotonic()
        rep = export_warc(
            pages.select("url", "fetched_at", F.lit(200).alias("status")),
            pages.select("url", "html"),
            out,
            dedup_payloads=True,
        ).collect()
        n_back = read_warc_pages(spark, out).count()
        build_cdx(spark, out).write.format("noop").mode("overwrite").save()
        sec = time.monotonic() - t0
        return sec, sum(r["bytes"] for r in rep), n_back
    finally:
        shutil.rmtree(out, ignore_errors=True)


def crawl_bench(spark, n_pages: int, cpus: int) -> tuple[float, int]:
    """Full multi-round engine crawl on the bench corpus; returns
    (sec, fetched). Politeness, budgets and robots all active."""
    import tempfile

    import duckdb

    from atra_spark.config import CrawlConfig
    from atra_spark.plans.crawl import CrawlEngine
    from atra_spark.sources.store import CheckpointStore
    from atra_spark.urlkit import NORMAL, UNBOUNDED_DISTANCE, Budget

    paths = _bench_fixtures(n_pages)
    # warm-crawl protocol: one seed per host -> the BFS drains the corpus
    # in a handful of substantial rounds (steady-state throughput, not
    # discovery-tail latency)
    seeds = [
        r[0]
        for r in duckdb.sql(
            f"SELECT min(url) FROM read_parquet('{paths['pages']}') "
            "GROUP BY regexp_extract(url, '://([^/]+)', 1) ORDER BY 1"
        ).fetchall()
    ]
    config = CrawlConfig(
        default_budget=Budget(kind=NORMAL, depth_on_website=0, distance_to_seed=UNBOUNDED_DISTANCE),
        delay_ms=1,
        round_budget_ms=60_000,  # one round ≈ 60 s of per-host serial time
        max_rounds=16,
        blacklist=[r".*blocked\.example.*"],
        audit_tables=False,  # pure-throughput mode; parity covered by pytest
    )
    store_root = tempfile.mkdtemp(
        prefix="atra_bench_store",
        dir="/dev/shm" if os.path.isdir("/dev/shm") else None,
    )
    nb = int(spark.conf.get("spark.sql.shuffle.partitions"))
    store = CheckpointStore(store_root, num_buckets=nb)
    eng = CrawlEngine(spark, store, config, paths["pages"], paths["robots"], num_buckets=nb)
    try:
        t0 = time.monotonic()
        report = eng.run(seeds=seeds)
        wall = time.monotonic() - t0
        return wall, report.fetched_total
    finally:
        import shutil

        shutil.rmtree(store_root, ignore_errors=True)


def mega_round_bench(spark, n_pages: int, keep_store: bool = True) -> tuple[float, int]:
    """Steady-state round benchmark (the scaling-protocol unit): the
    frontier holds the whole corpus, ONE round admits/fetches/extracts/
    dedups/commits everything — the shape of a 10^10-frontier round,
    where per-round work dwarfs orchestration."""
    import tempfile

    import duckdb

    from atra_spark.config import CrawlConfig
    from atra_spark.plans.crawl import CrawlEngine
    from atra_spark.sources.store import CheckpointStore
    from atra_spark.urlkit import NORMAL, UNBOUNDED_DISTANCE, Budget

    paths = _bench_fixtures(n_pages)
    urls = [
        r[0]
        for r in duckdb.sql(f"SELECT url FROM read_parquet('{paths['pages']}')").fetchall()
    ]
    config = CrawlConfig(
        default_budget=Budget(kind=NORMAL, depth_on_website=0, distance_to_seed=UNBOUNDED_DISTANCE),
        delay_ms=1,
        round_budget_ms=1_000_000,
        max_rounds=1,
        audit_tables=False,
    )
    # keep_store=False forces a throwaway temp store even when
    # ATRA_MEGA_STORE_DIR is set: the warmup round must NEVER share
    # the kept store with the measured round — its SeenIndex entries
    # would mark the measured round's URL space as already-seen and
    # the measured round fetches nothing (found the hard way)
    keep_dir = os.environ.get("ATRA_MEGA_STORE_DIR") if keep_store else None
    store_root = keep_dir or tempfile.mkdtemp(
        prefix="atra_mega_store",
        dir="/dev/shm" if os.path.isdir("/dev/shm") else None,
    )
    nb = int(spark.conf.get("spark.sql.shuffle.partitions"))
    store = CheckpointStore(store_root, num_buckets=nb)
    eng = CrawlEngine(spark, store, config, paths["pages"], paths["robots"], num_buckets=nb)
    try:
        eng.seed(urls)
        t0 = time.monotonic()
        rs = eng.run_round(0)
        wall = time.monotonic() - t0
        return wall, rs.fetched_ok + rs.fetch_errors
    finally:
        if not keep_dir:
            import shutil

            shutil.rmtree(store_root, ignore_errors=True)


def crawl_only(cores: int, n_pages: int) -> None:
    """Subprocess mode for the N-vs-4N scaling protocol: identical job,
    identical input, only the core count differs. Prints one JSON line."""
    from atra_spark.session import get_spark

    # shuffle partitioning / bucketing layout is IDENTICAL at both core
    # counts — only compute resources differ (cluster-scaling analog)
    spark = get_spark(f"atra-scale-{cores}", cores=cores, shuffle_partitions=32)
    # warm up so we measure STEADY STATE, not startup: a miniature of
    # the measured job itself (2k pages through the identical round
    # plan) forks + imports every Python worker, JIT-compiles every
    # codegen'd stage shape, and touches the parquet read/write and
    # Arrow paths once. On a real cluster a 10^10-frontier round runs
    # for minutes-to-hours and this startup amortizes to zero; leaving
    # it inside the timed window measures process bring-up, not the
    # engine. Identical warmup at BOTH core counts (same pages, same
    # plan), so it cannot bias the N-vs-4N ratio.
    if os.environ.get("ATRA_SCALING_WARMUP", "1") == "1":
        mega_round_bench(spark, 2000, keep_store=False)
    else:
        spark.range(1000).selectExpr("sum(id)").collect()
    sec, fetched = mega_round_bench(spark, n_pages)
    print(
        json.dumps(
            {"cores": cores, "crawl_sec": round(sec, 2), "fetched": fetched,
             "urls_per_sec": round(fetched / sec, 1)}
        )
    )
    spark.stop()


def _load_probe() -> float:
    """1-min loadavg right before a leg — the sandbox host carries
    EXTERNAL tenant load (measured ±30% run-to-run swing); recording it
    per rep makes the noise auditable instead of silent."""
    return round(os.getloadavg()[0], 2)


def _steal_cpu_s() -> float:
    """Cumulative hypervisor steal time (CPU-seconds) from /proc/stat.

    Third noise signal with a blind spot the other two can't cover:
    the round-5 960k sweep's one slow t16 leg ate ~215 stolen CPU-s in
    80 s of wall time while BOTH launch gates (loadavg, membw) read
    calm — steal is charged DURING the leg by the hypervisor, so no
    pre-leg probe can see it coming. Recording the per-leg DELTA makes
    a steal episode attributable after the fact instead of reading as
    an unexplained regression. Returns -1.0 where /proc/stat is
    unavailable (non-Linux)."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        # cpu  user nice system idle iowait irq softirq steal ...
        return round(int(fields[8]) / os.sysconf("SC_CLK_TCK"), 2)
    except (OSError, IndexError, ValueError):
        return -1.0


def _steal_delta(since: float) -> float:
    now = _steal_cpu_s()
    return round(now - since, 2) if since >= 0 and now >= 0 else -1.0


def _membw_probe() -> float:
    """Single-thread memcpy MB/s over a 64 MB working set — the box's
    DRAM bandwidth is a SHARED resource external tenants contend for
    (measured swinging 400 MB/s..4 GB/s day to day while loadavg looks
    calm), and the frontier stage is bandwidth-bound; one number per
    rep makes throughput swings attributable.

    The copy runs into PRE-FAULTED buffers, best of 2: a fresh
    allocation's first touch after a sleep stalls on page-zeroing/THP
    compaction (measured 20 MB/s cold vs 2,850 warm back-to-back on an
    otherwise idle box), which is an allocator artifact, not DRAM
    contention — an alloc-and-copy probe inside a sleep loop reads
    permanently 'contended' and deadlocks the gate."""
    import numpy as np

    a = np.ones(64 * 1024 * 1024 // 8)
    b = a.copy()  # warm-up: faults both buffers hot
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        np.copyto(b, a)  # steady-state copy, no allocation
        best = min(best, time.perf_counter() - t0)
    return round(64 / best, 0)


def _contention_gate(min_membw: float, max_wait_s: float, max_load: float = 3.0) -> dict:
    """Block until the box looks calm — the pre-leg memcpy probe must
    exceed ``min_membw`` MB/s AND the 1-min loadavg must not exceed
    ``max_load`` — or ``max_wait_s`` elapses. Two independent signals
    because they have disjoint blind spots (both demonstrated on this
    box): DRAM-controller contention from external tenants does not
    show in loadavg (VERDICT r3 #2), and a CPU-tenancy episode leaves
    membw calm while asymmetrically taxing the wide scaling leg
    (BENCH/BASELINE.md round-4 coda 5: loadavg 13.5 with membw
    6.7-8.1 GB/s read pair efficiency 0.60 while the 4-core leg set a
    record). Returns the gate telemetry."""
    t0 = time.monotonic()
    attempts = []
    while True:
        bw = _membw_probe()
        load = _load_probe()
        attempts.append((bw, load))
        waited = time.monotonic() - t0
        calm = bw >= min_membw and load <= max_load
        if calm or waited >= max_wait_s:
            return {
                "membw_mb_s": bw,
                "loadavg_1m": load,
                "waited_s": round(waited, 1),
                "attempts": len(attempts),
                "gated_through_contended": not calm,
            }
        time.sleep(min(20.0, max(5.0, max_wait_s / 30)))


def scaling(n_pages: int) -> None:
    """Run the identical crawl at N and 4N cores (default 4 vs 16; see
    BENCH/BASELINE.md for why not 8 vs 32 on this box) in fresh
    processes (fresh JVMs).

    Protocol: legs are INTERLEAVED (N, 4N, N, 4N, ...) for
    ATRA_SCALING_REPEATS rounds so both core counts sample the same
    external-load regime, with the pre-leg loadavg recorded per rep.
    Each leg additionally passes a CONTENTION GATE: the pre-leg memcpy
    probe must exceed ATRA_SCALING_MIN_MEMBW MB/s (default 1000; calm
    is ~3000-4000 on this box, contended episodes 40-600) or the leg
    waits up to ATRA_SCALING_GATE_WAIT_S (default 600) for a calm
    window — a leg that still ran contended is flagged in the output.
    Reported: best-of-legs efficiency (each leg's fastest rep — the
    unloaded-machine estimate) and the best same-round pair."""
    import subprocess

    repeats = int(os.environ.get("ATRA_SCALING_REPEATS", "2"))
    core_pair = tuple(
        int(x) for x in os.environ.get("ATRA_SCALING_CORES", "4,16").split(",")
    )
    min_membw = float(os.environ.get("ATRA_SCALING_MIN_MEMBW", "1000"))
    gate_wait = float(os.environ.get("ATRA_SCALING_GATE_WAIT_S", "600"))
    max_load = float(os.environ.get("ATRA_SCALING_MAX_LOAD", "3.0"))
    pin = os.environ.get("ATRA_SCALING_PIN", "1") == "1" and shutil_which("taskset")
    lo, hi = core_pair
    reps: dict[int, list[dict]] = {lo: [], hi: []}
    for _ in range(repeats):
        for cores in core_pair:
            gate = _contention_gate(min_membw, gate_wait, max_load)
            load = _load_probe()
            steal0 = _steal_cpu_s()
            cmd = [sys.executable, os.path.abspath(__file__), "--crawl-only", str(cores),
                   "--pages", str(n_pages)]
            if pin:
                # cpuset-pin the leg to exactly `cores` host CPUs: the
                # cluster analog is N whole executors, where GC / JIT /
                # Python workers all live INSIDE the executor's cores.
                # Unpinned local[N] on a 32-core host hands the N-core
                # leg ~28 idle cores of free JVM background work (G1
                # concurrent+parallel GC threads, C2 compiler threads,
                # forked Python workers), inflating the small leg and
                # depressing measured efficiency below what a real
                # N-executor cluster would show.
                cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
            out = subprocess.run(
                cmd,
                capture_output=True, text=True, check=True,
            )
            line = out.stdout.strip().splitlines()[-1]
            r = json.loads(line)
            r["loadavg_pre"] = load
            r["membw_mb_s_pre"] = gate["membw_mb_s"]
            r["steal_cpu_s"] = _steal_delta(steal0)
            r["gate"] = gate
            print(json.dumps(r), file=sys.stderr)
            reps[cores].append(r)
    best = {c: min(rs, key=lambda r: r["crawl_sec"]) for c, rs in reps.items()}
    t_lo, t_hi = best[lo]["crawl_sec"], best[hi]["crawl_sec"]
    eff = round((t_lo / t_hi) / (hi / lo), 3)
    pair_effs = [
        round((a["crawl_sec"] / b["crawl_sec"]) / (hi / lo), 3)
        for a, b in zip(reps[lo], reps[hi])
    ]
    print(json.dumps({
        f"t{lo}_sec": t_lo, f"t{hi}_sec": t_hi,
        f"urls_per_sec_{lo}": best[lo]["urls_per_sec"],
        f"urls_per_sec_{hi}": best[hi]["urls_per_sec"],
        "scaling_efficiency": eff,
        "pair_efficiencies": pair_effs,
        "loadavg": {str(c): [r["loadavg_pre"] for r in rs] for c, rs in reps.items()},
        "membw_mb_s": {str(c): [r["membw_mb_s_pre"] for r in rs] for c, rs in reps.items()},
        "steal_cpu_s": {str(c): [r["steal_cpu_s"] for r in rs] for c, rs in reps.items()},
        "gated_through_contended": {
            str(c): [r["gate"]["gated_through_contended"] for r in rs]
            for c, rs in reps.items()
        },
        "gate_conf": {"min_membw_mb_s": min_membw, "max_wait_s": gate_wait,
                      "max_loadavg_1m": max_load},
        "raw_sec": {str(c): [r["crawl_sec"] for r in rs] for c, rs in reps.items()},
        "pages": n_pages, "cores": list(core_pair),
        "cpuset_pinned": bool(pin),
        "warmup": os.environ.get("ATRA_SCALING_WARMUP", "1") == "1"}))


def main() -> None:
    if "--crawl-only" in sys.argv:
        i = sys.argv.index("--crawl-only")
        cores = int(sys.argv[i + 1])
        n_pages = int(sys.argv[sys.argv.index("--pages") + 1]) if "--pages" in sys.argv else 50000
        crawl_only(cores, n_pages)
        return
    if "--scaling" in sys.argv:
        n_pages = int(sys.argv[sys.argv.index("--pages") + 1]) if "--pages" in sys.argv else 50000
        scaling(n_pages)
        return
    _main_bench()


def _main_bench() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or len(os.sched_getaffinity(0))
    n_pages = int(os.environ.get("ATRA_BENCH_PAGES", "50000"))

    import __spark_entry__ as entry_mod
    from atra_spark.session import get_spark

    spark = get_spark("atra-bench", cores=cpus, shuffle_partitions=cpus)
    qs = entry_mod.queries()

    # NOISE PROTOCOL: the sandbox host carries external tenant load with
    # a measured ±30% run-to-run swing, so every headline metric is
    # best-of-N with INTERLEAVED repetition inside this single
    # invocation (pass 1 of all queries, then pass 2, then pass 3 — so
    # each metric's reps sample different load regimes) and the pre-rep
    # 1-min loadavg is recorded per pass for auditability.
    query_reps = int(os.environ.get("ATRA_BENCH_QUERY_REPS", "3"))
    loadavg_log: dict[str, list[float]] = {"query_pass": [], "crawl_bench": [],
                                           "steady_state_round": []}
    membw_log: dict[str, list[float]] = {"query_pass": [], "crawl_bench": [],
                                         "steady_state_round": []}
    # Per-leg hypervisor steal DELTA (CPU-seconds charged during the
    # leg) — the one noise source the pre-leg gates can't see coming.
    steal_log: dict[str, list[float]] = {"query_pass": [], "crawl_bench": [],
                                         "steady_state_round": []}
    timings: dict[str, float] = {}
    for _rep in range(query_reps):
        loadavg_log["query_pass"].append(_load_probe())
        membw_log["query_pass"].append(_membw_probe())
        steal0 = _steal_cpu_s()
        for name in HEADLINE:
            t0 = time.monotonic()
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            sec = round(time.monotonic() - t0, 3)
            timings[name] = min(timings.get(name, sec), sec)
        steal_log["query_pass"].append(_steal_delta(steal0))

    # crawl + steady-state legs INTERLEAVED (crawl, steady, crawl,
    # steady, steady, ...) so both metrics' best-of-N reps sample
    # different external-load regimes — the same protocol the query
    # passes use (VERDICT r3 #10: the one regressed r3 number was the
    # 2-rep back-to-back crawl_bench)
    crawl_reps = int(os.environ.get("ATRA_BENCH_CRAWL_REPS", "2"))
    steady_reps = int(os.environ.get("ATRA_BENCH_STEADY_REPS", "3"))
    crawl_secs, fetched = [], 0
    mega_secs, mega_fetched = [], 0
    for _rep in range(max(crawl_reps, steady_reps)):
        if _rep < crawl_reps:
            loadavg_log["crawl_bench"].append(_load_probe())
            membw_log["crawl_bench"].append(_membw_probe())
            steal0 = _steal_cpu_s()
            sec, fetched = crawl_bench(spark, n_pages, cpus)
            crawl_secs.append(sec)
            steal_log["crawl_bench"].append(_steal_delta(steal0))
        if _rep < steady_reps:
            loadavg_log["steady_state_round"].append(_load_probe())
            membw_log["steady_state_round"].append(_membw_probe())
            steal0 = _steal_cpu_s()
            sec, mega_fetched = mega_round_bench(spark, n_pages)
            mega_secs.append(sec)
            steal_log["steady_state_round"].append(_steal_delta(steal0))
    media_reps = int(os.environ.get("ATRA_BENCH_MEDIA_REPS", "2"))
    media_items = int(os.environ.get("ATRA_BENCH_MEDIA_ITEMS", "60000"))
    media_secs, media_bytes = [], 0
    for _rep in range(media_reps):
        loadavg_log.setdefault("media_bench", []).append(_load_probe())
        membw_log.setdefault("media_bench", []).append(_membw_probe())
        steal0 = _steal_cpu_s()
        sec, _n, media_bytes = media_bench(spark, media_items)
        media_secs.append(sec)
        steal_log.setdefault("media_bench", []).append(_steal_delta(steal0))
    timings["media_bench"] = round(min(media_secs), 3)

    archive_reps = int(os.environ.get("ATRA_BENCH_ARCHIVE_REPS", "1"))
    archive_secs, archive_bytes, archive_back = [], 0, 0
    for _rep in range(archive_reps):
        loadavg_log.setdefault("archive_bench", []).append(_load_probe())
        membw_log.setdefault("archive_bench", []).append(_membw_probe())
        steal0 = _steal_cpu_s()
        sec, archive_bytes, archive_back = archive_bench(spark, n_pages)
        archive_secs.append(sec)
        steal_log.setdefault("archive_bench", []).append(_steal_delta(steal0))
    timings["archive_bench"] = round(min(archive_secs), 3)

    crawl_sec = min(crawl_secs)
    timings["crawl_bench"] = round(crawl_sec, 3)
    urls_per_sec = round(fetched / crawl_sec, 1) if crawl_sec > 0 else 0.0
    mega_sec = min(mega_secs)
    timings["steady_state_round"] = round(mega_sec, 3)
    steady_urls_per_sec = round(mega_fetched / mega_sec, 1) if mega_sec > 0 else 0.0

    total = round(sum(timings.values()), 3)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    print(
        json.dumps(
            {
                "metric": "suite_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_val,
                "urls_per_sec": urls_per_sec,
                "steady_state_urls_per_sec": steady_urls_per_sec,
                "crawl_pages_fetched": fetched,
                "crawl_corpus_pages": n_pages,
                "archive_mb_per_sec": round(
                    archive_bytes / 1e6 / min(archive_secs), 1
                ) if archive_secs and min(archive_secs) > 0 else 0.0,
                "archive_bytes": archive_bytes,
                "archive_pages_roundtripped": archive_back,
                "media_items_per_sec": round(media_items / min(media_secs), 1)
                if media_secs and min(media_secs) > 0
                else 0.0,
                "media_mb_per_sec": round(media_bytes / 1e6 / min(media_secs), 1)
                if media_secs and min(media_secs) > 0
                else 0.0,
                "media_items": media_items,
                "cpus": cpus,
                "protocol": {
                    "query_reps": query_reps,
                    "crawl_reps": len(crawl_secs),
                    "steady_reps": len(mega_secs),
                    "aggregation": "best-of-N, interleaved passes "
                                   "(crawl/steady legs alternate)",
                },
                "raw_sec": {
                    "crawl_bench": [round(s, 3) for s in crawl_secs],
                    "steady_state_round": [round(s, 3) for s in mega_secs],
                },
                "loadavg_pre": loadavg_log,
                "membw_mb_s_pre": membw_log,
                "steal_cpu_s": steal_log,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
