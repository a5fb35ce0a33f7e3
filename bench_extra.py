#!/usr/bin/env python
"""Round-6 optimization measurement harness (bench.py is FROZEN for the
driver; every extra measurement lives here).

Modes:
  python bench_extra.py --queries name1,name2 [--reps 3]
      noop-sink isolation per query (guide §1.4) + wall seconds.
  python bench_extra.py --plans name1,name2 --out plans/r06 --suffix before
      capture .explain("formatted") per query into <out>/<name>_<suffix>.txt
  python bench_extra.py --steady [--pages 50000]
      one steady-state round.
  python bench_extra.py --crawl [--pages 50000]
      full crawl bench.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default: the CPUs this process may run on).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)


def _cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or len(os.sched_getaffinity(0))


def _spark():
    from atra_spark.session import get_spark

    cpus = _cpus()
    return get_spark("atra-bench-extra", cores=cpus, shuffle_partitions=cpus)


def _queries():
    import __spark_entry__ as entry_mod

    return entry_mod.queries()


def run_queries(names: list[str], reps: int) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = _spark()
    qs = _queries()
    out: dict[str, list[float]] = {n: [] for n in names}
    for _rep in range(reps):
        for name in names:
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.monotonic()
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            out[name].append(round(time.monotonic() - t0, 3))
    print(json.dumps({
        "queries": {n: {"min": min(v), "samples": v} for n, v in out.items()},
        "loadavg": round(os.getloadavg()[0], 2),
    }))
    spark.stop()


def capture_plans(names: list[str], out_dir: str, suffix: str) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = _spark()
    qs = _queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        p = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(p, "w") as f:
            f.write(plan)
        print(f"wrote {p} ({len(plan)} bytes)")
    spark.stop()


def run_steady(pages: int) -> None:
    import bench

    spark = _spark()
    sec, fetched = bench.mega_round_bench(spark, pages, keep_store=False)
    print(json.dumps({"steady_sec": round(sec, 3), "fetched": fetched,
                      "urls_per_sec": round(fetched / sec, 1)}))
    spark.stop()


def run_crawl(pages: int) -> None:
    import bench

    spark = _spark()
    cpus = _cpus()
    sec, fetched = bench.crawl_bench(spark, pages, cpus)
    print(json.dumps({"crawl_sec": round(sec, 3), "fetched": fetched,
                      "urls_per_sec": round(fetched / sec, 1)}))
    spark.stop()


def main() -> None:
    args = sys.argv[1:]

    def _opt(name: str, default: str | None = None) -> str | None:
        return args[args.index(name) + 1] if name in args else default

    if "--queries" in args:
        names = _opt("--queries").split(",")
        run_queries(names, int(_opt("--reps", "3")))
    elif "--plans" in args:
        names = _opt("--plans").split(",")
        capture_plans(names, _opt("--out", "plans/r06"), _opt("--suffix", "before"))
    elif "--steady" in args:
        run_steady(int(_opt("--pages", "50000")))
    elif "--crawl" in args:
        run_crawl(int(_opt("--pages", "50000")))
    else:
        print(__doc__)


if __name__ == "__main__":
    main()
