#!/usr/bin/env python
"""Write the on-disk compatibility fixtures for the two persistent
indexes, plus the probe answers the writing code gave over them.

    python scripts/make_index_compat_fixtures.py tests/fixtures/index_compat

Each index gets 2 buckets, 2 committed rounds/batches and one
compaction. The SeenIndex's second round touches only bucket 0, so the
directory holds a compacted base (bucket 0) beside a one-delta chain
(bucket 1). ``tests/test_seen_index.py`` and
``tests/test_neardup_index.py`` open the committed copies and require
the same answers, so a format change that would reset or re-read an
existing index shows up as a test failure. Run it with the code whose
layout the fixtures should pin on ``PYTHONPATH``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.append(REPO)


def _docs(n0: int, n1: int) -> list[tuple[int, str]]:
    base = (
        "the quick brown fox jumps over the lazy dog while the band "
        "plays on and the crowd watches quietly from the old stone wall"
    )
    return [
        (i, base + f" verse {i % 3}")
        if i % 5 == 0
        else (i, f"unique document {i} " + " ".join(f"tok{i}x{j}" for j in range(8)))
        for i in range(n0, n1)
    ]


def write_seen(spark, out: str) -> None:
    from pyspark.sql import functions as F

    from atra_spark.operators.seen_index import SeenIndex

    root = os.path.join(out, "seen_index")
    urls = [f"https://h{i % 3}.example/p{i}" for i in range(12)]
    idx = SeenIndex(root, num_buckets=2)
    idx.add_urls(
        spark.createDataFrame([(u, i % 3) for i, u in enumerate(urls)], "url string, kind int"), 0
    )
    idx.commit()
    in_b0 = [
        r["url"]
        for r in spark.createDataFrame([(u,) for u in urls], "url string")
        .filter(F.pmod(F.hash("url"), F.lit(2)) == 0)
        .collect()
    ]
    idx.add_urls(spark.createDataFrame([(u, 7) for u in in_b0[:3]], "url string, kind int"), 1)
    idx.commit()
    idx.compact(spark)

    cands = urls + [f"https://new{i}.example/x" for i in range(4)]
    cdf = spark.createDataFrame([(u,) for u in cands], "url string")
    expected = {
        "num_buckets": 2,
        "committed_round": idx.committed_round,
        "candidates": cands,
        "prune_new": sorted(r["url"] for r in idx.prune_new(cdf).collect()),
        "kinds": {
            r["url"]: r["kind"]
            for r in idx.filter_by_state(cdf, None, with_kind=True).collect()
        },
    }
    with open(os.path.join(out, "seen_index_expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)


def write_neardup(spark, out: str) -> None:
    from atra_spark.operators.neardup_index import NearDupIndex

    def df(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    root = os.path.join(out, "neardup_index")
    idx = NearDupIndex(root, num_buckets=2)
    idx.admit(df(_docs(0, 12)), 0)
    idx.commit()
    idx.admit(df(_docs(100, 112)), 1)
    idx.commit()
    idx.compact(spark)

    batch = _docs(500, 512)
    expected = {
        "num_buckets": 2,
        "committed_batch": idx.committed_batch,
        "batch": batch,
        "probe": sorted(
            [r["doc_id"], r["dup_of"], r["est_jaccard"]]
            for r in idx.probe(df(batch)).collect()
        ),
    }
    with open(os.path.join(out, "neardup_index_expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)


def main() -> None:
    from atra_spark.session import get_spark

    out = sys.argv[1]
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    spark = get_spark("index-compat-fixtures", cores=2, shuffle_partitions=2)
    try:
        write_seen(spark, out)
        write_neardup(spark, out)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
