"""CI grep-gate (SURVEY.md §7): no per-row Python in the engine —
no row-at-a-time ``F.udf`` / ``@udf`` and no RDD API usage. All
Python execution must be Arrow-batched (pandas_udf / mapInPandas /
applyInPandas), per BASELINE.json input_hint."""

import os
import re

ENGINE_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "atra_spark")

ROW_UDF_RE = re.compile(r"(?<![a-zA-Z_.])(?:F\.udf\(|@udf\b|udf\(lambda)")
# .rdd.getNumPartitions() is a metadata-only probe (functions/par.py's
# scan-parallelism guard) — no rows ever flow through an RDD; the gate
# targets RDD COMPUTE (map/mapPartitions/parallelize/bare .rdd handles)
RDD_RE = re.compile(
    r"\.rdd\b(?!\.getNumPartitions\(\))|sparkContext\.parallelize|\.mapPartitions\("
)


def _py_files():
    for root, _dirs, files in os.walk(ENGINE_ROOT):
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(root, f)


def test_no_row_at_a_time_udf():
    offenders = []
    for path in _py_files():
        with open(path) as f:
            src = f.read()
        if ROW_UDF_RE.search(src):
            offenders.append(path)
    assert not offenders, f"row-at-a-time UDFs found in {offenders}"


def test_no_rdd_usage():
    offenders = []
    for path in _py_files():
        with open(path) as f:
            src = f.read()
        if RDD_RE.search(src):
            offenders.append(path)
    assert not offenders, f"RDD API usage found in {offenders}"


def test_no_driver_side_collect_in_hot_path():
    """collect() allowed only for per-round counters / index summaries —
    crawl.py must not collect row data."""
    crawl = os.path.join(ENGINE_ROOT, "plans", "crawl.py")
    with open(crawl) as f:
        src = f.read()
    assert ".collect()" not in src, "driver-side collect in the round loop"
    assert ".toPandas()" not in src, "driver-side toPandas in the round loop"
