"""Helpers shared by the benchmark's modules."""

from __future__ import annotations

import os
import sys
import time

# operators workload: the bench.HEADLINE queries that fit the run
# budget (see README.md for the ones left out and why)
QUERIES = [
    "q1_pricing_summary",
    "frontier_antijoin_dedup",
    "politeness_topk_admission",
    "dedup_exact_hash",
    "token_count",
    "dsir_weights",
    "warc_roundtrip",
]
T0 = time.monotonic()


def log(*parts) -> None:
    print(f"[{time.monotonic() - T0:6.1f}s]", *parts, file=sys.stderr, flush=True)


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``."""
    size = files = 0
    for base, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(base, n))
            files += 1
    return size, files


def _tree() -> set[int]:
    """This process and its descendants (the Spark JVM, Python workers)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                pass
    mine, frontier = {os.getpid()}, {os.getpid()}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier} - mine
        mine |= frontier
    return mine


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by this process and its descendants."""
    total = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])
        except (OSError, ValueError, IndexError):
            pass
    return total / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> tuple[float, dict[str, float]]:
    """Summed VmHWM (peak resident set) of the descendants of this
    process, the Spark JVM and its Python workers, and the same sum by
    process name."""
    by_name: dict[str, float] = {}
    for pid in _tree() - {os.getpid()}:
        try:
            with open(f"/proc/{pid}/comm") as fh:
                name = fh.read().strip()
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        by_name[name] = by_name.get(name, 0.0) + int(line.split()[1]) / 1024
        except OSError:
            pass
    return sum(by_name.values()), by_name
