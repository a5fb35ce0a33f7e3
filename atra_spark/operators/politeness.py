"""Per-host politeness admission — a window over host.

The reference serializes fetches per origin with an exclusive host
guard + a per-origin tokio interval (atra/src/url/guard/mod.rs:63-102,
atra/src/crawl/crawler/intervals.rs:25-95). Within one batch round the
guard reduces to a stateless per-host top-k: ``Window.partitionBy(host)``
puts each host in exactly one window partition, which admits the top-k
URLs of the round under the host's crawl-delay budget and stamps
deterministic scheduled fetch offsets. k(host) = max(1,
round_budget_ms // delay(host)) where delay = robots crawl-delay, else
config delay, else 1000 ms (intervals.rs:66-82).

Admission order within a host (the deterministic ordering parity
definition of SURVEY.md §7): is_seed desc, enqueue_round asc, url asc
(UrlWithDepth total order tie-break, url_with_depth.rs:194-264).

The stateful, cross-batch politeness operator (host guard state kept
between micro-batches) is ``streaming/politeness.py::throttle_hosts``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _delay_col(default_delay_ms: int):
    return F.coalesce(F.col("crawl_delay_ms"), F.lit(default_delay_ms))


def _with_delay(
    frontier: DataFrame,
    robots_parsed: DataFrame | None,
    default_delay_ms: int,
    broadcast: bool = True,
) -> DataFrame:
    if "crawl_delay_ms" in frontier.columns:
        # pre-joined by filter_robots(keep_delay=True): reuse the
        # column instead of paying a second robots join per round
        return frontier.withColumn(
            "crawl_delay_ms", _delay_col(default_delay_ms).cast("long")
        )
    if robots_parsed is None:
        return frontier.withColumn("crawl_delay_ms", F.lit(default_delay_ms).cast("long"))
    rel = robots_parsed.select("host", "crawl_delay_ms")
    if broadcast:
        # small-relation fast path: ship the per-host delays everywhere
        rel = F.broadcast(rel)
    # else: co-partitioned join on host — the window below
    # partitions by host anyway, so the shuffled join shape reuses that
    # exchange instead of broadcasting a 10^7-host relation
    j = frontier.join(rel, on="host", how="left")
    return j.withColumn("crawl_delay_ms", _delay_col(default_delay_ms).cast("long"))


def admit_window(
    frontier: DataFrame,
    robots_parsed: DataFrame | None,
    default_delay_ms: int = 1000,
    round_budget_ms: int = 10_000,
    broadcast_robots: bool = True,
) -> DataFrame:
    """The round's admission (SURVEY.md §2.6 "politeness budget window
    function"): row_number over (host | is_seed desc, enqueue_round,
    url) <= k(host).

    Returns every input row tagged admitted/deferred and stays in the
    JVM (no Python stage). Admitted rows get admission_index (0-based
    within host) and a scheduled fetch offset = admission_index * delay
    (the interval tick the reference waits on at crawler.rs:417);
    deferred rows carry admission_index -1 and a null offset.
    """
    with_delay = _with_delay(frontier, robots_parsed, default_delay_ms, broadcast_robots)
    k = F.greatest(
        F.lit(1), (F.lit(round_budget_ms) / F.greatest(F.lit(1), F.col("crawl_delay_ms"))).cast("long")
    )
    w = Window.partitionBy("host").orderBy(
        F.col("is_seed").desc(), F.col("enqueue_round").asc(), F.col("url").asc()
    )
    rn = F.row_number().over(w) - 1
    return (
        with_delay.withColumn("_rn", rn)
        .withColumn("admitted", F.col("_rn") < k)
        .withColumn(
            "admission_index",
            F.when(F.col("admitted"), F.col("_rn")).otherwise(F.lit(-1)).cast("int"),
        )
        .withColumn(
            "scheduled_offset_ms",
            F.when(F.col("admitted"), F.col("_rn") * F.col("crawl_delay_ms")).cast("long"),
        )
        .drop("_rn")
    )
