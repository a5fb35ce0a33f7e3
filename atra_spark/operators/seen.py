"""Seen-set (link-state) operators: field-wise merge + salted
candidate aggregation.

The reference updates link states through a RocksDB associative merge
operator: the newer operand wins per field unless the field is Unset
(254), and ``last_significant_kind`` retains the last state that was
"significant" (atra/src/link_state/state/raw.rs:249-351, registered at
atra/src/database/options.rs:52). The rebuild expresses one crawl
round's worth of state transitions as a single batch merge — exactly
the ``MERGE INTO seen USING updates ON url`` shape it becomes on
Iceberg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import DEPTH_COLS, KIND_UNSET

def merge_seen(seen: DataFrame, updates: DataFrame) -> DataFrame:
    """Batch blind-upsert with Unset-skip semantics (raw.rs:259-306).

    Full outer join on url; per field the update wins unless its kind
    is Unset; last_significant_kind tracks the previous significant
    state. Both sides share the host-hash bucketing, so the join is
    co-partitioned, not a fresh shuffle of the world.
    """
    u = updates.select(
        F.col("url").alias("u_url"),
        *[F.col(c).alias(f"u_{c}") for c in updates.columns if c != "url"],
    )
    j = seen.join(u, seen["url"] == u["u_url"], how="full_outer")

    has_update = F.col("u_url").isNotNull()
    update_is_set = has_update & (F.col("u_kind") != F.lit(KIND_UNSET))

    def pick(col: str):
        return F.when(update_is_set, F.col(f"u_{col}")).otherwise(F.col(col))

    new_kind = pick("kind")
    # last_significant_kind: whenever a newer operand overwrites an
    # existing row, the PREVIOUS kind is copied into
    # LAST_SIGNIFICANT_KIND_POS unconditionally — even when it equals
    # the update's kind or is itself an error state
    # (raw.rs fold_merge_linkstate:285-302).
    lsk = F.when(
        update_is_set & F.col("kind").isNotNull(), F.col("kind")
    ).otherwise(
        F.coalesce(
            F.col("last_significant_kind"), F.col("u_last_significant_kind"), F.lit(KIND_UNSET)
        )
    )

    return j.select(
        F.coalesce(F.col("url"), F.col("u_url")).alias("url"),
        F.coalesce(pick("host"), F.col("u_host"), F.col("host")).alias("host"),
        F.coalesce(new_kind, F.col("u_kind"), F.col("kind")).cast("int").alias("kind"),
        lsk.cast("int").alias("last_significant_kind"),
        F.coalesce(pick("recrawl"), F.col("u_recrawl"), F.col("recrawl")).alias("recrawl"),
        # is_seed is sticky-true (a URL once seeded stays a seed)
        (
            F.coalesce(F.col("is_seed"), F.lit(False))
            | F.coalesce(F.col("u_is_seed"), F.lit(False))
        ).alias("is_seed"),
        F.coalesce(pick("ts"), F.col("u_ts"), F.col("ts")).alias("ts"),
        *[
            F.coalesce(pick(c), F.col(f"u_{c}"), F.col(c)).cast("long").alias(c)
            for c in DEPTH_COLS
        ],
    )


def compose_seen(base: DataFrame | None, deltas: list[tuple[int, DataFrame]]) -> DataFrame:
    """Merge-on-read composition of a seen BASE snapshot plus per-round
    update DELTAS — the window-function equivalent of folding
    ``merge_seen`` over the deltas in round order (Iceberg v2
    merge-on-read economics: each round commits only its updates; the
    full fold happens lazily at read time and is burned into a new
    base by periodic compaction).

    Equivalence to the iterated fold (pinned by
    tests/test_store.py::TestSeenDeltas::test_compose_equals_iterated_merge):
    - field values come from the LAST row whose kind is set
      (!= Unset-254); if no row is set, from the first row (Unset
      operands never overwrite, raw.rs:259-306)
    - ``last_significant_kind``: the folded kind immediately before the
      last set row — i.e. the kind of the previous set row, else the
      first row's kind — copied unconditionally on overwrite
      (raw.rs fold_merge_linkstate:285-302); a row that was never
      overwritten keeps its own stored lsk
    - ``is_seed`` is sticky-true across all operands

    Precondition (declared, ADVICE r3): delta rows written by the
    engine always carry fully-populated non-kind fields, so the target
    row's fields can be taken verbatim. ``merge_seen``'s per-field
    ``coalesce(pick(c), u_c, c)`` would additionally let an Unset
    operand fill a NULL field on the existing row — a corner no engine
    writer produces; external writers of the seen table must populate
    every field or fold with ``merge_seen`` instead.

    ONE shuffle (the url window); per-round write cost is the delta
    only, never |seen| — the round-2 full-snapshot rewrite is gone.
    """
    from pyspark.sql import Window

    parts = []
    if base is not None:
        parts.append(base.withColumn("_r", F.lit(-1).cast("long")))
    for rnd, df in sorted(deltas, key=lambda t: t[0]):
        parts.append(df.withColumn("_r", F.lit(rnd).cast("long")))
    if not parts:
        raise ValueError("compose_seen needs a base or at least one delta")
    allrows = parts[0]
    for p in parts[1:]:
        allrows = allrows.unionByName(p)
    if len(parts) == 1:
        return allrows.drop("_r")

    is_set = F.col("kind") != F.lit(KIND_UNSET)
    w_full = Window.partitionBy("url")
    w_ord = Window.partitionBy("url").orderBy("_r")
    w_before = w_ord.rowsBetween(Window.unboundedPreceding, -1)

    tagged = allrows.select(
        "*",
        F.last(F.when(is_set, F.col("kind")), ignorenulls=True)
        .over(w_before)
        .alias("_prev_set_kind"),
        F.first("kind").over(w_ord).alias("_first_kind"),
        F.row_number().over(w_ord).alias("_rn"),
        F.max(F.when(is_set, F.col("_r"))).over(w_full).alias("_last_set_r"),
        F.max(F.when(F.col("is_seed"), 1).otherwise(0)).over(w_full).alias("_any_seed"),
    )
    # target row T = last set row, else the first row
    target = tagged.filter(
        F.when(F.col("_last_set_r").isNotNull(), F.col("_r") == F.col("_last_set_r"))
        .otherwise(F.col("_rn") == 1)
    )
    lsk = F.when(F.col("_rn") == 1, F.col("last_significant_kind")).otherwise(
        F.coalesce(F.col("_prev_set_kind"), F.col("_first_kind"))
    )
    return target.select(
        "url",
        "host",
        F.col("kind").cast("int").alias("kind"),
        lsk.cast("int").alias("last_significant_kind"),
        "recrawl",
        (F.col("_any_seed") == 1).alias("is_seed"),
        "ts",
        *[F.col(c).cast("long").alias(c) for c in DEPTH_COLS],
    )


def compose_host_state(base: DataFrame | None, deltas: list[tuple[int, DataFrame]]) -> DataFrame:
    """Merge-on-read composition for the ``host_state`` table
    (recrawl_management/mod.rs:27-70): the folded state per host is the
    MAX of last_access and crawl_delay_ms across base + deltas — an
    algebraic aggregate, so the fold is one map-side-combined groupBy,
    never a window. Each round commits only its touched hosts
    (O(round hosts) writes, the same economics the seen table got in
    round 3); compaction burns the fold into a new base."""
    parts = []
    if base is not None:
        parts.append(base)
    parts.extend(df for _, df in sorted(deltas, key=lambda t: t[0]))
    if not parts:
        raise ValueError("compose_host_state needs a base or at least one delta")
    allrows = parts[0]
    for p in parts[1:]:
        allrows = allrows.unionByName(p)
    if len(parts) == 1:
        return allrows
    return allrows.groupBy("host").agg(
        F.max("last_access").alias("last_access"),
        F.max("crawl_delay_ms").alias("crawl_delay_ms"),
    )


def aggregate_candidates(exploded_links: DataFrame) -> DataFrame:
    """Collapse one round's extracted links to unique candidate URLs
    with the lowest depth triple (depth merge_to_lowest,
    atra/src/url/depth.rs:59-65, applied when the same URL is
    discovered multiple times in a round).

    Hot-key discipline (north rule "salted aggregation for hot hosts"):
    for an ALGEBRAIC aggregate like min, Spark's physical plan is
    already two-phase — HashAggregate(partial) runs map-side before the
    exchange, so a URL linked from millions of pages contributes at
    most ONE pre-combined row per map partition to its reducer; no
    reducer ever sees the raw hot-key fan-in. An explicit salt layer on
    top adds a whole extra shuffle for zero additional skew protection
    (measured: the salted variant cost one more exchange + stage
    barrier per round).

    The relation is deliberately NARROW — ``url`` plus the three
    depth longs, nothing else (bandwidth diet for the frontier
    stage's DRAM-bound shuffle): ``host`` is the URL's PSL origin, a
    pure function of the url string, so the engine recomputes it
    AFTER the seen-filter on the (much smaller) surviving new-URL set
    instead of shipping a second string through the exchange. A
    string aggregate here would also demote the plan from
    HashAggregate to SortAggregate (var-length agg buffers), losing
    the map-side combine economics. Grouping by ``url`` alone makes
    the exchange hash-partition by url, which is exactly the bucket
    routing of the SeenIndex probe downstream (``pmod(hash(url),
    P)``): with spark.sql.shuffle.partitions == num_buckets the probe
    consumes this agg's output partitioning directly and the frontier
    stage pays ONE exchange total.

    Expects columns: url, ``DEPTH_COLS``; any other column (e.g.
    host) is dropped by the grouping.
    """
    return exploded_links.groupBy("url").agg(*[F.min(c).alias(c) for c in DEPTH_COLS])
