"""Persistent per-bucket seen-set membership + link-state index.

The reference answers "have I seen this URL?" and "what state is it
in?" with RocksDB point lookups (``key_may_exist_cf``,
atra/src/recrawl_management/mod.rs:62; exact get + merge-operator fold
in link_state/db.rs, the dequeue state check at
queue/.../polling.rs:180-204). This module is that lookup mapped onto
Spark's execution model, stored in the shared bucket-chain engine
(operators/bucket_chain.py: delta chains, manifest commit, compaction):

- the URL universe is split into ``num_buckets`` buckets by
  ``pmod(hash(url), B)`` — Spark's OWN hash-partitioning assignment
  (Murmur3, seed 42). With B equal to the shuffle partition count,
  the output partitioning of the upstream ``groupBy(url)`` candidate
  aggregation IS the bucket routing, so the engine probes with ZERO
  additional exchange (``aligned=True``): every bucket's rows already
  sit in exactly one task, and AQE partition coalescing only merges
  whole buckets, never splits one;
- each bucket owns a chain of per-round delta files (RocksDB
  memtable-flush/SST economics: appends only, periodic compaction,
  never a full-index rewrite). Deltas store TWO independent 64-bit
  hashes per URL — ``xxhash64(url)`` and ``xxhash64(url, 1)`` — plus
  the URL's link-state ``kind`` byte: 17 bytes/URL instead of the URL
  string. Lookup is a lexsorted-numpy pair search; within a chain the
  NEWEST occurrence of a pair wins (``_dedup_last``, the chain fold),
  which makes the chain the merge-operator fold of the reference's
  state transitions (raw.rs:249-306: the newer operand's kind wins).
  The 128-bit composite makes a false "seen" verdict a 2^-128-scale
  event (expected colliding pairs at 10^10 URLs: n^2/2^129 ~= 1.5e-19)
  — exact for any real corpus;
- membership probing (``prune_new``) and state lookup
  (``filter_by_state``) run ``mapInPandas`` over one shared kernel:
  each task loads ONLY its buckets' folded chains from shared storage,
  with the per-worker chain-prefix LRU, and searches them with
  ``np.searchsorted``.

The reference puts an approximate-membership check in front of its
exact lookup because that lookup is a disk read. Here the exact
lookup is an in-memory binary search over an array the worker has
cached anyway, so the pair index is the ONLY membership structure:
a second filter would cost per-round upkeep and could only skip the
search for rows that are new.

Serving the dequeue state check from this index is what removes the
last per-round O(|seen|) read from the engine: the seen TABLE is now
read only at compaction / recovery / analytics time, while the
admission path pays chain reads for exactly the buckets the frontier
touches — cost tracking |frontier|, not |seen|, the reference's own
point-lookup economics.

Nothing is broadcast and the driver holds only file names: executor
residency is bounded by (buckets per task) x chain size + the LRU
cap, not by the whole index. Sizing at 10^10 URLs with B = 4096
buckets: ~2.4M URLs/bucket, ~41 MB of hash-pair+kind rows (vs ~200 MB
as URL strings), cached across tasks by delta chain (the chain grows
by one small file per round, so a warm worker reads only the newest
delta).

The index is a rebuildable cache over the committed ``seen`` table:
the manifest is committed by the driver only after the round's store
commits succeed, and resume-from-checkpoint rebuilds the index from
the seen snapshot when the manifest round disagrees.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from ..schemas import KIND_DISCOVERED
from .bucket_chain import BucketChainStore, Columns, load_chain

_FORMAT = 4  # on-disk layout version: a directory of any other version is reset
_BUCKET_COL = "_si_bucket"
_H1_COL = "_si_h1"
_H2_COL = "_si_h2"


def _dedup_last(cols: Columns) -> Columns:
    """The chain fold: lexsort by (h1, h2) and keep the LAST occurrence
    of each pair. np.lexsort is stable, so equal pairs retain input
    order — with the input concatenated in chain order, "last" is the
    newest state: the RocksDB merge-operator fold (newer operand's kind
    wins, raw.rs:249-306) as one vectorized pass."""
    h1, h2, kinds = cols["h1"], cols["h2"], cols["kind"]
    order = np.lexsort((h2, h1))
    h1s, h2s, ks = h1[order], h2[order], kinds[order]
    if len(h1s):
        keep = np.ones(len(h1s), dtype=bool)
        keep[:-1] = (h1s[1:] != h1s[:-1]) | (h2s[1:] != h2s[:-1])
        h1s, h2s, ks = h1s[keep], h2s[keep], ks[keep]
    return {"h1": h1s, "h2": h2s, "kind": ks}


def _pair_lookup(
    c1: np.ndarray, c2: np.ndarray, s1: np.ndarray, s2: np.ndarray, sk: np.ndarray
) -> np.ndarray:
    """Vectorized (c1, c2) -> latest kind (or -1 when absent) against
    the deduped lexsorted seen pairs. After dedup each pair occurs at
    most once; h1-collisions inside a bucket are ~nonexistent
    (n^2/2^65 per bucket), so the >1-span fallback loop runs on at
    most a handful of rows ever."""
    out = np.full(len(c1), -1, dtype=np.int32)
    if len(s1) == 0:
        return out
    left = np.searchsorted(s1, c1, "left")
    right = np.searchsorted(s1, c1, "right")
    one = (right - left) == 1
    if one.any():
        pos = left[one]
        hit = s2[pos] == c2[one]
        idx = np.nonzero(one)[0][hit]
        out[idx] = sk[pos[hit]].astype(np.int32)
    for i in np.nonzero((right - left) > 1)[0]:
        span = np.arange(left[i], right[i])
        m = np.nonzero(s2[span] == c2[i])[0]
        if len(m):
            out[i] = int(sk[span[m[0]]])
    return out


def _lookup_kinds(pdf: pd.DataFrame, chains: dict, storage) -> np.ndarray:
    """Latest indexed kind for every row of one tagged batch (-1 when
    the URL is not indexed): per bucket, load its (cached) folded chain
    and run ``_pair_lookup``. The one kernel behind both probes."""
    kinds = np.full(len(pdf), -1, dtype=np.int32)
    b_arr = pdf[_BUCKET_COL].to_numpy()
    h1_arr = pdf[_H1_COL].to_numpy()
    h2_arr = pdf[_H2_COL].to_numpy()
    for b in np.unique(b_arr):
        chain = chains.get(int(b))
        if not chain:  # bucket never indexed -> nothing in it is seen
            continue
        sel = b_arr == b
        s = load_chain(storage, int(b), chain, _dedup_last)
        kinds[sel] = _pair_lookup(h1_arr[sel], h2_arr[sel], s["h1"], s["h2"], s["kind"])
    return kinds


def _hash_cols(col):
    """The index's hash pair, both JVM-side: two independent xxhash64
    values form the 128-bit lookup key (bucket routing is separate:
    Spark's own hash-partitioning function, murmur3 via F.hash, the
    same Pmod(Murmur3Hash(url), B) assignment groupBy(url) produces —
    pinned by tests)."""
    return F.xxhash64(col), F.xxhash64(col, F.lit(1))


class SeenIndex:
    """Bucketed membership + state index under ``root`` (one dir per
    bucket).

    Lifecycle per round: ``add_urls`` (distributed Spark job; executors
    write one delta file per touched bucket) -> the engine commits
    the round's store tables -> ``commit`` (driver writes the tiny
    manifest atomically). Probes serve the last committed manifest
    only, so a crashed round can never drop a candidate that was
    indexed but not committed.
    """

    def __init__(self, root: str, num_buckets: int = 32, storage=None) -> None:
        self.num_buckets = num_buckets
        # a different bucket count re-routes every URL: probing old
        # bucket files under the new routing would miss seen URLs
        # (silent re-crawls), so the store drops such a directory and
        # committed_round becomes None, which the engine's resume path
        # treats as "rebuild from the seen snapshot" (plans/crawl.py);
        # bench/tools legitimately derive B from the session's
        # shuffle-partition count, which varies
        self.store = BucketChainStore(
            root, storage, _FORMAT, {"num_buckets": num_buckets},
            seq_key="round", prefix="hashes", tag="r",
        )

    @property
    def committed_round(self) -> int | None:
        return self.store.committed

    def reset(self) -> None:
        self.store.reset()

    # -- build / maintain --------------------------------------------------
    def add_urls(self, df: DataFrame, round_no: int) -> int:
        """Index one round's state rows (columns ``url`` [+ ``kind``];
        a missing kind column means Discovered — pure membership use).
        Distributed: one task per touched bucket writes a
        ``hashes_r{N}.parquet`` delta (two int64 hash columns + kind,
        never URL strings). A URL already indexed may appear again with
        a new kind: the chain fold makes the newest kind win (the
        merge-operator semantics). Buckets with no rows are untouched.
        Returns the number of URLs staged."""
        kind_col = (
            F.col("kind").cast("int") if "kind" in df.columns else F.lit(KIND_DISCOVERED)
        )
        h1, h2 = _hash_cols(F.col("url"))
        hashed = df.select(
            h1.alias("h1"),
            h2.alias("h2"),
            kind_col.alias("kind"),
            F.pmod(F.hash("url"), F.lit(self.num_buckets)).cast("int").alias(_BUCKET_COL),
        )
        return self.store.stage(hashed, _BUCKET_COL, round_no)

    def commit(self) -> None:
        """Atomically publish the staged round (driver-side, tiny JSON).
        Call AFTER the round's store tables committed."""
        self.store.commit()

    def rebuild(self, seen_urls: DataFrame, round_no: int) -> None:
        """Recovery: drop and re-index from the committed seen table
        (columns url [+ kind] — pass the composed seen state so the
        index serves the latest kinds)."""
        self.reset()
        self.add_urls(seen_urls, round_no)
        self.commit()

    def compact(self, spark) -> None:
        """Fold each bucket's delta chain into one deduped file (latest
        kind per pair — the chain fold burned in), as one distributed
        job over the buckets whose chain has more than one file."""
        self.store.compact(spark, _dedup_last)

    # -- probe ---------------------------------------------------------------
    def _tagged(self, df: DataFrame, key: str, aligned: bool) -> DataFrame:
        h1, h2 = _hash_cols(F.col(key))
        tagged = df.select(
            "*",
            h1.alias(_H1_COL),
            h2.alias(_H2_COL),
            F.pmod(F.hash(key), F.lit(self.num_buckets)).cast("int").alias(_BUCKET_COL),
        )
        if not aligned:
            tagged = tagged.repartition(self.num_buckets, F.col(_BUCKET_COL))
        return tagged

    def prune_new(self, candidates: DataFrame, key: str = "url", aligned: bool = False) -> DataFrame:
        """candidates minus the indexed seen set — the engine's core
        anti-join, without ever shuffling the seen table.

        Plan shape: one ``mapInPandas`` pass where each task looks its
        rows up in only ITS buckets' 128-bit hash-pair chains and keeps
        the rows that are not indexed. No broadcast, no driver
        residency, no seen-side shuffle: per round the seen set costs
        each task its buckets' hash pairs, LRU-cached across tasks per
        worker.

        ``aligned=True`` skips the bucket repartition: the caller
        promises ``candidates`` is already hash-partitioned by ``key``
        with ``num_buckets`` partitions (the natural output of
        ``groupBy(key)`` when spark.sql.shuffle.partitions ==
        num_buckets — the engine's candidate aggregation), so the
        probe adds ZERO exchange. Misaligned input would still be
        CORRECT (each task loads whatever buckets it sees), only
        slower, but the engine pins alignment with a plan test."""
        chains = self.store.chains()
        storage = self.store.storage
        out_schema = candidates.schema
        out_cols = candidates.columns
        tagged = self._tagged(candidates, key, aligned)

        def _probe(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                keep = _lookup_kinds(pdf, chains, storage) < 0
                if keep.any():
                    yield pdf.loc[keep, out_cols]

        return tagged.mapInPandas(_probe, out_schema)

    def filter_by_state(
        self,
        df: DataFrame,
        keep_kinds: tuple[int, ...] | None,
        key: str = "url",
        aligned: bool = False,
        with_kind: bool = False,
    ) -> DataFrame:
        """Rows of ``df`` whose indexed link-state kind is in
        ``keep_kinds`` — the reference's per-dequeued-URL state point
        lookup (polling.rs:180-204) as one bucket-routed mapInPandas
        pass. Rows whose URL is not in the index are dropped (they have
        no link state — matches the table path's inner/semi join).

        ``keep_kinds=None`` keeps EVERY input row and is only useful
        with ``with_kind=True`` (a pure state lookup: kind is null for
        unindexed URLs). ``with_kind=True`` appends the latest ``kind``
        as an int column.

        Same kernel and economics as ``prune_new``: no seen-table scan,
        no broadcast; each task reads only the chains of the buckets
        its rows hash to, LRU-cached across tasks — per-round read cost
        tracks the probe side (the frontier), never |seen|.
        """
        chains = self.store.chains()
        storage = self.store.storage
        out_cols = df.columns
        fields = list(df.schema.fields)
        if with_kind:
            fields = fields + [StructField("kind", IntegerType(), True)]
        out_schema = StructType(fields)
        keep_arr = None if keep_kinds is None else np.asarray(sorted(keep_kinds), dtype=np.int32)
        tagged = self._tagged(df, key, aligned)

        def _lookup(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                kinds = _lookup_kinds(pdf, chains, storage)
                if keep_arr is None:
                    keep = np.ones(len(pdf), dtype=bool)
                else:
                    keep = np.isin(kinds, keep_arr)
                if not keep.any():
                    continue
                sub = pdf.loc[keep, out_cols]
                if with_kind:
                    ks = kinds[keep]
                    karr = pd.array(ks, dtype="Int32")
                    karr[ks < 0] = pd.NA
                    sub = sub.assign(kind=karr)
                yield sub

        return tagged.mapInPandas(_lookup, out_schema)
