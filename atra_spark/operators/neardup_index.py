"""Persistent cross-batch NEAR-duplicate index: MinHash-LSH band
buckets as an incremental, bucketed point-lookup store.

The exact analog already exists twice in this repo — the SeenIndex
(URL membership, operators/seen_index.py) and the streaming ingest's
digest dedup — but both are EXACT: a re-crawled page with one changed
ad survives them. This module is the fuzzy third leg: each arriving
batch (a new crawl snapshot, a WARC drop) is checked against ALL
previously admitted documents for near-duplicates at O(batch) cost,
never O(corpus) — the CommonCrawl-style "dedup the new crawl against
every prior crawl without re-scanning them" economics.

Reference semantics: the same seen/admission lifecycle as the crawl
state store (atra/src/crawl/seed.rs, raw.rs merge-operator fold);
near-dup detection per Broder resemblance sketches, banded per
Leskovec-Rajaraman-Ullman ch. 3 (the identical sketch family as
functions/dedup.minhash_lsh_candidates, so in-batch and cross-batch
dedup agree on what "near" means).

Design: the same bucket-chain engine as the SeenIndex
(operators/bucket_chain.py), with band rows as the chain contents:

- State = per-bucket parquet delta chains. A band row is
  ``(bkey, id, h0..h{H-1})``: ``bkey = xxhash64(band, h_i.., salt)``
  routes the row; the full signature RIDES ALONG so candidate
  verification is a vectorized in-bucket compare — no second index
  round-trip per candidate (the storage trade: H extra int64 per band
  row, bought back by never touching a signature store on probe). The
  chain fold is a stable sort by bkey (``_sort_by_bkey``).
- Probe = ONE exchange of the batch's band rows on
  ``pmod(bkey, num_buckets)`` + one applyInPandas pass: each task
  loads only ITS bucket's folded chain (the worker-local chain-prefix
  LRU — a warm probe reads exactly the newest delta file),
  binary-searches the sorted bkey column, and counts equal signature
  components per candidate. Nothing corpus-sized is ever shuffled or
  re-read.
- Admission is staged-then-committed exactly like SeenIndex rounds:
  ``admit()`` writes immutable per-bucket deltas and stages a manifest;
  ``commit()`` publishes it atomically AFTER the caller's own corpus
  commit, so a crashed batch can never flag future documents as dups
  of documents that were never stored. A replayed batch (streaming
  foreachBatch retry) rewrites its delta, which joins the chain once.
- ``compact()`` folds each bucket's chain into one sorted base file
  (per-bucket, incremental — never a global rewrite).

Recall contract: a probe pair is verified with
``n_eq >= ceil(threshold * num_hashes)`` equal signature components.
For ``threshold > 1 - n_bands/num_hashes`` (e.g. > 0.5 at the default
8 hashes / 4 bands) the pigeonhole guarantees every qualifying pair
shares at least one intact band, so the banded index finds EXACTLY the
exhaustive-comparison result — the driver oracle
(sql_incremental_neardup) exploits this to verify the whole path
against plain SQL. Below that threshold the index degrades to standard
LSH recall (documented, same as the in-batch operators).

100 TB plan: per-batch cost is one O(batch x n_bands) shuffle plus
point reads of touched buckets; warm workers re-read only the newest
delta per bucket (chain-prefix cache); admission appends O(batch)
rows; compaction is per-bucket. The only corpus-sized work is a cold
bucket load, amortized across batches and bounded by corpus/B per
task.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from .bucket_chain import BucketChainStore, Columns, load_chain

_FORMAT = "neardup-bands-v1"
_BUCKET_COL = "__ndx_bucket"


def _sig_cols(num_hashes: int) -> list[str]:
    return [f"h{i}" for i in range(num_hashes)]


def _sort_by_bkey(cols: Columns) -> Columns:
    """The chain fold: every band row, stably sorted by bkey (equal
    bkeys keep chain order, so a capped probe span is deterministic)."""
    order = np.argsort(cols["bkey"], kind="stable")
    return {c: a[order] for c, a in cols.items()}


class NearDupIndex:
    """Bucketed, persistent MinHash band index (see module docstring).

    Lifecycle per batch::

        flagged = idx.probe(batch)            # vs committed history
        fresh   = batch.join(flagged, "left_anti", on=id)
        ... caller commits fresh to its corpus store ...
        idx.admit(fresh, batch_no); idx.commit()

    Geometry (num_hashes / rows_per_band / k / num_buckets) is pinned
    in the manifest; a mismatch drops and rebuilds the index — like the
    SeenIndex it is a rebuildable CACHE over the admitted corpus
    (``rebuild``), never the corpus of record.
    """

    def __init__(
        self,
        root: str,
        num_buckets: int = 32,
        num_hashes: int = 8,
        rows_per_band: int = 2,
        k: int = 3,
        storage=None,
    ) -> None:
        if num_hashes % rows_per_band != 0:
            raise ValueError("num_hashes must be divisible by rows_per_band")
        self.num_buckets = num_buckets
        self.num_hashes = num_hashes
        self.rows_per_band = rows_per_band
        self.n_bands = num_hashes // rows_per_band
        self.k = k
        # a geometry/format mismatch re-routes every band, so the store
        # drops the persisted index (with a warning naming the mismatch)
        self.store = BucketChainStore(
            root, storage, _FORMAT,
            {
                "num_buckets": num_buckets,
                "num_hashes": num_hashes,
                "rows_per_band": rows_per_band,
                "k": k,
            },
            seq_key="batch", prefix="bands", tag="b",
        )

    @property
    def committed_batch(self) -> int | None:
        return self.store.committed

    # -- shared plan fragments ----------------------------------------------
    def _band_rows(self, df: DataFrame, text_col: str, id_col: str) -> DataFrame:
        """(bkey, id, h0..h{H-1}, bucket) — the on-disk band row plus
        its bucket; signatures are row-local
        (zero-shuffle, functions/dedup.minhash_signatures); the band
        fan-out is one Generate over a literal band-struct array, the
        bkey is JVM xxhash64 so probe/admit workers never hash."""
        from ..functions.dedup import minhash_signatures

        sig = minhash_signatures(
            df, text_col=text_col, id_col=id_col,
            num_hashes=self.num_hashes, k=self.k,
        )
        r = self.rows_per_band
        hs = _sig_cols(self.num_hashes)
        band_structs = F.array(
            *[
                F.struct(
                    F.xxhash64(
                        F.lit(b), *[F.col(hs[b * r + j]) for j in range(r)]
                    ).alias("bkey")
                )
                for b in range(self.n_bands)
            ]
        )
        return (
            sig.localCheckpoint(eager=False)
            .select("id", *hs, F.explode(band_structs).alias("_b"))
            .select(
                F.col("_b.bkey").alias("bkey"), "id", *hs,
                F.pmod(F.col("_b.bkey"), F.lit(self.num_buckets))
                .cast("int")
                .alias(_BUCKET_COL),
            )
        )

    # -- probe ---------------------------------------------------------------
    def probe(
        self,
        df: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        threshold: float = 0.7,
        max_span: int | None = None,
    ) -> DataFrame:
        """Near-duplicates of ``df`` against the COMMITTED history:
        ``(doc_id, dup_of, est_jaccard)`` with est_jaccard = equal
        signature components / num_hashes >= threshold; dup_of is the
        deterministic best match (max n_eq, then min id). Documents
        with fewer than k tokens carry no signature and are absent, as
        in every sketch operator in functions/dedup.

        ``max_span`` caps how many stored rows of ONE band bucket a
        probe row compares against (the hot-bucket guard every
        blocking operator in this repo declares: a bucket holding
        thousands of identical documents would otherwise make one
        task quadratic). None (default) is exact — required for the
        oracle-equality contract; under a cap the verdict stays
        deterministic (spans are enumerated in the folded chain's
        stable sort order) but recall inside over-full buckets is
        declared partial — any match that survives still IS a
        near-dup, so dedup stays sound, and a doc's duplicates in a
        capped bucket are still mutually banded in later probes."""
        spark = df.sparkSession
        H = self.num_hashes
        n_min = math.ceil(threshold * H)
        chains = self.store.chains()
        if not chains:
            return spark.createDataFrame(
                [], f"{id_col} long, dup_of long, est_jaccard double"
            )
        hs = _sig_cols(H)
        storage = self.store.storage
        bands = self._band_rows(df, text_col, id_col)

        out_schema = StructType(
            [
                StructField("id", LongType()),
                StructField("dup_of", LongType()),
                StructField("n_eq", IntegerType()),
            ]
        )

        def _probe(pdf: pd.DataFrame) -> pd.DataFrame:
            b = int(pdf[_BUCKET_COL].iloc[0])
            chain = chains.get(b)
            if not chain:
                return pd.DataFrame({"id": [], "dup_of": [], "n_eq": []}).astype(
                    {"id": np.int64, "dup_of": np.int64, "n_eq": np.int32}
                )
            stored = load_chain(storage, b, chain, _sort_by_bkey)
            skey, sids = stored["bkey"], stored["id"]
            ssigs = np.column_stack([stored[c] for c in hs])
            ck = pdf["bkey"].to_numpy()
            cid = pdf["id"].to_numpy()
            csig = np.column_stack([pdf[c].to_numpy() for c in hs])
            left = np.searchsorted(skey, ck, "left")
            right = np.searchsorted(skey, ck, "right")
            if max_span is not None:
                right = np.minimum(right, left + max_span)
            oi, od, oe = [], [], []
            for i in np.nonzero(right > left)[0]:
                span = slice(left[i], right[i])
                n_eq = (ssigs[span] == csig[i]).sum(axis=1)
                keep = (n_eq >= n_min) & (sids[span] != cid[i])
                if keep.any():
                    oi.append(np.full(int(keep.sum()), cid[i], dtype=np.int64))
                    od.append(sids[span][keep])
                    oe.append(n_eq[keep].astype(np.int32))
            if not oi:
                return pd.DataFrame({"id": [], "dup_of": [], "n_eq": []}).astype(
                    {"id": np.int64, "dup_of": np.int64, "n_eq": np.int32}
                )
            return pd.DataFrame(
                {
                    "id": np.concatenate(oi),
                    "dup_of": np.concatenate(od),
                    "n_eq": np.concatenate(oe),
                }
            )

        cand = bands.groupBy(_BUCKET_COL).applyInPandas(_probe, out_schema)
        from pyspark.sql import Window

        w = Window.partitionBy("id").orderBy(
            F.col("n_eq").desc(), F.col("dup_of").asc()
        )
        return (
            cand.dropDuplicates(["id", "dup_of"])
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                F.col("id").alias(id_col),
                "dup_of",
                (F.col("n_eq") / F.lit(float(H))).alias("est_jaccard"),
            )
        )

    def probe_within(
        self,
        df: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        threshold: float = 0.7,
    ) -> DataFrame:
        """Keep-first near-dup flags WITHIN one batch (no state read):
        ``(doc_id, dup_of, est_jaccard)`` for every doc that near-dups
        a SMALLER id in ``df`` — the intra-batch complement of
        ``probe`` (history always outranks the batch; inside the batch
        the lowest id wins). Entirely JVM: the band relation self-joins
        on bkey and the riding signatures verify in whole-stage
        codegen — same banded economics as the batch LSH operators,
        never all-pairs."""
        H = self.num_hashes
        n_min = math.ceil(threshold * H)
        bands = self._band_rows(df, text_col, id_col)
        hs = _sig_cols(H)
        a = bands.select(
            F.col("id").alias("ida"), "bkey", *[F.col(h).alias(f"a_{h}") for h in hs]
        )
        b = bands.select(
            F.col("id").alias("idb"), "bkey", *[F.col(h).alias(f"b_{h}") for h in hs]
        )
        n_eq = sum(
            F.when(F.col(f"a_{h}") == F.col(f"b_{h}"), 1).otherwise(0) for h in hs
        )
        cand = (
            a.join(b, on="bkey")
            .filter(F.col("ida") > F.col("idb"))
            .select("ida", "idb", n_eq.alias("n_eq"))
            .filter(F.col("n_eq") >= n_min)
            .dropDuplicates(["ida", "idb"])
        )
        from pyspark.sql import Window

        w = Window.partitionBy("ida").orderBy(
            F.col("n_eq").desc(), F.col("idb").asc()
        )
        return (
            cand.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                F.col("ida").alias(id_col),
                F.col("idb").alias("dup_of"),
                (F.col("n_eq") / F.lit(float(H))).alias("est_jaccard"),
            )
        )

    # -- admit / commit -------------------------------------------------------
    def admit(
        self,
        df: DataFrame,
        batch_no: int,
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> int:
        """Index one batch's documents (the caller's post-probe
        survivors). One task per touched bucket writes an immutable
        ``bands_b{N}.parquet`` delta; untouched buckets are not
        rewritten. Staged until ``commit()``. Returns band rows
        written."""
        return self.store.stage(self._band_rows(df, text_col, id_col), _BUCKET_COL, batch_no)

    def commit(self) -> None:
        """Atomically publish the staged batch (tiny driver-side JSON).
        Call AFTER the caller's corpus commit — probes serve the last
        committed manifest only."""
        self.store.commit()

    def rebuild(self, df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> None:
        """Recovery / geometry change: drop and re-index the admitted
        corpus in one pass (the index is a cache, never the record)."""
        self.store.reset()
        self.admit(df, 0, text_col=text_col, id_col=id_col)
        self.commit()

    # -- maintenance ------------------------------------------------------------
    def compact(self, spark) -> None:
        """Fold each bucket's delta chain into one bkey-sorted base
        file, as one distributed job over the buckets whose chain has
        more than one file (per-bucket and incremental — never a global
        rewrite)."""
        self.store.compact(spark, _sort_by_bkey)
