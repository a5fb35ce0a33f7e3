"""Bucket-chain store: the one storage engine under both persistent
indexes (``SeenIndex``, ``NearDupIndex``).

The reference keeps all of its keyed state in one engine, RocksDB
column families: memtable flushes append immutable SSTs, compaction
folds them, and readers see only what a committed version points at.
This module is that engine mapped onto Spark, with the per-index
logic (what a row is, how a chain folds, how a probe searches it) left
to the caller:

- keys are routed to ``num_buckets`` buckets; each bucket owns a chain
  of immutable parquet files (zstd), one per round or batch that
  touched it, all read and written through a ``BucketStorage`` (here
  ``LocalBucketStorage``: a plain picklable root path that executor
  tasks use exactly like the driver does);
- ``stage`` writes one delta per touched bucket from a
  ``groupBy(bucket).applyInPandas`` job and stages the extended
  chains; ``commit`` publishes them in a tiny JSON manifest
  (``mkstemp`` + ``os.replace``), after the caller's own commit, so a
  crashed round or batch is never visible to probes. A delta joins a
  bucket's chain only once, so a replayed round or batch folds
  idempotently;
- ``load_chain`` folds one bucket's chain on a worker with a
  per-process LRU keyed by bucket: when the cached chain is a prefix
  of the requested one, only the tail files are read (a warm probe
  reads exactly the newest delta);
- ``compact`` folds every multi-file chain into one base file as ONE
  distributed job (one task per bucket), then publishes in two
  phases: the bases are written first, the manifest is switched to
  them, and only then are the superseded files swept;
- a manifest written under another format or geometry (bucket count,
  sketch shape) is dropped with a logged warning: the index is a
  rebuildable cache over the caller's committed table, and the
  callers' resume paths rebuild it.
"""

from __future__ import annotations

import json
import logging
import os
import re
import shutil
import tempfile
import uuid
from collections import OrderedDict
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

Columns = dict[str, np.ndarray]
Fold = Callable[[Columns], Columns]

_log = logging.getLogger(__name__)

# per-worker cache (lives in the reused Python worker processes; an
# executor only ever caches the buckets it actually probed):
# storage.key(bucket) -> (chain, folded columns)
_CHAIN_CACHE: OrderedDict[str, tuple[tuple[str, ...], Columns]] = OrderedDict()
_CHAIN_CACHE_CAP = 64


class LocalBucketStorage:
    """Bucket-object I/O seam: every byte an index reads or writes goes
    through these five methods, on the driver and inside executor tasks
    alike. This implementation is a directory per bucket under
    ``root``, which is what local[n] and shared-filesystem clusters
    use. Cache keys are storage-scoped so two indexes never alias each
    other's worker-side LRU entries."""

    def __init__(self, root: str) -> None:
        self.root = root

    def _path(self, bucket: int, name: str) -> str:
        return os.path.join(self.root, f"bucket={bucket:05d}", name)

    def key(self, bucket: int) -> str:
        """Stable worker-cache key for one bucket of this storage."""
        return self._path(bucket, "")

    def read_bytes(self, bucket: int, name: str) -> bytes:
        with open(self._path(bucket, name), "rb") as f:
            return f.read()

    def write_bytes(self, bucket: int, name: str, data: bytes) -> None:
        path = self._path(bucket, name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp.{uuid.uuid4().hex}"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, path)

    def list_bucket(self, bucket: int) -> list[str]:
        try:
            return sorted(os.listdir(os.path.dirname(self._path(bucket, "x"))))
        except FileNotFoundError:
            return []

    def remove(self, bucket: int, name: str) -> None:
        try:
            os.remove(self._path(bucket, name))
        except FileNotFoundError:
            pass


def encode_columns(cols: Columns) -> bytes:
    """The one on-disk encoding of a chain file: a zstd parquet table
    with the columns in ``cols`` order."""
    sink = pa.BufferOutputStream()
    pq.write_table(pa.table(cols), sink, compression="zstd")
    return sink.getvalue().to_pybytes()


def read_columns(storage, bucket: int, name: str) -> Columns:
    t = pq.read_table(pa.BufferReader(storage.read_bytes(bucket, name)))
    return {c: t.column(c).to_numpy() for c in t.column_names}


def _concat(parts: list[Columns]) -> Columns:
    return {c: np.concatenate([p[c] for p in parts]) for c in parts[0]}


def load_chain(storage, bucket: int, chain: tuple[str, ...], fold: Fold) -> Columns:
    """One bucket's rows folded from its (non-empty) chain, LRU-cached
    per worker. ``fold`` takes the concatenation of the chain's files
    in chain order and must satisfy ``fold(fold(a) + b) == fold(a + b)``:
    when the cached chain is a prefix of ``chain`` only the tail files
    are read and folded onto the cached result; a chain that does not
    extend the cached one (compaction replaced it) reloads in full."""
    key = storage.key(bucket)
    hit = _CHAIN_CACHE.get(key)
    if hit is not None and chain[: len(hit[0])] == hit[0]:
        if len(hit[0]) == len(chain):
            _CHAIN_CACHE.move_to_end(key)
            return hit[1]
        start, parts = len(hit[0]), [hit[1]]
    else:
        start, parts = 0, []
    parts += [read_columns(storage, bucket, name) for name in chain[start:]]
    cols = fold(_concat(parts))
    _CHAIN_CACHE[key] = (tuple(chain), cols)
    _CHAIN_CACHE.move_to_end(key)
    while len(_CHAIN_CACHE) > _CHAIN_CACHE_CAP:
        _CHAIN_CACHE.popitem(last=False)
    return cols


def fold_bucket(storage, bucket: int, chain: list[str], base_name: str, fold: Fold) -> None:
    """Fold ONE bucket's chain into ``base_name``: what each compaction
    task runs. Write-only: the superseded chain files are swept by
    ``BucketChainStore.compact`` only after the manifest that no longer
    references them is published, so a crash or task retry in here
    leaves the committed chain readable (a retry re-reads it and
    rewrites the same base)."""
    folded = fold(_concat([read_columns(storage, bucket, name) for name in chain]))
    storage.write_bytes(bucket, base_name, encode_columns(folded))


class BucketChainStore:
    """Manifest, staging, compaction and GC for one index directory.

    Files are named ``{prefix}_{tag}{seq:05d}.parquet`` (deltas) and
    ``{prefix}_base_{tag}{seq:05d}.parquet`` (compacted bases), where
    ``seq`` is the caller's round or batch number. The manifest holds
    ``{seq_key: seq, "format": fmt, **geometry, "buckets": {b:
    {"deltas": [...]}}}``."""

    def __init__(
        self,
        root: str,
        storage,
        fmt,
        geometry: dict,
        seq_key: str,
        prefix: str,
        tag: str,
    ) -> None:
        self.root = root
        self.storage = storage if storage is not None else LocalBucketStorage(root)
        self.fmt = fmt
        self.geometry = geometry
        self.seq_key = seq_key
        self.prefix = prefix
        self.tag = tag
        os.makedirs(root, exist_ok=True)
        self.manifest = self._load_manifest()
        self._pending: dict | None = None  # the manifest ``commit`` publishes
        if self.manifest is not None:
            want = {"format": fmt, **geometry}
            diffs = {
                k: (self.manifest.get(k), v)
                for k, v in want.items()
                if self.manifest.get(k) != v
            }
            if diffs:
                # another format or geometry re-routes or re-encodes
                # every row, so the persisted chains are unusable; name
                # the mismatch before dropping them
                _log.warning(
                    "index at %s: format/geometry mismatch %s "
                    "(manifest value, requested value) - dropping the "
                    "persisted index and starting empty",
                    root, diffs,
                )
                self.reset()

    # -- manifest ----------------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    def _load_manifest(self) -> dict | None:
        p = self._manifest_path()
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def _publish(self, manifest: dict) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".manifest.tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path())
        self.manifest = manifest

    @property
    def committed(self) -> int | None:
        return self.manifest[self.seq_key] if self.manifest else None

    def chains(self) -> dict[int, tuple[str, ...]]:
        """Committed chain per bucket (what probes serve)."""
        buckets = (self.manifest or {}).get("buckets", {})
        return {int(b): tuple(ent["deltas"]) for b, ent in buckets.items()}

    def reset(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root, exist_ok=True)
        self.manifest = None
        self._pending = None

    # -- stage / commit ----------------------------------------------------
    def stage(self, df: DataFrame, bucket_col: str, seq: int) -> int:
        """Write one delta per bucket that ``df`` touches: every column
        but ``bucket_col`` is stored, in ``df``'s column order. One
        task per touched bucket writes its file and returns one summary
        row; untouched buckets are not rewritten. The extended chains
        stay staged until ``commit``. Returns the number of rows
        written."""
        storage = self.storage
        name = f"{self.prefix}_{self.tag}{seq:05d}.parquet"
        data_cols = [c for c in df.columns if c != bucket_col]

        def _write(pdf: pd.DataFrame) -> pd.DataFrame:
            b = int(pdf[bucket_col].iloc[0])
            cols = {c: pdf[c].to_numpy() for c in data_cols}
            storage.write_bytes(b, name, encode_columns(cols))
            return pd.DataFrame({"bucket": [b], "n": [len(pdf)]})

        rows = df.groupBy(bucket_col).applyInPandas(_write, "bucket int, n long").collect()
        buckets = (self.manifest or {}).get("buckets", {})
        pending = {b: {"deltas": list(ent["deltas"])} for b, ent in buckets.items()}
        for r in rows:
            chain = pending.setdefault(str(r["bucket"]), {"deltas": []})["deltas"]
            if name not in chain:
                chain.append(name)
        self._pending = {
            self.seq_key: seq, "format": self.fmt, **self.geometry, "buckets": pending
        }
        return sum(r["n"] for r in rows)

    def commit(self) -> None:
        """Atomically publish the staged chains (driver-side, tiny
        JSON). Call AFTER the caller's own commit."""
        if self._pending is not None:
            self._publish(self._pending)
            self._pending = None

    # -- compaction ----------------------------------------------------------
    def compact(self, spark, fold: Fold) -> None:
        """Fold every chain longer than one file into one base file.
        The folds run as ONE distributed job, one task per bucket (the
        same per-bucket task shape as ``stage``: nothing bucket-sized
        touches the driver). Probe caches key on the chain, so a
        compacted chain misses once and reloads one file."""
        if not self.manifest:
            return
        storage = self.storage
        seq = self.manifest[self.seq_key]
        base = f"{self.prefix}_base_{self.tag}{seq:05d}.parquet"
        work = {b: ds for b, ds in self.chains().items() if len(ds) > 1}
        if work:

            def _task(pdf: pd.DataFrame) -> pd.DataFrame:
                for row in pdf.itertuples(index=False):
                    fold_bucket(storage, int(row.bucket), json.loads(row.deltas), base, fold)
                return pdf[["bucket"]]

            spark.createDataFrame(
                [(b, json.dumps(ds)) for b, ds in work.items()],
                "bucket int, deltas string",
            ).repartition(len(work), F.col("bucket")).groupBy("bucket").applyInPandas(
                _task, "bucket int"
            ).count()
        # two-phase publish: 1) bases written above, 2) switch the
        # manifest to [base], after which the old chains are
        # unreferenced, 3) sweep. A crash before (2) leaves the old
        # manifest and its intact chains; a crash during (3) leaves
        # orphans, which the next compaction's sweep removes: it
        # deletes every chain file at or below the compacted seq that
        # the manifest does not reference, and never touches newer
        # (staged, uncommitted) files.
        manifest = dict(self.manifest)
        manifest["buckets"] = {
            b: {"deltas": [base] if int(b) in work else list(ent["deltas"])}
            for b, ent in self.manifest["buckets"].items()
        }
        self._publish(manifest)
        chain_re = re.compile(rf"^{self.prefix}(?:_base)?_{self.tag}(\d+)\.parquet$")
        for b, ent in manifest["buckets"].items():
            live = set(ent["deltas"])
            for name in storage.list_bucket(int(b)):
                m = chain_re.match(name)
                if m and int(m.group(1)) <= seq and name not in live:
                    storage.remove(int(b), name)
