"""NearDupIndex: persistent cross-batch MinHash band index
(operators/neardup_index.py) — probed results must equal an exhaustive
signature comparison (the pigeonhole guarantee at threshold > 0.5),
stay correct across multi-batch delta chains, staged-vs-committed
admission, repartitioned input, and compaction, and the warm probe
path must read only the newest delta (the O(batch) economics)."""

import json
import math
import os
import shutil

from pyspark.sql import functions as F

from atra_spark.functions.dedup import minhash_signatures
from atra_spark.operators.bucket_chain import LocalBucketStorage
from atra_spark.operators.neardup_index import NearDupIndex


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _corpus(n0, n1, stride=10):
    """Deterministic docs: ids in [n0, n1); id % stride == 0 rows are
    small edits of the previous multiple-of-stride family so the corpus
    has real near-dups across id ranges, plus unique filler."""
    base = (
        "the quick brown fox jumps over the lazy dog while the band "
        "plays on and the crowd watches quietly from the old stone wall"
    )
    rows = []
    for i in range(n0, n1):
        if i % stride == 0:
            rows.append((i, base + f" verse {i % 3}"))
        else:
            rows.append((i, f"unique document {i} " + " ".join(
                f"tok{i}x{j}" for j in range(12))))
    return rows


def _exhaustive(spark, probe_df, hist_df, threshold=0.7, num_hashes=8, k=3):
    """Oracle: brute-force signature comparison probe x history with
    the index's exact verdict rule (n_eq >= ceil(t*H), argmax n_eq then
    min dup_of)."""
    ps = minhash_signatures(probe_df, num_hashes=num_hashes, k=k)
    hs = minhash_signatures(hist_df, num_hashes=num_hashes, k=k)
    n_min = math.ceil(threshold * num_hashes)
    eq = sum(
        F.when(F.col(f"p.h{i}") == F.col(f"h.h{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    )
    pairs = (
        ps.alias("p")
        .crossJoin(hs.alias("h"))
        .filter(F.col("p.id") != F.col("h.id"))
        .select(
            F.col("p.id").alias("doc_id"),
            F.col("h.id").alias("dup_of"),
            eq.alias("n_eq"),
        )
        .filter(F.col("n_eq") >= n_min)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("n_eq").desc(), F.col("dup_of").asc()
    )
    return {
        (r["doc_id"], r["dup_of"], r["n_eq"] / num_hashes)
        for r in pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .collect()
    }


def _probe_set(out):
    return {(r["doc_id"], r["dup_of"], r["est_jaccard"]) for r in out.collect()}


class TestNearDupIndex:
    def test_probe_equals_exhaustive(self, spark, tmp_path):
        hist = _docs(spark, _corpus(0, 60))
        batch = _docs(spark, _corpus(100, 140))
        idx = NearDupIndex(str(tmp_path / "ndx"), num_buckets=8)
        idx.admit(hist, 0)
        idx.commit()
        got = _probe_set(idx.probe(batch))
        want = _exhaustive(spark, batch, hist)
        assert got == want
        assert got, "corpus must contain cross-range near-dups"
        # novel docs are not flagged
        flagged = {d for d, _, _ in got}
        assert all(d % 10 == 0 for d in flagged)

    def test_multi_batch_chain(self, spark, tmp_path):
        idx = NearDupIndex(str(tmp_path / "ndx"), num_buckets=8)
        b1 = _docs(spark, _corpus(0, 40))
        b2 = _docs(spark, _corpus(200, 240))
        idx.admit(b1, 0)
        idx.commit()
        idx.admit(b2, 1)
        idx.commit()
        batch = _docs(spark, _corpus(500, 540))
        got = _probe_set(idx.probe(batch))
        want = _exhaustive(spark, batch, b1.unionByName(b2))
        assert got == want

    def test_uncommitted_admission_invisible(self, spark, tmp_path):
        idx = NearDupIndex(str(tmp_path / "ndx"), num_buckets=8)
        idx.admit(_docs(spark, _corpus(0, 40)), 0)
        # no commit: probe must serve the last committed manifest (none)
        assert idx.probe(_docs(spark, _corpus(100, 140))).count() == 0
        idx.commit()
        assert idx.probe(_docs(spark, _corpus(100, 140))).count() > 0

    def test_partitioning_invariance(self, spark, tmp_path):
        idx = NearDupIndex(str(tmp_path / "ndx"), num_buckets=8)
        idx.admit(_docs(spark, _corpus(0, 60)), 0)
        idx.commit()
        batch = _docs(spark, _corpus(100, 140))
        assert _probe_set(idx.probe(batch)) == _probe_set(
            idx.probe(batch.repartition(7))
        )

    def test_compaction_preserves_results(self, spark, tmp_path):
        idx = NearDupIndex(str(tmp_path / "ndx"), num_buckets=4)
        idx.admit(_docs(spark, _corpus(0, 40)), 0)
        idx.commit()
        idx.admit(_docs(spark, _corpus(200, 240)), 1)
        idx.commit()
        batch = _docs(spark, _corpus(500, 540))
        before = _probe_set(idx.probe(batch))
        idx.compact(spark)
        assert all(len(chain) == 1 for chain in idx.store.chains().values())
        assert _probe_set(idx.probe(batch)) == before

    def test_geometry_change_resets(self, spark, tmp_path, caplog):
        root = str(tmp_path / "ndx")
        idx = NearDupIndex(root, num_buckets=8)
        idx.admit(_docs(spark, _corpus(0, 40)), 0)
        idx.commit()
        with caplog.at_level("WARNING", logger="atra_spark.operators.bucket_chain"):
            re = NearDupIndex(root, num_buckets=4)  # re-routes every bkey
        assert re.committed_batch is None
        assert any(
            "format/geometry mismatch" in r.getMessage() and "'num_buckets': (8, 4)" in r.getMessage()
            for r in caplog.records
        )
        re.rebuild(_docs(spark, _corpus(0, 40)))
        got = _probe_set(re.probe(_docs(spark, _corpus(100, 140))))
        want = _exhaustive(spark, _docs(spark, _corpus(100, 140)),
                           _docs(spark, _corpus(0, 40)))
        assert got == want

    def test_max_span_caps_hot_buckets(self, spark, tmp_path):
        """A cap bounds per-bucket compare work: results are a
        deterministic subset of the exact verdicts, and every returned
        row is still a true near-dup."""
        # 30 near-identical docs -> one hot band bucket per band
        hot = [(i, "the same sentence repeated for every document here "
                   f"variant {i % 2}") for i in range(30)]
        idx = NearDupIndex(str(tmp_path / "ndx"), num_buckets=4)
        idx.admit(_docs(spark, hot), 0)
        idx.commit()
        batch = _docs(spark, [(100, hot[0][1]), (101, hot[1][1])])
        exact = _probe_set(idx.probe(batch))
        capped = _probe_set(idx.probe(batch, max_span=3))
        capped2 = _probe_set(idx.probe(batch, max_span=3))
        assert capped == capped2  # deterministic under the cap
        assert {d for d, _, _ in capped} <= {d for d, _, _ in exact}
        for doc_id, dup_of, est in capped:
            assert est >= 0.7 and dup_of < 30

    def test_short_docs_absent(self, spark, tmp_path):
        idx = NearDupIndex(str(tmp_path / "ndx"), num_buckets=4)
        idx.admit(_docs(spark, _corpus(0, 40)), 0)
        idx.commit()
        out = idx.probe(_docs(spark, [(900, "two words"), (0, _corpus(0, 1)[0][1])]))
        ids = {r["doc_id"] for r in out.collect()}
        assert 900 not in ids  # < k tokens: no signature

    def test_probe_within_equals_exhaustive(self, spark, tmp_path):
        """Intra-batch keep-first flags == brute-force pairs against
        every SMALLER id with the same verdict rule."""
        batch = _docs(spark, _corpus(0, 60))
        idx = NearDupIndex(str(tmp_path / "ndx"), num_buckets=8)
        got = _probe_set(idx.probe_within(batch))
        sig = minhash_signatures(batch)
        eq = sum(
            F.when(F.col(f"a.h{i}") == F.col(f"b.h{i}"), 1).otherwise(0)
            for i in range(8)
        )
        pairs = (
            sig.alias("a")
            .crossJoin(sig.alias("b"))
            .filter(F.col("a.id") > F.col("b.id"))
            .select(
                F.col("a.id").alias("doc_id"),
                F.col("b.id").alias("dup_of"),
                eq.alias("n_eq"),
            )
            .filter(F.col("n_eq") >= 6)
        )
        from pyspark.sql import Window

        w = Window.partitionBy("doc_id").orderBy(
            F.col("n_eq").desc(), F.col("dup_of").asc()
        )
        want = {
            (r["doc_id"], r["dup_of"], r["n_eq"] / 8)
            for r in pairs.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .collect()
        }
        assert got == want and got


class TestNearDupPlanShape:
    def test_probe_never_shuffles_payloads(self, spark, tmp_path):
        """Only narrow band rows (bkey, id, signature) reach the
        probe's exchanges — the text column must not appear in any
        Exchange operator."""
        idx = NearDupIndex(str(tmp_path / "ndx"), num_buckets=4)
        idx.admit(_docs(spark, _corpus(0, 40)), 0)
        idx.commit()
        plan = (
            idx.probe(_docs(spark, _corpus(100, 120)))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
        assert exchanges and all("text" not in ln for ln in exchanges)


class TestStreamingDedupIngest:
    """foreachBatch fuzzy-dedup sink: later batches dedup against the
    survivors of earlier ones, flagged rows carry lineage, replays
    converge."""

    @staticmethod
    def _land(tmp_path, name, rows):
        import pyarrow as pa
        import pyarrow.parquet as pq

        landing = tmp_path / "landing"
        landing.mkdir(exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                    "text": [r[1] for r in rows],
                }
            ),
            str(landing / name),
        )
        return str(landing)

    def test_cross_batch_dedup_and_replay(self, spark, tmp_path):
        from atra_spark.streaming.ingest import run_dedup_ingest

        b0 = _corpus(0, 40)
        landing = self._land(tmp_path, "b0.parquet", b0)
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        ndx = str(tmp_path / "ndx")
        run_dedup_ingest(spark, landing, out, ckpt, ndx, num_buckets=4)
        clean0 = spark.read.parquet(f"{out}/clean").count()
        dups0 = {
            r["doc_id"]: r["dup_of"]
            for r in spark.read.parquet(f"{out}/dups").collect()
        }
        # in-batch keep-first: of the near-identical id%10==0 family
        # only the LOWEST id (0) survives; 10, 20, 30 are flagged to
        # an earlier family member
        assert set(dups0) == {10, 20, 30}
        assert all(d < k for k, d in dups0.items())
        assert clean0 == 40 - 3

        # drain again with the same checkpoint: nothing changes
        run_dedup_ingest(spark, landing, out, ckpt, ndx, num_buckets=4)
        assert spark.read.parquet(f"{out}/clean").count() == clean0

        # batch 2: near-dups of batch-1 SURVIVORS are flagged against
        # history, novel docs pass
        self._land(tmp_path, "b1.parquet", _corpus(100, 140))
        run_dedup_ingest(spark, landing, out, ckpt, ndx, num_buckets=4)
        dups1 = {
            r["doc_id"]: r["dup_of"]
            for r in spark.read.parquet(f"{out}/dups").collect()
            if r["doc_id"] >= 100
        }
        assert set(dups1) == {100, 110, 120, 130}
        assert all(d < 40 for d in dups1.values())  # lineage -> history
        assert spark.read.parquet(f"{out}/clean").count() == clean0 + 36


class TestNearDupIndexEconomics:
    def test_warm_probe_reads_only_new_delta(self, spark, tmp_path):
        """The O(batch) economics: after a probe warms the worker
        cache, admitting one delta and re-probing reads ONLY the new
        delta files, never the old chain. The chain loader runs
        driver-side here so the counting storage sees its reads (the
        pandas workers are separate processes)."""
        from atra_spark.operators.bucket_chain import _CHAIN_CACHE, load_chain
        from atra_spark.operators.neardup_index import _sort_by_bkey

        reads: list[str] = []

        class CountingStorage(LocalBucketStorage):
            def read_bytes(self, bucket: int, name: str) -> bytes:
                reads.append(name)
                return super().read_bytes(bucket, name)

        root = str(tmp_path / "ndx")
        idx = NearDupIndex(root, num_buckets=2,
                           storage=CountingStorage(root))
        idx.admit(_docs(spark, _corpus(0, 40)), 0)
        idx.commit()
        _CHAIN_CACHE.clear()
        for b, ch in idx.store.chains().items():
            load_chain(idx.store.storage, b, ch, _sort_by_bkey)  # cold: full chain
        idx.admit(_docs(spark, _corpus(200, 240)), 1)
        idx.commit()
        reads.clear()
        for b, ch in idx.store.chains().items():
            load_chain(idx.store.storage, b, ch, _sort_by_bkey)  # warm: tail only
        assert reads and all("_b00001" in n for n in reads), reads


class TestOnDiskCompatibility:
    """An index directory written by an earlier release of this code
    (``tests/fixtures/index_compat``, made by
    ``scripts/make_index_compat_fixtures.py``: 2 buckets, 2 batches, one
    compaction) opens with its committed batch intact, no reset, and
    answers probes as it did when it was written."""

    def test_committed_index_opens_without_reset(self, spark, tmp_path, caplog):
        fx = os.path.join(os.path.dirname(__file__), "fixtures", "index_compat")
        with open(os.path.join(fx, "neardup_index_expected.json")) as f:
            expected = json.load(f)
        root = str(tmp_path / "neardup_index")
        shutil.copytree(os.path.join(fx, "neardup_index"), root)
        with caplog.at_level("WARNING", logger="atra_spark.operators.bucket_chain"):
            idx = NearDupIndex(root, num_buckets=expected["num_buckets"])
        assert not caplog.records
        assert idx.committed_batch == expected["committed_batch"]
        batch = _docs(spark, [tuple(r) for r in expected["batch"]])
        got = sorted([r["doc_id"], r["dup_of"], r["est_jaccard"]] for r in idx.probe(batch).collect())
        assert got == expected["probe"]
