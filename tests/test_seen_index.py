"""SeenIndex: the persistent bucket-partitioned seen-set membership
index (exact 128-bit hash-pair lookup, operators/seen_index.py).

Contract under test (the RocksDB point-lookup analog,
atra/src/recrawl_management/mod.rs:62 + link_state/db.rs):
- prune_new(candidates) == candidates LEFT ANTI JOIN seen (exact:
  every candidate is looked up in its bucket's hash-pair delta chain)
- incremental: each round appends ONE delta per touched bucket and
  rewrites nothing else; nothing is ever rebuilt from scratch in the
  normal path
- persistent: a fresh SeenIndex over the same directory serves the
  same answers (resume contract)
- plan shape: the probe plan contains NO BroadcastExchange and no
  join against the seen table — one exchange on the bucket column
  feeding a single mapInPandas
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from atra_spark.operators.seen_index import SeenIndex


@pytest.fixture(autouse=True, params=["local"])
def bucket_storage_impl(request):
    """Every SeenIndex test runs on LocalBucketStorage, the bucket-chain
    store's one storage implementation; the ``[local]`` id suffix names
    it."""
    return request.param


def _urls_df(spark, urls):
    return spark.createDataFrame([(u,) for u in urls], "url string")


def _cands_df(spark, urls):
    return spark.createDataFrame(
        [(u, f"h{i % 3}.example", i % 4, i % 5, i) for i, u in enumerate(urls)],
        "url string, host string, depth_on_website long, "
        "distance_to_seed long, total_distance_to_seed long",
    )


SEEN = [f"https://s{i}.example/p{j}" for i in range(7) for j in range(40)]
NEW = [f"https://n{i}.example/q{j}" for i in range(5) for j in range(30)]


class TestSeenIndexCorrectness:
    def test_prune_matches_exact_antijoin(self, spark, tmp_path):
        idx = SeenIndex(str(tmp_path / "si"), num_buckets=8)
        idx.add_urls(_urls_df(spark, SEEN), 0)
        idx.commit()
        cands = _cands_df(spark, SEEN[::3] + NEW)  # mix seen + new
        got = sorted(r["url"] for r in idx.prune_new(cands).collect())
        assert got == sorted(NEW)
        # full candidate row survives untouched
        row = idx.prune_new(cands).filter(F.col("url") == NEW[0]).collect()[0]
        assert row["host"].endswith(".example") and row["total_distance_to_seed"] >= 0

    def test_incremental_rounds_and_persistence(self, spark, tmp_path):
        root = str(tmp_path / "si")
        idx = SeenIndex(root, num_buckets=8)
        idx.add_urls(_urls_df(spark, SEEN[:100]), 0)
        idx.commit()
        idx.add_urls(_urls_df(spark, SEEN[100:]), 1)
        idx.commit()
        # fresh instance over the same dir (resume)
        idx2 = SeenIndex(root, num_buckets=8)
        assert idx2.committed_round == 1
        got = sorted(r["url"] for r in idx2.prune_new(_cands_df(spark, SEEN + NEW)).collect())
        assert got == sorted(NEW)

    def test_uncommitted_round_is_invisible(self, spark, tmp_path):
        """A crashed round (files written, manifest not committed) must
        not drop candidates: probes serve the last committed manifest."""
        idx = SeenIndex(str(tmp_path / "si"), num_buckets=4)
        idx.add_urls(_urls_df(spark, SEEN[:50]), 0)
        idx.commit()
        idx.add_urls(_urls_df(spark, SEEN[50:100]), 1)  # NOT committed
        got = {r["url"] for r in idx.prune_new(_cands_df(spark, SEEN[:100])).collect()}
        assert got == set(SEEN[50:100])


class TestSeenIndexIncrementality:
    def test_delta_files_per_round_not_per_corpus(self, spark, tmp_path):
        """The write cost of round N is proportional to round N's new
        URLs, not |seen| (VERDICT r2 'What's wrong' #2): each round
        adds exactly one delta parquet to each touched bucket and
        rewrites nothing."""
        root = str(tmp_path / "si")
        idx = SeenIndex(root, num_buckets=4)
        idx.add_urls(_urls_df(spark, SEEN), 0)
        idx.commit()

        def _snapshot():
            # through the storage seam so the check is layout-agnostic
            # (bucket= dirs locally, flat prefixed keys on object store)
            return {b: idx.store.storage.list_bucket(b) for b in range(4)}

        before = _snapshot()
        # a round that touches exactly one URL -> exactly one bucket
        idx.add_urls(_urls_df(spark, ["https://lonely.example/x"]), 1)
        idx.commit()
        after = _snapshot()
        changed = [b for b in after if after[b] != before.get(b, [])]
        assert len(changed) == 1  # one bucket touched
        new_files = set(after[changed[0]]) - set(before[changed[0]])
        assert new_files == {"hashes_r00001.parquet"}
        # untouched buckets: byte-identical file lists (no rewrite)
        for b in after:
            if b != changed[0]:
                assert after[b] == before[b]

    def test_compaction_merges_chain_and_keeps_answers(self, spark, tmp_path):
        root = str(tmp_path / "si")
        idx = SeenIndex(root, num_buckets=4)
        for rnd in range(4):
            idx.add_urls(_urls_df(spark, SEEN[rnd * 70 : (rnd + 1) * 70]), rnd)
            idx.commit()
        idx.compact(spark)
        for chain in idx.store.chains().values():
            assert len(chain) == 1  # chain merged
        got = sorted(r["url"] for r in idx.prune_new(_cands_df(spark, SEEN + NEW)).collect())
        assert got == sorted(NEW)


class TestSeenIndexPlanShape:
    def test_no_broadcast_no_seen_side_join(self, spark, tmp_path):
        """VERDICT r2 item 4 'done' criterion: the probe plan must not
        broadcast bitmaps (no BroadcastExchange at all) and must not
        join/shuffle a seen relation — one exchange on the bucket
        column into one mapInPandas."""
        idx = SeenIndex(str(tmp_path / "si"), num_buckets=8)
        idx.add_urls(_urls_df(spark, SEEN), 0)
        idx.commit()
        plan = idx.prune_new(_cands_df(spark, NEW))._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan
        assert "Join" not in plan
        assert plan.count("Exchange") == 1
        assert "MapInPandas" in plan

    def test_driver_holds_no_bitmaps(self, spark, tmp_path):
        """Driver residency is file NAMES only, never index bytes, and
        the bucket layout is parquet deltas only."""
        idx = SeenIndex(str(tmp_path / "si"), num_buckets=8)
        idx.add_urls(_urls_df(spark, SEEN), 0)
        idx.commit()
        import json

        # the whole manifest (the only driver-side state) is tiny
        blob = json.dumps(idx.store.manifest)
        assert len(blob) < 8192
        assert "bloom" not in blob
        for chain in idx.store.chains().values():
            assert all(d.endswith(".parquet") for d in chain)
        for b in range(8):
            assert all(f.endswith(".parquet") for f in idx.store.storage.list_bucket(b))


class TestFormatMigration:
    def test_old_format_dir_auto_resets_for_rebuild(self, spark, tmp_path):
        """An index directory written by an older engine version (format
        != current) must not crash resume: the constructor drops the
        stale cache so committed_round is None and the engine's resume
        path rebuilds from the committed seen table."""
        import json
        import os

        root = str(tmp_path / "si")
        idx = SeenIndex(root, num_buckets=4)
        idx.add_urls(_urls_df(spark, SEEN[:20]), 0)
        idx.commit()
        # simulate the older on-disk format
        with open(os.path.join(root, "manifest.json")) as f:
            m = json.load(f)
        m["format"] = 1
        with open(os.path.join(root, "manifest.json"), "w") as f:
            json.dump(m, f)
        idx2 = SeenIndex(root, num_buckets=4)
        assert idx2.committed_round is None  # engine will rebuild()
        idx2.rebuild(_urls_df(spark, SEEN[:20]), 0)
        got = sorted(r["url"] for r in idx2.prune_new(_cands_df(spark, SEEN[:40])).collect())
        assert got == sorted(SEEN[20:40])


class TestStateLookup:
    """v3: the index serves the dequeue link-state check
    (polling.rs:180-204) — ``filter_by_state`` must agree with the
    seen-TABLE join path (``operators.frontier.filter_state``) on a
    randomized multi-round state history, including re-marked URLs
    (latest kind wins, the RocksDB merge-operator fold)."""

    def _history(self, spark, tmp_path):
        """3 rounds of state transitions over 120 URLs; returns
        (index, final_state dict url->kind)."""
        import random

        from atra_spark.schemas import (
            KIND_DISCOVERED,
            KIND_INTERNAL_ERROR,
            KIND_PROCESSED_AND_STORED,
        )

        rng = random.Random(7)
        urls = [f"https://h{i % 9}.example/p{i}" for i in range(120)]
        idx = SeenIndex(str(tmp_path / "si_state"), num_buckets=8)
        state: dict[str, int] = {}
        for rnd in range(3):
            rows = []
            for u in urls:
                if rnd == 0 or rng.random() < 0.4:
                    k = rng.choice(
                        [KIND_DISCOVERED, KIND_PROCESSED_AND_STORED, KIND_INTERNAL_ERROR]
                    )
                    rows.append((u, k))
                    state[u] = k
            idx.add_urls(
                spark.createDataFrame(rows, "url string, kind int"), rnd
            )
            idx.commit()
        return idx, state, urls

    def test_lookup_matches_table_join(self, spark, tmp_path):
        from atra_spark.operators.frontier import filter_state, filter_state_indexed
        from atra_spark.schemas import KIND_DISCOVERED

        idx, state, urls = self._history(spark, tmp_path)
        probe_urls = urls[::2] + [f"https://unknown{i}.example/x" for i in range(20)]
        frontier = _cands_df(spark, probe_urls)
        seen_tbl = spark.createDataFrame(
            [(u, k) for u, k in state.items()], "url string, kind int"
        )
        got = sorted(
            r["url"] for r in filter_state_indexed(frontier, idx, allow_recrawl=False).collect()
        )
        want = sorted(r["url"] for r in filter_state(frontier, seen_tbl).collect())
        assert got == want
        assert got  # non-degenerate: some DISCOVERED rows exist

    def test_lookup_recrawl_tags_match_table_join(self, spark, tmp_path):
        from atra_spark.operators.frontier import filter_state, filter_state_indexed

        idx, state, urls = self._history(spark, tmp_path)
        frontier = _cands_df(spark, urls)
        seen_tbl = spark.createDataFrame(
            [(u, k) for u, k in state.items()], "url string, kind int"
        )
        got = {
            (r["url"], r["is_recrawl"])
            for r in filter_state_indexed(frontier, idx, allow_recrawl=True).collect()
        }
        want = {
            (r["url"], r["is_recrawl"])
            for r in filter_state(frontier, seen_tbl, allow_recrawl=True).collect()
        }
        assert got == want
        assert any(t for _, t in got)  # some recrawl rows exist

    def test_latest_kind_wins_after_compaction(self, spark, tmp_path):
        """Re-marking a URL in a later round must override, and
        compaction must preserve the folded (latest) kind."""
        from atra_spark.schemas import KIND_DISCOVERED, KIND_PROCESSED_AND_STORED

        idx = SeenIndex(str(tmp_path / "si_fold"), num_buckets=4)
        idx.add_urls(
            spark.createDataFrame(
                [(u, KIND_DISCOVERED) for u in SEEN[:30]], "url string, kind int"
            ),
            0,
        )
        idx.commit()
        idx.add_urls(
            spark.createDataFrame(
                [(u, KIND_PROCESSED_AND_STORED) for u in SEEN[:15]], "url string, kind int"
            ),
            1,
        )
        idx.commit()
        frontier = _cands_df(spark, SEEN[:30])
        before = sorted(
            r["url"]
            for r in idx.filter_by_state(frontier, (KIND_DISCOVERED,)).collect()
        )
        assert before == sorted(SEEN[15:30])
        idx.compact(spark)
        after = sorted(
            r["url"]
            for r in idx.filter_by_state(frontier, (KIND_DISCOVERED,)).collect()
        )
        assert after == before
        # pure lookup mode returns every row with a nullable kind
        all_rows = idx.filter_by_state(
            _cands_df(spark, SEEN[:30] + NEW[:5]), None, with_kind=True
        ).collect()
        assert len(all_rows) == 35
        kinds = {r["url"]: r["kind"] for r in all_rows}
        assert kinds[SEEN[0]] == KIND_PROCESSED_AND_STORED
        assert kinds[SEEN[20]] == KIND_DISCOVERED
        assert all(kinds[u] is None for u in NEW[:5])

    def test_state_probe_plan_no_seen_join(self, spark, tmp_path):
        """The state lookup keeps prune_new's plan economics: no
        broadcast, no join against a seen relation, one exchange into
        one mapInPandas."""
        idx = SeenIndex(str(tmp_path / "si_plan"), num_buckets=8)
        idx.add_urls(_urls_df(spark, SEEN), 0)
        idx.commit()
        plan = (
            idx.filter_by_state(_cands_df(spark, SEEN[:50]), (0,))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastExchange" not in plan
        assert "Join" not in plan
        assert plan.count("Exchange") == 1
        assert "MapInPandas" in plan


class TestBucketGeometryMigration:
    def test_num_buckets_mismatch_resets_for_rebuild(self, spark, tmp_path, caplog):
        """Reopening an index with a different bucket count must not
        serve stale routing (seen URLs would probe as new and be
        re-crawled): the constructor drops the cache, naming the
        mismatch in a warning, so the engine's resume path rebuilds
        under the requested geometry."""
        root = str(tmp_path / "si_nb")
        idx = SeenIndex(root, num_buckets=4)
        idx.add_urls(_urls_df(spark, SEEN[:20]), 0)
        idx.commit()
        with caplog.at_level("WARNING", logger="atra_spark.operators.bucket_chain"):
            idx2 = SeenIndex(root, num_buckets=8)
        assert idx2.committed_round is None  # engine will rebuild()
        assert any(
            "format/geometry mismatch" in r.getMessage() and "'num_buckets': (4, 8)" in r.getMessage()
            for r in caplog.records
        )
        idx2.rebuild(_urls_df(spark, SEEN[:20]), 0)
        got = sorted(r["url"] for r in idx2.prune_new(_cands_df(spark, SEEN[:40])).collect())
        assert got == sorted(SEEN[20:40])

    def test_old_format_with_different_bloom_bits_resets_not_raises(
        self, spark, tmp_path
    ):
        """A v3 manifest (per-bucket filter bitmaps: ``bloom_bits`` plus a
        ``bloom`` file per bucket) is an older format: it auto-migrates
        through the reset path instead of raising (ADVICE r3)."""
        import json as _json
        import os as _os

        root = str(tmp_path / "si_fmt_bits")
        idx = SeenIndex(root, num_buckets=4)
        idx.add_urls(_urls_df(spark, SEEN[:10]), 0)
        idx.commit()
        with open(_os.path.join(root, "manifest.json")) as f:
            m = _json.load(f)
        m["format"] = 3
        m["bloom_bits"] = 1 << 10
        for b, ent in m["buckets"].items():
            ent["bloom"] = "bloom_r00000.bin"
            idx.store.storage.write_bytes(int(b), "bloom_r00000.bin", b"\0" * 128)
        with open(_os.path.join(root, "manifest.json"), "w") as f:
            _json.dump(m, f)
        idx2 = SeenIndex(root, num_buckets=4)  # no raise
        assert idx2.committed_round is None
        assert all(not idx2.store.storage.list_bucket(b) for b in range(4))


class TestStorageSeamAndDistributedCompact:
    """VERDICT r3 #5: all bucket-object I/O goes through the
    LocalBucketStorage seam, and compaction runs as a distributed
    per-bucket Spark job whose bases equal the chain fold."""

    def test_distributed_compact_equals_driver_chain_fold(self, spark, tmp_path):
        """Each compacted base holds exactly the driver-side fold of
        the chain it replaced (latest kind per hash pair)."""
        from atra_spark.operators.bucket_chain import read_columns
        from atra_spark.operators.seen_index import _dedup_last
        from atra_spark.schemas import KIND_DISCOVERED, KIND_PROCESSED_AND_STORED

        root = str(tmp_path / "si_dist")
        idx = SeenIndex(root, num_buckets=4)
        for rnd in range(4):
            rows = [
                (u, KIND_PROCESSED_AND_STORED if rnd == 3 and i % 2 else KIND_DISCOVERED)
                for i, u in enumerate(SEEN[rnd * 70 : (rnd + 1) * 70])
            ]
            idx.add_urls(spark.createDataFrame(rows, "url string, kind int"), rnd)
            idx.commit()
        storage = idx.store.storage
        want = {}
        for b, chain in idx.store.chains().items():
            parts = [read_columns(storage, b, name) for name in chain]
            want[b] = _dedup_last({c: np.concatenate([p[c] for p in parts]) for c in parts[0]})
        idx.compact(spark)
        for b, chain in idx.store.chains().items():
            assert chain == ("hashes_base_r00003.parquet",), b
            assert storage.list_bucket(b) == list(chain), b
            got = read_columns(storage, b, chain[0])
            assert list(got) == ["h1", "h2", "kind"]
            for c in got:
                assert np.array_equal(got[c], want[b][c]), (b, c)
        got = sorted(r["url"] for r in idx.prune_new(_cands_df(spark, SEEN + NEW)).collect())
        assert got == sorted(NEW)

    def test_compact_preserves_latest_kind(self, spark, tmp_path):
        from atra_spark.schemas import KIND_DISCOVERED, KIND_PROCESSED_AND_STORED

        root = str(tmp_path / "si_kindc")
        idx = SeenIndex(root, num_buckets=4)
        idx.add_urls(
            spark.createDataFrame(
                [(u, KIND_DISCOVERED) for u in SEEN[:40]], "url string, kind int"
            ), 0,
        )
        idx.commit()
        idx.add_urls(
            spark.createDataFrame(
                [(u, KIND_PROCESSED_AND_STORED) for u in SEEN[:20]], "url string, kind int"
            ), 1,
        )
        idx.commit()
        idx.compact(spark)
        rows = idx.filter_by_state(
            _cands_df(spark, SEEN[:40]), None, with_kind=True
        ).collect()
        kinds = {r["url"]: r["kind"] for r in rows}
        assert all(kinds[u] == KIND_PROCESSED_AND_STORED for u in SEEN[:20])
        assert all(kinds[u] == KIND_DISCOVERED for u in SEEN[20:40])

    def test_all_io_routes_through_storage(self, spark, tmp_path):
        """No direct file I/O outside the seam: a storage subclass that
        logs every call to a file (so the Python workers' calls are
        visible to the driver) sees each delta written by ``add_urls``,
        each chain file the probe reads, and the compaction's base
        writes and sweep."""
        from atra_spark.operators.bucket_chain import LocalBucketStorage

        log = str(tmp_path / "io.log")

        class CountingStorage(LocalBucketStorage):
            def _log(self, op, bucket, name):
                with open(log, "a") as f:
                    f.write(f"{op} {bucket} {name}\n")

            def read_bytes(self, bucket, name):
                self._log("read", bucket, name)
                return super().read_bytes(bucket, name)

            def write_bytes(self, bucket, name, data):
                self._log("write", bucket, name)
                super().write_bytes(bucket, name, data)

            def remove(self, bucket, name):
                self._log("remove", bucket, name)
                super().remove(bucket, name)

        def calls():
            with open(log) as f:
                lines = [ln.split() for ln in f]
            os.remove(log)
            return sorted((op, int(b), name) for op, b, name in lines)

        root = str(tmp_path / "si_count")
        idx = SeenIndex(root, num_buckets=4, storage=CountingStorage(root))
        for rnd in range(2):
            idx.add_urls(_urls_df(spark, SEEN[rnd * 60 : (rnd + 1) * 60]), rnd)
            idx.commit()
        chains = idx.store.chains()
        assert set(chains) == set(range(4))
        assert all(len(chain) == 2 for chain in chains.values())
        assert calls() == sorted(
            ("write", b, name) for b, chain in chains.items() for name in chain
        )
        got = idx.prune_new(_cands_df(spark, SEEN[:120] + NEW[:20])).collect()
        assert sorted(r["url"] for r in got) == sorted(NEW[:20])
        assert set(calls()) == {("read", b, name) for b, chain in chains.items() for name in chain}
        idx.compact(spark)
        assert calls() == sorted(
            [(op, b, name) for b, chain in chains.items() for name in chain for op in ("read", "remove")]
            + [("write", b, "hashes_base_r00001.parquet") for b in chains]
        )


class TestTwoPhaseCompaction:
    """ADVICE r5 (medium): compaction must publish the new manifest
    BEFORE deleting superseded chain files, so a crash mid-compaction
    can never leave a committed manifest referencing deleted files."""

    def test_bucket_fold_is_write_only(self, spark, tmp_path):
        from atra_spark.operators.bucket_chain import fold_bucket
        from atra_spark.operators.seen_index import _dedup_last

        root = str(tmp_path / "si")
        idx = SeenIndex(root, num_buckets=2)
        for rnd in range(3):
            idx.add_urls(_urls_df(spark, SEEN[rnd * 50 : (rnd + 1) * 50]), rnd)
            idx.commit()
        # simulate the crash window: run ONLY the per-bucket fold (what
        # executor tasks do), no manifest publish, no GC
        for b, chain in idx.store.chains().items():
            fold_bucket(
                idx.store.storage, b, list(chain), "hashes_base_r00002.parquet", _dedup_last
            )
        # the committed manifest's chain files must all still exist -> a
        # fresh index over the same root probes correctly
        idx2 = SeenIndex(root, num_buckets=2)
        got = sorted(
            r["url"] for r in idx2.prune_new(_cands_df(spark, SEEN[:150] + NEW)).collect()
        )
        assert got == sorted(NEW)

    def test_gc_after_publish_leaves_no_orphans(self, spark, tmp_path):
        root = str(tmp_path / "si")
        idx = SeenIndex(root, num_buckets=2)
        for rnd in range(3):
            idx.add_urls(_urls_df(spark, SEEN[rnd * 50 : (rnd + 1) * 50]), rnd)
            idx.commit()
        # leave a stale pre-fold base around (the crash-between-publish-
        # and-GC artifact) and compact: the sweep must remove it
        idx.store.storage.write_bytes(0, "hashes_base_r00000.parquet", b"junk")
        idx.compact(spark)
        for b, chain in idx.store.chains().items():
            files = [
                f for f in idx.store.storage.list_bucket(b)
                if f.startswith("hashes")
            ]
            assert files == list(chain)  # exactly the live base
        got = sorted(
            r["url"] for r in idx.prune_new(_cands_df(spark, SEEN[:150] + NEW)).collect()
        )
        assert got == sorted(NEW)


class TestOnDiskCompatibility:
    """An index directory written by an earlier release of this code
    (``tests/fixtures/index_compat``, made by
    ``scripts/make_index_compat_fixtures.py``: 2 buckets, 2 rounds, one
    compaction) opens with its committed round intact, no reset, and
    serves the answers recorded when it was written."""

    def test_committed_index_opens_without_reset(self, spark, tmp_path, caplog):
        fx = os.path.join(os.path.dirname(__file__), "fixtures", "index_compat")
        with open(os.path.join(fx, "seen_index_expected.json")) as f:
            expected = json.load(f)
        root = str(tmp_path / "seen_index")
        shutil.copytree(os.path.join(fx, "seen_index"), root)
        with open(os.path.join(root, "manifest.json")) as f:
            manifest = f.read()
        with caplog.at_level("WARNING", logger="atra_spark.operators.bucket_chain"):
            idx = SeenIndex(root, num_buckets=expected["num_buckets"])
        assert not caplog.records
        assert idx.committed_round == expected["committed_round"]
        cands = _urls_df(spark, expected["candidates"])
        assert sorted(r["url"] for r in idx.prune_new(cands).collect()) == expected["prune_new"]
        kinds = {
            r["url"]: r["kind"]
            for r in idx.filter_by_state(cands, None, with_kind=True).collect()
        }
        assert kinds == expected["kinds"]
        with open(os.path.join(root, "manifest.json")) as f:
            assert f.read() == manifest
