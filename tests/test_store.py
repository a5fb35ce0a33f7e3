"""Checkpoint store: snapshots, time travel, append-log union."""

import pytest

from atra_spark.sources.store import CheckpointStore


def test_snapshot_roundtrip_and_time_travel(spark, tmp_path):
    store = CheckpointStore(str(tmp_path), num_buckets=4)
    df0 = spark.createDataFrame([("a", 1)], "k string, v int")
    df1 = spark.createDataFrame([("b", 2)], "k string, v int")
    store.write_snapshot("t", df0, 0)
    store.write_snapshot("t", df1, 1)
    assert store.latest_round("t") == 1
    assert store.read_snapshot(spark, "t").collect()[0]["k"] == "b"
    assert store.read_snapshot(spark, "t", 0).collect()[0]["k"] == "a"  # time travel
    assert store.read_snapshot(spark, "t", 7) is None


def test_union_reads_all_snapshots(spark, tmp_path):
    store = CheckpointStore(str(tmp_path), num_buckets=4)
    for i in range(3):
        store.write_snapshot("log", spark.createDataFrame([(i,)], "v int"), i)
    assert sorted(r["v"] for r in store.read_union(spark, "log").collect()) == [0, 1, 2]


def test_missing_table(spark, tmp_path):
    store = CheckpointStore(str(tmp_path))
    assert store.read_snapshot(spark, "nope") is None
    assert store.latest_round("nope") is None


def test_overwrite_same_round_is_idempotent(spark, tmp_path):
    store = CheckpointStore(str(tmp_path), num_buckets=4)
    store.write_snapshot("t", spark.createDataFrame([(1,)], "v int"), 0)
    store.write_snapshot("t", spark.createDataFrame([(2,)], "v int"), 0)
    rows = store.read_snapshot(spark, "t").collect()
    assert [r["v"] for r in rows] == [2]
    assert store.latest_round("t") == 0


def test_bucketed_write(spark, tmp_path):
    store = CheckpointStore(str(tmp_path), num_buckets=4)
    df = spark.range(100).selectExpr("concat('h', id % 10) as host", "id as v")
    store.write_snapshot("b", df, 0, bucket_by="host")
    assert store.read_snapshot(spark, "b").count() == 100


class TestViewDump:
    """VIEW/DUMP tooling over the store (app/view.rs, app/dump.rs)."""

    @pytest.fixture(scope="class")
    def filled(self, spark, tmp_path_factory):
        from atra_spark.plans.view import dump_table, table_summary, view_table

        store = CheckpointStore(str(tmp_path_factory.mktemp("vd")), num_buckets=4)
        rows = [
            ("https://a.example/1", "a.example", 200),
            ("https://a.example/2", "a.example", 404),
            ("https://b.example/1", "b.example", 200),
        ]
        df = spark.createDataFrame(rows, "url string, host string, status int")
        store.write_snapshot("results", df, 0)
        store.write_snapshot("results", df.filter("status = 200"), 1)
        return store

    def test_view_filters(self, spark, filled):
        from atra_spark.plans.view import view_table

        assert view_table(spark, filled, "results").count() == 5  # union of rounds
        assert view_table(spark, filled, "results", round_no=1).count() == 2
        got = view_table(spark, filled, "results", host="a.example").count()
        assert got == 3
        assert view_table(spark, filled, "results", url_like="%/1").count() == 4
        with pytest.raises(ValueError):
            view_table(spark, filled, "nope")

    def test_summary_lineage(self, filled):
        from atra_spark.plans.view import table_summary

        s = table_summary(filled)
        by_round = {(e["table"], e["round"]): e["rows"] for e in s}
        assert by_round[("results", 0)] == 3 and by_round[("results", 1)] == 2

    def test_dump_jsonl_and_csv(self, spark, filled, tmp_path):
        import json
        import os

        from atra_spark.plans.view import dump_table

        n = dump_table(spark, filled, "results", str(tmp_path / "r.jsonl"), "jsonl", round_no=0)
        assert n == 3
        lines = []
        for f in os.listdir(tmp_path / "r.jsonl"):
            if f.startswith("part-"):
                lines += open(tmp_path / "r.jsonl" / f).read().splitlines()
        assert len(lines) == 3 and json.loads(lines[0])["url"].startswith("https://")
        n2 = dump_table(spark, filled, "results", str(tmp_path / "r.csv"), "csv", round_no=1)
        assert n2 == 2


class TestSeenDeltas:
    """Merge-on-read seen maintenance (VERDICT r2 'What's wrong' #2):
    per-round commits are deltas, reads compose via compose_seen, and
    the composition must equal folding merge_seen round by round."""

    SCHEMA = (
        "url string, host string, kind int, last_significant_kind int, "
        "recrawl boolean, is_seed boolean, ts timestamp, depth_on_website long, "
        "distance_to_seed long, total_distance_to_seed long"
    )

    def _rows(self, spec, ts0):
        """spec: list of (url, kind, lsk, is_seed)."""
        from datetime import timedelta

        return [
            (u, f"h{abs(hash(u)) % 3}.example", k, lsk, False, seed,
             ts0 + timedelta(seconds=i), i % 3, i % 2, i)
            for i, (u, k, lsk, seed) in enumerate(spec)
        ]

    def test_compose_equals_iterated_merge(self, spark):
        """Randomized sequences incl. Unset(254) operands and repeated
        urls: compose_seen(base, deltas) == merge_seen folded."""
        import random
        from datetime import datetime, timezone

        from atra_spark.operators.seen import compose_seen, merge_seen

        rng = random.Random(42)
        ts0 = datetime(2026, 1, 1, tzinfo=timezone.utc)
        urls = [f"https://u{i}.example/" for i in range(12)]
        base_spec = [(u, rng.choice([0, 3, 8]), 254, rng.random() < 0.3) for u in urls[:8]]
        base = spark.createDataFrame(self._rows(base_spec, ts0), self.SCHEMA)
        deltas = []
        for rnd in range(1, 4):
            picked = rng.sample(urls, rng.randint(2, 6))
            spec = [
                (u, rng.choice([0, 3, 8, 254]), 254, rng.random() < 0.2) for u in picked
            ]
            deltas.append((rnd, spark.createDataFrame(self._rows(spec, ts0), self.SCHEMA)))

        folded = base
        for _, d in deltas:
            folded = merge_seen(folded, d)
        composed = compose_seen(base, deltas)

        key = lambda r: r["url"]
        f_rows = sorted(folded.collect(), key=key)
        c_rows = sorted(composed.collect(), key=key)
        assert [tuple(r) for r in f_rows] == [tuple(r) for r in c_rows]

    def test_store_delta_roundtrip_and_compaction(self, spark, tmp_path):
        from datetime import datetime, timezone

        from atra_spark.sources.store import CheckpointStore

        ts0 = datetime(2026, 1, 1, tzinfo=timezone.utc)
        store = CheckpointStore(str(tmp_path / "st"), num_buckets=4)
        base = spark.createDataFrame(
            self._rows([("https://a/", 0, 254, True), ("https://b/", 0, 254, False)], ts0),
            self.SCHEMA,
        )
        store.write_snapshot("seen", base, 0, bucket_by="host")
        upd = spark.createDataFrame(
            self._rows([("https://a/", 3, 254, False), ("https://c/", 0, 254, False)], ts0),
            self.SCHEMA,
        )
        store.write_delta("seen", upd, 1, bucket_by="host")
        got = {r["url"]: (r["kind"], r["last_significant_kind"], r["is_seed"])
               for r in store.read_snapshot(spark, "seen").collect()}
        assert got["https://a/"] == (3, 0, True)  # updated; lsk=prev kind; seed sticky
        assert got["https://b/"] == (0, 254, False)
        assert got["https://c/"] == (0, 254, False)  # new url keeps own lsk
        # time travel to round 0 = base only
        got0 = {r["url"] for r in store.read_snapshot(spark, "seen", 0).collect()}
        assert got0 == {"https://a/", "https://b/"}
        # delta files contain ONLY the round's updates (O(updates) writes)
        import pyarrow.dataset as pads

        assert pads.dataset(str(tmp_path / "st/seen/d00001"), format="parquet").count_rows() == 2
        # compaction burns the fold into a base; answers unchanged
        store.compact_table(spark, "seen", bucket_by="host")
        snaps = store._load_manifest("seen")["snapshots"]
        assert snaps[-1].get("kind") != "delta"
        got2 = {r["url"]: (r["kind"], r["last_significant_kind"], r["is_seed"])
                for r in store.read_snapshot(spark, "seen").collect()}
        assert got2 == got

    def test_repeat_compaction_is_noop_not_self_overwrite(self, spark, tmp_path):
        """A second compact_table call with no NEW deltas must be a
        no-op (ADVICE r3): stale delta entries below the latest base
        must not re-trigger a read-and-overwrite of the same parquet
        path (self-overwrite corruption)."""
        from datetime import datetime, timezone

        from atra_spark.sources.store import CheckpointStore

        ts0 = datetime(2026, 1, 1, tzinfo=timezone.utc)
        store = CheckpointStore(str(tmp_path / "st2"), num_buckets=4)
        base = spark.createDataFrame(
            self._rows([("https://a/", 0, 254, True)], ts0), self.SCHEMA
        )
        store.write_snapshot("seen", base, 0, bucket_by="host")
        upd = spark.createDataFrame(
            self._rows([("https://b/", 0, 254, False)], ts0), self.SCHEMA
        )
        store.write_delta("seen", upd, 1, bucket_by="host")
        assert store.compact_table(spark, "seen", bucket_by="host") is not None
        # second call: latest snapshot is already a base -> no-op
        assert store.compact_table(spark, "seen", bucket_by="host") is None
        got = {r["url"] for r in store.read_snapshot(spark, "seen").collect()}
        assert got == {"https://a/", "https://b/"}
        # a NEW delta after compaction re-enables compaction
        upd2 = spark.createDataFrame(
            self._rows([("https://c/", 0, 254, False)], ts0), self.SCHEMA
        )
        store.write_delta("seen", upd2, 2, bucket_by="host")
        assert store.compact_table(spark, "seen", bucket_by="host") is not None
        got2 = {r["url"] for r in store.read_snapshot(spark, "seen").collect()}
        assert got2 == {"https://a/", "https://b/", "https://c/"}

    def test_post_compaction_read_is_window_free(self, spark, tmp_path):
        """Compose-chain guardrail (VERDICT r3 #9): after compaction
        the latest read must be a plain base scan — no window fold in
        the plan — so the merge-on-read economics can't silently
        regress."""
        from datetime import datetime, timezone

        from atra_spark.sources.store import CheckpointStore

        ts0 = datetime(2026, 1, 1, tzinfo=timezone.utc)
        store = CheckpointStore(str(tmp_path / "st3"), num_buckets=4)
        base = spark.createDataFrame(
            self._rows([("https://a/", 0, 254, True)], ts0), self.SCHEMA
        )
        store.write_snapshot("seen", base, 0, bucket_by="host")
        store.write_delta(
            "seen",
            spark.createDataFrame(
                self._rows([("https://b/", 0, 254, False)], ts0), self.SCHEMA
            ),
            1,
            bucket_by="host",
        )
        before = (
            store.read_snapshot(spark, "seen")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Window" in before  # the delta chain composes via the window fold
        store.compact_table(spark, "seen", bucket_by="host")
        after = (
            store.read_snapshot(spark, "seen")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Window" not in after and "Union" not in after


class TestRoundLoopSeenEconomics:
    """VERDICT r3 'What's wrong' #1 regression gates: the round loop
    must never read the composed seen TABLE (the state check is served
    by the bucketed SeenIndex), and the uncompacted delta chain must
    stay bounded by seen_compact_every."""

    def _engine(self, spark, tmp_path, compact_every=2, max_rounds=6):
        from atra_spark.config import CrawlConfig
        from atra_spark.plans.crawl import CrawlEngine
        from atra_spark.sources.fixtures import ensure_fixtures
        from atra_spark.sources.store import CheckpointStore
        from atra_spark.urlkit import NORMAL, UNBOUNDED_DISTANCE, Budget

        paths = ensure_fixtures(
            str(tmp_path / "fix"), n_pages=120, n_hosts=6,
            body_paragraphs=2, links_range=(3, 6),
        )
        cfg = CrawlConfig(
            default_budget=Budget(
                kind=NORMAL, depth_on_website=0, distance_to_seed=UNBOUNDED_DISTANCE
            ),
            delay_ms=1,
            round_budget_ms=60_000,
            max_rounds=max_rounds,
            seen_compact_every=compact_every,
            audit_tables=False,
        )
        store = CheckpointStore(str(tmp_path / "store"), num_buckets=4)
        eng = CrawlEngine(spark, store, cfg, paths["pages"], paths["robots"], num_buckets=4)
        return eng, store, paths

    def test_run_round_never_reads_seen_table(self, spark, tmp_path):
        # compaction disabled: the every-k-rounds compact_table call is
        # the one legitimate (amortized) composed-seen read; the round
        # loop itself must do zero
        eng, store, paths = self._engine(spark, tmp_path, compact_every=0)
        reads: list[str] = []
        orig = store.read_snapshot

        def spying_read(spark_, table, round_no=None):
            reads.append(table)
            return orig(spark_, table, round_no)

        store.read_snapshot = spying_read
        import duckdb

        seeds = [
            r[0]
            for r in duckdb.sql(
                f"SELECT min(url) FROM read_parquet('{paths['pages']}') "
                "GROUP BY regexp_extract(url, '://([^/]+)', 1)"
            ).fetchall()
        ]
        eng.seed(seeds)
        reads.clear()
        eng.run_round(0)
        eng.run_round(1)
        assert "seen" not in reads, (
            "round loop read the composed seen table — the state check "
            f"must be served by the SeenIndex (reads: {reads})"
        )

    def test_uncompacted_delta_chain_stays_bounded(self, spark, tmp_path):
        compact_every = 2
        eng, store, paths = self._engine(spark, tmp_path, compact_every=compact_every)
        import duckdb

        seeds = [
            r[0]
            for r in duckdb.sql(
                f"SELECT min(url) FROM read_parquet('{paths['pages']}') "
                "GROUP BY regexp_extract(url, '://([^/]+)', 1)"
            ).fetchall()
        ]
        eng.seed(seeds)
        for rnd in range(4):
            eng.run_round(rnd)
            snaps = store._load_manifest("seen")["snapshots"]
            bases = [s for s in snaps if s.get("kind") != "delta"]
            last_base = bases[-1]["round"] if bases else -1
            open_deltas = [
                s for s in snaps if s.get("kind") == "delta" and s["round"] > last_base
            ]
            assert len(open_deltas) <= compact_every, (
                f"round {rnd}: {len(open_deltas)} uncompacted deltas > "
                f"seen_compact_every={compact_every}"
            )
        # and the engine's crawl answers survive: composed state equals
        # what the SeenIndex served (every fetched URL marked processed)
        seen = store.read_snapshot(spark, "seen")
        from pyspark.sql import functions as F
        from atra_spark.schemas import KIND_PROCESSED_AND_STORED

        n_processed = seen.filter(F.col("kind") == KIND_PROCESSED_AND_STORED).count()
        assert n_processed > 0


class TestExpireSnapshots:
    def test_expire_keeps_current_state_and_tail(self, spark, tmp_path):
        from atra_spark.sources.store import CheckpointStore

        store = CheckpointStore(str(tmp_path / "s"), num_buckets=2)
        store.register_combiner("t", lambda base, deltas: (
            (base.unionByName(deltas[0][1]) if base is not None else deltas[0][1])
            if len(deltas) == 1 else None
        ))
        # rounds: base 1, base 2, base 3, delta 4
        for rnd in (1, 2, 3):
            store.write_snapshot("t", spark.createDataFrame([(rnd,)], "v long"), rnd)
        store.write_delta("t", spark.createDataFrame([(4,)], "v long"), 4)

        expired = store.expire_snapshots("t", keep_last_n=2)
        # last base (3) + its delta (4) protected; keep_last_n covers
        # them too; rounds 1 and 2 expire
        assert expired == [1, 2]
        snaps = store._load_manifest("t")["snapshots"]
        assert [s["round"] for s in snaps] == [3, 4]
        # current composed state unaffected
        got = sorted(r["v"] for r in store.read_snapshot(spark, "t").collect())
        assert got == [3, 4]
        # expired rounds gone from disk AND manifest
        import os
        assert not os.path.exists(os.path.join(str(tmp_path / "s"), "t", "r00001"))
        assert store.read_snapshot(spark, "t", 1) is None

    def test_expire_never_breaks_delta_chain(self, spark, tmp_path):
        """Deltas after the last base must survive ANY keep_last_n."""
        from atra_spark.sources.store import CheckpointStore
        from atra_spark.operators.seen import compose_seen  # noqa: F401

        store = CheckpointStore(str(tmp_path / "s"), num_buckets=2)
        store.register_combiner("t", lambda base, deltas: _union_all(base, deltas))

        def _union_all(base, deltas):
            dfs = ([base] if base is not None else []) + [d for _, d in deltas]
            out = dfs[0]
            for d in dfs[1:]:
                out = out.unionByName(d)
            return out

        store.write_snapshot("t", spark.createDataFrame([(1,)], "v long"), 1)
        for rnd in (2, 3, 4, 5):
            store.write_delta("t", spark.createDataFrame([(rnd,)], "v long"), rnd)
        expired = store.expire_snapshots("t", keep_last_n=1)
        assert expired == []  # base 1 is the LAST base: everything protected
        got = sorted(r["v"] for r in store.read_snapshot(spark, "t").collect())
        assert got == [1, 2, 3, 4, 5]

    def test_expire_idempotent(self, spark, tmp_path):
        from atra_spark.sources.store import CheckpointStore

        store = CheckpointStore(str(tmp_path / "s"), num_buckets=2)
        for rnd in (1, 2, 3):
            store.write_snapshot("t", spark.createDataFrame([(rnd,)], "v long"), rnd)
        assert store.expire_snapshots("t", keep_last_n=1) == [1, 2]
        assert store.expire_snapshots("t", keep_last_n=1) == []


class TestExpireContractRegressions:
    """Pins for the round-4 review findings on expire_snapshots."""

    def _union_combiner(self):
        def fn(base, deltas):
            dfs = ([base] if base is not None else []) + [d for _, d in deltas]
            out = dfs[0]
            for d in dfs[1:]:
                out = out.unionByName(d)
            return out
        return fn

    def test_kept_delta_keeps_its_serving_base(self, spark, tmp_path):
        """Manifest [base@5, delta@6, base@7]: round 6 is in the keep
        tail, so base@5 (its serving base) must survive — a delta-only
        time travel would silently drop base 5's rows."""
        from atra_spark.sources.store import CheckpointStore

        store = CheckpointStore(str(tmp_path / "s"), num_buckets=2)
        store.register_combiner("t", self._union_combiner())
        store.write_snapshot("t", spark.createDataFrame([(5,)], "v long"), 5)
        store.write_delta("t", spark.createDataFrame([(6,)], "v long"), 6)
        store.write_snapshot("t", spark.createDataFrame([(5,), (6,), (7,)], "v long"), 7)
        expired = store.expire_snapshots("t", keep_last_n=2)
        assert expired == []  # base@5 serves kept round 6: nothing expirable
        got = sorted(r["v"] for r in store.read_snapshot(spark, "t", 6).collect())
        assert got == [5, 6], "time travel to round 6 must include base 5"

    def test_union_log_tables_refused(self, spark, tmp_path):
        from atra_spark.sources.store import CheckpointStore

        store = CheckpointStore(str(tmp_path / "s"), num_buckets=2)
        for rnd in (1, 2, 3):
            store.write_snapshot("results", spark.createDataFrame([(rnd,)], "v long"), rnd)
        import pytest as _pytest
        with _pytest.raises(ValueError, match="append log"):
            store.expire_snapshots("results", keep_last_n=1)
        # all rounds intact
        assert [s["round"] for s in store._load_manifest("results")["snapshots"]] == [1, 2, 3]


def test_fixture_cache_from_older_format_regenerates(tmp_path):
    """A cached fixture dir written under an older format marker holds a
    config.json with fields CrawlConfig no longer has; ensure_fixtures
    must regenerate it rather than hand that file to from_json (which
    rejects unknown keys instead of dropping them)."""
    import json

    from atra_spark.config import CrawlConfig
    from atra_spark.sources.fixtures import FIXTURE_FORMAT_VERSION, ensure_fixtures

    out = tmp_path / "fx"
    out.mkdir()
    (out / f".done_v{FIXTURE_FORMAT_VERSION - 1}_20_2_1_5-30").write_text("ok")
    stale = json.loads(CrawlConfig().to_json())
    stale["retired_option"] = False
    (out / "config.json").write_text(json.dumps(stale))
    with pytest.raises(TypeError):
        CrawlConfig.from_json((out / "config.json").read_text())

    paths = ensure_fixtures(str(out), n_pages=20, n_hosts=2)
    with open(paths["config"]) as f:
        cfg = CrawlConfig.from_json(f.read())
    assert cfg.blacklist  # the fixture config, not the default
