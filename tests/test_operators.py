"""Spark operator tests: seen-merge semantics,
candidate aggregation, admission filters, politeness admission."""

import datetime

import pytest
from pyspark.sql import functions as F

from atra_spark.config import CrawlConfig
from atra_spark.operators.frontier import (
    filter_age,
    filter_blacklist,
    filter_budget,
    filter_robots,
    parse_robots,
)
from atra_spark.operators.politeness import admit_window
from atra_spark.operators.seen import aggregate_candidates, merge_seen
from atra_spark.schemas import (
    KIND_DISCOVERED,
    KIND_PROCESSED_AND_STORED,
    KIND_UNSET,
    SEEN_SCHEMA,
)
from atra_spark.urlkit import SEED_ONLY, Budget

TS = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)


def _seen_row(url, kind, host="h.example", lsk=KIND_UNSET, is_seed=False, d=(0, 0, 0)):
    return (url, host, kind, lsk, False, is_seed, TS, *d)


class TestSeenMerge:
    """Unset-skip + last_significant_kind (raw.rs:249-351)."""

    def test_update_wins(self, spark):
        seen = spark.createDataFrame([_seen_row("u1", KIND_DISCOVERED)], SEEN_SCHEMA)
        upd = spark.createDataFrame(
            [_seen_row("u1", KIND_PROCESSED_AND_STORED)], SEEN_SCHEMA
        )
        out = {r["url"]: r for r in merge_seen(seen, upd).collect()}
        assert out["u1"]["kind"] == KIND_PROCESSED_AND_STORED
        # previous significant kind retained
        assert out["u1"]["last_significant_kind"] == KIND_DISCOVERED

    def test_unset_update_skipped(self, spark):
        seen = spark.createDataFrame(
            [_seen_row("u1", KIND_PROCESSED_AND_STORED, d=(1, 2, 3))], SEEN_SCHEMA
        )
        upd = spark.createDataFrame([_seen_row("u1", KIND_UNSET, d=(9, 9, 9))], SEEN_SCHEMA)
        out = merge_seen(seen, upd).collect()[0]
        assert out["kind"] == KIND_PROCESSED_AND_STORED
        assert out["depth_on_website"] == 1  # update fields skipped

    def test_insert_new(self, spark):
        seen = spark.createDataFrame([_seen_row("u1", KIND_DISCOVERED)], SEEN_SCHEMA)
        upd = spark.createDataFrame([_seen_row("u2", KIND_DISCOVERED)], SEEN_SCHEMA)
        out = merge_seen(seen, upd)
        assert out.count() == 2

    def test_lsk_copies_previous_kind_unconditionally(self, spark):
        """fold_merge_linkstate copies the previous kind into
        LAST_SIGNIFICANT_KIND_POS on every overwrite — error kinds
        (InternalError=32) included, and same-kind overwrites too
        (raw.rs:285-302)."""
        from atra_spark.schemas import KIND_INTERNAL_ERROR

        seen = spark.createDataFrame(
            [_seen_row("u1", KIND_INTERNAL_ERROR)], SEEN_SCHEMA
        )
        upd = spark.createDataFrame(
            [_seen_row("u1", KIND_PROCESSED_AND_STORED)], SEEN_SCHEMA
        )
        out = merge_seen(seen, upd).collect()[0]
        assert out["last_significant_kind"] == KIND_INTERNAL_ERROR

        seen2 = spark.createDataFrame(
            [_seen_row("u1", KIND_PROCESSED_AND_STORED)], SEEN_SCHEMA
        )
        out2 = merge_seen(seen2, upd).collect()[0]
        assert out2["last_significant_kind"] == KIND_PROCESSED_AND_STORED

    def test_is_seed_sticky(self, spark):
        seen = spark.createDataFrame(
            [_seen_row("u1", KIND_DISCOVERED, is_seed=True)], SEEN_SCHEMA
        )
        upd = spark.createDataFrame(
            [_seen_row("u1", KIND_PROCESSED_AND_STORED, is_seed=False)], SEEN_SCHEMA
        )
        assert merge_seen(seen, upd).collect()[0]["is_seed"] is True


class TestAggregateCandidates:
    def test_min_depth_per_url(self, spark):
        rows = [
            ("https://h/x", "h", 3, 1, 7),
            ("https://h/x", "h", 2, 4, 6),
            ("https://h/y", "h", 1, 1, 1),
        ]
        df = spark.createDataFrame(
            rows, "url string, host string, depth_on_website long, distance_to_seed long, total_distance_to_seed long"
        )
        out = {r["url"]: r for r in aggregate_candidates(df).collect()}
        assert len(out) == 2
        x = out["https://h/x"]
        # per-component min (depth.rs:59-65)
        assert (x["depth_on_website"], x["distance_to_seed"], x["total_distance_to_seed"]) == (2, 1, 6)


def _frontier_df(spark, rows):
    return spark.createDataFrame(
        rows,
        "url string, host string, is_seed boolean, age int, host_was_in_use boolean, "
        "depth_on_website long, distance_to_seed long, total_distance_to_seed long, enqueue_round int",
    )


class TestFilters:
    def test_age(self, spark):
        df = _frontier_df(
            spark,
            [
                ("https://h/a", "h", False, 5, False, 0, 0, 0, 0),
                ("https://h/b", "h", False, 21, False, 0, 0, 0, 0),
            ],
        )
        assert [r["url"] for r in filter_age(df, 20).collect()] == ["https://h/a"]
        assert filter_age(df, 0).count() == 2  # 0 = never drop

    def test_blacklist(self, spark):
        df = _frontier_df(
            spark,
            [
                ("https://ok.example/a", "ok.example", False, 0, False, 0, 0, 0, 0),
                ("https://blocked.example/a", "blocked.example", False, 0, False, 0, 0, 0, 0),
            ],
        )
        out = filter_blacklist(df, [r".*blocked\.example.*"])
        assert [r["url"] for r in out.collect()] == ["https://ok.example/a"]

    def test_budget_with_override(self, spark):
        cfg = CrawlConfig(per_host_budget={"mega.example": Budget(kind=SEED_ONLY, depth_on_website=2)})
        df = _frontier_df(
            spark,
            [
                ("https://h/in", "h", False, 0, False, 2, 1, 3, 0),      # normal: in
                ("https://h/out", "h", False, 0, False, 3, 1, 4, 0),     # normal: dow bound
                ("https://mega.example/in", "mega.example", False, 0, False, 1, 0, 1, 0),
                ("https://mega.example/out", "mega.example", False, 0, False, 1, 1, 2, 0),  # off-seed
            ],
        )
        urls = {r["url"] for r in filter_budget(df, cfg).collect()}
        assert urls == {"https://h/in", "https://mega.example/in"}

    def test_robots_disallow(self, spark, fixture_paths):
        robots = spark.createDataFrame(
            [("h.example", b"User-agent: *\nDisallow: /private\n", 200, TS)],
            "host string, robots_txt binary, status int, retrieved_at timestamp",
        )
        parsed = parse_robots(robots)
        df = _frontier_df(
            spark,
            [
                ("https://h.example/ok", "h.example", False, 0, False, 0, 0, 0, 0),
                ("https://h.example/private/x", "h.example", False, 0, False, 0, 0, 0, 0),
                ("https://norobots.example/private/x", "norobots.example", False, 0, False, 0, 0, 0, 0),
            ],
        )
        urls = {r["url"] for r in filter_robots(df, parsed).collect()}
        assert urls == {"https://h.example/ok", "https://norobots.example/private/x"}

    def test_robots_4xx_allows_all(self, spark):
        robots = spark.createDataFrame(
            [("h.example", b"User-agent: *\nDisallow: /\n", 404, TS)],
            "host string, robots_txt binary, status int, retrieved_at timestamp",
        )
        parsed = parse_robots(robots)
        assert parsed.collect()[0]["disallow"] == []


class TestPoliteness:
    def _frontier(self, spark):
        rows = []
        for i in range(25):
            rows.append((f"https://big.example/p{i:02d}", "big.example", i == 0, 0, False, 0, 0, 0, i % 3))
        for i in range(3):
            rows.append((f"https://slow.example/p{i}", "slow.example", False, 0, False, 0, 0, 0, 0))
        return _frontier_df(spark, rows)

    def _robots(self, spark):
        return spark.createDataFrame(
            [("slow.example", 2000, []), ("big.example", None, [])],
            "host string, crawl_delay_ms long, disallow array<string>",
        )

    def test_k_budget_honored(self, spark):
        sched = admit_window(
            self._frontier(spark), self._robots(spark), default_delay_ms=1000, round_budget_ms=10_000
        )
        adm = sched.filter(F.col("admitted")).groupBy("host").count().collect()
        counts = {r["host"]: r["count"] for r in adm}
        assert counts["big.example"] == 10  # 10s / 1s
        assert counts["slow.example"] == 3  # 10s / 2s = 5 > 3 pending

    def test_seed_first_then_round_then_url(self, spark):
        sched = admit_window(
            self._frontier(spark), self._robots(spark), round_budget_ms=10_000
        ).filter(F.col("admitted") & (F.col("host") == "big.example"))
        rows = sorted(
            ((r["admission_index"], r["url"], r["is_seed"], r["enqueue_round"]) for r in sched.collect())
        )
        assert rows[0][2] is True  # seed admitted first
        # remaining ordered by (enqueue_round, url)
        rest = [(r[3], r[1]) for r in rows[1:]]
        assert rest == sorted(rest)

    def test_scheduled_offsets_are_interval_ticks(self, spark):
        sched = admit_window(self._frontier(spark), self._robots(spark), 1000, 10_000)
        slow = sched.filter(F.col("host") == "slow.example").collect()
        offs = sorted(r["scheduled_offset_ms"] for r in slow)
        assert offs == [0, 2000, 4000]


class TestJvmUrl:
    """JVM origin/host/path columns must match the Python kernel
    exactly (the hot path swaps implementations, not semantics)."""

    URLS = [
        "https://host0001.example/p3.html",
        "https://mega.example/private/p9.html?q=1",
        "https://www.sub.example.com/x",
        "https://a.co.uk/x",
        "https://www.a.co.uk/x#frag",
        "https://192.168.0.1/x",
        "https://localhost/",
        "https://u:p@h.example:8443/a/b?c=d",
        "http://UPPER.Example/Y",
        # full-PSL cases: private domains, wildcard, exception, deep rules
        "https://foo.github.io/page",
        "https://a.b.foo.github.io/page",
        "https://myapp.blogspot.com.br/",
        "https://x.y.ck/",                 # *.ck wildcard
        "https://www.ck/",                 # !www.ck exception
        "https://a.www.ck/",
        "https://deep.s3.dualstack.eu-west-1.amazonaws.com/",
        "https://a.b.co.uk/x",
        "https://xn--bcher-kva.example/x",
        "https://only-tld.com/",
        "https://com/",                    # host IS a public suffix
    ]

    def test_origin_matches_kernel(self, spark):
        from atra_spark.functions.jvm_url import attach_origin, host_col
        from atra_spark.urlkit import host_of, origin

        df = spark.createDataFrame([(u,) for u in self.URLS], "url string")
        df = attach_origin(df, spark, "url", "o").withColumn("h", host_col(F.col("url")))
        for r in df.collect():
            assert r["o"] == origin(r["url"]), r["url"]
            assert r["h"] == host_of(r["url"]), r["url"]

    def test_psl_vectors(self):
        """Pinned publicsuffix.org test vectors (full-list semantics)."""
        from atra_spark.urlkit import origin, public_suffix, registrable_domain

        assert public_suffix("foo.github.io") == "github.io"
        assert origin("https://a.b.foo.github.io/") == "foo.github.io"
        assert origin("https://myapp.blogspot.com.br/") == "myapp.blogspot.com.br"
        assert public_suffix("x.y.ck") == "y.ck"           # *.ck
        assert registrable_domain("x.y.ck") == "x.y.ck"
        assert origin("https://www.ck/") == "www.ck"       # !www.ck exception
        assert origin("https://a.www.ck/") == "www.ck"
        assert origin("https://a.b.co.uk/") == "b.co.uk"
        assert origin("https://b.co.uk/") == "b.co.uk"
        assert registrable_domain("co.uk") is None
        assert origin("https://co.uk/") == "co.uk"         # fallback host
        assert origin("https://localhost/") == "localhost"

    def test_robots_allowed_col(self, spark):
        from atra_spark.functions.jvm_url import robots_allowed_col

        df = spark.createDataFrame(
            [
                ("https://h.example/ok.html", ["/private"]),
                ("https://h.example/private/x", ["/private"]),
                ("https://h.example/private/x", []),
                ("https://h.example/private/x", None),
                ("https://h.example/", ["/a", "/b"]),
            ],
            "url string, disallow array<string>",
        )
        got = [r[0] for r in df.select(robots_allowed_col(F.col("url"), F.col("disallow"))).collect()]
        assert got == [True, False, True, True, True]

    def test_fixture_corpus_origin_parity(self, spark, fixture_set):
        from atra_spark.functions.jvm_url import attach_origin
        from atra_spark.urlkit import origin

        urls = [(p[0],) for p in fixture_set.pages[:300]]
        df = spark.createDataFrame(urls, "url string")
        for r in attach_origin(df, spark, "url", "o").collect():
            assert r["o"] == origin(r["url"])
