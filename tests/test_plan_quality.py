"""Physical-plan regression tests — the 100 TB posture, enforced.

These assert properties of the .explain output, not results: the
fetch join must broadcast and prune columns, scan filters must push
to parquet, the admission pipeline must stay JVM-side with exactly
one host exchange, and the candidate aggregation must keep its
two-phase (salted) shape.
"""

import contextlib
import io
from contextlib import contextmanager
import re

import pytest
from pyspark.sql import functions as F


def _plan(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def pages(spark, fixture_paths):
    return spark.read.parquet(fixture_paths["pages"])


class TestFetchJoinPlan:
    def test_broadcast_and_pruned_scan(self, spark, pages):
        admitted = spark.range(10).select(
            F.concat(F.lit("https://host0000.example/p"), F.col("id")).alias("url")
        )
        df = pages.select("url", "warc_ts", "html").join(
            F.broadcast(admitted), on="url", how="inner"
        )
        plan = _plan(df)
        assert "BroadcastHashJoin" in plan, "page payloads must never shuffle"
        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {
            "url", "warc_ts", "html"
        }, "pages scan must be column-pruned"


class TestScanPushdown:
    def test_url_prefix_filter_pushed(self, spark, pages):
        plan = _plan(pages.filter(F.col("url").startswith("https://mega")).select("url"))
        m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
        assert m and "StringStartsWith" in m.group(1)


class TestAdmissionPlan:
    def test_jvm_only_single_exchange(self, spark):
        from atra_spark.config import CrawlConfig
        from atra_spark.operators.frontier import filter_budget
        from atra_spark.operators.politeness import admit_window

        fr = spark.createDataFrame(
            [("https://h/x", "h", False, 0, False, 1, 0, 1, 0)],
            "url string, host string, is_seed boolean, age int, host_was_in_use boolean, "
            "depth_on_website long, distance_to_seed long, total_distance_to_seed long, enqueue_round int",
        )
        df = admit_window(filter_budget(fr, CrawlConfig()), None)
        simple = _plan(df, "simple")
        assert simple.count("Exchange") == 1, "one host-hash shuffle, no more"
        plan = _plan(df)
        assert "Window" in plan
        # no Python evaluation nodes (ArrowEval/BatchEval) in the hot path
        assert "EvalPython" not in plan
        # budget bounds constant-folded into a plain Filter
        assert re.search(r"depth_on_website#\d+L < 3", plan)


class TestCandidateAggPlan:
    def test_default_single_exchange_with_mapside_combine(self, spark):
        from atra_spark.operators.seen import aggregate_candidates

        df = spark.createDataFrame(
            [("https://h/x", "h", 1, 1, 1)],
            "url string, host string, depth_on_website long, distance_to_seed long, total_distance_to_seed long",
        )
        plan = _plan(aggregate_candidates(df), "simple")
        # algebraic min: partial HashAggregate (map-side hot-key
        # combine) + final — exactly ONE exchange, no salt layer
        assert plan.count("HashAggregate") == 2
        assert plan.count("Exchange") == 1


class TestAlignedFrontierPath:
    """Round-3 frontier bandwidth diet: expand -> dedup-agg -> seen
    probe must cost ONE exchange total, because the candidate agg's
    hash partitioning on url IS the SeenIndex bucket routing."""

    def test_groupby_partitioning_is_bucket_routing(self, spark):
        """The alignment identity the aligned probe relies on:
        groupBy(url) places each row in partition pmod(hash(url), P)
        — Spark's hash-partitioning assignment equals F.hash (murmur3
        seed 42) mod P. If a Spark upgrade ever changes either side,
        this test fails before any bench regresses."""
        p = int(spark.conf.get("spark.sql.shuffle.partitions"))
        df = spark.range(0, 2000).select(
            F.concat(F.lit("https://h"), (F.col("id") % 23).cast("string"),
                     F.lit("/p"), F.col("id").cast("string")).alias("url")
        )
        agg = df.groupBy("url").agg(F.count("*").alias("n"))
        # AQE may coalesce partitions (merging whole buckets into one
        # task, which the probe tolerates); what must NEVER happen is
        # one bucket split across tasks
        split_buckets = (
            agg.select(
                F.spark_partition_id().alias("pid"),
                F.pmod(F.hash("url"), F.lit(p)).alias("bucket"),
            )
            .groupBy("bucket")
            .agg(F.countDistinct("pid").alias("ntasks"))
            .filter(F.col("ntasks") > 1)
            .count()
        )
        assert split_buckets == 0

    def test_agg_plus_aligned_probe_single_exchange(self, spark, tmp_path):
        from atra_spark.operators.seen import aggregate_candidates
        from atra_spark.operators.seen_index import SeenIndex

        p = int(spark.conf.get("spark.sql.shuffle.partitions"))
        idx = SeenIndex(str(tmp_path / "si"), num_buckets=p)
        seen = spark.createDataFrame(
            [(f"https://s{i}.example/p",) for i in range(50)], "url string"
        )
        idx.add_urls(seen, 0)
        idx.commit()
        exploded = spark.createDataFrame(
            [(f"https://n{i}.example/q{j}", j % 3, j % 4, j)
             for i in range(20) for j in range(5)],
            "url string, depth_on_website long, distance_to_seed long, "
            "total_distance_to_seed long",
        )
        out = idx.prune_new(aggregate_candidates(exploded), aligned=True)
        plan = _plan(out, "simple")
        assert plan.count("Exchange") == 1, plan
        assert "MapInPandas" in plan
        assert "SortAggregate" not in plan, "depth agg must stay HashAggregate"
        # and it is still the exact anti-join
        assert out.count() == 100

    def test_link_expansion_is_joinless_jvm_scan(self, spark, tmp_path):
        """Round-5: the results rows carry is_seed + the parent depth
        triple, so the link expansion is scan -> explode -> project —
        NO join (the former broadcast of the admitted set was a
        driver-serial hash-relation build plus one probe per exploded
        link), no Python stage, and the scan is pruned to exactly the
        columns the expansion needs (never text/html payloads)."""
        from atra_spark.plans.crawl import expand_links
        from atra_spark.schemas import LINK_STRUCT, RESULTS_SCHEMA
        from pyspark.sql.types import ArrayType, StructField, StructType

        schema = StructType(
            RESULTS_SCHEMA.fields + [StructField("links", ArrayType(LINK_STRUCT), False)]
        )
        rows = [
            (
                f"https://h{i}.example/p", f"h{i}.example", False, 0, 0, 0,
                0, None, 200, {}, None, "HTML", "utf-8", False, "en", 0.9,
                "body text", 1, True,
                [{"url": f"https://h{i}.example/q", "kind": "href",
                  "method": "GET", "host": f"h{i}.example"}],
            )
            for i in range(8)
        ]
        path = str(tmp_path / "results")
        spark.createDataFrame(rows, schema).write.parquet(path)
        edges, expanded = expand_links(spark.read.parquet(path), rnd=0)
        for df in (edges, expanded):
            plan = _plan(df, "simple")
            assert "Join" not in plan, plan
            assert "Exchange" not in plan, plan  # map-side only
            assert "InPandas" not in plan and "PythonUDF" not in plan, plan
        # column pruning reaches the scan: text (the payload) is not read
        formatted = _plan(expanded, "formatted")
        read_schema = [ln for ln in formatted.splitlines() if "ReadSchema" in ln]
        assert read_schema and "text" not in read_schema[0], formatted
        assert expanded.count() == 8


class TestRobotsJoinShapes:
    """The robots join must be a broadcast hash join below the
    threshold and a non-broadcast (co-partitioned) join above it
    (VERDICT r3 #3) — both for the admission filter and the delay
    lookup."""

    def _robots(self, spark):
        rows = [(f"h{i}.example", 500, ["/private"]) for i in range(8)]
        return spark.createDataFrame(
            rows, "host string, crawl_delay_ms long, disallow array<string>"
        )

    def _frontier(self, spark):
        rows = [
            (f"https://h{i % 8}.example/p{j}", f"h{i % 8}.example", False, 0, False,
             0, 0, 0, 0)
            for i in range(8)
            for j in range(5)
        ]
        return spark.createDataFrame(
            rows,
            "url string, host string, is_seed boolean, age int, host_was_in_use boolean, "
            "depth_on_website long, distance_to_seed long, total_distance_to_seed long, "
            "enqueue_round int",
        )

    def _plan(self, df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    @contextmanager
    def _no_auto_broadcast(self, spark):
        """The fixture relations are tiny, so Spark's auto-broadcast
        would mask the explicit non-broadcast shape under test."""
        key = "spark.sql.autoBroadcastJoinThreshold"
        old = spark.conf.get(key)
        spark.conf.set(key, "-1")
        try:
            yield
        finally:
            spark.conf.set(key, old)

    def test_filter_robots_both_shapes(self, spark):
        from atra_spark.operators.frontier import filter_robots

        f, r = self._frontier(spark), self._robots(spark)
        with self._no_auto_broadcast(spark):
            assert "BroadcastHashJoin" in self._plan(filter_robots(f, r, broadcast=True))
            shuffled = self._plan(filter_robots(f, r, broadcast=False))
            assert "BroadcastHashJoin" not in shuffled
            assert "Join" in shuffled
        # identical answers either way
        a = sorted(x["url"] for x in filter_robots(f, r, broadcast=True).collect())
        b = sorted(x["url"] for x in filter_robots(f, r, broadcast=False).collect())
        assert a == b and a

    def test_admit_window_both_shapes(self, spark):
        from atra_spark.operators.politeness import admit_window

        f, r = self._frontier(spark), self._robots(spark)
        with self._no_auto_broadcast(spark):
            assert "BroadcastHashJoin" in self._plan(
                admit_window(f, r, broadcast_robots=True)
            )
            shuffled = self._plan(admit_window(f, r, broadcast_robots=False))
            assert "BroadcastHashJoin" not in shuffled
        a = sorted(
            (x["url"], x["admitted"], x["admission_index"])
            for x in admit_window(f, r, broadcast_robots=True).collect()
        )
        b = sorted(
            (x["url"], x["admitted"], x["admission_index"])
            for x in admit_window(f, r, broadcast_robots=False).collect()
        )
        assert a == b and a


class TestPipelineOperatorPlans:
    """Plan-shape guardrails for the training-data operators added in
    round 4: the scale posture each docstring promises, pinned."""

    def test_hash_sample_is_pure_filter_no_exchange(self, spark):
        from atra_spark.functions.sample import hash_sample

        df = spark.range(1000).select(F.col("id").alias("doc_id"))
        plan = _plan(hash_sample(df, 0.25, "doc_id"))
        assert "Exchange" not in plan, "fraction sampling must not shuffle"

    def test_decontamination_bench_join_is_broadcast(self, spark):
        from atra_spark.functions.textstats import decontamination_overlap

        rows = [(i, f"token{i} alpha beta gamma delta epsilon zeta eta theta iota")
                for i in range(30)]
        train = spark.createDataFrame(rows, "doc_id long, text string")
        ev = spark.createDataFrame(rows[:3], "doc_id long, text string")
        plan = _plan(decontamination_overlap(train, ev, min_shared=1))
        assert "BroadcastHashJoin" in plan, (
            "the benchmark fingerprint set must broadcast — the train "
            "corpus must not shuffle for the membership test"
        )

    def test_embedding_near_dup_joins_on_bucket(self, spark):
        from atra_spark.functions.similarity import embedding_near_dup_pairs

        import numpy as np

        rng = np.random.default_rng(3)
        rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(20)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        plan = _plan(embedding_near_dup_pairs(df, dim=8))
        # the equi-join key must be the LSH bucket (blocking), with the
        # id inequality only as a post-join filter — never a cross join
        assert "lsh_bucket" in plan
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


class TestRound4SessionOpsPlans:
    """Plan shapes for chunk dedup, BM25, and sessionization."""

    def test_chunk_dedup_winner_stays_hash_aggregate(self, spark):
        from atra_spark.functions.dedup import chunk_dedup

        df = spark.createDataFrame(
            [(i, "w x y z " * 5) for i in range(8)], "doc_id long, text string"
        )
        plan = _plan(chunk_dedup(df))
        # the packed-bigint winner election must NOT demote to
        # SortAggregate (a min-of-struct buffer would); the only
        # permissible non-hash agg is the reassembly collect_list,
        # which plans as ObjectHashAggregate
        assert "SortAggregate" not in plan
        assert "HashAggregate" in plan

    def test_bm25_small_relations_broadcast(self, spark):
        from atra_spark.functions.retrieval import bm25_topk

        df = spark.createDataFrame(
            [(i, "spark join filler") for i in range(8)], "doc_id long, text string"
        )
        plan = _plan(bm25_topk(df, ["spark", "join"]))
        # idf (per-query-term) and corpus stats are literal-sized:
        # they must reach the score join as broadcasts, and the final
        # top-k must be a TakeOrdered, not a global sort
        assert "BroadcastHashJoin" in plan
        assert "TakeOrderedAndProject" in plan

    def test_bm25_query_term_filter_before_shuffle(self, spark):
        from atra_spark.functions.retrieval import bm25_topk

        df = spark.createDataFrame(
            [(i, "spark join filler") for i in range(8)], "doc_id long, text string"
        )
        plan = _plan(bm25_topk(df, ["spark", "join"]), mode="simple")
        # the isin literal predicate prunes the exploded token stream
        # BEFORE the tf aggregation's exchange: the filter must sit
        # below (after, in print order) the first Exchange
        first_exchange = plan.find("Exchange")
        assert first_exchange != -1
        assert plan.find("IN (join,spark)", first_exchange) != -1 or \
            plan.find("IN (spark,join)", first_exchange) != -1, \
            "query-term filter must appear below the shuffle"

    def test_sessionize_single_user_exchange(self, spark):
        from atra_spark.functions.sessions import sessionize

        import datetime as dt

        df = spark.createDataFrame(
            [(1, dt.datetime(2024, 1, 1), 1, 1.0)],
            "event_id long, ts timestamp_ntz, user_id long, value double",
        )
        plan = _plan(sessionize(df), mode="simple")
        # native session_window: one hash exchange keyed on the user,
        # session fragments pre-merged map-side
        assert plan.count("Exchange hashpartitioning") == 1
        assert "user_id" in plan[plan.find("Exchange"):]


class TestGraphAndCorpusStatsPlans:
    def test_host_graph_single_exchange(self, spark):
        from atra_spark.functions.graph import host_graph

        df = spark.createDataFrame(
            [("https://a.example/1", "https://b.example/2")] * 4,
            "src string, dst string",
        )
        plan = _plan(host_graph(df), mode="simple")
        # host extraction + self-loop filter are pure projections; the
        # collapse is ONE map-side-combined exchange on the host pair
        assert plan.count("Exchange hashpartitioning") == 1
        assert plan.count("HashAggregate") == 2  # partial + final

    def test_bigram_pmi_topk_is_take_ordered(self, spark):
        from atra_spark.functions.textstats import bigram_pmi

        df = spark.createDataFrame(
            [(i, "a b a b c d") for i in range(4)], "doc_id long, text string"
        )
        plan = _plan(bigram_pmi(df, min_count=2, top_k=5), mode="simple")
        # global top-k must not be a full sort
        assert "TakeOrderedAndProject" in plan
        # the min_count predicate prunes the bigram relation BEFORE the
        # unigram joins (it appears as a post-agg filter, not post-join)
        assert "(c#" in plan or ">= 2.0" in plan

    def test_zipf_topk_is_take_ordered(self, spark):
        from atra_spark.functions.textstats import zipf_table

        df = spark.createDataFrame(
            [(i, "x y z") for i in range(4)], "doc_id long, text string"
        )
        plan = _plan(zipf_table(df, top_k=3), mode="simple")
        assert "TakeOrderedAndProject" in plan


class TestWarcArchivePlans:
    """The archive read path's 100 TB posture: index builds never move
    payload bytes, the unsegmented read path never shuffles, and
    k-means broadcasts its centroid side."""

    @pytest.fixture(scope="class")
    def warc_dir(self, spark, tmp_path_factory):
        import datetime

        from atra_spark.plans.export import export_warc

        ts = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
        pages = spark.createDataFrame(
            [(f"https://h.example/p{i}", ts, b"<html>x</html>") for i in range(4)],
            "url string, fetched_at timestamp, html binary",
        )
        out = str(tmp_path_factory.mktemp("planwarc"))
        export_warc(
            pages.select("url", "fetched_at", F.lit(200).alias("status")),
            pages.select("url", "html"),
            out,
        ).collect()
        return out

    def test_cdx_exchange_carries_no_payload(self, spark, warc_dir):
        from atra_spark.sources.warc import build_cdx, write_cdxj
        import os
        import uuid as _uuid

        cdx = build_cdx(spark, warc_dir)
        # body is pruned before anything downstream of the scan
        assert "body" not in cdx.columns
        plan = _plan(cdx.repartitionByRange(2, "surt", "ts14"), mode="simple")
        assert "rangepartitioning" in plan
        # tree order is top-down: the body column may appear only in
        # the MapInPandas output (below the pruning Project), never
        # above it — i.e. never crossing the range exchange
        assert plan.index("rangepartitioning") < plan.index("MapInPandas")
        body_pos = plan.find("body#")
        assert body_pos == -1 or body_pos > plan.index("MapInPandas"), (
            "payload bytes must not cross the CDX exchange"
        )

    def test_unsegmented_read_path_has_no_exchange(self, spark, warc_dir):
        from atra_spark.sources.warc import read_warc_pages

        plan = _plan(
            read_warc_pages(spark, warc_dir, resolve_revisits=False),
            mode="simple",
        )
        # fast path: scan -> strip; the only exchanges allowed are the
        # segmented-chain group and the initial file-list round robin
        assert plan.count("Exchange hashpartitioning") <= 1, (
            "only the (empty) segmented-chain branch may hash-shuffle"
        )

    def test_kmeans_centroids_broadcast(self, spark):
        from atra_spark.functions.similarity import kmeans_assign

        df = spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in range(10)],
            "vec_id long, embedding array<double>",
        )
        plan = _plan(kmeans_assign(df, k=2, n_iter=1), mode="simple")
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, (
            "the k-vector centroid side must broadcast, never shuffle the corpus"
        )


class TestBpeAndMediaPlans:
    def test_bpe_pair_argmax_is_take_ordered_with_partial_agg(self, spark):
        """The per-round pair argmax must be TakeOrderedAndProject over
        a two-phase (map-side combined) aggregation — never a global
        sort, and no Python stage inside the training loop."""
        from atra_spark.functions import bpe

        docs = spark.createDataFrame([(0, "aa bb aa bb cc")], "doc_id long, text string")
        sym = bpe._initial_symbols(bpe.word_freqs(docs))
        top = bpe._pair_counts(sym).orderBy(F.col("n").desc()).limit(1)
        plan = _plan(top, "simple")
        assert "TakeOrderedAndProject" in plan
        assert "partial_sum" in plan
        assert "Sort " not in plan, "argmax must not global-sort the pair table"
        assert "Python" not in plan and "ArrowEval" not in plan

    def test_bpe_merge_fold_is_jvm_only(self, spark):
        from atra_spark.functions import bpe

        df = spark.createDataFrame([(["a", "b"], 1)], "symbols array<string>, freq long")
        plan = _plan(bpe._apply_merge(df, "a", "b"), "simple")
        assert "Python" not in plan and "ArrowEval" not in plan
        assert "Exchange" not in plan, "merge apply is a pure map stage"

    def test_media_feature_pass_is_single_arrow_stage(self, spark):
        """Decode features are ONE mapInPandas over the payload scan —
        no shuffle before or after (payload bytes never move)."""
        from atra_spark.functions import multimodal

        media = multimodal.synth_media(spark, n=8)
        plan = _plan(multimodal.extract_media_features(media), "simple")
        assert plan.count("MapInPandas") == 1
        assert "Exchange" not in plan


class TestRound5PackingAndSemDeDupPlans:
    """Plan-shape guardrails for sequence packing and SemDeDup."""

    def test_pack_sequences_explode_is_jvm_generate(self, spark):
        """The per-document block fan-out must be a JVM Generate over a
        bounded sequence() — no Python stage, and no single-partition
        global window over the full relation (the only SinglePartition
        exchange allowed is the prefix sum's #partitions-row base
        offsets)."""
        from atra_spark.functions import multimodal

        df = spark.range(100).select(
            F.col("id").alias("doc_id"), (F.col("id") % 7 * 100).alias("n_tokens")
        )
        plan = _plan(multimodal.pack_sequences(df, "n_tokens", 256), "simple")
        assert "Generate explode" in plan
        assert "Python" not in plan and "ArrowEval" not in plan
        # the prefix sum's range exchange sits behind the
        # localCheckpoint (Scan ExistingRDD); what must hold in the
        # visible plan: the per-partition base offsets BROADCAST back
        # to the big side, and the only SinglePartition funnel is the
        # #partitions-row totals window, never the full relation
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
        assert plan.count("Exchange SinglePartition") == 1
        assert "HashAggregate" in plan.split("Exchange SinglePartition")[1]

    def test_semdedup_pairwise_joins_on_cluster(self, spark):
        """The quadratic stage must be an equi-join keyed on the
        k-means cluster (the paper's blocking argument) — never a
        cartesian/broadcast-nested-loop pairing of the corpus with
        itself."""
        from atra_spark.functions.similarity import semdedup

        df = spark.createDataFrame(
            [(i, [float(i % 5), 1.0, 0.5]) for i in range(20)],
            "vec_id long, embedding array<double>",
        )
        plan = _plan(semdedup(df, k=2, n_iter=1, threshold=0.9), "simple")
        assert "CartesianProduct" not in plan
        # every nested-loop join in the plan must be a centroid-side
        # broadcast (k rows), never vector-vector pairing: the pair
        # stage itself shows up as an equi-join on cluster
        assert "cluster" in plan

    def test_repetition_metrics_is_map_only(self, spark):
        """All three Gopher repetition signals are per-document: the
        plan must contain NO aggregation exchange — at most one
        round-robin fan-out of the narrow (id, text) relation when the
        scan has fewer splits than cores (never the old
        explode+groupBy spelling that shuffled every bigram)."""
        from atra_spark.functions.textstats import repetition_metrics

        df = spark.createDataFrame(
            [(i, "a b c\nd e f\na b c") for i in range(10)],
            "doc_id long, text string",
        )
        plan = _plan(repetition_metrics(df), "simple")
        assert "HashAggregate" not in plan and "SortMergeJoin" not in plan
        assert plan.count("Exchange") <= 1
        assert "Python" not in plan and "ArrowEval" not in plan
