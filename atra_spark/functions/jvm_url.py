"""JVM-side (whole-stage-codegen) column implementations of the hot
URL functions — no Python worker in the per-link path.

``attach_origin`` computes the FULL public-suffix-list registrable
domain (urlkit.origin's exact semantics, pytest-verified equivalence)
with k broadcast hash joins against the vendored PSL snapshot — the
scale-correct JVM shape (a 9.4k-rule table broadcast once per stage;
wildcard/exception rules are small enough to inline as literals).
The pandas UDFs in functions/url_udfs.py remain the reference
implementations for seeding and ad-hoc input.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_HOST_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^/@?#]*@)?([^:/?#]+)"
_SCHEME_AUTH_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*"


def host_col(url: Column) -> Column:
    """Lowercased hostname of an absolute URL (NULL if no match)."""
    h = F.lower(F.regexp_extract(url, _HOST_RE, 1))
    return F.when(h == "", F.lit(None).cast("string")).otherwise(h)


# --------------------------------------------------------------------------
# full-PSL origin as JVM plan: k broadcast joins + literal wildcard set
# --------------------------------------------------------------------------
_MAX_K = 5  # longest PSL rule depth (incl. wildcard label)


_PSL_DF_CACHE: dict[int, DataFrame] = {}


def _psl_exact_df(spark: SparkSession) -> DataFrame:
    """The 9.4k-row exact-rule PSL table, memoized per SparkSession.

    attach_origin runs once per crawl round; rebuilding this local
    relation each time re-serializes 9.4k tuples through py4j on the
    DRIVER — measured ~1 s of per-round serial wall that a 16-core leg
    pays at the same price as a 4-core leg.
    The cached plan is a deterministic LocalRelation, so reuse is safe
    across rounds and jobs within a session."""
    key = id(spark)
    df = _PSL_DF_CACHE.get(key)
    if df is None:
        from ..urlkit import _psl_load

        exact, _wild, _exc = _psl_load()
        df = spark.createDataFrame([(s,) for s in sorted(exact)], "psl_suffix string")
        _PSL_DF_CACHE.clear()  # one live session at a time in practice
        _PSL_DF_CACHE[key] = df
    return df


def attach_origin(
    df: DataFrame, spark: SparkSession, url_col: str = "url", out: str = "host"
) -> DataFrame:
    """Adds ``out`` = PSL registrable domain (fallback host) of
    ``url_col`` — pure JVM: label slicing + per-depth broadcast joins
    against the exact-rule table, wildcard parents / exceptions as
    literal IN lists (107 / 8 rules). Mirrors urlkit.origin.
    """
    from ..urlkit import _psl_load

    _exact, wild, exc = _psl_load()
    host = host_col(F.col(url_col))
    is_ip = host.rlike(r"^[0-9.]+$") | host.contains(":")
    work = df.withColumn("_h", host)
    labels = F.split(F.col("_h"), r"\.")
    n = F.size(labels)

    exact_df = _psl_exact_df(spark)
    match_flags = []
    for k in range(1, _MAX_K + 1):
        lastk = F.when(n >= k, F.concat_ws(".", F.slice(labels, n - k + 1, k)))
        work = work.withColumn(f"_l{k}", lastk)
        # every depth joins the IDENTICAL broadcast subplan (no per-k
        # aliases inside the broadcast side): Spark's ReuseExchange
        # canonicalizes the five BroadcastExchange subtrees to one, so
        # a round pays ONE driver-side relation build instead of five
        # (~0.4-0.8 s of serial driver wall per round at any core
        # count — measured round 6, the fixed-cost probe's largest
        # remaining per-round item). The per-k match flag moves to the
        # probe side as an isNotNull() over the joined suffix column.
        j = F.broadcast(exact_df).alias(f"_psl{k}")
        work = (
            work.join(
                j, work[f"_l{k}"] == F.col(f"_psl{k}.psl_suffix"), how="left"
            )
            .withColumn(f"_x{k}", F.col(f"_psl{k}.psl_suffix").isNotNull())
            .drop(F.col(f"_psl{k}.psl_suffix"))
        )
        wild_hit = (
            F.col(f"_l{k-1}").isin(*sorted(wild)) if k >= 2 and wild else F.lit(False)
        )
        match_flags.append((k, F.coalesce(F.col(f"_x{k}"), F.lit(False)) | wild_hit))

    # exception rules beat everything: suffix = rule minus first label
    suffix_len = None
    for k, flag in match_flags:  # ascending: later (longer) match overwrites
        expr = F.when(flag, F.lit(k))
        suffix_len = expr.otherwise(suffix_len) if suffix_len is not None else expr
    suffix_len = F.coalesce(suffix_len, F.lit(1))
    if exc:
        for k in range(2, _MAX_K + 1):
            suffix_len = F.when(
                F.col(f"_l{k}").isin(*sorted(exc)), F.lit(k - 1)
            ).otherwise(suffix_len)

    origin = F.when(
        F.col("_h").isNull(), F.lit(None).cast("string")
    ).when(is_ip | (n <= suffix_len), F.col("_h")).otherwise(
        F.concat_ws(".", F.slice(labels, n - suffix_len, suffix_len + 1))
    )
    drop = ["_h"] + [f"_l{k}" for k in range(1, _MAX_K + 1)] + [
        f"_x{k}" for k in range(1, _MAX_K + 1)
    ]
    return work.withColumn(out, origin).drop(*drop)


def path_col(url: Column) -> Column:
    """URL path+query (leading '/'; '/' when empty)."""
    p = F.regexp_replace(url, _SCHEME_AUTH_RE, "")
    return F.when(p == "", F.lit("/")).otherwise(p)


def robots_allowed_col(url: Column, disallow: Column) -> Column:
    """True unless the URL path starts with any disallow prefix —
    higher-order ``exists`` over the per-host prefix array, fully
    JVM-side (replaces a pandas-UDF prefix check in the admission hot
    path)."""
    p = path_col(url)
    dis = F.coalesce(disallow, F.array().cast("array<string>"))
    return ~F.exists(dis, lambda pref: p.startswith(pref))


def url_templates(
    df: DataFrame,
    url_col: str = "url",
    min_urls: int = 2,
) -> "DataFrame":
    """Per-host URL path templates: strip scheme/authority and query,
    collapse digit runs to ``{n}``, count URLs per (host, template).
    The crawl-ops trap detector — calendar pages, paginated facets and
    session-id mills show up as ONE template with a huge n_urls and
    near-zero content diversity, and the frontier's per-host budget
    (config/crawl.rs) is the knob the finding feeds.

    Pure JVM regexp column math + one map-side-combined groupBy keyed
    on (host, template); output cardinality ≈ #distinct page types,
    orders of magnitude below #URLs. ``n_distinct_urls`` is an exact
    distinct (two-level agg) — at extreme scale swap for
    approx_count_distinct, same plan shape.

    Returns (host, template, n_urls, n_distinct_urls), filtered to
    templates with >= ``min_urls`` URLs.
    """
    u = F.col(url_col)
    path = F.regexp_replace(
        F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*", ""),
        r"[?#].*$",
        "",
    )
    template = F.regexp_replace(path, "[0-9]+", "{n}")
    return (
        df.select(
            host_col(u).alias("host"),
            template.alias("template"),
            u.alias("_u"),
        )
        .filter(F.col("host").isNotNull())
        .groupBy("host", "template")
        .agg(
            F.count("*").alias("n_urls"),
            F.countDistinct("_u").alias("n_distinct_urls"),
        )
        .filter(F.col("n_urls") >= int(min_urls))
    )


_HOSTPORT_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^/@?#]*@)?([^/?#]+)"


def surt_col(url: Column) -> Column:
    """Sort-friendly URI Reordering Transform key, fully JVM-side —
    the CDX lookup key over the rotated WARC store (see
    urlkit.surt_key for the documented rule subset; pytest pins the
    two implementations equal on the canonicalization vector corpus).
    Whole-stage-codegen regexp/array math: reverse(split(host)) +
    sorted query params — no Python worker in the index-build path.
    NULL for non-authority URLs."""
    hostport = F.lower(F.regexp_extract(url, _HOSTPORT_RE, 1))
    port = F.regexp_extract(hostport, r":(\d+)$", 1)
    host = F.regexp_replace(
        F.regexp_replace(hostport, r":\d+$", ""), r"^www\d*\.", ""
    )
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    portpart = F.when(port.isin("", "80", "443"), "").otherwise(
        F.concat(F.lit(":"), port)
    )
    rest = F.lower(
        F.regexp_replace(
            F.regexp_replace(url, _SCHEME_AUTH_RE, ""), r"#.*$", ""
        )
    )
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(rest, r"\?(.*)$", 1)
    qsorted = F.array_join(
        F.array_sort(F.filter(F.split(query, "&"), lambda x: x != "")), "&"
    )
    key = F.concat(
        rev,
        portpart,
        F.lit(")"),
        path,
        F.when(qsorted == "", "").otherwise(F.concat(F.lit("?"), qsorted)),
    )
    return F.when(host == "", F.lit(None).cast("string")).otherwise(key)


# --------------------------------------------------------------------------
# tracking-parameter URL canonicalization + dedup groups
# --------------------------------------------------------------------------
# query parameters that identify a SESSION or campaign, not a resource
# (the C4/Common-Crawl URL-dedup prefilter set); matched per parameter,
# case-insensitively, in both Java regex and RE2
TRACKING_PARAM_RE = (
    r"^(?i)(utm_[a-z0-9_]*|gclid|fbclid|msclkid|mc_eid|igshid|ref|"
    r"sessionid|sid|phpsessid|jsessionid)="
)
_SA_GROUPS_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*://(?:[^/@?#]*@)?[^/?#]*)([^?#]*)"


def normalize_url_col(url: Column) -> Column:
    """Canonical URL for duplicate grouping, entirely JVM (whole-stage
    codegen): lowercase scheme://authority, strip default :80/:443
    ports, empty path -> '/', drop the fragment, drop tracking query
    parameters (``TRACKING_PARAM_RE``), sort the surviving parameters
    (param ORDER never identifies a resource). This is the
    dedup-grouping normalization a corpus pipeline runs BEFORE exact
    content dedup — the WHATWG canonicalizer (urlkit.canonicalize)
    stays the crawl-side identity; this one is deliberately lossier.
    """
    auth = F.regexp_replace(
        F.lower(F.regexp_extract(url, _SA_GROUPS_RE, 1)), r":(80|443)$", ""
    )
    path = F.regexp_extract(url, _SA_GROUPS_RE, 2)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(url, r"\?([^#]*)", 1)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
    )
    qpart = F.when(
        F.size(params) > 0,
        F.concat(F.lit("?"), F.array_join(F.array_sort(params), "&")),
    ).otherwise(F.lit(""))
    return F.concat(auth, path, qpart)


def url_canonical_dedup(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Group URL variants by their tracking-stripped canonical form:
    (canon_url, n_variants, n_distinct_raw, keeper = lexicographically
    first raw URL). One algebraic groupBy on the canonical string —
    map-side combine absorbs hot canonical keys (a popular page linked
    under thousands of utm variants)."""
    u = F.col(url_col)
    return (
        df.select(u.alias("raw_url"), normalize_url_col(u).alias("canon_url"))
        .groupBy("canon_url")
        .agg(
            F.count("*").alias("n_variants"),
            F.countDistinct("raw_url").alias("n_distinct_raw"),
            F.min("raw_url").alias("keeper"),
        )
    )
