"""Driver contract for the atra_spark engine.

``entry(spark)``   — flagship: synthesize a Common-Crawl-style pages
                     table FROM /root/testdata/sf0.001/documents.parquet
                     and run the full crawl engine on it (admission ->
                     politeness -> fetch-join -> extraction -> seen-
                     index dedup), returning the results table.
``queries()``      — one entry per implemented operator (SURVEY.md §2
                     crawl-dataflow analogs + training-data ops).
``oracle_sql()``   — DuckDB-dialect equivalents for everything
                     SQL-expressible; shared SQL bodies are generated
                     from one template per operator so Spark and DuckDB
                     run textually-identical logic.
"""

from __future__ import annotations

import os
import tempfile

# Fixture writers stage parquet next to the final path and os.replace()
# into place; the staging name is per-PID so two concurrent driver
# processes can only ever race atomically-complete files, never
# interleave writes into one shared .tmp (ADVICE r4).
_TMP_SUFFIX = f".{os.getpid()}.tmp"
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


# last-registered sf_dir per live SparkSession (keyed by applicationId:
# survives GC id reuse, resets with a fresh session). Registering the
# same directory twice is pure overhead — ten driver-side parquet
# schema reads per QUERY call, ~0.2 s each bench rep (round 6) — but a
# CHANGED sf_dir must re-point the views, so the memo keys on the pair.
_REGISTERED: dict[str, str] = {}


def _register(spark: SparkSession, sf_dir: str) -> None:
    app_id = spark.sparkContext.applicationId
    if _REGISTERED.get(app_id) == sf_dir:
        return
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            spark.read.parquet(p).createOrReplaceTempView(t)
    _REGISTERED.clear()  # one live session at a time in practice
    _REGISTERED[app_id] = sf_dir


# ==========================================================================
# dialect helpers: the same operator SQL, emitted for spark / duckdb
# ==========================================================================
def _hex_hash(expr: str, dialect: str) -> str:
    """Deterministic 60-bit hash from md5 — identical in both engines."""
    if dialect == "spark":
        return f"CAST(conv(substr(md5({expr}), 1, 15), 16, 10) AS BIGINT)"
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def _split_ws(expr: str, dialect: str) -> str:
    if dialect == "spark":
        return f"split(trim({expr}), '\\\\s+')"
    return f"regexp_split_to_array(trim({expr}), '\\s+')"


def _rnd(expr: str, dp: int) -> str:
    """Deterministic HALF_UP rounding, identical in both engines.

    Spark's ``round`` converts the double exactly (2.675 -> 2.67) while
    DuckDB rounds 2.675 -> 2.68; a shared floor(+0.5+eps) formula makes
    both engines run the same IEEE ops. The 1e-6 epsilon absorbs
    sub-ulp summation-order differences at tie boundaries.
    """
    scale = 10 ** dp
    return f"CAST(floor(({expr}) * {scale} + 0.5 + 1e-6) AS DOUBLE) / {scale}"


def _array_len(expr: str, dialect: str) -> str:
    return f"size({expr})" if dialect == "spark" else f"len({expr})"


def _bit(expr: str, b: int, dialect: str) -> str:
    """Bit b of a BIGINT expression."""
    if dialect == "spark":
        return f"(shiftright({expr}, {b}) & 1)"
    return f"(({expr} >> {b}) & 1)"


def _shiftr(expr: str, b: int, dialect: str) -> str:
    return f"shiftright({expr}, {b})" if dialect == "spark" else f"({expr} >> {b})"


def _xor(a: str, b: str, dialect: str) -> str:
    return f"({a} ^ {b})" if dialect == "spark" else f"xor({a}, {b})"


def _tokens_cte(dialect: str) -> str:
    """(doc_id, tok) — lowercased whitespace tokens, occurrences kept."""
    if dialect == "spark":
        return r"""
toks AS (
  SELECT doc_id, tok
  FROM documents
  LATERAL VIEW explode(split(lower(trim(text)), '\\s+')) t AS tok
  WHERE tok <> ''
)"""
    return r"""
toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
    FROM documents
  ) u WHERE tok <> ''
)"""


# --------------------------------------------------------------------------
# operator SQL templates (one body, two dialects)
# --------------------------------------------------------------------------
def sql_frontier_antijoin(dialect: str) -> str:
    """Seen-set dedup analog (left-anti join; contexts/local/context.rs:235-259):
    candidate rows that have no match in the "seen" side survive."""
    return """
SELECT o.o_orderkey AS orderkey, o.o_custkey AS custkey
FROM orders o
WHERE NOT EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 30
)
"""


def sql_politeness_topk(dialect: str) -> str:
    """Per-host politeness admission analog: top-3 per user by event time
    (SURVEY.md §2.6 'politeness budget window function')."""
    return """
SELECT user_id, event_id, CAST(rn - 1 AS INT) AS admission_index
FROM (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
) t
WHERE rn <= 3
"""


def sql_seen_merge_latest(dialect: str) -> str:
    """Link-state merge analog: latest state per key wins
    (link_state/state/raw.rs:249-306)."""
    return """
SELECT user_id, event_type AS last_kind, CAST(n AS BIGINT) AS n_events
FROM (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events
) t
WHERE rn = 1
"""


def sql_queue_age_filter(dialect: str) -> str:
    """Queue-age / state drop filter analog (polling.rs:101-105,180-204)."""
    return """
SELECT event_id, user_id, event_type, value
FROM events
WHERE value <= 5.0 AND event_type <> 'error'
"""


def sql_blacklist_filter(dialect: str) -> str:
    """Blacklist RegexSet filter analog (blacklist/manager_impl.rs:43-120)."""
    if dialect == "spark":
        return """
SELECT doc_id, source FROM documents
WHERE NOT (text RLIKE 'spark|shuffle') """
    return """
SELECT doc_id, source FROM documents
WHERE NOT regexp_matches(text, 'spark|shuffle')"""


def sql_state_counters(dialect: str) -> str:
    """Counting scan analog (link_state/db.rs:184-241)."""
    return """
SELECT event_type AS kind, CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY event_type
"""


def sql_budget_predicate(dialect: str) -> str:
    """Budget column predicate analog (config/crawl.rs:445-470): pure
    multi-bound arithmetic filter + per-group counters."""
    return f"""
SELECT l_returnflag AS returnflag, CAST(count(*) AS BIGINT) AS n,
       {_rnd('sum(l_quantity)', 2)} AS sum_qty
FROM lineitem
WHERE l_quantity < 25 AND l_discount <= 0.05 AND l_tax <= 0.04
GROUP BY l_returnflag
"""


def sql_q1_pricing(dialect: str) -> str:
    """TPC-H Q1 pricing summary (relational agg workhorse)."""
    return f"""
SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
       {_rnd('sum(l_quantity)', 2)} AS sum_qty,
       {_rnd('sum(l_extendedprice)', 2)} AS sum_base_price,
       {_rnd('sum(l_extendedprice * (1 - l_discount))', 2)} AS sum_disc_price,
       {_rnd('avg(l_quantity)', 4)} AS avg_qty,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def sql_q3_join_topk(dialect: str) -> str:
    """3-way join + top-k (shipping-priority shape)."""
    return f"""
SELECT o.o_orderkey AS orderkey,
       {_rnd('sum(l.l_extendedprice * (1 - l.l_discount))', 2)} AS revenue,
       o.o_orderpriority AS orderpriority
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
GROUP BY o.o_orderkey, o.o_orderpriority
ORDER BY revenue DESC, orderkey
LIMIT 10
"""


def sql_dedup_exact(dialect: str) -> str:
    """Exact dedup: content-hash groups, keeper = min doc_id."""
    h = _hex_hash("text", dialect)
    return f"""
SELECT {h} AS content_hash,
       CAST(min(doc_id) AS BIGINT) AS keeper,
       CAST(count(*) AS BIGINT) AS n_dups
FROM documents
GROUP BY 1
"""


def sql_token_count(dialect: str) -> str:
    """Token counting (whitespace tokenizer)."""
    toks = _split_ws("text", dialect)
    return f"""
SELECT doc_id, CAST({_array_len(toks, dialect)} AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents
"""


def sql_text_quality(dialect: str) -> str:
    """Quality scoring: token count, mean token length, space ratio."""
    toks = _split_ws("text", dialect)
    n = _array_len(toks, dialect)
    return f"""
SELECT doc_id,
       CAST({n} AS BIGINT) AS n_tokens,
       {_rnd(f"length(replace(text, ' ', '')) * 1.0 / {n}", 4)} AS mean_tok_len,
       {_rnd("(length(text) - length(replace(text, ' ', ''))) * 1.0 / length(text)", 4)} AS space_ratio
FROM documents
WHERE length(text) > 0
"""


def sql_doc_fingerprint(dialect: str) -> str:
    """Document fingerprint: md5 over whitespace-normalized text."""
    norm = "regexp_replace(lower(text), '\\\\s+', ' ')" if dialect == "spark" else \
           "regexp_replace(lower(text), '\\s+', ' ', 'g')"
    return f"""
SELECT doc_id, md5({norm}) AS fingerprint
FROM documents
"""


def sql_lang_markers(dialect: str) -> str:
    """Language-ID marker counting (stopword-frequency heuristic) —
    the SQL-expressible core of functions/langdata.py."""
    def cnt(word: str) -> str:
        pad = f"' ' || lower(text) || ' '"
        rep = f"replace({pad}, ' {word} ', '  ')"
        return f"CAST((length({pad}) - length({rep})) / {len(word)} AS BIGINT)"
    return f"""
SELECT doc_id,
       {cnt('the')} AS n_the,
       {cnt('and')} AS n_and,
       {cnt('der')} AS n_der,
       {cnt('und')} AS n_und
FROM documents
"""


def _shingles_cte(dialect: str) -> str:
    """(doc_id, sh) distinct 3-token shingles — dialect-specific explode."""
    if dialect == "spark":
        return """
toks AS (
  SELECT doc_id, pos, tok
  FROM documents
  LATERAL VIEW posexplode(split(trim(text), '\\\\s+')) t AS pos, tok
),
numbered AS (
  SELECT doc_id, pos, tok,
         lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS t1,
         lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS t2
  FROM toks
),
shingles AS (
  SELECT DISTINCT doc_id, tok || ' ' || t1 || ' ' || t2 AS sh
  FROM numbered WHERE t2 IS NOT NULL
)"""
    return """
toks AS (
  SELECT doc_id, CAST(generate_subscripts(arr, 1) AS INT) AS pos, unnest(arr) AS tok
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS arr FROM documents) d
),
numbered AS (
  SELECT doc_id, pos, tok,
         lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS t1,
         lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS t2
  FROM toks
),
shingles AS (
  SELECT DISTINCT doc_id, tok || ' ' || t1 || ' ' || t2 AS sh
  FROM numbered WHERE t2 IS NOT NULL
)"""


def sql_ngram_jaccard(dialect: str) -> str:
    """Near-dup detection: 3-gram shingle Jaccard >= 0.5 pairs.

    Two-sided shingle self-join with per-doc shingle cardinalities —
    the same shuffle-on-shingle plan a 100 TB dedup job uses (shingle
    is the join key; hot shingles pre-aggregate map-side).
    """
    return f"""
WITH {_shingles_cte(dialect)},
card AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
  FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT common.da AS doc_a, common.db AS doc_b,
       {_rnd('c * 1.0 / (ca.n + cb.n - c)', 4)} AS jaccard
FROM common
JOIN card ca ON ca.doc_id = common.da
JOIN card cb ON cb.doc_id = common.db
WHERE c * 1.0 / (ca.n + cb.n - c) >= 0.5
"""


def sql_minhash_band_pairs(dialect: str) -> str:
    """MinHash-LSH candidate pairs: k=8 hash mins, 4 bands of 2 rows;
    pairs sharing any band bucket (shingle->minhash->band->bucket-join)."""
    min_parts = []
    for i in range(8):
        salted = "'s" + str(i) + "|' || sh"
        min_parts.append(f"min({_hex_hash(salted, dialect)}) AS h{i}")
    mins = ",\n         ".join(min_parts)
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, h{2*b} AS x, h{2*b+1} AS y FROM sig"
        for b in range(4)
    )
    return f"""
WITH {_shingles_cte(dialect)},
sig AS (
  SELECT doc_id,
         {mins}
  FROM shingles GROUP BY doc_id
),
bands AS (
{band_rows}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.x = b.x AND a.y = b.y AND a.doc_id < b.doc_id
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl snapshot diff (atra_spark.functions.snapshot.snapshot_diff):
    old = documents minus doc_id%7==0, new = documents minus doc_id%5==0
    with doc_id%3==0 texts revised — every key classified
    added/removed/changed/unchanged by 60-bit content digest. Oracle:
    sql_snapshot_diff (full-outer join + CASE)."""
    from atra_spark.functions.snapshot import snapshot_diff

    _register(spark, sf_dir)
    docs = spark.table("documents")
    old = docs.filter(F.col("doc_id") % 7 != 0)
    new = docs.filter(F.col("doc_id") % 5 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
        ).otherwise(F.col("text")),
    )
    return snapshot_diff(old, new)


def sql_snapshot_diff(dialect: str) -> str:
    """Twin of functions.snapshot.snapshot_diff over the same
    deterministic old/new construction: full-outer join of the two
    (key, digest) projections, CASE over the null pattern."""
    dig = _hex_hash("text", dialect)
    dig_rev = _hex_hash("text || ' [rev2]'", dialect)
    return f"""
WITH old AS (
  SELECT doc_id AS key, {dig} AS old_digest
  FROM documents WHERE doc_id % 7 <> 0
),
new AS (
  SELECT doc_id AS key,
         CASE WHEN doc_id % 3 = 0 THEN {dig_rev} ELSE {dig} END AS new_digest
  FROM documents WHERE doc_id % 5 <> 0
)
SELECT COALESCE(old.key, new.key) AS doc_id,
       CASE WHEN old_digest IS NULL THEN 'added'
            WHEN new_digest IS NULL THEN 'removed'
            WHEN old_digest <> new_digest THEN 'changed'
            ELSE 'unchanged' END AS status,
       old_digest, new_digest
FROM old FULL OUTER JOIN new ON old.key = new.key
"""


def q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch near-dup detection via the persistent MinHash band
    index (atra_spark.operators.neardup_index.NearDupIndex): even
    doc_ids are the admitted history, odd doc_ids the arriving batch;
    flagged rows are (doc_id, dup_of, est_jaccard) with the index's
    deterministic best-match rule. At threshold 0.7 > 1 - 4/8 the
    pigeonhole guarantee makes the banded result equal the exhaustive
    signature comparison, which is what the oracle computes in plain
    SQL. Oracle: sql_incremental_neardup."""
    from atra_spark.operators.neardup_index import NearDupIndex

    _register(spark, sf_dir)
    docs = spark.table("documents")
    root = tempfile.mkdtemp(prefix="atra_entry_ndx")
    idx = NearDupIndex(os.path.join(root, "ndx"), num_buckets=8)
    idx.admit(docs.filter(F.col("doc_id") % 2 == 0), 0)
    idx.commit()
    return idx.probe(docs.filter(F.col("doc_id") % 2 == 1))


def sql_incremental_neardup(dialect: str) -> str:
    """Twin of NearDupIndex.probe at threshold 0.7 (n_eq >= 6 of 8):
    exhaustive odd-vs-even signature comparison with the same
    (max n_eq, min dup_of) best-match election — equal to the banded
    index by the pigeonhole guarantee (>= 6 equal components of 8
    leaves at most 2 mismatches, so at least one of the 4 bands is
    intact and the pair shares a band bucket)."""
    min_parts = []
    for i in range(8):
        salted = "'s" + str(i) + "|' || sh"
        min_parts.append(f"min({_hex_hash(salted, dialect)}) AS h{i}")
    mins = ",\n         ".join(min_parts)
    eq = " + ".join(
        f"CASE WHEN p.h{i} = h.h{i} THEN 1 ELSE 0 END" for i in range(8)
    )
    return f"""
WITH {_shingles_cte(dialect)},
sig AS (
  SELECT doc_id,
         {mins}
  FROM shingles GROUP BY doc_id
),
cand AS (
  SELECT p.doc_id AS doc_id, h.doc_id AS dup_of, {eq} AS n_eq
  FROM sig p JOIN sig h
    ON p.doc_id % 2 = 1 AND h.doc_id % 2 = 0
),
best AS (
  SELECT doc_id, dup_of, n_eq,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY n_eq DESC, dup_of ASC) AS rn
  FROM cand WHERE n_eq >= 6
)
SELECT doc_id, dup_of, CAST(n_eq AS DOUBLE) / 8 AS est_jaccard
FROM best WHERE rn = 1
"""


def q_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimate vs true Jaccard for every LSH candidate pair
    (atra_spark.functions.dedup.minhash_calibration — the sketch-
    tuning surface). Oracle: sql_minhash_calibration."""
    from atra_spark.functions.dedup import minhash_calibration

    _register(spark, sf_dir)
    return minhash_calibration(spark.table("documents"))


def sql_minhash_calibration(dialect: str) -> str:
    """Twin of dedup.minhash_calibration: candidate pairs from the
    band join, est = matching signature components / 8, true = exact
    shingle Jaccard computed only for the candidate pairs."""
    min_parts = []
    for i in range(8):
        salted = "'s" + str(i) + "|' || sh"
        min_parts.append(f"min({_hex_hash(salted, dialect)}) AS h{i}")
    mins = ",\n         ".join(min_parts)
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, h{2*b} AS x, h{2*b+1} AS y FROM sig"
        for b in range(4)
    )
    est = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(8)
    )
    return f"""
WITH {_shingles_cte(dialect)},
sig AS (
  SELECT doc_id,
         {mins}
  FROM shingles GROUP BY doc_id
),
bands AS (
{band_rows}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.x = b.x AND a.y = b.y AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM cand c
  JOIN shingles x ON x.doc_id = c.doc_a
  JOIN shingles y ON y.doc_id = c.doc_b AND y.sh = x.sh
  GROUP BY c.doc_a, c.doc_b
)
SELECT c.doc_a, c.doc_b,
       {_rnd('(' + est + ') / 8.0', 4)} AS est_j,
       {_rnd('coalesce(i.i, 0) / CAST(na.n_sh + nb.n_sh - coalesce(i.i, 0) AS DOUBLE)', 4)} AS true_j
FROM cand c
JOIN sig sa ON sa.doc_id = c.doc_a
JOIN sig sb ON sb.doc_id = c.doc_b
LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
JOIN sizes na ON na.doc_id = c.doc_a
JOIN sizes nb ON nb.doc_id = c.doc_b
"""


def sql_cosine_topk(dialect: str) -> str:
    """Brute-force cosine top-k vs query vec_id=0 (ANN baseline).

    Explicit unnest-join dot product in BOTH dialects (double
    accumulation) so the arithmetic matches bit-for-bit after 4dp
    rounding.
    """
    if dialect == "spark":
        expl = """
comps AS (
  SELECT vec_id, posexplode(embedding) AS (pos, v) FROM embeddings
)"""
    else:
        expl = """
comps AS (
  SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS INT) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
)"""
    return f"""
WITH {expl},
q AS (SELECT pos, CAST(v AS DOUBLE) AS v FROM comps WHERE vec_id = 0),
dots AS (
  SELECT c.vec_id,
         sum(CAST(c.v AS DOUBLE) * q.v) AS dot,
         sum(CAST(c.v AS DOUBLE) * CAST(c.v AS DOUBLE)) AS nc
  FROM comps c JOIN q ON c.pos = q.pos
  WHERE c.vec_id <> 0
  GROUP BY c.vec_id
),
qn AS (SELECT sum(v * v) AS nq FROM q)
SELECT vec_id, {_rnd('dot / sqrt(nc * (SELECT nq FROM qn))', 4)} AS cosine
FROM dots
ORDER BY dot / sqrt(nc * (SELECT nq FROM qn)) DESC, vec_id
LIMIT 10
"""


# SQL-expressible operators: name -> template fn


def sql_token_count_nostop(dialect: str) -> str:
    """Tokenizer + stopword filter (text_processing/src/tokenizer.rs:26-95
    analog): token count after removing a stopword list."""
    stop = ["the", "and", "of", "der", "und", "le", "les", "el", "los", "il", "di"]
    toks = _split_ws("lower(text)", dialect)
    if dialect == "spark":
        arr = "array(" + ", ".join(f"'{w}'" for w in stop) + ")"
        kept = f"filter({toks}, x -> NOT array_contains({arr}, x))"
        n = f"size({kept})"
    else:
        arr = "[" + ", ".join(f"'{w}'" for w in stop) + "]"
        kept = f"list_filter({toks}, x -> NOT list_contains({arr}, x))"
        n = f"len({kept})"
    return f"""
SELECT doc_id, CAST({n} AS BIGINT) AS n_tokens_nostop
FROM documents
"""

def _simhash_ctes(dialect: str) -> str:
    """CTE chain toks -> hashed -> votes -> sig: the 60-bit SimHash
    (md5-prefix token hash, +1/-1 vote per bit) — the exact expression
    family of atra_spark.functions.dedup.simhash."""
    h = _hex_hash("tok", dialect)
    vote_cols = ",\n         ".join(
        f"sum(CASE WHEN {_bit('h', b, dialect)} = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(60)
    )
    sig_terms = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for b in range(60)
    )
    return f"""{_tokens_cte(dialect)},
hashed AS (SELECT doc_id, {h} AS h FROM toks),
votes AS (
  SELECT doc_id,
         {vote_cols}
  FROM hashed GROUP BY doc_id
),
sig0 AS (SELECT doc_id, {sig_terms} AS simhash FROM votes),
sig AS (
  SELECT d.doc_id, CAST(coalesce(s.simhash, 0) AS BIGINT) AS simhash
  FROM documents d LEFT JOIN sig0 s ON d.doc_id = s.doc_id
)"""


def sql_simhash(dialect: str) -> str:
    """60-bit SimHash signatures (dedup.simhash twin)."""
    return f"WITH {_simhash_ctes(dialect)}\nSELECT doc_id, simhash FROM sig"


def sql_simhash_near_pairs(dialect: str, max_hamming: int = 12) -> str:
    """SimHash near-pairs at Hamming<=max_hamming with max_hamming+1
    band blocking — twin of dedup.simhash_near_pairs."""
    from atra_spark.functions.dedup import band_slices

    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, simhash, {i} AS band, "
        f"{_shiftr('simhash', off, dialect)} & {(1 << w) - 1} AS key FROM sig"
        for i, (off, w) in enumerate(band_slices(60, max_hamming + 1))
    )
    ham = f"CAST(bit_count({_xor('a.simhash', 'b.simhash', dialect)}) AS INT)"
    return f"""WITH {_simhash_ctes(dialect)},
bands AS (
{band_rows}
)
SELECT doc_a, doc_b, hamming FROM (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, {ham} AS hamming
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
) p WHERE hamming <= {max_hamming}
"""


def sql_rolling_fp(dialect: str, window: int = 8) -> str:
    """Winnowing fingerprints: min 60-bit hash of every ``window``-token
    gram per (doc, hash%64 bucket) — twin of textstats.rolling_fingerprints."""
    if dialect == "spark":
        pos_cte = r"""
toks AS (
  SELECT doc_id, pos, tok
  FROM documents
  LATERAL VIEW posexplode(split(lower(trim(text)), '\\s+')) t AS pos, tok
)"""
    else:
        pos_cte = r"""
toks AS (
  SELECT doc_id, CAST(generate_subscripts(arr, 1) - 1 AS INT) AS pos, unnest(arr) AS tok
  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS arr FROM documents) d
)"""
    leads = ",\n         ".join(
        f"lead(tok, {i}) OVER (PARTITION BY doc_id ORDER BY pos) AS t{i}"
        for i in range(1, window)
    )
    gram = " || ' ' || ".join(["tok"] + [f"t{i}" for i in range(1, window)])
    h = _hex_hash(f"({gram})", dialect)
    return f"""WITH {pos_cte},
numbered AS (
  SELECT doc_id, pos, tok,
         {leads}
  FROM toks
),
grams AS (
  SELECT doc_id, {h} AS g
  FROM numbered WHERE t{window - 1} IS NOT NULL
)
SELECT doc_id AS id, CAST(g % 64 AS INT) AS bucket, min(g) AS fp
FROM grams GROUP BY doc_id, g % 64
"""


def sql_media_features(dialect: str) -> str:
    """Golden-by-construction oracle for the multimodal feature pass:
    the fixture generator (multimodal.synth_media_with_golden) computes
    the expected feature row for every payload from the SOURCE arrays
    it fed the encoders — it never runs a decoder — and materializes
    them as parquet. The Spark side must reproduce every column
    (dimensions, luma, perceptual hash, RMS, decode status) through
    real encode->decode round trips, floats bit-identical."""
    golden = _ensure_media_fixture()["golden"]
    return f"""
SELECT media_id, kind, n_bytes, sniffed_mime, payload_hash, decoded,
       coalesce(CAST(width AS BIGINT), -1) AS width,
       coalesce(CAST(height AS BIGINT), -1) AS height,
       coalesce(CAST(channels AS BIGINT), -1) AS channels,
       coalesce(CAST(n_frames AS BIGINT), -1) AS n_frames,
       coalesce(CAST(sample_rate AS BIGINT), -1) AS sample_rate,
       coalesce(ahash, -1) AS ahash,
       coalesce(duration_s, -1.0) AS duration_s,
       coalesce(rms, -1.0) AS rms,
       coalesce(mean_luma, -1.0) AS mean_luma
FROM read_parquet('{golden}')
"""


def sql_media_phash_pairs(dialect: str) -> str:
    """Brute-force twin of the pigeonhole-banded perceptual-hash join:
    all image pairs within Hamming distance 8 over the golden ahash
    column (banding has 100% recall by construction, so banded ==
    brute force exactly)."""
    golden = _ensure_media_fixture()["golden"]
    return f"""
WITH sig AS (
  SELECT media_id, ahash FROM read_parquet('{golden}') WHERE ahash IS NOT NULL
)
SELECT a.media_id AS media_a, b.media_id AS media_b,
       CAST(bit_count(xor(a.ahash, b.ahash)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.media_id < b.media_id
WHERE bit_count(xor(a.ahash, b.ahash)) <= 8
"""


def sql_sitemap_candidates(dialect: str) -> str:
    """Constructive oracle for the sitemap source: the Spark side builds
    per-source <urlset> XML from the documents table and runs the real
    Arrow-batched XML parse; the truth is the URL construction rule."""
    return """
SELECT 'https://' || source || '.example/doc' || CAST(doc_id AS VARCHAR) || '.html' AS url,
       source || '.example' AS host,
       'https://' || source || '.example/sitemap.xml' AS sitemap_url
FROM documents WHERE doc_id < 60
"""


def sql_tfidf_topk(dialect: str) -> str:
    """TF-IDF top-5 terms per document — twin of
    atra_spark.functions.tfidf.vectorize_topk (TermFrequency x
    InverseDocumentFrequencySmooth, tf_idf.rs:196-198,:276-281; the
    reference counts a word's TOTAL corpus occurrences as its idf
    frequency, corpus.rs:102-110)."""
    return f"""
WITH {_tokens_cte(dialect)},
counts AS (SELECT doc_id, tok AS word, count(*) AS c FROM toks GROUP BY doc_id, tok),
stats AS (SELECT tok AS word, count(*) AS wf FROM toks GROUP BY tok),
nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
weighted AS (
  SELECT c.doc_id, c.word,
         (c.c * 1.0 / sum(c.c) OVER (PARTITION BY c.doc_id))
           * (log10((SELECT n FROM nd) / (s.wf + 1.0)) + 1.0) AS w
  FROM counts c JOIN stats s ON c.word = s.word
),
scored AS (
  SELECT doc_id, word,
         CAST(floor(w * 1000000 + 0.5 + 1e-9) AS DOUBLE) / 1000000 AS tf_idf
  FROM weighted
),
ranked AS (
  SELECT doc_id, word, tf_idf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tf_idf DESC, word ASC) AS rank
  FROM scored
)
SELECT doc_id, word, tf_idf, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF document vectors, top-5 terms per doc
    (atra_spark.functions.tfidf.vectorize_topk)."""
    from atra_spark.functions.tfidf import vectorize_topk

    _register(spark, sf_dir)
    return vectorize_topk(spark.table("documents"), k=5)


def sql_embedding_lsh_topk(dialect: str) -> str:
    """Oracle for the LSH-bucketed ANN: the random-hyperplane bucketing
    is deterministic (seeded), so the planes are embedded as literals
    and DuckDB replicates bucket assignment, the Hamming<=2 multiprobe
    set, and the exact re-rank — approximate ANN, exactly specified."""
    import numpy as np

    rng = np.random.default_rng(42)
    planes = rng.standard_normal((8, 64))
    vals = ",\n    ".join(
        f"({p}, {i}, {float(w)!r})"
        for p in range(8)
        for i, w in enumerate(planes[p])
    )
    if dialect == "spark":
        expl = """
comps AS (
  SELECT vec_id, posexplode(embedding) AS (pos, v) FROM embeddings
)"""
    else:
        expl = """
comps AS (
  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
)"""
    ham = f"bit_count({_xor('b.bucket', '(SELECT bucket FROM qbucket)', dialect)})"
    return f"""
WITH planes(plane, pos, w) AS (VALUES
    {vals}
),
{expl.strip()},
dots AS (
  SELECT c.vec_id, p.plane, sum(CAST(c.v AS DOUBLE) * p.w) AS dot
  FROM comps c JOIN planes p ON c.pos = p.pos
  GROUP BY c.vec_id, p.plane
),
buckets AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN dot > 0 THEN CAST(1 AS BIGINT) * CAST(pow(2, plane) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
  FROM dots GROUP BY vec_id
),
qbucket AS (SELECT bucket FROM buckets WHERE vec_id = 0),
cands AS (
  SELECT b.vec_id FROM buckets b
  WHERE b.vec_id <> 0 AND {ham} <= 2
),
q AS (SELECT pos, v FROM comps WHERE vec_id = 0),
scored AS (
  SELECT c.vec_id,
         sum(c.v * q.v) AS dot,
         sum(c.v * c.v) AS nc
  FROM comps c JOIN q ON c.pos = q.pos
  WHERE c.vec_id IN (SELECT vec_id FROM cands)
  GROUP BY c.vec_id
),
qn AS (SELECT sum(v * v) AS nq FROM q)
SELECT vec_id, {_rnd('dot / sqrt(nc * (SELECT nq FROM qn))', 4)} AS cosine
FROM scored
ORDER BY dot / sqrt(nc * (SELECT nq FROM qn)) DESC, vec_id
LIMIT 10
"""


_SQL_OPS: dict[str, Callable[[str], str]] = {
    "frontier_antijoin_dedup": sql_frontier_antijoin,
    "politeness_topk_admission": sql_politeness_topk,
    "seen_merge_latest_state": sql_seen_merge_latest,
    "queue_age_filter": sql_queue_age_filter,
    "blacklist_regex_filter": sql_blacklist_filter,
    "state_counters": sql_state_counters,
    "budget_predicate": sql_budget_predicate,
    "q1_pricing_summary": sql_q1_pricing,
    "q3_join_topk": sql_q3_join_topk,
    "dedup_exact_hash": sql_dedup_exact,
    "token_count": sql_token_count,
    "text_quality": sql_text_quality,
    "doc_fingerprint": sql_doc_fingerprint,
    "lang_id_markers": sql_lang_markers,
    "dedup_ngram_jaccard": sql_ngram_jaccard,
    "minhash_band_pairs": sql_minhash_band_pairs,
    "embedding_cosine_topk": sql_cosine_topk,
    "token_count_nostop": sql_token_count_nostop,
}


def _make_sql_query(name: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _register(spark, sf_dir)
        return spark.sql(_SQL_OPS[name]("spark"))

    run.__name__ = name
    return run


# ==========================================================================
# DataFrame-API operators with constructive DuckDB oracles
# ==========================================================================
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document — pure JVM aggregation
    (atra_spark.functions.dedup.simhash); oracle: sql_simhash."""
    from atra_spark.functions.dedup import simhash

    _register(spark, sf_dir)
    return simhash(spark.table("documents")).select(
        F.col("id").alias("doc_id"), "simhash"
    )


def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs at Hamming<=12 (13-band pigeonhole
    blocking; atra_spark.functions.dedup.simhash_near_pairs)."""
    from atra_spark.functions.dedup import simhash_near_pairs

    _register(spark, sf_dir)
    return simhash_near_pairs(spark.table("documents"), max_hamming=12).select(
        "doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming")
    )


def q_minhash_lsh_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame-API MinHash-LSH candidates (xxhash64 band buckets — the
    scale path). Oracle: the band-pair SQL — the candidate set equals
    'docs sharing any band' (the xxhash64 bucketing only adds hash
    collisions, absent on this corpus)."""
    from atra_spark.functions.dedup import minhash_lsh_candidates

    _register(spark, sf_dir)
    return minhash_lsh_candidates(spark.table("documents"))


def q_minhash_band_pairs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark side of the ``minhash_band_pairs`` contract query as the
    DataFrame-API operator (atra_spark.functions.dedup.
    minhash_lsh_candidates — zero-shuffle row-local signatures, pinned
    sig relation, one band Generate). Identical output to executing
    sql_minhash_band_pairs("spark"): min-over-distinct == min-over-all
    shingles, same 60-bit md5 hash family, same band/bucket pairing;
    the DuckDB oracle text is unchanged."""
    from atra_spark.functions.dedup import minhash_lsh_candidates

    _register(spark, sf_dir)
    return minhash_lsh_candidates(spark.table("documents"))


def q_dedup_ngram_jaccard_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark side of the ``dedup_ngram_jaccard`` contract query as the
    DataFrame-API operator (atra_spark.functions.dedup.
    ngram_jaccard_pairs): one shingle shuffle + map-side-combined
    common counts, instead of the SQL text whose shingle CTE Spark
    re-evaluates per reference. Same distinct-shingle universe, same
    integer counts, same double division and HALF_UP 4dp rounding as
    the (unchanged) oracle SQL."""
    from atra_spark.functions.dedup import ngram_jaccard_pairs

    _register(spark, sf_dir)
    out = ngram_jaccard_pairs(spark.table("documents"), threshold=0.5)
    rnd = F.floor(F.col("jaccard") * 10000 + 0.5 + 1e-6).cast("double") / 10000
    return out.select("doc_a", "doc_b", rnd.alias("jaccard"))


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the MinHash-LSH
    candidate pair graph (iterative min-label propagation; cluster_id =
    min doc_id of the component). Oracle: recursive-CTE transitive
    closure over the identical band-pair edge set."""
    from atra_spark.functions.dedup import connected_components, minhash_lsh_candidates

    _register(spark, sf_dir)
    pairs = minhash_lsh_candidates(spark.table("documents"))
    return connected_components(pairs).orderBy("doc_id")


def sql_dedup_clusters(dialect: str) -> str:
    pairs = sql_minhash_band_pairs(dialect)
    return f"""
WITH RECURSIVE pairs AS ({pairs}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(node, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a
)
SELECT node AS doc_id, MIN(r) AS cluster_id
FROM reach GROUP BY node ORDER BY doc_id
"""


def q_script_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script mix per document (atra_spark.functions.
    textstats.script_purity — Cyrillic-homoglyph / wrong-encoding
    spam signal). Oracle: sql_script_purity (RE2 script classes)."""
    from atra_spark.functions.textstats import script_purity

    _register(spark, sf_dir)
    out = script_purity(spark.table("documents"))
    return out.select(F.col("id").alias("doc_id"), *out.columns[1:])


def sql_script_purity(dialect: str) -> str:
    """Twin of textstats.script_purity: per-script char counts via
    RE2 \\p{Script} classes, dominant share, 1e-6 rounding."""
    scripts = ["Latin", "Cyrillic", "Greek", "Han", "Arabic"]
    cnt = {
        s: f"(length(text) - length(regexp_replace(text, '\\p{{{s}}}', '', 'g')))"
        for s in scripts
    }
    total = " + ".join(cnt.values())
    dom = "greatest(" + ", ".join(cnt.values()) + ")"
    cols = ",\n       ".join(
        f"CAST({cnt[s]} AS BIGINT) AS n_{s.lower()}" for s in scripts
    )
    return f"""
SELECT doc_id,
       {cols},
       CASE WHEN {total} > 0
            THEN CAST(floor({dom} * 1.0 / ({total}) * 1000000 + 0.5 + 1e-6)
                      AS DOUBLE) / 1000000
            ELSE 1.0 END AS script_purity
FROM documents
"""


def q_source_dup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source near-duplication rate (atra_spark.functions.dedup.
    source_dup_ratio): fraction of each source's docs inside a
    MinHash-LSH near-dup cluster — the mixing-time downweight signal
    for mirror-heavy sources. Oracle: sql_source_dup_ratio."""
    from atra_spark.functions.dedup import source_dup_ratio

    _register(spark, sf_dir)
    return source_dup_ratio(spark.table("documents"))


def sql_source_dup_ratio(dialect: str) -> str:
    pairs = sql_minhash_band_pairs(dialect)
    return f"""
WITH pairs AS ({pairs}),
members AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_a AS doc_id FROM pairs
    UNION ALL
    SELECT doc_b FROM pairs
  ) u
)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN m.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_docs,
       CAST(floor(sum(CASE WHEN m.doc_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0
                  / count(*) * 1000000 + 0.5 + 1e-6) AS DOUBLE) / 1000000
         AS dup_ratio
FROM documents d LEFT JOIN members m ON d.doc_id = m.doc_id
GROUP BY d.source
"""


def q_worst_window_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document worst 10-bigram-window LM score (atra_spark.
    functions.textstats.worst_window_quality — the span-level quality
    signal the doc-level mean hides). Oracle:
    sql_worst_window_quality."""
    from atra_spark.functions.textstats import worst_window_quality

    _register(spark, sf_dir)
    return worst_window_quality(spark.table("documents"))


def sql_worst_window_quality(dialect: str, window: int = 10, add_k: float = 0.5) -> str:
    """Twin of textstats.worst_window_quality: identical bigram model,
    sliding frame of {window} bigram positions, 1e-6-rounded min
    election with earliest-start ties."""
    return f"""
WITH base AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
pairs AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         toks[CAST(i + 1 AS INT)] AS prev, toks[CAST(i + 2 AS INT)] AS cur
  FROM (SELECT doc_id, toks, unnest(range(len(toks) - 1)) AS i
        FROM base WHERE len(toks) >= 2) u
),
bc AS (SELECT prev, cur, count(*) AS bc FROM pairs GROUP BY prev, cur),
pc AS (SELECT prev, count(*) AS pc FROM pairs GROUP BY prev),
vocab AS (
  SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v
  FROM (SELECT unnest(toks) AS tok FROM base) t
),
scored AS (
  SELECT p.doc_id, p.pos,
         ln((bc.bc + {add_k}) / (pc.pc + {add_k} * vocab.v)) AS lp
  FROM pairs p JOIN bc ON p.prev = bc.prev AND p.cur = bc.cur
  JOIN pc ON p.prev = pc.prev
  CROSS JOIN vocab
),
windows AS (
  SELECT doc_id, pos,
         CAST(floor(avg(lp) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING)
                    * 1000000 + 0.5 + 1e-6) AS DOUBLE) / 1000000 AS w_lp,
         count(lp) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING) AS w_n
  FROM scored
),
best AS (
  SELECT doc_id, pos, w_lp,
         row_number() OVER (PARTITION BY doc_id ORDER BY w_lp ASC, pos ASC) AS rn
  FROM windows WHERE w_n = {window}
)
SELECT doc_id, CAST(pos AS BIGINT) AS worst_start, w_lp AS worst_logprob
FROM best WHERE rn = 1
"""


def q_pack_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-boundary chunking at block=32 tokens (atra_spark.
    functions.textstats.pack_sentences — chunks break where sentences
    end; a straddling sentence stays whole in the chunk where it
    starts). Oracle: sql_pack_sentences."""
    from atra_spark.functions.textstats import pack_sentences

    _register(spark, sf_dir)
    return pack_sentences(spark.table("documents"), block=32)


def sql_pack_sentences(dialect: str, block: int = 32) -> str:
    """Twin of textstats.pack_sentences: token-level sentence ends
    (RE2-safe, no lookbehind), prior-ends window, min-start-idx chunk
    assignment, ordered reassembly."""
    words = r"list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')"
    return f"""
WITH base AS (SELECT doc_id, {words} AS toks FROM documents),
tokens AS (
  SELECT doc_id, CAST(i AS INT) AS idx, toks[CAST(i + 1 AS INT)] AS tok
  FROM (SELECT doc_id, toks, unnest(range(len(toks))) AS i FROM base) u
),
sent AS (
  SELECT doc_id, idx, tok,
         COALESCE(sum(CASE WHEN regexp_matches(tok, '[.!?]$') THEN 1 ELSE 0 END)
                  OVER (PARTITION BY doc_id ORDER BY idx
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS sent_id
  FROM tokens
),
starts AS (
  SELECT doc_id, sent_id, min(idx) AS start_idx FROM sent GROUP BY doc_id, sent_id
),
chunked AS (
  SELECT s.doc_id, s.idx, s.tok,
         CAST(floor(st.start_idx / {block}.0) AS BIGINT) AS chunk_id
  FROM sent s JOIN starts st ON s.doc_id = st.doc_id AND s.sent_id = st.sent_id
)
SELECT doc_id, chunk_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       string_agg(tok, ' ' ORDER BY idx) AS chunk_text
FROM chunked GROUP BY doc_id, chunk_id
"""


def q_corpus_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) corpus data card (atra_spark.functions.
    textstats.corpus_data_card): doc/token/char volumes, mean length,
    token share — one map-side-combined pass + a 1-row broadcast
    total. Oracle: sql_corpus_data_card."""
    from atra_spark.functions.textstats import corpus_data_card

    _register(spark, sf_dir)
    return corpus_data_card(spark.table("documents"))


def sql_corpus_data_card(dialect: str) -> str:
    """Twin of textstats.corpus_data_card: same tokens, same grid,
    1e-6 half-up ratios."""
    toks = r"len(regexp_split_to_array(trim(text), '\s+'))"
    return f"""
WITH per AS (
  SELECT source, lang,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum({toks}) AS BIGINT) AS n_tokens,
         CAST(sum(length(text)) AS BIGINT) AS n_chars
  FROM documents GROUP BY source, lang
),
tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS tot FROM per)
SELECT source, lang, n_docs, n_tokens, n_chars,
       CAST(floor(n_tokens * 1.0 / n_docs * 1000000 + 0.5 + 1e-6) AS DOUBLE)
         / 1000000 AS avg_tokens,
       CAST(floor(n_tokens / tot * 1000000 + 0.5 + 1e-6) AS DOUBLE)
         / 1000000 AS token_share
FROM per CROSS JOIN tot
"""


def q_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed near-containment pairs at 3-gram containment >= 0.8
    (atra_spark.functions.dedup.ngram_containment_pairs — the
    asymmetric quote/superset relation Jaccard misses; the dedup
    decision drops the CONTAINED copy). 4dp HALF_UP rounding. Oracle:
    sql_ngram_containment."""
    from atra_spark.functions.dedup import ngram_containment_pairs

    _register(spark, sf_dir)
    out = ngram_containment_pairs(spark.table("documents"))
    rounded = (
        F.floor(F.col("containment") * 10000 + 0.5 + 1e-6).cast("double") / 10000
    )
    return out.select("contained", "container", rounded.alias("containment"))


def sql_ngram_containment(dialect: str) -> str:
    """Twin of dedup.ngram_containment_pairs: directed shingle
    self-join, containment = common / |contained|, threshold 0.8."""
    return f"""
WITH {_shingles_cte(dialect)},
card AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS contained, b.doc_id AS container, count(*) AS c
  FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT common.contained, common.container,
       {_rnd('c * 1.0 / ca.n', 4)} AS containment
FROM common
JOIN card ca ON ca.doc_id = common.contained
WHERE c * 1.0 / ca.n >= 0.8
"""


def q_change_rate_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive recrawl priorities from a deterministic 3-round
    observation history (atra_spark.functions.snapshot.
    change_rate_priority — Cho/Garcia-Molina change-rate estimation):
    doc_id%3==0 pages change every round, %3==1 change once, %3==2
    never; %5==0 pages miss round 2. Oracle: sql_change_rate_priority."""
    from atra_spark.functions.snapshot import change_rate_priority

    _register(spark, sf_dir)
    docs = spark.table("documents")
    url = F.concat(
        F.lit("https://s"), (F.col("doc_id") % 13).cast("string"),
        F.lit(".example/d"), F.col("doc_id").cast("string"),
    )
    parts = []
    for r in range(3):
        d = docs if r < 2 else docs.filter(F.col("doc_id") % 5 != 0)
        salt = (
            F.when(F.col("doc_id") % 3 == 0, F.lit(f"|{r}"))
            .when((F.col("doc_id") % 3 == 1) & (F.lit(r) == 2), F.lit("|x"))
            .otherwise(F.lit(""))
        )
        from atra_spark.functions.dedup import content_hash

        parts.append(
            d.select(
                url.alias("url"),
                F.lit(r).alias("round"),
                content_hash(F.concat(F.col("text"), salt)).alias("digest"),
            )
        )
    hist = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return change_rate_priority(hist, now_round=3)


def sql_change_rate_priority(dialect: str) -> str:
    """Twin of snapshot.change_rate_priority over the same synthetic
    history: lag window per url, smoothed rate, staleness priority,
    1e-6 rounding."""
    url = "'https://s' || CAST(doc_id % 13 AS VARCHAR) || '.example/d' || CAST(doc_id AS VARCHAR)"
    rows = []
    for r in range(3):
        where = "" if r < 2 else "WHERE doc_id % 5 <> 0"
        salt = (
            f"CASE WHEN doc_id % 3 = 0 THEN '|{r}' "
            f"WHEN doc_id % 3 = 1 AND {r} = 2 THEN '|x' ELSE '' END"
        )
        dig = _hex_hash(f"text || {salt}", dialect)
        rows.append(
            f"SELECT {url} AS url, {r} AS rnd, {dig} AS dig FROM documents {where}"
        )
    hist = "\nUNION ALL\n".join(rows)
    return f"""
WITH hist AS ({hist}),
obs AS (
  SELECT url, rnd, dig,
         lag(dig) OVER (PARTITION BY url ORDER BY rnd) AS prev_dig
  FROM hist
),
agg AS (
  SELECT url, count(*) AS n_obs,
         sum(CASE WHEN prev_dig IS NOT NULL AND dig <> prev_dig THEN 1 ELSE 0 END)
           AS n_changes,
         max(rnd) AS last_round
  FROM obs GROUP BY url
)
SELECT url, CAST(n_obs AS BIGINT) AS n_obs, CAST(n_changes AS BIGINT) AS n_changes,
       CAST(floor((n_changes + 0.5) / (n_obs - 1 + 1.0) * 1000000 + 0.5 + 1e-6)
            AS DOUBLE) / 1000000 AS change_rate,
       CAST(floor((3 - last_round) * (n_changes + 0.5) / (n_obs - 1 + 1.0) * 1000000
                  + 0.5 + 1e-6) AS DOUBLE) / 1000000 AS priority
FROM agg
"""


def q_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution drift between two corpus halves (atra_spark.
    functions.textstats.corpus_drift): add-one-smoothed per-token
    ln(p_a/p_b) over the union vocabulary at combined count >= 10 —
    the crawl-to-crawl monitoring twin of snapshot_diff. Oracle:
    sql_corpus_drift."""
    from atra_spark.functions.textstats import corpus_drift

    _register(spark, sf_dir)
    docs = spark.table("documents")
    return corpus_drift(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        min_count=10,
    )


def sql_corpus_drift(dialect: str, min_count: int = 10) -> str:
    """Twin of textstats.corpus_drift: same tokens, full-outer count
    join, add-one smoothing over the union vocab, 1e-6 rounding."""
    toks = r"unnest(regexp_split_to_array(lower(trim(text)), '\s+'))"
    return f"""
WITH ta AS (
  SELECT {toks} AS tok FROM documents WHERE doc_id % 2 = 0
),
tb AS (
  SELECT {toks} AS tok FROM documents WHERE doc_id % 2 = 1
),
ca AS (SELECT tok, count(*) AS cnt_a FROM ta WHERE tok <> '' GROUP BY tok),
cb AS (SELECT tok, count(*) AS cnt_b FROM tb WHERE tok <> '' GROUP BY tok),
joined AS (
  SELECT COALESCE(ca.tok, cb.tok) AS tok,
         COALESCE(cnt_a, 0) AS cnt_a, COALESCE(cnt_b, 0) AS cnt_b
  FROM ca FULL OUTER JOIN cb ON ca.tok = cb.tok
),
tot AS (
  SELECT (SELECT CAST(sum(cnt_a) AS DOUBLE) FROM ca) AS tot_a,
         (SELECT CAST(sum(cnt_b) AS DOUBLE) FROM cb) AS tot_b,
         (SELECT CAST(count(*) AS DOUBLE) FROM
            (SELECT tok FROM ca UNION SELECT tok FROM cb) v) AS vocab
)
SELECT tok, cnt_a, cnt_b,
       CAST(floor(ln(((cnt_a + 1) / (tot_a + vocab))
                     / ((cnt_b + 1) / (tot_b + vocab))) * 1000000 + 0.5 + 1e-6)
            AS DOUBLE) / 1000000 AS log_ratio
FROM joined CROSS JOIN tot
WHERE cnt_a + cnt_b >= {min_count}
"""


def q_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level benchmark decontamination (atra_spark.functions.
    textstats.decontaminate_spans): documents with doc_id%17==0 play
    the benchmark suite; every verbatim 8-token benchmark span is
    excised from the rest and the clean remainder reassembled in
    order. Oracle: sql_decontaminate_spans."""
    from atra_spark.functions.textstats import decontaminate_spans

    _register(spark, sf_dir)
    docs = spark.table("documents")
    return decontaminate_spans(
        docs.filter(F.col("doc_id") % 17 != 0),
        docs.filter(F.col("doc_id") % 17 == 0),
    )


def sql_decontaminate_spans(dialect: str) -> str:
    """Twin of textstats.decontaminate_spans at window=8: same token
    convention, 60-bit gram hash, benchmark gram-set semi-join,
    covered-index union, ordered reassembly."""
    words = r"list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '')"
    gram = _hex_hash(
        "array_to_string(toks[CAST(p + 1 AS INT):CAST(p + 8 AS INT)], ' ')", "duckdb"
    )
    return f"""
WITH corpus AS (SELECT doc_id, {words} AS toks FROM documents WHERE doc_id % 17 <> 0),
bench AS (SELECT doc_id, {words} AS toks FROM documents WHERE doc_id % 17 = 0),
tokens AS (
  SELECT doc_id, CAST(i AS INT) AS idx, toks[CAST(i + 1 AS INT)] AS tok
  FROM (SELECT doc_id, toks, unnest(range(len(toks))) AS i FROM corpus) u
),
cgrams AS (
  SELECT doc_id, CAST(p AS INT) AS pos, {gram} AS g
  FROM (
    SELECT doc_id, toks,
           unnest(range(CASE WHEN len(toks) >= 8 THEN len(toks) - 7 ELSE 0 END)) AS p
    FROM corpus
  ) u
),
bgrams AS (
  SELECT DISTINCT {gram} AS g
  FROM (
    SELECT toks,
           unnest(range(CASE WHEN len(toks) >= 8 THEN len(toks) - 7 ELSE 0 END)) AS p
    FROM bench
  ) u
),
removal AS (
  SELECT DISTINCT doc_id, CAST(pos + j AS INT) AS idx
  FROM (
    SELECT doc_id, pos, unnest(range(8)) AS j
    FROM cgrams WHERE g IN (SELECT g FROM bgrams)
  ) u
),
flagged AS (
  SELECT t.doc_id, t.idx, t.tok, (r.idx IS NOT NULL) AS rm
  FROM tokens t LEFT JOIN removal r ON t.doc_id = r.doc_id AND t.idx = r.idx
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       coalesce(string_agg(tok, ' ' ORDER BY idx) FILTER (WHERE NOT rm), '')
         AS clean_text
FROM flagged
GROUP BY doc_id
"""


def q_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split (atra_spark.functions.dedup.
    cluster_safe_split): split assigned per near-dup CLUSTER via the
    cluster's 60-bit content hash mod 1000, so near-duplicates never
    straddle splits. Oracle: sql_cluster_safe_split (recursive-CTE
    closure + identical md5 hash arithmetic)."""
    from atra_spark.functions.dedup import cluster_safe_split

    _register(spark, sf_dir)
    return cluster_safe_split(spark.table("documents"))


def sql_cluster_safe_split(dialect: str) -> str:
    pairs = sql_minhash_band_pairs(dialect)
    h = _hex_hash("'split|' || CAST(cluster_id AS VARCHAR)", dialect)
    return f"""
WITH RECURSIVE pairs AS ({pairs}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(node, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a
),
clus AS (SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node),
labeled AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN clus c ON d.doc_id = c.doc_id
)
SELECT doc_id, cluster_id,
       CASE WHEN {h} % 1000 < 100 THEN 'test'
            WHEN {h} % 1000 < 200 THEN 'val'
            ELSE 'train' END AS split
FROM labeled
"""


def q_embedding_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric quantized ANN: int8 scalar-quantized corpus
    (atra_spark.functions.similarity.quantize_embeddings — the 4x
    storage saver a 100 TB vector store runs) scored against the exact
    float query (vec 0), top-10 by reconstructed cosine. Oracle:
    sql_embedding_quantized_topk (identical offset/scale/floor(+0.5)
    arithmetic in SQL)."""
    from atra_spark.functions.similarity import (
        quantize_embeddings,
        quantized_cosine_topk,
    )

    _register(spark, sf_dir)
    emb = spark.table("embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    qd = quantize_embeddings(emb.filter(F.col("vec_id") != 0))
    out = quantized_cosine_topk(qd, [float(x) for x in q], k=10)
    rounded = F.floor(F.col("cosine") * 10000 + 0.5 + 1e-6).cast("double") / 10000
    return out.select(F.col("id").alias("vec_id"), rounded.alias("cosine"))


def sql_embedding_quantized_topk(dialect: str) -> str:
    """Twin of quantize_embeddings + quantized_cosine_topk: per-vector
    min/max, scale (hi-lo)/255, code = floor((x-lo)/scale + 0.5),
    reconstruction lo + code*scale, cosine vs the raw vec-0 query."""
    if dialect == "spark":
        expl = """
comps AS (
  SELECT vec_id, posexplode(embedding) AS (pos, v) FROM embeddings
)"""
    else:
        expl = """
comps AS (
  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
         unnest(embedding) AS v
  FROM embeddings
)"""
    return f"""
WITH {expl},
mm AS (
  SELECT vec_id, min(CAST(v AS DOUBLE)) AS lo, max(CAST(v AS DOUBLE)) AS hi
  FROM comps GROUP BY vec_id
),
recon AS (
  SELECT c.vec_id, c.pos,
         CASE WHEN (mm.hi - mm.lo) / 255.0 > 0
              THEN mm.lo + floor((CAST(c.v AS DOUBLE) - mm.lo)
                                 / ((mm.hi - mm.lo) / 255.0) + 0.5)
                   * ((mm.hi - mm.lo) / 255.0)
              ELSE mm.lo END AS r
  FROM comps c JOIN mm ON c.vec_id = mm.vec_id
  WHERE c.vec_id <> 0
),
q AS (SELECT pos, CAST(v AS DOUBLE) AS v FROM comps WHERE vec_id = 0),
scored AS (
  SELECT recon.vec_id, sum(recon.r * q.v) AS dot, sum(recon.r * recon.r) AS nc
  FROM recon JOIN q ON recon.pos = q.pos
  GROUP BY recon.vec_id
),
qn AS (SELECT sum(v * v) AS nq FROM q)
SELECT vec_id, {_rnd('dot / sqrt(nc * (SELECT nq FROM qn))', 4)} AS cosine
FROM scored
ORDER BY dot / sqrt(nc * (SELECT nq FROM qn)) DESC, vec_id
LIMIT 10
"""


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware fuzzy dedup (atra_spark.functions.dedup.
    dedup_keep_best): near-dup clusters via MinHash-LSH + connected
    components, then keep the highest-n_chars member per cluster
    (ties: lowest doc_id); unclustered docs survive. Oracle:
    sql_dedup_keep_best (recursive-CTE closure + window argmax)."""
    from atra_spark.functions.dedup import dedup_keep_best

    _register(spark, sf_dir)
    return dedup_keep_best(spark.table("documents"), "n_chars")


def sql_dedup_keep_best(dialect: str) -> str:
    pairs = sql_minhash_band_pairs(dialect)
    return f"""
WITH RECURSIVE pairs AS ({pairs}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(node, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a
),
clus AS (SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node),
ranked AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id, d.n_chars,
         row_number() OVER (PARTITION BY COALESCE(c.cluster_id, d.doc_id)
                            ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
  FROM documents d LEFT JOIN clus c ON d.doc_id = c.doc_id
)
SELECT doc_id, cluster_id, n_chars FROM ranked WHERE rn = 1
"""


def q_embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 via random-hyperplane LSH bucketing + Hamming<=2
    multiprobe + exact re-rank. The planes are seeded, so the oracle
    (sql_embedding_lsh_topk) replicates the bucketing with literal
    plane weights and the same probe rule."""
    from atra_spark.functions.similarity import lsh_bucketed_topk

    _register(spark, sf_dir)
    emb = spark.table("embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    out = lsh_bucketed_topk(
        emb.filter(F.col("vec_id") != 0), [float(x) for x in q], k=10, multiprobe=2
    )
    # HALF_UP 4dp rounding, same formula as the SQL twin (_rnd)
    rounded = F.floor(F.col("cosine") * 10000 + 0.5 + 1e-6).cast("double") / 10000
    return out.select(F.col("id").alias("vec_id"), rounded.alias("cosine"))


def q_embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 via IVF: centroids = vectors 1..8 of the table
    (deterministic, so the oracle recomputes the identical cells in
    SQL), probe the 2 best cells for the query (vec 0), exact re-rank.
    The second ANN family next to the LSH path."""
    from atra_spark.functions.similarity import ivf_topk

    _register(spark, sf_dir)
    emb = spark.table("embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    cents = emb.filter(F.col("vec_id").between(1, 8)).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    out = ivf_topk(
        emb.filter(F.col("vec_id") != 0), [float(x) for x in q], cents,
        k=10, n_probe=2,
    )
    rounded = F.floor(F.col("cosine") * 10000 + 0.5 + 1e-6).cast("double") / 10000
    return out.select(F.col("id").alias("vec_id"), rounded.alias("cosine"))


def sql_embedding_ivf_topk(dialect: str) -> str:
    """Oracle: the IVF assignment (s = dot/|c|, max-s-then-min-cid tie
    rule), the 2-probe query cell set, and the exact re-rank — all in
    portable SQL over the same table."""
    if dialect == "spark":
        expl = """
comps AS (
  SELECT vec_id, posexplode(embedding) AS (pos, v) FROM embeddings
)"""
    else:
        expl = """
comps AS (
  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
)"""
    return f"""
WITH {expl.strip()},
cents AS (
  SELECT vec_id AS cid, pos, CAST(v AS DOUBLE) AS v FROM comps
  WHERE vec_id BETWEEN 1 AND 8
),
cnorm AS (SELECT cid, sqrt(sum(v * v)) AS n FROM cents GROUP BY cid),
scored AS (
  SELECT c.vec_id, ct.cid, sum(CAST(c.v AS DOUBLE) * ct.v) / cn.n AS s
  FROM comps c JOIN cents ct ON c.pos = ct.pos JOIN cnorm cn ON cn.cid = ct.cid
  GROUP BY c.vec_id, ct.cid, cn.n
),
best AS (SELECT vec_id, max(s) AS ms FROM scored GROUP BY vec_id),
cells AS (
  SELECT s.vec_id, min(s.cid) AS cell
  FROM scored s JOIN best b ON s.vec_id = b.vec_id AND s.s = b.ms
  GROUP BY s.vec_id
),
qcells AS (
  SELECT cell FROM (
    SELECT cid AS cell, s FROM scored WHERE vec_id = 0
    ORDER BY s DESC, cid LIMIT 2
  ) t
),
cands AS (
  SELECT vec_id FROM cells
  WHERE vec_id <> 0 AND cell IN (SELECT cell FROM qcells)
),
q AS (SELECT pos, v FROM comps WHERE vec_id = 0),
dots AS (
  SELECT c.vec_id,
         sum(CAST(c.v AS DOUBLE) * q.v) AS dot,
         sum(CAST(c.v AS DOUBLE) * CAST(c.v AS DOUBLE)) AS nc
  FROM comps c JOIN q ON c.pos = q.pos
  WHERE c.vec_id IN (SELECT vec_id FROM cands)
  GROUP BY c.vec_id
),
qn AS (SELECT sum(v * v) AS nq FROM q)
SELECT vec_id, {_rnd('dot / sqrt(nc * (SELECT nq FROM qn))', 4)} AS cosine
FROM dots
ORDER BY dot / sqrt(nc * (SELECT nq FROM qn)) DESC, vec_id
LIMIT 10
"""


def q_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (dup-line fraction,
    dup-line char fraction, top-bigram share) — training-data filters.
    Oracle: sql_repetition_metrics."""
    from atra_spark.functions.textstats import repetition_metrics

    _register(spark, sf_dir)
    return repetition_metrics(spark.table("documents")).orderBy("doc_id")


def sql_repetition_metrics(dialect: str) -> str:
    if dialect == "spark":
        lines_src = (
            "SELECT doc_id, explode(split(text, '\\n')) AS line FROM documents"
        )
        toks_src = """
  SELECT doc_id, pos, tok FROM (
    SELECT doc_id, posexplode(split(trim(lower(text)), '\\\\s+')) AS (pos, tok)
    FROM documents
  ) WHERE tok <> ''"""
    else:
        lines_src = (
            "SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM documents"
        )
        toks_src = """
  SELECT doc_id, pos, tok FROM (
    SELECT doc_id, CAST(generate_subscripts(l, 1) AS INT) AS pos, unnest(l) AS tok
    FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS l
          FROM documents)
  ) WHERE tok <> ''"""
    return f"""
WITH lines AS (
  SELECT doc_id, line FROM ({lines_src}) t WHERE trim(line) <> ''
),
per_line AS (SELECT doc_id, line, count(*) AS c FROM lines GROUP BY doc_id, line),
line_stats AS (
  SELECT doc_id,
         1.0 - count(*) * 1.0 / sum(c) AS dlf,
         sum(CASE WHEN c > 1 THEN c * length(line) ELSE 0 END) * 1.0
           / sum(c * length(line)) AS dlcf
  FROM per_line GROUP BY doc_id
),
toks AS ({toks_src}
),
bigs AS (
  SELECT doc_id, big FROM (
    SELECT doc_id,
           tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS big
    FROM toks
  ) t WHERE big IS NOT NULL
),
bi_counts AS (SELECT doc_id, big, count(*) AS c FROM bigs GROUP BY doc_id, big),
bi_stats AS (
  SELECT doc_id, max(c) * 1.0 / sum(c) AS tbf FROM bi_counts GROUP BY doc_id
)
SELECT d.doc_id,
       {_rnd('coalesce(ls.dlf, 0.0)', 4)} AS dup_line_frac,
       {_rnd('coalesce(ls.dlcf, 0.0)', 4)} AS dup_line_char_frac,
       {_rnd('coalesce(bs.tbf, 0.0)', 4)} AS top_bigram_frac
FROM documents d
LEFT JOIN line_stats ls ON ls.doc_id = d.doc_id
LEFT JOIN bi_stats bs ON bs.doc_id = d.doc_id
ORDER BY d.doc_id
"""


def q_rolling_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style rolling-hash document fingerprints (60-bit md5
    gram hash, min per 64-bucket). Oracle: sql_rolling_fp."""
    from atra_spark.functions.textstats import rolling_fingerprints

    _register(spark, sf_dir)
    return rolling_fingerprints(spark.table("documents"))


def q_duplicate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-passage candidates: pairs of docs
    sharing >= 2 winnowing fingerprints (near-exact 8-token passages),
    with a doc-frequency cap on boilerplate fingerprints. Oracle:
    sql_duplicate_passages."""
    from atra_spark.functions.textstats import duplicate_passage_pairs

    _register(spark, sf_dir)
    return duplicate_passage_pairs(spark.table("documents"))


def sql_duplicate_passages(dialect: str) -> str:
    """Twin of textstats.duplicate_passage_pairs: distinct (doc, fp)
    from the rolling-fingerprint sketch, doc-frequency-capped at 64,
    self-joined on fp, pairs with >= 2 shared fingerprints."""
    base = sql_rolling_fp(dialect)
    return f"""WITH fps AS (
  SELECT DISTINCT id, fp FROM ({base}) base
),
ok AS (
  SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 64
),
pruned AS (
  SELECT f.id, f.fp FROM fps f JOIN ok USING (fp)
)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(count(DISTINCT a.fp) AS BIGINT) AS shared_fps
FROM pruned a JOIN pruned b ON a.fp = b.fp AND a.id < b.id
GROUP BY a.id, b.id
HAVING count(DISTINCT a.fp) >= 2
"""


def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: train docs (doc_id % 10 != 0) sharing
    >= 2 winnowing fingerprints with the eval split (doc_id % 10 == 0)
    — broadcast benchmark-fingerprint semi-join, no corpus shuffle
    (atra_spark.functions.textstats.decontamination_overlap). Oracle:
    sql_decontamination."""
    from atra_spark.functions.textstats import decontamination_overlap

    _register(spark, sf_dir)
    docs = spark.table("documents")
    out = decontamination_overlap(
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
    )
    return out.select(F.col("id").alias("doc_id"), F.col("shared_fps").cast("long"))


def sql_decontamination(dialect: str) -> str:
    """Twin of textstats.decontamination_overlap over the same % 10
    train/eval split: distinct (doc, fp) winnowing fingerprints,
    docfreq-capped at 64 across both splits, train fps matched against
    the distinct eval fingerprint set, >= 2 shared."""
    base = sql_rolling_fp(dialect)
    return f"""WITH fps AS (
  SELECT DISTINCT id, fp FROM ({base}) base
),
ok AS (
  SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 64
),
pruned AS (
  SELECT f.id, f.fp FROM fps f JOIN ok USING (fp)
),
benchfps AS (
  SELECT DISTINCT fp FROM pruned WHERE id % 10 = 0
)
SELECT p.id AS doc_id, CAST(count(DISTINCT p.fp) AS BIGINT) AS shared_fps
FROM pruned p JOIN benchfps e ON p.fp = e.fp
WHERE p.id % 10 <> 0
GROUP BY p.id
HAVING count(DISTINCT p.fp) >= 2
"""


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: same-LSH-bucket (8 seeded
    hyperplanes) pairs with exact cosine >= 0.25
    (atra_spark.functions.similarity.embedding_near_dup_pairs). Oracle:
    sql_embedding_near_dup replicates the bucketing with literal plane
    weights, the bucket-population cap, and the exact re-rank."""
    from atra_spark.functions.similarity import embedding_near_dup_pairs

    _register(spark, sf_dir)
    # n_planes pinned: the oracle SQL replicates exactly these 8 seeded
    # hyperplanes as literals (library default is auto-sized by corpus)
    out = embedding_near_dup_pairs(
        spark.table("embeddings"), dim=64, threshold=0.25, n_planes=8
    )
    rounded = F.floor(F.col("cosine") * 10000 + 0.5 + 1e-6).cast("double") / 10000
    return out.select("id_a", "id_b", rounded.alias("cosine"))


def sql_embedding_near_dup(dialect: str) -> str:
    """Oracle for the embedding near-dup pairs: seeded hyperplanes as
    literals -> bucket per vector -> bucket-population cap (64) ->
    within-bucket pairs -> exact cosine >= 0.25, rounded HALF_UP 4dp."""
    import numpy as np

    rng = np.random.default_rng(42)
    planes = rng.standard_normal((8, 64))
    vals = ",\n    ".join(
        f"({p}, {i}, {float(w)!r})"
        for p in range(8)
        for i, w in enumerate(planes[p])
    )
    if dialect == "spark":
        expl = """
comps AS (
  SELECT vec_id, posexplode(embedding) AS (pos, v) FROM embeddings
)"""
    else:
        expl = """
comps AS (
  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
)"""
    return f"""
WITH planes(plane, pos, w) AS (VALUES
    {vals}
),
{expl.strip()},
dots AS (
  SELECT c.vec_id, p.plane, sum(CAST(c.v AS DOUBLE) * p.w) AS dot
  FROM comps c JOIN planes p ON c.pos = p.pos
  GROUP BY c.vec_id, p.plane
),
buckets AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN dot > 0 THEN CAST(1 AS BIGINT) * CAST(pow(2, plane) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
  FROM dots GROUP BY vec_id
),
ok AS (
  SELECT bucket FROM buckets GROUP BY bucket HAVING count(*) <= 64
),
pruned AS (
  SELECT b.vec_id, b.bucket FROM buckets b JOIN ok USING (bucket)
),
cands AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM pruned a JOIN pruned b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
),
norms AS (
  SELECT vec_id, sum(v * v) AS n2 FROM comps GROUP BY vec_id
),
scored AS (
  SELECT c.id_a, c.id_b, sum(x.v * y.v) AS dot
  FROM cands c
  JOIN comps x ON x.vec_id = c.id_a
  JOIN comps y ON y.vec_id = c.id_b AND y.pos = x.pos
  GROUP BY c.id_a, c.id_b
)
SELECT s.id_a, s.id_b,
       {_rnd('s.dot / sqrt(na.n2 * nb.n2)', 4)} AS cosine
FROM scored s
JOIN norms na ON na.vec_id = s.id_a
JOIN norms nb ON nb.vec_id = s.id_b
WHERE s.dot / sqrt(na.n2 * nb.n2) >= 0.25
"""


def q_corpus_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-corpus pipeline over the train split
    (doc_id % 10 != 0): exact dedup -> quality gates (>=30 tokens,
    space ratio in [0.1, 0.3]) -> decontamination against the eval
    split (atra_spark.functions.pipeline.materialize_corpus). Oracle:
    sql_corpus_materialize composes the same stages in SQL."""
    from atra_spark.functions.pipeline import materialize_corpus

    _register(spark, sf_dir)
    docs = spark.table("documents")
    out = materialize_corpus(
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
    )
    return out.select("doc_id", "lang")


def sql_corpus_materialize(dialect: str) -> str:
    """Twin of pipeline.materialize_corpus on the % 10 split: min-id
    keeper per content hash, token/space-ratio gates, then the
    decontamination stages computed over the SURVIVOR set (stage order
    matters: a quality-dropped doc cannot be flagged)."""
    toks = _split_ws("text", dialect)
    n = _array_len(toks, dialect)
    h = _hex_hash("text", dialect)
    fps = sql_rolling_fp(dialect)
    return f"""
WITH train AS (
  SELECT doc_id, lang, text, {h} AS ch,
         CAST({n} AS BIGINT) AS n_tok,
         (length(text) - length(replace(text, ' ', ''))) * 1.0
           / greatest(length(text), 1) AS sr
  FROM documents WHERE doc_id % 10 <> 0
),
keepers AS (
  SELECT ch, min(doc_id) AS doc_id FROM train GROUP BY ch
),
survivors AS (
  SELECT t.doc_id, t.lang FROM train t JOIN keepers k
    ON t.ch = k.ch AND t.doc_id = k.doc_id
  WHERE t.n_tok >= 30 AND t.sr >= 0.1 AND t.sr <= 0.3
),
allfps AS (
  SELECT DISTINCT id, fp FROM ({fps}) base
),
sfps AS (
  SELECT f.id, f.fp FROM allfps f JOIN survivors s ON f.id = s.doc_id
),
efps AS (
  SELECT id, fp FROM allfps WHERE id % 10 = 0
),
ok AS (
  SELECT fp FROM (SELECT id, fp FROM sfps UNION SELECT id, fp FROM efps) u
  GROUP BY fp HAVING count(*) <= 64
),
benchfps AS (
  SELECT DISTINCT e.fp FROM efps e JOIN ok USING (fp)
),
flagged AS (
  SELECT s.id FROM sfps s JOIN ok USING (fp) JOIN benchfps b ON s.fp = b.fp
  GROUP BY s.id HAVING count(DISTINCT s.fp) >= 2
)
SELECT doc_id, lang FROM survivors
WHERE doc_id NOT IN (SELECT id FROM flagged)
"""


def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-self-trained bigram LM quality score (mean add-0.5-
    smoothed token log-probability — the CCNet-style perplexity filter;
    atra_spark.functions.textstats.bigram_lm_score). Oracle:
    sql_bigram_lm_score."""
    from atra_spark.functions.textstats import bigram_lm_score

    _register(spark, sf_dir)
    out = bigram_lm_score(spark.table("documents"))
    rounded = F.floor(F.col("lm_logprob") * 1000000 + 0.5 + 1e-6).cast("double") / 1000000
    return out.select(F.col("id").alias("doc_id"), rounded.alias("lm_logprob"))


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease fluency gate
    (atra_spark.functions.textstats.readability_scores): sentence /
    word / vowel-group-syllable counts + the 206.835 formula, all
    whole-stage JVM. Oracle: sql_readability."""
    from atra_spark.functions.textstats import readability_scores

    _register(spark, sf_dir)
    out = readability_scores(spark.table("documents"))
    rounded = (
        F.floor(F.col("flesch") * 1000000 + 0.5 + 1e-6).cast("double") / 1000000
    )
    return out.select(
        F.col("id").alias("doc_id"), "n_sentences", "n_words", "n_syllables",
        rounded.alias("flesch"),
    )


def sql_readability(dialect: str) -> str:
    """Twin of textstats.readability_scores: identical regex
    approximations (sentence runs [.!?]+ floor 1, whitespace words,
    vowel-group syllables floor 1/word), 1e-6 half-up rounding."""
    return """
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
  FROM documents WHERE length(trim(text)) > 0
),
syl AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(greatest(1, len(regexp_extract_all(tok, '[aeiouy]+')))) AS BIGINT)
           AS n_syllables
  FROM toks GROUP BY doc_id
),
sent AS (
  SELECT doc_id,
         CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS BIGINT)
           AS n_sentences
  FROM documents WHERE length(trim(text)) > 0
)
SELECT s.doc_id, sent.n_sentences, s.n_words, s.n_syllables,
       CAST(floor((206.835 - 1.015 * s.n_words / sent.n_sentences
                   - 84.6 * s.n_syllables / s.n_words) * 1000000 + 0.5 + 1e-6)
            AS DOUBLE) / 1000000 AS flesch
FROM syl s JOIN sent ON s.doc_id = sent.doc_id
"""


def q_trigram_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-self-trained trigram LM with Stupid Backoff (Brants et
    al. 2007; atra_spark.functions.textstats.trigram_backoff_score) —
    count-pruned at min_count=2 so the backoff chain actually fires on
    a self-trained model. Oracle: sql_trigram_backoff."""
    from atra_spark.functions.textstats import trigram_backoff_score

    _register(spark, sf_dir)
    out = trigram_backoff_score(spark.table("documents"))
    rounded = (
        F.floor(F.col("trigram_logprob") * 1000000 + 0.5 + 1e-6).cast("double")
        / 1000000
    )
    return out.select(F.col("id").alias("doc_id"), rounded.alias("trigram_logprob"))


def sql_trigram_backoff(dialect: str, alpha: float = 0.4, min_count: int = 2) -> str:
    """Twin of textstats.trigram_backoff_score: same whitespace
    tokens, pruned trigram/bigram count relations, CASE backoff chain,
    mean ln-score per doc, 1e-6 half-up rounding."""
    return f"""
WITH toks AS (
  SELECT doc_id, CAST(generate_subscripts(arr, 1) - 1 AS INT) AS pos, unnest(arr) AS tok
  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS arr FROM documents) d
),
w AS (
  SELECT doc_id, tok AS a,
         lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS b,
         lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS c
  FROM toks
),
occ AS (SELECT doc_id, a, b, c FROM w WHERE c IS NOT NULL),
pairs AS (SELECT a AS prev, b AS cur FROM w WHERE b IS NOT NULL),
tric AS (
  SELECT a, b, c, CAST(count(*) AS DOUBLE) AS tc FROM occ
  GROUP BY a, b, c HAVING count(*) >= {min_count}
),
biraw AS (SELECT prev, cur, CAST(count(*) AS DOUBLE) AS bc FROM pairs GROUP BY prev, cur),
bipruned AS (SELECT prev, cur, bc FROM biraw WHERE bc >= {min_count}),
uni AS (SELECT tok, CAST(count(*) AS DOUBLE) AS uc FROM toks GROUP BY tok),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS n_total FROM toks),
scored AS (
  SELECT occ.doc_id,
         CASE WHEN t.tc IS NOT NULL THEN t.tc / x.bc
              WHEN p.bc IS NOT NULL THEN {alpha} * p.bc / ub.uc
              ELSE {alpha * alpha} * ucc.uc / tot.n_total END AS s
  FROM occ
  LEFT JOIN tric t ON t.a = occ.a AND t.b = occ.b AND t.c = occ.c
  JOIN biraw x ON x.prev = occ.a AND x.cur = occ.b
  LEFT JOIN bipruned p ON p.prev = occ.b AND p.cur = occ.c
  JOIN uni ub ON ub.tok = occ.b
  JOIN uni ucc ON ucc.tok = occ.c
  CROSS JOIN tot
)
SELECT doc_id,
       CAST(floor(avg(ln(s)) * 1000000 + 0.5 + 1e-6) AS DOUBLE) / 1000000
         AS trigram_logprob
FROM scored GROUP BY doc_id
"""


def sql_bigram_lm_score(dialect: str) -> str:
    """Twin of textstats.bigram_lm_score: same whitespace tokens, add-k
    bigram model trained on the corpus, mean ln-probability per doc."""
    if dialect == "spark":
        toks = r"""
toks AS (
  SELECT doc_id, pos, tok
  FROM documents
  LATERAL VIEW posexplode(split(lower(trim(text)), '\\s+')) t AS pos, tok
)"""
    else:
        toks = r"""
toks AS (
  SELECT doc_id, CAST(generate_subscripts(arr, 1) - 1 AS INT) AS pos, unnest(arr) AS tok
  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS arr FROM documents) d
)"""
    ln = "ln" if dialect == "duckdb" else "ln"
    return f"""
WITH {toks.strip()},
big AS (
  SELECT doc_id, tok AS prev,
         lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS cur
  FROM toks
),
pairs AS (SELECT doc_id, prev, cur FROM big WHERE cur IS NOT NULL),
bc AS (SELECT prev, cur, CAST(count(*) AS DOUBLE) AS bc FROM pairs GROUP BY prev, cur),
pc AS (SELECT prev, CAST(count(*) AS DOUBLE) AS pc FROM pairs GROUP BY prev),
v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v FROM toks)
SELECT p.doc_id,
       {_rnd('avg(' + ln + '((bc.bc + 0.5) / (pc.pc + 0.5 * (SELECT v FROM v))))', 6)} AS lm_logprob
FROM pairs p JOIN bc ON p.prev = bc.prev AND p.cur = bc.cur
JOIN pc ON p.prev = pc.prev
GROUP BY p.doc_id
"""


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over a deterministic edge set built from the events
    table (src = user_id % 100, dst = event_id % 97): 5 power
    iterations, damping 0.85, dangling mass redistributed uniformly
    (atra_spark.functions.graph.pagerank — the analysis pass over the
    engine's web-graph export). Oracle: sql_pagerank unrolls the same
    5 iterations as chained CTEs."""
    from atra_spark.functions.graph import pagerank

    _register(spark, sf_dir)
    ev = spark.table("events")
    edges = ev.select(
        (F.col("user_id") % 100).cast("long").alias("src"),
        (F.col("event_id") % 97).cast("long").alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    out = pagerank(edges, damping=0.85, iterations=5)
    rounded = F.floor(F.col("pr") * 1000000 + 0.5 + 1e-6).cast("double") / 1000000
    return out.select("node", rounded.alias("pr"))


def sql_pagerank(dialect: str) -> str:
    """Twin of graph.pagerank on the same deterministic edge set: the
    5 power iterations unrolled as chained CTEs (contribution sum +
    dangling-mass scalar per iteration), damping 0.85, HALF_UP 6dp.
    MATERIALIZED on DuckDB: each pr CTE is referenced twice by the next
    iteration and DuckDB inlines CTEs by default, so the inline chain
    costs 2^iterations base evaluations."""
    mat = "MATERIALIZED " if dialect == "duckdb" else ""
    its = []
    prev = "pr0"
    for i in range(1, 6):
        its.append(f"""dang{i} AS {mat}(
  SELECT coalesce(sum(p.pr), 0.0) AS dang
  FROM {prev} p LEFT JOIN deg ON p.node = deg.src
  WHERE deg.src IS NULL
),
contrib{i} AS {mat}(
  SELECT e.dst AS node, sum(p.pr / deg.deg) AS contrib
  FROM edges e JOIN {prev} p ON e.src = p.node JOIN deg ON deg.src = e.src
  GROUP BY e.dst
),
pr{i} AS {mat}(
  SELECT nodes.node,
         (1 - 0.85) / (SELECT n FROM nn)
           + 0.85 * (coalesce(c.contrib, 0.0)
                     + (SELECT dang FROM dang{i}) / (SELECT n FROM nn)) AS pr
  FROM nodes LEFT JOIN contrib{i} c ON nodes.node = c.node
)""")
        prev = f"pr{i}"
    chain = ",\n".join(its)
    return f"""
WITH edges AS (
  SELECT DISTINCT CAST(user_id % 100 AS BIGINT) AS src,
                  CAST(event_id % 97 AS BIGINT) AS dst
  FROM events WHERE user_id % 100 <> event_id % 97
),
nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges
),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM edges GROUP BY src),
pr0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS pr FROM nodes),
{chain}
SELECT node, {_rnd('pr', 6)} AS pr FROM {prev}
"""


def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities over the same deterministic events graph
    as pagerank: 5 iterations, L1 normalization after each half-update
    (atra_spark.functions.graph.hits). Oracle: sql_hits unrolls the
    iterations."""
    from atra_spark.functions.graph import hits

    _register(spark, sf_dir)
    ev = spark.table("events")
    edges = ev.select(
        (F.col("user_id") % 100).cast("long").alias("src"),
        (F.col("event_id") % 97).cast("long").alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    out = hits(edges, iterations=5)
    r6 = lambda c: F.floor(c * 1000000 + 0.5 + 1e-6).cast("double") / 1000000
    return out.select("node", r6(F.col("hub")).alias("hub"), r6(F.col("auth")).alias("auth"))


def sql_hits(dialect: str) -> str:
    """Twin of graph.hits: 5 unrolled iterations of the two L1-
    normalized half-updates over the same deterministic edge set.

    Every iteration CTE is referenced more than once by its successors
    (the join AND the normalizing scalar), and DuckDB INLINES CTEs by
    default — without MATERIALIZED the unrolled chain re-evaluates
    ~4^iterations times and never finishes."""
    mat = "MATERIALIZED " if dialect == "duckdb" else ""
    its = []
    prev_h = "h0"
    prev_a = None
    for i in range(1, 6):
        its.append(f"""ra{i} AS {mat}(
  SELECT e.dst AS node, sum(h.score) AS raw
  FROM edges e JOIN {prev_h} h ON e.src = h.node GROUP BY e.dst
),
a{i} AS {mat}(
  SELECT n.node, coalesce(r.raw, 0.0) / (SELECT coalesce(sum(raw), 1.0) FROM ra{i}) AS score
  FROM nodes n LEFT JOIN ra{i} r ON n.node = r.node
),
rh{i} AS {mat}(
  SELECT e.src AS node, sum(a.score) AS raw
  FROM edges e JOIN a{i} a ON e.dst = a.node GROUP BY e.src
),
h{i} AS {mat}(
  SELECT n.node, coalesce(r.raw, 0.0) / (SELECT coalesce(sum(raw), 1.0) FROM rh{i}) AS score
  FROM nodes n LEFT JOIN rh{i} r ON n.node = r.node
)""")
        prev_h, prev_a = f"h{i}", f"a{i}"
    chain = ",\n".join(its)
    return f"""
WITH edges AS (
  SELECT DISTINCT CAST(user_id % 100 AS BIGINT) AS src,
                  CAST(event_id % 97 AS BIGINT) AS dst
  FROM events WHERE user_id % 100 <> event_id % 97
),
nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges
),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
h0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS score FROM nodes),
{chain}
SELECT h.node, {_rnd('h.score', 6)} AS hub, {_rnd('a.score', 6)} AS auth
FROM {prev_h} h JOIN {prev_a} a ON h.node = a.node
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quota sampling: 20 documents per language, picked
    by ascending (60-bit md5 key hash, doc_id)
    (atra_spark.functions.sample.stratified_sample). Oracle:
    sql_stratified_sample."""
    from atra_spark.functions.sample import stratified_sample

    _register(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "lang")
    return stratified_sample(docs, strata_col="lang", n_per_stratum=20, key_col="doc_id")


def sql_stratified_sample(dialect: str) -> str:
    key = "CAST(doc_id AS STRING)" if dialect == "spark" else "CAST(doc_id AS VARCHAR)"
    h = _hex_hash(key, dialect)
    return f"""
WITH ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY {h} ASC, doc_id ASC) AS rn
  FROM documents
)
SELECT doc_id, lang FROM ranked WHERE rn <= 20
"""


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateless deterministic fraction sample (keep iff 60-bit key
    hash < 0.25 * 2^60) — the zero-shuffle, join-consistent corpus
    sampler (atra_spark.functions.sample.hash_sample). Oracle:
    sql_hash_sample."""
    from atra_spark.functions.sample import hash_sample

    _register(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "lang")
    return hash_sample(docs, fraction=0.25, key_col="doc_id")


def sql_hash_sample(dialect: str) -> str:
    key = "CAST(doc_id AS STRING)" if dialect == "spark" else "CAST(doc_id AS VARCHAR)"
    h = _hex_hash(key, dialect)
    threshold = int(0.25 * (1 << 60))
    return f"""
SELECT doc_id, lang FROM documents WHERE {h} < {threshold}
"""


_MEDIA_FIX = dict(n=500, seed=11)


def _ensure_media_fixture() -> dict:
    """Generate-once media fixture: real PNG/GIF/BMP/WAV payloads from
    the codec layer's encoders plus the golden feature rows computed by
    construction (multimodal.synth_media_with_golden — the generator
    never runs a decoder, so the goldens are independent truth)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = os.path.join(
        tempfile.gettempdir(),
        f"atra_media_fixture_v5_n{_MEDIA_FIX['n']}_s{_MEDIA_FIX['seed']}",
    )
    media_p = os.path.join(root, "media.parquet")
    golden_p = os.path.join(root, "golden.parquet")
    resize_p = os.path.join(root, "golden_resize.parquet")
    frames_p = os.path.join(root, "golden_frames.parquet")
    audiofp_p = os.path.join(root, "golden_audio_fps.parquet")
    if not all(
        os.path.exists(p) for p in (media_p, golden_p, resize_p, frames_p, audiofp_p)
    ):
        import hashlib

        from atra_spark.functions.multimodal import (
            synth_audio_fp_goldens,
            synth_media_derived_goldens,
            synth_media_with_golden,
        )

        os.makedirs(root, exist_ok=True)
        media_rows, golden_rows = synth_media_with_golden(**_MEDIA_FIX)
        resize_rows, frame_rows = synth_media_derived_goldens(
            _MEDIA_FIX["n"], _MEDIA_FIX["seed"], max_dim=8, k_frames=3
        )
        resize_schema = pa.schema(
            [
                ("media_id", pa.int64()),
                ("decoded", pa.string()),
                ("orig_width", pa.int32()),
                ("orig_height", pa.int32()),
                ("width", pa.int32()),
                ("height", pa.int32()),
                ("payload_md5", pa.string()),
                ("ahash", pa.int64()),
            ]
        )
        for r in resize_rows:
            p = r.get("payload")
            r["payload_md5"] = hashlib.md5(p).hexdigest() if p else None
        pq.write_table(
            pa.table(
                {
                    f.name: pa.array([r.get(f.name) for r in resize_rows], f.type)
                    for f in resize_schema
                },
                schema=resize_schema,
            ),
            resize_p + _TMP_SUFFIX,
        )
        frames_schema = pa.schema(
            [
                ("media_id", pa.int64()),
                ("decoded", pa.string()),
                ("n_frames", pa.int32()),
                ("frame_index", pa.int32()),
                ("t_offset", pa.float64()),
                ("mean_luma", pa.float64()),
                ("ahash", pa.int64()),
            ]
        )
        pq.write_table(
            pa.table(
                {
                    f.name: pa.array([r.get(f.name) for r in frame_rows], f.type)
                    for f in frames_schema
                },
                schema=frames_schema,
            ),
            frames_p + _TMP_SUFFIX,
        )
        os.replace(resize_p + _TMP_SUFFIX, resize_p)
        os.replace(frames_p + _TMP_SUFFIX, frames_p)
        fp_rows = synth_audio_fp_goldens(_MEDIA_FIX["n"], _MEDIA_FIX["seed"])
        pq.write_table(
            pa.table(
                {
                    "media_id": pa.array([r["media_id"] for r in fp_rows], pa.int64()),
                    "fp": pa.array([r["fp"] for r in fp_rows], pa.int64()),
                }
            ),
            audiofp_p + _TMP_SUFFIX,
        )
        os.replace(audiofp_p + _TMP_SUFFIX, audiofp_p)
        media_schema = pa.schema(
            [
                ("media_id", pa.int64()),
                ("kind", pa.string()),
                ("mime", pa.string()),
                ("payload", pa.binary()),
                ("width", pa.int32()),
                ("height", pa.int32()),
                ("duration_s", pa.float64()),
            ]
        )
        cols = list(zip(*media_rows))
        pq.write_table(
            pa.table(
                {f.name: pa.array(cols[i], f.type) for i, f in enumerate(media_schema)},
                schema=media_schema,
            ),
            media_p + _TMP_SUFFIX,
        )
        golden_schema = pa.schema(
            [
                ("media_id", pa.int64()),
                ("kind", pa.string()),
                ("n_bytes", pa.int64()),
                ("sniffed_mime", pa.string()),
                ("payload_hash", pa.string()),
                ("decoded", pa.string()),
                ("width", pa.int32()),
                ("height", pa.int32()),
                ("channels", pa.int32()),
                ("n_frames", pa.int32()),
                ("sample_rate", pa.int32()),
                ("duration_s", pa.float64()),
                ("rms", pa.float64()),
                ("mean_luma", pa.float64()),
                ("ahash", pa.int64()),
            ]
        )
        pq.write_table(
            pa.table(
                {
                    f.name: pa.array([g[f.name] for g in golden_rows], f.type)
                    for f in golden_schema
                },
                schema=golden_schema,
            ),
            golden_p + _TMP_SUFFIX,
        )
        os.replace(media_p + _TMP_SUFFIX, media_p)
        os.replace(golden_p + _TMP_SUFFIX, golden_p)
    return {
        "media": media_p,
        "golden": golden_p,
        "golden_resize": resize_p,
        "golden_frames": frames_p,
        "golden_audio_fps": audiofp_p,
    }


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature pass over REAL payload bytes (PNG/GIF/BMP/WAV
    built by the stdlib codec layer, plus unsupported/corrupt/empty
    rows): the Arrow-batched mapInPandas extractor decodes each payload
    and emits dimensions, channels, frames, mean luma, perceptual hash,
    sample rate, duration, RMS and a per-row decode status. Oracle:
    golden rows the generator computed by construction."""
    from atra_spark.functions.multimodal import extract_media_features

    media = spark.read.parquet(_ensure_media_fixture()["media"])
    feats = extract_media_features(media)
    # absent features (corrupt/unsupported/empty rows) are NULL in the
    # engine (pinned by pytest); the driver projection coalesces them to
    # typed sentinels so the value hash is fetch-path independent
    ints = ["width", "height", "channels", "n_frames", "sample_rate", "ahash"]
    dbls = ["duration_s", "rms", "mean_luma"]
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        "sniffed_mime",
        "payload_hash",
        "decoded",
        *[F.coalesce(F.col(c).cast("bigint"), F.lit(-1)).alias(c) for c in ints],
        *[F.coalesce(F.col(c), F.lit(-1.0)).alias(c) for c in dbls],
    )


_BPE_MERGES = 40
# The serial BPE oracle is pinned to the driver's correctness SF
# (TESTDATA.md: the DuckDB comparison always runs at sf0.01). The
# q_bpe_* queries train on whatever sf_dir they are handed — correct
# behavior at any SF (bench trains on sf0.1) — so Spark result and
# oracle describe the same corpus exactly when sf_dir is this SF,
# which is the only place the driver compares them.
_BPE_ORACLE_SF = "/root/testdata/sf0.01"
_bpe_merges_memo: dict = {}


def _ensure_bpe_oracle() -> dict:
    """Serial-reference BPE oracle (functions/bpe.py bpe_train_serial —
    the published Sennrich algorithm in plain Python, no Spark),
    computed over the driver's correctness-SF documents table and
    materialized as parquet: the learned merge table and the per-doc
    encoded token counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = os.path.join(tempfile.gettempdir(), f"atra_bpe_oracle_v2_m{_BPE_MERGES}")
    merges_p = os.path.join(root, "merges.parquet")
    counts_p = os.path.join(root, "counts.parquet")
    vocab_p = os.path.join(root, "vocab.parquet")
    if not all(os.path.exists(p) for p in (merges_p, counts_p, vocab_p)):
        import re

        from atra_spark.functions.bpe import (
            _WORD_SPLIT,
            bpe_train_serial,
            bpe_vocab_serial,
            encode_word,
        )

        os.makedirs(root, exist_ok=True)
        docs = pq.read_table(
            os.path.join(_BPE_ORACLE_SF, "documents.parquet"), columns=["doc_id", "text"]
        ).to_pylist()
        merges = bpe_train_serial([d["text"] for d in docs], n_merges=_BPE_MERGES)
        pq.write_table(
            pa.table(
                {
                    "rank": pa.array([m[0] for m in merges], pa.int32()),
                    "left": pa.array([m[1] for m in merges], pa.string()),
                    "right": pa.array([m[2] for m in merges], pa.string()),
                    "pair_freq": pa.array([m[3] for m in merges], pa.int64()),
                }
            ),
            merges_p + _TMP_SUFFIX,
        )
        ranks = {(l, r): k for k, l, r, _ in merges}
        split = re.compile(_WORD_SPLIT)
        cache: dict = {}

        def count(text):
            n = 0
            for w in split.split((text or "").lower()):
                if w:
                    if w not in cache:
                        cache[w] = len(encode_word(w, ranks))
                    n += cache[w]
            return n

        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([d["doc_id"] for d in docs], pa.int64()),
                    "n_bpe_tokens": pa.array([count(d["text"]) for d in docs], pa.int64()),
                }
            ),
            counts_p + _TMP_SUFFIX,
        )
        vocab = bpe_vocab_serial([d["text"] for d in docs], merges)
        toks = sorted(vocab)
        pq.write_table(
            pa.table(
                {
                    "token": pa.array(toks, pa.string()),
                    "n_occurrences": pa.array([vocab[t] for t in toks], pa.int64()),
                }
            ),
            vocab_p + _TMP_SUFFIX,
        )
        os.replace(merges_p + _TMP_SUFFIX, merges_p)
        os.replace(counts_p + _TMP_SUFFIX, counts_p)
        os.replace(vocab_p + _TMP_SUFFIX, vocab_p)
    return {"merges": merges_p, "counts": counts_p, "vocab": vocab_p}


def _bpe_merges_for(spark: SparkSession, sf_dir: str):
    from atra_spark.functions.bpe import bpe_train

    key = os.path.abspath(sf_dir)
    if key not in _bpe_merges_memo:
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        _bpe_merges_memo[key] = bpe_train(docs, n_merges=_BPE_MERGES)
    return _bpe_merges_memo[key]


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (functions/bpe.py): one
    corpus shuffle to the word-frequency table, then JVM-only merge
    rounds (pair posexplode + map-side combine; greedy merge applied
    with a pure-SQL aggregate fold). Oracle: the serial reference
    implementation's merge table."""
    merges = _bpe_merges_for(spark, sf_dir)
    return spark.createDataFrame(
        merges, "rank int, lhs string, rhs string, pair_freq long"
    )


def sql_bpe_merges(dialect: str) -> str:
    oracle = _ensure_bpe_oracle()["merges"]
    return f"SELECT CAST(rank AS INT) AS rank, \"left\" AS lhs, \"right\" AS rhs, pair_freq FROM read_parquet('{oracle}')"


def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token count under the corpus-trained BPE merges
    (Arrow-batched encode with the vocabulary-sized merge table riding
    the closure). Oracle: serial encode counts."""
    from atra_spark.functions.bpe import bpe_encode_counts

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return bpe_encode_counts(docs, _bpe_merges_for(spark, sf_dir))


def sql_bpe_token_counts(dialect: str) -> str:
    oracle = _ensure_bpe_oracle()["counts"]
    return f"SELECT doc_id, n_bpe_tokens FROM read_parquet('{oracle}')"


def q_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary induced by the learned BPE merges: replay the
    merges over the word table (chained JVM folds) and sum word
    frequencies per final token. Oracle: the serial replay."""
    from atra_spark.functions.bpe import bpe_vocab

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return bpe_vocab(docs, _bpe_merges_for(spark, sf_dir))


def sql_bpe_vocab(dialect: str) -> str:
    oracle = _ensure_bpe_oracle()["vocab"]
    return f"SELECT token, n_occurrences FROM read_parquet('{oracle}')"


_MIX_TAU = 2.0  # shared by q_mixing_weights and its SQL twin


def q_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based data-mixing weights over the documents table
    (tau upweights rare sources toward uniform — the multilingual
    sampling recipe). Oracle: the same arithmetic in SQL; shares round
    half-up at 1e-6 with an epsilon of tens-of-ulps on both sides so
    libm pow differences cannot drift the hash."""
    from atra_spark.functions.sample import temperature_mixing_weights

    _register(spark, sf_dir)
    return temperature_mixing_weights(spark.table("documents"), "source", tau=_MIX_TAU)


def sql_mixing_weights(dialect: str) -> str:
    return f"""
WITH counts AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
tot AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS t FROM counts),
wtab AS (
  SELECT source, n_docs,
         pow(n_docs / (SELECT t FROM tot), {1.0 / _MIX_TAU!r}) AS w
  FROM counts
),
z AS (SELECT sum(w) AS zz FROM wtab)
SELECT source, n_docs,
       CAST(floor(n_docs / (SELECT t FROM tot) * 1e6 + 0.5 + 1e-7) AS DOUBLE) / 1e6
         AS natural_share,
       CAST(floor(w / (SELECT zz FROM z) * 1e6 + 0.5 + 1e-7) AS DOUBLE) / 1e6
         AS mix_share,
       CAST(floor((w / (SELECT zz FROM z)) / (n_docs / (SELECT t FROM tot)) * 1e6
                  + 0.5 + 1e-7) AS DOUBLE) / 1e6 AS upsample_factor
FROM wtab
"""


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thumbnail pass over the media fixture: decode, nearest-neighbor
    downscale to max dim 8, re-encode PNG, hash resized pixels — all in
    one Arrow-batched mapInPandas stage. Oracle: goldens the generator
    computed from its source arrays (payload pinned via md5 of the
    deterministic PNG bytes)."""
    from atra_spark.functions.multimodal import media_resize

    media = spark.read.parquet(_ensure_media_fixture()["media"])
    out = media_resize(media, max_dim=8)
    ints = ["orig_width", "orig_height", "width", "height", "ahash"]
    return out.select(
        "media_id",
        "decoded",
        *[F.coalesce(F.col(c).cast("bigint"), F.lit(-1)).alias(c) for c in ints],
        F.coalesce(F.md5(F.col("payload")), F.lit("none")).alias("payload_md5"),
    )


def sql_media_resize(dialect: str) -> str:
    """Golden-by-construction oracle for the thumbnail pass."""
    golden = _ensure_media_fixture()["golden_resize"]
    return f"""
SELECT media_id, decoded,
       coalesce(CAST(orig_width AS BIGINT), -1) AS orig_width,
       coalesce(CAST(orig_height AS BIGINT), -1) AS orig_height,
       coalesce(CAST(width AS BIGINT), -1) AS width,
       coalesce(CAST(height AS BIGINT), -1) AS height,
       coalesce(ahash, -1) AS ahash,
       coalesce(payload_md5, 'none') AS payload_md5
FROM read_parquet('{golden}')
"""


def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyframe sampling over the media fixture: decode animated GIFs,
    pick 3 evenly spaced frames, emit per-frame time offset + visual
    features (one row per sampled frame; non-image rows keep one status
    row). Oracle: per-frame goldens from the generator's source
    frames."""
    from atra_spark.functions.multimodal import media_frame_sample

    media = spark.read.parquet(_ensure_media_fixture()["media"])
    out = media_frame_sample(media, k=3)
    return out.select(
        "media_id",
        "decoded",
        *[
            F.coalesce(F.col(c).cast("bigint"), F.lit(-1)).alias(c)
            for c in ["n_frames", "frame_index", "ahash"]
        ],
        *[
            F.coalesce(F.col(c), F.lit(-1.0)).alias(c)
            for c in ["t_offset", "mean_luma"]
        ],
    )


def sql_media_frame_sample(dialect: str) -> str:
    """Golden-by-construction oracle for the keyframe sampling pass."""
    golden = _ensure_media_fixture()["golden_frames"]
    return f"""
SELECT media_id, decoded,
       coalesce(CAST(n_frames AS BIGINT), -1) AS n_frames,
       coalesce(CAST(frame_index AS BIGINT), -1) AS frame_index,
       coalesce(ahash, -1) AS ahash,
       coalesce(t_offset, -1.0) AS t_offset,
       coalesce(mean_luma, -1.0) AS mean_luma
FROM read_parquet('{golden}')
"""


def q_audio_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark audio fingerprints over the media fixture's WAV
    payloads (Hann-windowed rFFT dominant-bin 3-grams, Arrow-batched).
    Oracle: golden fingerprints computed from the generator's source
    samples — the decoder is never consulted."""
    from atra_spark.functions.multimodal import media_audio_fingerprints

    media = spark.read.parquet(_ensure_media_fixture()["media"])
    return media_audio_fingerprints(media)


def sql_audio_fingerprints(dialect: str) -> str:
    golden = _ensure_media_fixture()["golden_audio_fps"]
    return f"SELECT media_id, fp FROM read_parquet('{golden}')"


def q_audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate pairs: media sharing >= 4 landmark
    fingerprints (phase-shifted re-encodes match; byte hashes do not).
    Hot-fingerprint DF cap keeps the self-join bounded. Oracle: the
    same containment count over the golden fingerprint relation."""
    from atra_spark.functions.multimodal import (
        audio_near_dup,
        media_audio_fingerprints,
    )

    media = spark.read.parquet(_ensure_media_fixture()["media"])
    return audio_near_dup(media_audio_fingerprints(media), min_common=4)


def sql_audio_near_dup(dialect: str) -> str:
    golden = _ensure_media_fixture()["golden_audio_fps"]
    return f"""
WITH fps AS (SELECT media_id, fp FROM read_parquet('{golden}'))
SELECT a.media_id AS media_a, b.media_id AS media_b, count(*) AS n_common
FROM fps a JOIN fps b ON a.fp = b.fp AND a.media_id < b.media_id
GROUP BY a.media_id, b.media_id
HAVING count(*) >= 4
"""


def q_media_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Visual near-duplicate image pairs by perceptual-hash Hamming
    distance: pigeonhole band join over the decoded 64-bit ahash (9
    contiguous bit bands for max_hamming=8 — any pair within distance 8
    collides on >=1 band, so recall is exact and the join never goes
    O(n^2)). Oracle: brute-force pair scan over the golden ahash."""
    from atra_spark.functions.multimodal import (
        extract_media_features,
        media_phash_near_dup,
    )

    media = spark.read.parquet(_ensure_media_fixture()["media"])
    pairs = media_phash_near_dup(extract_media_features(media), max_hamming=8)
    return pairs.select(
        "media_a", "media_b", F.col("hamming").cast("int").alias("hamming")
    )


def q_host_state_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """host_state merge-on-read fold (operators/seen.py
    compose_host_state, recrawl_management/mod.rs:27-70): a base
    snapshot plus two per-round deltas built deterministically from the
    events table compose to max-by-host. Oracle: one SQL max over the
    union — independent of the combiner implementation."""
    from atra_spark.operators.seen import compose_host_state

    _register(spark, sf_dir)
    ev = spark.table("events")

    def slice_df(kind: str) -> DataFrame:
        return ev.filter(F.col("event_type") == kind).select(
            F.concat(F.lit("h"), (F.col("user_id") % 20).cast("string")).alias("host"),
            F.col("ts").alias("last_access"),
            ((F.col("user_id") % 5) * 100).cast("long").alias("crawl_delay_ms"),
        )

    folded = compose_host_state(
        slice_df("view"), [(1, slice_df("click")), (2, slice_df("error"))]
    )
    # the events ts is TIMESTAMP_NTZ: compare as tz-free wall-clock
    # strings (micros) so neither engine applies a zone conversion
    return folded.select(
        "host",
        F.date_format(F.col("last_access"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "last_access_s"
        ),
        "crawl_delay_ms",
    )


def sql_host_state_fold_oracle() -> str:
    return """
WITH rows_all AS (
  SELECT 'h' || CAST(user_id % 20 AS VARCHAR) AS host,
         ts,
         CAST((user_id % 5) * 100 AS BIGINT) AS crawl_delay_ms
  FROM events
  WHERE event_type IN ('view', 'click', 'error')
)
SELECT host,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_access_s,
       max(crawl_delay_ms) AS crawl_delay_ms
FROM rows_all GROUP BY host
"""


def q_state_lookup_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dequeue state check served by the bucketed SeenIndex
    (operators/seen_index.py filter_by_state — the reference's RocksDB
    point lookup, polling.rs:180-204): two rounds of state deltas where
    round 1 re-marks a subset (latest kind wins), probed for Discovered
    URLs over a frontier that includes never-seen URLs. Oracle: the
    equivalent coalesce-join SQL over the same deterministic state
    history."""
    from atra_spark.operators.frontier import filter_state_indexed
    from atra_spark.operators.seen_index import SeenIndex
    from atra_spark.schemas import (
        KIND_DISCOVERED,
        KIND_INTERNAL_ERROR,
        KIND_PROCESSED_AND_STORED,
    )

    _register(spark, sf_dir)
    docs = spark.table("documents")
    url = F.concat(
        F.lit("https://s"), (F.col("doc_id") % 13).cast("string"),
        F.lit(".example/d"), F.col("doc_id").cast("string"),
    )
    # round 0: doc_id % 3 != 0 enters seen; kind by doc_id % 5
    r0 = docs.filter(F.col("doc_id") % 3 != 0).select(
        url.alias("url"),
        F.when(F.col("doc_id") % 5 < 2, F.lit(KIND_DISCOVERED))
        .when(F.col("doc_id") % 5 < 4, F.lit(KIND_PROCESSED_AND_STORED))
        .otherwise(F.lit(KIND_INTERNAL_ERROR))
        .alias("kind"),
    )
    # round 1 re-marks doc_id % 6 == 1 as Processed (overrides r0)
    r1 = docs.filter((F.col("doc_id") % 3 != 0) & (F.col("doc_id") % 6 == 1)).select(
        url.alias("url"), F.lit(KIND_PROCESSED_AND_STORED).alias("kind")
    )
    root = tempfile.mkdtemp(prefix="atra_entry_si")
    idx = SeenIndex(os.path.join(root, "si"), num_buckets=8)
    idx.add_urls(r0, 0)
    idx.commit()
    idx.add_urls(r1, 1)
    idx.commit()
    frontier = docs.select(
        url.alias("url"),
        F.concat(F.lit("s"), (F.col("doc_id") % 13).cast("string"),
                 F.lit(".example")).alias("host"),
    )
    return filter_state_indexed(frontier, idx).select("url", "host")


def sql_state_lookup_oracle() -> str:
    return """
WITH urls AS (
  SELECT doc_id,
         'https://s' || CAST(doc_id % 13 AS VARCHAR) || '.example/d'
           || CAST(doc_id AS VARCHAR) AS url,
         's' || CAST(doc_id % 13 AS VARCHAR) || '.example' AS host
  FROM documents
),
r0 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 < 2 THEN 0
              WHEN doc_id % 5 < 4 THEN 3
              ELSE 32 END AS kind
  FROM documents WHERE doc_id % 3 <> 0
),
r1 AS (
  SELECT doc_id, 3 AS kind FROM documents
  WHERE doc_id % 3 <> 0 AND doc_id % 6 = 1
),
final AS (
  SELECT r0.doc_id, coalesce(r1.kind, r0.kind) AS kind
  FROM r0 LEFT JOIN r1 ON r0.doc_id = r1.doc_id
)
SELECT u.url, u.host
FROM final f JOIN urls u ON f.doc_id = u.doc_id
WHERE f.kind = 0
"""


def q_sitemap_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap source: per-source <urlset> XML built from the documents
    table, parsed by the real Arrow-batched sitemap parser. Oracle:
    sql_sitemap_candidates (the URL construction rule)."""
    from atra_spark.sources.sitemap import sitemap_candidates

    _register(spark, sf_dir)
    docs = spark.table("documents").filter(F.col("doc_id") < 60)
    loc = F.concat(
        F.lit("<url><loc>https://"), F.col("source"), F.lit(".example/doc"),
        F.col("doc_id").cast("string"), F.lit(".html</loc></url>"),
    )
    maps = (
        docs.select("source", loc.alias("loc"))
        .groupBy("source")
        .agg(F.concat_ws("", F.collect_list("loc")).alias("locs"))
        .select(
            F.concat(F.lit("https://"), F.col("source"), F.lit(".example/sitemap.xml")).alias("url"),
            F.lit(None).cast("timestamp").alias("warc_ts"),
            F.encode(
                F.concat(
                    F.lit('<?xml version="1.0"?><urlset>'), F.col("locs"), F.lit("</urlset>")
                ),
                "UTF-8",
            ).alias("html"),
            F.lit(None).cast("string").alias("text"),
            F.lit(None).cast("string").alias("lang"),
        )
    )
    return sitemap_candidates(maps)


# ==========================================================================
# crawl-dataflow queries with serial-oracle parquet ground truth
# ==========================================================================
_ENTRY_FIX = dict(n_pages=600, n_hosts=12)
from atra_spark.sources.fixtures import FIXTURE_FORMAT_VERSION as _FXV

_ORACLE_DIR = os.path.join(tempfile.gettempdir(), f"atra_entry_oracle_v{_FXV}")
_ENTRY_STORE = os.path.join(tempfile.gettempdir(), f"atra_entry_crawl_store_v{_FXV}")
_ENTRY_ROUNDS = 2


def _ensure_crawl_oracle() -> str:
    """Run the serial oracle crawler (pure Python, no Spark) over the
    deterministic fixture corpus and materialize its truth as parquet:
    results (per admitted url), order (crawl ordering), seen (final
    link-state set). Idempotent; the driver's DuckDB reads these via
    read_parquet()."""
    marker = os.path.join(_ORACLE_DIR, "_done")
    if os.path.exists(marker):
        return _ORACLE_DIR
    import pyarrow as pa
    import pyarrow.parquet as pq

    from atra_spark.sources.fixtures import generate_fixtures
    from atra_spark.sources.oracle_crawler import crawl_oracle

    os.makedirs(_ORACLE_DIR, exist_ok=True)
    fx = generate_fixtures(**_ENTRY_FIX)
    robots = {h: (t, s) for h, t, s, _ in fx.robots}
    page_urls = {p[0] for p in fx.pages}
    res = crawl_oracle(
        fx.golden_links, page_urls, robots, fx.seeds, fx.config,
        max_rounds=_ENTRY_ROUNDS,
    )
    n_links = {
        u: sum(1 for (_d, k, _m) in ls if k != "data")
        for u, ls in fx.golden_links.items()
    }
    results = [
        (u, h, r, 200 if u in page_urls else 404,
         n_links.get(u, 0) if u in page_urls else 0)
        for (r, h, _i, u) in res.order
    ]
    pq.write_table(
        pa.table(
            {
                "url": [r[0] for r in results],
                "host": [r[1] for r in results],
                "fetched_round": pa.array([r[2] for r in results], pa.int64()),
                "status": pa.array([r[3] for r in results], pa.int64()),
                "n_links": pa.array([r[4] for r in results], pa.int64()),
            }
        ),
        os.path.join(_ORACLE_DIR, "crawl_results.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "round": pa.array([r for r, _h, _i, _u in res.order], pa.int64()),
                "host": [h for _r, h, _i, _u in res.order],
                "admission_index": pa.array([i for _r, _h, i, _u in res.order], pa.int64()),
                "url": [u for _r, _h, _i, u in res.order],
            }
        ),
        os.path.join(_ORACLE_DIR, "crawl_order.parquet"),
    )
    seen_items = sorted(res.seen.items())
    pq.write_table(
        pa.table(
            {
                "url": [u for u, _ in seen_items],
                "kind": pa.array([k for _, (k, _s, _d) in seen_items], pa.int64()),
                "is_seed": [s for _, (_k, s, _d) in seen_items],
                "depth_on_website": pa.array(
                    [d.depth_on_website for _, (_k, _s, d) in seen_items], pa.int64()
                ),
                "distance_to_seed": pa.array(
                    [d.distance_to_seed for _, (_k, _s, d) in seen_items], pa.int64()
                ),
                "total_distance_to_seed": pa.array(
                    [d.total_distance_to_seed for _, (_k, _s, d) in seen_items], pa.int64()
                ),
            }
        ),
        os.path.join(_ORACLE_DIR, "crawl_seen.parquet"),
    )
    with open(marker, "w") as f:
        f.write("ok")
    return _ORACLE_DIR


def _ensure_entry_fixtures() -> dict:
    """Generate-once fixture corpus shared by the crawl queries, the
    anchor-text query, and their oracles (version-keyed marker inside
    ensure_fixtures regenerates on format bumps)."""
    from atra_spark.sources.fixtures import ensure_fixtures

    return ensure_fixtures(
        os.path.join(tempfile.gettempdir(), "atra_entry_fixtures"), **_ENTRY_FIX
    )


def _ensure_entry_crawl(spark: SparkSession):
    """Run the Spark crawl engine ONCE over the same fixture corpus the
    serial oracle consumed (shared across the crawl_* queries)."""
    from atra_spark.config import CrawlConfig
    from atra_spark.plans.crawl import CrawlEngine
    from atra_spark.sources.fixtures import ensure_fixtures
    from atra_spark.sources.store import CheckpointStore

    store = CheckpointStore(_ENTRY_STORE, num_buckets=8)
    marker = os.path.join(_ENTRY_STORE, "_done")
    if not os.path.exists(marker):
        paths = _ensure_entry_fixtures()
        with open(paths["seeds"]) as f:
            seeds = [line.strip() for line in f if line.strip()]
        with open(paths["config"]) as f:
            config = CrawlConfig.from_json(f.read())
        eng = CrawlEngine(
            spark, store, config, paths["pages"], paths["robots"], num_buckets=8
        )
        eng.run(seeds=seeds, max_rounds=_ENTRY_ROUNDS)
        with open(marker, "w") as f:
            f.write("ok")
    return store


def q_crawl_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two full crawl rounds on the deterministic fixture corpus:
    admission -> politeness window -> fetch-join -> Arrow extraction ->
    seen-index dedup. Oracle: the serial oracle crawler's results
    parquet (read_parquet) — url set, host, round, status, n_links."""
    store = _ensure_entry_crawl(spark)
    res = store.read_union(spark, "results")
    return res.select(
        "url",
        "host",
        F.col("fetched_round").cast("long").alias("fetched_round"),
        F.col("status").cast("long").alias("status"),
        F.col("n_links").cast("long").alias("n_links"),
    )


def q_crawl_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-ordering parity (the north-rule gate): the engine's
    admission log vs the serial oracle's ordering, row for row."""
    store = _ensure_entry_crawl(spark)
    return store.read_union(spark, "order").select(
        F.col("round").cast("long").alias("round"),
        "host",
        F.col("admission_index").cast("long").alias("admission_index"),
        "url",
    )


def q_crawl_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final URL-seen set parity (kind + is_seed + depth triple) vs the
    serial oracle."""
    store = _ensure_entry_crawl(spark)
    return store.read_snapshot(spark, "seen").select(
        "url",
        F.col("kind").cast("long").alias("kind"),
        "is_seed",
        F.col("depth_on_website").cast("long").alias("depth_on_website"),
        F.col("distance_to_seed").cast("long").alias("distance_to_seed"),
        F.col("total_distance_to_seed").cast("long").alias("total_distance_to_seed"),
    )


# ==========================================================================
# driver contract
# ==========================================================================
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: build a Common-Crawl-style pages table from the sf0.001
    documents parquet and run the full crawl engine over it."""
    from atra_spark.config import CrawlConfig
    from atra_spark.plans.crawl import CrawlEngine
    from atra_spark.sources.store import CheckpointStore
    from atra_spark.urlkit import NORMAL, UNBOUNDED_DISTANCE, Budget

    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    n_docs = docs.count()

    # one page per document; each page links to two other documents
    # (successor and a 7-stride hop) so the crawl walks the corpus from a
    # few seeds; target URLs resolved by self-join so every link is live
    urls = docs.select(
        F.col("doc_id").alias("t_id"),
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example/doc"),
            F.col("doc_id"), F.lit(".html"),
        ).alias("t_url"),
    )
    base = docs.select(
        "doc_id", "text", "source",
        ((F.col("doc_id") + 1) % n_docs).alias("nxt"),
        ((F.col("doc_id") * 7 + 3) % n_docs).alias("hop"),
    )
    j = (
        base.join(F.broadcast(urls).withColumnRenamed("t_url", "u_self"), base["doc_id"] == F.col("t_id"))
        .drop("t_id")
        .join(F.broadcast(urls).withColumnRenamed("t_url", "u_next"), F.col("nxt") == F.col("t_id"))
        .drop("t_id")
        .join(F.broadcast(urls).withColumnRenamed("t_url", "u_hop"), F.col("hop") == F.col("t_id"))
        .drop("t_id")
    )
    pages = j.select(
        F.col("u_self").alias("url"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        F.encode(
            F.concat(
                F.lit("<!DOCTYPE html><html><head><title>doc</title></head><body><p>"),
                F.col("text"),
                F.lit('</p><a href="'), F.col("u_next"),
                F.lit('">next</a><a href="'), F.col("u_hop"),
                F.lit('">hop</a></body></html>'),
            ),
            "UTF-8",
        ).alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )
    tmp = tempfile.mkdtemp(prefix="atra_flagship")
    pages_path = os.path.join(tmp, "pages.parquet")
    pages.write.mode("overwrite").parquet(pages_path)

    seeds = [
        r["url"]
        for r in pages.orderBy("url").limit(8).collect()
    ]
    config = CrawlConfig(
        default_budget=Budget(
            kind=NORMAL, depth_on_website=0, distance_to_seed=UNBOUNDED_DISTANCE
        ),
        delay_ms=100,
        round_budget_ms=10_000,
        max_rounds=3,
    )
    store = CheckpointStore(os.path.join(tmp, "store"), num_buckets=8)
    eng = CrawlEngine(spark, store, config, pages_path, robots_path=None, num_buckets=8)
    eng.run(seeds=seeds, max_rounds=3)
    res = store.read_union(spark, "results")
    return res.select("url", "host", "fetched_round", "status", "encoding", "lang", "n_links")


# custom (non-SQL Spark path) queries and their DuckDB oracles
def _r6(col: F.Column) -> F.Column:
    """HALF_UP 6dp — Spark twin of _rnd(expr, 6)."""
    return F.floor(col * 1000000 + 0.5 + 1e-6).cast("double") / 1000000


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document chunk dedup (CCNet paragraph-dedup analog): keep
    the globally-first occurrence of every 10-token chunk, reassemble
    surviving text (atra_spark.functions.dedup.chunk_dedup). Oracle:
    sql_chunk_dedup."""
    from atra_spark.functions.dedup import chunk_dedup

    _register(spark, sf_dir)
    return chunk_dedup(spark.table("documents"), chunk_tokens=10)


def sql_chunk_dedup(dialect: str) -> str:
    """Twin of dedup.chunk_dedup: same 10-token chunking, 60-bit chunk
    hash, packed (doc_id << 20 | chunk_idx) winner election, ordered
    reassembly of kept chunks."""
    if dialect == "spark":
        chunks = r"""
arr AS (SELECT doc_id, split(lower(trim(text)), '\\s+') AS toks FROM documents),
chunks AS (
  SELECT doc_id, i AS chunk_idx,
         concat_ws(' ', slice(toks, i * 10 + 1, 10)) AS chunk
  FROM arr
  LATERAL VIEW explode(sequence(0, CAST(ceil(size(toks) / 10.0) AS INT) - 1)) t AS i
)"""
        rebuilt = (
            "concat_ws(' ', transform(sort_array(collect_list("
            "CASE WHEN kept THEN struct(chunk_idx, chunk) END)), s -> s.chunk))"
        )
    else:
        chunks = r"""
arr AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM documents),
chunks AS (
  SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         array_to_string(toks[CAST(i * 10 + 1 AS INT):CAST(i * 10 + 10 AS INT)], ' ') AS chunk
  FROM (
    SELECT doc_id, toks,
           unnest(range(CAST(ceil(len(toks) / 10.0) AS BIGINT))) AS i
    FROM arr
  ) u
)"""
        rebuilt = "coalesce(string_agg(chunk, ' ' ORDER BY chunk_idx) FILTER (WHERE kept), '')"
    return f"""
WITH {chunks.strip()},
hashed AS (
  SELECT doc_id, chunk_idx, chunk, {_hex_hash('chunk', dialect)} AS fp,
         doc_id * 1048576 + chunk_idx AS pos_key
  FROM chunks
),
win AS (SELECT fp, min(pos_key) AS w FROM hashed GROUP BY fp),
flagged AS (
  SELECT h.doc_id, h.chunk_idx, h.chunk, (h.pos_key = win.w) AS kept
  FROM hashed h JOIN win ON h.fp = win.fp
)
SELECT doc_id,
       count(*) AS n_chunks,
       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       {rebuilt} AS dedup_text
FROM flagged
GROUP BY doc_id
"""


_BM25_TERMS = ("join", "spark", "window")


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 retrieval for a fixed bag-of-words query
    (atra_spark.functions.retrieval.bm25_topk — Lucene idf variant,
    k1=1.2 b=0.75). Oracle: sql_bm25_topk."""
    from atra_spark.functions.retrieval import bm25_topk

    _register(spark, sf_dir)
    out = bm25_topk(spark.table("documents"), list(_BM25_TERMS), k=10)
    return out.select("doc_id", _r6(F.col("score")).alias("score"))


def sql_bm25_topk(dialect: str) -> str:
    """Twin of retrieval.bm25_topk: same tokenizer, document lengths
    over ALL docs (empty docs count with dl=0), Lucene idf, k1=1.2
    b=0.75, top-10 by (score DESC, doc_id ASC)."""
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    if dialect == "spark":
        dl = "CAST(size(filter(split(lower(trim(text)), '\\\\s+'), x -> x <> '')) AS DOUBLE)"
    else:
        dl = r"CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '')) AS DOUBLE)"
    return f"""
WITH {_tokens_cte(dialect).strip()},
lens AS (SELECT doc_id, {dl} AS dl FROM documents),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS nd, avg(dl) AS ad FROM lens),
tf AS (
  SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf
  FROM toks WHERE tok IN ({terms})
  GROUP BY doc_id, tok
),
dfreq AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY tok),
idf AS (
  SELECT tok, ln(1.0 + ((SELECT nd FROM stats) - df + 0.5) / (df + 0.5)) AS idf
  FROM dfreq
),
scored AS (
  SELECT t.doc_id,
         sum(i.idf * t.tf * (1.2 + 1.0)
             / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / (SELECT ad FROM stats)))) AS score
  FROM tf t JOIN idf i ON t.tok = i.tok JOIN lens l ON t.doc_id = l.doc_id
  GROUP BY t.doc_id
)
SELECT doc_id, {_rnd('score', 6)} AS score
FROM (
  -- inner top-k on the RAW score: in both dialects a bare ORDER BY
  -- score in the outer query would resolve to the ROUNDED alias and
  -- could pick a different boundary doc than the DataFrame path
  -- (which orders unrounded and rounds after LIMIT)
  SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id LIMIT 10
) topk
"""


def q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via Spark's native session_window
    (atra_spark.functions.sessions.sessionize, 30-minute gap) — the
    analytics twin of the reference's per-origin last-access state.
    Oracle: sql_event_sessions (lag/cumsum formulation)."""
    from atra_spark.functions.sessions import sessionize

    _register(spark, sf_dir)
    out = sessionize(spark.table("events"), gap="30 minutes")
    return out.select(
        "user_id", "session_start", "session_end_ts", "n_events",
        _r6(F.col("sum_value")).alias("sum_value"),
    )


def sql_event_sessions(dialect: str) -> str:
    """Twin of sessions.sessionize: a session's end extends to
    last_event + gap and the merge bound is INCLUSIVE (Spark's
    UpdatingSessions merges when next_start <= current_end), so a new
    session starts iff ts is STRICTLY greater than prev_ts + 30min."""
    if dialect == "spark":
        fmt_min = "date_format(min(ts), 'yyyy-MM-dd HH:mm:ss.SSSSSS')"
        fmt_max = "date_format(max(ts), 'yyyy-MM-dd HH:mm:ss.SSSSSS')"
    else:
        fmt_min = "strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f')"
        fmt_max = "strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f')"
    return f"""
WITH ordered AS (
  SELECT user_id, ts, event_id, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
flags AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL '30' MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM ordered
),
sess AS (
  SELECT user_id, ts, value,
         -- same (ts, event_id) order as the lag above: with ts-only
         -- ordering, tied timestamps at a session boundary could put
         -- the new_s=0 peer before the new_s=1 row and assign it the
         -- old session id
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flags
)
SELECT user_id,
       {fmt_min} AS session_start,
       {fmt_max} AS session_end_ts,
       count(*) AS n_events,
       {_rnd('sum(value)', 6)} AS sum_value
FROM sess
GROUP BY user_id, sid
"""


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance log-weights (hashed-unigram bag model, target =
    lang-'en' slice; atra_spark.functions.textstats.dsir_logweight,
    arXiv:2302.03169). Oracle: sql_dsir_weights."""
    from atra_spark.functions.textstats import dsir_logweight

    _register(spark, sf_dir)
    out = dsir_logweight(spark.table("documents"), buckets=64)
    return out.select("doc_id", _r6(F.col("dsir_logweight")).alias("dsir_logweight"))


def sql_dsir_weights(dialect: str) -> str:
    """Twin of textstats.dsir_logweight: same 60-bit token hash % 64
    buckets, add-1 smoothing over both distributions, per-doc sum of
    log-likelihood ratios."""
    if dialect == "spark":
        toks = r"""
toks AS (
  SELECT doc_id, (lang = 'en') AS is_target, tok
  FROM documents
  LATERAL VIEW explode(split(lower(trim(text)), '\\s+')) t AS tok
  WHERE tok <> ''
)"""
    else:
        toks = r"""
toks AS (
  SELECT doc_id, is_target, tok FROM (
    SELECT doc_id, (lang = 'en') AS is_target,
           unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
    FROM documents
  ) u WHERE tok <> ''
)"""
    return f"""
WITH {toks.strip()},
feat AS (
  SELECT doc_id, is_target, {_hex_hash('tok', dialect)} % 64 AS bucket FROM toks
),
counts AS (
  SELECT bucket,
         CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS DOUBLE) AS tc,
         CAST(count(*) AS DOUBLE) AS rc
  FROM feat GROUP BY bucket
),
tot AS (SELECT sum(tc) AS tt, sum(rc) AS rt FROM counts),
ratios AS (
  SELECT bucket,
         ln(((tc + 1.0) / ((SELECT tt FROM tot) + 64.0))
            / ((rc + 1.0) / ((SELECT rt FROM tot) + 64.0))) AS llr
  FROM counts
)
SELECT f.doc_id, {_rnd('sum(r.llr)', 6)} AS dsir_logweight
FROM feat f JOIN ratios r ON f.bucket = r.bucket
GROUP BY f.doc_id
"""


def q_weighted_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the collapsed host graph (rank flow
    proportional to URL-edge multiplicity;
    atra_spark.functions.graph.weighted_pagerank ∘ host_graph). Same
    deterministic synthetic URL edges as host_graph. Oracle:
    sql_weighted_host_pagerank (5 unrolled weighted iterations)."""
    from atra_spark.functions.graph import host_graph, weighted_pagerank

    _register(spark, sf_dir)
    ev = spark.table("events")
    edges = ev.select(
        F.concat(
            F.lit("https://h"), (F.col("user_id") % 20).cast("string"),
            F.lit(".example/p"), F.col("event_id").cast("string"),
        ).alias("src"),
        F.concat(
            F.lit("https://h"), (F.col("event_id") % 17).cast("string"),
            F.lit(".example/q"), F.col("event_id").cast("string"),
        ).alias("dst"),
    )
    hg = host_graph(edges)
    out = weighted_pagerank(hg, damping=0.85, iterations=5,
                            src="src_host", dst="dst_host")
    return out.select("node", _r6(F.col("pr")).alias("pr"))


def sql_weighted_host_pagerank(dialect: str) -> str:
    """Twin of weighted_pagerank over the host collapse: contribution
    = pr * w / wsum, dangling mass uniform, 5 unrolled iterations
    (MATERIALIZED on DuckDB — each pr CTE is referenced twice)."""
    host_re = r"^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^/@?#]*@)?([^:/?#]+)"
    concat_src = "'https://h' || CAST(user_id % 20 AS STRING) || '.example/p' || CAST(event_id AS STRING)"
    concat_dst = "'https://h' || CAST(event_id % 17 AS STRING) || '.example/q' || CAST(event_id AS STRING)"
    if dialect == "duckdb":
        concat_src = concat_src.replace("AS STRING", "AS VARCHAR")
        concat_dst = concat_dst.replace("AS STRING", "AS VARCHAR")
    mat = "MATERIALIZED " if dialect == "duckdb" else ""
    its = []
    prev = "pr0"
    for i in range(1, 6):
        its.append(f"""dang{i} AS {mat}(
  SELECT coalesce(sum(p.pr), 0.0) AS dang
  FROM {prev} p LEFT JOIN wsum ON p.node = wsum.src_host
  WHERE wsum.src_host IS NULL
),
contrib{i} AS {mat}(
  SELECT e.dst_host AS node, sum(p.pr * e.w / wsum.ws) AS contrib
  FROM hedges e JOIN {prev} p ON e.src_host = p.node
       JOIN wsum ON wsum.src_host = e.src_host
  GROUP BY e.dst_host
),
pr{i} AS {mat}(
  SELECT nodes.node,
         (1 - 0.85) / (SELECT n FROM nn)
           + 0.85 * (coalesce(c.contrib, 0.0)
                     + (SELECT dang FROM dang{i}) / (SELECT n FROM nn)) AS pr
  FROM nodes LEFT JOIN contrib{i} c ON nodes.node = c.node
)""")
        prev = f"pr{i}"
    chain = ",\n".join(its)
    return f"""
WITH uedges AS (
  SELECT {concat_src} AS src, {concat_dst} AS dst FROM events
),
hosts AS (
  SELECT lower(regexp_extract(src, '{host_re}', 1)) AS src_host,
         lower(regexp_extract(dst, '{host_re}', 1)) AS dst_host
  FROM uedges
),
hedges AS (
  SELECT src_host, dst_host, CAST(count(*) AS DOUBLE) AS w
  FROM hosts
  WHERE src_host <> '' AND dst_host <> '' AND src_host <> dst_host
  GROUP BY src_host, dst_host
),
nodes AS (
  SELECT src_host AS node FROM hedges UNION SELECT dst_host FROM hedges
),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
wsum AS (SELECT src_host, sum(w) AS ws FROM hedges GROUP BY src_host),
pr0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS pr FROM nodes),
{chain}
SELECT node, {_rnd('pr', 6)} AS pr FROM {prev}
"""


def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 PMI collocations over adjacent token pairs
    (atra_spark.functions.textstats.bigram_pmi, min_count=5). Oracle:
    sql_bigram_pmi."""
    from atra_spark.functions.textstats import bigram_pmi

    _register(spark, sf_dir)
    out = bigram_pmi(spark.table("documents"), min_count=5, top_k=50)
    return out.select("prev", "cur", "pair_count", _r6(F.col("pmi")).alias("pmi"))


def sql_bigram_pmi(dialect: str) -> str:
    """Twin of textstats.bigram_pmi: same whitespace tokens, adjacent
    pairs, min_count filter before the joins, pmi = ln((C/B)/((Ua/T)*
    (Ub/T))), top-50 by (pmi DESC, prev, cur)."""
    if dialect == "spark":
        toks = r"""
toks AS (
  SELECT doc_id, pos, tok
  FROM documents
  LATERAL VIEW posexplode(split(lower(trim(text)), '\\s+')) t AS pos, tok
)"""
    else:
        toks = r"""
toks AS (
  SELECT doc_id, CAST(generate_subscripts(arr, 1) - 1 AS INT) AS pos, unnest(arr) AS tok
  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS arr FROM documents) d
)"""
    return f"""
WITH {toks.strip()},
seq AS (
  SELECT doc_id, tok AS prev,
         lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS cur
  FROM toks
),
pairs AS (SELECT prev, cur FROM seq WHERE cur IS NOT NULL),
uni AS (SELECT tok, CAST(count(*) AS DOUBLE) AS u FROM toks GROUP BY tok),
big AS (
  SELECT prev, cur, CAST(count(*) AS DOUBLE) AS c
  FROM pairs GROUP BY prev, cur HAVING count(*) >= 5
),
tot AS (
  SELECT (SELECT CAST(count(*) AS DOUBLE) FROM pairs) AS bt,
         (SELECT CAST(count(*) AS DOUBLE) FROM toks) AS ut
)
SELECT b.prev, b.cur, CAST(b.c AS BIGINT) AS pair_count,
       {_rnd('ln((b.c / tot.bt) / ((ua.u / tot.ut) * (ub.u / tot.ut)))', 6)} AS pmi
FROM big b
JOIN uni ua ON b.prev = ua.tok
JOIN uni ub ON b.cur = ub.tok
CROSS JOIN tot
ORDER BY ln((b.c / tot.bt) / ((ua.u / tot.ut) * (ub.u / tot.ut))) DESC, b.prev, b.cur
LIMIT 50
"""


def q_zipf_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 rank-frequency vocabulary table
    (atra_spark.functions.textstats.zipf_table). Oracle:
    sql_zipf_table."""
    from atra_spark.functions.textstats import zipf_table

    _register(spark, sf_dir)
    return zipf_table(spark.table("documents"), top_k=100)


def sql_zipf_table(dialect: str) -> str:
    """Twin of textstats.zipf_table: term counts over non-empty
    whitespace tokens, top-100 by (freq DESC, term), rank =
    row_number in that order."""
    return f"""
WITH {_tokens_cte(dialect).strip()},
counts AS (
  SELECT tok AS term, count(*) AS freq FROM toks GROUP BY tok
),
top AS (
  SELECT term, freq FROM counts ORDER BY freq DESC, term LIMIT 100
)
SELECT term, freq,
       CAST(row_number() OVER (ORDER BY freq DESC, term) AS INT) AS rank
FROM top
"""


def q_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-population quality tiers (score = non-empty token count,
    deterministic id tiebreak; atra_spark.functions.textstats.
    quality_deciles — the data-mixing bucket construction). Oracle:
    sql_quality_deciles."""
    from atra_spark.functions.textstats import quality_deciles

    _register(spark, sf_dir)
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    scored = spark.table("documents").select(
        "doc_id",
        F.size(F.filter(toks, lambda t: t != F.lit(""))).cast("double").alias("q"),
    )
    out = quality_deciles(scored, score_col="q", id_col="doc_id", n_buckets=10)
    return out.select(F.col("id").alias("doc_id"), "score", "decile")


def sql_quality_deciles(dialect: str) -> str:
    """Twin of textstats.quality_deciles: ntile(10) over
    (score DESC, doc_id)."""
    if dialect == "spark":
        ntok = "CAST(size(filter(split(lower(trim(text)), '\\\\s+'), x -> x <> '')) AS DOUBLE)"
    else:
        ntok = r"CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '')) AS DOUBLE)"
    return f"""
WITH scored AS (SELECT doc_id, {ntok} AS score FROM documents)
SELECT doc_id, score,
       CAST(ntile(10) OVER (ORDER BY score DESC, doc_id) AS INT) AS decile
FROM scored
"""


def q_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted corpus selection: best documents by quality score
    until a 10k-token budget (atra_spark.functions.textstats.
    select_token_budget — distributed prefix sum in quality order).
    Oracle: sql_token_budget_selection."""
    from atra_spark.functions.textstats import select_token_budget

    _register(spark, sf_dir)
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    scored = spark.table("documents").select(
        "doc_id",
        F.col("n_chars").cast("double").alias("q"),
        F.size(F.filter(toks, lambda t: t != F.lit(""))).alias("ntok"),
    )
    out = select_token_budget(
        scored, budget_tokens=10_000, score_col="q", tokens_col="ntok", id_col="doc_id"
    )
    return out.select(
        F.col("id").alias("doc_id"), "score", "n_tokens",
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
    )


def sql_token_budget_selection(dialect: str) -> str:
    """Twin of textstats.select_token_budget: cumsum over
    (score DESC, doc_id), keep rows STARTING inside the budget."""
    if dialect == "spark":
        ntok = "CAST(size(filter(split(lower(trim(text)), '\\\\s+'), x -> x <> '')) AS BIGINT)"
    else:
        ntok = r"CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '')) AS BIGINT)"
    return f"""
WITH t AS (
  SELECT doc_id, CAST(n_chars AS DOUBLE) AS score, {ntok} AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, score, n_tokens,
         CAST(sum(n_tokens) OVER (ORDER BY score DESC, doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM t
)
SELECT doc_id, score, n_tokens, cum_tokens
FROM c
WHERE cum_tokens - n_tokens < 10000
"""


def q_shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Webdataset-style shard packing of the documents table by
    n_chars (10 kB shards, doc_id order) — distributed two-phase
    prefix sum (atra_spark.functions.multimodal.shard_pack). Oracle:
    sql_shard_pack (single-window cumsum twin)."""
    from atra_spark.functions.multimodal import shard_pack

    _register(spark, sf_dir)
    return shard_pack(spark.table("documents"), size_col="n_chars",
                      shard_bytes=10_000, order_col="doc_id")


def sql_shard_pack(dialect: str) -> str:
    """Twin of multimodal.shard_pack: global byte prefix sum in doc_id
    order; shard = floor(start/10000), offset = start % 10000."""
    return """
WITH c AS (
  SELECT doc_id, n_chars,
         sum(n_chars) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM documents
)
SELECT doc_id,
       CAST((cum - n_chars) // 10000 AS BIGINT) AS shard_id,
       CAST((cum - n_chars) % 10000 AS BIGINT) AS offset_in_shard,
       CAST(n_chars AS BIGINT) AS size
FROM c
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing of the documents token stream into
    512-token training blocks, splitting documents across block
    boundaries (atra_spark.functions.multimodal.pack_sequences —
    distributed two-phase prefix sum + bounded sequence() explode).
    Oracle: sql_pack_sequences (single-window cumsum + generate_series
    twin)."""
    from atra_spark.functions.multimodal import pack_sequences
    from atra_spark.functions.textstats import token_count_col

    _register(spark, sf_dir)
    sized = spark.table("documents").select(
        "doc_id", token_count_col(F.col("text")).alias("n_tokens")
    )
    return pack_sequences(sized, size_col="n_tokens", block_tokens=512,
                          order_col="doc_id")


def sql_pack_sequences(dialect: str) -> str:
    """Twin of multimodal.pack_sequences: global token prefix sum in
    doc_id order, then one row per (doc, block) segment for every
    512-token block the document's span [start, start+n) touches."""
    toks = _split_ws("text", "duckdb")
    return f"""
WITH c AS (
  SELECT doc_id, CAST(len({toks}) AS BIGINT) AS n_tokens,
         sum(CAST(len({toks}) AS BIGINT))
           OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM documents
), s AS (
  SELECT doc_id, n_tokens, CAST(cum - n_tokens AS BIGINT) AS start_pos
  FROM c WHERE n_tokens > 0
), e AS (
  SELECT doc_id, n_tokens, start_pos,
         unnest(generate_series(start_pos // 512,
                                (start_pos + n_tokens - 1) // 512)) AS block_id
  FROM s
)
SELECT doc_id, CAST(block_id AS BIGINT) AS block_id,
       CAST(greatest(start_pos, block_id * 512) - block_id * 512 AS BIGINT)
         AS block_offset,
       CAST(greatest(start_pos, block_id * 512) - start_pos AS BIGINT)
         AS doc_offset,
       CAST(least(start_pos + n_tokens, (block_id + 1) * 512)
            - greatest(start_pos, block_id * 512) AS BIGINT) AS seg_len
FROM e
"""


def q_recrawl_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness-driven recrawl priority per user (host analog):
    staleness = time-since-last-event in units of the key's observed
    average event gap (atra_spark.functions.sessions.recrawl_priority).
    Oracle: sql_recrawl_priority."""
    from atra_spark.functions.sessions import recrawl_priority

    _register(spark, sf_dir)
    return recrawl_priority(spark.table("events"))


def sql_recrawl_priority(dialect: str) -> str:
    """Twin of sessions.recrawl_priority: second-truncated epoch
    arithmetic, avg_gap = span/(n-1), staleness = (corpus_max - last)
    / avg_gap, keys with n < 2 or zero span excluded."""
    if dialect == "spark":
        # tz-free field arithmetic: a date_format->unix_timestamp
        # round-trip would re-parse the wall clock in the session tz
        s = ("(unix_date(CAST(ts AS DATE)) * 86400 + hour(ts) * 3600 "
             "+ minute(ts) * 60 + second(ts))")
    else:
        s = "CAST(epoch(date_trunc('second', ts)) AS BIGINT)"
    return f"""
WITH obs AS (SELECT user_id AS key, {s} AS s FROM events),
per_key AS (
  SELECT key, count(*) AS n_events, min(s) AS first_s, max(s) AS last_s
  FROM obs GROUP BY key
),
mx AS (SELECT max(s) AS max_s FROM obs)
SELECT key, n_events,
       {_rnd('(last_s - first_s) / CAST(n_events - 1 AS DOUBLE)', 6)} AS avg_gap_s,
       {_rnd('((SELECT max_s FROM mx) - last_s) / ((last_s - first_s) / CAST(n_events - 1 AS DOUBLE))', 6)} AS staleness
FROM per_key
WHERE n_events >= 2 AND last_s > first_s
"""


def q_url_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host URL path-template mining (crawler-trap detection;
    atra_spark.functions.jvm_url.url_templates) over deterministic
    synthetic URLs from events. Oracle: sql_url_templates."""
    from atra_spark.functions.jvm_url import url_templates

    _register(spark, sf_dir)
    ev = spark.table("events")
    urls = ev.select(
        F.concat(
            F.lit("https://h"), (F.col("user_id") % 10).cast("string"),
            F.lit(".example/"), F.col("event_type"),
            F.lit("/page"), (F.col("event_id") % 1000).cast("string"),
            F.lit("?sess="), F.col("event_id").cast("string"),
        ).alias("url")
    )
    return url_templates(urls, min_urls=2)


def sql_url_templates(dialect: str) -> str:
    """Twin of jvm_url.url_templates: same strip-authority /
    strip-query / digits->{n} regexps, same (host, template)
    collapse."""
    host_re = r"^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^/@?#]*@)?([^:/?#]+)"
    auth_re = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*"
    cast = "STRING" if dialect == "spark" else "VARCHAR"
    return f"""
WITH urls AS (
  SELECT 'https://h' || CAST(user_id % 10 AS {cast}) || '.example/' || event_type
         || '/page' || CAST(event_id % 1000 AS {cast})
         || '?sess=' || CAST(event_id AS {cast}) AS url
  FROM events
),
parts AS (
  SELECT lower(regexp_extract(url, '{host_re}', 1)) AS host,
         regexp_replace(
           regexp_replace(regexp_replace(url, '{auth_re}', ''), '[?#].*$', ''),
           '[0-9]+', '{{n}}') AS template,
         url
  FROM urls
)
SELECT host, template, count(*) AS n_urls,
       count(DISTINCT url) AS n_distinct_urls
FROM parts
WHERE host <> ''
GROUP BY host, template
HAVING count(*) >= 2
"""


def q_event_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window rollup per event type
    (atra_spark.functions.sessions.window_rollup — built-in window()
    bucketing, one map-side-combined exchange). Oracle:
    sql_event_window_rollup."""
    from atra_spark.functions.sessions import window_rollup

    _register(spark, sf_dir)
    out = window_rollup(spark.table("events"), duration="1 hour")
    return out.select(
        "window_start", "key", "n_events", _r6(F.col("sum_value")).alias("sum_value")
    )


def sql_event_window_rollup(dialect: str) -> str:
    """Twin of sessions.window_rollup: Spark's epoch-aligned 1-hour
    tumbling bucket == date_trunc('hour')."""
    if dialect == "spark":
        ws = "date_format(date_trunc('hour', ts), 'yyyy-MM-dd HH:mm:ss.SSSSSS')"
    else:
        ws = "strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S.%f')"
    return f"""
SELECT {ws} AS window_start,
       event_type AS key,
       count(*) AS n_events,
       {_rnd('sum(value)', 6)} AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p95/p99 of value per event type
    (atra_spark.functions.sessions.value_percentiles — exact
    PERCENTILE_CONT-interpolation aggregate, not approx). Oracle:
    sql_value_percentiles."""
    from atra_spark.functions.sessions import value_percentiles

    _register(spark, sf_dir)
    out = value_percentiles(spark.table("events"))
    return out.select(
        "key",
        _r6(F.col("p50")).alias("p50"),
        _r6(F.col("p95")).alias("p95"),
        _r6(F.col("p99")).alias("p99"),
    )


def sql_value_percentiles(dialect: str) -> str:
    """Twin of sessions.value_percentiles: linear-interpolation exact
    percentiles (Spark percentile == DuckDB quantile_cont)."""
    if dialect == "spark":
        p = lambda q: f"percentile(value, {q})"  # noqa: E731
    else:
        p = lambda q: f"quantile_cont(value, {q})"  # noqa: E731
    return f"""
SELECT event_type AS key,
       {_rnd(p(0.5), 6)} AS p50,
       {_rnd(p(0.95), 6)} AS p95,
       {_rnd(p(0.99), 6)} AS p99
FROM events
GROUP BY event_type
"""


def q_host_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted host->host collapse of a URL edge table
    (atra_spark.functions.graph.host_graph — Common-Crawl-style
    domain-level webgraph; hosts via the engine's JVM host_col).
    Edges synthesized deterministically from events. Oracle:
    sql_host_graph."""
    from atra_spark.functions.graph import host_graph

    _register(spark, sf_dir)
    ev = spark.table("events")
    edges = ev.select(
        F.concat(
            F.lit("https://h"), (F.col("user_id") % 20).cast("string"),
            F.lit(".example/p"), F.col("event_id").cast("string"),
        ).alias("src"),
        F.concat(
            F.lit("https://h"), (F.col("event_id") % 17).cast("string"),
            F.lit(".example/q"), F.col("event_id").cast("string"),
        ).alias("dst"),
    )
    return host_graph(edges)


def sql_host_graph(dialect: str) -> str:
    """Twin of graph.host_graph over the same synthetic URL edges:
    identical host regex (jvm_url._HOST_RE), lowercase, self-loop
    drop, count-weighted collapse."""
    host_re = r"^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^/@?#]*@)?([^:/?#]+)"
    concat_src = "'https://h' || CAST(user_id % 20 AS STRING) || '.example/p' || CAST(event_id AS STRING)"
    concat_dst = "'https://h' || CAST(event_id % 17 AS STRING) || '.example/q' || CAST(event_id AS STRING)"
    if dialect == "duckdb":
        concat_src = concat_src.replace("AS STRING", "AS VARCHAR")
        concat_dst = concat_dst.replace("AS STRING", "AS VARCHAR")
    return f"""
WITH edges AS (
  SELECT {concat_src} AS src, {concat_dst} AS dst FROM events
),
hosts AS (
  SELECT lower(regexp_extract(src, '{host_re}', 1)) AS src_host,
         lower(regexp_extract(dst, '{host_re}', 1)) AS dst_host
  FROM edges
)
SELECT src_host, dst_host, count(*) AS weight
FROM hosts
WHERE src_host <> '' AND dst_host <> '' AND src_host <> dst_host
GROUP BY src_host, dst_host
"""


def q_source_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality rollup for domain-level corpus filtering
    (atra_spark.functions.textstats.source_quality_rollup). Oracle:
    sql_source_quality."""
    from atra_spark.functions.textstats import source_quality_rollup

    _register(spark, sf_dir)
    out = source_quality_rollup(spark.table("documents"), low_tokens=40)
    return out.select(
        "source", "n_docs",
        _r6(F.col("avg_tokens")).alias("avg_tokens"),
        _r6(F.col("low_quality_share")).alias("low_quality_share"),
        "n_langs",
    )


def sql_source_quality(dialect: str) -> str:
    """Twin of textstats.source_quality_rollup: per-source doc count,
    mean non-empty-token count, sub-40-token share, distinct langs."""
    if dialect == "spark":
        ntok = "CAST(size(filter(split(lower(trim(text)), '\\\\s+'), x -> x <> '')) AS DOUBLE)"
    else:
        ntok = r"CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '')) AS DOUBLE)"
    return f"""
WITH base AS (SELECT source, lang, {ntok} AS ntok FROM documents)
SELECT source,
       count(*) AS n_docs,
       {_rnd('avg(ntok)', 6)} AS avg_tokens,
       {_rnd('sum(CASE WHEN ntok < 40 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)', 6)} AS low_quality_share,
       count(DISTINCT lang) AS n_langs
FROM base
GROUP BY source
"""


def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means over the embeddings table
    (functions/similarity.kmeans_assign): k=8, 3 iterations, centroids
    seeded from the 8 lowest vec_ids. Oracle: the same iterations
    unrolled as chained CTEs (the pagerank/hits pattern), with the
    shared _rnd distance rounding making the discrete argmin immune to
    double summation-order noise in both engines."""
    from atra_spark.functions.similarity import kmeans_assign

    _register(spark, sf_dir)
    return kmeans_assign(spark.table("embeddings"), k=8, n_iter=3)


def _kmeans_ctes(dialect: str, k: int, n_iter: int) -> list[str]:
    """Shared unrolled-iteration CTE chain for kmeans_assign twins:
    a{i} assigns against c{i} (argmin of 6dp-rounded squared L2,
    tie-break lowest cid), c{i+1} averages the assigned members per
    dimension. Final assignment is a{n_iter}."""
    if dialect == "spark":
        comps = "SELECT vec_id, posexplode(embedding) AS (pos, v) FROM embeddings"
    else:
        comps = (
            "SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS INT) AS pos, "
            "CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings"
        )
    parts = [
        f"comps AS ({comps})",
        "c0 AS (SELECT vec_id AS cid, pos, CAST(v AS DOUBLE) AS v "
        f"FROM comps WHERE vec_id < {k})",
    ]
    for i in range(n_iter + 1):
        diff = "(CAST(comps.v AS DOUBLE) - c.v)"
        dist = _rnd(f"sum({diff} * {diff})", 6)
        parts.append(
            f"d{i} AS (SELECT comps.vec_id, c.cid, {dist} AS dist "
            f"FROM comps JOIN c{i} c ON comps.pos = c.pos "
            "GROUP BY comps.vec_id, c.cid)"
        )
        parts.append(
            f"a{i} AS (SELECT vec_id, cid, dist FROM ("
            "SELECT vec_id, cid, dist, row_number() OVER "
            "(PARTITION BY vec_id ORDER BY dist, cid) AS rn "
            f"FROM d{i}) t WHERE rn = 1)"
        )
        if i < n_iter:
            parts.append(
                f"c{i + 1} AS (SELECT a.cid, comps.pos, "
                "avg(CAST(comps.v AS DOUBLE)) AS v "
                f"FROM a{i} a JOIN comps ON comps.vec_id = a.vec_id "
                "GROUP BY a.cid, comps.pos)"
            )
    return parts


def sql_kmeans(dialect: str, k: int = 8, n_iter: int = 3) -> str:
    """Twin of kmeans_assign (see _kmeans_ctes)."""
    parts = _kmeans_ctes(dialect, k, n_iter)
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT vec_id, cid AS cluster, dist FROM a{n_iter}"
    )


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) over the embeddings table
    (functions/similarity.semdedup): k-means blocking (k=8, 3
    iterations) then within-cluster pairwise cosine pruning at
    threshold 0.35 with keep-first-by-id election. The threshold is
    tuned to the synthetic isotropic embeddings (real corpora use
    ~0.95 on normalized sentence embeddings); it exercises the prune
    path without collapsing the corpus. Oracle: sql_semdedup."""
    from atra_spark.functions.similarity import semdedup

    _register(spark, sf_dir)
    return semdedup(spark.table("embeddings"), k=8, n_iter=3, threshold=0.35)


def sql_semdedup(dialect: str, k: int = 8, n_iter: int = 3,
                 threshold: float = 0.35) -> str:
    """Twin of similarity.semdedup: the shared kmeans CTE chain for
    assignments, then per-cluster pairwise 6dp-rounded cosine; keep =
    no lower-id cluster-mate at cosine >= threshold."""
    parts = _kmeans_ctes(dialect, k, n_iter)
    cos = _rnd("sum(ci.v * cj.v) / (n1.nrm * n2.nrm)", 6)
    parts.append(
        "norms AS (SELECT vec_id, sqrt(sum(CAST(v AS DOUBLE) "
        "* CAST(v AS DOUBLE))) AS nrm FROM comps GROUP BY vec_id)"
    )
    parts.append(
        f"pruned AS (SELECT DISTINCT aj.vec_id FROM a{n_iter} ai "
        f"JOIN a{n_iter} aj ON ai.cid = aj.cid AND ai.vec_id < aj.vec_id "
        "JOIN comps ci ON ci.vec_id = ai.vec_id "
        "JOIN comps cj ON cj.vec_id = aj.vec_id AND cj.pos = ci.pos "
        "JOIN norms n1 ON n1.vec_id = ai.vec_id "
        "JOIN norms n2 ON n2.vec_id = aj.vec_id "
        "GROUP BY ai.vec_id, aj.vec_id, n1.nrm, n2.nrm "
        f"HAVING {cos} >= {threshold})"
    )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT a.vec_id, a.cid AS cluster, p.vec_id IS NULL AS keep"
        + f"\nFROM a{n_iter} a LEFT JOIN pruned p ON p.vec_id = a.vec_id"
    )


def q_wet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET derivative loop: export one conversion record per document
    (payload = utf-8 text, plans/export.export_wet), scan the .wet
    archive back with the shared WARC scanner, and report the md5 of
    each recovered payload. Oracle: the roundtrip invariant — md5(text)
    straight from the documents table."""
    import datetime as _dt

    from atra_spark.plans.export import export_wet
    from atra_spark.sources.warc import scan_warc_records

    _register(spark, sf_dir)
    docs = spark.table("documents").filter(F.col("doc_id") < 120)
    results = docs.select(
        F.concat(
            F.lit("https://"), "source", F.lit(".example/doc"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.lit(_dt.datetime(2024, 1, 1)).alias("fetched_at"),
        "text",
    )
    out = tempfile.mkdtemp(prefix="atra_wet_rt_")
    export_wet(results, out).collect()
    rec = scan_warc_records(spark, out)
    return rec.select(
        "url",
        F.md5("body").alias("text_md5"),
        "warc_type",
    )


def sql_wet_roundtrip(dialect: str) -> str:
    """Expected WET scan output constructed directly from documents."""
    return """
SELECT 'https://' || source || '.example/doc' || CAST(doc_id AS VARCHAR) AS url,
       md5(text) AS text_md5,
       'conversion' AS warc_type
FROM documents
WHERE doc_id < 120
"""


def q_surt_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURT keys — the CDX lookup key over the rotated WARC archive
    (sources/warc.build_cdx; urlkit.surt_key documents the rule
    subset) — computed by the fully-JVM ``surt_col`` plan for one
    deterministically constructed URL per document. The construction
    exercises every rule: uppercase host/path, a ``www.`` label, a
    non-default port every 7th doc, unsorted/odd query params every
    3rd. Oracle: the construction rule itself (sitemap-style
    constructive truth — the expected surt is built directly from
    (source, doc_id), not by mirroring the implementation)."""
    from atra_spark.functions.jvm_url import surt_col

    _register(spark, sf_dir)
    docs = spark.table("documents")
    url = F.concat(
        F.lit("https://WWW."),
        F.col("source"),
        F.lit(".Example"),
        F.when(F.col("doc_id") % 7 == 0, ":8080").otherwise(""),
        F.lit("/Doc/"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 3 == 0, "?b=2&a=1")
        .when(F.col("doc_id") % 3 == 1, "?z")
        .otherwise(""),
    )
    return docs.select(
        "doc_id", url.alias("url"), surt_col(url).alias("surt")
    )


def sql_surt_keys(dialect: str) -> str:
    """Constructive twin of q_surt_keys: scheme/userinfo dropped,
    lowercased, ``www.`` stripped, host labels reversed (source has no
    dots, so the reversal is 'example,' || source), non-default port
    kept before ')', query params sorted ('?b=2&a=1' -> '?a=1&b=2')."""
    return """
SELECT doc_id,
       'https://WWW.' || source || '.Example'
         || CASE WHEN doc_id % 7 = 0 THEN ':8080' ELSE '' END
         || '/Doc/' || CAST(doc_id AS VARCHAR)
         || CASE WHEN doc_id % 3 = 0 THEN '?b=2&a=1'
                 WHEN doc_id % 3 = 1 THEN '?z' ELSE '' END AS url,
       'example,' || source
         || CASE WHEN doc_id % 7 = 0 THEN ':8080' ELSE '' END
         || ')/doc/' || CAST(doc_id AS VARCHAR)
         || CASE WHEN doc_id % 3 = 0 THEN '?a=1&b=2'
                 WHEN doc_id % 3 = 1 THEN '?z' ELSE '' END AS surt
FROM documents
"""


def q_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end archive loop through REAL WARC files: synthesize a
    pages table from documents, export_warc it (rotated .warc files,
    labeled xxh128 digests, plans/export.py), read it back with the
    distributed WARC source (sources/warc.read_warc_pages), and report
    per-url byte length + md5 of the RECOVERED payload. Oracle: the
    roundtrip invariant itself — payloads come back byte-identical, so
    octet_length/md5 computed directly on documents.text is the truth.
    The scratch archive stays on disk until the session ends (the
    returned plan re-reads it lazily at collect time)."""
    import datetime as _dt

    from atra_spark.plans.export import export_warc
    from atra_spark.sources.warc import read_warc_pages

    _register(spark, sf_dir)
    docs = spark.table("documents").filter(F.col("doc_id") < 120)
    pages = docs.select(
        F.concat(
            F.lit("https://"), "source", F.lit(".example/doc"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.lit(_dt.datetime(2024, 1, 1)).alias("fetched_at"),
        F.encode("text", "utf-8").alias("html"),
    )
    out = tempfile.mkdtemp(prefix="atra_warc_rt_")
    results = pages.select("url", "fetched_at", F.lit(200).alias("status"))
    export_warc(results, pages.select("url", "html"), out).collect()
    back = read_warc_pages(spark, out)
    return back.select(
        "url",
        F.octet_length("html").alias("n_bytes"),
        F.md5("html").alias("payload_md5"),
        "http_status",
        "mime",
    )


def sql_warc_roundtrip(dialect: str) -> str:
    """Expected output of the WARC export->read-back loop, constructed
    directly from the documents table (DuckDB md5/octet_length hash the
    same UTF-8 bytes Spark's encode(text,'utf-8') produced)."""
    return """
SELECT 'https://' || source || '.example/doc' || CAST(doc_id AS VARCHAR) AS url,
       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       md5(text) AS payload_md5,
       CAST(200 AS INT) AS http_status,
       'text/html' AS mime
FROM documents
WHERE doc_id < 120
"""


def q_warc_revisit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Digest-dedup'd archive loop: 160 pages whose payloads repeat in
    groups of 4 (html = text of doc_id % 40) are exported with
    export_warc(dedup_payloads=True) — each distinct payload stored
    once, the rest as WARC revisit records — then read back with
    revisit resolution. Oracle: the dedup rule itself — within a
    payload group the canonical is the first by (fetched_at, url)
    (equal timestamps here, so min(url)), everything else is a
    revisit, and ALL of them recover the same bytes."""
    from atra_spark.plans.export import export_warc
    from atra_spark.sources.warc import read_warc_pages

    import datetime as _dt

    _register(spark, sf_dir)
    docs = spark.table("documents")
    src = docs.filter(F.col("doc_id") < 160).select("doc_id", "source")
    grp = docs.filter(F.col("doc_id") < 40).select(
        F.col("doc_id").alias("gid"), F.col("text").alias("gtext")
    )
    pages = src.join(grp, src.doc_id % 40 == grp.gid).select(
        F.concat(
            F.lit("https://"), "source", F.lit(".example/doc"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.lit(_dt.datetime(2024, 1, 1)).alias("fetched_at"),
        F.encode("gtext", "utf-8").alias("html"),
    )
    out = tempfile.mkdtemp(prefix="atra_warc_rev_")
    results = pages.select("url", "fetched_at", F.lit(200).alias("status"))
    export_warc(
        results, pages.select("url", "html"), out, dedup_payloads=True
    ).collect()
    back = read_warc_pages(spark, out)
    return back.select(
        "url", F.md5("html").alias("payload_md5"), "is_revisit"
    )


def sql_warc_revisit(dialect: str) -> str:
    """Constructive twin of q_warc_revisit: expected recovered bytes
    and revisit flags straight from the documents table (texts of
    doc_id < 40 are pairwise distinct, so digest groups == gid)."""
    return """
WITH p AS (
  SELECT 'https://' || a.source || '.example/doc' || CAST(a.doc_id AS VARCHAR) AS url,
         a.doc_id % 40 AS gid, b.text AS gtext
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id % 40
  WHERE a.doc_id < 160
)
SELECT url, md5(gtext) AS payload_md5,
       url <> min(url) OVER (PARTITION BY gid) AS is_revisit
FROM p
"""


# --------------------------------------------------------------------------
# corpus scrubbing family (functions/scrub.py): PII redaction, per-site
# boilerplate-line removal, Unicode normalization. The documents table
# carries none of these phenomena (clean synthetic sentences), so each
# query first AUGMENTS it with deterministically-injected PII /
# template lines / denormalized Unicode via the SAME dialect-twinned
# SQL on both sides — the oracle then replays the operator's contract
# on the identical augmented input.
# --------------------------------------------------------------------------
def _pii_augment_sql(dialect: str) -> str:
    s = "STRING" if dialect == "spark" else "VARCHAR"
    return f"""
SELECT doc_id,
  text
  || CASE WHEN doc_id % 5 = 0 THEN ' contact user' || CAST(doc_id AS {s})
       || '@mail' || CAST(doc_id % 7 AS {s}) || '.example.org now' ELSE '' END
  || CASE WHEN doc_id % 4 = 0 THEN ' server 10.' || CAST(doc_id % 256 AS {s})
       || '.0.' || CAST(doc_id % 100 AS {s}) || ' up' ELSE '' END
  || CASE WHEN doc_id % 6 = 0 THEN ' call +49 301 '
       || CAST(2000000 + doc_id AS {s}) || ' today' ELSE '' END
  || CASE WHEN doc_id % 9 = 0 THEN ' pay DE' || CAST(10 + doc_id % 90 AS {s})
       || '370400440532013000 ref' ELSE '' END
  AS text
FROM documents
"""


def q_anchor_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text index over the fixture pages table
    (functions/anchors.anchor_pairs -> anchor_summary): one
    mapInPandas extraction pass (html never shuffles), one algebraic
    groupBy(dst). Oracle: the generator's golden anchors by
    construction — the same independence contract as golden_links."""
    from atra_spark.functions.anchors import anchor_pairs, anchor_summary

    paths = _ensure_entry_fixtures()
    return anchor_summary(anchor_pairs(spark.read.parquet(paths["pages"])))


def _url_variants_sql(dialect: str) -> str:
    s = "STRING" if dialect == "spark" else "VARCHAR"
    return f"""
SELECT 'HTTPS://H' || CAST(user_id % 10 AS {s}) || '.Example/path'
       || CAST(event_id % 50 AS {s})
       || '?utm_source=x&id=' || CAST(event_id % 20 AS {s})
       || '&utm_campaign=c' || CAST(user_id % 3 AS {s})
       || CASE WHEN event_id % 3 = 0
            THEN '&sessionid=s' || CAST(event_id AS {s}) ELSE '' END
       || CASE WHEN event_id % 4 = 0
            THEN '#frag' || CAST(event_id AS {s}) ELSE '' END AS url
FROM events
"""


def q_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tracking-parameter URL canonicalization + dedup groups
    (functions/jvm_url.url_canonical_dedup — pure JVM normalization:
    lowercased authority, default-port strip, fragment drop, tracking
    params removed, surviving params sorted) over utm/session/fragment
    URL variants synthesized from events. Oracle:
    sql_url_canonical_dedup."""
    from atra_spark.functions.jvm_url import url_canonical_dedup

    _register(spark, sf_dir)
    return url_canonical_dedup(spark.sql(_url_variants_sql("spark")))


def sql_url_canonical_dedup(dialect: str) -> str:
    """Twin of jvm_url.url_canonical_dedup: same authority/path/query
    decomposition, tracking-param filter (jvm_url.TRACKING_PARAM_RE,
    embedded verbatim), param sort, and group rollup."""
    from atra_spark.functions.jvm_url import _SA_GROUPS_RE, TRACKING_PARAM_RE

    return f"""
WITH urls AS ({_url_variants_sql("duckdb")}),
parts AS (
  SELECT url,
    regexp_replace(lower(regexp_extract(url, '{_SA_GROUPS_RE}', 1)),
                   ':(80|443)$', '') AS auth,
    regexp_extract(url, '{_SA_GROUPS_RE}', 2) AS path,
    regexp_extract(url, '\\?([^#]*)', 1) AS q
  FROM urls
),
canon AS (
  SELECT url,
    auth || (CASE WHEN path = '' THEN '/' ELSE path END)
    || (CASE WHEN len(ps) > 0
          THEN '?' || array_to_string(list_sort(ps), '&') ELSE '' END)
    AS canon_url
  FROM (
    SELECT url, auth, path,
           list_filter(string_split(q, '&'),
                       p -> p <> '' AND NOT regexp_matches(p, '{TRACKING_PARAM_RE}')) AS ps
    FROM parts
  )
)
SELECT canon_url, count(*) AS n_variants,
       count(DISTINCT url) AS n_distinct_raw, min(url) AS keeper
FROM canon GROUP BY canon_url
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (functions/scrub.pii_scrub) over the
    PII-injected documents table — pure JVM regexp column math.
    Oracle: sql_pii_scrub."""
    from atra_spark.functions.scrub import pii_scrub

    _register(spark, sf_dir)
    return pii_scrub(spark.sql(_pii_augment_sql("spark")))


def sql_pii_scrub(dialect: str) -> str:
    """Twin of scrub.pii_scrub: per-family regexp_extract_all counts on
    the original text, chained global regexp_replace redaction in rule
    order (patterns live in scrub.PII_RULES — the common Java/RE2
    subset, embedded verbatim)."""
    from atra_spark.functions.scrub import PII_RULES

    counts = ", ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS INT) AS n_{name}"
        for name, pat, _ in PII_RULES
    )
    total = " + ".join(f"n_{name}" for name, _, _ in PII_RULES)
    red = "text"
    for _, pat, repl in PII_RULES:
        red = f"regexp_replace({red}, '{pat}', '{repl}', 'g')"
    return f"""
WITH aug AS ({_pii_augment_sql(dialect)}),
cnt AS (SELECT doc_id, {counts}, {red} AS redacted_text FROM aug)
SELECT doc_id, n_email, n_ipv4, n_phone, n_iban,
       CAST({total} AS INT) AS n_pii, redacted_text
FROM cnt
"""


def _boiler_augment_sql(dialect: str) -> str:
    # chr(10) (LF) is <256, so Spark's mod-256 chr agrees with DuckDB's
    return """
SELECT doc_id, source,
  'subscribe to ' || source || ' newsletter' || chr(10) || text
  || CASE WHEN doc_id % 4 = 0
       THEN chr(10) || 'copyright ' || source || ' all rights reserved'
       ELSE '' END AS text
FROM documents
"""


def q_site_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-site boilerplate-line removal
    (functions/scrub.site_boilerplate_removal, ratio 0.5 / min 2 docs)
    over documents with an injected per-source template header (every
    doc -> removed) and a 25%-of-docs footer (below ratio -> kept).
    Oracle: sql_site_boilerplate."""
    from atra_spark.functions.scrub import site_boilerplate_removal

    _register(spark, sf_dir)
    return site_boilerplate_removal(
        spark.sql(_boiler_augment_sql("spark")), min_ratio=0.5, min_docs=2
    )


def sql_site_boilerplate(dialect: str) -> str:
    """Twin of scrub.site_boilerplate_removal: line explode, 60-bit
    line fp, per-(site, fp) doc-presence count vs per-site doc count,
    boilerplate at >= max(2, ceil(0.5 * n_docs)), ordered reassembly
    of surviving lines."""
    fp = _hex_hash("line", "duckdb")
    return f"""
WITH aug AS ({_boiler_augment_sql("duckdb")}),
sd AS (SELECT source, count(DISTINCT doc_id) AS n_docs FROM aug GROUP BY source),
ls AS (SELECT doc_id, source, string_split(text, chr(10)) AS arr FROM aug),
lines AS (
  SELECT doc_id, source,
         CAST(generate_subscripts(arr, 1) AS INT) - 1 AS line_idx,
         unnest(arr) AS line
  FROM ls
),
nb AS (
  SELECT doc_id, source, line_idx, line, {fp} AS fp
  FROM lines WHERE trim(line) <> ''
),
pres AS (SELECT DISTINCT source, fp, doc_id FROM nb),
cnt AS (SELECT source, fp, count(*) AS n_with FROM pres GROUP BY source, fp),
boiler AS (
  SELECT c.source, c.fp
  FROM cnt c JOIN sd ON sd.source = c.source
  WHERE c.n_with >= greatest(2, CAST(ceil(0.5 * sd.n_docs) AS INT))
)
SELECT nb.doc_id,
       count(*) AS n_lines,
       CAST(sum(CASE WHEN b.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
       coalesce(
         string_agg(CASE WHEN b.fp IS NULL THEN nb.line END, chr(10)
                    ORDER BY nb.line_idx),
         '') AS clean_text
FROM nb LEFT JOIN boiler b ON b.source = nb.source AND b.fp = nb.fp
GROUP BY nb.doc_id
"""


# denormalized-Unicode injection, embedded as literal characters in
# the SQL text (NOT chr(): Spark's chr() is mod-256 ASCII). Exact code
# points via Python escapes: e + U+0301 = DECOMPOSED e-acute (NFC
# composes it to one code point), U+200B = ZWSP (stripped), U+0007 =
# BEL control (stripped), tabs + double spaces (collapsed).
_NORM_INJECT = (
    "' cafe\u0301 \u200bdeja vu\x07' "
    "|| CASE WHEN doc_id % 2 = 0 THEN '\t\ttabbed  run' ELSE ' plain' END"
)


def _norm_augment_sql(dialect: str) -> str:
    return f"SELECT doc_id, text || {_NORM_INJECT} AS text FROM documents"


def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode normalization (functions/scrub.normalize_text) over
    documents with injected combining marks, zero-width and control
    characters, and horizontal-whitespace runs. Oracle:
    sql_normalize_text."""
    from atra_spark.functions.scrub import normalize_text

    _register(spark, sf_dir)
    return normalize_text(spark.sql(_norm_augment_sql("spark")))


def sql_normalize_text(dialect: str) -> str:
    """Twin of scrub.normalize_text, replaying the pinned step order:
    NFC -> zero-width strip -> C0/DEL control strip (tab/newline kept)
    -> [ \\t]+ collapse -> space-only edge trim."""
    norm = (
        "trim(regexp_replace(regexp_replace(regexp_replace("
        "nfc_normalize(text),"
        " '[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}]', '', 'g'),"
        " '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),"
        " '[ \\t]+', ' ', 'g'), ' ')"
    )
    return f"""
WITH aug AS ({_norm_augment_sql("duckdb")}),
n AS (SELECT doc_id, text, {norm} AS norm_text FROM aug)
SELECT doc_id, norm_text,
       CAST(length(text) AS INT) AS n_chars_before,
       CAST(length(norm_text) AS INT) AS n_chars_after,
       norm_text <> text AS changed
FROM n
"""


def _page_augment_sql(dialect: str) -> str:
    """Deterministic multi-line "web page" structure over documents
    (the parquet corpus is single-line), exercising every branch of
    the Gopher/C4 rule set: a nav line with no terminal punctuation,
    a real sentence, an every-other-doc second sentence, a bullet
    line (doc_id%3), an ellipsis teaser (%5), a javascript notice
    (%7), a symbol-hash run (%11), a lorem-ipsum block phrase (%13),
    and a closing sentence. chr(10) is <256 so Spark's mod-256 chr
    agrees with DuckDB's; substr past end is '' in both engines."""
    return """
SELECT doc_id, source,
  'Home | About | Contact' || chr(10)
  || substr(text, 1, 80 + (doc_id % 7) * 20)
  || ' and that it should have been with the data.' || chr(10)
  || CASE WHEN doc_id % 2 = 0
       THEN 'It is known that the data should be good here.' || chr(10)
       ELSE '' END
  || CASE WHEN doc_id % 3 = 0 THEN '- bullet item for menu' || chr(10) ELSE '' END
  || CASE WHEN doc_id % 5 = 0 THEN 'Read more…' || chr(10) ELSE '' END
  || CASE WHEN doc_id % 7 = 0
       THEN 'Please enable javascript to view this page properly now.' || chr(10)
       ELSE '' END
  || CASE WHEN doc_id % 11 = 0 THEN '# # # # # # # # # # # #' || chr(10) ELSE '' END
  || CASE WHEN doc_id % 13 = 0
       THEN 'Lorem ipsum dolor sit amet placeholder text here.' || chr(10)
       ELSE '' END
  || substr(text, 161, 80 + (doc_id % 5) * 30) || ' of the table!' AS text
FROM documents
"""


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-quality rules (Rae et al. 2021 appendix A;
    atra_spark.functions.webfilters.gopher_quality — shuffle-free
    columnar pass) over documents with injected page structure.
    Oracle: sql_gopher_quality."""
    from atra_spark.functions.webfilters import gopher_quality

    _register(spark, sf_dir)
    out = gopher_quality(spark.sql(_page_augment_sql("spark")))
    return out.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        "mean_word_len", "frac_alpha_words", "symbol_ratio",
        "frac_bullet_lines", "frac_ellipsis_lines",
        F.col("n_stop_hits").cast("long").alias("n_stop_hits"),
        "keep",
    )


def sql_gopher_quality(dialect: str) -> str:
    """Twin of webfilters.gopher_quality: same token/line conventions,
    4-dp HALF_UP fractions, same rule thresholds."""
    words = r"list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '')"
    lines = "list_filter(string_split(text, chr(10)), x -> trim(x) <> '')"
    stop_list = "['" + "', '".join(
        ("the", "be", "to", "of", "and", "that", "have", "with")
    ) + "']"
    return f"""
WITH aug AS ({_page_augment_sql(dialect)}),
t AS (
  SELECT doc_id, text, {words} AS w, {lines} AS l FROM aug
),
m AS (
  SELECT doc_id,
    CAST(len(w) AS BIGINT) AS n_words,
    coalesce(list_sum(list_transform(w, x -> length(x))), 0) AS wlen,
    len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS nalpha,
    (length(text) - length(replace(text, '#', '')))
      + (length(text) - length(replace(text, '…', ''))) AS nsym,
    len(l) AS nlines,
    len(list_filter(l, x -> substr(ltrim(x), 1, 1) = '-'
        OR substr(ltrim(x), 1, 1) = '*'
        OR substr(ltrim(x), 1, 1) = '•')) AS nbullet,
    len(list_filter(l, x -> rtrim(x) LIKE '%...' OR rtrim(x) LIKE '%…')) AS nellip,
    CAST(len(list_filter({stop_list}, s -> list_contains(w, s))) AS BIGINT) AS n_stop_hits
  FROM t
),
r AS (
  SELECT doc_id, n_words,
    {_rnd("CASE WHEN n_words > 0 THEN wlen * 1.0 / n_words ELSE 0.0 END", 4)} AS mean_word_len,
    {_rnd("CASE WHEN n_words > 0 THEN nalpha * 1.0 / n_words ELSE 0.0 END", 4)} AS frac_alpha_words,
    {_rnd("CASE WHEN n_words > 0 THEN nsym * 1.0 / n_words ELSE 0.0 END", 4)} AS symbol_ratio,
    {_rnd("CASE WHEN nlines > 0 THEN nbullet * 1.0 / nlines ELSE 0.0 END", 4)} AS frac_bullet_lines,
    {_rnd("CASE WHEN nlines > 0 THEN nellip * 1.0 / nlines ELSE 0.0 END", 4)} AS frac_ellipsis_lines,
    n_stop_hits
  FROM m
)
SELECT doc_id, n_words, mean_word_len, frac_alpha_words, symbol_ratio,
       frac_bullet_lines, frac_ellipsis_lines, n_stop_hits,
       (n_words BETWEEN 50 AND 100000
        AND mean_word_len BETWEEN 3.0 AND 10.0
        AND symbol_ratio <= 0.1
        AND frac_bullet_lines <= 0.1
        AND frac_ellipsis_lines <= 0.3
        AND frac_alpha_words >= 0.8
        AND n_stop_hits >= 2) AS keep
FROM r
"""


def q_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning (Raffel et al. 2020 §2.2;
    atra_spark.functions.webfilters.c4_line_filter — shuffle-free)
    over documents with injected page structure. Oracle:
    sql_c4_line_filter."""
    from atra_spark.functions.webfilters import c4_line_filter

    _register(spark, sf_dir)
    out = c4_line_filter(spark.sql(_page_augment_sql("spark")))
    return out.select(
        "doc_id",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_kept").cast("long").alias("n_kept"),
        "doc_keep", "clean_text",
    )


def sql_c4_line_filter(dialect: str) -> str:
    """Twin of webfilters.c4_line_filter: terminal-punct + >=5-word
    lines, javascript/'{{' line drops, lorem-ipsum / <3-kept-line
    page drops."""
    return f"""
WITH aug AS ({_page_augment_sql(dialect)}),
t AS (
  SELECT doc_id,
    list_filter(
      list_transform(
        list_filter(string_split(text, chr(10)), x -> trim(x) <> ''),
        x -> trim(x)),
      l -> (substr(l, length(l), 1) = '.' OR substr(l, length(l), 1) = '!'
            OR substr(l, length(l), 1) = '?' OR substr(l, length(l), 1) = '"')
        AND len(list_filter(regexp_split_to_array(l, '\\s+'), y -> y <> '')) >= 5
        AND NOT contains(lower(l), 'javascript')
        AND NOT contains(l, '{{')
    ) AS k,
    CAST(len(list_filter(string_split(text, chr(10)), x -> trim(x) <> '')) AS BIGINT)
      AS n_lines,
    contains(lower(text), 'lorem ipsum') AS blocked
  FROM aug
)
SELECT doc_id, n_lines, CAST(len(k) AS BIGINT) AS n_kept,
       (len(k) >= 3 AND NOT blocked) AS doc_keep,
       array_to_string(k, chr(10)) AS clean_text
FROM t
"""


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact paragraph dedup, Dolma-style keep-first
    (atra_spark.functions.webfilters.paragraph_dedup — one winner
    shuffle on the 60-bit paragraph hash) over documents with
    injected page structure (the nav/bullet/teaser lines repeat
    across docs; the body lines are unique). Oracle:
    sql_paragraph_dedup."""
    from atra_spark.functions.webfilters import paragraph_dedup

    _register(spark, sf_dir)
    return paragraph_dedup(spark.sql(_page_augment_sql("spark")))


def sql_paragraph_dedup(dialect: str) -> str:
    """Twin of webfilters.paragraph_dedup: same trimmed-line unit,
    60-bit md5 hash, packed (doc_id << 20 | line_idx) winner
    election, ordered reassembly."""
    return f"""
WITH aug AS ({_page_augment_sql(dialect)}),
arr AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM aug),
pos AS (
  SELECT doc_id, CAST(i AS INT) AS line_idx,
         trim(ls[CAST(i + 1 AS INT)]) AS line
  FROM (SELECT doc_id, ls, unnest(range(len(ls))) AS i FROM arr) u
),
nb AS (SELECT * FROM pos WHERE line <> ''),
hashed AS (
  SELECT doc_id, line_idx, line, {_hex_hash('line', 'duckdb')} AS fp,
         doc_id * 1048576 + line_idx AS pos_key
  FROM nb
),
win AS (SELECT fp, min(pos_key) AS w FROM hashed GROUP BY fp),
flagged AS (
  SELECT h.doc_id, h.line_idx, h.line, (h.pos_key = win.w) AS kept
  FROM hashed h JOIN win ON h.fp = win.fp
)
SELECT doc_id, count(*) AS n_lines,
       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       coalesce(string_agg(line, chr(10) ORDER BY line_idx) FILTER (WHERE kept), '')
         AS dedup_text
FROM flagged
GROUP BY doc_id
"""


def q_hashed_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed bag-of-words linear quality scorer — the map-only
    CCNet/DCLM classifier-scoring plan shape
    (atra_spark.functions.webfilters.hashed_linear_score). Oracle:
    sql_hashed_quality_score."""
    from atra_spark.functions.webfilters import hashed_linear_score

    _register(spark, sf_dir)
    out = hashed_linear_score(spark.table("documents"))
    return out.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        "score", "keep",
    )


def sql_hashed_quality_score(dialect: str) -> str:
    """Twin of webfilters.hashed_linear_score: per-token weight
    (hash60 % 2001 - 1000)/1000, mean over tokens, 4-dp HALF_UP."""
    words = r"list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '')"
    weight = f"(({_hex_hash('x', 'duckdb')} % 2001) - 1000) / 1000.0"
    return f"""
WITH t AS (SELECT doc_id, {words} AS w FROM documents),
s AS (
  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
         coalesce(list_sum(list_transform(w, x -> {weight})), 0.0) AS raw
  FROM t
),
r AS (
  SELECT doc_id, n_words,
         {_rnd("CASE WHEN n_words > 0 THEN raw / n_words ELSE 0.0 END", 4)} AS score
  FROM s
)
SELECT doc_id, n_words, score, (score > 0) AS keep FROM r
"""


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis–Spirakis A-Res; atra_spark.functions.sample.
    weighted_sample — hash-derived draw, TakeOrderedAndProject top-k)
    over documents weighted by word count. Oracle:
    sql_weighted_sample."""
    from atra_spark.functions.sample import weighted_sample

    _register(spark, sf_dir)
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != F.lit("")
    )
    docs = spark.table("documents").select(
        "doc_id", F.size(toks).cast("double").alias("w")
    )
    out = weighted_sample(docs, 200, "w")
    return out.select("doc_id", F.col("weight").cast("long").alias("weight"), "ares_key")


def sql_weighted_sample(dialect: str) -> str:
    """Twin of sample.weighted_sample at k=200, weight = word count:
    u = (hash60(doc_id)+0.5)/2^60, key = ln(u)/w, top-200 by
    (key DESC, doc_id ASC), key reported at 6-dp HALF_UP."""
    words = r"list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '')"
    h = _hex_hash("CAST(doc_id AS VARCHAR)", "duckdb")
    return f"""
WITH t AS (
  SELECT doc_id, CAST(len({words}) AS DOUBLE) AS w FROM documents
),
s AS (
  SELECT doc_id, w,
         ln(({h} + 0.5) / 1152921504606846976.0) / w AS k
  FROM t WHERE w > 0
)
SELECT doc_id, CAST(w AS BIGINT) AS weight,
       floor(k * 1e6 + 0.5 + 1e-7) / 1e6 AS ares_key
FROM s ORDER BY k DESC, doc_id ASC LIMIT 200
"""


def q_exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring removal, Lee et al. 2022 ExactSubstr
    semantics at 8-token window (atra_spark.functions.dedup.
    exact_substring_dedup — keep-first, hash-relational suffix-span
    excision) over documents with injected page structure (the
    repeated nav/notice/teaser sentences form cross-doc duplicated
    spans). Oracle: sql_exact_substring_dedup."""
    from atra_spark.functions.dedup import exact_substring_dedup

    _register(spark, sf_dir)
    return exact_substring_dedup(spark.sql(_page_augment_sql("spark")), window=8)


def sql_exact_substring_dedup(dialect: str) -> str:
    """Twin of dedup.exact_substring_dedup at window=8: same token
    convention, 60-bit gram hash, packed-position keep-first election,
    covered-index union, ordered reassembly."""
    words = r"list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '')"
    gram = _hex_hash(
        "array_to_string(toks[CAST(p + 1 AS INT):CAST(p + 8 AS INT)], ' ')", "duckdb"
    )
    return f"""
WITH aug AS ({_page_augment_sql(dialect)}),
base AS (SELECT doc_id, {words} AS toks FROM aug),
tokens AS (
  SELECT doc_id, CAST(i AS INT) AS idx, toks[CAST(i + 1 AS INT)] AS tok
  FROM (SELECT doc_id, toks, unnest(range(len(toks))) AS i FROM base) u
),
grams AS (
  SELECT doc_id, CAST(p AS INT) AS pos, {gram} AS g,
         doc_id * 1048576 + p AS pos_key
  FROM (
    SELECT doc_id, toks,
           unnest(range(CASE WHEN len(toks) >= 8 THEN len(toks) - 7 ELSE 0 END)) AS p
    FROM base
  ) u
),
elect AS (SELECT g, min(pos_key) AS first_key, count(*) AS cnt FROM grams GROUP BY g),
losers AS (
  SELECT doc_id, pos FROM grams JOIN elect USING (g)
  WHERE cnt > 1 AND pos_key <> first_key
),
removal AS (
  SELECT DISTINCT doc_id, CAST(pos + j AS INT) AS idx
  FROM (SELECT doc_id, pos, unnest(range(8)) AS j FROM losers) u
),
flagged AS (
  SELECT t.doc_id, t.idx, t.tok, (r.idx IS NOT NULL) AS rm
  FROM tokens t LEFT JOIN removal r ON t.doc_id = r.doc_id AND t.idx = r.idx
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       coalesce(string_agg(tok, ' ' ORDER BY idx) FILTER (WHERE NOT rm), '')
         AS dedup_text
FROM flagged
GROUP BY doc_id
"""


_CUSTOM_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "kmeans_clusters": q_kmeans,
    "warc_revisit": q_warc_revisit,
    "wet_roundtrip": q_wet_roundtrip,
    "surt_keys": q_surt_keys,
    "warc_roundtrip": q_warc_roundtrip,
    "simhash": q_simhash,
    "simhash_near_pairs": q_simhash_near_pairs,
    "minhash_lsh_df": q_minhash_lsh_df,
    # round 6: the Spark side of these two contract queries moves from
    # executing the oracle's SQL TEXT (whose shingle/sig CTEs Spark
    # inlines and so re-evaluates once per reference — up to 8x) to the
    # DataFrame-API operators, which pin the sig relation and compute
    # shingles once. The ORACLE text is untouched (_SQL_OPS still
    # serves oracle_sql()), and the DF twins were already proven
    # row/hash-identical against the same oracle (minhash_lsh_df has
    # carried a green driver row on sql_minhash_band_pairs since r4).
    "minhash_band_pairs": q_minhash_band_pairs_df,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard_df,
    "dedup_clusters": q_dedup_clusters,
    "embedding_lsh_topk": q_embedding_lsh_topk,
    "embedding_ivf_topk": q_embedding_ivf_topk,
    "rolling_fingerprints": q_rolling_fingerprints,
    "duplicate_passages": q_duplicate_passages,
    "decontamination": q_decontamination,
    "embedding_near_dup": q_embedding_near_dup,
    "pagerank": q_pagerank,
    "hits": q_hits,
    "stratified_sample": q_stratified_sample,
    "hash_sample": q_hash_sample,
    "bigram_lm_score": q_bigram_lm_score,
    "corpus_materialize": q_corpus_materialize,
    "repetition_metrics": q_repetition_metrics,
    "media_features": q_media_features,
    "media_phash_pairs": q_media_phash_pairs,
    "audio_fingerprints": q_audio_fingerprints,
    "audio_near_dup": q_audio_near_dup,
    "media_resize": q_media_resize,
    "bpe_merges": q_bpe_merges,
    "bpe_token_counts": q_bpe_token_counts,
    "bpe_vocab": q_bpe_vocab,
    "mixing_weights": q_mixing_weights,
    "media_frame_sample": q_media_frame_sample,
    "sitemap_candidates": q_sitemap_candidates,
    "tfidf_topk": q_tfidf_topk,
    "crawl_round": q_crawl_round,
    "crawl_order": q_crawl_order,
    "crawl_seen": q_crawl_seen,
    "host_state_fold": q_host_state_fold,
    "state_lookup_index": q_state_lookup_index,
    "chunk_dedup": q_chunk_dedup,
    "bm25_topk": q_bm25_topk,
    "event_sessions": q_event_sessions,
    "dsir_weights": q_dsir_weights,
    "source_quality": q_source_quality,
    "host_graph": q_host_graph,
    "event_window_rollup": q_event_window_rollup,
    "value_percentiles": q_value_percentiles,
    "weighted_host_pagerank": q_weighted_host_pagerank,
    "bigram_pmi": q_bigram_pmi,
    "zipf_table": q_zipf_table,
    "url_templates": q_url_templates,
    "recrawl_priority": q_recrawl_priority,
    "shard_pack": q_shard_pack,
    "quality_deciles": q_quality_deciles,
    "token_budget_selection": q_token_budget_selection,
    "minhash_calibration": q_minhash_calibration,
    "pii_scrub": q_pii_scrub,
    "anchor_texts": q_anchor_texts,
    "url_canonical_dedup": q_url_canonical_dedup,
    "site_boilerplate": q_site_boilerplate,
    "normalize_text": q_normalize_text,
    "gopher_quality": q_gopher_quality,
    "c4_line_filter": q_c4_line_filter,
    "paragraph_dedup": q_paragraph_dedup,
    "hashed_quality_score": q_hashed_quality_score,
    "exact_substring_dedup": q_exact_substring_dedup,
    "weighted_sample": q_weighted_sample,
    "pack_sequences": q_pack_sequences,
    "semdedup": q_semdedup,
    "trigram_backoff": q_trigram_backoff,
    "incremental_neardup": q_incremental_neardup,
    "snapshot_diff": q_snapshot_diff,
    "readability": q_readability,
    "dedup_keep_best": q_dedup_keep_best,
    "embedding_quantized_topk": q_embedding_quantized_topk,
    "cluster_safe_split": q_cluster_safe_split,
    "decontaminate_spans": q_decontaminate_spans,
    "corpus_drift": q_corpus_drift,
    "change_rate_priority": q_change_rate_priority,
    "ngram_containment": q_ngram_containment,
    "corpus_data_card": q_corpus_data_card,
    "pack_sentences": q_pack_sentences,
    "worst_window_quality": q_worst_window_quality,
    "source_dup_ratio": q_source_dup_ratio,
    "script_purity": q_script_purity,
}


def _custom_oracles() -> dict[str, str]:
    oracle_dir = _ensure_crawl_oracle()
    return {
        "kmeans_clusters": sql_kmeans("duckdb"),
        "warc_revisit": sql_warc_revisit("duckdb"),
        "wet_roundtrip": sql_wet_roundtrip("duckdb"),
        "surt_keys": sql_surt_keys("duckdb"),
        "warc_roundtrip": sql_warc_roundtrip("duckdb"),
        "simhash": sql_simhash("duckdb"),
        "simhash_near_pairs": sql_simhash_near_pairs("duckdb"),
        # the DF LSH candidate set equals the band-pair SQL's (xxhash64
        # band bucketing adds only hash collisions, absent here)
        "minhash_lsh_df": sql_minhash_band_pairs("duckdb"),
        "dedup_clusters": sql_dedup_clusters("duckdb"),
        "embedding_lsh_topk": sql_embedding_lsh_topk("duckdb"),
        "embedding_ivf_topk": sql_embedding_ivf_topk("duckdb"),
        "rolling_fingerprints": sql_rolling_fp("duckdb"),
        "duplicate_passages": sql_duplicate_passages("duckdb"),
        "decontamination": sql_decontamination("duckdb"),
        "embedding_near_dup": sql_embedding_near_dup("duckdb"),
        "pagerank": sql_pagerank("duckdb"),
        "hits": sql_hits("duckdb"),
        "stratified_sample": sql_stratified_sample("duckdb"),
        "hash_sample": sql_hash_sample("duckdb"),
        "bigram_lm_score": sql_bigram_lm_score("duckdb"),
        "corpus_materialize": sql_corpus_materialize("duckdb"),
        "repetition_metrics": sql_repetition_metrics("duckdb"),
        "media_features": sql_media_features("duckdb"),
        "media_phash_pairs": sql_media_phash_pairs("duckdb"),
        "audio_fingerprints": sql_audio_fingerprints("duckdb"),
        "audio_near_dup": sql_audio_near_dup("duckdb"),
        "media_resize": sql_media_resize("duckdb"),
        "bpe_merges": sql_bpe_merges("duckdb"),
        "bpe_token_counts": sql_bpe_token_counts("duckdb"),
        "bpe_vocab": sql_bpe_vocab("duckdb"),
        "mixing_weights": sql_mixing_weights("duckdb"),
        "media_frame_sample": sql_media_frame_sample("duckdb"),
        "sitemap_candidates": sql_sitemap_candidates("duckdb"),
        "tfidf_topk": sql_tfidf_topk("duckdb"),
        "host_state_fold": sql_host_state_fold_oracle(),
        "state_lookup_index": sql_state_lookup_oracle(),
        "chunk_dedup": sql_chunk_dedup("duckdb"),
        "bm25_topk": sql_bm25_topk("duckdb"),
        "event_sessions": sql_event_sessions("duckdb"),
        "dsir_weights": sql_dsir_weights("duckdb"),
        "source_quality": sql_source_quality("duckdb"),
        "host_graph": sql_host_graph("duckdb"),
        "event_window_rollup": sql_event_window_rollup("duckdb"),
        "value_percentiles": sql_value_percentiles("duckdb"),
        "weighted_host_pagerank": sql_weighted_host_pagerank("duckdb"),
        "bigram_pmi": sql_bigram_pmi("duckdb"),
        "zipf_table": sql_zipf_table("duckdb"),
        "url_templates": sql_url_templates("duckdb"),
        "recrawl_priority": sql_recrawl_priority("duckdb"),
        "shard_pack": sql_shard_pack("duckdb"),
        "quality_deciles": sql_quality_deciles("duckdb"),
        "token_budget_selection": sql_token_budget_selection("duckdb"),
        "minhash_calibration": sql_minhash_calibration("duckdb"),
        "pii_scrub": sql_pii_scrub("duckdb"),
        "anchor_texts": (
            "SELECT dst, count(*) AS n_anchors, count(DISTINCT src) AS n_sources, "
            "min(anchor) AS sample_anchor "
            f"FROM read_parquet('{_ensure_entry_fixtures()['golden_anchors']}') "
            "GROUP BY dst"
        ),
        "site_boilerplate": sql_site_boilerplate("duckdb"),
        "normalize_text": sql_normalize_text("duckdb"),
        "gopher_quality": sql_gopher_quality("duckdb"),
        "c4_line_filter": sql_c4_line_filter("duckdb"),
        "paragraph_dedup": sql_paragraph_dedup("duckdb"),
        "hashed_quality_score": sql_hashed_quality_score("duckdb"),
        "exact_substring_dedup": sql_exact_substring_dedup("duckdb"),
        "weighted_sample": sql_weighted_sample("duckdb"),
        "pack_sequences": sql_pack_sequences("duckdb"),
        "semdedup": sql_semdedup("duckdb"),
        "trigram_backoff": sql_trigram_backoff("duckdb"),
        "incremental_neardup": sql_incremental_neardup("duckdb"),
        "snapshot_diff": sql_snapshot_diff("duckdb"),
        "readability": sql_readability("duckdb"),
        "dedup_keep_best": sql_dedup_keep_best("duckdb"),
        "embedding_quantized_topk": sql_embedding_quantized_topk("duckdb"),
        "cluster_safe_split": sql_cluster_safe_split("duckdb"),
        "decontaminate_spans": sql_decontaminate_spans("duckdb"),
        "corpus_drift": sql_corpus_drift("duckdb"),
        "change_rate_priority": sql_change_rate_priority("duckdb"),
        "ngram_containment": sql_ngram_containment("duckdb"),
        "corpus_data_card": sql_corpus_data_card("duckdb"),
        "pack_sentences": sql_pack_sentences("duckdb"),
        "worst_window_quality": sql_worst_window_quality("duckdb"),
        "source_dup_ratio": sql_source_dup_ratio("duckdb"),
        "script_purity": sql_script_purity("duckdb"),
        "url_canonical_dedup": sql_url_canonical_dedup("duckdb"),
        "crawl_round": (
            "SELECT url, host, fetched_round, status, n_links "
            f"FROM read_parquet('{oracle_dir}/crawl_results.parquet')"
        ),
        "crawl_order": (
            "SELECT round, host, admission_index, url "
            f"FROM read_parquet('{oracle_dir}/crawl_order.parquet')"
        ),
        "crawl_seen": (
            "SELECT url, kind, is_seed, depth_on_website, distance_to_seed, "
            "total_distance_to_seed "
            f"FROM read_parquet('{oracle_dir}/crawl_seen.parquet')"
        ),
    }


# The driver samples a prefix of queries() each round (50 of 103 in
# r5). Round-6 rotation (VERDICT r5 "Next round" #1 + optimization-
# round hygiene): lead with the flagship crawl-engine queries — their
# last driver rows are from round 3 and round 6 touched the hot paths
# they exercise — then the queries whose EXECUTION this optimization
# round changed (plan rewrites, DF-API spark sides, kernel
# vectorization), then operators whose latest driver row is r4. Every
# registered query stays gated row-for-row against the same oracles by
# tests/test_entry_contract.py regardless of sampling order.
_DRIVER_PRIORITY = [
    # flagship crawl engine (last sampled r3; hot path rewritten r5/r6)
    "crawl_round", "crawl_order", "crawl_seen", "sitemap_candidates",
    "tfidf_topk",
    # execution changed in round 6 — plan/kernel rewrites
    "minhash_band_pairs", "dedup_ngram_jaccard", "dedup_clusters",
    "minhash_lsh_df", "minhash_calibration", "dedup_keep_best",
    "cluster_safe_split", "source_dup_ratio", "ngram_containment",
    "repetition_metrics", "rolling_fingerprints", "duplicate_passages",
    "decontamination", "pagerank", "hits", "weighted_host_pagerank",
    "kmeans_clusters", "semdedup", "warc_roundtrip", "warc_revisit",
    "wet_roundtrip", "surt_keys", "media_features", "media_resize",
    "media_frame_sample", "media_phash_pairs", "audio_fingerprints",
    "audio_near_dup", "corpus_materialize", "simhash",
    "simhash_near_pairs", "chunk_dedup",
    # latest driver row r4, oldest operator families first
    "queue_age_filter", "blacklist_regex_filter", "state_counters",
    "budget_predicate", "text_quality", "doc_fingerprint",
    "lang_id_markers", "token_count_nostop", "bpe_merges", "bpe_vocab",
    "mixing_weights", "stratified_sample", "hash_sample",
    "embedding_lsh_topk",
]


def _prioritized(d: dict) -> dict:
    lead = {k: d[k] for k in _DRIVER_PRIORITY if k in d}
    lead.update({k: v for k, v in d.items() if k not in lead})
    return lead


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        name: _make_sql_query(name) for name in _SQL_OPS
    }
    out.update(_CUSTOM_QUERIES)
    return _prioritized(out)


def oracle_sql() -> dict[str, str]:
    out = {name: fn("duckdb") for name, fn in _SQL_OPS.items()}
    out.update(_custom_oracles())
    return _prioritized(out)
