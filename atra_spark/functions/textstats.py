"""Text-analysis operators for training-data curation: language ID,
quality scoring, token counting, fingerprinting, tokenization.

All JVM column expressions except the tokenizer (Arrow-batched), so
they run inside whole-stage codegen on a 100 TB documents table.
Mirrors the reference text pipeline (text_processing/src/tokenizer.rs:
26-95 — NFC normalize, unicode words, stopword filter, lowercase) with
each scalar op exposed as a reusable column function.
"""

from __future__ import annotations

import unicodedata

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, StringType

from .langdata import MARKERS

# ---------------------------------------------------------------------------
# token counting / quality metrics — pure column math
# ---------------------------------------------------------------------------
def token_count_col(text: F.Column) -> F.Column:
    return F.size(F.split(F.trim(text), r"\s+")).cast("long")


def quality_metrics(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Length/punct/space-ratio quality features per document."""
    t = F.col(text_col)
    no_space = F.length(F.regexp_replace(t, r"\s", ""))
    n_tok = token_count_col(t)
    n_punct = F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    n_digit = F.length(t) - F.length(F.regexp_replace(t, r"[0-9]", ""))
    return df.select(
        F.col(id_col).alias("id"),
        F.length(t).cast("long").alias("n_chars"),
        n_tok.alias("n_tokens"),
        (no_space / F.greatest(n_tok, F.lit(1))).alias("mean_token_len"),
        ((F.length(t) - no_space) / F.greatest(F.length(t), F.lit(1))).alias("space_ratio"),
        (n_punct / F.greatest(F.length(t), F.lit(1))).alias("punct_ratio"),
        (n_digit / F.greatest(F.length(t), F.lit(1))).alias("digit_ratio"),
    )


def repetition_metrics(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021, appendix A —
    the classic web-corpus quality filters): fraction of duplicate
    lines, fraction of characters inside duplicate lines, and the
    share of the most frequent word bigram.

    ZERO-shuffle spelling: every signal is a pure per-document
    statistic, so instead of explode + two groupBys per family (four
    exchanges on doc_id, the round-4 plan), each document sorts its
    own line/bigram array and folds run lengths with a JVM
    higher-order ``aggregate`` — the whole operator is one map-only
    Project, text never leaves its scan task. Results are exact
    integer counts, so the SQL twin (which still spells it
    relationally) matches bit-for-bit.

    Output: (doc_id, dup_line_frac, dup_line_char_frac,
    top_bigram_frac), HALF_UP-rounded to 4dp like every fractional
    driver query."""
    rnd = lambda c: F.floor(c * 10000 + 0.5 + 1e-6).cast("double") / 10000

    from .par import fan_out

    def run_fold(arr: F.Column, with_chars: bool) -> F.Column:
        """Fold a SORTED array into (n_distinct, dupchars, totchars,
        maxrun) via linear run-length scan."""
        init = F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("runlen"),
            F.lit(0).cast("long").alias("n_distinct"),
            F.lit(0).cast("long").alias("dupchars"),
            F.lit(0).cast("long").alias("totchars"),
            F.lit(0).cast("long").alias("maxrun"),
        )

        def merge(acc: F.Column, x: F.Column) -> F.Column:
            same = x.eqNullSafe(acc["prev"])
            ln = F.length(x).cast("long") if with_chars else F.lit(0).cast("long")
            runlen = F.when(same, acc["runlen"] + 1).otherwise(F.lit(1).cast("long"))
            # when a run reaches 2, its first element joins the
            # duplicate-char mass retroactively
            dup_add = F.when(
                same, ln + F.when(acc["runlen"] == 1, ln).otherwise(F.lit(0).cast("long"))
            ).otherwise(F.lit(0).cast("long"))
            return F.struct(
                x.alias("prev"),
                runlen.alias("runlen"),
                F.when(same, acc["n_distinct"])
                .otherwise(acc["n_distinct"] + 1)
                .alias("n_distinct"),
                (acc["dupchars"] + dup_add).alias("dupchars"),
                (acc["totchars"] + ln).alias("totchars"),
                F.greatest(acc["maxrun"], runlen).alias("maxrun"),
            )

        return F.aggregate(F.array_sort(arr), init, merge)

    # lines/tokens materialize as columns FIRST (round 6): inlined, the
    # interpreted higher-order transform re-ran split+lower+filter for
    # EVERY bigram element — O(tokens^2) per document — and each fold's
    # second reference re-split the text again.
    lines_arr = F.filter(
        F.split(F.col(text_col), "\n"), lambda x: F.trim(x) != ""
    )
    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"), lambda x: x != ""
    )
    staged = fan_out(df).select(
        F.col(id_col).alias("doc_id"),
        lines_arr.alias("_lines"),
        toks.alias("_toks"),
    )
    tk = F.col("_toks")
    bigs_arr = F.when(
        F.size(tk) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(tk) - 2),
            lambda i: F.concat_ws(" ", F.get(tk, i), F.get(tk, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # _bigs materialized too: the fold and the count below both read it
    staged = staged.select("doc_id", "_lines", bigs_arr.alias("_bigs"))

    lf = run_fold(F.col("_lines"), with_chars=True)
    bf = run_fold(F.col("_bigs"), with_chars=False)
    n_lines = F.size("_lines").cast("long")
    n_bigs = F.size("_bigs").cast("long")

    return staged.select(
        "doc_id",
        lf.alias("_lf"),
        bf.alias("_bf"),
        n_lines.alias("_nl"),
        n_bigs.alias("_nb"),
    ).select(
        "doc_id",
        rnd(
            F.when(
                F.col("_nl") > 0, 1.0 - F.col("_lf.n_distinct") / F.col("_nl")
            ).otherwise(F.lit(0.0))
        ).alias("dup_line_frac"),
        rnd(
            F.when(
                F.col("_lf.totchars") > 0,
                F.col("_lf.dupchars") / F.col("_lf.totchars"),
            ).otherwise(F.lit(0.0))
        ).alias("dup_line_char_frac"),
        rnd(
            F.when(
                F.col("_nb") > 0, F.col("_bf.maxrun") / F.col("_nb")
            ).otherwise(F.lit(0.0))
        ).alias("top_bigram_frac"),
    )


# ---------------------------------------------------------------------------
# language ID: marker-word counting, JVM-side (the vectorized-Python
# variant lives in langdata.detect_lang and runs inside extraction)
# ---------------------------------------------------------------------------
def lang_scores(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-language marker-hit counts + argmax language column."""
    padded = F.concat(F.lit(" "), F.lower(F.col(text_col)), F.lit(" "))
    out_cols = [F.col(id_col).alias("id")]
    score_cols = []
    for lang, words in MARKERS.items():
        score = F.lit(0)
        for w in words[:4]:  # 4 markers/language suffice for the argmax
            score = score + (
                (F.length(padded) - F.length(F.replace(padded, F.lit(f" {w} "), F.lit("  "))))
                / len(w)
            ).cast("long")
        score_cols.append(score.alias(f"score_{lang}"))
    best = None
    for lang in MARKERS:
        c = F.col(f"score_{lang}")
        best = c if best is None else F.greatest(best, c)
    lang_expr = F.lit("und")
    for lang in reversed(list(MARKERS)):
        lang_expr = F.when(
            (F.col(f"score_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(lang_expr)
    return df.select(*out_cols, *score_cols).select(
        "id", *[f"score_{lang}" for lang in MARKERS], lang_expr.alias("lang")
    )


# ---------------------------------------------------------------------------
# tokenizer — the reference pipeline (text_processing/src/tokenizer.rs:
# 50-81): NFC normalize -> unicode words -> stopword filter -> Snowball
# stem -> lowercase. The default stopword set stays the compact marker
# list (the oracle SQL embeds it); `stopwords="snowball"` selects the
# published Snowball stopword lists per language, `stemmer=` the
# pure-Python Snowball stemmers (functions/stemmer.py).
# ---------------------------------------------------------------------------
_STOPWORDS = {w for words in MARKERS.values() for w in words}

import re as _re

# Python re's \w excludes combining marks (categories Mn/Mc/Me), which
# fragments Brahmic-script words (Tamil/Devanagari vowel signs) into
# useless shards and silently defeats stopword matching for those
# languages. Let a token CONTINUE through marks (it still must start on
# a word char), which leaves ASCII/Latin tokenization byte-identical —
# so the DuckDB oracle twins (whitespace/\w splits over ASCII fixtures)
# are unaffected. Marks live below U+3000 for every living script we
# profile (langdata.py); the scan is ~12k category() calls at import.
_COMBINING_MARKS = "".join(
    chr(c) for c in range(0x3000) if unicodedata.category(chr(c)).startswith("M")
)
_WORD_RE = _re.compile(rf"\w[\w{_re.escape(_COMBINING_MARKS)}]*", _re.UNICODE)


def tokenize(
    text: str,
    remove_stopwords: bool = True,
    stopwords: str = "markers",
    stemmer: str | None = None,
) -> list[str]:
    """Pure-Python kernel (used inside the Arrow UDF + tests).

    ``stopwords``: "markers" (default, compact oracle-friendly list) or
    "snowball" (published Snowball list for ``stemmer``'s language,
    English when unset). ``stemmer``: None | "english" | "german".
    """
    if not text:
        return []
    norm = unicodedata.normalize("NFC", text)
    toks = [t.lower() for t in _WORD_RE.findall(norm)]
    if remove_stopwords:
        if stopwords == "snowball":
            from .stemmer import SNOWBALL_STOPWORDS

            stop = SNOWBALL_STOPWORDS.get((stemmer or "english").lower(), _STOPWORDS)
        else:
            stop = _STOPWORDS
        toks = [t for t in toks if t not in stop]
    if stemmer is not None:
        from .stemmer import get_stemmer

        stem = get_stemmer(stemmer)
        toks = [stem(t) for t in toks]
    return toks


@F.pandas_udf(ArrayType(StringType()))
def tokenize_udf(texts: pd.Series) -> pd.Series:
    return texts.map(lambda t: tokenize(t) if t is not None else [])


def rolling_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", window: int = 8
) -> DataFrame:
    """Winnowing-style document fingerprints: hash of every ``window``-
    token shingle, keep per-doc minima per 64-bucket — a compact
    rolling-hash sketch for containment detection.

    ZERO-shuffle spelling (round 5): the per-bucket minima are a pure
    per-document statistic, so each row sorts its (bucket, hash) pairs
    and keeps the bucket-run heads — only the <= 64-entry sketch
    explodes, never the grams (the round-4 plan exploded every gram
    and paid a (id, bucket) groupBy exchange on all of them).

    The gram hash is the engine-wide 60-bit md5 prefix (so the DuckDB
    oracle computes the identical sketch); swap in F.xxhash64 when
    oracle parity is not needed and per-byte hash cost matters."""
    from .dedup import content_hash
    from .par import fan_out

    # token array materialized first (round 6): with split inlined in
    # the gram lambda, interpreted HOF evaluation re-ran
    # split+lower+trim per gram — O(tokens^2) per document
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    staged0 = fan_out(df).select(F.col(id_col).alias("id"), toks.alias("_toks"))
    n = F.size("_toks")
    idx = F.when(n >= window, F.sequence(F.lit(1), n - (window - 1))).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(
        idx, lambda i: content_hash(F.concat_ws(" ", F.slice("_toks", i, window)))
    )
    pairs = F.array_sort(
        F.transform(
            grams,
            lambda g: F.struct(
                F.pmod(g, F.lit(64)).cast("int").alias("bucket"), g.alias("fp")
            ),
        )
    )
    staged = staged0.select("id", pairs.alias("_pairs"))
    # sorted by (bucket, fp): each bucket run's FIRST element is that
    # bucket's minimum — filter with the index lambda (element_at is
    # 1-based, so element_at(_pairs, i) is the 0-based predecessor)
    mins = F.filter(
        F.col("_pairs"),
        lambda x, i: (i == F.lit(0))
        | (F.element_at(F.col("_pairs"), i)["bucket"] != x["bucket"]),
    )
    return staged.select("id", F.explode(mins).alias("_m")).select(
        "id",
        F.col("_m.bucket").alias("bucket"),
        F.col("_m.fp").alias("fp"),
    )


def duplicate_passage_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    min_shared: int = 2,
    max_fp_docs: int = 64,
) -> DataFrame:
    """Cross-document duplicated-passage candidates: document pairs
    sharing >= ``min_shared`` winnowing fingerprints (i.e. near-exact
    ``window``-token passages appearing in both documents) — the
    containment-detection pass a training-data pipeline runs to catch
    copied boilerplate/passages that whole-document dedup (minhash,
    simhash) misses.

    100 TB plan: one shuffle keyed on the fingerprint value, map-side
    combined; quadratic blowup from boilerplate fingerprints shared by
    everything is bounded by ``max_fp_docs`` — fingerprints whose
    document frequency exceeds it are dropped consistently and the
    drop is logged (same hot-key guard as ngram_jaccard_pairs).
    Returns (id_a, id_b, shared_fps) with id_a < id_b.
    """
    # pinned (lazy localCheckpoint): the hot-fingerprint probe below
    # materializes this relation, and the pair join then reads it on
    # BOTH sides instead of re-running the fingerprint fold three
    # times (round 6; finalization computes any partitions the probe's
    # limit short-circuited)
    fps = (
        rolling_fingerprints(df, text_col=text_col, id_col=id_col, window=window)
        .select("id", "fp")
        .distinct()
        .localCheckpoint(eager=False)
    )
    freq = fps.groupBy("fp").agg(F.count("*").alias("docfreq"))
    hot_cond = F.col("docfreq") > max_fp_docs
    # boilerplate fingerprints are rare by construction (shared by >
    # max_fp_docs documents), so the common case collects the small
    # literal set to the driver — no cache to leak across calls in a
    # long-lived session (ADVICE r3), no extra join in the plan. A
    # pathological corpus with more hot fps than the literal cap falls
    # back to a broadcast anti-join (freq recomputed lazily — one extra
    # map-side-combined aggregation, still never cached).
    _HOT_LITERAL_CAP = 10_000
    hot_head = freq.filter(hot_cond).select("fp").limit(_HOT_LITERAL_CAP + 1).collect()
    if hot_head:
        import logging

        logging.getLogger(__name__).warning(
            "duplicate_passage_pairs: dropping %s boilerplate fingerprints "
            "with document frequency > %d (quadratic-blowup guard)",
            len(hot_head) if len(hot_head) <= _HOT_LITERAL_CAP else f">{_HOT_LITERAL_CAP}",
            max_fp_docs,
        )
        if len(hot_head) <= _HOT_LITERAL_CAP:
            fps = fps.filter(~F.col("fp").isin([r["fp"] for r in hot_head]))
        else:
            fps = fps.join(
                F.broadcast(freq.filter(hot_cond).select("fp")), on="fp", how="left_anti"
            )
    a = fps.select("fp", F.col("id").alias("id_a"))
    b = fps.select("fp", F.col("id").alias("id_b"))
    return (
        a.join(b, on="fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.countDistinct("fp").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def decontamination_overlap(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    min_shared: int = 2,
    max_fp_docs: int = 64,
) -> DataFrame:
    """Training-data decontamination: flag TRAIN documents that share
    >= ``min_shared`` winnowing fingerprints (near-exact ``window``-
    token passages) with ANY document in the eval/benchmark set — the
    pass a training pipeline runs before training so benchmark text
    does not leak into the corpus (the same n-gram-overlap rule the
    GPT-3/PaLM/Llama data cards describe).

    Returns (id, shared_fps): the contaminated train doc ids with the
    number of distinct benchmark fingerprints they contain.

    100 TB plan: the benchmark side is SMALL by definition (a few
    thousand eval documents vs billions of train docs), so its distinct
    fingerprint set is broadcast — the train relation is filtered by a
    broadcast hash semi-join with NO shuffle of the corpus; only the
    (tiny) surviving hit set shuffles for the per-doc count.
    Boilerplate fingerprints (document frequency > ``max_fp_docs``
    across train+eval) are dropped with the same literal-set guard as
    ``duplicate_passage_pairs`` — a fingerprint shared by everything is
    boilerplate, not contamination, and would otherwise flag the whole
    corpus.
    """
    # pinned (lazy localCheckpoint): the hot-fingerprint probe below
    # materializes both relations, and the final semi-join reuses them
    # instead of re-running the fingerprint folds (round 6)
    tf = (
        rolling_fingerprints(train, text_col=text_col, id_col=id_col, window=window)
        .select("id", "fp")
        .distinct()
        .localCheckpoint(eager=False)
    )
    ef = (
        rolling_fingerprints(eval_df, text_col=text_col, id_col=id_col, window=window)
        .select("id", "fp")
        .distinct()
        .localCheckpoint(eager=False)
    )
    freq = tf.unionByName(ef).groupBy("fp").agg(F.count("*").alias("docfreq"))
    hot_cond = F.col("docfreq") > max_fp_docs
    _HOT_LITERAL_CAP = 10_000
    hot_head = freq.filter(hot_cond).select("fp").limit(_HOT_LITERAL_CAP + 1).collect()
    if hot_head:
        import logging

        logging.getLogger(__name__).warning(
            "decontamination_overlap: dropping %s boilerplate fingerprints "
            "with document frequency > %d",
            len(hot_head) if len(hot_head) <= _HOT_LITERAL_CAP else f">{_HOT_LITERAL_CAP}",
            max_fp_docs,
        )
        if len(hot_head) <= _HOT_LITERAL_CAP:
            hot_vals = [r["fp"] for r in hot_head]
            tf = tf.filter(~F.col("fp").isin(hot_vals))
            ef = ef.filter(~F.col("fp").isin(hot_vals))
        else:
            hot_df = freq.filter(hot_cond).select("fp")
            tf = tf.join(F.broadcast(hot_df), on="fp", how="left_anti")
            ef = ef.join(F.broadcast(hot_df), on="fp", how="left_anti")
    bench_fps = ef.select("fp").distinct()
    return (
        tf.join(F.broadcast(bench_fps), on="fp")
        .groupBy("id")
        .agg(F.countDistinct("fp").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def bigram_lm_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    add_k: float = 0.5,
) -> DataFrame:
    """Corpus-self-trained bigram language-model score per document —
    the perplexity-style quality filter (CCNet's KenLM pass) without an
    external model: train add-k-smoothed bigram statistics ON the
    corpus, score each document by its mean token log-probability.
    Outlier documents (gibberish, boilerplate soups, wrong-tokenizer
    text) score far below the corpus mode and get filtered.

    score(doc) = mean over bigram positions of
        ln((c(prev,cur) + k) / (c(prev,*) + k*V))
    with V = corpus vocabulary size. Documents with < 2 tokens have no
    bigrams and are absent from the output. Everything is JVM column
    math + two aggregations; the LM "tables" are just count relations.

    100 TB plan: counts are map-side-combined groupBys keyed on the
    bigram; scoring joins the occurrence relation back to the count
    relations on the same key (one shuffle each). For repeated scoring
    runs, persist the two count relations and broadcast the top-K
    vocabulary slice; rare-bigram smoothing makes pruned tails a
    bounded perturbation.
    """
    from .par import fan_out

    toks_arr = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    # fan_out: the bigram explode feeding three map-side-combined
    # aggregations otherwise runs on the scan's split count — ONE task
    # for a small single-file corpus (round 6)
    base = fan_out(df).select(F.col(id_col).alias("id"), toks_arr.alias("toks"))
    n = F.size("toks")
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice("toks", 1, n - 1),
            F.slice("toks", 2, n - 1),
            lambda a, b: F.struct(a.alias("prev"), b.alias("cur")),
        ),
    ).otherwise(F.array().cast("array<struct<prev:string,cur:string>>"))
    pairs = (
        base.select("id", F.explode(bigrams).alias("b"))
        .select("id", F.col("b.prev").alias("prev"), F.col("b.cur").alias("cur"))
    )
    bigram_c = pairs.groupBy("prev", "cur").agg(F.count("*").alias("bc"))
    prefix_c = pairs.groupBy("prev").agg(F.count("*").alias("pc"))
    vocab = (
        base.select(F.explode("toks").alias("tok"))
        .agg(F.countDistinct("tok").cast("double").alias("v"))
    )
    k = float(add_k)
    return (
        pairs.join(bigram_c, on=["prev", "cur"])
        .join(prefix_c, on="prev")
        .crossJoin(F.broadcast(vocab))
        .select(
            "id",
            F.log(
                (F.col("bc") + F.lit(k)) / (F.col("pc") + F.lit(k) * F.col("v"))
            ).alias("lp"),
        )
        .groupBy("id")
        .agg(F.avg("lp").alias("lm_logprob"))
    )


_SCRIPTS = ["Latin", "Cyrillic", "Greek", "Han", "Arabic"]


def script_purity(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Unicode-script mix per document: character counts for the five
    major scripts plus ``script_purity`` = dominant-script share of
    all script-classified characters. Mixed-script text (Cyrillic
    homoglyphs inside Latin words — the classic phishing/SEO-spam
    obfuscation, and a strong wrong-encoding signal) scores well below
    1; monoscript text scores 1. Docs with zero script characters
    (digits/punctuation only) report purity 1.

    Pure JVM regexp count math (``\\p{IsXxx}`` character classes),
    zero shuffles — the same whole-stage-codegen posture as
    ``quality_metrics``."""
    t = F.col(text_col)
    counts = {
        s: (F.length(t) - F.length(F.regexp_replace(t, rf"\p{{Is{s}}}", "")))
        .cast("long")
        for s in _SCRIPTS
    }
    total = sum(counts.values())
    dominant = F.greatest(*counts.values())
    purity = F.when(total > 0, dominant / total).otherwise(F.lit(1.0))
    rnd6 = lambda c: F.floor(c * 1000000 + 0.5 + 1e-6).cast("double") / 1000000  # noqa: E731
    return df.select(
        F.col(id_col).alias("id"),
        *[counts[s].alias(f"n_{s.lower()}") for s in _SCRIPTS],
        rnd6(purity).alias("script_purity"),
    )


def worst_window_quality(
    df: DataFrame,
    window: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    add_k: float = 0.5,
) -> DataFrame:
    """Per-document WORST sliding-window LM score: the span-level
    quality signal a doc-level mean hides — a mostly-fluent page with
    one embedded spam/gibberish section scores fine on
    ``bigram_lm_score`` but its worst ``window``-bigram window exposes
    the section (and where it starts).

    Model: the identical corpus-self-trained add-k bigram statistics
    as ``bigram_lm_score``; score = mean token ln-probability over
    each full window of ``window`` consecutive bigram positions;
    election = minimum (1e-6-rounded) window score, ties to the
    earliest start.

    Returns (doc_id, worst_start, worst_logprob); documents with
    fewer than ``window`` bigram positions are absent.

    100 TB plan: the count-relation joins shuffle on the bigram key
    exactly like ``bigram_lm_score``; the sliding frame and the
    min-election share ONE doc-keyed exchange."""
    from pyspark.sql import Window

    from .par import fan_out

    toks_arr = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    base = fan_out(df).select(F.col(id_col).alias("id"), toks_arr.alias("toks"))
    n = F.size("toks")
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice("toks", 1, n - 1),
            F.slice("toks", 2, n - 1),
            lambda a, b: F.struct(a.alias("prev"), b.alias("cur")),
        ),
    ).otherwise(F.array().cast("array<struct<prev:string,cur:string>>"))
    pairs = base.select("id", F.posexplode(bigrams).alias("pos", "b")).select(
        "id", "pos", F.col("b.prev").alias("prev"), F.col("b.cur").alias("cur")
    )
    bigram_c = pairs.groupBy("prev", "cur").agg(F.count("*").alias("bc"))
    prefix_c = pairs.groupBy("prev").agg(F.count("*").alias("pc"))
    vocab = base.select(F.explode("toks").alias("tok")).agg(
        F.countDistinct("tok").cast("double").alias("v")
    )
    k = float(add_k)
    scored = (
        pairs.join(bigram_c, on=["prev", "cur"])
        .join(prefix_c, on="prev")
        .crossJoin(F.broadcast(vocab))
        .select(
            "id", "pos",
            F.log(
                (F.col("bc") + F.lit(k)) / (F.col("pc") + F.lit(k) * F.col("v"))
            ).alias("lp"),
        )
    )
    frame = Window.partitionBy("id").orderBy("pos").rowsBetween(0, window - 1)
    rnd6 = lambda c: F.floor(c * 1000000 + 0.5 + 1e-6).cast("double") / 1000000  # noqa: E731
    windows = scored.select(
        "id", "pos",
        rnd6(F.avg("lp").over(frame)).alias("w_lp"),
        F.count("lp").over(frame).alias("w_n"),
    ).filter(F.col("w_n") == window)
    pick = Window.partitionBy("id").orderBy(F.col("w_lp").asc(), F.col("pos").asc())
    return (
        windows.withColumn("_rn", F.row_number().over(pick))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("id").alias(id_col),
            F.col("pos").cast("long").alias("worst_start"),
            F.col("w_lp").alias("worst_logprob"),
        )
    )


def decontaminate_spans(
    df: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    window: int = 8,
) -> DataFrame:
    """SPAN-level benchmark decontamination: excise every
    ``window``-token span of a corpus document that appears verbatim
    in the benchmark suite, keeping the clean remainder — the
    span-surgery upgrade of the doc-level ``decontamination`` flag
    (drop the contamination, not the document; the n-gram-overlap
    removal GPT-3/PaLM-style data cards describe).

    Overlapping contaminated windows compose into maximal excised
    regions, exactly like ``exact_substring_dedup``'s duplicated-span
    machinery — same token convention, same 60-bit gram hash, same
    covered-index union + ordered reassembly — but the span test is
    membership in the BENCHMARK's gram set instead of a corpus-wide
    keep-first election.

    Returns (doc_id, n_tokens, n_removed, clean_text); every input doc
    appears. NOTE (ADVICE r5): ``clean_text`` is reassembled from the
    LOWERCASED, whitespace-collapsed token stream the gram hashes use,
    so casing/original whitespace are folded for every document — docs
    shorter than ``window`` keep all their (lowercased) tokens, not
    their original byte form.

    100 TB plan: the benchmark gram set is tiny (benchmarks are MBs)
    and BROADCASTS — the corpus-side semi-join is map-side, no corpus
    shuffle for the span test (plan-pinned); corpus tokens shuffle
    exactly once, for the per-doc ordered reassembly.
    """
    from .dedup import content_hash  # local import to avoid cycle at module load

    w = int(window)

    def _prep(d: DataFrame, id_expr, tcol: str) -> DataFrame:
        toks = F.filter(
            F.split(F.lower(F.trim(F.col(tcol))), r"\s+"), lambda t: t != F.lit("")
        )
        return d.select(id_expr.alias("id"), toks.alias("toks"))

    base = _prep(df, F.col(id_col), text_col)
    gram_idx = F.when(
        F.size("toks") >= w, F.sequence(F.lit(0), F.size("toks") - w)
    ).otherwise(F.array().cast("array<int>"))

    def _grams(b: DataFrame) -> DataFrame:
        return b.select("id", F.explode(gram_idx).alias("pos"), F.col("toks")).select(
            "id",
            "pos",
            content_hash(
                F.concat_ws(" ", F.slice("toks", F.col("pos") + 1, w))
            ).alias("g"),
        )

    bench_g = (
        _grams(_prep(bench, F.lit(0), bench_text_col)).select("g").distinct()
    )
    contaminated = (
        _grams(base).join(F.broadcast(bench_g), on="g", how="leftsemi")
        .select("id", "pos")
    )
    removal = contaminated.select(
        "id", F.explode(F.sequence(F.col("pos"), F.col("pos") + (w - 1))).alias("idx")
    ).distinct()
    tokens = base.select("id", F.posexplode("toks").alias("idx", "tok"))
    flagged = tokens.join(removal.withColumn("rm", F.lit(True)), ["id", "idx"], "left")
    out = flagged.groupBy("id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.coalesce(F.col("rm"), F.lit(False)).cast("int")).alias("n_removed"),
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.when(F.col("rm").isNull(), F.struct(F.col("idx"), F.col("tok")))
                    )
                ),
                lambda s: s["tok"],
            ),
        ).alias("clean_text"),
    )
    return (
        base.select("id")
        .join(out, on="id", how="left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce(F.col("n_removed"), F.lit(0)).cast("long").alias("n_removed"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


def pack_sentences(
    df: DataFrame,
    block: int = 512,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Chunk each document into ~``block``-token training chunks that
    break at SENTENCE boundaries — the semantic-boundary complement of
    ``prefix.pack_sequences`` (which hard-splits the global token
    stream mid-sentence): RAG/embedding corpora want chunks that end
    where sentences end.

    Sentence rule (engine-portable, no lookbehind — RE2-safe for the
    oracle): a sentence ends AT a whitespace token whose last char is
    ``.!?``. Chunk rule: a sentence belongs to
    ``chunk = floor(tokens_before_its_start / block)`` — the standard
    approximation: a sentence straddling a boundary stays whole in the
    chunk where it starts, so chunks can overflow by at most one
    sentence tail (never split a sentence; documented trade).

    Returns (doc_id, chunk_id, n_tokens, chunk_text); docs chunk
    independently (no cross-doc state).

    100 TB plan: ONE doc-keyed shuffle shared by the sentence-id
    window, the cumulative-start window, and the reassembly groupBy —
    same-key windows chain without re-exchanging."""
    from pyspark.sql import Window

    from .par import fan_out

    toks = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != F.lit("")
    )
    tokens = fan_out(df).select(F.col(id_col).alias("id"), toks.alias("toks")).select(
        "id", F.posexplode("toks").alias("idx", "tok")
    )
    w_order = Window.partitionBy("id").orderBy("idx")
    ends_before = F.coalesce(
        F.sum(F.col("tok").rlike(r"[.!?]$").cast("int")).over(
            w_order.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    sent = tokens.withColumn("sent_id", ends_before)
    # tokens before each sentence's first token = min(idx) of the sentence
    starts = sent.groupBy("id", "sent_id").agg(F.min("idx").alias("start_idx"))
    chunked = sent.join(starts, on=["id", "sent_id"]).withColumn(
        "chunk_id", F.floor(F.col("start_idx") / F.lit(block)).cast("long")
    )
    return (
        chunked.groupBy(F.col("id").alias(id_col), "chunk_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct(F.col("idx"), F.col("tok")))
                    ),
                    lambda s: s["tok"],
                ),
            ).alias("chunk_text"),
        )
    )


def corpus_data_card(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    lang_col: str = "lang",
) -> DataFrame:
    """The per-(source, language) rollup a corpus release ships as its
    data card: document count, whitespace-token and character volumes,
    mean document length, and the cell's share of the corpus token
    budget — the table mixing weights are negotiated over.

    Returns (source, lang, n_docs, n_tokens, n_chars, avg_tokens,
    token_share), 1e-6 half-up rounding on the ratios.

    100 TB plan: ONE map-side-combined groupBy over cheap column math
    plus a 1-row broadcast total — the whole card is a single pass."""
    toks = F.size(F.split(F.trim(F.col(text_col)), r"\s+")).cast("long")
    per = df.groupBy(
        F.col(source_col).alias("source"), F.col(lang_col).alias("lang")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum(toks).alias("n_tokens"),
        F.sum(F.length(text_col).cast("long")).alias("n_chars"),
    )
    total = per.agg(F.sum("n_tokens").cast("double").alias("tot"))
    rnd6 = lambda c: F.floor(c * 1000000 + 0.5 + 1e-6).cast("double") / 1000000  # noqa: E731
    return per.crossJoin(F.broadcast(total)).select(
        "source", "lang", "n_docs", "n_tokens", "n_chars",
        rnd6(F.col("n_tokens") / F.col("n_docs")).alias("avg_tokens"),
        rnd6(F.col("n_tokens") / F.col("tot")).alias("token_share"),
    )


def corpus_drift(
    a: DataFrame,
    b: DataFrame,
    text_col: str = "text",
    min_count: int = 20,
) -> DataFrame:
    """Token-distribution drift between two corpora (e.g. last crawl
    vs this crawl, or corpus vs a target domain): per-token smoothed
    log-probability ratio ``ln(p_a / p_b)`` with add-one smoothing
    over the UNION vocabulary, for every token whose combined count
    reaches ``min_count``. Positive = over-represented in ``a``.
    Sorting by |log_ratio| surfaces what changed; summing
    ``p_a * log_ratio`` over all rows is the (smoothed) KL estimate.

    Returns (tok, cnt_a, cnt_b, log_ratio).

    100 TB plan: two map-side-combined token counts, one full-outer
    hash join on the token, two 1-row broadcast totals + a 1-row union
    vocab size — nothing wide ever shuffles.
    """

    def _counts(d: DataFrame, name: str) -> DataFrame:
        toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
        return (
            d.select(F.explode(toks).alias("tok"))
            .filter(F.col("tok") != "")
            .groupBy("tok")
            .agg(F.count("*").alias(name))
        )

    ca = _counts(a, "cnt_a")
    cb = _counts(b, "cnt_b")
    joined = ca.join(cb, on="tok", how="full_outer").select(
        "tok",
        F.coalesce(F.col("cnt_a"), F.lit(0)).alias("cnt_a"),
        F.coalesce(F.col("cnt_b"), F.lit(0)).alias("cnt_b"),
    )
    joined = joined.filter(F.col("cnt_a") + F.col("cnt_b") >= min_count)
    totals = (
        ca.agg(F.sum("cnt_a").cast("double").alias("tot_a"))
        .crossJoin(cb.agg(F.sum("cnt_b").cast("double").alias("tot_b")))
        .crossJoin(
            ca.select("tok").unionByName(cb.select("tok")).distinct()
            .agg(F.count("*").cast("double").alias("vocab"))
        )
    )
    out = joined.crossJoin(F.broadcast(totals))
    lr = F.log(
        ((F.col("cnt_a") + 1) / (F.col("tot_a") + F.col("vocab")))
        / ((F.col("cnt_b") + 1) / (F.col("tot_b") + F.col("vocab")))
    )
    return out.select(
        "tok", "cnt_a", "cnt_b",
        (F.floor(lr * 1000000 + 0.5 + 1e-6).cast("double") / 1000000).alias(
            "log_ratio"
        ),
    )


def readability_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Flesch reading-ease per document (Flesch 1948; a standard
    fluency gate in corpus curation alongside the Gopher/C4 rules):

        206.835 - 1.015 * words/sentences - 84.6 * syllables/words

    with the usual web-text approximations, chosen to be expressible
    identically in both engines: sentences = runs of ``[.!?]+``
    (floor 1), words = whitespace tokens, syllables per word = vowel
    groups ``[aeiouy]+`` in the lowercased token (floor 1 per word).

    Output: (doc_id, n_sentences, n_words, n_syllables, flesch).
    Empty/whitespace-only documents are absent (no words → undefined).

    100 TB plan: pure whole-stage JVM column math — regexp counts and
    one higher-order aggregate over the token array; zero shuffles,
    zero Python."""
    t = F.col(text_col)
    toks = F.split(F.trim(F.lower(t)), r"\s+")
    n_words = F.size(toks)
    n_sentences = F.greatest(
        F.size(F.regexp_extract_all(t, F.lit(r"[.!?]+"), 0)), F.lit(1)
    )
    syl = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, w: acc
        + F.greatest(
            F.size(F.regexp_extract_all(w, F.lit(r"[aeiouy]+"), 0)), F.lit(1)
        ).cast("long"),
    )
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * n_words / n_sentences
        - F.lit(84.6) * syl / n_words
    )
    return (
        df.filter(F.length(F.trim(t)) > 0)
        .select(
            F.col(id_col).alias("id"),
            n_sentences.cast("long").alias("n_sentences"),
            n_words.cast("long").alias("n_words"),
            syl.alias("n_syllables"),
            flesch.alias("flesch"),
        )
    )


def trigram_backoff_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.4,
    min_count: int = 2,
) -> DataFrame:
    """Corpus-self-trained trigram LM with Stupid Backoff (Brants et
    al. 2007) — the scalable spelling of CCNet's KenLM perplexity
    filter one order up from ``bigram_lm_score``:

        S(c|a,b) = tc(a,b,c)/bc(a,b)          if tc >= min_count
                 = alpha * bc(b,c)/uc(b)      elif bc(b,c) >= min_count
                 = alpha^2 * uc(c)/N          otherwise

    Count pruning (``min_count``) is what makes backoff real on a
    self-trained model: every trigram of a scored document occurs at
    least once in the corpus (the document itself), so unpruned
    self-training would never back off. Pruning singleton trigrams/
    bigrams routes rare continuations through the backoff chain —
    exactly the storage/robustness trade a production LM table makes.

    Output: (doc_id, trigram_logprob) = mean ln S over trigram
    positions; documents with < 3 tokens are absent.

    100 TB plan: the "model" is three count relations built by
    map-side-combined groupBys; scoring left-joins the occurrence
    relation on the trigram/backoff keys (one hash shuffle each) and
    the 1-row corpus total broadcasts. Persist the count relations to
    amortize repeated scoring runs.
    """
    from .par import fan_out

    toks_arr = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    # fan_out: the occurrence explode feeds three count aggregations;
    # without it the map side runs on the scan's split count (round 6)
    base = fan_out(df).select(F.col(id_col).alias("id"), toks_arr.alias("toks"))
    n = F.size("toks")
    tris = F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(0), n - 3),
            lambda i: F.struct(
                F.get("toks", i).alias("a"),
                F.get("toks", i + 1).alias("b"),
                F.get("toks", i + 2).alias("c"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string,c:string>>"))
    occ = base.select("id", F.explode(tris).alias("t")).select(
        "id", F.col("t.a").alias("a"), F.col("t.b").alias("b"), F.col("t.c").alias("c")
    )
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice("toks", 1, n - 1),
            F.slice("toks", 2, n - 1),
            lambda x, y: F.struct(x.alias("prev"), y.alias("cur")),
        ),
    ).otherwise(F.array().cast("array<struct<prev:string,cur:string>>"))
    pairs = base.select(F.explode(bigrams).alias("p")).select(
        F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur")
    )
    tri_c = (
        occ.groupBy("a", "b", "c")
        .agg(F.count("*").alias("tc"))
        .filter(F.col("tc") >= min_count)
    )
    bi_raw = pairs.groupBy("prev", "cur").agg(F.count("*").alias("bc"))
    bi_pruned = bi_raw.filter(F.col("bc") >= min_count).select(
        F.col("prev").alias("bo_prev"), F.col("cur").alias("bo_cur"),
        F.col("bc").alias("bo_bc"),
    )
    toks_rel = base.select(F.explode("toks").alias("tok"))
    uni = toks_rel.groupBy("tok").agg(F.count("*").alias("uc"))
    total = toks_rel.agg(F.count("*").cast("double").alias("n_total"))
    a = float(alpha)
    s = (
        F.when(
            F.col("tc").isNotNull(), F.col("tc") / F.col("ctx_bc")
        )
        .when(
            F.col("bo_bc").isNotNull(),
            F.lit(a) * F.col("bo_bc") / F.col("uc_b"),
        )
        .otherwise(F.lit(a * a) * F.col("uc_c") / F.col("n_total"))
    )
    return (
        occ.join(tri_c, on=["a", "b", "c"], how="left")
        .join(
            bi_raw.select(
                F.col("prev").alias("a"), F.col("cur").alias("b"),
                F.col("bc").alias("ctx_bc"),
            ),
            on=["a", "b"],
        )
        .join(
            bi_pruned,
            on=[F.col("b") == F.col("bo_prev"), F.col("c") == F.col("bo_cur")],
            how="left",
        )
        .join(uni.select(F.col("tok").alias("b"), F.col("uc").alias("uc_b")), on="b")
        .join(uni.select(F.col("tok").alias("c"), F.col("uc").alias("uc_c")), on="c")
        .crossJoin(F.broadcast(total))
        .select("id", F.log(s).alias("lp"))
        .groupBy("id")
        .agg(F.avg("lp").alias("trigram_logprob"))
    )


def dsir_logweight(
    df: DataFrame,
    target_cond: F.Column | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    buckets: int = 64,
) -> DataFrame:
    """DSIR-style importance weight per document (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling",
    arXiv:2302.03169): model the target and raw corpora as bags of
    HASHED unigram features, weight each raw document by its
    log-likelihood ratio, then resample proportionally to the weight.
    This is the principled replacement for hand-tuned quality
    thresholds when steering a 100 TB crawl toward a target domain.

    Features are ``content_hash(token) % buckets`` — the same 60-bit
    md5 family as every other operator, so the DuckDB oracle runs the
    identical arithmetic. Both distributions are add-1-smoothed over
    the bucket space:

        w(doc) = sum over tokens t of
                 ln( p_target(bucket(t)) / p_raw(bucket(t)) )

    ``target_cond`` selects the target slice (default: lang = 'en').

    100 TB posture: the two distribution "models" are ``buckets`` rows
    each — ONE map-side-combined aggregation over the token stream,
    broadcast back as a literal-sized relation; scoring is a per-token
    projection + one shuffle keyed on the doc id for the sum. Nothing
    holistic, nothing driver-resident, no second pass over text.

    Returns (doc_id, dsir_logweight) for documents with >= 1 token.
    """
    from .dedup import content_hash

    if target_cond is None:
        target_cond = F.col(lang_col) == "en"
    from .par import fan_out

    b = int(buckets)
    # fan_out: the token explode feeds the distribution aggregation AND
    # the per-doc scoring sum; on a small single-split scan the map
    # side otherwise runs on one core (round 6)
    toks = fan_out(df).select(
        F.col(id_col).alias("id"),
        # NULL-condition rows (e.g. NULL lang) count as NOT-target:
        # without the coalesce, a bucket fed only by NULL-cond tokens
        # sums tc to NULL and silently drops its llr from every doc
        # containing it (the oracle's CASE WHEN counts 0)
        F.coalesce(target_cond.cast("boolean"), F.lit(False)).alias("is_target"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    feat = toks.select(
        "id", "is_target", F.pmod(content_hash(F.col("tok")), F.lit(b)).alias("bucket")
    )
    counts = feat.groupBy("bucket").agg(
        F.sum(F.col("is_target").cast("long")).alias("tc"),
        F.count("*").alias("rc"),
    )
    totals = counts.agg(
        F.sum("tc").cast("double").alias("tt"), F.sum("rc").cast("double").alias("rt")
    )
    ratios = counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.log(
            ((F.col("tc") + 1.0) / (F.col("tt") + float(b)))
            / ((F.col("rc") + 1.0) / (F.col("rt") + float(b)))
        ).alias("llr"),
    )
    return (
        feat.join(F.broadcast(ratios), on="bucket")
        .groupBy("id")
        .agg(F.sum("llr").alias("dsir_logweight"))
        .select(F.col("id").alias("doc_id"), "dsir_logweight")
    )


def source_quality_rollup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    lang_col: str = "lang",
    low_tokens: int = 40,
) -> DataFrame:
    """Per-source (per-domain) quality rollup — the corpus-curation
    aggregate behind domain-level filtering (drop/deprioritize whole
    hosts whose pages are consistently short or junk, the FineWeb/
    RefinedWeb domain-blocklist construction step; crawl-side twin of
    the reference's per-host budget accounting, config/crawl.rs).

    Pure algebraic groupBy on the source key: doc count, mean token
    count, low-quality share, distinct languages. ONE map-side-combined
    shuffle at any scale; output cardinality = #domains.

    Returns (source, n_docs, avg_tokens, low_quality_share, n_langs).
    """
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    ntok = F.size(F.filter(toks, lambda t: t != F.lit("")))
    return (
        df.select(
            F.col(source_col).alias("source"),
            F.col(lang_col).alias("lang"),
            ntok.cast("double").alias("ntok"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.avg("ntok").alias("avg_tokens"),
            (
                F.sum((F.col("ntok") < float(low_tokens)).cast("long"))
                / F.count("*")
            ).alias("low_quality_share"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


def bigram_pmi(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Top-k collocations by pointwise mutual information over adjacent
    token pairs — the corpus-statistics pass behind multiword-term
    discovery and tokenizer-merge audits (which frequent pairs behave
    like single units):

        pmi(a,b) = ln( (C(a,b)/B) / ((U(a)/T) * (U(b)/T)) )

    with C = bigram counts (B total), U = unigram counts (T total),
    filtered to pairs seen >= ``min_count`` times. Deterministic
    ordering: pmi DESC, prev ASC, cur ASC.

    Scale shape: two map-side-combined count aggregations (bigrams,
    unigrams) + one join of the bigram relation to the (vocab-sized)
    unigram relation on each side, then a global top-k (TakeOrdered).
    The min_count filter applies BEFORE the joins, so only the
    frequent-pair tail joins. All JVM.
    """
    toks_arr = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    base = df.select(F.col(id_col).alias("id"), toks_arr.alias("toks"))
    n = F.size("toks")
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice("toks", 1, n - 1),
            F.slice("toks", 2, n - 1),
            lambda a, b: F.struct(a.alias("prev"), b.alias("cur")),
        ),
    ).otherwise(F.array().cast("array<struct<prev:string,cur:string>>"))
    pairs = base.select(F.explode(bigrams).alias("b")).select(
        F.col("b.prev").alias("prev"), F.col("b.cur").alias("cur")
    )
    uni = base.select(F.explode("toks").alias("tok")).groupBy("tok").agg(
        F.count("*").cast("double").alias("u")
    )
    big = (
        pairs.groupBy("prev", "cur")
        .agg(F.count("*").cast("double").alias("c"))
        .filter(F.col("c") >= float(min_count))
    )
    # unigram total from the already-aggregated vocab relation — NOT a
    # second explode of the corpus token stream
    totals = pairs.agg(F.count("*").cast("double").alias("bt")).crossJoin(
        uni.agg(F.sum("u").alias("ut"))
    )
    return (
        big.join(uni.select(F.col("tok").alias("prev"), F.col("u").alias("ua")), on="prev")
        .join(uni.select(F.col("tok").alias("cur"), F.col("u").alias("ub")), on="cur")
        .crossJoin(F.broadcast(totals))
        .select(
            "prev",
            "cur",
            F.col("c").cast("long").alias("pair_count"),
            F.log(
                (F.col("c") / F.col("bt"))
                / ((F.col("ua") / F.col("ut")) * (F.col("ub") / F.col("ut")))
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("prev"), F.asc("cur"))
        .limit(int(top_k))
    )


def zipf_table(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = 100,
) -> DataFrame:
    """Rank-frequency vocabulary table (term, freq, rank) for the
    corpus, top ``top_k`` — the Zipf-curve health check for a crawled
    corpus (a deviating head exposes boilerplate floods; a truncated
    tail exposes over-aggressive dedup). Rank ties break by term so
    the relation is deterministic.

    ONE map-side-combined count aggregation over the token stream;
    ranking the (tiny) top slice is a TakeOrdered followed by a
    row_number over an already-top_k-sized relation — never a global
    sort of the vocabulary.
    """
    from pyspark.sql import Window

    counts = (
        df.select(F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("term"))
        .limit(int(top_k))
    )
    w = Window.orderBy(F.desc("freq"), F.asc("term"))
    return counts.withColumn("rank", F.row_number().over(w))


def quality_deciles(
    df: DataFrame,
    score_col: str = "lm_logprob",
    id_col: str = "id",
    n_buckets: int = 10,
) -> DataFrame:
    """Quality-stratified bucketing: assign every document to one of
    ``n_buckets`` equal-population tiers by a quality score (the
    FineWeb-style bucket construction behind data-mixing recipes and
    curriculum schedules — sample mixture weights per tier instead of
    a single hard threshold).

    ntile over (score DESC, id) — the id tiebreak makes the relation
    deterministic. A global ORDER BY window is a single task; that is
    the right trade HERE because ntile's input is the (doc_id, score)
    projection — two narrow columns, not the corpus — and bucket
    boundaries are global by definition. At extreme scale compute
    approximate boundary quantiles first (approx_percentile on the
    score) and bucket by range instead; same output contract.

    Returns (id, score, decile) with decile in [1, n_buckets].
    """
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("score"), F.asc("id"))
    return df.select(
        F.col(id_col).alias("id"),
        F.col(score_col).alias("score"),
    ).withColumn("decile", F.ntile(int(n_buckets)).over(w))


def select_token_budget(
    df: DataFrame,
    budget_tokens: int,
    score_col: str,
    tokens_col: str,
    id_col: str = "id",
) -> DataFrame:
    """Budgeted corpus selection: take documents in DESCENDING quality
    order until the cumulative token count reaches ``budget_tokens`` —
    "give me the best N-token training set", the final step of a
    data-mixing recipe. A document is kept iff it STARTS inside the
    budget (same straddle rule as shard packing: the boundary doc is
    included, the budget is approximate by at most one document).

    Needs a global running total in quality order — computed with the
    shared two-phase distributed prefix sum (``functions/prefix.py``),
    never a single-task global window over the corpus. Quality order
    is made total with the id tiebreak by packing (score, id) into a
    sortable rank key.

    Returns the kept (id, score, n_tokens, cum_tokens) rows.
    """
    from .prefix import distributed_prefix_sum

    # total order: score DESC then id ASC, packed into one orderable
    # struct column (range partitioner accepts any orderable type)
    keyed = df.select(
        F.col(id_col).alias("id"),
        F.col(score_col).alias("score"),
        F.col(tokens_col).cast("long").alias("n_tokens"),
    ).withColumn("_rk", F.struct((-F.col("score")).alias("neg"), F.col("id").alias("id")))
    cum = distributed_prefix_sum(keyed, "_rk", "n_tokens", out_col="cum_tokens")
    return (
        cum.filter(F.col("cum_tokens") - F.col("n_tokens") < int(budget_tokens))
        .select("id", "score", "n_tokens", "cum_tokens")
    )
