"""Text-analysis column functions for large-scale training-data pipelines:
language ID (stopword-hit heuristic), quality scoring, token counting, and
document fingerprinting.

All fully native Catalyst expressions — zero Python at runtime, SQL-
expressible (each has a DuckDB oracle in __spark_entry__.py), and they stay
inside whole-stage codegen at 100 TB scale. One deliberate exception:
``with_compression_ratio`` is an Arrow-batched zlib UDF (no SQL analogue
exists; it is pytest-verified against pure Python instead).

The curation gates (``with_text_stats``, ``with_repetition_stats``,
``with_gopher_rules`` and ``operators.corpus.blocklist_gate``) read one
shared token array, ``words(lower(text))``, staged by ``with_tokens``:
a frame that chains several gates splits each document once. Each gate
builds one set of expressions; its stat-table form and its
``preserve=True``/append form are two selections of that set.
"""

from __future__ import annotations

import operator
from functools import reduce
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from narowi_ocr_spark.functions.native import bind_once, round4

# Tiny per-language stopword inventories. Deliberately small: the point is
# the distributed pattern (pure column exprs, no UDF), not lexical coverage.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "on"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"],
    "fr": ["le", "la", "les", "et", "est", "pas", "pour", "que", "une", "dans"],
}


def words(text: Column | str) -> Column:
    """Whitespace tokens; empty input → empty array (not [''])."""
    t = F.col(text) if isinstance(text, str) else text
    trimmed = F.regexp_replace(t, r"^\s+|\s+$", "")
    return F.when(F.length(trimmed) == 0, F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def token_count(text: Column | str) -> Column:
    """Whitespace token count (int)."""
    return F.size(words(text))


def subword_token_estimate(text: Column | str) -> Column:
    """BPE-ish token-count estimate: runs of letters, runs of digits, and
    single punctuation marks each count as one token."""
    t = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(t, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0))


# The shared token column of the token-level gates (blocklist,
# text_stats, repetition, Gopher). ``with_tokens`` stages it once; every
# gate's preserve/append form keeps its input columns, so a chain of
# gates over a ``with_tokens`` frame reads one split per row. C4 is a
# line-level gate and keeps its own line split.
TOKS = "_toks"


def with_tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stage ``words(lower(text))`` as column ``_toks`` (a no-op when
    ``df`` already carries it). The split is non-cheap and read by
    several expressions, so CollapseProject keeps it its own projection
    and it runs once per row."""
    if TOKS in df.columns:
        return df
    return df.withColumn(TOKS, words(F.lower(F.col(text_col))))


def append_columns(df: DataFrame, staged: DataFrame, cols: dict) -> DataFrame:
    """``df``'s columns, then ``cols`` evaluated over ``staged`` (``df``
    plus private staging columns, which are dropped). A name ``df``
    already has is replaced in place, as ``withColumn`` would."""
    return staged.withColumns(cols).select(*dict.fromkeys([*df.columns, *cols]))


def _stop_hits(distinct_toks: Column, lang: str) -> Column:
    return F.size(
        F.array_intersect(
            distinct_toks, F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        )
    )


def stopword_hits(text: Column | str, lang: str) -> Column:
    """Count of tokens (case-folded, deduplicated) found in the language's
    stopword list. array_intersect is set-semantics — adequate for scoring
    and identical in the DuckDB oracle (list_intersect)."""
    t = F.col(text) if isinstance(text, str) else text
    return _stop_hits(F.array_distinct(words(F.lower(t))), lang)


def _lang_pred(hits: dict) -> Column:
    best = F.greatest(*hits.values())
    expr: Column = F.lit("und")
    for lg in reversed(list(STOPWORDS)):  # earlier langs win ties
        expr = F.when(hits[lg] == best, F.lit(lg)).otherwise(expr)
    return F.when(best == 0, F.lit("und")).otherwise(expr)


def lang_id(text: Column | str) -> Column:
    """Best-scoring language among {en, de, fr} by stopword hits;
    ties break in en→de→fr order; zero hits → 'und' (undetermined)."""
    return _lang_pred({lg: stopword_hits(text, lg) for lg in STOPWORDS})


def _quality(t: Column, n_words: Column, stops: Column) -> Column:
    n_words = n_words.cast("double")
    n_chars = F.length(t).cast("double")
    alpha_chars = F.length(F.regexp_replace(t, r"[^A-Za-z]", "")).cast("double")
    score = (
        0.4 * F.least(stops.cast("double") / F.greatest(n_words, F.lit(1.0)), F.lit(1.0))
        + 0.3 * (alpha_chars / F.greatest(n_chars, F.lit(1.0)))
        + 0.3 * F.least(n_words / F.lit(100.0), F.lit(1.0))
    )
    return round4(score)


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] quality heuristic:
    0.4·stopword-ratio + 0.3·alpha-char-ratio + 0.3·capped length factor.
    Rounded to 4 decimals so Spark and the DuckDB oracle hash-match."""
    t = F.col(text) if isinstance(text, str) else text
    return _quality(t, token_count(t), stopword_hits(t, "en"))


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ``n_tokens``, ``n_subword``, ``lang_pred`` and ``q`` (quality
    score) over the shared token array (``with_tokens``).

    The scalar functions above each inline their own ``words()`` split,
    so composing them re-runs the regexp-trim + split once per reference
    after CollapseProject (quality_score alone runs it 3×). Here the
    token array and its distinct set are staged behind projection
    boundaries, so the split and the dedup each run once per row no
    matter how many stats consume them. Values are bit-identical to the
    scalar functions (asserted by tests/test_textstats_staged.py)."""
    t = F.col(text_col)
    staged = with_tokens(df, text_col).withColumn(
        "_ts_dtoks", F.array_distinct(TOKS)
    )
    staged = staged.withColumns(
        {f"_ts_hits_{lg}": _stop_hits(F.col("_ts_dtoks"), lg) for lg in STOPWORDS}
    )
    # size() is case-invariant, so size(_toks) == token_count(text)
    return append_columns(df, staged, {
        "n_tokens": F.size(TOKS),
        "n_subword": subword_token_estimate(t),
        "lang_pred": _lang_pred({lg: F.col(f"_ts_hits_{lg}") for lg in STOPWORDS}),
        "q": _quality(t, F.size(TOKS), F.col("_ts_hits_en")),
    })


def ngrams(text: Column | str, n: int) -> Column:
    """ALL word n-grams in order, as strings (NOT distinct — span and
    contamination operators need multiplicities; `dedup.shingles` is the
    distinct variant; ``with_repetition_stats`` hashes its n-grams
    instead).
    The word array is bound once per row (``bind_once``): slicing it
    per n-gram inside the lambda would otherwise re-run the O(len)
    split per element — O(len²) per document."""
    t = F.col(text) if isinstance(text, str) else text

    def _grams(w: Column) -> Column:
        k = F.size(w)
        return F.when(
            k >= n,
            F.transform(
                F.sequence(F.lit(1), k - F.lit(n - 1)),
                lambda i: F.array_join(F.slice(w, i, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return bind_once(words(F.lower(t)), _grams)


def _max_run_count(arr: Column) -> Column:
    """Count of the most frequent element of a long array: longest run
    of equal adjacent elements after array_sort — one native fold, no
    explode/shuffle."""
    acc0 = F.struct(
        F.lit(None).cast("long").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def step(acc, x):
        run = F.when(acc["prev"].eqNullSafe(x), acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(F.array_sort(arr), acc0, step, lambda acc: acc["best"])


def _gram_hashes(prev: Column, word_hashes: Column, n: int) -> Column:
    """xxhash64 of every word ``n``-gram, in order: gram i hashes the
    (n-1)-gram hash at i with word hash i+n-1 (``prev`` = the word
    hashes themselves for n = 2)."""
    k = F.greatest(F.size(word_hashes) - F.lit(n - 1), F.lit(0))
    return F.zip_with(
        F.slice(prev, 1, k), F.slice(word_hashes, n, k), lambda g, w: F.xxhash64(g, w)
    )


# Gopher-style repetition thresholds (Rae et al. 2021, "Scaling Language
# Models: ... Gopher", repetition-filter family): documents whose most
# frequent 2-gram covers >20% of all 2-grams, or whose duplicate-3-gram
# fraction exceeds 18%, are flagged repetitive boilerplate.
TOP_2GRAM_FRAC_MAX = 0.20
DUP_3GRAM_FRAC_MAX = 0.18


def with_repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add within-document repetition statistics — the standard
    LLM-curation signals for machine-generated/boilerplate text:

      frac_dup_2gram / frac_dup_3gram — fraction of n-gram occurrences
        that are repeats (1 − distinct/total);
      top_2gram_frac — share of all 2-grams taken by the single most
        frequent one;
      is_repetitive — the Gopher-style flag over the thresholds above.

    The n-grams are HASHED: each word of the shared token array
    (``with_tokens``) is xxhash64'd once, and the 2- and 3-gram hashes
    are built from it by ``zip_with`` — no per-gram string is joined.
    Words never contain whitespace, so the string n-gram "w1 w2" is
    injective in the word tuple, and the distinct counts and the mode
    count equal the string form's unless two 64-bit hashes collide
    (tests/test_gate_rewrite.py pins the equality). Each hash array is
    staged behind a projection boundary (built once), the mode count is
    a sort+fold inside the row — no explode, no shuffle, the plan stays
    narrow. NULL text counts as zero tokens."""
    toks = F.coalesce(F.col(TOKS), F.array().cast("array<string>"))
    staged = (
        with_tokens(df, text_col)
        .withColumn("_r_wh", F.transform(toks, lambda w: F.xxhash64(w)))
        .withColumn("_r_g2", _gram_hashes(F.col("_r_wh"), F.col("_r_wh"), 2))
        .withColumn("_r_g3", _gram_hashes(F.col("_r_g2"), F.col("_r_wh"), 3))
    )

    def dup_frac(g: Column) -> Column:
        total = F.size(g).cast("double")
        return F.when(
            total > 0,
            round4(1.0 - F.size(F.array_distinct(g)).cast("double") / total),
        ).otherwise(F.lit(0.0))

    n2 = F.size("_r_g2")
    stats = staged.withColumns({
        "_r_dup2": dup_frac(F.col("_r_g2")),
        "_r_dup3": dup_frac(F.col("_r_g3")),
        "_r_top2": F.when(
            n2 > 0,
            round4(_max_run_count(F.col("_r_g2")).cast("double") / n2.cast("double")),
        ).otherwise(F.lit(0.0)),
    })
    return append_columns(df, stats, {
        "n_2grams": n2,
        "frac_dup_2gram": F.col("_r_dup2"),
        "frac_dup_3gram": F.col("_r_dup3"),
        "top_2gram_frac": F.col("_r_top2"),
        "is_repetitive": (F.col("_r_top2") > TOP_2GRAM_FRAC_MAX)
        | (F.col("_r_dup3") > DUP_3GRAM_FRAC_MAX),
    })


def doc_keywords(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` tf-idf keywords per document — the classic two-phase
    corpus operator: phase 1 LEARNS corpus statistics (document
    frequencies + corpus size, one shuffle with map-side combine),
    phase 2 APPLIES them to every document (df-table join + per-doc
    window). Returns (id, keyword, tfidf, rank).

    Scale notes: term frequencies combine map-side before the shuffle
    (the explode never shuffles raw text, only (id, word) pairs → after
    partial agg, (id, word, tf)); the df table is corpus-vocabulary
    sized — broadcastable for bounded vocabularies, a plain shuffle join
    otherwise; the corpus size joins in as a broadcast 1-row aggregate
    (no driver-side collect).

    Determinism across engines: idf is the RATIO N/df (not log) — tf ×
    (N/df) is one division and one multiplication, bit-identical in any
    IEEE engine, so the DuckDB oracle hash-matches without rounding
    traps; ranking ties break on the word. Monotone in the usual
    log-idf, so the top-k set differs from log-tf-idf only when log's
    compression would reorder — acceptable for keyword extraction and
    documented here."""
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(words(F.lower(F.col(text_col)))).alias("w"),
    )
    tf = toks.groupBy("id", "w").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("w").agg(F.count("*").alias("df"))
    n_docs = df.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "w")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "id",
            "w",
            (
                F.col("tf").cast("double")
                * (F.col("n_docs").cast("double") / F.col("df").cast("double"))
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("id").orderBy(F.desc("tfidf"), F.asc("w"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("id"),
            F.col("w").alias("keyword"),
            F.col("tfidf"),
            F.col("rank"),
        )
    )


# PII scrubbing — the safety pass every published web corpus runs.
# Patterns are deliberately lookahead-free so Java regex (Spark) and RE2
# (the DuckDB oracle) agree character-for-character; URL first so
# addresses inside URLs are swallowed by the URL token.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("url", r"https?://[^\s]+", "<URL>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def with_pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ``n_<kind>`` match counts per PII kind and ``redacted`` (the
    text with every match replaced by its token), applied in PII_PATTERNS
    order. Pure regexp_replace/regexp_extract_all chains — native,
    narrow, no UDF; counts are taken BEFORE each replacement so later
    patterns never double-count earlier tokens."""
    out = df
    redacted = F.col(text_col)
    for kind, pat, token in PII_PATTERNS:
        out = out.withColumn(
            f"n_{kind}", F.size(F.regexp_extract_all(redacted, F.lit(pat), 0))
        )
        redacted = F.regexp_replace(redacted, pat, token)
        # stage the partially-redacted text so the next count/replace
        # works on it without re-inlining the whole chain
        out = out.withColumn("_red", redacted)
        redacted = F.col("_red")
    return out.withColumnRenamed("_red", "redacted")


ROLL_BASE = 31
ROLL_MOD = 2147483647  # 2^31 - 1 (Mersenne prime)
ROLL_SEED = 7
ROLL_CHUNK = 4096  # chars folded per transient array (bounds allocation)


def rolling_fingerprint(text: Column | str, chunk: int = ROLL_CHUNK) -> Column:
    """Polynomial rolling hash (Rabin-Karp family) of the whole document:
    h = fold(seed, codepoints, (acc, c) -> (acc·31 + c) mod 2³¹−1).
    Unlike the md5 ``fingerprint`` this is incrementally updatable — the
    building block for content-defined chunking / shift-resistant
    near-dup detection.

    Evaluated CHUNKED: the text is cut into ``chunk``-char slices and
    each slice folds to (h_slice, 31^len_slice mod p); slices combine as
    acc' = (acc · 31^len + h_slice) mod p. A multi-MB document therefore
    never materializes an O(doc-length) per-char array in the JVM — the
    transient allocation is O(chunk). All products stay < 2⁶² (both
    factors < 2³¹), so the long arithmetic never overflows. The value is
    bit-identical to the single-pass fold (and to the DuckDB
    list_reduce oracle)."""
    t = F.col(text) if isinstance(text, str) else text
    n_chunks = F.ceil(F.length(t) / F.lit(chunk)).cast("int")
    # sequence(1, 0) would yield the DESCENDING [1, 0] — guard empty
    # docs; NULL text must stay NULL (like the single-pass fold and the
    # DuckDB list_reduce oracle), not fall through to the seed
    idxs = (
        F.when(t.isNull(), F.lit(None).cast("array<int>"))
        .when(n_chunks >= 1, F.sequence(F.lit(1), n_chunks))
        .otherwise(F.array().cast("array<int>"))
    )
    chunks = F.transform(
        idxs, lambda i: F.substring(t, (i - F.lit(1)) * chunk + F.lit(1), F.lit(chunk))
    )

    def _fold_chunk(acc: Column, c: Column) -> Column:
        codes = F.transform(
            F.filter(F.split(c, ""), lambda ch: F.length(ch) > 0),
            lambda ch: F.ascii(ch).cast("long"),
        )
        part = F.aggregate(
            codes,
            F.struct(
                F.lit(0).cast("long").alias("h"), F.lit(1).cast("long").alias("p")
            ),
            lambda a, code: F.struct(
                ((a["h"] * ROLL_BASE + code) % ROLL_MOD).alias("h"),
                ((a["p"] * ROLL_BASE) % ROLL_MOD).alias("p"),
            ),
        )
        return (acc * part["p"] + part["h"]) % ROLL_MOD

    return F.aggregate(chunks, F.lit(ROLL_SEED).cast("long"), _fold_chunk)


def fingerprint(text: Column | str) -> Column:
    """Deterministic content fingerprint (md5 hex) for exact-dup grouping;
    identical function exists in the DuckDB oracle."""
    t = F.col(text) if isinstance(text, str) else text
    return F.md5(t.cast("binary"))


WINNOW_K = 8  # char k-gram length
WINNOW_W = 4  # winnowing window (k-gram hashes per window)


def winnow_fingerprints(
    text: Column | str, k: int = WINNOW_K, w: int = WINNOW_W
) -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    the MOSS local fingerprinting algorithm): hash every char ``k``-gram,
    slide a window of ``w`` consecutive hashes, keep each window's
    minimum; the distinct selected hashes are the fingerprint set —
    position-robust (insertions shift at most the neighbouring windows)
    and guaranteed to share members with any document overlapping by
    ≥ w+k−1 chars.

    Returns a sorted array of distinct selected hashes (first 8 hex
    chars of md5 of each k-gram — lexicographic min on lowercase hex ==
    numeric min on the underlying value, and md5 exists in every
    engine, so the DuckDB oracle is byte-identical). We keep selected
    VALUES, not (value, position) pairs — the set of window minima is
    tie-order independent, which sidesteps the rightmost-min tie rule
    the positional variant needs.

    Scale: O(n) md5 calls + O(n·w) array-min comparisons per doc, all
    inside one native projection — no explode, no shuffle, no Python.
    Docs shorter than k+w−1 chars fall back to a single whole-text
    k-gram-or-less hash so every non-empty doc has ≥1 fingerprint."""
    t_raw = F.lower(F.col(text) if isinstance(text, str) else text)

    def _with_text(t: Column) -> Column:
        n = F.length(t)
        hashes = F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(1), n - F.lit(k - 1)),
                lambda i: F.substring(
                    F.md5(F.substring(t, i, k).cast("binary")), 1, 8
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

        def _with_hashes(hs: Column) -> Column:
            n_windows = F.size(hs) - F.lit(w - 1)
            minima = F.transform(
                F.sequence(F.lit(1), n_windows),
                lambda i: F.array_min(F.slice(hs, i, w)),
            )
            return (
                F.when(n == 0, F.array().cast("array<string>"))
                .when(
                    n_windows < 1,
                    F.array(F.substring(F.md5(t.cast("binary")), 1, 8)),
                )
                .otherwise(F.array_sort(F.array_distinct(minima)))
            )

        # both binds matter: `t` would re-lower per k-gram, and `hs`
        # would re-hash the whole document once per window
        return bind_once(hashes, _with_hashes)

    return bind_once(t_raw, _with_text)


def vocab_stats(df: DataFrame, k: int = 100, text_col: str = "text") -> DataFrame:
    """Corpus vocabulary statistics — the tokenizer-training feed: the
    top-``k`` words by frequency with their corpus share and cumulative
    coverage. Returns (rank, word, cnt, cum_frac) where cum_frac is the
    fraction of ALL token occurrences covered by words 1..rank (the
    curve BPE/vocab-size decisions are read off).

    Scale shape: the explode partial-aggregates map-side, so only
    (word, count) pairs — vocabulary-bounded, not corpus-bounded —
    reach the shuffle. The rank is DISTRIBUTED (``bucketed_rank``,
    log-linear count buckets + prefix-summed offsets): on web text the
    vocabulary itself is O(10⁸⁺) rows, so the former unpartitioned
    rank window was a single-task sort of the whole vocab. The cumsum
    runs over the already-filtered top-``k`` rows (cum at rank r only
    reads ranks ≤ r, so filtering first is exact), and the corpus
    total is a broadcast 1-row aggregate. cum_frac is an exact integer
    sum divided once (IEEE-exact, round4) so the oracle hash-matches."""
    from pyspark.sql.window import Window

    from narowi_ocr_spark.operators.ranking import (
        bucketed_rank,
        loglin_bucket,
    )

    toks = df.select(F.explode(words(F.lower(F.col(text_col)))).alias("w"))
    cnts = toks.groupBy("w").agg(F.count("*").alias("cnt"))
    total = cnts.agg(F.sum("cnt").alias("total"))
    order = [F.desc("cnt"), F.asc("w")]
    topk = bucketed_rank(
        cnts,
        loglin_bucket(F.col("cnt")),
        order,
        ascending_buckets=False,
        rank_name="rank",
        # prune whole buckets past the cutoff before the rank sort —
        # the count=1 hapax bucket (~half the vocab's types on a web
        # corpus) never gets sorted for a top-k it cannot enter
        limit=k,
    ).where(F.col("rank") <= k)
    cum_w = Window.orderBy(*order).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        topk.withColumn("cum_cnt", F.sum("cnt").over(cum_w))
        .crossJoin(F.broadcast(total))
        .select(
            F.col("rank").cast("int").alias("rank"),
            F.col("w").alias("word"),
            F.col("cnt").cast("long").alias("cnt"),
            round4(
                F.col("cum_cnt").cast("double") / F.col("total").cast("double")
            ).alias("cum_frac"),
        )
    )


# Gopher quality-rule thresholds (Rae et al. 2021, "Scaling Language
# Models: ... Gopher", appendix A1.1). The line-shape rules (bullet /
# ellipsis line fractions) are omitted: they need line structure the
# unstructured corpus lacks; the symbol-ratio rule covers the ellipsis
# signal at document granularity.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_WORD_FRAC = 0.8
GOPHER_MIN_STOPWORD_HITS = 2

_GOPHER_SYMBOL_RE = r"(\.\.\.)|…|#"


def with_gopher_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    preserve: bool = False,
) -> DataFrame:
    """Gopher-style document quality rules as EXPLICIT per-rule flags —
    the filter bundle production corpora publish ablations over, so each
    rule must be inspectable, not folded into one score:

      (id, n_words, mean_word_len, symbol_ratio, alpha_word_frac,
       stop_hits, r_word_count, r_mean_word_len, r_symbol_ratio,
       r_alpha_words, r_stopwords, gopher_keep)

    gopher_keep = AND of the five rules. Every signal is a pure-codegen
    expression over the shared token array (``with_tokens``): mean word
    length is derived from the non-whitespace char count (one
    regexp_replace, no per-word fold), the symbol count is one
    regexp_count, and the ratios are exact int/int double divisions —
    deterministic across engines, so the oracle hash-matches without
    tolerance.

    ``preserve=True`` keeps every input column and appends ONLY
    ``gopher_keep`` — the form a fused multi-gate scan chains (see
    tools/run_release_job.py clean_flags). Both forms select from the
    same staged counts and rule expressions.
    """
    t = F.col(text_col)
    staged = with_tokens(df, text_col).withColumns({
        "_g_nw": F.size(TOKS).cast("int"),
        "_g_nonws": F.length(F.regexp_replace(t, r"\s", "")),
        "_g_sym": F.regexp_count(t, F.lit(_GOPHER_SYMBOL_RE)),
        "_g_alpha": F.size(F.filter(F.col(TOKS), lambda w: w.rlike("[a-z]"))),
        "_g_stops": _stop_hits(F.array_distinct(TOKS), "en").cast("int"),
    })
    nw = F.col("_g_nw")

    def per_word(c: str) -> Column:
        return F.when(nw > 0, F.col(c).cast("double") / nw.cast("double")).otherwise(
            F.lit(0.0)
        )

    mean_len, sym_ratio, alpha_frac = (
        per_word("_g_nonws"), per_word("_g_sym"), per_word("_g_alpha")
    )
    rules = {
        "r_word_count": (nw >= GOPHER_MIN_WORDS) & (nw <= GOPHER_MAX_WORDS),
        "r_mean_word_len": (mean_len >= GOPHER_MIN_MEAN_WORD_LEN)
        & (mean_len <= GOPHER_MAX_MEAN_WORD_LEN),
        "r_symbol_ratio": sym_ratio <= GOPHER_MAX_SYMBOL_RATIO,
        "r_alpha_words": alpha_frac >= GOPHER_MIN_ALPHA_WORD_FRAC,
        "r_stopwords": F.col("_g_stops") >= GOPHER_MIN_STOPWORD_HITS,
    }
    keep = reduce(operator.and_, rules.values())
    if preserve:
        return append_columns(df, staged, {"gopher_keep": keep})
    return staged.select(
        F.col(id_col).alias("id"),
        nw.alias("n_words"),
        round4(mean_len).alias("mean_word_len"),
        round4(sym_ratio).alias("symbol_ratio"),
        round4(alpha_frac).alias("alpha_word_frac"),
        F.col("_g_stops").alias("stop_hits"),
        *[r.alias(name) for name, r in rules.items()],
        keep.alias("gopher_keep"),
    )


# ------------------------------------------------------- C4 rules

# Raffel et al. 2020 ("Exploring the Limits of Transfer Learning...",
# §2.2) — the line-level cleaning recipe behind C4. Thresholds verbatim
# from the paper; the dirty-word list is a tiny documented stand-in for
# the "List of Dirty, Naughty, Obscene..." blocklist (swap in the full
# list in production — the dataflow is list-size-independent since the
# match folds into one regexp alternation).
C4_MIN_WORDS_PER_LINE = 5
C4_MIN_KEPT_LINES = 3  # the paper's "fewer than 3 sentences" gate,
# applied to kept lines (each kept line ends in terminal punctuation —
# the closest line-level stand-in for a sentence)
C4_BAD_WORDS = ["porn", "xxx", "nsfw"]
_C4_TERMINAL_RE = '[.!?"]$'


def with_c4_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    preserve: bool = False,
) -> DataFrame:
    """C4-style line-level cleaning as explicit per-rule columns:

      (id, n_lines, n_kept_lines, has_brace, has_lorem, has_badword,
       c4_keep, kept_md5)

    A line is KEPT iff it ends in terminal punctuation, has ≥ 5
    whitespace words, and does not mention javascript (the paper's
    line rules); the page is kept iff it has ≥ 3 kept lines and no
    curly brace / "lorem ipsum" / blocklist hit (the page rules).
    ``kept_md5`` is the digest of the cleaned text (kept lines joined
    by newline) — it pins the exact per-line decisions in the oracle
    hash, not just the counts.

    All pure-codegen higher-order expressions over one line split (a
    line gate: it does not read the shared token array); no shuffle, no
    Python.

    ``preserve=True`` keeps every input column and appends ONLY
    ``c4_keep`` — the form a fused multi-gate scan chains. Both forms
    take the verdict from the same rule columns."""
    t = F.col(text_col)
    lines = F.split(t, "\n")

    def line_words(ln: Column) -> Column:
        return F.size(
            F.filter(F.split(ln, r"\s+"), lambda w: F.length(w) > 0)
        )

    kept = F.filter(
        lines,
        lambda ln: ln.rlike(_C4_TERMINAL_RE)
        & (line_words(ln) >= C4_MIN_WORDS_PER_LINE)
        & ~F.lower(ln).contains("javascript"),
    )
    low = F.lower(t)
    rules = {
        "n_lines": F.size(lines).cast("int"),
        "n_kept_lines": F.size(kept).cast("int"),
        "has_brace": t.contains("{"),
        "has_lorem": low.contains("lorem ipsum"),
        "has_badword": reduce(operator.or_, [low.contains(w) for w in C4_BAD_WORDS]),
    }

    def keep(c: dict) -> Column:
        return (
            (c["n_kept_lines"] >= C4_MIN_KEPT_LINES)
            & ~c["has_brace"]
            & ~c["has_lorem"]
            & ~c["has_badword"]
        )

    if preserve:
        return df.withColumn("c4_keep", keep(rules))
    return df.select(
        F.col(id_col).alias("id"),
        *[c.alias(name) for name, c in rules.items()],
        F.md5(F.array_join(kept, "\n")).alias("kept_md5"),
    ).select(
        "id", *rules, keep({name: F.col(name) for name in rules}).alias("c4_keep"),
        "kept_md5",
    )


# ------------------------------------------------- compression ratio

COMP_SCALE = 1_000_000


def with_compression_ratio(df: DataFrame, text_col: str = "text") -> DataFrame:
    """zlib compression ratio per document — the quality signal behind
    "too compressible = templated/repetitive boilerplate" filters
    (RefinedWeb/Dolma-family pipelines keep documents in a mid-ratio
    band: near-1.0 ratios are random noise, near-0 ratios are repeated
    spans a dedup pass missed).

    Returns (id, n_bytes, n_compressed, ratio_scaled, ratio) where
    ratio = compressed/raw bytes (UTF-8, zlib level 6), ratio_scaled
    the ppm integer fixed point. Empty/NULL text → NULL ratio.

    Runs as an Arrow-batched iterator pandas UDF (zlib is C speed —
    ~100 MB/s/core, same cost class as the extraction tokenizer; NO
    per-row Python at the driver). Deterministic for a fixed zlib
    library + level, so results are reproducible within a build;
    DuckDB has no zlib surface, so this op is pytest-verified against
    an independent pure-Python computation instead of a SQL oracle
    (same weaker-gate class as ``bpe_merges``).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<n_bytes:int,n_compressed:int>")
    def _comp(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        import zlib

        for s in it:
            nb, nc = [], []
            for t in s:
                if t is None:
                    nb.append(None)
                    nc.append(None)
                else:
                    raw = t.encode("utf-8")
                    nb.append(len(raw))
                    nc.append(len(zlib.compress(raw, 6)))
            yield pd.DataFrame({"n_bytes": nb, "n_compressed": nc})

    staged = df.withColumn("_c", _comp(F.col(text_col)))
    ratio_scaled = F.when(
        F.col("_c.n_bytes") > 0,
        F.expr(f"({COMP_SCALE}L * _c.n_compressed) div _c.n_bytes"),
    )
    return (
        staged.withColumn("n_bytes", F.col("_c.n_bytes"))
        .withColumn("n_compressed", F.col("_c.n_compressed"))
        .withColumn("ratio_scaled", ratio_scaled)
        .withColumn(
            "ratio",
            ratio_scaled.cast("double") / F.lit(float(COMP_SCALE)),
        )
        .drop("_c")
    )


# --------------------------------------------- hashed linear classifier

_HEX_ALPHABET = "0123456789abcdef"

# Knuth multiplicative constant — the deterministic STUB weight
# generator (see linear_quality_classifier docstring).
_STUB_WEIGHT_MULT = 2654435761


def stub_classifier_weights(n_buckets: int = 256) -> list:
    """Deterministic stand-in for trained classifier weights: bucket b
    weighs (b·2654435761) mod 1000 milli-units, all non-negative. A
    real deployment loads the trained vector instead; everything else
    in the classifier path is production-shaped."""
    return [(b * _STUB_WEIGHT_MULT) % 1000 for b in range(n_buckets)]


def linear_quality_classifier(
    df: DataFrame,
    weights: list | None = None,
    threshold_milli: int = 500,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Hashing-trick linear text classifier — the model-based quality
    filter shape (fastText-style bag-of-hashed-words; the
    FineWeb-Edu/DCLM pipelines run exactly this dataflow with trained
    weights): each case-folded token hashes into one of
    ``len(weights)`` buckets (16 or 256 — first one/two hex digits of
    md5, the repo's portable engine-neutral hash), the document score
    is the SUM of its tokens' bucket weights (integer milli-units,
    all non-negative by construction so floor- and truncate-division
    agree across engines), and ``keep`` is mean-weight >=
    ``threshold_milli``.

    Returns (doc_id, n_tokens, score_milli, mean_milli, keep);
    zero-token documents score 0/0/False deterministically.

    Scale shape: the weight vector FOLDS INTO THE PLAN as a literal
    array — scoring is one pure-codegen ``aggregate`` over the staged
    token array, zero shuffles, zero joins, zero Python; a corpus scan
    at 100 TB scores in the same stage that reads it. For a
    multi-million-bucket production model the literal-array form gives
    way to an explode + broadcast-join against the weight table (same
    partial-aggregated single shuffle as doc_keywords); the hash and
    arithmetic stay identical.
    """
    if weights is None:
        weights = stub_classifier_weights()
    if len(weights) == 16:
        n_hex = 1
    elif len(weights) == 256:
        n_hex = 2
    else:
        raise ValueError("weights must have 16 or 256 entries")
    if any(w < 0 for w in weights):
        raise ValueError("weights must be non-negative (integer-div "
                         "portability)")

    hex_arr = F.array(*[F.lit(c) for c in _HEX_ALPHABET])
    w_arr = F.array(*[F.lit(int(w)).cast("long") for w in weights])

    def bucket(tok: Column) -> Column:
        h = F.md5(tok)
        b = F.array_position(hex_arr, F.substring(h, 1, 1)) - 1
        if n_hex == 2:
            b = b * 16 + F.array_position(hex_arr, F.substring(h, 2, 1)) - 1
        return b

    toks = words(F.lower(F.col(text_col)))
    staged = df.select(F.col(id_col).alias("doc_id"), toks.alias("_t"))
    n = F.size("_t")
    score = F.aggregate(
        F.col("_t"),
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.element_at(w_arr, (bucket(t) + 1).cast("int")),
    )
    return staged.select(
        "doc_id",
        n.cast("int").alias("n_tokens"),
        F.when(n == 0, F.lit(0).cast("long")).otherwise(score).alias(
            "score_milli"
        ),
    ).select(
        "doc_id",
        "n_tokens",
        "score_milli",
        F.when(F.col("n_tokens") == 0, F.lit(0).cast("long"))
        .otherwise(F.expr("score_milli div n_tokens"))
        .alias("mean_milli"),
    ).withColumn(
        "keep", F.col("mean_milli") >= F.lit(int(threshold_milli))
    )
