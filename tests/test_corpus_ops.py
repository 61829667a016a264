"""Unit tests for the corpus-level curation operators (decontamination,
deterministic stratified sampling, char-bigram LM score) against
hand-computed / pure-Python reference results."""

import hashlib
from collections import Counter

from pyspark.sql import Row
from pyspark.sql import functions as F

from narowi_ocr_spark.operators.corpus import (
    LM_SCALE,
    _rate_to_hex_threshold,
    char_bigram_lm,
    contamination,
    stratified_sample,
)


def test_contamination_flags_overlapping_docs(spark):
    corpus = spark.createDataFrame(
        [
            Row(doc_id=0, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=1, text="a completely different sentence with no overlap"),
            Row(doc_id=2, text="we saw the quick brown fox yesterday evening"),
            Row(doc_id=3, text=""),
        ]
    )
    eval_df = spark.createDataFrame(
        [Row(text="quick brown fox")]
    )
    got = {
        r["id"]: r
        for r in contamination(corpus, eval_df, n=3).collect()
    }
    # doc 0: grams include "quick brown fox" -> contaminated
    assert got[0]["contaminated"] and got[0]["n_overlap"] == 1
    assert got[0]["n_grams"] == 7
    assert not got[1]["contaminated"] and got[1]["n_overlap"] == 0
    assert got[2]["contaminated"] and got[2]["n_overlap"] == 1
    # empty doc: zero grams, not contaminated
    assert got[3]["n_grams"] == 0 and not got[3]["contaminated"]


def _md5key(salt, i):
    return hashlib.md5(f"{salt}{i}".encode()).hexdigest()[:8]


def test_stratified_sample_deterministic(spark):
    rows = [
        Row(doc_id=i, source=f"s{i % 3}", text=f"doc {i}") for i in range(300)
    ]
    df = spark.createDataFrame(rows)
    rates = {"s0": 1.0, "s1": 0.0, "s2": 0.5}
    got = stratified_sample(df, rates, salt="s0").select(
        "doc_id", "source", "sample_key"
    ).collect()
    ids = {r["doc_id"] for r in got}
    # s0: all kept; s1: none kept
    assert all(i in ids for i in range(300) if i % 3 == 0)
    assert not any(i in ids for i in range(300) if i % 3 == 1)
    # s2: exactly the md5-predicate subset, sample_key matches hashlib
    thr = _rate_to_hex_threshold(0.5)
    expect_s2 = {
        i for i in range(300) if i % 3 == 2 and _md5key("s0", i) < thr
    }
    assert {i for i in ids if i % 3 == 2} == expect_s2
    assert 0 < len(expect_s2) < 100  # genuinely partial
    for r in got:
        assert r["sample_key"] == _md5key("s0", r["doc_id"])


def test_rate_threshold_edges():
    assert _rate_to_hex_threshold(1.0) == "g"  # every hex digest < 'g'
    assert _rate_to_hex_threshold(0.0) == "0"
    assert _rate_to_hex_threshold(0.5) == "80000000"


def _lm_py(corpus_texts, targets):
    bg = Counter()
    for t in corpus_texts:
        cs = list(t.lower())
        for a, b in zip(cs, cs[1:]):
            bg[a + b] += 1
    ctx = Counter()
    for g, c in bg.items():
        ctx[g[0]] += c
    p = {g: (LM_SCALE * c) // ctx[g[0]] for g, c in bg.items()}
    out = {}
    for i, t in enumerate(targets):
        cs = list(t.lower())
        grams = [a + b for a, b in zip(cs, cs[1:])]
        s = sum(p.get(g, 0) for g in grams)
        n = len(grams)
        score = (
            round((s / n / LM_SCALE) * 10000 + 1e-9) / 10000 if n else 0.0
        )
        # replicate round4 = floor(x*1e4 + 0.5)/1e4 exactly
        import math

        score = math.floor((s / n) / LM_SCALE * 10000.0 + 0.5) / 10000.0 if n else 0.0
        out[i] = (n, s, score)
    return out


def test_char_bigram_lm_matches_python_reference(spark):
    texts = [
        "the cat sat on the mat",
        "the dog ate the log",
        "zzz qqq xxx",  # out-of-distribution junk
        "",
        "a",  # single char -> no bigrams
    ]
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    got = {
        r["id"]: (r["n_bigrams"], r["lm_sum"], r["lm_score"])
        for r in char_bigram_lm(df).collect()
    }
    assert got == _lm_py(texts, texts)
    # sanity: in-distribution text scores above the junk row
    assert got[0][2] > got[2][2]


def test_char_bigram_lm_apply_to_other_corpus(spark):
    learn = spark.createDataFrame(
        [Row(doc_id=0, text="abab abab abab")]
    )
    apply = spark.createDataFrame(
        [Row(doc_id=10, text="ab"), Row(doc_id=11, text="zz")]
    )
    got = {
        r["id"]: (r["n_bigrams"], r["lm_sum"], r["lm_score"])
        for r in char_bigram_lm(learn, apply_to=apply).collect()
    }
    expect = _lm_py(["abab abab abab"], ["ab", "zz"])
    assert got == {10: expect[0], 11: expect[1]}


# ---------------------------------------------------------------- winnowing


def _winnow_py(text, k=8, w=4):
    t = text.lower()
    n = len(t)
    if n == 0:
        return []
    if n - (k - 1) - (w - 1) < 1:
        return [hashlib.md5(t.encode()).hexdigest()[:8]]
    hs = [
        hashlib.md5(t[i : i + k].encode()).hexdigest()[:8]
        for i in range(n - k + 1)
    ]
    minima = {min(hs[i : i + w]) for i in range(len(hs) - w + 1)}
    return sorted(minima)


def test_winnow_matches_python_reference(spark):
    from narowi_ocr_spark.functions.textstats import winnow_fingerprints

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "short",  # < k+w-1 chars -> whole-text fallback
        "",
        "exactly18chars____",
    ]
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    got = {
        r["doc_id"]: r["fps"]
        for r in df.select(
            "doc_id", winnow_fingerprints("text").alias("fps")
        ).collect()
    }
    assert got == {i: _winnow_py(t) for i, t in enumerate(texts)}


def test_winnow_local_robustness(spark):
    """An insertion in the middle must leave distant fingerprints
    intact (the winnowing locality guarantee); disjoint docs share
    nothing."""
    from narowi_ocr_spark.functions.textstats import winnow_fingerprints

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b = a[:30] + "INSERTED " + a[30:]
    c = "0123456789" * 6  # disjoint content
    df = spark.createDataFrame(
        [Row(doc_id=0, text=a), Row(doc_id=1, text=b), Row(doc_id=2, text=c)]
    )
    got = {
        r["doc_id"]: set(r["fps"])
        for r in df.select(
            "doc_id", winnow_fingerprints("text").alias("fps")
        ).collect()
    }
    inter = got[0] & got[1]
    union = got[0] | got[1]
    assert len(inter) / len(union) > 0.4, (got[0], got[1])
    assert not (got[0] & got[2])


def test_vocab_stats_hand_computed(spark):
    from narowi_ocr_spark.functions.textstats import vocab_stats

    df = spark.createDataFrame(
        [
            Row(doc_id=0, text="a a a b b c"),
            Row(doc_id=1, text="a b d"),
        ]
    )
    rows = vocab_stats(df, k=3).orderBy("rank").collect()
    # counts: a=4, b=3, c=1, d=1; total=9
    assert [(r["rank"], r["word"], r["cnt"]) for r in rows] == [
        (1, "a", 4),
        (2, "b", 3),
        (3, "c", 1),
    ]
    import math

    assert rows[0]["cum_frac"] == math.floor(4 / 9 * 10000 + 0.5) / 10000
    assert rows[2]["cum_frac"] == math.floor(8 / 9 * 10000 + 0.5) / 10000


def test_incremental_dedup_keeps_only_unseen(spark):
    from narowi_ocr_spark.operators.dedup import (
        build_fingerprint_index,
        incremental_dedup,
    )

    old = spark.createDataFrame(
        [Row(doc_id=0, text="seen before"), Row(doc_id=1, text="also seen")]
    )
    index = build_fingerprint_index(old)
    batch = spark.createDataFrame(
        [
            Row(doc_id=10, text="seen before"),  # exact re-crawl -> dropped
            Row(doc_id=11, text="brand new"),
            Row(doc_id=12, text="brand new"),  # in-batch dup -> one rep
            Row(doc_id=13, text="another new"),
        ]
    )
    got = sorted(
        (r["doc_id"], r["text"])
        for r in incremental_dedup(batch, index).collect()
    )
    assert got == [(11, "brand new"), (13, "another new")]


def test_passage_dedup_first_occurrence_wins(spark):
    # 4-word passages; doc 0 owns passages P0 P1; doc 1 repeats P1 then
    # adds a novel passage; doc 2 is an exact copy of doc 0; doc 3 has a
    # 2-word tail (partial passage) plus an internal repeat of its own
    # first passage.
    from narowi_ocr_spark.operators.corpus import passage_dedup

    p0 = "a b c d"
    p1 = "e f g h"
    novel = "i j k l"
    rows = [
        Row(doc_id=0, text=f"{p0} {p1}"),
        Row(doc_id=1, text=f"{p1} {novel}"),
        Row(doc_id=2, text=f"{p0} {p1}"),
        Row(doc_id=3, text=f"{novel} {novel} m n"),
        Row(doc_id=4, text=""),
    ]
    got = {
        r["id"]: r
        for r in passage_dedup(
            spark.createDataFrame(rows), passage_words=4
        ).collect()
    }
    assert got[0]["n_passages"] == 2 and got[0]["n_kept"] == 2
    assert got[0]["text_dedup"] == f"{p0} {p1}"
    # doc 1: p1 already seen in doc 0 -> only the novel passage survives
    assert got[1]["n_kept"] == 1 and got[1]["text_dedup"] == novel
    # doc 2: exact copy -> nothing survives
    assert got[2]["n_kept"] == 0 and got[2]["text_dedup"] == ""
    # doc 3: novel seen in doc 1; second repeat dropped; tail "m n" kept
    assert got[3]["n_passages"] == 3
    assert got[3]["n_kept"] == 1 and got[3]["text_dedup"] == "m n"
    # empty doc: zero passages, empty output
    assert got[4]["n_passages"] == 0 and got[4]["text_dedup"] == ""


def test_passage_dedup_case_insensitive(spark):
    from narowi_ocr_spark.operators.corpus import passage_dedup

    rows = [
        Row(doc_id=0, text="Alpha Beta Gamma Delta"),
        Row(doc_id=1, text="alpha beta gamma delta"),
    ]
    got = {
        r["id"]: r
        for r in passage_dedup(
            spark.createDataFrame(rows), passage_words=4
        ).collect()
    }
    assert got[0]["n_kept"] == 1
    assert got[1]["n_kept"] == 0  # case-folded duplicate


def test_domain_mix_weights_exact_isqrt_and_ppm(spark):
    import math

    from narowi_ocr_spark.operators.corpus import (
        MIX_SCALE,
        domain_mix_weights,
    )

    # source a: 4 docs x 4 tokens = 16 (perfect square); b: 1 doc x 63
    # tokens (isqrt boundary: floor(sqrt(63)) = 7, (7+1)^2 > 63)
    rows = [Row(doc_id=i, source="a", text="t1 t2 t3 t4") for i in range(4)]
    rows.append(Row(doc_id=99, source="b", text=" ".join(["w"] * 63)))
    got = {
        r["source"]: r
        for r in domain_mix_weights(spark.createDataFrame(rows)).collect()
    }
    assert got["a"]["n_tokens"] == 16 and got["a"]["sqrt_tokens"] == 4
    assert got["b"]["n_tokens"] == 63 and got["b"]["sqrt_tokens"] == 7
    ssum, tsum = 4 + 7, 16 + 63
    assert got["a"]["weight_ppm"] == MIX_SCALE * 4 // ssum
    assert got["b"]["weight_ppm"] == MIX_SCALE * 7 // ssum
    assert got["a"]["natural_ppm"] == MIX_SCALE * 16 // tsum
    # alpha=0.5 upsamples the small source, downsamples the big one
    assert got["a"]["boost"] > 1.0 > got["b"]["boost"]
    expect_boost_a = math.floor(
        (MIX_SCALE * 4 // ssum) / (MIX_SCALE * 16 // tsum) * 1e4 + 0.5
    ) / 1e4
    assert got["a"]["boost"] == expect_boost_a


def test_exact_isqrt_boundaries(spark):
    from pyspark.sql import functions as F

    from narowi_ocr_spark.operators.corpus import _exact_isqrt

    import math

    ns = [0, 1, 2, 3, 4, 8, 9, 15, 16, 24, 25, 10**12, 10**12 + 1,
          (2**26 - 1) ** 2, (2**26 - 1) ** 2 - 1, 2**52 - 1]
    df = spark.createDataFrame([(n,) for n in ns], "n long")
    got = df.select("n", _exact_isqrt(F.col("n")).alias("r")).collect()
    for row in got:
        assert row["r"] == math.isqrt(row["n"]), row


def test_gopher_rules_flags(spark):
    from narowi_ocr_spark.functions.textstats import with_gopher_rules

    good = " ".join(
        ["the and of to in is that for with on"] * 6
    )  # 60 words, all stopwords, mean len 2.5 -> fails mean_word_len only
    wordy = " ".join(["lexicon"] * 60) + " the and"  # 62 words, mean 6.7ish
    short = "the and of"  # 3 words
    symbols = " ".join(["ha#sh"] * 60) + " the and"
    rows = [
        Row(doc_id=0, text=good),
        Row(doc_id=1, text=wordy),
        Row(doc_id=2, text=short),
        Row(doc_id=3, text=symbols),
        Row(doc_id=4, text=""),
    ]
    got = {
        r["id"]: r
        for r in with_gopher_rules(spark.createDataFrame(rows)).collect()
    }
    assert got[0]["n_words"] == 60 and got[0]["stop_hits"] == 10
    assert got[0]["r_word_count"] and got[0]["r_stopwords"]
    assert not got[0]["r_mean_word_len"]  # mean 2.5 < 3
    assert not got[0]["gopher_keep"]
    assert got[1]["gopher_keep"]  # passes all five
    assert not got[2]["r_word_count"] and not got[2]["gopher_keep"]
    # 60 '#' in 62 words -> ratio ~0.97 > 0.1
    assert not got[3]["r_symbol_ratio"] and not got[3]["gopher_keep"]
    assert got[4]["n_words"] == 0 and not got[4]["gopher_keep"]


def test_pack_sequences_offsets_and_slots(spark):
    from narowi_ocr_spark.operators.corpus import pack_sequences

    # shard a: token counts 6, 6, 6 with capacity 10:
    #   doc 0 starts at 0  -> pack 0, slot 0
    #   doc 1 starts at 6  -> pack 0, slot 1 (straddles; whole doc by start)
    #   doc 2 starts at 12 -> pack 1, slot 0
    rows = [
        Row(doc_id=0, source="a", text="t t t t t t"),
        Row(doc_id=1, source="a", text="u u u u u u"),
        Row(doc_id=2, source="a", text="v v v v v v"),
        Row(doc_id=9, source="b", text="w w"),
    ]
    got = {
        r["id"]: r
        for r in pack_sequences(
            spark.createDataFrame(rows), capacity=10
        ).collect()
    }
    assert (got[0]["start_offset"], got[0]["pack_id"], got[0]["pack_slot"]) == (0, 0, 0)
    assert (got[1]["start_offset"], got[1]["pack_id"], got[1]["pack_slot"]) == (6, 0, 1)
    assert (got[2]["start_offset"], got[2]["pack_id"], got[2]["pack_slot"]) == (12, 1, 0)
    # shards are independent orders
    assert (got[9]["shard"], got[9]["pack_id"], got[9]["pack_slot"]) == ("b", 0, 0)


def test_dataset_splits_deterministic_and_exclusive(spark):
    from narowi_ocr_spark.operators.corpus import dataset_splits

    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1000)], "doc_id long, text string"
    )
    a = {r["doc_id"]: r["split"] for r in dataset_splits(df).collect()}
    # same assignment on a different partitioning — split NEVER migrates
    b = {
        r["doc_id"]: r["split"]
        for r in dataset_splits(df.repartition(7)).collect()
    }
    assert a == b
    import hashlib

    # spot-check against the definition
    for i in (0, 1, 999):
        key = hashlib.md5(f"split0{i}".encode()).hexdigest()[:8]
        frac = int(key, 16) / 16**8
        expect = "valid" if frac < 0.01 else ("test" if frac < 0.02 else "train")
        assert a[i] == expect
    # ~1% each at n=1000 (loose bounds; deterministic so never flaky)
    from collections import Counter

    c = Counter(a.values())
    assert 2 <= c["valid"] <= 25 and 2 <= c["test"] <= 25


def test_fixed_count_sample_exact_k(spark):
    from narowi_ocr_spark.operators.corpus import fixed_count_sample

    df = spark.createDataFrame(
        [(i, f"s{i % 4}", "t") for i in range(200)],
        "doc_id long, source string, text string",
    )
    got = fixed_count_sample(df, k=3).collect()
    from collections import Counter

    per = Counter(r["source"] for r in got)
    assert per == {f"s{j}": 3 for j in range(4)}
    # deterministic across partitionings
    again = fixed_count_sample(df.repartition(9), k=3).collect()
    assert {(r["doc_id"]) for r in got} == {(r["doc_id"]) for r in again}


def test_winnow_near_pairs_detects_shared_span(spark):
    from narowi_ocr_spark.operators.dedup import winnow_near_pairs

    span = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        Row(doc_id=0, text=span + " alpha tail content here"),
        Row(doc_id=1, text="prefix words first " + span),
        Row(doc_id=2, text="completely different text with no common spans"),
    ]
    out = winnow_near_pairs(
        spark.createDataFrame(rows), min_shared=5, max_df=10
    ).collect()
    pairs = {(r.id_a, r.id_b) for r in out}
    assert (0, 1) in pairs
    assert all(2 not in p for p in pairs)
    r01 = [r for r in out if (r.id_a, r.id_b) == (0, 1)][0]
    assert r01.n_shared >= 5 and 0 < r01.jaccard <= 1.0


def test_dup_span_stats_hand_computed(spark):
    """k=3 windows, hand-traced islands merge.

    doc 0: 'a b c d e f g h'     — windows abc bcd cde def efg fgh
    doc 1: 'x a b c d y z w'     — shares the 3-gram 'a b c d' block
    doc 2: 'p q r s t u v'       — unique, must be absent
    doc 3: 'm m m m m m'         — self-repetition: all 4 windows 'm m m'

    Dup fps: abc, bcd (df=2 via docs 0,1); mmm (occ=4 in doc 3).
    doc 0: dup windows at pos 0,1 → one span [0, 3] → 4 tokens of 8.
    doc 1: dup windows at pos 1,2 → one span [1, 4] → 4 tokens of 8.
    doc 3: windows 0..3 → one span [0, 5] → all 6 tokens.
    """
    from narowi_ocr_spark.operators.corpus import dup_span_stats

    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="a b c d e f g h"),
            Row(doc_id=1, text="x a b c d y z w"),
            Row(doc_id=2, text="p q r s t u v"),
            Row(doc_id=3, text="m m m m m m"),
        ]
    )
    out = {
        r["doc_id"]: r
        for r in dup_span_stats(docs, k=3).collect()
    }
    assert set(out) == {0, 1, 3}
    assert (out[0]["n_spans"], out[0]["dup_tokens"], out[0]["n_tokens"]) == (1, 4, 8)
    assert out[0]["n_dup_windows"] == 2
    assert (out[1]["n_spans"], out[1]["dup_tokens"]) == (1, 4)
    assert (out[3]["n_spans"], out[3]["dup_tokens"], out[3]["n_tokens"]) == (1, 6, 6)
    assert out[3]["dup_frac"] == 1.0
    assert out[0]["dup_frac_scaled"] == 500000


def test_dup_span_stats_disjoint_spans_stay_split(spark):
    """Two duplicated regions separated by a unique gap must come out
    as TWO spans, not one: doc 4 repeats doc 5's head and tail but has
    a unique middle."""
    from narowi_ocr_spark.operators.corpus import dup_span_stats

    docs = spark.createDataFrame(
        [
            Row(doc_id=4, text="h1 h2 h3 u1 u2 u3 u4 t1 t2 t3"),
            Row(doc_id=5, text="h1 h2 h3 q9 q8 q7 q6 t1 t2 t3"),
        ]
    )
    out = {r["doc_id"]: r for r in dup_span_stats(docs, k=3).collect()}
    # each doc: dup windows at pos 0 (head) and pos 7 (tail) → 2 spans,
    # 3 + 3 = 6 dup tokens of 10
    for d in (4, 5):
        assert (out[d]["n_spans"], out[d]["dup_tokens"], out[d]["n_tokens"]) == (2, 6, 10)


def test_line_boilerplate_frequency_threshold(spark):
    # "banner" appears in 3 docs (>= min_docs=3, removed EVERYWHERE,
    # case/whitespace-folded), "pair" in 2 docs (kept), unique lines
    # kept in original order and casing; blank lines always dropped.
    from narowi_ocr_spark.operators.corpus import line_boilerplate

    rows = [
        Row(doc_id=0, text="Unique Zero\nBanner Line\npair"),
        Row(doc_id=1, text="  banner line  \nunique one\n   "),
        Row(doc_id=2, text="BANNER LINE\npair\nunique two"),
        Row(doc_id=3, text=""),
    ]
    got = {
        r["id"]: r
        for r in line_boilerplate(
            spark.createDataFrame(rows), min_docs=3
        ).collect()
    }
    assert got[0]["n_lines"] == 3
    assert got[0]["text_clean"] == "Unique Zero\npair"
    # doc 1: banner folded via trim+lower, blank line dropped
    assert got[1]["n_kept"] == 1
    assert got[1]["text_clean"] == "unique one"
    assert got[2]["text_clean"] == "pair\nunique two"
    # empty doc: one blank "line" from the split, nothing kept
    assert got[3]["n_kept"] == 0 and got[3]["text_clean"] == ""


def test_line_boilerplate_first_occurrence_also_removed(spark):
    # unlike passage_dedup (first occurrence survives), a boilerplate
    # line is removed from ALL documents including the first
    from narowi_ocr_spark.operators.corpus import line_boilerplate

    rows = [
        Row(doc_id=i, text=f"footer text\nbody {i}") for i in range(4)
    ]
    out = line_boilerplate(spark.createDataFrame(rows), min_docs=3)
    for r in out.collect():
        assert r["text_clean"] == f"body {r['id']}"


def test_dup_span_removal_keeps_first_occurrence(spark):
    from narowi_ocr_spark.operators.corpus import dup_span_removal

    shared = "w1 w2 w3 w4 w5 w6 w7 w8"  # exactly one 8-token window
    rows = [
        Row(doc_id=0, text=f"{shared} tail zero"),
        Row(doc_id=1, text=f"head one {shared}"),
        Row(doc_id=2, text="totally unique words only here now"),
        Row(doc_id=3, text=f"{shared} mid {shared}"),  # self-repetition
    ]
    got = {
        r["doc_id"]: r
        for r in dup_span_removal(
            spark.createDataFrame(rows), k=8
        ).collect()
    }
    # doc 0 owns the packed-key-first occurrence -> untouched
    assert got[0]["n_removed"] == 0
    assert got[0]["text_dedup"] == f"{shared} tail zero"
    # doc 1's occurrence is removed, the rest survives
    assert got[1]["n_removed"] == 8
    assert got[1]["text_dedup"] == "head one"
    # no duplicated window -> identity (modulo whitespace normalization)
    assert got[2]["n_removed"] == 0
    # doc 3: both shared copies are removed (spans [0,7] and [9,16]);
    # the bridging token survives — its own windows mix in 'mid' and
    # are corpus-unique
    assert got[3]["n_removed"] == 16
    assert got[3]["text_dedup"] == "mid"


def test_dup_span_removal_case_folded_matching(spark):
    from narowi_ocr_spark.operators.corpus import dup_span_removal

    lo = "a b c d e f g h"
    rows = [
        Row(doc_id=0, text=lo),
        Row(doc_id=1, text=lo.upper()),  # same folded window
    ]
    got = {
        r["doc_id"]: r
        for r in dup_span_removal(
            spark.createDataFrame(rows), k=8
        ).collect()
    }
    # doc 0 keeps its casing; doc 1 is the removed duplicate
    assert got[0]["text_dedup"] == lo
    assert got[1]["text_dedup"] == "" and got[1]["n_removed"] == 8


def test_otsu_threshold_bimodal_and_ties(spark):
    from narowi_ocr_spark.operators.corpus import otsu_threshold

    # clean bimodal: mass at bins 10 and 90 -> the cut lands strictly
    # between the modes, classes = the two clusters
    rows = [Row(bin=10)] * 40 + [Row(bin=90)] * 60
    (r,) = otsu_threshold(spark.createDataFrame(rows)).collect()
    assert 10 <= r["threshold_bin"] < 90
    assert r["n_le"] == 40 and r["n_gt"] == 60

    # degenerate single-bin input: no valid cut with both classes
    # nonempty -> empty result (documented classic-Otsu exclusion)
    same = spark.createDataFrame([Row(bin=5)] * 10)
    assert otsu_threshold(same).count() == 0

    # symmetric tie: variance equal at the two mirror cuts -> larger
    # bin wins deterministically
    sym = spark.createDataFrame([Row(bin=0), Row(bin=1), Row(bin=2)])
    (t,) = otsu_threshold(sym).collect()
    assert t["threshold_bin"] == 1


def test_passage_dedup_hash_sized_ids(spark):
    """Regression: first-occurrence ordering must hold for hash-sized
    ids (abs(xxhash64) keys) — the packed (id<<24|idx) bigint this
    replaced wrapped above 2^39 and could collide across docs."""
    from narowi_ocr_spark.operators.corpus import passage_dedup

    big = 9_000_000_000_000_000_000
    text = " ".join(f"w{i}" for i in range(16))
    df = spark.createDataFrame(
        [(big, text + " unique tail one"), (3, text + " other tail two")],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in passage_dedup(df, passage_words=16).collect()}
    # the shared first passage survives ONLY in the min-id doc (3)
    assert out[3]["text_dedup"].startswith("w0 ")
    assert not out[big]["text_dedup"].startswith("w0 ")


def test_dup_span_removal_hash_sized_ids(spark):
    from narowi_ocr_spark.operators.corpus import dup_span_removal

    big = 9_000_000_000_000_000_000
    span = " ".join(f"s{i}" for i in range(8))
    df = spark.createDataFrame(
        [(big, span + " apple pear"), (7, span + " cherry plum")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dup_span_removal(df, k=8).collect()}
    # doc 7 is the (doc_id, pos)-lexicographic first: keeps the span
    assert out[7]["n_removed"] == 0
    assert out[big]["n_removed"] == 8
