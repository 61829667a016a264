"""The fused clean stage against independent forms of its gates.

``build_clean_ids`` tokenizes once, hashes its n-grams and takes each
verdict once per document. On a corpus with every planted reject class
its survivors must equal the AND of the gates' stat-table forms, and the
hashed repetition statistics must equal the string n-gram statistics
(``ngrams`` + exact counting in Python)."""

from collections import Counter

import pytest

from narowi_ocr_spark.functions.native import round4_py
from narowi_ocr_spark.functions.textstats import (
    DUP_3GRAM_FRAC_MAX,
    TOP_2GRAM_FRAC_MAX,
    ngrams,
    with_c4_rules,
    with_gopher_rules,
    with_repetition_stats,
    with_text_stats,
)
from narowi_ocr_spark.operators.corpus import blocklist_gate
from narowi_ocr_spark.sources.pages import build_page

BLOCKLIST = ["slow", "dup"]
REP = ("buy cheap deals now " * 12).strip() + "."
DE = (
    "der hund und die katze ist nicht mit dem ball zu den kindern "
    "gelaufen, das war ein schöner tag."
)
LQ = "the 4821 7730 of 1193 2207 5518 9930 3317 6604 1185 7342 0093."
BLOCK = "the slow approach of the team works well with each page."
BRACE = "the template {name} of the page works well with each reader."


def _corpus():
    """(doc_id, text, planted class) rows: organic prose pages, one
    planted reject per class, near-dups and exact dups of organic pages,
    and degenerate texts."""
    organic = [build_page(i, 64, True)[3] for i in range(40)]
    rows = [(i, t, "organic") for i, t in enumerate(organic)]
    planted = {
        "repetitive": "\n".join([REP] * 6),
        "non_english": "\n".join([DE] * 8),
        "low_quality": "\n".join([LQ] * 8),
        "blocklisted": organic[0] + "\n" + BLOCK,
        "c4_brace": organic[1] + "\n" + BRACE,
        "near_dup": organic[2] + "\nsee the appendix note alpha for this page.",
        "exact_dup": organic[3],
        "empty": "",
        "blank": " \n\t ",
        "one_word": "word",
        "two_words": "two words",
        "null": None,
    }
    rows += [(100 + k, t, c) for k, (c, t) in enumerate(planted.items())]
    return rows


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        _corpus(), "doc_id long, text string, planted string"
    ).cache()


def _string_gram_stats(grams2, grams3):
    """Repetition statistics over string n-grams, counted exactly."""

    def dup(g):
        return round4_py(1.0 - len(set(g)) / len(g)) if g else 0.0

    top2 = round4_py(max(Counter(grams2).values()) / len(grams2)) if grams2 else 0.0
    dup3 = dup(grams3)
    return {
        "n_2grams": len(grams2),
        "frac_dup_2gram": dup(grams2),
        "frac_dup_3gram": dup3,
        "top_2gram_frac": top2,
        "is_repetitive": top2 > TOP_2GRAM_FRAC_MAX or dup3 > DUP_3GRAM_FRAC_MAX,
    }


@pytest.fixture(scope="module")
def ref(docs):
    return {
        r["doc_id"]: _string_gram_stats(r["g2"], r["g3"])
        for r in docs.select(
            "doc_id", ngrams("text", 2).alias("g2"), ngrams("text", 3).alias("g3")
        ).collect()
    }


def test_hashed_repetition_stats_equal_string_ngram_stats(docs, ref):
    got = {
        r["doc_id"]: {k: r[k] for k in ref[r["doc_id"]]}
        for r in with_repetition_stats(docs).collect()
    }
    assert got == ref
    # the planted repetitive page is flagged, organic pages are not
    flagged = {i for i, s in got.items() if s["is_repetitive"]}
    assert 100 in flagged and not flagged & set(range(40))


def test_fused_verdicts_equal_the_stat_table_forms(docs, ref):
    from run_release_job import build_clean_ids, clean_flags

    def by_id(df, id_col, col):
        return {r[id_col]: r[col] for r in df.select(id_col, col).collect()}

    c4 = by_id(with_c4_rules(docs), "id", "c4_keep")
    bl = by_id(blocklist_gate(docs, BLOCKLIST), "doc_id", "keep")
    gopher = by_id(with_gopher_rules(docs), "id", "gopher_keep")
    text = {
        r["doc_id"]: r["lang_pred"] == "en" and r["q"] >= 0.5
        for r in with_text_stats(docs).collect()
    }
    ids = sorted(c4)
    base = {i for i in ids if c4[i] and bl[i]}
    full = {
        i for i in base if text[i] and not ref[i]["is_repetitive"] and gopher[i]
    }

    for full_gates, want in ((False, base), (True, full)):
        flags = by_id(clean_flags(docs, BLOCKLIST, True, full_gates), "doc_id", "keep")
        assert {i for i, k in flags.items() if k} == want
        got = build_clean_ids(docs, BLOCKLIST, True, full_gates)
        assert {r["doc_id"] for r in got.collect()} == want

    # every planted reject class dies under the full stack; organic
    # pages and their near/exact dups survive it
    planted = dict(docs.select("doc_id", "planted").collect())
    rejects = {
        "repetitive", "non_english", "low_quality", "blocklisted", "c4_brace",
        "empty", "blank", "one_word", "two_words", "null",
    }
    assert not {i for i in full if planted[i] in rejects}
    assert {i for i in ids if planted[i] in ("organic", "near_dup", "exact_dup")} <= full


def test_empty_blocklist_blocks_nothing(spark):
    """An empty blocklist has no terms; only ``None`` selects the
    default list."""
    from run_release_job import clean_flags

    docs = spark.createDataFrame([(1, BLOCK)], "doc_id long, text string")
    assert clean_flags(docs, [], apply_c4=False).collect()[0]["keep"]
    assert not clean_flags(docs, apply_c4=False).collect()[0]["keep"]


def test_preserve_forms_select_the_stat_forms_verdicts(docs):
    """Each gate's preserve form appends the stat form's keep column, and
    leaves the input columns (the shared token array included) as they
    were."""
    from narowi_ocr_spark.functions.textstats import TOKS, with_tokens

    def keeps(df, col):
        return {r["doc_id"]: r[col] for r in df.select("doc_id", col).collect()}

    staged = with_tokens(docs)
    for gate, col, stat in (
        (lambda d: with_c4_rules(d, preserve=True), "c4_keep",
         with_c4_rules(docs).withColumnRenamed("id", "doc_id")),
        (lambda d: blocklist_gate(d, BLOCKLIST, preserve=True), "bl_keep",
         blocklist_gate(docs, BLOCKLIST).withColumnRenamed("keep", "bl_keep")),
        (lambda d: with_gopher_rules(d, preserve=True), "gopher_keep",
         with_gopher_rules(docs).withColumnRenamed("id", "doc_id")),
    ):
        plain = gate(docs)
        assert plain.columns == [*docs.columns, col]
        chained = gate(staged)
        assert chained.columns == [*staged.columns, col]
        assert keeps(plain, col) == keeps(chained, col) == keeps(stat, col)
    assert TOKS not in with_repetition_stats(with_text_stats(docs)).columns
