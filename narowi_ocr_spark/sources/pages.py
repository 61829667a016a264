"""Deterministic synthetic Common-Crawl-style pages corpus (SURVEY.md §2
S8; FIXTURES.md §1).

The reference ships deterministic labeled fixture generators with the
expected value embedded in the artifact itself (generate_synthetic_readings
.py:6-49, src/utils/generate_synth_scale.py:18-60 — value in the
filename). Same pattern here: every generated page carries its expected
extracted main text in the ``text`` oracle column, and golden strings from
the reference's passing tests are embedded verbatim in content blocks.

Generation is fully distributed (mapInPandas over spark.range) and
deterministic per row id — no driver-side loops, no external data, any
scale. Hosts are Zipf-skewed (~20% of pages on three hot hosts) so the
salted-partitioning path is exercised honestly.
"""

from __future__ import annotations

import html as _html
from datetime import datetime, timedelta
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from narowi_ocr_spark.schema import PAGES_SCHEMA

# Golden strings from the reference's passing tests
# (tests/test_pattern_matcher.py:9-185) — one per page, cycled.
GOLDEN_SNIPPETS = [
    "98.6F", "37.0°C", "TEMP: 98.6F", "T: 98.6F", "105F", "34C",
    "150.5 lbs", "68.2 kg", "WT: 150.5 lbs", "W: 150.5 lbs", "450 lbs", "15 kg",
    "120/80 mmHg", "BP: 120/80", "SYS: 120 DIA: 80", "S: 120 D: 80",
    "85/60 mmHg", "150/95 mmHg",
    "SpO2: 98%", "O2: 98%", "65%", "101%",
    "72 BPM", "HR: 72", "PULSE: 72", "P: 72", "35 BPM", "205 BPM",
    "120 mg/dL", "6.7 mmol/L", "BG: 120 mg/dL", "GLU: 120 mg/dL",
    "45 mg/dL", "2.5 mmol/L",
    "16 RR", "RR: 16", "RESP: 16", "R: 16", "6 RR", "45 RR",
    "7/10", "PAIN: 7/10", "P: 7/10", "7 out of 10", "11/10",
    "170 cm", "5'10\"", "H: 170 cm", "HT: 170 cm", "25 cm", "260 cm",
]

# Multi-reading documents (test_pattern_matcher.py:215-263), embedded as
# single content blocks. Leading/trailing whitespace is stripped at block
# level by construction (block text is always stripped).
GOLDEN_DOCS = [
    "Temperature: 98.6F\n    Blood Pressure: 120/80 mmHg\n    Oxygen: 98%\n"
    "    Heart Rate: 72 BPM\n    Weight: 150.5 lbs\n    Height: 5'10\"\n"
    "    Blood Glucose: 120 mg/dL\n    Respiratory Rate: 16 RR\n"
    "    Pain Scale: 7/10",
    "Temperature: 105F\n    Blood Pressure: 150/95 mmHg\n    Oxygen: 65%\n"
    "    Heart Rate: 35 BPM\n    Weight: 450 lbs\n    Height: 25 cm\n"
    "    Blood Glucose: 45 mg/dL\n    Respiratory Rate: 6 RR\n"
    "    Pain Scale: 11/10",
]

_VOCAB = (
    "the quick brown fox jumps over a lazy dog while data flows through "
    "spark partitions and content blocks carry the main text of each page "
    "readers want boilerplate stripped and values extracted with care"
).split()

_EPOCH = datetime(2024, 1, 1)
_KNUTH = 2654435761  # multiplicative hash constant

# prose mode (see _filler): function words left unsuffixed so the
# stopword-driven gates (lang id, quality score, Gopher r_stopwords)
# see real English signal; everything else gets a letter suffix
_PROSE_KEEP = frozenset(
    ["the", "a", "of", "and", "with", "over", "while", "through", "each"]
)
_ALPHA = "abcdefghijklmnopqrstuvwxyz"


def _h(i: int, salt: int = 0) -> int:
    return ((i + salt * 1_000_003) * _KNUTH) % (1 << 32)


def _filler(i: int, k: int, vocab_scale: int = 1, prose: bool = False) -> str:
    """``vocab_scale=1`` (default) is the byte-locked fixture text.
    ``vocab_scale > 1`` suffixes each word with a hash-derived index in
    [0, vocab_scale), multiplying the effective vocabulary — random
    pages then have realistically LOW Jaccard overlap, which the base
    31-word vocabulary does not (its uniform ~0.7 inter-document
    similarity makes MinHash blocking degenerate: every pair becomes
    an LSH candidate — fine for correctness fixtures, pathological for
    benchmarking the near-dedup composition).

    ``prose=True`` (vocab_scale > 1 only) shapes the same diverse text
    like organic English so the FULL curation gate stack (language ID,
    quality score, Gopher rules, C4 line rules) passes at realistic
    rates instead of rejecting the corpus wholesale (BENCH.md's
    full-gate release ladder ran on it)."""
    n_words = 20 + _h(i, 10 + k) % 60
    words = []
    for j in range(n_words):
        h = _h(i, 100 + 57 * k + j)
        w = _VOCAB[h % len(_VOCAB)]
        if vocab_scale > 1:
            if prose:
                # prose mode: function words stay unsuffixed (so the
                # language/stopword/quality gates see real English
                # signal) and content words take a LETTER suffix (digit
                # suffixes crater the alpha-char ratio that both the
                # quality score and Gopher's alpha-word rule measure);
                # inter-document diversity is unchanged — content words
                # still span a vocab_scale× vocabulary.
                if w not in _PROSE_KEEP:
                    sfx = (h >> 8) % vocab_scale
                    w = f"{w}{_ALPHA[sfx % 26]}{_ALPHA[(sfx // 26) % 26]}"
            else:
                w = f"{w}{(h >> 8) % vocab_scale}"
        words.append(w)
    text = " ".join(words)
    # terminal punctuation per paragraph: the C4 line rules gate on it
    return text + "." if prose else text


def build_page(
    i: int, vocab_scale: int = 1, prose: bool = False
) -> tuple[str, datetime, bytes, str, str]:
    """One deterministic page: (url, warc_ts, html, oracle_text, lang)."""
    hv = _h(i)
    host = (
        f"hot{hv % 3}.example"
        if hv % 100 < 20
        else f"host{_h(i, 1) % 5000}.example"
    )
    url = f"https://{host}/page/{i}"
    lang = ("de", "fr")[hv % 2] if hv % 100 >= 95 else "en"

    content: list[str] = [
        _filler(i, k, vocab_scale, prose) for k in range(5 + _h(i, 2) % 10)
    ]
    if i % 7 == 0:
        content.insert(
            1 % (len(content) + 1), GOLDEN_SNIPPETS[(i // 7) % len(GOLDEN_SNIPPETS)]
        )
    if i % 53 == 0:
        content.append(GOLDEN_DOCS[(i // 53) % len(GOLDEN_DOCS)])

    nav = " ".join(
        f'<a href="/s/{j}">{_VOCAB[_h(i, 200 + j) % len(_VOCAB)]}</a>'
        for j in range(6)
    )
    footer = " ".join(f'<a href="/f/{j}">link{j}</a>' for j in range(5))
    body = "\n".join(
        f"<{'p' if _h(i, 300 + k) % 3 else 'div'}>{_html.escape(c)}</"
        f"{'p' if _h(i, 300 + k) % 3 else 'div'}>"
        for k, c in enumerate(content)
    )
    page = (
        f"<html><head><title>Page {i}</title>"
        f"<style>body {{ margin:0 }}</style>"
        f"<script>var x = {i}; if (x > 1) {{ x += 1 }}</script></head>"
        f"<body><!-- generated fixture {i} --><nav>{nav}</nav>\n"
        f"{body}\n<footer>{footer}</footer></body></html>"
    )
    oracle = "\n".join(content)
    return url, _EPOCH + timedelta(seconds=i), page.encode("utf-8"), oracle, lang


def synth_pages(
    spark: SparkSession,
    n_rows: int,
    partitions: int | None = None,
    vocab_scale: int = 1,
    prose: bool = False,
) -> DataFrame:
    """Distributed deterministic pages table of ``n_rows`` rows.
    ``vocab_scale`` (default 1 = the byte-locked fixture corpus) widens
    the filler vocabulary for realistic inter-document diversity — see
    ``_filler``; ``prose`` additionally shapes it like organic English
    (for full-gate-stack benchmarks). Extraction byte-identity
    (text == extracted main text) holds at every scale by construction."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [build_page(int(i), vocab_scale, prose) for i in pdf["id"]]
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    rng = spark.range(n_rows, numPartitions=partitions)
    return rng.mapInPandas(gen, PAGES_SCHEMA)


def build_pdf_page(i: int) -> tuple[str, datetime, bytes, str, str]:
    """One deterministic PDF document: same filler/golden content plan
    as ``build_page``, but the payload is a minimal PDF (text objects,
    FlateDecode on every third doc) built by ``pdftext.build_pdf`` —
    the oracle ``text`` column is the expected extracted main text."""
    from narowi_ocr_spark.operators.pdftext import build_pdf

    content: list[str] = [_filler(i, k) for k in range(3 + _h(i, 2) % 6)]
    if i % 5 == 0:
        content.insert(1, GOLDEN_SNIPPETS[(i // 5) % len(GOLDEN_SNIPPETS)])
    if i % 29 == 0:
        content.append(GOLDEN_DOCS[(i // 29) % len(GOLDEN_DOCS)])
    oracle = "\n".join(content)
    payload = build_pdf(oracle, compress=(i % 3 == 0))
    host = f"docs{_h(i, 7) % 500}.example"
    url = f"https://{host}/report/{i}.pdf"
    return url, _EPOCH + timedelta(seconds=i), payload, oracle, "en"


def synth_pdf_pages(
    spark: SparkSession, n_rows: int, partitions: int | None = None
) -> DataFrame:
    """Distributed deterministic PDF-documents table (same schema as
    ``synth_pages``; payload rides the ``html`` binary column — the
    pages table's payload column is modality-agnostic bytes, the
    ``doc_type`` a caller attaches picks the parser)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [build_pdf_page(int(i)) for i in pdf["id"]]
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    rng = spark.range(n_rows, numPartitions=partitions)
    return rng.mapInPandas(gen, PAGES_SCHEMA)
