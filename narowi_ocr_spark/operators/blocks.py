"""HTML → DOM-block tokenization and content-block classification
(SURVEY.md §2 P4-P8, R1-R5).

The reference segments an image into candidate display regions with contour
detection, scores them by shape, and keeps LCD-like regions
(src/processing/roi_detector.py:49-146). The web-text recast: segment the
raw html byte stream into candidate DOM blocks, score each by text density
and link density, and keep content-like blocks (boilerpipe/jusText-style).

Split of labor, chosen for the 100 TB plan shape:
  - ``tokenize_html``  — ONE Arrow-batched pandas UDF doing all the
    Python-regex work per document (noise strip → block split → tag strip →
    entity unescape). One fused stage = one JVM↔Python hop; raw html bytes
    never survive past it, so downstream shuffles move text, not payloads.
  - ``score_blocks`` / ``rank_blocks`` — pure Catalyst expressions over the
    block array (higher-order functions: no explode, no shuffle) or over
    exploded rows (window variant for per-url ranking).
"""

from __future__ import annotations

import html as _html
import re
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window

from narowi_ocr_spark.functions.native import round4, round4_py
from narowi_ocr_spark.schema import BLOCKS_SCHEMA, SCORED_BLOCKS_SCHEMA

# ---------------------------------------------------------------- tokenizer

# Noise elements removed before segmentation (P5 — the bilateral-filter
# analogue: drop noise, keep structural edges).
_NOISE_RE = re.compile(
    r"<script\b.*?</script\s*>|<style\b.*?</style\s*>|<!--.*?-->",
    re.IGNORECASE | re.DOTALL,
)

# Block-level open tags define segment boundaries (R1 — contour detection).
# (?!/) only skips closing tags early: no alternative starts with "/".
_BLOCK_OPEN_RE = re.compile(
    r"<(?!/)(p|div|li|h[1-6]|td|th|title|nav|footer|header|article|section"
    r"|blockquote|pre|ul|ol|tr|table)\b[^>]*>",
    re.IGNORECASE,
)

_ANCHOR_RE = re.compile(r"<a\b[^>]*>(.*?)</a\s*>", re.IGNORECASE | re.DOTALL)
_TAG_RE = re.compile(r"<[^>]*>")


def iter_blocks(payload: bytes | str | None) -> Iterator[tuple[str, str, int, int]]:
    """The one block walk: ``(tag, text, text_len, link_len)`` for each
    non-empty DOM block of one document, in document order. A block is
    the span from a block-level open tag to the next one (text before
    the first is not a block); its text is tag-stripped, unescaped and
    stripped, and its link length sums its anchors' texts, capped at
    the block's length."""
    if payload is None:
        return
    doc = payload.decode("utf-8", errors="replace") if isinstance(payload, bytes) else payload
    # [lead, tag, fragment, tag, fragment, ...]
    parts = _BLOCK_OPEN_RE.split(_NOISE_RE.sub("", doc))
    tag_sub = _TAG_RE.sub
    unescape = _html.unescape
    anchors = _ANCHOR_RE.findall
    for i in range(2, len(parts), 2):
        fragment = parts[i]
        text = unescape(tag_sub("", fragment) if "<" in fragment else fragment).strip()
        if not text:
            continue  # P8: drop empty specks, as morphological opening does
        tl = len(text)
        link_len = 0
        if "<a" in fragment or "<A" in fragment:
            for a in anchors(fragment):
                link_len += len(unescape(tag_sub("", a) if "<" in a else a).strip())
        yield parts[i - 1].lower(), text, tl, link_len if link_len < tl else tl


def tokenize_html_py(payload: bytes | str | None) -> list[dict]:
    """Pure-Python single-document tokenizer; runs inside Arrow batches."""
    return [
        {
            "block_idx": i,
            "tag": tag,
            "text": text,
            "text_len": tl,
            "link_len": ll,
            "word_count": len(text.split()),
        }
        for i, (tag, text, tl, ll) in enumerate(iter_blocks(payload))
    ]


@pandas_udf(BLOCKS_SCHEMA)
def _tokenize_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    for s in batches:
        yield s.map(tokenize_html_py)


def tokenize_html(html_col: Column | str) -> Column:
    """array<struct<block_idx,tag,text,text_len,link_len,word_count>>."""
    col = F.col(html_col) if isinstance(html_col, str) else html_col
    return _tokenize_udf(col)


def block_score_py(text_len: int, link_len: int) -> float:
    """Python mirror of block_score_expr — same IEEE arithmetic in the
    same order; rounding via round4_py (IEEE-exact floor form,
    identical to the JVM round4 expression and the DuckDB oracles)."""
    ld = link_len / (text_len if text_len > 1 else 1.0)
    raw = 0.7 * (1.0 - ld) + 0.3 * (
        text_len / LENGTH_SATURATION if text_len < LENGTH_SATURATION else 1.0
    )
    return round4_py(100.0 * (raw if 0.0 <= raw <= 1.0 else (0.0 if raw < 0.0 else 1.0)))


def _score_block_py(
    b: dict,
    max_link_density: float | None = None,
    min_text_len: int | None = None,
) -> dict:
    """Python mirror of block_score_expr/is_content_expr. The classifier
    thresholds default to the module constants and accept per-document
    overrides (T2 extraction modes)."""
    mld = MAX_LINK_DENSITY if max_link_density is None else max_link_density
    mtl = MIN_TEXT_LEN if min_text_len is None else min_text_len
    tl = b["text_len"]
    b["score"] = block_score_py(tl, b["link_len"])
    ld = b["link_len"] / (tl if tl > 1 else 1.0)
    b["is_content"] = ld < mld and tl >= mtl and b["tag"] in _CONTENT_TAG_SET
    return b


def tokenize_and_score_py(
    payload: bytes | str | None,
    max_link_density: float | None = None,
    min_text_len: int | None = None,
) -> list[dict]:
    """Tokenize + score: the scored block dicts of one document, as
    ``score_blocks(tokenize_html(c))`` builds them (pinned by
    tests/test_pipeline_fused.py). The fused page kernel does not build
    these dicts; it reads ``iter_blocks`` directly."""
    return [
        _score_block_py(b, max_link_density, min_text_len)
        for b in tokenize_html_py(payload)
    ]


@pandas_udf(SCORED_BLOCKS_SCHEMA)
def _tokenize_score_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    for s in batches:
        yield s.map(tokenize_and_score_py)


def tokenize_scored(html_col: Column | str) -> Column:
    """Fused tokenize + score in ONE Arrow stage (SURVEY.md §2 P9: one
    Python hop per document). Identical output to
    ``score_blocks(tokenize_html(c))``, but downstream consumers reference
    the UDF's output attribute — cheap for Catalyst — instead of a
    higher-order expression that CollapseProject would re-inline into
    every one of the ~5 downstream references (measured ~3× pipeline
    slowdown)."""
    col = F.col(html_col) if isinstance(html_col, str) else html_col
    return _tokenize_score_udf(col)


# ------------------------------------------------------- scoring (native)

# Content-plausible tags (R2 analogue of the area/aspect predicate).
CONTENT_TAGS = [
    "p", "div", "li", "h1", "h2", "h3", "h4", "h5", "h6",
    "td", "th", "article", "section", "blockquote", "pre",
    # PDF text objects (operators/pdftext.py) — never emitted by the
    # HTML tokenizer, so adding it cannot change any HTML-path result
    "pdftext",
]
MAX_LINK_DENSITY = 1.0 / 3.0
MIN_TEXT_LEN = 1
LENGTH_SATURATION = 200.0  # text_len at which the length factor saturates
# O(1) membership for the fused Python kernel (same elements as the list)
_CONTENT_TAG_SET = frozenset(CONTENT_TAGS)


def _link_density(b: Column) -> Column:
    return b["link_len"].cast("double") / F.greatest(
        b["text_len"].cast("double"), F.lit(1.0)
    )


def block_score_expr(b: Column) -> Column:
    """R3 analogue: weighted combo clamped to [0,100]
    (reference _calculate_confidence: 0.3·circularity + 0.7·rectangularity,
    roi_detector.py:112-121 → here 0.7·(1−link_density) + 0.3·length)."""
    ld = _link_density(b)
    length_factor = F.least(
        b["text_len"].cast("double") / F.lit(LENGTH_SATURATION), F.lit(1.0)
    )
    raw = 0.7 * (F.lit(1.0) - ld) + 0.3 * length_factor
    return round4(100.0 * F.least(F.greatest(raw, F.lit(0.0)), F.lit(1.0)))


def is_content_expr(
    b: Column,
    max_link_density: float | Column = MAX_LINK_DENSITY,
    min_text_len: int | Column = MIN_TEXT_LEN,
) -> Column:
    """R4 analogue of _is_lcd_display's stat conjunction
    (roi_detector.py:141-146): low link density AND plausible length AND a
    content-plausible tag. The thresholds accept Columns so per-doc-type
    extraction modes (T2, plans/pipeline.py EXTRACTION_MODES) dispatch
    inside the same expression — no per-mode plan branches."""
    mld = (
        F.lit(float(max_link_density))
        if isinstance(max_link_density, (int, float))
        else max_link_density
    )
    mtl = (
        F.lit(int(min_text_len))
        if isinstance(min_text_len, int)
        else min_text_len
    )
    return (
        (_link_density(b) < mld)
        & (b["text_len"] >= mtl)
        & b["tag"].isin(CONTENT_TAGS)
    )


def score_blocks(
    blocks: Column | str,
    max_link_density: float | Column = MAX_LINK_DENSITY,
    min_text_len: int | Column = MIN_TEXT_LEN,
) -> Column:
    """Enrich each block struct with `score` and `is_content` — a single
    higher-order transform, no explode, no shuffle. Classifier thresholds
    may be per-row Columns (T2 doc-type modes)."""
    col = F.col(blocks) if isinstance(blocks, str) else blocks
    return F.transform(
        col,
        lambda b: F.struct(
            b["block_idx"].alias("block_idx"),
            b["tag"].alias("tag"),
            b["text"].alias("text"),
            b["text_len"].alias("text_len"),
            b["link_len"].alias("link_len"),
            b["word_count"].alias("word_count"),
            block_score_expr(b).alias("score"),
            is_content_expr(b, max_link_density, min_text_len).alias(
                "is_content"
            ),
        ),
    )


def rank_blocks(df: DataFrame, blocks_col: str = "blocks", key: str = "url") -> DataFrame:
    """R5/R7: explode scored blocks and rank per document by score
    descending (tie-break on block_idx for determinism). ``rank == 1`` is
    the top-1 fallback block (reference largest-contour crop)."""
    w = Window.partitionBy(key).orderBy(
        F.desc("block.score"), F.asc("block.block_idx")
    )
    return (
        df.select(key, F.explode(blocks_col).alias("block"))
        .withColumn("rank", F.row_number().over(w))
    )


def top_block(blocks: Column | str) -> Column:
    """Shuffle-free top-1 block (highest score, lowest idx on ties) via an
    array_sort comparator — the fallback when the classifier keeps none
    (R7, reference largest-contour crop)."""
    col = F.col(blocks) if isinstance(blocks, str) else blocks

    def cmp(l: Column, r: Column) -> Column:
        return (
            F.when(l["score"] > r["score"], F.lit(-1))
            .when(l["score"] < r["score"], F.lit(1))
            .otherwise((l["block_idx"] - r["block_idx"]).cast("int"))
        )

    return F.element_at(F.array_sort(col, cmp), 1)
