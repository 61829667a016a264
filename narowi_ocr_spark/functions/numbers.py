"""Numeric-span extraction (SURVEY.md §2 K1-K4) — the NumberExtractor
analogue (reference src/processing/number_extractor.py:73-125) as an
Arrow-batched pandas UDF.

Reference semantics kept exactly:
  - newline normalization only (whole-text matching, not per-line, :87);
  - NO dedup: overlapping patterns emit duplicate spans (:90-123);
  - blood-pressure matches emit TWO spans (systolic then diastolic), both
    with unit 'mmHg' and the same raw_text (:94-111);
  - unit inference from the raw matched text (:127-144);
  - emission order: category order → pattern order → match position.

``validate_number_span`` (K4, :146-170) is provided natively so it stays
inside whole-stage codegen, and so is ``extract_weight_spans`` (K9, the
reference's ``extract_weight``, which crashes on every match).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

import re as _re

from narowi_ocr_spark.schema import NUMBERS_SCHEMA
from narowi_ocr_spark.functions.patterns import (
    NUMBER_UNIT_RANGES,
    READING_PATTERNS,
    compiled_number_patterns,
    has_digit,
)

# Category iteration order == dict insertion order in the pattern table,
# matching the reference's dict iteration (number_extractor.py:90).


def extract_numbers_py(text: str, confidence: float) -> list[dict]:
    """Pure-Python single-document kernel; runs inside Arrow batches only."""
    # Every numeric pattern requires digits; digit-free documents (most
    # web text) short-circuit — semantics-preserving fast path.
    if text is None or not has_digit(text):
        return []
    normalized = text.replace("\r\n", "\n").replace("\r", "\n")
    spans: list[dict] = []
    for category, patterns in compiled_number_patterns().items():
        for pattern in patterns:
            for m in pattern.finditer(normalized):
                raw = m.group(0)
                if category == "blood_pressure":
                    for g in (1, 2):
                        spans.append(
                            {
                                "value": float(m.group(g)),
                                "unit": "mmHg",
                                "confidence": confidence,
                                "raw_text": raw,
                            }
                        )
                else:
                    spans.append(
                        {
                            "value": float(m.group(1)),
                            "unit": _unit_for(category, raw),
                            "confidence": confidence,
                            "raw_text": raw,
                        }
                    )
    return spans


def _unit_for(category: str, raw: str) -> str | None:
    # Reference number_extractor.py:138-144.
    if category == "temperature":
        return "°F" if "F" in raw.upper() else "°C"
    if category == "weight":
        return "lbs" if "lbs" in raw.lower() else "kg"
    if category == "oxygen":
        return "%"
    if category == "heart_rate":
        return "BPM"
    return None


@pandas_udf(NUMBERS_SCHEMA)
def _extract_numbers_udf(
    batches: Iterator[tuple[pd.Series, pd.Series]],
) -> Iterator[pd.Series]:
    for text_s, conf_s in batches:
        yield pd.Series(
            [
                extract_numbers_py(t, float(c) if c is not None else 0.0)
                for t, c in zip(text_s, conf_s)
            ]
        )


def extract_numbers(text: Column | str, confidence: Column | float) -> Column:
    """array<struct<value,unit,confidence,raw_text>> of numeric spans."""
    tcol = F.col(text) if isinstance(text, str) else text
    ccol = F.lit(confidence) if isinstance(confidence, (int, float)) else confidence
    return _extract_numbers_udf(tcol, ccol.cast("double"))


def validate_number_span(value: Column, unit: Column) -> Column:
    """Native range check per unit (K4) — unknown units validate true
    (reference number_extractor.py:167-170). Stays in codegen."""
    expr = F.lit(True)
    for u, (lo, hi) in NUMBER_UNIT_RANGES.items():
        expr = F.when(unit == F.lit(u), value.between(F.lit(lo), F.lit(hi))).otherwise(
            expr
        )
    return expr


# --------------------------------------------------------------------------
# K9 intended semantics: extract_weight (reference pattern_matcher.py:
# 328-348). The reference implementation crashes on every match
# (``match.group(2)`` with 1-group patterns → IndexError), so there is no
# byte-identical behavior to preserve; this implements the INTENDED
# semantics — whole-text scan of the weight patterns with a document-
# global raw-text dedup set — natively. Deliberately NOT byte-compatible
# with the broken reference (COVERAGE.md K9).
# --------------------------------------------------------------------------

_WEIGHT_UNIT_RX = r"(?i)(lbs?|pounds?|lb\.|kg|kilos?|kilograms?)"


def _java(pat: str, flags: int = _re.IGNORECASE) -> str:
    """Python pattern → Java pattern string (the constructs used —
    lookaheads, \\b, non-capturing groups, anchors — are identical; only
    the IGNORECASE flag moves inline)."""
    return ("(?i)" + pat) if flags & _re.IGNORECASE else pat


def _norm(t: Column) -> Column:
    return F.regexp_replace(t, "\r\n|\r", "\n")


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def extract_weight_spans(
    text: Column | str, confidence: Column | float
) -> Column:
    """array<struct<value,unit,raw_text,conf>> of weight spans: pattern
    order → match order, first occurrence of each raw_text wins (the
    ``seen_raw_texts`` set of the reference), value = group(1), unit =
    the lowercased unit token of the match (what the reference's
    ``match.group(2)`` intended to capture)."""
    t = _norm(_col(text))
    ccol = (
        F.lit(float(confidence))
        if isinstance(confidence, (int, float))
        else confidence.cast("double")
    )
    span_t = "array<struct<value:double,unit:string,raw_text:string,conf:double>>"
    arrays = []
    for pat, flags in READING_PATTERNS["WEIGHT"]:
        jp = _java(pat, flags)
        m0 = F.regexp_extract_all(t, F.lit(jp), 0)

        def _mk_factory(c: Column, jp: str):
            def mk(m):
                return F.struct(
                    F.regexp_extract(m, jp, 1).cast("double").alias("value"),
                    F.lower(
                        F.regexp_extract(m, _WEIGHT_UNIT_RX, 1)
                    ).alias("unit"),
                    m.alias("raw_text"),
                    c.alias("conf"),
                )

            return mk

        arrays.append(F.transform(m0, _mk_factory(ccol, jp)))
    spans = F.concat(*arrays)

    acc0 = F.struct(
        F.array().cast(span_t).alias("out"),
        F.array().cast("array<string>").alias("seen"),
    )

    def merge(acc, sp):
        dup = F.array_contains(acc["seen"], sp["raw_text"])
        return F.struct(
            F.when(dup, acc["out"]).otherwise(F.array_append(acc["out"], sp)).alias(
                "out"
            ),
            F.when(dup, acc["seen"])
            .otherwise(F.array_append(acc["seen"], sp["raw_text"]))
            .alias("seen"),
        )

    out = F.aggregate(spans, acc0, merge, lambda acc: acc["out"])
    return F.when(_col(text).isNotNull(), out).otherwise(F.array().cast(span_t))
