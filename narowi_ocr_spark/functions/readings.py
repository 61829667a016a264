"""The reading-span extraction kernel (SURVEY.md §2 K5-K7) — byte-identical
to the reference's ``PatternMatcher.find_readings``
(src/processing/pattern_matcher.py:122-220), re-expressed as an
Arrow-batched pandas UDF.

Semantics reproduced exactly (verified by the ported golden tests plus a
differential fuzz against the reference implementation):

  1. newline normalization, then per-line matching  (:128-130) — which makes
     the vertical "\\n" patterns unreachable, as in the reference;
  2. line-prefix dispatch: ``^\\s*R:`` lines try only respiratory patterns,
     ``^\\s*P:`` lines try pain (if a "/10" hint is present) else heart-rate
     (:147-161);
  3. a document-global *matched-substring* dedup set (so a second "72 BPM"
     line emits nothing, :167-169), a document-global (type, value, unit)
     dedup set (:209-212), and a max-one-reading-per-type-per-line set
     (:210-213);
  4. value/unit coercion: feet'inches → total inches; 2-group HR/RESP
     patterns take group(2); BP emits value = int systolic with the
     composite unit "{sys}/{dia} mmHg" (:171-198);
  5. per-type range validation (:201-208, ranges :222-268).

The per-document dedup state lives inside a single function call per row,
so rows parallelize perfectly across Arrow batches; there is no
cross-document state.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from narowi_ocr_spark.schema import READINGS_SCHEMA
from narowi_ocr_spark.functions.patterns import (
    BP_DIA_RANGE,
    BP_SYS_RANGE,
    DEFAULT_CATEGORY_ORDER,
    DEFAULT_UNITS,
    READING_RANGES,
    compiled_line_dispatch,
    compiled_reading_patterns,
    has_digit,
)

_TWO_ARG_TYPES = frozenset({"HEART_RATE", "RESPIRATORY_RATE"})


def _in_range(type_name: str, value: float, unit: str) -> bool:
    by_unit = READING_RANGES[type_name]
    lo, hi = by_unit.get(unit, by_unit[""])
    return lo <= value <= hi


def extract_readings_py(text: str) -> list[dict]:
    """Pure-Python single-document kernel; runs inside Arrow batches only."""
    # every reference pattern needs a digit, so a digit-free document
    # (most web text) and, below, a digit-free line yield nothing
    if text is None or not has_digit(text):
        return []
    pats = compiled_reading_patterns()
    re_r, re_p, re_pain_hint = compiled_line_dispatch()

    out: list[dict] = []
    seen_substrings: set[str] = set()        # document-global
    seen_triples: set[tuple] = set()         # document-global
    lines = text.replace("\r\n", "\n").replace("\r", "\n").split("\n")

    for line in lines:
        if not has_digit(line):
            continue
        if re_r.match(line):
            categories = ["RESPIRATORY_RATE"]
        elif re_p.match(line):
            categories = (
                ["PAIN_SCALE"] if re_pain_hint.search(line) else ["HEART_RATE"]
            )
        else:
            categories = DEFAULT_CATEGORY_ORDER

        hits: list[tuple] = []
        for cat in categories:
            for pattern in pats[cat]:
                for m in pattern.finditer(line):
                    if m.group(0) in seen_substrings:
                        continue
                    seen_substrings.add(m.group(0))
                    hits.append((m, cat))

        types_this_line: set[str] = set()
        for m, cat in hits:
            matched = m.group(0)
            if cat == "HEIGHT" and "cm" not in matched.lower():
                value: float = int(m.group(1)) * 12 + int(m.group(2))
                unit = "in"
                valid = _in_range(cat, value, unit)
            elif cat == "BLOOD_PRESSURE":
                sys_v, dia_v = int(m.group(1)), int(m.group(2))
                value = sys_v
                unit = f"{sys_v}/{dia_v} mmHg"
                valid = (
                    BP_SYS_RANGE[0] <= sys_v <= BP_SYS_RANGE[1]
                    and BP_DIA_RANGE[0] <= dia_v <= BP_DIA_RANGE[1]
                )
            else:
                if cat in _TWO_ARG_TYPES and m.lastindex == 2:
                    value = float(m.group(2))
                else:
                    value = float(m.group(1))
                low = matched.lower()
                if cat == "TEMPERATURE":
                    unit = "F" if "f" in low else "C"
                elif cat == "WEIGHT":
                    unit = "kg" if "kg" in low else "lb"
                elif cat == "BLOOD_GLUCOSE":
                    unit = "mmol/L" if "mmol" in low else "mg/dL"
                else:
                    unit = DEFAULT_UNITS.get(cat, "")
                valid = _in_range(cat, value, unit)

            triple = (cat, value, unit)
            if triple in seen_triples or cat in types_this_line:
                continue
            seen_triples.add(triple)
            types_this_line.add(cat)
            out.append(
                {"type": cat, "value": float(value), "unit": unit, "is_valid": valid}
            )
    return out


@pandas_udf(READINGS_SCHEMA)
def _extract_readings_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    # Iterator form: pattern tables are compiled once per worker (lru_cache)
    # and every batch is a zero-copy Arrow transfer.
    for s in batches:
        yield s.map(extract_readings_py)


def extract_readings(text: Column | str) -> Column:
    """array<struct<type,value,unit,is_valid>> of typed reading spans."""
    col = F.col(text) if isinstance(text, str) else text
    return _extract_readings_udf(col)
