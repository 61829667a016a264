"""Span-extraction pattern tables and range validators — pure data.

Semantics replicate the reference byte-for-byte (the 20 passing tests of
brody-armstrong/Narowi-OCR are the contract):

  - reading pattern tables: reference src/processing/pattern_matcher.py:32-120
  - category precedence:    pattern_matcher.py:133-143
  - range validators:       pattern_matcher.py:222-268
  - numeric-span tables:    src/processing/number_extractor.py:17-64
  - numeric range table:    number_extractor.py:156-165

The regex strings must be identical to the reference's (Python ``re``
semantics — lookaheads, IGNORECASE over '°', group numbering — are part of
the contract), but everything around them is our own: patterns live in flat
data tables keyed by canonical type name, compiled lazily once per Python
worker process, and are consumed only by Arrow-batched kernels
(functions/readings.py, functions/numbers.py) — never per-row driver code.
"""

from __future__ import annotations

import re
from functools import lru_cache

I = re.IGNORECASE

# --------------------------------------------------------------------------
# Reading-span patterns, keyed by canonical ReadingType name.
# Each entry: (pattern, flags). Vertical "\n" variants are intentionally
# retained even though per-line matching makes them unreachable — the
# reference behaves identically (SURVEY.md §2 K6 "dead code" note).
# --------------------------------------------------------------------------
READING_PATTERNS: dict[str, list[tuple[str, int]]] = {
    "TEMPERATURE": [
        (r"(\d+(?:\.\d+)?)\s*[°]?(?:F(?!m)|C(?!m)|f(?!m)|c(?!m))", I),
        (r"[°]?(?:F(?!m)|C(?!m)|f(?!m)|c(?!m))\s*(\d+(?:\.\d+)?)", I),
        (r"(\d+(?:\.\d+)?)\s*[°]?(?:F(?!m)|C(?!m)|f(?!m)|c(?!m))\s*$", I),
        (r"^[°]?(?:F(?!m)|C(?!m)|f(?!m)|c(?!m))\s*(\d+(?:\.\d+)?)", I),
        (r"[°]?(?:F(?!m)|C(?!m)|f(?!m)|c(?!m))\n(\d+(?:\.\d+)?)", I),
        (r"(\d+(?:\.\d+)?)\n[°]?(?:F(?!m)|C(?!m)|f(?!m)|c(?!m))", I),
        (r"TEMP:?\s*(\d+(?:\.\d+)?)\s*[°]?(?:F(?!m)|C(?!m)|f(?!m)|c(?!m))", I),
        (r"T:?\s*(\d+(?:\.\d+)?)\s*[°]?(?:F(?!m)|C(?!m)|f(?!m)|c(?!m))", I),
    ],
    "WEIGHT": [
        (r"(\d+(?:\.\d+)?)\s*(?:lbs?|pounds?|lb\.)", I),
        (r"(?:lbs?|pounds?|lb\.)\s*(\d+(?:\.\d+)?)", I),
        (r"(\d+(?:\.\d+)?)\s*(?:kg|kilos?|kilograms?)", I),
        (r"(?:kg|kilos?|kilograms?)\s*(\d+(?:\.\d+)?)", I),
        (r"WT:?\s*(\d+(?:\.\d+)?)\s*(?:lbs?|kg)", I),
        (r"W:?\s*(\d+(?:\.\d+)?)\s*(?:lbs?|kg)", I),
        (r"(?:lbs?|kg)\n(\d+(?:\.\d+)?)", I),
        (r"(\d+(?:\.\d+)?)\n(?:lbs?|kg)", I),
    ],
    "BLOOD_PRESSURE": [
        (r"(\d+)\s*/\s*(\d+)\s*(?:mmHg|BP)?", 0),
        (r"(?:mmHg|BP)\s*(\d+)\s*/\s*(\d+)", 0),
        (r"BP:?\s*(\d+)\s*/\s*(\d+)", 0),
        (r"(?:mmHg|BP)\n(\d+)\s*/\s*(\d+)", 0),
        (r"(\d+)\s*/\s*(\d+)\n(?:mmHg|BP)", 0),
        (r"SYS:?\s*(\d+)\s*DIA:?\s*(\d+)", 0),
        (r"S:?\s*(\d+)\s*D:?\s*(\d+)", 0),
    ],
    "OXYGEN": [
        (r"(\d+)\s*%", 0),
        (r"%\s*(\d+)", 0),
        (r"SpO2:?\s*(\d+)\s*%", 0),
        (r"O2:?\s*(\d+)\s*%", 0),
        (r"%\n(\d+)", 0),
        (r"(\d+)\n%", 0),
        (r"SpO2:?\n(\d+)\s*%", 0),
        (r"O2:?\n(\d+)\s*%", 0),
    ],
    "HEART_RATE": [
        (r"(\d+)\s*(?:BPM|HR)(?!\s*RR)", I),
        (r"(?:BPM|HR)(?!\s*RR)\s*(\d+)", I),
        (r"(^|\b)HR:?\s*(\d+)(?!\s*RR)", I),
        (r"(^|\b)PULSE:?\s*(\d+)(?!\s*RR)", I),
        (r"(^|\b)P:?\s*(\d+)(?!\s*RR)", I),
    ],
    "BLOOD_GLUCOSE": [
        (r"(\d+)\s*(?:mg/dL|mg/dl|mgdL)", I),
        (r"(?:mg/dL|mg/dl|mgdL)\s*(\d+)", I),
        (r"(\d+(?:\.\d+)?)\s*(?:mmol/L|mmol/l)", I),
        (r"(?:mmol/L|mmol/l)\s*(\d+(?:\.\d+)?)", I),
        (r"BG:?\s*(\d+)\s*(?:mg/dL|mg/dl|mgdL)", I),
        (r"GLU:?\s*(\d+)\s*(?:mg/dL|mg/dl|mgdL)", I),
    ],
    "RESPIRATORY_RATE": [
        (r"(\d+)\s*RR", I),
        (r"RR:?\s*(\d+)", I),
        (r"RESP:?\s*(\d+)", I),
        (r"(^|\b)R:?\s*(\d+)\b", I),
    ],
    "PAIN_SCALE": [
        (r"(-?\d+)\s*(?:/10|/ 10|out of 10)(?!\s*mmHg)", I),
        (r"PAIN:?\s*(-?\d+)\s*(?:/10|/ 10|out of 10)(?!\s*mmHg)", I),
        (r"P:?\s*(-?\d+)\s*(?:/10|/ 10|out of 10)(?!\s*mmHg)", I),
    ],
    "HEIGHT": [
        (r"(\d+(?:\.\d+)?)\s*(?:cm|centimeters?)(?!\s*[FCfc])", I),
        (r"(?:cm|centimeters?)(?!\s*[FCfc])\s*(\d+(?:\.\d+)?)", I),
        (r"(\d+)\'?\s*(\d+)\s*(?:in|inches?)(?!\s*[FCfc])", I),
        (r"(\d+)\'?\s*(\d+)\"(?!\s*[FCfc])", I),
        (r"H:?\s*(\d+(?:\.\d+)?)\s*(?:cm|centimeters?)(?!\s*[FCfc])", I),
        (r"HT:?\s*(\d+(?:\.\d+)?)\s*(?:cm|centimeters?)(?!\s*[FCfc])", I),
    ],
}

# Category precedence for a default (unprefixed) line —
# reference pattern_matcher.py:133-143.
DEFAULT_CATEGORY_ORDER = [
    "PAIN_SCALE",
    "HEIGHT",
    "TEMPERATURE",
    "WEIGHT",
    "BLOOD_PRESSURE",
    "OXYGEN",
    "HEART_RATE",
    "RESPIRATORY_RATE",
    "BLOOD_GLUCOSE",
]

# Line-prefix dispatch (reference pattern_matcher.py:147-161).
LINE_PREFIX_R = (r"^\s*R:", I)
LINE_PREFIX_P = (r"^\s*P:", I)
PAIN_HINT = (r"\d+\s*(/10|out of 10)", I)

# --------------------------------------------------------------------------
# Range validators (reference pattern_matcher.py:222-268), as data:
# type name -> {unit (or "" for unit-independent): (lo, hi)}.
# The empty-string key is the fallback branch of the reference's if/else.
# --------------------------------------------------------------------------
READING_RANGES: dict[str, dict[str, tuple[float, float]]] = {
    "TEMPERATURE": {"F": (95.0, 104.0), "": (35.0, 40.0)},
    "WEIGHT": {"kg": (20.0, 200.0), "": (44.0, 440.0)},
    "OXYGEN": {"": (70.0, 100.0)},
    "HEART_RATE": {"": (40.0, 200.0)},
    "BLOOD_GLUCOSE": {"mmol/L": (2.8, 22.2), "": (50.0, 400.0)},
    "RESPIRATORY_RATE": {"": (8.0, 40.0)},
    "PAIN_SCALE": {"": (0.0, 10.0)},
    "HEIGHT": {"cm": (30.0, 250.0), "": (12.0, 100.0)},
}
# BP is validated on both components (pattern_matcher.py:236-238).
BP_SYS_RANGE = (90, 140)
BP_DIA_RANGE = (60, 90)

# Default units by type (reference pattern_matcher.py:350-359).
DEFAULT_UNITS = {
    "OXYGEN": "%",
    "HEART_RATE": "BPM",
    "RESPIRATORY_RATE": "breaths/min",
    "PAIN_SCALE": "/10",
    "HEIGHT": "cm",
}

# --------------------------------------------------------------------------
# Numeric-span tables (NumberExtractor analogue) —
# reference number_extractor.py:17-64; all compiled IGNORECASE (:69).
# --------------------------------------------------------------------------
NUMBER_PATTERNS: dict[str, list[str]] = {
    "blood_pressure": [
        r"(\d{2,3})[/-](\d{2,3})",
        r"(\d{2,3})[/-](\d{2,3})\s*(?:mmHg|BP)?",
        r"(?:mmHg|BP)\s*(\d{2,3})[/-](\d{2,3})",
        r"BP:?\s*(\d{2,3})[/-](\d{2,3})",
        r"(?:mmHg|BP)\n(\d{2,3})[/-](\d{2,3})",
        r"(\d{2,3})[/-](\d{2,3})\n(?:mmHg|BP)",
    ],
    "temperature": [
        r"(\d{2,3}\.\d{1,2})[°]?[FC]",
        r"[°]?[FC]\s*(\d{2,3}\.\d{1,2})",
        r"(\d{2,3}\.\d{1,2})[°]?[FC]\s*$",
        r"^[°]?[FC]\s*(\d{2,3}\.\d{1,2})",
        r"[°]?[FC]\n(\d{2,3}\.\d{1,2})",
        r"(\d{2,3}\.\d{1,2})\n[°]?[FC]",
    ],
    "weight": [
        r"(\d{2,3}\.\d{1,2})\s*(?:lbs|kg)",
        r"(?:lbs|kg)\s*(\d{2,3}\.\d{1,2})",
        r"WT:?\s*(\d{2,3}\.\d{1,2})\s*(?:lbs|kg)",
        r"(?:lbs|kg)\n(\d{2,3}\.\d{1,2})",
        r"(\d{2,3}\.\d{1,2})\n(?:lbs|kg)",
        r"(?:kg|kilos?)\n(\d{2,3}\.\d{1,2})",
        r"(\d{2,3}\.\d{1,2})\n(?:kg|kilos?)",
    ],
    "oxygen": [
        r"(\d{2,3})\s*%",
        r"%\s*(\d{2,3})",
        r"SpO2:?\s*(\d{2,3})\s*%",
        r"O2:?\s*(\d{2,3})\s*%",
        r"%\n(\d{2,3})",
        r"(\d{2,3})\n%",
        r"SpO2:?\n(\d{2,3})\s*%",
        r"O2:?\n(\d{2,3})\s*%",
        r"SpO2:?\s*(\d{2,3})\n%",
        r"O2:?\s*(\d{2,3})\n%",
    ],
    "heart_rate": [
        r"(\d{2,3})\s*(?:BPM|HR)",
        r"(?:BPM|HR)\s*(\d{2,3})",
        r"HR:?\s*(\d{2,3})",
        r"(?:BPM|HR)\n(\d{2,3})",
        r"(\d{2,3})\n(?:BPM|HR)",
        r"HR:?\n(\d{2,3})",
        r"HR:?\s*(\d{2,3})\nBPM",
    ],
}

# Numeric-span unit ranges (reference number_extractor.py:156-165);
# unknown units validate True (:170).
NUMBER_UNIT_RANGES: dict[str, tuple[float, float]] = {
    "mmHg": (60, 200),
    "°F": (95, 105),
    "°C": (35, 41),
    "lbs": (50, 500),
    "kg": (20, 250),
    "%": (70, 100),
    "BPM": (40, 200),
}


# --------------------------------------------------------------------------
# Lazy compilation — once per Python worker process (the iterator-UDF /
# module-import boundary), mirroring the reference's compile-at-init
# (number_extractor.py:66-71) without per-batch recompilation.
# --------------------------------------------------------------------------
@lru_cache(maxsize=1)
def compiled_reading_patterns() -> dict[str, list[re.Pattern]]:
    return {
        name: [re.compile(p, f) for p, f in pats]
        for name, pats in READING_PATTERNS.items()
    }


@lru_cache(maxsize=1)
def compiled_number_patterns() -> dict[str, list[re.Pattern]]:
    return {
        name: [re.compile(p, I) for p in pats]
        for name, pats in NUMBER_PATTERNS.items()
    }


@lru_cache(maxsize=1)
def compiled_line_dispatch() -> tuple[re.Pattern, re.Pattern, re.Pattern]:
    return (
        re.compile(*LINE_PREFIX_R),
        re.compile(*LINE_PREFIX_P),
        re.compile(*PAIN_HINT),
    )


_ANY_DIGIT = re.compile(r"\d").search


def has_digit(text: str) -> bool:
    """Whether ``text`` holds a ``\\d`` (any Unicode decimal digit). Every
    reading and numeric pattern needs one, so a text without is an exact
    skip. On ASCII text (``str.isascii`` is O(1)) ``\\d`` is exactly 0-9,
    and ten substring scans cost a fraction of one regex scan."""
    if text.isascii():
        return (
            "0" in text or "1" in text or "2" in text or "3" in text
            or "4" in text or "5" in text or "6" in text or "7" in text
            or "8" in text or "9" in text
        )
    return _ANY_DIGIT(text) is not None
