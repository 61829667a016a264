"""K1-K4 numeric-span kernel + K8 native temperature-format validation
(golden cases from reference tests/test_thermometer.py:10-40 and
test_pattern_matcher.py:196-213) + differential check vs the reference
NumberExtractor + K9 weight spans (the reference's extract_weight, which
crashes on every match, in its intended semantics)."""

import hashlib
import json
import os
import random

import pytest
from pyspark.sql import functions as F

from narowi_ocr_spark.functions.native import validate_temperature_format
from narowi_ocr_spark.functions.numbers import (
    extract_numbers,
    extract_numbers_py,
    extract_weight_spans,
    validate_number_span,
)


def test_numbers_basic():
    spans = extract_numbers_py("BP: 120/80", 0.9)
    # No dedup in the reference: overlapping BP patterns emit 2 spans each
    # (3 patterns match → 6 spans).
    assert len(spans) == 6
    assert spans[0]["value"] == 120.0 and spans[0]["unit"] == "mmHg"
    assert spans[1]["value"] == 80.0


def test_numbers_bogus_oxygen_artifact():
    # Reference parity: '98% 72 BPM' emits a bogus (72, '%') span from the
    # '%\\s*(\\d+)' pattern — replicated, not fixed (SURVEY.md §2 K2).
    spans = extract_numbers_py("98% 72 BPM", 1.0)
    assert {(s["value"], s["unit"]) for s in spans} >= {(98.0, "%"), (72.0, "%"), (72.0, "BPM")}


def test_numbers_spark_and_validation(spark):
    df = spark.createDataFrame(
        [("98.6F", 90.0), ("150.5 lbs", 80.0), (None, 50.0)], ["text", "conf"]
    )
    out = (
        df.select(
            extract_numbers("text", F.col("conf")).alias("spans")
        )
        .select(F.explode("spans").alias("s"))
        .select("s.*", validate_number_span(F.col("s.value"), F.col("s.unit")).alias("ok"))
        .collect()
    )
    assert all(r.ok for r in out)
    temps = [r for r in out if r.unit == "°F"]
    assert temps and temps[0].value == 98.6


@pytest.mark.skipif(
    not os.path.exists("/root/reference/src/processing/number_extractor.py"),
    reason="reference not available",
)
def test_numbers_differential_vs_reference():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "ref_ne", "/root/reference/src/processing/number_extractor.py"
    )
    ref = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ref)
    ne = ref.NumberExtractor()

    def ref_spans(text, conf):
        return [
            {"value": n.value, "unit": n.unit, "confidence": n.confidence, "raw_text": n.raw_text}
            for n in ne.extract_numbers(text, conf)
        ]

    for text in numbers_fuzz_corpus():
        assert extract_numbers_py(text, 0.8) == ref_spans(text, 0.8), repr(text)


def numbers_fuzz_corpus() -> list[str]:
    """The differential's seeded fuzz texts (Random(11), 400 texts)."""
    rng = random.Random(11)
    frags = ["98.6F", "120/80", "mmHg", "BP:", "150.5 lbs", "kg", "98%", "SpO2:",
             "72 BPM", "HR: 72", "O2: 97%", "WT: 88.5 kg", "x", "12", "99.9"]
    return [
        rng.choice([" ", "\n"]).join(
            rng.choice(frags) for _ in range(rng.randint(1, 6))
        )
        for _ in range(400)
    ]


def output_digests(fn, corpus) -> list[str]:
    """One 16-hex digest per text over (text, fn(text)) as sorted-key
    JSON: pins the corpus and every output byte."""
    return [
        hashlib.sha256(json.dumps([t, fn(t)], sort_keys=True).encode()).hexdigest()[:16]
        for t in corpus
    ]


DIGESTS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "fixtures", "kernel_digests.json",
)


def test_numbers_equal_pinned_digests():
    """Byte identity without the reference checkout: the number
    kernel's output over the differential's fuzz corpus must equal the
    digests in fixtures/kernel_digests.json, written from the kernel
    that test_numbers_differential_vs_reference verified equal to the
    reference NumberExtractor (the kernel is unchanged since)."""
    with open(DIGESTS) as f:
        pinned = json.load(f)["extract_numbers_py"]
    corpus = numbers_fuzz_corpus()
    got = output_digests(lambda t: extract_numbers_py(t, 0.8), corpus)
    assert len(got) == len(pinned) == 400
    for text, g, p in zip(corpus, got, pinned):
        assert g == p, repr(text)


def _span(v, unit, raw):
    return {"value": v, "unit": unit, "confidence": 0.8, "raw_text": raw}


def _reading(t, v, unit):
    return {"type": t, "value": v, "unit": unit, "is_valid": True}


# (text, readings, number spans): texts whose only digits are non-ASCII
# (``\d`` matches any Unicode decimal digit), expected values taken
# from the per-line and whole-text regex scans before the shared digit
# gate; plus digit-free ASCII, which yields nothing.
UNICODE_DIGIT_CASES = [
    ("T: ٣٧ C", [_reading("TEMPERATURE", 37.0, "C")], []),
    ("３７ kg", [_reading("WEIGHT", 37.0, "kg")], []),
    (
        "१२०/८० mmHg",
        [_reading("BLOOD_PRESSURE", 120.0, "120/80 mmHg")],
        [
            _span(120.0, "mmHg", "१२०/८०"),
            _span(80.0, "mmHg", "१२०/८०"),
            _span(120.0, "mmHg", "१२०/८० mmHg"),
            _span(80.0, "mmHg", "१२०/८० mmHg"),
        ],
    ),
    (
        "PULSE: ७२\nRESP: ١٦\nno digit line",
        [
            _reading("HEART_RATE", 72.0, "BPM"),
            _reading("RESPIRATORY_RATE", 16.0, "breaths/min"),
        ],
        [],
    ),
    (
        "Größe ５'１０\"\r\nΘ: ٣٩.٥C",
        [_reading("HEIGHT", 70.0, "in"), _reading("TEMPERATURE", 39.5, "C")],
        [_span(39.5, "°C", "٣٩.٥C"), _span(39.5, "°C", "٣٩.٥C")],
    ),
    ("no digits\nat all\r\nhere\rnor here", [], []),
]


@pytest.mark.parametrize("text,readings,numbers", UNICODE_DIGIT_CASES)
def test_digit_gate_exact_on_unicode_digits(text, readings, numbers):
    """The digit gate both kernels share must pass every Unicode decimal
    digit, not only 0-9: non-ASCII digits still yield spans."""
    from narowi_ocr_spark.functions.readings import extract_readings_py

    assert extract_readings_py(text) == readings
    assert extract_numbers_py(text, 0.8) == numbers


TEMP_FORMAT_CASES = [
    # (text, is_valid, adjustment, reason, correction)
    ("98.6F", True, 0.0, None, None),
    ("98.6/", False, -20.0, "Invalid character '/' or '\\' in temperature", "98.6."),
    ("98.6", False, -25.0, "Missing temperature unit (F or C)", "98.6°F"),
    ("98.6.", False, -15.0, "Temperature ends with decimal point", "98.6"),
    ("98.6F ", True, 0.0, None, None),
    (" F98.6", True, 0.0, None, None),
    ("abc", False, -30.0, "Invalid temperature format", None),
]


def test_validate_temperature_format_native(spark):
    df = spark.createDataFrame(
        [(i, t) for i, (t, *_) in enumerate(TEMP_FORMAT_CASES)], ["id", "text"]
    )
    rows = (
        df.select("id", validate_temperature_format("text").alias("v"))
        .orderBy("id")
        .collect()
    )
    for row, (text, valid, adj, reason, corr) in zip(rows, TEMP_FORMAT_CASES):
        assert row.v.is_valid == valid, text
        assert row.v.confidence_adjustment == adj, text
        if reason:
            assert row.v.error_reason == reason, text
        if corr:
            assert row.v.suggested_correction == corr, text


def test_rolling_fingerprint(spark):
    from pyspark.sql import Row

    from narowi_ocr_spark.functions.textstats import (
        ROLL_BASE,
        ROLL_MOD,
        ROLL_SEED,
        rolling_fingerprint,
    )

    def py_roll(s):
        acc = ROLL_SEED
        for ch in s:
            acc = (acc * ROLL_BASE + ord(ch)) % ROLL_MOD
        return acc

    rows = [Row(i=0, t="abc"), Row(i=1, t=""), Row(i=2, t="the quick brown fox")]
    out = {
        r.i: r.rfp
        for r in spark.createDataFrame(rows)
        .select("i", rolling_fingerprint("t").alias("rfp"))
        .collect()
    }
    assert out == {0: py_roll("abc"), 1: ROLL_SEED, 2: py_roll("the quick brown fox")}


def test_extract_weight_spans_intended_semantics(spark):
    """K9 intended semantics: whole-text scan, first occurrence of each
    raw_text wins across patterns, unit = lowercased unit token."""
    df = spark.createDataFrame(
        [(0, "WT: 150.5 lbs then 150.5 lbs again and 68.2 kg")], "doc_id long, text string"
    )
    out = [
        x.asDict()
        for x in df.select(extract_weight_spans("text", 90.0).alias("w")).first()["w"]
    ]
    # pattern 1 finds "150.5 lbs" twice (dedup keeps one) and pattern 3
    # finds "68.2 kg"; "WT: 150.5 lbs" (pattern 5) is a DIFFERENT raw
    # text and therefore also emits
    raws = [o["raw_text"] for o in out]
    assert raws.count("150.5 lbs") == 1
    assert "68.2 kg" in raws
    by_raw = {o["raw_text"]: o for o in out}
    assert by_raw["150.5 lbs"] == {
        "value": 150.5, "unit": "lbs", "raw_text": "150.5 lbs", "conf": 90.0
    }
    assert by_raw["68.2 kg"]["unit"] == "kg"


def test_extract_weight_spans_null_and_empty(spark):
    df = spark.createDataFrame([(0, None), (1, "")], "doc_id long, text string")
    out = df.select(extract_weight_spans("text", 1.0).alias("w")).collect()
    assert [row["w"] for row in out] == [[], []]
