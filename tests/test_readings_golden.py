"""The 20-passing-test contract of the reference, ported to Spark
(SURVEY.md §5): every golden (text → type, value, unit, is_valid) tuple
from reference tests/test_pattern_matcher.py, executed through the
Arrow-batched kernel on a DataFrame, byte-identical semantics.
"""

import pytest
from pyspark.sql import functions as F

from narowi_ocr_spark.functions.readings import extract_readings, extract_readings_py

# (text, expected type of readings[0], value, unit, is_valid)
GOLDEN = [
    # temperature — test_pattern_matcher.py:9-20
    ("98.6F", "TEMPERATURE", 98.6, "F", True),
    ("37.0°C", "TEMPERATURE", 37.0, "C", True),
    ("F98.6", "TEMPERATURE", 98.6, "F", True),
    ("°C37.0", "TEMPERATURE", 37.0, "C", True),
    ("98.6F\n", "TEMPERATURE", 98.6, "F", True),
    ("\nF98.6", "TEMPERATURE", 98.6, "F", True),
    ("TEMP: 98.6F", "TEMPERATURE", 98.6, "F", True),
    ("T: 98.6F", "TEMPERATURE", 98.6, "F", True),
    ("105F", "TEMPERATURE", 105.0, "F", False),
    ("34C", "TEMPERATURE", 34.0, "C", False),
    # weight — :32-41
    ("150.5 lbs", "WEIGHT", 150.5, "lb", True),
    ("68.2 kg", "WEIGHT", 68.2, "kg", True),
    ("lbs 150.5", "WEIGHT", 150.5, "lb", True),
    ("kg 68.2", "WEIGHT", 68.2, "kg", True),
    ("WT: 150.5 lbs", "WEIGHT", 150.5, "lb", True),
    ("W: 150.5 lbs", "WEIGHT", 150.5, "lb", True),
    ("450 lbs", "WEIGHT", 450.0, "lb", False),
    ("15 kg", "WEIGHT", 15.0, "kg", False),
    # blood pressure — :53-61
    ("120/80 mmHg", "BLOOD_PRESSURE", 120.0, "120/80 mmHg", True),
    ("mmHg 120/80", "BLOOD_PRESSURE", 120.0, "120/80 mmHg", True),
    ("BP: 120/80", "BLOOD_PRESSURE", 120.0, "120/80 mmHg", True),
    ("SYS: 120 DIA: 80", "BLOOD_PRESSURE", 120.0, "120/80 mmHg", True),
    ("S: 120 D: 80", "BLOOD_PRESSURE", 120.0, "120/80 mmHg", True),
    ("85/60 mmHg", "BLOOD_PRESSURE", 85.0, "85/60 mmHg", False),
    ("150/95 mmHg", "BLOOD_PRESSURE", 150.0, "150/95 mmHg", False),
    # oxygen — :73-80
    ("98%", "OXYGEN", 98.0, "%", True),
    ("%98", "OXYGEN", 98.0, "%", True),
    ("SpO2: 98%", "OXYGEN", 98.0, "%", True),
    ("O2: 98%", "OXYGEN", 98.0, "%", True),
    ("65%", "OXYGEN", 65.0, "%", False),
    ("101%", "OXYGEN", 101.0, "%", False),
    # heart rate — :92-100
    ("72 BPM", "HEART_RATE", 72.0, "BPM", True),
    ("BPM 72", "HEART_RATE", 72.0, "BPM", True),
    ("HR: 72", "HEART_RATE", 72.0, "BPM", True),
    ("PULSE: 72", "HEART_RATE", 72.0, "BPM", True),
    ("P: 72", "HEART_RATE", 72.0, "BPM", True),
    ("35 BPM", "HEART_RATE", 35.0, "BPM", False),
    ("205 BPM", "HEART_RATE", 205.0, "BPM", False),
    # glucose — :112-123
    ("120 mg/dL", "BLOOD_GLUCOSE", 120.0, "mg/dL", True),
    ("mg/dL 120", "BLOOD_GLUCOSE", 120.0, "mg/dL", True),
    ("6.7 mmol/L", "BLOOD_GLUCOSE", 6.7, "mmol/L", True),
    ("mmol/L 6.7", "BLOOD_GLUCOSE", 6.7, "mmol/L", True),
    ("BG: 120 mg/dL", "BLOOD_GLUCOSE", 120.0, "mg/dL", True),
    ("GLU: 120 mg/dL", "BLOOD_GLUCOSE", 120.0, "mg/dL", True),
    ("45 mg/dL", "BLOOD_GLUCOSE", 45.0, "mg/dL", False),
    ("450 mg/dL", "BLOOD_GLUCOSE", 450.0, "mg/dL", False),
    ("2.5 mmol/L", "BLOOD_GLUCOSE", 2.5, "mmol/L", False),
    ("25 mmol/L", "BLOOD_GLUCOSE", 25.0, "mmol/L", False),
    # respiratory rate — :135-143
    ("16 RR", "RESPIRATORY_RATE", 16.0, "breaths/min", True),
    ("RR 16", "RESPIRATORY_RATE", 16.0, "breaths/min", True),
    ("RR: 16", "RESPIRATORY_RATE", 16.0, "breaths/min", True),
    ("RESP: 16", "RESPIRATORY_RATE", 16.0, "breaths/min", True),
    ("R: 16", "RESPIRATORY_RATE", 16.0, "breaths/min", True),
    ("6 RR", "RESPIRATORY_RATE", 6.0, "breaths/min", False),
    ("45 RR", "RESPIRATORY_RATE", 45.0, "breaths/min", False),
    # pain scale — :155-162
    ("7/10", "PAIN_SCALE", 7.0, "/10", True),
    ("PAIN: 7/10", "PAIN_SCALE", 7.0, "/10", True),
    ("P: 7/10", "PAIN_SCALE", 7.0, "/10", True),
    ("7 out of 10", "PAIN_SCALE", 7.0, "/10", True),
    ("-1/10", "PAIN_SCALE", -1.0, "/10", False),
    ("11/10", "PAIN_SCALE", 11.0, "/10", False),
    # height — :174-185
    ("170 cm", "HEIGHT", 170.0, "cm", True),
    ("cm 170", "HEIGHT", 170.0, "cm", True),
    ("5'10\"", "HEIGHT", 70.0, "in", True),
    ("5'10 in", "HEIGHT", 70.0, "in", True),
    ("H: 170 cm", "HEIGHT", 170.0, "cm", True),
    ("HT: 170 cm", "HEIGHT", 170.0, "cm", True),
    ("25 cm", "HEIGHT", 25.0, "cm", False),
    ("260 cm", "HEIGHT", 260.0, "cm", False),
    ("5'0\"", "HEIGHT", 60.0, "in", True),
    ("6'0\"", "HEIGHT", 72.0, "in", True),
]

MULTI_DOC = """
    Temperature: 98.6F
    Blood Pressure: 120/80 mmHg
    Oxygen: 98%
    Heart Rate: 72 BPM
    Weight: 150.5 lbs
    Height: 5'10"
    Blood Glucose: 120 mg/dL
    Respiratory Rate: 16 RR
    Pain Scale: 7/10
    """

INVALID_DOC = """
    Temperature: 105F
    Blood Pressure: 150/95 mmHg
    Oxygen: 65%
    Heart Rate: 35 BPM
    Weight: 450 lbs
    Height: 25 cm
    Blood Glucose: 45 mg/dL
    Respiratory Rate: 6 RR
    Pain Scale: 11/10
    """

ALL_TYPES = {
    "TEMPERATURE", "BLOOD_PRESSURE", "OXYGEN", "HEART_RATE", "WEIGHT",
    "HEIGHT", "BLOOD_GLUCOSE", "RESPIRATORY_RATE", "PAIN_SCALE",
}


def test_golden_cases_spark(spark):
    """All per-category golden tuples in one DataFrame pass."""
    df = spark.createDataFrame(
        [(i, t) for i, (t, *_) in enumerate(GOLDEN)], ["id", "text"]
    )
    rows = (
        df.select("id", extract_readings("text").alias("r"))
        .orderBy("id")
        .collect()
    )
    for row, (text, etype, evalue, eunit, evalid) in zip(rows, GOLDEN):
        assert len(row.r) > 0, f"no reading in {text!r}"
        first = row.r[0]
        assert first.type == etype, (text, first)
        assert first.value == pytest.approx(evalue), (text, first)
        assert first.unit == eunit, (text, first)
        assert first.is_valid == evalid, (text, first)


def test_multi_reading_document():
    readings = extract_readings_py(MULTI_DOC)
    assert len(readings) == 9
    assert {r["type"] for r in readings} == ALL_TYPES


def test_all_invalid_document():
    readings = extract_readings_py(INVALID_DOC)
    assert len(readings) == 9


def test_dedup_semantics():
    # Document-global substring dedup: second identical line emits nothing.
    assert len(extract_readings_py("72 BPM\n72 BPM")) == 1
    # One reading per type per line.
    assert len(extract_readings_py("98.6F 37.0C")) == 1
    # Vertical layouts are dead per-line (reference parity, not a bug).
    assert extract_readings_py("kg\n68.2") == []


def test_null_and_empty(spark):
    df = spark.createDataFrame([(None,), ("",)], "text string")
    rows = df.select(extract_readings("text").alias("r")).collect()
    assert all(list(row.r) == [] for row in rows)


@pytest.mark.skipif(
    not __import__("os").path.exists(
        "/root/reference/src/processing/pattern_matcher.py"
    ),
    reason="reference not available",
)
def test_differential_vs_reference():
    """Differential check against the actual reference implementation."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "ref_pm", "/root/reference/src/processing/pattern_matcher.py"
    )
    ref = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ref)
    pm = ref.PatternMatcher()

    def ref_rows(text):
        return [
            {
                "type": r.type.name,
                "value": float(r.value),
                "unit": r.unit,
                "is_valid": r.is_valid,
            }
            for r in pm.find_readings(text, 0.95)
        ]

    for text in readings_fuzz_corpus():
        assert extract_readings_py(text) == ref_rows(text), repr(text)


def readings_fuzz_corpus() -> list[str]:
    """The differential's corpus: the golden texts, the two multi-line
    documents and 500 seeded fuzz texts (Random(7))."""
    import random

    corpus = [t for t, *_ in GOLDEN] + [MULTI_DOC, INVALID_DOC]
    rng = random.Random(7)
    frags = [t for t, *_ in GOLDEN] + ["abc", "12", "°F", "cm", "P:", "R:", "\t"]
    for _ in range(500):
        n = rng.randint(1, 6)
        corpus.append(
            rng.choice([" ", "\n", ": "]).join(rng.choice(frags) for _ in range(n))
        )
    return corpus


def test_readings_equal_pinned_digests():
    """Byte identity without the reference checkout: the readings
    kernel's output over the differential's corpus must equal the
    digests in fixtures/kernel_digests.json, written from the kernel
    that test_differential_vs_reference verified equal to the reference
    PatternMatcher (the kernel is unchanged since)."""
    import json

    from test_numbers_and_native import DIGESTS, output_digests

    with open(DIGESTS) as f:
        pinned = json.load(f)["extract_readings_py"]
    corpus = readings_fuzz_corpus()
    got = output_digests(extract_readings_py, corpus)
    assert len(got) == len(pinned) == len(GOLDEN) + 502
    for text, g, p in zip(corpus, got, pinned):
        assert g == p, repr(text)
