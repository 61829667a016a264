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


def page_kernel_corpus() -> list[tuple]:
    """The page kernel's pinned cases: (payload, max_link_density,
    min_text_len, parser). Fixture pages, release-style prose pages and
    pathological payloads under the default thresholds and under each
    extraction mode's threshold set, plus PDF documents under the PDF
    parser."""
    from narowi_ocr_spark.plans.pipeline import EXTRACTION_MODES
    from narowi_ocr_spark.sources.pages import build_page, build_pdf_page

    odd = [
        None,
        b"",
        b"<p>",
        "<p>a str payload, not bytes: 98.6F</p>",
        b"\xff\xfe<p>bad \xc3( utf-8 98.6F</p><div>\x80\x81 72 BPM</div>",
        b"<p>Fish &amp; chips &lt;b&gt; &#x31;&#50;0/80 mmHg &nbsp;</p>"
        b"<p>&<a>amp;</a></p>",
        b'<P>see <A HREF="/x">Upper Link</A> and <a href=y>low</a> text</P>'
        b"<DIV>PULSE: 72</DIV><Li><A>only a link</A></Li>",
        b"lead text 120/80 mmHg before any block<p>body 72 BPM</p>",
        "<div>T: ٣٧ C</div><p>３７ kg</p>"
        "<li>१२०/८० mmHg</li>".encode(),
        b"<pre>line one\r\nPULSE: 72\rR: 16\n\nno digits here</pre>",
        b"<SCRIPT>var a = '<p>72 BPM</p>'</SCRIPT><STYLE>p{}</STYLE>"
        b"<p>ok 98.6F</p><!-- <p>120/80 mmHg</p> -->",
        b"<p> </p><div>\n\t</div><td><b></b></td><h2>Title only</h2>",
        b"<!-- never closed <p>SpO2: 98%</p>",
        b"<p>multi\nline\nprose without a single digit\nat all</p>",
    ]
    html = (
        [build_page(i)[2] for i in range(160)]
        + [build_page(i, 64, True)[2] for i in range(80)]
        + odd
    )
    thresholds = [(None, None)] + [
        (m["max_link_density"], m["min_text_len"]) for m in EXTRACTION_MODES.values()
    ]
    cases = [(p, mld, mtl, 0) for mld, mtl in thresholds for p in html]
    pdf = EXTRACTION_MODES["pdf"]
    cases += [
        (build_pdf_page(i)[2], pdf["max_link_density"], pdf["min_text_len"], 1)
        for i in range(30)
    ]
    return cases


def page_kernel_digests(cases) -> list[str]:
    """One 16-hex digest per case over (case, text, confidence as
    float64 bits, readings) as sorted-key JSON."""
    import hashlib
    import json
    import struct

    from narowi_ocr_spark.plans.pipeline import extract_page_py

    out = []
    for payload, mld, mtl, parser in cases:
        if parser:
            text, conf, reads = extract_page_py(payload, mld, mtl, parser)
        elif mld is None:
            text, conf, reads = extract_page_py(payload)
        else:
            text, conf, reads = extract_page_py(payload, mld, mtl)
        row = [repr(payload), mld, mtl, parser, text, struct.pack(">d", conf).hex(), reads]
        out.append(hashlib.sha256(json.dumps(row, sort_keys=True).encode()).hexdigest()[:16])
    return out


def test_page_kernel_equals_pinned_digests():
    """Byte identity of the fused page kernel: extracted text,
    confidence bits and readings over page_kernel_corpus() must equal
    the digests in fixtures/kernel_digests.json, written from the kernel
    that test_fused_equals_modular and the oracle-column test verified."""
    import json

    from test_numbers_and_native import DIGESTS

    with open(DIGESTS) as f:
        pinned = json.load(f)["extract_page_py"]
    cases = page_kernel_corpus()
    got = page_kernel_digests(cases)
    assert len(got) == len(pinned) == len(cases)
    for case, g, p in zip(cases, got, pinned):
        assert g == p, repr(case)[:300]
