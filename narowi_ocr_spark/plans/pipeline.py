"""The flagship end-to-end extraction pipeline (SURVEY.md §3 E1/E2 recast,
§7 minimum slice):

  pages(url, warc_ts, html, …)
    → P1  null/empty filter + P2 size cap       (native; pushes to scan)
    → P4-P8/R1-R4/T3-T5/K5-K7 fused extraction  (ONE mapInArrow stage:
      tokenize → score/classify → assemble → reading-span kernels)
    → A1   per-url status                       (native)

Plan-shape invariants (verified by tests/test_plan_shape.py):
  - every stage is a narrow transform — the whole pipeline is ONE Spark
    stage with no shuffle; scaling to 1000 executors is embarrassing
    parallelism over input splits;
  - the raw ``html`` binary column is consumed inside the single Arrow
    boundary, so nothing downstream (or any later shuffle) carries page
    payloads;
  - only that one MapInArrow stage leaves the JVM; status and the
    aggregation/export operators stay in whole-stage codegen. Result
    columns are built directly as Arrow arrays (no pandas round-trip —
    measured 15-25% faster than the pandas-UDF equivalent).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from narowi_ocr_spark.functions.readings import extract_readings, extract_readings_py
from narowi_ocr_spark.operators.assemble import main_text, mean_content_score
from narowi_ocr_spark.operators.blocks import (
    _CONTENT_TAG_SET,
    MAX_LINK_DENSITY,
    MIN_TEXT_LEN,
    block_score_py,
    iter_blocks,
    round4_py,
    tokenize_scored,
)
from narowi_ocr_spark.operators.results import with_status
from narowi_ocr_spark.schema import READINGS_SCHEMA


def extract_page_py(
    payload: bytes | str | None,
    max_link_density: float | None = None,
    min_text_len: int | None = None,
    parser: int = 0,
) -> tuple[str, float, list[dict]]:
    """The whole per-document chain (tokenize → score → classify →
    assemble → reading-span extraction) as one pure-Python call, executed
    only inside Arrow batches. Byte-identical to composing the individual
    operators (asserted by tests/test_pipeline_fused.py). The classifier
    thresholds accept per-document overrides (T2 extraction modes).
    ``parser`` selects the tokenizer: 0 = HTML DOM blocks, 1 = PDF text
    objects (operators/pdftext.py) — everything downstream of
    tokenization (scoring, classification, assembly, reading kernels)
    is shared."""
    mld = MAX_LINK_DENSITY if max_link_density is None else max_link_density
    mtl = MIN_TEXT_LEN if min_text_len is None else min_text_len
    if parser == 1:
        from narowi_ocr_spark.operators.pdftext import tokenize_pdf_py

        blocks = (
            (b["tag"], b["text"], b["text_len"], b["link_len"])
            for b in tokenize_pdf_py(payload)
        )
    else:
        blocks = iter_blocks(payload)
    content: list[str] = []
    # fold order + rounding mirror the JVM mean_content_score exactly
    acc = 0.0
    n = 0
    for tag, text, tl, ll in blocks:  # every block has text, so tl >= 1
        acc += block_score_py(tl, ll)
        n += 1
        if ll / tl < mld and tl >= mtl and tag in _CONTENT_TAG_SET:
            content.append(text)
    text = "\n".join(content).strip()
    confidence = round4_py(acc / float(n)) if n else 0.0
    return text, confidence, extract_readings_py(text)


# mapInArrow output: (url, warc_ts pass through) + the extraction result.
# Building the result columns directly as Arrow arrays skips the
# pandas-DataFrame round-trip of the pandas-UDF path — measured 15-25%
# faster end-to-end at local[8] on 20k pages, byte-identical output.
EXTRACT_OUT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("extracted_text", T.StringType(), True),
        T.StructField("confidence", T.DoubleType(), True),
        T.StructField("readings", READINGS_SCHEMA, True),
    ]
)


def _extract_arrow(batches):
    import pyarrow as pa

    reading_t = pa.struct(
        [
            ("type", pa.string()),
            ("value", pa.float64()),
            ("unit", pa.string()),
            ("is_valid", pa.bool_()),
        ]
    )
    for b in batches:
        # per-row T2 mode thresholds and parser (absent on the default
        # path); payloads convert one at a time, never a whole batch
        modes = [
            b.column(c).to_pylist()
            for c in ("_mld", "_mtl", "_parser")
            if c in b.schema.names
        ]
        rows = [
            extract_page_py(p.as_py(), *m)
            for p, *m in zip(b.column("html"), *modes)
        ]
        texts, confs, reads = zip(*rows) if rows else ((), (), ())
        yield pa.RecordBatch.from_arrays(
            [
                b.column("url"),
                b.column("warc_ts"),
                pa.array(texts, pa.string()),
                pa.array(confs, pa.float64()),
                pa.array(reads, pa.list_(reading_t)),
            ],
            names=["url", "warc_ts", "extracted_text", "confidence", "readings"],
        )


# P2: cap pathological page sizes before tokenization (the analogue of
# resize_image, reference image_processor.py:44-62 — bound work per doc,
# keep the prefix). 2 MB keeps any sane page intact.
MAX_HTML_BYTES = 2 * 1024 * 1024


def cap_html(html: Column, limit: int | Column = MAX_HTML_BYTES) -> Column:
    lim = F.lit(limit) if isinstance(limit, int) else limit
    return F.when(
        F.length(html) > lim, F.substring(html, F.lit(1), lim)
    ).otherwise(html)


# T2: per-doc-type extraction modes — the analogue of the reference's
# per-content-type PSM/config switching (ocr_engine.py:24-49: different
# tesseract configs for lcd/digital/default). Each doc type carries its
# own byte cap and content-classifier strictness; the dispatch is a
# native when(doc_type...) CASE, so mode resolution happens inside the
# scan projection with zero plan branching — one plan serves every mode
# mix, which is what keeps this viable on a 10¹²-doc table where types
# interleave arbitrarily within every partition.
EXTRACTION_MODES: dict[str, dict] = {
    # long-form pages: keep everything, permissive classifier
    "article": {
        "max_html_bytes": MAX_HTML_BYTES,
        "min_text_len": 1,
        "max_link_density": 1.0 / 3.0,
    },
    # link-farm/listing pages: smaller cap, demand real paragraphs
    "listing": {
        "max_html_bytes": 512 * 1024,
        "min_text_len": 20,
        "max_link_density": 0.5,
    },
    # feed/snippet pages: tight cap, short blocks allowed, strict links
    "feed": {
        "max_html_bytes": 64 * 1024,
        "min_text_len": 5,
        "max_link_density": 0.25,
    },
    # PDF byte streams (north_rule "PDF/layout parse"): text-object
    # parser instead of the DOM tokenizer; PDFs carry no anchors so the
    # link-density gate is moot, and machine-generated report PDFs run
    # larger than pages — looser byte cap
    "pdf": {
        "max_html_bytes": 4 * 1024 * 1024,
        "min_text_len": 1,
        "max_link_density": 1.0 / 3.0,
        "parser": 1,
    },
}
DEFAULT_DOC_TYPE = "article"


def sniffed_doc_type(html: Column) -> Column:
    """Route a typeless payload by magic bytes (functions/sniff): PDF
    byte streams take the 'pdf' mode, everything else the default DOM
    mode. This is what lets a raw WARC corpus — where Content-Type
    headers lie and no doc_type column exists — run mixed HTML+PDF
    through ONE unbranched extraction plan."""
    from narowi_ocr_spark.functions.sniff import sniff_type

    return F.when(sniff_type(html) == "pdf", F.lit("pdf")).otherwise(
        F.lit(DEFAULT_DOC_TYPE)
    )


def mode_config(doc_type: Column) -> Column:
    """struct<max_html_bytes,min_text_len,max_link_density,parser> for
    the row's doc type; unknown/null types fall back to 'article'.
    ``parser``: 0 = HTML DOM blocks, 1 = PDF text objects."""

    def as_struct(m: dict) -> Column:
        return F.struct(
            F.lit(int(m["max_html_bytes"])).alias("max_html_bytes"),
            F.lit(int(m["min_text_len"])).alias("min_text_len"),
            F.lit(float(m["max_link_density"])).alias("max_link_density"),
            F.lit(int(m.get("parser", 0))).alias("parser"),
        )

    expr = as_struct(EXTRACTION_MODES[DEFAULT_DOC_TYPE])
    for name, m in EXTRACTION_MODES.items():
        expr = F.when(doc_type == F.lit(name), as_struct(m)).otherwise(expr)
    return expr


def extract_pages(
    pages: DataFrame,
    keep_blocks: bool = False,
    max_html_bytes: int | None = MAX_HTML_BYTES,
    doc_type_col: str | None = None,
    sniff_routing: bool = False,
) -> DataFrame:
    """pages → per-url result rows
    (url, warc_ts, status, readings, confidence, error_message,
    extracted_text).

    Default path: ONE fused Arrow stage per document. The earlier
    two-stage shape (tokenize UDF → JVM assembly → readings UDF) moved
    every block text across the JVM↔Python boundary three times (blocks
    out, assembled text back in, spans out) and ran two Python worker
    pools; fusing cut the boundary traffic to html-in/result-out and
    roughly halved wall-clock at 40k pages. ``keep_blocks=True`` switches
    to the two-stage variant, which materializes the scored block array
    for debugging/inspection queries; that debug path tokenizes as HTML
    only (rows whose mode selects the PDF parser yield no blocks there
    — use the default fused path for mixed-modality corpora).

    ``sniff_routing=True`` (only meaningful when ``doc_type_col`` is
    None) derives the mode from the payload's magic bytes — the
    raw-WARC path where no trustworthy type column exists."""
    if sniff_routing and doc_type_col is None:
        pages = pages.withColumn(
            "_sniffed_type", sniffed_doc_type(F.col("html"))
        )
        doc_type_col = "_sniffed_type"
    nonempty = pages.where(
        F.col("html").isNotNull() & (F.length("html") > 0)  # P1
    )
    if doc_type_col is not None:
        # T2: per-row byte cap from the doc type's extraction mode
        nonempty = nonempty.withColumn(
            "html",
            cap_html(
                F.col("html"),
                mode_config(F.col(doc_type_col))["max_html_bytes"],
            ),
        )
    elif max_html_bytes:
        nonempty = nonempty.withColumn("html", cap_html(F.col("html"), max_html_bytes))
    if keep_blocks:
        if doc_type_col is not None:
            from narowi_ocr_spark.operators.blocks import (
                score_blocks,
                tokenize_html,
            )

            mode = mode_config(F.col(doc_type_col))
            blocks = nonempty.select(
                "url",
                "warc_ts",
                score_blocks(
                    tokenize_html("html"),
                    max_link_density=mode["max_link_density"],
                    min_text_len=mode["min_text_len"],
                ).alias("blocks"),
            )
        else:
            blocks = nonempty.select(
                "url", "warc_ts", tokenize_scored("html").alias("blocks")
            )
        assembled = blocks.select(
            "url",
            "warc_ts",
            "blocks",
            main_text("blocks").alias("extracted_text"),
            mean_content_score("blocks").alias("confidence"),
        )
        readings = assembled.withColumn(
            "readings", extract_readings("extracted_text")
        )
        out = with_status(readings)
        return out.select(
            "url", "warc_ts", "status", "readings", "confidence",
            "error_message", "extracted_text", "blocks",
        )

    # html is consumed inside this (single) Arrow boundary and never
    # appears downstream — column pruning is structural, not left to
    # chance (SURVEY.md §4).
    in_cols = ["url", F.col("warc_ts").cast("timestamp").alias("warc_ts"), "html"]
    if doc_type_col is not None:
        # T2: the mode's classifier thresholds ride the same Arrow batch
        # as per-row columns, so the fused kernel classifies each doc
        # under its own mode — still ONE boundary, one unbranched plan
        mode = mode_config(F.col(doc_type_col))
        in_cols += [
            mode["max_link_density"].alias("_mld"),
            mode["min_text_len"].alias("_mtl"),
            mode["parser"].alias("_parser"),
        ]
    res = nonempty.select(*in_cols).mapInArrow(_extract_arrow, EXTRACT_OUT_SCHEMA)
    out = with_status(res)
    return out.select(
        "url", "warc_ts", "status", "readings", "confidence",
        "error_message", "extracted_text",
    )
