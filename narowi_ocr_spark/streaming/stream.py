"""Streaming extraction: the batch pipeline re-run as a Structured
Streaming job (SURVEY.md §2g).

The reference's streaming surface is an interactive camera loop
(examples/capture_reading.py:20-81 — unbounded frame source, per-session
artifact dirs). The recast: ``readStream`` on the pages table → the
IDENTICAL stateless transform chain (plans/pipeline.py — every stage is a
narrow transform, so there is no state store at all) → ``writeStream``
with ``trigger(availableNow=True)``.

Resumability (north_rule): the checkpoint location is the restart token —
a killed job relaunched with the same checkpoint resumes from the last
committed micro-batch and never re-emits completed batches. End-to-end
exactly-once holds because the sink is IDEMPOTENT per batch id (each
micro-batch overwrites its own ``batch_id=<id>`` directory, so a crash
between the parquet commit and the checkpoint commit just re-overwrites
the same directory on relaunch — foreachBatch alone is only
at-least-once). Per-batch lineage + metrics go to a JSON manifest via
foreachBatch (on a cluster: an Iceberg metrics table next to the data;
snapshot ids give per-partition lineage).
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from narowi_ocr_spark.plans.pipeline import extract_pages
from narowi_ocr_spark.schema import PAGES_SCHEMA


def stream_pages(spark: SparkSession, src_dir: str,
                 max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over a directory of pages parquet (dev stand-in
    for ``readStream.format('iceberg')`` on a cluster)."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(src_dir)


WARC_BLOBS_SCHEMA = "segment string, blob binary"


def stream_warc_blobs(
    spark: SparkSession, src_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over parquet-wrapped WARC segment blobs
    (``segment`` path + raw ``blob`` bytes). OSS Structured Streaming's
    file source streams parquet but not binaryFile, so the landing zone
    wraps each raw ``.warc.gz`` segment as one parquet row — the
    pattern object-store ingest layers use; each segment row is one
    task's unit of work, same as the batch ingest."""
    reader = spark.readStream.schema(WARC_BLOBS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(src_dir)


def dedup_stream(
    df: DataFrame,
    key_cols: list[str] = ["url"],
    ts_col: str = "warc_ts",
    watermark: str = "24 hours",
) -> DataFrame:
    """In-stream exact dedup on ``key_cols`` (crawl-frontier URL dedup):
    re-crawled duplicates arriving within the watermark horizon are
    dropped before extraction ever runs — at 10¹² docs, paying the
    extraction cost for re-crawls is the single biggest avoidable spend.

    Uses ``dropDuplicatesWithinWatermark``: state holds one entry per
    key seen within the horizon and is evicted as the event-time
    watermark passes (bounded state — plain dropDuplicates on a stream
    would grow state forever). The first arrival of a key within the
    horizon survives; cross-horizon re-crawls are treated as fresh
    (which is what a periodic re-crawl pipeline wants)."""
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def _parquet_batch_writer(batch_df: DataFrame, path: str) -> None:
    batch_df.write.mode("overwrite").parquet(path)


def run_extraction_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    manifest_path: str | None = None,
    timeout_s: int = 300,
    transform: Callable[[DataFrame], DataFrame] = extract_pages,
    source: Callable[[SparkSession, str], DataFrame] = stream_pages,
    sink_writer: Callable[[DataFrame, str], None] = _parquet_batch_writer,
) -> list[int]:
    """Run ``transform`` (default: the extraction pipeline) over all
    currently-available input (``availableNow``), exactly-once into
    ``out_dir``; returns the list of batch ids processed THIS run (empty
    on a pure resume with no new data — proof the checkpoint prevented
    re-processing).

    Sink contract:
      - idempotent per batch id: every micro-batch lands in its own
        ``out_dir/batch_id=<id>`` directory with mode=overwrite, so a
        re-delivered batch (crash after data commit, before checkpoint
        commit) replaces rather than duplicates. Readers see batch_id as
        a partition column — free per-batch lineage.
      - single materialization: the batch is persisted across
        write+count, so the manifest row count is served from the cache
        instead of re-running the whole extraction per batch (asserted
        by tests/test_streaming.py::test_manifest_single_materialization).
    """
    pages = source(spark, src_dir)
    results = transform(pages)

    batches_seen: list[int] = []

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batches_seen.append(batch_id)
        if manifest_path:
            batch_df.persist()
        try:
            sink_writer(batch_df, os.path.join(out_dir, f"batch_id={batch_id}"))
            if manifest_path:
                os.makedirs(os.path.dirname(manifest_path), exist_ok=True)
                entry = {
                    "batch_id": batch_id,
                    "rows": batch_df.count(),  # cached — no recompute
                    "ts": time.time(),
                    "checkpoint": checkpoint_dir,
                }
                with open(manifest_path, "a") as f:
                    f.write(json.dumps(entry) + "\n")
        finally:
            if manifest_path:
                batch_df.unpersist()

    q = (
        results.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"extraction stream did not drain within {timeout_s}s; "
            f"batches so far: {batches_seen}"
        )
    return batches_seen


def run_warc_extraction_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    manifest_path: str | None = None,
    timeout_s: int = 300,
) -> list[int]:
    """The full archive-to-text chain as ONE streaming job (the S2
    recast the survey names — "continuously arriving WARC batches"):
    parquet-wrapped WARC segment blobs → ``warc_pages`` parse →
    extraction pipeline → idempotent per-batch_id sink. Every stage is
    a stateless narrow transform, so there is no state store; the
    checkpoint + idempotent sink give the same exactly-once/resume
    contract as ``run_extraction_stream`` (shared runner)."""
    from narowi_ocr_spark.sources.warc import warc_pages

    return run_extraction_stream(
        spark,
        src_dir,
        out_dir,
        checkpoint_dir,
        manifest_path=manifest_path,
        timeout_s=timeout_s,
        # WARC archives carry mixed content and their Content-Type
        # headers lie — route each payload by magic bytes (HTML → DOM
        # path, %PDF → text-object parser) inside the one Arrow stage
        transform=lambda blobs: extract_pages(
            warc_pages(blobs), sniff_routing=True
        ),
        source=stream_warc_blobs,
    )


def run_wet_export_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    manifest_path: str | None = None,
    timeout_s: int = 300,
    compress: bool = False,
) -> list[int]:
    """Crawl-to-WET as ONE resumable streaming job: pages → extraction
    pipeline → conversion-record serialization (still a single
    shuffle-free stage per micro-batch) → WET segment files under
    ``out_dir/batch_id=<id>/``. Same exactly-once contract as the
    parquet sink (idempotent per-batch_id overwrite + checkpoint):
    a re-delivered batch rewrites its own segment directory, so
    downstream consumers of the WET listing never see duplicate
    records — the property Common Crawl's own segment layout gives
    re-run crawls. The manifest rows double as the segment index
    (batch_id ↔ record count)."""
    from narowi_ocr_spark.sources.wet import wet_export, write_wet

    return run_extraction_stream(
        spark,
        src_dir,
        out_dir,
        checkpoint_dir,
        manifest_path=manifest_path,
        timeout_s=timeout_s,
        transform=lambda pages: wet_export(
            extract_pages(pages).select("url", "warc_ts", "extracted_text")
        ),
        sink_writer=lambda df, path: write_wet(
            df, path, compress=compress, mode="overwrite"
        ),
    )


def ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "url",
) -> None:
    """One ingest micro-batch: dedup within the batch, anti-join against
    the persisted index EXCLUDING this batch's own delta, write
    survivors + delta overwrite-idempotently.

    The self-exclusion is the crash-replay correctness core: if the
    previous attempt committed its data but died before the checkpoint
    commit, the re-delivered batch would otherwise anti-join against
    its OWN fingerprints, dedup itself to empty, and overwrite its
    output partition with nothing — permanent loss. batch_id is the
    delta partition column, so the exclusion prunes rather than scans.
    Redelivery is therefore a pure rewrite of the same two directories
    (test-asserted in tests/test_streaming.py)."""
    from narowi_ocr_spark.operators.dedup import incremental_dedup

    spark_ = batch_df.sparkSession
    try:
        index = (
            spark_.read.option("basePath", index_dir)
            .parquet(index_dir)
            .where(F.col("batch_id") != F.lit(batch_id))
            .select("fp")
        )
    except Exception as e:
        # Only "no index yet" may fall through to an empty index; a
        # transient read failure must fail the batch (retried by the
        # checkpoint), NOT silently disable cross-run dedup.
        msg = str(e)
        if "PATH_NOT_FOUND" not in msg and "Path does not exist" not in msg:
            raise
        index = spark_.createDataFrame([], "fp string")
    fresh = incremental_dedup(batch_df, index, text_col, id_col)
    fresh.persist()
    try:
        fresh.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )
        fresh.select("fp").distinct().write.mode("overwrite").parquet(
            os.path.join(index_dir, f"batch_id={batch_id}")
        )
    finally:
        fresh.unpersist()


def run_ingest_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "url",
    timeout_s: int = 300,
    source: DataFrame | None = None,
) -> list[int]:
    """Resumable crawl-ingest job — the composition the whole dedup
    family exists for. Per micro-batch:

      1. in-batch exact dedup (min-``id_col`` representative per content
         fingerprint, as in ``exact_dedup``);
      2. left-anti join against the PERSISTED fingerprint index, which
         accumulates across batches AND across runs — re-crawled content
         from last week's run is dropped here;
      3. survivors land idempotently in ``out_dir/batch_id=<id>``
         (overwrite, same contract as ``run_extraction_stream``);
      4. survivors' fingerprints are appended to the index as an
         ``index_dir/batch_id=<id>`` delta — ALSO overwrite-idempotent,
         so a re-delivered batch (crash between data commit and
         checkpoint commit) rewrites its own delta instead of
         double-inserting fingerprints.

    Returns the batch ids processed this run (empty on a pure resume —
    the checkpoint prevented re-processing; test-asserted).

    Scale notes: only (id, fp) pairs shuffle — payloads stay columnar in
    the batch until the final id-join pullback inside
    ``incremental_dedup``. The per-batch index read is a parquet scan of
    fingerprints only; in production the index is written bucketed by
    ``fp`` so the anti-join co-locates. In-horizon URL-level dedup
    (``dedup_stream``) composes upstream of this sink to drop same-key
    re-crawls before they are even fingerprinted.

    ``source`` overrides the default pages-schema file stream (any
    streaming DataFrame with ``id_col`` and ``text_col``)."""
    pages = source if source is not None else stream_pages(spark, src_dir)
    batches_seen: list[int] = []

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batches_seen.append(batch_id)
        ingest_batch(batch_df, batch_id, out_dir, index_dir, text_col, id_col)

    q = (
        pages.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"ingest stream did not drain within {timeout_s}s; "
            f"batches so far: {batches_seen}"
        )
    return batches_seen


def hourly_counts_stream(
    events: DataFrame,
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window aggregation — the canonical
    Structured Streaming analytics shape the batch ``events_hourly``
    query mirrors: 1-hour event-time windows per event_type, counts +
    value sums, APPEND-mode emission (a window row is final once the
    event-time watermark passes its end — late events inside the
    ``watermark`` horizon still count, later ones are dropped, state is
    evicted as windows close, so state size is bounded by
    horizon × |event_type| regardless of stream length).

    Aggregates are sketch-free sums/counts, so partial aggregation is
    map-side combined per micro-batch; the only shuffle keys are
    (window, event_type) — at 100 TB/day the window column keeps the
    key space bounded and AQE handles hot event types."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
