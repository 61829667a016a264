"""Deterministic training-order sharding: the step that turns a curated
corpus into the shuffled shard files a trainer streams.

Training wants the corpus in pseudo-random order, reproducibly, and at
100 TB a global sort or a global row_number (one-partition window) is
off the table. The standard distributed answer — used here — is
hash-derived order: every doc gets a digest md5(salt || id); the shard
is a few hex digits of the digest, the position within the shard is the
rank of the full digest INSIDE that shard. Reading shards in
(shard asc, pos asc) order replays one fixed global permutation;
changing ``salt`` yields an independent permutation (a new epoch)
without touching the data.

Scale shape: one narrow projection (md5 + digit lookup) and one window
partitioned BY SHARD — each shard ranks independently, so the sort
parallelism equals the shard count and no single-partition stage ever
appears. Writing with ``partitionBy(shard)`` then gives one output
directory per shard with rows already in stream order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from narowi_ocr_spark.functions.textstats import token_count as token_count_col

_HEX = "0123456789abcdef"


def _hex_digit_value(c: Column) -> Column:
    # array_position over the 16-char alphabet (1-based, so -1); avoids
    # conv(), which the DuckDB oracle dialect lacks.
    return F.array_position(F.array(*[F.lit(ch) for ch in _HEX]), c) - 1


def shard_assign(
    df: DataFrame,
    id_col: str = "doc_id",
    hex_digits: int = 1,
    salt: str = "epoch0",
) -> DataFrame:
    """Assign (shard, pos) to every row of ``df``.

    ``hex_digits`` ∈ {1, 2}: 16 or 256 shards (production corpora use
    256–4096; the digit-compose expression extends mechanically).
    Returns the input columns plus ``shard`` (int) and ``pos`` (int,
    1-based rank inside the shard). Digest ties are impossible for
    distinct ids, but ``id_col`` breaks them deterministically anyway.

    The in-shard rank is computed by the two-pass distributed scheme
    (the same shape as ``ranking.bucketed_rank``), NOT a window
    partitioned by shard alone: with 16-256 shards, a shard-partitioned
    ``row_number`` funnels corpus_size/shards rows — hundreds of
    millions at 10¹² docs — through ONE task's sort. Instead the next
    two digest hex digits sub-bucket each shard 256 ways (order-monotone
    within the shard, since the shard digits are constant there), the
    per-(shard, sub-bucket) counts prefix-sum into offsets inside a
    window over the tiny count table (≤ shards×256 rows, partitioned by
    shard — no single-partition exchange anywhere), and the full table
    only ever sorts within (shard, sub-bucket) cells. ``pos`` is
    bit-identical to the naive shard-window rank.
    """
    if hex_digits not in (1, 2):
        raise ValueError("hex_digits must be 1 or 2")
    digest = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    d = df.withColumn("_digest", digest)
    shard = _hex_digit_value(F.substring("_digest", 1, 1))
    if hex_digits == 2:
        shard = shard * 16 + _hex_digit_value(F.substring("_digest", 2, 1))
    d = d.withColumn("shard", shard.cast("int"))
    sub = (
        _hex_digit_value(F.substring("_digest", hex_digits + 1, 1)) * 16
        + _hex_digit_value(F.substring("_digest", hex_digits + 2, 1))
    )
    d = d.withColumn("_sub", sub.cast("int"))
    cnts = d.groupBy("shard", "_sub").agg(F.count("*").alias("_c"))
    wo = (
        Window.partitionBy("shard")
        .orderBy("_sub")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = cnts.select(
        "shard", "_sub", F.coalesce(F.sum("_c").over(wo), F.lit(0)).alias("_off")
    )
    j = d.join(F.broadcast(offs), ["shard", "_sub"])
    wl = Window.partitionBy("shard", "_sub").orderBy("_digest", id_col)
    return (
        j.withColumn(
            "pos", (F.col("_off") + F.row_number().over(wl)).cast("int")
        )
        .drop("_digest", "_sub", "_off")
    )


def shard_sizes(assigned: DataFrame) -> DataFrame:
    """Rows per shard — the balance check (md5 digits are uniform, so
    max/mean converges to 1 as shards fill; verify before writing)."""
    return assigned.groupBy("shard").agg(F.count("*").alias("n_docs"))


def shard_manifest(
    assigned: DataFrame,
    df: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-shard delivery manifest — the validation table a training
    run checks before consuming shards: doc/token totals, id envelope,
    and an ORDER-FREE content checksum (sum of the first 8 hex digits
    of each doc's content md5 as int64 — commutative, so the value is
    partition- and engine-independent; 8 digits keep every per-doc
    term < 2³², so the int64 sum is exact up to ~2³¹ docs per shard —
    production scale. 12 digits would overflow int64 silently beyond
    ~32k docs/shard — ADVICE r2 — because engines disagree on
    overflow: Spark wraps or throws under ANSI while DuckDB widens to
    HUGEINT and errors on the BIGINT cast).

    The text is read from ``df`` joined on id, or, with ``df`` omitted,
    from the assignment itself (``shard_assign`` keeps every input
    column), which needs no join: the rollup's group-by on shard is the
    only shuffle. Re-running the manifest after any shard rewrite and
    diffing checksums is the cheap end-to-end corruption check.
    """
    csum = (
        F.conv(F.substring(F.md5(F.col(text_col)), 1, 8), 16, 10)
        .cast("long")
        .alias("_csum")
    )
    ntok = token_count_col(F.col(text_col)).alias("_ntok")
    if df is None:
        j = assigned.select("shard", id_col, csum, ntok)
    else:
        content = df.select(F.col(id_col).alias("_mid"), csum, ntok)
        j = assigned.join(content, assigned[id_col] == content._mid)
    return j.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("_ntok").cast("long").alias("n_tokens"),
        F.min(id_col).alias("min_id"),
        F.max(id_col).alias("max_id"),
        F.sum("_csum").cast("long").alias("content_checksum"),
    )
