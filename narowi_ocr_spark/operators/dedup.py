"""Deduplication operators for large-scale corpus curation: exact
(hash-groupBy), MinHash + LSH banding (Broder, "On the resemblance and
containment of documents", 1997; banding per Leskovec/Rajaraman/Ullman,
Mining of Massive Datasets ch. 3), SimHash (Charikar, "Similarity
estimation techniques from rounding algorithms", STOC 2002; the
Hamming-band blocking follows Manku/Jain/Sarma, "Detecting
near-duplicates for web crawling", WWW 2007), and n-gram Jaccard
verification.

All of these are Catalyst expression trees (``with_simhash_arrow`` is
the one Arrow kernel). Every hash is derived from ``md5``, so the
DuckDB oracles in ``__spark_entry__.py`` reproduce it bit for bit: the
MinHash signature and the Jaccard verify both read one md5-derived long
per shingle (``shingle_hashes``).

Scale notes (the part that matters at 100 TB):
  - exact dedup is one shuffle on a 32-byte digest — the payload column is
    dropped before the shuffle and re-joined only if needed;
  - near-dedup reads each document's text once: ``hash_sets`` turns it
    into one (id, shingle-hash array) row, and both the MinHash
    signature and the Jaccard verify read that array. A pipeline that
    runs both over the same documents materializes the hash sets once
    (the release job's 03_near_ids stage does) and never re-hashes or
    shuffles text. It shuffles the hash arrays instead: the ``hs`` table
    by id, and the pair sides with their arrays for the verify. At
    21,600 release pages that is 9.6 KB per page, against 3.4 KB of
    extracted text per page (ROADMAP, "Release at three sizes");
  - MinHash signatures are one-permutation hashing over each row's
    shingle-hash array (narrow, no shuffle); only the tiny (doc_id,
    band_idx, band hash) triples shuffle for the LSH bucket join —
    never text;
  - candidate pairs come from an equi-join on (band_idx, band_hash), which
    AQE splits if a degenerate bucket (all-identical docs) skews;
  - Jaccard verification intersects long arrays of candidate pairs
    only — never all-pairs. The text-taking entry points
    (``jaccard_pairs``, ``containment_pairs``) hash only the documents
    in a candidate pair, once each.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from narowi_ocr_spark.functions.native import bind_once, round4
from narowi_ocr_spark.functions.textstats import fingerprint, words

# MinHash geometry: NUM_PERM one-permutation bins folded into NUM_BANDS
# bands of ROWS_PER_BAND rows (b·r = NUM_PERM). With b=8, r=2 the LSH
# S-curve has its 50% capture threshold at (1/b)^(1/r) ≈ 0.35 Jaccard.
# This is the DEV/ORACLE geometry — small enough that the DuckDB oracle
# re-derives every hash, loose enough to exercise the verify stage.
NUM_PERM = 16
ROWS_PER_BAND = 2
NUM_BANDS = NUM_PERM // ROWS_PER_BAND

# PRODUCTION geometry (pass to minhash_bands/lsh_candidate_pairs):
# 128 bins in 16 bands of 8 rows → 50% capture threshold
# (1/16)^(1/8) ≈ 0.71 Jaccard with a much steeper S-curve — near-dups
# above ~0.8 are captured w.p. >0.97 while ~0.5-similar pairs are almost
# never candidates, which is what keeps the candidate join sparse at
# 10⁹+ docs. Same kernel, still one hash per shingle; benched as
# `minhash_prod` in bench.py.
PROD_NUM_PERM = 128
PROD_ROWS_PER_BAND = 8
PROD_NUM_BANDS = PROD_NUM_PERM // PROD_ROWS_PER_BAND

SIMHASH_BITS = 64
SIMHASH_BANDS = 4  # 4×16-bit blocking keys: pigeonhole covers hamming ≤ 3


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


# ------------------------------------------------------------- shingling

def _grams(w: Column, n: int) -> Column:
    """Word n-grams of the word array ``w`` (not distinct); fewer than
    ``n`` words give one gram of the whole text."""
    k = F.size(w)
    return F.when(
        k >= n,
        F.transform(
            F.sequence(F.lit(1), k - F.lit(n - 1)),
            lambda i: F.array_join(F.slice(w, i, n), " "),
        ),
    ).otherwise(F.array(F.array_join(w, " ")))


def shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams (lowercased), the MinHash input set.
    Empty/short docs yield a single shingle of the whole text so every
    document has a non-empty set (stable signatures). The word array is
    bound once per row (``bind_once``) — slicing the raw split inside
    the lambda would re-tokenize per shingle, O(len²) per document."""
    return bind_once(
        words(F.lower(_col(text))), lambda w: F.array_distinct(_grams(w, n))
    )


# ----------------------------------------------------------- exact dedup

def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the minimum-id representative of every exact-content group.
    One shuffle on the 32-byte md5 digest; text never shuffles."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


def build_fingerprint_index(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Distinct content fingerprints of a corpus — the persistent state
    an INCREMENTAL pipeline carries between runs (write it partitioned/
    bucketed by ``fp`` so the next run's anti-join co-locates)."""
    return df.select(fingerprint(text_col).alias("fp")).distinct()


def incremental_dedup(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental exact dedup: from a batch of incoming documents, keep
    only those whose content fingerprint is NOT already in the corpus
    index — the crawl-refresh pattern (each run processes only genuinely
    new content, then unions its survivors' fingerprints into the index).

    Two-level dedup: first within the batch (min-id representative per
    fingerprint, exactly like ``exact_dedup``), then a left-anti join
    against the index. Scale shape: only (id, fp) pairs shuffle — text
    stays behind until the final id-join pullback; the anti-join
    partitions on the 32-byte digest, and with the index stored bucketed
    by fp it degenerates to a co-located sort-merge anti-join with no
    exchange on the index side."""
    fps = new_docs.select(F.col(id_col), fingerprint(text_col).alias("fp"))
    batch_reps = fps.groupBy("fp").agg(F.min(id_col).alias(id_col))
    fresh = batch_reps.join(index, "fp", "left_anti")
    return fresh.join(new_docs, id_col).select(
        id_col, "fp", *[c for c in new_docs.columns if c != id_col]
    )


# --------------------------------------------------------------- MinHash

# A shingle's hash is the first 15 hex digits of its md5, read as a long:
# 60 bits, never negative, and reproducible in DuckDB with md5 and a hex
# cast. A NULL shingle (NULL text) hashes to 0.
_HASH_HEX = 15
_HASH_BITS = 4 * _HASH_HEX
# Densification offset per bin of rotation distance d: v + d·2^55 stays
# below 2^63 for v < 2^60 and d < 128, so at most 128 bins.
_ROTATE_STEP = 1 << 55


def _shingle_hash(s: Column) -> Column:
    return F.coalesce(
        F.conv(F.substring(F.md5(s), 1, _HASH_HEX), 16, 10).cast("long"),
        F.lit(0).cast("long"),
    )


def shingle_hashes(text: Column | str, n: int = 3) -> Column:
    """array<long>: the ``shingles`` of ``text`` as a set of hashes
    (``_shingle_hash``), hashed in the pass that builds them — the one
    shingle pass the MinHash signature and every Jaccard/containment
    verify read.

    Set sizes over the hashes equal those over the strings unless two
    distinct shingles of a compared pair share a 60-bit hash. With n
    distinct shingles in the pair that has probability about n²/2⁶¹
    (4·10⁻¹¹ at n = 10⁴), i.e. under 0.05 affected pairs per 10⁹
    verified, and a collision moves that pair's Jaccard by about 1/n."""
    return bind_once(
        words(F.lower(_col(text))),
        lambda w: F.array_distinct(F.transform(_grams(w, n), _shingle_hash)),
    )


def hash_sets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, hs): the ``shingle_hashes`` of every row of ``df``, one
    narrow projection — the hash-set table the hash-set forms
    (``hash_set_candidates``, ``hash_set_jaccard``) read."""
    return df.select(
        F.col(id_col).alias("id"), shingle_hashes(text_col).alias("hs")
    )


def minhash_bands(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_perm: int = NUM_PERM, rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """(id, band_idx, band_hash) rows of a one-permutation MinHash
    signature (Li, Owen & Zhang, "One Permutation Hashing", NIPS 2012)
    with rotation densification (Shrivastava & Li, "Densifying One
    Permutation Hashing via Rotation", 2014):

      - shingle hash h falls in bin pmod(h, num_perm); a bin's value is
        the min h in it. One hash per shingle, not one per permutation;
      - an empty bin takes the value v of the first non-empty bin to
        its right (circularly), at distance d, as v + d·2^55: two
        documents agree on it only if they agree on that bin and on d.
        Without this, documents with fewer distinct shingles than bins
        lose band matches (recall drops). The cost: a band's empty bins
        share one source, so short documents sharing a few shingles
        become candidates more often than under independent
        permutations (the verify drops them);
      - band b is the md5 of bins [b·r, b·r + r) in order, as decimal
        strings joined by '|'.

    Per document this is one pass over its ``shingle_hashes`` array:
    each hash becomes a (bin, h) sort key packed in a long, the keys
    sort natively, the first key of each bin's run is the bin's min,
    and the ≤ num_perm present bins are densified and banded. It is
    narrow (no shuffle, no aggregate), and the same on any
    partitioning; only the ~48-byte band rows cross the band join."""
    return _bands(hash_sets(df, text_col, id_col), num_perm, rows_per_band)


def _bands(hs: DataFrame, num_perm: int, rows_per_band: int) -> DataFrame:
    """``minhash_bands`` of a hash-set table (``hash_sets``)."""
    if num_perm & (num_perm - 1) or not 0 < num_perm <= 128:
        raise ValueError("num_perm must be a power of two ≤ 128")
    lg = num_perm.bit_length() - 1
    low = _HASH_BITS - lg  # key = bin << low | h >> lg: sorts by (bin, h)

    def key(h: Column) -> Column:
        b = h.bitwiseAND(F.lit(num_perm - 1).cast("long"))
        return F.shiftleft(b, low).bitwiseOR(F.shiftright(h, lg))

    def bin_of(k: Column) -> Column:
        return F.shiftright(k, low)

    def value(k: Column) -> Column:
        rest = k.bitwiseAND(F.lit((1 << low) - 1))
        return F.shiftleft(rest, lg).bitwiseOR(bin_of(k))

    def bin_mins(ks: Column) -> Column:
        # at i = 0 get() is NULL, and TRUE OR NULL keeps the first key
        return F.filter(
            ks, lambda k, i: (i == 0) | (bin_of(k) != bin_of(F.get(ks, i - 1)))
        )

    def densified(pk: Column) -> Column:
        last = bin_of(F.element_at(pk, -1))

        def fill(k: Column, i: Column) -> Column:
            b, v = bin_of(k), value(k)
            prev = F.coalesce(bin_of(F.get(pk, i - 1)), last - num_perm)
            return F.transform(
                F.sequence(prev + 1, b), lambda t: v + (b - t) * _ROTATE_STEP
            )

        # bins last+1-num_perm .. last, in that order: rotate to 0 .. num_perm-1
        flat = F.flatten(F.transform(pk, fill))
        head = (F.lit(num_perm) - last).cast("int")
        return F.concat(
            F.slice(flat, head, (last + 1).cast("int")),
            F.slice(flat, F.lit(1), head - 1),
        )

    def bands(vals: Column) -> Column:
        vs = vals.cast("array<string>")
        return F.transform(
            F.sequence(F.lit(0), F.lit(num_perm // rows_per_band - 1)),
            lambda b: F.md5(
                F.array_join(F.slice(vs, b * rows_per_band + 1, rows_per_band), "|")
            ),
        )

    keys = F.sort_array(F.transform(F.col("hs"), key))
    sig = bind_once(
        keys,
        lambda ks: bind_once(
            bin_mins(ks), lambda pk: bind_once(densified(pk), bands)
        ),
    )
    return hs.select("id", F.posexplode(sig).alias("band_idx", "band_hash"))


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = NUM_PERM,
    rows_per_band: int = ROWS_PER_BAND,
    kernel: str | None = None,
) -> DataFrame:
    """Distinct candidate near-duplicate pairs (id_a < id_b) that share at
    least one MinHash band bucket (``minhash_bands``).

    Dataflow: per-row band digests (narrow) → (id, band_idx, band_hash)
    triples → self-equi-join on the band key. Only ~48 bytes per (doc,
    band) cross the shuffle. A pathological bucket (the same
    boilerplate on millions of urls) is exactly the skew AQE's skew-join
    splitting handles; for known-degenerate corpora run exact_dedup first.

    ``num_perm``/``rows_per_band`` select the band geometry: the dev
    default (16/2, capture threshold ≈ 0.35 Jaccard) keeps oracle
    fixtures exercised; production compositions pass
    (PROD_NUM_PERM, PROD_ROWS_PER_BAND) = (128, 8), whose ≈0.71
    threshold keeps the candidate join sparse on real corpora.

    ``kernel`` selects nothing: there is one MinHash kernel. The keyword
    is still accepted because existing compositions (the benchmark's
    traced release) pass ``kernel="xxhash64"``.
    """
    return hash_set_candidates(
        hash_sets(df, text_col, id_col), num_perm, rows_per_band
    )


def hash_set_candidates(
    hs: DataFrame,
    num_perm: int = NUM_PERM,
    rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """``lsh_candidate_pairs`` of a hash-set table (``hash_sets``)."""
    bands = _bands(hs, num_perm, rows_per_band)
    # Explicit exchange on the join keys: both self-join sides share ONE
    # identical Exchange subtree, so ReuseExchange materializes the
    # signature pass once instead of once per side. Shuffled rows stay
    # (id, band_idx, band_hash) — ~48 bytes. (The DISTINCT stays, unlike
    # simhash_near_pairs' first-band trick: deduping by first matching
    # band would require carrying every band digest on both sides —
    # ~264 bytes/row, 5× the shuffle — and band digests must stay full
    # md5 strings because 64-bit truncation collides at 10⁹-doc scale.)
    bands = bands.repartition(F.col("band_idx"), F.col("band_hash"))
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def _pair_ids(pairs: DataFrame) -> DataFrame:
    """(id): both ids of every pair of ``pairs`` (``id_a``, ``id_b``)."""
    return pairs.select(F.explode(F.array("id_a", "id_b")).alias("id"))


def _hash_sets(
    df: DataFrame, ids: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """(id, hs): ``shingle_hashes`` of each document of ``df`` whose id
    is in ``ids`` (one column ``id``), built once per document and at
    the session's shuffle width — the hash-set table of the text-taking
    verify entry points, which shingle candidate documents only.

    The documents are read through ``repartition(<spark.sql.shuffle.
    partitions>, id)``, and the shingling runs on its output. The width
    is explicit because AQE sizes partitions by bytes: it folded the
    document shuffle of a 1350-page release into one partition, so every
    candidate's shingle md5 ran in one task, while the cost is per
    document, not per byte. A ``REPARTITION_BY_NUM`` exchange is never
    coalesced. The filter is an inner join against the distinct ids,
    not a left-semi join: the optimizer pushes a semi join below the
    repartition, back onto the id exchange AQE coalesces. The ids are
    the join's hash-built side (``shuffle_hash`` hint), so AQE cannot
    broadcast the documents instead and move the shingling onto the
    coalesced id side."""
    width = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return hash_sets(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
        .repartition(width, "id")
        .join(ids.distinct().hint("shuffle_hash"), "id"),
        "_t",
        "id",
    )


def _pair_sets(hs: DataFrame, pairs: DataFrame) -> DataFrame:
    """(id_a, id_b, sh_a, sh_b): the candidate pairs with both sides'
    hash sets from the hash-set table ``hs``, which is read once. Every
    pair becomes one row per side, the rows join ``hs`` on the document
    id, and one hash aggregate puts the two sides of each pair back
    together. (Joining ``hs`` twice, once per side, would evaluate an
    un-materialized ``hs`` twice: nothing makes the two consumers share
    one exchange.) A pair whose document is missing from ``hs`` is
    dropped, as an inner join would."""
    sides = pairs.select(
        "id_a", "id_b", F.explode(F.array("id_a", "id_b")).alias("id")
    )
    # ids are distinct within a pair (id_a < id_b): the sort puts a first
    both = F.sort_array(F.collect_list(F.struct("id", "hs")))
    return (
        sides.join(hs, "id")
        .groupBy("id_a", "id_b")
        .agg(both.alias("s"))
        .where(F.size("s") == 2)
        .select(
            "id_a",
            "id_b",
            F.col("s")[0]["hs"].alias("sh_a"),
            F.col("s")[1]["hs"].alias("sh_b"),
        )
    )


def _jaccard(a: str = "sh_a", b: str = "sh_b") -> Column:
    inter = F.size(F.array_intersect(a, b)).cast("double")
    return round4(inter / F.size(F.array_union(a, b)).cast("double"))


def _with_once(df: DataFrame, name: str, expr: Column) -> DataFrame:
    """``df`` plus the column ``name`` = ``expr``, evaluated once per row
    even when a filter reads it. The optimizer pushes a filter on a
    projected alias below the projection with the alias replaced by its
    expression, which evaluates the expression twice per row (the
    verify's set algebra, in the filter and in the projection). A
    filter on the output of a generator (here a one-element
    ``explode``) stays above it and reads the value."""
    return df.select("*", F.explode(F.array(expr)).alias(name))


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """Exact shingle Jaccard for candidate pairs; keeps pairs ≥ threshold.
    Joined only to the candidate pairs, never all-pairs, and only the
    documents in a pair are shingled, each once (``_hash_sets``); the
    intersection and union run over long arrays (``shingle_hashes``)."""
    return hash_set_jaccard(
        _hash_sets(df, _pair_ids(pairs), text_col, id_col), pairs, threshold
    )


def hash_set_jaccard(
    hs: DataFrame, pairs: DataFrame, threshold: float = 0.8
) -> DataFrame:
    """``jaccard_pairs`` of a hash-set table (``hash_sets``): (id_a,
    id_b, jaccard) of the ``pairs`` at or above ``threshold``, reading
    ``pairs`` and ``hs`` once each (``_pair_sets``)."""
    return (
        _with_once(_pair_sets(hs, pairs), "jaccard", _jaccard())
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Asymmetric containment |A∩B|/|A| over candidate pairs (Broder's
    containment): catches a short document wholly contained in a longer
    one, which symmetric Jaccard under-scores. Returns (id_a, id_b,
    n_shared, n_a, n_b, containment_a_ppm) for pairs sharing at least
    one shingle; same once-per-document hashed sets as
    ``jaccard_pairs``."""
    n_shared = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        _with_once(
            _pair_sets(_hash_sets(df, _pair_ids(pairs), text_col, id_col), pairs),
            "n_shared",
            n_shared,
        )
        .where(F.col("n_shared") > 0)
        .select(
            "id_a",
            "id_b",
            "n_shared",
            F.size("sh_a").alias("n_a"),
            F.size("sh_b").alias("n_b"),
            F.expr(
                "CASE WHEN size(sh_a) > 0 THEN"
                " (1000000L * n_shared) div size(sh_a) END"
            ).alias("containment_a_ppm"),
        )
    )


# --------------------------------------------------------------- SimHash

def _word_hash(t: Column) -> Column:
    """64 hex digits of bit votes per word: md5(w) ‖ md5('1:'+w).
    TWO md5 calls per word carry all 64 independent bit parities — still
    O(1) hash invocations per word, never one per (word, bit)."""
    return F.concat(F.md5(t), F.md5(F.concat(F.lit("1:"), t)))


def simhash(text: Column | str, bits: int = SIMHASH_BITS) -> Column:
    """``bits``-bit SimHash over the distinct word set (long column).

    TWO md5 per word (see ``_word_hash``): bit *b* of word *w* is the
    parity of hex digit *b*+1 of the 64-digit concatenated digest
    (digit ≥ '8' → 1). The per-document bit is the sign of the ±1 vote
    sum — all computed with ``aggregate`` over the hashed-word array:
    narrow, shuffle-free, and byte-reproducible in the DuckDB oracle.

    This fold is the reference definition that tests compare the
    signature kernel against; to sign a whole frame use
    ``with_simhash_arrow``, which hashes each distinct word once per
    worker instead of evaluating an interpreted lambda per (word, bit).
    """
    hw = F.transform(
        F.array_distinct(words(F.lower(_col(text)))), _word_hash
    )
    return _simhash_from_hashes(hw, bits)


def _bit_value(b: int) -> int:
    """Signed-long value of bit ``b`` (bit 63 is the two's-complement
    sign bit, so its contribution is negative)."""
    return (1 << b) if b < 63 else -(1 << 63)


def with_simhash_arrow(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, h): the 64-bit SimHash of each row, value-identical to the
    ``simhash()`` fold (same tokenize → distinct → 2×md5 digest →
    nibble-msb votes → majority sign; asserted equal by
    tests/test_dedup_similarity.py incl. a unicode-edge differential),
    as ONE narrow mapInPandas projection: no explode, no shuffle, and
    no interpreted per-(word, bit) lambda.

    Kernel shape: per distinct word, the 64 hex digits of
    md5(w) ‖ md5('1:'+w) are one ``bytes.fromhex`` + ``unpackbits``;
    each digit's parity vote is the msb of its nibble = every 4th bit
    of the unpacked stream, so a word's 64 votes are one strided slice
    and a document's bit counts are one ``sum(axis=0)``. A per-worker
    word→votes memo collapses the Zipfian corpus vocabulary, so md5
    cost is ~O(|vocab|) per worker, not O(tokens). Word splitting uses
    the EXPLICIT Java-``\\s`` class ``[ \\t\\n\\x0b\\f\\r]+`` (the
    ``words()`` contract — Python ``\\s`` and ``str.split`` both
    disagree at the edges, see ``bpe_encode_udf``).

    Scale shape: embarrassingly parallel scan-side projection —
    (id, h) longs out, text never leaves the stage."""
    import re
    from collections.abc import Iterator as _Iter
    from hashlib import md5 as _md5

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    ws_re = re.compile(r"[ \t\n\x0b\f\r]+")

    def run(batches: _Iter[pd.DataFrame]) -> _Iter[pd.DataFrame]:
        votes_memo: dict[str, np.ndarray] = {}

        def word_votes(w: str) -> np.ndarray:
            got = votes_memo.get(w)
            if got is None:
                b = w.encode("utf-8")
                digest = _md5(b).hexdigest() + _md5(b"1:" + b).hexdigest()
                got = votes_memo[w] = np.unpackbits(
                    np.frombuffer(bytes.fromhex(digest), dtype=np.uint8)
                )[::4].astype(np.int64)
            return got

        def doc_hash(t: str | None) -> int:
            if t is None:
                return 0
            toks = {w for w in ws_re.split(t.lower()) if w}
            n = len(toks)
            if n == 0:
                return 0
            counts = np.sum([word_votes(w) for w in toks], axis=0)
            h = 0
            for b in np.nonzero(2 * counts > n)[0]:
                h += _bit_value(int(b))
            return h

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].astype("int64"),
                    "h": [doc_hash(t) for t in pdf[text_col]],
                }
            )

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("h", T.LongType(), False),
        ]
    )
    return df.select(id_col, text_col).mapInPandas(run, schema)


def _simhash_from_hashes(hw: Column, bits: int = SIMHASH_BITS) -> Column:
    assert bits <= 64, "the concatenated digests carry 64 hex-digit votes"
    out = F.lit(0).cast("long")
    for b in range(bits):
        vote = F.aggregate(hw, F.lit(0), _vote_fn(b))
        out = out + F.when(vote > 0, F.lit(_bit_value(b))).otherwise(F.lit(0)).cast(
            "long"
        )
    return out


def _vote_fn(b: int):
    def vote(acc: Column, h: Column) -> Column:
        return acc + F.when(
            F.substring(h, b + 1, 1).isin(*"89abcdef"),
            F.lit(1),
        ).otherwise(F.lit(-1))

    return vote


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two long hash columns (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_band_key(h: Column, band: int) -> Column:
    """16-bit blocking key ``band`` of a 64-bit SimHash: bits
    [16·band, 16·band+16). The mask makes the arithmetic shift's
    sign-fill irrelevant."""
    shifted = F.shiftright(h, 16 * band) if band else h
    return shifted.bitwiseAND(F.lit(65535)).cast("long")


def simhash_near_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance. Candidate generation
    uses the four 16-bit bands of the 64-bit hash as blocking keys: a
    pair within hamming ≤ 3 differs in at most 3 of the 4 bands, so by
    pigeonhole it agrees exactly on at least one band — the join is an
    equi-join on a small (band, key) pair, never a cross join. With
    2¹⁶ values per band the expected bucket occupancy stays tiny even at
    10⁹ docs (vs the 256-bucket 8-bit-half scheme this replaced, whose
    self-join degraded toward O(N²/256)).

    The d+1-band guarantee requires ``max_hamming`` ≤ 3; larger radii
    would need more/finer bands (recall would silently drop otherwise).
    """
    if max_hamming > SIMHASH_BANDS - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the {SIMHASH_BANDS}-band "
            f"pigeonhole guarantee (≤ {SIMHASH_BANDS - 1})"
        )
    h = with_simhash_arrow(df, text_col, id_col)
    halves = h.select(
        "id",
        "h",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("part"),
                        simhash_band_key(F.col("h"), i).alias("key"),
                    )
                    for i in range(SIMHASH_BANDS)
                ]
            )
        ).alias("blk"),
    ).select("id", "h", "blk.part", "blk.key")
    # Explicit exchange on the join keys: both self-join sides then
    # share ONE identical Exchange subtree, so ReuseExchange
    # materializes the signature stage once — without it each side
    # (and each branch of a unioned input) re-runs the Arrow kernel.
    # The shuffled rows are (id, h, part, key) — 28 bytes/band-row,
    # never text.
    halves = halves.repartition(F.col("part"), F.col("key"))
    a, b = halves.alias("a"), halves.alias("b")
    # Each pair is emitted from its FIRST matching band only: band i
    # qualifies iff every earlier band's keys differ (computable from
    # the carried full hashes). This replaces the old post-join
    # DISTINCT — a shuffle of every (pair × matching-band) candidate
    # row, 4× the pair count for identical docs — with a residual
    # ALU predicate; the output pair set is identical.
    def _bands_differ(upto: int) -> Column:
        c = F.lit(True)
        for j in range(upto):
            c = c & (
                simhash_band_key(F.col("a.h"), j)
                != simhash_band_key(F.col("b.h"), j)
            )
        return c

    first_match = F.lit(False)
    for i in range(SIMHASH_BANDS):
        first_match = F.when(
            F.col("a.part") == i, _bands_differ(i)
        ).otherwise(first_match)
    return (
        a.join(
            b,
            (F.col("a.part") == F.col("b.part"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .where(first_match)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming64(F.col("a.h"), F.col("b.h")).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def winnow_near_pairs(
    df: DataFrame,
    min_shared: int = 10,
    max_df: int = 25,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MOSS-style near-duplicate pairs from winnowing fingerprints
    (Schleimer et al., SIGMOD'03 — the plagiarism-detection member of
    the dedup family; unlike MinHash's whole-document similarity, the
    winnow guarantee is per-SUBSTRING: any shared run ≥ k+w-1 chars
    yields a shared fingerprint, so it catches long verbatim spans
    inside otherwise-different documents).

    Returns (id_a, id_b, n_shared, jaccard) for pairs sharing at least
    ``min_shared`` fingerprints (id_a < id_b), with jaccard over the
    docs' fingerprint SETS.

    Scale shape: only (id, fp8) pairs shuffle. The fp self-join is the
    classic hot-key risk — boilerplate substrings appear corpus-wide —
    so fingerprints hitting more than ``max_df`` documents are dropped
    FIRST (one partial-agg count over the same exploded pass; the MOSS
    service does exactly this with its "common code" threshold). That
    bounds the join's per-key fanout at max_df² regardless of corpus
    size."""
    from narowi_ocr_spark.functions.textstats import winnow_fingerprints

    fps = df.select(
        F.col(id_col).alias("id"),
        F.explode(winnow_fingerprints(text_col)).alias("fp"),
        # materialize ONCE: the winnowing projection (O(len) md5s per
        # doc) is the dominant cost and this frame feeds the df-count,
        # the size table, and BOTH sides of the self-join
    ).localCheckpoint(eager=True)
    rare = fps.groupBy("fp").agg(F.count("*").alias("df_cnt")).where(
        F.col("df_cnt") <= max_df
    )
    kept = fps.join(rare.select("fp"), "fp")
    sizes = kept.groupBy("id").agg(F.count("*").alias("n_fp"))
    shared = (
        kept.alias("a")
        .join(kept.alias("b"), "fp")
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").cast("int").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_fp").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_fp").alias("n_b"))
    from narowi_ocr_spark.functions.native import round4

    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_shared",
            round4(
                F.col("n_shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
    )


def incremental_near_dup(
    new_docs: DataFrame,
    index_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Crawl-refresh NEAR-dedup — the MinHash twin of
    ``incremental_dedup``: which documents of an incoming batch
    near-duplicate something already in the corpus index? Returns
    (new_id, index_id, jaccard) for verified pairs with n-gram Jaccard
    ≥ ``threshold``; ``new_id``s absent from the result are genuinely
    novel content and proceed to extraction.

    Dataflow: each side's text is read once. ``hash_sets`` turns every
    document into one (id, shingle-hash array) row, and that table
    passes a lazy ``localCheckpoint``: the first stage that reads it
    computes it and the block manager serves it to the second. The
    bands (``_bands`` — narrow, only ~48-byte rows shuffle) and the
    Jaccard verify both read it, so no shingle is hashed twice and no
    text shuffles. Candidates come from the band equi-join NEW × INDEX
    (never new×new or index×index — re-crawls only need novelty vs the
    corpus, which keeps the pair count linear in the batch, not the
    corpus). The hashing is not confined that way: every index document
    is shingled on every call, so this function's cost grows with the
    corpus; the production shape below keeps the index side persisted
    instead.

    Production shape: the index side's band triples and hash sets are
    PERSISTED tables (written bucketed by (band_idx, band_hash) and id
    respectively), so the candidate join is co-located with no exchange
    on the corpus side and each refresh hashes only the new batch; this
    function derives them from ``index_docs`` inline because the dev
    harness has no persistent store. After the run, union the novel
    docs' bands into the index — exactly the fingerprint-index
    lifecycle of ``build_fingerprint_index``.
    """
    hn = hash_sets(new_docs, text_col, id_col).localCheckpoint(eager=False)
    hi = hash_sets(index_docs, text_col, id_col).localCheckpoint(eager=False)
    bn = _bands(hn, NUM_PERM, ROWS_PER_BAND)
    bi = _bands(hi, NUM_PERM, ROWS_PER_BAND)
    cand = (
        bn.alias("n")
        .join(
            bi.alias("i"),
            (F.col("n.band_idx") == F.col("i.band_idx"))
            & (F.col("n.band_hash") == F.col("i.band_hash")),
        )
        .select(
            F.col("n.id").alias("new_id"), F.col("i.id").alias("index_id")
        )
        .distinct()
    )
    sn = hn.select(F.col("id").alias("new_id"), F.col("hs").alias("sh_a"))
    si = hi.select(F.col("id").alias("index_id"), F.col("hs").alias("sh_b"))
    paired = cand.join(sn, "new_id").join(si, "index_id")
    return (
        _with_once(paired, "jaccard", _jaccard())
        .where(F.col("jaccard") >= threshold)
        .select("new_id", "index_id", "jaccard")
    )


def dedup_eval(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    salt: str = "de0",
    hex_lt: str = "4",
) -> DataFrame:
    """Precision/recall of MinHash-LSH candidate generation against
    exact all-pairs n-gram Jaccard ground truth — the harness that sizes
    the (NUM_PERM, bands, rows) geometry, mirroring ``ann_recall`` for
    the dedup family.

    Ground truth needs ALL pairs, which is O(n²) by definition, so the
    evaluation runs on a deterministic md5 sample (hex-prefix predicate:
    reproducible across engines and partitionings). At 100 TB you size
    the SAMPLE (e.g. 100k docs), never the corpus: the quadratic term is
    confined to the eval job, and the measured precision/recall of the
    geometry transfers to the full corpus.

    Returns ONE row: n_truth, n_pred, n_hit, precision_ppm, recall_ppm
    (parts-per-million integer fixed point: exact cross-engine, no float
    division drift).
    """
    key = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    # the sample's hash sets, computed by the truth job and read back by
    # the candidate job: each sampled document is shingled once
    sampled = df.where(key < F.lit(hex_lt))
    hs = hash_sets(sampled, text_col, id_col).localCheckpoint(eager=False)
    a, b = hs.alias("a"), hs.alias("b")
    truth = (
        a.join(b, F.col("a.id") < F.col("b.id"))  # eval-only all-pairs
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            _jaccard("a.hs", "b.hs").alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
        # materialized once: consumed by both the hit join and n_truth —
        # without this the O(n²) truth join runs twice (same pattern as
        # winnow_near_pairs above)
        .localCheckpoint(eager=True)
    )
    pred = hash_set_candidates(hs).localCheckpoint(eager=True)
    hit = pred.join(truth.select("id_a", "id_b"), ["id_a", "id_b"])
    nt = truth.agg(F.count("*").cast("long").alias("n_truth"))
    np_ = pred.agg(F.count("*").cast("long").alias("n_pred"))
    nh = hit.agg(F.count("*").cast("long").alias("n_hit"))
    return (
        nt.crossJoin(np_)
        .crossJoin(nh)
        .select(
            "n_truth",
            "n_pred",
            "n_hit",
            F.expr(
                "CASE WHEN n_pred = 0 THEN NULL"
                " ELSE (1000000 * n_hit) div n_pred END"
            ).alias("precision_ppm"),
            F.expr(
                "CASE WHEN n_truth = 0 THEN NULL"
                " ELSE (1000000 * n_hit) div n_truth END"
            ).alias("recall_ppm"),
        )
    )
