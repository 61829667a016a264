"""Dedup + similarity operator tests (SURVEY.md §2 training-data ops)."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from narowi_ocr_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_bands,
    shingles,
    simhash,
    simhash_near_pairs,
    with_simhash_arrow,
)
from narowi_ocr_spark.operators.similarity import (
    brute_force_topk,
    bucketed_topk,
    lsh_bucket,
)


@pytest.fixture(scope="module")
def corpus(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        Row(doc_id=0, text=base),
        Row(doc_id=1, text=base),                      # exact dup of 0
        Row(doc_id=2, text=base + " with a tiny tail"),  # near dup of 0
        Row(doc_id=3, text="completely different words about spark shuffles"),
        Row(doc_id=4, text="another unrelated document mentioning partitions"),
    ]
    return spark.createDataFrame(rows)


def test_exact_dedup(corpus):
    out = {r["fp"]: r for r in exact_dedup(corpus).collect()}
    assert len(out) == 4  # 0/1 collapse
    counts = sorted(r["n_copies"] for r in out.values())
    assert counts == [1, 1, 1, 2]
    dup = [r for r in out.values() if r["n_copies"] == 2][0]
    assert dup["keep_id"] == 0


def test_minhash_identical_documents_identical_bands(corpus):
    bands = {}
    for r in minhash_bands(corpus).collect():
        bands.setdefault(r["id"], {})[r["band_idx"]] = r["band_hash"]
    assert all(len(b) == 8 for b in bands.values())  # dev geometry 16/2
    assert bands[0] == bands[1]
    assert not set(bands[0].values()) & set(bands[3].values())
    # the near dup (Jaccard 0.77) shares at least one band bucket
    assert sum(bands[0][i] == bands[2][i] for i in range(8)) >= 1


def test_lsh_pairs_and_jaccard(corpus):
    pairs = lsh_candidate_pairs(corpus)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 1) in got
    assert (0, 2) in got or (1, 2) in got
    assert all(a < b for a, b in got)

    j = jaccard_pairs(corpus, pairs, threshold=0.5)
    jmap = {(r["id_a"], r["id_b"]): r["jaccard"] for r in j.collect()}
    assert jmap[(0, 1)] == 1.0
    near = [v for k, v in jmap.items() if 2 in k]
    assert near and all(0.5 <= v < 1.0 for v in near)


def test_simhash_near_pairs(corpus):
    hashes = {
        r["doc_id"]: r["h"]
        for r in corpus.select("doc_id", simhash("text").alias("h")).collect()
    }
    assert hashes[0] == hashes[1]
    assert -(1 << 63) <= hashes[0] < (1 << 63)  # full 64-bit signed range
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_near_pairs(corpus).collect()}
    assert pairs.get((0, 1)) == 0
    # exhaustive recall check of the 4×16-bit band blocking: every pair
    # within hamming ≤ 3 must be captured (pigeonhole on d+1=4 bands)
    import itertools

    exhaustive = {
        (a, b): bin((hashes[a] ^ hashes[b]) & ((1 << 64) - 1)).count("1")
        for a, b in itertools.combinations(sorted(hashes), 2)
    }
    expected = {k: d for k, d in exhaustive.items() if d <= 3}
    assert pairs == expected

    with pytest.raises(ValueError):
        simhash_near_pairs(corpus, max_hamming=4)


def test_shingles_short_doc(spark):
    df = spark.createDataFrame([Row(doc_id=0, text="two words")])
    sh = df.select(shingles("text").alias("s")).first()["s"]
    assert sh == ["two words"]


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=1, embedding=[0.9, 0.1, 0.0]),
        Row(vec_id=2, embedding=[0.0, 1.0, 0.0]),
        Row(vec_id=3, embedding=[0.0, 0.0, 1.0]),
        Row(vec_id=4, embedding=[-1.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows)


def test_brute_force_topk(vectors):
    q = vectors.where(F.col("vec_id") == 0)
    out = brute_force_topk(vectors, q, k=2).collect()
    assert [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])] == [1, 2]
    assert out[0]["cos_sim"] <= 1.0


def test_bucketed_topk_subset_of_bucket(vectors):
    q = vectors.where(F.col("vec_id") == 0)
    out = bucketed_topk(vectors, q, k=5).collect()
    buckets = {
        r["vec_id"]: r["bucket"]
        for r in vectors.select("vec_id", lsh_bucket("embedding").alias("bucket")).collect()
    }
    for r in out:
        assert buckets[r["neighbor_id"]] == buckets[0]


def test_embedding_near_dup_pairs(vectors):
    from narowi_ocr_spark.operators.similarity import embedding_near_dup_pairs

    out = embedding_near_dup_pairs(vectors, threshold=0.9).collect()
    # only (0,1) are near-duplicates (cos ≈ 0.994); canonical id_a < id_b
    assert [(r.id_a, r.id_b) for r in out] == [(0, 1)]
    assert out[0].cos_sim == pytest.approx(0.9939, abs=1e-4)


def test_ivf_multiprobe_recall_dominates_single_probe(vectors):
    """n_probe=2 candidates are a superset of n_probe=1 per query, and
    multiprobe recovers neighbors a single probe misses."""
    from narowi_ocr_spark.operators.similarity import ivf_topk

    cents = vectors.where(F.col("vec_id") < 2)
    q = vectors.where(F.col("vec_id") == 0)
    one = {(r.query_id, r.neighbor_id) for r in ivf_topk(vectors, q, cents, k=5).collect()}
    two = {(r.query_id, r.neighbor_id) for r in ivf_topk(vectors, q, cents, k=5, n_probe=2).collect()}
    assert one <= two
    # v0's own cell (0) holds only v3; probing cell 1 too recovers v1
    assert (0, 1) in two and (0, 1) not in one


def test_ivf_topk_probes_own_cell(vectors):
    from narowi_ocr_spark.operators.similarity import ivf_cells, ivf_topk

    cents = vectors.where(F.col("vec_id") < 2)
    cells = {r.vec_id: r.cell for r in ivf_cells(vectors, cents).collect()}
    # v0→c0 (cos 1), v1→c1 (cos 1), v2→c1 (0.11 > 0), v3→tie→lower cell 0,
    # v4→c1 (-0.99 > -1)
    assert cells == {0: 0, 1: 1, 2: 1, 3: 0, 4: 1}

    q = vectors.where(F.col("vec_id") == 0)
    out = ivf_topk(vectors, q, cents, k=3).collect()
    # n_probe=1: only cell-0 co-residents are candidates → just v3
    assert [(r.neighbor_id, r.cos_sim) for r in out] == [(3, 0.0)]


def test_semantic_dedup_clusters_and_keep(vectors):
    """SemDeDup composition: 0≈1 (cos .994) cluster under min id 0;
    orthogonal/antipodal vectors stay singletons and are all kept."""
    from narowi_ocr_spark.operators.similarity import semantic_dedup

    got = {r.vec_id: r for r in semantic_dedup(vectors, threshold=0.9).collect()}
    assert len(got) == 5
    assert got[0].component == 0 and got[0].is_kept
    assert got[1].component == 0 and not got[1].is_kept
    for vid in (2, 3, 4):
        assert got[vid].component == vid and got[vid].is_kept
    # exactly one representative per component
    kept = [r for r in got.values() if r.is_kept]
    assert {r.component for r in kept} == {0, 2, 3, 4}


def test_semantic_contamination_flags_near_eval(vectors):
    """v0 is the eval set: v0 flags itself (cos 1.0), v1 is near enough
    (cos .994), orthogonal/antipodal vectors are clean."""
    from narowi_ocr_spark.operators.similarity import semantic_contamination

    eval_vecs = vectors.where(F.col("vec_id") == 0)
    got = {
        r.id: r
        for r in semantic_contamination(
            vectors, eval_vecs, threshold=0.9
        ).collect()
    }
    assert got[0].contaminated and got[0].max_eval_cos == 1.0
    assert got[1].contaminated and abs(got[1].max_eval_cos - 0.9939) < 1e-4
    for vid in (2, 3, 4):
        assert not got[vid].contaminated
    assert got[4].max_eval_cos == -1.0  # antipodal


def test_semantic_contamination_is_shuffle_free(vectors):
    from narowi_ocr_spark.operators.similarity import semantic_contamination

    plan = (
        semantic_contamination(vectors, vectors.where(F.col("vec_id") == 0))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_quantize_embeddings_hand_computed(spark):
    """x = [1, -0.5, 0, 0.25] with scale 1.0 → q = floor(x·127 + 0.5) =
    [127, -63, 0, 32]; zero vector → all-zero codes, scale 0, mse 0."""
    from narowi_ocr_spark.operators.similarity import quantize_embeddings

    df = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[1.0, -0.5, 0.0, 0.25]),
            Row(vec_id=1, embedding=[0.0, 0.0, 0.0, 0.0]),
        ]
    )
    got = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    r0 = got[0]
    assert (r0["n_dims"], r0["scale_r4"]) == (4, 1.0)
    # q_sum = 127 - 63 + 0 + 32
    assert (r0["q_sum"], r0["q_min"], r0["q_max"]) == (96, -63, 127)
    import hashlib

    assert r0["q_md5"] == hashlib.md5(b"127,-63,0,32").hexdigest()
    # errors: 0, (-0.5 + 63/127)^2, 0, (0.25 - 32/127)^2
    exp_mse = (
        (-0.5 + 63.0 / 127.0) ** 2 + (0.25 - 32.0 / 127.0) ** 2
    ) / 4.0
    import math

    assert abs(r0["mse_r4"] - exp_mse) < 1e-4
    r1 = got[1]
    assert (r1["scale_r4"], r1["q_sum"], r1["mse_r4"]) == (0.0, 0, 0.0)
    assert r1["q_md5"] == hashlib.md5(b"0,0,0,0").hexdigest()


def test_quantize_embeddings_codes_bounded(vectors):
    from narowi_ocr_spark.operators.similarity import quantize_embeddings

    out = quantize_embeddings(vectors)
    bad = out.where((F.col("q_min") < -127) | (F.col("q_max") > 127)).count()
    assert bad == 0
    # shuffle-free narrow projection
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def _fold_hashes(df) -> dict:
    rows = df.select("doc_id", simhash("text").alias("h")).collect()
    return {r["doc_id"]: r["h"] for r in rows}


def _arrow_hashes(df) -> dict:
    return {r["id"]: r["h"] for r in with_simhash_arrow(df).collect()}


def test_simhash_arrow_twin_identical(spark):
    """The Arrow kernel (with_simhash_arrow) must produce EXACTLY the
    hashes of the simhash() fold, the definition the DuckDB oracle
    mirrors — including unicode case-fold edges, mixed whitespace (the
    Java-\\s class), empty and null documents."""
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "THE QUICK Brown fox JUMPS over the lazy dog"),
        (2, ""),
        (3, None),
        (4, "  \t tabs\x0band\fodd\rwhitespace\n mix "),
        (5, "ümlaut ÜMLAUT Σίσυφος ΣΊΣΥΦΟΣ straße STRASSE"),
        (6, "unicode İstanbul ı dotless れ漢字 émigré ÉMIGRÉ"),
        (7, "a"),
        (8, "repeated repeated repeated distinct"),
        (9, "0123456789 !@#$%^&*() <html><body>&amp;</body></html>"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(3)
    arrow = _arrow_hashes(df)
    assert arrow == _fold_hashes(df)
    # empty/null → 0 by contract
    assert arrow[2] == 0 and arrow[3] == 0


def test_simhash_arrow_twin_fuzz(spark):
    """300-doc random differential: random words over a unicode-heavy
    alphabet, random whitespace separators from the Java-\\s class."""
    import random

    rnd = random.Random(42)
    alpha = "abcXYZ019äßÉİı漢れΣσς"
    seps = " \t\n\x0b\f\r"

    def doc():
        parts = []
        for _ in range(rnd.randrange(0, 30)):
            parts.append(
                "".join(rnd.choice(alpha) for _ in range(rnd.randrange(1, 8)))
            )
            parts.append(
                "".join(rnd.choice(seps) for _ in range(rnd.randrange(1, 3)))
            )
        return "".join(parts)

    rows = [(i, doc()) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(4)
    assert _arrow_hashes(df) == _fold_hashes(df)


# --------------------------------------- production MinHash geometry

def test_fast_minhash_kernel_recall_and_sparsity(spark):
    """At the production 128/8 geometry the MinHash kernel captures
    true near-dups and stays sparse on diverse docs. (``kernel=`` is
    accepted and selects nothing.)"""
    from narowi_ocr_spark.operators.dedup import (
        PROD_NUM_PERM,
        PROD_ROWS_PER_BAND,
        jaccard_pairs,
        lsh_candidate_pairs,
    )

    # 40 diverse docs (distinct word sets) + near-dup copies of 10
    rows = [
        (i, " ".join(f"w{i}x{j}" for j in range(40))) for i in range(40)
    ]
    rows += [
        (100 + i, " ".join(f"w{i}x{j}" for j in range(40)) + " tail")
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cand = lsh_candidate_pairs(
        df,
        num_perm=PROD_NUM_PERM,
        rows_per_band=PROD_ROWS_PER_BAND,
        kernel="xxhash64",
    )
    pairs = {(r["id_a"], r["id_b"]) for r in cand.collect()}
    # every planted near-dup pair is a candidate (J ~ 0.93 >> 0.71)
    for i in range(10):
        assert (i, 100 + i) in pairs
    # diverse docs share no shingles: no cross-candidates at all
    assert pairs == {(i, 100 + i) for i in range(10)}
    # and exact-Jaccard verify keeps them
    ver = jaccard_pairs(df, cand, threshold=0.8)
    assert ver.count() == 10


def test_minhash_kernel_partitioning_invariant(spark):
    rows = [(i, f"alpha beta w{i} gamma delta epsilon zeta") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, minhash_bands(df, num_perm=128, rows_per_band=8).collect()))
    b = sorted(
        map(
            tuple,
            minhash_bands(df.repartition(7), num_perm=128, rows_per_band=8).collect(),
        )
    )
    assert a == b and len(a) == 30 * 16  # 16 bands per doc at 128/8


# ------------------------------------- one-permutation kernel: densification


def _py_shingles(text, n=3):
    if text is None:
        return {None}
    w = text.lower().split()
    if len(w) < n:
        return {" ".join(w)}
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def _py_round4(x):
    import math

    return math.floor(x * 10000.0 + 0.5) / 10000.0


def _py_jaccard(a, b):
    sa, sb = _py_shingles(a), _py_shingles(b)
    return _py_round4(len(sa & sb) / len(sa | sb))


def test_minhash_densification_keeps_short_document_recall(spark):
    """Documents with far fewer distinct shingles than the 128 bins of
    the production geometry leave most bins empty; without
    densification a band of 8 bins almost never has all 8 filled, so
    planted near-dups would not be candidates. With it, every planted
    pair (Jaccard ≥ 0.8) is a candidate, unrelated documents are not,
    and the verified set equals brute-force string Jaccard."""
    import hashlib
    import random

    from narowi_ocr_spark.operators.dedup import PROD_NUM_PERM, PROD_ROWS_PER_BAND

    rnd = random.Random(5)
    vocab = ["".join(rnd.choice("abcdefghij") for _ in range(6)) for _ in range(4000)]
    texts = {i: [rnd.choice(vocab) for _ in range(rnd.randrange(25, 60))] for i in range(24)}
    planted = set()
    for i in range(12):
        w = list(texts[i])
        if i % 2:
            w[-1] = "tailword"            # one shingle replaced
        else:
            w.insert(len(w) // 2, "mid")  # three shingles for two
        texts[100 + i] = w
        planted.add((i, 100 + i))
    docs = {i: " ".join(w) for i, w in texts.items()}
    assert all(_py_jaccard(docs[a], docs[b]) >= 0.8 for a, b in planted)

    # without densification (empty bins never match) the planted pairs
    # are lost: this corpus exercises the densification
    def oph(text):
        bins = {}
        for s in _py_shingles(text):
            h = int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
            bins[h % PROD_NUM_PERM] = min(h, bins.get(h % PROD_NUM_PERM, h))
        return bins

    def band_match(x, y):
        r = PROD_ROWS_PER_BAND
        return any(
            all(x.get(k) is not None and x.get(k) == y.get(k) for k in range(b, b + r))
            for b in range(0, PROD_NUM_PERM, r)
        )

    undensified = {(a, b) for a, b in planted if band_match(oph(docs[a]), oph(docs[b]))}
    assert len(undensified) < len(planted) // 2, undensified

    df = spark.createDataFrame(sorted(docs.items()), "doc_id long, text string")
    cand = lsh_candidate_pairs(
        df, num_perm=PROD_NUM_PERM, rows_per_band=PROD_ROWS_PER_BAND
    )
    assert {(r.id_a, r.id_b) for r in cand.collect()} == planted

    got = {(r.id_a, r.id_b): r.jaccard for r in jaccard_pairs(df, cand, threshold=0.8).collect()}
    ids = sorted(docs)
    want = {
        (a, b): j
        for x, a in enumerate(ids)
        for b in ids[x + 1:]
        if (j := _py_jaccard(docs[a], docs[b])) >= 0.8
    }
    assert got == want


# Empty, blank, 1-2-word (the whole-text shingle), case-only variants and
# NULL text: hashed-set results must equal string-set results.
EDGE_DOCS = [
    (0, ""), (1, "   "), (2, "a"), (3, "A"), (4, "a b"), (5, "b a"),
    (6, None), (7, None), (8, "one two three four"),
    (9, "one two three four five"), (10, "a b"), (11, "x y z"),
]


def _string_sets(spark):
    from narowi_ocr_spark.operators.dedup import shingles

    df = spark.createDataFrame(EDGE_DOCS, "doc_id long, text string")
    return df, df.select(F.col("doc_id").alias("id"), shingles("text").alias("sh"))


def _all_pairs(sets, a="id_a", b="id_b"):
    x, y = sets.alias("x"), sets.alias("y")
    return x.join(y, F.col("x.id") < F.col("y.id")).select(
        F.col("x.id").alias(a), F.col("y.id").alias(b),
        F.col("x.sh").alias("sh_a"), F.col("y.sh").alias("sh_b"),
    )


def test_hashed_jaccard_and_containment_equal_string_sets(spark):
    from narowi_ocr_spark.functions.native import round4
    from narowi_ocr_spark.operators.dedup import containment_pairs

    df, sets = _string_sets(spark)
    pairs = _all_pairs(sets)
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    want_j = {
        (r[0], r[1]): r[2]
        for r in pairs.select(
            "id_a", "id_b",
            round4(inter.cast("double") / F.size(F.array_union("sh_a", "sh_b")).cast("double")),
        ).collect()
    }
    got_j = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(df, pairs.select("id_a", "id_b"), threshold=0.0).collect()
    }
    assert got_j == want_j
    assert want_j[(6, 7)] == 1.0 and want_j[(0, 1)] == 1.0 and want_j[(2, 3)] == 1.0
    assert want_j[(4, 5)] == 0.0 and want_j[(8, 9)] > 0.5

    want_c = {
        (r[0], r[1]): tuple(r[2:])
        for r in pairs.where(inter > 0).select(
            "id_a", "id_b", inter, F.size("sh_a"), F.size("sh_b"),
            F.expr("(1000000 * size(array_intersect(sh_a, sh_b))) div size(sh_a)"),
        ).collect()
    }
    got_c = {
        (r.id_a, r.id_b): (r.n_shared, r.n_a, r.n_b, r.containment_a_ppm)
        for r in containment_pairs(df, pairs.select("id_a", "id_b")).collect()
    }
    assert got_c == want_c


def test_containment_of_long_documents(spark):
    """Pairs sharing more than 2147 shingles: the parts-per-million
    product is a long, so it neither overflows nor raises under ANSI."""
    from narowi_ocr_spark.operators.dedup import containment_pairs

    text = " ".join(f"w{i}" for i in range(2300))
    df = spark.createDataFrame([(0, text), (1, text)], "doc_id long, text string")
    pairs = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    [row] = containment_pairs(df, pairs).collect()
    assert (row.n_shared, row.n_a, row.containment_a_ppm) == (2298, 2298, 1000000)


def test_hashed_incremental_near_dup_equals_string_sets(spark):
    from narowi_ocr_spark.functions.native import round4
    from narowi_ocr_spark.operators.dedup import incremental_near_dup

    df, sets = _string_sets(spark)
    index = df.select((F.col("doc_id") + 100).alias("doc_id"), "text")
    x = sets.alias("x")
    y = sets.select((F.col("id") + 100).alias("id"), "sh").alias("y")
    j = round4(
        F.size(F.array_intersect("x.sh", "y.sh")).cast("double")
        / F.size(F.array_union("x.sh", "y.sh")).cast("double")
    )
    want = {
        (r[0], r[1]): r[2]
        for r in x.crossJoin(y).select("x.id", "y.id", j.alias("j"))
        .where(F.col("j") >= 0.5).collect()
    }
    got = {
        (r.new_id, r.index_id): r.jaccard
        for r in incremental_near_dup(df, index, threshold=0.5).collect()
    }
    assert got == want
    assert (6, 107) in got and (0, 101) in got
