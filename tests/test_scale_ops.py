"""heavy_hitters (sketch-then-verify), host-key salting, dsir_weights,
gemm_topk tests."""

import hashlib
import math

import numpy as np
import pytest

from narowi_ocr_spark.operators.corpus import DSIR_SCALE, dsir_weights
from narowi_ocr_spark.operators.similarity import Q_SCALE, gemm_topk
from narowi_ocr_spark.operators.skew import heavy_hitters
from narowi_ocr_spark.sources.pages import synth_pages
from narowi_ocr_spark.sources.sink import (
    collect_partition_histogram,
    salted_repartition,
    url_host,
)


def test_heavy_hitters_exact_over_partitions(spark):
    # 'a' 60x, 'b' 25x, 15 singletons -> theta=20% keeps a and b only,
    # with EXACT counts (verify phase), across 8 partitions.
    rows = [("a",)] * 60 + [("b",)] * 25 + [(f"u{i}",) for i in range(15)]
    df = spark.createDataFrame(rows, "k string").repartition(8)
    out = {r.k: r for r in heavy_hitters(df, "k", num=20, den=100).collect()}
    assert set(out) == {"a", "b"}
    assert out["a"].n_events == 60 and out["b"].n_events == 25
    assert out["a"].share == 0.6 and out["b"].share == 0.25


def test_heavy_hitters_threshold_is_integer_exact(spark):
    # 25/100 == 1/4 exactly: a key at exactly the threshold is KEPT (>=).
    rows = [("x",)] * 25 + [(f"u{i}",) for i in range(75)]
    df = spark.createDataFrame(rows, "k string").repartition(4)
    out = heavy_hitters(df, "k", num=1, den=4).collect()
    assert [r.k for r in out] == ["x"]


def test_heavy_hitters_none(spark):
    df = spark.createDataFrame([(f"u{i}",) for i in range(50)], "k string")
    assert heavy_hitters(df, "k", num=1, den=10).count() == 0


def _bucket(term: str, n: int = 256) -> int:
    return int(hashlib.md5(term.encode()).hexdigest()[:4], 16) % n


def test_salted_host_key_flattens_hot_host_partitions(spark):
    # synth_pages puts about 20% of its pages on three hot hosts. Split
    # 32 ways by the raw host, each hot host fills one partition; the
    # salted key spreads each over 8 keys.
    pages = synth_pages(spark, 4000, partitions=4).select("url")

    def max_over_mean(df):
        rows = [h["rows"] for h in collect_partition_histogram(df)]
        return max(rows) / (sum(rows) / 32)

    raw = max_over_mean(pages.repartition(32, url_host("url")))
    salted = max_over_mean(salted_repartition(pages, "url", 32))
    assert salted < raw


def test_dsir_weights_matches_python_replica(spark):
    rows = [
        (0, "tgt", "apple apple pear"),
        (1, "tgt", "apple fig"),
        (2, "raw", "rock sand rock rock"),
        (3, "raw", "apple rock"),
        (4, "raw", ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r.doc_id: r for r in dsir_weights(df, ["tgt"]).collect()}
    assert 4 not in out  # empty doc emits nothing

    # python replica of the integer formula
    toks = {i: t.split() for i, _, t in rows}
    r_cnt, t_cnt = {}, {}
    for i, src, _ in rows:
        for w in toks[i]:
            b = _bucket(w)
            r_cnt[b] = r_cnt.get(b, 0) + 1
            if src == "tgt":
                t_cnt[b] = t_cnt.get(b, 0) + 1
    r_total = sum(r_cnt.values())
    t_total = sum(t_cnt.values())
    for i, _, _ in rows[:4]:
        exp = 0
        for w in toks[i]:
            b = _bucket(w)
            exp += (DSIR_SCALE * (t_cnt.get(b, 0) + 1) * (r_total + 256)) // (
                (r_cnt[b] + 1) * (t_total + 256)
            )
        assert out[i].score_scaled == exp, i
        assert out[i].n_tokens == len(toks[i])
    # target-vocabulary docs score above raw-vocabulary docs
    assert out[0].avg_ratio > out[2].avg_ratio
    assert out[1].avg_ratio > out[2].avg_ratio


def test_gemm_topk_matches_quantized_reference(spark):
    rng = np.random.RandomState(7)
    vecs = rng.randn(40, 16).astype(np.float32) * 0.2
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.where("vec_id < 3")
    out = gemm_topk(df.repartition(4), q, k=4)
    got = {(r.query_id, r.rank): (r.neighbor_id, r.cos_sim, r.dot_q)
           for r in out.collect()}

    # exact python replica of the quantized ranking
    Vq = np.floor(vecs.astype(np.float64) * Q_SCALE + 0.5)
    norms = (Vq * Vq).sum(axis=1)
    for qi in range(3):
        scores = []
        for vi in range(40):
            if vi == qi:
                continue
            d = float(Vq[qi] @ Vq[vi])
            denom = math.sqrt(norms[qi] * norms[vi])
            scores.append((-(d / denom), vi, d))
        scores.sort()
        for rank, (negc, vi, d) in enumerate(scores[:4], start=1):
            nb, cos, dot_q = got[(qi, rank)]
            assert nb == vi, (qi, rank)
            assert cos == -negc
            assert dot_q == int(d)


def test_gemm_topk_zero_norm_guard(spark):
    rows = [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [0.5, 0.5])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.neighbor_id: r for r in
           gemm_topk(df, df.where("vec_id = 0"), k=3).collect()}
    assert out[1].cos_sim == 0.0  # zero vector scores 0, not NaN
    assert out[2].rank == 1 and out[1].rank == 2
