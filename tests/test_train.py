"""On-cluster perceptron training (operators/train.py): exact integer
semantics, determinism under repartitioning, and end-to-end learning on
the driver tables."""

import pyspark.sql.functions as F
import pytest

from narowi_ocr_spark.functions.textstats import words
from narowi_ocr_spark.operators.train import (
    hashed_token_counts,
    md5_bucket,
    perceptron_score,
    perceptron_train,
    weights_table,
)

SF_DIR = "/root/testdata/sf0.001"


def _label_rows(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, y long")


def test_hashed_token_counts_clip_and_fold(spark):
    df = spark.createDataFrame(
        [(1, "A a a " + "b " * 40), (2, "   "), (3, None)],
        "doc_id long, text string",
    )
    out = {
        (r["doc_id"], r["bkt"]): r["cnt"]
        for r in hashed_token_counts(df, n_buckets=16).collect()
    }
    # case-folded: 'A a a' lands in one bucket with count 3; 40×'b'
    # clips at 15; empty/NULL docs contribute no rows
    a_bkt = spark.range(1).select(md5_bucket(F.lit("a"), 16)).first()[0]
    b_bkt = spark.range(1).select(md5_bucket(F.lit("b"), 16)).first()[0]
    assert out[(1, a_bkt)] == 3
    assert out[(1, b_bkt)] == 15
    assert {k[0] for k in out} == {1}


def test_bias_rows_cover_every_doc(spark):
    df = spark.createDataFrame(
        [(1, "a a"), (2, "   "), (3, None)], "doc_id long, text string"
    )
    out = hashed_token_counts(df, n_buckets=16, bias=True)
    bias = {r["doc_id"]: r["cnt"] for r in out.where(F.col("bkt") == 16).collect()}
    # every doc — including zero-token ones — gets exactly one bias row
    assert bias == {1: 1, 2: 1, 3: 1}


def test_perceptron_hand_computed_epochs(spark):
    # Two docs, disjoint single-token vocab: doc 1 = 'a'×2 (y=+1),
    # doc 2 = 'b'×3 (y=-1). epochs=3 → steps 4,2,1.  Epoch 1 (w=0, all
    # misclassified): w[a]=+2·4=8, w[b]=-3·4=-12.  Epoch 2: scores are
    # (+16, -36) — both correct (y·score > 0), gradient empty, weights
    # stable thereafter.
    df = spark.createDataFrame(
        [(1, "a a"), (2, "b b b")], "doc_id long, text string"
    )
    feats = hashed_token_counts(df, n_buckets=16)
    labels = _label_rows(spark, [(1, 1), (2, -1)])
    w = perceptron_train(feats, labels, n_weights=16, epochs=3)
    a_bkt = spark.range(1).select(md5_bucket(F.lit("a"), 16)).first()[0]
    b_bkt = spark.range(1).select(md5_bucket(F.lit("b"), 16)).first()[0]
    assert w[a_bkt] == 8
    assert w[b_bkt] == -12
    assert sum(abs(v) for v in w) == 20  # every other bucket untouched
    # a single epoch is the same update at step 2^0
    w1 = perceptron_train(feats, labels, n_weights=16, epochs=1)
    assert w1[a_bkt] == 2 and w1[b_bkt] == -3


def test_perceptron_tie_updates(spark):
    # y·score == 0 counts as misclassified (the convention both the
    # Spark loop and the SQL oracle implement): a doc whose tokens all
    # hash to zero-weight buckets keeps updating.
    df = spark.createDataFrame([(1, "a"), (2, "a")], "doc_id long, text string")
    feats = hashed_token_counts(df, n_buckets=16)
    labels = _label_rows(spark, [(1, 1), (2, -1)])
    # +1 and -1 cancel every epoch: weights stay all-zero but the
    # update fires (scores remain 0, ties keep both docs in the batch)
    w = perceptron_train(feats, labels, n_weights=16, epochs=2)
    assert w == [0] * 16


def _teacher_labels(docs):
    topic_cnt = F.size(
        F.filter(words(F.lower(F.col("text"))), lambda x: x == F.lit("spark"))
    )
    return docs.select(
        "doc_id", F.when(topic_cnt >= 2, 1).otherwise(-1).cast("long").alias("y")
    )


def test_determinism_under_repartition(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    labels = _teacher_labels(docs)
    f1 = hashed_token_counts(docs, n_buckets=256, bias=True)
    f17 = hashed_token_counts(docs.repartition(17), n_buckets=256, bias=True)
    w1 = perceptron_train(f1, labels, n_weights=257, epochs=3)
    w17 = perceptron_train(f17, labels, n_weights=257, epochs=3)
    assert w1 == w17  # integer sums are partitioning-independent


def test_learns_teacher_rule(spark):
    # the distillation task the entry queries gate: after 8 decayed
    # epochs the student reproduces the ≥2-'spark'-tokens teacher far
    # above chance on its own training set (sanity floor, not a
    # model-quality claim)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    labels = _teacher_labels(docs)
    feats = hashed_token_counts(docs, n_buckets=256, bias=True)
    w = perceptron_train(feats, labels, n_weights=257, epochs=8)
    scored = labels.join(perceptron_score(feats, w), "doc_id", "left")
    sc = F.coalesce(F.col("score"), F.lit(0))
    acc_row = scored.select(
        F.avg(
            (F.when(sc > 0, 1).otherwise(-1) == F.col("y")).cast("double")
        ).alias("acc")
    ).first()
    assert acc_row["acc"] > 0.75


def test_weights_table_dense(spark):
    t = weights_table(spark, [0, 5, -2] + [0] * 13)
    rows = t.orderBy("bkt").collect()
    assert len(rows) == 16
    assert rows[1]["weight"] == 5 and rows[2]["weight"] == -2


def test_entry_queries_match_oracle(spark):
    """classifier_train / classifier_train_eval hash-match their DuckDB
    oracles at sf0.001 (the same comparison the driver runs)."""
    import __spark_entry__ as entry
    from check_oracles import frame_hash

    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    for name in ("classifier_train", "classifier_train_eval"):
        sdf = entry.queries()[name](spark, SF_DIR).toPandas()
        odf = con.execute(entry.oracle_sql()[name]).df()
        ns, hs, cs = frame_hash(sdf)
        no, ho, co = frame_hash(odf)
        assert (ns, cs) == (no, co), name
        assert hs == ho, name


@pytest.mark.parametrize("bad", [7, 32])
def test_bucket_count_guard(spark, bad):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        hashed_token_counts(df, n_buckets=bad).collect()


def test_fused_matrix_matches_join_path(spark):
    # hashed_doc_matrix (label computed in the same corpus pass, no
    # feats⋈labels join) must train the bit-identical weight vector,
    # including bias-only rows for zero-token docs
    from narowi_ocr_spark.operators.train import hashed_doc_matrix

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    labels = _teacher_labels(docs)
    feats = hashed_token_counts(docs, n_buckets=256, bias=True)
    w_join = perceptron_train(feats, labels, n_weights=257, epochs=4)

    topic_cnt = F.size(
        F.filter(words(F.lower(F.col("text"))), lambda x: x == F.lit("spark"))
    )
    label = F.when(topic_cnt >= 2, 1).otherwise(-1)
    m = hashed_doc_matrix(docs, label, n_buckets=256, bias=True)
    w_fused = perceptron_train(matrix=m, n_weights=257, epochs=4)
    assert w_fused == w_join


def test_fused_matrix_zero_token_bias(spark):
    # zero-token docs survive the fused build via their bias row, with
    # the label still evaluated from the doc row
    from narowi_ocr_spark.operators.train import hashed_doc_matrix

    df = spark.createDataFrame(
        [(1, "a a"), (2, "   "), (3, None)], "doc_id long, text string"
    )
    m = hashed_doc_matrix(df, F.lit(-1), n_buckets=16, bias=True)
    rows = {r["doc_id"]: (r["y"], sorted((f["bkt"], f["cnt"]) for f in r["fv"]))
            for r in m.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[2] == (-1, [(16, 1)]) and rows[3] == (-1, [(16, 1)])
    assert (16, 1) in rows[1][1] and len(rows[1][1]) == 2  # 'a'×2 + bias


def test_perceptron_matrix_feats_exclusive(spark):
    from narowi_ocr_spark.operators.train import hashed_doc_matrix

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    m = hashed_doc_matrix(df, F.lit(1), n_buckets=16, bias=True)
    feats = hashed_token_counts(df, n_buckets=16)
    with pytest.raises(ValueError):
        perceptron_train(feats, _label_rows(spark, [(1, 1)]), matrix=m)
