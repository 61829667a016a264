"""Physical-plan invariants (SURVEY.md §4): the extraction pipeline is
shuffle-free, prunes the html payload early, and scans push filters."""

from pyspark.sql import functions as F

from narowi_ocr_spark.plans.pipeline import extract_pages
from narowi_ocr_spark.sources.pages import synth_pages


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pipeline_has_no_shuffle(spark):
    pages = synth_pages(spark, 50, partitions=2)
    plan = _physical_plan(extract_pages(pages))
    assert "Exchange" not in plan, f"unexpected shuffle in:\n{plan}"


def test_html_dropped_after_tokenize(spark):
    pages = synth_pages(spark, 50, partitions=2)
    out = extract_pages(pages)
    assert "html" not in out.columns
    # the physical plan must not carry html past the (single) Python
    # stage: everything above the MapInArrow extraction node operates on
    # results only
    plan = _physical_plan(out)
    above_udf = plan.split("MapInArrow")[0]
    assert "html" not in above_udf, above_udf


def test_parquet_filter_pushdown(spark, tmp_path):
    path = str(tmp_path / "pages")
    synth_pages(spark, 100, partitions=2).write.parquet(path)
    df = spark.read.parquet(path).where(F.col("lang") == "en").select("url", "lang")
    plan = _physical_plan(df)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan.replace(
        "`", ""
    ), plan
    assert "ReadSchema" in plan
    assert "html" not in plan.split("ReadSchema:")[1].splitlines()[0], (
        "column pruning failed: html read for a url/lang projection"
    )


def test_curation_full_has_exactly_two_shuffles(spark, tmp_path):
    """The full curation recipe (lang → quality → repetition → exact
    dedup → per-source cap) is gates-as-narrow-projections plus exactly
    the two window shuffles (fingerprint, source)."""
    import importlib

    entry = importlib.import_module("__spark_entry__")
    df = entry.queries()["curation_full"](spark, "/root/testdata/sf0.001")
    plan = _physical_plan(df)
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 2, f"{n_exchanges} shuffles in:\n{plan}"


def test_asof_join_single_window_pass(spark):
    """events_asof: one sort-based window shuffle, no join node at all
    (the range-join explosion is designed out)."""
    import importlib

    entry = importlib.import_module("__spark_entry__")
    df = entry.queries()["events_asof"](spark, "/root/testdata/sf0.001")
    plan = _physical_plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_bucketed_join_is_shuffle_free(spark):
    """Co-located joins via bucketing (the 100 TB join strategy for
    repeated equi-joins on the same key): two tables bucketed+sorted on
    the join key sort-merge-join with NO Exchange on either side."""
    from pyspark.sql import functions as F

    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    for name in ("t_bucket_a", "t_bucket_b"):
        df.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable(name)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("t_bucket_a").join(
            spark.table("t_bucket_b"), "k"
        )
        assert joined.count() == 1000
        plan = _physical_plan(joined)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, f"bucketed join shuffled:\n{plan}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        for name in ("t_bucket_a", "t_bucket_b"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_whole_stage_codegen_covers_native_stages(spark):
    pages = synth_pages(spark, 50, partitions=2)
    plan = _physical_plan(extract_pages(pages))
    # "*(n)" is the WholeStageCodegen marker in the plan-tree string
    assert "*(" in plan, plan
    # ONE extraction Arrow boundary (the synth-pages generator adds its
    # own MapInPandas source node, which a parquet scan wouldn't have)
    assert plan.count("MapInArrow") == 1, plan
    assert plan.count("ArrowEvalPython") == 0, plan


def test_contamination_broadcasts_eval_grams(spark):
    """Decontamination joins the corpus grams against the eval-set gram
    table via broadcast — the corpus side must not exchange for that
    join (only the (id, count) rollup and the final id-join shuffle)."""
    import importlib

    entry = importlib.import_module("__spark_entry__")
    df = entry.queries()["decontamination"](spark, "/root/testdata/sf0.001")
    plan = _physical_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastExchange" in plan, plan
    # raw text must never cross an exchange, and at most ONE exchange
    # may carry gram strings — the eval-side distinct (O(eval-set),
    # negligible); the corpus side's grams only cross the broadcast
    # probe, and its rollup shuffles (id, count) pairs
    gram_exchanges = 0
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text#" not in line, f"raw text shuffled:\n{line}"
            if "g#" in line:
                gram_exchanges += 1
    assert gram_exchanges <= 1, plan


def test_stratified_sample_is_broadcast_filter_only(spark):
    """The sampling predicate is a broadcast dim join + narrow filter:
    the fact side must not shuffle at all."""
    import importlib

    entry = importlib.import_module("__spark_entry__")
    df = entry.queries()["stratified_sample"](spark, "/root/testdata/sf0.001")
    plan = _physical_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_char_lm_model_is_broadcast(spark):
    """The learned bigram model (|V|²-bounded) must broadcast into the
    apply join; doc text must never appear in any exchange."""
    import importlib

    entry = importlib.import_module("__spark_entry__")
    df = entry.queries()["char_lm_scores"](spark, "/root/testdata/sf0.001")
    plan = _physical_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line, f"raw text shuffled:\n{line}"


def test_passage_dedup_shuffles_no_text(spark, tmp_path):
    """passage_dedup's contract: passage/document TEXT never reaches an
    Exchange — only (id, idx, md5/pk) triples and the kept-index arrays
    shuffle. Verified on the executed plan: no string column longer
    than the 32-char digest appears in any Exchange's output."""
    from narowi_ocr_spark.operators.corpus import passage_dedup

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, "w%d " % i + "lorem ipsum dolor sit amet " * 10) for i in range(50)],
        "doc_id long, text string",
    ).write.parquet(path)
    out = passage_dedup(spark.read.parquet(path), passage_words=4)
    plan = _physical_plan(out)
    # every Exchange line in the plan announces its partitioning and
    # output; none may mention the raw text or passage columns
    assert "Exchange" in plan  # the op does shuffle — digests, not text
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text" not in line and "passage" not in line, line


def test_kmeans_assignment_is_broadcast(spark):
    """The k-means assignment join must be a BroadcastNestedLoopJoin /
    broadcast exchange of the k-row centroid dim — the corpus side must
    never hash-partition for assignment."""
    from narowi_ocr_spark.operators.clustering import kmeans_lloyd

    vecs = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5), 1.0]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    plan = _physical_plan(kmeans_lloyd(vecs, k=2, iters=1))
    assert "BroadcastExchange" in plan, plan
    # the only hash exchanges are the (cell, dim) update rollup — never
    # an exchange keyed on the corpus id before a join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    # assignment is an in-row argmax fold: no per-id window anywhere
    assert "Window" not in plan, plan
    assert "hashpartitioning(id" not in plan, plan


def test_ivf_cells_assignment_is_projection(spark):
    """IVF coarse quantization must not expand the corpus K-ways through
    a per-id window: the centroid set folds into one broadcast array row
    and each vector picks its cells in-row."""
    from narowi_ocr_spark.operators.similarity import ivf_cells

    vecs = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5), 1.0]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    plan = _physical_plan(ivf_cells(vecs, cents))
    assert "Window" not in plan, plan
    assert "hashpartitioning(vec_id" not in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_gopher_rules_single_projection(spark):
    """All five rule signals ride one narrow projection over one scan:
    no Exchange, no Python boundary, exactly one tokenization."""
    from narowi_ocr_spark.functions.textstats import with_gopher_rules

    docs = spark.createDataFrame(
        [(0, "the and of to in is that for with on " * 8)],
        "doc_id long, text string",
    )
    plan = _physical_plan(with_gopher_rules(docs))
    body = plan.split("Scan")[0]
    assert "Exchange" not in body, body
    for marker in ("MapInArrow", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan, plan


def test_distinct_then_count_splits_hot_keys(spark):
    """The skew-safe NDV's FIRST exchange must be keyed on (key, value)
    — so a hot key spreads across reducers — and the second on the key
    alone with a partial count below it."""
    from narowi_ocr_spark.operators.skew import distinct_then_count

    df = spark.createDataFrame(
        [(i % 3, i % 7) for i in range(100)], "k int, v int"
    )
    plan = _physical_plan(distinct_then_count(df, ["k"], "v"))
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(exchanges) == 2, plan
    # plan prints innermost (first-executed) exchange LAST
    first, second = exchanges[1], exchanges[0]
    assert "k#" in first and "v#" in first, first
    assert "v#" not in second, second


def test_range_join_is_hash_join_not_nested_loop(spark):
    """The bucket decomposition's whole point: a BETWEEN join plans as
    a broadcast HASH join on the bucket id, never BNLJ/cartesian; with
    broadcast off it's still an equi-join (sort-merge or shuffled
    hash) on the bucket key."""
    from narowi_ocr_spark.operators.rangejoin import bucketed_range_join

    points = spark.range(1000).select((F.col("id") % 500).cast("double").alias("v"))
    ranges = spark.range(20).select(
        F.col("id").alias("range_id"),
        (F.col("id") * 25.0).alias("lo"),
        (F.col("id") * 25.0 + 60.0).alias("hi"),
    )
    plan = _physical_plan(bucketed_range_join(points, ranges, "v"))
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan

    plan2 = _physical_plan(
        bucketed_range_join(points, ranges, "v", broadcast_ranges=False)
    )
    assert "BroadcastNestedLoopJoin" not in plan2, plan2
    assert "CartesianProduct" not in plan2, plan2
    # without the hint the planner may still auto-broadcast the tiny
    # side; the invariant is an EQUI join strategy on the bucket key
    assert (
        "SortMergeJoin" in plan2
        or "ShuffledHashJoin" in plan2
        or "BroadcastHashJoin" in plan2
    ), plan2


def test_url_canonicalization_is_narrow_single_parse(spark, tmp_path):
    """url_struct staged behind a projection boundary over a parquet
    scan: no shuffle, no Python boundary, and the parse runs ONCE per
    row — the port-extraction regex must appear exactly once in the
    physical plan even though three outputs consume the struct."""
    from narowi_ocr_spark.operators.urls import with_url_parts

    path = str(tmp_path / "urls")
    spark.createDataFrame(
        [(f"https://Host{i}.Example.COM/p?utm_source=x&a={i}",) for i in range(50)],
        "url string",
    ).write.parquet(path)
    df = with_url_parts(spark.read.parquet(path), out_col="_p").select(
        F.col("_p.norm_url").alias("norm"),
        F.col("_p.host").alias("host"),
        F.col("_p.reg_domain").alias("rd"),
    )
    plan = _physical_plan(df)
    assert "Exchange" not in plan, plan
    for marker in ("MapInArrow", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan, plan
    assert plan.count(r":(\d+)$") == 1, plan


def test_shard_assign_no_global_sort_no_single_partition(spark):
    """Training-order sharding must never plan a global sort or a
    single-partition exchange: the data-table exchanges hash on
    (shard, sub-bucket) — each of the shards × 256 cells ranks
    independently — and the only other exchanges carry the tiny
    per-cell count/offset table (hash on shard+_sub, then broadcast)."""
    from narowi_ocr_spark.operators.shards import shard_assign

    df = spark.range(500).select(F.col("id").alias("doc_id"))
    plan = _physical_plan(shard_assign(df, hex_digits=2))
    lines = plan.splitlines()
    exchanges = [
        (i, l) for i, l in enumerate(lines)
        if "Exchange" in l and "Reused" not in l
    ]
    assert exchanges, plan
    assert any(
        "hashpartitioning" in l and "shard#" in l and "_sub#" in l
        for _, l in exchanges
    ), plan  # the data-table rank exchange carries the sub-bucket
    for i, e in exchanges:
        assert "hashpartitioning" in e or "Broadcast" in e, e
        if "hashpartitioning" in e and "_sub#" not in e:
            # a shard-only exchange is allowed ONLY for the tiny
            # per-cell count table: its subtree must aggregate first
            below = "\n".join(lines[i:])
            assert "HashAggregate" in below, plan
    assert "SinglePartition" not in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_attribution_batch_is_equi_join_on_user(spark):
    """The attribution twin must key its join on user_id (hash/merge
    equi-join) with the interval predicate as a residual condition —
    not degrade to a nested loop."""
    import datetime

    from narowi_ocr_spark.streaming.joins import attribute_batch

    t0 = datetime.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [
            (i % 10, t0 + datetime.timedelta(minutes=i), "view" if i % 2 else "purchase", 1.0)
            for i in range(100)
        ],
        "user_id long, ts timestamp, event_type string, value double",
    )
    plan = _physical_plan(attribute_batch(ev))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_tpch_q19_disjunction_pushdown(spark):
    """Catalyst must extract the per-side disjunctions of the
    OR-of-ANDs predicate and push them into BOTH parquet scans (the
    quantity OR-band into lineitem, brand×size into part), with the
    part dim broadcast."""
    import __spark_entry__ as entrymod

    # widen FileScan metadata truncation so PushedFilters are visible
    spark.conf.set("spark.sql.maxMetadataStringLength", "4096")
    try:
        df = entrymod.queries()["tpch_q19"](spark, "/root/testdata/sf0.001")
        plan = _physical_plan(df)
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
    assert "BroadcastHashJoin" in plan, plan
    scan_lines = [l for l in plan.splitlines() if "PushedFilters" in l]
    joined = "\n".join(scan_lines)
    assert "LessThanOrEqual(l_quantity,11.0)" in joined, joined
    assert "EqualTo(p_brand,Brand#12)" in joined, joined


def test_events_pivot_single_shuffle_no_distinct_job(spark):
    """Explicit pivot values → ONE hash exchange (the day groupBy) and
    no extra collect-distinct pre-job in the plan."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["events_pivot"](spark, "/root/testdata/sf0.001")
    plan = _physical_plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_quantize_embeddings_is_narrow_codegen(spark):
    """Quantization is one narrow projection: no Exchange, no Python
    runner in the plan."""
    from narowi_ocr_spark.operators.similarity import quantize_embeddings
    from narowi_ocr_spark.sources.tables import load_table

    vecs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    plan = _physical_plan(quantize_embeddings(vecs))
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan


def test_media_phash_pairs_never_cartesian(spark):
    """The banded hamming join must be an equi-join on (band_idx,
    band_val) — no CartesianProduct / BroadcastNestedLoopJoin."""
    from narowi_ocr_spark.operators.multimodal import (
        attach_binary,
        media_phash_pairs,
    )
    from narowi_ocr_spark.sources.tables import load_table

    docs = attach_binary(
        load_table(spark, "/root/testdata/sf0.001", "documents")
    )
    plan = _physical_plan(media_phash_pairs(docs))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_tpch_r3_batch_plan_shapes(spark):
    """The round-3 TPC-H batch: dimension sides broadcast, no cartesian
    products, the outer/anti joins are really outer/anti (not rewritten
    into something that would drop the zero-order customers), and the
    only nested-loop joins are the deliberate 1-row stat broadcasts."""
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    qs = entrymod.queries()

    plans = {
        name: _physical_plan(qs[name](spark, sf))
        for name in (
            "tpch_q7", "tpch_q8", "tpch_q9", "tpch_q13",
            "tpch_q15", "tpch_q17", "tpch_q22",
        )
    }
    for name, plan in plans.items():
        assert "CartesianProduct" not in plan, f"{name}:\n{plan}"
    # dims broadcast into the fact
    for name in ("tpch_q7", "tpch_q8", "tpch_q9"):
        assert plans[name].count("BroadcastHashJoin") >= 2, plans[name]
    # q13 keeps zero-order customers via a real outer join
    assert "LeftOuter" in plans["tpch_q13"], plans["tpch_q13"]
    # q22 excludes urgent-order customers via a real anti join
    assert "LeftAnti" in plans["tpch_q22"], plans["tpch_q22"]
    # q15/q17/q22 1-row stat joins ride broadcast nested loop (1 row)
    for name in ("tpch_q15", "tpch_q17", "tpch_q22"):
        p = plans[name]
        assert (
            "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
        ), p


def test_tpch_completion_batch_plan_shapes(spark):
    """q2/q11/q12/q20/q21 — the queries that complete the 22: dims
    broadcast, the q21 EXISTS/NOT-EXISTS pair is real semi/anti HASH
    joins on l_orderkey (the suppkey inequality is a residual filter,
    never a nested-loop driver), q20's supplier keep is a semi join,
    and nothing degenerates into a cartesian product."""
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    qs = entrymod.queries()

    plans = {
        name: _physical_plan(qs[name](spark, sf))
        for name in ("tpch_q2", "tpch_q11", "tpch_q12", "tpch_q20",
                     "tpch_q21")
    }
    for name, plan in plans.items():
        assert "CartesianProduct" not in plan, f"{name}:\n{plan}"
    # q2: part + regional-supplier dims broadcast into lineitem
    assert plans["tpch_q2"].count("BroadcastHashJoin") >= 2, \
        plans["tpch_q2"]
    # q20 keeps matching suppliers via a real semi join
    assert "LeftSemi" in plans["tpch_q20"], plans["tpch_q20"]
    # q21: one semi (exists) + one anti (not exists), both HASH joins —
    # a BroadcastNestedLoopJoin here would mean the inequality leaked
    # into the join key and the plan is O(n·m)
    p21 = plans["tpch_q21"]
    assert "LeftSemi" in p21, p21
    assert "LeftAnti" in p21, p21
    assert "BroadcastNestedLoopJoin" not in p21, p21


def test_wet_export_composes_shuffle_free(spark):
    """extract → WET serialization is still ONE stage: no Exchange, one
    MapInArrow, and the record concat is pure projection above it."""
    from narowi_ocr_spark.sources.wet import wet_export

    pages = synth_pages(spark, 50, partitions=2)
    recs = wet_export(
        extract_pages(pages).select("url", "warc_ts", "extracted_text")
    )
    plan = _physical_plan(recs)
    assert "Exchange" not in plan, plan
    assert plan.count("MapInArrow") == 1, plan


def test_blocklist_gate_zero_exchange_zero_python(spark):
    """The wordlist folds into codegen: no shuffle, no Python workers,
    no join — one narrow projection over the scan."""
    from narowi_ocr_spark.operators.corpus import blocklist_gate

    df = spark.createDataFrame(
        [(1, "a slow b"), (2, "c")], "doc_id long, text string"
    )
    plan = _physical_plan(blocklist_gate(df, ["slow", "dup"]))
    for node in ("Exchange", "BatchEvalPython", "ArrowEvalPython",
                 "MapInArrow", "Join"):
        assert node not in plan, f"{node} in:\n{plan}"


def test_hashed_features_single_exchange(spark):
    """Featurization = exactly one shuffle (the groupBy(doc,bkt)
    partial agg); the bias union adds no exchange."""
    from narowi_ocr_spark.operators.train import hashed_token_counts

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "d e")], "doc_id long, text string"
    )
    plan = _physical_plan(hashed_token_counts(df, 256, bias=True))
    assert plan.count("Exchange") == 1, plan
    assert "HashAggregate" in plan, plan


def test_minhash_signature_plan_hashes_each_shingle_once(spark):
    """The one MinHash kernel (one-permutation hashing, production
    128/8 geometry) is one narrow projection: no Python node, no
    aggregate (so no SortAggregate) and no shuffle, and the shingle md5
    appears once — one hash per shingle, not one per bin. The only
    other md5 is the per-band digest."""
    from narowi_ocr_spark.operators.dedup import minhash_bands

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    plan = _physical_plan(minhash_bands(df, num_perm=128, rows_per_band=8))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInArrow",
                   "MapInPandas", "FlatMapGroupsInPandas", "Aggregate",
                   "Exchange"):
        assert marker not in plan, f"{marker} in:\n{plan}"
    assert plan.count("md5(") == 2, plan  # shingle hash + band digest
    assert plan.count("conv(substring(md5(cast(lambda") == 1, plan


def test_jaccard_verify_shingles_each_candidate_once(spark):
    """jaccard_pairs builds each candidate document's shingle-hash set
    once (a join of the documents with the distinct pair ids) and puts
    the pair's two sides together with one hash aggregate, instead of
    shingling both sides per pair: the executed plan has one shingle md5
    and no SortAggregate."""
    from narowi_ocr_spark.operators.dedup import jaccard_pairs

    df = spark.createDataFrame(
        [(i, f"alpha beta gamma delta w{i % 3}") for i in range(6)],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(0, 3), (1, 4), (0, 1), (2, 5)], "id_a long, id_b long"
    )
    out = jaccard_pairs(df, pairs, threshold=0.0)
    assert {(r.id_a, r.id_b) for r in out.collect()} == {(0, 3), (1, 4), (0, 1), (2, 5)}
    final = _physical_plan(out).split("== Initial Plan ==")[0]
    assert final.count("md5(") == 1, final
    assert "SortAggregate" not in final, final


def test_span_dedup_gram_stream_shuffles_once(spark):
    """dup_span_stats / dup_span_removal / corpus_dup_fraction /
    passage_dedup hash-repartition the exploded digest stream by the
    digest so BOTH consumers (the occurrence/first-occurrence aggregate
    and the join probe) hang off canonically identical
    REPARTITION_BY_COL exchanges — AQE materializes the shuffle once
    and reuses it, so the gram/passage md5 map work runs once (measured
    ~2x on dup_span_removal at sf0.1). This pins the load-bearing
    repartition: if it is dropped, each branch re-plans its own
    partial-agg/join exchange and the gram hashing doubles."""
    from narowi_ocr_spark.operators.corpus import (
        corpus_dup_fraction,
        dup_span_removal,
        dup_span_stats,
        passage_dedup,
    )

    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "a b c d e f g h i j")],
        "doc_id long, text string",
    )
    for op in (dup_span_stats, dup_span_removal):
        plan = _physical_plan(op(df))
        # one per consumer branch pre-AQE; identical subtrees reuse at runtime
        assert plan.count("REPARTITION_BY_COL") == 2, plan
        # digests cross the exchange as 16-byte binary, not 32-hex strings
        assert "unhex(md5(" in plan, plan
        # first-occurrence min runs over the order-preserving decimal
        # packing, NOT min(struct): a struct buffer forces SortAggregate
        # behind a full per-partition Sort of the window stream
        assert "SortAggregate" not in plan, plan
    plan = _physical_plan(corpus_dup_fraction(df, n=3))
    assert plan.count("REPARTITION_BY_COL") == 2, plan
    plan = _physical_plan(passage_dedup(df, passage_words=4))
    assert plan.count("REPARTITION_BY_COL") == 2, plan
    assert "SortAggregate" not in plan, plan


def test_clean_stage_tokenizes_once_and_filters_flags_only(spark):
    """The fused clean stage's flag projection splits the words once
    (C4 keeps its own line split), builds at most 2 n-gram arrays (the
    hashed 2- and 3-grams, no string joins), and the filter reads the
    materialized (doc_id, keep) flags: no gate expression re-inlines
    into it."""
    from run_release_job import build_clean_ids, clean_flags

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat.\nthe dog ran."), (2, "a slow b")],
        "doc_id long, text string",
    )
    flags = _physical_plan(clean_flags(docs, full_gates=True))
    words_splits = flags.count("split(regexp_replace(")
    assert words_splits == 1, flags
    assert flags.count("zip_with(") <= 2, flags
    assert "array_join(" not in flags, flags
    for node in ("Exchange", "BatchEvalPython", "ArrowEvalPython", "Join"):
        assert node not in flags, f"{node} in:\n{flags}"

    ids = _physical_plan(build_clean_ids(docs, full_gates=True))
    filt = ids.split("Filter", 1)[1]
    assert "ExistingRDD" in filt, ids
    for gate_expr in ("split(", "regexp_", "xxhash64(", "zip_with(", "size("):
        assert gate_expr not in ids, f"{gate_expr} in:\n{ids}"


def test_build_docs_repartitions_once_at_session_width(spark, tmp_path):
    """build_docs has one exchange: the doc_id repartition at the
    session's shuffle width, which the distinct-on-id aggregate reads
    without a second exchange. AQE does not coalesce it, so 00_docs is
    written as one file per partition at any data size."""
    import glob
    from run_release_job import build_docs

    pages = synth_pages(spark, 40, partitions=2)
    key = "spark.sql.shuffle.partitions"
    width = spark.conf.get(key)
    for w in (width, "3"):
        spark.conf.set(key, w)
        try:
            docs = build_docs(pages)
            docs.collect()  # the executed, final adaptive plan
            docs.write.parquet(str(tmp_path / w))
        finally:
            spark.conf.set(key, width)
        final = _physical_plan(docs).split("== Initial Plan ==")[0]
        assert "isFinalPlan=true" in final, final
        assert final.count("Exchange") == 1, final
        assert f", {w}), REPARTITION_BY_NUM" in final, final
        assert "AQEShuffleRead" not in final and "coalesced" not in final, final
        assert len(glob.glob(str(tmp_path / w / "part-*.parquet"))) == int(w)


def _subtree(plan: str, marker: str) -> str:
    """The lines of the first plan node containing ``marker`` and of
    every node below it (deeper indentation)."""
    lines = plan.splitlines()
    at = next(i for i, ln in enumerate(lines) if marker in ln)
    depth = len(lines[at]) - len(lines[at].lstrip(" :+-"))
    out = [lines[at]]
    for ln in lines[at + 1:]:
        if len(ln) - len(ln.lstrip(" :+-")) <= depth:
            break
        out.append(ln)
    return "\n".join(out)


def test_jaccard_verify_hashes_at_session_width(spark):
    """The verify's hash-set build reads the documents through the
    ``REPARTITION_BY_NUM`` exchange at the session's shuffle width, and
    no coalesced shuffle read feeds it: every candidate document is
    shingled in one of ``width`` tasks, not in the one partition AQE
    folds a small shuffle into (the case at widths 4 and 3)."""
    from narowi_ocr_spark.operators.dedup import jaccard_pairs

    df = spark.createDataFrame(
        [(i, f"alpha beta gamma delta w{i % 3} v{i % 5}") for i in range(40)],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(i, i + 3) for i in range(0, 30, 2)], "id_a long, id_b long"
    )
    key = "spark.sql.shuffle.partitions"
    width = spark.conf.get(key)
    for w in (width, "3"):
        spark.conf.set(key, w)
        try:
            out = jaccard_pairs(df, pairs, threshold=0.0)
            assert out.count() == 15
            out.collect()  # the executed, final adaptive plan
        finally:
            spark.conf.set(key, width)
        final = _physical_plan(out).split("== Initial Plan ==")[0]
        assert "isFinalPlan=true" in final, final
        assert final.count("md5(") == 1, final
        build = _subtree(final, "md5(")
        assert f", {w}), REPARTITION_BY_NUM" in build, build
        assert "AQEShuffleRead" not in build and "coalesced" not in build, build


def test_verify_set_algebra_runs_once_per_pair(spark):
    """A filter on the verify's similarity reads the value computed for
    the output instead of recomputing it: the final plan of
    ``jaccard_pairs`` and of ``incremental_near_dup`` holds one
    ``array_intersect`` and one ``array_union``, and that of
    ``containment_pairs`` one ``array_intersect``. (The optimizer
    substitutes a projected alias into a filter it pushes below the
    projection, which would run the set algebra twice per pair.)"""
    from narowi_ocr_spark.operators.dedup import (
        containment_pairs,
        incremental_near_dup,
        jaccard_pairs,
    )

    df = spark.createDataFrame(
        [(i, f"alpha beta gamma delta w{i % 3}") for i in range(6)],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(0, 3), (1, 4), (0, 1), (2, 5)], "id_a long, id_b long"
    )
    index = df.select((F.col("doc_id") + 100).alias("doc_id"), "text")
    for out, n_union in (
        (jaccard_pairs(df, pairs, threshold=0.5), 1),
        (incremental_near_dup(df, index, threshold=0.5), 1),
        (containment_pairs(df, pairs), 0),
    ):
        assert out.count() > 0
        out.collect()  # the executed, final adaptive plan
        final = _physical_plan(out).split("== Initial Plan ==")[0]
        assert "isFinalPlan=true" in final, final
        assert final.count("array_intersect(") == 1, final
        assert final.count("array_union(") == n_union, final


def test_near_dedup_reads_each_document_once(spark):
    """The release's near-dup pass (``near_dup_pairs``) shingles and
    hashes each document once: the documents are read once although
    the MinHash bands and the Jaccard verify both consume their hash
    sets (an accumulator counts the rows the document frame produces),
    the executed plan reads the hash sets instead of hashing shingles
    again, and no exchange of the executed plans carries the text
    column: neither the pairs' final plan nor the hash-set build behind
    its checkpoint (read back from Spark's SQL status store)."""
    import re

    from narowi_ocr_spark.operators.dedup import jaccard_pairs, lsh_candidate_pairs
    from plan_audit import executed_plans, execution_mark
    from run_release_job import near_dup_pairs

    sc = spark.sparkContext
    seen = sc.accumulator(0)
    body = " ".join(f"w{i}" for i in range(60))
    rows = [(i, f"{body} tail{i % 4}") for i in range(12)]

    def counted(r):
        seen.add(1)
        return r

    uniq = spark.createDataFrame(
        sc.parallelize(rows, 3).map(counted), "doc_id long, text string"
    )
    since = execution_mark(spark)
    pairs = near_dup_pairs(uniq)
    got = {tuple(r) for r in pairs.collect()}
    executed = [plan for _, plan in executed_plans(spark, since)]
    assert seen.value == len(rows)
    assert "conv(substring(md5(" not in _physical_plan(pairs)
    # the same pairs as the text-taking entry points
    cand = lsh_candidate_pairs(uniq, num_perm=128, rows_per_band=8)
    assert got == {tuple(r) for r in jaccard_pairs(uniq, cand, threshold=0.8).collect()}
    assert len(got) == 66  # all pairs: 58 of 60 shingles shared at worst

    # the hash-set build (the one execution that reads the text) and
    # the pairs' final plan, each node with its detail section
    assert len(executed) == 2, executed
    assert [re.search(r"\btext#", plan) is not None for plan in executed] == [True, False]
    exchanges = [
        sec for plan in executed for sec in plan.split("\n\n")
        if re.match(r"\(\d+\) \w*Exchange", sec)
    ]
    assert exchanges
    for ex in exchanges:
        assert not re.search(r"\btext#", ex), ex


def test_incremental_near_dup_and_dedup_eval_hash_each_document_once(spark):
    """``incremental_near_dup`` evaluates the shingle hash once per side
    and ``dedup_eval`` once for its sample, although the bands and the
    verify (the truth join and the candidates) both read the hash sets:
    counted over every plan the call executed, read back from Spark's
    SQL status store."""
    from narowi_ocr_spark.operators.dedup import dedup_eval, incremental_near_dup
    from plan_audit import executed_plans, execution_mark

    body = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(i, f"{body} tail{i % 3}") for i in range(6)], "doc_id long, text string"
    )

    def shingle_hashes_executed(run) -> int:
        since = execution_mark(spark)
        assert run().collect()
        return sum(
            plan.count("conv(substring(md5(")
            for _, plan in executed_plans(spark, since)
        )

    new, index = docs.where("doc_id % 2 = 1"), docs.where("doc_id % 2 = 0")
    assert shingle_hashes_executed(lambda: incremental_near_dup(new, index)) == 2
    # hex_lt="g" samples every document (md5 hex digits are all below it)
    assert shingle_hashes_executed(lambda: dedup_eval(docs, hex_lt="g")) == 1
