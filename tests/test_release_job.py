"""End-to-end smoke of the release driver (tools/run_release_job.py):
crawl pages → extract → clean → dedup (exact + near) → split → shards →
WET segments → manifest, all from library calls."""

import glob
import json

import pyspark.sql.functions as F

from narowi_ocr_spark.sources.pages import synth_pages


def test_release_job_end_to_end(spark, tmp_path):
    from run_release_job import run_release

    src = str(tmp_path / "pages")
    out = str(tmp_path / "release")
    base = synth_pages(spark, 300, partitions=4)
    # plant exact duplicates: 20 extra urls re-serving the text of the
    # first 20 pages (same html ⇒ same extracted text ⇒ exact-dup drop)
    dup = (
        base.limit(20)
        .select(
            F.concat(F.lit("https://mirror.example/"), F.col("url")).alias(
                "url"
            ),
            "warc_ts",
            "html",
            "text",
            "lang",
        )
    )
    base.unionByName(dup).write.parquet(src)

    # synth text has no sentence punctuation, so the C4 prose rules are
    # disabled (documented on run_release); the gate chain still runs
    # the blocklist
    manifest = run_release(spark, src, out, apply_c4=False)
    st = manifest["stages"]
    assert st["pages"] == 320
    assert 0 < st["extracted"] <= 320
    # gates only shrink; dedup only shrinks; train ⊆ released
    assert st["extracted"] >= st["clean"] >= st["exact_unique"]
    assert st["exact_unique"] >= st["near_unique"] >= st["train"]
    # exact dedup keeps exactly one doc per distinct surviving text —
    # the planted mirrors die here whenever their original also
    # survived the gates
    shards = spark.read.parquet(out + "/shards")
    assert st["exact_unique"] < st["clean"]  # at least one mirror pair

    # artifacts exist and reconcile
    assert shards.count() == st["train"]
    sm = spark.read.parquet(out + "/shard_manifest")
    assert sm.agg(F.sum("n_docs")).first()[0] == st["train"]
    wet_blob = b"".join(
        open(p, "rb").read()
        for p in sorted(glob.glob(out + "/wet/part-*"))
    )
    assert wet_blob.count(b"WARC/1.0\r\n") == st["train"]
    rel = json.loads(
        open(glob.glob(out + "/release_manifest/part-*")[0]).read()
    )
    assert rel["stages"] == st


def test_release_job_repeated_url_rows_collapse_not_fan_out(spark, tmp_path):
    """Re-ingested segments repeat (url, warc_ts) verbatim. The id
    guard must collapse them to one doc each — without it, every
    id-keyed semi-join downstream fans rows out multiplicatively and
    exact dedup keeps every copy (ADVICE r4)."""
    from run_release_job import run_release

    src = str(tmp_path / "pages")
    out = str(tmp_path / "release")
    base = synth_pages(spark, 100, partitions=4)
    # each page ingested 3× (same url AND warc_ts — identical rows)
    base.unionByName(base).unionByName(base).write.parquet(src)

    manifest = run_release(spark, src, out, apply_c4=False)
    st = manifest["stages"]
    assert st["pages"] == 300
    # the distinct-on-id guard collapses triplicates before the gates
    assert st["extracted"] <= 100
    # stage counts stay monotone (fan-out would break this)
    assert st["extracted"] >= st["clean"] >= st["exact_unique"]
    assert st["exact_unique"] >= st["near_unique"] >= st["train"]
    # released shards carry no duplicate urls
    shards = spark.read.parquet(out + "/shards")
    assert shards.count() == shards.select("url").distinct().count()
    assert shards.count() == st["train"]


def test_release_job_resume_is_noop_and_identical(spark, tmp_path):
    """north_rule resumability: a rerun into the same release dir loads
    every committed stage checkpoint (recomputing nothing upstream) and
    reproduces the manifest counts bit-for-bit."""
    from run_release_job import run_release

    src = str(tmp_path / "pages")
    out = str(tmp_path / "release")
    synth_pages(spark, 200, partitions=4).write.parquet(src)

    first = run_release(spark, src, out, apply_c4=False)
    assert first["resumed_stages"] == []
    second = run_release(spark, src, out, apply_c4=False)
    assert second["resumed_stages"] == [
        "00_docs", "01_clean_ids", "02_exact_ids", "03_near_ids",
        "shards", "wet",
    ]
    assert second["stages"] == first["stages"]
    assert second["lineage"]["rows"] == first["lineage"]["rows"]
    # and resume=False forces the full recompute to the same answer
    third = run_release(spark, src, out, apply_c4=False, resume=False)
    assert third["resumed_stages"] == []
    assert third["stages"] == first["stages"]


def test_release_job_resumes_from_first_missing_stage(spark, tmp_path):
    """A job killed mid-near-dedup restarts AT near-dedup: earlier
    checkpoints load, later stages recompute, outputs identical. A
    half-written (uncommitted) checkpoint is recomputed, not trusted."""
    import shutil

    from run_release_job import run_release

    src = str(tmp_path / "pages")
    out = str(tmp_path / "release")
    synth_pages(spark, 200, partitions=4).write.parquet(src)
    first = run_release(spark, src, out, apply_c4=False)

    # simulate the kill: near-dedup incomplete (no _SUCCESS), terminal
    # artifacts never written
    ck = tmp_path / "release" / "checkpoints"
    (ck / "03_near_ids" / "_SUCCESS").unlink()
    for d in ("shards", "shard_manifest", "wet"):
        shutil.rmtree(tmp_path / "release" / d)

    second = run_release(spark, src, out, apply_c4=False)
    assert second["resumed_stages"] == [
        "00_docs", "01_clean_ids", "02_exact_ids",
    ]
    assert second["stages"] == first["stages"]
    shards = spark.read.parquet(out + "/shards")
    assert shards.count() == first["stages"]["train"]


def test_training_job_end_to_end(spark, tmp_path):
    """Smoke of the training driver: train on a boolean teacher column,
    persist weights + manifest, eval beats the majority class."""
    from run_training_job import run_training

    src = str(tmp_path / "docs")
    out = str(tmp_path / "model")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    topic = F.size(
        F.filter(
            F.split(F.lower(F.col("text")), r"\s+"),
            lambda t: t == F.lit("spark"),
        )
    )
    docs.withColumn("is_topic", topic >= 2).write.parquet(src)

    m = run_training(spark, src, out, "is_topic", epochs=8)
    assert m["n_weights"] == 257 and m["nonzero_weights"] > 0
    # weights artifact is dense and loadable
    wdf = spark.read.parquet(out + "/weights")
    assert wdf.count() == 257
    # learned: held-out accuracy beats predicting the majority class
    ev = m["eval"]
    majority = max(ev["positives"], ev["n"] - ev["positives"])
    assert ev["correct"] > majority
    import glob
    import json

    rel = json.loads(
        open(glob.glob(out + "/training_manifest/part-*")[0]).read()
    )
    assert rel["eval"] == ev


def test_release_job_full_gates_filters_and_scrubs(spark, tmp_path):
    """full_gates=True: the clean stage kills repetitive boilerplate the
    default gates admit, and the delivered text is PII-redacted — on a
    prose-mode corpus the organic pages survive every gate."""
    from run_release_job import (
        build_clean_ids,
        build_docs,
        build_released_text,
    )

    base = synth_pages(spark, 300, partitions=4, vocab_scale=64, prose=True)
    rep_body = (
        "<html><body>"
        + "".join(
            "<p>" + ("buy cheap deals now " * 12).strip() + ".</p>"
            for _ in range(6)
        )
        + "</body></html>"
    ).encode()
    rep = spark.createDataFrame(
        [("https://rep.example/a", rep_body)], "url string, html binary"
    ).select(
        "url",
        F.timestamp_seconds(F.lit(1)).alias("warc_ts"),
        "html",
        F.lit("x").alias("text"),
        F.lit("en").alias("lang"),
    )
    docs = build_docs(base.unionByName(rep)).cache()

    default_ids = build_clean_ids(docs, apply_c4=True)
    full_ids = build_clean_ids(docs, apply_c4=True, full_gates=True)
    rep_id = docs.where(F.col("url") == "https://rep.example/a").select(
        "doc_id"
    )
    # default gates admit the boilerplate page; the full stack kills it
    assert default_ids.join(rep_id, "doc_id").count() == 1
    assert full_ids.join(rep_id, "doc_id").count() == 0
    # organic prose pages pass the full stack (nothing else was culled)
    assert full_ids.count() == default_ids.count() - 1

    # PII scrub at delivery: emails redact, schema is unchanged
    released = docs.limit(5).withColumn(
        "text", F.concat("text", F.lit("\nmail bob.jones@mail.example now"))
    )
    scrubbed = build_released_text(released, pii_scrub=True)
    assert scrubbed.columns == released.columns
    assert scrubbed.where(F.col("text").contains("@mail.example")).count() == 0
    assert scrubbed.where(F.col("text").contains("<EMAIL>")).count() == 5
    # pii_scrub=False is the identity
    assert build_released_text(released) is released


def test_release_job_refuses_resume_under_other_params(spark, tmp_path):
    """Checkpoints are fingerprinted with the run's parameters: flipping
    full_gates on resume must fail instead of serving the un-gated,
    unscrubbed stages; resume=False recomputes under the new
    parameters, which then resume."""
    import pytest

    from run_release_job import PARAMS_FILE, run_release

    src = str(tmp_path / "pages")
    out = str(tmp_path / "release")
    # prose pages survive the full gate stack, so both runs deliver
    synth_pages(spark, 60, partitions=2, vocab_scale=64, prose=True).write.parquet(src)
    first = run_release(spark, src, out, apply_c4=False)
    assert first["params"] == {
        "pages_path": src, "apply_c4": False, "full_gates": False,
        "blocklist": ["slow", "dup"],
    }
    # every stage checkpoint records its partition count
    assert set(first["checkpoint_partitions"]) == {
        "00_docs", "01_clean_ids", "02_exact_ids", "03_near_ids",
    }
    assert all(n >= 1 for n in first["checkpoint_partitions"].values())

    with pytest.raises(ValueError, match="full_gates"):
        run_release(spark, src, out, apply_c4=False, full_gates=True)
    with pytest.raises(ValueError, match="blocklist"):
        run_release(spark, src, out, ["other"], apply_c4=False)

    gated = run_release(spark, src, out, apply_c4=False, full_gates=True, resume=False)
    assert gated["resumed_stages"] == [] and gated["stages"]["train"] > 0
    again = run_release(spark, src, out, apply_c4=False, full_gates=True)
    assert len(again["resumed_stages"]) == 6
    assert again["stages"] == gated["stages"]

    # checkpoints whose parameters are unknown are refused too
    (tmp_path / "release" / PARAMS_FILE).unlink()
    with pytest.raises(ValueError, match="fingerprint"):
        run_release(spark, src, out, apply_c4=False, full_gates=True)


def test_release_args_full_gates_flag():
    from run_release_job import release_args

    kw = release_args(["p", "o", "--full-gates"])
    assert kw == {
        "pages_path": "p", "out_path": "o", "blocklist": None,
        "apply_c4": True, "full_gates": True, "resume": True,
    }
    kw = release_args(["p", "o", "a,b", "--no-c4", "--no-resume"])
    assert (kw["blocklist"], kw["apply_c4"], kw["full_gates"], kw["resume"]) == (
        ["a", "b"], False, False, False,
    )
    import pytest

    with pytest.raises(SystemExit):
        release_args(["p", "o", "--full-gate"])


def test_release_job_empty_release_resumes(spark, tmp_path):
    """A corpus the full gates reject entirely (the non-prose synth
    pages) releases with train == 0, and a resume under the same
    parameters loads every stage, the empty shards included."""
    from run_release_job import run_release

    src = str(tmp_path / "pages")
    out = str(tmp_path / "release")
    synth_pages(spark, 40, partitions=2).write.parquet(src)
    first = run_release(spark, src, out, apply_c4=False, full_gates=True)
    assert first["stages"]["train"] == 0
    assert first["lineage"]["partition_histogram"] == []
    again = run_release(spark, src, out, apply_c4=False, full_gates=True)
    assert again["resumed_stages"] == [
        "00_docs", "01_clean_ids", "02_exact_ids", "03_near_ids",
        "shards", "wet",
    ]
    assert again["stages"] == first["stages"]
    assert spark.read.parquet(out + "/shards").count() == 0
    assert spark.read.parquet(out + "/shard_manifest").count() == 0


def _release_outputs(spark, out):
    """Everything a release delivers, in order-free form: the id set of
    every stage checkpoint, (doc_id, shard, pos), the shard manifest
    rows and the multiset of WET records."""
    from collections import Counter

    stages = {
        name: {r["doc_id"] for r in spark.read.parquet(f"{out}/checkpoints/{name}").collect()}
        for name in ("00_docs", "01_clean_ids", "02_exact_ids", "03_near_ids")
    }
    shards = {
        tuple(r) for r in spark.read.parquet(out + "/shards").select("doc_id", "shard", "pos").collect()
    }
    manifest = sorted(tuple(r) for r in spark.read.parquet(out + "/shard_manifest").collect())
    blob = b"".join(open(p, "rb").read() for p in glob.glob(out + "/wet/part-*"))
    wet = Counter(blob.split(b"WARC/1.0\r\n")[1:])
    return stages, shards, manifest, wet


def _write_near_dup_corpus(spark, src, n=150):
    """``n`` prose pages plus, for every tenth, an exact mirror and a
    near variant (one extra closing line), written as parquet."""
    base = synth_pages(spark, n, partitions=4, vocab_scale=64, prose=True)
    heads = base.where(F.pmod(F.xxhash64("url"), F.lit(10)) == 0)
    mirrors = heads.withColumn("url", F.concat(F.lit("https://mirror.example/"), "url"))
    near = heads.withColumn(
        "url", F.concat(F.lit("https://near.example/"), "url")
    ).withColumn(
        "html",
        F.expr(
            "cast(replace(cast(html as string), '</body>',"
            " '<p>one more closing line for this page.</p></body>') as binary)"
        ),
    )
    base.unionByName(mirrors).unionByName(near).write.parquet(src)


def test_release_job_second_identical_pass_compiles_nothing(spark, tmp_path):
    """A full-gate release compiles more generated-code classes than
    Spark's default codegen cache holds (100: a second pass then
    compiles about 180 again); the session's cache is sized so that a
    second identical pass in the same session compiles none of them,
    and it releases the same survivor counts.

    On this corpus every near-dup component is a pair, so
    connected_components' symmetric edges and its labels are the same
    size; the message join's build side is pinned, so no pass picks
    the other side and compiles that join again."""
    from run_release_job import run_release

    src = str(tmp_path / "pages")
    _write_near_dup_corpus(spark, src)
    first, second = (
        run_release(
            spark, src, str(tmp_path / out), apply_c4=True, resume=False,
            full_gates=True,
        )
        for out in ("release_a", "release_b")
    )
    assert first["stages"]["train"] > 0
    assert first["codegen_compiles"] > 0
    assert second["codegen_compiles"] == 0
    assert second["stages"] == first["stages"]


def test_release_job_width_invariant_and_counts_stage_jobs(spark, tmp_path):
    """The release is the same at shuffle width 1 and at the session's
    width: 00_docs is written as one file per shuffle partition, and
    every stage's ids, the shard assignment, the shard manifest and the
    WET records are identical. The manifest counts the Spark jobs of
    each step (per run, though the group ids repeat across runs), and
    the caller's job group is back in place afterwards. The survivor
    counts observed on the checkpoint writes (fresh run) and counted
    from the loaded checkpoints (resumed run) equal the rows of each
    checkpoint, and the clean stage's write is its only job."""
    from run_release_job import run_release

    src = str(tmp_path / "pages")
    _write_near_dup_corpus(spark, src)

    key = "spark.sql.shuffle.partitions"
    width = spark.conf.get(key)
    sc = spark.sparkContext
    runs = {}
    try:
        for w in ("1", width):
            out = str(tmp_path / f"release{w}")
            spark.conf.set(key, w)
            sc.setJobGroup("caller", "the caller's group")
            try:
                m = run_release(spark, src, out, apply_c4=False)
            finally:
                spark.conf.set(key, width)
            assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
            assert sc.getLocalProperty("spark.job.description") == "the caller's group"
            assert m["checkpoint_partitions"]["00_docs"] == int(w)
            runs[w] = (m, _release_outputs(spark, out))
        again = run_release(spark, src, out, apply_c4=False)
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)

    (m1, got1), (mw, gotw) = runs["1"], runs[width]
    assert m1["stages"] == mw["stages"]
    st = mw["stages"]
    # the planted mirrors and near variants die in their dedup stages
    assert st["clean"] > st["exact_unique"] > st["near_unique"]
    assert got1 == gotw

    steps = {"00_docs", "01_clean_ids", "02_exact_ids", "03_near_ids", "shards", "wet", "lineage"}
    for m in (m1, mw, again):
        assert set(m["stage_jobs"]) == steps
    assert all(n >= 1 for n in mw["stage_jobs"].values())
    # WET reads the persisted shard assignment: one write job
    assert mw["stage_jobs"]["wet"] == 1
    # a resumed WET starts no job; the group's earlier job is not counted
    assert len(again["resumed_stages"]) == 6
    assert again["stage_jobs"]["wet"] == 0
    assert sum(again["stage_jobs"].values()) < sum(mw["stage_jobs"].values())

    written = {
        "extracted": "checkpoints/00_docs",
        "clean": "checkpoints/01_clean_ids",
        "exact_unique": "checkpoints/02_exact_ids",
        "near_unique": "checkpoints/03_near_ids",
        "train": "shards",
    }
    n_pages = spark.read.parquet(src).count()
    for m in (mw, again):
        assert m["stages"]["pages"] == n_pages
        for k, d in written.items():
            assert m["stages"][k] == spark.read.parquet(f"{out}/{d}").count(), k
    assert m1["stage_jobs"]["01_clean_ids"] == mw["stage_jobs"]["01_clean_ids"] == 1


def test_release_job_accounting_py4j_calls_do_not_grow(spark, tmp_path):
    """The py4j traffic of counting each step's jobs (the job-id lookups
    and every Java-array command) is the same on the 2nd and 3rd
    release in one session, though the session keeps every earlier
    run's jobs; the two resumed runs count the same jobs."""
    from run_release_job import run_release

    src = str(tmp_path / "pages")
    _write_near_dup_corpus(spark, src, n=60)
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = [0]

    def counting(command, *args, **kwargs):
        if command.startswith("a\n") or "\ngetJobIdsForGroup\n" in command:
            calls[0] += 1
        return send(command, *args, **kwargs)

    client.send_command = counting
    per_run = []
    try:
        for _ in range(3):
            calls[0] = 0
            m = run_release(spark, src, str(tmp_path / "release"), apply_c4=False)
            per_run.append((calls[0], m["stage_jobs"]))
    finally:
        del client.send_command
    assert per_run[1][0] > 0
    assert per_run[1] == per_run[2]


def test_release_outputs_match_pinned_digests(spark, tmp_path):
    """A full-gate release of the benchmark's warm-up slice (every
    planted class) delivers exactly the pinned outputs: the id set of
    every stage, the verified near-dup pairs, the shards, the shard
    manifest, the WET records and the survivor counts
    (``fixtures/release_digests.json``, ``tools/release_digests.py``).
    The plans the release executed pass the plan audit
    (``plan_audit.audit_release``)."""
    import plan_audit
    import release_digests as rd

    pages, planted = rd.corpus(str(tmp_path))
    since = plan_audit.execution_mark(spark)
    got = rd.release_digests(spark, pages, str(tmp_path / "release"))
    assert {k: got["counts"][k] for k in planted} == planted
    with open(rd.FIXTURE) as f:
        assert rd.differences(got, json.load(f)) == []
    assert plan_audit.audit_release(spark, since) == []
