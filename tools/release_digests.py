"""Release outputs pinned by digest: one full-gate ``run_release`` over
the benchmark's release warm-up slice, compared with
``fixtures/release_digests.json``.

The corpus is ``perfbench/corpus.py``'s warm-up slice (80 base pages,
180 pages in all, the same for every seed). It holds every planted
class: 20 near-dup cluster heads (each with an exact mirror and four
near variants) and 2 pages each of the repetitive, non-English,
low-quality, blocklisted, C4-failing and PII classes. The digests cover
what a release delivers and the one intermediate that decides
near-dedup:

  - ``stages``: the doc-id set of every stage checkpoint;
  - ``near_pairs``: the verified near-duplicate pairs
    ``(id_a, id_b, jaccard)`` of the 03_near_ids stage
    (``run_release_job.near_dup_pairs``);
  - ``shards``: ``(doc_id, shard, pos, text)`` of the shard write;
  - ``shard_manifest``: its rows;
  - ``wet``: the multiset of WET records;
  - ``counts``: the manifest's survivor counts.

Each digest is the sha256 of the sorted row representations, next to
its row count. A change that alters any output on purpose regenerates
the fixture (``--write``) and says so in CHANGES.md.

Usage (from the repository root):
  python tools/release_digests.py            # compare; exit 1 on a diff
  python tools/release_digests.py --write    # regenerate the fixture
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import sys
import tempfile

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
for _p in (_REPO, os.path.join(_REPO, "tools")):
    if _p not in sys.path:
        sys.path.insert(0, _p)

FIXTURE = os.path.join(_REPO, "fixtures", "release_digests.json")
# perfbench's release warm-up slice; the seed corpus it also writes is
# the smallest one (one page per class) and is not used
SIZE = {"warm_base": 80, "warm_files": 4, "n_base": 40, "files": 1}
CHECKPOINTS = ("00_docs", "01_clean_ids", "02_exact_ids", "03_near_ids")


def _digest(rows) -> dict:
    reps = sorted(repr(tuple(r)) for r in rows)
    h = hashlib.sha256("\n".join(reps).encode("utf-8")).hexdigest()
    return {"rows": len(reps), "sha256": h}


def corpus(workdir: str) -> tuple[str, dict]:
    """(parquet path, planted survivor counts) of the warm-up slice,
    generated under ``workdir`` without Spark."""
    from perfbench import corpus as pc

    (warm, _seed), _cached = pc.prepare(workdir, "release", 0, SIZE)
    return warm[0], warm[1]["expected"]


def release_digests(spark, pages: str, out: str) -> dict:
    """Run a fresh full-gate release of ``pages`` into ``out`` (the
    benchmark's parameters) and digest its outputs."""
    from pyspark.sql import functions as F

    import run_release_job as rj

    manifest = rj.run_release(
        spark, pages, out, apply_c4=True, resume=False, full_gates=True
    )
    ck = {n: spark.read.parquet(f"{out}/checkpoints/{n}") for n in CHECKPOINTS}
    uniq = ck["00_docs"].join(ck["02_exact_ids"], "doc_id")
    shards = spark.read.parquet(f"{out}/shards")
    wet = b"".join(
        open(p, "rb").read() for p in sorted(glob.glob(f"{out}/wet/part-*"))
    )
    return {
        "stages": {n: _digest(df.select("doc_id").collect()) for n, df in ck.items()},
        "near_pairs": _digest(rj.near_dup_pairs(uniq).collect()),
        "shards": _digest(
            shards.select("doc_id", F.col("shard").cast("string"), "pos", "text").collect()
        ),
        "shard_manifest": _digest(
            spark.read.parquet(f"{out}/shard_manifest")
            .select("shard", "n_docs", "n_tokens", "min_id", "max_id", "content_checksum")
            .collect()
        ),
        "wet": _digest((rec,) for rec in wet.split(b"WARC/1.0\r\n")[1:]),
        "counts": manifest["stages"],
    }


def differences(got: dict, want: dict) -> list[str]:
    """One line per top-level or per-stage key whose value differs."""
    out = []
    for key in sorted(set(got) | set(want)):
        g, w = got.get(key), want.get(key)
        if key == "stages" and isinstance(g, dict) and isinstance(w, dict):
            out += [
                f"stages.{n}: got {g.get(n)} want {w.get(n)}"
                for n in sorted(set(g) | set(w))
                if g.get(n) != w.get(n)
            ]
        elif g != w:
            out.append(f"{key}: got {g} want {w}")
    return out


def main() -> int:
    from narowi_ocr_spark.config import get_spark

    write = "--write" in sys.argv[1:]
    with tempfile.TemporaryDirectory(prefix="release-digests-") as tmp:
        pages, expected = corpus(tmp)
        spark = get_spark(app_name="release-digests", master="local[4]", shuffle_partitions=4)
        try:
            got = release_digests(spark, pages, os.path.join(tmp, "release"))
        finally:
            spark.stop()
    planted = [
        f"counts.{k}: got {got['counts'].get(k)} planted {v}"
        for k, v in expected.items()
        if got["counts"].get(k) != v
    ]
    if write:
        if planted:
            print("\n".join(planted))
            return 1
        with open(FIXTURE, "w") as f:
            json.dump(got, f, indent=2, sort_keys=True)
            f.write("\n")
        print(f"wrote {FIXTURE}")
        return 0
    with open(FIXTURE) as f:
        diff = planted + differences(got, json.load(f))
    print("\n".join(diff) if diff else "release digests match")
    return 1 if diff else 0


if __name__ == "__main__":
    sys.exit(main())
