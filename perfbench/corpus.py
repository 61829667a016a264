"""Seeded benchmark corpora with planted defects and their expected
survivor counts.

Pages come from the library's own deterministic page builder
(``narowi_ocr_spark.sources.pages.build_page``), written to parquet by
one plain Python process per core; the seed selects the page-id range,
so the same seed always gives the same bytes. A release corpus has
defects planted by class ``pmod(xxhash64(url), 40)``, Spark's hash
computed here in Python (``pmod``, not ``%`` on the signed hash in a
language whose ``%`` keeps the sign: that plants half the rate). Each
class keeps exactly its share of the base pages, so every seed plants
the same counts and only the page content varies; the run checks the
classes again with Spark's own ``F.pmod(F.xxhash64("url"), 40)``. The
generator records how many rows each stage of the release must keep.

Corpora are cached under the work directory by name, seed, size and a
digest of this file plus the page builder. No generator step touches
Spark, so the benchmark's session does the same set-up with or without
the cache.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

from narowi_ocr_spark.sources import pages as _pages

# Pages per seed: seed s draws ids from [s' * SEED_STRIDE, ...), with
# s' = s mod SEED_SPACE so timestamps (epoch + id seconds) stay valid.
# The warm-up slice is the same for every seed, past every seed's range.
SEED_STRIDE = 1_000_000
SEED_SPACE = 100_000
WARM_LO = SEED_SPACE * SEED_STRIDE
CLASSES = 40  # planting modulus: one class is 2.5% of base pages
SPARK_XXHASH_SEED = 42  # the seed of Spark's xxhash64()
KEEP_CORPORA = 6  # cached corpora kept in the work directory
PROSE_VOCAB = 64  # release pages: prose over a wide vocabulary

# release corpus classes (by pmod(xxhash64(url), 40))
HEAD = range(0, 10)  # 25%: gets 1 exact mirror + NEAR_VARIANTS near-dups
NEAR_VARIANTS = 4
REPETITIVE, PII, NON_ENGLISH, LOW_QUALITY, BLOCKLISTED, C4_BRACE = range(10, 16)

PII_EMAIL = "alice.smith@mail.example"
PII_LINE = f"contact the editors and the team at {PII_EMAIL} for the details."
BLOCK_LINE = "the slow approach of the team works well with each page."
BRACE_LINE = "the template {name} of the page works well with each reader."
NEAR_LINES = [
    f"see the appendix note {w} for this page." for w in
    ("alpha", "bravo", "charlie", "delta")
]
REP_PARA = ("buy cheap deals now " * 12).strip() + "."
DE_PARA = (
    "der hund und die katze ist nicht mit dem ball zu den kindern "
    "gelaufen, das war ein schöner tag."
)
LQ_PARA = "the 4821 7730 of 1193 2207 5518 9930 3317 6604 1185 7342 0093."


def _digest() -> str:
    h = hashlib.sha256()
    for path in (__file__, _pages.__file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


_M64 = 2**64 - 1
_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def xxhash64(data: bytes, seed: int = SPARK_XXHASH_SEED) -> int:
    """XXH64 of ``data`` as a signed 64-bit integer: what Spark's
    ``xxhash64`` returns for a string column (its UTF-8 bytes, seed 42)."""
    n, i = len(data), 0
    word = lambda j: int.from_bytes(data[j : j + 8], "little")  # noqa: E731
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed, (seed - _P1) & _M64]
        while i + 32 <= n:
            v = [_round(v[k], word(i + 8 * k)) for k in range(4)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for lane in v:
            h = ((h ^ _round(0, lane)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h = (_rotl(h ^ _round(0, word(i)), 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h = (_rotl(h ^ (int.from_bytes(data[i : i + 4], "little") * _P1 & _M64), 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h = _rotl(h ^ (data[i] * _P5 & _M64), 11) * _P1 & _M64
        i += 1
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    h ^= h >> 32
    return h - 2**64 if h >> 63 else h


def page_class(url: str) -> int:
    """``pmod(xxhash64(url), CLASSES)``: a class in [0, CLASSES)."""
    return xxhash64(url.encode("utf-8")) % CLASSES  # a positive modulus: pmod


def _html_page(paras: list[str]) -> bytes:
    return ("<html><body>" + "".join(f"<p>{p}</p>" for p in paras) + "</body></html>").encode()


def _with_line(row: dict, line: str) -> dict:
    """The page with one more content paragraph."""
    html = row["html"].decode().replace("<footer>", f"<p>{line}</p><footer>")
    return dict(row, html=html.encode(), text=row["text"] + "\n" + line)


_REPLACED = {
    REPETITIVE: ([REP_PARA] * 6, None),
    NON_ENGLISH: ([DE_PARA] * 4, None),
    LOW_QUALITY: ([LQ_PARA] * 3, None),
    PII: (None, PII_LINE),
    BLOCKLISTED: (None, BLOCK_LINE),
    C4_BRACE: (None, BRACE_LINE),
}


def _planted(row: dict, k: int) -> list[dict]:
    """The rows a base page of class ``k`` becomes: reject and PII
    classes are rewritten in place; a cluster head also gains an exact
    mirror and NEAR_VARIANTS near variants."""
    paras, line = _REPLACED.get(k, (None, None))
    if paras:
        row = dict(row, html=_html_page(paras), text="\n".join(paras))
    elif line:
        row = _with_line(row, line)
    out = [row]
    if k in HEAD:
        out.append(dict(row, url="https://mirror.example/x/" + row["url"]))
        for j, near in enumerate(NEAR_LINES[:NEAR_VARIANTS]):
            out.append(dict(_with_line(row, near), url=f"https://near{j}.example/x/" + row["url"]))
    return out


_NAMES = ["url", "warc_ts", "html", "text", "lang"]


def _write_table(rows: list[dict], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    types = [pa.string(), pa.timestamp("us", tz="UTC"), pa.binary(), pa.string(), pa.string()]
    cols = [pa.array([r[c] for r in rows], t) for c, t in zip(_NAMES, types)]
    pq.write_table(pa.table(cols, names=_NAMES), path)


def _write_part(path: str, lo: int, hi: int, mode: str, quota: int) -> None:
    """Pages ``lo .. hi-1``. ``fixture``: as built. ``release``: prose
    pages of the classes still short of ``quota`` (the lowest ids of
    each class win, so each writer keeps up to ``quota`` per class and
    the parent trims), with each page's class in ``k``."""
    prose = mode == "release"
    rows, taken = [], {}
    for i in range(lo, hi):
        row = dict(zip(_NAMES, _pages.build_page(i, PROSE_VOCAB if prose else 1, prose)))
        if prose:
            k = row["k"] = page_class(row["url"])
            if taken.get(k, 0) >= quota:
                continue
            taken[k] = taken.get(k, 0) + 1
        rows.append(row)
    if prose:
        with open(f"{path}/part-{lo:012d}.json", "w") as f:
            json.dump([dict(r, html=r["html"].decode(), warc_ts=r["warc_ts"].isoformat()) for r in rows], f)
    else:
        _write_table(rows, f"{path}/part-{lo:012d}.parquet")


def _run_writers(path: str, lo: int, n: int, parts: int, mode: str, quota: int = 0) -> None:
    """Pages ``lo .. lo+n-1`` in ``parts`` id ranges, one file each,
    written by one plain Python process per core."""
    os.makedirs(path)
    bounds = [lo + n * f // parts for f in range(parts + 1)]
    ranges = [f"{a}:{b}" for a, b in zip(bounds, bounds[1:])]
    cores = len(os.sched_getaffinity(0))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(sys.path))
    procs = [
        subprocess.Popen(
            [sys.executable, __file__, path, mode, str(quota), *ranges[w::cores]],
            env=env,
        )
        for w in range(cores)
    ]
    if any([p.wait() for p in procs]):
        raise RuntimeError(f"page writer failed under {path}")


def _release_pages(root: str, lo: int, n_base: int, files: int) -> dict:
    """Write the release corpus of ``n_base`` base pages (a multiple of
    CLASSES) under ``root/pages``; returns the planted class counts."""
    from datetime import datetime

    quota = n_base // CLASSES
    raw = os.path.join(root, "candidates")
    # candidates average 4 * quota + 20 per class: every class fills up
    _run_writers(raw, lo, CLASSES * (4 * quota + 20), 4 * len(os.sched_getaffinity(0)), "release", quota)
    cands = []
    for name in sorted(os.listdir(raw)):
        with open(os.path.join(raw, name)) as f:
            cands.extend(json.load(f))
    shutil.rmtree(raw)
    by_class: dict[int, int] = {}
    rows = []
    for r in cands:  # id order: files and rows are in page-id order
        k = r.pop("k")
        if by_class.get(k, 0) < quota:
            by_class[k] = by_class.get(k, 0) + 1
            r.update(html=r["html"].encode(), warc_ts=datetime.fromisoformat(r["warc_ts"]))
            rows.extend(_planted(r, k))
    if sorted(by_class.values()) != [quota] * CLASSES:
        raise RuntimeError(f"class quotas not met under {root}: {by_class}")
    path = os.path.join(root, "pages")
    os.makedirs(path)
    for f in range(files):
        _write_table(rows[f::files], f"{path}/part-{f:05d}.parquet")
    return by_class


def expected_release(n_base: int, by_class: dict[int, int]) -> dict[str, int]:
    """Survivors per release stage that the planted classes imply."""
    heads = sum(by_class.get(c, 0) for c in HEAD)
    rejects = sum(
        by_class.get(c, 0)
        for c in (REPETITIVE, NON_ENGLISH, LOW_QUALITY, BLOCKLISTED, C4_BRACE)
    )
    pages = n_base + heads * (1 + NEAR_VARIANTS)
    clean = pages - rejects
    exact = clean - heads
    return {
        "pages": pages,
        "extracted": pages,
        "clean": clean,
        "exact_unique": exact,
        "near_unique": exact - heads * NEAR_VARIANTS,
    }


def _root(workdir: str, kind: str, seed: int, n_base: int, files: int, warm: bool) -> str:
    tag = f"{kind}-{'warm' if warm else f's{seed}'}-n{n_base}-f{files}-{_digest()}"
    return os.path.join(workdir, "corpus", tag)


def prepare(workdir: str, kind: str, seed: int, size: dict) -> tuple[list, bool]:
    """[(parquet path, meta)] of the warm-up slice (the same for every
    seed) and of the ``kind`` ('extract' or 'release') corpus for
    ``seed``, and whether both were cached; missing ones are generated.
    ``meta['expected']`` holds the planted survivor counts of a release
    corpus."""
    out, cached = [], True
    for n_base, files, warm in (
        (size["warm_base"], size["warm_files"], True),
        (size["n_base"], size["files"], False),
    ):
        if kind == "release":
            n_base -= n_base % CLASSES
        root = _root(workdir, kind, seed, n_base, files, warm)
        meta_path = os.path.join(root, "meta.json")
        if not os.path.exists(meta_path):
            cached = False
            shutil.rmtree(root, ignore_errors=True)
            lo = WARM_LO if warm else (seed % SEED_SPACE) * SEED_STRIDE
            meta = {"kind": kind, "seed": seed, "id_lo": lo, "n_base": n_base, "files": files}
            if kind == "extract":
                _run_writers(os.path.join(root, "pages"), lo, n_base, files, "fixture")
                meta["pages"] = n_base
            else:
                by_class = _release_pages(root, lo, n_base, files)
                meta["planted"] = {str(c): n for c, n in sorted(by_class.items())}
                meta["expected"] = expected_release(n_base, by_class)
                meta["pages"] = meta["expected"]["pages"]
            with open(meta_path, "w") as f:
                json.dump(meta, f)
        os.utime(root)
        with open(meta_path) as f:
            out.append((os.path.join(root, "pages"), json.load(f)))
    _prune(os.path.join(workdir, "corpus"))
    return out, cached


def _prune(corpus_dir: str) -> None:
    entries = sorted(
        (os.path.join(corpus_dir, d) for d in os.listdir(corpus_dir)),
        key=os.path.getmtime,
    )
    for old in entries[:-KEEP_CORPORA]:
        shutil.rmtree(old, ignore_errors=True)


if __name__ == "__main__":
    # python3 corpus.py <dir> <fixture|release> <quota> <lo:hi>...: write
    # those page files
    for r in sys.argv[4:]:
        _write_part(sys.argv[1], *map(int, r.split(":")), sys.argv[2], int(sys.argv[3]))
