"""Driver-sampling rotation invariants (VERDICT r3 item 1, r4 item 1).

The correctness driver samples a ~50-name PREFIX of ``queries()`` each
round. ``__spark_entry__.queries()`` therefore orders entries
never-driver-checked-first so every query earns a green CORRECTNESS row
at least once across rounds. These tests pin that contract as plain
dict arithmetic — no SparkSession — so an accidental reorder or a
rotation-breaking query addition fails fast in CI, not in the verdict.

The checked/regate sets are recomputed from every CORRECTNESS_r*.json
on disk with the same rules the runtime uses (r4 verdict: a frozen
round list here goes stale the moment the next round's file lands), so
the pins below track the rotation instead of trailing it.
"""

import glob
import json
import os

import __spark_entry__ as entry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Every name with a driver CORRECTNESS row in any past round, plus the
# per-name row lists (to recompute the regate set the way the runtime
# does at __spark_entry__.py's driver-sampling-order block).
_ROWS_BY_NAME: dict = {}
for _p in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
    with open(_p) as fh:
        for _name, _row in json.load(fh).items():
            _ROWS_BY_NAME.setdefault(_name, []).append(_row)
_CHECKED = set(_ROWS_BY_NAME)

# Sampled in some round but recorded `no_oracle` every time, and an
# oracle_sql() entry exists NOW: the check was upgraded since sampling,
# so the name must be re-sampled. As of r5 this is {bpe_merges} (its
# loop-generated MATERIALIZED-CTE twin landed in r5); it empties once
# a round records the hash-gated pass.
_REGATE = {
    n
    for n, rows in _ROWS_BY_NAME.items()
    if all(isinstance(r, dict) and r.get("err") == "no_oracle" for r in rows)
} & set(entry.oracle_sql())

# Documented rows-only queries (no oracle_sql entry by design; the
# driver records a rows-only check). Empty since r5: bpe_merges and
# compression_ratio both gained value-level oracles (VERDICT r4
# items 2-3).
_ROWS_ONLY: set = set()


def test_every_query_has_an_oracle_or_is_documented_rows_only():
    q, o = entry.queries(), entry.oracle_sql()
    missing = set(q) - set(o) - _ROWS_ONLY
    assert not missing, f"queries without oracle_sql: {sorted(missing)}"
    stale = set(o) - set(q)
    assert not stale, f"oracle_sql without a query: {sorted(stale)}"


def test_never_checked_set_fits_the_remaining_driver_budget():
    """r5 is the final sampled round (~50 names); every name still
    holding ZERO driver rows must fit in those 50 slots, or some
    operator ends the build without a driver CORRECTNESS row. The
    rotation is exact-fit (50 pending / 50 slots since r4), so this
    also enforces the r4 verdict's 'at most ONE new queries() entry
    in r5' — any addition beyond the fit fails here."""
    q = entry.queries()
    pending = set(q) - _CHECKED
    assert len(pending) <= 50, (
        f"{len(pending)} queries still need a first driver row but only "
        f"~50 sampling slots remain: {sorted(pending)[:10]}..."
    )


def test_prefix_is_exactly_the_never_checked_then_regated_set():
    """No already-green name may occupy a prefix slot ahead of a
    pending one — that is how rotation debt accrues. Since r5 the
    prefix is [never-checked..., regated...]: a regated name already
    holds a (rows-only) driver row, a never-checked name holds none,
    so under the exact-fit budget regates must not displace them."""
    names = list(entry.queries())
    never = set(names) - _CHECKED
    prefix = names[: len(never)]
    assert set(prefix) == never, (
        "sampling prefix is not the never-checked set; first misplaced: "
        f"{sorted(never - set(prefix))[:5]}"
    )
    regated = names[len(never): len(never) + len(_REGATE)]
    assert set(regated) == _REGATE, (
        f"regated names must immediately follow the never-checked "
        f"block: expected {sorted(_REGATE)}, got {sorted(regated)}"
    )
    rest = names[len(never) + len(_REGATE):]
    assert not [n for n in rest if n in never or n in _REGATE]
