"""Native (whole-stage-codegen) column functions: K8 temperature-format
validation and the shared expression helpers (``bind_once``, ``round4``).
No Python executes at runtime — these build pure Catalyst expression
trees.
"""

from __future__ import annotations

from math import floor

from pyspark.sql import Column
from pyspark.sql import functions as F


def bind_once(expr: Column, fn) -> Column:
    """Evaluate ``expr`` exactly once per row and hand it to ``fn`` as a
    bound lambda variable.

    Interpreted higher-order lambdas (transform/filter/aggregate run
    OUTSIDE whole-stage codegen) re-evaluate every captured expression
    once PER ELEMENT — there is no common-subexpression elimination in
    that path, so e.g. ``transform(seq, i -> slice(words(text), i, n))``
    re-runs the O(len) split for every single n-gram, turning an O(len)
    projection into O(len²). Wrapping the expensive expression in a
    1-element array and binding it through ``transform`` makes every
    reference inside ``fn`` a NamedLambdaVariable lookup (O(1)).

    This is the expression-level twin of the projection-boundary staging
    used by ``with_text_stats`` — use this when
    the consumer must stay a single Column (no DataFrame to stage on).
    """
    return F.element_at(F.transform(F.array(expr), fn), 1)


def round4(col: Column) -> Column:
    """4-decimal rounding as pure IEEE arithmetic:
    floor(x·10⁴ + 0.5)/10⁴. Used instead of ``F.round`` on every
    oracle-compared value: Spark's F.round applies BigDecimal HALF_UP to
    the double's SHORTEST DECIMAL REPR while DuckDB (and most engines)
    round the raw binary double, so x.xxxx5 boundaries diverge between
    engines; the floor form is bit-identical everywhere given identical
    double inputs (a boundary hit in practice: 5/5000 quality scores at
    sf0.1)."""
    return F.floor(col * 10000.0 + 0.5) / 10000.0


def round4_py(x: float) -> float:
    """Python mirror of ``round4`` — same IEEE ops, bit-identical."""
    return floor(x * 10000.0 + 0.5) / 10000.0

# Accepted formats of validate_temperature_format
# (reference pattern_matcher.py:300-305). Java and Python regex agree on
# these constructs; applied after whitespace strip so the \s* tails are inert.
_TEMP_FORMAT_REGEXES = [
    r"^\d+(\.\d+)?\s*[°]?[FCfc]$",
    r"^[°]?[FCfc]\s*\d+(\.\d+)?$",
    r"^\d+(\.\d+)?\s*[°]?[FCfc]\s*$",
]


def _vresult(is_valid, adjustment, reason, correction) -> Column:
    return F.struct(
        F.lit(is_valid).alias("is_valid"),
        F.lit(float(adjustment)).alias("confidence_adjustment"),
        (F.lit(reason) if reason is not None else F.lit(None).cast("string")).alias(
            "error_reason"
        ),
        (
            correction
            if isinstance(correction, Column)
            else F.lit(None).cast("string")
        ).alias("suggested_correction"),
    )


def validate_temperature_format(text: Column | str) -> Column:
    """struct<is_valid, confidence_adjustment, error_reason,
    suggested_correction> — ordered rule chain of the reference's
    ``validate_temperature_format`` (pattern_matcher.py:270-315), fully
    native: slash/backslash → -20 with dot substitution; trailing '.' →
    -15 with rstrip; missing F/C unit → -25 appending '°F'; no accepted
    format → -30; otherwise valid."""
    t = F.col(text) if isinstance(text, str) else text
    stripped = F.regexp_replace(t, r"^\s+|\s+$", "")
    has_slash = t.contains("/") | t.contains("\\")
    trailing_dot = t.endswith(".")
    missing_unit = ~(F.lower(t).contains("f") | F.lower(t).contains("c"))
    format_ok = F.lit(False)
    for rx in _TEMP_FORMAT_REGEXES:
        format_ok = format_ok | stripped.rlike(rx)
    return (
        F.when(
            has_slash,
            _vresult(
                False,
                -20.0,
                "Invalid character '/' or '\\' in temperature",
                F.translate(t, "/\\", ".."),
            ),
        )
        .when(
            trailing_dot,
            _vresult(
                False,
                -15.0,
                "Temperature ends with decimal point",
                F.regexp_replace(t, r"\.+$", ""),
            ),
        )
        .when(
            missing_unit,
            _vresult(
                False,
                -25.0,
                "Missing temperature unit (F or C)",
                F.concat(t, F.lit("°F")),
            ),
        )
        .when(~format_ok, _vresult(False, -30.0, "Invalid temperature format", None))
        .otherwise(_vresult(True, 0.0, None, None))
    )

