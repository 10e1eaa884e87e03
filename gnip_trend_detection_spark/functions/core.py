"""Scalar Column helpers shared across operators and sources, and
materialize_col, which evaluates an expression once per row.

All of these stay JVM-side (no Python UDFs) so they fold into
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Fixed-width binning units the reference supports: it builds the grid
# step with `datetime.timedelta(**{binning_unit: n})`
# (reference analysis.py:84), so only timedelta kwargs are legal —
# months/years are not expressible there and not here.
UNIT_SECONDS = {
    "seconds": 1,
    "minutes": 60,
    "hours": 3600,
    "days": 86400,
    "weeks": 604800,
}

# datetime_truncate unit name used for the grid anchor
# (reference analysis.py:82-83 truncates with unit.rstrip('s')).
TRUNC_UNIT = {
    "seconds": "second",
    "minutes": "minute",
    "hours": "hour",
    "days": "day",
    "weeks": "week",
}

# Monday 1969-12-29 00:00 UTC = epoch -259200: offset that makes
# floor-division week truncation Monday-aligned, matching the
# reference's datetime_truncate(…, 'week').
_WEEK_MONDAY_OFFSET = 259200.0


def trunc_epoch(epoch: Column, unit: str) -> Column:
    """Truncate epoch-seconds (DOUBLE) to a unit boundary with pure
    arithmetic — identical to wall-clock truncation of UTC timestamps,
    but independent of spark.sql.session.timeZone (date_trunc is not:
    a non-UTC session shifts hour/day/week anchors). Weeks are
    Monday-aligned like the reference's datetime_truncate."""
    w = float(UNIT_SECONDS[unit])
    if unit == "weeks":
        off = _WEEK_MONDAY_OFFSET
        return F.floor((epoch + off) / w) * w - off
    return F.floor(epoch / w) * w


def epoch_seconds(col: Column) -> Column:
    """Epoch seconds as DOUBLE, keeping sub-second precision."""
    return col.cast("double")


def sig_round2(col: Column) -> Column:
    """Round a positive figure-of-merit to 2 significant digits;
    non-positive values become 0.

    Mirrors reference analysis.py:186-196:
    ``round(x, -int(floor(log10(x)))+1) if x > 0 else 0``.
    Spark's ``round(col, scale)`` needs a literal scale, so the
    variable-scale rounding is expressed as round(x*10^s)/10^s.
    Deliberate divergence: SQL HALF_UP instead of Python's banker's
    rounding (documented; the DuckDB oracle uses the same HALF_UP).
    """
    scale = F.pow(F.lit(10.0), (-F.floor(F.log10(col)) + 1).cast("double"))
    return F.when(col > 0, F.round(col * scale) / scale).otherwise(F.lit(0.0))


def sig_round2_py(x: float) -> float:
    """Python-scalar twin of :func:`sig_round2` (same HALF_UP), used by
    the streaming stateful models so batch and stream emit identical
    etas."""
    import math

    if not (x > 0) or not math.isfinite(x):
        return 0.0
    scale = 10.0 ** (-math.floor(math.log10(x)) + 1)
    return math.floor(x * scale + 0.5) / scale


def materialize_col(df: DataFrame, expr: Column, out_col: str) -> DataFrame:
    """Append ``expr`` as a column that is evaluated exactly ONCE per
    row, via an outer-generate barrier: posexplode_outer(array(expr))
    makes the value a GENERATOR OUTPUT attribute, which neither
    CollapseProject nor filter-pushdown alias substitution can inline
    back into consuming expressions. A plain withColumn/select alias
    is substituted into every reference during optimization, so an
    expensive expression (tokenize, the CSV timestamp ladder)
    referenced N times by row-local consumers (quality blend, language
    ID, a null filter plus the projection) is re-evaluated N times per
    row — measured 2x wall at the 10x replica for the fused curation
    pipeline. Same trick and same outer-generate reasoning as
    queries._explode_arr (a plain Generate would let
    InferFiltersFromGenerate push `size(...) > 0` below the
    projection, re-inlining the tree it exists to materialize); the
    isnotnull(pos) filter restores inner semantics and cannot be
    pushed below the Generate because pos is generated. A NULL expr
    value survives as a NULL cell (array(NULL) emits pos=0, val=NULL).
    """
    out = df.select(
        "*", F.posexplode_outer(F.array(expr)).alias("__mat_pos", out_col)
    )
    return out.filter(F.col("__mat_pos").isNotNull()).drop("__mat_pos")
