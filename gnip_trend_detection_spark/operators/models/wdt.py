"""WeightedDataTemplates — the Nikolov data-driven template model
(SURVEY §2.4 M5/M6; reference models.py:92-224; paper trends.tex
§3.3).

Per point t of each counter series:
  1. no result until `reference_length` points exist or while the
     FULL series-so-far sums to 0 (models.py:155-161:
     sum(self.total_series) == 0) → eta = 0 (after the first update
     the reference's weights are 0.0, so get_result returns
     0 / SMALL_NUMBER = 0);
  2. transform the trailing `reference_length` counts through the
     library's *test* chain (models.py:163-167);
  3. test series s = last `series_length` transformed points;
  4. for each library series r: weight(r) = exp(-lambda * min over all
     length-`series_length` sub-windows r_s of d(r_s, s))
     (models.py:194-213);
  5. eta = sum_{r in R+} w / max(sum_{r in R-} w, 0.001)
     (models.py:171-192, SMALL_NUMBER floor only when the denominator
     is exactly 0).

Distances (models.py:226-236): the reference's "euclidean" is
actually L1 — kept under the name 'l1' (default, code-compatible);
'sq_l2' implements the paper's squared-L2 (trends.tex:417-419).

Spark shape: trailing history via ordered collect_list window →
test-chain stages (barriered projections) → **broadcast** cross join
against the (tiny, O(100..1000)-row) library → sub-window min
distance via array HOFs → hash-agg sum by is_trend → ratio. One
shuffle for the counter window; the scoring join is broadcast (no
shuffle); the final agg is keyed by (counter, point) with map-side
combine. `score_latest_only` cuts the per-point history duplication
for production use (score only each counter's newest point).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gnip_trend_detection_spark.functions.core import sig_round2
from gnip_trend_detection_spark.operators import transforms

SMALL_NUMBER = 0.001


def _l1(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.abs(x - y)), F.lit(0.0), lambda acc, v: acc + v
    )


def _sq_l2(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


DISTANCES = {"l1": _l1, "sq_l2": _sq_l2}


def check_distance(distance: str) -> None:
    """The one name check every WDT scorer (HOF, numpy, streaming)
    runs before building anything: an unknown name is an error, never
    a silent fall-through to some other distance."""
    if distance not in DISTANCES:
        raise ValueError(
            f"unknown WDT distance {distance!r}; expected one of {sorted(DISTANCES)}"
        )


def min_subwindow_distance(ref: Column, test: Column, length: int, distance: str) -> Column:
    """min over all length-L contiguous sub-windows of `ref` of
    d(sub, test) — reference models.py:194-213 + library.py:12-19."""
    d = DISTANCES[distance]
    dists = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(ref) - length + 1, F.lit(1))),
        lambda i: d(F.slice(ref, i, F.lit(length)), test),
    )
    # ref shorter than the window: no sub-series → the reference keeps
    # min_distance = float_max → weight exp(-max) == 0 (models.py:206)
    return F.when(F.size(ref) >= length, F.array_min(dists)).otherwise(
        F.lit(float("inf"))
    )


def weighted_data_templates(
    rebinned: DataFrame,
    library: DataFrame,
    series_length: int = 50,
    reference_length: int = 210,
    lam: float = 1.0,
    distance: str = "l1",
    baseline_offset: int = 40,
    n_smooth: int = 80,
    ts_col: str = "bin_start",
    score_latest_only: bool = False,
    sig_round: bool = True,
    impl: str = "hof",
    check_for_self: bool = False,
) -> DataFrame:
    """A3 series + library(series_id, is_trend, points) → D4 etas.

    impl='hof'   — broadcast cross join + array higher-order-function
                   distances (pure JVM plan, oracle-identical folds);
    impl='numpy' — the library is collected (it is broadcast-sized by
                   design, O(100..1000) rows — SURVEY J2) and shipped
                   in a mapInPandas closure; per-point scoring is one
                   vectorized distance tensor over all (library row,
                   sub-window) pairs. ~5-10x faster than interpreted
                   HOFs at bench scale; identical results up to float
                   summation order. SURVEY §4 calls for benchmarking
                   both — keep 'hof' for exact fold parity, 'numpy'
                   for throughput.

    check_for_self — the reference's self-exclusion knob
    (models.py:200-204): when the test series is itself drawn from
    the library (ROC-style evaluation over library members), a
    library row whose stored (transformed, sized) points EXACTLY
    equal the test series gets weight 0 instead of exp(0)=1, so a
    series never votes for itself. Equality is ordered array
    equality, same as the reference's list ``==``.
    """
    check_distance(distance)
    w = Window.partitionBy("counter").orderBy(ts_col)
    hist = F.collect_list(F.col("count").cast("double")).over(
        w.rowsBetween(-(reference_length - 1), 0)
    )
    # warm gate checks the FULL series-so-far sum (reference
    # models.py:158 sum(self.total_series) == 0), not just the trailing
    # window — a counter with nonzero history that goes all-zero for
    # >= reference_length bins still gets scored.
    running_total = F.sum(F.col("count").cast("double")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    df = rebinned.select(
        "counter",
        F.col(ts_col).alias("interval_start"),
        F.col("count").cast("double").alias("count"),
        F.row_number().over(w).alias("rn"),
        hist.alias("hist"),
        running_total.alias("running_total"),
    )
    if score_latest_only:
        last = Window.partitionBy("counter")
        df = df.withColumn("__max_rn", F.max("rn").over(last)).filter(
            F.col("rn") == F.col("__max_rn")
        ).drop("__max_rn")

    warm = (F.col("rn") >= reference_length) & (F.col("running_total") != 0)
    df = df.withColumn("warm", warm)

    cold = df.filter(~F.col("warm")).select(
        "counter", "interval_start", "count", F.lit(0.0).alias("eta_raw")
    )
    hot = df.filter(F.col("warm")).drop("running_total")

    # test transformation chain over the trailing history, then keep
    # the last series_length points (models.py:163-169)
    hot = transforms.apply_chain(
        hot,
        "hist",
        "transformed",
        transforms.test_stages(reference_length, baseline_offset, n_smooth),
    )
    hot = hot.withColumn(
        "test_series", transforms.sizing(F.col("transformed"), series_length)
    ).drop("transformed", "hist")

    if impl == "numpy":
        scored = _score_numpy(
            hot, library, series_length, lam, distance, check_for_self
        )
        out = scored.unionByName(cold)
        eta = sig_round2(F.col("eta_raw")) if sig_round else F.col("eta_raw")
        return out.select("counter", "interval_start", "count", eta.alias("eta"))

    lib = library.select(
        "series_id", "is_trend", F.col("points").alias("ref_points")
    )
    pairs = hot.crossJoin(F.broadcast(lib))
    mind = min_subwindow_distance(
        F.col("ref_points"), F.col("test_series"), series_length, distance
    )
    weight = F.exp(-F.lit(float(lam)) * mind)
    if check_for_self:
        # models.py:201-204 — a library row identical to the test
        # series contributes nothing (array == is false on length
        # mismatch, matching list equality)
        weight = F.when(
            F.col("ref_points") == F.col("test_series"), F.lit(0.0)
        ).otherwise(weight)
    scored = (
        pairs.withColumn("weight", weight)
        .groupBy("counter", "interval_start", "count")
        .agg(
            F.sum(F.when(F.col("is_trend"), F.col("weight")).otherwise(0.0)).alias("tw"),
            F.sum(F.when(~F.col("is_trend"), F.col("weight")).otherwise(0.0)).alias("nw"),
        )
        .select(
            "counter",
            "interval_start",
            "count",
            (
                F.col("tw")
                / F.when(F.col("nw") == 0, F.lit(SMALL_NUMBER)).otherwise(F.col("nw"))
            ).alias("eta_raw"),
        )
    )
    out = scored.unionByName(cold)
    eta = sig_round2(F.col("eta_raw")) if sig_round else F.col("eta_raw")
    return out.select("counter", "interval_start", "count", eta.alias("eta"))


def library_groups(rows, series_length: int):
    """[(mat, is_trend)]: ``(is_trend, points)`` library rows grouped
    by length into dense (n_series, length) float64 matrices. Lengths
    below ``series_length`` are dropped — no sub-window, so their
    weight is exp(-inf) == 0 (models.py:206). Only these matrices are
    shipped to executors; the sub-window views are built there by
    ``eta_numpy`` (a pickled sliding_window_view is a full copy,
    ``series_length`` times the matrix)."""
    import numpy as np

    by_len: dict[int, list] = {}
    for is_trend, points in rows:
        by_len.setdefault(len(points), []).append((is_trend, points))
    return [
        (
            np.vstack([np.asarray(p, dtype=np.float64) for _, p in rs]),
            np.array([bool(t) for t, _ in rs]),
        )
        for length, rs in by_len.items()
        if length >= series_length
    ]


def eta_numpy(
    tv,
    groups,
    series_length: int,
    lam: float,
    distance: str,
    check_for_self: bool = False,
) -> float:
    """η of one transformed test series ``tv`` against the
    ``library_groups`` matrices: per library row, the min distance over
    its length-``series_length`` sub-windows, weight exp(-lam·d), then
    trend / non-trend weight sums with the SMALL_NUMBER floor. Shared
    by the batch numpy kernel and the streaming scorer."""
    import numpy as np

    tw = nw = 0.0
    for mat, trend in groups:
        wins = np.lib.stride_tricks.sliding_window_view(mat, series_length, axis=1)
        if distance == "l1":
            d = np.abs(wins - tv).sum(axis=2).min(axis=1)
        else:
            dd = wins - tv
            d = (dd * dd).sum(axis=2).min(axis=1)
        w = np.exp(-lam * d)
        if check_for_self and mat.shape[1] == series_length:
            # self-exclusion (models.py:201-204): a library row
            # bit-equal to the test series votes 0. NaN-aware so both
            # impls agree: Spark's array equality treats NaN = NaN as
            # true, while raw numpy == would exclude NaN points from
            # the match and keep a NaN-bearing self row
            eq = (mat == tv) | (np.isnan(mat) & np.isnan(tv))
            w = np.where(eq.all(axis=1), 0.0, w)
        tw += w[trend].sum()
        nw += w[~trend].sum()
    return tw / (nw if nw != 0 else SMALL_NUMBER)


def _score_numpy(
    hot: DataFrame,
    library: DataFrame,
    series_length: int,
    lam: float,
    distance: str,
    check_for_self: bool = False,
) -> DataFrame:
    """Vectorized scoring kernel: per batch of test series, distances
    against every (library row, sub-window) pair as numpy tensor ops
    (``eta_numpy``). The library is collected and grouped by length
    into dense matrices (``library_groups``) once, on the driver."""
    import numpy as np
    import pandas as pd

    groups = library_groups(
        library.select("is_trend", "points").collect(), series_length
    )

    def score(batches):
        for pdf in batches:
            etas = [
                eta_numpy(
                    np.asarray(t, dtype=np.float64),
                    groups,
                    series_length,
                    lam,
                    distance,
                    check_for_self,
                )
                for t in pdf["test_series"]
            ]
            yield pd.DataFrame(
                {
                    "counter": pdf["counter"],
                    "interval_start": pdf["interval_start"],
                    "count": pdf["count"],
                    "eta_raw": etas,
                }
            )

    return hot.select("counter", "interval_start", "count", "test_series").mapInPandas(
        score,
        "counter string, interval_start timestamp, count double, eta_raw double",
    )
