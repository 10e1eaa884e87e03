"""Stateful streaming trend models (SURVEY §2.9; the reference's
online update()/get_result() contract — README.md:167-174,
models.py:15-23 — as applyInPandasWithState operators).

Each scorer groups the stream by counter and keeps exactly the
accumulators the reference's model object holds per counter
(trend_analyze_many.py:194,215):

- poisson lc   → last count                       (models.py:275-282)
- poisson a    → per-period-key (num, denom) map  (models.py:289-298)
- mann-kendall → trailing window of counts        (models.py:41-45)

Rows inside a micro-batch are sorted by timestamp before folding, so
with time-ordered arrival (the watermark's job upstream) the emitted
eta sequence is identical to the batch window computation — asserted
by tests/test_streaming.py batch/stream parity.

State is a compact typed struct (no pickled blobs): scalars for lc,
parallel key/num/denom arrays for the cycle model, a bounded count
buffer for MK. State size is O(1) / O(#period keys) / O(window) per
counter — safe for million-counter cardinality with RocksDB state
store on a real cluster.
"""

from __future__ import annotations

import math
from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from gnip_trend_detection_spark.functions.core import sig_round2_py
from gnip_trend_detection_spark.functions.poisson_math import poisson_interval

OUT_SCHEMA = T.StructType(
    [
        T.StructField("counter", T.StringType()),
        T.StructField("interval_start", T.TimestampType()),
        T.StructField("count", T.DoubleType()),
        T.StructField("eta", T.DoubleType()),
    ]
)


def _eta_poisson(count: float, nu: float | None, alpha: float) -> float:
    if nu is None or nu == 0:
        return 0.0
    lo, hi = poisson_interval(alpha, nu)
    width = float(hi) - float(lo)
    if width == 0 or not math.isfinite(width):
        return 0.0
    return abs(count - nu) / width


def _mk_z(counts: list[float]) -> float:
    """Mann-Kendall normalized z over a small trailing window —
    mirrors operators/models/mann_kendall.py (reference mk_test.py:41-64)."""
    import numpy as np

    x = np.asarray(counts, dtype=float)
    n = x.size
    if n < 2:
        return 0.0
    diff_sign = np.sign(x[None, :] - x[:, None])
    s = float(np.triu(diff_sign, 1).sum())
    _, tp = np.unique(x, return_counts=True)
    var_s = (n * (n - 1) * (2 * n + 5) - (tp * (tp - 1) * (2 * tp + 5)).sum()) / 18.0
    if var_s <= 0:
        return 0.0
    if s > 0:
        return (s - 1) / math.sqrt(var_s)
    if s < 0:
        return (s + 1) / math.sqrt(var_s)
    return 0.0


def _concat_sorted(pdfs: Iterable[pd.DataFrame]) -> pd.DataFrame:
    pdf = pd.concat(list(pdfs), ignore_index=True)
    return pdf.sort_values("interval_start", ignore_index=True)


def _emit(counter: str, pdf: pd.DataFrame, etas: list[float]) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "counter": counter,
            "interval_start": pdf["interval_start"],
            "count": pdf["count"].astype(float),
            "eta": [sig_round2_py(e) for e in etas],
        }
    )


def score_stream_poisson_lc(stream: DataFrame, alpha: float = 0.99) -> DataFrame:
    """Streaming twin of operators.models.poisson_lc."""
    state_schema = T.StructType([T.StructField("last_count", T.DoubleType())])

    def fn(key, pdfs, state: GroupState):
        (counter,) = key
        pdf = _concat_sorted(pdfs)
        last = state.get[0] if state.exists else None
        etas = []
        for c in pdf["count"].astype(float):
            etas.append(_eta_poisson(c, last, alpha))
            last = c
        state.update((last,))
        yield _emit(counter, pdf, etas)

    return (
        stream.groupBy("counter")
        .applyInPandasWithState(
            fn, OUT_SCHEMA, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def _period_key(epoch_sec: int, period_list: list[str]) -> str:
    """Batch-identical period key from epoch seconds (same names and
    values as operators.models.poisson._PERIOD_FUNCS, incl. Spark's
    1=Sunday dayofweek) — computed arithmetically, never through
    timestamp attribute rendering, so batch and stream agree."""
    import datetime as dt

    d = dt.date(1970, 1, 1) + dt.timedelta(days=epoch_sec // 86400)
    vals = {
        "hour": (epoch_sec // 3600) % 24,
        "minute": (epoch_sec // 60) % 60,
        "second": epoch_sec % 60,
    }
    parts = []
    for p in period_list:
        if p in vals:
            v = vals[p]
        elif p == "year":
            v = d.year
        elif p == "month":
            v = d.month
        elif p == "day":
            v = d.day
        elif p == "dayofweek":
            v = d.isoweekday() % 7 + 1
        else:
            raise ValueError(f"unsupported period attribute {p!r}")
        parts.append(str(v))
    return ":".join(parts)


def score_stream_poisson_cycle(
    stream: DataFrame,
    period_list: list[str] | str = "hour",
    alpha: float = 0.99,
    ci_nu_floor: bool = False,
) -> DataFrame:
    """Streaming twin of operators.models.poisson_cycle (self-inclusive
    running mean per period key). ci_nu_floor mirrors the batch
    option: the CI lookup uses floor(nu) (the oracle-checkable
    integer-indexed CI) while eta's numerator keeps the exact nu."""
    if isinstance(period_list, str):
        period_list = [p.strip() for p in period_list.split(",")]
    state_schema = T.StructType(
        [
            T.StructField("keys", T.ArrayType(T.StringType())),
            T.StructField("nums", T.ArrayType(T.DoubleType())),
            T.StructField("denoms", T.ArrayType(T.DoubleType())),
        ]
    )

    def fn(key, pdfs, state: GroupState):
        (counter,) = key
        pdf = _concat_sorted(pdfs)
        if state.exists:
            ks, nums, denoms = state.get
            acc = {k: [n, d] for k, n, d in zip(ks, nums, denoms)}
        else:
            acc = {}
        etas = []
        for ts, c in zip(pdf["interval_start"], pdf["count"].astype(float)):
            pkey = _period_key(int(ts.value // 1_000_000_000), period_list)
            num, denom = acc.get(pkey, (0.0, 0.0))
            num, denom = num + c, denom + 1.0
            acc[pkey] = [num, denom]
            nu = num / denom
            if ci_nu_floor:
                nu_ci = float(math.floor(nu))
                if nu == 0 or nu_ci <= 0:
                    etas.append(0.0)
                else:
                    lo, hi = poisson_interval(alpha, nu_ci)
                    width = float(hi) - float(lo)
                    etas.append(
                        abs(c - nu) / width
                        if width != 0 and math.isfinite(width)
                        else 0.0
                    )
            else:
                etas.append(_eta_poisson(c, nu, alpha))
        ks = list(acc)
        state.update((ks, [acc[k][0] for k in ks], [acc[k][1] for k in ks]))
        yield _emit(counter, pdf, etas)

    return (
        stream.groupBy("counter")
        .applyInPandasWithState(
            fn, OUT_SCHEMA, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def score_stream_linreg(
    stream: DataFrame,
    min_points: int,
    averaging_window_size: int = 1,
    regression_window_size: int | None = None,
    norm_by_mean: bool = False,
    sig_round: bool = True,
) -> DataFrame:
    """Streaming twin of operators.models.linear_regression_model.

    State: the trailing count buffer (averaging) + the averaged-value
    buffer (regression) + the global row index. With a bounded
    ``regression_window_size`` state is O(window); unbounded keeps the
    averaged history per counter (same caveat as the batch unbounded
    frame — SURVEY §7 risks)."""
    import numpy as np

    state_schema = T.StructType(
        [
            T.StructField("counts", T.ArrayType(T.DoubleType())),
            T.StructField("avgs", T.ArrayType(T.DoubleType())),
            T.StructField("n", T.LongType()),
        ]
    )
    asize = averaging_window_size
    rsize = regression_window_size

    def fn(key, pdfs, state: GroupState):
        (counter,) = key
        pdf = _concat_sorted(pdfs)
        if state.exists:
            counts, avgs, n = state.get
            counts, avgs = list(counts), list(avgs)
        else:
            counts, avgs, n = [], [], 0
        etas = []
        for c in pdf["count"].astype(float):
            n += 1
            counts.append(c)
            if len(counts) > asize:
                counts = counts[-asize:]
            avgs.append(sum(counts) / asize if n >= asize else 0.0)
            if rsize is not None and len(avgs) > rsize:
                avgs = avgs[-rsize:]
            if n < min_points or len(avgs) < 2:
                etas.append(0.0)
                continue
            y = np.asarray(avgs, dtype=float)
            x = np.arange(n - len(avgs) + 1, n + 1, dtype=float)
            vx = (x * x).mean() - x.mean() ** 2
            slope = ((x * y).mean() - x.mean() * y.mean()) / vx if vx else 0.0
            if norm_by_mean:
                ybar = y.mean()
                slope = slope / ybar if ybar else 0.0
            etas.append(slope)
        state.update((counts, avgs, n))
        out = _emit(counter, pdf, etas)
        if not sig_round:
            out["eta"] = etas
        yield out

    return stream.groupBy("counter").applyInPandasWithState(
        fn, OUT_SCHEMA, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def score_stream_wdt(
    stream: DataFrame,
    library_rows: list[tuple[bool, list[float]]],
    series_length: int,
    reference_length: int,
    lam: float = 1.0,
    distance: str = "l1",
    baseline_offset: int = 40,
    n_smooth: int = 80,
    sig_round: bool = True,
) -> DataFrame:
    """Streaming twin of operators.models.weighted_data_templates.

    The library ships to executors inside the function closure (the
    stream-side equivalent of the batch broadcast join — libraries are
    O(100..1000) rows). State: the trailing count buffer, O(reference
    length) per counter. The test chain and the η math are the batch
    numpy kernels (transforms.chain_matrix, wdt.eta_numpy)."""
    import numpy as np

    from gnip_trend_detection_spark.operators.models import wdt
    from gnip_trend_detection_spark.operators.transforms import chain_matrix

    wdt.check_distance(distance)
    groups = wdt.library_groups(library_rows, series_length)
    # state carries the trailing buffer PLUS the full-series running sum:
    # the reference's warm gate is sum(self.total_series) == 0
    # (models.py:158), which the capped buffer alone cannot answer
    state_schema = T.StructType(
        [
            T.StructField("buf", T.ArrayType(T.DoubleType())),
            T.StructField("total", T.DoubleType()),
        ]
    )

    def eta_for(buf: list[float], total: float) -> float:
        if len(buf) < reference_length or total == 0:
            return 0.0
        test = chain_matrix(
            np.asarray([buf], dtype=np.float64),
            reference_length=reference_length,
            baseline_offset=baseline_offset,
            n_smooth=n_smooth,
            sizing_length=series_length,
        )[0]
        return wdt.eta_numpy(test, groups, series_length, lam, distance)

    def fn(key, pdfs, state: GroupState):
        (counter,) = key
        pdf = _concat_sorted(pdfs)
        buf: list[float]
        buf, total = (list(state.get[0]), state.get[1]) if state.exists else ([], 0.0)
        etas = []
        for c in pdf["count"].astype(float):
            buf.append(c)
            total += c
            if len(buf) > reference_length:
                buf = buf[-reference_length:]
            etas.append(eta_for(buf, total))
        state.update((buf, total))
        out = _emit(counter, pdf, etas)
        if not sig_round:
            out["eta"] = etas
        yield out

    return stream.groupBy("counter").applyInPandasWithState(
        fn, OUT_SCHEMA, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def score_stream_mann_kendall(stream: DataFrame, window_size: int = 20) -> DataFrame:
    """Streaming twin of operators.models.mann_kendall (trailing
    window z)."""
    state_schema = T.StructType(
        [T.StructField("buffer", T.ArrayType(T.DoubleType()))]
    )

    def fn(key, pdfs, state: GroupState):
        (counter,) = key
        pdf = _concat_sorted(pdfs)
        buf: list[float] = list(state.get[0]) if state.exists else []
        etas = []
        for c in pdf["count"].astype(float):
            buf.append(c)
            if len(buf) > window_size:
                buf = buf[-window_size:]
            etas.append(_mk_z(buf))
        state.update((buf,))
        yield _emit(counter, pdf, etas)

    return (
        stream.groupBy("counter")
        .applyInPandasWithState(
            fn, OUT_SCHEMA, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )
