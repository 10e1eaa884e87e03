"""Series transformations as array<double> Column functions (SURVEY
§2.5 T1-T10; reference library.py:99-174).

Each is a pure Column → Column function over ArrayType(DoubleType),
built from higher-order functions (transform/aggregate/slice) so the
whole chain stays JVM-side — no Python in the hot path. The chain
composition (T9) mirrors library.py:39-54: reference chain =
add_one → unit_normalization → logarithmic_scaling → smoothing →
sizing; the test chain omits sizing.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def add_one(arr: Column) -> Column:
    """T1 (library.py:99-101)."""
    return F.transform(arr, lambda x: x + F.lit(1.0))


def unit_normalization(arr: Column, reference_length: int, baseline_offset: int) -> Column:
    """T2 (library.py:103-114): divide by mean of the Python slice
    series[-(reference_length+offset) : -offset], floored at 1e-5 when
    the slice sums to 0. Note the reference quirk: offset == 0 makes
    the slice empty (upper index -0), so the divisor is 1e-5.
    """
    n = F.size(arr)
    lo = F.greatest(F.lit(1), n + 1 - F.lit(reference_length + baseline_offset))
    hi = n - F.lit(baseline_offset)  # inclusive 1-based upper bound
    length = F.greatest(hi - lo + 1, F.lit(0))
    if baseline_offset == 0:
        # Python series[-(L+0):-0] is series[lo:0] == [] — reference
        # quirk at library.py:108-110; divisor becomes 1e-5.
        length = F.lit(0)
    total = F.aggregate(
        F.slice(arr, lo, length), F.lit(0.0), lambda acc, x: acc + x
    ) / F.lit(float(reference_length))
    denom = F.when(total == 0, F.lit(1e-5)).otherwise(total)
    return F.transform(arr, lambda x: x / denom)


def spike_normalization(arr: Column, alpha: float) -> Column:
    """T3 (library.py:115-126): |x_i - x_{i-1}|^alpha, 0 stays 0,
    previous value starts at 0. Not in the default chain."""
    prev = F.concat(F.array(F.lit(0.0)), F.slice(arr, 1, F.size(arr) - 1))
    return F.zip_with(
        arr,
        prev,
        lambda c, p: F.when(c == 0, F.lit(0.0)).otherwise(
            F.pow(F.abs(c - p), F.lit(float(alpha)))
        ),
    )


def smoothing(arr: Column, n_smooth: int) -> Column:
    """T4 (library.py:128-137): trailing moving average whose window
    grows to n_smooth then slides. Empty-array guard: sequence(1, 0)
    DESCENDS by default (step -1), which would emit i=0 and divide by
    zero — empty in, empty out instead."""
    idx = F.sequence(F.lit(1), F.size(arr))
    empty = F.array().cast("array<double>")
    return F.when(F.size(arr) == 0, empty).otherwise(_smooth_body(arr, n_smooth, idx))


def _smooth_body(arr: Column, n_smooth: int, idx: Column) -> Column:
    return F.transform(
        idx,
        lambda i: F.aggregate(
            F.slice(arr, F.greatest(F.lit(1), i - (n_smooth - 1)), F.least(i, F.lit(n_smooth))),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / F.least(i, F.lit(n_smooth)).cast("double"),
    )


def index_smoothing(arr: Column, n_smooth: int) -> Column:
    """T6 (library.py:150-160): mean over [max(0,i-n), i) — excludes
    the current point, drops element 0, output length n-1. Dead
    variant kept for parity. Same short-array sequence() guard as
    smoothing (sequence(2, n) descends for n < 2)."""
    idx = F.sequence(F.lit(2), F.size(arr))
    empty = F.array().cast("array<double>")
    return F.when(F.size(arr) < 2, empty).otherwise(
        _index_smooth_body(arr, n_smooth, idx)
    )


def _index_smooth_body(arr: Column, n_smooth: int, idx: Column) -> Column:
    return F.transform(
        idx,
        lambda i: F.aggregate(
            F.slice(
                arr,
                F.greatest(F.lit(1), i - n_smooth),
                i - F.greatest(F.lit(1), i - n_smooth),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / (i - F.greatest(F.lit(1), i - n_smooth)).cast("double"),
    )


def logarithmic_scaling(arr: Column) -> Column:
    """T7 (library.py:161-168): log10(x), with x <= 0 replaced by 1e-5
    first (values in (0, 1e-5) pass through unchanged — exact
    reference behavior, not a max())."""
    return F.transform(
        arr, lambda x: F.log10(F.when(x <= 0, F.lit(1e-5)).otherwise(x))
    )


def sizing(arr: Column, reference_length: int) -> Column:
    """T8 (library.py:170-172): keep the trailing reference_length
    elements (whole array when shorter)."""
    n = F.size(arr)
    start = F.greatest(F.lit(1), n - F.lit(reference_length) + 1)
    return F.slice(arr, start, F.lit(reference_length))


def sliding_subseries(arr: Column, length: int) -> Column:
    """T10 (library.py:12-19): all contiguous sub-arrays of a given
    length → array<array<double>> (empty when the series is shorter
    than ``length`` — sequence(1, 0) would otherwise descend)."""
    n_windows = F.size(arr) - length + 1
    return F.when(
        n_windows < 1, F.array().cast("array<array<double>>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), n_windows),
            lambda i: F.slice(arr, i, F.lit(length)),
        )
    )


def stage_barrier(col: Column) -> Column:
    """Always-true non-deterministic guard.

    Composing array stages where a later stage's per-element lambda
    references an earlier stage that itself contains whole-array
    aggregates makes Catalyst inline the full upstream tree into
    every element evaluation (CollapseProject) — codegen blows up
    multiplicatively (measured: 149s → 2.5s on the 4-stage chain at
    sf0.1). Wrapping a stage output in a non-deterministic-but-
    constant guard pins it to its own projection, so each stage is
    evaluated once per row. No shuffle, no caching.
    """
    return F.when(F.rand() >= F.lit(-1.0), col)


def apply_chain(df, input_col: str, output_col: str, stages) -> "DataFrame":
    """T9 (library.py:68-84): fold an array column through an ordered
    list of Column transformations, one barriered projection per
    stage."""
    cur = input_col
    for i, stage in enumerate(stages):
        last = i == len(stages) - 1
        nxt = output_col if last else f"__chain_{i}"
        out = stage(F.col(cur))
        df = df.withColumn(nxt, out if last else stage_barrier(out))
        if cur != input_col:
            df = df.drop(cur)
        cur = nxt
    return df


def chain_matrix(
    M,
    *,
    reference_length: int,
    baseline_offset: int,
    n_smooth: int,
    sizing_length: int | None = None,
):
    """The canonical chain (add_one → unit_normalization → log10 →
    smoothing [→ sizing]) over a (rows, L) float64 matrix of equal-
    length series, L >= 1 — the per-matrix kernel of ``chain_numpy``
    and of the streaming WDT scorer, so batch and stream share one
    float evaluation order (see ``chain_numpy`` on parity)."""
    import numpy as np

    rl, off, ns = reference_length, baseline_offset, n_smooth
    L = M.shape[1]
    M = M + 1.0  # T1
    # T2: divisor = leftfold-sum(py_slice[-(rl+off):-off]) / rl
    lo = max(1, L + 1 - (rl + off))  # 1-based inclusive
    hi = L - off
    if off == 0 or hi < lo:
        total = np.zeros(M.shape[0])
    else:
        total = np.cumsum(M[:, lo - 1 : hi], axis=1)[:, -1] / float(rl)
    denom = np.where(total == 0.0, 1e-5, total)
    M = M / denom[:, None]
    # T7: log10 with x <= 0 -> 1e-5 first
    M = np.log10(np.where(M <= 0.0, 1e-5, M))
    # T4: trailing moving average, window grows to ns
    S = np.empty_like(M)
    head = min(ns - 1, L)
    if head:
        cs = np.cumsum(M[:, :head], axis=1)
        S[:, :head] = cs / np.arange(1.0, head + 1.0)
    if L >= ns:
        acc = M[:, 0 : L - ns + 1].copy()
        for k in range(1, ns):
            acc += M[:, k : L - ns + 1 + k]
        S[:, ns - 1 :] = acc / float(ns)
    if sizing_length is not None:  # T8
        S = S[:, max(0, L - sizing_length) :]
    return S


def chain_numpy(
    df,
    id_col: str,
    input_col: str,
    output_col: str,
    *,
    reference_length: int,
    baseline_offset: int,
    n_smooth: int,
    sizing_length: int | None = None,
) -> "DataFrame":
    """Vectorized twin of ``apply_chain`` over the canonical reference
    recipe (add_one → unit_normalization → log10 → smoothing
    [→ sizing]) as ONE Arrow-batched mapInPandas stage.

    Same zero-shuffle shape as the HOF chain, but the per-element work
    runs as numpy matrix ops instead of interpreted HOF lambda
    evaluation — measured 4.4s → well under target on the sf0.1 chain
    bench (the HOF chain's smoothing is O(len·n_smooth) interpreted
    slice+aggregate per row).

    Float parity: every sum is evaluated in the exact left-fold order
    the HOF/DuckDB twins use — np.cumsum for prefix folds and ordered
    shifted adds for full smoothing windows — so results are
    bit-identical to the HOF chain up to the engines' log10 ulp (Java
    Math.log10 vs numpy libm), which sits ~1e11 below the 1e-6 output
    round grid (measured in tools/tiecheck_diag.py).
    """
    import numpy as np
    import pandas as pd

    def run(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            arrs = pdf[input_col]
            lens = np.array([0 if a is None else len(a) for a in arrs])
            out: list = [None] * len(pdf)
            for L in np.unique(lens):
                idx = np.nonzero(lens == L)[0]
                if L == 0:
                    for i in idx:
                        out[i] = [] if arrs.iloc[i] is not None else None
                    continue
                M = np.asarray(
                    [np.asarray(arrs.iloc[i], dtype=np.float64) for i in idx]
                )
                S = chain_matrix(
                    M,
                    reference_length=reference_length,
                    baseline_offset=baseline_offset,
                    n_smooth=n_smooth,
                    sizing_length=sizing_length,
                )
                for j, i in enumerate(idx):
                    out[i] = S[j].tolist()
            yield pd.DataFrame({id_col: ids, output_col: out})

    return df.select(id_col, input_col).mapInPandas(
        run, f"{id_col} long, {output_col} array<double>"
    )


def reference_stages(reference_length: int, baseline_offset: int, n_smooth: int):
    """The library's reference-series chain (library.py:42-47):
    add_one → unit_normalization → log10 → smoothing → sizing."""
    return [
        add_one,
        lambda a: unit_normalization(a, reference_length, baseline_offset),
        logarithmic_scaling,
        lambda a: smoothing(a, n_smooth),
        lambda a: sizing(a, reference_length),
    ]


def test_stages(reference_length: int, baseline_offset: int, n_smooth: int):
    """The test-series chain — same minus sizing (library.py:49-53)."""
    return [
        add_one,
        lambda a: unit_normalization(a, reference_length, baseline_offset),
        logarithmic_scaling,
        lambda a: smoothing(a, n_smooth),
    ]
