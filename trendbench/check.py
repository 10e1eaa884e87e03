"""Independent checkers. Each re-derives the expected result from the
generator's ground truth with numpy / pure Python — no engine code —
and returns a list of human-readable mismatches (empty = correct).
"""

from __future__ import annotations

import math
from collections import defaultdict

import numpy as np

HOUR = 3600


# ---------------------------------------------------------------- rebin


def rebin_hours(start: np.ndarray, dur: np.ndarray, count: np.ndarray):
    """Re-grid one counter's intervals onto its hourly grid, with the
    reference's output rules: a bin is emitted when it or its
    predecessor holds a nonzero total, the emitted list is cut to
    (index of the last bin that received input) + 1 entries, and
    positive totals are truncated to integers.

    Returns [(bin_start_epoch, count)]. Every split fraction is a
    multiple of 1/8 here, so the sums are exact.
    """
    s = start.astype(np.float64)
    e = s + dur
    anchor = math.floor(s.min() / HOUR) * HOUR
    n_bins = int((math.floor(e.max() / HOUR) * HOUR - anchor) // HOUR) + 1
    raw = np.zeros(n_bins)
    got = np.zeros(n_bins, dtype=bool)
    for si, ei, c in zip(s, e, count.astype(np.float64)):
        i = int((si - anchor) // HOUR)
        while i < n_bins and anchor + i * HOUR < ei:
            lo = max(si, anchor + i * HOUR)
            hi = min(ei, anchor + (i + 1) * HOUR)
            raw[i] += c * (hi - lo) / (ei - si)
            got[i] = True
            i += 1
    nz = raw != 0
    emit = nz.copy()
    emit[1:] |= nz[:-1]
    keep = np.flatnonzero(emit)[: int(np.flatnonzero(got).max()) + 1]
    return [
        (int(anchor + i * HOUR), int(math.floor(raw[i])) if raw[i] > 0 else 0)
        for i in keep
    ]


def expected_rebin(truth: dict) -> dict:
    return {name: rebin_hours(*cols) for name, cols in truth.items()}


def check_rebin(expected: dict, got_rows) -> list[str]:
    """got_rows: iterable of (counter, bin_start_epoch, count)."""
    want = {(c, b): n for c, series in expected.items() for b, n in series}
    got = {}
    for c, b, n in got_rows:
        got[(c, int(b))] = int(n)
    errs = []
    for k in sorted(set(want) | set(got)):
        if want.get(k) != got.get(k):
            errs.append(f"rebin {k}: expected {want.get(k)}, got {got.get(k)}")
            if len(errs) >= 5:
                break
    return errs


# ------------------------------------------------------------- Poisson


def poisson_ppf(q: float, mu: float) -> int:
    """Smallest k with P(X <= k) >= q for X ~ Poisson(mu), by a plain
    pmf sum (pmf from log space, so the recurrence differs from the
    program's)."""
    k, cdf = 0, 0.0
    while True:
        cdf += math.exp(k * math.log(mu) - mu - math.lgamma(k + 1))
        if cdf >= q:
            return k
        k += 1


def expected_poisson_detections(expected: dict, alpha: float, theta: float):
    """(sure, near): sure = {(counter, bin): count} whose unrounded eta
    lies clearly above theta; near = keys whose eta is so close to theta
    that rounding to 2 significant digits may put it on either side."""
    sure, near = {}, set()
    q_lo, q_hi = (1 - alpha) / 2, (1 + alpha) / 2
    cache: dict[int, int] = {}
    for name, series in expected.items():
        for (b, c), (_, nu) in zip(series[1:], series[:-1]):
            if nu == 0:
                continue
            if nu not in cache:
                cache[nu] = poisson_ppf(q_hi, nu) - poisson_ppf(q_lo, nu)
            width = cache[nu]
            if width == 0:
                continue
            eta = abs(c - nu) / width
            if _near(eta, theta):
                near.add((name, b))
            elif eta > theta:
                sure[(name, b)] = c
    return sure, near


def _near(eta: float, theta: float) -> bool:
    """True when rounding eta to 2 significant digits could land on
    either side of theta."""
    return abs(eta - theta) <= 0.051 * max(eta, theta)


def check_detections(sure: dict, near: set, theta: float, got_rows) -> list[str]:
    """got_rows: iterable of (counter, interval_start_epoch, count, eta)."""
    errs = []
    got = {}
    for c, t, n, eta in got_rows:
        got[(c, int(t))] = (float(n), float(eta))
        if not float(eta) > theta:
            errs.append(f"detection {(c, t)} has eta {eta} <= theta {theta}")
    for k, n in sure.items():
        if k not in got:
            errs.append(f"missing detection {k}")
        elif got[k][0] != n:
            errs.append(f"detection {k}: count {got[k][0]}, expected {n}")
    for k in got:
        if k not in sure and k not in near:
            errs.append(f"unexpected detection {k}")
    return errs[:5]


# ----------------------------------------------------------------- WDT


def _chain(x: np.ndarray, reference_length: int, baseline_offset: int, n_smooth: int):
    """trends.tex §3.3 preprocessing of one series: +1, divide by the
    baseline mean (the reference_length points ending baseline_offset
    before the end, summed and divided by reference_length), log10
    (values <= 0 mapped to 1e-5 first), trailing moving average whose
    window grows to n_smooth."""
    x = np.asarray(x, dtype=np.float64) + 1.0
    base = x[max(0, len(x) - reference_length - baseline_offset) : len(x) - baseline_offset]
    total = base.sum() / reference_length if baseline_offset else 0.0
    x = x / (total if total != 0 else 1e-5)
    x = np.log10(np.where(x <= 0, 1e-5, x))
    c = np.concatenate([[0.0], np.cumsum(x)])
    i = np.arange(1, len(x) + 1)
    lo = np.maximum(0, i - n_smooth)
    return (c[i] - c[lo]) / (i - lo)


def wdt_etas(counts: np.ndarray, library, p: dict) -> np.ndarray:
    """Unrounded eta for every point of one dense counter series.
    library: [(series_id, is_trend, raw points)]."""
    rl, sl = p["reference_length"], p["series_length"]
    refs = [
        (trend, _chain(pts, rl, p["baseline_offset"], p["n_smooth"])[-rl:])
        for _, trend, pts in library
    ]
    wins = [(t, np.lib.stride_tricks.sliding_window_view(r, sl)) for t, r in refs]
    out = np.zeros(len(counts))
    running = np.cumsum(counts)
    for j in range(len(counts)):
        if j + 1 < rl or running[j] == 0:
            continue
        test = _chain(counts[j + 1 - rl : j + 1], rl, p["baseline_offset"], p["n_smooth"])[-sl:]
        tw = nw = 0.0
        for trend, w in wins:
            d = np.abs(w - test).sum(axis=1).min()
            if trend:
                tw += math.exp(-p["lam"] * d)
            else:
                nw += math.exp(-p["lam"] * d)
        out[j] = tw / (nw if nw != 0 else 0.001)
    return out


def check_wdt(expected: dict, got_rows, theta: float, detected: set) -> list[str]:
    """expected: {(counter, t): unrounded eta} for the sampled counters;
    got_rows: (counter, t, eta) for the same counters from the program;
    detected: keys of the written detection report."""
    errs = []
    got = {(c, int(t)): float(e) for c, t, e in got_rows}
    if set(got) != set(expected):
        errs.append(
            f"wdt points: {len(set(expected) - set(got))} missing, "
            f"{len(set(got) - set(expected))} unexpected"
        )
    for k, e in expected.items():
        g = got.get(k)
        if g is None:
            continue
        if not _rounds_to(e, g):
            errs.append(f"wdt eta {k}: program {g}, expected ~{e:.6g}")
        want = g > theta
        if want != (k in detected):
            errs.append(f"wdt detection {k}: eta {g}, detected={k in detected}")
    return errs[:5]


def _rounds_to(x: float, r: float) -> bool:
    """Is r the 2-significant-digit rounding of x (allowing a tie or a
    last-ulp difference to go either way)?"""
    if x <= 0 or not math.isfinite(x):
        return r == 0
    unit = 10.0 ** (math.floor(math.log10(x)) - 1)
    return abs(x - r) <= 0.5 * unit * (1 + 1e-9) + 1e-12 * x


# --------------------------------------------------------------- dedup


def check_clusters(planted: list[list[int]], rows) -> list[str]:
    """rows: (doc_id, cluster_id, cluster_size, is_canonical)."""
    errs = []
    members = defaultdict(list)
    seen = set()
    for doc, cid, size, canon in rows:
        if doc in seen:
            errs.append(f"doc {doc} emitted twice")
        seen.add(doc)
        members[cid].append((doc, size, bool(canon)))
    for cid, ms in members.items():
        ids = [m[0] for m in ms]
        if cid != min(ids):
            errs.append(f"cluster {cid}: id is not min(doc_id) {min(ids)}")
        if sum(m[2] for m in ms) != 1:
            errs.append(f"cluster {cid}: {sum(m[2] for m in ms)} canonical members")
        if any(m[1] != len(ms) for m in ms):
            errs.append(f"cluster {cid}: cluster_size differs from {len(ms)} members")
    got = sorted(sorted(m[0] for m in ms) for ms in members.values())
    want = sorted(planted)
    if got != want:
        errs.append(
            f"partition differs: {len(got)} clusters vs {len(want)} planted groups"
        )
    return errs[:5]
