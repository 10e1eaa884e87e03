#!/usr/bin/env python3
"""Self-test of the checkers: each must accept the truth and reject a
corrupted copy of it (a shifted bin, a dropped detection, a perturbed
eta, two duplicate groups merged). Needs no Spark.

    python3 trendbench/selftest.py
"""

from __future__ import annotations

import os
import sys
import tempfile

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen  # noqa: E402

THETA, ALPHA = 1.5, 0.99


def analyze_cases(work: str):
    truth = gen.counts_csv(os.path.join(work, "counts.csv"), 7, 6, 200)
    rebinned = check.expected_rebin(truth)
    rows = [(c, b, n) for c, s in rebinned.items() for b, n in s]
    shifted = list(rows)
    c, b, n = shifted[len(shifted) // 2]
    shifted[len(shifted) // 2] = (c, b + check.HOUR, n)
    yield "rebin", lambda r: check.check_rebin(rebinned, r), rows, shifted

    sure, near = check.expected_poisson_detections(rebinned, ALPHA, THETA)
    assert sure, "the self-test input plants no detection"
    det = [(c, t, n, THETA + 1) for (c, t), n in sure.items()]
    yield ("poisson detections", lambda r: check.check_detections(sure, near, THETA, r),
           det, det[1:])


def wdt_case(work: str):
    counts, t0, names, library = gen.events_parquet(
        os.path.join(work, "tables"), 7, 1, 215, os.path.join(work, "lib.parquet"), 6, 260
    )
    p = dict(series_length=50, reference_length=210, baseline_offset=40, n_smooth=80, lam=1.0)
    etas = check.wdt_etas(counts[0].astype(np.float64), library, p)
    expected = {(names[0], t0 + 3600 * h): e for h, e in enumerate(etas)}
    got = [(c, t, _round2(e)) for (c, t), e in expected.items()]
    detected = {(c, t) for c, t, e in got if e > 1.0}
    hot = max(range(len(got)), key=lambda i: got[i][2])
    bad = list(got)
    bad[hot] = (got[hot][0], got[hot][1], got[hot][2] * 1.2)
    yield "wdt eta", lambda r: check.check_wdt(expected, r, 1.0, detected), got, bad


def dedup_case(work: str):
    planted = gen.corpus_jsonl(os.path.join(work, "corpus.jsonl"), 7, 200)
    rows = [(d, g[0], len(g), d == g[0]) for g in planted for d in g]
    merged_id = min(planted[0][0], planted[1][0])
    n = len(planted[0]) + len(planted[1])
    bad = [
        (d, merged_id, n, d == merged_id) if c in (planted[0][0], planted[1][0]) else (d, c, s, k)
        for d, c, s, k in rows
    ]
    yield "dedup clusters", lambda r: check.check_clusters(planted, r), rows, bad


def _round2(x: float) -> float:
    if x <= 0:
        return 0.0
    scale = 10.0 ** (-np.floor(np.log10(x)) + 1)
    return float(np.floor(x * scale + 0.5) / scale)


def main() -> int:
    failures = 0
    with tempfile.TemporaryDirectory(dir=os.path.dirname(os.path.abspath(__file__))) as work:
        for cases in (analyze_cases(work), wdt_case(work), dedup_case(work)):
            for name, fn, good, bad in cases:
                ok_good, ok_bad = not fn(good), not fn(bad)
                status = "ok" if ok_good and not ok_bad else "FAIL"
                failures += status == "FAIL"
                print(f"{status:4s} {name}: accepts truth={ok_good}, rejects corruption={not ok_bad}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
