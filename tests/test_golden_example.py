"""Golden end-to-end test on the reference repo's own example data
(example/example.csv: 737 hourly #scotus rows, 2014-08-24..09-23).

The expected values come from an independent from-spec Python rebin
(SURVEY §2.3 semantics), not from importing the reference (its
matplotlib/scipy deps are absent here). This pins the quirks on real
data: proportional straddle split, zero-run compression, trailing
trim, int truncation.
"""

import math
import os
import sys
from collections import defaultdict

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EXAMPLE = "/root/reference/example/example.csv"

pytestmark = pytest.mark.skipif(
    not os.path.exists(EXAMPLE), reason="reference example.csv not present"
)


def _load_rows():
    import datetime as dt

    rows = []
    with open(EXAMPLE) as f:
        for line in f:
            parts = [p.strip() for p in line.strip().split(",")]
            if len(parts) < 4 or not parts[0]:
                continue
            ts = dt.datetime.strptime(parts[0], "%Y%m%d%H%M%S")
            epoch = ts.replace(tzinfo=dt.timezone.utc).timestamp()
            rows.append((epoch, float(parts[1]), float(parts[2]), parts[3]))
    return rows


def _shadow_rebin(rows, width, trunc_sec):
    """From-spec rebin: grid anchored at trunc(min start), one bin past
    trunc(max stop); proportional weights; zero-fill; zero-run
    compression; trailing trim at grid index of last populated bin;
    positive counts truncated to int."""
    data = [(s, s + d, c) for (s, d, c, _) in rows]
    anchor = math.floor(min(s for s, _, _ in data) / trunc_sec) * trunc_sec
    grid_stop = math.floor(max(e for _, e, _ in data) / trunc_sec) * trunc_sec
    n_bins = int((grid_stop - anchor) // width) + 1
    acc: dict[int, float] = defaultdict(float)
    for s, e, c in data:
        i0 = int((s - anchor) // width)
        i1 = min(int(math.ceil((e - anchor) / width)) - 1, n_bins - 1)
        for i in range(i0, max(i1, i0) + 1):
            lo, hi = anchor + i * width, anchor + (i + 1) * width
            w = (min(e, hi) - max(s, lo)) / (e - s)
            acc[i] += c * w
    last_present = max(acc)
    emitted = []
    prev = 0.0
    for i in range(n_bins):
        raw = acc.get(i, 0.0)
        if raw != 0 or prev != 0:
            emitted.append((i, raw))
        prev = raw
    emitted = emitted[: last_present + 1]
    return {
        anchor + i * width: (int(raw) if raw > 0 else 0) for i, raw in emitted
    }


@pytest.mark.parametrize(
    "unit,n,width,trunc",
    [
        ("hours", 2, 7200, 3600),  # the README's own 2-hour config
        ("minutes", 45, 2700, 60),  # hourly rows straddle 45-min bins
    ],
)
def test_engine_rebin_matches_shadow_on_scotus(spark, unit, n, width, trunc):
    from pyspark.sql import functions as F

    from gnip_trend_detection_spark.operators.rebin import rebin
    from gnip_trend_detection_spark.sources.csv import load_counts_csv

    rows = _load_rows()
    assert len(rows) == 737 and rows[0][3] == "#scotus"
    want = _shadow_rebin(rows, width, trunc)

    counts = load_counts_csv(spark, EXAMPLE)
    out = rebin(counts, binning_unit=unit, n_binning_unit=n)
    got = {
        r["e"]: r["count"]
        for r in out.select(
            F.col("bin_start").cast("double").alias("e"), "count"
        ).collect()
    }
    assert got == want
    assert sum(got.values()) > 0


def test_csv_loader_parses_reference_layout(spark):
    from gnip_trend_detection_spark.sources.csv import load_counts_csv

    counts = load_counts_csv(spark, EXAMPLE)
    assert counts.columns == ["counter", "interval_start", "duration_sec", "count"]
    rows = counts.collect()
    assert len(rows) == 737
    assert {r["counter"] for r in rows} == {"#scotus"}
    assert all(r["duration_sec"] == 3600.0 for r in rows)


LEGACY = "/root/reference/example/scotus.txt"


@pytest.mark.skipif(not os.path.exists(LEGACY), reason="scotus.txt absent")
def test_legacy_loader_derives_start_from_stop(spark):
    """D2 layout (SURVEY §1): col 0 is the STOP time; start = stop -
    duration; in-scan rule filter trims both sides."""
    from gnip_trend_detection_spark.sources.csv import load_counts_legacy_csv

    counts = load_counts_legacy_csv(spark, LEGACY, rule_name=" #scotus ")
    rows = counts.collect()
    assert len(rows) == 737
    assert all(r["duration_sec"] == 3600.0 for r in rows)
    # spot-check: first line's stop 2014-08-24 00:00:00 → start -1h
    starts = sorted(r["interval_start"] for r in rows)
    assert starts[0].isoformat() == "2014-08-23T23:00:00"

    none = load_counts_legacy_csv(spark, LEGACY, rule_name="#nope")
    assert none.count() == 0


def test_directory_walk_postfix_filter(spark, tmp_path):
    """S2: recursive dir scan with filename-postfix glob."""
    import shutil

    from gnip_trend_detection_spark.sources.csv import load_counts_csv

    nested = tmp_path / "a" / "b"
    nested.mkdir(parents=True)
    shutil.copy(EXAMPLE, nested / "x.counts.csv")
    shutil.copy(EXAMPLE, tmp_path / "ignored.other")
    counts = load_counts_csv(spark, str(tmp_path), postfix=".counts.csv")
    assert counts.count() == 737
