"""Shadow test for WeightedDataTemplates: an independent pure-Python
implementation of the documented algorithm (paper trends.tex §3.3 +
SURVEY §2.4 M5/M6 semantics) cross-checked against the Spark operator.

This is written from the spec, not the reference source: per-point
trailing history, test-chain transform, sub-window min L1 distance,
exp(-lambda*d) weights, trend/non-trend ratio with the 0.001 floor.
"""

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REF_LEN = 12
SER_LEN = 6
N_SMOOTH = 3
OFFSET = 3
LAM = 0.5


def _transform_test(series):
    # add_one
    s = [x + 1.0 for x in series]
    # unit normalization over slice [-(REF_LEN+OFFSET):-OFFSET]
    sl = s[-(REF_LEN + OFFSET) : -OFFSET] if OFFSET else []
    total = sum(sl) / float(REF_LEN)
    if total == 0:
        total = 1e-5
    s = [x / total for x in s]
    # log10 with <=0 -> 1e-5
    s = [math.log10(x if x > 0 else 1e-5) for x in s]
    # trailing mean, window grows to N_SMOOTH
    out = []
    for i in range(len(s)):
        w = s[max(0, i - (N_SMOOTH - 1)) : i + 1]
        out.append(sum(w) / len(w))
    return out


def _dist(a, b, kind):
    if kind == "l1":
        return sum(abs(x - y) for x, y in zip(a, b))
    return sum((x - y) ** 2 for x, y in zip(a, b))


def _eta_series(counts, library, distance="l1"):
    etas = []
    for t in range(len(counts)):
        hist = counts[max(0, t - REF_LEN + 1) : t + 1]
        # warm gate tests the FULL series-so-far (reference models.py:158
        # sum(self.total_series) == 0), not the trailing window
        if t + 1 < REF_LEN or sum(counts[: t + 1]) == 0:
            etas.append(0.0)
            continue
        test = _transform_test(hist)[-SER_LEN:]
        tw = nw = 0.0
        for is_trend, ref in library:
            best = float("inf")
            for i in range(len(ref) - SER_LEN + 1):
                d = _dist(ref[i : i + SER_LEN], test, distance)
                best = min(best, d)
            wgt = math.exp(-LAM * best) if best != float("inf") else 0.0
            if is_trend:
                tw += wgt
            else:
                nw += wgt
        etas.append(tw / (nw if nw != 0 else 0.001))
    return etas


@pytest.fixture(scope="module")
def fixture_data():
    counts = [1, 2, 1, 3, 2, 1, 2, 9, 15, 22, 30, 25, 18, 9, 4, 2, 1, 1, 2, 3]
    library = [
        (True, [0.1, 0.2, 0.5, 1.1, 2.0, 3.1, 2.4, 1.0, 0.4, 0.2]),
        (True, [0.0, 0.1, 0.3, 0.9, 1.8, 2.2, 1.5, 0.8]),
        (False, [0.5, 0.5, 0.6, 0.5, 0.4, 0.5, 0.6, 0.5, 0.5]),
        (False, [0.2, 0.25, 0.2, 0.3, 0.2, 0.25, 0.22, 0.2]),
        # shorter than series_length: no sub-window, weight 0
        (True, [0.9, 1.0, 0.8]),
    ]
    return counts, library


@pytest.mark.parametrize("distance", ["l1", "sq_l2"])
@pytest.mark.parametrize("impl", ["hof", "numpy"])
def test_wdt_matches_shadow(spark, fixture_data, distance, impl):
    from pyspark.sql import functions as F

    from gnip_trend_detection_spark.operators.models import weighted_data_templates

    counts, library = fixture_data
    rows = [
        ("c1", float(i * 3600), float(c)) for i, c in enumerate(counts)
    ]
    ser = spark.createDataFrame(rows, "counter string, e double, count double").select(
        "counter", F.timestamp_seconds("e").alias("bin_start"), "count"
    )
    lib = spark.createDataFrame(
        [(i, t, pts) for i, (t, pts) in enumerate(library)],
        "series_id long, is_trend boolean, points array<double>",
    )
    out = weighted_data_templates(
        ser,
        lib,
        series_length=SER_LEN,
        reference_length=REF_LEN,
        lam=LAM,
        distance=distance,
        baseline_offset=OFFSET,
        n_smooth=N_SMOOTH,
        sig_round=False,
        impl=impl,
    )
    got = {
        r["interval_start"].timestamp(): r["eta"]
        for r in out.collect()
    }
    expected = _eta_series(counts, library, distance)
    assert len(got) == len(expected)
    for i, exp in enumerate(expected):
        assert got[i * 3600.0] == pytest.approx(exp, rel=1e-9), f"point {i}"


@pytest.mark.parametrize("impl", ["hof", "numpy"])
def test_wdt_rejects_unknown_distance(spark, fixture_data, impl):
    """Only 'l1' and 'sq_l2' exist; any other name (the reference's
    'euclidean' included — the pipeline maps that one to 'l1') is a
    ValueError naming both, not a silent squared-L2."""
    from pyspark.sql import functions as F

    from gnip_trend_detection_spark.operators.models import weighted_data_templates

    _, library = fixture_data
    ser = spark.createDataFrame(
        [("c1", 0.0, 1.0)], "counter string, e double, count double"
    ).select("counter", F.timestamp_seconds("e").alias("bin_start"), "count")
    lib = spark.createDataFrame(
        [(i, t, pts) for i, (t, pts) in enumerate(library)],
        "series_id long, is_trend boolean, points array<double>",
    )
    with pytest.raises(ValueError, match="'l1', 'sq_l2'"):
        weighted_data_templates(ser, lib, distance="euclidean", impl=impl)


def test_stream_wdt_rejects_unknown_distance(spark, fixture_data):
    from gnip_trend_detection_spark.streaming.models import score_stream_wdt

    _, library = fixture_data
    stream = spark.createDataFrame(
        [("c1", 1.0)], "counter string, count double"
    )
    with pytest.raises(ValueError, match="'l1', 'sq_l2'"):
        score_stream_wdt(
            stream, library, SER_LEN, REF_LEN, distance="cosine"
        )


def test_library_groups_ship_matrices_not_window_views(fixture_data):
    """The numpy WDT closure pickles library_groups' output: dense
    per-length matrices only (a pickled sliding_window_view would be a
    series_length-fold copy); rows shorter than series_length drop."""
    import pickle

    from gnip_trend_detection_spark.operators.models.wdt import library_groups

    _, library = fixture_data
    groups = library_groups(library, SER_LEN)
    assert sorted(m.shape for m, _ in groups) == [(1, 9), (1, 10), (2, 8)]
    assert all(m.flags.owndata for m, _ in groups)
    rows = [(i % 2 == 0, [float(j) for j in range(100)]) for i in range(10)]
    raw_bytes = 10 * 100 * 8
    assert len(pickle.dumps(library_groups(rows, 20))) < 2 * raw_bytes


def test_wdt_warm_gate_full_series(spark, fixture_data):
    """A counter with nonzero history that then goes all-zero for
    >= reference_length bins must still be scored (the reference gates
    on sum of the FULL series, not the trailing window)."""
    from pyspark.sql import functions as F

    from gnip_trend_detection_spark.operators.models import weighted_data_templates

    _, library = fixture_data
    counts = [5.0] + [0.0] * 19  # trailing 12-window sum hits 0 from t=13
    rows = [("c1", float(i * 3600), c) for i, c in enumerate(counts)]
    ser = spark.createDataFrame(rows, "counter string, e double, count double").select(
        "counter", F.timestamp_seconds("e").alias("bin_start"), "count"
    )
    lib = spark.createDataFrame(
        [(i, t, pts) for i, (t, pts) in enumerate(library)],
        "series_id long, is_trend boolean, points array<double>",
    )
    out = weighted_data_templates(
        ser,
        lib,
        series_length=SER_LEN,
        reference_length=REF_LEN,
        lam=LAM,
        distance="l1",
        baseline_offset=OFFSET,
        n_smooth=N_SMOOTH,
        sig_round=False,
        impl="hof",
    )
    got = {r["interval_start"].timestamp(): r["eta"] for r in out.collect()}
    expected = _eta_series(counts, library, "l1")
    assert any(e != 0.0 for e in expected[REF_LEN:]), "case must exercise the gate"
    for i, exp in enumerate(expected):
        assert got[i * 3600.0] == pytest.approx(exp, rel=1e-9), f"point {i}"


def test_import_pickle_library(spark):
    from pyspark.sql import functions as F

    from gnip_trend_detection_spark.operators.library import import_pickle_library

    path = "/root/reference/example/library.pkl"
    if not os.path.exists(path):
        pytest.skip("reference library.pkl not present")
    lib = import_pickle_library(spark, path)
    counts = {
        r["is_trend"]: r["n"]
        for r in lib.groupBy("is_trend").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # measured in SURVEY §1 D7: 496 trends + 500 non-trends, length 150
    assert counts == {True: 496, False: 500}
    lens = lib.select(F.size("points").alias("l")).distinct().collect()
    assert {r["l"] for r in lens} == {150}


@pytest.mark.parametrize("impl", ["hof", "numpy"])
def test_wdt_check_for_self_excludes_library_member(spark, fixture_data, impl):
    """Reference models.py:200-204 (`check_for_self`): when the test
    series IS a library row (ROC-style evaluation over library
    members), that row's weight is zeroed so a series never votes for
    itself. We plant the engine's own transformed test series at the
    last point as an extra TREND library row: without the knob its
    sub-window distance is exactly 0 (weight 1); with the knob its
    weight is 0, so eta falls back to the base-library value."""
    import math

    from pyspark.sql import functions as F

    from gnip_trend_detection_spark.operators import transforms
    from gnip_trend_detection_spark.operators.models import weighted_data_templates

    counts, library = fixture_data

    # 1. reproduce the engine's transformed test series at the LAST
    #    point via the same chain WDT applies internally
    hist = [float(c) for c in counts[-REF_LEN:]]
    hdf = spark.createDataFrame([(hist,)], "hist array<double>")
    hdf = transforms.apply_chain(
        hdf, "hist", "transformed", transforms.test_stages(REF_LEN, OFFSET, N_SMOOTH)
    )
    tv = hdf.select(
        transforms.sizing(F.col("transformed"), SER_LEN).alias("t")
    ).collect()[0]["t"]
    assert len(tv) == SER_LEN

    lib_rows = [(i, t, pts) for i, (t, pts) in enumerate(library)]
    lib_rows.append((len(lib_rows), True, list(tv)))  # the "self" row
    lib = spark.createDataFrame(
        lib_rows, "series_id long, is_trend boolean, points array<double>"
    )
    ser = spark.createDataFrame(
        [("c1", float(i * 3600), float(c)) for i, c in enumerate(counts)],
        "counter string, e double, count double",
    ).select("counter", F.timestamp_seconds("e").alias("bin_start"), "count")

    kw = dict(
        series_length=SER_LEN,
        reference_length=REF_LEN,
        lam=LAM,
        distance="l1",
        baseline_offset=OFFSET,
        n_smooth=N_SMOOTH,
        sig_round=False,
        impl=impl,
    )
    last = (len(counts) - 1) * 3600.0
    eta_with_self = {
        r["interval_start"].timestamp(): r["eta"]
        for r in weighted_data_templates(ser, lib, **kw).collect()
    }[last]
    eta_excluded = {
        r["interval_start"].timestamp(): r["eta"]
        for r in weighted_data_templates(
            ser, lib, check_for_self=True, **kw
        ).collect()
    }[last]

    # shadow eta at the last point over the BASE library (= what the
    # reference computes when the self row is weight-zeroed)
    base = _eta_series(counts, library, "l1")[-1]
    assert eta_excluded == pytest.approx(base, rel=1e-9)
    # without the knob the planted row contributes weight exp(0) = 1
    # to the trend side; recover tw/nw from the shadow to predict it
    tw = nw = 0.0
    test = _transform_test([float(c) for c in counts[-REF_LEN:]])[-SER_LEN:]
    for is_trend, ref in library:
        best = float("inf")
        for i in range(len(ref) - SER_LEN + 1):
            best = min(best, _dist(ref[i : i + SER_LEN], test, "l1"))
        w = math.exp(-LAM * best) if best != float("inf") else 0.0
        tw, nw = (tw + w, nw) if is_trend else (tw, nw + w)
    assert eta_with_self == pytest.approx((tw + 1.0) / (nw or 0.001), rel=1e-9)
    assert eta_with_self > eta_excluded
