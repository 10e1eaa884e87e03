"""Named engine queries: name → (spark, sf_dir) → DataFrame.

One entry per implemented operator from SURVEY.md §2 plus the
training-data-pipeline extensions. Each has a matching DuckDB oracle
in oracles.py (same math, same rounding, same column names/aliases) —
see oracles.py for the float-parity rules.

Interval widths for derived fixtures are chosen dyadic-friendly
(60/80/120/3600/14400 s) so rebin weights are exactly representable
and aggregation order cannot change results.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gnip_trend_detection_spark.extras import (
    classifier,
    decontam,
    dedup,
    multimodal,
    sample,
    shards,
    similarity,
    text,
)
from gnip_trend_detection_spark.functions.core import materialize_col
from gnip_trend_detection_spark.operators import transforms
from gnip_trend_detection_spark.operators.correlate import (
    pair_correlations,
    pair_correlations_dense,
)
from gnip_trend_detection_spark.operators.detect import detect_threshold, detect_topk
from gnip_trend_detection_spark.operators.models import (
    linear_regression_model,
    mann_kendall,
    poisson_cycle,
    poisson_lc,
    weighted_data_templates,
)
from gnip_trend_detection_spark.operators.rebin import rebin
from gnip_trend_detection_spark.sources.tables import counts_from_events, load_table

QueryFn = Callable[[SparkSession, str], DataFrame]


def _epoch_long(col):
    return col.cast("double").cast("long")


def _events_series(spark: SparkSession, sf_dir: str, interval_sec: int) -> DataFrame:
    """events → (counter, bin_ts long, count double) — matches
    oracles.events_series."""
    ev = load_table(spark, sf_dir, "events")
    bucket = (F.floor(ev["ts"].cast("double") / interval_sec) * interval_sec).cast(
        "long"
    )
    return ev.groupBy(
        ev["event_type"].alias("counter"), bucket.alias("bin_ts")
    ).agg(F.count(F.lit(1)).cast("double").alias("count"))


def _series_ts(spark: SparkSession, sf_dir: str, interval_sec: int) -> DataFrame:
    """Same series with a timestamp column for window models."""
    ser = _events_series(spark, sf_dir, interval_sec)
    return ser.select(
        "counter", F.timestamp_seconds("bin_ts").alias("bin_start"), "count"
    )


def _rebinned_2min(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = counts_from_events(spark, sf_dir, 60)
    return rebin(counts, binning_unit="minutes", n_binning_unit=2)


def _poisson_output(df: DataFrame) -> DataFrame:
    return df.select(
        "counter",
        _epoch_long(F.col("interval_start")).alias("bin_ts"),
        "count",
        "eta",
    )


# --------------------------------------------------------------- rebin


def q_rebin_contained(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _rebinned_2min(spark, sf_dir)
    return out.select(
        "counter", _epoch_long(F.col("bin_start")).alias("bin_ts"), "duration_sec", "count"
    )


def q_rebin_straddle(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = counts_from_events(spark, sf_dir, 80)
    out = rebin(counts, binning_unit="minutes", n_binning_unit=1)
    return out.select(
        "counter", _epoch_long(F.col("bin_start")).alias("bin_ts"), "duration_sec", "count"
    )


def q_rebin_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = counts_from_events(spark, sf_dir, 80)
    s = F.col("interval_start").cast("double")
    e = s + F.col("duration_sec")
    data = counts.select("counter", s.alias("s"), e.alias("e"))
    anchor = F.floor(F.min("s") / 60) * 60
    grid_stop = F.floor(F.max("e") / 60) * 60
    return data.groupBy("counter").agg(
        F.floor(F.min("s")).cast("long").alias("min_start"),
        F.floor(F.max("e")).cast("long").alias("max_stop"),
        anchor.cast("long").alias("anchor"),
        (F.floor((grid_stop - anchor) / 60.0) + 1).cast("long").alias("n_bins"),
    )


def q_rebin_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 time-range predicate (whole interval must fit) + F4 counter
    whitelist, applied before rebin — both push down to the scan."""
    counts = counts_from_events(spark, sf_dir, 80).filter(
        F.col("counter").isin("click", "view", "error")
    )
    out = rebin(
        counts,
        binning_unit="minutes",
        n_binning_unit=2,
        start_time="2024-01-08 00:00:00",
        stop_time="2024-01-22 00:00:00",
    )
    return out.select(
        "counter", _epoch_long(F.col("bin_start")).alias("bin_ts"), "duration_sec", "count"
    )


def q_plot_rebin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R11 plot-time re-rebin: every 3 consecutive scored rows →
    sum(count), avg(eta), last timestamp (reference analysis.py:243-268)."""
    rebinned = _rebinned_2min(spark, sf_dir)
    from gnip_trend_detection_spark.operators.models import poisson_lc

    scored = poisson_lc(rebinned, alpha=0.99)
    w = Window.partitionBy("counter").orderBy("interval_start")
    grouped = scored.withColumn(
        "grp", F.floor((F.row_number().over(w) - 1) / 3)
    ).groupBy("counter", "grp")
    return grouped.agg(
        F.sum("count").alias("count"),
        F.round(F.avg("eta"), 6).alias("eta"),
        _epoch_long(F.max("interval_start")).alias("bin_ts"),
    ).select("counter", "bin_ts", "count", "eta")


# --------------------------------------------------------------- models


def q_poisson_lc_eta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _poisson_output(poisson_lc(_rebinned_2min(spark, sf_dir), alpha=0.99))


def q_stream_poisson_lc_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming poisson_lc (applyInPandasWithState, SURVEY §2.9)
    replayed over 3 contiguous-time micro-batches and drained to a
    memory sink (streaming/replay.py). The stateful fold crossing
    micro-batch boundaries must reproduce the batch operator
    BIT-FOR-BIT, so this query declares poisson_lc_eta's DuckDB
    oracle verbatim — the first oracle-checked streaming path (the
    other stream/batch twins are pinned by tests/test_streaming.py)."""
    from gnip_trend_detection_spark.streaming import score_stream_poisson_lc
    from gnip_trend_detection_spark.streaming.replay import replay_scored

    ser = _rebinned_2min(spark, sf_dir).select(
        "counter",
        F.col("bin_start").alias("interval_start"),
        F.col("count").cast("double").alias("count"),
    )
    out = replay_scored(spark, ser, lambda s: score_stream_poisson_lc(s, alpha=0.99))
    return _poisson_output(out)


def q_detect_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = poisson_lc(_rebinned_2min(spark, sf_dir), alpha=0.99)
    return _poisson_output(detect_threshold(scored, theta=1.0))


def q_detect_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _poisson_output(poisson_lc(_rebinned_2min(spark, sf_dir), alpha=0.99))
    return scored.orderBy(F.desc("eta"), F.asc("counter"), F.asc("bin_ts")).limit(1)


def q_poisson_cycle_nu(spark: SparkSession, sf_dir: str) -> DataFrame:
    ser = _series_ts(spark, sf_dir, 60)
    out = poisson_cycle(ser, period_list="hour", include_nu=True)
    return out.select(
        "counter", _epoch_long(F.col("interval_start")).alias("bin_ts"), "count", "nu"
    )


def q_poisson_cycle_eta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full M2: cycle-corrected Poisson eta with the floor-quantized
    CI lookup (oracle-checkable scipy quantiles)."""
    ser = _series_ts(spark, sf_dir, 60)
    out = poisson_cycle(ser, period_list="hour", alpha=0.99, ci_nu_floor=True)
    return _poisson_output(out)


def q_poisson_cycle_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 with the engine-extension day-of-week period key (the paper's
    'weekly cycle' correction, §3.2, which the reference code cannot
    express — see poisson._PERIOD_FUNCS)."""
    ser = _series_ts(spark, sf_dir, 3600)
    out = poisson_cycle(ser, period_list="dayofweek", alpha=0.99, ci_nu_floor=True)
    return _poisson_output(out)


def q_linreg_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    ser = _series_ts(spark, sf_dir, 60)
    out = linear_regression_model(
        ser,
        min_points=8,
        averaging_window_size=4,
        regression_window_size=24,
        sig_round=False,
    )
    return out.select(
        "counter",
        _epoch_long(F.col("interval_start")).alias("bin_ts"),
        "count",
        F.round("eta", 4).alias("eta"),
    )


def q_mann_kendall_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    ser = _series_ts(spark, sf_dir, 14400)
    out = mann_kendall(ser, window_size=20, sig_round=True)
    return _poisson_output(out)


def q_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MK with the reference mk_test's full labeling (mk_test.py:66-75):
    trend in {'increasing','decreasing','no trend'} gated on the
    UNROUNDED z at alpha=0.05 (|z| > 1.959963984540054...). The label
    is oracle-checkable because z is bit-deterministic (exact integer
    S / tie terms, one correctly-rounded sqrt + division); p_value is
    engine-only (DuckDB has no erfc) and pinned by
    tests/test_properties.py against a scalar shadow."""
    ser = _series_ts(spark, sf_dir, 14400)
    out = mann_kendall(ser, window_size=20, sig_round=True, with_p=True)
    return out.select(
        "counter",
        _epoch_long(F.col("interval_start")).alias("bin_ts"),
        "count",
        "eta",
        "trend",
    )


def q_stream_poisson_cycle_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming cycle-corrected Poisson (per-period-key running-mean
    state) replayed over 3 micro-batches with the batch query's
    ci_nu_floor CI — bit-identical to q_poisson_cycle_eta, so it
    declares that oracle verbatim."""
    from gnip_trend_detection_spark.streaming import score_stream_poisson_cycle
    from gnip_trend_detection_spark.streaming.replay import replay_scored

    ser = _series_ts(spark, sf_dir, 60).select(
        "counter",
        F.col("bin_start").alias("interval_start"),
        F.col("count").cast("double").alias("count"),
    )
    out = replay_scored(
        spark,
        ser,
        lambda s: score_stream_poisson_cycle(
            s, period_list="hour", alpha=0.99, ci_nu_floor=True
        ),
    )
    return _poisson_output(out)


def q_stream_mann_kendall_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Mann-Kendall (trailing-window buffer state) replayed
    over 3 micro-batches — bit-identical to the batch kernel, so it
    declares mann_kendall_z's oracle verbatim (see
    q_stream_poisson_lc_replay for the harness contract)."""
    from gnip_trend_detection_spark.streaming import score_stream_mann_kendall
    from gnip_trend_detection_spark.streaming.replay import replay_scored

    ser = _series_ts(spark, sf_dir, 14400).select(
        "counter",
        F.col("bin_start").alias("interval_start"),
        F.col("count").cast("double").alias("count"),
    )
    out = replay_scored(
        spark, ser, lambda s: score_stream_mann_kendall(s, window_size=20)
    )
    return _poisson_output(out)


def q_detector_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consensus trending points: MK z + Theil–Sen slope + burst ratio
    fused into ONE per-counter kernel pass, blended as integer global
    rank sums (operators/models/ensemble.py — tie-proofing and the
    100 TB rank note live there)."""
    from gnip_trend_detection_spark.operators.models.ensemble import trend_ensemble

    ser = _series_ts(spark, sf_dir, 14400)
    out = trend_ensemble(ser, window_size=20, top_n=50)
    return out.select(
        "counter",
        _epoch_long(F.col("interval_start")).alias("bin_ts"),
        "rank_sum",
        "rk",
    )


def q_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust slope over the same trailing-20 4-h series as
    Mann-Kendall — the effect-size partner to MK's significance z
    (operators/models/theil_sen.py; tie-proof by the rational-slope
    argument in its docstring)."""
    from gnip_trend_detection_spark.operators.models.theil_sen import theil_sen

    ser = _series_ts(spark, sf_dir, 14400)
    out = theil_sen(ser, window_size=20)
    return out.select(
        "counter",
        _epoch_long(F.col("interval_start")).alias("bin_ts"),
        "count",
        "slope",
    )


def _wdt_library(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic small library from the embeddings fixture:
    series_id = vec_id < 64, is_trend = even id, points = first 24
    dims as double. Broadcast-sized by construction (SURVEY J2)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") < 64).select(
        F.col("vec_id").alias("series_id"),
        (F.col("vec_id") % 2 == 0).alias("is_trend"),
        F.slice(F.col("embedding").cast("array<double>"), 1, 24).alias("points"),
    )


def q_wdt_eta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5/M6 WeightedDataTemplates over hourly event series vs the
    embeddings-derived library (L1 distance, lambda=0.5)."""
    ser = _series_ts(spark, sf_dir, 3600)
    lib = _wdt_library(spark, sf_dir)
    out = weighted_data_templates(
        ser,
        lib,
        series_length=6,
        reference_length=12,
        lam=0.5,
        distance="l1",
        baseline_offset=3,
        n_smooth=3,
        sig_round=False,
        impl="numpy",
    )
    return out.select(
        "counter",
        _epoch_long(F.col("interval_start")).alias("bin_ts"),
        "count",
        F.round("eta", 4).alias("eta"),
    )


def q_correlation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ser = _series_ts(spark, sf_dir, 3600)
    return pair_correlations(ser, round_digits=4)


def q_correlation_pairs_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/A5 scale twin: dense zero-filled grid, r via the blocked
    BLAS kernel — no bins-keyed C^2 self-join."""
    ser = _series_ts(spark, sf_dir, 3600)
    return pair_correlations_dense(ser, round_digits=4)


_EVAL_THETAS = [0.25, 0.5, 0.75, 1.0, 1.5, 2.0]


def _holdout_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared evaluation fixture (trends.tex:489-516): split the
    labeled library 50/50 (series_id % 4), feed the held-out members
    back through WDT scoring against the remaining reference rows;
    → (counter, interval_start, count, eta, is_trend)."""
    from gnip_trend_detection_spark.operators import evaluate

    lib = _wdt_library(spark, sf_dir)
    ref = lib.filter(F.col("series_id") % 4 >= 2)
    hold = lib.filter(F.col("series_id") % 4 < 2)
    ser = evaluate.holdout_series(hold)
    scored = weighted_data_templates(
        ser.select("counter", "bin_start", "count"),
        ref,
        series_length=6,
        reference_length=12,
        lam=0.5,
        distance="l1",
        baseline_offset=3,
        n_smooth=3,
        sig_round=False,
        impl="hof",
    ).withColumn("eta", F.round("eta", 4))
    labels = ser.select("counter", "is_trend").distinct()
    return scored.join(labels, "counter")


def q_roc_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC holdout evaluation: sweep θ over per-series max η →
    (theta, tpr, fpr, n_pos, n_neg)."""
    from gnip_trend_detection_spark.operators import evaluate

    return evaluate.roc_points(_holdout_scored(spark, sf_dir), thetas=_EVAL_THETAS)


def q_precision_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 per θ over the same holdout
    (trends.tex:105-123 frames these as the practical metrics)."""
    from gnip_trend_detection_spark.operators import evaluate

    return evaluate.precision_recall(
        _holdout_scored(spark, sf_dir), thetas=_EVAL_THETAS
    )


def q_detection_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-detection at θ=1.0 over the lc-scored event series:
    latency from each counter's first bin to its first η ≥ θ bin
    (null when never detected)."""
    from gnip_trend_detection_spark.operators import evaluate

    scored = poisson_lc(_rebinned_2min(spark, sf_dir), alpha=0.99)
    onsets = scored.groupBy("counter").agg(
        F.min("interval_start").alias("onset_ts")
    )
    out = evaluate.time_to_detection(scored, onsets, theta=1.0)
    return out.select(
        "counter",
        _epoch_long(F.col("onset_ts")).alias("onset_ts"),
        _epoch_long(F.col("first_detection_ts")).alias("first_detection_ts"),
        "latency_sec",
    )


# ----------------------------------------------------- transforms (T1-T10)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id", similarity.as_double(F.col("embedding")).alias("a")
    )


def _round_arr(col, digits: int = 6):
    return F.transform(col, lambda x: F.round(x, digits))


def _explode_arr(df: DataFrame, id_cols: list[str], arr_col: str) -> DataFrame:
    """Serialize an array column for the oracle comparator: one scalar
    row per element as (id..., idx long, val). The driver's pandas
    canonicalizer cannot hash list cells, so array-valued results must
    leave the query boundary exploded (DuckDB twin: zipped unnest).

    posexplode_outer, NOT posexplode: for a plain generate, Catalyst's
    InferFiltersFromGenerate synthesizes `size(arr) > 0 AND isnotnull`
    and pushes it below every projection, INLINING the whole upstream
    expression tree into a scan-level filter that re-evaluates it
    several times per row — measured 2.5s → 255s on
    transform_chain_test at sf0.1. The outer generate infers no filter;
    the isnotnull(idx) post-filter restores inner semantics (drops the
    null row an empty/null array would emit) and cannot be pushed below
    the Generate because idx is generated."""
    out = df.select(*id_cols, F.posexplode_outer(arr_col).alias("idx", "val"))
    return out.filter(F.col("idx").isNotNull()).withColumn(
        "idx", F.col("idx").cast("long")
    )


def q_transform_add_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    out = e.select("vec_id", _round_arr(transforms.add_one(F.col("a"))).alias("arr"))
    return _explode_arr(out, ["vec_id"], "arr")


def q_transform_unit_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    out = e.select(
        "vec_id",
        _round_arr(transforms.unit_normalization(F.col("a"), 32, 8)).alias("arr"),
    )
    return _explode_arr(out, ["vec_id"], "arr")


def q_transform_log_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    out = e.select(
        "vec_id", _round_arr(transforms.logarithmic_scaling(F.col("a"))).alias("arr")
    )
    return _explode_arr(out, ["vec_id"], "arr")


def q_transform_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    out = e.select(
        "vec_id", _round_arr(transforms.smoothing(F.col("a"), 5)).alias("arr")
    )
    return _explode_arr(out, ["vec_id"], "arr")


def q_transform_spike_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    out = e.select(
        "vec_id",
        _round_arr(transforms.spike_normalization(F.col("a"), 1.2)).alias("arr"),
    )
    return _explode_arr(out, ["vec_id"], "arr")


def q_transform_sizing(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    out = e.select(
        "vec_id", _round_arr(transforms.sizing(F.col("a"), 40)).alias("arr")
    )
    return _explode_arr(out, ["vec_id"], "arr")


def q_transform_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    wins = transforms.sliding_subseries(F.col("a"), 60)
    out = e.select(
        "vec_id",
        F.transform(wins, lambda w: _round_arr(w)).alias("windows"),
    )
    # nested array<array<double>> → (vec_id, widx, idx, val) scalars
    # (outer generate + notnull for the same InferFiltersFromGenerate
    # reason documented in _explode_arr)
    outer = (
        out.select("vec_id", F.posexplode_outer("windows").alias("widx", "w"))
        .filter(F.col("widx").isNotNull())
        .withColumn("widx", F.col("widx").cast("long"))
    )
    return _explode_arr(outer, ["vec_id", "widx"], "w")


def q_transform_index_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 index_smoothing (dead reference variant, kept for parity):
    mean over [max(0,i-n), i) — excludes current, drops element 0."""
    emb = load_table(spark, sf_dir, "embeddings")
    arr = F.transform("embedding", lambda x: x.cast("double"))
    out = transforms.index_smoothing(arr, 4)
    res = emb.select(
        "vec_id", F.transform(out, lambda x: F.round(x, 6)).alias("arr")
    )
    return _explode_arr(res, ["vec_id"], "arr")


def q_transform_chain_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T9 test chain via the vectorized numpy kernel (bit-compatible
    with the HOF apply_chain twin — asserted in tests). The trailing
    `+ 0.0` normalizes a possible round-to--0.0 to +0.0 exactly like
    the DuckDB oracle's `ROUND(...) + 0.0` (the r02 hash mismatches
    were Spark +0.0 vs DuckDB -0.0, not FP ties)."""
    e = _emb(spark, sf_dir)
    out = transforms.chain_numpy(
        e, "vec_id", "a", "arr", reference_length=32, baseline_offset=8, n_smooth=5
    )
    out = out.select(
        "vec_id", F.transform("arr", lambda x: F.round(x, 6) + 0.0).alias("arr")
    )
    return _explode_arr(out, ["vec_id"], "arr")


def q_transform_chain_reference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T9 full reference chain (library build path): test chain +
    trailing sizing to reference_length (library.py:42-47)."""
    e = _emb(spark, sf_dir)
    out = transforms.chain_numpy(
        e,
        "vec_id",
        "a",
        "arr",
        reference_length=32,
        baseline_offset=8,
        n_smooth=5,
        sizing_length=32,
    )
    out = out.select(
        "vec_id", F.transform("arr", lambda x: F.round(x, 6) + 0.0).alias("arr")
    )
    return _explode_arr(out, ["vec_id"], "arr")


def q_rebin_value_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebin over value-weighted interval sums (counts = sum(value)
    per interval) — the measure-column variant of the D1 adapter."""
    counts = counts_from_events(spark, sf_dir, 120, weight_by_value=True)
    out = rebin(counts, binning_unit="minutes", n_binning_unit=4, keep_float_counts=True)
    return out.select(
        "counter",
        _epoch_long(F.col("bin_start")).alias("bin_ts"),
        "duration_sec",
        F.round("count", 6).alias("count"),
    )


# ------------------------------------------------------- dedup / text


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    dupes = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return dedup.exact_duplicates(docs.unionByName(dupes))


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = dedup.minhash_signatures(_docs(spark, sf_dir)).select("doc_id", "sig")
    return _explode_arr(sigs, ["doc_id"], "sig")


def _lsh_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    truncated = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.array_join(F.slice(text.tokens(F.col("text")), 1, 40), " ").alias("text"),
    )
    return docs.unionByName(truncated)


def q_lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = dedup.minhash_signatures(_lsh_corpus(spark, sf_dir))
    return dedup.lsh_candidate_pairs(sigs, rows_per_band=2)


def q_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH parameter evaluation (dedup.lsh_eval): band recall and
    candidate precision of the MinHash-banded sweep against exact
    ground truth at Jaccard >= 1/2, over the same synthetic near-dup
    corpus the lsh_candidate_pairs query uses. Ground truth comes from
    the shared-shingle equi-join (no all-pairs), thresholds compare as
    integer cross-products (no float at the boundary)."""
    sigs = dedup.minhash_signatures(_lsh_corpus(spark, sf_dir))
    return dedup.lsh_eval(sigs, rows_per_band=2, t_num=1, t_den=2)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup: LSH pairs at Jaccard >= 0.5 → connected
    components → canonical representative per cluster (the row a
    pipeline would KEEP)."""
    sigs = dedup.minhash_signatures(_lsh_corpus(spark, sf_dir))
    pairs = dedup.lsh_candidate_pairs(sigs, rows_per_band=2).filter(
        F.col("jaccard") >= 0.5
    )
    return dedup.duplicate_clusters(pairs)


def q_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-based canonical selection over the LSH near-dup
    clusters (extras/dedup.py:canonical_by_quality): keep the LONGEST
    doc per cluster (doc_id tiebreak), one keep/drop row per corpus
    doc incl. singletons — the decision step after dedup_clusters."""
    corpus = _lsh_corpus(spark, sf_dir)
    sigs = dedup.minhash_signatures(corpus)
    pairs = dedup.lsh_candidate_pairs(sigs, rows_per_band=2).filter(
        F.col("jaccard") >= 0.5
    )
    clusters = dedup.duplicate_clusters(pairs)
    scored = corpus.select("doc_id", F.length("text").alias("quality"))
    return dedup.canonical_by_quality(scored, clusters)


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup leakage audit of a NAIVE doc-keyed split: LSH pairs at
    J >= 0.5 joined onto each side's split assignment, counted per
    unordered split-pair. Nonzero off-diagonal rows are exactly the
    train/test contamination a doc-keyed split allows and the
    source-keyed q_dataset_split prevents — the governance number a
    pipeline checks before trusting held-out metrics."""
    corpus = _lsh_corpus(spark, sf_dir)
    sigs = dedup.minhash_signatures(corpus)
    pairs = dedup.lsh_candidate_pairs(sigs, rows_per_band=2).filter(
        F.col("jaccard") >= 0.5
    )
    # the split is a PURE expression of the doc id (split_dataset is
    # withColumn of sample.split_expr), so both sides' assignments are
    # computed in place on the pair row instead of materializing the
    # assigned corpus and broadcast-joining it back twice — the r06
    # plan capture showed 2 extra corpus scans + 2 joins for what is
    # a hash of a column the pair already holds (guide §2.4). The
    # pairs are LSH candidates over the same corpus, so the inner
    # joins never dropped rows: values identical by construction,
    # oracle re-verified at sf0.001/0.01/0.1.
    weights = {"train": 0.75, "val": 0.125, "test": 0.125}
    j = pairs.select(
        sample.split_expr(weights, F.col("doc_a")).alias("sa"),
        sample.split_expr(weights, F.col("doc_b")).alias("sb"),
    )
    return (
        j.groupBy(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .select(
            "split_a",
            "split_b",
            "n_pairs",
            (F.col("split_a") != F.col("split_b")).alias("leaking"),
        )
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram Jaccard over fingerprint-bucket candidates; corpus
    includes truncated twins so buckets actually collide."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    truncated = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.substring(F.col("text"), 1, 200).alias("text"),
    )
    return dedup.ngram_jaccard_pairs(docs.unionByName(truncated))


def q_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated word-8-gram spans over the corpus
    with injected prefix twins (every 7th doc's first 200 chars), so
    real duplicated spans exist to detect."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    truncated = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.substring(F.col("text"), 1, 200).alias("text"),
    )
    return dedup.duplicated_spans(docs.unionByName(truncated), n=8)


def q_longest_dup_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest cross-document duplicated token run per doc (extras/
    dedup.py:longest_dup_span) over the same prefix-twin corpus as
    duplicated_spans — islands-and-gaps over duplicated positions."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    truncated = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.substring(F.col("text"), 1, 200).alias("text"),
    )
    return dedup.longest_dup_span(docs.unionByName(truncated), n=8)


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-trigram overlap/containment matrix across corpus sources."""
    return dedup.source_overlap(_docs(spark, sf_dir), n=3)


def q_simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash64(_docs(spark, sf_dir))


def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_stats(_docs(spark, sf_dir))


def q_text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.bpe_token_stats(_docs(spark, sf_dir))


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_score(_docs(spark, sf_dir))


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.lang_id(spark, _docs(spark, sf_dir))


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprint(_docs(spark, sf_dir))


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc bigram repetition fraction (Gopher-style filter)."""
    return text.repetition_stats(_docs(spark, sf_dir), n=2)


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smoothed sklearn-style idf)."""
    return text.tfidf_top_terms(_docs(spark, sf_dir), k=3)


def q_unigram_logppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc log-perplexity under the corpus unigram LM (the KenLM
    quality-filter stand-in)."""
    return text.unigram_logppl(_docs(spark, sf_dir))


def q_bigram_logppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc log-perplexity under the corpus add-one bigram LM —
    word order joins the quality signal (extras/text.py:bigram_logppl)."""
    return text.bigram_logppl(_docs(spark, sf_dir))


def q_kn_logppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc log-perplexity under an interpolated KNESER-NEY bigram
    LM (extras/text.py:kneser_ney_logppl, D=0.75) — the smoothing the
    KenLM curation filters actually use; discounted mass is re-spent
    on the continuation distribution instead of a uniform prior."""
    return text.kneser_ney_logppl(_docs(spark, sf_dir))


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprint selection over the corpus
    (extras/text.py:winnow_fingerprints, k=8, w=4) — the
    density-bounded span-match index."""
    return text.winnow_fingerprints(_docs(spark, sf_dir))


def q_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility (subword tokens per word,
    bytes per token) — the budget-planning table multilingual mixing
    needs (extras/text.py:fertility_by_lang)."""
    return text.fertility_by_lang(_docs(spark, sf_dir))


def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Zipf slope of the vocabulary rank-frequency curve
    (extras/text.py:zipf_slope) — the corpus-health diagnostic
    (natural text ~ -1; template floods bend it)."""
    return text.zipf_slope(_docs(spark, sf_dir))


def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-tokenization normalization (extras/text.py:normalize_text)
    over a corpus seeded with URLs (every 4th doc) and mixed-case /
    tab / multi-space noise (every 6th) so masking, collapsing, and
    the shrunk flag are actually exercised (pii_scrub's seeding
    discipline)."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    seeded = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.col("text"),
                F.lit(" see https://example.com/a_b-c.html now"),
            ),
        ).otherwise(F.col("text")),
    ).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 6 == 0,
            F.concat(F.col("text"), F.lit("   MIXED   Case\tTEXT  ")),
        ).otherwise(F.col("text")),
    )
    return text.normalize_text(seeded)


def q_source_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram Jensen-Shannon divergence from the corpus
    distribution (extras/text.py:source_js_divergence) — the lexical
    'which ingest stream drifted' audit."""
    return text.source_js_divergence(_docs(spark, sf_dir))


def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth over corpus deciles (extras/
    text.py:vocab_growth) — cumulative distinct decomposed into
    first-occurrence facts + exact-quantile thresholds."""
    return text.vocab_growth(_docs(spark, sf_dir))


def q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic over events.user_id (operators/
    skew.py:key_skew_report) — the measurement that decides whether
    salted_join/salted_agg is needed and with what n_salt."""
    from gnip_trend_detection_spark.operators.skew import key_skew_report

    return key_skew_report(load_table(spark, sf_dir, "events"), "user_id")


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc character-unigram Shannon entropy (bits/char) — the
    compressibility quality gate (extras/text.py:char_entropy)."""
    return text.char_entropy(_docs(spark, sf_dir))


def q_set_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-Jaccard >= 0.9 self-join via prefix filtering
    (extras/dedup.py:set_similarity_join) — the zero-false-negative
    rung above LSH. Runs on the deterministic doc_id%5==0 slice: the
    synthetic corpus is template-dense (at sf0.1 ~1M TRUE pairs >=0.9
    corpus-wide), and an exact join's output is workload-quadratic in
    true pairs by definition — the slice bounds the demo's output,
    not the operator."""
    from gnip_trend_detection_spark.extras.dedup import set_similarity_join

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") % 5 == 0)
    return set_similarity_join(docs, threshold=0.9)


def q_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document repeated-span removal + reassembly (extras/
    dedup.py:segment_dedup) — the C4 repeated-line discard adapted to
    whitespace corpora: non-overlapping 4-token segments, drop any
    segment occurring > 2 times corpus-wide, stitch survivors back in
    document order. The template-dense synthetic corpus removes ~12%
    of segments, so the pass is actually exercised."""
    from gnip_trend_detection_spark.extras.dedup import segment_dedup

    return segment_dedup(_docs(spark, sf_dir), k=4, max_occurrences=2)


def q_unimax_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax epoch-capped budget allocation across sources (extras/
    sample.py:unimax_budget): 100k-token budget, max 4 epochs per
    source — under the fixtures' ~600k+ total capacity at every SF,
    so the water-filling level genuinely engages (small sources cap,
    large ones split the remainder uniformly)."""
    from gnip_trend_detection_spark.extras.sample import unimax_budget

    return unimax_budget(
        _docs(spark, sf_dir), budget_tokens=100000.0, max_epochs=4.0
    )


def q_budget_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unimax_budget plan turned into an actual replication manifest
    (extras/sample.py:materialize_budget): floor(epochs) full copies
    per doc + a deterministic key-hash Bernoulli for the fraction —
    plan-to-dataset in one broadcast join over the scan."""
    from gnip_trend_detection_spark.extras.sample import (
        materialize_budget,
        unimax_budget,
    )

    docs = _docs(spark, sf_dir)
    alloc = unimax_budget(docs, budget_tokens=100000.0, max_epochs=4.0)
    return materialize_budget(docs, alloc)


def q_quality_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end exact-percentile curation gate: keep docs at or
    above the corpus p30 of quality_micro, with the threshold computed
    by the two-phase histogram (exact_quantiles), broadcast as one
    row, and applied in the same plan — the "trim the bottom 30% by
    quality" move with no single-partition sort and no approx-sketch
    tail distortion."""
    from gnip_trend_detection_spark.operators.quantile import exact_quantiles

    # The scored relation feeds BOTH the threshold histogram and the
    # gate filter; without a persist each side replays the quality
    # kernel over the corpus (2 scans in the r06 plan capture). It is
    # output-sized (two columns), so a lazy persist makes the single
    # action run the kernel once (guide §5.2).
    scores = text.quality_score(_docs(spark, sf_dir)).persist()
    thr = exact_quantiles(scores, "quality_micro", [0.3]).select(
        F.col("quantile_value").alias("__thr")
    )
    return (
        scores.crossJoin(F.broadcast(thr))
        .filter(F.col("quality_micro").cast("double") >= F.col("__thr"))
        .select("doc_id", "quality_micro")
    )


def q_dsir_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance scores with the English subset as the target
    domain: raw docs whose unigram distribution looks English score
    high (extras/text.py:dsir_logratio) — the resample-toward-target
    curation primitive."""
    docs = _docs(spark, sf_dir)
    return text.dsir_logratio(docs, target=F.col("lang") == "en")


def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus dashboard: doc/char volume, exact-dup rate
    (distinct content hashes vs docs), dominant language. One scan,
    two hash aggs, a tiny per-source window — the roll-up a curation
    run reports before and after filtering."""
    docs = _docs(spark, sf_dir)
    base = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct(F.md5(F.col("text").cast("binary"))).alias("distinct_texts"),
    )
    lang_counts = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("lang"))
    top_lang = (
        lang_counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    return base.join(top_lang, "source")


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over the corpus with synthetic PII injected (every
    3rd doc gains an email, every 5th a seeded phone) so counts and
    redactions are discriminating rather than all-zero."""
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    docs = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(" call 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return text.pii_scrub(docs)


def q_range_burst_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count events inside 10 synthetic half-open [s, s+1800) burst
    windows per event_type (spaced 3600s from each type's first
    event) via the bucketed range join — equi-join on (key, bucket),
    never a nested-loop inequality join."""
    from gnip_trend_detection_spark.operators.rangejoin import range_count_join

    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        F.col("event_type").alias("counter"),
        F.floor(F.col("ts").cast("double")).cast("long").alias("t"),
    )
    iv = (
        pts.groupBy("counter")
        .agg(F.min("t").alias("t0"))
        .select(
            "counter",
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.lit(9).cast("long"))
            ).alias("iv_id"),
            "t0",
        )
        .select(
            "counter",
            "iv_id",
            (F.col("t0") + F.col("iv_id") * 3600).alias("s"),
            (F.col("t0") + F.col("iv_id") * 3600 + 1800).alias("e"),
        )
    )
    return range_count_join(
        pts, iv, on=["counter"], point_time="t", start_col="s", end_col="e",
        bucket_width=1800,
    )


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outliers over the 60s count grid
    (operators/detect.py:detect_mad_outliers) — the distribution-free
    detector built on the grouped two-phase quantile histograms."""
    from gnip_trend_detection_spark.operators.detect import detect_mad_outliers

    counts = counts_from_events(spark, sf_dir, 60)
    out = detect_mad_outliers(counts, z_threshold=3.0)
    return out.select(
        "counter",
        F.col("interval_start").cast("double").cast("long").alias("t_epoch"),
        "count",
        "robust_z",
    )


def q_value_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB twin of value_quantiles: approx_percentile's
    t-digest is mergeable (map-side combine, one narrow shuffle, no
    per-group sort). Sketch values are not bit-reproducible across
    engines, so the hashable output is the sketch's ACCURACY CONTRACT
    instead: exact two-phase bracket quantiles at ranks +-5% around
    each sketch target (cross-engine-deterministic, hash-verified) and
    one boolean per target asserting the sketch landed inside its
    bracket — the oracle declares those booleans TRUE, so a sketch
    drifting out of its error bound goes driver-red instead of hiding
    behind a rows-only check. Rank slack (+-0.05) is 500x the sketch's
    1/accuracy rank-error bound."""
    from gnip_trend_detection_spark.operators.quantile import exact_quantiles_by

    ev = load_table(spark, sf_dir, "events")
    q = F.expr("approx_percentile(value, array(0.5, 0.9, 0.99), 10000)")
    sk = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        q[0].alias("_s50"),
        q[1].alias("_s90"),
        q[2].alias("_s99"),
    )
    brackets = [0.45, 0.55, 0.85, 0.95, 0.985, 0.995]
    br = exact_quantiles_by(ev, "value", brackets, by="event_type")

    def _at(frac: float):
        return F.max(
            F.when(F.col("q") == F.lit(frac), F.col("quantile_value"))
        )

    bw = br.groupBy("event_type").agg(
        _at(0.45).alias("p45"),
        _at(0.55).alias("p55"),
        _at(0.85).alias("p85"),
        _at(0.95).alias("p95"),
        _at(0.985).alias("p985"),
        _at(0.995).alias("p995"),
    )

    def _ok(sketch: str, lo: str, hi: str):
        eps = F.lit(1e-6)
        return (F.col(sketch) >= F.col(lo) - eps) & (
            F.col(sketch) <= F.col(hi) + eps
        )

    return sk.join(bw, "event_type").select(
        "event_type",
        "n",
        "p45",
        "p55",
        "p85",
        "p95",
        "p985",
        "p995",
        _ok("_s50", "p45", "p55").alias("p50_in_bounds"),
        _ok("_s90", "p85", "p95").alias("p90_in_bounds"),
        _ok("_s99", "p985", "p995").alias("p99_in_bounds"),
    )


def q_global_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL exact quantile_cont ladder over events.value via the
    two-phase histogram (operators/quantile.py:exact_quantiles) — the
    scale-safe exact answer q_value_quantiles' docstring punts on:
    percentile() over the whole relation collects every value into one
    aggregation buffer, and percentile_cont over Window.orderBy() is a
    single-partition sort; this plan's only data-sized shuffle is the
    distinct-value histogram groupBy."""
    from gnip_trend_detection_spark.operators.quantile import exact_quantiles

    ev = load_table(spark, sf_dir, "events")
    return exact_quantiles(
        ev, "value", [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0]
    )


def q_grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type exact quantile_cont ladder via the grouped
    two-phase histogram (operators/quantile.py:exact_quantiles_by) —
    the hot-group-safe exact answer: value_quantiles' percentile()
    buffers every group value in one aggregation buffer; this buffers
    nothing bigger than the distinct-value histogram row."""
    from gnip_trend_detection_spark.operators.quantile import exact_quantiles_by

    ev = load_table(spark, sf_dir, "events")
    return exact_quantiles_by(
        ev, "value", [0.1, 0.5, 0.9, 0.99], by="event_type"
    )


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width 20-bin histogram of event values per type, bin
    edges from the GLOBAL min/max (broadcast 1-row cross join, no
    collect). Two scans of the same relation — Catalyst/AQE reuse the
    exchange; the agg is one narrow shuffle on (type, bin)."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    bounds = ev.agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / 20.0
    bin_id = F.least(
        F.floor((F.col("value") - F.col("lo")) / width).cast("long"), F.lit(19)
    )
    return (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("event_type", bin_id.alias("bin_id"))
        .agg(F.count(F.lit(1)).alias("n"))
        .join(F.broadcast(bounds))
        .select(
            "event_type",
            "bin_id",
            F.round(F.col("lo") + F.col("bin_id") * width, 6).alias("bin_lo"),
            "n",
        )
    )


def q_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-type value quantiles (R-7 interpolation — Spark's
    percentile() and DuckDB's quantile_cont() share the definition).
    Exact quantiles sort each group; at 100 TB swap in
    approx_percentile (t-digest, mergeable map-side) — kept exact here
    because the oracle hash-compares values."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 6).alias("mean_value"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


def q_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enrich every event with the latest SPARSE 5-min rebinned count
    at or before it (only even-indexed bins are kept, so the as-of gap
    genuinely varies and early events match nothing → null)."""
    from gnip_trend_detection_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    epoch = F.floor(F.col("ts").cast("double")).cast("long")
    left = ev.select(
        F.col("event_type").alias("counter"),
        epoch.alias("ts_epoch"),
        "event_id",
    )
    bins = (
        ev.groupBy(
            F.col("event_type").alias("counter"),
            (F.floor(epoch / 300) * 300).cast("long").alias("bin_ts"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("bin_count"))
        .filter((F.col("bin_ts") / 300 % 2) == 0)
    )
    out = asof_join(
        left,
        bins,
        on=["counter"],
        left_time="ts_epoch",
        right_time="bin_ts",
        value_cols=["bin_count"],
    )
    return out.select("event_id", "counter", "ts_epoch", "asof_time", "bin_count")


def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLAP time-hierarchy rollup: (event_type, day, hour) →
    (event_type, day) → (event_type) → grand total, one pass via
    Spark's ROLLUP (partial aggregation reused across levels). Day and
    hour are epoch integer arithmetic — session-tz independent."""
    ev = load_table(spark, sf_dir, "events")
    epoch = F.floor(F.col("ts").cast("double"))
    base = ev.select(
        "event_type",
        F.floor(epoch / 86400).cast("long").alias("day"),
        F.floor(epoch / 3600).cast("long").alias("hour"),
        "value",
    )
    return (
        base.rollup("event_type", "day", "hour")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("<all>")).alias("event_type"),
            F.coalesce(F.col("day"), F.lit(-1)).alias("day"),
            F.coalesce(F.col("hour"), F.lit(-1)).alias("hour"),
            "n_events",
            "sum_value",
        )
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: every 20th document plays the held-
    out benchmark; the rest are the training corpus. 4-gram collision
    (the published 8-13-gram recipes scaled to fixture-length docs —
    measured 49/475 contaminated at sf0.01, a discriminating split)."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    return decontam.decontaminate(corpus, bench, n=4)


def q_benchmark_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reverse decontamination (extras/decontam.py:benchmark_leakage):
    per benchmark item (every 20th doc), the fraction of its 4-grams
    already present in the training corpus — which eval rows are
    burned. Same split convention as q_decontaminate so the two
    reports reconcile."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    return decontam.benchmark_leakage(corpus, bench, n=4)


def q_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (MinHash-banded) benchmark decontamination (extras/
    decontam.py:decontaminate_fuzzy): every 20th doc plays the
    benchmark; the corpus is the rest PLUS 40-token truncations of the
    benchmark docs — planted paraphrase-leaks exact n-gram collision
    can miss but near-dup matching at J >= 0.5 must flag."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    leaked = bench.select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.array_join(F.slice(text.tokens(F.col("text")), 1, 40), " ").alias(
            "text"
        ),
    )
    corpus = docs.filter(F.col("doc_id") % 20 != 0).unionByName(leaked)
    return decontam.decontaminate_fuzzy(corpus, bench, threshold=0.5)


BM25_QUERY_TERMS = ["hash", "join", "stream", "vector", "zzzunseen"]


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 scoring of the corpus against a fixed query-term set
    (text.bm25_scores) — lexical retrieval before semantic rerank. One
    corpus scan, row-local tf via array HOFs, broadcast 1-row /
    |terms|-row stats, zero corpus-side shuffle. The term list
    includes one token absent from the corpus (df = 0 path)."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return text.bm25_scores(docs, BM25_QUERY_TERMS)


def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same split and same EXACT output as q_decontaminate, through
    the Bloom-prefilter scale path (decontam.decontaminate_bloom):
    corpus grams probe a broadcast 128 KB bit sketch before the exact
    join, which only sees the might-contain sliver. Bloom filters have
    no false negatives, so the oracle is the decontaminate SQL
    verbatim — a green row proves the sketch path loses nothing."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    return decontam.decontaminate_bloom(corpus, bench, n=4)


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dataset mixing: per-language keep fractions via
    key-hash draws — same rows survive under ANY partitioning (plain
    df.sample is partition-seeded and not reproducible at scale)."""
    docs = _docs(spark, sf_dir).select("doc_id", "lang", "source")
    out = sample.stratified_sample(
        docs,
        "lang",
        {"en": 1.0, "de": 0.5, "es": 0.25},
        default_fraction=0.1,
    )
    return out.select("doc_id", "lang", "source")


def q_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing: whitespace token counts → 4
    hash-assigned lanes → per-lane running sum → shard_idx. The
    write-side step of a pretraining data build, lane-parallel so no
    global cumsum serializes the corpus."""
    stats = text.token_stats(_docs(spark, sf_dir)).select("doc_id", "n_tokens")
    packed = shards.pack_shards(stats, "n_tokens", token_budget=2000, n_lanes=4)
    return packed.select("doc_id", "lane", "shard_idx", "n_tokens")


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length chunking: 64-token windows, 16-token overlap —
    the sequence-fitting pass of a pretraining / RAG build. Bounded
    posexplode, output-proportional rows, zero shuffles."""
    return text.chunk_documents(
        _docs(spark, sf_dir), max_tokens=64, overlap=16
    )


def q_mix_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source mixing to target weight ratios (50/30/20 over three
    sources, weighted by chars): the per-stratum keep fraction is
    derived relationally from one tiny agg (no driver collect) and
    applied as a key-hash filter, so the kept set is reproducible
    under any partitioning."""
    docs = _docs(spark, sf_dir).select("doc_id", "source", "n_chars")
    out = sample.mix_to_ratios(
        docs,
        "source",
        {"src0": 0.5, "src1": 0.3, "src2": 0.2},
        weight_col="n_chars",
    )
    return out.select("doc_id", "source", F.col("n_chars").cast("long").alias("n_chars"))


def q_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer induction: 10 BPE merges learned from the corpus.
    The corpus is scanned ONCE (word counts); each round runs on the
    vocab-sized relation with a 1-row argmax collect. Iterative —
    rows-only driver check; determinism pinned in pytest."""
    from gnip_trend_detection_spark.extras.bpe import bpe_merge_table

    return bpe_merge_table(_docs(spark, sf_dir), n_merges=10)


def q_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform deterministic 15-doc sample per language — rank by key
    hash inside each group; the rn <= k filter rides Spark's
    WindowGroupLimit pushdown so no full group ever sorts."""
    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    return sample.sample_per_group(docs, "lang", k=15)


def q_heavy_hitter_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Terms with exact count > 1% of all token occurrences, found via
    per-partition Misra-Gries candidates + exact recount of the
    candidate sliver — never a full-vocabulary shuffle. The sketch can
    only widen the candidate set, so the output is deterministic and
    oracle-checkable against a plain GROUP BY ... HAVING twin."""
    from gnip_trend_detection_spark.extras.sketch import heavy_hitters

    toks = (
        _docs(spark, sf_dir)
        .select(F.explode(text.tokens(F.col("text"))).alias("tok"))
    )
    return heavy_hitters(toks, "tok", k=100)


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization fit + encode (extras/pq.py:pq_fit_encode;
    m=4 x k=16, 1 Lloyd round, seeded md5 init): every vector's 4
    subspace codes and total squared reconstruction error — the
    codebook-compression path that makes a 100 TB embedding corpus
    ADC-scannable. Parity-pinned end-to-end like embedding_kmeans."""
    from gnip_trend_detection_spark.extras.pq import pq_fit_encode

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_fit_encode(emb, m=4, k=16, n_iter=1, seed=11)


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted per-source sampling (extras/sample.py:
    weighted_sample_per_group, Efraimidis-Spirakis priorities from
    the deterministic md5 draw): 20 docs per source, selection
    probability proportional to n_chars — the token-weighted
    inspection/eval sample a curation pipeline pulls."""
    from gnip_trend_detection_spark.extras.sample import (
        weighted_sample_per_group,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "source", "n_chars")
    return weighted_sample_per_group(
        docs, group_col="source", k=20, weight_col="n_chars"
    )


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata re-identifiability audit (extras/privacy.py:
    k_anonymity_report, k=5): per source, how many (lang,
    length-bucket) equivalence classes exist, how many hold fewer
    than k documents, how many documents sit in those risky classes,
    and the corpus's effective anonymity level (min class size).
    Two hash aggregates, all-integer output."""
    from gnip_trend_detection_spark.extras.privacy import k_anonymity_report

    docs = _docs(spark, sf_dir)
    len_bucket = (F.floor(F.length("text") / 100)).cast("long").alias(
        "len_bucket"
    )
    return k_anonymity_report(
        docs.select("source", "lang", len_bucket),
        quasi_identifiers=["lang", "len_bucket"],
        group_by="source",
        k=5,
    )


def q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch twin of heavy_hitter_terms: exact (item, cnt)
    as hash content + the CMS one-sided error contract as booleans the
    oracle pins TRUE (extras/sketch.py:cms_heavy_hitters_contract).
    The sketch estimate is deterministic (fixed seed, order-invariant
    counter merge), so the booleans are stable, not flaky."""
    from gnip_trend_detection_spark.extras.sketch import (
        cms_heavy_hitters_contract,
    )
    from gnip_trend_detection_spark.functions.parallel import (
        ensure_map_parallelism,
    )

    toks = ensure_map_parallelism(
        _docs(spark, sf_dir).select(F.col("text"))
    ).select(F.explode(text.tokens(F.col("text"))).alias("tok"))
    return cms_heavy_hitters_contract(toks, "tok", k=100)


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split keyed on SOURCE (all docs of
    a domain land together, so near-dups can't straddle train/test).
    Dyadic weights (.75/.125/.125) keep the cumulative thresholds
    exactly representable — cross-engine literal parity. Zero-shuffle
    case expression."""
    docs = _docs(spark, sf_dir).select("doc_id", "source")
    return sample.split_dataset(
        docs,
        {"train": 0.75, "val": 0.125, "test": 0.125},
        key_col="source",
    )


def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d x d covariance of the embedding column via per-batch Gramian
    partials (one BLAS matmul per Arrow batch) + one tiny hash agg —
    the aggregation step of distributed PCA, corpus read once."""
    from gnip_trend_detection_spark.extras import pca

    embs = load_table(spark, sf_dir, "embeddings")
    return pca.covariance(embs)


def q_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-4 PCA projection: eigh on the driver-collected d^2
    covariance (bounded by dimension, not data), then a broadcast
    matmul per batch. Eigendecomposition is not SQL-expressible —
    rows-only driver check; invariants pinned in pytest."""
    from gnip_trend_detection_spark.extras import pca

    embs = load_table(spark, sf_dir, "embeddings")
    mean, comps, _ = pca.pca_components(embs, k=4)
    return pca.pca_project(embs, mean, comps)


def q_pca_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable spectral contract for the PCA operator
    (embedding_pca itself stays rows-only: eigenvectors aren't
    SQL-expressible). Hash content: the covariance TRACE in exact
    integer micro-units — per-dim variances rounded to 6 exactly like
    the green embedding_covariance oracle, so the integer sum is
    bit-deterministic cross-engine. Booleans pin the eigh output the
    projection actually uses: orthonormal basis, eigenvalues sorted
    descending and PSD-nonnegative, and the trace identity
    sum(eigenvalues) = trace(C) within d micro-units (rounding slack)
    — the oracle declares them TRUE, so a broken decomposition goes
    driver-red."""
    import numpy as np

    from gnip_trend_detection_spark.extras import pca

    embs = load_table(spark, sf_dir, "embeddings")
    mean, comps, ev = pca.pca_components(embs, k=10**9)  # full spectrum
    d, k = comps.shape
    G = comps.T @ comps
    orthonormal_ok = bool(np.abs(G - np.eye(k)).max() < 1e-9)
    eig_sorted_ok = bool(np.all(np.diff(ev) <= 1e-12))
    eig_nonneg_ok = bool(float(ev.min()) > -1e-9)
    trace_micro = (
        pca.covariance(embs)
        .filter(F.col("i") == F.col("j"))
        .agg(F.sum(F.round(F.col("cov") * 1e6).cast("long")).alias("t"))
        .first()["t"]
    )
    trace_ok = bool(abs(float(ev.sum()) * 1e6 - trace_micro) <= d + 1.0)
    row = [
        (
            int(d),
            int(d),
            int(trace_micro),
            orthonormal_ok,
            eig_sorted_ok,
            eig_nonneg_ok,
            trace_ok,
        )
    ]
    return spark.createDataFrame(
        row,
        "d long, k long, trace_micro long, orthonormal_ok boolean, "
        "eig_sorted_ok boolean, eig_nonneg_ok boolean, trace_ok boolean",
    )


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data curation flow as ONE dataflow — what a
    practitioner actually runs before pretraining: exact-dedup to a
    canonical doc per content hash, quality gate, language ID,
    benchmark decontamination, then deterministic per-language
    stratified sampling. Every stage is a narrow doc_id-keyed join
    over one shared scan; the only wide relations are the per-stage
    aggregates themselves.

    Kept row = canonical AND quality_micro >= 340000 (on the integer micro-unit
    score, so the threshold is parity-stable) AND zero benchmark
    4-gram hits AND survives the per-predicted-lang hash draw."""
    from gnip_trend_detection_spark.extras.curation import curate

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    return curate(corpus, bench)


# ------------------------------------------------------- similarity


def q_cosine_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_pairs(emb, threshold=0.4)


def q_cosine_neardup_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path twin of cosine_neardup_pairs: block-matrix numpy
    matmul instead of per-pair folds; same oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_pairs_blocked(emb, threshold=0.4)


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.brute_force_topk(emb, queries, k=5)


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed top-k (the third ANN path): seeded
    deterministic planes, so the DuckDB twin inlines the identical
    plane literals and the bucket assignment reproduces exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.lsh_bucketed_topk(emb, queries, k=5)


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF scale path: deterministic centroids (vec_id % 50 == 0),
    nprobe=3 — exact-SQL-reproducible, so oracle-checked."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.ivf_topk(emb, queries, k=5, centroid_mod=50, nprobe=3)


def q_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classify every 4th vector by 5-NN majority vote over the other
    three quarters (the labeled seed set) — the corpus-vs-annotated
    split of a quality-classifier inference pass."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.knn_classify(
        emb.filter(F.col("vec_id") % 4 == 0),
        emb.filter(F.col("vec_id") % 4 != 0),
        k=5,
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over embeddings + perturbed twins of every 10th vector
    (first coordinate shifted by 0.3*norm → cosine to the original
    lands in [0.954, 0.967], so threshold 0.957 genuinely splits the
    twin set instead of rubber-stamping all or none)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", similarity.as_double(F.col("embedding")).alias("embedding")
    )
    nrm = similarity.norm(F.col("embedding"))
    twins = (
        emb.filter(F.col("vec_id") % 10 == 0)
        .withColumn("nrm", nrm)
        .select(
            (F.col("vec_id") + 1000000).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: F.when(i == 0, x + 0.3 * F.col("nrm")).otherwise(x),
            ).alias("embedding"),
        )
    )
    return similarity.semantic_dedup(
        emb.unionByName(twins), threshold=0.957, centroid_mod=50
    )


# ------------------------------------------------------- OLAP showcase


_CUTOFF = "1998-06-01"


def q_tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): the HAVING subquery
    compiles to a self-contained lineitem aggregate whose qualifying
    keys LEFT-SEMI join back into the fact — Catalyst reuses the
    same scan shape and AQE broadcasts the (rare) qualifying-key set.
    Quantity sums are integer-exact, so no float at any boundary."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))
        .filter(F.col("qty") > 250)
        .select("l_orderkey")
    )
    li_big = li.join(F.broadcast(big), "l_orderkey", "left_semi")
    agg = (
        li_big.join(orders, li_big["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("string").alias("o_orderdate_str"),
            "o_totalprice",
        )
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("total_qty"))
    )
    top = agg.orderBy(
        F.desc("o_totalprice"), F.asc("o_orderdate_str"), F.asc("o_orderkey")
    ).limit(100)
    return top


def q_tpch_q10_returned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item losses): one quarter of orders,
    the 'R' lineitems, customer + nation broadcast dims, integer-cent
    revenue, deterministic top-20. Both date predicates and the
    returnflag filter push to the scans."""
    lo = F.to_timestamp_ntz(F.lit("1995-04-01"))
    hi = F.to_timestamp_ntz(F.lit("1995-07-01"))
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    rev_cents = F.sum(
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000)
        .cast("long")
    )
    agg = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg((rev_cents.cast("double") / 10000.0).alias("revenue"))
    )
    return agg.orderBy(F.desc("revenue"), F.asc("c_custkey")).limit(20)


def q_tpch_q3_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape on the fixture star schema: filtered dim
    (BUILDING customers) broadcast into the orders⨝lineitem fact
    join, integer-cent revenue aggregation, deterministic top-10.
    Catalyst pushes both date filters to the scans and AQE picks the
    broadcast for every sub-fact side."""
    cutoff = F.to_timestamp_ntz(F.lit(_CUTOFF))
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < cutoff
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > cutoff
    )
    rev_cents = F.sum(
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000)
        .cast("long")
    )
    agg = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(
            cust, orders["o_custkey"] == cust["c_custkey"]
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg((rev_cents.cast("double") / 10000.0).alias("revenue"))
        .select(
            "l_orderkey",
            F.col("o_orderdate").cast("string").alias("o_orderdate_str"),
            "revenue",
        )
    )
    # global top-10 via sort+limit (TakeOrderedAndProject: per-partition
    # heaps, no single-partition sort); the rank window then runs over
    # the 10 survivors only
    top = agg.orderBy(F.desc("revenue"), F.asc("l_orderkey")).limit(10)
    w = Window.orderBy(F.desc("revenue"), F.asc("l_orderkey"))
    return top.withColumn("rk", F.row_number().over(w).cast("long"))


def q_tpch_q5_local_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-table join (region→nation→customer/supplier
    →orders→lineitem) with same-nation customer+supplier, revenue per
    nation. The dimension chain folds into broadcasts; the only big
    shuffles are the two fact-fact equi-joins."""
    cutoff = F.to_timestamp_ntz(F.lit(_CUTOFF))
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < cutoff
    )
    li = load_table(spark, sf_dir, "lineitem")
    rev_cents = F.sum(
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000)
        .cast("long")
    )
    nations_in_region = nation.join(
        F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"]
    ).select("n_nationkey", "n_name")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(
            F.broadcast(nations_in_region),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg((rev_cents.cast("double") / 10000.0).alias("revenue"))
    )


def q_tpch_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cents = lambda c, k: F.sum(F.round(c * k).cast("long")).cast("double") / float(k)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        cents(F.col("l_quantity"), 100).alias("sum_qty"),
        cents(F.col("l_extendedprice"), 100).alias("sum_base_price"),
        cents(disc_price, 10000).alias("sum_disc_price"),
        cents(charge, 1000000).alias("sum_charge"),
        F.count(F.lit(1)).alias("count_order"),
    )


def q_tpch_q6_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter + global aggregate, zero joins and
    zero wide shuffles — the canonical predicate-pushdown showcase.
    All four predicates reach the parquet scan (PushedFilters) and the
    scan reads only the four referenced columns; the agg is map-side
    partial + a 1-row exchange. Integer-cent summation for exact
    cross-engine float parity."""
    lo = F.to_timestamp_ntz(F.lit("1997-01-01"))
    hi = F.to_timestamp_ntz(F.lit("1998-01-01"))
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= lo)
        & (F.col("l_shipdate") < hi)
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        (
            F.sum(
                F.round(F.col("l_extendedprice") * F.col("l_discount") * 10000)
                .cast("long")
            ).cast("double")
            / 10000.0
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q_tpch_q4_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order-priority census over one quarter of
    orders having at least one returned lineitem. The fixture has no
    commit/receipt dates, so the EXISTS predicate is l_returnflag='R'
    — the semi-join mechanics are the point: Spark plans a LEFT SEMI
    hash join (each order emitted at most once, no post-join dedup),
    and the returnflag filter prunes the build side before the
    shuffle."""
    lo = F.to_timestamp_ntz(F.lit("1997-07-01"))
    hi = F.to_timestamp_ntz(F.lit("1997-10-01"))
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    returned = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        orders.join(
            returned,
            orders["o_orderkey"] == returned["l_orderkey"],
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group distinct cardinality (audience size per event
    type). Spark expands count_distinct into a two-phase plan: partial
    dedup on (event_type, user_id) map-side, then the count — the
    shuffle carries distinct pairs, never raw events."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


def q_distinct_users_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ twin of `distinct_users` — the 100 TB path, where
    the exact pair-dedup shuffle is the bottleneck: the HLL sketch is
    a fixed-size mergeable accumulator, so the shuffle carries one
    sketch per (partition, group) regardless of cardinality.

    Sketch estimates aren't cross-engine reproducible, so (same
    contract-oracle shape as value_quantiles_approx) the hashable
    output is the exact distinct count (verified cross-engine via the
    two-phase pair-dedup agg) plus a boolean asserting the HLL
    estimate landed within 10x its configured rsd of the exact answer
    — the oracle pins that boolean TRUE, turning an out-of-contract
    sketch into a driver-red row instead of a rows-only shrug."""
    ev = load_table(spark, sf_dir, "events")
    approx = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("_approx"),
        F.count(F.lit(1)).alias("n_events"),
    )
    exact = (
        ev.select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_users_exact"))
    )
    slack = F.col("n_users_exact").cast("double") * F.lit(0.2)
    return approx.join(exact, "event_type").select(
        "event_type",
        "n_events",
        "n_users_exact",
        (
            F.abs(F.col("_approx").cast("double") - F.col("n_users_exact"))
            <= slack
        ).alias("approx_in_bounds"),
    )


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus collocations: PMI over adjacent token pairs with
    c12 >= 5 (extras/text.py:pmi_bigrams)."""
    return text.pmi_bigrams(_docs(spark, sf_dir), min_count=5)


def q_logreg_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed quality-classifier training + corpus scoring
    (extras/classifier.py): logistic head over the embedding column
    against the label==0 signal, Newton/IRLS solver (one map pass + a
    (d+1)(d+2)-row aggregate per iteration; quadratic convergence, so
    8 passes reach a sharper optimum than GD's 20-40), then a
    zero-shuffle broadcast scoring pass. Rows-only oracle by design
    (iterative, not SQL-expressible; cross-partition float sums wobble
    in the last ulp)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        similarity.as_double(F.col("embedding")).alias("embedding"),
        (F.col("label") == 0).cast("double").alias("y"),
    )
    w, b = classifier.logreg_train_newton(e, label_col="y", n_iter=8)
    return classifier.logreg_score(e, w, b)


def q_logreg_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable convergence contract for the Newton logistic
    head (logreg_quality itself stays rows-only: per-row probabilities
    wobble in the last ulp across partitionings). Hash content: the
    exact class balance. Booleans: the solver's certificate — one
    extra gradient pass AT the returned weights must show
    ||grad||_inf <= 1e-8 * n (Newton reaches ~1e-14 here; the bound
    leaves 6 orders of margin), plus a finite-weights check. The
    oracle pins both TRUE, so a diverged or NaN fit goes driver-red."""
    import numpy as np

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        similarity.as_double(F.col("embedding")).alias("embedding"),
        (F.col("label") == 0).cast("double").alias("y"),
    )
    w, b, grad_norm, n, n_pos = classifier.logreg_train_newton(
        e, label_col="y", n_iter=8, with_grad=True, with_counts=True
    )
    converged = bool(grad_norm <= 1e-8 * max(n, 1))
    finite = bool(np.isfinite(w).all() and np.isfinite(b))
    return spark.createDataFrame(
        [(n, n_pos, n - n_pos, converged, finite)],
        "n long, n_pos long, n_neg long, converged boolean, "
        "weights_finite boolean",
    )


def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog compaction / CDC upsert resolution: each key's most
    recent record in ONE hash aggregate (max_by over a (ts, id)
    struct — deterministic under timestamp ties), no window sort, no
    self-join. This is the MERGE/compaction step of a lakehouse
    pipeline: two-phase aggregation means the shuffle carries one
    candidate row per (partition, key), not the full history."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("double").alias("e"),
        "event_id",
        "event_type",
        "value",
    )
    ord_key = F.struct(F.col("e"), F.col("event_id"))
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("e").alias("last_e"),
        F.max_by("event_id", ord_key).alias("last_event_id"),
        F.max_by("event_type", ord_key).alias("last_event_type"),
        F.max_by("value", ord_key).alias("last_value"),
    )


def q_series_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-counter time-series feature extraction (the tsfresh-style
    featurization step before clustering/classifying series): count,
    moments, lag-1 autocorrelation, and linear trend slope, all from
    one shuffle on the counter key — the lag sits in a window over the
    same partitioning the aggregate uses, so Catalyst plans a single
    exchange."""
    ser = _events_series(spark, sf_dir, 3600)
    w = Window.partitionBy("counter").orderBy("bin_ts")
    lagged = ser.withColumn("prev", F.lag("count").over(w))
    # trend slope from explicit sums over the SHIFTED bin index
    # u = (bin_ts - min)/3600 instead of regr_slope over raw epochs:
    # engines accumulate regr_slope differently and epoch-scale x
    # overflows exact-double range (sum u^2 stays < 2^52, so every
    # sum here is exact and the slope is bit-identical cross-engine —
    # same determinism argument as linreg.py). slope/sec = slope_u/3600.
    mn = F.min("bin_ts").over(Window.partitionBy("counter"))
    lagged = lagged.withColumn(
        "u", ((F.col("bin_ts") - mn) / F.lit(3600)).cast("double")
    )
    # acf1 likewise from exact sums over the prev-notnull pairs (F.corr
    # merges partials in shuffle-fetch order — run-to-run ulp drift)
    y = F.col("count").cast("double")
    pv = F.col("prev").cast("double")
    has = pv.isNotNull()
    agg = lagged.groupBy("counter").agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.round(F.avg("count"), 6).alias("mean_count"),
        F.round(F.stddev_samp("count"), 6).alias("std_count"),
        F.min("count").alias("min_count"),
        F.max("count").alias("max_count"),
        F.count("prev").cast("double").alias("__pn"),
        F.sum(F.when(has, y)).alias("__px"),
        F.sum(pv).alias("__py"),
        F.sum(y * pv).alias("__pxy"),
        F.sum(F.when(has, y * y)).alias("__pxx"),
        F.sum(pv * pv).alias("__pyy"),
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum("u").alias("__su"),
        F.sum(y).alias("__sy"),
        F.sum(F.col("u") * y).alias("__suy"),
        F.sum(F.col("u") * F.col("u")).alias("__suu"),
    )
    den = F.col("__n") * F.col("__suu") - F.col("__su") * F.col("__su")
    slope = F.when(
        den != 0,
        (F.col("__n") * F.col("__suy") - F.col("__su") * F.col("__sy"))
        / den
        / F.lit(3600.0),
    )
    pn = F.col("__pn")
    varx = pn * F.col("__pxx") - F.col("__px") * F.col("__px")
    vary = pn * F.col("__pyy") - F.col("__py") * F.col("__py")
    cov = pn * F.col("__pxy") - F.col("__px") * F.col("__py")
    acf1 = F.when((varx > 0) & (vary > 0), cov / F.sqrt(varx * vary))
    return agg.select(
        "counter",
        "n_bins",
        "mean_count",
        "std_count",
        "min_count",
        "max_count",
        (F.round(acf1, 6) + F.lit(0.0)).alias("acf1"),
        (F.round(slope, 6) + F.lit(0.0)).alias("trend_slope"),
    )


def q_quality_blend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensemble curation score (the DCLM/FineWeb-style multi-signal
    blend): percentile-rank-normalize three independent quality
    signals — heuristic quality (higher better), unigram
    log-perplexity and within-doc n-gram repetition (lower better) —
    and average the ranks. EXACT global percent_rank WITHOUT a global
    sort: PERCENT_RANK = (RANK - 1)/(n - 1), and RANK comes from the
    batched two-phase distributed ``competition_ranks``
    (operators/rank.py) — identical values to the Window form (same
    tie semantics, same division), no ``Exchange SinglePartition``
    anywhere in the plan, and ONE shared histogram pass for all three
    signals. The joined per-doc signal relation is localCheckpointed:
    it is exactly output-sized, and freezing it lets the rank
    histogram and the final join share one computation."""
    from gnip_trend_detection_spark.operators.rank import competition_ranks

    docs = _docs(spark, sf_dir)
    # quality_micro and dup_ngram_frac are both pure row-local
    # expressions of the token array (text.quality_micro_expr /
    # dup_ngram_frac_expr — the exact expressions quality_score and
    # repetition_stats emit), so they come from ONE tokenize scan with
    # no join; the old q ⋈ r join of two corpus-derived relations and
    # its second tokenize pass are gone (guide §1.2, §2.4). The fused
    # filter is size >= 2: the inner joins dropped 1-token docs anyway
    # (repetition_stats has no bigram support there), so the kept row
    # set is identical by construction.
    # the token array is materialized once per row via the generate
    # barrier (materialize_col) — the plain withColumn alias was
    # inlined into every quality/repetition reference by the
    # optimizer, re-tokenizing ~9x per row (same trap measured 2x at
    # the 10x replica on the curation pipeline)
    qr = (
        materialize_col(
            docs.select("doc_id", "text"),
            text.tokens(F.col("text")),
            "toks",
        )
        .filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            text.quality_micro_expr(F.col("toks")).alias("quality_micro"),
            text.dup_ngram_frac_expr(F.col("toks"), 2).alias(
                "dup_ngram_frac"
            ),
        )
    )
    p = text.unigram_logppl(docs).select("doc_id", "log_ppl")
    j = (
        qr.join(p, "doc_id")
        .select("doc_id", "quality_micro", "log_ppl", "dup_ngram_frac")
        # LAZY: the count() below materializes the checkpoint in the
        # same job instead of a dedicated materialization job (§5.2)
        .localCheckpoint(eager=False)
    )
    n = j.count()  # bounded: one scalar off the checkpointed relation
    denom = float(max(n - 1, 1))
    ranked = competition_ranks(
        j,
        [
            ("quality_micro", "__rk_q", True),
            ("log_ppl", "__rk_p", False),
            ("dup_ngram_frac", "__rk_r", False),
        ],
    )
    pr = lambda c: (F.col(c) - 1).cast("double") / denom  # noqa: E731
    return ranked.select(
        "doc_id",
        "quality_micro",
        "log_ppl",
        "dup_ngram_frac",
        F.round((pr("__rk_q") + pr("__rk_p") + pr("__rk_r")) / 3.0, 6).alias(
            "blend"
        ),
    )


def q_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE train + apply over the corpus (extras/bpe.py): learn 20
    merges (iterative, one argmax collect per round), then encode
    every document in a zero-shuffle memoized map pass. Rows-only
    oracle by design (iterative training)."""
    from gnip_trend_detection_spark.extras import bpe

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    merges = bpe.train_bpe(docs, n_merges=20)
    return bpe.bpe_encode(docs, merges)


def q_bpe_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE training CONTRACT row — the hash-checkable half of the
    iterative trainer (extras/bpe.py). bpe_vocab / bpe_encode_stats
    stay rows-only (training is inherently sequential), but a real
    subset of the run IS independently SQL-derivable, so this row
    carries a full value hash:

      SQL-recomputed by the oracle: corpus_words / corpus_tokens /
      pair_mass / alphabet_size (vocabulary stats from the one corpus
      scan) and rank0_left/right/count — BPE's FIRST merge is, by
      definition, the argmax adjacent char pair of the char-split
      vocab (count DESC then lexicographic), before any iteration.

      Invariants emitted as booleans (oracle emits TRUE): pair counts
      chosen at successive ranks are non-increasing (a post-merge pair
      either pre-existed — its count can only shrink — or contains the
      new symbol, whose occurrence count is <= the merged pair's
      count); merged == left || right at every rank; the corpus
      supports all 10 requested merges.

    Scale: identical to bpe_vocab — ONE corpus-sized aggregate, then
    vocab-sized rounds with a 1-row collect each; the merge list
    itself (10 rows) is the only extra driver state."""
    from gnip_trend_detection_spark.extras import bpe

    docs = _docs(spark, sf_dir).select("text")
    # keep_vocab: the stats below read the trainer's materialized
    # initial (n, syms) vocabulary instead of re-scanning and
    # re-aggregating the corpus a second time (size(syms) ==
    # length(word) — syms IS split(word, '')); both stat rollups run
    # eagerly on the vocab-sized checkpoint, whose lifecycle ends here
    merges, vocab0 = bpe.train_bpe(docs, n_merges=10, keep_vocab=True)
    r0 = merges[0]
    nonincr = all(
        merges[i][4] >= merges[i + 1][4] for i in range(len(merges) - 1)
    )
    concat_ok = all(m[3] == m[1] + m[2] for m in merges)
    # one pass computes all four stats: pos==0 rows carry the
    # word-level facts (count, token mass), pos>0 rows sum to the
    # pair mass ((L-1)*n per word), and the exploded char column
    # yields the alphabet — replacing a second corpus scan + two
    # separate rollup jobs with a single job on the cached vocab
    stats = (
        vocab0.select("n", F.posexplode("syms").alias("pos", "ch"))
        .agg(
            F.sum(F.when(F.col("pos") == 0, 1)).cast("long").alias(
                "corpus_words"
            ),
            F.sum(F.when(F.col("pos") == 0, F.col("n"))).cast("long").alias(
                "corpus_tokens"
            ),
            F.sum(F.when(F.col("pos") > 0, F.col("n"))).cast("long").alias(
                "pair_mass"
            ),
            F.count_distinct("ch").cast("long").alias("alphabet_size"),
        )
        .first()
    )
    vocab0.unpersist()
    return spark.createDataFrame(
        [
            (
                int(stats["corpus_words"]),
                int(stats["corpus_tokens"]),
                int(stats["pair_mass"]),
                int(stats["alphabet_size"]),
                r0[1],
                r0[2],
                int(r0[4]),
                len(merges) == 10,
                nonincr,
                concat_ok,
            )
        ],
        "corpus_words long, corpus_tokens long, pair_mass long, "
        "alphabet_size long, rank0_left string, rank0_right string, "
        "rank0_count long, n_merges_full boolean, "
        "counts_nonincreasing boolean, merged_is_concat boolean",
    )


def q_tpch_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: customer order-count distribution through a
    LEFT OUTER join (zero-order customers must survive with count 0 —
    the fixture has no o_comment, so the exclusion predicate is the
    non-urgent priority filter). The outer join carries a filter on
    the RIGHT side inside the join condition, which Spark evaluates
    pre-join on the build side; the double aggregate reduces to
    (custkey) then (count) — both narrow."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing (the multilingual/multi-source
    sampling recipe: weight_i ∝ tokens_i^alpha, alpha=0.5 — upweights
    small sources without drowning large ones), solved relationally:
    per-source token counts → alpha-powered weights normalized by a
    1-row broadcast total → keep fraction against a token budget,
    capped at 1. No collect; POWER under the round-6 policy."""
    alpha, budget = 0.5, 20_000.0
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "source", F.size(text.tokens(F.col("text"))).alias("n")
    )
    per_src = toks.groupBy("source").agg(F.sum("n").alias("tokens"))
    wcol = F.pow(F.col("tokens").cast("double"), alpha)
    weighted = per_src.select("source", "tokens", wcol.alias("w"))
    total = weighted.agg(F.sum("w").alias("wsum"))
    out = weighted.crossJoin(F.broadcast(total)).select(
        "source",
        "tokens",
        F.round(F.col("w") / F.col("wsum"), 6).alias("weight"),
        F.round(
            F.least(
                F.lit(1.0),
                (F.lit(budget) * (F.col("w") / F.col("wsum")))
                / F.col("tokens").cast("double"),
            ),
            6,
        ).alias("keep_frac"),
    )
    return out.withColumn(
        "est_kept_tokens",
        F.round(F.col("keep_frac") * F.col("tokens").cast("double")).cast("long"),
    )


def q_tpch_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: revenue share of a part class over one month —
    the broadcast-dimension conditional-aggregate pattern. part rides
    to every executor (AQE broadcast), the fact scan keeps only the
    date-pruned slice, and the share is a ratio of two integer-cent
    sums rounded once at the end."""
    lo = F.to_timestamp_ntz(F.lit("1997-06-01"))
    hi = F.to_timestamp_ntz(F.lit("1997-07-01"))
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    j = li.join(part, li["l_partkey"] == part["p_partkey"])
    agg = j.agg(
        F.sum(F.when(F.col("p_type") == "ECONOMY", rev).otherwise(F.lit(0))).alias(
            "promo_cents"
        ),
        F.sum(rev).alias("total_cents"),
        F.count(F.lit(1)).alias("n_items"),
    )
    return agg.select(
        (F.col("promo_cents").cast("double") / 10000.0).alias("promo_revenue"),
        (F.col("total_cents").cast("double") / 10000.0).alias("total_revenue"),
        F.round(
            100.0
            * (F.col("promo_cents").cast("double") / F.col("total_cents").cast("double")),
            6,
        ).alias("promo_share_pct"),
        "n_items",
    )


def q_session_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral motif mining: the corpus-wide transition matrix of
    consecutive event types WITHIN a session (30-min gap sessions, the
    same sessionize windowing) — 'what follows what'. One per-user
    exchange serves the gap detection, the session numbering, and the
    lag; the motif count is a tiny (src, dst) hash agg. Total row
    order inside ties is pinned by (t, event_id)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.col("ts").cast("double").alias("t")
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    brk = F.when(
        F.lag("t").over(w).isNull() | ((F.col("t") - F.lag("t").over(w)) > 1800.0),
        F.lit(1),
    ).otherwise(F.lit(0))
    s = ev.withColumn("brk", brk).withColumn(
        "sess",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    ws = Window.partitionBy("user_id", "sess").orderBy("t", "event_id")
    pairs = s.withColumn("src", F.lag("event_type").over(ws)).filter(
        F.col("src").isNotNull()
    )
    return pairs.groupBy(
        F.col("src").alias("src_type"), F.col("event_type").alias("dst_type")
    ).agg(F.count(F.lit(1)).alias("n_transitions"))


def q_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outlier audit: one agg computes per-type
    mean/stddev, broadcasts back onto the scan, flags |z| > 3 on the
    ROUNDED z (deterministic threshold compare, same discipline as
    detect_threshold's sig-rounded eta). Two narrow passes, no
    window."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sd")
    )
    z = F.round((F.col("value") - F.col("mu")) / F.col("sd"), 6)
    flagged = ev.join(F.broadcast(stats), "event_type").select(
        "event_type", z.alias("z")
    )
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum((F.abs(F.col("z")) > 3.0).cast("long")).alias("n_outliers"),
        F.max(F.abs(F.col("z"))).alias("max_abs_z"),
    )


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index per event type between the first and
    second half of the observed time range (extras/drift.py:psi_drift)
    — equal-width 10-bin histogram, Jeffreys-smoothed; the standard
    'did the input distribution move' monitor run next to detectors."""
    from gnip_trend_detection_spark.extras import drift

    ev = load_table(spark, sf_dir, "events")
    return drift.psi_drift(ev).select(
        F.col("grp").alias("event_type"), "n_ref", "n_cur", "psi"
    )


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov D per event type between
    the two halves of the time range (extras/drift.py:ks_drift) —
    bin-free ECDF sup-gap, tie-safe by distinct-value collapse."""
    from gnip_trend_detection_spark.extras import drift

    ev = load_table(spark, sf_dir, "events")
    return drift.ks_drift(ev).select(
        F.col("grp").alias("event_type"), "n_ref", "n_cur", "ks_d"
    )


def q_psi_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift as a monitoring time series (extras/drift.py:
    psi_timeline): per (event_type, 6h bucket) PSI against the type's
    whole observed distribution — the continuous view whose spike IS
    the drift alarm."""
    from gnip_trend_detection_spark.extras import drift

    ev = load_table(spark, sf_dir, "events")
    return drift.psi_timeline(ev, bucket_sec=21600).select(
        F.col("grp").alias("event_type"), "bucket", "n", "psi"
    )


def q_categorical_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical mix drift (extras/drift.py:categorical_drift): per
    6h bucket, chi-square homogeneity of the event_type distribution
    vs the whole period — the monitor for label/type-mix shifts no
    value histogram sees."""
    from gnip_trend_detection_spark.extras import drift

    ev = load_table(spark, sf_dir, "events")
    return drift.categorical_drift(ev, bucket_sec=21600)


def q_psi_between_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-relation PSI (extras/drift.py:psi_between): 'view' events
    as the trusted reference vs 'click' events as the candidate batch,
    grouped by hour-of-day — the reference-corpus-vs-new-crawl shape
    of the drift monitor."""
    from gnip_trend_detection_spark.extras import drift

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        (F.floor(F.col("ts").cast("double") / 3600) % 24)
        .cast("long")
        .alias("hour"),
    )
    ref = ev.filter(F.col("event_type") == "view")
    cur = ev.filter(F.col("event_type") == "click")
    return drift.psi_between(ref, cur, group_col="hour", value_col="value").select(
        F.col("grp").alias("hour"), "n_ref", "n_cur", "psi"
    )


def q_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style data-quality audit as one relational report:
    completeness (nulls), key uniqueness (duplicate (orderkey,
    linenumber) pairs), referential integrity (orphan lineitems via
    LEFT ANTI join), and range rules — each check a narrow aggregate,
    unioned into a (check, n_violations) contract table. At 100 TB
    each check is a scan-local partial agg; the anti join is the only
    shuffle (or a broadcast when orders' key set fits)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")

    def one(name: str, df: DataFrame) -> DataFrame:
        # a global agg emits exactly one row even over empty input
        # (sum → null), so coalescing the column is enough
        return df.select(
            F.lit(name).alias("check"),
            F.coalesce(F.col("n"), F.lit(0)).alias("n_violations"),
        )

    null_keys = one(
        "lineitem.orderkey_complete",
        li.agg(F.sum(F.col("l_orderkey").isNull().cast("long")).alias("n")),
    )
    dup_pk = one(
        "lineitem.pk_unique",
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.sum(F.col("c") - 1).alias("n")),
    )
    orphans = one(
        "lineitem.orderkey_in_orders",
        li.join(
            orders, li["l_orderkey"] == orders["o_orderkey"], "left_anti"
        ).agg(F.count(F.lit(1)).alias("n")),
    )
    disc_range = one(
        "lineitem.discount_in_range",
        li.agg(
            F.sum(
                (~F.col("l_discount").between(0.0, 0.1)).cast("long")
            ).alias("n")
        ),
    )
    qty_pos = one(
        "lineitem.quantity_positive",
        li.agg(F.sum((F.col("l_quantity") <= 0).cast("long")).alias("n")),
    )
    out = null_keys
    for part in (dup_pk, orphans, disc_range, qty_pos):
        out = out.unionByName(part)
    return out


def q_hashed_tf_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing vectorizer (the hashing trick): tokens hash to
    a fixed 32-bucket space, per-doc term frequencies come out as
    SPARSE (doc_id, bucket, tf) rows — the text→vector bridge when no
    embedding model is in the loop, and the natural relational sparse
    representation (no array cell for the comparator to choke on).
    One explode + one hash agg; the bucket id reuses the md5-prefix
    integer trick shared with the samplers and MinHash."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    tok = docs.select("doc_id", F.explode(text.tokens(F.col("text"))).alias("w"))
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("w").cast("binary")), 1, 8), 16, 10)
        .cast("long"),
        F.lit(32),
    )
    return tok.groupBy("doc_id", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("tf")
    )


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classification-dataset audit: per-label class centroid and
    intra-class compactness (mean member-to-centroid cosine) — the
    label-noise smell test before training a classifier. Plan: one
    posexplode feeds a (label, dim) hash agg (centroids are
    labels x d rows, tiny), centroids rebuild as ordered arrays and
    broadcast back onto the corpus for a zero-shuffle cosine map, one
    final per-label agg. Centroid components round to 6 BEFORE the
    cosine so both engines fold identical inputs."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", similarity.as_double(F.col("embedding")).alias("a")
    )
    x = e.select("label", F.posexplode("a").alias("i", "val"))
    cent = x.groupBy("label", "i").agg(F.round(F.avg("val"), 6).alias("cv"))
    carr = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "cv"))), lambda s: s["cv"]
        ).alias("c")
    )
    j = e.join(F.broadcast(carr), "label")
    fold = lambda arr: F.aggregate(arr, F.lit(0.0), lambda acc, t: acc + t)
    dot = fold(F.zip_with(F.col("a"), F.col("c"), lambda p, q: p * q))
    na = fold(F.transform(F.col("a"), lambda p: p * p))
    nc = fold(F.transform(F.col("c"), lambda q: q * q))
    cos = dot / (F.sqrt(na) * F.sqrt(nc))
    return (
        j.select("label", nc.alias("nc"), cos.alias("cos"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.sqrt(F.first("nc")), 6).alias("centroid_norm"),
            F.round(F.avg("cos"), 6).alias("mean_cos"),
        )
    )


def q_conversion_within_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern analytics (MATCH_RECOGNIZE-lite): for every
    signup, count same-user purchases in [t, t+3600), then roll up
    per-user conversion. The time-window join runs through the
    bucketed range join (operators/rangejoin.py) — interval rows
    explode to at most 2 hour-buckets, the join is a plain equi-join
    on (user, bucket), no BNLJ — so the pattern scan stays linear at
    any scale."""
    from gnip_trend_detection_spark.operators.rangejoin import range_count_join

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", F.col("ts").cast("double").alias("t")
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("event_id").alias("signup_id"),
        F.col("t").alias("s"),
        (F.col("t") + 3600.0).alias("e"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "t")
    per_signup = range_count_join(
        purchases,
        signups,
        on=["user_id"],
        point_time="t",
        start_col="s",
        end_col="e",
        bucket_width=3600,
    )
    return per_signup.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_signups"),
        F.sum((F.col("n_points") > 0).cast("long")).alias("n_converted"),
        F.sum("n_points").alias("total_followups"),
    )


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential conversion funnel signup → view → purchase: a user
    counts at step k only if step k's earliest qualifying event is
    strictly AFTER their step k-1 time. Three chained conditional
    windows over ONE per-user partitioning — Catalyst collapses them
    into a single exchange + sort, so the funnel costs the same
    shuffle as a plain per-user aggregate."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.col("ts").cast("double").alias("e")
    )
    w = Window.partitionBy("user_id")
    t1 = F.min(F.when(F.col("event_type") == "signup", F.col("e"))).over(w)
    df = ev.withColumn("t1", t1)
    t2 = F.min(
        F.when((F.col("event_type") == "view") & (F.col("e") > F.col("t1")), F.col("e"))
    ).over(w)
    df = df.withColumn("t2", t2)
    t3 = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("e") > F.col("t2")),
            F.col("e"),
        )
    ).over(w)
    df = df.withColumn("t3", t3)
    per_user = df.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t1").alias("n_signup"),
        F.count("t2").alias("n_view_after_signup"),
        F.count("t3").alias("n_purchase_after_view"),
    )


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity day, distinct
    active users per (cohort_day, day_offset). Two narrow shuffles —
    per-user first-day, then the (cohort, offset) distinct count; the
    (user, day) dedup happens map-side inside count_distinct."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.col("ts").cast("double") / 86400).cast("long").alias("day"),
    )
    first = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ev.join(first, "user_id")
        .groupBy(
            "cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset")
        )
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


def q_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build from a changelog — the lakehouse
    dimension-maintenance MERGE expressed as pure windows: per user,
    collapse consecutive repeats of the tracked attribute (event_type
    as 'status'), then interval each change row with
    effective_from/effective_to = lead(from) and a version counter.
    ONE exchange on the user key; every window shares that
    partitioning, so Catalyst plans a single shuffle + sort. Ties on
    ts break by event_id so versioning is deterministic."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("double").alias("e"),
        "event_id",
        F.col("event_type").alias("status"),
    )
    w = Window.partitionBy("user_id").orderBy("e", "event_id")
    changed = (
        F.lag("status").over(w).isNull()
        | (F.col("status") != F.lag("status").over(w))
    )
    changes = ev.withColumn("__chg", changed).filter("__chg")
    w2 = Window.partitionBy("user_id").orderBy("e", "event_id")
    return changes.select(
        "user_id",
        "status",
        F.col("e").alias("effective_from"),
        F.lead("e").over(w2).alias("effective_to"),
        F.row_number().over(w2).cast("long").alias("version"),
        F.lead("e").over(w2).isNull().alias("is_current"),
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("double").alias("e")
    )
    w = Window.partitionBy("user_id").orderBy("e")
    brk = F.when(
        F.lag("e").over(w).isNull() | ((F.col("e") - F.lag("e").over(w)) > 1800.0),
        F.lit(1),
    ).otherwise(F.lit(0))
    sess = ev.withColumn("brk", brk).withColumn(
        "sess",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return sess.groupBy("user_id", F.col("sess").alias("session_idx")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.floor(F.min("e")).cast("long").alias("session_start"),
    )


def q_top_users_per_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 users per event_type, two-phase: event_type has only a
    handful of values, so a single window over it would sort every
    (type, user) row in ~5 partitions regardless of cluster size.
    Phase 1 takes a per-(type, salt-bucket) top-3 (64-way parallel,
    row_number over small sorted runs); phase 2 ranks the <= 3*64
    survivors per type — identical output, because every global top-3
    row is necessarily a top-3 row of its own bucket."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("n"))
    salted = c.withColumn("salt", F.pmod(F.xxhash64("user_id"), F.lit(64)))
    w1 = Window.partitionBy("event_type", "salt").orderBy(
        F.desc("n"), F.asc("user_id")
    )
    cand = (
        salted.withColumn("srk", F.row_number().over(w1))
        .filter(F.col("srk") <= 3)
        .drop("salt", "srk")
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("n"), F.asc("user_id"))
    return cand.withColumn("rk", F.row_number().over(w).cast("long")).filter(
        F.col("rk") <= 3
    )


def q_props_field_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column handling: extract a typed field from the
    events JSON `props` blob and aggregate per event_type. The
    extraction (`get_json_object`) is a JVM-side projection that rides
    the scan — no Python, and column pruning still reaches parquet
    (only props/event_type are read)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("k").alias("n_with_k"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.round(
            F.sum("k").cast("double") / F.count("k").cast("double"), 6
        ).alias("avg_k"),
    )


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_measured"),
        F.sha2(F.col("text").cast("binary"), 256).alias("content_sha"),
    )


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media payloads → decoded header fields via the Arrow-
    batched mapInPandas stage (deterministic fake codec)."""
    media = multimodal.media_from_documents(_docs(spark, sf_dir))
    return multimodal.decode_media(media).select(
        "doc_id",
        "media_type",
        "width",
        "height",
        "n_channels",
        F.round("mean_intensity", 6).alias("mean_intensity"),
        "content_md5",
    )


def q_multimodal_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec path: synthesize actual BMP / WAV RIFF containers
    deterministically from doc_id (multimodal.synthesize_media), then
    parse them back with the dependency-free byte-level decoders
    (decode_media(use_real_codec=True)). The oracle recomputes every
    decoded field arithmetically from doc_id, so a green row proves
    the container encode → header parse → intensity stats round-trip,
    not just the Arrow plumbing."""
    media = multimodal.synthesize_media(_docs(spark, sf_dir))
    return multimodal.decode_media(media, use_real_codec=True).select(
        "doc_id",
        "media_type",
        "width",
        "height",
        "n_channels",
        F.round("mean_intensity", 6).alias("mean_intensity"),
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = multimodal.media_from_documents(_docs(spark, sf_dir))
    feats = multimodal.extract_features(media, dim=8)
    out = feats.select(
        "doc_id", F.transform("features", lambda x: F.round(x, 6)).alias("features")
    )
    return _explode_arr(out, ["doc_id"], "features")


def q_embedding_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection sketch per embedding + bucket size
    (similarity.embedding_simhash): integer arithmetic end to end —
    floor-quantized components times an md5-derived literal ±1 matrix
    — so the sketch has no float compare for engines to disagree on."""
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_simhash(e, n_bits=16, seed=42)


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 quantization audit (similarity.quantize_int8): per-vector
    scale, code occupancy, and reconstruction error — the memory-vs-
    precision dashboard before switching an ANN corpus to int8."""
    q = similarity.quantize_int8(_emb(spark, sf_dir), keep_vec=True)
    sq_err = F.zip_with(
        F.col("v"),
        F.col("codes"),
        lambda x, c: (x - c.cast("double") * F.col("scale"))
        * (x - c.cast("double") * F.col("scale")),
    )
    l2_err = F.sqrt(F.aggregate(sq_err, F.lit(0.0), lambda a, b: a + b))
    n_nonzero = F.size(F.filter(F.col("codes"), lambda c: c != 0))
    return q.select(
        "vec_id",
        "scale",
        F.size("codes").alias("dim"),
        n_nonzero.cast("long").alias("n_nonzero"),
        F.round(l2_err, 6).alias("l2_err"),
    )


def q_sample_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BlinkDB-style approximate aggregation (AQP): estimate COUNT and
    SUM(value) per event_type from a deterministic 10% key-hash sample
    with Horvitz-Thompson inverse-probability weighting, plus a 95% CI
    half-width from the Poisson-sampling variance estimator
    (1-p)/p^2 * sum(v_i^2). The plan is scan + pushed filter
    (u(event_id) < p) + one small hash agg — the estimator reads ~p of
    the bytes, which is the whole point at 100 TB. Deterministic
    sample + integer-cent sums ⇒ the estimate itself is
    oracle-exact; only the sqrt in the CI needs the round-6 policy."""
    p = 0.1
    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(sample.uniform_draw(F.col("event_id")) < F.lit(p))
    cents = F.round(F.col("value") * 100).cast("long")
    sum_cents = F.sum(cents)
    ssq = F.sum(cents * cents)
    return s.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_sample"),
        # 1/p is the exact integer 10 — never divide by the inexact
        # double 0.1 and cast (truncate-vs-round differs cross-engine)
        (F.count(F.lit(1)) * 10).alias("est_count"),
        ((sum_cents.cast("double") / 100.0) / p).alias("est_sum"),
        F.round(
            1.96
            * F.sqrt(
                ((1.0 - p) / (p * p)) * (ssq.cast("double") / 10000.0)
            ),
            6,
        ).alias("ci95_halfwidth"),
    )


def q_fuzzy_vocab_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo/variant clustering over the part-name vocabulary
    (extras/text.py:fuzzy_vocab_pairs): deletion-neighborhood
    equi-join + levenshtein verify, never all-pairs."""
    parts = load_table(spark, sf_dir, "part").select(
        F.lower(F.col("p_name")).alias("text")
    )
    return text.fuzzy_vocab_pairs(parts, max_dist=2)


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thumbnail stage over the image subset (multimodal.resize_media,
    scale 2): binary-in/binary-out Arrow pass; emitted as dims + md5
    so the oracle can pin the resampled bytes."""
    media = multimodal.media_from_documents(_docs(spark, sf_dir))
    return multimodal.resize_media(media, scale=2)


def q_multimodal_resize_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-codec resize: synthesize actual BMP/WAV containers from
    doc_id, nearest-neighbor-decimate pixels / PCM frames, re-encode,
    and re-parse the thumb for its intensity stat
    (multimodal.resize_media(use_real_codec=True)). The oracle
    recomputes dims, container byte sizes, and the kept-pixel /
    kept-frame means arithmetically from doc_id — a green row pins the
    full decode → resample → encode → decode loop at the pixel level,
    closing the r3 'resize real path raises' gap."""
    media = multimodal.synthesize_media(_docs(spark, sf_dir))
    out = multimodal.resize_media(media, scale=2, use_real_codec=True)
    return out.select(
        "doc_id",
        "media_type",
        "width",
        "height",
        "thumb_width",
        "thumb_height",
        "thumb_bytes",
        F.round("thumb_mean_intensity", 6).alias("thumb_mean_intensity"),
    )


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = multimodal.media_from_documents(_docs(spark, sf_dir))
    frames = multimodal.sample_frames(media, frame_bytes=32, every_n=2)
    return frames.select(
        "doc_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.md5("frame_payload").alias("frame_md5"),
    )


def q_sales_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLAP ROLLUP (GROUPING SETS): revenue by (nation, order-year)
    with subtotal and grand-total rows, the cube-lite shape every BI
    layer emits. Spark plans ONE Expand + one hash aggregate — the
    rollup costs a single pass regardless of how many grouping sets it
    covers, which is exactly the 100 TB-friendly plan (no per-level
    rescans). grouping_id() disambiguates subtotal rows from genuine
    NULL keys; revenue is integer-cent exact so every subtotal is the
    exact sum of its children across engines."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    joined = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
        .select(
            "n_name",
            F.year("o_orderdate").cast("long").alias("o_year"),
            cents.alias("__c"),
        )
    )
    return joined.rollup("n_name", "o_year").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum("__c").cast("double") / 100.0).alias("revenue"),
    )


def q_event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: daily event counts, one column per event type. The
    explicit value list keeps the output schema static (no extra
    distinct-collect job, and the plan is a single hash aggregate with
    conditional counts — same shape DuckDB's FILTER clause compiles
    to). Missing (day, type) combos are 0, not NULL."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    pivoted = (
        ev.select(F.to_date("ts").cast("string").alias("day"), "event_type")
        .groupBy("day")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "day", *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t) for t in types]
    )


def q_event_type_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide→long, the inverse of q_event_type_pivot): the
    daily per-type count matrix melts back to (day, event_type, n)
    rows. Spark's unpivot is a zero-shuffle Expand over the already-
    aggregated relation — the only exchange is the pivot's own
    groupBy; melting adds none."""
    wide = q_event_type_pivot(spark, sf_dir)
    types = ["click", "error", "purchase", "signup", "view"]
    return wide.unpivot("day", types, "event_type", "n")


def q_tpch_q17_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): the correlated
    scalar subquery `l_quantity < 0.2 * avg(l_quantity) per part`
    decorrelates into one per-part aggregate joined back to the fact —
    both sides prune through the broadcast brand semi-join first, so
    the agg and the join-back touch only the selected parts' rows.
    The avg comparison is cross-multiplied into exact integers
    (5·qty_cents·n < sum_cents) so no float boundary exists for
    engines to disagree on."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#34")
    )
    li = load_table(spark, sf_dir, "lineitem").join(
        part.select("p_partkey"),
        F.col("l_partkey") == F.col("p_partkey"),
        "left_semi",
    )
    qty_c = F.round(F.col("l_quantity") * 100).cast("long")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(qty_c).alias("__sum_c"), F.count(F.lit(1)).alias("__n")
    )
    small = li.withColumn("__qc", qty_c).join(
        per_part, "l_partkey"
    ).filter(F.lit(5) * F.col("__qc") * F.col("__n") < F.col("__sum_c"))
    price_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    return small.agg(
        F.count(F.lit(1)).alias("n_small"),
        F.round(F.sum(price_c).cast("double") / 100.0 / 7.0, 4).alias("avg_yearly"),
    )


def q_tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): quarter revenue per supplier,
    then the scalar-subquery max selects the leader(s). The revenue
    relation is supplier-cardinality (bounded), so the max is a 1-row
    broadcast joined back — no second scan of the fact, no window over
    a single partition. Integer-cent revenue makes the max tie-exact."""
    lo = F.to_timestamp_ntz(F.lit("1995-04-01"))
    hi = F.to_timestamp_ntz(F.lit("1995-07-01"))
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    )
    rev_c = F.sum(
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000)
        .cast("long")
    )
    per_supp = li.groupBy("l_suppkey").agg(rev_c.alias("__rc"))
    mx = per_supp.agg(F.max("__rc").alias("__mx"))
    supp = load_table(spark, sf_dir, "supplier")
    return (
        per_supp.join(F.broadcast(mx), F.col("__rc") == F.col("__mx"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            (F.col("__rc").cast("double") / 10000.0).alias("total_revenue"),
        )
    )


def q_tpch_q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global-avg filter + anti-join): customers with
    above-average positive balance and NO orders since 1999 (dormant
    accounts), rolled up per nation. The global average is a 1-row
    broadcast (sum_cents, n) — the comparison cross-multiplies to
    exact integers (acctbal_cents·n > sum_cents) so the filter is
    tie-free — and the NOT EXISTS decorrelates to a LEFT ANTI join on
    the recent-order keys, with the date predicate pushed to that
    scan."""
    cust = load_table(spark, sf_dir, "customer")
    bal_c = F.round(F.col("c_acctbal") * 100).cast("long")
    pos = cust.filter(F.col("c_acctbal") > 0.0)
    stats = pos.agg(
        F.sum(bal_c).alias("__sum_c"), F.count(F.lit(1)).alias("__n")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.to_timestamp_ntz(F.lit("1999-01-01")))
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    nat = load_table(spark, sf_dir, "nation")
    rich_idle = (
        cust.withColumn("__bc", bal_c)
        .crossJoin(F.broadcast(stats))
        .filter(F.col("__bc") * F.col("__n") > F.col("__sum_c"))
        .join(orders, "c_custkey", "left_anti")
    )
    return (
        rich_idle.join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum("__bc").cast("double") / 100.0).alias("totacctbal"),
        )
    )


def q_tpch_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): revenue between an ordered
    pair of nations per ship year — supplier nation on the lineitem
    side, customer nation on the orders side, both dims broadcast
    twice (aliased nation scans). The pair predicate
    (n1, n2) ∈ {(A,B), (B,A)} filters AFTER both joins but pushes into
    the broadcast build sides as n_name IN (A, B). Integer-cent
    revenue."""
    a, b = "NATION_1", "NATION_2"
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp_ntz(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp_ntz(F.lit("1998-01-01")))
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(a, b)
    )
    n1 = nat.select(
        F.col("n_nationkey").alias("__n1k"), F.col("n_name").alias("supp_nation")
    )
    n2 = nat.select(
        F.col("n_nationkey").alias("__n2k"), F.col("n_name").alias("cust_nation")
    )
    rev_c = F.sum(
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000)
        .cast("long")
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("__n1k"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("__n2k"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg((rev_c.cast("double") / 10000.0).alias("revenue"))
    )


def q_tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): within one region's
    customers and one part type, the share of yearly revenue supplied
    by one nation. Share emitted as integer MICRO-units of the ratio
    of two exact integer-cent sums — one double divide + one
    round-to-integer, the established tie-proof discipline."""
    target = "NATION_1"
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "STANDARD"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp_ntz(F.lit("1995-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp_ntz(F.lit("1997-01-01")))
    )
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "AMERICA"
    )
    cnat = nat.join(
        F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("__ck"))
    snat = nat.select(
        F.col("n_nationkey").alias("__sk"), F.col("n_name").alias("supp_nation")
    )
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    j = (
        li.join(
            part.select("p_partkey"),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cnat), F.col("c_nationkey") == F.col("__ck"), "left_semi")
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(snat), F.col("s_nationkey") == F.col("__sk"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            cents.alias("__c"),
            F.when(F.col("supp_nation") == target, cents)
            .otherwise(F.lit(0))
            .alias("__tc"),
        )
    )
    return j.groupBy("o_year").agg(
        (F.sum("__tc").cast("double") / 10000.0).alias("nation_revenue"),
        (F.sum("__c").cast("double") / 10000.0).alias("total_revenue"),
        F.round(
            F.sum("__tc").cast("double") * 1000000.0 / F.sum("__c").cast("double")
        )
        .cast("long")
        .alias("share_micro"),
    )


def q_tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (disjunctive predicate pushdown): revenue from
    an OR of three (brand, size-band, quantity-band) conjuncts. The
    whole disjunction references only scan columns, so Catalyst pushes
    it below the join on BOTH sides after predicate simplification —
    the plan to check is that neither scan reads unfiltered. Integer
    quantity bands (cents-exact), one broadcast join."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    qty = F.round(F.col("l_quantity") * 100).cast("long")
    j = li.join(part, F.col("l_partkey") == F.col("p_partkey"))
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & (F.col("p_size").between(1, 15))
            & (qty.between(100, 1100))
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & (F.col("p_size").between(1, 25))
            & (qty.between(1000, 2000))
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & (F.col("p_size").between(1, 35))
            & (qty.between(2000, 3000))
        )
    )
    rev_c = F.sum(
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000)
        .cast("long")
    )
    return j.filter(cond).agg(
        F.count(F.lit(1)).alias("n_lines"),
        (rev_c.cast("double") / 10000.0).alias("revenue"),
    )


def q_tpch_q21_blame_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting, adapted to
    this schema's columns): for multi-supplier orders, blame the ONE
    supplier whose latest ship date is the order's latest — i.e. the
    EXISTS (another supplier) + NOT EXISTS (another equally-late
    supplier) double-correlated subquery, decorrelated into window
    aggregates over one per-(order, supplier) relation: two exchanges
    total (the grouped agg, then the order-keyed window), versus the
    literal translation's two extra self-joins of the fact. All
    comparisons are integer keys and exact timestamps — no float
    anywhere."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    per = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("smax")
    )
    w = Window.partitionBy("l_orderkey")
    stage1 = per.select(
        "l_orderkey",
        "l_suppkey",
        "smax",
        F.max("smax").over(w).alias("omax"),
        F.count(F.lit(1)).over(w).alias("n_supp"),
    )
    # second window chains on the SAME order-key partitioning — no
    # additional exchange, just another pass over the sorted partition
    marked = stage1.withColumn(
        "n_at_max",
        F.count(F.when(F.col("smax") == F.col("omax"), 1)).over(w),
    )
    blamed = marked.filter(
        (F.col("n_supp") >= 2)
        & (F.col("smax") == F.col("omax"))
        & (F.col("n_at_max") == 1)
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        blamed.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "numwait")
    )


def q_cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (argmin per group, sans partsupp): the cheapest
    observed line-item price per part and the supplier that posted it.
    One hash aggregate — min over a (price_cents, suppkey) struct is
    lexicographic, so the supplier tiebreak costs nothing and is fully
    deterministic (no window sort, no join-back). Supplier dim is
    broadcast; the part join stays a keyed equi-join (part is NOT
    assumed broadcastable at 100 TB)."""
    li = load_table(spark, sf_dir, "lineitem")
    price_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    best = (
        li.select("l_partkey", price_c.alias("__pc"), "l_suppkey")
        .groupBy("l_partkey")
        .agg(F.min(F.struct("__pc", "l_suppkey")).alias("__best"))
        .select(
            "l_partkey",
            (F.col("__best.__pc").cast("double") / 100.0).alias("min_price"),
            F.col("__best.l_suppkey").alias("cheapest_suppkey"),
        )
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        best.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("cheapest_suppkey") == F.col("s_suppkey"))
        .select("p_partkey", "p_brand", "min_price", "cheapest_suppkey", "s_name")
    )


def q_tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by nation and year, sans
    partsupp): lineitem joins part (substring name filter), supplier →
    nation, and orders (year key). The fixture has no ps_supplycost, so
    cost is synthesized deterministically as 10% of the part's retail
    price per unit — the same double expression on both engines, so
    the micro-unit rounding is bit-identical. Plan shape: the p_name
    LIKE filter prunes part BEFORE its join; supplier→nation folds
    into one broadcast; orders joins on the orderkey shuffle that the
    lineitem aggregation already needs. Profit summed in exact integer
    micro-units."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains("gear")
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.1) * F.col("p_retailprice") * F.col("l_quantity")
    )
    profit_u = F.sum(F.round(amount * 10000).cast("long"))
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg((profit_u.cast("double") / 10000.0).alias("sum_profit"))
    )


def q_tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock: group-HAVING against a scalar
    subquery fraction of the grand total), adapted sans partsupp: the
    per-part "stock value" is the discounted line revenue supplied by
    one nation's suppliers. The grand total is a 1-row broadcast
    (crossJoin) — the classic scalar-subquery decorrelation — and the
    threshold compare is INTEGER cross-multiplied (value_cents * 2000
    > total_cents ⇔ value > total/2000), so no float tie can flip a
    row across engines. Integer headroom: total_cents * 1 stays far
    under 2^63 up to ~10^16 cents ≈ $100T of revenue."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_7"
    )
    cents = F.sum(
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        .cast("long")
    )
    scoped = (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    per_part = scoped.groupBy("l_partkey").agg(cents.alias("__vc"))
    total = per_part.agg(F.sum("__vc").alias("__tc"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("__vc") * 2000 > F.col("__tc"))
        .select(
            "l_partkey",
            (F.col("__vc").cast("double") / 100.0).alias("stock_value"),
        )
    )


def q_tpch_q12_late_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (two-way conditional counts per category),
    adapted to this schema's columns (no l_shipmode/commitdate): lines
    shipped in 1997 bucket into LATE (>90 days after the order date)
    vs ON-TIME, counting high-priority (1-URGENT/2-HIGH) and
    low-priority orders per bucket — the exact CASE-sum aggregation
    shape of Q12. One fact-fact equi-join on orderkey; day arithmetic
    on midnight-aligned timestamps is exact integers."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp_ntz(F.lit("1997-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp_ntz(F.lit("1998-01-01")))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    bucket = F.when(
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 90, "LATE"
    ).otherwise("ON-TIME")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return j.groupBy(bucket.alias("ship_bucket")).agg(
        F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
        F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
    )


def q_tpch_q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (distinct-supplier counts by part attributes
    with a NOT-IN exclusion), with the part-supplier relation derived
    as DISTINCT (l_partkey, l_suppkey) from lineitem (no partsupp in
    the fixture). "Complaint" suppliers are the deterministic
    s_acctbal < 0 set, excluded by broadcast anti-join — never a
    NOT IN against an unbounded list. The distinct-pairs dedup and the
    final COUNT(DISTINCT) both shuffle on keys already needed; part is
    joined as a keyed equi-join (NOT assumed broadcastable at scale),
    its brand/type/size filters pushed below the join."""
    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 9, 19, 29, 39, 49)
    )
    complaints = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        pairs.join(
            complaints,
            pairs["l_suppkey"] == complaints["s_suppkey"],
            "left_anti",
        )
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q_tpch_q20_excess_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (suppliers holding excess stock of a named part
    family, i.e. the nested agg → semi-join chain): 1997 shipped
    quantity per (part, supplier) for 'small *' parts, compared
    against a synthetic deterministic availqty (no partsupp in the
    fixture: availqty = (31·partkey + suppkey) mod 97 + 5 — pure
    integer arithmetic, identical on both engines). availqty >
    0.5·qty is cross-multiplied to 2·availqty > qty so the compare is
    all-integer. Qualifying suppliers semi-join into the one-nation
    supplier slice."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp_ntz(F.lit("1997-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp_ntz(F.lit("1998-01-01")))
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").startswith("small")
    ).select("p_partkey")
    shipped = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.round("l_quantity").cast("long")).alias("__qty"))
    )
    avail = (F.col("l_partkey") * 31 + F.col("l_suppkey")) % 97 + 5
    excess = (
        shipped.withColumn("__avail", avail)
        .filter(F.col("__avail") * 2 > F.col("__qty"))
        .select("l_suppkey")
        .distinct()
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_3"
    )
    return (
        supp.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(excess, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
    )


def q_ewma_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finite-horizon EWMA control chart on the hourly series: the
    classic SPC detector between the reference's single-lag Poisson
    and its slow regression window. Raw-double output — every value is
    an exact dyadic-rational sum divided once, bit-identical across
    engines by construction (controlchart.py module docstring), so no
    rounding boundary exists to flake on."""
    from gnip_trend_detection_spark.operators.models.controlchart import (
        ewma_chart,
    )

    return ewma_chart(_events_series(spark, sf_dir, 3600))


def q_stream_ewma_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EWMA control chart (streaming/controlchart.py:
    score_stream_ewma, applyInPandasWithState) replayed over 3
    contiguous-time micro-batches (streaming/replay.py). Every EWMA
    term is an exact dyadic sum divided once (controlchart.py module
    docstring), so the stateful fold crossing micro-batch boundaries
    is bit-identical to the batch window expression and this query
    declares ewma_burst's DuckDB oracle verbatim — the fourth
    oracle-checked streaming path."""
    from gnip_trend_detection_spark.streaming import score_stream_ewma
    from gnip_trend_detection_spark.streaming.replay import replay_scored

    ser = _events_series(spark, sf_dir, 3600).select(
        "counter",
        F.timestamp_seconds("bin_ts").alias("interval_start"),
        F.col("count").cast("double").alias("count"),
    )
    out = replay_scored(spark, ser, score_stream_ewma)
    return out.select(
        "counter",
        _epoch_long(F.col("interval_start")).alias("bin_ts"),
        "count",
        "ewma",
        "burst",
    )


def q_stream_cusum_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CUSUM (streaming/controlchart.py:score_stream_cusum)
    replayed over 3 micro-batches, calibrated offline with the batch
    run's floor-quantized per-counter means (one bounded #counters-row
    collect — the documented production calibration contract, see
    streaming/controlchart.py). The quantized-dyadic fold makes the
    stream bit-equal to the batch prefix-sum-minus-running-min
    identity, so this declares cusum_changepoint's oracle verbatim —
    the fifth oracle-checked streaming path."""
    import math

    from gnip_trend_detection_spark.streaming import score_stream_cusum
    from gnip_trend_detection_spark.streaming.replay import replay_scored

    ser = _events_series(spark, sf_dir, 3600)
    mu_rows = (
        ser.groupBy("counter")
        .agg((F.sum("count") / F.count(F.lit(1))).alias("mu"))
        .collect()
    )
    mu_q = {r["counter"]: math.floor(r["mu"] * 64) / 64.0 for r in mu_rows}
    ser_ts = ser.select(
        "counter",
        F.timestamp_seconds("bin_ts").alias("interval_start"),
        F.col("count").cast("double").alias("count"),
    )
    out = replay_scored(spark, ser_ts, lambda s: score_stream_cusum(s, mu_q))
    return out.select(
        "counter",
        _epoch_long(F.col("interval_start")).alias("bin_ts"),
        "count",
        "cusum",
        "alarm",
    )


def q_stream_rebin_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's CORE operator — proportional-split rebin
    (analysis.py:21-157) — as a Structured Streaming windowed
    aggregation (streaming/rebin.py:streaming_rebin), replayed over 3
    contiguous-time micro-batches in COMPLETE mode
    (streaming/replay.py:replay_complete): the memory sink's final
    table is the aggregate over every slice, so the stream must equal
    the batch epoch-grid rebin bin-for-bin. 80s intervals → 120s bins
    exercises genuine straddle splits; every weight is a multiple of
    0.5 (overlaps are multiples of 40s over an 80s interval), so the
    weighted sums are exact in double and order/partitioning
    independent — hash-safe against the SQL twin. Sixth oracle-checked
    streaming path, and the first windowed-AGGREGATION one (the other
    five are per-point stateful scorers)."""
    from gnip_trend_detection_spark.streaming import streaming_rebin
    from gnip_trend_detection_spark.streaming.replay import replay_complete

    counts = counts_from_events(spark, sf_dir, 80)
    out = replay_complete(
        spark, counts, lambda s: streaming_rebin(s, "minutes", 2)
    )
    return out.select(
        "counter",
        _epoch_long(F.col("bin_start")).alias("bin_ts"),
        F.col("count").cast("double").alias("count"),
    )


def q_stream_sessionize_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (streaming/sessionize.py, session_window
    + watermark) replayed over 3 event-time micro-batches in APPEND
    mode (streaming/replay.py:replay_relation): the sink holds every
    session the advancing watermark closed. Probed-and-pinned boundary
    semantics (tests/test_streaming.py::test_session_window_boundaries):
    two events exactly `gap` apart MERGE (Spark's merge rule is
    diff <= gap, the docs' strict-< reading is wrong at the boundary),
    and a session whose end equals the final watermark IS emitted —
    the SQL twin breaks on diff > gap and keeps session_end <= max
    event time. Micros-integer session bounds keep the hash exact.
    Seventh oracle-checked streaming path, and the first session-window
    (merging-state) one."""
    from gnip_trend_detection_spark.streaming import sessionize_stream
    from gnip_trend_detection_spark.streaming.replay import replay_relation

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    out = replay_relation(
        spark,
        ev,
        lambda s: sessionize_stream(s, gap="30 minutes"),
        time_col="ts",
        output_mode="append",
    )
    return out.select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        F.col("n_events").cast("long").alias("n_events"),
    )


def q_stream_rollup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hypertable continuous-aggregate's fine level — the hourly
    tumbling-window rollup (streaming/rollup.py:hourly_rollup_stream)
    — replayed over 3 event-time micro-batches in APPEND mode: each
    hour row reaches the sink exactly once, when the watermark (max
    event time − 2h delay) closes it, so the sink is the set of CLOSED
    hours. Probed boundary (tests/test_streaming.py::
    test_tumbling_window_closure_boundary): a window whose end equals
    the watermark IS emitted — the SQL twin keeps hour_end <= max(ts)
    − 7200. Weight 1.0 makes every sum an exact integer-valued double
    (order-independent, hash-safe). Eighth oracle-checked streaming
    path."""
    from gnip_trend_detection_spark.streaming.rollup import (
        hourly_rollup_stream,
    )
    from gnip_trend_detection_spark.streaming.replay import replay_relation

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("counter"),
        "ts",
        F.lit(1.0).alias("weight"),
    )
    return replay_relation(
        spark,
        ev,
        hourly_rollup_stream,
        time_col="ts",
        output_mode="append",
    )


def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change-point chart on the hourly series, the
    recursion rewritten as prefix-sum minus running-min (two ordered
    windows, one exchange — data-parallel, unlike the sequential
    textbook fold). Mean quantized to a power-of-two grid so all
    running sums are exact; raw doubles out."""
    from gnip_trend_detection_spark.operators.models.controlchart import (
        cusum_chart,
    )

    return cusum_chart(_events_series(spark, sf_dir, 3600))


def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive trend/seasonal/residual split of the hourly series
    (centered +/-12h moving average; hour-of-day seasonal means) — the
    decomposition form of the reference's cycle model idea
    (models.py:112-158). Detrended values are floor-quantized to 2^-14
    before the seasonal hash agg, making the per-phase mean
    merge-order-invariant in both engines."""
    from gnip_trend_detection_spark.operators.models.controlchart import (
        seasonal_decompose,
    )

    return seasonal_decompose(_events_series(spark, sf_dir, 3600))


def q_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-style last-touch attribution: every purchase is
    attributed to the same user's latest click/view at or before it,
    then rolled up per touch type (n attributed, mean lag). Reuses the
    as-of join operator (operators/asof.py — union + ONE keyed running
    window, no range join); the touch relation is first made unique
    per (user, second) with a struct-max so the as-of match is
    deterministic under timestamp collisions. Lag sums are exact
    integer seconds; the single mean division is the only float."""
    from gnip_trend_detection_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    e = F.floor(F.col("ts").cast("double")).cast("long")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", e.alias("t"), F.col("event_id").alias("purchase_id")
    )
    touches = (
        ev.filter(F.col("event_type").isin("click", "view"))
        .select(
            "user_id",
            e.alias("rt"),
            F.col("event_id").alias("touch_id"),
            F.col("event_type").alias("touch_type"),
        )
        .groupBy("user_id", "rt")
        .agg(F.max(F.struct("touch_id", "touch_type")).alias("__m"))
        .select(
            "user_id",
            "rt",
            F.col("__m.touch_id").alias("touch_id"),
            F.col("__m.touch_type").alias("touch_type"),
        )
    )
    j = asof_join(
        purchases,
        touches,
        on=["user_id"],
        left_time="t",
        right_time="rt",
        value_cols=["touch_type"],
    )
    return (
        j.withColumn(
            "touch_bucket", F.coalesce(F.col("touch_type"), F.lit("none"))
        )
        .groupBy("touch_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.col("t") - F.col("asof_time")).alias("total_lag_sec"),
            # integer MICRO-seconds (quality_micro discipline): one
            # double divide + one round-to-integer, no decimal-round
            # tie for engines to disagree on
            F.round(
                F.sum(F.col("t") - F.col("asof_time")).cast("double")
                * 1000000.0
                / F.count(F.when(F.col("asof_time").isNotNull(), 1))
            )
            .cast("long")
            .alias("mean_lag_micro"),
        )
    )


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-paper document quality gates over the corpus
    (extras/text.py:gopher_rules): zero-shuffle scan, integer-only
    rule boundaries."""
    return text.gopher_rules(_docs(spark, sf_dir))


def _quality_vs_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, quality_micro, keep): heuristic quality score joined
    with the Gopher gate verdict — the two filters later ops compare."""
    docs = _docs(spark, sf_dir)
    q = text.quality_score(docs)
    g = text.gopher_rules(docs).select("doc_id", "keep")
    return q.join(g, "doc_id")


def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of the heuristic quality score against the
    Gopher keep verdict (extras/classifier.py:calibration_bins):
    10 equal-width score bins, exact integer sums, per-bin observed
    pass rate — the table behind every calibration plot."""
    from gnip_trend_detection_spark.extras.classifier import calibration_bins

    return calibration_bins(
        _quality_vs_gopher(spark, sf_dir), "quality_micro", "keep"
    )


def q_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected calibration error over the same bins (extras/
    classifier.py:expected_calibration_error) — the scalar summary of
    q_calibration_bins."""
    from gnip_trend_detection_spark.extras.classifier import (
        expected_calibration_error,
    )

    return expected_calibration_error(
        _quality_vs_gopher(spark, sf_dir), "quality_micro", "keep"
    )


def q_filter_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the Gopher gate and the quality-score
    gate at 0.5 (extras/classifier.py:cohens_kappa) — chance-corrected
    agreement from one exact 2x2 confusion aggregate."""
    from gnip_trend_detection_spark.extras.classifier import cohens_kappa

    j = _quality_vs_gopher(spark, sf_dir).select(
        F.col("keep").alias("gopher_keep"),
        (F.col("quality_micro") >= 500000).alias("score_keep"),
    )
    return cohens_kappa(j, "gopher_keep", "score_keep")


def q_rolling_hour_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based sliding window via a RANGE frame: for every event,
    the count and value-sum of the same user's events in the trailing
    hour (inclusive). This is the specialized RangeFrame window
    executor — distinct from ROWS frames and from the grid-bucketed
    range join: no explode, no second relation, ONE user-keyed
    exchange + sort serves both aggregates. Value sums are integer
    cents so the running totals are fold-order-proof."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.col("ts").cast("double").cast("long").alias("e"),
        F.round(F.col("value") * 100).cast("long").alias("__vc"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("e")
        .rangeBetween(-3600, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "e",
        F.count(F.lit(1)).over(w).alias("n_hour"),
        (F.sum("__vc").over(w).cast("double") / 100.0).alias("value_hour"),
    )


def q_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle of the document corpus into 8
    training shards: (shard, pos) depend only on (doc_id, seed), so
    the epoch order reproduces on any cluster layout / retry — the
    training-order primitive `orderBy(rand())` cannot provide. One
    shard-keyed exchange + per-shard sort; never a single-partition
    window (see extras/sample.py:global_shuffle scale note)."""
    from gnip_trend_detection_spark.extras.sample import global_shuffle

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return global_shuffle(docs, key_col="doc_id", seed=7, n_shards=8).select(
        "doc_id", "source", "shard", "pos"
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing manifest: docs laid
    end-to-end in the deterministic shuffle order, per-shard token
    streams cut into 512-token blocks; each doc's (shard, pos,
    tok_start, tok_end, block_start, block_end, n_blocks) placement
    row (extras/sample.py:pack_sequences). Token counts are
    whitespace-token counts — the same tokenizer every text operator
    uses."""
    from gnip_trend_detection_spark.extras.sample import pack_sequences

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.size(text.tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    return pack_sequences(
        docs, n_tokens_col="n_tokens", seed=7, n_shards=8, block_tokens=512
    )


def q_embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parity-pinned spherical k-means over the embedding corpus
    (k=8, 2 Lloyd rounds, seeded md5 init): every vector's final
    (cluster, rounded cosine) — the curation-clustering primitive
    behind cluster-balanced sampling and per-cell dedup
    (extras/similarity.py:kmeans_fit_predict)."""
    from gnip_trend_detection_spark.extras.similarity import kmeans_fit_predict

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_fit_predict(emb, n_centroids=8, n_iter=2, seed=7)


def q_lang_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-quality audit: per source, how often the heuristic
    lang_id prediction agrees with the corpus's declared lang column —
    the metadata-trust check run before lang-conditional curation
    rules are applied. lang_id is a row-local expression of the token
    array (extras/text.py:lang_pred_from_toks), so the prediction is
    computed in place on the one corpus scan instead of joining the
    lang_id relation back on doc_id — same values by construction
    (lang_id IS docs.select of this expression), one scan and one
    grouped aggregate, zero joins (guide §2.4)."""
    docs = _docs(spark, sf_dir)
    t = materialize_col(
        docs.select("lang", "source", "text"),
        F.coalesce(
            text.tokens(F.col("text")), F.array().cast("array<string>")
        ),
        "__toks",
    )
    p = text.lang_pred_from_toks(F.col("__toks"))
    j = t.select(
        "lang", "source", p["predicted_lang"].alias("predicted_lang")
    )
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("lang") == F.col("predicted_lang")).cast("long")).alias(
            "n_agree"
        ),
        F.sum((F.col("predicted_lang") == "und").cast("long")).alias("n_und"),
        (
            F.round(
                F.sum((F.col("lang") == F.col("predicted_lang")).cast("long"))
                / F.count(F.lit(1)).cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("agree_rate"),
    )


def q_embedding_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift per label (extras/similarity.py:
    embedding_shift): even vec_ids as the reference batch vs odd as
    the candidate — mean-vector L2 shift / cosine / max-dim shift."""
    from gnip_trend_detection_spark.extras.similarity import embedding_shift

    return embedding_shift(load_table(spark, sf_dir, "embeddings"))


def q_kmeans_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster simplified silhouette of the parity-pinned k-means
    (extras/similarity.py:kmeans_silhouette) — the fit-quality gate
    before cluster-balanced sampling trusts the cells."""
    from gnip_trend_detection_spark.extras.similarity import kmeans_silhouette

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_silhouette(emb, n_centroids=8, n_iter=2, seed=7)


def q_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster label purity of the pinned k-means (extras/
    similarity.py:cluster_purity) — the external eval next to the
    silhouette's internal one."""
    from gnip_trend_detection_spark.extras.similarity import cluster_purity

    return cluster_purity(load_table(spark, sf_dir, "embeddings"))


def q_cluster_nmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NMI between the pinned k-means clustering and labels (extras/
    similarity.py:cluster_nmi) — the tiny-cluster-proof rollup of
    cluster_purity."""
    from gnip_trend_detection_spark.extras.similarity import cluster_nmi

    return cluster_nmi(load_table(spark, sf_dir, "embeddings"))


def q_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard fill report over the sequence-packing manifest: docs,
    placed tokens, blocks used, fill rate vs block capacity — the
    padding-waste audit a training pipeline reads before accepting a
    packing plan. Pure rollup of q_pack_sequences' placement rows."""
    placements = q_pack_sequences(spark, sf_dir)
    return placements.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("tok_end") - F.col("tok_start"))
        .cast("long")
        .alias("n_tokens"),
        (F.max("block_end") + 1).cast("long").alias("n_blocks"),
        (
            F.round(
                F.sum(F.col("tok_end") - F.col("tok_start"))
                / ((F.max("block_end") + 1).cast("double") * 512.0),
                6,
            )
            + F.lit(0.0)
        ).alias("fill_rate"),
    )


def q_winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization audit of events.value at the exact global
    [p01, p99] (operators/quantile.py:winsorized_stats): per-type
    clamp rates and exact-integer before/after means."""
    from gnip_trend_detection_spark.operators.quantile import winsorized_stats

    ev = load_table(spark, sf_dir, "events")
    return winsorized_stats(ev, "value", "event_type")


def q_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced inspection sample: k-means the embedding
    space, then draw a deterministic 20-vector quota per cluster —
    the curation move that keeps a sample representative of the
    embedding space instead of its volume skew (composition of
    kmeans_fit_predict + sample_per_group; WindowGroupLimit keeps
    per-reducer state O(k))."""
    from gnip_trend_detection_spark.extras.sample import sample_per_group
    from gnip_trend_detection_spark.extras.similarity import kmeans_fit_predict

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = kmeans_fit_predict(
        emb, n_centroids=8, n_iter=2, seed=7, with_score=False
    )
    return sample_per_group(
        assigned, "cluster", k=20, key_col="vec_id", seed=11
    )


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: every 25th
    vector is an anchor; return its 10 nearest DIFFERENT-label corpus
    vectors by cosine. One BLAS map pass over the corpus vs the
    broadcast anchor matrix; per-batch local top-k bounds the shuffle
    to anchors*k*batches rows (extras/similarity.py:
    mine_hard_negatives)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.mine_hard_negatives(
        emb, emb.filter(F.col("vec_id") % 25 == 0), k=10
    )


# --------------------------------------------------------------- registry

ALL: dict[str, QueryFn] = {
    "rebin_contained": q_rebin_contained,
    "rebin_straddle": q_rebin_straddle,
    "rebin_span": q_rebin_span,
    "rebin_filtered": q_rebin_filtered,
    "plot_rebin": q_plot_rebin,
    "poisson_lc_eta": q_poisson_lc_eta,
    "detect_threshold": q_detect_threshold,
    "detect_top1": q_detect_top1,
    "poisson_cycle_nu": q_poisson_cycle_nu,
    "poisson_cycle_eta": q_poisson_cycle_eta,
    "poisson_cycle_weekday": q_poisson_cycle_weekday,
    "linreg_slope": q_linreg_slope,
    "mann_kendall_z": q_mann_kendall_z,
    "mann_kendall_trend": q_mann_kendall_trend,
    "stream_poisson_lc_replay": q_stream_poisson_lc_replay,
    "stream_mann_kendall_replay": q_stream_mann_kendall_replay,
    "stream_poisson_cycle_replay": q_stream_poisson_cycle_replay,
    "stream_ewma_replay": q_stream_ewma_replay,
    "stream_cusum_replay": q_stream_cusum_replay,
    "stream_rebin_replay": q_stream_rebin_replay,
    "stream_sessionize_replay": q_stream_sessionize_replay,
    "stream_rollup_replay": q_stream_rollup_replay,
    "wdt_eta": q_wdt_eta,
    "correlation_pairs": q_correlation_pairs,
    "correlation_pairs_dense": q_correlation_pairs_dense,
    "roc_points": q_roc_points,
    "precision_recall": q_precision_recall,
    "detection_latency": q_detection_latency,
    "transform_add_one": q_transform_add_one,
    "transform_unit_norm": q_transform_unit_norm,
    "transform_log_scale": q_transform_log_scale,
    "transform_smooth": q_transform_smooth,
    "transform_spike_norm": q_transform_spike_norm,
    "transform_sizing": q_transform_sizing,
    "transform_sliding": q_transform_sliding,
    "transform_index_smooth": q_transform_index_smooth,
    "transform_chain_test": q_transform_chain_test,
    "transform_chain_reference": q_transform_chain_reference,
    "rebin_value_weighted": q_rebin_value_weighted,
    "dedup_exact": q_dedup_exact,
    "minhash_signatures": q_minhash_signatures,
    "lsh_candidate_pairs": q_lsh_candidate_pairs,
    "lsh_recall_eval": q_lsh_recall_eval,
    "dedup_clusters": q_dedup_clusters,
    "simhash64": q_simhash64,
    "ngram_jaccard": q_ngram_jaccard,
    "duplicated_spans": q_duplicated_spans,
    "source_overlap": q_source_overlap,
    "text_token_stats": q_text_token_stats,
    "text_bpe_tokens": q_text_bpe_tokens,
    "text_quality": q_text_quality,
    "text_lang_id": q_text_lang_id,
    "text_repetition": q_text_repetition,
    "tfidf_top_terms": q_tfidf_top_terms,
    "semantic_dedup": q_semantic_dedup,
    "unigram_logppl": q_unigram_logppl,
    "bigram_logppl": q_bigram_logppl,
    "kn_logppl": q_kn_logppl,
    "char_entropy": q_char_entropy,
    "fertility_by_lang": q_fertility_by_lang,
    "winnow_fingerprints": q_winnow_fingerprints,
    "dsir_scores": q_dsir_scores,
    "set_similarity_join": q_set_similarity_join,
    "segment_dedup": q_segment_dedup,
    "zipf_slope": q_zipf_slope,
    "canonical_docs": q_canonical_docs,
    "calibration_bins": q_calibration_bins,
    "calibration_ece": q_calibration_ece,
    "filter_agreement": q_filter_agreement,
    "vocab_growth": q_vocab_growth,
    "key_skew": q_key_skew,
    "kmeans_silhouette": q_kmeans_silhouette,
    "winsorize_values": q_winsorize_values,
    "source_js": q_source_js,
    "split_leakage": q_split_leakage,
    "decontaminate_fuzzy": q_decontaminate_fuzzy,
    "longest_dup_span": q_longest_dup_span,
    "normalize_text": q_normalize_text,
    "psi_between_types": q_psi_between_types,
    "psi_timeline": q_psi_timeline,
    "embedding_shift": q_embedding_shift,
    "lang_agreement": q_lang_agreement,
    "categorical_drift": q_categorical_drift,
    "cluster_purity": q_cluster_purity,
    "cluster_nmi": q_cluster_nmi,
    "packing_efficiency": q_packing_efficiency,
    "quality_percentile_gate": q_quality_percentile_gate,
    "unimax_budget": q_unimax_budget,
    "budget_materialize": q_budget_materialize,
    "pii_scrub": q_pii_scrub,
    "events_rollup": q_events_rollup,
    "asof_enrich": q_asof_enrich,
    "value_quantiles": q_value_quantiles,
    "value_histogram": q_value_histogram,
    "value_quantiles_approx": q_value_quantiles_approx,
    "global_quantiles": q_global_quantiles,
    "grouped_quantiles": q_grouped_quantiles,
    "mad_outliers": q_mad_outliers,
    "corpus_report": q_corpus_report,
    "range_burst_count": q_range_burst_count,
    "tpch_q3_shipping": q_tpch_q3_shipping,
    "tpch_q10_returned": q_tpch_q10_returned,
    "tpch_q18_large_orders": q_tpch_q18_large_orders,
    "tpch_q5_local_revenue": q_tpch_q5_local_revenue,
    "doc_fingerprint": q_doc_fingerprint,
    "bm25_search": q_bm25_search,
    "decontaminate": q_decontaminate,
    "benchmark_leakage": q_benchmark_leakage,
    "decontaminate_bloom": q_decontaminate_bloom,
    "stratified_sample": q_stratified_sample,
    "chunk_documents": q_chunk_documents,
    "mix_sources": q_mix_sources,
    "embedding_covariance": q_embedding_covariance,
    "embedding_pca": q_embedding_pca,
    "pca_invariants": q_pca_invariants,
    "dataset_split": q_dataset_split,
    "heavy_hitter_terms": q_heavy_hitter_terms,
    "heavy_hitters_cms": q_heavy_hitters_cms,
    "k_anonymity": q_k_anonymity,
    "weighted_sample": q_weighted_sample,
    "pq_codes": q_pq_codes,
    "sample_per_group": q_sample_per_group,
    "bpe_vocab": q_bpe_vocab,
    "curation_pipeline": q_curation_pipeline,
    "pack_shards": q_pack_shards,
    "cosine_neardup_pairs": q_cosine_neardup_pairs,
    "cosine_neardup_blocked": q_cosine_neardup_blocked,
    "ann_topk": q_ann_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "ann_lsh_topk": q_ann_lsh_topk,
    "knn_label": q_knn_label,
    "tpch_q1_pricing": q_tpch_q1_pricing,
    "tpch_q4_priority": q_tpch_q4_priority,
    "tpch_q6_revenue": q_tpch_q6_revenue,
    "distinct_users": q_distinct_users,
    "distinct_users_approx": q_distinct_users_approx,
    "pmi_collocations": q_pmi_collocations,
    "logreg_quality": q_logreg_quality,
    "logreg_invariants": q_logreg_invariants,
    "latest_event_per_user": q_latest_event_per_user,
    "series_features": q_series_features,
    "event_funnel": q_event_funnel,
    "cohort_retention": q_cohort_retention,
    "tpch_q13_custdist": q_tpch_q13_custdist,
    "quality_blend": q_quality_blend,
    "bpe_encode_stats": q_bpe_encode_stats,
    "bpe_contract": q_bpe_contract,
    "scd2_dimension": q_scd2_dimension,
    "sales_rollup": q_sales_rollup,
    "event_type_pivot": q_event_type_pivot,
    "event_type_unpivot": q_event_type_unpivot,
    "tpch_q17_small_qty": q_tpch_q17_small_qty,
    "tpch_q15_top_supplier": q_tpch_q15_top_supplier,
    "tpch_q22_idle_customers": q_tpch_q22_idle_customers,
    "tpch_q21_blame_supplier": q_tpch_q21_blame_supplier,
    "tpch_q7_nation_volume": q_tpch_q7_nation_volume,
    "tpch_q8_market_share": q_tpch_q8_market_share,
    "tpch_q19_disjunctive": q_tpch_q19_disjunctive,
    "cheapest_supplier_per_part": q_cheapest_supplier_per_part,
    "tpch_q9_product_profit": q_tpch_q9_product_profit,
    "tpch_q11_important_stock": q_tpch_q11_important_stock,
    "tpch_q12_late_priority": q_tpch_q12_late_priority,
    "tpch_q16_supplier_counts": q_tpch_q16_supplier_counts,
    "tpch_q20_excess_stock": q_tpch_q20_excess_stock,
    "ewma_burst": q_ewma_burst,
    "cusum_changepoint": q_cusum_changepoint,
    "seasonal_decompose": q_seasonal_decompose,
    "gopher_quality": q_gopher_quality,
    "rolling_hour_activity": q_rolling_hour_activity,
    "last_touch_attribution": q_last_touch_attribution,
    "sessionize": q_sessionize,
    "top_users_per_event": q_top_users_per_event,
    "props_field_stats": q_props_field_stats,
    "multimodal_meta": q_multimodal_meta,
    "multimodal_decode": q_multimodal_decode,
    "multimodal_real_decode": q_multimodal_real_decode,
    "multimodal_features": q_multimodal_features,
    "multimodal_frames": q_multimodal_frames,
    "multimodal_resize": q_multimodal_resize,
    "multimodal_resize_real": q_multimodal_resize_real,
    "fuzzy_vocab_pairs": q_fuzzy_vocab_pairs,
    "sample_estimate": q_sample_estimate,
    "embedding_quantize": q_embedding_quantize,
    "embedding_simhash": q_embedding_simhash,
    "conversion_within_hour": q_conversion_within_hour,
    "label_centroids": q_label_centroids,
    "value_outliers": q_value_outliers,
    "psi_drift": q_psi_drift,
    "ks_drift": q_ks_drift,
    "dq_audit": q_dq_audit,
    "hashed_tf_features": q_hashed_tf_features,
    "session_motifs": q_session_motifs,
    "tpch_q14_promo_share": q_tpch_q14_promo_share,
    "mix_temperature": q_mix_temperature,
    "training_order": q_training_order,
    "pack_sequences": q_pack_sequences,
    "embedding_kmeans": q_embedding_kmeans,
    "cluster_balanced_sample": q_cluster_balanced_sample,
    "hard_negatives": q_hard_negatives,
    "theil_sen_slope": q_theil_sen_slope,
    "detector_ensemble": q_detector_ensemble,
}
