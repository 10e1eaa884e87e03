"""Config-driven trend pipeline (SURVEY §3 E1-E3, §2.10 plugin
registry, §2.1 S9 config source).

The reference runs three CLI scripts (`trend_rebin.py`,
`trend_analyze.py`, `trend_analyze_many.py`) parameterized by an INI
file; model/distance/transformation plugins resolve by name via
getattr reflection (trend_analyze.py:35-41, models.py:208,
library.py:39-54). Here:

- the whole rebin → model → detect flow is ONE DataFrame program
  (`TrendPipeline`); the reference's multiprocessing fan-out
  (trend_analyze_many.py:152-232) is the shuffle partitioning of
  groupBy('counter') — no pools, no pickling, no poll loops;
- `MODEL_REGISTRY` replaces getattr reflection with an explicit
  name → builder map (same public names the reference accepts in its
  `[analyze] model_name` key);
- `load_config` reads the reference's INI layout (config.cfg.example)
  with the same section/key names, so an existing config file drives
  this engine unchanged.

Scale: the only shuffles are (1) the rebin span + bin aggregates and
(2) the per-counter window repartition shared by every model. A
counter whitelist applies as a broadcast semi-join *before* the heavy
stages (reference trend_analyze_many.py:135-147).
"""

from __future__ import annotations

import configparser
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gnip_trend_detection_spark.operators.models import (
    linear_regression_model,
    mann_kendall,
    poisson_cycle,
    poisson_lc,
    weighted_data_templates,
)
from gnip_trend_detection_spark.operators.rebin import rebin


def _build_poisson(cfg: dict[str, Any]):
    mode = str(cfg.get("mode", "lc"))
    alpha = float(cfg.get("alpha", 0.99))
    if mode == "lc":
        return lambda df, **kw: poisson_lc(df, alpha=alpha, **kw)
    if mode == "a":
        periods = cfg.get("period_list", "hour")
        if isinstance(periods, str):
            periods = [p.strip() for p in periods.strip("[]").split(",") if p.strip()]
        return lambda df, **kw: poisson_cycle(df, period_list=periods, alpha=alpha, **kw)
    raise ValueError(f"unsupported Poisson mode {mode!r}")


def _build_mann_kendall(cfg: dict[str, Any]):
    ws = cfg.get("window_size")
    ws = int(ws) if ws not in (None, "", "None") else None
    return lambda df, **kw: mann_kendall(df, window_size=ws, **kw)


def _build_theil_sen(cfg: dict[str, Any]):
    from gnip_trend_detection_spark.operators.models.theil_sen import theil_sen

    ws = int(cfg.get("window_size", 20))
    return lambda df, **kw: theil_sen(df, window_size=ws, **kw)


def _build_linreg(cfg: dict[str, Any]):
    return lambda df, **kw: linear_regression_model(
        df,
        min_points=int(cfg.get("min_points", 10)),
        averaging_window_size=int(cfg.get("averaging_window_size", 1)),
        regression_window_size=(
            int(cfg["regression_window_size"])
            if cfg.get("regression_window_size") not in (None, "", "None")
            else None
        ),
        norm_by_mean=str(cfg.get("norm_by_mean", "False")).lower() == "true",
        **kw,
    )


def _build_wdt(cfg: dict[str, Any]):
    library = cfg.get("library")
    if isinstance(library, str):
        # an INI can only name the library: a parquet table written by
        # operators.library.build_library, read through the session the
        # pipeline runs in (the reference unpickles it, models.py:134-138)
        spark = SparkSession.getActiveSession()
        if spark is None:
            raise ValueError(
                "WeightedDataTemplates library path needs an active SparkSession"
            )
        library = spark.read.parquet(library)
    if not isinstance(library, DataFrame):
        raise ValueError(
            "WeightedDataTemplates needs cfg['library'] as a parquet path or "
            "a DataFrame (series_id, is_trend, points)"
        )
    missing = [
        c for c in ("series_id", "is_trend", "points") if c not in library.columns
    ]
    if missing:
        raise ValueError(f"WeightedDataTemplates library lacks columns {missing}")
    distance = str(cfg.get("distance_measure_name", "l1"))
    return lambda df, **kw: weighted_data_templates(
        df,
        library,
        series_length=int(cfg.get("series_length", 50)),
        reference_length=int(cfg.get("reference_length", 210)),
        lam=float(cfg.get("lambda", 1.0)),
        # the reference's "euclidean" computes L1 (models.py:232-236)
        distance="l1" if distance == "euclidean" else distance,
        baseline_offset=int(cfg.get("baseline_offset", 40)),
        n_smooth=int(cfg.get("n_smooth", 80)),
        **kw,
    )


# Reference model names (trend_analyze.py getattr targets) → builder.
MODEL_REGISTRY: dict[str, Callable[[dict[str, Any]], Callable[..., DataFrame]]] = {
    "Poisson": _build_poisson,
    "MannKendall": _build_mann_kendall,
    "LinearRegressionModel": _build_linreg,
    "WeightedDataTemplates": _build_wdt,
    # engine extension: robust companion to MannKendall/LinearRegression
    "TheilSen": _build_theil_sen,
}


def register_model(name: str, builder: Callable[[dict[str, Any]], Callable[..., DataFrame]]):
    """§2.10 plugin surface: user models register a builder that maps a
    config dict to a DataFrame transform (series → D4 etas)."""
    MODEL_REGISTRY[name] = builder


@dataclass
class PipelineConfig:
    """The INI surface of config.cfg.example, typed."""

    binning_unit: str = "hours"
    n_binning_unit: int = 1
    start_time: str | None = None
    stop_time: str | None = None
    keep_float_counts: bool = False
    model_name: str = "Poisson"
    model_params: dict[str, Any] = field(default_factory=dict)
    theta: float | None = None
    counter_whitelist: list[str] | None = None


def load_config(path: str) -> PipelineConfig:
    """Read the reference's INI layout: [rebin] binning_unit /
    n_binning_unit / start_time / stop_time, [analyze] model_name,
    [<model>_model] params (trend_rebin.py:72-82,
    trend_analyze.py:32-36)."""
    cp = configparser.ConfigParser()
    with open(path) as f:
        cp.read_file(f)
    cfg = PipelineConfig()
    if cp.has_section("rebin"):
        r = cp["rebin"]
        cfg.binning_unit = r.get("binning_unit", cfg.binning_unit)
        cfg.n_binning_unit = r.getint("n_binning_unit", cfg.n_binning_unit)
        cfg.start_time = r.get("start_time", None)
        cfg.stop_time = r.get("stop_time", None)
    if cp.has_section("analyze"):
        cfg.model_name = cp["analyze"].get("model_name", cfg.model_name)
    section = f"{cfg.model_name}_model"
    if cp.has_section(section):
        cfg.model_params = dict(cp[section])
    return cfg


class TrendPipeline:
    """rebin → model → detect as one composable DataFrame program
    (the whole of trend_analyze_many.py:126-263 without the process
    pool)."""

    def __init__(self, config: PipelineConfig):
        self.config = config
        if config.model_name not in MODEL_REGISTRY:
            raise ValueError(
                f"unknown model {config.model_name!r}; "
                f"registered: {sorted(MODEL_REGISTRY)}"
            )
        self._model = MODEL_REGISTRY[config.model_name](config.model_params)

    def rebin(self, counts: DataFrame) -> DataFrame:
        c = self.config
        df = counts
        if c.counter_whitelist is not None:
            # broadcast semi-join reduction before the heavy stages
            # (reference trend_analyze_many.py:135-147)
            df = df.filter(F.col("counter").isin([w.strip() for w in c.counter_whitelist]))
        return rebin(
            df,
            binning_unit=c.binning_unit,
            n_binning_unit=c.n_binning_unit,
            start_time=c.start_time,
            stop_time=c.stop_time,
            keep_float_counts=c.keep_float_counts,
        )

    def analyze(self, rebinned: DataFrame) -> DataFrame:
        return self._model(rebinned)

    def detect(self, scored: DataFrame) -> DataFrame:
        from gnip_trend_detection_spark.operators.detect import detect_threshold

        if self.config.theta is None:
            return scored
        return detect_threshold(scored, self.config.theta)

    def run(self, counts: DataFrame) -> DataFrame:
        return self.detect(self.analyze(self.rebin(counts)))
