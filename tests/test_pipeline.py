"""TrendPipeline (E3 as one DataFrame program) + config + registry."""

import os
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"

INI = """
[rebin]
binning_unit = minutes
n_binning_unit = 2

[analyze]
model_name = Poisson

[Poisson_model]
mode = lc
alpha = 0.95
"""


@pytest.fixture(scope="module")
def counts(spark):
    from gnip_trend_detection_spark.sources.tables import counts_from_events

    return counts_from_events(spark, SF, 60).cache()


def test_config_pipeline_equals_manual_composition(spark, counts):
    from gnip_trend_detection_spark.operators.models import poisson_lc
    from gnip_trend_detection_spark.operators.rebin import rebin
    from gnip_trend_detection_spark.pipeline import TrendPipeline, load_config

    with tempfile.NamedTemporaryFile("w", suffix=".cfg", delete=False) as f:
        f.write(INI)
        path = f.name
    try:
        cfg = load_config(path)
    finally:
        os.unlink(path)
    assert cfg.model_name == "Poisson"
    assert cfg.model_params["alpha"] == "0.95"

    pipe = TrendPipeline(cfg)
    got = {
        (r["counter"], r["interval_start"]): r["eta"]
        for r in pipe.run(counts).collect()
    }
    manual = poisson_lc(
        rebin(counts, binning_unit="minutes", n_binning_unit=2), alpha=0.95
    )
    want = {
        (r["counter"], r["interval_start"]): r["eta"] for r in manual.collect()
    }
    assert got == want
    assert len(want) > 0


def test_whitelist_and_theta(spark, counts):
    from gnip_trend_detection_spark.pipeline import PipelineConfig, TrendPipeline

    some_counter = counts.select("counter").first()["counter"]
    cfg = PipelineConfig(
        binning_unit="minutes",
        n_binning_unit=2,
        model_name="Poisson",
        model_params={"mode": "lc"},
        theta=0.5,
        counter_whitelist=[some_counter],
    )
    out = TrendPipeline(cfg).run(counts)
    rows = out.collect()
    assert all(r["counter"] == some_counter for r in rows)
    assert all(r["eta"] > 0.5 for r in rows)


def test_registry_rejects_unknown_and_accepts_plugins(spark, counts):
    from pyspark.sql import functions as F

    from gnip_trend_detection_spark.pipeline import (
        MODEL_REGISTRY,
        PipelineConfig,
        TrendPipeline,
        register_model,
    )

    with pytest.raises(ValueError, match="unknown model"):
        TrendPipeline(PipelineConfig(model_name="Nope"))

    def _const_builder(params):
        k = float(params.get("k", 1.0))

        def _run(df, **kw):
            return df.select(
                "counter",
                F.col("bin_start").alias("interval_start"),
                F.col("count").cast("double").alias("count"),
                F.lit(k).alias("eta"),
            )

        return _run

    register_model("ConstModel", _const_builder)
    try:
        cfg = PipelineConfig(
            binning_unit="minutes",
            n_binning_unit=2,
            model_name="ConstModel",
            model_params={"k": 2.5},
        )
        out = TrendPipeline(cfg).run(counts)
        assert out.select("eta").distinct().collect()[0]["eta"] == 2.5
    finally:
        del MODEL_REGISTRY["ConstModel"]


def test_cycle_and_mk_via_registry(spark, counts):
    from gnip_trend_detection_spark.pipeline import PipelineConfig, TrendPipeline

    for name, params in [
        ("Poisson", {"mode": "a", "period_list": "[hour]"}),
        ("MannKendall", {"window_size": "10"}),
        ("LinearRegressionModel", {"min_points": "5", "averaging_window_size": "3"}),
    ]:
        cfg = PipelineConfig(
            binning_unit="minutes", n_binning_unit=2, model_name=name, model_params=params
        )
        out = TrendPipeline(cfg).run(counts)
        assert out.columns == ["counter", "interval_start", "count", "eta"]
        assert out.count() > 0


WDT_INI = """
[rebin]
binning_unit = minutes
n_binning_unit = 2

[analyze]
model_name = WeightedDataTemplates

[WeightedDataTemplates_model]
library = {library}
series_length = 4
reference_length = 8
lambda = 0.5
distance_measure_name = euclidean
baseline_offset = 2
n_smooth = 3
"""


def _wdt_library(spark):
    import random

    rnd = random.Random(11)
    return spark.createDataFrame(
        [
            (i, i % 2 == 0, [rnd.uniform(-1.0, 1.0) for _ in range(8 + i % 3)])
            for i in range(12)
        ],
        "series_id long, is_trend boolean, points array<double>",
    )


def test_wdt_from_ini_with_parquet_library(spark, counts, tmp_path):
    """`[analyze] model_name = WeightedDataTemplates` runs from an INI:
    the `library` key names a parquet table, and the reference's
    `euclidean` (an L1 distance) scores exactly like 'l1' with the
    same library passed as a DataFrame."""
    from gnip_trend_detection_spark.pipeline import (
        PipelineConfig,
        TrendPipeline,
        load_config,
    )

    lib = _wdt_library(spark)
    lib_path = str(tmp_path / "library")
    lib.write.parquet(lib_path)
    ini = tmp_path / "wdt.cfg"
    ini.write_text(WDT_INI.format(library=lib_path))
    cfg = load_config(str(ini))
    assert cfg.model_params["library"] == lib_path

    got = {
        (r["counter"], r["interval_start"]): r["eta"]
        for r in TrendPipeline(cfg).run(counts).collect()
    }
    params = dict(cfg.model_params, library=lib, distance_measure_name="l1")
    want_cfg = PipelineConfig(
        binning_unit="minutes",
        n_binning_unit=2,
        model_name="WeightedDataTemplates",
        model_params=params,
    )
    want = {
        (r["counter"], r["interval_start"]): r["eta"]
        for r in TrendPipeline(want_cfg).run(counts).collect()
    }
    assert got == want
    assert any(e != 0.0 for e in want.values())


def test_wdt_library_table_must_have_library_columns(spark, tmp_path):
    from gnip_trend_detection_spark.pipeline import PipelineConfig, TrendPipeline

    lib_path = str(tmp_path / "not_a_library")
    _wdt_library(spark).drop("points").write.parquet(lib_path)
    with pytest.raises(ValueError, match="points"):
        TrendPipeline(
            PipelineConfig(
                model_name="WeightedDataTemplates",
                model_params={"library": lib_path},
            )
        )
