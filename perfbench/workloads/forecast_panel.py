"""forecast_panel — engine and kernels only; rollup and lineage are idle.

Leg ``heavy``: AutoARIMA(7) at h=14, then AutoETS(7) at h=14 with levels
[80, 95], over a panel of long daily series (kernel compute dominates).
Leg ``cv``: nine cheap models, ``cross_validation(h=7, n_windows=3)``
over many short series (per-batch engine/Arrow overhead dominates).
"""

from __future__ import annotations

import operator
import os
from functools import reduce

import numpy as np
from pyspark.sql import functions as F

from harness import median, now
from workloads.common import idle_layers
from sparkts.datagen import panel_series
from sparkts.engine import SparkForecast
from sparkts.kernels import (
    ADIDA,
    AutoARIMA,
    AutoETS,
    CrostonClassic,
    HistoricAverage,
    Naive,
    RandomWalkWithDrift,
    SeasonalNaive,
    SeasonalWindowAverage,
    SimpleExponentialSmoothing,
    WindowAverage,
)
from sparkts.plans.schema import model_columns

SIZES = {
    "full": {"heavy": 32, "heavy_len": (400, 800), "cv": 1000, "cv_len": (40, 80),
             "sample": 2, "cv_sample": 50},
    "toy": {"heavy": 8, "heavy_len": (60, 90), "cv": 40, "cv_len": (40, 60),
            "sample": 2, "cv_sample": 10},
}
#: a fixed number of short iterations, so every run reports the median of
#: the same number of samples
ITERATIONS = 2
#: heavy series come in this many equal groups of one length each
HEAVY_GROUPS = 8
H_HEAVY = 14
LEVELS = [80, 95]
H_CV, N_WINDOWS = 7, 3
#: the kernel sample must reproduce the Spark output to this tolerance
TOL = 1e-9


def heavy_models():
    return [AutoARIMA(season_length=7)], [AutoETS(season_length=7)]


def cheap9():
    return [Naive(), SeasonalNaive(7), HistoricAverage(), WindowAverage(7),
            SeasonalWindowAverage(7, 2), RandomWalkWithDrift(),
            SimpleExponentialSmoothing(0.3), CrostonClassic(), ADIDA()]


def stage(spark, path, seed, sz) -> None:
    # heavy series: lengths spread evenly over the range and fixed by the
    # size, values from the seed — with a few dozen series, seeded lengths
    # would move the kernel work (and the slowest task) from seed to seed
    lo, hi = sz["heavy_len"]
    groups = [
        panel_series(spark, sz["heavy"] // HEAVY_GROUPS, int(n), int(n),
                     seed=seed * HEAVY_GROUPS + g).withColumn(
            "unique_id", F.concat(F.lit(f"g{g}_"), "unique_id"))
        for g, n in enumerate(np.linspace(lo, hi, HEAVY_GROUPS))
    ]
    # few rows: one task writes them (staging cost is per task, not per row)
    reduce(lambda a, b: a.unionByName(b), groups).coalesce(1).write.parquet(
        os.path.join(path, "heavy"))
    lo, hi = sz["cv_len"]
    panel_series(spark, sz["cv"], lo, hi, seed=seed + 1).write.parquet(
        os.path.join(path, "cv"))


def load(spark, path, sz) -> dict:
    heavy = spark.read.parquet(os.path.join(path, "heavy"))
    cv = spark.read.parquet(os.path.join(path, "cv"))
    return {"heavy": heavy, "cv": cv,
            "n_heavy": heavy.select("unique_id").distinct().count(),
            "n_cv": cv.select("unique_id").distinct().count(),
            # fixed samples: the first series of the first heavy groups
            # (different lengths), the first cv series
            "sample": _sample(heavy, [f"g{g}_series_0"
                                      for g in range(sz["sample"])]),
            "cv_sample": _sample(cv, [f"series_{i}"
                                      for i in range(sz["cv_sample"])])}


def _sample(panel, ids) -> dict:
    """The given series as id → y, for in-process kernel runs."""
    return {
        uid: g.sort_values("ds")["y"].to_numpy(dtype=np.float64)
        for uid, g in panel.where(F.col("unique_id").isin(ids)).toPandas()
        .groupby("unique_id")
    }


def _kernel_ms(models, sample, h, level=None) -> tuple[float, dict]:
    """In-process ``model.forecast`` over the sample: (ms per series, outputs)."""
    outs = {}
    t = now()
    for uid, y in sample.items():
        for m in models:
            res = m.forecast(y, h, level=level)
            outs[(uid, repr(m))] = res
    return (now() - t) * 1000 / max(len(sample), 1), outs


def _heavy_leg(ctx, models, level, name) -> dict:
    """Forecast the heavy panel; check rows and NaN."""
    tr, chk, inp = ctx.tracer, ctx.checks, ctx.inputs
    eng = SparkForecast(models, freq="D", fallback_model=Naive())
    with tr.span(f"engine.forecast_{name}"):
        t = now()
        pdf = eng.forecast(inp["heavy"], h=H_HEAVY, level=level).toPandas()
        wall = now() - t
    cols = model_columns(models, level)
    chk.check(f"{name}: rows == series × h", len(pdf) == inp["n_heavy"] * H_HEAVY,
              f"{len(pdf)}")
    chk.check(f"{name}: no NaN", not pdf[cols].isna().any().any())
    return {"name": name, "models": models, "level": level, "pdf": pdf,
            "wall": wall, "kernel_ms": None,
            "kernel_s": sum(a.value for a in eng.forecast_times_.values()),
            "fallbacks": sum(a.value for a in eng.fallback_counts_.values())}


def _kernel_sample(ctx, leg) -> None:
    """Run the fixed sample in-process and check it against the leg's
    Spark output, means and interval bounds."""
    tr, chk, inp = ctx.tracer, ctx.checks, ctx.inputs
    name, level, pdf = leg["name"], leg["level"], leg["pdf"]
    with tr.span(f"kernels.{name}"):
        leg["kernel_ms"], ref = _kernel_ms(leg["models"], inp["sample"],
                                           H_HEAVY, level)
    chk.check(f"{name}: kernel sample present",
              len(inp["sample"]) == ctx.sz["sample"], str(list(inp["sample"])))
    worst = 0.0
    for (uid, alias), res in ref.items():
        got = pdf[pdf["unique_id"] == uid]
        worst = max(worst, float(np.max(np.abs(
            got[alias].to_numpy() - res["mean"]))))
        for lv in level or []:
            for side in ("lo", "hi"):
                worst = max(worst, float(np.max(np.abs(
                    got[f"{alias}-{side}-{lv}"].to_numpy()
                    - res[f"{side}-{lv}"]))))
    chk.check(f"{name}: kernel sample matches Spark output", worst <= TOL,
              f"max abs diff {worst:g}")


def iteration(ctx, k) -> dict:
    tr, chk, inp = ctx.tracer, ctx.checks, ctx.inputs
    t0 = now()
    arima, ets = heavy_models()
    a = _heavy_leg(ctx, arima, None, "AutoARIMA")
    e = _heavy_leg(ctx, ets, LEVELS, "AutoETS")

    models = cheap9()
    eng = SparkForecast(models, freq="D", fallback_model=Naive())
    cols = model_columns(models, None)
    with tr.span("engine.cross_validation"):
        t = now()
        r = eng.cross_validation(
            inp["cv"], h=H_CV, n_windows=N_WINDOWS).agg(
            F.count("*").alias("rows"),
            F.sum(reduce(operator.or_, [F.isnan(c) for c in cols]).cast("int"))
            .alias("nan"),
        ).collect()[0]
        cv_s = now() - t
    chk.check("cv: rows == series × h × windows",
              r.rows == inp["n_cv"] * H_CV * N_WINDOWS, f"{r.rows}")
    chk.check("cv: no NaN", r.nan == 0, str(r.nan))
    it = {"wall_s": now() - t0, "heavy_s": a["wall"] + e["wall"], "cv_s": cv_s,
          "arima": a, "ets": e}
    # in-process kernel runs, outside the iteration clock: the output is
    # deterministic, so an untraced run checks the sample once; a traced
    # run times it on every iteration
    if k == 0 or tr.enabled:
        _kernel_sample(ctx, a)
        _kernel_sample(ctx, e)
    if tr.enabled:
        with tr.span("kernels.cheap9"):
            it["cheap9_ms"] = _kernel_ms(models, inp["cv_sample"], H_CV)[0]
    del a["pdf"], e["pdf"]
    return it


def end_to_end(ctx, iters) -> dict:
    n, k = ctx.inputs["n_heavy"], len(iters)
    return {
        "wall_s": (median(i["wall_s"] for i in iters), "s", k),
        "throughput_per_s": (median(n / i["heavy_s"] for i in iters), "1/s", k),
        "latency_p50_s": (median(i["cv_s"] for i in iters), "s", k),
    }


def named_metrics(ctx, iters) -> dict:
    return {
        "heavy_series_per_s": end_to_end(ctx, iters)["throughput_per_s"],
        "cv_series_per_s": (median(ctx.inputs["n_cv"] / i["cv_s"] for i in iters),
                            "1/s", len(iters)),
    }


def layer_metrics(ctx, iters) -> dict:
    m = idle_layers()
    legs = [(i["arima"], i["ets"]) for i in iters]
    m.update({
        "engine.heavy_forecast_s": (median(i["heavy_s"] for i in iters), "s"),
        "engine.cv_forecast_s": (median(i["cv_s"] for i in iters), "s"),
        "engine.kernel_share": (median(
            (a["kernel_s"] + e["kernel_s"]) / ((a["wall"] + e["wall"]) * ctx.cores)
            for a, e in legs), "ratio"),
        "engine.fallbacks": (median(a["fallbacks"] + e["fallbacks"]
                                    for a, e in legs), "count"),
        "kernels.AutoARIMA.core_ms_per_series": (
            median(a["kernel_ms"] for a, _ in legs), "ms"),
        "kernels.AutoETS.core_ms_per_series": (
            median(e["kernel_ms"] for _, e in legs), "ms"),
        "kernels.cheap9.core_ms_per_series": (
            median(i["cheap9_ms"] for i in iters), "ms"),
    })
    return m
