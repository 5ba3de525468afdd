"""Per-layer metric names shared by every workload's traced run, and
small helpers the workloads share.

A workload that does not exercise a layer reports that layer's metrics as
0 — no time spent, no work done there.
"""

from functools import reduce

from pyspark.sql import functions as F

#: name → (unit, better); every traced run reports all of them
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "session.prewarm_s": ("s", "lower"),
    "datagen.stage_s": ("s", "lower"),
    "rollup.build_tiers_s": ("s", "lower"),
    "rollup.retention_s": ("s", "lower"),
    "rollup.points": ("count", "higher"),
    "lineage.run_s": ("s", "lower"),
    "lineage.bytes_written": ("B", "lower"),
    "lineage.files_written": ("count", "lower"),
    "lineage.stored_bytes_per_point": ("B", "lower"),
    "lineage.resume_s": ("s", "lower"),
    "lineage.resume_days_written": ("count", "lower"),
    "compress.encode_s": ("s", "lower"),
    "compress.decode_s": ("s", "lower"),
    "compress.ratio": ("ratio", "lower"),
    "gapfill.s": ("s", "lower"),
    "gapfill.rows_out": ("count", "higher"),
    "gapfill.gap_share": ("ratio", "lower"),
    "engine.forecast_s": ("s", "lower"),
    "engine.heavy_forecast_s": ("s", "lower"),
    "engine.cv_forecast_s": ("s", "lower"),
    "engine.kernel_share": ("ratio", "higher"),
    "engine.fallbacks": ("count", "lower"),
    "kernels.AutoARIMA.core_ms_per_series": ("ms", "lower"),
    "kernels.AutoETS.core_ms_per_series": ("ms", "lower"),
    "kernels.cheap9.core_ms_per_series": ("ms", "lower"),
    "streaming.ingest_s": ("s", "lower"),
    "streaming.read_s": ("s", "lower"),
    "streaming.compact_s": ("s", "lower"),
    "streaming.uncompacted_batches_at_read": ("count", "lower"),
    "streaming.files_per_batch": ("count", "lower"),
    "streaming.freshness_tail_s": ("s", "lower"),
    "streaming.points": ("count", "higher"),
    "crawl.batch_wall_s": ("s", "lower"),
    "crawl.stream_wall_s": ("s", "lower"),
    "trace.wall_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "run.iterations": ("count", "higher"),
    "failed_ops_share": ("ratio", "lower"),
}


#: sparkts modules the traced run reports job/stage/task counts for
LAYERS = ("session", "datagen", "rollup", "lineage", "compress", "gapfill",
          "engine", "kernels", "streaming")
COUNTS = ("spark_jobs", "spark_stages", "spark_tasks", "failed_tasks")


def count_points(tiers: dict) -> int:
    """Rows across all tier DataFrames, counted in one Spark job (a union
    of per-tier counts shares the common plan prefix)."""
    counts = [df.groupBy().count() for df in tiers.values()]
    return sum(r[0] for r in reduce(lambda a, b: a.unionAll(b), counts).collect())


def multiset_diff(a, b, cols) -> int:
    """Rows whose multiplicity differs between a and b (0 ⇔ equal)."""
    tagged = a.select(*cols, F.lit(1).alias("_t")).unionByName(
        b.select(*cols, F.lit(-1).alias("_t")))
    return tagged.groupBy(*cols).agg(F.sum("_t").alias("_d")).where(
        F.col("_d") != 0).count()


def idle_layers() -> dict:
    return {name: (0.0, unit) for name, (unit, _) in PER_LAYER.items()}


def per_layer_spec() -> list[dict]:
    """The ``per_layer`` list of BENCHMARK.json, in report order."""
    spec = [{"name": n, "unit": u, "better": b} for n, (u, b) in PER_LAYER.items()]
    for layer in LAYERS:
        for c in COUNTS:
            spec.append({"name": f"{layer}.{c}", "unit": "count",
                         "better": "lower"})
    return spec
