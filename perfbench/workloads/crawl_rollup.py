"""crawl_rollup — the north-star pipeline on a Zipf-skewed crawl, in two
legs over the same pages.

Batch leg: pages → extraction-checked activity → ``TierPipeline.run``
(1m/5m/1h/1d with checkpoint + lineage) → ``apply_retention`` →
compress/decompress round trip of the 1m tier → ``gap_fill`` of the 1h
tier (season 24) → ``SparkForecast([SeasonalNaive(24), Naive()])
.forecast(h=24)`` → a second ``TierPipeline.run`` over the finished
output (the resume path).

Stream leg (``stream_ingest``): the same activity lands as micro-batch
files, is rolled up by the streaming tier code and read back between
compactions.
"""

from __future__ import annotations

import os
import shutil
from functools import reduce

from pyspark.sql import functions as F

from harness import dir_usage, median, now
from workloads import stream_ingest
from workloads.common import count_points, idle_layers, multiset_diff
from sparkts.datagen import BASE_EPOCH, SPAN_DAYS, extract_text, web_pages
from sparkts.engine import SparkForecast
from sparkts.kernels import Naive, SeasonalNaive
from sparkts.lineage import TierPipeline, rollup_hash_col
from sparkts.operators import apply_retention, build_tiers, gap_fill
from sparkts.operators.compress import compress_tier, decompress_tier
from sparkts.operators.rollup import TIERS, crawl_activity_checked

SIZES = {
    "full": {"rows": 40_000, "domains": 1000, "batches": 3, "compact_every": 2},
    "toy": {"rows": 4_000, "domains": 40, "batches": 4, "compact_every": 2},
}
#: one iteration outlasts ``run_seconds`` on its own
ITERATIONS = 1
H = 24
SEASON = 24
#: series shorter than two seasons are not forecast (SeasonalNaive would
#: return NaN for the missing phases)
MIN_POINTS = 2 * SEASON
AS_OF = f"{BASE_EPOCH[:8]}{1 + SPAN_DAYS:02d} 00:00:00"
KEYS = ["domain"]


def stage(spark, path, seed, sz) -> None:
    pages = os.path.join(path, "pages")
    web_pages(spark, sz["rows"], n_domains=sz["domains"], seed=seed,
              partitions=8).write.parquet(pages)
    stream_ingest.stage(spark, spark.read.parquet(pages), path, seed, sz)


def load(spark, path, sz) -> dict:
    pages = spark.read.parquet(os.path.join(path, "pages"))
    return {"pages": pages, "n_rows": pages.count(),
            "stream": stream_ingest.load(spark, path, sz)}


def _activity(pages):
    return crawl_activity_checked(
        extract_text(pages), F.col("extracted_text") != F.col("text"))


def iteration(ctx, k) -> dict:
    """The batch leg, with the stream leg's batches landing between its
    stages: one client does both in turn, and the stream's latency samples
    are spread over the whole iteration rather than bunched in one burst."""
    t0 = now()
    stream = stream_ingest.Leg(ctx, ctx.inputs["stream"], k)
    it = _batch_leg(ctx, k, stream.step)
    it["stream"] = stream.finish()
    it["wall_s"] = now() - t0
    it["batch_wall_s"] = it["wall_s"] - it["stream"]["wall_s"]
    if ctx.tracer.enabled:
        _build_tiers(ctx, it)
    return it


def _batch_leg(ctx, k, stream_step) -> dict:
    spark, tr, chk = ctx.spark, ctx.tracer, ctx.checks
    n_in = ctx.inputs["n_rows"]
    out = os.path.join(ctx.scratch, f"crawl-{k}")
    extra = {"n_bad": F.sum("bad")}
    act = _activity(ctx.inputs["pages"])
    pipe = TierPipeline(spark, out, KEYS)
    with tr.span("lineage.run"):
        t = now()
        new_days = pipe.run(act, "warc_ts", "bytes", run_id=f"it{k}",
                            extra_aggs=extra)
        run_s = now() - t
    chk.check("pipeline wrote every tier", all(new_days.get(t, 0) > 0 for t in TIERS),
              str(new_days))
    tiers = {t: pipe.read_tier(t) for t in TIERS}

    # one job over the re-read tiers: per (tier, day) points, Σ n_rows,
    # Σ n_bad and the recomputed rollup hash
    per_day = reduce(lambda a, b: a.unionByName(b), [
        df.withColumn("h", rollup_hash_col()).groupBy("day").agg(
            F.lit(t).alias("tier"), F.count("*").alias("points"),
            F.sum("n_rows").alias("n_rows"), F.sum("n_bad").alias("n_bad"),
            F.expr("bit_xor(h)").alias("h"))
        for t, df in tiers.items()]).collect()
    points = sum(r.points for r in per_day)
    for t in TIERS:
        rows = [r for r in per_day if r.tier == t]
        n_rows = sum(r.n_rows for r in rows)
        chk.check(f"sum n_rows == input rows at {t}", n_rows == n_in,
                  f"{n_rows} != {n_in}")
        n_bad = sum(r.n_bad for r in rows)
        chk.check(f"n_bad == 0 at {t}", n_bad == 0, str(n_bad))

    # lineage rollup_hash per day == recomputed hash of the re-read tier
    lin = {(r.stage, r.part_id): r.rollup_hash
           for r in pipe.lineage.read().select(
               "stage", "part_id", "rollup_hash").collect()}
    got = {(f"tier_{r.tier}", str(r.day)): r.h for r in per_day}
    chk.check("lineage rollup_hash matches re-read tiers", lin == got,
              f"{len(lin)} lineage rows vs {len(got)} recomputed")

    stream_step()

    with tr.span("rollup.retention"):
        t = now()
        kept = apply_retention(tiers, as_of=AS_OF)
        count_points(kept)
        retention_s = now() - t

    with tr.span("compress.encode"):
        t = now()
        seg = compress_tier(tiers["1m"], KEYS).persist()
        enc = seg.agg(F.count("*").alias("n"), F.sum("raw_bytes").alias("raw"),
                      F.sum("enc_bytes").alias("enc")).collect()[0]
        encode_s = now() - t
    with tr.span("compress.decode"):
        t = now()
        back = decompress_tier(seg, KEYS).persist()
        back.count()
        decode_s = now() - t
    cols = KEYS + ["bucket", "v_sum"]
    diff = multiset_diff(back, tiers["1m"], cols)
    chk.check("decompress(compress(1m)) == 1m", diff == 0, f"{diff} rows differ")
    seg.unpersist()
    back.unpersist()

    stream_step()

    with tr.span("gapfill.fill"):
        t = now()
        h1 = tiers["1h"].select(*KEYS, "bucket", "v_sum")
        filled = gap_fill(h1, KEYS, "bucket", ["v_sum"], 3600,
                          season_length=SEASON).persist()
        g = filled.agg(F.count("*").alias("rows"),
                       F.sum(F.col("is_gap").cast("int")).alias("gaps"),
                       F.sum(F.col("v_sum").isNull().cast("int")).alias("nulls"),
                       ).collect()[0]
        gapfill_s = now() - t
    spans = h1.groupBy(*KEYS).agg(
        ((F.max("bucket").cast("long") - F.min("bucket").cast("long")) / 3600
         + 1).cast("long").alias("n")).collect()
    chk.check("gap-filled rows == per-domain span",
              g.rows == sum(r.n for r in spans), f"{g.rows}")
    chk.check("gap-filled v_sum has no nulls", g.nulls == 0, str(g.nulls))

    eligible = [(r.domain,) for r in spans if r.n >= MIN_POINTS]
    n_series = len(eligible)
    eligible = spark.createDataFrame(eligible, "domain string")
    panel = filled.join(F.broadcast(eligible), KEYS).select(
        F.col("domain").alias("unique_id"), F.col("bucket").alias("ds"),
        F.col("v_sum").alias("y"))
    eng = SparkForecast([SeasonalNaive(SEASON), Naive()], freq="h",
                        fallback_model=Naive())
    with tr.span("engine.forecast"):
        t = now()
        fc = eng.forecast(panel, h=H).agg(
            F.count("*").alias("rows"),
            F.sum((F.isnan("SeasonalNaive") | F.isnan("Naive")).cast("int"))
            .alias("nan")).collect()[0]
        forecast_s = now() - t
    chk.check("forecast rows == series × h", fc.rows == n_series * H,
              f"{fc.rows} != {n_series}×{H}")
    chk.check("forecast has no NaN", fc.nan == 0, str(fc.nan))
    filled.unpersist()
    h1.unpersist()

    stream_step()

    with tr.span("lineage.resume"):
        t = now()
        again = pipe.run(act, "warc_ts", "bytes", run_id=f"it{k}-resume",
                         extra_aggs=extra)
        resume_s = now() - t
    resume_days = sum(again.values())
    chk.check("resume writes 0 days", resume_days == 0, str(again))

    nbytes, nfiles = dir_usage(out)
    shutil.rmtree(out, ignore_errors=True)
    return {
        "act": act, "points": points,
        "run_s": run_s, "resume_s": resume_s, "resume_days": resume_days,
        "retention_s": retention_s, "encode_s": encode_s, "decode_s": decode_s,
        "ratio": enc.enc / enc.raw, "gapfill_s": gapfill_s,
        "gap_rows": g.rows, "gap_share": g.gaps / g.rows,
        "forecast_s": forecast_s, "bytes": nbytes, "files": nfiles,
        "kernel_s": sum(a.value for a in eng.forecast_times_.values()),
        "fallbacks": sum(a.value for a in eng.fallback_counts_.values()),
    }


def _build_tiers(ctx, it) -> None:
    """The rollup operator alone, outside the iteration clock: the full
    cascade from the activity, each tier to a noop sink."""
    with ctx.tracer.span("rollup.build_tiers"):
        t = now()
        for df in build_tiers(it["act"], "warc_ts", KEYS, "bytes").values():
            df.write.format("noop").mode("overwrite").save()
        it["build_tiers_s"] = now() - t


def _med(iters, key):
    return median(i[key] for i in iters)


def end_to_end(ctx, iters) -> dict:
    k = len(iters)
    fresh = [x for i in iters for x in i["stream"]["fresh"]]
    return {
        "wall_s": (_med(iters, "wall_s"), "s", k),
        "throughput_per_s": (
            median(i["points"] / i["batch_wall_s"] for i in iters), "1/s", k),
        "latency_p50_s": (median(fresh), "s", len(fresh)),
    }


def named_metrics(ctx, iters) -> dict:
    k = len(iters)
    return {
        "rolled_up_points_per_s": end_to_end(ctx, iters)["throughput_per_s"],
        "resume_s": (_med(iters, "resume_s"), "s", k),
        "stored_bytes_per_point": (
            median(i["bytes"] / i["points"] for i in iters), "B", k),
        **stream_ingest.named_metrics([i["stream"] for i in iters]),
    }


def layer_metrics(ctx, iters) -> dict:
    m = idle_layers()
    m.update({
        "rollup.build_tiers_s": (_med(iters, "build_tiers_s"), "s"),
        "rollup.retention_s": (_med(iters, "retention_s"), "s"),
        "rollup.points": (_med(iters, "points"), "count"),
        "lineage.run_s": (_med(iters, "run_s"), "s"),
        "lineage.bytes_written": (_med(iters, "bytes"), "B"),
        "lineage.files_written": (_med(iters, "files"), "count"),
        "lineage.stored_bytes_per_point": (
            median(i["bytes"] / i["points"] for i in iters), "B"),
        "lineage.resume_s": (_med(iters, "resume_s"), "s"),
        "lineage.resume_days_written": (max(i["resume_days"] for i in iters), "count"),
        "compress.encode_s": (_med(iters, "encode_s"), "s"),
        "compress.decode_s": (_med(iters, "decode_s"), "s"),
        "compress.ratio": (_med(iters, "ratio"), "ratio"),
        "gapfill.s": (_med(iters, "gapfill_s"), "s"),
        "gapfill.rows_out": (_med(iters, "gap_rows"), "count"),
        "gapfill.gap_share": (_med(iters, "gap_share"), "ratio"),
        "engine.forecast_s": (_med(iters, "forecast_s"), "s"),
        "engine.kernel_share": (median(
            i["kernel_s"] / (i["forecast_s"] * ctx.cores) for i in iters), "ratio"),
        "engine.fallbacks": (_med(iters, "fallbacks"), "count"),
        "crawl.batch_wall_s": (_med(iters, "batch_wall_s"), "s"),
        **stream_ingest.layer_metrics([i["stream"] for i in iters]),
    })
    return m
