"""The stream_ingest leg of crawl_rollup — a closed loop of one client
landing micro-batch files.

The crawl's activity rows (domain, warc_ts, bytes) are cut into
time-ordered batch files; a small share of each batch's last minutes
arrives one batch late, inside the 10-minute watermark. Per batch: land
the file → ``write_tier_stream(stream_rollup(...), available_now=True)``
and wait → read through ``stream_cascade`` (merge-on-read over all 4
tiers). ``compact_tier_output`` runs every ``compact_every`` batches.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
from pyspark.sql import functions as F, types as T

from harness import median, now, tail
from workloads.common import count_points, multiset_diff
from sparkts.operators.rollup import crawl_activity, rollup_base
from sparkts.streaming.rollup import (
    compact_tier_output,
    read_tier_stream_output,
    stream_cascade,
    stream_rollup,
    write_tier_stream,
)

KEYS = ["domain"]
SCHEMA = T.StructType([
    T.StructField("domain", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("bytes", T.DoubleType()),
])
#: rows this close to their batch's newest event arrive one batch late —
#: inside the 10-minute watermark, so none may be dropped
LATE_WINDOW = np.timedelta64(9, "m")
STAT_COLS = ["n_rows", "v_sum", "v_min", "v_max", "v_sumsq"]


def stage(spark, pages, path, seed, sz) -> None:
    """Cut the activity of the staged ``pages`` into batch files."""
    act = crawl_activity(pages)
    pdf = act.withColumn(
        "h", F.abs(F.xxhash64(F.lit(seed), F.lit("late"), "domain", "warc_ts"))
    ).toPandas().sort_values(["warc_ts", "domain", "bytes", "h"],
                             kind="mergesort").reset_index(drop=True)
    k = sz["batches"]
    batch = np.minimum(np.arange(len(pdf)) * k // len(pdf), k - 1)
    newest = pdf.groupby(batch)["warc_ts"].transform("max").to_numpy()
    late = ((pdf["warc_ts"].to_numpy() > newest - LATE_WINDOW)
            & (pdf["h"].to_numpy() % 3 == 0) & (batch < k - 1))
    pdf["batch"] = batch + late
    spark.createDataFrame(pdf[["domain", "warc_ts", "bytes", "batch"]]).repartition(
        "batch").write.partitionBy("batch").parquet(os.path.join(path, "batches"))


def load(spark, path, sz) -> dict:
    root = os.path.join(path, "batches")
    files = []
    for b in range(sz["batches"]):
        d = os.path.join(root, f"batch={b}")
        files.append(next(os.path.join(d, f) for f in sorted(os.listdir(d))
                          if f.endswith(".parquet")))
    counts = {r.batch: r["count"] for r in
              spark.read.parquet(root).groupBy("batch").count().collect()}
    return {"files": files, "rows": [counts[b] for b in range(sz["batches"])]}


def _land(src_file, src_dir, b) -> None:
    """Copy under a hidden name, then rename: the source never sees a
    partial file."""
    tmp = os.path.join(src_dir, f".landing-{b}")
    shutil.copyfile(src_file, tmp)
    os.rename(tmp, os.path.join(src_dir, f"batch-{b:04d}.parquet"))


def _batch_dirs(out) -> set:
    d = os.path.join(out, "data")
    return set(os.listdir(d)) if os.path.isdir(d) else set()


class Leg:
    """One pass of the leg over the staged batch files ``inp``, one batch
    per ``step()``, so the caller can spread the batches over its own
    work; ``finish()`` delivers what is left and checks the result."""

    def __init__(self, ctx, inp, k):
        self.ctx, self.inp = ctx, inp
        self.root = os.path.join(ctx.scratch, f"stream-{k}")
        self.src, self.out, self.ckpt = (
            os.path.join(self.root, d) for d in ("src", "out", "ckpt"))
        os.makedirs(self.src)
        self.tier = stream_rollup(
            ctx.spark.readStream.schema(SCHEMA).parquet(self.src),
            "warc_ts", KEYS, "bytes")
        self.b = 0
        self.seen = set()
        self.spent = 0.0
        self.r = {"rows": sum(inp["rows"]), "ingest": [], "read": [],
                  "fresh": [], "compact": [], "uncompacted": [], "files": []}

    def step(self) -> None:
        """Land the next batch, ingest it, read the merged tiers, and
        compact every ``compact_every`` batches."""
        if self.b == len(self.inp["files"]):
            return
        spark, tr, chk, r = self.ctx.spark, self.ctx.tracer, self.ctx.checks, self.r
        b, out = self.b, self.out
        t_land = now()
        _land(self.inp["files"][b], self.src, b)
        with tr.span("streaming.ingest") as rec:
            t = now()
            q = write_tier_stream(self.tier, out, self.ckpt, available_now=True)
            q.awaitTermination()
            rec["groups"].append(str(q.runId))
            r["ingest"].append(now() - t)
        chk.check(f"batch {b} stream query succeeded", q.exception() is None,
                  str(q.exception()))
        new = _batch_dirs(out) - self.seen
        self.seen |= new
        r["files"].append(sum(
            name.endswith(".parquet") for d in new
            for name in os.listdir(os.path.join(out, "data", d))) / max(len(new), 1))
        r["uncompacted"].append(len(os.listdir(os.path.join(out, "commits"))))
        with tr.span("streaming.read"):
            t = now()
            r["points"] = count_points(stream_cascade(spark, out, KEYS))
            r["read"].append(now() - t)
        r["fresh"].append(now() - t_land)
        if (b + 1) % self.ctx.sz["compact_every"] == 0:
            with tr.span("streaming.compact"):
                t = now()
                compact_tier_output(spark, out, KEYS)
                r["compact"].append(now() - t)
            self.seen = _batch_dirs(out)
        self.b += 1
        self.spent += now() - t_land

    def finish(self) -> dict:
        while self.b < len(self.inp["files"]):
            self.step()
        t = now()
        spark = self.ctx.spark
        merged = read_tier_stream_output(spark, self.out, KEYS)
        expected = rollup_base(spark.read.schema(SCHEMA).parquet(self.src),
                               "warc_ts", KEYS, "bytes", "1m")
        diff = multiset_diff(merged, expected, KEYS + ["bucket"] + STAT_COLS)
        self.ctx.checks.check("merged 1m == rollup_base over delivered rows",
                              diff == 0, f"{diff} rows differ")
        shutil.rmtree(self.root, ignore_errors=True)
        self.r["wall_s"] = self.spent + (now() - t)
        return self.r


def _all(legs, key):
    return [x for leg in legs for x in leg[key]]


def named_metrics(legs) -> dict:
    fresh, read = _all(legs, "fresh"), _all(legs, "read")
    return {
        "freshness_p50_s": (median(fresh), "s", len(fresh)),
        "read_p50_s": (median(read), "s", len(read)),
        "ingest_rows_per_s": (
            median(leg["rows"] / leg["wall_s"] for leg in legs), "1/s", len(legs)),
    }


def layer_metrics(legs) -> dict:
    return {
        "streaming.ingest_s": (median(_all(legs, "ingest")), "s"),
        "streaming.read_s": (median(_all(legs, "read")), "s"),
        "streaming.compact_s": (median(_all(legs, "compact")), "s"),
        "streaming.uncompacted_batches_at_read": (
            median(_all(legs, "uncompacted")), "count"),
        "streaming.files_per_batch": (median(_all(legs, "files")), "count"),
        "streaming.freshness_tail_s": (tail(_all(legs, "fresh")), "s"),
        "streaming.points": (median(leg["points"] for leg in legs), "count"),
        "crawl.stream_wall_s": (median(leg["wall_s"] for leg in legs), "s"),
    }
