"""Checkpointed tier pipeline with per-partition lineage + idempotent resume.

North-rule requirement: every stage checkpoints with lineage rows
(stage, partition id, watermark, input/output row counts, rollup hash) so a
retention sweep or backfill killed mid-run resumes idempotently.

Design
------
* Tiers live under one root as ``tier=<t>/day=<d>/`` parquet (``day`` =
  UTC date of the bucket) — the day is the unit of checkpointing. At
  100 TB that makes retention a partition-prunable delete and backfill a
  per-day filter.
* One ``TierPipeline.run`` is one plan: the base tier from the raw scan,
  each coarser tier cascaded in memory from the finer tier's pending rows,
  all tiers unioned under a ``tier`` column and rebalanced on
  (tier, day). One stats collect and ONE partitioned write cover every
  tier ("one repartition, many outputs").
* ``_lineage`` is a parquet table of rows
  (stage, part_id, watermark, n_in, n_out, rollup_hash, run_id), written
  and read by the driver with pyarrow — no Spark job. Each append is one
  file, written under a ``_``-prefixed name (invisible to every reader)
  and renamed into place, so a reader never sees a torn file. Like
  ``_reconcile``, this assumes the root is a local (or locally mounted)
  filesystem.
* Rollup hash = ``bit_xor`` of per-row ``xxhash64`` over the canonicalized
  row — order-insensitive, computed JVM-side, so two runs (any partitioning,
  any executor count) of the same day must produce the same hash.
* Resume protocol: ``TierPipeline.run`` reads ``_lineage`` once, into a
  stage → completed-days map; each tier's pending days are the input days
  not in its stage's set (a filter on ``day``, no join). Day directories
  on disk that have NO lineage row are torn out first (a crash window
  leaves data without lineage, never lineage without data — lineage is
  committed last, after the one write).

Iceberg note: the north star names Iceberg tables; this container has no
Iceberg runtime jar (offline, no spark.jars.packages), so the storage layer
is day-partitioned parquet + the ``_lineage`` manifest — the same
snapshot/manifest discipline expressed manually. On a cluster with
``iceberg-spark-runtime`` on the classpath the writes become
``writeTo(...).using("iceberg")`` and the completed-days map comes from
the table's own snapshot metadata; nothing else changes.
"""

from __future__ import annotations

import os
import shutil
import uuid
from datetime import date
from functools import reduce

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from sparkts.operators.rollup import STAT_COLS, TIERS, rollup_base, rollup_cascade

#: the one on-disk schema of a lineage row (the types Spark used to infer
#: for these columns: strings, and int64 for the counters and the hash)
LINEAGE_SCHEMA = pa.schema([
    ("stage", pa.string()), ("part_id", pa.string()),
    ("watermark", pa.int64()), ("n_in", pa.int64()), ("n_out", pa.int64()),
    ("rollup_hash", pa.int64()), ("run_id", pa.string()),
])


def rollup_hash_col() -> F.Column:
    """Order-insensitive content hash of a tier row (stats rounded to 6dp so
    the hash is stable across plan-dependent float summation orders)."""
    parts = [F.col("bucket").cast("long").cast("string")] + [
        F.round(F.col(c), 6).cast("string") for c in STAT_COLS
    ]
    return F.xxhash64(F.concat_ws("|", *parts))


class LineageStore:
    """Parquet lineage table under ``<base>/_lineage``, appended and
    listed by the driver (pyarrow); ``read()`` is a Spark DataFrame."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.path = os.path.join(base_dir, "_lineage")

    def read(self) -> DataFrame | None:
        if not os.path.exists(self.path):
            return None
        return self.spark.read.parquet(self.path)

    def completed(self) -> dict[str, set[str]]:
        """stage → the part ids recorded for it, from one driver-side read
        (files named ``_*``/``.*`` are skipped, as Spark skips them)."""
        done: dict[str, set[str]] = {}
        if os.path.exists(self.path):
            tbl = pads.dataset(self.path, schema=LINEAGE_SCHEMA,
                               format="parquet").to_table(
                columns=["stage", "part_id"])
            for stage, part in zip(tbl["stage"].to_pylist(),
                                   tbl["part_id"].to_pylist()):
                done.setdefault(stage, set()).add(part)
        return done

    def append(self, rows: list[dict]) -> None:
        """One parquet file per call, renamed into place once complete."""
        if not rows:
            return
        os.makedirs(self.path, exist_ok=True)
        name = f"{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self.path, f"_{name}")
        pq.write_table(pa.Table.from_pylist(rows, schema=LINEAGE_SCHEMA), tmp)
        os.replace(tmp, os.path.join(self.path, f"part-{name}"))


def _reconcile(out_dir: str, completed: set[str]) -> None:
    """Tear out day directories that have no lineage row (crash window)."""
    if not os.path.exists(out_dir):
        return
    for d in os.listdir(out_dir):
        if d.startswith("day=") and d.split("=", 1)[1] not in completed:
            shutil.rmtree(os.path.join(out_dir, d))


def _day_in(days: set[str]) -> F.Column:
    return F.col("day").isin([date.fromisoformat(d) for d in days])


class TierPipeline:
    """Raw activity table → checkpointed 1m/5m/1h/1d tier tables.

    Usage::

        pipe = TierPipeline(spark, out_dir, key_cols=["domain"])
        pipe.run(activity_df, ts_col="warc_ts", value_col="bytes", run_id="r1")

    Each coarser tier is cascaded in memory from the finer tier's pending
    rows; days already written for the finer tier but not for this one
    are re-read from the finer tier on disk, so a resumed run never
    rescans raw data for tiers already built. Every tier of a run lands in
    one partitioned write.
    """

    def __init__(self, spark: SparkSession, out_dir: str, key_cols: list[str]):
        self.spark = spark
        self.out_dir = out_dir
        self.key_cols = key_cols
        self.lineage = LineageStore(spark, out_dir)

    def tier_path(self, tier: str) -> str:
        return os.path.join(self.out_dir, f"tier={tier}")

    def read_tier(self, tier: str) -> DataFrame:
        return self.spark.read.parquet(self.tier_path(tier))

    # ------------------------------------------------------------------ #
    def run(
        self,
        activity: DataFrame,
        ts_col: str,
        value_col: str,
        run_id: str = "run0",
        tiers: list[str] | None = None,
        extra_aggs: dict | None = None,
    ) -> dict[str, int]:
        """Build/extend all tiers; returns {tier: n_new_day_partitions}.

        ``extra_aggs`` (sum-decomposable columns, e.g. the extraction-
        invariant counter ``{'n_bad': F.sum('bad')}``) ride the base
        rollup and cascade through every coarser tier — round-4 fix: the
        pipeline used to drop them, silently disabling the
        extraction-mismatch check the north rule requires."""
        tiers = sorted(tiers or list(TIERS), key=lambda t: TIERS[t])
        extra_cols = list(extra_aggs or {})
        # one lineage read per run: lineage is appended only after the
        # write, so no stage's set changes while the plan is built
        done = self.lineage.completed()
        # committed task outputs a killed write left behind would be
        # merged into the next write's commit
        shutil.rmtree(os.path.join(self.out_dir, "_temporary"),
                      ignore_errors=True)
        parts, prev, prev_rows = [], None, None
        for t in tiers:
            t_done = done.get(f"tier_{t}", set())
            _reconcile(self.tier_path(t), t_done)
            if prev is None:
                rows = rollup_base(activity, ts_col, self.key_cols, value_col,
                                   t, extra_aggs=extra_aggs)
            else:
                # days on disk for the finer tier but not done for this
                # one (a crash between the two stages' lineage rows)
                backfill = done.get(f"tier_{prev}", set()) - t_done
                if backfill:
                    disk = self.read_tier(prev).where(_day_in(backfill))
                    prev_rows = prev_rows.unionByName(disk.drop("day"))
                rows = rollup_cascade(prev_rows, self.key_cols, t,
                                      extra_sum_cols=extra_cols)
            rows = rows.withColumn("day", F.to_date("bucket"))
            if t_done:
                rows = rows.where(~_day_in(t_done))
            parts.append(rows.withColumn("tier", F.lit(t)))
            prev, prev_rows = t, rows.drop("day")

        # one (tier, day) per rebalanced partition → one file per day
        # directory; AQE may still split a skewed day at scale
        pending = (reduce(DataFrame.unionByName, parts)
                   .hint("rebalance", F.col("tier"), F.col("day")).cache())
        try:
            day_stats = (
                pending.withColumn("h", rollup_hash_col())
                .groupBy("tier", "day")
                .agg(
                    F.count("*").alias("n_out"),
                    F.max(F.col("bucket").cast("long")).alias("wm"),
                    F.expr("bit_xor(h)").alias("rollup_hash"),
                    F.sum("n_rows").alias("n_in"),
                )
                .collect()
            )
            if day_stats:
                (pending.write.mode("append").partitionBy("tier", "day")
                 .parquet(self.out_dir))
        finally:
            pending.unpersist()
        self.lineage.append([
            {
                "stage": f"tier_{r.tier}",
                "part_id": str(r.day),
                "watermark": int(r.wm),
                "n_in": int(r.n_in),
                "n_out": int(r.n_out),
                "rollup_hash": int(r.rollup_hash),
                "run_id": run_id,
            }
            for r in day_stats
        ])
        results = dict.fromkeys(tiers, 0)
        for r in day_stats:
            results[r.tier] += 1
        return results
