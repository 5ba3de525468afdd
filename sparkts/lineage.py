"""Checkpointed tier pipeline with per-partition lineage + idempotent resume.

North-rule requirement: every stage checkpoints with lineage rows
(stage, partition id, watermark, input/output row counts, rollup hash) so a
retention sweep or backfill killed mid-run resumes idempotently.

Design
------
* Each tier is written as parquet partitioned by ``day`` (UTC date of the
  bucket) — the unit of checkpointing. At 100 TB that makes retention a
  partition-prunable delete and backfill a per-day anti-join.
* ``_lineage`` is itself a parquet table of rows
  (stage, part_id, watermark, n_in, n_out, rollup_hash, run_id).
* Rollup hash = ``bit_xor`` of per-row ``xxhash64`` over the canonicalized
  row — order-insensitive, computed JVM-side, so two runs (any partitioning,
  any executor count) of the same day must produce the same hash.
* Resume protocol: ``TierPipeline.run`` reads ``_lineage`` once, into a
  stage → completed-days map; each tier's pending days are the input days
  not in its stage's set (a filter on ``day``, no join). Day directories
  on disk that have NO lineage row are torn out first (a crash window
  leaves data without lineage, never lineage without data — lineage is
  committed last).

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
from datetime import date

from pyspark.sql import DataFrame, SparkSession, functions as F

from sparkts.operators.rollup import STAT_COLS, TIERS, rollup_base, rollup_cascade

LINEAGE_COLS = ["stage", "part_id", "watermark", "n_in", "n_out", "rollup_hash", "run_id"]


def rollup_hash_col() -> F.Column:
    """Order-insensitive content hash of a tier row (stats rounded to 6dp so
    the hash is stable across plan-dependent float summation orders)."""
    parts = [F.col("bucket").cast("long").cast("string")] + [
        F.round(F.col(c), 6).cast("string") for c in STAT_COLS
    ]
    return F.xxhash64(F.concat_ws("|", *parts))


class LineageStore:
    """Parquet-backed lineage table under ``<base>/_lineage``."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.path = os.path.join(base_dir, "_lineage")

    def read(self) -> DataFrame | None:
        if not os.path.exists(self.path):
            return None
        return self.spark.read.parquet(self.path)

    def completed(self) -> dict[str, set[str]]:
        """stage → the part ids recorded for it, from one read."""
        df = self.read()
        done: dict[str, set[str]] = {}
        if df is not None:
            for r in df.select("stage", "part_id").collect():
                done.setdefault(r.stage, set()).add(r.part_id)
        return done

    def append(self, rows: list[dict]) -> None:
        if not rows:
            return
        df = self.spark.createDataFrame(
            [tuple(r[c] for c in LINEAGE_COLS) for r in rows], LINEAGE_COLS
        )
        df.write.mode("append").parquet(self.path)


def _reconcile(out_dir: str, completed: set[str]) -> None:
    """Tear out day directories that have no lineage row (crash window)."""
    if not os.path.exists(out_dir):
        return
    for d in os.listdir(out_dir):
        if d.startswith("day=") and d.split("=", 1)[1] not in completed:
            shutil.rmtree(os.path.join(out_dir, d))


class TierPipeline:
    """Raw activity table → checkpointed 1m/5m/1h/1d tier tables.

    Usage::

        pipe = TierPipeline(spark, out_dir, key_cols=["domain"])
        pipe.run(activity_df, ts_col="warc_ts", value_col="bytes", run_id="r1")

    Each tier is derived from the previously *written* finer tier (not from a
    live lineage of the raw scan), so a resumed run never rescans raw data
    for tiers already built.
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
    def _write_pending_days(
        self, stage: str, tier_df: DataFrame, out_path: str, run_id: str,
        done: set[str],
    ) -> int:
        """Write only days not in ``done`` (the stage's lineage days);
        lineage rows last."""
        _reconcile(out_path, done)
        pending = tier_df.withColumn("day", F.to_date("bucket"))
        if done:
            pending = pending.where(~F.col("day").isin(
                [date.fromisoformat(d) for d in done]))
        pending = pending.cache()
        try:
            day_stats = (
                pending.withColumn("h", rollup_hash_col())
                .groupBy("day")
                .agg(
                    F.count("*").alias("n_out"),
                    F.max(F.col("bucket").cast("long")).alias("wm"),
                    F.expr("bit_xor(h)").alias("rollup_hash"),
                    F.sum("n_rows").alias("n_in"),
                )
                .collect()
            )
            if not day_stats:
                return 0
            (
                pending.write.mode("append")
                .partitionBy("day")
                .parquet(out_path)
            )
            self.lineage.append(
                [
                    {
                        "stage": stage,
                        "part_id": str(r.day),
                        "watermark": int(r.wm),
                        "n_in": int(r.n_in),
                        "n_out": int(r.n_out),
                        "rollup_hash": int(r.rollup_hash),
                        "run_id": run_id,
                    }
                    for r in day_stats
                ]
            )
            return len(day_stats)
        finally:
            pending.unpersist()

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
        # one lineage read per run: this run only appends rows of the
        # stage it just wrote, so each later stage's set cannot change
        done = self.lineage.completed()
        results: dict[str, int] = {}
        base = tiers[0]
        base_df = rollup_base(activity, ts_col, self.key_cols, value_col,
                              base, extra_aggs=extra_aggs)
        results[base] = self._write_pending_days(
            f"tier_{base}", base_df, self.tier_path(base), run_id,
            done.get(f"tier_{base}", set()),
        )
        extra_cols = list(extra_aggs or {})
        for prev, cur in zip(tiers, tiers[1:]):
            finer = self.read_tier(prev).drop("day")
            casc = rollup_cascade(finer, self.key_cols, cur,
                                  extra_sum_cols=extra_cols)
            results[cur] = self._write_pending_days(
                f"tier_{cur}", casc, self.tier_path(cur), run_id,
                done.get(f"tier_{cur}", set()),
            )
        return results
