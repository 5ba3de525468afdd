"""Lineage/checkpoint: resume skips completed days, crash-window reconcile,
rerun produces identical rollup hashes (idempotency)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from sparkts.lineage import TierPipeline
from sparkts.operators import rollup_base


@pytest.fixture()
def activity(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.select("event_type", "ts", F.col("value"))


@pytest.fixture()
def out_dir(tmp_path):
    return str(tmp_path / "tiers")


def test_full_run_then_resume_noop(spark, activity, out_dir):
    pipe = TierPipeline(spark, out_dir, ["event_type"])
    first = pipe.run(activity, "ts", "value", run_id="r1")
    assert all(v > 0 for v in first.values())
    # tier content matches a direct rollup
    direct = rollup_base(activity, "ts", ["event_type"], "value", "1h")
    got = pipe.read_tier("1h")
    assert got.count() == direct.count()
    # resume with same input: nothing new
    second = pipe.run(activity, "ts", "value", run_id="r2")
    assert all(v == 0 for v in second.values())
    lin = pipe.lineage.read()
    assert lin.where(F.col("run_id") == "r2").count() == 0


def test_extra_aggs_cascade_through_every_tier(spark, activity, out_dir):
    """Round-4 fix: sum-decomposable extra aggregates (the extraction
    invariant's n_bad) must survive the pipeline into EVERY tier — the
    old run() dropped them, silently disabling the check."""
    flagged = activity.withColumn(
        "bad", (F.col("value") < 0).cast("long"))  # always 0 on this data
    pipe = TierPipeline(spark, out_dir, ["event_type"])
    pipe.run(flagged, "ts", "value", run_id="r1",
             extra_aggs={"n_bad": F.sum("bad")})
    for t in ("1m", "5m", "1h", "1d"):
        df = pipe.read_tier(t)
        assert "n_bad" in df.columns, t
        assert df.agg(F.sum("n_bad")).collect()[0][0] == 0, t


def test_incremental_backfill(spark, activity, out_dir):
    """Feed half the days, then all days: second run adds only the new days."""
    cut = "2024-01-15 00:00:00"
    early = activity.where(F.col("ts") < cut)
    pipe = TierPipeline(spark, out_dir, ["event_type"])
    pipe.run(early, "ts", "value", run_id="r1")
    n_days_early = pipe.lineage.read().where("stage = 'tier_1h'").count()
    pipe2 = TierPipeline(spark, out_dir, ["event_type"])
    pipe2.run(activity, "ts", "value", run_id="r2")
    lin = pipe2.lineage.read()
    n_days_all = lin.where("stage = 'tier_1h'").count()
    assert n_days_all > n_days_early
    # no duplicated day partitions
    dups = (
        lin.where("stage = 'tier_1h'")
        .groupBy("part_id")
        .count()
        .where("count > 1")
        .count()
    )
    assert dups == 0
    # NOTE: days straddling the cut get frozen at first write — callers
    # backfill at day granularity (the cut above is day-aligned at 00:00).


@pytest.mark.parametrize("victim_stage", ["tier_1m", "tier_1h", "tier_1d"])
def test_crash_reconcile(spark, activity, out_dir, victim_stage):
    """A day directory without a lineage row is torn out and rebuilt — from
    the raw input for the base tier, from the finer tier on disk for a
    coarser one — and no other tier writes anything."""
    pipe = TierPipeline(spark, out_dir, ["event_type"])
    pipe.run(activity, "ts", "value", run_id="r1")
    lin_all = pipe.lineage.read().toPandas()
    lin = lin_all[lin_all.stage == victim_stage]
    victim = sorted(lin.part_id)[3]
    # simulate crash: data present for a day but lineage lost for it
    lin_keep = lin_all[~((lin_all.stage == victim_stage)
                         & (lin_all.part_id == victim))]
    shutil.rmtree(pipe.lineage.path)
    rows = [
        {c: (int(r[c]) if c in ("watermark", "n_in", "n_out", "rollup_hash") else r[c])
         for c in lin_keep.columns}
        for _, r in lin_keep.iterrows()
    ]
    pipe.lineage.append(rows)
    old_hash = int(lin[lin.part_id == victim].rollup_hash.iloc[0])
    res = pipe.run(activity, "ts", "value", run_id="r2")
    victim_tier = victim_stage.split("_", 1)[1]
    assert res == {t: int(t == victim_tier) for t in ("1m", "5m", "1h", "1d")}
    new = pipe.lineage.read().where(
        (F.col("stage") == victim_stage) & (F.col("part_id") == victim)
    ).toPandas()
    assert len(new) == 1
    # idempotency: rebuilt day has the identical order-insensitive hash
    assert int(new.rollup_hash.iloc[0]) == old_hash


def _data_files(d):
    return [f for f in os.listdir(d) if not f.startswith(("_", "."))]


def test_one_file_per_tier_day(spark, activity, out_dir):
    """Every tier of a run is written by one rebalanced write: each
    tier=*/day=* directory holds exactly one data file."""
    pipe = TierPipeline(spark, out_dir, ["event_type"])
    pipe.run(activity, "ts", "value", run_id="r1")
    tiers = sorted(d for d in os.listdir(out_dir) if d.startswith("tier="))
    assert tiers == ["tier=1d", "tier=1h", "tier=1m", "tier=5m"]
    for t in tiers:
        days = [d for d in os.listdir(os.path.join(out_dir, t))
                if d.startswith("day=")]
        assert days, t
        for d in days:
            assert len(_data_files(os.path.join(out_dir, t, d))) == 1, (t, d)


def test_torn_lineage_file_is_ignored(spark, activity, out_dir):
    """An append is renamed into place only once complete; a leftover
    ``_``-prefixed file (a torn append) is invisible to ``completed()``
    and ``read()``, and a resume still writes nothing."""
    pipe = TierPipeline(spark, out_dir, ["event_type"])
    pipe.run(activity, "ts", "value", run_id="r1")
    done = pipe.lineage.completed()
    n_rows = pipe.lineage.read().count()
    with open(os.path.join(pipe.lineage.path, "_torn.parquet"), "wb") as f:
        f.write(b"PAR1 not a parquet file")
    assert pipe.lineage.completed() == done
    assert pipe.lineage.read().count() == n_rows
    again = pipe.run(activity, "ts", "value", run_id="r2")
    assert all(v == 0 for v in again.values())


def test_killed_write_leftovers_are_not_merged(spark, activity, out_dir):
    """A write killed after some of its tasks committed leaves their output
    under ``<root>/_temporary/``; the next run's job commit would merge
    it into the day directories, so the run clears it first."""
    ref = TierPipeline(spark, out_dir + "_ref", ["event_type"])
    ref.run(activity, "ts", "value", run_id="ref")
    day = sorted(d for d in os.listdir(ref.tier_path("1h"))
                 if d.startswith("day="))[3]
    shutil.copytree(os.path.join(ref.tier_path("1h"), day), os.path.join(
        out_dir, "_temporary", "0", "task_000_0000_m_000000", "tier=1h", day))
    pipe = TierPipeline(spark, out_dir, ["event_type"])
    pipe.run(activity, "ts", "value", run_id="r1")
    assert pipe.read_tier("1h").count() == ref.read_tier("1h").count()
    assert len(_data_files(os.path.join(pipe.tier_path("1h"), day))) == 1


def test_metrics_logged_into_pipeline_lineage_stay_readable(
        spark, activity, out_dir):
    """Forecast metrics logged into a pipeline's ``_lineage`` share its
    column types, so the whole ledger stays readable as one table."""
    from sparkts.engine import SparkForecast
    from sparkts.kernels import Naive

    pipe = TierPipeline(spark, out_dir, ["event_type"])
    pipe.run(activity, "ts", "value", run_id="r1")
    panel = pipe.read_tier("1h").select(
        F.col("event_type").alias("unique_id"), F.col("bucket").alias("ds"),
        F.col("v_sum").alias("y"))
    eng = SparkForecast([Naive()], freq="h")
    eng.forecast(panel, h=2).count()
    eng.log_metrics(pipe.lineage, stage="forecast", run_id="r1")
    got = {r.stage: r.rollup_hash for r in pipe.lineage.read().select(
        "stage", "rollup_hash").collect()}
    assert isinstance(got["tier_1h"], int)
    assert got["forecast"] > 0
    # microseconds: the accumulated wall time, not truncated seconds
    assert got["forecast"] == round(eng.forecast_times_["Naive"].value * 1e6)
    assert pipe.lineage.completed()["forecast"] == {"Naive"}


def test_hash_partitioning_invariant(spark, activity, out_dir):
    """Same day computed under different partitioning → same rollup hash."""
    p1 = TierPipeline(spark, out_dir + "_a", ["event_type"])
    p1.run(activity.repartition(2), "ts", "value", run_id="x")
    p2 = TierPipeline(spark, out_dir + "_b", ["event_type"])
    p2.run(activity.repartition(17), "ts", "value", run_id="y")
    h1 = {
        (r.stage, r.part_id): r.rollup_hash for r in p1.lineage.read().collect()
    }
    h2 = {
        (r.stage, r.part_id): r.rollup_hash for r in p2.lineage.read().collect()
    }
    assert h1 == h2
