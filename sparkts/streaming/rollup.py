"""Structured Streaming path for the base rollup tier.

The reference has no streaming surface (SURVEY.md §2.9) — this is the
north-rule extension that makes the 1m base tier a *continuous* aggregate:
``readStream`` → event-time window + watermark → decomposable stats →
``foreachBatch`` merge into the same parquet/Iceberg tier layout the batch
cascade reads. Because every tier statistic is sum/min/max-decomposable
(operators/rollup.py), a streaming 1m tier upgrades the whole cascade to
incremental with no semantic change: 5m/1h/1d re-aggregate whatever 1m rows
exist, batch- or stream-produced.

Late data: the watermark bounds state; rows later than the watermark are
dropped by Spark (documented behavior). The batch backfill path
(rollup_base over the raw table) remains the source of truth for replays —
the lineage table records which bucket ranges came from which path.

Commit log: a batch's rows land in ``data/batch=<id>`` and only then
its marker, the empty file ``commits/batch=<id>/committed``, created by
the driver without a Spark job. The markers are the sink's only ledger.
The set of committed ids is found in one place, ``_committed``: a single
Hadoop glob over the marker directories, no Spark job. Every reader and
the compactor take that set, and a writer starts its ids at the highest
committed id + 1; data directories without a finished marker are
invisible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from sparkts.operators.rollup import STAT_COLS, TIERS, raw_stats, rollup_cascade


def stream_rollup(
    stream_df: DataFrame,
    ts_col: str,
    key_cols: list[str],
    value_col: str,
    tier: str = "1m",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming base tier: event-time tumbling window of ``tier`` width
    with a late-data watermark; emits the same schema as rollup_base
    (keys, bucket, n_rows/v_sum/v_min/v_max/v_sumsq)."""
    width = TIERS[tier]
    ts = F.col(ts_col).cast("timestamp")
    return (
        stream_df.withColumn("__ts", ts)
        .withWatermark("__ts", watermark)
        .groupBy(*key_cols, F.window("__ts", f"{width} seconds").alias("w"))
        .agg(*raw_stats(value_col))
        .select(*key_cols, F.col("w.start").alias("bucket"), *STAT_COLS)
    )


def _committed(spark, out_path: str) -> list[int]:
    """Committed batch ids under ``out_path``, ascending, from ONE Hadoop
    glob over the ``commits/batch=<id>`` markers — no Spark job. Every
    reader, the compactor and the stream writer's id floor derive from
    this set. A marker counts once its write has finished, i.e. once it
    holds a visible file (name not starting with ``_`` or ``.``, the rule
    a parquet read of ``commits/`` applies), so a marker directory still
    holding only ``_temporary/`` is uncommitted. A missing ``commits/`` globs to
    nothing (``[]``); any other listing failure raises."""
    pattern = spark._jvm.org.apache.hadoop.fs.Path(
        f"{out_path}/commits/batch=*/[!_.]*")
    fs = pattern.getFileSystem(spark._jsc.hadoopConfiguration())
    return sorted({int(st.getPath().getParent().getName().split("=", 1)[1])
                   for st in fs.globStatus(pattern)})


def _latest_wins(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Merge-on-read: per (keys, bucket), the row of the highest ``batch``."""
    w = Window.partitionBy(*key_cols, "bucket").orderBy(F.col("batch").desc())
    return (df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1).drop("__rn", "batch"))


def commit_batch(batch_df: DataFrame, batch_id: int, out_path: str) -> None:
    """Batch-id-keyed IDEMPOTENT commit (round-4 brief #4; the parquet
    stand-in for an Iceberg transactional MERGE):

    1. the batch's rows land in ``data/batch=<id>`` with OVERWRITE — a
       replayed batch (foreachBatch is at-least-once after a crash/restart)
       rewrites its own directory instead of appending duplicates;
    2. only then is the marker, an empty ``commits/batch=<id>/committed``
       file, created — by the driver through the Hadoop ``FileSystem``,
       no Spark job. An empty file cannot be torn, and creating it again
       on replay is a no-op. Readers take committed batches only, so a
       crash between the data write and the marker leaves an invisible
       orphan that the replay simply overwrites. (Markers written as a
       one-row parquet directory by earlier versions still count.)

    Observable output is therefore exactly-once: duplicate invocations of
    the same (batch_df, batch_id) are byte-idempotent (tested by replaying
    a batch in tests/test_streaming.py)."""
    spark = batch_df.sparkSession
    batch_df.write.mode("overwrite").parquet(
        f"{out_path}/data/batch={int(batch_id)}")
    marker = spark._jvm.org.apache.hadoop.fs.Path(
        f"{out_path}/commits/batch={int(batch_id)}/committed")
    marker.getFileSystem(spark._jsc.hadoopConfiguration()).createNewFile(marker)


def write_tier_stream(
    tier_df: DataFrame,
    out_path: str,
    checkpoint_path: str,
    available_now: bool = True,
):
    """Sink the streaming tier via ``foreachBatch`` in UPDATE mode with
    merge-on-read: each micro-batch commits its (possibly partial) bucket
    aggregates through the idempotent ``commit_batch`` protocol; readers
    take the latest COMMITTED batch per (keys, bucket) — see
    ``read_tier_stream_output``. Update mode (not append) so the final,
    not-yet-watermark-closed buckets are still emitted. Resume safety
    comes from the streaming checkpoint; duplicate-delivery safety (the
    at-least-once foreachBatch contract) comes from the commit protocol.
    ``available_now`` processes the backlog and stops — the batch-like mode
    used in tests and backfills.

    Ids: the checkpoint's micro-batch counter restarts at 0 with a fresh
    checkpoint, so the sink commits ``floor + counter``, where ``floor``
    is the highest committed id + 1, read ONCE at writer start from the
    commit log. Within a run, a replayed batch keeps its exact id
    (byte-idempotent). Every id of a new run lands above every committed
    generation, a compacted one included; a batch replayed after a restart
    gets a new, higher id with the same rows, which latest-wins hides and
    the next compaction folds."""
    spark = tier_df.sparkSession
    floor = max(_committed(spark, out_path), default=-1) + 1

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        commit_batch(batch_df, floor + batch_id, out_path)

    writer = (
        tier_df.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(sink)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_tier_stream_output(spark, out_path: str, key_cols: list[str]) -> DataFrame:
    """Merge-on-read over the committed sink output: committed batches
    only (uncommitted orphans from a mid-write crash are invisible),
    latest batch id wins per (keys, bucket). The committed-id set is
    commit-log metadata — one listing of the markers (``_committed``),
    like reading a table manifest — and the ``batch`` partition filter
    prunes orphan directories at the scan."""
    df = spark.read.parquet(f"{out_path}/data").where(
        F.col("batch").isin(_committed(spark, out_path)))
    return _latest_wins(df, key_cols)


def compact_tier_output(spark, out_path: str, key_cols: list[str]) -> int:
    """Compact the committed merge-on-read sink (the OPTIMIZE step a
    long-running streaming tier needs: per-batch directories accumulate
    small files and the latest-wins window widens).

    Protocol-safe at every instant: (1) materialize the current merged
    view into a NEW batch directory with id = max(committed)+1 via the
    same ``commit_batch`` (data before marker); (2) only after its marker
    lands, retire the superseded markers and data directories. A reader
    concurrent with step 1 sees the old batches; after step 2 it sees the
    consolidated batch — identical values either way, because latest-wins
    per (keys, bucket) makes the consolidated batch shadow everything it
    folded. A crash mid-compaction leaves both generations committed —
    still correct, and the next compaction finishes the GC. A STALE replay
    of a pre-compaction micro-batch (id < consolidated) re-creates a
    directory the latest-wins read ignores.

    Compaction must not race a RUNNING stream writer (it is the OPTIMIZE
    step between runs): a live writer's floor was read before the
    consolidated id existed, so one of its next ids can equal it, and its
    overwrite would destroy the folded history. A writer started after
    the compaction reads a floor above the consolidated id.

    Returns the consolidated batch id."""
    committed = _committed(spark, out_path)
    if not committed:
        raise ValueError(f"nothing committed under {out_path}")
    new_id = committed[-1] + 1
    merged = _latest_wins(spark.read.parquet(f"{out_path}/data").where(
        F.col("batch").isin(committed)), key_cols)
    commit_batch(merged, new_id, out_path)
    # GC superseded generations only after the marker landed
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.Path(out_path).getFileSystem(
        spark._jsc.hadoopConfiguration())
    for b in committed:
        fs.delete(jvm.org.apache.hadoop.fs.Path(
            f"{out_path}/commits/batch={b}"), True)
        fs.delete(jvm.org.apache.hadoop.fs.Path(
            f"{out_path}/data/batch={b}"), True)
    return new_id


def stream_cascade(spark, out_path: str, key_cols: list[str],
                   tiers: tuple[str, ...] = ("5m", "1h", "1d")) -> dict:
    """Upgrade the streaming 1m sink to the FULL tier cascade: merge-on-read
    the streamed 1m tier, then chain the batch cascade operator coarser tier
    by coarser tier (5m from 1m, 1h from 5m, …) exactly like
    ``build_tiers``. Because every tier statistic is decomposable, the
    result is identical to a batch cascade over the same raw rows — the
    streaming-equals-batch invariance extends to every tier, and a restart
    of the 1m stream (checkpointed) transparently refreshes all of them."""
    base = read_tier_stream_output(spark, out_path, key_cols)
    out = {"1m": base}
    prev = base
    for t in tiers:
        prev = rollup_cascade(prev, key_cols, t)
        out[t] = prev
    return out
