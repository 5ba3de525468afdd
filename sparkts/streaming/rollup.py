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

Commit ledger: a batch's rows land in ``data/batch=<id>`` and only then
its marker, the empty file ``commits/batch=<id>/committed``, created by
the driver without a Spark job. The set of committed ids is found in one
place, ``_committed``: a single Hadoop glob over the marker directories,
no Spark job. Every reader, the compactor and the batch
publisher take that set; data directories without a finished marker are
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
    glob over the ``commits/batch=<id>`` markers — no Spark job. A marker
    counts once its write has finished, i.e. once it holds a visible file
    (name not starting with ``_`` or ``.``, the rule a parquet read of
    ``commits/`` applies), so a marker directory still holding only
    ``_temporary/`` is uncommitted. A missing ``commits/`` globs to
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
    used in tests and backfills."""

    # id floor: checkpoint micro-batch counters restart at 0 with a fresh
    # checkpoint, and compact_tier_output consolidates history into a
    # high id — committing raw counter ids would overwrite those
    # generations. The floor (written by the compactor) is read ONCE at
    # writer start, so within-run replays keep their exact ids
    # (byte-idempotent), while a writer started after a compaction lands
    # strictly above the consolidated generation.
    from pyspark.errors import AnalysisException

    spark = tier_df.sparkSession
    try:
        floor = int(spark.read.parquet(f"{out_path}/floor")
                    .agg(F.max("next_id")).collect()[0][0] or 0)
    except AnalysisException:
        floor = 0

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


#: batch publishes allocate generation ids at and above this base — a
#: namespace disjoint from the streaming sink's ids (which come from the
#: STREAM CHECKPOINT's micro-batch counter, not from the commits dir, and
#: count up from 0), so a streaming writer sharing the directory can never
#: reuse a batch generation's id and overwrite it
BATCH_ID_BASE = 1 << 33


def commit_tier_batch(df: DataFrame, out_path: str) -> int:
    """Transactional BATCH publish of a tier table through the same
    batch-id commit protocol the streaming sink uses (round-5 stretch —
    the parquet+manifest stand-in for an Iceberg snapshot commit, Iceberg
    jars being unavailable offline): the new generation lands in
    ``data/batch=<id>`` first, the marker second, so a reader
    (``read_tier_stream_output``) sees the PREVIOUS generation until the
    marker lands and never a torn write. Batch and streaming writers can
    share one output directory: batch generations live in the disjoint
    id namespace ≥ ``BATCH_ID_BASE`` (streaming micro-batch ids are
    checkpoint counters from 0, NOT allocated from the commits dir, so
    "max committed + 1" alone would collide with the stream's next
    micro-batch and be silently overwritten). Under latest-wins
    merge-on-read a batch publish therefore supersedes stream batches —
    snapshot-replaces-table semantics. Returns the committed id."""
    # a missing commits dir is the first publish; any OTHER listing
    # failure must propagate — treating a transient listing error as
    # "nothing committed" would re-allocate id BATCH_ID_BASE and overwrite
    # the oldest committed generation
    committed = _committed(df.sparkSession, out_path)
    new_id = max((c for c in committed if c >= BATCH_ID_BASE),
                 default=BATCH_ID_BASE - 1) + 1
    commit_batch(df, new_id, out_path)
    return new_id


def read_tier_snapshot(spark, out_path: str) -> DataFrame:
    """Snapshot read for batch-published generations: the HIGHEST
    committed batch id replaces the table wholesale (Iceberg-snapshot
    semantics), unlike ``read_tier_stream_output``'s per-bucket
    latest-wins merge (streaming upsert semantics). Torn writes (data
    without marker) stay invisible either way."""
    committed = _committed(spark, out_path)
    if not committed:
        raise ValueError(f"nothing committed under {out_path}")
    return (spark.read.parquet(f"{out_path}/data")
            .where(F.col("batch") == committed[-1]).drop("batch"))


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
    step between runs): a live writer's next checkpoint counter would be
    exactly max(committed)+1 — the consolidated id — and its overwrite
    would destroy the folded history. The ``floor`` record written below
    makes the NEXT writer start safe mechanically: ``write_tier_stream``
    reads it once at start and offsets every checkpoint id above the
    consolidated generation (fresh or resumed checkpoint alike).

    Namespace discipline (r6 fix of the round-5 ADVICE finding): stream
    generations (< BATCH_ID_BASE) and batch-publish generations
    (≥ BATCH_ID_BASE) are compacted SEPARATELY. Folding everything into
    max(committed)+1 would, whenever any batch generation exists, land the
    consolidated id — and the floor — inside the batch namespace, so later
    stream micro-batches would allocate batch-namespace ids and a
    subsequent ``commit_tier_batch`` could silently overwrite (or be
    overwritten by) a live stream writer. Instead: the stream namespace
    consolidates into max(stream ids)+1 (always < BATCH_ID_BASE — enforced)
    and the floor stays inside the stream namespace; the batch namespace
    needs no merge at all (snapshot-replaces-table: the highest batch id IS
    the table), so compaction simply retires the superseded batch
    generations. The merged-read semantics are unchanged either way:
    latest-wins per bucket still sees exactly the same values.

    Returns the consolidated stream batch id (or, when only batch
    generations exist, the surviving snapshot id)."""
    committed = _committed(spark, out_path)
    if not committed:
        raise ValueError(f"nothing committed under {out_path}")
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(out_path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())

    def gc(ids):
        for b in ids:
            fs.delete(jvm.org.apache.hadoop.fs.Path(
                f"{out_path}/commits/batch={b}"), True)
            fs.delete(jvm.org.apache.hadoop.fs.Path(
                f"{out_path}/data/batch={b}"), True)

    stream_gens = [c for c in committed if c < BATCH_ID_BASE]
    batch_gens = [c for c in committed if c >= BATCH_ID_BASE]
    # batch namespace: highest id is the whole snapshot — older batch
    # generations are pure garbage, retire them without a rewrite
    if batch_gens:
        gc(b for b in batch_gens if b != max(batch_gens))
    if not stream_gens:
        return max(batch_gens)
    new_id = max(stream_gens) + 1
    if new_id >= BATCH_ID_BASE:
        raise ValueError(
            f"stream id namespace exhausted under {out_path}: "
            f"consolidated id {new_id} would enter the batch namespace")
    # merged view of the STREAM generations only (a committed batch
    # snapshot keeps shadowing per-bucket under latest-wins regardless)
    merged = _latest_wins(spark.read.parquet(f"{out_path}/data").where(
        F.col("batch").isin(stream_gens)), key_cols)
    commit_batch(merged, new_id, out_path)
    # GC superseded stream generations only after the marker landed
    gc(stream_gens)
    # id floor for the next stream writer (see write_tier_stream); stays
    # strictly inside the stream namespace
    spark.createDataFrame([(new_id + 1,)], "next_id long").coalesce(
        1).write.mode("overwrite").parquet(f"{out_path}/floor")
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
