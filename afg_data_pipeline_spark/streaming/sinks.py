"""The batch-store layer every persisted streaming sink writes through.

Structured Streaming's exactly-once story for arbitrary
destinations is `foreachBatch` + an IDEMPOTENT write keyed by
``batchId``: the engine may re-run a batch after failure (at-least
-once delivery to the sink function), so the sink must make the
second delivery a no-op. The two canonical shapes:

- partition-overwrite: write each micro-batch to a
  ``batch_id=<id>`` partition with dynamic overwrite — a replayed
  batch overwrites its own partition with identical content.
  SCOPE: this guarantee covers recovery/restart from the SAME
  checkpoint, where the offset log pins each batchId to the same
  input rows. A fresh-checkpoint rerun is a new query — batch
  boundaries may differ (maxFilesPerTrigger, file-listing order),
  and stale batch_id partitions the rerun doesn't produce are NOT
  cleaned up; treat that as a backfill into an empty target, not
  a replay;
- merge/upsert: key-wise MERGE into the target (cdc_upsert shape);
  replay re-applies the same upserts, which is idempotent when the
  updates are deterministic.

This module implements the first (dependency-free on plain
parquet); the second exists batch-side as `cdc_upsert_snapshot`.
Every store under ``streaming/`` (NB scores, DSIR, drift, CMS, the
quality funnel, incremental dedup, IVF-PQ postings) is the same
three moves, and they live only here:

- ``write_owned``: the batch's rows replace exactly the
  ``batch_id`` partitions it owns (dynamic overwrite);
- ``prior``: the rows of every EARLIER batch, probed through the
  Hadoop FileSystem (``fs.store_exists``) so ``file://``, HDFS and
  S3A stores are never mistaken for empty — a replayed batch never
  sees its own rows;
- ``drain``: run a foreachBatch function over the stream with an
  availableNow trigger (process the backlog, then stop); a
  continuous deployment drops the trigger.

At 100 TB the pattern is unchanged — partitionBy(batch_id) keeps
each commit a directory rename, and downstream readers get
partition pruning on the batch axis for free.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from afg_data_pipeline_spark.fs import store_exists
from afg_data_pipeline_spark.io import write_parquet


def write_owned(
    df: DataFrame, path: str, *lead_partitions: str
) -> None:
    """Overwrite only the ``(*lead_partitions, batch_id)`` partitions
    present in ``df`` (which already carries ``batch_id``): a
    replayed batch rewrites its own partitions with the same rows
    and leaves every other batch's files untouched."""
    write_parquet(
        df,
        path,
        partition_by=[*lead_partitions, "batch_id"],
        dynamic_partition_overwrite=True,
    )


def prior(
    spark: SparkSession, path: str, batch_id: int
) -> DataFrame | None:
    """Rows of the store at ``path`` written by batches before
    ``batch_id``, or None when no batch has written it yet."""
    if not store_exists(spark, path):
        return None
    return spark.read.parquet(path).filter(
        F.col("batch_id") < batch_id
    )


def drain(
    stream_df: DataFrame,
    write_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
) -> None:
    """Run ``write_batch`` over every micro-batch of ``stream_df``
    until the backlog is processed (availableNow), then return."""
    (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def idempotent_parquet_sink(out_dir: str):
    """foreachBatch function writing each micro-batch to its own
    ``batch_id=<id>`` partition of ``out_dir`` (``write_owned``);
    see the module docstring for the scope of the guarantee."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_owned(
            batch_df.withColumn("batch_id", F.lit(batch_id)), out_dir
        )

    return write_batch
