"""Streaming heavy hitters — a mergeable Count-Min store
maintained per micro-batch (the streaming twin of
heavy_hitters_cms, following the drift/DSIR persisted-store
pattern).

Two tables under ``store_dir``, both partitioned by batch_id so a
crashed-and-replayed batch REPLACES its own partitions
(streaming/sinks.write_owned):

- ``counters``: the batch's (j, pos, c) Count-Min table.
  Counter-matrix addition commutes, so summing the per-batch
  tables IS the CMS of the full stream — bit-equal to a batch
  build over the concatenated data (tested).
- ``candidates``: the batch's keys whose batch-local frequency
  passes the support threshold ``s_num/s_den`` (count·s_den ≥
  N_b·s_num — exact integers, no float straddle). The classical
  mergeable-summary argument makes recall a THEOREM, not a
  heuristic: a key with global frequency ≥ ε·N must have
  batch frequency ≥ ε·N_b in at least one batch (otherwise
  Σ f_b < ε·Σ N_b), so every global ε-heavy hitter is stored.
  Sub-threshold-everywhere keys are not — their candidacy is the
  bounded state this structure exists to avoid.

Serving estimates candidate frequencies against the merged
counters (cms_estimate min-over-rows); estimates carry the usual
CMS one-sided error (est ≥ true), which is the store's honest
contract — exact counts would mean unbounded per-key state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from afg_data_pipeline_spark.operators.cms import (
    cms_build,
    cms_estimate,
)
from afg_data_pipeline_spark.streaming.sinks import write_owned


def append_cms_batch(
    batch_df: DataFrame,
    store_dir: str,
    batch_id: int,
    key_col: str,
    width: int = 1024,
    depth: int = 4,
    s_num: int = 1,
    s_den: int = 200,
) -> None:
    """Land one batch's counter table + threshold candidates as
    the partitions owned by ``batch_id``."""
    counters = cms_build(
        batch_df.select(key_col), key_col, width, depth
    ).withColumn("batch_id", F.lit(int(batch_id)))
    write_owned(counters, os.path.join(store_dir, "counters"))
    keys = batch_df.select(
        F.col(key_col).cast("string").alias("key")
    )
    n_b = keys.count()
    cand = (
        keys.groupBy("key")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") * s_den >= F.lit(n_b * s_num))
        .select("key")
        .withColumn("batch_id", F.lit(int(batch_id)))
    )
    write_owned(cand, os.path.join(store_dir, "candidates"))


def cms_sink(
    store_dir: str,
    key_col: str,
    width: int = 1024,
    depth: int = 4,
    s_num: int = 1,
    s_den: int = 200,
):
    """foreachBatch function maintaining the store; empty batches
    write nothing."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_cms_batch(
            batch_df, store_dir, batch_id, key_col,
            width=width, depth=depth, s_num=s_num, s_den=s_den,
        )

    return write_batch


def read_merged_counters(
    spark: SparkSession, store_dir: str
) -> DataFrame:
    """Sum the per-batch counter tables into the full-stream CMS
    (≤ depth·width rows regardless of batch count)."""
    return (
        spark.read.parquet(os.path.join(store_dir, "counters"))
        .groupBy("j", "pos")
        .agg(F.sum("c").alias("c"))
    )


def heavy_hitters_from_store(
    spark: SparkSession,
    store_dir: str,
    k: int = 50,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """Top-k stored candidates by merged-CMS estimate:
    (key, est_count), ordered (est_count DESC, key ASC)."""
    counters = read_merged_counters(spark, store_dir)
    cand = (
        spark.read.parquet(
            os.path.join(store_dir, "candidates")
        )
        .select("key")
        .distinct()
    )
    est = cms_estimate(cand, "key", counters, width, depth)
    return (
        est.select("key", "est_count")
        .orderBy(F.col("est_count").desc(), F.col("key").asc())
        .limit(k)
    )
