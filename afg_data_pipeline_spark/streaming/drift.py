"""Streaming distribution-drift monitor: Population Stability
Index of each arriving micro-batch against the distribution
accumulated from every PRIOR batch — the ingest-time form of
plans/mlops.distribution_drift_psi, with one deliberate semantic
difference: the histogram bins are PINNED at deployment (the
``cuts`` argument) instead of re-derived from the corpus, exactly
as a production drift monitor freezes its reference binning when
it ships (re-deriving bins per batch would silently re-define what
"drift" means batch to batch).

Per batch: one pass bins the batch's length column against the 9
pinned cuts; the reference histogram is the SUM over store
partitions with batch_id < current; PSI uses the same
Laplace-smoothed exact ratios and the same 1e12-grid term
quantization as the batch query (CLAUDE.md rule 1c), so a batch's
online PSI equals the batch recomputation over exactly the prior
batches. Batch 0 compares against the smoothing prior alone — the
uniform distribution — and is reported, not suppressed (a wildly
non-uniform first feed IS a signal).

Idempotence: both writes are streaming/sinks.write_owned and the
reference read is streaming/sinks.prior (batch_id < current), so
same-checkpoint recovery holds as documented there — a replayed
batch never sees its own delta.

Scale shape: per batch, one map-side-combinable 10-bin histogram
of the BATCH; the store read is 10 rows per prior batch with
partition pruning; the PSI arithmetic is a 10-row frame.
"""

from __future__ import annotations

import posixpath
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from afg_data_pipeline_spark.streaming.sinks import prior, write_owned


def _bin_expr(value_col: str, cuts: Sequence[int]):
    return reduce(
        lambda a, b: a + b,
        [
            (F.col(value_col) > F.lit(int(c))).cast("int")
            for c in cuts
        ],
    )


def drift_monitor_sink(
    store_dir: str,
    psi_dir: str,
    cuts: Sequence[int],
    value_col: str = "n_chars",
):
    """foreachBatch function: PSI of the micro-batch's
    ``value_col`` histogram (over the pinned ``cuts``) against the
    accumulated prior-batch histogram.

    Writes:
    - ``psi_dir``: (n_docs, psi, batch_id) parquet, one row/batch;
    - ``store_dir``/bins: (bin, c, batch_id).
    """
    if len(cuts) != 9:
        raise ValueError(
            f"cuts must be the 9 decile boundaries, got {len(cuts)}"
        )
    bins_dir = posixpath.join(store_dir, "bins")
    n_bins = 10

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        counts = (
            batch_df.select(
                _bin_expr(value_col, cuts).alias("bin")
            )
            .groupBy("bin")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
            .localCheckpoint(eager=False)
        )
        spine = spark.range(n_bins).select(
            F.col("id").cast("int").alias("bin")
        )
        earlier = prior(spark, bins_dir, batch_id)
        if earlier is None:
            ref = spine.select(
                "bin", F.lit(0).cast("bigint").alias("rc")
            ).limit(0)
        else:
            ref = earlier.groupBy("bin").agg(
                F.sum("c").cast("bigint").alias("rc")
            )
        grid = (
            spine.join(F.broadcast(counts), "bin", "left")
            .join(F.broadcast(ref), "bin", "left")
            .select(
                "bin",
                F.coalesce(F.col("c"), F.lit(0)).alias("c"),
                F.coalesce(F.col("rc"), F.lit(0)).alias("rc"),
            )
        )
        tots = grid.agg(
            F.sum("c").cast("bigint").alias("n"),
            F.sum("rc").cast("bigint").alias("rn"),
        )
        # identical smoothing + 1e12-grid term quantization to the
        # batch query (plans/mlops.distribution_drift_psi)
        pq = grid.crossJoin(F.broadcast(tots)).select(
            (
                (F.col("c") + 1).cast("double")
                / (F.col("n").cast("double") + F.lit(10.0))
            ).alias("p"),
            (
                (F.col("rc") + 1).cast("double")
                / (F.col("rn").cast("double") + F.lit(10.0))
            ).alias("q"),
            "n",
        )
        terms = pq.select(
            "n",
            F.round(
                F.expr("(p - q) * ln(p / q)") * F.lit(1e12)
            )
            .cast("bigint")
            .alias("term_q"),
        )
        write_owned(
            terms.agg(
                F.max("n").cast("bigint").alias("n_docs"),
                (
                    F.sum("term_q").cast("bigint").cast("double")
                    / F.lit(1e12)
                ).alias("psi"),
            ).withColumn("batch_id", F.lit(batch_id)),
            psi_dir,
        )
        write_owned(
            counts.withColumn("batch_id", F.lit(batch_id)), bins_dir
        )

    return write_batch
