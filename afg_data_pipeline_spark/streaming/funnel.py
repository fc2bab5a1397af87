"""Streaming quality-filter funnel: the per-micro-batch form of
plans/llm_ops.filter_funnel_report — every arriving batch of
documents is scored against THE SAME five integer-threshold rules
(operators/quality_funnel — one kernel for online and offline, so
the two reports cannot drift apart) and its 5-row funnel is
appended to a parquet report keyed by batch_id. The ingest-time
answer to "did the quality mix of the feed just change": a batch
whose drop profile jumps is visible the moment it lands, not at
the next offline sweep.

Idempotence: the write is streaming/sinks.write_owned, so
same-checkpoint recovery holds as documented there.

Scale shape per batch: one token explode over the BATCH (never
accumulated state), map-side-combinable metric aggregate, fifteen
sums, constant 5-row write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from afg_data_pipeline_spark.streaming.sinks import write_owned


def quality_funnel_sink(report_dir: str):
    """foreachBatch function: write the batch's 5-row funnel
    report (stage, rule, n_in, n_dropped, n_out, n_sole_reject,
    batch_id) to ``report_dir``."""
    from afg_data_pipeline_spark.operators.quality_funnel import (
        funnel_flags,
        funnel_rollup,
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        report = funnel_rollup(funnel_flags(batch_df))
        write_owned(
            report.withColumn("batch_id", F.lit(batch_id)).coalesce(1),
            report_dir,
        )

    return write_batch
