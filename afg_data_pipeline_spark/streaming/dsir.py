"""Streaming DSIR: score each micro-batch of documents against the
importance distributions accumulated from every PRIOR batch — the
ingest-time form of operators/dsir.dsir_scores, with the bucket
distributions living in a persisted parquet store instead of being
recomputed per corpus pass.

A crawl ingest uses this to stamp every arriving document with a
target-domain importance score the moment it lands, against the
corpus-so-far: the store holds one (bucket, rc, tc) delta partition
per batch (rc = the batch's raw gram count in that bucket, tc = the
target-flagged subset's count), and batch k's scoring reads the
SUM over partitions batch_id < k.

Semantics note (deliberate, and pinned by tests): scores are
against the distribution-so-far, not the final corpus — replaying
the whole history through operators/dsir.dsir_scores gives the
retrospective scores; this sink gives the online ones. Batch 0
scores against the Laplace prior alone (all buckets equally likely
in both distributions → every log-ratio is 0 → every score is 0.0).

Idempotence: both writes are streaming/sinks.write_owned and
scoring reads only streaming/sinks.prior (batch_id < current), so
same-checkpoint recovery holds as documented there — a replayed
batch never sees its own deltas.

Scale shape: per batch, one gram pass over the BATCH (tiny), a
16^n_hex-row distribution read with partition pruning on batch_id,
and a broadcast of the 256-row log-ratio table — nothing corpus-
sized moves.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from afg_data_pipeline_spark.operators.dsir import (
    _bucket_spine,
    _gram_buckets,
)
from afg_data_pipeline_spark.streaming.sinks import prior, write_owned


def dsir_scoring_sink(
    store_dir: str,
    scores_dir: str,
    target_cond_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    n_hex: int = 2,
):
    """foreachBatch function: score the micro-batch against the
    prior batches' distributions, then append the batch's bucket
    deltas to the store.

    ``target_cond_sql`` is a SQL boolean expression over the batch
    rows marking target-domain membership (e.g. ``lang = 'en'``) —
    a string so the sink closure is checkpoint-safe (no captured
    Column bound to a dead session).

    Writes:
    - ``scores_dir``: (id, n_grams, score, batch_id) parquet;
    - ``store_dir``/buckets: (bucket, rc, tc, batch_id).
    """
    buckets_dir = posixpath.join(store_dir, "buckets")
    B = 16**n_hex

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        flagged = batch_df.withColumn(
            "__tgt", F.expr(target_cond_sql)
        )
        grams = _gram_buckets(
            flagged.select(id_col, text_col, "__tgt"),
            id_col,
            text_col,
            n,
            n_hex,
            extra_cols=("__tgt",),
        )
        doc_counts = (
            grams.groupBy("id", "bucket", "__tgt")
            .agg(F.count(F.lit(1)).alias("c"))
            .localCheckpoint(eager=False)
        )
        spine = _bucket_spine(batch_df, n_hex)
        earlier = prior(spark, buckets_dir, batch_id)
        if earlier is None:
            ref = spine.select(
                "bucket",
                F.lit(0).cast("bigint").alias("rc"),
                F.lit(0).cast("bigint").alias("tc"),
            ).limit(0)
        else:
            ref = earlier.groupBy("bucket").agg(
                F.sum("rc").cast("bigint").alias("rc"),
                F.sum("tc").cast("bigint").alias("tc"),
            )
        dist = spine.join(ref, "bucket", "left").select(
            "bucket",
            F.coalesce(F.col("rc"), F.lit(0)).alias("rc"),
            F.coalesce(F.col("tc"), F.lit(0)).alias("tc"),
        )
        rtot = dist.agg(F.sum("rc").cast("bigint").alias("rt"))
        ttot = dist.agg(F.sum("tc").cast("bigint").alias("tt"))
        lr = (
            dist.crossJoin(F.broadcast(rtot))
            .crossJoin(F.broadcast(ttot))
            .select(
                "bucket",
                F.round(
                    (
                        F.log(
                            (F.col("tc") + 1).cast("double")
                            / (F.col("tt") + B).cast("double")
                        )
                        - F.log(
                            (F.col("rc") + 1).cast("double")
                            / (F.col("rt") + B).cast("double")
                        )
                    )
                    * F.lit(1e9),
                    0,
                )
                .cast("bigint")
                .alias("lrq"),
            )
        )
        scored = (
            doc_counts.join(F.broadcast(lr), "bucket")
            .groupBy("id")
            .agg(
                F.sum("c").cast("bigint").alias("n_grams"),
                F.sum(
                    F.col("c").cast("decimal(38,0)") * F.col("lrq")
                ).alias("sq"),
            )
        )
        write_owned(
            batch_df.select(F.col(id_col).alias("id"))
            .join(scored, "id", "left")
            .select(
                "id",
                F.coalesce(F.col("n_grams"), F.lit(0))
                .cast("bigint")
                .alias("n_grams"),
                (
                    F.coalesce(F.col("sq"), F.lit(0)).cast("double")
                    / F.lit(1e9)
                ).alias("score"),
            )
            .withColumn("batch_id", F.lit(batch_id)),
            scores_dir,
        )
        write_owned(
            doc_counts.groupBy("bucket")
            .agg(
                F.sum("c").cast("bigint").alias("rc"),
                F.sum(F.when(F.col("__tgt"), F.col("c")))
                .cast("bigint")
                .alias("tc"),
            )
            .select(
                "bucket",
                "rc",
                F.coalesce(F.col("tc"), F.lit(0)).alias("tc"),
            )
            .withColumn("batch_id", F.lit(batch_id)),
            buckets_dir,
        )

    return write_batch
