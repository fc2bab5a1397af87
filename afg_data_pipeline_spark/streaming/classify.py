"""Streaming NB classification: score every arriving document
micro-batch against a PERSISTED Naive Bayes model — the deploy
half of the trained-corpus-filter story (operators/classify.py is
the train half). A crawl ingest stamps each document with its
predicted class and confidence the moment it lands, exactly the
way production fastText-style filters run.

The model is two small parquet tables (token_model: one row per
(class, token); class_model: one row per class) written once by
``persist_nb_model`` — vocabulary-sized at any corpus scale, so
the sink's per-batch work is one batch-sized token aggregate plus
broadcast joins of the loaded model. Scoring semantics are
``operators/classify.nb_score`` verbatim (the batch==stream test
pins this), so the streamed scores are bit-identical to running
the batch scorer over the same rows.

Idempotence: the scores write is streaming/sinks.write_owned, so
same-checkpoint recovery holds as documented there. The model is
read-only state; unlike the DSIR sink there is no order-dependent
store, so replays are trivially safe.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from afg_data_pipeline_spark.operators.classify import nb_score
from afg_data_pipeline_spark.streaming.sinks import write_owned


def persist_nb_model(
    token_model: DataFrame,
    class_model: DataFrame,
    model_dir: str,
) -> None:
    """Write a trained NB model (operators/classify.nb_train
    output) as two parquet tables under ``model_dir``."""
    token_model.write.mode("overwrite").parquet(
        os.path.join(model_dir, "token_model")
    )
    class_model.write.mode("overwrite").parquet(
        os.path.join(model_dir, "class_model")
    )


def load_nb_model(
    spark: SparkSession, model_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Read back a persisted NB model (token_model, class_model)."""
    return (
        spark.read.parquet(
            os.path.join(model_dir, "token_model")
        ),
        spark.read.parquet(
            os.path.join(model_dir, "class_model")
        ),
    )


def nb_scoring_sink(
    model_dir: str,
    scores_dir: str,
    tokens_sql: str,
    id_col: str = "doc_id",
):
    """foreachBatch function: score the micro-batch against the
    persisted model, write (id, pred_cls, score, batch_id).

    ``tokens_sql`` is a SQL array expression over the batch rows
    producing the token array (e.g.
    ``split(trim(text), '\\\\s+')``) — a string so the closure is
    checkpoint-safe (no captured Column bound to a dead session).
    """
    from pyspark.sql import functions as F

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        token_model, class_model = load_nb_model(
            spark, model_dir
        )
        scored = nb_score(
            batch_df,
            id_col,
            F.expr(tokens_sql),
            token_model,
            class_model,
        ).withColumn("batch_id", F.lit(int(batch_id)))
        write_owned(scored, scores_dir)

    return write_batch
