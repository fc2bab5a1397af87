"""Streaming ANN index maintenance — the ingest half of a
production vector-search deployment: new embeddings arrive as a
stream and must become servable without rebuilding the index.

Design (the FAISS/Milvus operational shape, re-expressed as a
parquet layout):

- The MODEL is FROZEN at bootstrap: coarse centroids + PQ
  codebooks are trained once (operators/pq.build machinery) and
  persisted; arriving vectors are assigned and encoded against
  that frozen model — the standard IVF practice (re-training the
  quantizer would invalidate every existing code; that is a
  rebuild, not an append).
- POSTINGS are parquet partitioned by (centroid_id, batch_id).
  centroid_id first: serving's probed-cell isin filter still
  prunes whole top-level directories, so query cost stays
  n_probe/n_centroids of the corpus no matter how many batches
  accreted. batch_id second: each micro-batch owns its
  subdirectories, so a DYNAMIC partition overwrite makes replay
  idempotent — a crashed-and-replayed batch REPLACES its own
  partitions instead of duplicating rows
  (streaming/sinks.write_owned).
- Serving is operators/pq.query_ivfpq_index UNCHANGED — it reads
  the postings directory and ignores the extra partition column.

Compaction note: long-running ingest accretes one file per
(cell, batch); sinks/compaction.compact_parquet over the postings
directory (partition_by=["centroid_id"]) is the maintenance step,
after which batch-replay idempotence is no longer needed (the
stream's checkpoint has moved past those batches).
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from afg_data_pipeline_spark.streaming.sinks import write_owned


def bootstrap_ivfpq_model(
    corpus: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    n_centroids: int = 16,
    dim: int = 64,
) -> None:
    """Train and persist the frozen quantizer model (centroids +
    codebooks) from the bootstrap corpus. Writes NO postings —
    ingest (batch or streaming) goes through
    append_to_ivfpq_index, so bootstrap rows and streamed rows
    take the identical code path."""
    from afg_data_pipeline_spark.operators.pq import _save_ivfpq_model

    _save_ivfpq_model(
        corpus, index_dir, id_col, vec_col, m, k, n_centroids, dim
    )


def append_to_ivfpq_index(
    batch_df: DataFrame,
    index_dir: str,
    batch_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Assign + encode ``batch_df`` against the persisted frozen
    model and land it as the postings partitions owned by
    ``batch_id`` (dynamic overwrite — replay-idempotent).

    Foreach-batch ids start at 0: manual backfills/bootstrap
    appends must use NEGATIVE batch ids, or the stream's first
    micro-batch will dynamically overwrite their partitions."""
    from afg_data_pipeline_spark.operators.pq import (
        _ivfpq_postings,
        _load_ivfpq_model,
    )

    cents, books = _load_ivfpq_model(batch_df.sparkSession, index_dir)
    write_owned(
        _ivfpq_postings(batch_df, cents, books, id_col, vec_col)
        .withColumn("batch_id", F.lit(int(batch_id))),
        posixpath.join(index_dir, "postings"),
        "centroid_id",
    )


def ann_index_sink(
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """foreachBatch function: every arriving micro-batch becomes
    servable postings; empty batches write nothing."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_to_ivfpq_index(
            batch_df, index_dir, batch_id,
            id_col=id_col, vec_col=vec_col,
        )

    return write_batch
