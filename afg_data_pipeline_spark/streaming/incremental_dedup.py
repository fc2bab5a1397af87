"""Streaming ingest with incremental near-dup detection against a
PERSISTED signature store — the end-to-end form of the
delta-vs-corpus contract in operators/dedup.cross_corpus_near_dup:
instead of re-banding history per increment, the store accumulates
each micro-batch's (id, band_key) and (id, shingles) tables as
parquet partitioned by batch_id, and every new batch joins its few
band rows against the store.

Idempotence: all writes are streaming/sinks.write_owned and the
flag join reads only streaming/sinks.prior (batch_id < current), so
same-checkpoint recovery holds as documented there — a replayed
batch neither duplicates store rows nor flags itself against its
own just-written signatures.

Scale shape: the store grows linearly in corpus size but the
per-batch work is (batch bands) ⋈ (store bands) — an equi-join on
band_key where Spark broadcasts the small batch side; partition
pruning on batch_id keeps replays from rescanning; a production
deployment would additionally bucket the store by band-key prefix
(io.write_parquet_sorted) to turn the probe into a pruned read.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from afg_data_pipeline_spark.fs import delete_path, store_exists
from afg_data_pipeline_spark.operators.dedup import _minhash_band_table
from afg_data_pipeline_spark.streaming.sinks import prior, write_owned


def incremental_dedup_sink(
    store_dir: str,
    flags_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    n_hashes: int = 8,
    band_size: int = 2,
    shingle_k: int = 2,
):
    """foreachBatch function: flag each micro-batch's docs that
    near-duplicate any PRIOR batch's docs (exact shingle Jaccard >=
    ``threshold`` on banded collisions), then append the batch's
    signatures to the store.

    Writes:
    - ``flags_dir``: (new_id, dup_of, jaccard, batch_id) parquet;
    - ``store_dir``/bands: (id, band_key, batch_id);
    - ``store_dir``/shingles: (id, shingles, batch_id).
    """
    bands_dir = posixpath.join(store_dir, "bands")
    shingles_dir = posixpath.join(store_dir, "shingles")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        base, long = _minhash_band_table(
            batch_df, id_col, text_col, n_hashes, band_size, shingle_k
        )
        prior_bands = prior(spark, bands_dir, batch_id)
        if prior_bands is not None:
            prior_sh = prior(spark, shingles_dir, batch_id)
            pairs = (
                long.select(
                    F.col(id_col).alias("new_id"), "band_key"
                )
                .join(
                    prior_bands.select(
                        F.col("id").alias("dup_of"), "band_key"
                    ),
                    "band_key",
                )
                .select("new_id", "dup_of")
                .dropDuplicates()
            )
            flagged = (
                pairs.join(
                    base.select(
                        F.col(id_col).alias("new_id"),
                        F.col("shingles").alias("sh_a"),
                    ),
                    "new_id",
                )
                .join(
                    prior_sh.select(
                        F.col("id").alias("dup_of"),
                        F.col("shingles").alias("sh_b"),
                    ),
                    "dup_of",
                )
            )
            # Single-evaluation gate (functions/gate.py, r11): the
            # select+filter form pushed the jaccard threshold into
            # the prior-shingle join condition, running the
            # interpreted array_intersect twice per candidate plus
            # twice per survivor (the batch-side twin of
            # ngram_jaccard_pairs' LSH tier). The gate carries the
            # intersection SIZE and rebuilds the ratio with
            # identical int arithmetic + double division —
            # bit-equal values (stream==batch equality tests pin
            # this).
            from afg_data_pipeline_spark.functions.gate import (
                filter_once,
            )

            inter = F.size(
                F.array_intersect(F.col("sh_a"), F.col("sh_b"))
            )

            def jac_of(i):
                return i.cast("double") / (
                    (
                        F.size(F.col("sh_a"))
                        + F.size(F.col("sh_b"))
                        - i
                    ).cast("double")
                )

            write_owned(
                filter_once(
                    flagged,
                    inter,
                    lambda i: jac_of(i) >= F.lit(float(threshold)),
                    "__i",
                )
                .select(
                    "new_id",
                    "dup_of",
                    jac_of(F.col("__i")).alias("jaccard"),
                )
                .withColumn("batch_id", F.lit(batch_id)),
                flags_dir,
            )
        write_owned(
            long.select(F.col(id_col).alias("id"), "band_key")
            .withColumn("batch_id", F.lit(batch_id)),
            bands_dir,
        )
        write_owned(
            base.select(F.col(id_col).alias("id"), "shingles")
            .withColumn("batch_id", F.lit(batch_id)),
            shingles_dir,
        )

    return write_batch


def purge_ids_from_store(
    spark,
    store_dir: str,
    ids,
    id_col: str = "doc_id",
) -> dict:
    """Deletion propagation (the GDPR/right-to-erasure path): remove
    every trace of ``ids`` from the persisted signature store so
    future batches can no longer match against deleted documents.

    ``ids`` is a list of ids or a single-column DataFrame (pass a
    DataFrame at scale — the purge set then anti-joins instead of
    riding an IN-list literal).

    Touches ONLY affected partitions: the store is partitioned by
    batch_id, so the rewrite reads the partition column, finds the
    batches containing purged ids (a semi-join + distinct over the
    pruned column), dynamically overwrites just those, and removes
    outright any partition whose every row was purged (dynamic
    overwrite cannot express an empty partition). Unaffected
    partitions keep their files byte-identical — at a 100 TB store
    the erasure cost is proportional to the deleted documents'
    batches, not the store.

    Returns {"bands": n_removed, "shingles": n_removed}.
    """
    from pyspark.sql import DataFrame as _DF

    if isinstance(ids, _DF):
        purge = ids.select(
            F.col(ids.columns[0]).alias("id")
        ).distinct()
    else:
        purge = spark.createDataFrame(
            [(int(i),) for i in ids], "id long"
        )
    from pyspark.errors import AnalysisException

    removed = {}
    for sub in ("bands", "shingles"):
        path = posixpath.join(store_dir, sub)
        if not store_exists(spark, path):
            removed[sub] = 0
            continue
        try:
            df = spark.read.parquet(path)
        except AnalysisException:
            # Every partition already purged: the directory exists
            # but holds no readable parquet — nothing left to do.
            removed[sub] = 0
            continue
        hit = df.join(purge, "id", "left_semi")
        affected = [
            r.batch_id
            # collect-bound: distinct batch ids (one per micro-batch)
            for r in hit.select("batch_id").distinct().collect()
        ]
        removed[sub] = hit.count()
        if not affected:
            continue
        keep = df.filter(
            F.col("batch_id").isin(affected)
        ).join(purge, "id", "left_anti")
        kept_batches = {
            r.batch_id
            # collect-bound: distinct batch ids (one per micro-batch)
            for r in keep.select("batch_id").distinct().collect()
        }
        if kept_batches:
            write_owned(keep, path)
        for empty in set(affected) - kept_batches:
            delete_path(
                spark, posixpath.join(path, f"batch_id={empty}")
            )
    return removed
