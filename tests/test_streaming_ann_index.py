"""Streaming ANN index maintenance: streamed-in postings serve
bit-identically to batch-ingested postings under the same frozen
model; crash-replay of a batch is idempotent; serving still prunes
to the probed cells."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from afg_data_pipeline_spark.io import read_star_table
from afg_data_pipeline_spark.operators.pq import (
    query_ivfpq_index,
)
from afg_data_pipeline_spark.streaming.ann_index import (
    ann_index_sink,
    append_to_ivfpq_index,
    bootstrap_ivfpq_model,
)
from afg_data_pipeline_spark.streaming.sinks import drain
from tests.conftest import SF_DIR

EMB_SCHEMA = (
    "vec_id long, embedding array<float>, label int"
)


def _serve(spark, index_dir):
    emb = read_star_table(spark, "embeddings", SF_DIR)
    queries = emb.filter(F.col("vec_id") < 8)
    rows = query_ivfpq_index(
        spark, index_dir, queries, k=5, n_probe=4
    ).collect()
    return sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["adc"])
        for r in rows
    )


@pytest.fixture(scope="module")
def split_corpus(spark):
    emb = read_star_table(spark, "embeddings", SF_DIR)
    boot = emb.filter(F.col("vec_id") % 3 != 2)
    late = emb.filter(F.col("vec_id") % 3 == 2)
    return boot, late


class TestStreamingAnnIndex:
    def test_streamed_equals_batch_ingest(
        self, spark, split_corpus, tmp_path
    ):
        boot, late = split_corpus
        sdir = str(tmp_path / "stream_idx")
        bdir = str(tmp_path / "batch_idx")
        # batch_id=-1: stream micro-batch ids start at 0, so a
        # manual bootstrap/backfill MUST use a reserved negative
        # id or the stream's batch 0 dynamically overwrites it
        for d in (sdir, bdir):
            bootstrap_ivfpq_model(boot, d)
            append_to_ivfpq_index(boot, d, batch_id=-1)
        # batch baseline: late half lands in one append
        append_to_ivfpq_index(late, bdir, batch_id=1)
        # streaming: late half arrives as file micro-batches
        src = str(tmp_path / "arrivals")
        late.repartition(2).write.parquet(src)
        stream = (
            spark.readStream.schema(EMB_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        drain(stream, ann_index_sink(sdir), str(tmp_path / "ckpt"))
        got = _serve(spark, sdir)
        want = _serve(spark, bdir)
        assert len(want) > 0
        assert got == want

    def test_replay_is_idempotent(
        self, spark, split_corpus, tmp_path
    ):
        boot, late = split_corpus
        d = str(tmp_path / "idx")
        bootstrap_ivfpq_model(boot, d)
        append_to_ivfpq_index(boot, d, batch_id=0)
        append_to_ivfpq_index(late, d, batch_id=1)
        before = _serve(spark, d)
        n_before = (
            spark.read.parquet(d + "/postings").count()
        )
        # crash-replay: the same batch lands again
        append_to_ivfpq_index(late, d, batch_id=1)
        assert _serve(spark, d) == before
        assert (
            spark.read.parquet(d + "/postings").count()
            == n_before
        )

    def test_postings_partition_layout(
        self, spark, split_corpus, tmp_path
    ):
        import os

        boot, _late = split_corpus
        d = str(tmp_path / "idx2")
        bootstrap_ivfpq_model(boot, d)
        append_to_ivfpq_index(boot, d, batch_id=7)
        cells = [
            e
            for e in os.listdir(d + "/postings")
            if e.startswith("centroid_id=")
        ]
        assert cells  # top-level pruning key survives
        inner = os.listdir(d + "/postings/" + cells[0])
        assert any(e == "batch_id=7" for e in inner)

    def test_file_uri_index_round_trip(
        self, spark, split_corpus, tmp_path
    ):
        """Bootstrap + append addressed as a ``file://`` URI: the
        frozen model's codebooks.json lands in the index dir (not a
        CWD-relative ``file:`` directory), append reads it back, and
        serving equals the plain-path index."""
        boot, late = split_corpus
        plain = str(tmp_path / "plain")
        uri = "file://" + str(tmp_path / "uri")
        for d in (plain, uri):
            bootstrap_ivfpq_model(boot, d)
            append_to_ivfpq_index(boot, d, batch_id=-1)
            append_to_ivfpq_index(late, d, batch_id=0)
        assert (tmp_path / "uri" / "codebooks.json").is_file()
        want = _serve(spark, plain)
        assert len(want) > 0
        assert _serve(spark, uri) == want
