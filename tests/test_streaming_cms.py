"""Streaming CMS store: merged per-batch counters bit-equal the
batch-built sketch, the ε-support candidate recall theorem holds,
replay is idempotent, and estimates keep the one-sided CMS bound."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from afg_data_pipeline_spark.io import read_star_table
from afg_data_pipeline_spark.operators.cms import cms_build
from afg_data_pipeline_spark.operators.text import tokens
from afg_data_pipeline_spark.streaming.cms import (
    append_cms_batch,
    cms_sink,
    heavy_hitters_from_store,
    read_merged_counters,
)
from afg_data_pipeline_spark.streaming.sinks import drain
from tests.conftest import SF_DIR

W, D = 256, 4
S_NUM, S_DEN = 1, 100


@pytest.fixture(scope="module")
def token_stream_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("tok_stream"))
    docs = read_star_table(spark, "documents", SF_DIR)
    toks = docs.select(
        F.explode(tokens("text")).alias("tok")
    )
    toks.repartition(4).write.mode("overwrite").parquet(path)
    return path


def _counters_of(df_or_rows):
    return sorted(
        (r["j"], r["pos"], r["c"]) for r in df_or_rows.collect()
    )


class TestStreamingCms:
    def test_merged_equals_batch_sketch(
        self, spark, token_stream_dir, tmp_path
    ):
        store = str(tmp_path / "store")
        stream = (
            spark.readStream.schema("tok string")
            .option("maxFilesPerTrigger", 1)
            .parquet(token_stream_dir)
        )
        drain(
            stream,
            cms_sink(
                store, "tok",
                width=W, depth=D, s_num=S_NUM, s_den=S_DEN,
            ),
            str(tmp_path / "ckpt"),
        )
        merged = read_merged_counters(spark, store)
        full = spark.read.parquet(token_stream_dir)
        batch = cms_build(full, "tok", width=W, depth=D)
        assert _counters_of(merged) == _counters_of(batch)

        # recall theorem: every globally-supported key is stored
        n = full.count()
        hot = {
            r["tok"]
            for r in full.groupBy("tok")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") * S_DEN >= F.lit(n * S_NUM))
            .collect()
        }
        stored = {
            r["key"]
            for r in spark.read.parquet(store + "/candidates")
            .select("key")
            .distinct()
            .collect()
        }
        assert hot and hot <= stored

        # one-sided error: estimate >= exact, and the top keys by
        # estimate include every globally-supported key
        hh = heavy_hitters_from_store(
            spark, store, k=len(stored), width=W, depth=D
        )
        exact = {
            r["tok"]: r["c"]
            for r in full.groupBy("tok")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }
        rows = hh.collect()
        assert rows
        for r in rows:
            assert r["est_count"] >= exact.get(r["key"], 0)

    def test_replay_idempotent(
        self, spark, token_stream_dir, tmp_path
    ):
        store = str(tmp_path / "store2")
        full = spark.read.parquet(token_stream_dir)
        append_cms_batch(
            full, store, 0, "tok", width=W, depth=D,
            s_num=S_NUM, s_den=S_DEN,
        )
        before = _counters_of(
            read_merged_counters(spark, store)
        )
        append_cms_batch(
            full, store, 0, "tok", width=W, depth=D,
            s_num=S_NUM, s_den=S_DEN,
        )
        assert (
            _counters_of(read_merged_counters(spark, store))
            == before
        )
