"""Streaming quality funnel: each micro-batch's 5-row report equals
the batch kernel run on exactly that batch's documents (stream ==
batch, the one-kernel guarantee), and crash-recovery replay leaves
the report byte-identical."""

from __future__ import annotations

import glob
import os
import shutil

# batch 0: clean docs; batch 1: one megatoken doc + one too-short
BATCH0 = [
    (i, "the quick brown fox jumps over the lazy dog again " * 2)
    for i in range(1, 11)
]
BATCH1 = [
    (100, "a b"),
    (101, "x" * 40 + " " + "the quick brown fox jumps over the dot now"),
    (102, "one two three four five six seven eight nine ten"),
]


def _write_batch_file(spark, src, tmp_path, fname, rows, mtime):
    staging = str(tmp_path / ("stage_" + fname))
    spark.createDataFrame(
        rows, "doc_id long, text string"
    ).coalesce(1).write.parquet(staging)
    part = glob.glob(staging + "/part-*.parquet")[0]
    dst = str(src / fname)
    os.rename(part, dst)
    os.utime(dst, (mtime, mtime))


class TestStreamingFunnel:
    def _run(self, spark, tmp_path):
        from afg_data_pipeline_spark.streaming.funnel import (
            quality_funnel_sink,
        )
        from afg_data_pipeline_spark.streaming.sinks import drain

        src = tmp_path / "src"
        if not src.exists():
            src.mkdir()
            _write_batch_file(
                spark, src, tmp_path, "f1.parquet", BATCH0,
                1_000_000_000,
            )
            _write_batch_file(
                spark, src, tmp_path, "f2.parquet", BATCH1,
                1_000_000_600,
            )
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        drain(
            stream,
            quality_funnel_sink(str(tmp_path / "report")),
            str(tmp_path / "ckpt"),
        )

    def _report(self, spark, tmp_path):
        return {
            (r["batch_id"], r["stage"]): (
                r["rule"],
                r["n_in"],
                r["n_dropped"],
                r["n_out"],
                r["n_sole_reject"],
            )
            for r in spark.read.parquet(
                str(tmp_path / "report")
            ).collect()
        }

    def test_stream_equals_batch(self, spark, tmp_path):
        from afg_data_pipeline_spark.operators.quality_funnel import (
            funnel_flags,
            funnel_rollup,
        )

        self._run(spark, tmp_path)
        got = self._report(spark, tmp_path)
        assert {b for b, _ in got} == {0, 1}
        for bid, rows in ((0, BATCH0), (1, BATCH1)):
            docs = spark.createDataFrame(
                rows, "doc_id long, text string"
            )
            want = {
                r["stage"]: (
                    r["rule"],
                    r["n_in"],
                    r["n_dropped"],
                    r["n_out"],
                    r["n_sole_reject"],
                )
                for r in funnel_rollup(
                    funnel_flags(docs)
                ).collect()
            }
            for s in range(1, 6):
                assert got[(bid, s)] == want[s], (bid, s)
        # the planted defects land where expected: batch 1 drops
        # doc 100 at rule 1 (2 tokens) and doc 101 at rule 5 (its
        # 40-char megatoken); only doc 102 survives the funnel
        assert got[(1, 1)][2] == 1  # n_dropped at stage 1
        assert got[(1, 5)][2] == 1  # n_dropped at stage 5
        assert got[(1, 5)][3] == 1  # n_out after stage 5

    def test_replay_idempotent(self, spark, tmp_path):
        self._run(spark, tmp_path)
        before = self._report(spark, tmp_path)
        # simulate crash after batch 0: wipe checkpoint offsets of
        # batch 1 by deleting the whole checkpoint and re-running —
        # every batch replays and must overwrite byte-identically
        shutil.rmtree(str(tmp_path / "ckpt"))
        self._run(spark, tmp_path)
        assert self._report(spark, tmp_path) == before
