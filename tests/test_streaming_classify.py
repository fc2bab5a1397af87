"""Streaming NB scoring sink: streamed scores are bit-identical to
the batch scorer over the same rows, and crash-recovery replay
leaves the scores byte-identical."""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import functions as F


TRAIN = [
    ("en", "the quick brown fox jumps over the lazy dog"),
    ("en", "the cat sat on the mat with the dog"),
    ("es", "el gato come pescado junto al perro"),
    ("es", "el perro duerme en la casa grande"),
]
BATCH0 = [
    (1, "the fox and the cat"),
    (2, "el gato y el perro"),
]
BATCH1 = [
    (11, "the dog sat"),
    (12, "la casa grande"),
    (13, "zz qq totally oov"),
]
TOKENS_SQL = r"split(trim(text), '\\s+')"


def _write_batch_file(spark, src, tmp_path, fname, rows, mtime):
    staging = str(tmp_path / ("stage_" + fname))
    spark.createDataFrame(
        rows, "doc_id long, text string"
    ).coalesce(1).write.parquet(staging)
    part = glob.glob(staging + "/part-*.parquet")[0]
    dst = str(src / fname)
    os.rename(part, dst)
    os.utime(dst, (mtime, mtime))


class TestStreamingNb:
    def _train_and_persist(self, spark, model_dir):
        from afg_data_pipeline_spark.operators.classify import (
            nb_train,
        )
        from afg_data_pipeline_spark.streaming.classify import (
            persist_nb_model,
        )

        train = spark.createDataFrame(TRAIN, ["cls", "text"])
        tm, cm = nb_train(
            train, "cls", F.split(F.trim(F.col("text")), r"\s+")
        )
        persist_nb_model(tm, cm, model_dir)

    def _run_stream(self, spark, tmp_path, ckpt="ckpt"):
        from afg_data_pipeline_spark.streaming.classify import (
            nb_scoring_sink,
        )
        from afg_data_pipeline_spark.streaming.sinks import drain

        src = tmp_path / "src"
        os.makedirs(str(src), exist_ok=True)
        if not os.path.exists(str(src / "b0.parquet")):
            _write_batch_file(
                spark, src, tmp_path, "b0.parquet", BATCH0, 1000
            )
            _write_batch_file(
                spark, src, tmp_path, "b1.parquet", BATCH1, 2000
            )
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        drain(
            stream,
            nb_scoring_sink(
                str(tmp_path / "model"),
                str(tmp_path / "scores"),
                TOKENS_SQL,
            ),
            str(tmp_path / ckpt),
        )

    def test_stream_matches_batch_scorer(self, spark, tmp_path):
        from afg_data_pipeline_spark.operators.classify import (
            nb_score,
        )
        from afg_data_pipeline_spark.streaming.classify import (
            load_nb_model,
        )

        model_dir = str(tmp_path / "model")
        self._train_and_persist(spark, model_dir)
        self._run_stream(spark, tmp_path)
        got = {
            r.doc_id: (r.pred_cls, r.score)
            for r in spark.read.parquet(
                str(tmp_path / "scores")
            ).collect()
        }
        tm, cm = load_nb_model(spark, model_dir)
        batch = spark.createDataFrame(
            BATCH0 + BATCH1, ["doc_id", "text"]
        )
        want = {
            r.doc_id: (r.pred_cls, r.score)
            for r in nb_score(
                batch,
                "doc_id",
                F.split(F.trim(F.col("text")), r"\s+"),
                tm,
                cm,
            ).collect()
        }
        assert got == want
        assert len(got) == len(BATCH0) + len(BATCH1)
        # the all-OOV doc got the prior-only prediction (es has
        # equal prior; tie breaks to smallest class name 'en')
        assert got[13][0] == "en"

    def test_crash_replay_identity(self, spark, tmp_path):
        # the streaming/sinks.py recovery contract: erase the last
        # commit+offset markers from a COPY of the checkpoint and
        # re-run — the replayed batch must overwrite its partition
        # with identical rows (same recipe as test_streaming_dsir)
        model_dir = str(tmp_path / "model")
        self._train_and_persist(spark, model_dir)
        self._run_stream(spark, tmp_path)
        scores_before = sorted(
            tuple(r)
            for r in spark.read.parquet(
                str(tmp_path / "scores")
            ).collect()
        )
        ckpt = tmp_path / "ckpt"
        ckpt2 = tmp_path / "ckpt_recover"
        shutil.copytree(str(ckpt), str(ckpt2))
        for log in ("commits", "offsets"):
            entries = sorted(
                (
                    p
                    for p in (ckpt2 / log).iterdir()
                    if p.name.isdigit()
                ),
                key=lambda p: int(p.name),
            )
            entries[-1].unlink()
            crc = entries[-1].parent / f".{entries[-1].name}.crc"
            if crc.exists():
                crc.unlink()
        self._run_stream(spark, tmp_path, ckpt="ckpt_recover")
        assert (
            sorted(
                tuple(r)
                for r in spark.read.parquet(
                    str(tmp_path / "scores")
                ).collect()
            )
            == scores_before
        )
