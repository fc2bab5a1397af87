"""Streaming DSIR scoring sink: online scores match the batch
operator run over exactly the prior batches, batch 0 scores zero
(Laplace prior only), and crash-recovery replay leaves scores AND
the distribution store byte-identical."""

from __future__ import annotations

import glob
import os
import shutil


def _write_batch_file(spark, src, tmp_path, fname, rows, mtime):
    staging = str(tmp_path / ("stage_" + fname))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).coalesce(1).write.parquet(staging)
    part = glob.glob(staging + "/part-*.parquet")[0]
    dst = str(src / fname)
    os.rename(part, dst)
    os.utime(dst, (mtime, mtime))


BATCH0 = [
    (1, "the quick brown fox jumps over the lazy dog", "en"),
    (2, "zzq qqz zqz qzq zzq qqz zqz qzq", "xx"),
]
BATCH1 = [
    (101, "the quick brown fox runs past the lazy dog", "en"),
    (102, "aaa bbb ccc ddd eee fff", "xx"),
    (103, "x", "en"),  # < 2 tokens: zero grams
]


class TestStreamingDsir:
    def _run(self, spark, tmp_path, ckpt_name="ckpt"):
        from afg_data_pipeline_spark.streaming.dsir import (
            dsir_scoring_sink,
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
            spark.readStream.schema(
                "doc_id long, text string, lang string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        drain(
            stream,
            dsir_scoring_sink(
                str(tmp_path / "store"),
                str(tmp_path / "scores"),
                "lang = 'en'",
            ),
            str(tmp_path / ckpt_name),
        )

    def test_online_scores_match_batch_operator(
        self, spark, tmp_path
    ):
        from afg_data_pipeline_spark.operators.dsir import (
            dsir_scores,
        )
        from pyspark.sql import functions as F

        self._run(spark, tmp_path)
        scores = {
            (r.batch_id, r.id): (r.n_grams, r.score)
            for r in spark.read.parquet(
                str(tmp_path / "scores")
            ).collect()
        }
        # Batch 0: prior distributions are empty -> Laplace prior
        # on both sides -> every log-ratio 0 -> every score 0.0.
        assert scores[(0, 1)][1] == 0.0
        assert scores[(0, 2)][1] == 0.0
        # Batch 1 scores == the batch operator where raw = batch-0
        # docs and the per-doc counts come from batch-1 docs. The
        # operator scores docs of its own `raw` frame, so build the
        # expected values with raw = batch0 ∪ batch1 counts?? NO —
        # the online contract is distribution-so-far: replicate by
        # running the operator with raw=batch0, then re-scoring
        # batch1's gram counts through the identical lr table.
        # Easiest exact replica: python, mirroring the sink's math.
        import hashlib
        import math

        def grams(text):
            t = text.strip().split()
            return [
                hashlib.md5(
                    " ".join(t[i : i + 2]).encode()
                ).hexdigest()[:2]
                for i in range(len(t) - 1)
            ]

        rc: dict = {}
        tc: dict = {}
        for _id, text, lang in BATCH0:
            for b in grams(text):
                rc[b] = rc.get(b, 0) + 1
                if lang == "en":
                    tc[b] = tc.get(b, 0) + 1
        rt, tt = sum(rc.values()), sum(tc.values())
        lrq = {}
        for i in range(256):
            b = format(i, "02x")
            lr = math.log(
                (tc.get(b, 0) + 1) / (tt + 256)
            ) - math.log((rc.get(b, 0) + 1) / (rt + 256))
            v = lr * 1e9
            lrq[b] = (
                int(math.floor(v + 0.5))
                if v >= 0
                else int(math.ceil(v - 0.5))
            )
        for _id, text, _lang in BATCH1:
            gs = grams(text)
            sq = sum(lrq[b] for b in gs)
            assert scores[(1, _id)] == (
                len(gs),
                float(sq) / 1e9,
            ), _id
        # sanity against the batch operator for the retrospective
        # run (NOT equal to online scores — documents the semantic
        # difference the module docstring states).
        full = spark.createDataFrame(
            BATCH0 + BATCH1, "doc_id long, text string, lang string"
        )
        retro = {
            r.doc_id: r.score
            for r in dsir_scores(
                full, target_cond=F.col("lang") == "en"
            ).collect()
        }
        assert retro[101] != scores[(1, 101)][1]

    def test_store_probe_is_scheme_aware(self, spark, tmp_path):
        """Store addressed as a ``file://`` URI: the prior-store
        probe must resolve through the Hadoop FileSystem
        (fs.store_exists). os.path.exists is blind to URIs, so
        pre-fix every batch scored against the empty prior — all
        scores exactly 0.0, silently (VERDICT r8 #1)."""
        from afg_data_pipeline_spark.streaming.dsir import (
            dsir_scoring_sink,
        )
        from afg_data_pipeline_spark.streaming.sinks import drain

        src = tmp_path / "src"
        src.mkdir()
        _write_batch_file(
            spark, src, tmp_path, "f1.parquet", BATCH0, 1_000_000_000
        )
        _write_batch_file(
            spark, src, tmp_path, "f2.parquet", BATCH1, 1_000_000_600
        )
        stream = (
            spark.readStream.schema(
                "doc_id long, text string, lang string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        drain(
            stream,
            dsir_scoring_sink(
                "file://" + str(tmp_path / "store"),
                str(tmp_path / "scores"),
                "lang = 'en'",
            ),
            str(tmp_path / "ckpt"),
        )
        scores = {
            (r.batch_id, r.id): r.score
            for r in spark.read.parquet(
                str(tmp_path / "scores")
            ).collect()
        }
        # batch 0 still Laplace-prior-only; batch 1 MUST see the
        # batch-0 distributions (nonzero log-ratios for doc 101's
        # shared grams).
        assert scores[(0, 1)] == 0.0
        assert scores[(1, 101)] != 0.0

    def test_crash_replay_byte_identity(self, spark, tmp_path):
        self._run(spark, tmp_path)
        scores_before = sorted(
            tuple(r)
            for r in spark.read.parquet(
                str(tmp_path / "scores")
            ).collect()
        )
        store_before = sorted(
            tuple(r)
            for r in spark.read.parquet(
                str(tmp_path / "store" / "buckets")
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
        self._run(spark, tmp_path, ckpt_name="ckpt_recover")
        assert (
            sorted(
                tuple(r)
                for r in spark.read.parquet(
                    str(tmp_path / "scores")
                ).collect()
            )
            == scores_before
        )
        assert (
            sorted(
                tuple(r)
                for r in spark.read.parquet(
                    str(tmp_path / "store" / "buckets")
                ).collect()
            )
            == store_before
        )
