"""Streaming PSI drift monitor: online PSI matches a plain-Python
recomputation over exactly the prior batches, batch 0 compares
against the smoothing prior, and crash-recovery replay leaves both
the PSI log and the histogram store byte-identical."""

from __future__ import annotations

import glob
import math
import os
import shutil

CUTS = [100, 200, 300, 400, 500, 600, 700, 800, 900]

BATCH0 = [(i, 50 + 100 * (i % 10)) for i in range(1, 21)]
# batch 1 is deliberately shifted right (drift)
BATCH1 = [(100 + i, 650 + 40 * (i % 9)) for i in range(1, 31)]


def _psi_replica(batch_vals, ref_vals):
    def binof(v):
        return sum(1 for c in CUTS if v > c)

    c = [0] * 10
    for v in batch_vals:
        c[binof(v)] += 1
    rc = [0] * 10
    for v in ref_vals:
        rc[binof(v)] += 1
    n, rn = sum(c), sum(rc)
    total_q = 0
    for b in range(10):
        p = (c[b] + 1) / (n + 10.0)
        q = (rc[b] + 1) / (rn + 10.0)
        total_q += round((p - q) * math.log(p / q) * 1e12)
    return total_q / 1e12


def _write_batch_file(spark, src, tmp_path, fname, rows, mtime):
    staging = str(tmp_path / ("stage_" + fname))
    spark.createDataFrame(
        rows, "doc_id long, n_chars long"
    ).coalesce(1).write.parquet(staging)
    part = glob.glob(staging + "/part-*.parquet")[0]
    dst = str(src / fname)
    os.rename(part, dst)
    os.utime(dst, (mtime, mtime))


class TestStreamingDrift:
    def _run(self, spark, tmp_path, ckpt_name="ckpt"):
        from afg_data_pipeline_spark.streaming.drift import (
            drift_monitor_sink,
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
            spark.readStream.schema("doc_id long, n_chars long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        drain(
            stream,
            drift_monitor_sink(
                str(tmp_path / "store"), str(tmp_path / "psi"), CUTS
            ),
            str(tmp_path / ckpt_name),
        )

    def _psi_rows(self, spark, tmp_path):
        return {
            r.batch_id: (r.n_docs, r.psi)
            for r in spark.read.parquet(
                str(tmp_path / "psi")
            ).collect()
        }

    def test_online_matches_replica(self, spark, tmp_path):
        self._run(spark, tmp_path)
        got = self._psi_rows(spark, tmp_path)
        assert set(got) == {0, 1}
        b0_vals = [v for _, v in BATCH0]
        b1_vals = [v for _, v in BATCH1]
        # batch 0: reference empty -> smoothing prior only
        assert got[0] == (len(BATCH0), _psi_replica(b0_vals, []))
        # batch 1: reference = batch 0 exactly
        assert got[1] == (
            len(BATCH1),
            _psi_replica(b1_vals, b0_vals),
        )
        # the planted shift is flagged by the classic threshold
        assert got[1][1] > 0.25

    def test_crash_replay_idempotent(self, spark, tmp_path):
        self._run(spark, tmp_path)
        first = self._psi_rows(spark, tmp_path)
        store_first = sorted(
            (r.bin, r.c, r.batch_id)
            for r in spark.read.parquet(
                str(tmp_path / "store" / "bins")
            ).collect()
        )
        # simulate a crash AFTER outputs landed but BEFORE the
        # checkpoint recorded progress: wipe the checkpoint and
        # re-drain the identical backlog
        shutil.rmtree(str(tmp_path / "ckpt"))
        self._run(spark, tmp_path, ckpt_name="ckpt2")
        assert self._psi_rows(spark, tmp_path) == first
        store_second = sorted(
            (r.bin, r.c, r.batch_id)
            for r in spark.read.parquet(
                str(tmp_path / "store" / "bins")
            ).collect()
        )
        assert store_second == store_first

    def test_store_probe_is_scheme_aware(self, spark, tmp_path):
        """Store addressed as a ``file://`` URI: the r7 guard that
        refused URI stores is replaced by a Hadoop-FS probe
        (fs.store_exists), so the sink now runs correctly on any
        scheme — batch 1's PSI must be computed against batch 0's
        histogram, not the uniform prior."""
        from afg_data_pipeline_spark.streaming.drift import (
            drift_monitor_sink,
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
            spark.readStream.schema("doc_id long, n_chars long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        drain(
            stream,
            drift_monitor_sink(
                "file://" + str(tmp_path / "store"),
                str(tmp_path / "psi"),
                CUTS,
            ),
            str(tmp_path / "ckpt"),
        )
        got = self._psi_rows(spark, tmp_path)
        b1_vals = [v for _, v in BATCH1]
        assert got[1] == (
            len(BATCH1),
            _psi_replica(b1_vals, [v for _, v in BATCH0]),
        )

    def test_cut_count_guard(self, spark):
        import pytest as _pytest

        from afg_data_pipeline_spark.streaming.drift import (
            drift_monitor_sink,
        )

        with _pytest.raises(ValueError):
            drift_monitor_sink("/tmp/x", "/tmp/y", [1, 2, 3])
