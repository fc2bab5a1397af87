"""Structured Streaming tests (SURVEY.md §2.10 / §7 Phase 5).

Strategy: the window aggregations are mode-agnostic functions, and
the batch versions are oracle-checked (plans/streaming_batch.py);
here we run the SAME functions as real streams (file source,
availableNow trigger, memory sink) and assert stream == batch on
identical input — plus watermark late-data drop and bounded-state
dedup, which only exist in streaming.
"""

from __future__ import annotations

import pytest

from afg_data_pipeline_spark import schemas
from afg_data_pipeline_spark.io import read_star_table
from afg_data_pipeline_spark.streaming.windows import (
    dedup_within_watermark,
    read_events_stream,
    run_to_memory_sink,
    session_window_agg,
    tumbling_window_agg,
    watermarked_tumbling_counts,
)
from tests.conftest import SF_DIR, normalize_rows

EVENTS_RAW_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, "
    "event_type string, value double, props string"
)


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Events re-materialized as micro-batch-friendly parquet drops
    (normalized timestamps, 4 files = 4 triggers)."""
    path = str(tmp_path_factory.mktemp("events_stream"))
    ev = read_star_table(spark, "events", SF_DIR)
    ev.repartition(4).write.mode("overwrite").parquet(path)
    return path


def _batch(spark, path):
    return spark.read.schema(
        schemas.EVENTS  # same declared schema as the stream
    ).parquet(path)


class TestStreamBatchParity:
    def test_tumbling_stream_equals_batch(self, spark, events_dir):
        stream = read_events_stream(
            spark, events_dir, schemas.EVENTS, max_files_per_trigger=2
        )
        got = run_to_memory_sink(
            tumbling_window_agg(stream, "1 hour", ["event_type"]),
            "t_tumble",
            "complete",
        )
        want = tumbling_window_agg(
            _batch(spark, events_dir), "1 hour", ["event_type"]
        )
        assert normalize_rows(
            got.collect(), got.columns
        ) == normalize_rows(want.collect(), want.columns)

    def test_session_stream_equals_batch(self, spark, events_dir):
        stream = read_events_stream(
            spark, events_dir, schemas.EVENTS, max_files_per_trigger=2
        )
        got = run_to_memory_sink(
            session_window_agg(stream, "30 minutes", ["user_id"]),
            "t_session",
            "complete",
        )
        want = session_window_agg(
            _batch(spark, events_dir), "30 minutes", ["user_id"]
        )
        assert normalize_rows(
            got.collect(), got.columns
        ) == normalize_rows(want.collect(), want.columns)


class TestStreamStreamJoin:
    def test_attribution_stream_equals_batch(self, spark, events_dir):
        from pyspark.sql import functions as F

        from afg_data_pipeline_spark.streaming.joins import (
            attribution_join,
        )

        stream = read_events_stream(
            spark, events_dir, schemas.EVENTS, max_files_per_trigger=2
        )
        got = run_to_memory_sink(
            attribution_join(
                stream.filter(F.col("event_type") == "view"),
                stream.filter(F.col("event_type") == "click"),
            ),
            "t_attr_join",
            "append",
        )
        b = _batch(spark, events_dir)
        want = attribution_join(
            b.filter(F.col("event_type") == "view"),
            b.filter(F.col("event_type") == "click"),
        )
        assert want.count() > 0
        assert normalize_rows(
            got.collect(), got.columns
        ) == normalize_rows(want.collect(), want.columns)


class TestStreamStaticJoin:
    def test_enrich_stream_equals_batch(self, spark, events_dir):
        from pyspark.sql import functions as F  # noqa: F401

        from afg_data_pipeline_spark.streaming.joins import (
            enrich_with_dimension,
        )

        cust = read_star_table(spark, "customer", SF_DIR)
        stream = read_events_stream(
            spark, events_dir, schemas.EVENTS, max_files_per_trigger=2
        )
        got = run_to_memory_sink(
            enrich_with_dimension(
                stream.select("event_id", "user_id", "value"),
                cust,
                "user_id",
                "c_custkey",
                ["c_mktsegment"],
            ),
            "t_enrich",
            "append",
        )
        b = _batch(spark, events_dir)
        want = enrich_with_dimension(
            b.select("event_id", "user_id", "value"),
            cust,
            "user_id",
            "c_custkey",
            ["c_mktsegment"],
        )
        assert want.count() > 0
        assert normalize_rows(
            got.collect(), got.columns
        ) == normalize_rows(want.collect(), want.columns)


class TestStreamingGeofence:
    def test_geofence_stream_equals_batch(self, spark, events_dir):
        """The r10 fold rewrite made point_in_polygon_join
        stateless (broadcast join + F.aggregate fold, no parity
        groupBy), so the SAME containment operator must run
        unmodified over readStream in append mode — no watermark,
        no state — and emit exactly the batch answer."""
        from pyspark.sql import functions as F

        from afg_data_pipeline_spark.plans.reference_semantics import (
            _PIP_POLYGONS,
        )
        from afg_data_pipeline_spark.streaming.geofence import (
            geofence_enrich,
        )

        def pts(df):
            return df.select(
                "event_id",
                "user_id",
                "event_type",
                (F.col("event_id") % 997)
                .cast("double")
                .alias("px"),
                ((F.col("event_id") * 31) % 991)
                .cast("double")
                .alias("py"),
            )

        stream = read_events_stream(
            spark, events_dir, schemas.EVENTS, max_files_per_trigger=2
        )
        got = run_to_memory_sink(
            geofence_enrich(
                pts(stream), _PIP_POLYGONS, id_col="event_id"
            ).select("event_id", "user_id", "event_type", "poly_id"),
            "t_geofence",
            "append",
        )
        want = geofence_enrich(
            pts(_batch(spark, events_dir)),
            _PIP_POLYGONS,
            id_col="event_id",
        ).select("event_id", "user_id", "event_type", "poly_id")
        assert want.count() > 0
        assert normalize_rows(
            got.collect(), got.columns
        ) == normalize_rows(want.collect(), want.columns)


class TestWatermark:
    def test_watermarked_agg_runs_and_matches_batch_totals(
        self, spark, events_dir
    ):
        # With availableNow over a finite backlog nothing is truly
        # late, so totals must match batch; the point is that the
        # watermarked plan (state eviction wired in) executes.
        stream = read_events_stream(
            spark, events_dir, schemas.EVENTS, max_files_per_trigger=2
        )
        got = run_to_memory_sink(
            watermarked_tumbling_counts(
                stream, "1 hour", "2 hours", ["event_type"]
            ),
            "t_wm",
            "complete",
        )
        n_stream = sum(r.n_events for r in got.collect())
        n_batch = _batch(spark, events_dir).count()
        assert n_stream == n_batch


class TestStreamingDedup:
    def test_dedup_within_watermark_bounded(self, spark, tmp_path, events_dir):
        # Duplicate the input files -> every event appears twice;
        # watermark-scoped dedup must restore exact-once.
        dup_dir = str(tmp_path / "dup")
        ev = _batch(spark, events_dir)
        ev.unionByName(ev).repartition(4).write.mode(
            "overwrite"
        ).parquet(dup_dir)
        stream = read_events_stream(
            spark, dup_dir, schemas.EVENTS, max_files_per_trigger=8
        )
        got = run_to_memory_sink(
            dedup_within_watermark(stream, ["event_id"], "2 hours"),
            "t_dedup",
            "append",
        )
        assert got.count() == ev.count()

    def test_stream_equals_batch_twin_on_ordered_feed(
        self, spark, tmp_path, events_dir
    ):
        """The registered batch twin (dedup_first_event: earliest
        (ts, event_id) per key) must equal the real streaming
        dropDuplicatesWithinWatermark on the feed where its
        semantics are deterministic: events arriving in event-time
        order (one sorted file) with every duplicate inside the
        watermark delay."""
        from afg_data_pipeline_spark.streaming.windows import (
            dedup_first_event,
        )

        ordered_dir = str(tmp_path / "ordered")
        ev = _batch(spark, events_dir)
        ev.orderBy("ts", "event_id").coalesce(1).write.mode(
            "overwrite"
        ).parquet(ordered_dir)
        stream = read_events_stream(
            spark, ordered_dir, schemas.EVENTS,
            max_files_per_trigger=1,
        )
        got = run_to_memory_sink(
            dedup_within_watermark(
                stream, ["user_id", "event_type"], "100 days"
            ),
            "t_dedup_twin",
            "append",
        ).select("user_id", "event_type", "ts", "event_id")
        want = dedup_first_event(
            ev, ["user_id", "event_type"], "ts", "event_id"
        ).select(
            "user_id",
            "event_type",
            ev["ts"].cast("timestamp").alias("ts"),
            "event_id",
        )
        assert normalize_rows(
            got.collect(), got.columns
        ) == normalize_rows(want.collect(), want.columns)


class TestForeachBatchSink:
    def test_idempotent_partition_overwrite(self, spark, tmp_path):
        """foreachBatch exactly-once contract, tested on the path
        the guarantee actually covers: recovery from the SAME
        checkpoint. The last commit marker is deleted (simulating a
        crash after the sink wrote but before the commit landed),
        so restart re-delivers that batch with the same batchId and
        the same offset-log-pinned rows — dynamic overwrite must
        leave the target byte-identical. (A fresh-checkpoint rerun
        is deliberately NOT the claim: batch boundaries there
        depend on file-listing order.)"""
        import shutil

        import pyspark.sql.functions as F

        from afg_data_pipeline_spark.streaming.sinks import (
            drain,
            idempotent_parquet_sink,
        )

        src = tmp_path / "src"
        out = tmp_path / "out"
        ckpt = tmp_path / "ckpt1"
        spark.range(100).withColumn(
            "v", F.col("id") * 2
        ).repartition(4).write.parquet(str(src))

        stream = (
            spark.readStream.schema("id long, v long")
            .option("maxFilesPerTrigger", 2)
            .parquet(str(src))
        )
        drain(stream, idempotent_parquet_sink(str(out)), str(ckpt))
        first = sorted(
            (r.id, r.v)
            for r in spark.read.parquet(str(out)).collect()
        )
        assert len(first) == 100
        assert all(v == 2 * i for i, v in first)

        # Crash-recovery replay: copy the checkpoint and erase the
        # last batch's offsets + commit markers while KEEPING its
        # already-written sink output — the crash window where the
        # foreachBatch write landed but the checkpoint advance was
        # lost. Restart re-plans that batch with the same batchId
        # over the same remaining files and re-delivers it; the
        # partition overwrite must make the second delivery a
        # no-op.
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
            assert len(entries) >= 2
            entries[-1].unlink()
            crc = entries[-1].parent / f".{entries[-1].name}.crc"
            if crc.exists():
                crc.unlink()
        drain(stream, idempotent_parquet_sink(str(out)), str(ckpt2))
        second = sorted(
            (r.id, r.v)
            for r in spark.read.parquet(str(out)).collect()
        )
        assert second == first
        # multiple batch_id partitions actually exercised
        n_parts = (
            spark.read.parquet(str(out))
            .select("batch_id")
            .distinct()
            .count()
        )
        assert n_parts >= 2


class TestStreamingNearDup:
    def test_simhash_dedup_stream_equals_batch(
        self, spark, tmp_path
    ):
        """Planted doc stream: exact dup + token-REORDERED dup +
        distinct docs. SimHash-equality dedup must suppress both
        duplicate forms; the surviving signature set must equal the
        batch twin's distinct signatures."""
        import datetime as dt

        import pyspark.sql.functions as F

        from afg_data_pipeline_spark.operators.dedup import (
            simhash_signatures,
        )
        from afg_data_pipeline_spark.streaming.near_dup import (
            near_dup_within_watermark,
            with_simhash,
        )
        from afg_data_pipeline_spark.streaming.windows import (
            run_to_memory_sink,
        )

        base = "the quick brown fox jumps over the lazy dog"
        rows = [
            (1, base, dt.datetime(2026, 1, 1, 10, 0)),
            (2, base, dt.datetime(2026, 1, 1, 10, 5)),  # exact dup
            (
                3,
                "dog lazy the over jumps fox brown quick the",
                dt.datetime(2026, 1, 1, 10, 10),
            ),  # reordered -> same simhash
            (
                4,
                "completely different words about spark engines",
                dt.datetime(2026, 1, 1, 10, 15),
            ),
            (
                5,
                "numbers one two three four five six seven",
                dt.datetime(2026, 1, 1, 10, 20),
            ),
        ]
        src = str(tmp_path / "docs")
        batch_df = spark.createDataFrame(
            rows, "doc_id long, text string, ts timestamp"
        )
        batch_df.repartition(3).write.parquet(src)

        stream = (
            spark.readStream.schema(
                "doc_id long, text string, ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        got = run_to_memory_sink(
            near_dup_within_watermark(stream),
            "t_near_dup_stream",
            "append",
        )
        got_rows = got.collect()
        batch_sigs = {
            r.simhash
            for r in simhash_signatures(batch_df).collect()
        }
        assert {r.simhash for r in got_rows} == batch_sigs
        # three distinct signatures survive: base-class, doc4, doc5
        assert len(got_rows) == 3
        kept_ids = {r.doc_id for r in got_rows}
        assert 4 in kept_ids and 5 in kept_ids
        assert len(kept_ids & {1, 2, 3}) == 1
        # batch twin through the same stateless kernel agrees
        twin = with_simhash(batch_df).dropDuplicates(["simhash"])
        assert {r.simhash for r in twin.collect()} == batch_sigs


class TestIncrementalDedupSink:
    def test_cross_batch_flags_and_replay_idempotence(
        self, spark, tmp_path
    ):
        """Two micro-batches: a doc in the later batch near-dups a
        doc in the earlier one -> exactly that cross-batch pair is
        flagged (within-batch pairs are out of contract). Then
        crash-recovery replay (copied checkpoint, last
        offsets/commit markers erased) must leave flags AND the
        signature store byte-identical — every write is a dynamic
        batch_id partition overwrite and the flag join reads only
        batch_id < current."""
        import shutil

        from afg_data_pipeline_spark.streaming.incremental_dedup import (
            incremental_dedup_sink,
        )
        from afg_data_pipeline_spark.streaming.sinks import drain

        import glob
        import os

        base = (
            "the quick brown fox jumps over the lazy dog and runs "
            "far away into the deep green forest tonight"
        )
        near = base.replace("tonight", "today")
        src = tmp_path / "src"
        src.mkdir()
        # The file stream source lists PLAIN files (no recursion
        # into nested parquet dirs): write each batch elsewhere and
        # move its part file in, with mtimes forcing f1 -> batch 0.
        for fname, rows, mtime in (
            (
                "f1.parquet",
                [(1, base), (2, "unrelated words about spark engines")],
                1_000_000_000,
            ),
            (
                "f2.parquet",
                [(101, near), (102, "other distinct filler tokens")],
                1_000_000_600,
            ),
        ):
            staging = str(tmp_path / ("stage_" + fname))
            spark.createDataFrame(
                rows, "doc_id long, text string"
            ).coalesce(1).write.parquet(staging)
            part = glob.glob(staging + "/part-*.parquet")[0]
            dst = str(src / fname)
            os.rename(part, dst)
            os.utime(dst, (mtime, mtime))

        store = str(tmp_path / "store")
        flags = str(tmp_path / "flags")
        ckpt = tmp_path / "ckpt"

        def stream():
            return (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src))
            )

        drain(
            stream(),
            incremental_dedup_sink(store, flags, threshold=0.5),
            str(ckpt),
        )
        got = [
            (r.new_id, r.dup_of, r.jaccard)
            for r in spark.read.parquet(flags).collect()
        ]
        assert len(got) == 1
        pair = {got[0][0], got[0][1]}
        assert pair == {1, 101}
        assert got[0][2] > 0.8
        store_ids = sorted(
            r.id
            for r in spark.read.parquet(store + "/shingles").collect()
        )
        assert store_ids == [1, 2, 101, 102]

        # crash-recovery replay of the LAST batch
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
        drain(
            stream(),
            incremental_dedup_sink(store, flags, threshold=0.5),
            str(ckpt2),
        )
        again = [
            (r.new_id, r.dup_of, r.jaccard)
            for r in spark.read.parquet(flags).collect()
        ]
        assert again == got
        assert (
            sorted(
                r.id
                for r in spark.read.parquet(
                    store + "/shingles"
                ).collect()
            )
            == store_ids
        )

    def test_store_probe_is_scheme_aware(self, spark, tmp_path):
        """Same two-batch feed, but the store addressed as a
        ``file://`` URI: the prior-store probe must resolve through
        the Hadoop FileSystem (fs.store_exists), not
        os.path.exists — which is blind to URIs and would silently
        score batch 1 against an EMPTY prior (zero flags, no
        error; VERDICT r8 #1)."""
        import glob
        import os

        from afg_data_pipeline_spark.streaming.incremental_dedup import (
            incremental_dedup_sink,
        )
        from afg_data_pipeline_spark.streaming.sinks import drain

        base = (
            "the quick brown fox jumps over the lazy dog and runs "
            "far away into the deep green forest tonight"
        )
        src = tmp_path / "src"
        src.mkdir()
        for fname, rows, mtime in (
            ("f1.parquet", [(1, base)], 1_000_000_000),
            (
                "f2.parquet",
                [(101, base.replace("tonight", "today"))],
                1_000_000_600,
            ),
        ):
            staging = str(tmp_path / ("stage_" + fname))
            spark.createDataFrame(
                rows, "doc_id long, text string"
            ).coalesce(1).write.parquet(staging)
            part = glob.glob(staging + "/part-*.parquet")[0]
            dst = str(src / fname)
            os.rename(part, dst)
            os.utime(dst, (mtime, mtime))
        store_uri = "file://" + str(tmp_path / "store")
        flags = str(tmp_path / "flags")
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        drain(
            stream,
            incremental_dedup_sink(store_uri, flags, threshold=0.5),
            str(tmp_path / "ckpt"),
        )
        got = [
            (r.new_id, r.dup_of)
            for r in spark.read.parquet(flags).collect()
        ]
        assert got == [(101, 1)]


class TestStorePurge:
    def test_purge_removes_only_targets_and_future_matches(
        self, spark, tmp_path
    ):
        """Erase doc 1 from a built store: its rows disappear from
        bands AND shingles, unaffected partitions keep their files
        untouched (mtime-identical), and a subsequent increment that
        near-dups the purged doc is no longer flagged against it."""
        import glob
        import os

        from afg_data_pipeline_spark.streaming.incremental_dedup import (
            incremental_dedup_sink,
            purge_ids_from_store,
        )

        base = (
            "the quick brown fox jumps over the lazy dog and runs "
            "far away into the deep green forest tonight"
        )
        store = str(tmp_path / "store")
        flags = str(tmp_path / "flags")
        sink = incremental_dedup_sink(store, flags, threshold=0.5)
        # two direct batches (the sink function is foreachBatch's
        # body — driving it directly pins the store format without
        # a stream harness)
        sink(
            spark.createDataFrame(
                [(1, base), (2, "unrelated words about engines")],
                "doc_id long, text string",
            ),
            0,
        )
        sink(
            spark.createDataFrame(
                [(50, "other filler tokens entirely")],
                "doc_id long, text string",
            ),
            1,
        )
        b1_files = {
            p: os.path.getmtime(p)
            for p in glob.glob(
                store + "/bands/batch_id=1/*.parquet"
            )
        }
        assert b1_files
        removed = purge_ids_from_store(spark, store, [1])
        assert removed["bands"] > 0 and removed["shingles"] > 0
        ids_left = {
            r.id
            for r in spark.read.parquet(store + "/bands").collect()
        }
        assert 1 not in ids_left and {2, 50} <= ids_left
        assert {
            r.id
            for r in spark.read.parquet(
                store + "/shingles"
            ).collect()
        } == {2, 50}
        # unaffected partition untouched on disk
        assert b1_files == {
            p: os.path.getmtime(p)
            for p in glob.glob(
                store + "/bands/batch_id=1/*.parquet"
            )
        }
        # a new near-dup of the purged doc is NOT flagged: drive
        # the sink for one more batch and inspect its flags.
        sink(
            spark.createDataFrame(
                [(900, base.replace("tonight", "today"))],
                "doc_id long, text string",
            ),
            2,
        )
        import pyspark.sql.functions as F
        from pyspark.errors import AnalysisException

        try:
            flagged = (
                spark.read.parquet(flags)
                .filter(F.col("batch_id") == 2)
                .collect()
            )
        except AnalysisException:
            flagged = []  # no batch ever flagged anything
        assert not [r for r in flagged if r.dup_of == 1], flagged

    def test_purge_all_rows_of_a_batch_drops_partition(
        self, spark, tmp_path
    ):
        import os

        from afg_data_pipeline_spark.streaming.incremental_dedup import (
            incremental_dedup_sink,
            purge_ids_from_store,
        )

        store = str(tmp_path / "store")
        sink = incremental_dedup_sink(
            store, str(tmp_path / "flags")
        )
        sink(
            spark.createDataFrame(
                [(7, "only doc in this batch right here")],
                "doc_id long, text string",
            ),
            0,
        )
        purge_ids_from_store(spark, store, [7])
        assert not os.path.exists(
            store + "/bands/batch_id=0"
        ) or not os.listdir(store + "/bands/batch_id=0")
        # an empty store still reads (other partitions absent)
        assert (
            purge_ids_from_store(spark, store, [7])["bands"] == 0
        )


@pytest.fixture(scope="module")
def events_dir_flushed(spark, tmp_path_factory):
    """events_dir plus a LATER file holding watermark-flush
    sentinels (one far-future view and one far-future click,
    negative user_ids so they never match real rows): the
    production heartbeat that lets a left-outer stream-stream
    join emit its trailing unmatched rows — the GLOBAL watermark
    is the min over both sides, so BOTH streams need the flush."""
    import datetime as dt

    from pyspark.sql import functions as F

    path = str(tmp_path_factory.mktemp("events_stream_flush"))
    ev = read_star_table(spark, "events", SF_DIR)
    ev.repartition(4).write.mode("overwrite").parquet(path)
    mx = ev.agg(F.max("ts")).collect()[0][0]
    flush_ts = mx + dt.timedelta(hours=10)
    sent = spark.createDataFrame(
        [
            (-1, flush_ts, -1, "view", 0.0, "{}"),
            (-2, flush_ts, -2, "click", 0.0, "{}"),
        ],
        EVENTS_RAW_SCHEMA,
    )
    sent.coalesce(1).write.mode("append").parquet(path)
    return path


class TestStreamStreamOuterJoin:
    def test_attribution_outer_stream_equals_batch(
        self, spark, events_dir_flushed
    ):
        from pyspark.sql import functions as F

        from afg_data_pipeline_spark.streaming.joins import (
            attribution_join_outer,
        )

        stream = read_events_stream(
            spark,
            events_dir_flushed,
            schemas.EVENTS,
            max_files_per_trigger=2,
        )
        got = run_to_memory_sink(
            attribution_join_outer(
                stream.filter(F.col("event_type") == "view"),
                stream.filter(F.col("event_type") == "click"),
            ),
            "t_attr_outer",
            "append",
        )
        # real rows only: the sentinels themselves stay buffered
        # (nothing ever advances the watermark past THEM)
        got_rows = [
            r for r in got.collect() if r["user_id"] >= 0
        ]
        b = _batch(spark, events_dir_flushed).filter(
            F.col("user_id") >= 0
        )
        want = attribution_join_outer(
            b.filter(F.col("event_type") == "view"),
            b.filter(F.col("event_type") == "click"),
        )
        want_rows = want.collect()
        # the outer join's point: unconverted views exist and
        # surface in BOTH modes
        assert any(r["click_id"] is None for r in want_rows)
        assert any(r["click_id"] is None for r in got_rows)
        assert normalize_rows(
            got_rows, got.columns
        ) == normalize_rows(want_rows, want.columns)
