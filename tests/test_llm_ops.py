"""Tests for the LLM-data-pipeline operators (north star: dedup,
similarity search, text analysis, multimodal plumbing).

The oracle-checked queries are covered by test_correctness; these
pin the semantics the oracles can't: LSH recall vs brute force,
SimHash locality, codec-stub behavior, and planted-duplicate
detection.
"""

from __future__ import annotations

import hashlib
import random
from collections import Counter

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from afg_data_pipeline_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_candidates,
    simhash_signatures,
)
from afg_data_pipeline_spark.operators.multimodal import (
    attach_fake_media,
    decode_media,
    extract_features,
    resize_stub,
)
from afg_data_pipeline_spark.operators.similarity import (
    brute_force_topk,
    lsh_bucketed_topk,
)
from tests.conftest import kernel_frames

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def _docs_with_planted_dups(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and runs far "
        "away into the deep green forest tonight"
    )
    near = base.replace("tonight", "today")  # high word-2-gram overlap
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, near),  # near dup of 1
        (4, "completely different words about spark query engines"),
        (5, "numbers one two three four five six seven eight nine"),
    ]
    return spark.createDataFrame(rows, schema=DOCS_SCHEMA)


class TestExactDedup:
    def test_planted_exact_dup(self, spark):
        out = {
            r.digest: r
            for r in exact_dedup(_docs_with_planted_dups(spark)).collect()
        }
        groups = [r for r in out.values() if r.n_copies > 1]
        assert len(groups) == 1
        assert groups[0].keep_id == 1
        assert groups[0].n_copies == 2


class TestMinHashLSH:
    def test_near_dups_survive_banding(self, spark):
        docs = _docs_with_planted_dups(spark)
        got = {
            (r.doc_id_a, r.doc_id_b): r.jaccard
            for r in minhash_lsh_candidates(docs).collect()
        }
        # Exact dup pair must collide in every band with jaccard 1.
        assert got[(1, 2)] == 1.0
        # Near-dup pair must be surfaced with high jaccard.
        assert (1, 3) in got and got[(1, 3)] > 0.7
        # Unrelated docs must not flood the candidate set.
        assert (4, 5) not in got

    def test_candidates_subset_of_pairs(self, spark):
        docs = _docs_with_planted_dups(spark)
        for r in minhash_lsh_candidates(docs).collect():
            assert r.doc_id_a < r.doc_id_b
            assert 0.0 <= r.jaccard <= 1.0

    def test_bucket_cap_drops_boilerplate_not_neardups(self, spark):
        # 40 identical boilerplate docs (one hot bucket per band)
        # plus one genuine near-dup pair in small buckets.
        boiler = [
            (100 + i, "all rights reserved terms of service apply here")
            for i in range(40)
        ]
        pair = [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
        ]
        docs = spark.createDataFrame(
            boiler + pair, "doc_id long, text string"
        )
        capped = {
            (r.doc_id_a, r.doc_id_b)
            for r in minhash_lsh_candidates(
                docs, max_bucket_size=10
            ).collect()
        }
        assert (1, 2) in capped
        assert not any(a >= 100 and b >= 100 for a, b in capped)
        # Uncapped, the boilerplate pairs dominate the output.
        uncapped = {
            (r.doc_id_a, r.doc_id_b)
            for r in minhash_lsh_candidates(docs).collect()
        }
        assert sum(1 for a, b in uncapped if a >= 100) > 100


class TestSimHash:
    def test_locality(self, spark):
        docs = _docs_with_planted_dups(spark)
        sigs = {
            r.doc_id: r.simhash
            for r in simhash_signatures(docs).collect()
        }
        assert sigs[1] == sigs[2]  # identical text -> identical sig

        def hamming(a, b):
            return bin((a & (2**64 - 1)) ^ (b & (2**64 - 1))).count("1")

        # near-dup closer than unrelated
        assert hamming(sigs[1], sigs[3]) < hamming(sigs[1], sigs[4])

    def test_deterministic(self, spark):
        docs = _docs_with_planted_dups(spark)
        a = {r.doc_id: r.simhash for r in simhash_signatures(docs).collect()}
        b = {r.doc_id: r.simhash for r in simhash_signatures(docs).collect()}
        assert a == b


class TestSimilarity:
    def _vectors(self, spark, n=40, dim=16):
        import numpy as np

        rng = np.random.default_rng(3)
        vecs = rng.normal(size=(n, dim)).astype("float32")
        vecs[1] = vecs[0] + rng.normal(scale=0.01, size=dim).astype(
            "float32"
        )  # planted neighbor
        pdf = pd.DataFrame(
            {"vec_id": range(n), "embedding": [v.tolist() for v in vecs]}
        )
        schema = T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
            ]
        )
        return spark.createDataFrame(pdf, schema=schema)

    def test_bruteforce_finds_planted_neighbor(self, spark):
        emb = self._vectors(spark)
        top = brute_force_topk(
            emb.filter(F.col("vec_id") == 0), emb, k=1
        ).collect()
        assert top[0].neighbor_id == 1
        assert top[0].cosine > 0.99

    def test_lsh_recall_against_bruteforce(self, spark):
        emb = self._vectors(spark)
        exact = {
            (r.query_id, r.neighbor_id)
            for r in brute_force_topk(emb, emb, k=3).collect()
        }
        approx = {
            (r.query_id, r.neighbor_id)
            for r in lsh_bucketed_topk(
                emb, emb, k=3, n_planes=2, n_tables=4, dim=16
            ).collect()
        }
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.5, f"LSH recall {recall:.2f} too low"
        # the planted near-identical pair must always be found
        assert (0, 1) in approx

    def test_empty_vector_lands_in_bucket_zero(self, spark):
        # Malformed (empty) vectors must not vanish from the bucket
        # table — they get bucket 0 in every table, visibly.
        from afg_data_pipeline_spark.operators.similarity import (
            srp_tagged_decimal,
        )

        df = spark.createDataFrame(
            [(1, [1.0, -2.0]), (2, [])],
            "vec_id long, embedding array<float>",
        )
        rows = srp_tagged_decimal(
            df, "vec_id", "embedding", n_planes=2, n_tables=2,
            dim=2, seed=7,
        ).collect()
        by_id = {}
        for r in rows:
            by_id.setdefault(r.id, []).append((r.t, r.bucket))
        assert sorted(by_id) == [1, 2]
        assert sorted(by_id[2]) == [(0, 0), (1, 0)]


class TestWeightedReservoir:
    def test_matches_local_aes_reference(self, spark):
        import hashlib
        import math

        from afg_data_pipeline_spark.operators.sampling import (
            weighted_reservoir_sample,
        )

        rows = [
            (i, "en" if i % 2 else "de", 10 + (i * 37) % 400)
            for i in range(200)
        ]
        docs = spark.createDataFrame(
            rows, "doc_id long, lang string, n_chars long"
        )
        got = {
            (r.lang, r.doc_id)
            for r in weighted_reservoir_sample(
                docs, "lang", "doc_id", "n_chars", k=5
            ).collect()
        }

        def race_key(doc_id, w):
            h = int(
                hashlib.md5(str(doc_id).encode()).hexdigest()[:13],
                16,
            )
            return -math.log((h + 1) / 2**52) / w

        want = set()
        for lang in ("en", "de"):
            group = [
                (race_key(i, w), i)
                for i, lg, w in rows
                if lg == lang
            ]
            for _, i in sorted(group)[:5]:
                want.add((lang, i))
        assert got == want

    def test_k_rows_per_stratum_and_deterministic(self, spark):
        from afg_data_pipeline_spark.operators.sampling import (
            weighted_reservoir_sample,
        )

        docs = spark.createDataFrame(
            [(i, f"s{i % 3}", 1 + i % 7) for i in range(90)],
            "doc_id long, lang string, n_chars long",
        )
        out = weighted_reservoir_sample(
            docs, "lang", "doc_id", "n_chars", k=4
        )
        first = sorted((r.lang, r.doc_id) for r in out.collect())
        again = sorted((r.lang, r.doc_id) for r in out.collect())
        assert first == again
        from collections import Counter

        per = Counter(lang for lang, _ in first)
        assert per == {"s0": 4, "s1": 4, "s2": 4}


class TestDuplicateSpans:
    def test_planted_spans_and_short_docs(self, spark):
        from afg_data_pipeline_spark.operators.dedup import (
            duplicate_spans,
        )

        shared = "one two three four five"  # exactly one 5-gram
        rows = [
            (1, f"{shared} unique tail alpha beta gamma"),
            (2, f"different head words here {shared}"),
            (3, "totally unrelated text with no repeats at all"),
            (4, "tiny doc"),  # < 5 tokens -> (0, 0)
            (5, f"{shared} {shared}"),  # within-doc repeat
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r.id: (r.n_grams, r.n_dup_grams)
            for r in duplicate_spans(docs, k=5).collect()
        }
        # doc1: 10 tokens -> 6 grams; only the leading shared one dups
        assert got[1] == (6, 1)
        # doc2: 9 tokens -> 5 grams; only the trailing shared one
        assert got[2] == (5, 1)
        assert got[3] == (4, 0)
        assert got[4] == (0, 0)
        # doc5: 10 tokens -> 6 grams; the shared 5-gram occurs at
        # positions 1 and 6; the 4 bridging grams are unique to it
        assert got[5] == (6, 2)


class TestTfidfPairs:
    def _local_reference(self, rows, max_df, min_sim):
        import math
        from collections import Counter

        tf = {i: Counter(t.split()) for i, t in rows}
        n = len(rows)
        df = Counter()
        for c in tf.values():
            df.update(c.keys())
        vocab = {t for t, d in df.items() if d <= max_df}
        w = {
            i: {
                t: c * math.log(n / df[t])
                for t, c in cs.items()
                if t in vocab
            }
            for i, cs in tf.items()
        }
        norm = {
            i: math.sqrt(sum(x * x for x in ws.values()))
            for i, ws in w.items()
        }
        out = {}
        ids = sorted(w)
        for ai in range(len(ids)):
            for bi in range(ai + 1, len(ids)):
                a, b = ids[ai], ids[bi]
                shared = set(w[a]) & set(w[b])
                if not shared or not norm[a] or not norm[b]:
                    continue
                dot = sum(w[a][t] * w[b][t] for t in shared)
                sim = dot / (norm[a] * norm[b])
                if sim >= min_sim:
                    out[(a, b)] = sim
        return out

    def test_matches_local_reference(self, spark):
        from afg_data_pipeline_spark.operators.tfidf import (
            tfidf_cosine_pairs,
        )

        rows = [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox leaps over the lazy dog"),
            (3, "completely different content about spark engines"),
            (4, "spark engines process content at scale"),
            (5, "the quick brown fox jumps over the lazy dog"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r.id_a, r.id_b): r.cosine
            for r in tfidf_cosine_pairs(
                docs, min_sim=0.1, max_df=4
            ).collect()
        }
        want = self._local_reference(rows, max_df=4, min_sim=0.1)
        assert set(got) == set(want)
        # weights are quantized to 1e-6 resolution for cross-engine
        # determinism, so compare at ~1e-5 relative
        for pair, sim in got.items():
            assert sim == pytest.approx(want[pair], rel=1e-5)
        # identical docs -> cosine 1.0
        assert got[(1, 5)] == pytest.approx(1.0)

    def test_max_df_prunes_ubiquitous_terms(self, spark):
        # With max_df=1 no term is shared between any two docs, so
        # there are no candidate pairs at all — the join never even
        # enumerates them.
        from afg_data_pipeline_spark.operators.tfidf import (
            tfidf_cosine_pairs,
        )

        docs = spark.createDataFrame(
            [(1, "alpha shared"), (2, "beta shared")],
            "doc_id long, text string",
        )
        assert (
            tfidf_cosine_pairs(docs, min_sim=0.0, max_df=1).count()
            == 0
        )

    def test_no_cartesian_in_plan(self, spark):
        from afg_data_pipeline_spark.plans import REGISTRY
        from tests.conftest import SF_DIR

        df = REGISTRY["tfidf_doc_pairs"].fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestLshNearDup:
    """embedding_near_dup_lsh vs its brute-force anchor."""

    def test_recall_and_bit_exact_precision(self, spark):
        from afg_data_pipeline_spark.plans import REGISTRY
        from tests.conftest import SF_DIR

        anchor = {
            (r.id_a, r.id_b): r.cosine
            for r in REGISTRY["embedding_near_dup"].fn(
                spark, SF_DIR
            ).collect()
        }
        lsh = {
            (r.id_a, r.id_b): r.cosine
            for r in REGISTRY["embedding_near_dup_lsh"].fn(
                spark, SF_DIR
            ).collect()
        }
        # exact verification => precision 1.0, bit-identical scores
        for pair, cos in lsh.items():
            assert pair in anchor
            assert cos == anchor[pair]
        recall = len(lsh) / len(anchor)
        assert recall >= 0.9, f"near-dup recall {recall:.3f}"

    def test_high_threshold_planted_dups(self, spark):
        # The production regime: threshold 0.9 with more planes —
        # every planted near-identical pair must surface.
        import numpy as np

        from afg_data_pipeline_spark.operators.similarity import (
            lsh_near_dup_pairs,
        )

        rng = np.random.default_rng(7)
        base = rng.normal(size=(20, 16))
        dups = base[:5] + rng.normal(scale=0.01, size=(5, 16))
        vecs = np.vstack([base, dups]).astype("float32")
        pdf = pd.DataFrame(
            {
                "vec_id": range(len(vecs)),
                "embedding": [v.tolist() for v in vecs],
            }
        )
        schema = T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
            ]
        )
        emb = spark.createDataFrame(pdf, schema=schema)
        pairs = {
            (r.id_a, r.id_b)
            for r in lsh_near_dup_pairs(
                emb,
                threshold=0.9,
                n_planes=8,
                n_tables=2,
                dim=16,
            ).collect()
        }
        for i in range(5):
            assert (i, 20 + i) in pairs

    def test_bruteforce_guard_refuses_large_corpus(
        self, spark, monkeypatch
    ):
        from afg_data_pipeline_spark.plans import REGISTRY
        from tests.conftest import SF_DIR

        monkeypatch.setenv("AFG_BRUTE_PAIRS_MAX_ROWS", "10")
        with pytest.raises(ValueError, match="all-pairs"):
            REGISTRY["embedding_near_dup"].fn(spark, SF_DIR)


class TestMultimodal:
    def test_feature_extraction_plumbing(self, spark):
        docs = _docs_with_planted_dups(spark)
        media = attach_fake_media(docs)
        assert dict(media.dtypes)["media"] == "binary"
        feats = extract_features(media).collect()
        assert len(feats) == 5
        for r in feats:
            assert len(r.feature) == 8
            assert abs(sum(r.feature) - 1.0) < 1e-9
        # identical media -> identical features
        by_id = {r.doc_id: r.feature for r in feats}
        assert by_id[1] == by_id[2]

    def test_decode_stub_raises_for_real_formats(self):
        with pytest.raises(NotImplementedError, match="jpeg"):
            decode_media(b"\xff\xd8", "jpeg")

    def test_frame_sample_expands_deterministically(self, spark):
        from afg_data_pipeline_spark.operators.multimodal import (
            attach_fake_media,
            frame_sample,
        )

        docs = spark.createDataFrame(
            [(1, "a video"), (2, "another video")],
            "doc_id long, text string",
        )
        media = attach_fake_media(docs)
        out = frame_sample(media, n_frames=3, fps_out=2.0)
        rows = sorted(
            (r.doc_id, r.frame_idx, r.frame_ts, bytes(r.frame))
            for r in out.collect()
        )
        assert len(rows) == 6  # 2 docs x 3 frames
        assert [r[1] for r in rows[:3]] == [0, 1, 2]
        assert rows[0][2] == 0.0 and rows[1][2] == 0.5
        # Deterministic across re-evaluation.
        rows2 = sorted(
            (r.doc_id, r.frame_idx, r.frame_ts, bytes(r.frame))
            for r in out.collect()
        )
        assert rows == rows2
        # Frames are contiguous segments: they reassemble to the
        # decoded payload (fake/raw passes bytes through).
        media_by_id = {
            r.doc_id: bytes(r.media) for r in media.collect()
        }
        for doc_id in (1, 2):
            joined = b"".join(
                r[3] for r in rows if r[0] == doc_id
            )
            assert joined == media_by_id[doc_id]

    def test_frame_sample_real_bmp_strips(self, spark):
        # The REAL path: mixed BMP/PNG containers -> decode -> 4
        # row-strip frames whose concatenation is exactly the
        # decoded raster bytes (doc 1 is PNG, doc 2 is BMP — both
        # decode through the magic-byte dispatch).
        from afg_data_pipeline_spark.operators.multimodal import (
            attach_synth_bmp,
            decode_raster,
            frame_sample,
        )

        docs = spark.createDataFrame(
            [(1, "first doc"), (2, "second doc")],
            "doc_id long, text string",
        )
        media = attach_synth_bmp(docs)
        raster = {
            r.doc_id: decode_raster(
                bytes(r.media), r.meta.format
            ).tobytes()
            for r in media.collect()
        }
        out = frame_sample(media, n_frames=4).collect()
        by_id: dict[int, list] = {}
        for r in out:
            by_id.setdefault(r.doc_id, []).append(
                (r.frame_idx, bytes(r.frame))
            )
        for doc_id, frames in by_id.items():
            frames.sort()
            assert len(frames) == 4
            assert b"".join(f for _, f in frames) == raster[doc_id]

    def test_resize_updates_meta_only(self, spark):
        docs = _docs_with_planted_dups(spark)
        media = attach_fake_media(docs)
        out = resize_stub(media, 224, 224).collect()
        assert all(r.meta.width == 224 and r.meta.height == 224 for r in out)


class TestRealCodecsOnSpark:
    """The REAL media path: synth WAV/BMP bytes -> pure-NumPy decode
    -> features/resize, all through Arrow-batched mapInPandas."""

    def test_audio_features_match_local_decode(self, spark):
        from afg_data_pipeline_spark.operators.codecs import (
            audio_features,
            decode_wav,
            synth_wav_for_text,
        )
        from afg_data_pipeline_spark.operators.multimodal import (
            attach_synth_wav,
            audio_feature_extract,
        )

        docs = _docs_with_planted_dups(spark)
        texts = {r.doc_id: r.text for r in docs.collect()}
        out = audio_feature_extract(attach_synth_wav(docs)).collect()
        assert len(out) == len(texts)
        for r in out:
            expect = audio_features(
                decode_wav(synth_wav_for_text(texts[r.doc_id]))
            )
            assert list(r.feature) == pytest.approx(expect)
            assert r.sample_rate == 8000
            assert r.n_frames > 0
        # identical text -> identical audio features (docs 1 and 2)
        by_id = {r.doc_id: list(r.feature) for r in out}
        assert by_id[1] == by_id[2]

    def test_image_resize_then_features(self, spark):
        from afg_data_pipeline_spark.operators.multimodal import (
            attach_synth_bmp,
            image_feature_extract,
            image_resize,
        )

        docs = _docs_with_planted_dups(spark)
        media = attach_synth_bmp(docs)
        # meta carries true container dims parsed from the header;
        # containers are MIXED (even ids BMP, odd ids real PNG)
        fmts = set()
        for r in media.collect():
            expected = (
                "image/png" if r.doc_id % 2 == 1 else "image/bmp"
            )
            assert r.meta.format == expected
            fmts.add(r.meta.format)
            assert r.meta.width >= 8 and r.meta.height >= 8
        assert fmts == {"image/bmp", "image/png"}
        resized = image_resize(media, width=8, height=8)
        feats = image_feature_extract(resized).collect()
        assert len(feats) == 5
        for r in feats:
            assert (r.width, r.height) == (8, 8)
            assert list(r.feature)[0:2] == [8.0, 8.0]
            # channel means stay in pixel range
            assert all(0.0 <= v <= 255.0 for v in list(r.feature)[3:6])

    def test_decode_media_dispatches_real_codecs(self):
        import numpy as np

        from afg_data_pipeline_spark.operators.codecs import (
            encode_bmp,
            synth_wav_for_text,
        )

        pcm = decode_media(synth_wav_for_text("x"), "audio/wav")
        assert len(pcm) > 0 and len(pcm) % 8 == 0  # float64 bytes
        img = np.zeros((2, 2, 3), dtype=np.uint8)
        rgb = decode_media(encode_bmp(img), "image/bmp")
        assert rgb == img.tobytes()
        # PNG is now decoded FOR REAL (stdlib zlib + numpy
        # defiltering); the remaining honest boundary is the
        # JPEG/MP3 class.
        from afg_data_pipeline_spark.operators.codecs import (
            encode_png,
        )

        img2 = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(
            2, 3, 3
        )
        assert (
            decode_media(encode_png(img2), "image/png")
            == img2.tobytes()
        )
        # Baseline JPEG is decoded FOR REAL since round 5 (T.81 in
        # numpy); constant-gray survives quantization exactly.
        from afg_data_pipeline_spark.operators.codecs import (
            encode_jpeg,
        )

        img3 = np.full((8, 8, 3), 128, dtype=np.uint8)
        assert (
            decode_media(encode_jpeg(img3), "image/jpeg")
            == img3.tobytes()
        )
        # The remaining honest boundary: the MP3/H.264 class.
        with pytest.raises(NotImplementedError):
            decode_media(b"ID3mp3data", "audio/mpeg")


class TestIVF:
    def test_ivf_recall_against_bruteforce(self, spark):
        emb = TestSimilarity()._vectors(spark, n=60, dim=16)
        from afg_data_pipeline_spark.operators.similarity import (
            brute_force_topk,
            ivf_topk,
        )

        exact = {
            (r.query_id, r.neighbor_id)
            for r in brute_force_topk(emb, emb, k=3).collect()
        }
        approx_rows = ivf_topk(
            emb, emb, k=3, n_centroids=8, n_probe=4
        ).collect()
        approx = {(r.query_id, r.neighbor_id) for r in approx_rows}
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.5, f"IVF recall {recall:.2f} too low"
        # candidate sets are genuinely restricted (sub-quadratic):
        # every query was scored against fewer than the full corpus
        assert all(1 <= r.rank <= 3 for r in approx_rows)

    def test_ivf_deterministic(self, spark):
        emb = TestSimilarity()._vectors(spark, n=40, dim=16)
        from afg_data_pipeline_spark.operators.similarity import ivf_topk

        a = sorted(map(tuple, ivf_topk(emb, emb, k=3).collect()))
        b = sorted(map(tuple, ivf_topk(emb, emb, k=3).collect()))
        assert a == b


class TestDecontamination:
    def test_planted_contamination(self, spark):
        train = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon"),
                (2, "totally unrelated training content here"),
                (3, "the secret benchmark answer is forty two exactly"),
            ],
            "doc_id long, text string",
        )
        eval_df = spark.createDataFrame(
            [(100, "we ask whether the secret benchmark answer is known")],
            "doc_id long, text string",
        )
        from afg_data_pipeline_spark.operators.dedup import decontaminate

        got = {
            r.doc_id: r.n_matched_grams
            for r in decontaminate(train, eval_df, n=3).collect()
        }
        # doc 3 shares the trigrams of "the secret benchmark answer
        # is": 'the secret benchmark', 'secret benchmark answer',
        # 'benchmark answer is' -> 3 matches; docs 1-2 clean.
        assert got == {3: 3}

    def test_short_text_fallback(self, spark):
        # texts shorter than n collapse to one whole-string gram
        train = spark.createDataFrame(
            [(1, "hi there"), (2, "bye now")], "doc_id long, text string"
        )
        eval_df = spark.createDataFrame(
            [(100, "hi there")], "doc_id long, text string"
        )
        from afg_data_pipeline_spark.operators.dedup import decontaminate

        got = {
            r.doc_id: r.n_matched_grams
            for r in decontaminate(train, eval_df, n=3).collect()
        }
        assert got == {1: 1}


class TestGramNovelty:
    def test_first_occurrence_credit(self, spark):
        # doc 1: 3 trigrams, all novel (first doc). doc 2 repeats
        # doc 1 verbatim -> 0 novel. doc 3 shares one trigram with
        # doc 1 ("a b c") and adds two new ones.
        docs = spark.createDataFrame(
            [
                (1, "a b c d e"),
                (2, "a b c d e"),
                (3, "a b c x y"),
            ],
            "doc_id long, text string",
        )
        from afg_data_pipeline_spark.operators.dedup import (
            gram_novelty,
        )

        got = {
            r.doc_id: (r.n_grams, r.n_novel, r.novelty)
            for r in gram_novelty(docs, n=3).collect()
        }
        assert got == {
            1: (3, 3, 1.0),
            2: (3, 0, 0.0),
            3: (3, 2, 2 / 3),
        }

    def test_short_text_whole_string_gram(self, spark):
        docs = spark.createDataFrame(
            [(1, "hi there"), (2, "hi there")],
            "doc_id long, text string",
        )
        from afg_data_pipeline_spark.operators.dedup import (
            gram_novelty,
        )

        got = {
            r.doc_id: (r.n_grams, r.n_novel)
            for r in gram_novelty(docs, n=3).collect()
        }
        assert got == {1: (1, 1), 2: (1, 0)}


class TestVocabGrowth:
    def test_running_vocab_and_tokens(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "a b a"),        # tokens 3, vocab {a,b} -> 2
                (2, "b c"),          # tokens 2, novel {c} -> 1
                (3, "a b c"),        # tokens 3, novel {} -> 0
                (4, "d"),            # tokens 1, novel {d} -> 1
            ],
            "doc_id long, text string",
        )
        from afg_data_pipeline_spark.operators.dedup import (
            vocab_growth,
        )

        got = {
            r.doc_id: (
                r.n_tokens,
                r.n_novel,
                r.cum_tokens,
                r.vocab_size,
            )
            for r in vocab_growth(docs).collect()
        }
        assert got == {
            1: (3, 2, 3, 2),
            2: (2, 1, 5, 3),
            3: (3, 0, 8, 3),
            4: (1, 1, 9, 4),
        }


class TestPiiRedaction:
    def test_planted_patterns(self, spark):
        from afg_data_pipeline_spark.operators.text import redact_pii

        df = spark.createDataFrame(
            [
                (1, "mail me at jo.ann+x@sub.example.org today"),
                (2, "server 192.168.001.42 responded"),
                (3, "call +56 9 1234 5678 or +1-800-555-0199 now"),
                (4, "clean text with no identifiers at all"),
            ],
            "doc_id long, text string",
        )
        got = {
            r.doc_id: r.clean
            for r in df.select(
                "doc_id", redact_pii("text").alias("clean")
            ).collect()
        }
        assert got[1] == "mail me at [EMAIL] today"
        assert got[2] == "server [IP] responded"
        assert got[3].count("[PHONE]") == 2
        assert got[4] == "clean text with no identifiers at all"


class TestUnigramLmScore:
    def test_rare_tokens_score_higher(self, spark):
        from afg_data_pipeline_spark.plans import REGISTRY
        from tests.conftest import SF_DIR

        rows = {
            r.doc_id: r
            for r in REGISTRY["unigram_lm_score"].fn(
                spark, SF_DIR
            ).collect()
        }
        import duckdb

        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM "
            f"'{SF_DIR}/documents.parquet'"
        )
        texts = dict(
            con.execute("SELECT doc_id, text FROM documents").fetchall()
        )
        con.close()
        assert set(rows) == set(texts)
        # scores are positive, finite, and n_tokens matches a split
        for did, r in rows.items():
            assert r.avg_nll > 0
            assert r.n_tokens == len(texts[did].split())


class TestMixtureResample:
    def test_weights_drive_proportions(self, spark):
        from afg_data_pipeline_spark.operators.sampling import (
            mixture_resample,
        )

        rows = [
            (i, "a" if i < 4000 else "b") for i in range(5000)
        ]  # 4000 a / 1000 b
        df = spark.createDataFrame(rows, "doc_id long, source string")
        # target 1:1 -> b is the binding stratum (K = 1000/0.5 =
        # 2000): keep ~1000 of each.
        out = mixture_resample(
            df, "source", "doc_id", {"a": 0.5, "b": 0.5}
        )
        got = {
            r.source: r.cnt
            for r in out.groupBy("source")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        assert got["b"] == 1000  # rate 1.0 -> keep all
        assert abs(got["a"] - 1000) < 150  # ~hash-exact quarter
        # deterministic across evaluations
        a = sorted(r.doc_id for r in out.collect())
        b = sorted(r.doc_id for r in out.collect())
        assert a == b


class TestNgramJaccardTiering:
    """The exact tier costs Σ_g |g|² pairs (529.7s at sf1 on a
    10-copy-heavy corpus); beyond the pair budget the operator
    must announce and fall back to banded-MinHash candidates with
    the same exact-Jaccard verification — a subset of the exact
    output that still contains the genuine near-dups."""

    def _docs(self, spark):
        base = (
            "the quick brown fox jumps over the lazy dog and runs "
            "far away into the deep green forest tonight"
        )
        near = base.replace("tonight", "today")
        rows = [(1, base, "en"), (2, base, "en"), (3, near, "en")]
        rows += [
            (
                10 + i,
                f"unrelated filler text number {i} about nothing "
                f"in particular item {i}",
                "en",
            )
            for i in range(12)
        ]
        return spark.createDataFrame(
            rows, "doc_id long, text string, lang string"
        )

    def test_fallback_is_subset_and_keeps_planted_dups(
        self, spark, caplog
    ):
        from afg_data_pipeline_spark.operators.dedup import (
            ngram_jaccard_pairs,
        )

        docs = self._docs(spark)
        exact = {
            (r.id_a, r.id_b): r.jaccard
            for r in ngram_jaccard_pairs(
                docs, group_col="lang", threshold=0.5
            ).collect()
        }
        # 15 docs in one group = 105 pairs; budget of 10 forces
        # the banded tier.
        fb_rows = ngram_jaccard_pairs(
            docs, group_col="lang", threshold=0.5, max_pairs=10
        ).collect()
        fb = {(r.id_a, r.id_b): r.jaccard for r in fb_rows}
        assert "falling back to banded MinHash" in caplog.text
        # The tier is part of the schema: subset mode is marked.
        assert {r.tier for r in fb_rows} == {"lsh_subset"}
        # subset with identical jaccard values
        for pair, j in fb.items():
            assert exact[pair] == j
        # the planted exact + near dups survive the banded tier
        assert (1, 2) in fb
        assert (1, 3) in fb

    def test_under_budget_is_exact_and_silent(self, spark, caplog):
        from afg_data_pipeline_spark.operators.dedup import (
            ngram_jaccard_pairs,
        )

        docs = self._docs(spark)
        out = ngram_jaccard_pairs(
            docs, group_col="lang", threshold=0.5, max_pairs=10**6
        ).collect()
        assert "falling back" not in caplog.text
        assert {(r.id_a, r.id_b) for r in out} >= {(1, 2), (1, 3)}
        assert {r.tier for r in out} == {"exact"}


class TestCrossCorpusNearDup:
    def test_cross_side_only(self, spark):
        from afg_data_pipeline_spark.operators.dedup import (
            cross_corpus_near_dup,
        )

        base = (
            "the quick brown fox jumps over the lazy dog and "
            "runs far away into the deep green forest tonight"
        )
        corpus = spark.createDataFrame(
            [
                (1, base),
                (2, "completely different corpus text about engines"),
            ],
            "doc_id long, text string",
        )
        new = spark.createDataFrame(
            [
                (100, base.replace("tonight", "today")),  # near-dup of 1
                (101, base.replace("tonight", "today")),  # dup of 100
                (102, "fresh unrelated words never seen before now"),
            ],
            "doc_id long, text string",
        )
        got = {
            (r.new_id, r.dup_of): r.jaccard
            for r in cross_corpus_near_dup(corpus, new).collect()
        }
        assert (100, 1) in got and got[(100, 1)] > 0.8
        assert (101, 1) in got
        # new-vs-new (100,101) and corpus-vs-corpus never reported
        assert all(d in (1, 2) for (_n, d) in got)
        assert all(n >= 100 for (n, _d) in got)
        assert not any(n == 102 for (n, _d) in got)

    def test_bucket_cap_on_corpus_side(self, spark):
        from afg_data_pipeline_spark.operators.dedup import (
            cross_corpus_near_dup,
        )

        boiler = "all rights reserved terms of service apply here"
        corpus = spark.createDataFrame(
            [(i, boiler) for i in range(40)]
            + [(90, "the quick brown fox jumps over the lazy dog")],
            "doc_id long, text string",
        )
        new = spark.createDataFrame(
            [
                (100, boiler),
                (101, "the quick brown fox jumps over the lazy cat"),
            ],
            "doc_id long, text string",
        )
        got = {
            (r.new_id, r.dup_of)
            for r in cross_corpus_near_dup(
                corpus, new, max_bucket_size=10
            ).collect()
        }
        # boilerplate buckets capped away; genuine near-dup kept
        assert (101, 90) in got
        assert not any(n == 100 for (n, _d) in got)


def _contrastive_reference(doc_ids, pairs, m, n_buckets):
    """contrastive_pairs' rows by brute force: the md5 bucket of every
    doc id, each bucket's min id as its rep, ``m`` probes per distinct
    anchor, then collisions and positives dropped."""
    from afg_data_pipeline_spark.operators.contrastive import STRIDE

    reps = {}
    for d in doc_ids:
        b = int(hashlib.md5(str(d).encode()).hexdigest()[:2], 16)
        reps[b % n_buckets] = min(reps.get(b % n_buckets, d), d)
    pos = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    probed = {
        (a, reps[(a + i * STRIDE) % n_buckets])
        for a, _ in pos
        for i in range(1, m + 1)
        if (a + i * STRIDE) % n_buckets in reps
    }
    negs = {(a, r) for a, r in probed if r != a and (a, r) not in pos}
    rows = [(a, b, "pos") for a, b in pos]
    return sorted(rows + [(a, r, "neg") for a, r in negs]), probed


def _carried(spark, docs, pairs, id_type=T.LongType(), nullable=True):
    """(doc_id_a, doc_id_b) positives as the minhash kernel returns them
    for ``docs``: carrying their columns and every doc_id it read."""
    from afg_data_pipeline_spark.operators import _local_frame

    dtype = object if isinstance(id_type, T.StringType) else np.int64
    ids = [r.doc_id for r in docs.collect()]
    return _local_frame.make(
        spark,
        [
            T.StructField("doc_id_a", id_type, nullable),
            T.StructField("doc_id_b", id_type, nullable),
        ],
        [
            np.array([a for a, _ in pairs], dtype=dtype),
            np.array([b for _, b in pairs], dtype=dtype),
        ],
        read=(docs, "doc_id", np.array(ids, dtype=dtype)),
    )


class TestContrastivePairs:
    def test_structure_and_determinism(self, spark):
        from afg_data_pipeline_spark.operators.contrastive import (
            contrastive_pairs,
        )

        docs = spark.createDataFrame(
            [(i, f"text {i}") for i in range(40)],
            "doc_id long, text string",
        )
        pairs = [(1, 5), (2, 9)]
        want, _ = _contrastive_reference(range(40), pairs, 3, 16)
        # the distributed plan, then the driver kernel
        for positives in (
            spark.createDataFrame(pairs, "doc_id_a long, doc_id_b long"),
            _carried(spark, docs, pairs),
        ):

            def run():
                return sorted(
                    (r.anchor_id, r.partner_id, r.label)
                    for r in contrastive_pairs(
                        docs, positives, n_negatives=3, n_buckets=16
                    ).collect()
                )

            got = run()
            assert got == run()  # deterministic across plan reruns
            assert got == want
            pos = {(a, p) for a, p, l in got if l == "pos"}
            # both directions of each positive pair
            assert pos == {(1, 5), (5, 1), (2, 9), (9, 2)}
            negs = [(a, p) for a, p, l in got if l == "neg"]
            assert negs
            anchors = {a for a, _ in pos}
            for a, p in negs:
                assert a in anchors
                assert (a, p) not in pos
                assert p != a
            # at most n_negatives per anchor
            cnt = Counter(a for a, _ in negs)
            assert all(v <= 3 for v in cnt.values())


def _near_dup_docs(spark, id_type, seed=1, n=40):
    """Seeded documents on a 6-word vocabulary, so minhash finds many
    candidate pairs; ids are sparse."""
    rng = random.Random(seed)
    words = "a b c d e f".split()
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randrange(3, 9))))
        for i in rng.sample(range(1000), n)
    ]
    return spark.createDataFrame(rows, f"doc_id {id_type}, text string")


class TestContrastiveKernel:
    """The driver kernel against the distributed plan: a carried
    positives frame against the same rows behind a ``select("*")``,
    which carries nothing. Rows and schema (nullability included) are
    equal, and the kernel runs exactly when it models the input."""

    def _compare(self, monkeypatch, docs, positives, **kw):
        """The carried result's rows, and how many kernel frames it
        built."""
        from afg_data_pipeline_spark.operators.contrastive import (
            contrastive_pairs,
        )

        calls = kernel_frames(monkeypatch)
        df = contrastive_pairs(docs, positives, **kw)
        carried = sorted(df.collect()), df.schema
        ran = len(calls)
        df = contrastive_pairs(docs, positives.select("*"), **kw)
        assert len(calls) == ran
        assert carried == (sorted(df.collect()), df.schema)
        return carried[0], ran

    def test_sf0001_corpus(self, spark, monkeypatch):
        from afg_data_pipeline_spark.io import read_star_table
        from tests.conftest import SF_DIR

        docs = read_star_table(spark, "documents", SF_DIR)
        positives = minhash_lsh_candidates(docs, threshold=0.5)
        rows, ran = self._compare(monkeypatch, docs, positives)
        assert ran == 1
        assert {r.label for r in rows} == {"pos", "neg"}

    @pytest.mark.parametrize("id_type", ["int", "long", "long not null"])
    def test_id_types(self, spark, monkeypatch, id_type):
        docs = _near_dup_docs(spark, id_type)
        positives = minhash_lsh_candidates(docs)
        pairs = [tuple(r) for r in positives.select("*").collect()]
        rows, ran = self._compare(monkeypatch, docs, positives, n_buckets=8)
        assert ran == 1
        ids = [r.doc_id for r in docs.collect()]
        want, _ = _contrastive_reference(
            ids, [(a, b) for a, b, _ in pairs], 3, 8
        )
        assert pairs
        assert rows == want

    @pytest.mark.parametrize(
        "pairs,n_docs",
        [
            ([], 40),
            # anchors 16 and 25 probe themselves, and 16 probes 25
            ([(16, 25)], 40),
            # 64 buckets over 10 docs: most probes find no rep
            ([(1, 5), (2, 9), (3, 7)], 10),
            # a duplicated positive keeps its multiplicity
            ([(1, 5), (1, 5), (2, 9)], 40),
            # no bucket has a rep
            ([(1, 5)], 0),
        ],
        ids=[
            "no-positives",
            "self-and-positive-reps",
            "empty-buckets",
            "duplicated-positives",
            "no-docs",
        ],
    )
    def test_edge_cases(self, spark, monkeypatch, pairs, n_docs):
        n_buckets = 16 if n_docs == 40 else 64
        docs = spark.createDataFrame(
            [(i,) for i in range(n_docs)], "doc_id long"
        )
        rows, ran = self._compare(
            monkeypatch,
            docs,
            _carried(spark, docs, pairs),
            n_buckets=n_buckets,
        )
        assert ran == 1
        want, probed = _contrastive_reference(
            range(n_docs), pairs, 3, n_buckets
        )
        assert rows == want
        if pairs == [(16, 25)]:
            assert {(16, 16), (25, 25), (16, 25)} <= probed
        if n_docs == 10:
            assert len({r for _, r in probed}) < 10

    @pytest.mark.parametrize(
        "case",
        [
            "null-doc-id",
            "string-ids",
            "other-docs",
            "zero-buckets",
            "zero-negatives",
        ],
    )
    def test_fallbacks(self, spark, monkeypatch, case):
        ids = list(range(40))
        pairs, kw = [(1, 5), (2, 9)], {"n_buckets": 16}
        doc_type, pos_type = "long", T.LongType()
        if case == "string-ids":
            ids = [str(i) for i in ids]
            pairs = [(str(a), str(b)) for a, b in pairs]
            doc_type, pos_type = "string", T.StringType()
        elif case == "zero-buckets":
            kw["n_buckets"] = 0
        elif case == "zero-negatives":
            kw["n_negatives"] = 0
        docs = spark.createDataFrame(
            [(i,) for i in ids], f"doc_id {doc_type}"
        )
        positives = _carried(spark, docs, pairs, pos_type)
        if case == "null-doc-id":
            # the minhash kernel refuses the corpus: nothing is carried
            docs = _near_dup_docs(spark, "long").union(
                spark.createDataFrame(
                    [(None, "a b c")], "doc_id long, text string"
                )
            )
            positives = minhash_lsh_candidates(docs)
        elif case == "other-docs":
            # the same ids in a frame the minhash kernel did not read
            docs = spark.createDataFrame([(i,) for i in ids], "doc_id int")
        _, ran = self._compare(monkeypatch, docs, positives, **kw)
        assert ran == 0

    @pytest.mark.parametrize(
        "id_type,top", [("int", (1 << 31) - 1), ("long", (1 << 63) - 1)]
    )
    def test_probe_overflow_keeps_distributed_plan(
        self, spark, monkeypatch, id_type, top
    ):
        from afg_data_pipeline_spark.operators.contrastive import (
            STRIDE,
            contrastive_pairs,
        )

        fits = top - 3 * STRIDE  # the last probe lands on the max
        docs = spark.createDataFrame(
            [(i,) for i in [*range(20), fits, fits + 1]],
            f"doc_id {id_type}",
        )
        t = T.IntegerType() if id_type == "int" else T.LongType()
        _, ran = self._compare(
            monkeypatch, docs, _carried(spark, docs, [(0, fits)], t)
        )
        assert ran == 1
        over = _carried(spark, docs, [(0, fits + 1)], t)
        _, ran = self._compare(monkeypatch, docs, over)
        assert ran == 0  # wraps without ANSI, on both paths
        old = spark.conf.get("spark.sql.ansi.enabled")
        spark.conf.set("spark.sql.ansi.enabled", "true")
        try:
            calls = kernel_frames(monkeypatch)
            for positives in (over, over.select("*")):
                with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
                    contrastive_pairs(docs, positives).collect()
            assert calls == []
        finally:
            spark.conf.set("spark.sql.ansi.enabled", old)


class TestContrastiveJobs:
    """Pins the registered query on the kernels: the minhash shingle
    collect is its only builder job (contrastive_pairs reuses the ids
    it read), and its executed plan is a local scan. Renaming the minhash frame
    before contrastive_pairs drops the carried columns and turns this
    red (the distributed plan's checkpoint runs its shuffles)."""

    def test_builder_jobs(self, spark):
        from afg_data_pipeline_spark.plans import REGISTRY
        from tests.conftest import SF_DIR, builder_jobs

        build = REGISTRY["contrastive_pairs"].fn
        assert builder_jobs(spark, lambda: build(spark, SF_DIR)) == 1

    def test_plan_is_one_local_scan(self, spark):
        from afg_data_pipeline_spark.plans import REGISTRY
        from tests.conftest import SF_DIR

        df = REGISTRY["contrastive_pairs"].fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.startswith("LocalTableScan"), plan
        assert "Exchange" not in plan


class TestDedupKeepBest:
    def test_best_quality_wins_over_min_id(self, spark):
        from afg_data_pipeline_spark.plans import REGISTRY
        import tempfile, os

        # Build a tiny corpus where the LOWEST id in a near-dup
        # cluster is the LOWEST quality copy: keep-best must pick
        # the higher-quality one, unlike keep-min-id.
        base = (
            "the quick brown fox jumps over the lazy dog and runs "
            "far away into the deep green forest tonight"
        )
        # one extra token each (bigram jaccard ~0.89, well over the
        # 0.5 gate); the low-quality copy's extra token is pure
        # punctuation, tanking the punct-density term.
        low_q = base + " ...!!!???;;;:::,,,...!!!???;;;:::,,,"
        high_q = base + " peacefully"
        rows = [
            (1, low_q, "en", "src1", len(low_q)),
            (2, high_q, "en", "src1", len(high_q)),
            (3, "totally unrelated words here about engines",
             "en", "src1", 42),
        ]
        with tempfile.TemporaryDirectory() as d:
            spark.createDataFrame(
                rows,
                "doc_id long, text string, lang string, "
                "source string, n_chars long",
            ).write.parquet(os.path.join(d, "documents.parquet"))
            out = {
                r.component: (r.keep_id, r.n_members)
                for r in REGISTRY["dedup_keep_best"]
                .fn(spark, d)
                .collect()
            }
        # docs 1,2 cluster; keeper is 2 (higher quality), not 1
        assert any(
            kid == 2 and n == 2 for kid, n in out.values()
        ), out


class TestCorpusAfterDedup:
    def test_survivor_invariants(self, spark):
        from afg_data_pipeline_spark.plans import REGISTRY

        sf = "/root/testdata/sf0.001"
        docs = REGISTRY["corpus_after_dedup"].fn(spark, sf)
        survivors = {r.doc_id for r in docs.collect()}
        comps = {
            r.doc_id: r.component
            for r in REGISTRY["near_dup_components"]
            .fn(spark, sf)
            .collect()
        }
        keepers = {
            r.keep_id
            for r in REGISTRY["dedup_keep_best"]
            .fn(spark, sf)
            .collect()
        }
        # every keeper survives; every non-keeper cluster member
        # is dropped; exactly one survivor per cluster
        assert keepers <= survivors
        dropped = set(comps) - keepers
        assert not (dropped & survivors)
        from collections import Counter

        per_cluster = Counter(
            comps[d] for d in survivors if d in comps
        )
        assert all(v == 1 for v in per_cluster.values())


class TestLshTune:
    def test_inflection_tracks_threshold_and_budget(self):
        from afg_data_pipeline_spark.operators.dedup import lsh_tune

        prev = 0.0
        for t in (0.3, 0.5, 0.7, 0.9):
            r = lsh_tune(t, n_hashes_budget=64)
            assert r["n_hashes"] == r["band_size"] * r["n_bands"]
            assert r["n_hashes"] <= 64
            # the S-curve inflection lands near the threshold and
            # moves monotonically with it
            assert abs(r["inflection"] - t) < 0.15, (t, r)
            assert r["inflection"] > prev
            prev = r["inflection"]

    def test_candidate_probability_at_threshold(self):
        from afg_data_pipeline_spark.operators.dedup import lsh_tune

        r = lsh_tune(0.8, n_hashes_budget=128)
        b, rr = r["n_bands"], r["band_size"]
        # The balanced-area optimum puts the inflection near the
        # threshold: pairs clearly above it are near-certain
        # candidates, pairs clearly below near-never.
        p_above = 1 - (1 - 0.9**rr) ** b
        p_low = 1 - (1 - 0.4**rr) ** b
        assert p_above > 0.9
        assert p_low < 0.01

    def test_weights_skew_the_choice(self):
        from afg_data_pipeline_spark.operators.dedup import lsh_tune

        recall = lsh_tune(0.7, 64, fn_weight=10.0)
        precision = lsh_tune(0.7, 64, fp_weight=10.0)
        # recall-weighted tuning accepts more false positives
        # (inflection below the precision-weighted one)
        assert recall["inflection"] < precision["inflection"]
        assert recall["fn_area"] < precision["fn_area"]

    def test_rejects_bad_threshold(self):
        import pytest

        from afg_data_pipeline_spark.operators.dedup import lsh_tune

        with pytest.raises(ValueError, match="threshold"):
            lsh_tune(1.5)


class TestContaminationReport:
    def test_planted_leak_per_set(self, spark):
        from afg_data_pipeline_spark.operators.dedup import (
            contamination_report,
        )

        train = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon zeta"),
                (2, "totally different training content here"),
            ],
            "doc_id long, text string",
        )
        evals = spark.createDataFrame(
            [
                # setA: one leaked (shares 'alpha beta gamma'),
                # one clean
                ("setA", 10, "alpha beta gamma question prompt"),
                ("setA", 11, "clean evaluation example nothing shared"),
                # setB: fully clean
                ("setB", 20, "unrelated benchmark item words"),
                # a 2-token doc: no 3-grams, never contaminated
                ("setB", 21, "tiny doc"),
            ],
            "eval_set string, doc_id long, text string",
        )
        got = {
            r.eval_set: (
                r.n_docs,
                r.n_contaminated,
                r.contamination_rate,
            )
            for r in contamination_report(train, evals).collect()
        }
        assert got["setA"] == (2, 1, 0.5)
        assert got["setB"] == (2, 0, 0.0)


class TestContaminationEdges:
    def test_empty_train_reports_all_clean(self, spark):
        from afg_data_pipeline_spark.operators.dedup import (
            contamination_report,
        )

        train = spark.createDataFrame(
            [], "doc_id long, text string"
        )
        evals = spark.createDataFrame(
            [("setA", 1, "some benchmark example words here")],
            "eval_set string, doc_id long, text string",
        )
        got = contamination_report(train, evals).collect()
        assert [
            (r.eval_set, r.n_docs, r.n_contaminated,
             r.contamination_rate)
            for r in got
        ] == [("setA", 1, 0, 0.0)]
