"""Integer-exact k-means: pure-python replica pin (the operator is
oracle-checked too, but the replica pins the driver-side centroid
arithmetic independently of DuckDB) plus clustering-sanity checks."""

from __future__ import annotations

from afg_data_pipeline_spark.operators import kmeans, similarity
from afg_data_pipeline_spark.operators.kmeans import (
    OFF,
    QUANT,
    kmeans_assign,
    semantic_dedup_pairs,
)


def _replica(vectors, k, iterations):
    """vectors: list[(id, [floats])] -> {id: (cluster, dist)}."""
    q = {
        vid: [round(float(x) * QUANT) for x in vec]
        for vid, vec in vectors
    }
    seeds = sorted(q)[:k]
    cents = {cid: list(q[vid]) for cid, vid in enumerate(seeds)}

    def assign(c):
        out = {}
        for vid, qv in q.items():
            best = None
            for cid in sorted(c):
                d = sum(
                    (a - b) * (a - b) for a, b in zip(qv, c[cid])
                )
                if best is None or d < best[1]:
                    best = (cid, d)
            out[vid] = best
        return out

    for _ in range(iterations):
        a = assign(cents)
        sums: dict = {}
        for vid, (cid, _d) in a.items():
            s = sums.setdefault(cid, [0] * len(q[vid]) + [0])
            for j, v in enumerate(q[vid]):
                s[j] += v
            s[-1] += 1
        cents = {
            cid: [
                (s[j] + s[-1] * OFF) // s[-1] - OFF
                for j in range(len(s) - 1)
            ]
            for cid, s in sums.items()
        }
    return assign(cents)


def _fixture():
    import hashlib

    # three well-separated blobs in 8-d
    vecs = []
    for i in range(30):
        h = hashlib.md5(f"km{i}".encode()).digest()
        blob = i % 3
        base = [0.0] * 8
        base[blob] = 1.0
        jitter = [
            (h[j] / 255 - 0.5) * 0.1 for j in range(8)
        ]
        vecs.append(
            (i, [base[j] + jitter[j] for j in range(8)])
        )
    return vecs


class TestKmeansAssign:
    def test_matches_python_replica(self, spark):
        vecs = _fixture()
        df = spark.createDataFrame(
            vecs, "vec_id long, embedding array<double>"
        )
        got = {
            r.id: (r.cluster, r.dist_q)
            for r in kmeans_assign(
                df, k=4, iterations=3, dim=8
            ).collect()
        }
        assert got == _replica(vecs, k=4, iterations=3)

    def test_blobs_separate(self, spark):
        vecs = _fixture()
        df = spark.createDataFrame(
            vecs, "vec_id long, embedding array<double>"
        )
        got = {
            r.id: r.cluster
            for r in kmeans_assign(
                df, k=3, iterations=4, dim=8
            ).collect()
        }
        # same-blob vectors must co-cluster; different blobs not.
        for i in range(30):
            for j in range(30):
                same_blob = i % 3 == j % 3
                assert (got[i] == got[j]) == same_blob, (i, j)

    def test_refuses_fewer_than_k(self, spark):
        import pytest

        df = spark.createDataFrame(
            _fixture()[:3], "vec_id long, embedding array<double>"
        )
        with pytest.raises(ValueError, match="at least k"):
            kmeans_assign(df, k=4, iterations=1, dim=8)

    def test_numpy_strategy_bit_identical(self, spark, monkeypatch):
        """The k > _LITERAL_MAX_K strategy (exact int64
        numpy assignment in mapInPandas) must reproduce the
        literal-fold path bit-for-bit — same distances, same
        smallest-cid tie-break, same centroid evolution — at every
        k, including k=1-sized clusters and dead-cluster rounds."""
        vecs = _fixture()
        df = spark.createDataFrame(
            vecs, "vec_id long, embedding array<double>"
        )
        for k in (3, 4, 7):
            monkeypatch.setattr(kmeans, "_LITERAL_MAX_K", 999)
            literal = {
                r.id: (r.cluster, r.dist_q)
                for r in kmeans_assign(
                    df, k=k, iterations=3, dim=8
                ).collect()
            }
            monkeypatch.setattr(kmeans, "_LITERAL_MAX_K", 0)
            vectorized = {
                r.id: (r.cluster, r.dist_q)
                for r in kmeans_assign(
                    df, k=k, iterations=3, dim=8
                ).collect()
            }
            assert vectorized == literal, k
        # and the python replica still pins both
        assert vectorized == _replica(vecs, k=7, iterations=3)

    def test_literal_path_survives_codegen_hard_mode(self, spark):
        """Guard for the 64 KB codegen cliff (CLAUDE.md rule 15):
        with spark.sql.codegen.fallback=false a whole-stage-codegen
        compile failure raises instead of silently interpreting, so
        running the literal-fold path at its k gate boundary proves
        the generated code stays compilable (the HOF folds
        themselves are CodegenFallback — the when-chain and literal
        arrays are what codegen must swallow)."""
        vecs = _fixture()
        df = spark.createDataFrame(
            vecs, "vec_id long, embedding array<double>"
        )
        old = spark.conf.get("spark.sql.codegen.fallback", "true")
        spark.conf.set("spark.sql.codegen.fallback", "false")
        try:
            got = kmeans_assign(
                df, k=24, iterations=2, dim=8
            ).collect()
            assert len(got) == 30
        finally:
            spark.conf.set("spark.sql.codegen.fallback", old)


class TestSemanticDedupPairs:
    def test_pairs_are_same_cluster_and_high_cosine(self, spark):
        vecs = _fixture()
        df = spark.createDataFrame(
            vecs, "vec_id long, embedding array<double>"
        )
        rows = semantic_dedup_pairs(
            df, k=3, iterations=3, threshold=0.95
        ).collect()
        assert rows
        assign = {
            r.id: r.cluster
            for r in kmeans_assign(
                df, k=3, iterations=3, dim=8
            ).collect()
        }
        for r in rows:
            assert r.id_a < r.id_b
            assert r.cosine >= 0.95
            assert assign[r.id_a] == assign[r.id_b] == r.cluster
        # cross-blob pairs can never appear (cosine ~0 anyway)
        assert all(
            r.id_a % 3 == r.id_b % 3 for r in rows
        )


class TestMalformedVectors:
    def test_wrong_dim_and_null_rows_dropped(self, spark):
        vecs = _fixture()
        rows = vecs + [(900, [1.0, 2.0]), (901, None)]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        out = kmeans_assign(df, k=3, iterations=2, dim=8)
        ids = {r.id for r in out.collect()}
        assert 900 not in ids and 901 not in ids
        assert ids == {v for v, _ in vecs}

    def test_null_first_row_still_infers_dim(self, spark):
        import pytest

        vecs = _fixture()
        # A null vector sorted first used to make F.size return
        # null and range(dim) raise a bare TypeError.
        rows = [(0, None)] + [(i + 1, v) for i, v in
                              ((i, e) for i, (_, e) in
                               enumerate(vecs))]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        out = kmeans_assign(df, k=3, iterations=1)
        assert 0 not in {r.id for r in out.collect()}
        # All-null corpus: a diagnosable error, not a TypeError.
        empty = spark.createDataFrame(
            [(1, None)], "vec_id long, embedding array<double>"
        )
        with pytest.raises(ValueError, match="non-null"):
            kmeans_assign(empty, k=1, iterations=1)


class TestAutoK:
    def test_k_grows_with_n_and_is_capped(self):
        from afg_data_pipeline_spark.operators.kmeans import auto_k

        ks = [auto_k(n) for n in (10, 100, 10_000, 1_000_000)]
        assert ks == sorted(ks)  # monotone in n
        assert ks[1] == 10 and ks[2] == 100 and ks[3] == 1000
        assert auto_k(4) == 2  # floor: k=1 is no blocking
        assert auto_k(10**10) == 4096  # literal-model ceiling
        assert auto_k(3) == 2 <= 3  # never exceeds n
        import pytest

        with pytest.raises(ValueError, match="n >= 1"):
            auto_k(0)

    def test_semantic_dedup_auto_mode(self, spark):
        from afg_data_pipeline_spark.operators.kmeans import (
            semantic_dedup_pairs,
        )

        vecs = _fixture()
        df = spark.createDataFrame(
            vecs, "vec_id long, embedding array<double>"
        )
        # n=len(vecs): auto picks k=isqrt(n) >= 2; the planted
        # near-dup pair must still surface (same cluster — the
        # pair is near-identical, so any assignment co-locates it).
        out = semantic_dedup_pairs(df, threshold=0.9, iterations=1)
        pairs = {(r.id_a, r.id_b) for r in out.collect()}
        import pytest

        with pytest.raises(ValueError, match="int or 'auto'"):
            semantic_dedup_pairs(df, k=0.5)
        assert all(a < b for a, b in pairs)


class TestBinaryHamming:
    def test_codes_and_topk_match_replica(self, spark):
        import hashlib

        from afg_data_pipeline_spark.operators.similarity import (
            binary_hamming_topk,
        )

        dim = 16
        vecs = []
        for i in range(20):
            h = hashlib.md5(f"hv{i}".encode()).digest()
            vecs.append(
                (i, [(h[j % 16] / 255 - 0.5) * (1 + i % 3)
                     for j in range(dim)])
            )
        # give vector 1 the same sign pattern as vector 0
        vecs[1] = (1, [2.0 * x for x in vecs[0][1]])
        df = spark.createDataFrame(
            vecs, "vec_id long, embedding array<double>"
        )

        def signs(v):
            return [x > 0 for x in v]

        def ham(a, b):
            return sum(
                x != y for x, y in zip(signs(a), signs(b))
            )

        want = {}
        for qid, qv in vecs[:4]:
            scored = sorted(
                (ham(qv, cv), cid)
                for cid, cv in vecs
                if cid != qid
            )[:3]
            want[qid] = scored
        got = {}
        out = binary_hamming_topk(
            df.filter("vec_id < 4"), df, k=3, dim=dim
        ).collect()
        for r in out:
            got.setdefault(r.query_id, []).append(
                (r.hamming, r.neighbor_id)
            )
        for qid in want:
            assert sorted(got[qid]) == want[qid], qid
        # identical sign pattern -> hamming 0 neighbor
        assert (0, 1) in got[0]


class TestFunnelRerank:
    def test_funnel_equals_exact_on_candidates(self, spark):
        """exact_rerank_topk over Hamming candidates returns
        exactly the brute-force cosine ranking RESTRICTED to the
        candidate set (same fold, same tie-breaks); with a
        candidate budget covering the corpus it equals brute force
        outright."""
        from afg_data_pipeline_spark.operators.similarity import (
            binary_hamming_topk,
            brute_force_topk,
            exact_rerank_topk,
        )

        vecs = _fixture()
        df = spark.createDataFrame(
            vecs, "vec_id long, embedding array<double>"
        )
        queries = df.filter("vec_id < 5")
        # candidate budget = full corpus -> funnel == brute force
        cand_all = binary_hamming_topk(
            queries, df, k=len(vecs), dim=8
        )
        funnel = sorted(
            tuple(r)
            for r in exact_rerank_topk(cand_all, df, k=3).collect()
        )
        brute = sorted(
            tuple(r)
            for r in brute_force_topk(queries, df, k=3).collect()
        )
        assert funnel == brute
        # tight budget: output is a ranking of a candidate SUBSET
        cand5 = binary_hamming_topk(queries, df, k=5, dim=8)
        cand_pairs = {
            (r.query_id, r.neighbor_id) for r in cand5.collect()
        }
        out = exact_rerank_topk(cand5, df, k=3).collect()
        assert all(
            (r.query_id, r.neighbor_id) in cand_pairs for r in out
        )
        for qid in range(5):
            ranks = sorted(
                r.rank for r in out if r.query_id == qid
            )
            assert ranks == [1, 2, 3]

    def test_lean_and_hoisted_paths_identical(
        self, spark, monkeypatch
    ):
        """The stats-gated LEAN (per-pair norms, broadcast pair
        joins) and HOISTED (semi-joined vectors, per-vector norms)
        re-rank strategies must be bit-identical — the same
        sequential fold on the same vector yields the same double
        on both paths."""
        from afg_data_pipeline_spark.operators.similarity import (
            binary_hamming_topk,
            exact_rerank_topk,
        )

        vecs = _fixture()
        df = spark.createDataFrame(
            vecs, "vec_id long, embedding array<double>"
        )
        queries = df.filter("vec_id < 5")
        cand = binary_hamming_topk(queries, df, k=5, dim=8)
        monkeypatch.setattr(similarity, "_LEAN_MAX_CAND", 10**9)
        lean = sorted(
            tuple(r)
            for r in exact_rerank_topk(cand, df, k=3).collect()
        )
        monkeypatch.setattr(similarity, "_LEAN_MAX_CAND", 0)
        hoisted = sorted(
            tuple(r)
            for r in exact_rerank_topk(cand, df, k=3).collect()
        )
        assert lean == hoisted
        assert len(lean) == 15


class TestHammingRadiusCut:
    def test_radius_cut_is_result_identical(self, spark):
        from afg_data_pipeline_spark.operators.similarity import (
            binary_hamming_topk,
        )

        vecs = _fixture()
        df = spark.createDataFrame(
            vecs, "vec_id long, embedding array<double>"
        )
        q = df.filter("vec_id < 6")
        for k in (3, 50):  # k=50 > corpus: dim-fallback path
            plain = sorted(
                tuple(r)
                for r in binary_hamming_topk(
                    q, df, k=k, dim=8, radius_cut=False
                ).collect()
            )
            cut = sorted(
                tuple(r)
                for r in binary_hamming_topk(
                    q, df, k=k, dim=8, radius_cut=True
                ).collect()
            )
            assert plain == cut, k


class TestSemanticDedupKeep:
    def test_keep_invariants(self, spark):
        """One kept doc per near-dup component (the min id), every
        removed doc points at a kept canonical, nothing lost."""
        from afg_data_pipeline_spark.plans import REGISTRY

        rows = REGISTRY["semantic_dedup_keep"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
        by_comp: dict = {}
        for r in rows:
            by_comp.setdefault(r["canonical_id"], []).append(r)
        kept = {r["vec_id"] for r in rows if r["is_kept"]}
        for canon, members in by_comp.items():
            assert canon == min(m["vec_id"] for m in members)
            assert canon in kept
            for m in members:
                assert m["is_kept"] == (m["vec_id"] == canon)
        n_emb = (
            spark.read.parquet(
                "/root/testdata/sf0.001/embeddings.parquet"
            ).count()
        )
        assert len(rows) == n_emb


class TestNumpyPathMultiBatch:
    def test_cross_batch_partials_bit_identical(
        self, spark, monkeypatch
    ):
        """The numpy strategy must stay bit-identical when one
        partition spans MULTIPLE Arrow batches — per-batch
        (cluster, dim) partials have to recombine exactly
        (maxRecordsPerBatch=7 over a 30-row single partition forces
        5 batches)."""
        vecs = _fixture()
        df = spark.createDataFrame(
            vecs, "vec_id long, embedding array<double>"
        ).coalesce(1)
        monkeypatch.setattr(kmeans, "_LITERAL_MAX_K", 999)
        literal = {
            r.id: (r.cluster, r.dist_q)
            for r in kmeans_assign(
                df, k=5, iterations=3, dim=8
            ).collect()
        }
        old = spark.conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch"
        )
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", "7"
        )
        monkeypatch.setattr(kmeans, "_LITERAL_MAX_K", 0)
        try:
            vectorized = {
                r.id: (r.cluster, r.dist_q)
                for r in kmeans_assign(
                    df, k=5, iterations=3, dim=8
                ).collect()
            }
        finally:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", old
            )
        assert vectorized == literal
