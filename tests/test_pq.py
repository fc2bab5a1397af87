"""Product-quantization ANN: python-replica pins for train/encode/
ADC (the registered query is oracle-checked too; the replica pins
the driver-side codebook arithmetic and the Lloyd refinement the
oracle doesn't cover), plus the recall property PQ exists for."""

from __future__ import annotations

import hashlib

from afg_data_pipeline_spark.operators.pq import (
    QUANT,
    pq_adc_topk,
    pq_encode,
    pq_train,
)

OFF = 1 << 40


def _vectors(n=40, dim=16):
    vecs = []
    for i in range(n):
        h = hashlib.md5(f"pq{i}".encode()).digest()
        blob = i % 4
        base = [0.0] * dim
        base[blob] = 1.0
        jitter = [(h[j % 16] / 255 - 0.5) * 0.2 for j in range(dim)]
        vecs.append((i, [base[j] + jitter[j] for j in range(dim)]))
    return vecs


def _replica_books(vectors, m, k, dim, iterations):
    dsub = dim // m
    q = {
        vid: [round(float(x) * QUANT) for x in vec]
        for vid, vec in vectors
    }
    seeds = sorted(q)[:k]
    books = [
        [
            [q[vid][j * dsub + i] for i in range(dsub)]
            for vid in seeds
        ]
        for j in range(m)
    ]

    def code(qv, j):
        best = None
        for c in range(k):
            d = sum(
                (qv[j * dsub + i] - books[j][c][i]) ** 2
                for i in range(dsub)
            )
            if best is None or d < best[1]:
                best = (c, d)
        return best[0]

    for _ in range(iterations):
        sums: dict = {}
        for vid, qv in q.items():
            for j in range(m):
                c = code(qv, j)
                s = sums.setdefault(
                    (j, c), [0] * dsub + [0]
                )
                for i in range(dsub):
                    s[i] += qv[j * dsub + i]
                s[-1] += 1
        new_books = [
            [list(books[j][c]) for c in range(k)]
            for j in range(m)
        ]
        for (j, c), s in sums.items():
            n = s[-1]
            new_books[j][c] = [
                (s[i] + n * OFF) // n - OFF for i in range(dsub)
            ]
        books = new_books
    return books, q


class TestPq:
    M, K, DIM = 4, 8, 16

    def _df(self, spark):
        return spark.createDataFrame(
            _vectors(dim=self.DIM),
            "vec_id long, embedding array<double>",
        )

    def test_train_encode_match_replica(self, spark):
        df = self._df(spark)
        for iters in (0, 2):
            books = pq_train(
                df, m=self.M, k=self.K, dim=self.DIM,
                iterations=iters,
            )
            want_books, q = _replica_books(
                _vectors(dim=self.DIM),
                self.M, self.K, self.DIM, iters,
            )
            assert books == want_books, iters
            got = {
                r.id: list(r.codes)
                for r in pq_encode(
                    df, books, dim=self.DIM
                ).collect()
            }
            dsub = self.DIM // self.M
            for vid, qv in q.items():
                for j in range(self.M):
                    dists = [
                        sum(
                            (qv[j * dsub + i] - books[j][c][i]) ** 2
                            for i in range(dsub)
                        )
                        for c in range(self.K)
                    ]
                    assert got[vid][j] == dists.index(min(dists))

    def test_adc_matches_replica_and_is_deterministic(self, spark):
        df = self._df(spark)
        books = pq_train(
            df, m=self.M, k=self.K, dim=self.DIM, iterations=1
        )
        queries = df.filter(df.vec_id < 4)
        out1 = sorted(
            (r.query_id, r.rank, r.neighbor_id, r.adc)
            for r in pq_adc_topk(
                queries, df, books, topk=3
            ).collect()
        )
        out2 = sorted(
            (r.query_id, r.rank, r.neighbor_id, r.adc)
            for r in pq_adc_topk(
                queries, df, books, topk=3
            ).collect()
        )
        assert out1 == out2
        _, q = _replica_books(
            _vectors(dim=self.DIM),
            self.M, self.K, self.DIM, 1,
        )
        dsub = self.DIM // self.M

        def code(qv, j):
            dists = [
                sum(
                    (qv[j * dsub + i] - books[j][c][i]) ** 2
                    for i in range(dsub)
                )
                for c in range(self.K)
            ]
            return dists.index(min(dists))

        want = []
        for qid in range(4):
            cands = []
            for vid, qv in q.items():
                if vid == qid:
                    continue
                adc = sum(
                    sum(
                        (
                            q[qid][j * dsub + i]
                            - books[j][code(qv, j)][i]
                        )
                        ** 2
                        for i in range(dsub)
                    )
                    for j in range(self.M)
                )
                cands.append((adc, vid))
            cands.sort()
            for rank, (adc, vid) in enumerate(cands[:3], 1):
                want.append((qid, rank, vid, adc))
        assert out1 == sorted(want)

    def test_adc_recall_vs_exact(self, spark):
        # PQ's reason to exist: ADC rank tracks the TRUE L2 rank
        # (ADC approximates Euclidean distance — cosine is the
        # exact tier's metric, not PQ's). The exact-L2 top-1
        # neighbor must appear in the ADC top-3 for (almost) every
        # query, with seeded and refined codebooks alike.
        df = self._df(spark)
        queries = df.filter(df.vec_id < 8)
        vecs = dict(_vectors(dim=self.DIM))
        exact = set()
        for qid in range(8):
            cands = sorted(
                (
                    sum(
                        (a - b) ** 2
                        for a, b in zip(vecs[qid], vecs[vid])
                    ),
                    vid,
                )
                for vid in vecs
                if vid != qid
            )
            exact.add((qid, cands[0][1]))
        for iters in (0, 2):
            books = pq_train(
                df, m=self.M, k=self.K, dim=self.DIM,
                iterations=iters,
            )
            rows = pq_adc_topk(
                queries, df, books, topk=5
            ).collect()
            got = {(r.query_id, r.neighbor_id) for r in rows}
            # Funnel contract, not exactness: the exact-L2 top-1
            # survives into the ADC top-5 candidate set for most
            # queries (measured 6-7/8 on this fixture — k=8
            # codebooks over 4-dim subspaces are deliberately
            # coarse), and every ADC top-3 neighbor shares the
            # query's blob (the coarse structure is never lost).
            hits = sum(1 for pair in exact if pair in got)
            assert hits >= 6, (iters, hits)
            for r in rows:
                if r.rank <= 3:
                    assert r.neighbor_id % 4 == r.query_id % 4, r

    def test_query_filter_mode_identical(self, spark):
        # Self-query mode (one distance relation, LUT = filter of
        # it) must produce the identical frame to the two-frame
        # form.
        from pyspark.sql import functions as F

        df = self._df(spark)
        books = pq_train(
            df, m=self.M, k=self.K, dim=self.DIM, iterations=0
        )
        two = sorted(
            tuple(r)
            for r in pq_adc_topk(
                df.filter(df.vec_id < 4), df, books, topk=3
            ).collect()
        )
        fused = sorted(
            tuple(r)
            for r in pq_adc_topk(
                None,
                df,
                books,
                topk=3,
                query_filter=F.col("id") < 4,
            ).collect()
        )
        assert two == fused
        import pytest

        with pytest.raises(ValueError, match="exactly one"):
            pq_adc_topk(df, df, books, query_filter=F.lit(True))

    def test_rejects_bad_dims(self, spark):
        import pytest

        df = self._df(spark)
        with pytest.raises(ValueError, match="divisible"):
            pq_train(df, m=3, k=4, dim=self.DIM)
        with pytest.raises(ValueError, match="at least k"):
            pq_train(df, m=4, k=1000, dim=self.DIM)


class TestIvfPq:
    def test_cell_restriction_and_recall(self, spark):
        from afg_data_pipeline_spark.operators.pq import (
            ivfpq_topk,
            pq_train,
        )
        from afg_data_pipeline_spark.operators.similarity import (
            ivf_assign,
            seeded_centroids,
        )

        df = self._df_cls(spark)
        books = pq_train(
            df, m=self.M, k=self.K, dim=self.DIM, iterations=0
        )
        queries = df.filter(df.vec_id < 6)
        out = ivfpq_topk(
            queries, df, books, k=3, n_centroids=8, n_probe=3
        ).collect()
        # (a) every returned neighbor shares a probed cell
        cents = seeded_centroids(df, "vec_id", "embedding", 8)
        corpus_cell = {
            r.vec_id: r.centroid_id
            for r in ivf_assign(
                df, cents, "vec_id", "embedding", n_probe=1
            ).collect()
        }
        probed = {}
        for r in ivf_assign(
            queries, cents, "vec_id", "embedding", n_probe=3
        ).collect():
            probed.setdefault(r.vec_id, set()).add(r.centroid_id)
        for r in out:
            assert (
                corpus_cell[r.neighbor_id] in probed[r.query_id]
            ), r
        # (b) deterministic
        again = ivfpq_topk(
            queries, df, books, k=3, n_centroids=8, n_probe=3
        ).collect()
        assert sorted(map(tuple, out)) == sorted(
            map(tuple, again)
        )
        # (c) blob recall: probing 3 of 8 cells on well-separated
        # blobs still finds a same-blob neighbor at rank 1 for
        # most queries (double-approximation tolerated: >= 4/6)
        rank1 = {
            r.query_id: r.neighbor_id for r in out if r.rank == 1
        }
        hits = sum(
            1 for q, n in rank1.items() if n % 4 == q % 4
        )
        assert hits >= 4, (hits, rank1)

    def _df_cls(self, spark):
        return spark.createDataFrame(
            _vectors(dim=self.DIM),
            "vec_id long, embedding array<double>",
        )

    M, K, DIM = 4, 8, 16


class TestPersistedIndex:
    def test_build_query_matches_oneshot_and_prunes(
        self, spark, tmp_path
    ):
        """build_ivfpq_index + query_ivfpq_index must reproduce the
        one-shot ivfpq_topk bit-for-bit, and the postings scan must
        carry the probed cells as PARTITION filters (the directory
        layout is the inverted index — unprobed cells are never
        read)."""
        from afg_data_pipeline_spark.io import read_star_table
        from afg_data_pipeline_spark.operators.pq import (
            build_ivfpq_index,
            ivfpq_topk,
            pq_train,
            query_ivfpq_index,
        )

        emb = read_star_table(
            spark, "embeddings", "/root/testdata/sf0.001"
        )
        queries = emb.filter("vec_id < 16")
        idx = str(tmp_path / "ivfpq")
        build_ivfpq_index(
            emb, idx, m=8, k=16, n_centroids=16, dim=64
        )
        served = query_ivfpq_index(
            spark, idx, queries, k=5, n_probe=2
        )
        books = pq_train(emb, m=8, k=16, dim=64, iterations=0)
        oneshot = ivfpq_topk(
            queries, emb, books, k=5, n_centroids=16, n_probe=2
        )
        got = sorted(tuple(r) for r in served.collect())
        want = sorted(tuple(r) for r in oneshot.collect())
        assert got == want
        assert len(got) == 16 * 5
        plan = served._sc._jvm.PythonSQLUtils.explainString(
            served._jdf.queryExecution(), "formatted"
        )
        import re

        m_ = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m_ and "centroid_id" in m_.group(1), plan
        # with 16 queries x 2 probes the probed cell set must be a
        # strict subset at least once across seeds; assert the IN
        # list is present (literal pruning, not a runtime filter)
        assert "IN" in m_.group(1) or "in" in m_.group(1), plan

    def test_file_uri_index_round_trip(self, spark, tmp_path):
        """Addressed as a ``file://`` URI, codebooks.json lands in
        the index dir beside centroids and postings (not in a
        CWD-relative ``file:`` directory) and serving from the URI
        equals serving from the plain path."""
        from afg_data_pipeline_spark.io import read_star_table
        from afg_data_pipeline_spark.operators.pq import (
            build_ivfpq_index,
            query_ivfpq_index,
        )

        emb = read_star_table(
            spark, "embeddings", "/root/testdata/sf0.001"
        )
        queries = emb.filter("vec_id < 8")
        plain = str(tmp_path / "plain")
        uri = "file://" + str(tmp_path / "uri")
        for idx in (plain, uri):
            build_ivfpq_index(
                emb, idx, m=8, k=16, n_centroids=16, dim=64
            )
        assert (tmp_path / "uri" / "codebooks.json").is_file()
        got, want = (
            sorted(
                tuple(r)
                for r in query_ivfpq_index(
                    spark, idx, queries, k=5, n_probe=2
                ).collect()
            )
            for idx in (uri, plain)
        )
        assert len(want) == 8 * 5
        assert got == want
