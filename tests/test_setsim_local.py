"""operators/_setsim_local: the driver kernels of ngram_jaccard_pairs'
exact tier and minhash_lsh_candidates against the distributed path —
same rows, same schema, and each path is the one that really ran."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from afg_data_pipeline_spark.operators import _setsim_local as local
from afg_data_pipeline_spark.operators.dedup import (
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
)
from afg_data_pipeline_spark.plans import REGISTRY
from tests.conftest import SF_DIR, builder_jobs, kernel_frames

WORDS = "a b c d e f g h".split()


def _corpus(seed, n=40, ids=None):
    """Seeded (doc_id, text, lang) rows on an 8-word vocabulary: near
    duplicates, exact duplicates, a single-token document and a group
    of one ('xx')."""
    rng = random.Random(seed)
    texts = []
    for i in range(n):
        if texts and rng.random() < 0.3:
            body = rng.choice(texts).split()
            body[rng.randrange(len(body))] = rng.choice(WORDS)
            texts.append(" ".join(body))
        else:
            k = rng.randrange(2, 12)
            texts.append(" ".join(rng.choice(WORDS) for _ in range(k)))
    texts[3] = texts[2]
    texts[5] = "solo"
    ids = ids or rng.sample(range(1000), n)
    langs = [rng.choice(["en", "fr", "de"]) for _ in range(n)]
    langs[3] = langs[2]
    langs[7] = "xx"
    return list(zip(ids, texts, langs))


def _frame(spark, rows, schema="doc_id long, text string, lang string"):
    return spark.createDataFrame(rows, schema)


_OPS = {
    "ngram-t0": lambda df: ngram_jaccard_pairs(df, "lang", threshold=0.0),
    "ngram-t0.5": lambda df: ngram_jaccard_pairs(df, "lang", threshold=0.5),
    "ngram-t1": lambda df: ngram_jaccard_pairs(df, "lang", threshold=1),
    "ngram-n3": lambda df: ngram_jaccard_pairs(
        df, "lang", threshold=0.2, n=3
    ),
    "minhash": lambda df: minhash_lsh_candidates(df),
    "minhash-t0.5": lambda df: minhash_lsh_candidates(df, threshold=0.5),
    "minhash-k1-b1": lambda df: minhash_lsh_candidates(
        df, n_hashes=3, band_size=1, shingle_k=1
    ),
}


@pytest.fixture
def distributed(monkeypatch):
    """Route both operators through the distributed path: every corpus
    below holds at least one shingle cell."""
    monkeypatch.setattr(local, "_LOCAL_MAX_CELLS", 0)


class TestSetSimKernels:
    def _got(self, df):
        return sorted(df.collect()), df.schema.simpleString()

    def _both(self, monkeypatch, build):
        """(kernel result, distributed result), asserting the path each
        one took."""
        calls = kernel_frames(monkeypatch)
        kernel = self._got(build())
        assert calls == [1]
        with monkeypatch.context() as m:
            m.setattr(local, "_LOCAL_MAX_CELLS", 0)
            dist = self._got(build())
        assert calls == [1]
        return kernel, dist

    @pytest.mark.parametrize("op", sorted(_OPS))
    @pytest.mark.parametrize("seed", [1, 2, 3])
    def test_kernel_equals_distributed(self, spark, monkeypatch, op, seed):
        df = _frame(spark, _corpus(seed))
        kernel, dist = self._both(monkeypatch, lambda: _OPS[op](df))
        assert kernel == dist

    def test_fixture_corpus_has_pairs(self, spark, monkeypatch):
        # guards the equivalence cases against comparing empty outputs
        df = _frame(spark, _corpus(1))
        (rows, _), _ = self._both(
            monkeypatch, lambda: _OPS["ngram-t1"](df)
        )
        assert any(r.jaccard == 1.0 for r in rows)
        (rows, _), _ = self._both(
            monkeypatch, lambda: _OPS["minhash"](df)
        )
        assert len(rows) > 10

    @pytest.mark.parametrize("op", ["ngram-t0.5", "minhash"])
    def test_string_ids(self, spark, monkeypatch, op):
        # code-point order = Spark's binary order: 'B' < 'a' < 'é'
        ids = [f"{c}{i}" for i, c in enumerate("aBé" * 14)][:40]
        df = _frame(
            spark,
            _corpus(4, ids=ids),
            "doc_id string, text string, lang string",
        )
        kernel, dist = self._both(monkeypatch, lambda: _OPS[op](df))
        assert kernel == dist

    @pytest.mark.parametrize("op", ["ngram-t0", "minhash"])
    def test_small_chunks(self, spark, monkeypatch, op):
        # work arrays of a few entries: every block and lookup loop
        # takes many turns
        monkeypatch.setattr(local, "_CHUNK", 7)
        df = _frame(spark, _corpus(5))
        kernel, dist = self._both(monkeypatch, lambda: _OPS[op](df))
        assert kernel == dist

    def test_hot_buckets_fall_back(self, spark, monkeypatch):
        # 12 identical documents emit C(12, 2) pairs in each band
        monkeypatch.setattr(local, "_LOCAL_MAX_CELLS", 4 * 66 - 1)
        rows = [(i, "x y z", "en") for i in range(12)]
        df = _frame(spark, rows)
        calls = kernel_frames(monkeypatch)
        assert len(minhash_lsh_candidates(df).collect()) == 66
        assert calls == []
        monkeypatch.setattr(local, "_LOCAL_MAX_CELLS", 4 * 66)
        assert len(minhash_lsh_candidates(df).collect()) == 66
        assert calls == [1]

    def _takes_distributed(self, monkeypatch, build):
        calls = kernel_frames(monkeypatch)
        rows = build().collect()
        assert calls == []
        return rows

    @pytest.mark.parametrize("op", ["ngram-t0.5", "minhash"])
    @pytest.mark.parametrize(
        "edit",
        ["null-id", "null-text", "duplicate-id"],
    )
    def test_fallbacks(self, spark, monkeypatch, op, edit):
        rows = [list(r) for r in _corpus(6)]
        if edit == "null-id":
            rows[4][0] = None
        elif edit == "null-text":
            rows[4][1] = None
        else:
            rows[4][0] = rows[2][0]
        df = _frame(spark, [tuple(r) for r in rows])
        self._takes_distributed(monkeypatch, lambda: _OPS[op](df))

    def test_null_group_falls_back(self, spark, monkeypatch):
        rows = [list(r) for r in _corpus(7)]
        rows[4][2] = None
        df = _frame(spark, [tuple(r) for r in rows])
        self._takes_distributed(monkeypatch, lambda: _OPS["ngram-t0"](df))

    def test_double_id_falls_back(self, spark, monkeypatch):
        rows = [(float(i), t, g) for i, t, g in _corpus(8)]
        df = _frame(spark, rows, "doc_id double, text string, lang string")
        self._takes_distributed(monkeypatch, lambda: _OPS["minhash"](df))

    @pytest.mark.parametrize(
        "shingles",
        [
            "array()",
            "array(cast(null as string))",
        ],
        ids=["empty-array", "null-shingle"],
    )
    @pytest.mark.parametrize("op", ["ngram-t0.5", "minhash"])
    def test_degenerate_arrays_fall_back(
        self, spark, monkeypatch, op, shingles
    ):
        # shingle_expr never yields these for non-null text; the
        # kernels' input check is pinned by swapping one in for
        # one-token documents
        real = local.shingle_expr

        def shingle_expr(toks, k):
            return F.when(
                F.size(toks) == 1, F.expr(shingles).cast("array<string>")
            ).otherwise(real(toks, k))

        monkeypatch.setattr(local, "shingle_expr", shingle_expr)
        df = _frame(spark, _corpus(9))
        self._takes_distributed(monkeypatch, lambda: _OPS[op](df))

    def test_bucket_cap_keeps_distributed_path(self, spark, monkeypatch):
        df = _frame(spark, _corpus(10))
        collects = []
        monkeypatch.setattr(
            local, "shingle_cells", lambda *a: collects.append(a)
        )
        self._takes_distributed(
            monkeypatch,
            lambda: minhash_lsh_candidates(df, max_bucket_size=5),
        )
        assert collects == []

    def test_cell_bound_is_inclusive(self, spark, monkeypatch):
        rows = _corpus(11)
        df = _frame(spark, rows)
        cells = local.shingle_cells(df, "doc_id", "text", 2)
        total = int(cells.off[-1])
        calls = kernel_frames(monkeypatch)
        monkeypatch.setattr(local, "_LOCAL_MAX_CELLS", total)
        kernel = sorted(minhash_lsh_candidates(df).collect())
        assert calls == [1]
        monkeypatch.setattr(local, "_LOCAL_MAX_CELLS", total - 1)
        dist = sorted(minhash_lsh_candidates(df).collect())
        assert calls == [1]
        assert kernel == dist

    def test_pair_budget_still_announces_subset_tier(
        self, spark, monkeypatch, caplog
    ):
        df = _frame(spark, _corpus(12))
        calls = kernel_frames(monkeypatch)
        out = ngram_jaccard_pairs(
            df, "lang", threshold=0.5, max_pairs=5
        ).collect()
        assert "falling back to banded MinHash" in caplog.text
        assert {r.tier for r in out} == {"lsh_subset"}
        # the pair stat came from the collected cells, and the subset
        # tier's candidates from the minhash kernel
        assert calls == [1]

    def test_pair_count_matches_group_sizes(self, spark):
        rows = _corpus(13)
        cells = local.shingle_cells(
            _frame(spark, rows), "doc_id", "text", 2, "lang"
        )
        sizes = {}
        for _, _, g in rows:
            sizes[g] = sizes.get(g, 0) + 1
        assert local.pair_count(cells) == sum(
            n * (n - 1) // 2 for n in sizes.values()
        )


class TestBuilderJobs:
    """Pins the gate: on the kernel the registered queries launch at
    most two jobs while their plan is built; the distributed path runs
    its probe, checkpoint or both."""

    @pytest.mark.parametrize(
        "name", ["ngram_jaccard_dups", "minhash_near_dup"]
    )
    def test_kernel_launches_at_most_two_jobs(self, spark, name):
        fn = REGISTRY[name].fn
        assert builder_jobs(spark, lambda: fn(spark, SF_DIR)) <= 2

    @pytest.mark.parametrize(
        "name", ["ngram_jaccard_dups", "minhash_near_dup"]
    )
    def test_distributed_launches_more(self, spark, distributed, name):
        fn = REGISTRY[name].fn
        assert builder_jobs(spark, lambda: fn(spark, SF_DIR)) > 2
