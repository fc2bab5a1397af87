"""Integer-exact Lloyd's k-means over embedding columns — the
clustering stage of semantic dedup (SemDeDup-style: cluster, then
prune near-dups within clusters) and of IVF-style index builds.

Why integer-exact: distributed k-means normally sums per-cluster
double coordinates in shuffle order — irreproducible across
partitionings, retries, and engines, so an oracle comparison would
be impossible and reruns would flap. Here every coordinate is
quantized ONCE to the 1e-6 grid (``q = round(x · 1e6)`` BIGINT —
integer rounding of the same double agrees across engines,
CLAUDE.md rule 1b) and every downstream step is exact integer
arithmetic:

    dist²(v, c)  = Σ_j (q_vj − c_j)²            (BIGINT; ≤ ~8e13
                   for 64 dims of |x| ≤ 10 — far under 2^63)
    assignment   = argmin dist², ties → smaller cluster id
    c'_j         = floor(Σ q_vj / n)  computed as
                   (Σ q_vj + n·OFF) div n − OFF  with OFF = 1e7

The OFF shift makes the dividend non-negative, where truncating
(Spark ``div``, Python ``//`` on positives) and flooring division
agree — so Spark, DuckDB and the driver-side Python all produce
bit-identical centroids. Empty clusters die (standard Lloyd's
variant); surviving cluster ids are stable, never renumbered.

Scale shape: the quantized array frame is localCheckpoint()ed once
and scanned T+1 times; each iteration is ONE map-side-combinable
aggregate producing k×(d+1) partials, and the model state
(k·d integers) rides the driver exactly as Spark MLlib's own
KMeans does — O(k·d), independent of corpus size. Distances are
compact BIGINT array folds against centroid literal arrays (see
``_dist_expr`` for why not flat unrolled expressions), each
materialized once per row: no explode, no join, no shuffle on the
data path besides the k-row aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: fixed-point grid for coordinates (1e-6 — matches tfidf.QUANT)
QUANT = 1_000_000
#: non-negativity shift for floor-division portability; must exceed
#: max |quantized coordinate| (1e7 covers |x| <= 10)
OFF = 10_000_000
#: largest k assigned by literal folds; above it the exact int64
#: numpy strategy runs (bit-identical, tests monkeypatch this)
_LITERAL_MAX_K = 64


def _dist_expr(centroid: list[int]):
    """Σ_j (qarr[j] − c_j)² as a compact BIGINT array fold.

    A flat 64-term expression per centroid (×8 centroids) grows
    whole-stage codegen past the JVM's 64 KB method limit —
    measured: compile-fail-and-fallback cycles put the sf0.01 query
    at 37.9s; the fold form runs it in ~2s. The fold is a
    HOF-lambda expression feeding an ORACLE-CHECKED output, which
    is the sanctioned use under CLAUDE.md rule 10 (a corruption
    recurrence is a red row, never silent)."""
    lits = ", ".join(str(int(c)) for c in centroid)
    return F.expr(
        f"aggregate(zip_with(qarr, array({lits}), "
        "(x, y) -> (x - y) * (x - y)), "
        "cast(0 as bigint), (acc, v) -> acc + v)"
    )


def kmeans_assign(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iterations: int = 3,
    dim: int | None = None,
) -> DataFrame:
    """Run ``iterations`` Lloyd's rounds from deterministic seeds
    (the k vectors with smallest id) and return the FINAL
    assignment: (id, cluster, dist_q) with dist_q the exact
    integer squared distance on the 1e-6 grid.

    Raises on corpora with fewer than ``k`` vectors.
    """
    if dim is None:
        # Infer from a NON-NULL vector: F.size(null) is null, and a
        # null dim would surface as a bare TypeError in range(dim)
        # below instead of a diagnosable error.
        first = (
            df.filter(F.col(vec_col).isNotNull())
            .select(F.size(vec_col))
            .first()
        )
        if first is None or first[0] is None or first[0] < 1:
            raise ValueError(
                f"kmeans: no non-null {vec_col!r} vector to infer "
                "the dimension from; pass dim= explicitly"
            )
        dim = first[0]
    # Defensive: a null or wrong-dimension vector would propagate
    # null through element_at → null distances → null cluster,
    # silently. Drop malformed rows instead (documented contract:
    # every participating vector has exactly ``dim`` components).
    df = df.filter(F.size(F.col(vec_col)) == dim)
    # Explicit 64-element array build (no HOF for the quantization
    # itself); the fold lambdas appear only in the oracle-checked
    # distance path.
    qarr = F.array(
        *[
            F.round(
                F.element_at(F.col(vec_col), j + 1).cast("double")
                * F.lit(float(QUANT)),
                0,
            ).cast("bigint")
            for j in range(dim)
        ]
    )
    base = df.select(
        F.col(id_col).alias("id"), qarr.alias("qarr")
    ).localCheckpoint(eager=True)
    seeds = base.orderBy("id").limit(k).collect()
    if len(seeds) < k:
        raise ValueError(
            f"kmeans needs at least k={k} vectors, got {len(seeds)}"
        )
    # cluster id = seed rank by vector id (0-based), stable forever.
    cents: dict[int, list[int]] = {
        cid: list(row["qarr"]) for cid, row in enumerate(seeds)
    }

    use_numpy = k > _LITERAL_MAX_K

    def with_cluster(cents_now: dict[int, list[int]]):
        """(frame + d_<cid> columns + cluster + dist_q) — each
        distance is materialized once as a column, then the argmin
        when-chain compares columns, never re-evaluating folds."""
        cids = sorted(cents_now)
        frame = base.withColumns(
            {f"d_{c}": _dist_expr(cents_now[c]) for c in cids}
        )
        best = F.least(*[F.col(f"d_{c}") for c in cids])
        # ordered when-chain: first (= smallest) cid at the min —
        # the deterministic tie-break the oracle mirrors with
        # row_number() ORDER BY (dist, cid).
        expr = F.when(F.col(f"d_{cids[0]}") == best, F.lit(cids[0]))
        for c in cids[1:]:
            expr = expr.when(F.col(f"d_{c}") == best, F.lit(c))
        return frame.withColumn(
            "cluster", expr.cast("int")
        ).withColumn("dist_q", best)

    for _ in range(iterations):
        if use_numpy:
            # collect-bound: k*d partials per input partition
            agg = _np_iter_partials(base, cents).collect()
        else:
            # posexplode to (cluster, dim, q) then ONE aggregate: a
            # 64-sum wide aggregate costs ~0.9s of driver-side
            # planning per iteration (72 aggregate expressions)
            # where this 3-expression form costs ~0.6s including
            # the cluster computation — and the shuffle still
            # carries only k×d map-side-combined partials. Every
            # (cluster, dim) group has exactly n_cluster rows, so
            # the count rides each row. DECIMAL(38,0) accumulation:
            # ANSI-proof (rule 11); cast back to BIGINT after
            # (bound Σ|q| ≤ n·1e7, exact under 9.2e18).
            agg = (
                with_cluster(cents)
                .select(
                    "cluster",
                    F.posexplode("qarr").alias("dim", "q"),
                )
                .groupBy("cluster", "dim")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("q").cast("decimal(38,0)"))
                    .cast("bigint")
                    .alias("s"),
                )
                # collect-bound: k*d map-side-combined partials
                .collect()
            )
        new_cents: dict[int, list[int]] = {}
        for row in agg:
            new_cents.setdefault(row["cluster"], [0] * dim)
            new_cents[row["cluster"]][row["dim"]] = (
                row["s"] + row["n"] * OFF
            ) // row["n"] - OFF
        cents = new_cents

    if use_numpy:
        return _np_final_assign(base, cents)
    return with_cluster(cents).select("id", "cluster", "dist_q")


def _np_dist_matrix(qmat, cmat):
    """Exact int64 squared-distance matrix |q−c|² via the
    expansion |q|² + |c|² − 2 q·c — every term bounded by
    64·(2·OFF)² ≈ 1e17 < 2^63, so the int64 matmul is exact (numpy
    integer matmul never routes through float BLAS)."""
    import numpy as np

    q2 = (qmat * qmat).sum(axis=1, dtype=np.int64)
    c2 = (cmat * cmat).sum(axis=1, dtype=np.int64)
    qc = qmat @ cmat.T
    return q2[:, None] + c2[None, :] - 2 * qc


def _np_iter_partials(base: DataFrame, cents: dict) -> DataFrame:
    """One Lloyd's-round pass as mapInPandas: per Arrow batch,
    assign every vector to its nearest centroid (exact int64 math,
    ties → smallest cluster id — np.argmin's first-minimum is the
    smallest index of the cid-sorted matrix, the same tie-break as
    the literal when-chain) and emit per-(cluster, dim) partial
    sums/counts. The shuffle carries only k×d partials per batch;
    the driver combines them with the identical floor-division
    formula. This is the k > _LITERAL_MAX_K strategy:
    the literal-fold projection is interpreted (HOFs are
    CodegenFallback) and its n·k·d cost wall was measured at 152s
    for k=447 over 200k vectors where this path runs the same
    exact assignment in a few seconds (PERF.md round 6) — the
    sanctioned Arrow-UDF regime (COVERAGE §2.11): built-ins can
    express it, but 30× slower at production k."""
    import numpy as np

    cids = sorted(cents)
    cmat = np.array([cents[c] for c in cids], dtype=np.int64)
    cid_arr = np.array(cids, dtype=np.int64)
    dim = cmat.shape[1]

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            qmat = np.array(
                [list(a) for a in pdf["qarr"]], dtype=np.int64
            )
            idx = _np_dist_matrix(qmat, cmat).argmin(axis=1)
            counts = np.bincount(idx, minlength=len(cids))
            sums = np.zeros(
                (len(cids), dim), dtype=np.int64
            )
            np.add.at(sums, idx, qmat)
            live = np.flatnonzero(counts)
            yield pd.DataFrame(
                {
                    "cluster": np.repeat(cid_arr[live], dim),
                    "dim": np.tile(np.arange(dim), len(live)),
                    "n": np.repeat(counts[live], dim),
                    "s": sums[live].reshape(-1),
                }
            )

    part = base.mapInPandas(
        gen, schema="cluster long, dim int, n long, s long"
    )
    # batch-level partials are bounded (≤ maxRecordsPerBatch·2·OFF
    # per cell) but the global sums are not provably < 2^63 —
    # decimal-accumulate (rule 11), cast back after.
    return (
        part.groupBy("cluster", "dim")
        .agg(
            F.sum("n").alias("n"),
            F.sum(F.col("s").cast("decimal(38,0)"))
            .cast("bigint")
            .alias("s"),
        )
        .select(
            F.col("cluster").cast("int").alias("cluster"),
            "dim",
            "n",
            "s",
        )
    )


def _np_final_assign(base: DataFrame, cents: dict) -> DataFrame:
    """Final (id, cluster, dist_q) via the same exact int64 batch
    assignment as _np_iter_partials."""
    import numpy as np

    cids = sorted(cents)
    cmat = np.array([cents[c] for c in cids], dtype=np.int64)
    cid_arr = np.array(cids, dtype=np.int64)
    id_field = base.schema["id"]

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            qmat = np.array(
                [list(a) for a in pdf["qarr"]], dtype=np.int64
            )
            dmat = _np_dist_matrix(qmat, cmat)
            idx = dmat.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy(),
                    "cluster": cid_arr[idx].astype(np.int32),
                    "dist_q": dmat[
                        np.arange(len(idx)), idx
                    ],
                }
            )

    return base.mapInPandas(
        gen,
        schema=(
            f"id {id_field.dataType.simpleString()}, "
            "cluster int, dist_q long"
        ),
    )


def auto_k(n: int, cap: int = 4096) -> int:
    """Production cluster count for SemDeDup at corpus size n:
    k ≈ √n balances the two costs that scale with k — the Σ n_c²
    pair work (shrinks as k grows: expected n²/k for balanced
    clusters, so k=√n gives ~n^1.5 pair work) against the O(k·d)
    driver-literal centroid model and the per-iteration k×d
    aggregate (grows with k). Capped (default 4096) because the
    join-free data path inlines centroids as plan literals —
    beyond a few thousand centroids the assignment expression
    itself becomes the bottleneck and an IVF-style coarse quantizer
    join is the right tool instead. Clamped below by 2 (k=1 is no
    blocking at all)."""
    import math

    if n <= 0:
        raise ValueError(f"auto_k needs n >= 1, got {n}")
    return max(2, min(int(math.isqrt(n)), cap, n))


def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int | str = "auto",
    iterations: int = 3,
    threshold: float = 0.9,
    n: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster the
    embedding space, then find near-duplicate pairs ONLY within
    clusters — the pair space shrinks from n² to Σ_c n_c², and the
    cluster assignment is the integer-exact k-means above, so the
    whole pipeline stays bit-reproducible.

    Output: (id_a, id_b, cluster, cosine) for same-cluster pairs
    with cosine >= threshold. Cosine uses the engine's sequential
    double-fold dot/norm (operators/similarity.dot_decimal — the
    same contract every ANN query here uses), so the oracle
    reproduces every float bit-for-bit.

    Scale: the within-cluster self-join is SALTED (probe side
    hash(id) % S, build side replicated across S salt values, join
    key (cluster, salt)) — a plain equi-join on cluster runs ONE
    task per cluster, so the Σ n_c² pair work would be capped at
    k-way parallelism (measured at sf1, k=8 over 20k vectors:
    52.9s plain → 16.5s salted; sf0.1: 4.0s → 3.4s). Same
    pattern and S≤64 cap as
    ngram_jaccard_pairs: build-side shuffle is multiplied by S, so
    S tracks cores, not pair count.

    ``k`` defaults to ``"auto"``: k = min(√n, 4096) (see auto_k) —
    the SemDeDup regime where cluster count tracks corpus size so
    Σ n_c² stays ~n^1.5 instead of degrading toward n²/k for a
    fixed small k (measured sf10, 200k vectors: k=8 is ~2.5G
    within-cluster pair folds vs ~45M at k=auto=447 — see PERF.md
    round 6). The registered oracle query pins k=8 explicitly (a
    fixed k keeps the unrolled SQL replica tractable); AUTO is the
    production default for direct operator callers. Pass ``n``
    (the corpus row count) to skip auto's one count job when the
    caller already knows it.
    """
    from afg_data_pipeline_spark.operators.similarity import (
        dot_decimal,
        norm_decimal,
    )

    if isinstance(k, bool):
        # bool is an int subclass: k=True would silently become
        # k=1 (no blocking at all) — reject it before the int check.
        raise ValueError(f"k must be an int or 'auto', got {k!r}")
    if k == "auto":
        k = auto_k(df.count() if n is None else n)
    elif not isinstance(k, int):
        raise ValueError(f"k must be an int or 'auto', got {k!r}")
    assign = kmeans_assign(
        df, id_col=id_col, vec_col=vec_col, k=k, iterations=iterations
    ).select(F.col("id"), "cluster")
    # Norm computed ONCE per vector before the pair join — inside
    # the join each pair row would re-run both 64-term norm folds
    # (measured: full query 8.1s → 4.0s at sf0.1; the pair stage
    # itself ~4.9s → ~0.8s, the rest is the k-means sub-pipeline).
    # The per-vector frame is tiny (id, vec, norm, cluster); the
    # pair join then evaluates exactly one dot fold per candidate
    # pair.
    vecs = (
        df.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("qv")
        )
        .withColumn("nrm", norm_decimal("qv"))
        .join(assign, "id")
        .localCheckpoint(eager=True)
    )
    par = min(
        df.sparkSession.sparkContext.defaultParallelism, 64
    )
    a = vecs.select(
        F.col("id").alias("id_a"),
        F.col("qv").alias("va"),
        F.col("nrm").alias("na"),
        "cluster",
    ).withColumn("__salt", F.pmod(F.xxhash64("id_a"), F.lit(par)))
    b = vecs.select(
        F.col("id").alias("id_b"),
        F.col("qv").alias("vb"),
        F.col("nrm").alias("nb"),
        "cluster",
    ).withColumn(
        "__salt",
        F.explode(F.array(*[F.lit(i) for i in range(par)])),
    )
    # Shape note (measured, r11): the fold-once Generate gate
    # (functions/gate.py) that wins on survivor-heavy verifies
    # (ngram_jaccard_pairs, lsh_near_dup_pairs) LOSES here — 3.37
    # -> 4.16s at sf0.1 (min-of-4, same boot). At threshold 0.9
    # survivors are a tiny fraction of candidates, so the pushed
    # join-condition fold costs ~1 eval/pair (the survivor's second
    # eval is negligible) while the gate pays a per-CANDIDATE
    # Generate row copy carrying both 64-dim vectors. Keep the
    # withColumn+filter form; the duplicate evaluation is bounded
    # by the (small) survivor count.
    pairs = (
        a.join(b.hint("shuffle_hash"), ["cluster", "__salt"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            dot_decimal("va", "vb")
            / (F.col("na") * F.col("nb")),
        )
        .filter(F.col("cosine") >= F.lit(float(threshold)))
    )
    return pairs.select("id_a", "id_b", "cluster", "cosine")
