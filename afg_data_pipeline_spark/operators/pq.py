"""Product Quantization ANN (Jégou et al., "Product Quantization
for Nearest Neighbor Search", TPAMI 2011) — the fourth tier of the
engine's similarity funnel:

    SRP-LSH buckets  →  64-bit Hamming codes  →  PQ/ADC  →  exact

PQ splits each vector into ``m`` subspaces, vector-quantizes each
subspace against a ``k``-entry codebook, and stores only the m code
indices (m=8, k=16 → 4 bits/code ≈ 4 bytes/vector vs 512 bytes of
float64 — the memory tier between Hamming's 8 bytes and full
vectors). Query time is Asymmetric Distance Computation (ADC): the
query precomputes an m×k table of exact subspace-to-centroid
distances and each candidate costs m lookups + adds.

Exactness contract (the repo-wide ANN conventions):
- all distances live on the 1e-6 integer grid (same quantization as
  operators/kmeans): exact integer arithmetic, bit-identical across
  engines and retries; per-group sums are DECIMAL-accumulated then
  cast (CLAUDE.md rule 11);
- ``iterations=0`` (the oracle-pinned default) seeds codebooks from
  the k lowest-id vectors; ``iterations>0`` runs integer Lloyd
  rounds per subspace for production codebook quality
  (python-replica-pinned in tests);
- argmin tie-breaks on the smallest code index; top-k ranking
  tie-breaks on neighbor id.

Physical shape — per-subspace projections, measured into place:
- v1 unrolled all m·k·dsub = 1024 squared-diff terms into ONE
  projection; that blew Janino's 64 KB generated-method limit,
  whole-stage codegen bailed to interpreted evaluation, and encode
  ran ~50× slow (16.4 s at sf0.1).
- v2 went fully relational (posexplode components ⋈ broadcast
  codebook ⋈ groupBy) — codegen-safe but the ×dim×k row explosion
  plus DECIMAL partial sums made sf1 cost 9.4 s against DuckDB's
  0.49 s for the same relational plan.
- v3 (this one): ONE projection computes all m·k = 128 distance
  FOLDS (`aggregate(zip_with(...))`, the operators/kmeans lesson:
  a fold is a small generated loop — it was the flat term
  expansion that blew Janino, not the count of folds) and one
  posexplode yields (id, j, darr[k]); the argmin is
  array_position/array_min (no shuffle), and the query LUT is a
  posexplode of the same arrays. sf1: 36.8 s → 3.2 s.

  dists_wide (id, j, darr[k])   [one pass, one codegen body]
    → codes: argmin per row                 [no shuffle]
  ADC: codes(corpus) ⋈ posexplode(dists_wide(queries)) on (j, c)
    → groupBy (query, neighbor): Σ d        [map-side combine]

At 100 TB: encode is a single narrow pass over the corpus; the ADC
join's intermediate is |corpus|·m·|queries| rows with map-side
partial aggregation, and queries arrive in bounded batches in the
funnel (PQ is the candidate tier, not an all-pairs engine). BIGINT
distance sums follow the kmeans contract (grid components with
|x| ≲ 300 keep every fold sum provably under 2^63).
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

QUANT = 10**6  # 1e-6 grid — same as operators/kmeans


def _quantized_arr(vec_col: str, dim: int):
    """BIGINT array of the vector's components on the 1e-6 grid."""
    return F.array(
        *[
            F.round(
                F.element_at(F.col(vec_col), i + 1).cast("double")
                * F.lit(float(QUANT)),
                0,
            ).cast("bigint")
            for i in range(dim)
        ]
    )


def _components(
    df: DataFrame, id_col: str, vec_col: str, dim: int, m: int
):
    """(id, j, i, v) — posexploded quantized components with the
    subspace index j (0-based) and within-subspace index i
    (1-based). Training-path only (the centroid-update sums); the
    hot encode/ADC path never explodes per component."""
    dsub = dim // m
    par = df.sparkSession.sparkContext.defaultParallelism
    return (
        # Pre-expansion repartition (CLAUDE.md rule 3): the
        # explode×dim expansion is invisible to AQE's input-byte
        # sizing — a single-file corpus would otherwise run the
        # whole component stream in one task.
        df.select(F.col(id_col).alias("id"), vec_col)
        .repartition(par)
        .select(
            "id",
            F.posexplode(_quantized_arr(vec_col, dim)).alias(
                "pos0", "v"
            ),
        )
        .select(
            "id",
            (F.col("pos0") / F.lit(dsub))
            .cast("int")
            .alias("j"),
            (F.col("pos0") % F.lit(dsub) + 1)
            .cast("int")
            .alias("i"),
            "v",
        )
    )


def _dist_array(sub_col: str, book_j: list):
    """Subspace j's k exact integer distances as one array column,
    each a compact BIGINT fold over the pre-sliced subvector.

    Same lesson as operators/kmeans._dist_expr, re-measured here:
    flat squared-diff term expansion (even only k·dsub = 128 terms
    per branch) grows whole-stage codegen past Janino's 64 KB
    method limit — 2 190 compile-fail-and-fallback cycles put sf1
    at 36.8 s; the fold form is a small generated loop. The fold is
    a HOF-lambda expression feeding an ORACLE-CHECKED output — the
    sanctioned use under CLAUDE.md rule 10 (a corruption recurrence
    is a red row, never silent)."""
    dists = []
    for cent in book_j:
        lits = ", ".join(str(int(cv)) for cv in cent)
        dists.append(
            F.expr(
                f"aggregate(zip_with({sub_col}, array({lits}), "
                "(x, y) -> (x - y) * (x - y)), "
                "cast(0 as bigint), (acc, v) -> acc + v)"
            )
        )
    return F.array(*dists)


def _dists_wide(
    df: DataFrame,
    codebooks: list,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, j, darr) — darr[c+1] = exact integer distance of the
    subspace-j subvector to centroid c. ONE pass, ONE projection:
    all m·k = 128 fold expressions compile fine in a single
    whole-stage codegen body (each fold is a small generated loop
    — it was the FLAT term expansion that blew Janino, not the
    count of folds), so the m subspaces ride one posexplode
    instead of a union of m branches re-reading the source
    (measured sf0.1: union-of-branches 1.75s → 0.41s)."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    dim = m * dsub
    par = df.sparkSession.sparkContext.defaultParallelism
    subs = (
        df.select(
            F.col(id_col).alias("id"),
            _quantized_arr(vec_col, dim).alias("qarr"),
        )
        # Pre-expansion repartition (rule 3): the ×m posexplode is
        # invisible to AQE's input-byte sizing.
        .repartition(par)
        .select(
            "id",
            *[
                F.slice(
                    F.col("qarr"), j * dsub + 1, dsub
                ).alias(f"s{j}")
                for j in range(m)
            ],
        )
    )
    allarr = F.array(
        *[_dist_array(f"s{j}", codebooks[j]) for j in range(m)]
    )
    return subs.select(
        "id", F.posexplode(allarr).alias("j", "darr")
    )


def _dists_long_of_wide(dists_wide: DataFrame) -> DataFrame:
    """(id, j, c, d) — posexplode of the per-subspace arrays
    (pos is the 0-based code index)."""
    return dists_wide.select(
        "id",
        "j",
        F.posexplode("darr").alias("c", "d"),
    )


def _dists_long(
    df: DataFrame,
    codebooks: list,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    return _dists_long_of_wide(
        _dists_wide(df, codebooks, id_col, vec_col)
    )


def pq_train(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    dim: int = 64,
    iterations: int = 0,
) -> list:
    """Train codebooks: ``codebooks[j][c]`` = the dsub integer
    components of centroid c of subspace j. iterations=0 seeds from
    the k lowest-id vectors (deterministic, SQL-replicable);
    iterations>0 refines each subspace with integer Lloyd rounds
    (floor-div means via the same offset trick as
    operators/kmeans, so results are shift-portable)."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    seeds = (
        df.select(
            F.col(id_col).alias("id"),
            _quantized_arr(vec_col, dim).alias("qarr"),
        )
        .orderBy("id")
        .limit(k)
        .collect()
    )
    if len(seeds) < k:
        raise ValueError(
            f"pq_train needs at least k={k} vectors, got {len(seeds)}"
        )
    codebooks = [
        [
            [int(seeds[c]["qarr"][j * dsub + i]) for i in range(dsub)]
            for c in range(k)
        ]
        for j in range(m)
    ]
    if iterations == 0:
        return codebooks

    OFF = 1 << 40
    for _ in range(iterations):
        codes = _argmin_codes_wide(
            _dists_wide(df, codebooks, id_col, vec_col)
        )
        comp = _components(df, id_col, vec_col, dim, m)
        agg = (
            comp.join(codes, ["id", "j"])
            .groupBy("j", "code", "i")
            .agg(
                # decimal accumulation BEFORE the sum (rule 11).
                F.sum(F.col("v").cast("decimal(38,0)")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            # collect-bound: m*k*(d/m) codebook partials (model-sized)
            .collect()
        )
        new_books = [
            [list(codebooks[j][c]) for c in range(k)]
            for j in range(m)
        ]
        for row in agg:
            s, n = int(row["s"]), int(row["n"])
            new_books[row["j"]][row["code"]][row["i"] - 1] = (
                s + n * OFF
            ) // n - OFF
        codebooks = new_books
    return codebooks


def _argmin_codes_wide(dists_wide: DataFrame) -> DataFrame:
    """(id, j, code) — argmin over the distance array per row:
    array_position of the min gives the FIRST (smallest-c) match,
    the exact tie-break; no shuffle, no lambda."""
    return dists_wide.select(
        "id",
        "j",
        (
            F.array_position(
                F.col("darr"), F.array_min("darr")
            )
            - 1
        )
        .cast("int")
        .alias("code"),
    )


def pq_encode_long(
    df: DataFrame,
    codebooks: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, j, code) — the long form every downstream stage
    consumes (ADC joins on (j, code) directly)."""
    return _argmin_codes_wide(
        _dists_wide(df, codebooks, id_col, vec_col)
    )


def pq_encode(
    df: DataFrame,
    codebooks: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """(id, codes array<int>) — the storage form: m small ints per
    vector. Assembled from the long form with an ordered
    collect_list (per-id arrays of m entries — never a corpus-wide
    sort)."""
    m = len(codebooks)
    long = pq_encode_long(
        df, codebooks, id_col=id_col, vec_col=vec_col
    )
    return long.groupBy("id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(j, code))),"
            " x -> x.code)"
        ).alias("codes")
    )


def pq_adc_topk(
    queries: DataFrame | None,
    corpus: DataFrame,
    codebooks: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    topk: int = 5,
    query_filter=None,
) -> DataFrame:
    """Top-``topk`` corpus neighbors per query by ADC distance:
    (query_id, neighbor_id, adc, rank); adc is the exact integer
    Σ_j d(query_sub_j, centroid_j[code_j(neighbor)]), ranking ties
    break on neighbor id.

    The query-side lookup table is the same (id, j, c, d) distance
    relation the encoder uses — one definition, two roles (the
    oracle mirrors this reuse). When the queries ARE corpus rows,
    pass ``query_filter`` (a boolean Column over ``id``) instead of
    a ``queries`` frame: the corpus distance relation is computed
    ONCE (localCheckpointed for its two consumers, rule 12) and
    the LUT is a filter of it — half the distance work of the
    two-frame form. The ADC join is an ordinary (j, c) equi-join
    whose per-(query, neighbor) sum partial-aggregates map-side."""
    if (queries is None) == (query_filter is None):
        raise ValueError(
            "pass exactly one of queries= or query_filter="
        )
    if query_filter is not None:
        # One _dists_wide over the corpus, materialized ONCE: it
        # feeds both the codes and the LUT branches, and without
        # the checkpoint each consumer re-executes the scan + all
        # 128 fold expressions (rule 12; measured sf0.1
        # 7.25s → 3.1s on the union-era plan, kept for the same
        # reason on the single-projection plan).
        dw = _dists_wide(
            corpus, codebooks, id_col, vec_col
        ).localCheckpoint(eager=True)
        codes_src = _argmin_codes_wide(dw)
        lut = _dists_long_of_wide(
            dw.filter(query_filter)
        ).select(F.col("id").alias("query_id"), "j", "c", "d")
    else:
        codes_src = pq_encode_long(
            corpus, codebooks, id_col=id_col, vec_col=vec_col
        )
        lut = _dists_long(
            queries, codebooks, id_col, vec_col
        ).select(F.col("id").alias("query_id"), "j", "c", "d")
    codes = codes_src.select(
        F.col("id").alias("neighbor_id"),
        "j",
        F.col("code").alias("c"),
    )
    pairs = (
        codes.join(F.broadcast(lut), ["j", "c"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        # BIGINT sum of exactly m fold distances. Bound: each
        # squared grid diff ≤ (2·|x|max·1e6)², and the FULL ADC
        # total sums m·dsub = 64 of them — |x| ≲ 150 keeps it
        # under 2^63 (64·(3e8)² ≈ 5.8e18 < 9.2e18); |x| ≲ 300
        # only bounds a single fold, NOT the cross-fold sum
        # (64·(6e8)² ≈ 2.3e19 overflows under the driver's ANSI
        # session, rule 11). Unit-scale embeddings sit far inside;
        # an out-of-contract corpus should pre-scale or switch this
        # agg to decimal(38,0) (measured +~2s on 5M join rows at
        # sf1, which is why it is not the default).
        .agg(F.sum("d").alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", "neighbor_id", "adc", "rank")
    )


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    codebooks: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF-PQ (the FAISS IVFADC architecture): a coarse inverted
    index prunes the candidate set to the query's ``n_probe``
    nearest cells, and ONLY those candidates pay the (already
    cheap) PQ/ADC distance — candidate count ~ n·n_probe/n_centroids
    and per-candidate cost m lookups, the standard memory+compute
    sweet spot of billion-scale ANN.

    Output: (query_id, neighbor_id, adc, rank) — ADC ranking over
    the probed candidates (ties on neighbor id); recall < 1 by
    design twice over (cell pruning AND code quantization), so the
    oracle pins the exact composed semantics and pytest pins recall
    against the exact kernel.

    Composition of audited pieces: coarse cells are
    operators/similarity.seeded_centroids + ivf_assign (the
    ann_ivf_topk contract), codes/LUT are this module's relational
    PQ. The ADC join simply gains the candidate-pair semi-
    restriction — the map-side-combinable aggregate shape is
    unchanged."""
    from afg_data_pipeline_spark.operators.similarity import (
        ivf_assign,
        seeded_centroids,
    )

    cents = seeded_centroids(corpus, id_col, vec_col, n_centroids)
    corpus_cells = ivf_assign(
        corpus, cents, id_col, vec_col, n_probe=1
    ).select(F.col(id_col).alias("neighbor_id"), "centroid_id")
    q_cells = ivf_assign(
        queries, cents, id_col, vec_col, n_probe=n_probe
    ).select(F.col(id_col).alias("query_id"), "centroid_id")
    cand = (
        q_cells.join(corpus_cells, "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    codes = pq_encode_long(
        corpus, codebooks, id_col=id_col, vec_col=vec_col
    ).select(
        F.col("id").alias("neighbor_id"),
        "j",
        F.col("code").alias("c"),
    )
    lut = _dists_long(
        queries, codebooks, id_col, vec_col
    ).select(F.col("id").alias("query_id"), "j", "c", "d")
    adc = (
        cand.join(codes, "neighbor_id")
        .join(F.broadcast(lut), ["query_id", "j", "c"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d").alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc", "rank")
    )


def _save_ivfpq_model(
    corpus: DataFrame,
    index_dir: str,
    id_col: str,
    vec_col: str,
    m: int,
    k: int,
    n_centroids: int,
    dim: int,
) -> tuple[DataFrame, list]:
    """Train the coarse quantizer and the PQ codebooks on ``corpus``
    and persist them under ``index_dir`` (``centroids`` parquet +
    ``codebooks.json``, through the Hadoop FileSystem so URI index
    dirs work). Returns (centroids, codebooks)."""
    from afg_data_pipeline_spark.fs import write_json
    from afg_data_pipeline_spark.operators.similarity import (
        seeded_centroids,
    )

    cents = seeded_centroids(corpus, id_col, vec_col, n_centroids)
    cents.write.mode("overwrite").parquet(
        posixpath.join(index_dir, "centroids")
    )
    books = pq_train(
        corpus, id_col=id_col, vec_col=vec_col, m=m, k=k, dim=dim,
        iterations=0,
    )
    write_json(
        corpus.sparkSession,
        posixpath.join(index_dir, "codebooks.json"),
        {
            "m": m,
            "k": k,
            "dim": dim,
            "n_centroids": n_centroids,
            "codebooks": books,
        },
    )
    return cents, books


def _load_ivfpq_model(spark, index_dir: str) -> tuple[DataFrame, list]:
    """(centroids, codebooks) persisted by ``_save_ivfpq_model``."""
    from afg_data_pipeline_spark.fs import read_json

    meta = read_json(spark, posixpath.join(index_dir, "codebooks.json"))
    cents = spark.read.parquet(posixpath.join(index_dir, "centroids"))
    return cents, meta["codebooks"]


def _ivfpq_postings(
    vectors: DataFrame,
    cents: DataFrame,
    books: list,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(neighbor_id, codes, centroid_id): each vector's coarse cell
    (ivf_assign n_probe=1) and its m-byte PQ code."""
    from afg_data_pipeline_spark.operators.similarity import (
        ivf_assign,
    )

    cells = ivf_assign(
        vectors, cents, id_col, vec_col, n_probe=1
    ).select(F.col(id_col).alias("id"), "centroid_id")
    codes = pq_encode(vectors, books, id_col=id_col, vec_col=vec_col)
    return cells.join(codes, "id").select(
        F.col("id").alias("neighbor_id"), "codes", "centroid_id"
    )


def build_ivfpq_index(
    corpus: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    n_centroids: int = 16,
    dim: int = 64,
) -> None:
    """Materialize a SERVABLE IVF-PQ index — the build-once /
    query-many lifecycle a production ANN deployment runs, vs the
    single-query ivfpq_topk composition:

    - ``centroids`` (parquet): the coarse quantizer.
    - ``codebooks.json``: the m×k integer PQ codebooks + params
      (KBs — the driver-side model state).
    - ``postings`` (parquet, partitionBy(centroid_id)): one row
      per vector — its cell and its m-byte PQ code. The partition
      layout IS the inverted index: querying n_probe cells reads
      ONLY those directories (parquet partition pruning), so
      serving cost scales with n_probe/n_centroids of the corpus,
      exactly like an in-memory IVF list head.

    All components are the audited operators' outputs
    (seeded_centroids, ivf_assign n_probe=1 argmin aggregate,
    pq_train, pq_encode) — query_ivfpq_index reproduces
    ivfpq_topk bit-for-bit (tested)."""
    cents, books = _save_ivfpq_model(
        corpus, index_dir, id_col, vec_col, m, k, n_centroids, dim
    )
    (
        _ivfpq_postings(corpus, cents, books, id_col, vec_col)
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(posixpath.join(index_dir, "postings"))
    )


def query_ivfpq_index(
    spark,
    index_dir: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """Serve top-k from a build_ivfpq_index directory:
    (query_id, neighbor_id, adc, rank) — bit-identical to the
    one-shot ivfpq_topk on the same corpus and parameters.

    The probed cell ids are collected (≤ n_probe · |queries|,
    capped by n_centroids — an eager action, the documented
    index-serving contract) and pushed into the postings scan as a
    LITERAL isin predicate, so parquet partition pruning skips
    every unprobed cell's directory before a byte is read."""
    from afg_data_pipeline_spark.operators.similarity import (
        ivf_assign,
    )

    cents, books = _load_ivfpq_model(spark, index_dir)
    q_cells = ivf_assign(
        queries, cents, id_col, vec_col, n_probe=n_probe
    ).select(F.col(id_col).alias("query_id"), "centroid_id")
    probed = sorted(
        r["centroid_id"]
        # collect-bound: distinct probed cells <= n_centroids
        for r in q_cells.select("centroid_id").distinct().collect()
    )
    postings = spark.read.parquet(
        posixpath.join(index_dir, "postings")
    ).filter(F.col("centroid_id").isin(probed))
    cand = (
        q_cells.join(postings, "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "codes")
        .distinct()
    )
    long_codes = cand.select(
        "query_id",
        "neighbor_id",
        F.posexplode("codes").alias("j", "c"),
    )
    lut = _dists_long(
        queries, books, id_col, vec_col
    ).select(F.col("id").alias("query_id"), "j", "c", "d")
    adc = (
        long_codes.join(F.broadcast(lut), ["query_id", "j", "c"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d").alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc", "rank")
    )
