"""Similarity search over embedding columns (north star: ANN).

Two tiers, one contract:
- brute_force_topk: exact cosine top-k. The dot products accumulate
  in DECIMAL over IEEE-exact float×float term products, so the
  scores are bit-identical across engines (the DuckDB oracle
  reproduces them) and across repartitions/retries.
- lsh_bucketed_topk: the scale path — random-hyperplane (SRP) LSH
  buckets so each query only scores candidates sharing a bucket.
  Hyperplanes are derived deterministically from a seed via md5, so
  the bucketing itself is reproducible; recall<1 by design, so no
  SQL oracle (pytest asserts recall against brute force instead).

Scale shape: brute force is a crossJoin — O(Q×N) — only sane for
small Q or as the per-bucket kernel. The bucketed variant shuffles
each side once on the bucket key and scores within buckets:
sub-linear candidate sets, AQE splits hot buckets.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from afg_data_pipeline_spark.functions.gate import pair_join

# Left-to-right double fold: float*float products are exact in
# double, and the sequential fold order is part of the operator's
# contract — DuckDB's list_aggregate(..., 'sum') evaluates the same
# order, verified bit-identical on this data. (DuckDB's
# list_dot_product is float32 internally — 2e-7 off — don't use it
# in oracles.)
_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) ->"
    " cast(x as double) * cast(y as double)),"
    " cast(0 as double), (acc, v) -> acc + v)"
)


def dot_decimal(a: str, b: str) -> Column:
    return F.expr(_DOT.format(a=a, b=b)).cast("double")


def norm_decimal(a: str) -> Column:
    return F.sqrt(F.expr(_DOT.format(a=a, b=a)).cast("double"))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cosine, rank).

    Self-matches excluded; ties break on neighbor id. The corpus
    side is broadcast — for corpus beyond broadcast size, flip to
    the bucketed variant or repartition the query side and let the
    corpus shuffle.
    """
    # Norms computed ONCE per vector before the pair expansion —
    # inside it each candidate row would re-run both 64-term norm
    # folds (the dot is the only per-pair work left).
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
    ).withColumn("qn", norm_decimal("qv"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
    ).withColumn("cn", norm_decimal("cv"))
    par = q.sparkSession.sparkContext.defaultParallelism
    pairs = pair_join(q, c, spread=par).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    cosine = dot_decimal("qv", "cv") / (
        F.col("qn") * F.col("cn")
    )
    scored = pairs.select(
        "query_id", "neighbor_id", cosine.alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplane(seed: int, dim: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane via md5.

    Each component is an int16-scaled value from the md5 stream of
    (seed, index) — reproducible everywhere, no RNG state.
    """
    comps = []
    for i in range(dim):
        h = hashlib.md5(f"{seed}|{i}".encode()).digest()
        v = int.from_bytes(h[:2], "big", signed=True)
        comps.append(v / 32768.0)
    return comps


_SRP_DEC = "decimal(28,18)"
#: exact_rerank_topk's largest candidate count for the LEAN strategy
#: (bit-identical to HOISTED; tests monkeypatch this)
_LEAN_MAX_CAND = 100_000


def srp_all_planes(
    n_planes: int, n_tables: int, dim: int, seed: int
) -> list[list[float]]:
    """All n_tables × n_planes hyperplanes, table-major (table t's
    planes occupy indexes t*n_planes .. t*n_planes+n_planes-1)."""
    return [
        _hyperplane(seed + t * 1000 + p, dim)
        for t in range(n_tables)
        for p in range(n_planes)
    ]


def srp_tagged_decimal(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int,
    n_tables: int,
    dim: int,
    seed: int,
) -> DataFrame:
    """(t, bucket, id, v) bucket table for all tables in ONE pass.

    Every plane dot product is computed by exploding the vector
    once and summing per-component products in DECIMAL(28,18) —
    exact and associative, so the result is order-independent
    (retry/partitioning-stable) and bit-reproducible in SQL, with
    no HOF lambdas and no O(n_planes × dim)-term expression trees
    (which cost seconds of py4j construction + codegen per query).
    Map-side partial aggregation collapses the dim× explode to one
    row per vector before the shuffle; the plane matrix rides as a
    broadcast dim-row table.

    Empty / all-null vectors produce no posexplode rows, so their
    dot products come back NULL from the left join below; every
    sign bit then evaluates through the ``otherwise(0)`` branch and
    such rows land in bucket 0 of every table (the historical
    srp_bucket contract) instead of vanishing from the output.
    """
    planes = srp_all_planes(n_planes, n_tables, dim, seed)
    n_dots = len(planes)
    spark = df.sparkSession
    rows = [
        tuple([j + 1] + [planes[d][j] for d in range(n_dots)])
        for j in range(dim)
    ]
    schema = "j int, " + ", ".join(
        f"c{d} double" for d in range(n_dots)
    )
    ptab = spark.createDataFrame(rows, schema)
    comp = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col)).alias("j0", "e"),
    ).select("id", (F.col("j0") + 1).alias("j"), "e")
    dots = (
        comp.join(F.broadcast(ptab), "j")
        .groupBy("id")
        .agg(
            *[
                F.sum(
                    (
                        F.col("e").cast("double") * F.col(f"c{d}")
                    ).cast(_SRP_DEC)
                ).alias(f"d{d}")
                for d in range(n_dots)
            ]
        )
    )
    # Re-attach ids whose vector exploded to nothing (empty vector):
    # their d{d} stay NULL and the sign bits below default to 0.
    dots = df.select(F.col(id_col).alias("id")).join(dots, "id", "left")
    bucket_structs = []
    for t in range(n_tables):
        b = F.lit(0)
        for p in range(n_planes):
            bit = F.when(
                F.col(f"d{t * n_planes + p}") >= 0, F.lit(1)
            ).otherwise(F.lit(0))
            b = b * 2 + bit
        bucket_structs.append(
            F.struct(F.lit(t).alias("t"), b.alias("bucket"))
        )
    tagged = dots.select(
        "id", F.explode(F.array(*bucket_structs)).alias("tb")
    ).select("id", F.col("tb.t").alias("t"), F.col("tb.bucket").alias("bucket"))
    return tagged.join(
        df.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("v")
        ),
        "id",
    ).select("t", "bucket", "id", "v")


def lsh_bucketed_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 2,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k via SRP-LSH bucketing.

    n_tables independent bucket assignments (union of candidates)
    trade recall for candidate-set size; within buckets the exact
    kernel scores and ranks. Output contract identical to
    brute_force_topk (ranks may differ — approximate by design).
    """
    qt = srp_tagged_decimal(
        queries, id_col, vec_col, n_planes, n_tables, dim, seed
    ).select(
        "t",
        "bucket",
        F.col("id").alias("query_id"),
        F.col("v").alias("qv"),
    ).withColumn("qn", norm_decimal("qv"))
    ct = srp_tagged_decimal(
        corpus, id_col, vec_col, n_planes, n_tables, dim, seed
    ).select(
        "t",
        "bucket",
        F.col("id").alias("neighbor_id"),
        F.col("v").alias("cv"),
    ).withColumn("cn", norm_decimal("cv"))
    cands = (
        qt.join(ct, ["t", "bucket"])
        .drop("t", "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    # norms per tagged row, not per candidate pair
    cosine = dot_decimal("qv", "cv") / (
        F.col("qn") * F.col("cn")
    )
    scored = cands.select(
        "query_id", "neighbor_id", cosine.alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def lsh_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.2,
    n_planes: int = 2,
    n_tables: int = 6,
    dim: int = 64,
    seed: int = 42,
    hot_rows: int = 1024,
) -> DataFrame:
    """Thresholded cosine near-duplicate pairs via SRP-LSH blocking
    — the sub-quadratic production shape of semantic dedup (vs the
    all-pairs `embedding_near_dup` brute force, which stays as this
    operator's exactness/recall anchor).

    Candidate generation: n_tables independent SRP bucketings; a
    pair is a candidate if it shares a bucket in ANY table.
    Verification: the exact decimal-fold cosine on each unique
    candidate pair, so precision is 1.0 and each emitted (id_a,
    id_b, cosine) row is bit-identical to the brute-force anchor's.
    Recall < 1 by design — tuned by (n_planes, n_tables) against
    the threshold: per-plane collision probability for a pair at
    cosine c is 1 - arccos(c)/π, so high-threshold dedup (0.8+,
    the production regime) prunes exponentially while low
    thresholds (0.2, this synthetic corpus's only populated regime)
    need few planes / many tables and prune little. Parameters are
    therefore part of the caller's contract, not defaults to trust
    blindly.

    Scale shape: buckets larger than ``hot_rows`` self-join salted
    (probe side hash(id) % S, build rows replicated over S salt
    values, S capped at 64) so one hot bucket cannot become a
    single-task quadratic job; all other buckets join plain on
    (table, bucket) — replicating the WHOLE corpus S× multiplies
    shuffle bytes for no gain in the production regime where most
    buckets are small. ``hot_rows`` is a PAIR-WORK threshold, not a
    memory one: a bucket of b rows produces b²/2 pairs in one
    task on the plain path, so the default (1024 -> ~0.5M pairs)
    keeps per-task work bounded; raising it under-parallelizes
    mid-size buckets (measured 4.9s -> 13.7s at sf0.1 when every
    1250-row bucket fell to the 24-key plain join). The hot-key
    set is bounded by #buckets over the cap, so its semi/anti
    split joins are broadcast-small by construction. The shuffle
    carries (table, bucket, id, vector); candidate volume, not the
    corpus, bounds the pair work.
    """
    tagged = srp_tagged_decimal(
        df, id_col, vec_col, n_planes, n_tables, dim, seed
    )
    # Norm per tagged row BEFORE the checkpoint: T folds per
    # vector once, instead of two folds per CANDIDATE PAIR in the
    # cosine below.
    tagged = tagged.withColumn("nrm", norm_decimal("v"))
    # Materialize the tagged (t, bucket, id, v, nrm) table once: it
    # feeds three consumers (bucket counts, hot semi, cold anti).
    # localCheckpoint (not persist) for the reasons in
    # operators/dedup.minhash_lsh_candidates.
    tagged = tagged.localCheckpoint(eager=True)
    # Hot/cold split: salting replicates the build side S×, which
    # is the right trade only where a bucket is genuinely hot (its
    # |bucket|² pair work dwarfs the S× shuffle of its rows).
    # Unlike the language-blocked Jaccard verifier (few, uniformly
    # huge groups — operators/dedup.ngram_jaccard_pairs replicates
    # everything), SRP buckets are 2^n_planes × n_tables keys and
    # in the production regime (high n_planes) almost all are
    # small: replicating the whole corpus 64× would multiply
    # shuffle bytes for no parallelism gain. So buckets above
    # ``hot_rows`` join salted (S-way split), the rest join plain
    # (t, bucket) — AQE skew-split covers the middle ground. The
    # count pass is one partial-aggregated shuffle of (t, bucket).
    par = min(df.sparkSession.sparkContext.defaultParallelism, 64)
    counts = tagged.groupBy("t", "bucket").agg(
        F.count(F.lit(1)).alias("__n")
    )
    hot_keys = counts.filter(F.col("__n") > hot_rows).select(
        "t", "bucket"
    )
    hot = tagged.join(hot_keys, ["t", "bucket"], "left_semi")
    cold = tagged.join(hot_keys, ["t", "bucket"], "left_anti")

    def pair_up(side: DataFrame, salted: bool) -> DataFrame:
        a = side.select(
            "t",
            "bucket",
            F.col("id").alias("id_a"),
            F.col("v").alias("va"),
            F.col("nrm").alias("na"),
        )
        b = side.select(
            "t",
            "bucket",
            F.col("id").alias("id_b"),
            F.col("v").alias("vb"),
            F.col("nrm").alias("nb"),
        )
        keys = ["t", "bucket"]
        if salted:
            a = a.withColumn(
                "__salt", F.pmod(F.xxhash64("id_a"), F.lit(par))
            )
            b = b.withColumn(
                "__salt",
                F.explode(F.array(*[F.lit(i) for i in range(par)])),
            )
            keys = ["t", "bucket", "__salt"]
        return (
            a.join(b.hint("shuffle_hash"), keys)
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "va", "vb", "na", "nb")
        )

    # Shape note (measured, r10 optimization round): folding the
    # cosine per candidate OCCURRENCE before the dedup would let
    # the dedup exchange carry 20B rows instead of both vectors
    # (771MB -> 42MB at sf0.1) — but occurrences outnumber unique
    # pairs ~5-7x here (every bucket of this corpus is hot, pairs
    # collide in most of the 6 tables), so fold work ballooned
    # 18.7M vs ~4M and the query measured 6.5 -> 12.4s. Fold work
    # dominates shuffle bytes for 64-dim vectors; keep
    # dedup-then-fold. The dropDuplicates' partial aggregation
    # already collapses same-task duplicates map-side.
    cands = (
        pair_up(hot, salted=True)
        .unionByName(pair_up(cold, salted=False))
        .dropDuplicates(["id_a", "id_b"])
    )
    cosine = dot_decimal("va", "vb") / (
        F.col("na") * F.col("nb")
    )
    # Single-evaluation threshold gate (functions/gate.py): the
    # plain select+filter evaluated the interpreted dot fold TWICE
    # per unique pair — once in the Filter pushed below the
    # projection, once in the Project (rule 18c; the only barrier
    # that removed it before, checkpointing the 771MB pair stream,
    # measured worse in r10). The Generate gate is the same barrier
    # at zero materialization cost.
    from afg_data_pipeline_spark.functions.gate import filter_once

    return filter_once(
        cands, cosine, lambda c: c >= F.lit(float(threshold)), "cosine"
    ).select("id_a", "id_b", "cosine")


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    n_probe: int = 1,
) -> DataFrame:
    """Assign each vector to its n_probe nearest centroids
    (squared-L2), long-form (id, vec, centroid_id, rank).

    crossJoin with the broadcast centroid table + per-vector
    row_number — centroid counts are small by construction (IVF
    nlist << corpus), so this is a map-side-only pass.
    """
    c = centroids.select(
        F.col("centroid_id"), F.col("centroid").alias("cv")
    )
    par = df.sparkSession.sparkContext.defaultParallelism
    stream = df.select(F.col(id_col), F.col(vec_col).alias("v"))
    pairs = pair_join(stream.repartition(par), c)
    # squared L2 = |v|^2 - 2 v.c + |c|^2; the fold computes it
    # directly as sum of squared diffs (deterministic double fold).
    d2 = F.expr(
        "aggregate(zip_with(v, cv, (x, y) ->"
        " (cast(x as double) - cast(y as double))"
        " * (cast(x as double) - cast(y as double))),"
        " cast(0 as double), (acc, t) -> acc + t)"
    )
    if n_probe == 1:
        # The corpus-sized pass (PQ/IVF-PQ index builds call this
        # with n_probe=1 over the WHOLE corpus): a window would
        # shuffle all n·nlist pair rows — windows have no partial
        # aggregation — where an argmin AGGREGATE map-side-combines
        # to one row per vector before the exchange. min(struct)
        # is the same (d2 ASC, centroid_id ASC) tie-break the
        # window ordering encodes, deterministically (min_by alone
        # breaks ties arbitrarily); v is group-constant so first()
        # is exact.
        best = pairs.groupBy(id_col).agg(
            F.min(
                F.struct(
                    d2.alias("d2"),
                    F.col("centroid_id").alias("centroid_id"),
                )
            ).alias("b"),
            F.first("v").alias("v"),
        )
        return best.select(
            id_col,
            F.col("v").alias(vec_col),
            F.col("b.centroid_id").alias("centroid_id"),
            F.lit(1).alias("probe_rank"),
        )
    w = Window.partitionBy(id_col).orderBy(
        d2.asc(), F.col("centroid_id").asc()
    )
    return (
        pairs.select(
            id_col,
            F.col("v").alias(vec_col),
            "centroid_id",
            F.row_number().over(w).alias("probe_rank"),
        )
        .filter(F.col("probe_rank") <= n_probe)
    )


def seeded_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int,
) -> DataFrame:
    """Deterministic IVF 'training': take the vectors whose md5(id)
    sorts lowest as centroids — a seeded uniform sample without RNG
    state (real IVF would k-means these; centroid *selection* is
    not the operator under test, the bucketed search shape is).

    orderBy+limit compiles to TakeOrderedAndProject — each task
    keeps its local top-n_centroids and the driver merges — unlike
    a partitionless row_number window, which would funnel the whole
    corpus through one task's sort.
    """
    return (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(
            F.md5(F.col(id_col).cast("string")).asc(),
            F.col(id_col).asc(),
        )
        .limit(n_centroids)
        .select(
            F.col(id_col).alias("centroid_id"),
            F.col(vec_col).alias("centroid"),
        )
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF-style approximate top-k: corpus bucketed by nearest
    centroid, queries probe their n_probe nearest cells, exact
    cosine kernel within the probed cells.

    The second of the two sub-quadratic ANN shapes (SRP-LSH being
    the other): candidate count ~ corpus * n_probe / n_centroids.
    Same output contract as brute_force_topk; recall < 1 by design
    (pytest pins recall against the exact kernel).
    """
    cents = seeded_centroids(corpus, id_col, vec_col, n_centroids)
    # Norms once per vector, not per candidate pair (see
    # brute_force_topk).
    corpus_cells = ivf_assign(
        corpus, cents, id_col, vec_col, n_probe=1
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        "centroid_id",
    ).withColumn("cn", norm_decimal("cv"))
    query_cells = ivf_assign(
        queries, cents, id_col, vec_col, n_probe=n_probe
    ).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        "centroid_id",
    ).withColumn("qn", norm_decimal("qv"))
    cands = (
        query_cells.join(corpus_cells, "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    cosine = dot_decimal("qv", "cv") / (
        F.col("qn") * F.col("cn")
    )
    scored = cands.select(
        "query_id", "neighbor_id", cosine.alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def binarize_code(vec_col: str, dim: int):
    """Pack the sign pattern of a ``dim``<=64-dimension embedding
    into ONE BIGINT: bit j set iff component j > 0 — the
    sign-random-projection binarization that shrinks a 256-byte
    float vector to 8 bytes while Hamming distance tracks angular
    distance (Charikar '02, the SRP-LSH bucketing above taken to
    its limit). Bit 63 is the long's sign bit; shiftleft wraps it
    to the negative two's-complement value, which xor/bit_count
    handle exactly.

    Expressed as ONE aggregate fold (rule 15): the flat 64-term
    when-chain this replaces generated ~64x the bytecode and paid
    a visible per-plan codegen JIT cost on every fresh plan
    (bit-identical results; each bit is a distinct power of two, so
    the running sum stays in-range for ANSI — bits 0..62 max out at
    2^63-1 and bit 63 adds the negative wrap last-or-anywhere with
    the same total)."""
    if dim > 64:
        raise ValueError("binarize_code packs at most 64 dims")
    return F.expr(
        f"aggregate(sequence(0, {dim - 1}),"
        " cast(0 as bigint),"
        f" (acc, j) -> acc + if(element_at({vec_col}, j + 1) > 0,"
        "  shiftleft(cast(1 as bigint), j),"
        "  cast(0 as bigint)))"
    )


def binary_hamming_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
    radius_cut: bool = False,
) -> DataFrame:
    """Binary-code ANN: top-k corpus neighbors per query by HAMMING
    distance between sign-binarized codes — the memory-optimization
    tier of similarity search (8 bytes/vector, xor + popcount per
    candidate; E[hamming] = dim·θ/π for angle θ, so Hamming rank
    approximates angular rank). Output: (query_id, neighbor_id,
    hamming, rank); ties break on neighbor id.

    Scale shape: the corpus side collapses to (id, code) — 16
    bytes/row — so a billion-vector code table is ~16 GB: broadcast
    at this size class or shuffled beyond it; the per-pair work is
    one XOR + POPCNT in whole-stage codegen, ~two orders cheaper
    than the 64-term float dot of the exact tier. The standard
    funnel is hamming-topk (cheap, recall<1) then exact-cosine
    re-rank of the survivors (brute_force_topk on the candidate
    set)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        binarize_code(vec_col, dim).alias("qc"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        binarize_code(vec_col, dim).alias("cc"),
    )
    par = q.sparkSession.sparkContext.defaultParallelism
    pairs = (
        pair_join(q, c, spread=par)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "hamming",
            F.expr("bit_count(qc ^ cc)").cast("int"),
        )
    )
    if not radius_cut:
        w = Window.partitionBy("query_id").orderBy(
            F.col("hamming").asc(), F.col("neighbor_id").asc()
        )
        return (
            pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "hamming", "rank")
        )
    # RADIUS PRE-CUT (radius_cut=True — the candidate-tier
    # setting, default in ann_funnel_topk's k=50 composition):
    # ranking n·Q pair rows sorts every task's full partition even
    # under WindowGroupLimit's partial mode (the limit bounds the
    # SHUFFLE, not the sort). Hamming values live on a tiny grid
    # (0..dim), so the k-th candidate's radius per query comes
    # from an O(n) map-side-combinable histogram — Q·(dim+1) rows
    # — and the expensive sort then runs only on the ≤ radius
    # survivors (≈k·Q rows, not n·Q). The pair stream feeds BOTH
    # the histogram and the pruned pass and is DELIBERATELY
    # evaluated twice — rule 12 has a measured boundary here:
    # at sf10 (6.4M pairs, 200k-corpus broadcast reused across
    # both subtrees by ReuseExchange) double evaluation of the
    # whole-stage-codegen XOR+POPCNT costs 1.00s end-to-tier,
    # while localCheckpoint()ing the narrow projection once costs
    # 1.24s (the 6.4M×20 B write+read exceeds recomputation), and
    # a broadcast-array-of-codes strategy that never materializes
    # the pair stream at all costs ~1.4s (HOFs are CodegenFallback
    # — 6.4M interpreted lambda steps lose to 12.8M codegen'd
    # ones; round-6 PERF.md decomposition). Left OFF for small-k
    # standalone top-k, where the extra tiny-data stages cost more
    # than the sort they save (sf0.1: 1.2s → 1.9s). Exactness:
    # cum(h) ≥ k at h=r means ≥ k candidates at hamming ≤ r, so
    # the true top-k is inside the cut; a query with < k
    # candidates keeps everything via the dim fallback.
    wcum = (
        Window.partitionBy("query_id")
        .orderBy("hamming")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    radius = (
        pairs.groupBy("query_id", "hamming")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("cum", F.sum("n").over(wcum))
        .filter(F.col("cum") >= k)
        .groupBy("query_id")
        .agg(F.min("hamming").alias("__r"))
    )
    # Left join + dim fallback: a query with fewer than k
    # candidates in total has no radius row — it keeps everything
    # (the pre-cut never changes the result set, only the sort).
    pruned = pairs.join(
        F.broadcast(radius), "query_id", "left"
    ).filter(
        F.col("hamming")
        <= F.coalesce(F.col("__r"), F.lit(dim))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id").asc()
    )
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "hamming", "rank")
    )


def exact_rerank_topk(
    candidates: DataFrame,
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact-cosine re-rank of a candidate pair set — the LAST
    stage of every ANN funnel: ``candidates`` is (query_id,
    neighbor_id) from any cheap tier (Hamming codes, PQ/ADC, SRP
    buckets), and only those pairs pay the full-precision fold.

    Output: (query_id, neighbor_id, cosine, rank), rank over the
    CANDIDATE set per query (cosine desc, neighbor asc ties).

    TWO PHYSICAL STRATEGIES, stats-gated on the candidate count
    (free — the pair set is localCheckpoint()ed first because it
    feeds two consumers and its upstream is a whole ANN tier, rule
    12; counting a materialized table launches no real work),
    bit-identical output (same fold on the same vector is the same
    double either way):

    * LEAN (n_cand ≤ ``_LEAN_MAX_CAND`` = 100k —
      ≈50 MB of broadcast (pair, query-vector) rows at 64 dims):
      the id-pairs broadcast into the vector scan to pick up the
      query vectors, that still-tiny result broadcasts into a
      second scan for the neighbor vectors, and BOTH norm folds run
      per candidate row. That is deliberate per-pair redundancy —
      a query's norm re-folds k times, a hot neighbor's once per
      query that ranks it — bounded by n_cand ≤ the gate, and it
      buys a single post-checkpoint job with zero extra shuffles.
      Measured sf10 funnel (1 600 candidates over a 200k corpus):
      2.01s → 1.34s end-to-end vs the hoisted path, whose
      id-distinct + semi-join + second checkpoint are 3 extra jobs
      of pure floor at this size.
    * HOISTED (above the gate): the vector table is semi-joined
      down to only the ids any candidate references, norms become
      per-VECTOR columns before the pair join (rule 12 — paying
      the fold for the full corpus when only k·Q+Q vectors score
      measured 0.87s → 0.33s at sf10), and the slimmed vector
      table is checkpointed once to feed both join probes. No
      broadcast hints: both inputs are materialized, so AQE sizes
      the joins — broadcasting k·Q-scale sides when they fit and
      falling back to shuffle joins when Q is huge.

    The corpus never self-joins on either path: cost is
    |candidates|, not |corpus|² (the whole point of the funnel)."""
    cand = candidates.select(
        "query_id", "neighbor_id"
    ).localCheckpoint(eager=True)
    if cand.count() <= _LEAN_MAX_CAND:
        vecs = vectors.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).alias("v"),
        )
        qside = vecs.join(
            F.broadcast(cand), vecs["vid"] == cand["query_id"]
        ).select(
            "query_id", "neighbor_id", F.col("v").alias("qv")
        )
        joined = vecs.join(
            F.broadcast(qside),
            vecs["vid"] == qside["neighbor_id"],
        ).select(
            "query_id",
            "neighbor_id",
            "qv",
            F.col("v").alias("cv"),
        )
        scored = joined.select(
            "query_id",
            "neighbor_id",
            (
                dot_decimal("qv", "cv")
                / (norm_decimal("qv") * norm_decimal("cv"))
            ).alias("cosine"),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id").asc()
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )
    ids = (
        cand.select(F.col("query_id").alias("vid"))
        .unionByName(cand.select(F.col("neighbor_id").alias("vid")))
        .distinct()
    )
    vecs = (
        vectors.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).alias("v"),
        )
        .join(ids, "vid", "left_semi")
        .withColumn("nrm", norm_decimal("v"))
        .localCheckpoint(eager=True)
    )
    joined = (
        cand.join(
            vecs.select(
                F.col("vid").alias("query_id"),
                F.col("v").alias("qv"),
                F.col("nrm").alias("qn"),
            ),
            "query_id",
        )
        .join(
            vecs.select(
                F.col("vid").alias("neighbor_id"),
                F.col("v").alias("cv"),
                F.col("nrm").alias("cn"),
            ),
            "neighbor_id",
        )
    )
    cosine = dot_decimal("qv", "cv") / (
        F.col("qn") * F.col("cn")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        joined.select(
            "query_id", "neighbor_id", cosine.alias("cosine")
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def brute_force_topk_streamed(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k with the big-corpus physical shape.

    brute_force_topk broadcasts the CORPUS — right when the corpus
    is the small side, wrong at scale. Here the (few) queries
    broadcast into a streamed corpus scan, so parallelism follows
    corpus partitions and nothing corpus-sized is ever collected,
    broadcast, or shuffled un-pruned.

    The pair expansion is a CONSTANT-KEY BroadcastHashJoin, not a
    crossJoin: BroadcastNestedLoopJoin (what crossJoin plans, and
    what a cross join with any condition stays) does not
    participate in whole-stage codegen, so every downstream
    expression over the pair stream evaluates INTERPRETED —
    measured 8.1s vs 1.1s for the identical fold over 3.2M pairs
    at sf10. Joining both sides on a literal key plans a
    codegen'd BroadcastHashJoin with the same semantics. (A flat
    64-term unrolled dot was ALSO measured at 8.1s inside the BHJ
    — the expanded expression trips codegen's method-size
    fallback, rule 15 — so the sequential fold stays; its single
    interpreted-leaf evaluation inside a codegen'd pipeline is the
    fast point.)

    Per-query top-k is one window: Spark 4 inserts
    WindowGroupLimit, which partial-prunes each map partition to k
    rows per query BEFORE the exchange, so the shuffle carries
    O(partitions * Q * k), never the pair stream.

    Output and values are BIT-IDENTICAL to brute_force_topk (same
    fold order, same tie-break) — only the physical plan differs.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
    ).withColumn("qn", norm_decimal("qv"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
    ).withColumn("cn", norm_decimal("cv"))
    scored = (
        pair_join(c, q)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot_decimal("qv", "cv")
                / (F.col("qn") * F.col("cn"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def embedding_contamination_report(
    eval_vecs: DataFrame,
    train_vecs: DataFrame,
    set_col: str = "eval_set",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.40,
    cand_k: int = 20,
    dim: int = 64,
) -> DataFrame:
    """EMBEDDING-SPACE contamination audit — the paraphrase-leak
    detector n-gram decontamination structurally misses (reworded
    eval examples share zero n-grams with their training twin but
    sit next to it in embedding space; the known
    leaderboard-integrity hole).

    ``eval_vecs`` carries (set_col, id_col, vec_col) — one row per
    eval example, tagged with its benchmark; ``train_vecs`` is the
    training corpus (id_col, vec_col). Output: one row per
    benchmark — n_eval, n_contaminated (eval examples whose
    NEAREST train candidate cosine ≥ ``threshold``),
    frac_contaminated, max_cosine, and the threshold itself
    (announced in-output like every tier knob in this repo).

    Composition of two certified funnel stages (nothing new on the
    data path): binary_hamming_topk generates ``cand_k``
    candidates per eval example (XOR+POPCNT codegen pairs, radius
    pre-cut), exact_rerank_topk(k=1) pays the full-precision
    cosine ONLY for those — at 100 TB the exact tier touches
    |eval|·cand_k pairs, never |eval|·|corpus|. The recall of the
    Hamming tier is MEASURED by the registered ann_recall_audit,
    not assumed; the report is explicitly "contamination visible
    through the certified funnel", which is also exactly what the
    SQL oracle replicates (bit-exact, not approximately)."""
    cand = binary_hamming_topk(
        eval_vecs,
        train_vecs,
        id_col=id_col,
        vec_col=vec_col,
        k=cand_k,
        dim=dim,
        radius_cut=True,
    )
    vectors = eval_vecs.select(id_col, vec_col).unionByName(
        train_vecs.select(id_col, vec_col)
    )
    best = exact_rerank_topk(
        cand, vectors, id_col=id_col, vec_col=vec_col, k=1
    ).select("query_id", "cosine")
    flags = eval_vecs.select(
        F.col(id_col).alias("query_id"), F.col(set_col)
    ).join(best, "query_id", "left")
    contaminated = F.when(
        F.col("cosine") >= F.lit(threshold), 1
    ).otherwise(0)
    return flags.groupBy(set_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_eval"),
        F.sum(contaminated).cast("bigint").alias("n_contaminated"),
        (
            F.sum(contaminated).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("frac_contaminated"),
        F.max("cosine").alias("max_cosine"),
        F.lit(float(threshold)).alias("threshold"),
    )
