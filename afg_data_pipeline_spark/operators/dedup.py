"""Deduplication operators for LLM-data pipelines (north star:
exact, MinHash+LSH, SimHash, n-gram Jaccard).

Scale design notes:
- Exact dedup hashes the text once and shuffles 16-byte digests,
  never full documents.
- MinHash LSH: shingles -> per-seed min-hash signature -> band keys
  -> self-join on band key. Only banded collisions are verified, so
  the O(n²) pair space is never materialized — the standard
  web-scale near-dup shape (the band join is an equi-join Spark
  shuffles by key; hot buckets are AQE-skew-split).
- SimHash: 64-bit per-doc signature via per-token hash bit voting;
  near-dups = signatures within Hamming distance d, found by
  banding the 64 bits into d+1 chunks (pigeonhole) — implemented
  vectorized in numpy (the bit-matrix vote is a batch operation, a
  poor fit for per-row SQL expressions).
- n-gram Jaccard: exact pairwise verification, restricted to
  candidate groups (same language here; same band in the LSH path).
- Small corpora skip the Spark pair machinery. Up to
  ``_setsim_local._LOCAL_MAX_CELLS`` shingle cells, the exact tier of
  ``ngram_jaccard_pairs`` and ``minhash_lsh_candidates`` collect the
  shingle arrays once and compute the same rows in exact numpy on the
  driver (``operators/_setsim_local.py``); the collect also yields
  the n-gram tier's pair count. Larger or ineligible corpora take the
  distributed paths below.

md5 is the hash family wherever hash VALUES cross the oracle
boundary (deterministic, engine-portable so DuckDB reproduces them
exactly; seeded by prefixing `"<seed>|"`); purely internal grouping
keys (duplicate_spans' gram keys) use xxhash64 — 8-byte shuffle
keys, counts identical modulo a ~2^-64-per-pair collision that an
oracle mismatch would surface as a red row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from afg_data_pipeline_spark.functions.tier import announce, gate
from afg_data_pipeline_spark.operators import _setsim_local
from afg_data_pipeline_spark.operators.text import shingle_expr, tokens


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate groups by content hash.

    Returns (digest, keep_id = min id, n_copies). Downstream keeps
    rows whose id appears in keep_id — the standard
    hash-group-choose-canonical shape.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _pair_count(df: DataFrame, key) -> DataFrame:
    """1-row Σ_key C(n, 2) in exact decimal: the pairs a self-join
    on ``key`` would generate."""
    n = F.col("__n").cast("decimal(38,0)")
    return (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(F.sum((n * (n - 1)) / 2).alias("p"))
    )


def _minhash_band_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int,
    band_size: int,
    shingle_k: int,
) -> tuple[DataFrame, DataFrame]:
    """Shared banding pipeline: returns (base, long) where base is
    the eager-checkpointed (id, shingles) frame and long is the
    (id, band_key) table. Extracted so the self-join
    (minhash_lsh_candidates) and the cross-corpus incremental join
    (cross_corpus_near_dup) band identically — same md5 family,
    same keys, byte-compatible with a persisted signature store."""
    toks = tokens(text_col)
    par = df.sparkSession.sparkContext.defaultParallelism
    base = (
        # Round-robin first: the corpus often arrives in one file /
        # one row group, and the shingle + signature computation
        # should use every core.
        df.select(F.col(id_col), F.col(text_col))
        .repartition(par)
        .withColumn("__toks", toks)
        .select(
            id_col,
            F.array_distinct(shingle_expr("__toks", shingle_k)).alias(
                "shingles"
            ),
        )
    )
    base = base.localCheckpoint(eager=True)
    exploded = base.select(id_col, F.explode("shingles").alias("__s"))
    hashed = exploded.select(
        id_col,
        *[
            F.md5(F.concat(F.lit(f"{i}|"), F.col("__s"))).alias(f"h{i}")
            for i in range(n_hashes)
        ],
    )
    sigs = hashed.groupBy(id_col).agg(
        *[F.min(f"h{i}").alias(f"mh{i}") for i in range(n_hashes)]
    )
    n_bands = n_hashes // band_size
    band_cols = [
        F.concat_ws(
            "|",
            F.lit(str(b)),
            *[F.col(f"mh{b * band_size + j}") for j in range(band_size)],
        ).alias(f"band{b}")
        for b in range(n_bands)
    ]
    long = sigs.select(
        id_col,
        F.explode(F.array(*band_cols)).alias("band_key"),
    )
    return base, long


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    band_size: int = 2,
    shingle_k: int = 2,
    max_bucket_size: int | None = None,
    threshold: float | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash LSH, with
    exact Jaccard verification on the banded collisions.

    Output: (doc_id_a, doc_id_b, jaccard) for every pair sharing at
    least one band — a superset of true near-dups that the caller
    thresholds. Callers that threshold should pass ``threshold=``
    instead of chaining ``.filter(jaccard >= t)``: a plain filter
    on the derived column is rewritten through the projection into
    the shingle-verify join condition, re-running the
    array_intersect once per candidate plus once per survivor
    (rule 18c); the parameter applies a single-evaluation Generate
    gate (functions/gate.py) on the jaccard attribute instead. 8 hashes in bands of 2 -> P(candidate) =
    1-(1-j²)⁴: ~86% at j=0.7, ~4% at j=0.1, so true near-dups
    survive and the pair space stays sub-quadratic.

    Scale shape: only (id, band_key) rows enter the self-join —
    shingle arrays are re-joined per side afterwards, so the
    shuffle carries 2 small columns, not document content. Hot
    band buckets (boilerplate docs) are the skew risk; AQE
    skew-split handles moderate cases, and ``max_bucket_size``
    is the escape hatch for degenerate corpora: band keys with
    more than that many docs are excluded from the self-join
    (a bucket of b docs costs b² pairs — one boilerplate bucket
    of 10⁶ docs is 10¹² pairs, i.e. the whole job). Exact
    duplicates should be removed by hash dedup BEFORE MinHash —
    identical docs collide in every band by construction and are
    precisely the buckets the cap drops.

    Corpora up to ``_setsim_local._LOCAL_MAX_CELLS`` shingle cells
    (without ``max_bucket_size``) get the same rows from the driver
    kernel (module docstring). The rest of this docstring describes
    the distributed path that larger corpora take.

    The signature table is materialized once via an eager
    localCheckpoint: it feeds four plan branches (both band-join
    sides and both shingle re-joins), and without materialization
    each branch re-tokenizes and re-hashes the corpus — at 100 TB
    that is 4 full passes of n_hashes md5 evaluations instead of 1.
    The checkpoint holds only (id, shingles, signature) — never raw
    text.

    Two robustness decisions, both forced by a reproducible Spark
    runtime defect observed under a long-lived session (hundreds of
    prior queries): the first evaluation of this operator computed
    WRONG minhash values — text, tokens and shingle columns were
    verified byte-correct in the same rows while the
    `array_min(transform(...md5...))` outputs matched md5 of no
    derivable input (i.e. the higher-order-function lambda read
    corrupt buffers); retries of the identical plan were correct.
    Therefore:
    (1) signatures are computed by explode -> 8 scalar md5
        projections -> partial-aggregated min() — the vanilla
        whole-stage-codegen aggregate path with NO lambda
        variables, which does not exhibit the corruption (and is
        scale-neutral: map-side combine collapses the exploded
        rows to one row per doc before the shuffle, which carries
        only (id, 8 hashes));
    (2) the shingle table is materialized via localCheckpoint, not
        .persist() — checkpointed RDDs stay out of the
        CacheManager's plan substitution, removing in-cache AQE
        from the equation for the four downstream branches.
    """
    if max_bucket_size is None:
        cells = _setsim_local.shingle_cells(df, id_col, text_col, shingle_k)
        if cells is not None:
            out = _setsim_local.minhash_frame(
                df.sparkSession, cells, n_hashes, band_size, threshold
            )
            if out is not None:
                return out
    base, long = _minhash_band_table(
        df, id_col, text_col, n_hashes, band_size, shingle_k
    )
    if max_bucket_size is not None:
        ok = (
            long.groupBy("band_key")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") <= max_bucket_size)
            .select("band_key")
        )
        # Semi join on the same key the self-join shuffles on —
        # AQE reuses the partitioning; no broadcast assumption
        # (the band-key set scales with the corpus).
        long = long.join(ok, "band_key", "left_semi")
    a = long.select(F.col(id_col).alias("doc_id_a"), "band_key")
    b = long.select(F.col(id_col).alias("doc_id_b"), "band_key")
    # Explicit-count keyed repartition pins the pair-dedup exchange
    # (and the broadcast shingle re-joins + exact-Jaccard verify
    # that chain onto its reduce stage) at full width: AQE sizes
    # the stage from the id-pair bytes (~1MB at sf0.1) and
    # coalesced the whole verify to one task (measured 0.9s of a
    # 2.3s query). Same keys as the dedup aggregate, so this IS the
    # dedup's exchange — REPARTITION_BY_NUM origin only (rule 3;
    # the containment_pairs pin precedent).
    n_par = df.sparkSession.sparkContext.defaultParallelism
    pairs = (
        a.join(b, "band_key")
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .select("doc_id_a", "doc_id_b")
        .repartition(n_par, "doc_id_a", "doc_id_b")
        .dropDuplicates()
    )
    sides = base.select(id_col, "shingles")
    pairs = pairs.join(
        sides.select(
            F.col(id_col).alias("doc_id_a"),
            F.col("shingles").alias("sh_a"),
        ),
        "doc_id_a",
    ).join(
        sides.select(
            F.col(id_col).alias("doc_id_b"),
            F.col("shingles").alias("sh_b"),
        ),
        "doc_id_b",
    )
    # Shape note (measured, r11): a producer-side Generate barrier
    # here (explode_outer(array(intersection size)), so consumer
    # thresholds can't push into the verify join) was tried and
    # REVERTED — it taxes the non-filtering consumers for the
    # filtering ones' benefit (minhash_near_dup 1.49 -> 1.84s,
    # dedup_threshold_sweep 2.54 -> 3.89s at sf0.1, min-of-4, same
    # boot). Consumers that DO threshold gate at their own call
    # site instead (functions/gate.filter_once — see
    # ngram_jaccard_pairs' LSH tier).
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    out = pairs.select(
        "doc_id_a",
        "doc_id_b",
        (inter.cast("double") / union.cast("double")).alias("jaccard"),
    )
    if threshold is None:
        return out
    from afg_data_pipeline_spark.functions.gate import filter_once

    return filter_once(
        out,
        F.col("jaccard"),
        lambda j: j >= F.lit(float(threshold)),
        "__j",
    ).drop("__j")


def ngram_jaccard_pairs(
    df: DataFrame,
    group_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    n: int = 2,
    max_pairs: int | None = None,
) -> DataFrame:
    """Exact word-n-gram-set Jaccard over candidate pairs within a
    group.

    The verification stage of near-dup detection: pairs are
    restricted to a blocking key (language here; an LSH band in the
    scaled path) so the quadratic blow-up is bounded per group.
    n-grams with n>=2 (not unigrams) — on a small shared vocabulary
    unigram sets of unrelated documents overlap almost completely,
    while n-gram sets only overlap under genuine shared phrasing.

    TIERED CONTRACT (the 100 TB guard): exact verification costs
    Σ_g |g|² pairs — linear in duplication mass, so a
    duplication-heavy crawl makes this the dominant job (measured
    529.7s at sf1 on a 10-copy-heavy corpus vs 6.5s at sf0.1).
    Before the self-join, the per-group pair count is computed with
    one cheap aggregate; if it exceeds ``max_pairs`` (default env
    ``AFG_NGRAM_JACCARD_MAX_PAIRS``, 20M), the operator announces
    the tier switch on the package logger (stderr, never stdout;
    ``functions/tier.announce``) and delegates candidate
    generation to banded MinHash LSH (same n-gram shingles, same
    exact-Jaccard verification on the banded collisions, restricted
    to same-group pairs) — a high-probability-recall SUBSET of the
    exact output whose cost is bounded by band collisions instead
    of group size. Below the budget the output is exactly the full
    pair set (oracle-checkable).

    NOTE the probe is EAGER: it runs a Spark job at
    PLAN-CONSTRUCTION time (calling this function), not at execution
    — unusual for a lazily-composed library, but the tier decision
    must be made before the plan exists. The probe is first the
    bounded shingle collect of the driver kernel
    (``_setsim_local.shingle_cells``), whose rows give the pair
    count; only a corpus it cannot take also runs the pair-count
    aggregate. Under the budget that corpus goes on to the salted
    self-join below, and a collected one to the kernel's exact rows.
    Callers building plans they may never execute should know they
    pay for these jobs here. The active tier is part of the
    OUTPUT SCHEMA (``tier``: 'exact' | 'lsh_subset'), so the
    subset mode can never be mistaken for the exact contract — an
    oracle run at a scale that crosses the budget red-rows on the
    tier value itself, not on silently missing pairs.
    """
    cells = _setsim_local.shingle_cells(df, id_col, text_col, n, group_col)
    if gate(
        "NGRAM_JACCARD_MAX_PAIRS",
        _pair_count(df, F.col(group_col))
        if cells is None
        else _setsim_local.pair_count(cells),
        20_000_000,
        max_pairs,
        event="ngram_jaccard_pairs: exact candidate pairs exceed "
        "the budget; falling back to banded MinHash candidates "
        "(same shingles, exact Jaccard on banded collisions, "
        "same-group only) — a high-recall subset",
    ).over:
        cand = minhash_lsh_candidates(
            df,
            id_col=id_col,
            text_col=text_col,
            shingle_k=n,
            threshold=threshold,
        )
        groups = df.select(
            F.col(id_col), F.col(group_col).alias("__g")
        )
        # threshold= applies the single-evaluation gate inside the
        # operator (see minhash_lsh_candidates docstring): a plain
        # `.filter(jaccard >= t)` here was rewritten into the
        # shingle-verify join condition — the interpreted
        # array_intersect ran twice in the condition (the ratio
        # embeds it twice) and twice more per survivor in the
        # projection (4x; seen in the sf1-regime plan). Gating
        # before the group joins also spares non-survivors those
        # probes.
        return (
            cand.join(
                groups.select(
                    F.col(id_col).alias("doc_id_a"),
                    F.col("__g").alias("__ga"),
                ),
                "doc_id_a",
            )
            .join(
                groups.select(
                    F.col(id_col).alias("doc_id_b"),
                    F.col("__g").alias("__gb"),
                ),
                "doc_id_b",
            )
            .filter(F.col("__ga") == F.col("__gb"))
            .select(
                F.col("__ga").alias(group_col),
                F.col("doc_id_a").alias("id_a"),
                F.col("doc_id_b").alias("id_b"),
                "jaccard",
                F.lit("lsh_subset").alias("tier"),
            )
        )
    if cells is not None:
        return _setsim_local.ngram_jaccard_frame(
            df.sparkSession, cells, group_col, threshold
        )
    side = (
        df.select(
            F.col(group_col).alias("g"),
            F.col(id_col),
            tokens(text_col).alias("__toks"),
        )
        .withColumn(
            "toks",
            F.array_distinct(shingle_expr("__toks", n)),
        )
        .drop("__toks")
    )
    # The group self-join multiplies |group| rows into |group|²/2
    # pairs — an expansion AQE cannot see from the (small) input
    # shuffle sizes — and the blocking key has few distinct values
    # (languages), so a plain equi-join on g runs one task per
    # group. Salt instead: the probe side gets a deterministic salt
    # hash(id) % S, the build side is replicated across all S salt
    # values, and the join key becomes (g, salt) — S-way
    # parallelism per group through an ordinary shuffle join whose
    # memory is bounded per-partition, never by a full-side
    # broadcast (driver/executor broadcast memory is the hard
    # ceiling a 100 TB corpus would hit first; round 1 broadcast
    # the whole build side). The salt count is capped: build-side
    # shuffle traffic is multiplied by S, so tying S to cluster
    # cores (thousands) would trade a broadcast OOM for an S×
    # shuffle explosion — 64-way splits any hot group enough.
    par = min(df.sparkSession.sparkContext.defaultParallelism, 64)
    a = side.select(
        "g", F.col(id_col).alias("id_a"), F.col("toks").alias("t_a")
    ).withColumn("__salt", F.pmod(F.xxhash64("id_a"), F.lit(par)))
    b = side.select(
        "g", F.col(id_col).alias("id_b"), F.col("toks").alias("t_b")
    ).withColumn(
        "__salt",
        F.explode(F.array(*[F.lit(i) for i in range(par)])),
    )
    inter = F.size(F.array_intersect(F.col("t_a"), F.col("t_b")))
    # Exact size prefilter in the join's residual condition (guide
    # §3, r11): |inter| <= min(|A|,|B|) and |union| >= max(|A|,|B|)
    # as integers, so real jac <= real min/max; double division
    # rounds MONOTONICALLY in the exact quotient, hence
    # fl(jac) >= t implies fl(min/max) >= t — computed as the SAME
    # double division with the SAME threshold literal, the gate can
    # never drop a qualifying pair. size() is O(1) per pair; the
    # conjunct short-circuits the array_intersect for every pair
    # whose set sizes already rule the threshold out.
    size_ratio = (
        F.least(F.size("t_a"), F.size("t_b")).cast("double")
        / F.greatest(F.size("t_a"), F.size("t_b")).cast("double")
    )
    pairs = a.join(b.hint("shuffle_hash"), ["g", "__salt"]).filter(
        (F.col("id_a") < F.col("id_b"))
        & (size_ratio >= F.lit(float(threshold)))
    )
    # Single-evaluation threshold gate (functions/gate.py): a plain
    # select+filter pushes `jaccard >= t` into the join condition,
    # re-running the array_intersect once per candidate AND once
    # more per survivor (rule 18c — the r11 before-plan shows the
    # intersect in both the join condition and the output). The
    # gate carries the INTERSECTION SIZE, not the jaccard: the
    # jaccard expression textually embeds the intersect twice
    # (numerator + union), and a generator input is interpreted —
    # no subexpression elimination — so gating on jac would still
    # intersect twice per pair. The ratio is rebuilt from the gated
    # size with the identical int arithmetic + double division, so
    # values are bit-equal to the inline form.
    from afg_data_pipeline_spark.functions.gate import filter_once

    def jac_of(i):
        return i.cast("double") / (
            (F.size("t_a") + F.size("t_b") - i).cast("double")
        )

    gated = filter_once(
        pairs,
        inter,
        lambda i: jac_of(i) >= F.lit(float(threshold)),
        "__i",
    )
    return gated.select(
        F.col("g").alias(group_col),
        "id_a",
        "id_b",
        jac_of(F.col("__i")).alias("jaccard"),
        F.lit("exact").alias("tier"),
    )


def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
) -> DataFrame:
    """64-bit SimHash per document (Charikar '02), numpy-vectorized.

    Per token: a 64-bit hash (md5-derived); each bit votes +1/-1;
    the signature is the sign vector of the vote sums. Near-dup
    candidates are signatures with small Hamming distance. Batch
    bit-matrix math inside mapInPandas (Arrow), because a 64-bit
    majority vote per row is a matrix op, not a SQL expression.
    """
    out_schema = f"{id_col} long, simhash long"

    def batch(iterator):
        import pandas as pd

        for pdf in iterator:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "simhash": simhash_of_texts(
                        pdf[text_col], bits
                    ),
                }
            )

    return df.select(id_col, text_col).mapInPandas(
        batch, schema=out_schema
    )


def simhash_of_texts(texts, bits: int = 64) -> list[int]:
    """Batch SimHash kernel (shared by the batch signature operator
    above and the streaming near-dup dedup): one signed-64 SimHash
    per input text. Pure function of the text — the determinism the
    SQL replica and the stream==batch tests both rely on."""
    import hashlib

    import numpy as np

    sigs = []
    for text in texts:
        toks = text.split()
        if not toks:
            sigs.append(0)
            continue
        hashes = np.array(
            [
                int.from_bytes(
                    hashlib.md5(t.encode()).digest()[:8], "big"
                )
                for t in toks
            ],
            dtype=np.uint64,
        )
        bits_m = (
            hashes[:, None]
            >> np.arange(bits, dtype=np.uint64)[None, :]
        ) & np.uint64(1)
        votes = (2 * bits_m.astype(np.int64) - 1).sum(axis=0)
        sig = np.uint64(0)
        for i, v in enumerate(votes):
            if v > 0:
                sig |= np.uint64(1) << np.uint64(i)
        sigs.append(int(np.int64(sig)))
    return sigs


def banded_hamming_pairs(
    sigs: DataFrame,
    sig_col: str,
    id_col: str = "doc_id",
    n_bands: int = 4,
    band_bits: int = 16,
    max_hamming: int = 10,
) -> DataFrame:
    """SimHash-style banded near-dup join over ANY 64-bit signature
    column: explode each signature into ``n_bands`` fixed-width
    bands, candidates are id-ordered pairs sharing at least one
    exact (band_id, band_val), verified with XOR + bit_count <=
    ``max_hamming``. Output: (doc_a, doc_b, hamming).

    This is the signature->pairs half of both image pHash dedup
    and SimHash text dedup — factored out so the SQL-replicable
    SimHash path can certify the exact code the non-SQL pHash path
    runs (the minhash_near_dup precedent, CLAUDE.md rule 10).

    Scale shape: the corpus never self-joins all-pairs — the band
    join has 2^band_bits natural keys (65k at 16 bits; rule-13
    salting unnecessary), candidate dedup is a distinct on id
    pairs, and the verify is one codegen'd XOR per candidate. The
    pigeonhole guarantee: hamming < n_bands is ALWAYS found; above
    that, banding is the documented probabilistic LSH trade.
    """
    if n_bands * band_bits > 64:
        raise ValueError("n_bands * band_bits must be <= 64")
    mask = (1 << band_bits) - 1
    bands = sigs.select(
        F.col(id_col).alias("_id"),
        F.col(sig_col).alias("_sig"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_id"),
                        F.shiftrightunsigned(
                            F.col(sig_col), band_bits * i
                        )
                        .bitwiseAND(F.lit(mask).cast("bigint"))
                        .alias("band_val"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("_id", "_sig", "band.band_id", "band.band_val")
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("doc_a"),
            F.col("b._id").alias("doc_b"),
            F.col("a._sig").alias("sig_a"),
            F.col("b._sig").alias("sig_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.expr("bit_count(sig_a ^ sig_b)").cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def duplicate_spans(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Substring-level duplication profile: for every document, how
    many of its token k-grams occur more than once anywhere in the
    corpus (including repeats inside the same document) — the
    signal behind exact-substring dedup of training data
    (Lee et al., "Deduplicating Training Data Makes Language
    Models Better": duplicated ≥k-token spans are memorization
    fuel and should be dropped or deduplicated).

    Output: (id, n_grams, n_dup_grams); docs shorter than k tokens
    report (0, 0) rather than disappearing.

    Scale shape: grams are hashed to 8-byte xxhash64 keys BEFORE
    the shuffle (vs 32-hex md5: 4x smaller shuffle keys and a
    cheaper hash; the hash is internal — only counts reach the
    output, and a 64-bit collision would need ~2^32 distinct grams
    to become likely). Corpus-wide occurrence counts come from a
    COUNT window partitioned by the hash — one shuffle, and the
    gram stream (explode + slice + concat, the expensive part) is
    evaluated exactly once, where the groupBy-then-join-back shape
    evaluates it twice and shuffles three times — and, on a
    duplication-heavy corpus, the join arm re-shuffles the FULL
    gram stream anyway, so the window form also moves strictly
    fewer shuffle bytes (measured at sf1, min-of-4: join+md5
    2.64s → window+md5 1.90s → window+xxhash64 1.76s). The k-fold slide is expressed as
    explode(sequence) + slice (no HOF lambdas, CLAUDE.md rule 10),
    with the pre-explosion side repartitioned because AQE can't
    see row expansion in input shuffle bytes (rule 3). The window
    is skew-gated (operators/corpuscount): a sampled probe routes
    pathologically hot gram hashes off the window, bit-identically.
    """
    from afg_data_pipeline_spark.operators.corpuscount import (
        corpus_key_count,
    )

    par = docs.sparkSession.sparkContext.defaultParallelism

    def _grams(d: DataFrame) -> DataFrame:
        base = d.select(
            F.col(id_col).alias("id"),
            F.split(F.trim(F.col(text_col)), r"\s+").alias("t"),
        ).withColumn("n_pos", F.size("t") - F.lit(k - 1))
        return (
            base.filter(F.col("n_pos") >= 1)
            .repartition(par)
            .select(
                "id",
                F.explode(
                    F.sequence(F.lit(1), F.col("n_pos"))
                ).alias("i"),
                "t",
            )
            .select(
                "id",
                F.xxhash64(
                    F.concat_ws(
                        " ", F.expr(f"slice(t, i, {k})")
                    )
                ).alias("gh"),
            )
        )

    per_doc = (
        corpus_key_count(docs, _grams, "gh", out_col="c")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("c") >= 2, 1).otherwise(0)
            ).alias("n_dup_grams"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(per_doc, "id", "left")
        .select(
            "id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_dup_grams", F.lit(0)).alias(
                "n_dup_grams"
            ),
        )
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing at
    least one word n-gram with an evaluation set.

    The standard leakage check before LLM training (n=13 word-grams
    in published recipes; the synthetic test corpus is tiny so the
    registered query uses 3). Output: (id, n_matched_grams) for
    every contaminated training doc — callers anti-join to drop, or
    rank by match count to audit.

    Scale shape: both sides reduce to DISTINCT (id, gram) / (gram)
    rows before the join, so the shuffle carries n-gram strings,
    never documents; the join is a plain equi-join on the gram (hot
    grams are AQE-skew-split). The eval side deduplicates to one
    row per gram — its size is the eval vocabulary, independent of
    how many training docs match.
    """
    # Tokenize ONCE into a column, then shingle over the array —
    # inlining split() into every element_at term re-evaluates the
    # regex split per shingle term (O(tokens²) per doc; measured
    # 6.4s -> sub-second at sf0.1 for this query).
    tgrams = (
        train.select(F.col(id_col), tokens(text_col).alias("__t"))
        .select(
            id_col,
            F.explode(
                F.array_distinct(shingle_expr("__t", n))
            ).alias("gram"),
        )
    )
    egrams = (
        eval_df.select(tokens(text_col).alias("__t"))
        .select(
            F.explode(
                F.array_distinct(shingle_expr("__t", n))
            ).alias("gram")
        )
        .distinct()
    )
    return (
        tgrams.join(egrams, "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_matched_grams"))
    )


def gram_novelty(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty: how many of a document's
    distinct word n-grams appear in NO earlier document (id order =
    arrival order) — the contribution score behind dedup-aware
    data valuation and curriculum sampling (a doc whose grams are
    all rehashes of earlier corpus content scores ~0).

    First-occurrence is a pure aggregate: a gram is novel for
    exactly the doc with min(id) over its occurrences, so the
    corpus never self-joins — one gram-keyed min (map-side
    combinable: each task keeps one candidate per gram) assigns
    every gram's novelty credit, then two doc-keyed counts roll up
    totals and novel counts. The distinct (doc, gram) stream feeds
    both rollups, so it is checkpointed once (rule 12) — the
    regex tokenize + shingle pass runs one time.

    Output: (id, n_grams, n_novel, novelty) with novelty =
    n_novel / n_grams (a single correctly-rounded double division
    — engine-portable, unlike float sums).
    """
    doc_grams = (
        docs.select(F.col(id_col), tokens(text_col).alias("__t"))
        .select(
            id_col,
            F.explode(
                F.array_distinct(shingle_expr("__t", n))
            ).alias("gram"),
        )
        .localCheckpoint(eager=False)
    )
    totals = doc_grams.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams")
    )
    novel = (
        doc_grams.groupBy("gram")
        .agg(F.min(id_col).alias(id_col))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    n_novel = F.coalesce(F.col("n_novel"), F.lit(0)).cast("bigint")
    return totals.join(novel, id_col, "left").select(
        id_col,
        "n_grams",
        n_novel.alias("n_novel"),
        (n_novel.cast("double") / F.col("n_grams")).alias("novelty"),
    )


def vocab_growth(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary-growth curve (Heaps' law): for documents in id
    order (= arrival order), the running token total and running
    distinct-vocabulary size — the corpus-health curve that tells
    you when more crawl stops buying new vocabulary.

    Same first-occurrence algebra as ``gram_novelty`` but over
    single tokens, with one extra trick: the gram-keyed
    min(doc_id) needs NO distinct — within-doc duplicates cannot
    change a min — so the token stream aggregates directly
    (map-side combinable) without a (doc, token) dedup shuffle.
    The running totals use the adaptive sharded cumsum
    (operators/prefixsum.py): a plain one-task window below the
    size ceiling, shard-parallel above it — never a partitionless
    window over the corpus.

    Output: (id, n_tokens, n_novel, cum_tokens, vocab_size)
    ordered by id via the cumulative columns (row order itself is
    unspecified, as everywhere).
    """
    from afg_data_pipeline_spark.operators.prefixsum import (
        sharded_cumsum,
    )

    tokd = (
        docs.select(
            F.col(id_col), F.explode(tokens(text_col)).alias("tok")
        )
        .localCheckpoint(eager=False)
    )
    tot = tokd.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens")
    )
    novel = (
        tokd.groupBy("tok")
        .agg(F.min(id_col).alias(id_col))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    j = tot.join(novel, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce(F.col("n_novel"), F.lit(0))
        .cast("bigint")
        .alias("n_novel"),
    )
    c1 = sharded_cumsum(
        j, "n_tokens", id_col, out_col="cum_tokens"
    )
    return sharded_cumsum(
        c1,
        "n_novel",
        id_col,
        out_col="vocab_size",
    ).select(
        id_col, "n_tokens", "n_novel", "cum_tokens", "vocab_size"
    )


def duplicate_span_extract(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Materialized duplicated spans: for every document, the
    MERGED token intervals covered by k-grams that occur more than
    once anywhere in the corpus — the actionable form of
    ``duplicate_spans`` (which only counts): these are exactly the
    ranges an exact-substring dedup pass (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better")
    would cut out of the training stream.

    Output: (id, span_start, span_end, n_span_tokens), 1-based
    inclusive token positions, one row per maximal duplicated span.
    A gram at position i covers tokens [i, i+k-1]; overlapping or
    touching covered ranges merge (classic gaps-and-islands: a new
    island starts when pos > lag(pos) + k).

    Scale shape: same single-evaluation gram stream as
    ``duplicate_spans`` (explode + slice, xxhash64 keys, window
    count partitioned by hash, skew-gated via
    operators/corpuscount), then per-document lag/cumsum
    windows — thousands of small per-doc windows, never a
    corpus-wide sort. Two shuffles total (by gram hash, by doc).
    All-integer output: bit-exact against the SQL replica.
    """
    from pyspark.sql import Window

    from afg_data_pipeline_spark.operators.corpuscount import (
        corpus_key_count,
    )

    par = docs.sparkSession.sparkContext.defaultParallelism

    def _grams(d: DataFrame) -> DataFrame:
        base = d.select(
            F.col(id_col).alias("id"),
            F.split(F.trim(F.col(text_col)), r"\s+").alias("t"),
        ).withColumn("n_pos", F.size("t") - F.lit(k - 1))
        return (
            base.filter(F.col("n_pos") >= 1)
            .repartition(par)
            .select(
                "id",
                F.explode(
                    F.sequence(F.lit(1), F.col("n_pos"))
                ).alias("pos"),
                "t",
            )
            .select(
                "id",
                "pos",
                F.xxhash64(
                    F.concat_ws(" ", F.expr(f"slice(t, pos, {k})"))
                ).alias("gh"),
            )
        )

    dup_pos = corpus_key_count(
        docs, _grams, "gh", out_col="c"
    ).filter(F.col("c") >= 2)
    wdoc = Window.partitionBy("id").orderBy("pos")
    islands = (
        dup_pos.withColumn("prev", F.lag("pos").over(wdoc))
        .withColumn(
            "new_island",
            F.when(
                F.col("prev").isNull()
                | (F.col("pos") > F.col("prev") + F.lit(k)),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "island",
            F.sum("new_island").over(
                wdoc.rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        )
    )
    return (
        islands.groupBy("id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
        )
        .select(
            "id",
            "span_start",
            "span_end",
            (
                F.col("span_end") - F.col("span_start") + F.lit(1)
            ).alias("n_span_tokens"),
        )
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 4,
    w: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson,
    Aiken, "Winnowing: Local Algorithms for Document
    Fingerprinting" — the MOSS algorithm): hash every token
    k-gram, slide a window of ``w`` consecutive gram hashes over
    each document, keep each window's MINIMUM hash. Guarantees:
    any shared substring of at least k + w - 1 tokens contributes
    at least one IDENTICAL fingerprint to both documents, while
    only ~2/(w+1) of grams are kept — position-robust candidate
    generation that neither MinHash (whole-doc similarity) nor
    exact-substring counting provides.

    Output: (id, fp) distinct fingerprint rows; fp is the gram's
    md5 hex — md5 (not xxhash64) because the fingerprint VALUES
    are the output here and the DuckDB oracle must reproduce them;
    the window minimum is the lexicographic min of the hex
    strings, identical in both engines (ASCII hex ordering).

    Scale shape: gram stream as in duplicate_spans (bounded
    explode, pre-repartitioned); the sliding min is a per-document
    bounded-PRECEDING window frame (rule 2: never a FOLLOWING
    frame) over gram positions; the distinct shuffles (id, fp)
    pairs only. Documents shorter than k + w - 1 tokens fingerprint
    their single shortest window (standard winnowing boundary
    behavior: windows exist only where w grams do; docs with < w
    grams keep their global min — still one fingerprint, so short
    docs are not silently dropped).
    """
    from pyspark.sql import Window

    par = docs.sparkSession.sparkContext.defaultParallelism
    base = docs.select(
        F.col(id_col).alias("id"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("t"),
    ).withColumn("n_pos", F.size("t") - F.lit(k - 1))
    grams = (
        base.filter(F.col("n_pos") >= 1)
        .repartition(par)
        .select(
            "id",
            "n_pos",
            F.explode(
                F.sequence(F.lit(1), F.col("n_pos"))
            ).alias("pos"),
            "t",
        )
        .select(
            "id",
            "n_pos",
            "pos",
            F.md5(
                F.concat_ws(" ", F.expr(f"slice(t, pos, {k})"))
            ).alias("gh"),
        )
    )
    # Window ending at p covers gram positions [p-w+1, p]; emit its
    # min. Only full windows count (pos >= w), except a short doc's
    # final position, whose frame covers every gram it has — the
    # short-doc fallback keeping < w-gram docs fingerprinted.
    win = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(-(w - 1), Window.currentRow)
    )
    return (
        grams.withColumn("win_min", F.min("gh").over(win))
        .filter(
            (F.col("pos") >= F.lit(w))
            | (F.col("pos") == F.col("n_pos"))
        )
        .select("id", F.col("win_min").alias("fp"))
        .distinct()
    )


def winnow_candidate_pairs(
    docs: DataFrame,
    k: int = 4,
    w: int = 5,
    min_shared: int = 2,
    max_fp_docs: int | None = 200,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Candidate near-dup pairs from shared winnowing fingerprints
    (the MOSS match step): (id_a, id_b, n_shared_fps) for document
    pairs sharing at least ``min_shared`` fingerprints, id_a <
    id_b.

    Pair generation is an inverted-index self-join on fingerprint —
    same shape as the MinHash band join and the TF-IDF posting
    join: pairs arise only from shared fingerprints, never from
    enumeration. ``max_fp_docs`` caps the join width of ubiquitous
    fingerprints (boilerplate: a fingerprint in b docs costs b²
    pairs) exactly like minhash_lsh_candidates' bucket cap —
    excluded fingerprints are announced on the package logger
    (stderr) via the cheap count aggregate the cap already
    requires, never silently at scale
    (callers pre-strip exact dups, which collide on EVERY
    fingerprint by construction).

    The fingerprint table is localCheckpoint()ed once: it feeds
    both join sides, and its upstream is the full winnowing window
    pipeline.
    """
    fps = winnow_fingerprints(
        docs, k=k, w=w, id_col=id_col, text_col=text_col
    ).localCheckpoint(eager=True)
    if max_fp_docs is not None:
        cnts = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("__n"))
        # The announcement the cap contract promises: an eager
        # scalar probe over the checkpointed fingerprint table (one
        # cheap aggregate job — the same count the semi-join filter
        # needs anyway), so over-cap exclusions are never silent.
        n_excluded = (
            cnts.filter(F.col("__n") > max_fp_docs).count()
        )
        if n_excluded:
            announce(
                "winnow_candidate_pairs: excluded fingerprints "
                "shared by more than max_fp_docs docs (boilerplate "
                "cap; pairs from those fingerprints are not "
                "enumerated)",
                fingerprints=n_excluded,
                max_fp_docs=max_fp_docs,
            )
        ok = cnts.filter(F.col("__n") <= max_fp_docs).select("fp")
        fps = fps.join(ok, "fp", "left_semi")
    a = fps.select(F.col("id").alias("id_a"), "fp")
    b = fps.select(F.col("id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= min_shared)
    )


def cross_corpus_near_dup(
    corpus: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    band_size: int = 2,
    shingle_k: int = 2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Incremental near-dup detection: which NEW documents are
    near-duplicates of an EXISTING corpus — the daily-crawl-delta
    production shape, where re-running all-pairs dedup over the
    whole corpus per increment would be quadratic in history.

    Output: (new_id, dup_of, jaccard) — one row per banded
    collision between a new doc and a corpus doc, with the exact
    shingle Jaccard. New-vs-new pairs are NOT reported (run
    ``minhash_lsh_candidates`` on the increment for those);
    corpus-vs-corpus pairs never form because the band join is
    strictly cross-side.

    Scale shape: both sides band through the SAME pipeline
    (``_minhash_band_table`` — identical md5 family and band keys),
    so the corpus side's (id, band_key, shingles) tables are
    byte-compatible with a persisted signature store: a production
    deployment computes them once, writes them partitioned by
    band-key prefix (io.write_parquet_sorted), and each increment
    joins its few band rows against that store instead of
    re-hashing history — the code path here recomputes them only
    because the testdata has no persisted store. The join is a
    plain equi-join on band_key (corpus side probe, increment side
    build — Spark/AQE broadcasts the increment when it is small,
    exactly the right plan for a small delta against a big
    corpus); ``max_bucket_size`` caps boilerplate buckets on the
    corpus side as in the self-join variant.
    """
    c_base, c_long = _minhash_band_table(
        corpus, id_col, text_col, n_hashes, band_size, shingle_k
    )
    n_base, n_long = _minhash_band_table(
        new_docs, id_col, text_col, n_hashes, band_size, shingle_k
    )
    if max_bucket_size is not None:
        ok = (
            c_long.groupBy("band_key")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") <= max_bucket_size)
            .select("band_key")
        )
        c_long = c_long.join(ok, "band_key", "left_semi")
    pairs = (
        n_long.select(
            F.col(id_col).alias("new_id"), "band_key"
        )
        .join(
            c_long.select(
                F.col(id_col).alias("dup_of"), "band_key"
            ),
            "band_key",
        )
        .select("new_id", "dup_of")
        .dropDuplicates()
    )
    pairs = pairs.join(
        n_base.select(
            F.col(id_col).alias("new_id"),
            F.col("shingles").alias("sh_a"),
        ),
        "new_id",
    ).join(
        c_base.select(
            F.col(id_col).alias("dup_of"),
            F.col("shingles").alias("sh_b"),
        ),
        "dup_of",
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    return pairs.select(
        "new_id",
        "dup_of",
        (inter.cast("double") / union.cast("double")).alias(
            "jaccard"
        ),
    )


def lsh_tune(
    threshold: float,
    n_hashes_budget: int = 128,
    fp_weight: float = 1.0,
    fn_weight: float = 1.0,
) -> dict:
    """Pick (n_hashes, band_size) for banded MinHash at a Jaccard
    ``threshold`` — the S-curve arithmetic from Leskovec/Rajaraman/
    Ullman, "Mining of Massive Datasets" ch. 3: with b bands of r
    rows, P(candidate | jaccard=s) = 1 − (1 − s^r)^b, and the
    curve's inflection sits near (1/b)^(1/r). The tuner scans every
    (b, r) with b·r ≤ ``n_hashes_budget`` and minimizes the
    weighted false-positive + false-negative AREA of the curve
    against the ideal step at ``threshold`` (the textbook integral
    criterion, evaluated on a 1e-3 grid — driver-side arithmetic,
    no data touched).

    Returns {"n_hashes", "band_size", "n_bands", "inflection",
    "fp_area", "fn_area"} — feed the first two straight into
    minhash_lsh_candidates / minhash_near_dup_pairs. Weights skew
    the choice: fn_weight ≫ fp_weight for recall-critical dedup
    (missed dups poison training), fp_weight ≫ fn_weight when the
    verify stage is the bottleneck."""
    if not 0.0 < threshold < 1.0:
        raise ValueError(
            f"threshold must be in (0,1), got {threshold}"
        )
    best = None
    grid = [i / 1000.0 for i in range(1, 1000)]
    for r in range(1, n_hashes_budget + 1):
        for b in range(1, n_hashes_budget // r + 1):
            fp = fn = 0.0
            for s in grid:
                p = 1.0 - (1.0 - s**r) ** b
                if s < threshold:
                    fp += p
                else:
                    fn += 1.0 - p
            fp /= 1000.0
            fn /= 1000.0
            cost = fp_weight * fp + fn_weight * fn
            key = (cost, b * r, b)  # prefer fewer hashes on ties
            if best is None or key < best[0]:
                best = (
                    key,
                    {
                        "n_hashes": b * r,
                        "band_size": r,
                        "n_bands": b,
                        "inflection": (1.0 / b) ** (1.0 / r),
                        "fp_area": fp,
                        "fn_area": fn,
                    },
                )
    return best[1]


def contamination_report(
    train: DataFrame,
    evals: DataFrame,
    eval_set_col: str = "eval_set",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-eval-set contamination report — the leaderboard-integrity
    direction of decontaminate(): for EACH benchmark in ``evals``
    ((eval_set, id, text) rows), how many of its examples share at
    least one word n-gram with the training corpus.

    Output: (eval_set, n_docs, n_contaminated, contamination_rate)
    with rate = n_contaminated / n_docs (one int/int IEEE division
    — bit-identical across engines).

    Scale shape: the train side reduces to its DISTINCT n-gram
    vocabulary before the join (size = corpus vocabulary,
    independent of duplication), the eval side to distinct
    (eval_set, id, gram); contaminated ids come from a semi-join on
    the gram — documents never shuffle, and adding eval sets adds
    only their own gram rows. No per-doc array_distinct on either
    side: only gram EXISTENCE survives the downstream distincts, so
    within-doc duplicate grams are semantically free, the map-side
    hash aggregates collapse them before any shuffle anyway, and
    dropping the per-array dedup pass measured 2.84s → 2.45s at
    sf10 (decontaminate() differs: it COUNTS distinct grams per
    doc, so its array_distinct is load-bearing). No broadcast hint
    on the semi-join — the train vocabulary is corpus-sized at
    100 TB; AQE converts to broadcast at runtime when it fits.
    Gram construction is a CODEGEN'D lookahead regex over
    whitespace-normalized text, not the transform-HOF shingle
    (rule 18: HOFs interpret per element — measured 1.0s → 0.67s
    for the 24M-gram sf10 train stream; `(?<!\\S)(?=(...))`
    anchors overlapping k-grams to token starts), with
    shingle_expr's whole-text fallback for sub-k-token docs
    reproduced by the CASE so outputs stay bit-identical."""

    def _gram_stream(d: DataFrame, *keep) -> DataFrame:
        # Two projection steps so the regex array materializes as
        # a COLUMN once — putting the extract inside
        # when(size(x)==0,...).otherwise(x) re-ran the regex per
        # row (no CSE across conditional branches; measured the
        # whole 0.33s win back).
        pat = r"(?<!\S)(?=((?:\S+ ){" + str(n - 1) + r"}\S+))"
        staged = d.select(
            *keep,
            F.regexp_replace(
                F.trim(F.col(text_col)), r"\s+", " "
            ).alias("__norm"),
        ).select(
            *keep,
            "__norm",
            F.regexp_extract_all(
                F.col("__norm"), F.lit(pat), F.lit(1)
            ).alias("__g"),
        )
        # shingle_expr contract: a doc shorter than n tokens
        # contributes its whole (normalized) text as one gram.
        return staged.select(
            *keep,
            F.explode(
                F.when(
                    F.size("__g") == 0, F.array(F.col("__norm"))
                ).otherwise(F.col("__g"))
            ).alias("gram"),
        )

    tgrams = _gram_stream(train).distinct()
    egrams = _gram_stream(
        evals.select(
            F.col(eval_set_col).alias("eval_set"),
            F.col(id_col).alias("id"),
            F.col(text_col),
        ),
        "eval_set",
        "id",
    )
    contaminated = (
        egrams.join(tgrams, "gram", "left_semi")
        .select("eval_set", "id")
        .distinct()
    )
    totals = evals.select(
        F.col(eval_set_col).alias("eval_set"),
        F.col(id_col).alias("id"),
    ).groupBy("eval_set").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    hits = contaminated.groupBy("eval_set").agg(
        F.count(F.lit(1)).alias("n_contaminated")
    )
    return (
        totals.join(hits, "eval_set", "left")
        .select(
            "eval_set",
            "n_docs",
            F.coalesce(F.col("n_contaminated"), F.lit(0)).alias(
                "n_contaminated"
            ),
            (
                F.coalesce(
                    F.col("n_contaminated"), F.lit(0)
                ).cast("double")
                / F.col("n_docs").cast("double")
            ).alias("contamination_rate"),
        )
    )


def prefix_filter_jaccard_pairs(
    docs: DataFrame,
    threshold_num: int = 3,
    threshold_den: int = 5,
    shingle_k: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_cand: int | None = None,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering
    (AllPairs / PPJoin candidate generation; Bayardo et al. 2007,
    Xiao et al. 2008): all document pairs with bigram-shingle
    Jaccard >= threshold, with NO language blocking and NO recall
    loss — the exact complement of the banded-MinHash tier.

    The filter: order every doc's shingles by GLOBAL rarity
    (df ASC, shingle ASC — rare first), keep each doc's prefix of
    length |d| - ceil(t·|d|) + 1. Two sets with J >= t must share
    a prefix token, so the candidate join runs only on prefix
    shingles — and because prefixes hold the RAREST shingles,
    per-key join fan-out is small by construction (the hot
    boilerplate shingles every doc shares never enter a prefix).
    Threshold is the exact rational threshold_num/threshold_den
    (ceil in pure integer arithmetic — never a double rank).

    Scale shape: one shingle aggregate for df; per-doc prefix rank
    is a doc-partitioned window (many docs — parallel, rule 13
    boundary); the verification join counts shared shingles only
    for candidate pairs. Every stage is an equi-join or
    map-side-combinable aggregate.

    Duplication-heavy corpora: identical shingle SETS are collapsed
    to one representative BEFORE the pair machinery (canonical
    md5-of-sorted-set key), then pairs expand back through the
    membership table — within-set pairs are emitted directly with
    jaccard 1. Without this, a 10×-replicated corpus squares
    inside the candidate join (measured: the sf1 synthetic corpus
    ran >10 min; collapsed, the pair work is distinct-set-sized).
    The expansion is exact: J(x, y) depends only on the sets, so
    every member pair inherits the representative pair's numbers.

    TIERED CONTRACT (the ngram_jaccard_pairs pattern): on a corpus
    whose vocabulary is so small that even the RAREST prefix
    shingles are hot (the sf1 synthetic: 30-word vocabulary, every
    prefix df in the hundreds — the exact candidate join ran >10
    min), the prefix bound Σ_s C(df_prefix(s), 2) is probed with
    one cheap aggregate after set collapse; above ``max_cand``
    (env AFG_PREFIX_JACCARD_MAX_CAND, default 2M — measured: a
    12.8M-candidate exact pass costs 76s at sf0.1 while the LSH
    tier answers in seconds) the operator
    ANNOUNCES the switch on the package logger (stderr) and moves
    to banded-MinHash candidates with the same exact count
    verification. The active tier is in the
    output schema (``tier``: 'exact' | 'lsh_subset') — the oracle
    pins 'exact', so a budget-crossing run red-rows on the tier
    value, never on silently missing pairs. The probe is EAGER
    (one count job at plan-construction time, like
    ngram_jaccard_pairs).
    """
    from pyspark.sql import Window

    from afg_data_pipeline_spark.operators.text import (
        shingle_expr,
        tokens,
    )

    tnum, tden = threshold_num, threshold_den
    raw = (
        docs.select(
            F.col(id_col).alias("id"),
            tokens(text_col).alias("__toks"),
        )
        .select(
            "id",
            F.array_sort(
                F.array_distinct(
                    shingle_expr("__toks", shingle_k)
                )
            ).alias("sh"),
        )
        .withColumn("sz", F.size("sh").cast("bigint"))
        .withColumn(
            "setkey",
            F.md5(F.concat_ws("\x1f", F.col("sh"))),
        )
        .localCheckpoint(eager=False)
    )
    members = raw.select("id", "setkey", "sz")
    groups = raw.groupBy("setkey").agg(
        F.min("id").alias("rep"),
        F.count(F.lit(1)).alias("n_members"),
        F.max("sz").alias("sz"),
    )
    base = raw.join(
        groups.select(
            F.col("setkey").alias("__gk"), F.col("rep")
        ),
        (raw.setkey == F.col("__gk")) & (raw.id == F.col("rep")),
    ).select("setkey", "sh", "sz")
    tok = base.select(
        F.col("setkey").alias("id"),
        "sz",
        F.explode("sh").alias("s"),
    )
    dfreq = tok.groupBy("s").agg(
        F.count(F.lit(1)).alias("df")
    )
    w = Window.partitionBy("id").orderBy("df", "s")
    ranked = tok.join(dfreq, "s").withColumn(
        "rn", F.row_number().over(w)
    )
    # prefix length |d| - ceil(t*|d|) + 1, exact integers
    ceil_t_sz = F.floor(
        (F.col("sz") * tnum + (tden - 1)) / tden
    ).cast("bigint")
    prefix = ranked.filter(
        F.col("rn") <= F.col("sz") - ceil_t_sz + 1
    ).select("id", "sz", "s")

    if gate(
        "PREFIX_JACCARD_MAX_CAND",
        _pair_count(prefix, "s"),
        2_000_000,
        max_cand,
        event="prefix_filter_jaccard_pairs: prefix candidate bound "
        "exceeds the budget; falling back to banded MinHash "
        "candidates with the same exact count verification — a "
        "high-recall subset (tier='lsh_subset')",
    ).over:
        lsh = minhash_lsh_candidates(
            docs,
            id_col=id_col,
            text_col=text_col,
            shingle_k=shingle_k,
        ).select(
            F.col("doc_id_a").alias("id_a"),
            F.col("doc_id_b").alias("id_b"),
        )
        # per-pair array_intersect on HASHED shingle arrays —
        # measured faster here than the (pairs × shingles) token
        # join (44.8s → the ngram fallback's regime): the pair
        # stream shuffles once per side with the arrays riding
        # along, instead of exploding candidates × |d| rows.
        # Two scale levers (r7; the sf10 sharded corpus measured
        # 461M candidates and the STRING-array verify spilled
        # >60 GB of shuffle):
        # 1. arrays ride as xxhash64 longs (8 B/shingle vs ~20 B
        #    string cells) built lambda-free via explode +
        #    collect_list (rule 10 — no HOF transform in an
        #    oracle-light path; the recall test value-pins n_shared
        #    against the exact tier, so a 64-bit collision is a
        #    red row, same contract as duplicate_spans' keys);
        # 2. the AllPairs SIZE FILTER runs before any array rides:
        #    J >= tnum/tden forces tden·min(|a|,|b|) >=
        #    tnum·max(|a|,|b|) — pairs failing it carry 16 bytes,
        #    not two arrays.
        hsh = (
            raw.select("id", F.explode("sh").alias("s"))
            .select("id", F.xxhash64("s").alias("h"))
            .groupBy("id")
            .agg(F.collect_list("h").alias("hs"))
        )
        sz_a = raw.select(
            F.col("id").alias("id_a"),
            F.col("sz").alias("size_a"),
        )
        sz_b = raw.select(
            F.col("id").alias("id_b"),
            F.col("sz").alias("size_b"),
        )
        sized = (
            lsh.join(sz_a, "id_a")
            .join(sz_b, "id_b")
            .filter(
                F.least("size_a", "size_b") * tden
                >= F.greatest("size_a", "size_b") * tnum
            )
        )
        sa = hsh.select(
            F.col("id").alias("id_a"),
            F.col("hs").alias("hs_a"),
        )
        sb = hsh.select(
            F.col("id").alias("id_b"),
            F.col("hs").alias("hs_b"),
        )
        # Single-evaluation gate (functions/gate.py, r11): the
        # withColumn+filter form pushed the rational threshold —
        # which references n_shared THREE times — into the hs_b
        # join condition, so every candidate paid 3 interpreted
        # array_intersect evaluations (plus 2 more per survivor in
        # the projection). The gate evaluates it exactly once.
        from afg_data_pipeline_spark.functions.gate import (
            filter_once,
        )

        shared = filter_once(
            sized.join(sa, "id_a").join(sb, "id_b"),
            F.size(
                F.array_intersect(F.col("hs_a"), F.col("hs_b"))
            ).cast("bigint"),
            lambda ns: ns * tden
            >= (F.col("size_a") + F.col("size_b") - ns) * tnum,
            "n_shared",
        )
        jacf = F.col("n_shared").cast("double") / (
            F.col("size_a")
            + F.col("size_b")
            - F.col("n_shared")
        ).cast("double")
        return shared.select(
            "id_a",
            "id_b",
            "n_shared",
            "size_a",
            "size_b",
            jacf.alias("jaccard"),
            F.lit("lsh_subset").alias("tier"),
        )

    pa = prefix.select(
        F.col("id").alias("id_a"),
        F.col("sz").alias("size_a"),
        "s",
    )
    pb = prefix.select(
        F.col("id").alias("id_b"),
        F.col("sz").alias("size_b"),
        "s",
    )
    cand = (
        pa.join(pb, "s")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "size_a", "size_b")
        .distinct()
    )
    ta = tok.select(F.col("id").alias("id_a"), "s")
    tb = tok.select(F.col("id").alias("id_b"), "s")
    inter = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "s"])
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    # exact rational threshold: J >= t  <=>  n·tden >= union·tnum
    # (never a double straddle); applied on SET-representative
    # pairs BEFORE the membership expansion
    rep_pairs = inter.filter(
        F.col("n_shared") * tden
        >= (
            F.col("size_a") + F.col("size_b") - F.col("n_shared")
        )
        * tnum
    )
    ma = members.select(
        F.col("setkey").alias("id_a"), F.col("id").alias("x")
    )
    mb = members.select(
        F.col("setkey").alias("id_b"), F.col("id").alias("y")
    )
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("x", "y").alias("da"),
            F.greatest("x", "y").alias("db"),
            "n_shared",
            F.when(F.col("x") < F.col("y"), F.col("size_a"))
            .otherwise(F.col("size_b"))
            .alias("sa"),
            F.when(F.col("x") < F.col("y"), F.col("size_b"))
            .otherwise(F.col("size_a"))
            .alias("sb"),
        )
    )
    within = (
        members.alias("m1")
        .join(
            members.alias("m2"),
            (F.col("m1.setkey") == F.col("m2.setkey"))
            & (F.col("m1.id") < F.col("m2.id")),
        )
        .select(
            F.col("m1.id").alias("da"),
            F.col("m2.id").alias("db"),
            F.col("m1.sz").alias("n_shared"),
            F.col("m1.sz").alias("sa"),
            F.col("m1.sz").alias("sb"),
        )
    )
    all_pairs = cross.unionByName(within)
    jac = F.col("n_shared").cast("double") / (
        F.col("sa") + F.col("sb") - F.col("n_shared")
    ).cast("double")
    return all_pairs.select(
        F.col("da").alias("id_a"),
        F.col("db").alias("id_b"),
        "n_shared",
        F.col("sa").alias("size_a"),
        F.col("sb").alias("size_b"),
        jac.alias("jaccard"),
        F.lit("exact").alias("tier"),
    )


def containment_pairs(
    docs: DataFrame,
    threshold_num: int = 4,
    threshold_den: int = 5,
    shingle_k: int = 2,
    min_grams: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_cand: int | None = None,
) -> DataFrame:
    """EXACT asymmetric-containment self-join: all DIRECTED document
    pairs (a -> b, a != b) with C(a->b) = |Sa ∩ Sb| / |Sa| >=
    threshold over bigram-shingle sets — the quote / subset
    detector that Jaccard dedup structurally misses (a 10-gram
    quote inside a 1000-gram page has Jaccard ~0.01 but
    containment 1.0). Output: (id_a contained, id_b container,
    n_shared, size_a, size_b, containment, tier).

    Candidate generation is the asymmetric prefix filter: order
    each doc's shingles by GLOBAL rarity (df ASC, shingle ASC) and
    keep the contained side's prefix of length
    |Sa| - ceil(t·|Sa|) + 1 — any b with overlap >= ceil(t·|Sa|)
    must share at least one PREFIX shingle of a. Unlike the
    symmetric AllPairs join (prefix_filter_jaccard_pairs above),
    the CONTAINER side must be indexed on its FULL shingle list
    (containment puts no bound relative to |Sb|) — tractable
    because prefixes hold the rarest shingles, so the join never
    touches the hot boilerplate postings. ``min_grams`` drops
    trivially small contained sides (a 1-shingle doc is "contained"
    everywhere).

    Exactness: the threshold is the exact rational
    n_shared·tden >= |Sa|·tnum (never a double straddle);
    containment itself is an exact-int IEEE division, bit-portable.
    Identical shingle SETS collapse to one representative before
    the pair machinery and expand back through the membership
    table (containment depends only on the sets), with
    within-group pairs emitted directly at containment 1 in both
    directions — the duplication-heavy-corpus lever that keeps the
    candidate join distinct-set-sized.

    TIERED CONTRACT (the prefix_jaccard pattern): the candidate
    bound Σ_s prefix_count(s)·df(s) is probed with one cheap
    aggregate; above ``max_cand`` (env AFG_CONTAINMENT_MAX_CAND,
    default 5M) the operator ANNOUNCES, on the package logger
    (stderr), a switch to joining only on
    prefix shingles below an ADAPTIVE global-df cap — the largest
    log2(df) bucket boundary whose cumulative candidate mass fits
    the budget (lowest bucket always kept). Every emitted pair
    stays exactly verified, but recall becomes a documented subset
    (tier='rare_gram_subset'); the oracle pins tier='exact', so a
    budget crossing red-rows rather than silently losing pairs."""
    from pyspark.sql import Window

    from afg_data_pipeline_spark.operators.text import (
        shingle_expr,
        tokens,
    )

    tnum, tden = threshold_num, threshold_den
    raw = (
        docs.select(
            F.col(id_col).alias("id"),
            tokens(text_col).alias("__toks"),
        )
        .select(
            "id",
            F.array_sort(
                F.array_distinct(
                    shingle_expr("__toks", shingle_k)
                )
            ).alias("sh"),
        )
        .withColumn("sz", F.size("sh").cast("bigint"))
        .withColumn(
            "setkey",
            F.md5(F.concat_ws("\x1f", F.col("sh"))),
        )
        .localCheckpoint(eager=False)
    )
    members = raw.select("id", "setkey", "sz")
    groups = raw.groupBy("setkey").agg(
        F.min("id").alias("rep")
    )
    base = raw.join(
        groups.select(
            F.col("setkey").alias("__gk"), F.col("rep")
        ),
        (raw.setkey == F.col("__gk")) & (raw.id == F.col("rep")),
    ).select("setkey", "sh", "sz")
    tok = base.select(
        F.col("setkey").alias("id"),
        "sz",
        F.explode("sh").alias("s"),
    )
    dfreq = tok.groupBy("s").agg(
        F.count(F.lit(1)).alias("df")
    )
    w = Window.partitionBy("id").orderBy("df", "s")
    ranked = (
        tok.join(dfreq, "s")
        .withColumn("rn", F.row_number().over(w))
    )
    ceil_t_sz = F.floor(
        (F.col("sz") * tnum + (tden - 1)) / tden
    ).cast("bigint")
    prefix = ranked.filter(
        (F.col("sz") >= min_grams)
        & (F.col("rn") <= F.col("sz") - ceil_t_sz + 1)
    ).select("id", "sz", "s", "df")

    bound = (
        prefix.groupBy("s")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.first("df").alias("__df"),
        )
        .agg(
            F.sum(
                F.col("__n").cast("decimal(38,0)")
                * F.col("__df").cast("decimal(38,0)")
            ).alias("p")
        )
    )
    probe = gate(
        "CONTAINMENT_MAX_CAND",
        bound,
        5_000_000,
        max_cand,
        event="containment_pairs: candidate bound exceeds the "
        "budget; joining only rare prefix shingles — pairs stay "
        "exactly verified, recall is a documented subset "
        "(tier='rare_gram_subset')",
    )
    tier = "exact"
    if probe.over:
        # ADAPTIVE df cap: per-log2(df)-bucket candidate mass
        # (<= 64 rows collected), then keep ascending buckets while
        # the cumulative candidate count fits the budget — the cap
        # tracks the corpus's actual df distribution instead of a
        # fixed constant that a degenerate corpus sails past. The
        # lowest bucket is always kept (else the fallback returns
        # only exact-dup pairs), so worst-case work is that
        # bucket's mass — linear in prefix rows when df is flat.
        # collect-bound: <=64 log2(df) buckets (value-space-bounded)
        hist = (
            prefix.groupBy(
                F.floor(F.log2("df")).cast("int").alias("b")
            )
            .agg(
                F.sum(
                    F.col("df").cast("decimal(38,0)")
                ).alias("w")
            )
            # collect-bound: <=64 log2(df) buckets
            .collect()
        )
        cum = 0
        cap_b = None
        for r in sorted(hist, key=lambda r: r["b"]):
            if cap_b is not None and cum + int(r["w"]) > probe.budget:
                break
            cum += int(r["w"])
            cap_b = r["b"]
        df_cap = 2 ** (cap_b + 1) - 1
        announce(
            "containment_pairs: rare-gram df cap chosen",
            df_cap=df_cap,
            candidates=cum,
        )
        prefix = prefix.filter(F.col("df") <= df_cap)
        tier = "rare_gram_subset"

    pa = prefix.select(
        F.col("id").alias("id_a"),
        F.col("sz").alias("size_a"),
        "s",
    )
    full_b = tok.select(
        F.col("id").alias("id_b"),
        F.col("sz").alias("size_b"),
        "s",
    )
    # Size filter AT the candidate join: C >= t forces
    # |Sb| >= ceil(t·|Sa|) (the intersection can't exceed |Sb|) —
    # pairs failing it never carry anything further.
    # NO dedup before verification: a pair enters once per shared
    # A-prefix shingle (multiplicity <= prefix length), and
    # deduplicating 14M candidate rows costs a 1.2 GB groupBy
    # shuffle (measured 9.2s of the query's 19s at sf0.1) while
    # re-verifying a duplicate costs one in-task array_intersect
    # (~4µs). Survivors are threshold-filtered first and THEN
    # distinct'd — a tiny set. In the broadcast regime (hash
    # tables under the autoBroadcast threshold) the candidate
    # stream itself stays map-side; the one shuffle on that path
    # is the (small, pre-expansion) width-pin repartition below.
    # Explicit-count keyed repartition pins the candidate join's
    # width: the join EXPANDS a few MB of prefix postings into
    # millions of candidate verifications, and AQE coalesces the
    # post-shuffle stage from the pre-expansion bytes (measured at
    # sf0.1: the whole verify ran in 5 tasks, 11.5s executor —
    # rule 3). A REPARTITION_BY_NUM shuffle is exempt from AQE
    # coalescing and the other join side aligns to it, so the same
    # exchange runs at full width; no extra shuffle (verified 1 vs
    # 32 tasks in a controlled experiment).
    n_par = docs.sparkSession.sparkContext.defaultParallelism
    cand = pa.repartition(n_par, "s").join(full_b, "s").filter(
        (F.col("id_a") != F.col("id_b"))
        & (F.col("size_b") * tden >= F.col("size_a") * tnum)
    )
    # Verify by riding xxhash64 shingle arrays (8 B/shingle) and
    # one native array_intersect per candidate — measured regime
    # from prefix_filter_jaccard_pairs' fallback: the exploded
    # (candidates × |Sa|) join+agg costs minutes on a degenerate
    # corpus (30-word vocabulary, every posting hot: 14M candidates
    # × ~40 grams = 560M join rows at sf0.1, measured 118s/query)
    # while the array ride shuffles each candidate once. Arrays
    # are built lambda-free via explode + collect_list (rule 10);
    # a 64-bit collision would surface as an oracle red row, never
    # silently.
    hsh = tok.groupBy("id").agg(
        F.collect_list(F.xxhash64("s")).alias("hs")
    )
    sa_h = hsh.select(
        F.col("id").alias("id_a"), F.col("hs").alias("hs_a")
    )
    sb_h = hsh.select(
        F.col("id").alias("id_b"), F.col("hs").alias("hs_b")
    )
    # Shape note (measured, r11): the fold-once Generate gate
    # (functions/gate.py) was tried on this verify and REVERTED —
    # containment_near_dup 4.81 -> 5.16s at sf0.1 (min-of-4, same
    # boot; _dedup_keep flat within noise). Survivors are a tiny
    # fraction of candidates at C >= 0.8, so the pushed
    # join-condition intersect costs ~1 eval/candidate while the
    # gate pays a per-candidate Generate row copy of both xxhash64
    # shingle arrays. The duplicate evaluation is bounded by the
    # (small) survivor count — keep the select+filter form.
    inter = (
        cand.join(sa_h, "id_a")
        .join(sb_h, "id_b")
        .select(
            "id_a",
            "id_b",
            "size_a",
            "size_b",
            F.size(
                F.array_intersect(F.col("hs_a"), F.col("hs_b"))
            )
            .cast("bigint")
            .alias("n_shared"),
        )
    )
    rep_pairs = inter.filter(
        F.col("n_shared") * tden >= F.col("size_a") * tnum
    ).distinct()
    ma = members.select(
        F.col("setkey").alias("id_a"), F.col("id").alias("x")
    )
    mb = members.select(
        F.col("setkey").alias("id_b"), F.col("id").alias("y")
    )
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.col("x").alias("da"),
            F.col("y").alias("db"),
            "n_shared",
            "size_a",
            "size_b",
        )
    )
    within = (
        members.alias("m1")
        .join(
            members.alias("m2"),
            (F.col("m1.setkey") == F.col("m2.setkey"))
            & (F.col("m1.id") != F.col("m2.id")),
        )
        .filter(F.col("m1.sz") >= min_grams)
        .select(
            F.col("m1.id").alias("da"),
            F.col("m2.id").alias("db"),
            F.col("m1.sz").alias("n_shared"),
            F.col("m1.sz").alias("size_a"),
            F.col("m2.sz").alias("size_b"),
        )
    )
    all_pairs = cross.unionByName(within)
    cont = F.col("n_shared").cast("double") / F.col(
        "size_a"
    ).cast("double")
    return all_pairs.select(
        F.col("da").alias("id_a"),
        F.col("db").alias("id_b"),
        "n_shared",
        "size_a",
        "size_b",
        cont.alias("containment"),
        F.lit(tier).alias("tier"),
    )
