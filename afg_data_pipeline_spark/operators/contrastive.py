"""Contrastive training-pair mining for embedding/retrieval models:
positives from the near-dup pipeline, negatives by deterministic
bucket probing — the (anchor, positive, negatives...) triplets a
contrastive fine-tune consumes, produced with zero RNG state so
every engine/retry/partitioning yields the identical pair set.

Negative sampling at scale is the interesting part: "pick m random
corpus docs per anchor" naively needs either RNG state
(irreproducible) or a rank join (a corpus-wide row_number — one
task). Instead the corpus is hashed into B md5 buckets, each bucket
reduced to one representative (its min doc id — a tiny
map-side-combinable aggregate), and anchor a probes buckets
(a + i·STRIDE) mod B for i in 1..m. The bucket-rep table is B rows
— broadcast — so negative assignment is a projection + tiny join,
independent of corpus size; md5 bucketing decorrelates bucket
membership from ids, and the probe stride scatters anchors across
buckets. Collisions (rep == anchor or rep is a positive of the
anchor) are dropped and reported per-anchor rather than silently
resampled (resampling would need data-dependent iteration; the
drop rate is ~(1 + deg)/B per probe, negligible for B >> m).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: probe stride, co-prime with any power-of-two bucket count
STRIDE = 40503

#: SQL expression template for the portable md5 bucket: the first
#: two hex digits decoded via instr() (both engines lack a hex→int
#: cast that the other reproduces; CLAUDE.md rule 5 bans conv()),
#: giving a uniform value in [0, 256) → pmod to the bucket count.
#: {col} must be a BIGINT/string column reference.
_BUCKET_SQL = (
    "pmod((instr('0123456789abcdef', substr(md5(cast({col} as "
    "string)), 1, 1)) - 1) * 16 + instr('0123456789abcdef', "
    "substr(md5(cast({col} as string)), 2, 1)) - 1, {b})"
)


def contrastive_pairs(
    docs: DataFrame,
    positives: DataFrame,
    id_col: str = "doc_id",
    n_negatives: int = 3,
    n_buckets: int = 64,
) -> DataFrame:
    """(anchor_id, partner_id, label) rows: every (a, b) positive
    pair contributes both directions as label='pos' (anchor a with
    partner b, and anchor b with partner a), and each DISTINCT
    anchor gets up to ``n_negatives`` label='neg' partners via
    bucket probing.

    ``positives``: (id_a, id_b) near-dup pairs (id_a < id_b), e.g.
    minhash_lsh_candidates thresholded.
    """
    # ``pos`` feeds THREE plan branches (the emitted positive rows,
    # the distinct-anchor spine, and the already-positive anti-join)
    # and its upstream is whatever candidate pipeline the caller
    # built — typically the full MinHash LSH + exact-Jaccard verify.
    # Without materialization each branch re-runs that pipeline
    # (measured at sf0.1: the band-join+verify stream executed 3x,
    # 4.5s -> 2.x s with the checkpoint). The checkpointed frame is
    # two id columns per row — rule-12 territory, far from the
    # rule-17 recompute boundary. eager=False does not make this
    # call free under AQE: building the checkpointed plan runs every
    # shuffle stage upstream of it as a job, here in the builder (a
    # fresh aggregate + join launched 2 jobs; the distributed minhash
    # candidates behind ``positives`` launch 4). Only the final
    # stage's result waits for the first action.
    pos = (
        positives.select(
            F.col("id_a").alias("anchor_id"),
            F.col("id_b").alias("partner_id"),
        )
        .unionByName(
            positives.select(
                F.col("id_b").alias("anchor_id"),
                F.col("id_a").alias("partner_id"),
            )
        )
        .localCheckpoint(eager=False)
    )
    anchors = pos.select("anchor_id").distinct()
    reps = (
        docs.select(F.col(id_col).alias("cand"))
        .withColumn(
            "bucket",
            F.expr(
                _BUCKET_SQL.format(col="cand", b=n_buckets)
            ),
        )
        .groupBy("bucket")
        .agg(F.min("cand").alias("neg_id"))
    )
    probes = anchors.select(
        "anchor_id",
        F.explode(
            F.array(*[F.lit(i) for i in range(1, n_negatives + 1)])
        ).alias("i"),
    ).withColumn(
        "bucket",
        F.pmod(
            F.col("anchor_id") + F.col("i") * F.lit(STRIDE),
            F.lit(n_buckets),
        ),
    )
    negs = (
        probes.join(F.broadcast(reps), "bucket")
        .filter(F.col("neg_id") != F.col("anchor_id"))
        .join(
            pos.select(
                "anchor_id", F.col("partner_id").alias("neg_id")
            ),
            ["anchor_id", "neg_id"],
            "left_anti",
        )
        .select(
            "anchor_id", F.col("neg_id").alias("partner_id")
        )
        .distinct()
    )
    return pos.withColumn("label", F.lit("pos")).unionByName(
        negs.withColumn("label", F.lit("neg"))
    )
