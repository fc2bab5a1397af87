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

Positives that the minhash kernel computed from ``docs``
(``minhash_lsh_candidates`` below ``_setsim_local._LOCAL_MAX_CELLS``)
carry its numpy pair columns and the corpus ids it read
(``_local_frame``), and are mined on the driver (``_local_pairs``):
the same buckets, reps, probes and anti-join in exact int64 numpy, so
no Spark job, union, checkpoint, aggregate or join runs. Any input it
does not model keeps the distributed plan below.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegralType,
    LongType,
    StringType,
    StructField,
)

from afg_data_pipeline_spark.operators import _local_frame

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

_INT_MAX = (1 << 31) - 1
_LONG_MAX = (1 << 63) - 1


def _local_pairs(docs, positives, id_col, m, n_buckets):
    """contrastive_pairs' rows from the carried pair columns of
    ``positives`` and the corpus ids the kernel that made them read, or
    None for an input the distributed plan must keep: positives not
    carried from a kernel that read every ``id_col`` of ``docs``, ``m``
    or ``n_buckets`` below 1, ids that are not integral, or a probe
    that overflows Spark's result type (int, long for long ids; under
    ANSI the distributed plan raises)."""
    held = _local_frame.columns(positives)
    cand = _local_frame.ids_read(positives, docs, id_col)
    if cand is None or min(m, n_buckets) < 1:
        return None
    fa, fb = positives.schema["doc_id_a"], positives.schema["doc_id_b"]
    t = fa.dataType
    if not isinstance(t, IntegralType):
        return None
    a = np.asarray(held["doc_id_a"], dtype=np.int64)
    b = np.asarray(held["doc_id_b"], dtype=np.int64)
    anchor, partner = np.concatenate([a, b]), np.concatenate([b, a])
    anchors = np.unique(anchor)
    top = int(anchors[-1]) if len(anchors) else 0
    limit = _LONG_MAX if isinstance(t, LongType) else _INT_MAX
    if m * STRIDE > _INT_MAX or top + m * STRIDE > limit:
        return None
    cand = np.asarray(cand, dtype=np.int64)
    # the first digest byte is the two hex digits _BUCKET_SQL decodes
    byte = [hashlib.md5(b"%d" % c).digest()[0] for c in cand.tolist()]
    # per occupied bucket, its min id; the join drops empty buckets
    buckets, inv = np.unique(
        np.mod(np.array(byte, dtype=np.int64), n_buckets),
        return_inverse=True,
    )
    rep = np.full(len(buckets), _LONG_MAX, dtype=np.int64)
    np.minimum.at(rep, inv, cand)
    probe = np.mod(
        anchors[:, None] + np.arange(1, m + 1, dtype=np.int64) * STRIDE,
        n_buckets,
    ).ravel()
    hit = np.isin(probe, buckets)
    na = np.repeat(anchors, m)[hit]
    nn = rep[np.searchsorted(buckets, probe[hit])]
    keep = nn != na
    # distinct (anchor, rep) pairs that are no positive, as pair keys
    # over the ranks of every id involved
    vals, code = np.unique(
        np.concatenate([anchor, na[keep], partner, nn[keep]]),
        return_inverse=True,
    )
    half = len(code) // 2
    key = code[:half] * len(vals) + code[half:]
    neg = np.setdiff1d(key[len(anchor) :], key[: len(anchor)])
    na, nn = vals[neg // len(vals)], vals[neg % len(vals)]
    return _local_frame.make(
        positives.sparkSession,
        [
            StructField("anchor_id", t, fa.nullable or fb.nullable),
            # the distributed partner is nullable: reps are a min()
            StructField("partner_id", t, True),
            StructField("label", StringType(), False),
        ],
        [
            np.concatenate([anchor, na]),
            np.concatenate([partner, nn]),
            np.array(["pos"] * len(anchor) + ["neg"] * len(na), dtype=object),
        ],
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

    ``positives``: (doc_id_a, doc_id_b) near-dup pairs
    (doc_id_a < doc_id_b), as minhash_lsh_candidates (thresholded)
    returns them for ``docs``. Passed on unchanged, the driver minhash
    kernel's frame takes ``_local_pairs``.
    """
    local = _local_pairs(docs, positives, id_col, n_negatives, n_buckets)
    if local is not None:
        return local
    # Distributed path. ``pos`` feeds THREE plan branches (the
    # emitted positive rows, the distinct-anchor spine, and the
    # already-positive anti-join) and its upstream is whatever
    # candidate pipeline the caller built — typically the full
    # MinHash LSH + exact-Jaccard verify.
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
            F.col("doc_id_a").alias("anchor_id"),
            F.col("doc_id_b").alias("partner_id"),
        )
        .unionByName(
            positives.select(
                F.col("doc_id_b").alias("anchor_id"),
                F.col("doc_id_a").alias("partner_id"),
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
