"""Skew-gated corpus-wide occurrence counts.

Several profile operators (C4 boilerplate-line dedup, Lee-et-al
duplicate-span counting, CDC chunk dedup) attach to every row of an
exploded stream the COUNT of its key across the whole corpus.  The
cheap form is a COUNT window partitioned by the key: one shuffle and
a single evaluation of the (expensive) stream.  Its ceiling is key
skew — AQE skew-split works on JOIN shuffles, not window partitions,
so a pathologically hot key (an empty line, ``---``, a boilerplate
footer occurring in a large fraction of all documents at crawl
scale) serializes every one of its rows into ONE task.

``corpus_key_count`` keeps the window as the default physical plan
and gates it on measured stats, the same stats-driven path choice
``operators/prefixsum.sharded_cumsum`` uses (the AQE idea applied
where AQE cannot see):

1. PROBE — build the stream over a small fraction of the
   pre-expansion rows (documents) and count keys in the sample.  A
   key whose corpus total is H rows spread over the corpus appears
   ~H x fraction times in the sample, so catastrophic keys (the
   only ones the window cannot survive) are detected with near
   certainty, for ~fraction of one stream evaluation.
2. COLD PATH (no hot candidate, the common case) — the plain
   single-evaluation COUNT window, unchanged.
3. HOT PATH — the stream is localCheckpoint()ed once (it now feeds
   multiple branches, CLAUDE.md rule 12); exact counts of ONLY the
   candidate keys come from a map-side-combinable groupBy (a hot
   key's partial counts are distributed across input tasks, never
   serialized) and are broadcast-joined back; all remaining keys
   take the window, which by construction no longer contains a
   catastrophic partition.

Both paths attach the SAME count to the same rows — the groupBy
count and the window count are the same aggregate — so outputs are
bit-identical and the oracle rows stay green no matter which path
ran.  Misclassification is therefore a performance question only:
a hot key that dodges the probe (possible only when its rows are
concentrated in very few documents, which also bounds its window
partition) degrades gracefully to the old behavior.

Knobs (env):
- ``AFG_CORPUS_COUNT_HOT_ROWS`` (default 2,000,000): corpus rows
  per key above which the key is routed off the window.
- ``AFG_CORPUS_COUNT_PROBE_FRACTION`` (default 0.02): document
  sample fraction for the probe.  ``0`` disables the probe and
  forces the plain window (old behavior).

The probe runs eagerly at plan-construction time (two small jobs:
the sampled count and, on the hot path, the checkpoint) — the same
contract as ``ngram_jaccard_dups``'s tier probe; engaging the hot
path is announced on the package logger (stderr, never stdout;
``functions/tier.announce``), never silent.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from afg_data_pipeline_spark.functions.tier import announce, budget

__all__ = ["corpus_key_count"]

# Hard bound on how many hot-key rows the driver will hold: keys hot
# at threshold H among N corpus rows number at most N/H (250k at
# H=2M over 5e11 rows), and the probe's conservative cut admits at
# most ~4x that.  The cap is a safety net, not a working limit.
_MAX_HOT_KEYS = 1_000_000

# The probe only pays for itself when a CORPUS-SPREAD hot key is
# possible: such a key needs >= hot_rows/multiplicity documents
# (boilerplate repeats a bounded number of times per doc — allow a
# generous 64x).  Below that document count the probe is skipped via
# a metadata-only count (no text bytes read): a hot key could then
# only be DOC-CONCENTRATED, and the consuming operators' own per-doc
# windows/groupBys serialize that document anyway, so the corpus
# COUNT window is not the binding constraint.
_PER_DOC_MULTIPLICITY_ALLOWANCE = 64


def _hot_candidates(
    sample_stream: DataFrame,
    key_col: str,
    min_sample_rows: int,
) -> list:
    """Keys whose SAMPLE count clears the (conservative) threshold.

    Returns plain key values (collected; bounded by construction —
    at most sample_rows / min_sample_rows keys can qualify).
    """
    rows = (
        sample_stream.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= min_sample_rows)
        .select(key_col)
        .limit(_MAX_HOT_KEYS)
        .collect()
    )
    return [r[0] for r in rows]


def corpus_key_count(
    base: DataFrame,
    build_stream: Callable[[DataFrame], DataFrame],
    key_col: str,
    out_col: str = "c",
    hot_rows: int | None = None,
    probe_fraction: float | None = None,
    seed: int = 7,
) -> DataFrame:
    """``build_stream(base)`` plus ``out_col`` = corpus-wide count of
    ``key_col``, computed skew-safely.

    ``base`` is the PRE-EXPANSION frame (documents); the probe
    samples it so the stream builder runs at sample cost.
    ``build_stream`` must be a pure function of its input frame —
    it is invoked on the sample and on the full frame.
    """
    hot_rows = budget("CORPUS_COUNT_HOT_ROWS", 2_000_000, hot_rows)
    probe_fraction = budget(
        "CORPUS_COUNT_PROBE_FRACTION", 0.02, probe_fraction
    )

    plain_window = F.count(F.lit(1)).over(Window.partitionBy(key_col))

    if probe_fraction <= 0.0:
        return build_stream(base).withColumn(out_col, plain_window)

    # Metadata-only guard (parquet count-star, no text bytes): too
    # few documents for a corpus-spread hot key -> skip the probe.
    n_docs = base.count()
    if n_docs * _PER_DOC_MULTIPLICITY_ALLOWANCE < hot_rows:
        return build_stream(base).withColumn(out_col, plain_window)

    probe_fraction = min(probe_fraction, 1.0)
    # A key at the H-row threshold shows ~H*p sample rows; cut at a
    # quarter of that (floor 2) so borderline-hot keys are caught.
    min_sample_rows = max(2, int(hot_rows * probe_fraction * 0.25))
    # LIMIT slab, not row-level .sample(): sample() filters AFTER
    # the scan, so a 2% probe still read 100% of the text bytes —
    # measured ~0.4s of the ~0.9s per-call probe constant at sf10.
    # limit() stops at the needed partitions (fraction-of-scan
    # cost). A corpus-spread hot key (the only kind the gate
    # exists for) appears in any slab; the probe is a PERF-only
    # decision — both paths are bit-identical — so slab bias can
    # only cost speed, never correctness, and a key hot only
    # outside the slab degrades gracefully to the old window
    # behavior.
    sample = (
        base
        if probe_fraction >= 1.0
        else base.limit(max(1, int(n_docs * probe_fraction)))
    )
    hot_keys = _hot_candidates(
        build_stream(sample), key_col, min_sample_rows
    )
    if not hot_keys:
        return build_stream(base).withColumn(out_col, plain_window)

    announce(
        "corpus_key_count: hot-key gate engaged (counts via "
        "broadcast join; cold keys stay on the window)",
        candidate_keys=len(hot_keys),
        AFG_CORPUS_COUNT_HOT_ROWS=hot_rows,
    )
    spark = base.sparkSession
    stream = build_stream(base).localCheckpoint(eager=True)
    key_field = next(
        f for f in stream.schema.fields if f.name == key_col
    )
    hot_df = spark.createDataFrame(
        [(k,) for k in hot_keys], schema=type(stream.schema)([key_field])
    )
    # Exact counts of ONLY the candidates: map-side-combinable
    # partial aggregation, so the hot key's rows are counted in
    # parallel across input partitions.
    hot_counts = (
        stream.join(F.broadcast(hot_df), key_col, "left_semi")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias(out_col))
    )
    out_cols = [*stream.columns, out_col]
    cold = (
        stream.join(F.broadcast(hot_df), key_col, "left_anti")
        .withColumn(out_col, plain_window)
        .select(*out_cols)
    )
    # Equi-joins move the key column first — restore stream order.
    hot = stream.join(F.broadcast(hot_counts), key_col).select(
        *out_cols
    )
    return hot.unionByName(cold)
