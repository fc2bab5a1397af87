"""sf1 scale-validation sweep of the heavy pipelines.

The driver ships sf0.001/0.01/0.1 only; the scale claims of the
dedup/ANN pipelines bind where the per-query scheduling floor stops
dominating, so this tool derives a deterministic sf1 from sf0.1
(10× the documents/embeddings rows) and runs the heavy queries
Spark-vs-DuckDB at that scale.

Derivation (seedless, reproducible): shard k ∈ 0..9 copies every
sf0.1 row with
  doc_id/vec_id -> id + k * ceil_pow10(max_id + 1)
  text          -> text || ' shardK'  (distinct docs; shard copies
                   remain NEAR-dups of each other — deliberate: a
                   ~10%-duplication corpus is what web-crawl dedup
                   actually sees, so the dedup pipelines get
                   realistic positive structure that grows linearly)
  embedding     -> circular rotation by k positions — norm- and
                   distribution-preserving, but decorrelates shard
                   copies (rotating a random vector yields an
                   essentially independent direction), so semantic
                   near-dup structure grows linearly instead of
                   every vector acquiring 9 planted twins.
Shard 0 is byte-identical to sf0.1.

embedding_near_dup_lsh runs in its PRODUCTION configuration, not
the registered sf0.01-oracle one: SRP candidate volume is
T·n²/2^(p+1) (occupancy-driven — threshold only filters AFTER
verification), so n_planes must track log2(corpus); the registered
(p=2, T=6) tuned for the sf0.01 low-threshold regime would melt at
650k vectors by design. Here p=16/T=4/threshold=0.9 — the
occupancy-constant shape a 100 TB deployment uses — with the
matching parameterized DuckDB oracle from _srp_lsh_oracle_sql, so
the comparison stays apples-to-apples. (Recall at cosine 0.9 with
these parameters is ~(1-(1-0.856^16)^4) ≈ 0.29; production dedup
thresholds of 0.95+ push per-table collision to 0.93^16 ≈ 0.30 and
recall to ~0.76 — the familiar LSH recall/cost curve, documented
rather than hidden.)

Usage: python tools/bench_sf1.py [outdir] [query ...]
Env: SPARK_GRAFT_SFN (target scale factor, default 1: shards =
     10·sfn copies of sf0.1 — sfn=3 and sfn=10 exist to ratio-grade
     the queries whose sf1 gap is scheduling-floor-dominated at a
     scale where DuckDB itself does >=1s of work per query; round-4
     verdict item 3).
Writes parquet under outdir (default /tmp/afg_sf{sfn}); timing,
the printed rows and the outdir/sf1_results.jsonl log are
tools/measure.compare's.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.measure import compare, duck, session  # noqa: E402

HEAVY = [  # cheap-first so partial sweeps still bank results
    "pack_token_stream",
    "adaptive_length_filter",
    "kmeans_cluster_assign",
    "duplicate_span_detect",
    "duplicate_span_extract",
    "tfidf_doc_pairs",
    "winnow_fingerprints",
    "winnow_candidate_pairs",
    "semantic_dedup_pairs",
    "incremental_near_dup",
    "contrastive_pairs",
    "dedup_keep_best",
    "content_defined_chunks",
    "chunk_dedup_profile",
    "bpe_train_merges",
    "ngram_jaccard_dups",
    "near_dup_components",
    "near_dup_components_star",
    "minhash_near_dup",
    "embedding_near_dup_lsh",
    # round-5 additions
    "dsir_importance_scores",
    "dsir_selected_corpus",
    "contamination_report",
    "ann_funnel_topk",
    "ann_pq_topk",
    "ann_ivfpq_topk",
    # round-6 additions
    "boilerplate_line_dedup",
    "hamming_topk",
    "bpe_train_merges_fast",
    "bpe_tokenize",
    "pack_token_sequences",
    "semantic_dedup_keep",
    # round-6 late additions
    "pca_top_component",
    "bloom_prefilter_dedup",
    "unigram_tokenize",
    "heavy_hitters_cms",
    # round-6 continuation: IVM, basket mining, skew diagnostics,
    # CDC capture, novelty/vocab curves
    "incremental_join_maintenance",
    "gram_novelty_scores",
    "frequent_item_pairs",
    "key_skew_profile",
    "join_key_skew",
    "snapshot_cdc_extract",
    "vocab_growth_curve",
    "zorder_skipping_report",
    "bm25_topk",
    "ann_sq8_topk",
    "event_transition_matrix",
    "weighted_sssp_dist",
    "chisq_independence",
    "lpa_communities",
    "kcore_vertices",
    "rfm_segments",
    "dataset_card_report",
    "bm25_persisted",
    "prefix_jaccard_pairs",
    "purchase_attribution",
    "time_weighted_value",
    "rank_normalize_values",
    "association_rules",
    # round-6 continuation-4: classifier/eval/skyline/sequences
    "nb_classify_lang",
    "classifier_eval_auc",
    "pareto_frontier",
    "image_phash_near_dup",
    "sequence_pattern_counts",
    "top_event_paths",
    "classifier_eval_report",
    "robust_outlier_flags",
    "score_calibration_bins",
    "seasonal_anomaly_flags",
    "survival_curve_km",
    "entity_resolution_clusters",
    # round-7 additions
    "simhash_band_near_dup",
    "tokenizer_fertility",
    "corpus_minhash_similarity",
    "label_noise_report",
    "bootstrap_ci_mean",
    "funnel_step_latency",
    "zipf_fit_report",
    "gini_user_spend",
    "correlation_matrix",
    "ab_test_welch",
    "k_anonymity_report",
    "distribution_drift_psi",
    "ols_multifeature",
    "dedup_cluster_stats",
    "cross_source_dup_matrix",
    "winsorized_stats",
    "sequence_pattern3_counts",
    "wordpiece_encode_stats",
    "readability_scores",
    "markov_steady_state",
    # round-8 additions
    "wordpiece_train_merges",
    "hamming_band_recall_audit",
    "filter_funnel_report",
    "logistic_newton_purchase",
    "boilerplate_span_scrub",
    "training_order_shuffle",
    "embedding_stats_report",
    "dedup_threshold_sweep",
    "bucketed_join_revenue",
    "epoch_upsample_plan",
    "dataset_manifest",
    "containment_near_dup",
    "uncertainty_sample",
    "l_diversity_report",
    "kcenter_coreset_select",
    "containment_dedup_keep",
    "markov_removal_attribution",
    "t_closeness_report",
    "domain_reweight_mw",
    "mmr_diversified_topk",
    "kneser_ney_bigram_score",
    "embedding_domain_shift",
    "mi_feature_rank",
    "conformal_filter_threshold",
    "lsh_band_plan",
    "ece_calibration",
    "theil_sen_trend",
    "rrf_hybrid_rerank",
    "ks_two_sample_drift",
    "ab_test_mann_whitney",
    "doc_keywords_tfidf",
    # round-10 additions
    "tokenizer_fertility_families",
    "embedding_contamination_audit",
    # round-11 additions (quality-gate A/B at binding scale)
    "curate_corpus",
    "prep_training_corpus",
]

SFN = float(os.environ.get("SPARK_GRAFT_SFN", "1"))
N_SHARDS = round(10 * SFN)

# Oracles whose DuckDB cost at sf1 is prohibitive BY CONSTRUCTION
# of the sharded corpus: the deliberate ~10%-duplication structure
# turns every original doc into a 10-copy near-dup cluster, so
# pair-verification work grows ~100x on 10x data. Spark absorbs
# that in the salted/banded joins; DuckDB's quadratic SQL replica
# (already 110s at sf0.1, 21x behind Spark) extrapolates to hours.
# Spark timings still print; the row carries duck_s = None.
ORACLE_SKIP = {
    "ngram_jaccard_dups",
    "prefix_jaccard_pairs",
    # sequence_pattern3_counts: the triples CTE streams tens of
    # millions of (user, t1, t2, t3) rows into a full hash
    # DISTINCT; DuckDB ran >510s at sf1 (killed) where Spark's
    # map-side partial-aggregated DISTINCT finishes in 14.3s
    # (measured 2026-08-15) — correctness pins at sf0.01/sf0.1.
    "sequence_pattern3_counts",
    # containment_near_dup: brute-force all-ORDERED-pairs oracle
    # (50k docs -> 2.5e9 list_intersect pairs at sf1) is
    # prohibitive by construction; correctness pins at sf0.01.
    "containment_near_dup",
    "containment_dedup_keep",
    # embedding_contamination_audit: the oracle's candidate tier is
    # a brute eval x train CROSS JOIN with per-pair 64-element list
    # lambdas (~68B pairs at sf1) — prohibitive by construction;
    # correctness pins at sf0.01 (hash-exact both canon modes).
    "embedding_contamination_audit",
}
if SFN >= 10:
    # pack_token_sequences' oracle rebuilds every 256-token chunk
    # with list(ORDER BY) over a 44M-row exploded token table —
    # DuckDB 1.3.x bad_allocs there even with memory_limit=90GB +
    # temp_directory (list aggregates don't spill; measured
    # 2026-08-14). Spark materializes the same 170k chunks in
    # 13.4s. Spark timing still prints; duck_s = None.
    ORACLE_SKIP.add("pack_token_sequences")


def build_sf1(spark, src_dir: str, out_dir: str) -> None:
    """Materialize the 10× documents/embeddings tables (idempotent:
    skips tables whose parquet already exists)."""
    import pyspark.sql.functions as F

    docs_path = os.path.join(out_dir, "documents.parquet")
    emb_path = os.path.join(out_dir, "embeddings.parquet")

    if not os.path.exists(docs_path):
        docs = spark.read.parquet(f"{src_dir}/documents.parquet")
        max_id = docs.agg(F.max("doc_id")).collect()[0][0]
        stride = 10 ** len(str(max_id))
        shards = spark.range(N_SHARDS).select(
            F.col("id").alias("__shard")
        )
        big = (
            docs.crossJoin(F.broadcast(shards))
            .withColumn(
                "doc_id",
                F.col("doc_id") + F.col("__shard") * F.lit(stride),
            )
            .withColumn(
                "text",
                F.when(
                    F.col("__shard") == 0, F.col("text")
                ).otherwise(
                    F.concat(
                        F.col("text"),
                        F.lit(" shard"),
                        F.col("__shard").cast("string"),
                    )
                ),
            )
            .drop("__shard")
        )
        big.repartition(32).write.mode("overwrite").parquet(docs_path)

    if not os.path.exists(emb_path):
        emb = spark.read.parquet(f"{src_dir}/embeddings.parquet")
        max_id = emb.agg(F.max("vec_id")).collect()[0][0]
        stride = 10 ** len(str(max_id))
        shards = spark.range(N_SHARDS).select(
            F.col("id").alias("__shard")
        )
        dim = len(emb.select("embedding").first()[0])
        # Rotation amount mod dim: shard counts above the vector
        # length (sfn >= 6.4 -> >64 shards) must wrap, not feed
        # slice() a negative length. Wrapped shards repeat an
        # earlier shard's rotation — acceptable: rotation only
        # needs to decorrelate copies, and k and k+dim copies of
        # DIFFERENT base ids still differ.
        rot = f"(__shard % {dim})"
        rotated = F.when(
            F.expr(rot) == 0, F.col("embedding")
        ).otherwise(
            F.concat(
                F.expr(
                    f"slice(embedding, {rot} + 1, {dim} - {rot})"
                ),
                F.expr(f"slice(embedding, 1, {rot})"),
            )
        )
        big = (
            emb.crossJoin(F.broadcast(shards))
            .withColumn(
                "vec_id",
                F.col("vec_id") + F.col("__shard") * F.lit(stride),
            )
            .withColumn("embedding", rotated)
            .drop("__shard")
        )
        big.repartition(32).write.mode("overwrite").parquet(emb_path)

    # 10× orders/lineitem with per-shard orderkey offsets and the
    # dimension keys (cust/part/supp) UNshifted — the realistic
    # "10× more orders, same catalog/customer base" scaling, which
    # keeps every FK valid and scales join/basket/skew work
    # honestly (per-key counts ×N, join outputs up to ×N²). Older
    # out dirs hold sf0.1 symlinks for these; replace them.
    shards = spark.range(N_SHARDS).select(
        F.col("id").alias("__shard")
    )
    for t, kcol in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        dst = os.path.join(out_dir, f"{t}.parquet")
        if os.path.islink(dst):
            os.remove(dst)
        if os.path.exists(dst):
            continue
        df = spark.read.parquet(f"{src_dir}/{t}.parquet")
        stride = 10 ** len(
            str(df.agg(F.max(kcol)).collect()[0][0])
        )
        big = (
            # repartition BEFORE the expansion: the single-row-group
            # source scan is one task and AQE cannot see the ×N
            # blowup in its shuffle stats (CLAUDE.md rule 3)
            df.repartition(32)
            .crossJoin(F.broadcast(shards))
            .withColumn(
                kcol,
                F.col(kcol) + F.col("__shard") * F.lit(stride),
            )
            .drop("__shard")
        )
        big.write.mode("overwrite").parquet(dst)

    # 10× events with per-shard user_id/event_id offsets — "10×
    # more users, same event-type space": per-user work stays
    # constant while user-key parallelism scales, the honest
    # scaling for the sequence/path/session queries. Derive from
    # read_star_table's CONVERTED frame (µs NTZ), so the written
    # file carries a plain TIMESTAMP(MICROS, NTZ) column that both
    # engines read identically — never the raw INT64-nanos column
    # (CLAUDE.md rule 4).
    ev_dst = os.path.join(out_dir, "events.parquet")
    if os.path.islink(ev_dst):
        os.remove(ev_dst)
    if not os.path.exists(ev_dst):
        from afg_data_pipeline_spark.io import read_star_table

        ev = read_star_table(spark, "events", src_dir)
        uid_stride = 10 ** len(
            str(ev.agg(F.max("user_id")).collect()[0][0])
        )
        eid_stride = 10 ** len(
            str(ev.agg(F.max("event_id")).collect()[0][0])
        )
        big = (
            ev.repartition(32)
            .crossJoin(F.broadcast(shards))
            .withColumn(
                "user_id",
                F.col("user_id")
                + F.col("__shard") * F.lit(uid_stride),
            )
            .withColumn(
                "event_id",
                F.col("event_id")
                + F.col("__shard") * F.lit(eid_stride),
            )
            .drop("__shard")
        )
        big.write.mode("overwrite").parquet(ev_dst)

    for t in (
        "region nation customer supplier part orders lineitem events"
    ).split():
        dst = os.path.join(out_dir, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(f"{src_dir}/{t}.parquet", dst)


def _lsh_production_entry():
    """(spark_fn, oracle_sql) for the occupancy-scaled LSH config."""
    from afg_data_pipeline_spark.plans.llm_ops import (
        _srp_lsh_oracle_sql,
    )

    kw = dict(threshold=0.9, n_planes=16, n_tables=4, dim=64)

    def fn(spark, sf_dir):
        from afg_data_pipeline_spark.io import read_star_table
        from afg_data_pipeline_spark.operators.similarity import (
            lsh_near_dup_pairs,
        )

        emb = read_star_table(spark, "embeddings", sf_dir)
        return lsh_near_dup_pairs(
            emb, id_col="vec_id", vec_col="embedding", **kw
        )

    return fn, _srp_lsh_oracle_sql(**kw)


def main() -> None:
    default_dir = "/tmp/afg_sf" + ("%g" % SFN)
    out_dir = sys.argv[1] if len(sys.argv) > 1 else default_dir
    only = set(sys.argv[2:]) or set(HEAVY)
    src_dir = "/root/testdata/sf0.1"
    os.makedirs(out_dir, exist_ok=True)

    from afg_data_pipeline_spark.plans import REGISTRY

    spark = session("bench-sf1")
    build_sf1(spark, src_dir, out_dir)

    entries = []
    for name in HEAVY:
        if name not in only:
            continue
        if name == "embedding_near_dup_lsh":
            fn, oracle = _lsh_production_entry()
        elif name in REGISTRY:
            fn, oracle = REGISTRY[name].fn, REGISTRY[name].oracle
        else:
            continue
        entries.append((name, fn, None if name in ORACLE_SKIP else oracle))
    compare(
        spark,
        duck(out_dir, spill=True),
        entries,
        out_dir,
        log=os.path.join(out_dir, "sf1_results.jsonl"),
    )
    spark.stop()


if __name__ == "__main__":
    main()
