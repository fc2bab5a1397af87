"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``afg_data_pipeline_spark``; this module is
a thin adapter over its declared-query registry
(afg_data_pipeline_spark/plans/registry.py). Oracle-less entries
(pandas-UDF KNN imputation, sketch-based ops) get the driver's
rows-only check by design.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from afg_data_pipeline_spark.plans import REGISTRY

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The reference's production entry point is the emergency-visit
    loader (atenciones_urgencia.py:7-28): conjunctive filter +
    projection — here over the star-schema lineitem.
    """
    return REGISTRY["flagship_filter_project"].fn(spark, SMOKE_SF_DIR)


def _coverage_order(names: list[str]) -> list[str]:
    """Order query names least-driver-checked-first.

    The driver's CORRECTNESS run caps at the first 50 entries of
    queries(), so a fixed order starves the tail forever.  Reading
    the committed CORRECTNESS_r*.json files and sorting by
    (times checked, last round checked, name) rotates the window:
    never-checked queries lead, then the stalest — over rounds
    every registered query gets a driver-side green row.
    """
    import glob
    import json
    import os
    import re

    # Rounds recorded BEFORE a query's oracle changed shape don't count
    # as coverage: these four have r1 rows that predate their round-2
    # oracle upgrades (exact SQL replicas for the MinHash/SimHash/
    # components trio; the approx_quantiles canonicalizer crash fix),
    # so they must re-enter the driver window as if never checked.
    # INVARIANT (r11, ADVICE): each name appears EXACTLY ONCE — a
    # duplicate literal key silently keeps the last occurrence, so
    # bumping a query's round must EDIT its existing entry in place
    # (or move it to the new round's block), never append a second.
    stale_before = {
        "approx_quantiles": 2,
        # Round-3 code changes after these queries' last driver
        # row (sharded pack cumsum; SRP bucket-0 fix; brute guard
        # on nn_assign; sampling threshold refactor) — and round-4
        # changes (ANSI-proof convergence probes, integer-quantized
        # LM NLL, tiered ngram verification): their pre-change rows
        # don't certify current code, so re-enter the window.
        "pack_token_stream": 4,
        "ann_lsh_topk": 4,
        "ann_cosine_topk": 11,
        "stratified_sample_by_lang": 4,
        "weighted_sample_docs": 4,
        "domain_mixture_resample": 4,
        "train_val_test_split": 4,
        "bigram_lm_score": 4,
        "trigram_lm_score": 4,
        # (r12: pagerank now runs small graphs in the driver-side
        # int64 kernel of operators/graph.py — edited in place per
        # the single-occurrence invariant; bfs / sssp / kcore below)
        "pagerank_centrality": 12,
        # round-4 perf reworks (oracle-verified locally; pre-change
        # driver rows don't certify current code):
        "pricing_summary": 4,
        "q2_min_cost_supplier": 4,
        "tfidf_doc_pairs": 4,
        "simhash_signatures": 4,
        # round-5 code changes after the r4 rows (ADVICE fixes:
        # ngram tier column in the output schema; winnow over-cap
        # announcement; exact-rational percentile ranks; kmeans
        # dim inference) — re-enter the window:
        "winnow_candidate_pairs": 5,
        "adaptive_length_filter": 5,
        # The round-5 skew-gate commit (4bfc4ae) landed AFTER
        # CORRECTNESS_r05 was recorded, so its four consumers'
        # r≤5 rows predate the corpus_key_count rewrite:
        "duplicate_span_extract": 6,
        # round-6 code changes after the r5 rows (binarize fold +
        # stats-gated rerank; contamination array_distinct drop;
        # BPE _word_freqs refactor shared by the relational twins):
        "ann_funnel_topk": 11,
        "hamming_topk": 11,
        "contamination_report": 6,
        "bpe_train_merges": 6,
        "bpe_encode_stats": 6,
        # round-6 kmeans strategy gate (literal path unchanged for
        # k=8, but the module changed — re-certify):
        "kmeans_cluster_assign": 6,
        "semantic_dedup_pairs": 6,
        # round-6 ivf_assign n_probe=1 argmin-aggregate fast path:
        "ann_ivf_topk": 11,
        "ann_ivfpq_topk": 11,
        "ann_pq_topk": 11,
        # round-6 token-id additions (never driver-checked yet,
        # listed for clarity; zero prior rows sorts them first
        # anyway): bpe_vocab, bpe_tokenize, bpe_encode_stats_fast.
        # round-7 driver-canonicalization fixes (r6 red rows):
        # token_ids now a space-joined string projection, exposed
        # DECIMAL(38,0) columns string-cast on both sides — the
        # r6 ERR/FAIL rows predate the fix, re-enter the window:
        "bpe_tokenize": 7,
        "pack_token_sequences": 7,
        "join_key_skew": 7,
        # round-7 ADVICE fixes: connected_components' fixpoint
        # probe hardened with a SECOND seeded xxhash64 checksum sum
        # (count_distinct was evaluated and rejected as too slow —
        # operators/graph.py; outputs identical, code changed, so
        # consumers with prior rows re-certify); also the round-6
        # xxhash64-probe generalization for string vertex ids hit
        # the same three consumers:
        "seasonal_anomaly_flags": 7,
        # round-7 boilerplate count rewrite (hash groupBy +
        # broadcast flag; supersedes the r4/r6 entries above):
        # round-7 classify.py refactor (_scored_pairs extraction,
        # same plan, re-certify consumers with prior rows):
        "classifier_eval_auc": 7,
        # round-8 driver-canonicalization fixes (r7 red row class):
        # unigram token_ids string-projected; frame payload
        # projected to md5/length scalars:
        # round-8 oracle upgrade: full train+encode CTE oracle,
        # registered query re-pinned at n_merges=3 (r7 verdict #5):
        "wordpiece_encode_stats": 8,
        # round-8 resample-generator change (md5 slices -> counter
        # mixer; intervals differ by design, oracle in lockstep):
        "bootstrap_ci_mean": 8,
        # round-8 kernel changes: constant-key BroadcastHashJoin
        # replaces the interpreted-BNLJ pair streams in
        # brute_force_topk and classify._scored_pairs (plans
        # changed, values bit-identical) — consumers with prior
        # rows re-certify; t_closeness window-total rewrite:
        "ann_recall_audit": 11,
        "dim_truncation_recall_audit": 11,
        # round-9 grid completions rewritten to constant-key BHJs
        # (values unchanged, plans/code changed — re-certify):
        "mi_feature_rank": 11,
        "ks_two_sample_drift": 11,
        # round-10 ADVICE fixes: synth BMP b-channel now seed%256
        # driver-side (values change for big-seed docs — every
        # query reading decoded BMP pixels re-certifies);
        # lsh_band_plan's sample_docs now counts the pre-shingle
        # sample; conformal empty-eval guard; point_in_polygon
        # reserved-name guard (plan unchanged, module changed):
        "multimodal_pixel_histogram": 10,
        "multimodal_frame_manifest": 10,
        "multimodal_frame_sample": 10,
        "multimodal_features": 10,
        "multimodal_image_pipeline": 10,
        "image_phash_near_dup": 10,
        # (r11: lazy checkpoints — bumped to 11 below... edited in
        # place per the single-occurrence invariant)
        "lsh_band_plan": 11,
        "conformal_filter_threshold": 11,
        "point_in_polygon": 10,
        "points_per_polygon": 10,
        "polygon_geometry_report": 10,
        # round-10 collect-lint pass: unigram trainer now caps the
        # driver transfer with limit(max_vocab_rows+1) (same guard
        # semantics, code changed — re-certify the trainer's
        # consumers):
        "unigram_tokenize": 10,
        "unigram_seed_vocab": 10,
        # round-10 fold rewrite of point_in_polygon_join
        # (operators/spatial.py changed — every consumer of the
        # module re-enters the window, the kmeans-module
        # precedent; polygon family already listed above):
        "nn_assign": 11,
        "nn_assign_bucketed": 10,
        "nn_assign_grid2d": 10,
        "spatial_adjacency_graph": 10,
        "areal_reaggregation": 10,
        # r10 OPTIMIZATION round: rule-12 materialization
        # boundaries (triangle wedge join, contrastive positives,
        # NB class-score frame) and the lsh_band_plan explode/
        # sample rework — values bit-identical (re-verified both
        # canon modes locally), plans changed, so consumers
        # re-certify in the driver window:
        # (lsh_band_plan / conformal_filter_threshold /
        # mi_feature_rank already re-enter at 10 above.)
        "triangle_clustering": 10,
        "contrastive_pairs": 12,
        "uncertainty_sample": 11,
        "label_noise_report": 11,
        "score_calibration_bins": 11,
        "ece_calibration": 11,
        "classifier_eval_report": 11,
        "classifier_kappa": 11,
        "nb_classify_lang": 11,
        # r10 optimization batch 2: containment candidate-join
        # width pin (dedup.containment_pairs) and hits' degree-
        # derived normalizing totals (graph.hits) — values
        # bit-identical (both canon modes re-verified), plans
        # changed:
        "containment_near_dup": 10,
        "containment_dedup_keep": 10,
        "containment_recall_audit": 11,
        "hits_hub_authority": 10,
        # r10 optimization batch 3: inferred/pushed-filter fixes
        # (outer generates; raw-column null filter; sample-side
        # shingling) — values bit-identical, plans changed:
        "boilerplate_line_dedup": 10,
        "content_defined_chunks": 10,
        "chunk_dedup_profile": 10,
        # r10 optimization batch 4: minhash pair-dedup width pin
        # (dedup.minhash_lsh_candidates) — consumers re-certify:
        "minhash_near_dup": 12,
        "dedup_threshold_sweep": 12,
        "near_dup_components": 12,
        "near_dup_components_star": 12,
        # (r11: quality_score refactored through quality_score_of —
        # identical expression tree, module changed; re-certify)
        "corpus_after_dedup": 12,
        "dedup_keep_best": 12,
        "dedup_cluster_stats": 12,
        "cross_source_dup_matrix": 12,
        "lsh_recall_audit": 12,
        "split_leakage_report": 12,
        # r11 OPTIMIZATION round: single-evaluation Generate gates
        # (functions/gate.py) on the survivor-heavy pair verifies
        # and the pushed quality/length filters; size-bound
        # prefilter on the ngram verify; brute pair stream rebuilt
        # as a constant-key BHJ (rule 23) — values bit-identical
        # (re-verified both canon modes), plans changed:
        "ngram_jaccard_dups": 12,
        "embedding_near_dup_lsh": 11,
        "embedding_near_dup": 11,
        "readability_scores": 11,
        "curate_corpus": 11,
        "prep_training_corpus": 11,
        # r11 batch 2: attribute-derived constant join keys restore
        # the rule-23 BroadcastHashJoin on every pair stream whose
        # lit(1) key had constant-folded back to a BNLJ (ANN
        # ladder, NB classifier, hamming, nn_assign, gravity,
        # grid completions), plus the prefix-LSH verify gate —
        # values bit-identical, plans changed; consumers re-certify:
        "ann_ivfpq_persisted": 11,
        "ann_sq8_topk": 11,
        "gravity_flows": 11,
        "mmr_diversified_topk": 11,
        "prefix_jaccard_pairs": 12,
        # r11 batch 3 — values bit-identical, plans changed:
        # incremental_near_dup verifies through the filter_once gate
        # in streaming/incremental_dedup.py; corpus_minhash_similarity
        # calls minhash_lsh_candidates, whose signature changed
        # (threshold=):
        "incremental_near_dup": 11,
        "corpus_minhash_similarity": 11,
        # r12: small graphs iterate in the driver-side int64 numpy
        # kernels of operators/graph.py (bounded edge-list collect,
        # createDataFrame result) — values bit-identical to the
        # distributed path, result path changed:
        "bfs_hop_distances": 12,
        "weighted_sssp_dist": 12,
        "kcore_vertices": 12,
        # r12 set similarity: small corpora run ngram_jaccard_pairs'
        # exact tier and minhash_lsh_candidates in the driver-side
        # numpy kernels of operators/_setsim_local.py (bounded shingle
        # collect, createDataFrame result) — rows identical to the
        # distributed path, result path changed. Their thirteen
        # consumers were edited IN PLACE above (11 -> 12, the
        # single-occurrence invariant): ngram_jaccard_dups,
        # minhash_near_dup, contrastive_pairs, dedup_keep_best,
        # corpus_after_dedup, lsh_recall_audit, split_leakage_report,
        # cross_source_dup_matrix, dedup_cluster_stats,
        # near_dup_components(_star), dedup_threshold_sweep,
        # prefix_jaccard_pairs.
    }

    seen: dict[str, list[int]] = {n: [] for n in names}
    raw: dict[str, int] = {n: 0 for n in names}
    here = os.path.dirname(os.path.abspath(__file__))
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        for n in data:
            if n not in seen:
                continue
            raw[n] += 1
            if rnd >= stale_before.get(n, 0):
                seen[n].append(rnd)
    # Secondary key raw[n]: when zero-coverage entries exceed the
    # driver's 50-slot window, NEVER-checked queries (raw 0) must
    # outrank stale re-certifications (raw >= 1) — a stale query
    # has at least one historical green row, a never-checked one
    # has none.
    return sorted(
        names,
        key=lambda n: (
            len(seen[n]),
            raw[n],
            max(seen[n], default=0),
            n,
        ),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    order = _coverage_order(list(REGISTRY))
    return {name: REGISTRY[name].fn for name in order}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each SQL-expressible query."""
    return {
        name: q.oracle
        for name, q in REGISTRY.items()
        if q.oracle is not None
    }
