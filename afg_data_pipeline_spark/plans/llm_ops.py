"""Declared queries: LLM-data-pipeline operators (north star /
SURVEY.md §7 Phase 5) over the documents and embeddings tables.

Oracle parity notes (verified against DuckDB 1.0):
- split(trim(x), '\\s+')  ≡  regexp_split_to_array(trim(x), '\\s+')
- list_filter counts duplicates; array_intersect/list_intersect
  both dedup; regexp_replace needs 'g' in DuckDB.
- md5 hex strings are identical, so the md5-ordering MinHash and
  the decimal-fold cosine are engine-portable.
- SimHash (bit-matrix vote) and SRP-LSH ANN (recall<1 by design)
  are rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from afg_data_pipeline_spark.functions.tier import budget, gate
from afg_data_pipeline_spark.io import read_star_table
from afg_data_pipeline_spark.operators import text as TX
from afg_data_pipeline_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_signatures,
)
from afg_data_pipeline_spark.operators.multimodal import (
    extract_features,
)
from afg_data_pipeline_spark.operators.sampling import (
    fraction_threshold as _FT,
)
from afg_data_pipeline_spark.operators.similarity import (
    brute_force_topk,
    lsh_bucketed_topk,
    lsh_near_dup_pairs,
)
from afg_data_pipeline_spark.plans.registry import register

_STOP_SQL = {
    lang: "[" + ", ".join(f"'{w}'" for w in words) + "]"
    for lang, words in TX.STOPWORDS.items()
}


@register(
    "text_stats",
    oracle=f"""
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                    AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(
                    regexp_split_to_array(trim(text), '\\s+')))
                    AS BIGINT) AS n_distinct_tokens,
               CAST(length(text) AS BIGINT) AS n_chars_calc,
               CAST(len(regexp_extract_all(text,
                    '{TX.BPE_PATTERN}')) AS BIGINT) AS n_bpe_tokens,
               CAST(len(list_filter(
                    regexp_split_to_array(trim(text), '\\s+'),
                    t -> list_contains({_STOP_SQL["en"]}, t)))
                    AS BIGINT) AS n_stopwords,
               CAST(len(regexp_extract_all(text, '[.,!?;:]'))
                    AS BIGINT) AS n_punct,
               0.4 * (CAST(len(list_filter(
                          regexp_split_to_array(trim(text), '\\s+'),
                          t -> list_contains({_STOP_SQL["en"]}, t)))
                          AS DOUBLE)
                      / CAST(len(regexp_split_to_array(trim(text),
                          '\\s+')) AS DOUBLE))
               + 0.3 * least(1.0,
                     CAST(len(regexp_split_to_array(trim(text),
                         '\\s+')) AS DOUBLE) / 100.0)
               + 0.3 * (1.0 -
                     CAST(len(regexp_extract_all(text, '[.,!?;:]'))
                          AS DOUBLE)
                     / CAST(length(text) AS DOUBLE)) AS quality
        FROM documents
    """,
    ops=("TEXT",),
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token/char/punct/stopword stats + quality score.

    The length/stopword/punctuation quality trio of web-scale
    pretraining filters, one codegen projection pass, no UDF.
    """
    docs = read_star_table(spark, "documents", sf_dir)
    return TX.text_stats(docs)


_SCORE_COLS_SQL = ", ".join(
    "CAST(len(list_filter(regexp_split_to_array(trim(text), "
    f"'\\s+'), t -> list_contains({_STOP_SQL[lg]}, t))) AS BIGINT) "
    f"AS score_{lg}"
    for lg in TX.STOPWORDS
)


@register(
    "lang_id_heuristic",
    oracle=f"""
        WITH scored AS (
            SELECT doc_id, lang, {_SCORE_COLS_SQL}
            FROM documents
        )
        SELECT doc_id, lang, score_en, score_de, score_fr, score_es,
               CASE
                 WHEN score_en = greatest(score_en, score_de,
                                          score_fr, score_es)
                   THEN 'en'
                 WHEN score_de = greatest(score_en, score_de,
                                          score_fr, score_es)
                   THEN 'de'
                 WHEN score_fr = greatest(score_en, score_de,
                                          score_fr, score_es)
                   THEN 'fr'
                 ELSE 'es'
               END AS pred_lang
        FROM scored
    """,
    ops=("TEXT",),
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID with deterministic tie order."""
    docs = read_star_table(spark, "documents", sf_dir)
    scores = TX.lang_scores("text")
    return docs.select(
        "doc_id",
        "lang",
        *[scores[lg].alias(f"score_{lg}") for lg in TX.STOPWORDS],
        TX.lang_id("text").alias("pred_lang"),
    )


@register(
    "doc_fingerprint",
    oracle="""
        SELECT doc_id,
               list_aggregate(
                   list_transform(
                       CASE WHEN len(toks) < 3
                            THEN [concat_ws(' ', toks)]
                       ELSE list_transform(
                           generate_series(1, len(toks) - 2),
                           i -> toks[i] || ' ' || toks[i+1]
                                || ' ' || toks[i+2])
                       END,
                       s -> md5(s)),
                   'min') AS fingerprint
        FROM (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents
        )
    """,
    ops=("TEXT",),
)
def doc_fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-hash document fingerprint over word 3-shingles."""
    docs = read_star_table(spark, "documents", sf_dir)
    toks = docs.select("doc_id", TX.tokens("text").alias("toks"))
    return toks.select(
        "doc_id",
        TX.doc_fingerprint(TX.shingle_expr("toks", 3)).alias(
            "fingerprint"
        ),
    )


@register(
    "exact_dedup",
    oracle="""
        SELECT md5(text) AS digest,
               min(doc_id) AS keep_id,
               count(*) AS n_copies
        FROM documents
        GROUP BY md5(text)
    """,
    ops=("DEDUP",),
)
def exact_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content-hash dedup groups (digest shuffles, not text)."""
    docs = read_star_table(spark, "documents", sf_dir)
    return exact_dedup(docs)


@register(
    "ngram_jaccard_dups",
    oracle="""
        WITH tokd AS (
            SELECT lang AS g, doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents
        ),
        side AS (
            SELECT g, doc_id,
                   list_distinct(
                       CASE WHEN len(t) < 2
                            THEN [concat_ws(' ', t)]
                       ELSE list_transform(
                           generate_series(1, len(t) - 1),
                           i -> t[i] || ' ' || t[i+1])
                       END) AS toks
            FROM tokd
        )
        SELECT a.g AS lang, a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
               / CAST(len(a.toks) + len(b.toks)
                      - len(list_intersect(a.toks, b.toks))
                      AS DOUBLE) AS jaccard,
               'exact' AS tier
        FROM side a JOIN side b ON a.g = b.g
        WHERE a.doc_id < b.doc_id
          AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
              / CAST(len(a.toks) + len(b.toks)
                     - len(list_intersect(a.toks, b.toks))
                     AS DOUBLE) >= 0.5
    """,
    ops=("DEDUP",),
)
def ngram_jaccard_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-bigram-set Jaccard near-dups within a language
    block (unigram sets are degenerate on a shared vocabulary).
    Tiered at scale: beyond AFG_NGRAM_JACCARD_MAX_PAIRS exact
    candidate pairs (default 20M; a duplication-heavy corpus makes
    the exact tier the dominant job — measured 529.7s at sf1), the
    operator announces and switches to banded-MinHash candidates
    with the same exact-Jaccard verification (high-recall subset;
    see operators/dedup.ngram_jaccard_pairs). The active tier is a
    schema column (oracle pins 'exact'), so a budget-crossing run
    red-rows on the tier value rather than on silently missing
    pairs."""
    docs = read_star_table(spark, "documents", sf_dir)
    return ngram_jaccard_pairs(
        docs, group_col="lang", threshold=0.5, n=2
    )


@register(
    "repetition_signals",
    oracle="""
        WITH t AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents
        ), g AS (
            SELECT doc_id, toks,
                   CASE WHEN len(toks) < 2
                        THEN [array_to_string(toks, ' ')]
                        ELSE list_transform(
                            generate_series(1, len(toks) - 1),
                            i -> toks[i] || ' ' || toks[i + 1])
                   END AS bi,
                   CASE WHEN len(toks) < 3
                        THEN [array_to_string(toks, ' ')]
                        ELSE list_transform(
                            generate_series(1, len(toks) - 2),
                            i -> toks[i] || ' ' || toks[i + 1]
                                 || ' ' || toks[i + 2])
                   END AS tri
            FROM t
        )
        SELECT doc_id,
               1.0 - CAST(len(list_distinct(bi)) AS DOUBLE)
                     / CAST(len(bi) AS DOUBLE) AS dup_bigram_frac,
               1.0 - CAST(len(list_distinct(tri)) AS DOUBLE)
                     / CAST(len(tri) AS DOUBLE) AS dup_trigram_frac,
               CAST(list_max(list_transform(list_distinct(toks),
                        tk -> len(list_filter(toks, x -> x = tk))))
                    AS DOUBLE)
               / CAST(len(toks) AS DOUBLE) AS top_token_share
        FROM g
    """,
    ops=("TEXT",),
)
def repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition signals — the Gopher-rule family:
    duplicate-bigram fraction, duplicate-trigram fraction, and the
    most-frequent-token share. High values flag boilerplate, SEO
    spam, and degenerate generations before they reach training.

    All three are per-row array expressions inside one codegen
    projection — no shuffle, no UDF; a 100 TB documents scan is a
    single pass. The top-token count is O(distinct×total) per
    document, which is bounded by document length, not corpus size.
    """
    docs = read_star_table(spark, "documents", sf_dir)
    base = docs.select(
        "doc_id", TX.tokens("text").alias("__toks")
    )

    def dup_frac(sh):
        return F.lit(1.0) - F.size(F.array_distinct(sh)).cast(
            "double"
        ) / F.size(sh).cast("double")

    top_share = (
        F.array_max(
            F.transform(
                F.array_distinct(F.col("__toks")),
                lambda t: F.size(
                    F.filter(F.col("__toks"), lambda x: x == t)
                ),
            )
        ).cast("double")
        / F.size(F.col("__toks")).cast("double")
    )
    return base.select(
        "doc_id",
        dup_frac(TX.shingle_expr("__toks", 2)).alias(
            "dup_bigram_frac"
        ),
        dup_frac(TX.shingle_expr("__toks", 3)).alias(
            "dup_trigram_frac"
        ),
        top_share.alias("top_token_share"),
    )


@register(
    "minhash_near_dup",
    oracle="""
        WITH tokd AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents
        ),
        sh AS (
            SELECT doc_id,
                   list_distinct(
                       CASE WHEN len(t) < 2
                            THEN [concat_ws(' ', t)]
                       ELSE list_transform(
                           generate_series(1, len(t) - 1),
                           i -> t[i] || ' ' || t[i+1])
                       END) AS s
            FROM tokd
        ),
        sig AS (
            SELECT doc_id, s,
                   list_aggregate(list_transform(s, x -> md5('0|' || x)), 'min') AS mh0,
                   list_aggregate(list_transform(s, x -> md5('1|' || x)), 'min') AS mh1,
                   list_aggregate(list_transform(s, x -> md5('2|' || x)), 'min') AS mh2,
                   list_aggregate(list_transform(s, x -> md5('3|' || x)), 'min') AS mh3,
                   list_aggregate(list_transform(s, x -> md5('4|' || x)), 'min') AS mh4,
                   list_aggregate(list_transform(s, x -> md5('5|' || x)), 'min') AS mh5,
                   list_aggregate(list_transform(s, x -> md5('6|' || x)), 'min') AS mh6,
                   list_aggregate(list_transform(s, x -> md5('7|' || x)), 'min') AS mh7
            FROM sh
        ),
        long AS (
            SELECT doc_id,
                   unnest(['0|' || mh0 || '|' || mh1,
                           '1|' || mh2 || '|' || mh3,
                           '2|' || mh4 || '|' || mh5,
                           '3|' || mh6 || '|' || mh7]) AS band_key
            FROM sig
        ),
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
            FROM long a JOIN long b USING (band_key)
            WHERE a.doc_id < b.doc_id
        )
        SELECT p.doc_id_a, p.doc_id_b,
               CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
               / CAST(len(sa.s) + len(sb.s)
                      - len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                   AS jaccard
        FROM pairs p
        JOIN sh sa ON sa.doc_id = p.doc_id_a
        JOIN sh sb ON sb.doc_id = p.doc_id_b
    """,
    ops=("DEDUP",),
)
def minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates with exact-Jaccard scores.

    shingle -> minhash -> band -> bucket-join. The full banded
    pipeline is deterministic md5, so it is replicated exactly in
    SQL and oracle-checked bit-for-bit (upgraded from rows-only
    after the higher-order-function corruption incident — see
    operators/dedup.minhash_lsh_candidates: an exact oracle turns
    any future silent signature corruption into a red harness row).
    """
    docs = read_star_table(spark, "documents", sf_dir)
    return minhash_lsh_candidates(docs)


@register(
    "stratified_sample_by_lang",
    oracle="""
        SELECT doc_id, lang, source
        FROM documents
        WHERE md5(CAST(doc_id AS VARCHAR)) <
              CASE lang
                  WHEN 'en' THEN '40000000000000000000000000000000'
                  WHEN 'de' THEN '80000000000000000000000000000000'
                  ELSE 'gggggggggggggggggggggggggggggggg'
              END
    """,
    ops=("SAMPLE", "P2"),
)
def stratified_sample_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Corpus rebalancing: keep 25% of English docs, 50% of German,
    100% of everything else — deterministic hash-threshold
    membership (operators/sampling.py), so the kept set is
    bit-identical across engines, retries, and repartitions
    (sample()/sampleBy() RNG streams are not).
    """
    from afg_data_pipeline_spark.operators.sampling import (
        hash_stratified_sample,
    )

    docs = read_star_table(spark, "documents", sf_dir).select(
        "doc_id", "lang", "source"
    )
    return hash_stratified_sample(
        docs,
        strata_col="lang",
        id_col="doc_id",
        fractions={"en": 0.25, "de": 0.5},
    )


@register(
    "weighted_sample_docs",
    oracle="""
        WITH keyed AS (
            SELECT doc_id, lang, n_chars,
                   -ln(CAST(('0x' || substr(
                           md5(CAST(doc_id AS VARCHAR)), 1, 13
                       ))::BIGINT + 1 AS DOUBLE)
                       / 4503599627370496.0)
                   / CAST(n_chars AS DOUBLE) AS k
            FROM documents
        ),
        ranked AS (
            SELECT doc_id, lang, n_chars,
                   row_number() OVER (
                       PARTITION BY lang ORDER BY k, doc_id
                   ) AS rn
            FROM keyed
        )
        SELECT doc_id, lang, n_chars
        FROM ranked WHERE rn <= 20
    """,
    ops=("SAMPLE",),
)
def weighted_sample_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Length-weighted sampling without replacement: 20 docs per
    language, inclusion probability proportional to n_chars — the
    Efraimidis–Spirakis exponential race
    (operators/sampling.weighted_reservoir_sample), keyed on
    md5(doc_id) so the winners are bit-identical across engines,
    retries, and repartitions. The typical use: filling a token
    budget where longer documents should win proportionally more
    often than uniform sampling gives them."""
    from afg_data_pipeline_spark.operators.sampling import (
        weighted_reservoir_sample,
    )

    docs = read_star_table(spark, "documents", sf_dir).select(
        "doc_id", "lang", "n_chars"
    )
    return weighted_reservoir_sample(
        docs,
        strata_col="lang",
        id_col="doc_id",
        weight_col="n_chars",
        k=20,
    )


@register(
    "doc_keywords_tfidf",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(text),
                                                '\\s+')) AS term
            FROM documents
        ),
        tf AS MATERIALIZED (
            SELECT doc_id, term,
                   CAST(count(*) AS BIGINT) AS tfc
            FROM toks GROUP BY 1, 2
        ),
        dfreq AS (
            SELECT term, CAST(count(*) AS BIGINT) AS dfc
            FROM tf GROUP BY 1
        ),
        nd AS (SELECT CAST(count(*) AS BIGINT) AS n
               FROM documents),
        idf AS (
            SELECT term,
                   CAST(round(ln(CAST(nd.n AS DOUBLE)
                                 / CAST(dfc AS DOUBLE))
                              * 1000000000.0) AS BIGINT)
                       AS idf_q
            FROM dfreq, nd
        ),
        scored AS (
            SELECT tf.doc_id, tf.term,
                   tf.tfc * idf.idf_q AS score_q
            FROM tf JOIN idf USING (term)
        )
        SELECT doc_id, term,
               CAST(rn AS INTEGER) AS rank,
               CAST(score_q AS BIGINT) AS score_q,
               CAST(score_q AS DOUBLE) / 1000000000.0 AS score
        FROM (
            SELECT doc_id, term, score_q,
                   ROW_NUMBER() OVER (
                       PARTITION BY doc_id
                       ORDER BY score_q DESC, term ASC
                   ) AS rn
            FROM scored
        ) WHERE rn <= 5
    """,
    ops=("TEXT", "A1", "O3"),
)
def doc_keywords_tfidf(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PER-DOCUMENT keyword extraction: each doc's top-5 terms by
    TF·IDF — the corpus-exploration / tagging primitive
    (top_terms_per_lang ranks raw frequency per language; this
    weights by rarity and is doc-keyed). Each idf = ln(n/df) is
    quantized ONCE to the 1e9 grid (rule 1c) so every score is an
    exact tf·idf_q integer, ranked (score DESC, term ASC).

    Scale: tf/df are map-side-combinable aggregates over the
    token explode; per-doc top-5 is sort_array(collect_list) over
    each doc's OWN term list (bounded by doc length — rule 19:
    never a corpus-wide window partitioned by millions of docs...
    actually doc-partitioned windows parallelize, but the groupBy
    form combines map-side and carries 5 rows per doc out of the
    shuffle instead of every (doc, term) pair)."""
    docs = read_star_table(spark, "documents", sf_dir)
    n_docs = docs.count()
    toks = docs.select(
        "doc_id", F.explode(TX.tokens("text")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tfc")
    )
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("dfc")
    )
    idf = dfreq.select(
        "term",
        F.round(
            F.log(
                F.lit(float(n_docs))
                / F.col("dfc").cast("double")
            )
            * F.lit(1e9)
        )
        .cast("bigint")
        .alias("idf_q"),
    )
    scored = tf.join(idf, "term").select(
        "doc_id",
        "term",
        (F.col("tfc") * F.col("idf_q")).alias("score_q"),
    )
    top = scored.groupBy("doc_id").agg(
        F.slice(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        (-F.col("score_q")).alias("neg"),
                        "term",
                    )
                )
            ),
            1,
            5,
        ).alias("arr")
    )
    ex = top.select(
        "doc_id",
        F.posexplode("arr").alias("pos", "kv"),
    )
    return ex.select(
        "doc_id",
        F.col("kv.term").alias("term"),
        (F.col("pos") + 1).cast("int").alias("rank"),
        (-F.col("kv.neg")).cast("bigint").alias("score_q"),
        ((-F.col("kv.neg")).cast("double") / F.lit(1e9)).alias(
            "score"
        ),
    )


@register(
    "top_terms_per_lang",
    oracle="""
        WITH toks AS (
            SELECT lang,
                   unnest(regexp_split_to_array(trim(text), '\\s+'))
                       AS token
            FROM documents
        ), counts AS (
            SELECT lang, token, count(*) AS n
            FROM toks GROUP BY lang, token
        )
        SELECT lang, token, n, rnk
        FROM (
            SELECT lang, token, n,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY n DESC, token ASC
                   ) AS INTEGER) AS rnk
            FROM counts
        ) WHERE rnk <= 5
    """,
    ops=("TEXT", "A1", "O3"),
)
def top_terms_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-frequency top-5 per language — the explode→count→top-k
    inverted-index shape.

    explode multiplies rows ~tokens-per-doc×, but the very next
    operator is a partial-aggregable count on (lang, token): the
    blow-up collapses map-side before any shuffle, so the exchange
    carries one row per distinct (lang, token), not per token
    occurrence. The top-k is a per-lang window over the collapsed
    counts.
    """
    from pyspark.sql import Window

    docs = read_star_table(spark, "documents", sf_dir)
    counts = (
        docs.select(
            "lang",
            F.explode(TX.tokens("text")).alias("token"),
        )
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("n").desc(), F.col("token").asc()
    )
    return (
        counts.withColumn(
            "rnk", F.row_number().over(w).cast("int")
        ).filter(F.col("rnk") <= 5)
    )


@register(
    "length_bucketed_batches",
    oracle="""
        WITH t AS (
            SELECT doc_id,
                   CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                        AS BIGINT) AS n_tokens
            FROM documents
        ), b AS (
            SELECT doc_id, n_tokens,
                   CAST(CASE WHEN n_tokens < 32 THEN 0
                             WHEN n_tokens < 64 THEN 1
                             WHEN n_tokens < 128 THEN 2
                             ELSE 3 END AS INTEGER) AS bucket
            FROM t
        )
        SELECT doc_id, n_tokens, bucket,
               CAST((ROW_NUMBER() OVER (
                   PARTITION BY bucket ORDER BY doc_id ASC
               ) - 1) // 16 AS BIGINT) AS batch_id
        FROM b
    """,
    ops=("TEXT", "A6", "SAMPLE"),
)
def length_bucketed_batches(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Length-bucketed batch assignment — the padding-minimizing
    batching step of a training-data pipeline: docs grouped into
    token-length buckets, then numbered into fixed-size batches
    within each bucket (batch peers have similar lengths, so pad
    waste is bounded by the bucket width).

    The window sorts per bucket, not globally; batch membership is
    deterministic (doc_id order). At extreme scale the per-bucket
    row_number can be replaced by a two-level (partition-local
    number + partition-offset cumsum) scheme — same output
    contract.
    """
    from pyspark.sql import Window

    docs = read_star_table(spark, "documents", sf_dir)
    n_tok = TX.token_count("text")
    bucket = (
        F.when(n_tok < 32, 0)
        .when(n_tok < 64, 1)
        .when(n_tok < 128, 2)
        .otherwise(3)
        .cast("int")
    )
    base = docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        bucket.alias("bucket"),
    )
    w = Window.partitionBy("bucket").orderBy(F.col("doc_id").asc())
    return base.withColumn(
        "batch_id",
        ((F.row_number().over(w) - 1) / 16).cast("long"),
    )


@register(
    "prep_training_corpus",
    oracle="""
        WITH keep AS (
            SELECT min(doc_id) AS doc_id
            FROM documents GROUP BY md5(text)
        ), scored AS (
            SELECT doc_id, lang,
                   CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                        AS BIGINT) AS n_tokens,
                   0.4 * (CAST(len(list_filter(
                              regexp_split_to_array(trim(text), '\\s+'),
                              t -> list_contains(
                                  ['the','a','of','and','is'], t)))
                              AS DOUBLE)
                          / CAST(len(regexp_split_to_array(trim(text),
                              '\\s+')) AS DOUBLE))
                   + 0.3 * least(1.0,
                         CAST(len(regexp_split_to_array(trim(text),
                             '\\s+')) AS DOUBLE) / 100.0)
                   + 0.3 * (1.0 -
                         CAST(len(regexp_extract_all(text, '[.,!?;:]'))
                              AS DOUBLE)
                         / CAST(length(text) AS DOUBLE)) AS quality
            FROM documents
        ), curated AS (
            SELECT s.doc_id, s.lang, s.n_tokens, s.quality
            FROM scored s JOIN keep k ON s.doc_id = k.doc_id
            WHERE s.quality >= 0.4 AND s.n_tokens >= 20
        ), sampled AS (
            SELECT * FROM curated
            WHERE md5(CAST(doc_id AS VARCHAR)) <
                  CASE lang
                      WHEN 'en'
                      THEN '80000000000000000000000000000000'
                      ELSE 'gggggggggggggggggggggggggggggggg'
                  END
        ), bucketed AS (
            SELECT doc_id, lang, n_tokens, quality,
                   CAST(CASE WHEN n_tokens < 32 THEN 0
                             WHEN n_tokens < 64 THEN 1
                             WHEN n_tokens < 128 THEN 2
                             ELSE 3 END AS INTEGER) AS bucket
            FROM sampled
        )
        SELECT doc_id, lang, n_tokens, quality, bucket,
               CAST((ROW_NUMBER() OVER (
                   PARTITION BY bucket ORDER BY doc_id ASC
               ) - 1) // 16 AS BIGINT) AS batch_id
        FROM bucketed
    """,
    ops=("TEXT", "DEDUP", "SAMPLE"),
)
def prep_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data prep pipeline in ONE lazy plan:
    exact dedup -> quality + length filter -> language rebalancing
    (keep 50% of English) -> length-bucketed batch assignment.

    Every stage is an operator from the library (dedup, text,
    sampling) composed without materialization barriers — Catalyst
    sees the whole lineage, so the dedup semi-join, quality
    projection, and sampling predicate all evaluate in the minimal
    number of passes, and the only window (batch numbering) runs
    per bucket over the already-shrunk survivor set. This is the
    engine's flagship LLM-data story: the same composition at
    100 TB is shuffles on ids and one small window, never a
    full-text rewrite between stages.
    """
    from afg_data_pipeline_spark.operators.sampling import (
        hash_stratified_sample,
    )
    from afg_data_pipeline_spark.operators.text import (
        quality_score_of,
        tokens,
    )
    from pyspark.sql import Window

    docs = read_star_table(spark, "documents", sf_dir)
    keep = exact_dedup(docs).select(
        F.col("keep_id").alias("doc_id")
    )
    # Single-evaluation gate (functions/gate.py, rule 18c) — same
    # restructure as curate_corpus: the pushed quality/length
    # predicate ran the tokenizer split, stopword lambda and
    # punctuation regex twice per row. Tokens are projected ONCE
    # below the gate (a generator input is interpreted — no
    # subexpression elimination — so the inline form re-splits the
    # text once per counter).
    from afg_data_pipeline_spark.functions.gate import filter_once

    pre = docs.select(
        "doc_id", "lang", "text", tokens("text").alias("__toks")
    )
    scored = filter_once(
        pre,
        F.struct(
            F.size("__toks").cast("bigint").alias("n_tokens"),
            quality_score_of(F.col("__toks"), "text").alias(
                "quality"
            ),
        ),
        lambda t: (t["quality"] >= 0.4) & (t["n_tokens"] >= 20),
        "__tq",
    ).select(
        "doc_id",
        "lang",
        F.col("__tq.n_tokens").alias("n_tokens"),
        F.col("__tq.quality").alias("quality"),
    )
    curated = scored.join(keep, "doc_id", "left_semi")
    sampled = hash_stratified_sample(
        curated, "lang", "doc_id", {"en": 0.5}
    )
    bucket = (
        F.when(F.col("n_tokens") < 32, 0)
        .when(F.col("n_tokens") < 64, 1)
        .when(F.col("n_tokens") < 128, 2)
        .otherwise(3)
        .cast("int")
    )
    w = Window.partitionBy("bucket").orderBy(F.col("doc_id").asc())
    return (
        sampled.withColumn("bucket", bucket)
        .withColumn(
            "batch_id",
            ((F.row_number().over(w) - 1) / 16).cast("long"),
        )
    )


# Shared by near_dup_components (min-label) and
# near_dup_components_star (large-star/small-star): both algorithms
# must produce the identical (doc_id, component=min reachable id)
# table, so they register the same transitive-closure oracle.
_NEAR_DUP_COMPONENTS_ORACLE = """
        WITH RECURSIVE tokd AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents
        ),
        sh AS (
            SELECT doc_id,
                   list_distinct(
                       CASE WHEN len(t) < 2
                            THEN [concat_ws(' ', t)]
                       ELSE list_transform(
                           generate_series(1, len(t) - 1),
                           i -> t[i] || ' ' || t[i+1])
                       END) AS s
            FROM tokd
        ),
        sig AS (
            SELECT doc_id, s,
                   list_aggregate(list_transform(s, x -> md5('0|' || x)), 'min') AS mh0,
                   list_aggregate(list_transform(s, x -> md5('1|' || x)), 'min') AS mh1,
                   list_aggregate(list_transform(s, x -> md5('2|' || x)), 'min') AS mh2,
                   list_aggregate(list_transform(s, x -> md5('3|' || x)), 'min') AS mh3,
                   list_aggregate(list_transform(s, x -> md5('4|' || x)), 'min') AS mh4,
                   list_aggregate(list_transform(s, x -> md5('5|' || x)), 'min') AS mh5,
                   list_aggregate(list_transform(s, x -> md5('6|' || x)), 'min') AS mh6,
                   list_aggregate(list_transform(s, x -> md5('7|' || x)), 'min') AS mh7
            FROM sh
        ),
        long AS (
            SELECT doc_id,
                   unnest(['0|' || mh0 || '|' || mh1,
                           '1|' || mh2 || '|' || mh3,
                           '2|' || mh4 || '|' || mh5,
                           '3|' || mh6 || '|' || mh7]) AS band_key
            FROM sig
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
            FROM long a JOIN long b USING (band_key)
            WHERE a.doc_id < b.doc_id
        ),
        edges AS (
            SELECT c.ida, c.idb
            FROM cand c
            JOIN sh sa ON sa.doc_id = c.ida
            JOIN sh sb ON sb.doc_id = c.idb
            WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                  / CAST(len(sa.s) + len(sb.s)
                         - len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                  >= 0.5
        ),
        sym AS (
            SELECT ida AS src, idb AS dst FROM edges
            UNION ALL
            SELECT idb, ida FROM edges
        ),
        reach AS (
            SELECT src AS v, src AS r FROM sym
            UNION
            SELECT reach.v, s.dst FROM reach JOIN sym s ON reach.r = s.src
        )
        SELECT v AS doc_id, min(r) AS component
        FROM reach GROUP BY v
    """


_ANN_RECALL_ORACLE = """
        WITH ham AS MATERIALIZED (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   CAST(list_sum(list_transform(
                       generate_series(1, 64),
                       i -> CASE WHEN (q.embedding[i] > 0)
                                  <> (c.embedding[i] > 0)
                             THEN 1 ELSE 0 END)) AS INTEGER)
                       AS hamming
            FROM embeddings q CROSS JOIN embeddings c
            WHERE q.vec_id < 32 AND q.vec_id <> c.vec_id
        ),
        cand AS MATERIALIZED (
            SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY query_id
                           ORDER BY hamming ASC, neighbor_id ASC
                       ) AS rn
                FROM ham) WHERE rn <= 50
        ),
        vecs AS MATERIALIZED (
            SELECT vec_id, embedding,
                   sqrt(list_aggregate(list_transform(
                       generate_series(1, len(embedding)),
                       i -> CAST(embedding[i] AS DOUBLE)
                            * CAST(embedding[i] AS DOUBLE)),
                       'sum')) AS nrm
            FROM embeddings
        ),
        scored AS MATERIALIZED (
            SELECT k.query_id, k.neighbor_id,
                   list_aggregate(list_transform(
                       generate_series(1, len(q.embedding)),
                       i -> CAST(q.embedding[i] AS DOUBLE)
                            * CAST(c.embedding[i] AS DOUBLE)),
                       'sum') / (q.nrm * c.nrm) AS cosine
            FROM cand k
            JOIN vecs q ON q.vec_id = k.query_id
            JOIN vecs c ON c.vec_id = k.neighbor_id
        ),
        funnel5 AS (
            SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY query_id
                           ORDER BY cosine DESC,
                                    neighbor_id ASC) AS rn
                FROM scored) WHERE rn <= 5
        ),
        exact_scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   list_aggregate(list_transform(
                       generate_series(1, len(q.embedding)),
                       i -> CAST(q.embedding[i] AS DOUBLE)
                            * CAST(c.embedding[i] AS DOUBLE)),
                       'sum') / (q.nrm * c.nrm) AS cosine
            FROM vecs q CROSS JOIN vecs c
            WHERE q.vec_id < 32 AND q.vec_id <> c.vec_id
        ),
        exact5 AS (
            SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY query_id
                           ORDER BY cosine DESC,
                                    neighbor_id ASC) AS rn
                FROM exact_scored) WHERE rn <= 5
        ),
        per_q AS (
            SELECT e.query_id,
                   CAST(sum(CASE WHEN f.neighbor_id IS NOT NULL
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS hits
            FROM exact5 e
            LEFT JOIN funnel5 f
              ON f.query_id = e.query_id
             AND f.neighbor_id = e.neighbor_id
            GROUP BY 1
        )
        SELECT CAST(count(*) AS BIGINT) AS n_queries,
               CAST(min(hits) AS BIGINT) AS worst_hits,
               CAST(sum(hits) AS BIGINT) AS total_hits,
               CAST(sum(hits) AS DOUBLE)
                   / (CAST(count(*) AS DOUBLE) * 5.0)
                   AS recall_at_5
        FROM per_q
    """


def _dim_trunc_oracle_sql(
    dims: tuple[int, ...] = (8, 16, 32, 64), k: int = 5
) -> str:
    """Unioned per-dimension replica of the truncation audit: one
    (vecs, scored, top) CTE triple per dimension budget — the
    exact double-fold cosine of the ann_cosine_topk oracle with
    generate_series bounded at d — then hit-counting against the
    full-dimension top-k."""

    def triple(d: int, tag: str) -> str:
        return f"""
        vecs{tag} AS (
            SELECT vec_id, embedding,
                   sqrt(list_aggregate(list_transform(
                       generate_series(1, {d}),
                       i -> CAST(embedding[i] AS DOUBLE)
                            * CAST(embedding[i] AS DOUBLE)),
                       'sum')) AS nrm
            FROM embeddings
        ),
        top{tag} AS (
            SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY query_id
                           ORDER BY cosine DESC, neighbor_id ASC
                       ) AS rn
                FROM (
                    SELECT q.vec_id AS query_id,
                           c.vec_id AS neighbor_id,
                           list_aggregate(list_transform(
                               generate_series(1, {d}),
                               i -> CAST(q.embedding[i] AS DOUBLE)
                                    * CAST(c.embedding[i]
                                           AS DOUBLE)),
                               'sum') / (q.nrm * c.nrm) AS cosine
                    FROM vecs{tag} q CROSS JOIN vecs{tag} c
                    WHERE q.vec_id <> c.vec_id AND q.vec_id < 32
                )
            ) WHERE rn <= {k}
        )"""

    parts = ["WITH " + triple(max(dims), "full").lstrip()]
    rows = []
    for d in dims:
        tag = f"d{d}"
        parts.append("," + triple(d, tag))
        parts.append(
            f""",
        hits{tag} AS (
            SELECT e.query_id,
                   SUM(CASE WHEN f.neighbor_id IS NOT NULL
                            THEN 1 ELSE 0 END) AS hits
            FROM topfull e
            LEFT JOIN top{tag} f
              ON f.query_id = e.query_id
             AND f.neighbor_id = e.neighbor_id
            GROUP BY e.query_id
        )"""
        )
        rows.append(
            f"""
        SELECT {d} AS dim,
               CAST(count(*) AS BIGINT) AS n_queries,
               CAST(min(hits) AS BIGINT) AS worst_hits,
               CAST(sum(hits) AS BIGINT) AS total_hits,
               CAST(sum(hits) AS DOUBLE)
                   / (CAST(count(*) AS DOUBLE) * {k}.0)
                   AS recall_at_{k}
        FROM hits{tag}"""
        )
    return "".join(parts) + " UNION ALL ".join(rows)


@register(
    "dim_truncation_recall_audit",
    oracle=_dim_trunc_oracle_sql(),
    ops=("ANN", "EMB"),
)
def dim_truncation_recall_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EMBEDDING-DIMENSION ABLATION: measured recall@5 of exact
    cosine search over TRUNCATED embeddings (first d of 64
    components, d ∈ {8,16,32,64}) against the full-dimension
    ground truth — the decision table for Matryoshka-style
    dimension budgeting (how much retrieval quality does a 4×
    smaller index actually cost on THIS corpus?), sibling of
    ann_recall_audit / lsh_recall_audit in the measured-recall
    family. One row per dimension budget: n_queries, worst
    per-query hits, total hits, recall@5 (d=64 pins 1.0 by
    construction — the plumbing check).

    Both sides are the certified brute_force_topk shape (norms
    hoisted per rule 12, sequential double-fold cosine, explicit
    neighbor-id tie-break); the full-dim truth is localCheckpointed
    once and reused across the four comparison branches. Work is
    4 × (32 × n) pairs — query-set-sized per corpus row, same
    budget class as the guarded ANN brute force."""
    from afg_data_pipeline_spark.operators.similarity import (
        brute_force_topk,
    )

    emb = read_star_table(spark, "embeddings", sf_dir)
    truth = (
        brute_force_topk(
            emb.filter(F.col("vec_id") < 32), emb, k=5
        )
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    out = None
    for d in (8, 16, 32, 64):
        t = emb.select(
            "vec_id",
            F.slice("embedding", 1, d).alias("embedding"),
        )
        top = brute_force_topk(
            t.filter(F.col("vec_id") < 32), t, k=5
        ).select(
            "query_id",
            "neighbor_id",
            F.lit(1).alias("__f"),
        )
        per_q = (
            truth.join(
                top, ["query_id", "neighbor_id"], "left"
            )
            .groupBy("query_id")
            .agg(
                F.sum(
                    F.when(
                        F.col("__f").isNotNull(), 1
                    ).otherwise(0)
                )
                .cast("bigint")
                .alias("hits")
            )
        )
        row = per_q.agg(
            F.lit(d).cast("int").alias("dim"),
            F.count(F.lit(1)).cast("bigint").alias("n_queries"),
            F.min("hits").cast("bigint").alias("worst_hits"),
            F.sum("hits").cast("bigint").alias("total_hits"),
            (
                F.sum("hits").cast("double")
                / (F.count(F.lit(1)).cast("double") * F.lit(5.0))
            ).alias("recall_at_5"),
        )
        out = row if out is None else out.unionByName(row)
    return out


@register(
    "ann_recall_audit",
    oracle=_ANN_RECALL_ORACLE,
    ops=("ANN",),
)
def ann_recall_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ANN RECALL AUDIT: measured recall@5 of the Hamming->exact
    rerank funnel against brute-force cosine ground truth over the
    32 query vectors — the serving-quality number an ANN
    deployment monitors (the funnel trades exactness for its
    ~n_candidates/n cost; this query MEASURES what that trade
    costs on live data, per the lsh_recall_audit precedent for the
    dedup side). Output: one row — query count, worst per-query
    hit count, total hits, mean recall@5.

    Both sides are certified pipelines: the funnel IS
    ann_funnel_topk's plan and the truth IS ann_cosine_topk's;
    recall is exact integer hit counting with one double division.
    The audit is query-set sized (32x5 rows joined), regardless of
    corpus size."""
    from afg_data_pipeline_spark.plans.registry import (
        REGISTRY,
    )

    funnel5 = REGISTRY["ann_funnel_topk"].fn(
        spark, sf_dir
    ).select(
        "query_id", "neighbor_id"
    )
    exact5 = REGISTRY["ann_cosine_topk"].fn(
        spark, sf_dir
    ).select(
        "query_id", "neighbor_id", F.lit(1).alias("__e")
    )
    per_q = (
        exact5.join(
            funnel5.select(
                "query_id",
                "neighbor_id",
                F.lit(1).alias("__f"),
            ),
            ["query_id", "neighbor_id"],
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.sum(
                F.when(F.col("__f").isNotNull(), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("hits")
        )
    )
    return per_q.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        F.min("hits").cast("bigint").alias("worst_hits"),
        F.sum("hits").cast("bigint").alias("total_hits"),
        (
            F.sum("hits").cast("double")
            / (F.count(F.lit(1)).cast("double") * F.lit(5.0))
        ).alias("recall_at_5"),
    )


@register(
    "lsh_recall_audit",
    oracle="""
        WITH ranked AS (
            SELECT doc_id,
                   row_number() OVER (
                       ORDER BY md5('recallaudit:'
                                    || CAST(doc_id AS VARCHAR)),
                                doc_id) AS rk
            FROM documents
        ),
        sample AS (
            SELECT doc_id FROM ranked WHERE rk <= 256
        ),
        tokd AS (
            SELECT d.doc_id,
                   regexp_split_to_array(trim(d.text),
                                         '\\s+') AS t
            FROM documents d JOIN sample USING (doc_id)
        ),
        sh AS (
            SELECT doc_id,
                   list_distinct(
                       CASE WHEN len(t) < 2
                            THEN [concat_ws(' ', t)]
                       ELSE list_transform(
                           generate_series(1, len(t) - 1),
                           i -> t[i] || ' ' || t[i+1])
                       END) AS s
            FROM tokd
        ),
        truth AS (
            SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                   CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                   / CAST(len(a.s) + len(b.s)
                          - len(list_intersect(a.s, b.s))
                          AS DOUBLE) AS j
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                  / CAST(len(a.s) + len(b.s)
                         - len(list_intersect(a.s, b.s))
                         AS DOUBLE) >= 0.5
        ),
        sig AS (
            SELECT doc_id, s,
                   list_aggregate(list_transform(s, x -> md5('0|' || x)), 'min') AS mh0,
                   list_aggregate(list_transform(s, x -> md5('1|' || x)), 'min') AS mh1,
                   list_aggregate(list_transform(s, x -> md5('2|' || x)), 'min') AS mh2,
                   list_aggregate(list_transform(s, x -> md5('3|' || x)), 'min') AS mh3,
                   list_aggregate(list_transform(s, x -> md5('4|' || x)), 'min') AS mh4,
                   list_aggregate(list_transform(s, x -> md5('5|' || x)), 'min') AS mh5,
                   list_aggregate(list_transform(s, x -> md5('6|' || x)), 'min') AS mh6,
                   list_aggregate(list_transform(s, x -> md5('7|' || x)), 'min') AS mh7
            FROM sh
        ),
        long AS (
            SELECT doc_id,
                   unnest(['0|' || mh0 || '|' || mh1,
                           '1|' || mh2 || '|' || mh3,
                           '2|' || mh4 || '|' || mh5,
                           '3|' || mh6 || '|' || mh7]) AS band_key
            FROM sig
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_id_a,
                   b.doc_id AS doc_id_b
            FROM long a JOIN long b USING (band_key)
            WHERE a.doc_id < b.doc_id
        ),
        labeled AS (
            SELECT CASE WHEN t.j >= 0.8 THEN '0.80-1.00'
                        WHEN t.j >= 0.65 THEN '0.65-0.80'
                        ELSE '0.50-0.65' END AS j_band,
                   CAST(CASE WHEN c.doc_id_a IS NOT NULL
                             THEN 1 ELSE 0 END AS BIGINT)
                       AS found
            FROM truth t
            LEFT JOIN cand c
              ON c.doc_id_a = t.doc_id_a
             AND c.doc_id_b = t.doc_id_b
        )
        SELECT j_band,
               CAST(count(*) AS BIGINT) AS n_true_pairs,
               CAST(sum(found) AS BIGINT) AS n_found,
               CAST(sum(found) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) AS recall
        FROM labeled GROUP BY j_band
    """,
    ops=("DEDUP", "SAMPLE"),
)
def lsh_recall_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LSH RECALL AUDIT: measure the banded-MinHash candidate
    generator's recall ON THIS CORPUS by brute-forcing ground
    truth over a fixed-size deterministic subsample (256 docs by
    md5 rank — constant work at ANY corpus size, never a fraction)
    and reporting, per true-Jaccard band, how many true >= 0.5
    pairs the bands actually surfaced. The production answer to
    "what is our dedup pipeline missing" — LSH recall is a
    corpus-dependent curve (1-(1-j^r)^b), and this query measures
    it on live data instead of trusting the formula.

    Exactness: the subsample is an md5-ranked top-K (doc_id
    tie-break); truth Jaccards are exact integer ratios; the
    banding replicated here is BYTE-identical to
    minhash_lsh_candidates' (same seeds, same band keys). Scale:
    the brute-force is 256^2/2 pairs regardless of corpus size;
    the banded side runs only over the 256 sampled docs'
    signatures."""
    from afg_data_pipeline_spark.operators.dedup import (
        minhash_lsh_candidates,
    )
    from afg_data_pipeline_spark.operators.text import (
        shingle_expr,
        tokens,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    # top-256 by (md5, doc_id) via orderBy+limit — Spark compiles
    # this to TakeOrderedAndProject (per-partition top-K + a tiny
    # driver merge), NOT a global sort; an unpartitioned
    # row_number window here would run ONE task over the corpus
    # (rule-2 family — the bug this comment replaces).
    sample = (
        docs.select(
            "doc_id",
            "text",
            F.md5(
                F.concat(
                    F.lit("recallaudit:"),
                    F.col("doc_id").cast("string"),
                )
            ).alias("__h"),
        )
        .orderBy("__h", "doc_id")
        .limit(256)
        .drop("__h")
        .localCheckpoint(eager=False)
    )
    sh = sample.select(
        "doc_id", tokens("text").alias("__toks")
    ).select(
        "doc_id",
        F.array_distinct(shingle_expr("__toks", 2)).alias("s"),
    )
    a = sh.select(
        F.col("doc_id").alias("doc_id_a"),
        F.col("s").alias("sa"),
    )
    b = sh.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("s").alias("sb"),
    )
    # pair_join + single-evaluation gate (r11): the plain
    # non-equi join planned a BNLJ with the pushed j-filter in its
    # condition — 4 interpreted array_intersect evaluations per
    # pair (2 in the condition's ratio, 2 more in the projection).
    # The gate carries the intersection SIZE (the ratio textually
    # embeds it twice) and rebuilds j with identical int arithmetic
    # + double division, so values are bit-equal.
    from afg_data_pipeline_spark.functions.gate import (
        filter_once,
        pair_join,
    )

    inter = F.size(F.array_intersect("sa", "sb"))
    pairs = pair_join(a, b).filter(
        F.col("doc_id_a") < F.col("doc_id_b")
    )

    def j_of(i):
        return i.cast("double") / (
            (F.size("sa") + F.size("sb") - i).cast("double")
        )

    truth = filter_once(
        pairs, inter, lambda i: j_of(i) >= F.lit(0.5), "__i"
    ).select(
        "doc_id_a", "doc_id_b", j_of(F.col("__i")).alias("j")
    )
    cand = minhash_lsh_candidates(sample).select(
        "doc_id_a", "doc_id_b", F.lit(1).alias("found")
    )
    labeled = truth.join(
        cand, ["doc_id_a", "doc_id_b"], "left"
    ).select(
        F.when(F.col("j") >= 0.8, "0.80-1.00")
        .when(F.col("j") >= 0.65, "0.65-0.80")
        .otherwise("0.50-0.65")
        .alias("j_band"),
        F.coalesce(F.col("found"), F.lit(0))
        .cast("bigint")
        .alias("found"),
    )
    return labeled.groupBy("j_band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true_pairs"),
        F.sum("found").cast("bigint").alias("n_found"),
        (
            F.sum("found").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("recall"),
    )


@register(
    "split_leakage_report",
    oracle="""
        WITH tokd AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents
        ),
        sh AS (
            SELECT doc_id,
                   list_distinct(
                       CASE WHEN len(t) < 2
                            THEN [concat_ws(' ', t)]
                       ELSE list_transform(
                           generate_series(1, len(t) - 1),
                           i -> t[i] || ' ' || t[i+1])
                       END) AS s
            FROM tokd
        ),
        sig AS (
            SELECT doc_id, s,
                   list_aggregate(list_transform(s, x -> md5('0|' || x)), 'min') AS mh0,
                   list_aggregate(list_transform(s, x -> md5('1|' || x)), 'min') AS mh1,
                   list_aggregate(list_transform(s, x -> md5('2|' || x)), 'min') AS mh2,
                   list_aggregate(list_transform(s, x -> md5('3|' || x)), 'min') AS mh3,
                   list_aggregate(list_transform(s, x -> md5('4|' || x)), 'min') AS mh4,
                   list_aggregate(list_transform(s, x -> md5('5|' || x)), 'min') AS mh5,
                   list_aggregate(list_transform(s, x -> md5('6|' || x)), 'min') AS mh6,
                   list_aggregate(list_transform(s, x -> md5('7|' || x)), 'min') AS mh7
            FROM sh
        ),
        long AS (
            SELECT doc_id,
                   unnest(['0|' || mh0 || '|' || mh1,
                           '1|' || mh2 || '|' || mh3,
                           '2|' || mh4 || '|' || mh5,
                           '3|' || mh6 || '|' || mh7]) AS band_key
            FROM sig
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
            FROM long a JOIN long b USING (band_key)
            WHERE a.doc_id < b.doc_id
        ),
        verified AS (
            SELECT p.doc_id_a, p.doc_id_b
            FROM cand p
            JOIN sh sa ON sa.doc_id = p.doc_id_a
            JOIN sh sb ON sb.doc_id = p.doc_id_b
            WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                  / CAST(len(sa.s) + len(sb.s)
                         - len(list_intersect(sa.s, sb.s))
                         AS DOUBLE) >= 0.5
        ),
        splits AS (
            SELECT doc_id,
                   CASE WHEN md5('split:'
                                 || CAST(doc_id AS VARCHAR))
                             < '{T_TRAIN}' THEN 'train'
                        WHEN md5('split:'
                                 || CAST(doc_id AS VARCHAR))
                             < '{T_VAL}' THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        )
        SELECT least(xa.split, xb.split) AS split_a,
               greatest(xa.split, xb.split) AS split_b,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(least(xa.split, xb.split)
                    <> greatest(xa.split, xb.split) AS INTEGER)
                   AS is_leakage
        FROM verified v
        JOIN splits xa ON xa.doc_id = v.doc_id_a
        JOIN splits xb ON xb.doc_id = v.doc_id_b
        GROUP BY 1, 2
    """.format(
        T_TRAIN=_FT(0.8), T_VAL=_FT(0.9)
    ),
    ops=("DEDUP", "SAMPLE"),
)
def split_leakage_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EVAL-INTEGRITY check: near-duplicate pairs that STRADDLE
    the deterministic train/val/test split — the data-leakage
    audit every benchmark pipeline must run before trusting a
    held-out score (a test doc whose near-twin sits in train is a
    memorization leak, not a generalization measurement). Output:
    pair counts per unordered split pair with an is_leakage flag
    (off-diagonal = leakage; the train-train diagonal is benign
    in-split duplication).

    Composed entirely from certified pieces: banded-MinHash
    verified pairs (J >= 0.5, never all-pairs) x the md5-threshold
    hash_split assignment (engine-portable, retry-stable). Scale:
    two equi-joins of the pair stream against the (doc_id, split)
    projection (corpus-sized — no broadcast hint, AQE decides),
    then a 3x3-bounded rollup."""
    from afg_data_pipeline_spark.operators.sampling import (
        hash_split,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    pairs = minhash_lsh_candidates(
        docs, threshold=0.5
    )
    splits = hash_split(docs, "doc_id").select(
        "doc_id", "split"
    )
    sa = splits.select(
        F.col("doc_id").alias("doc_id_a"),
        F.col("split").alias("split_x"),
    )
    sb = splits.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("split").alias("split_y"),
    )
    return (
        pairs.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .groupBy(
            F.least("split_x", "split_y").alias("split_a"),
            F.greatest("split_x", "split_y").alias("split_b"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs")
        )
        .select(
            "split_a",
            "split_b",
            "n_pairs",
            (F.col("split_a") != F.col("split_b"))
            .cast("int")
            .alias("is_leakage"),
        )
    )


@register(
    "cross_source_dup_matrix",
    oracle="""
        WITH tokd AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents
        ),
        sh AS (
            SELECT doc_id,
                   list_distinct(
                       CASE WHEN len(t) < 2
                            THEN [concat_ws(' ', t)]
                       ELSE list_transform(
                           generate_series(1, len(t) - 1),
                           i -> t[i] || ' ' || t[i+1])
                       END) AS s
            FROM tokd
        ),
        sig AS (
            SELECT doc_id, s,
                   list_aggregate(list_transform(s, x -> md5('0|' || x)), 'min') AS mh0,
                   list_aggregate(list_transform(s, x -> md5('1|' || x)), 'min') AS mh1,
                   list_aggregate(list_transform(s, x -> md5('2|' || x)), 'min') AS mh2,
                   list_aggregate(list_transform(s, x -> md5('3|' || x)), 'min') AS mh3,
                   list_aggregate(list_transform(s, x -> md5('4|' || x)), 'min') AS mh4,
                   list_aggregate(list_transform(s, x -> md5('5|' || x)), 'min') AS mh5,
                   list_aggregate(list_transform(s, x -> md5('6|' || x)), 'min') AS mh6,
                   list_aggregate(list_transform(s, x -> md5('7|' || x)), 'min') AS mh7
            FROM sh
        ),
        long AS (
            SELECT doc_id,
                   unnest(['0|' || mh0 || '|' || mh1,
                           '1|' || mh2 || '|' || mh3,
                           '2|' || mh4 || '|' || mh5,
                           '3|' || mh6 || '|' || mh7]) AS band_key
            FROM sig
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
            FROM long a JOIN long b USING (band_key)
            WHERE a.doc_id < b.doc_id
        ),
        verified AS (
            SELECT p.doc_id_a, p.doc_id_b
            FROM cand p
            JOIN sh sa ON sa.doc_id = p.doc_id_a
            JOIN sh sb ON sb.doc_id = p.doc_id_b
            WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                  / CAST(len(sa.s) + len(sb.s)
                         - len(list_intersect(sa.s, sb.s))
                         AS DOUBLE) >= 0.5
        )
        SELECT least(da.source, db.source) AS source_a,
               greatest(da.source, db.source) AS source_b,
               CAST(count(*) AS BIGINT) AS n_dup_pairs
        FROM verified v
        JOIN documents da ON da.doc_id = v.doc_id_a
        JOIN documents db ON db.doc_id = v.doc_id_b
        GROUP BY 1, 2
    """,
    ops=("DEDUP", "A1"),
)
def cross_source_dup_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PROVENANCE of duplication: verified near-dup pairs
    (banded MinHash, Jaccard >= 0.5) rolled up by unordered
    source pair — the table that tells a curation team which
    ingest feeds are mirroring each other (off-diagonal mass) vs
    merely self-duplicating (diagonal). The cross-SOURCE view the
    per-document near-dup queries cannot show.

    Scale shape: rides the certified minhash_lsh_candidates
    pipeline (banded — never all-pairs); the source lookup is two
    equi-joins against the (doc_id, source) projection (corpus-
    sized — never broadcast-hinted; AQE picks); the
    matrix aggregate is |sources|^2-bounded. least/greatest
    canonicalizes the pair so A->B and B->A land in one cell."""
    docs = read_star_table(spark, "documents", sf_dir)
    pairs = minhash_lsh_candidates(
        docs, threshold=0.5
    )
    srcs = docs.select("doc_id", "source")
    sa = srcs.select(
        F.col("doc_id").alias("doc_id_a"),
        F.col("source").alias("src_a"),
    )
    sb = srcs.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("source").alias("src_b"),
    )
    # no broadcast hint: the (doc_id, source) map is CORPUS-sized
    # — AQE broadcasts it at small scale and shuffle-joins on the
    # 8-byte key at 100 TB; a forced broadcast would OOM the driver
    return (
        pairs.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .groupBy(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dup_pairs")
        )
    )


_COMPONENTS_TAIL = """
        SELECT v AS doc_id, min(r) AS component
        FROM reach GROUP BY v
    """


@register(
    "dedup_cluster_stats",
    oracle=_NEAR_DUP_COMPONENTS_ORACLE.replace(
        _COMPONENTS_TAIL,
        """,
        comps AS (
            SELECT v AS doc_id, min(r) AS component
            FROM reach GROUP BY v
        ),
        fulld AS (
            SELECT d.doc_id,
                   COALESCE(c.component, d.doc_id) AS component,
                   d.n_chars
            FROM documents d LEFT JOIN comps c USING (doc_id)
        ),
        clusters AS (
            SELECT component,
                   CAST(count(*) AS BIGINT) AS sz,
                   CAST(sum(n_chars) AS BIGINT) AS chars_total,
                   CAST(min(doc_id) AS BIGINT) AS keep_id
            FROM fulld GROUP BY component
        ),
        kept AS (
            SELECT c.sz, c.chars_total,
                   f.n_chars AS chars_kept
            FROM clusters c
            JOIN fulld f ON f.doc_id = c.keep_id
        )
        SELECT sz AS cluster_size,
               CAST(count(*) AS BIGINT) AS n_clusters,
               CAST(sum(sz - 1) AS BIGINT) AS docs_removed,
               CAST(sum(chars_total - chars_kept) AS BIGINT)
                   AS chars_removed
        FROM kept GROUP BY sz
    """,
    ),
    ops=("DEDUP", "A1"),
)
def dedup_cluster_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WHAT DEDUP BUYS: the near-duplicate cluster-size histogram
    with its savings ledger — for each cluster size, how many
    clusters exist and how many documents/characters a
    keep-the-min-id policy removes (size-1 rows count the
    untouched corpus). The one-table answer to "is near-dup
    worth running on this corpus", composed from the SAME
    pipeline near_dup_components certifies (banded MinHash ->
    verified pairs -> min-label components).

    Scale shape: components ride the checkpointed iterative
    operator; everything after is the narrow (doc_id, component,
    n_chars) frame — one aggregate to clusters, one keeper
    equi-join, one histogram aggregate. Exact BIGINT counts
    (corpus character sums are < 2^63 for any corpus under ~9
    exabytes)."""
    from afg_data_pipeline_spark.operators.graph import (
        connected_components,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    pairs = minhash_lsh_candidates(
        docs, threshold=0.5
    )
    comps = connected_components(
        pairs, src="doc_id_a", dst="doc_id_b"
    ).select(F.col("vertex").alias("doc_id"), "component")
    fulld = (
        docs.select("doc_id", "n_chars")
        .join(comps, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias(
                "component"
            ),
            "n_chars",
        )
        .localCheckpoint(eager=False)
    )
    clusters = fulld.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz"),
        F.sum("n_chars").cast("bigint").alias("chars_total"),
        F.min("doc_id").cast("bigint").alias("keep_id"),
    )
    kept = clusters.join(
        fulld.select(
            F.col("doc_id").alias("keep_id"),
            F.col("n_chars").alias("chars_kept"),
        ),
        "keep_id",
    )
    return kept.groupBy(
        F.col("sz").alias("cluster_size")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum(F.col("sz") - 1).cast("bigint").alias(
            "docs_removed"
        ),
        F.sum(F.col("chars_total") - F.col("chars_kept"))
        .cast("bigint")
        .alias("chars_removed"),
    )


@register(
    "near_dup_components",
    oracle=_NEAR_DUP_COMPONENTS_ORACLE,
    ops=("DEDUP",),
)
def near_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: MinHash candidate pairs above
    the Jaccard threshold become an edge list, connected components
    collapse transitive chains (A~B, B~C => one cluster), and each
    doc gets its cluster id — the step between "pair list" and
    "keep one canonical doc per cluster" that pairwise dedup alone
    cannot express.

    Iterative min-label propagation (operators/graph.py), verified
    bit-exact against a DuckDB WITH RECURSIVE transitive-closure
    oracle (min reachable vertex id = the same component label by
    construction); pytest additionally pins the operator against a
    union-find reference on synthetic graphs.
    """
    from afg_data_pipeline_spark.operators.graph import (
        connected_components,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    pairs = minhash_lsh_candidates(
        docs, threshold=0.5
    )
    comps = connected_components(
        pairs, src="doc_id_a", dst="doc_id_b"
    )
    return comps.select(
        F.col("vertex").alias("doc_id"), "component"
    )


@register(
    "near_dup_components_star",
    oracle=_NEAR_DUP_COMPONENTS_ORACLE,
    ops=("DEDUP",),
)
def near_dup_components_star(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Same duplicate-cluster contract as near_dup_components, but
    resolved with alternating large-star/small-star (Kiveris et
    al.) instead of min-label propagation: O(log² n) rounds instead
    of O(diameter) — the escape hatch for adversarial graph shapes
    (long chains, lattices) where diameter-bound iteration
    dominates. Shares near_dup_components' WITH RECURSIVE closure
    oracle, so both algorithms are held to the same bit-exact
    answer; pytest additionally pins them against each other and a
    union-find reference on synthetic graphs (tests/test_graph.py).
    """
    from afg_data_pipeline_spark.operators.graph import (
        connected_components_star,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    pairs = minhash_lsh_candidates(
        docs, threshold=0.5
    )
    comps = connected_components_star(
        pairs, src="doc_id_a", dst="doc_id_b"
    )
    return comps.select(
        F.col("vertex").alias("doc_id"), "component"
    )


@register(
    "duplicate_span_detect",
    oracle="""
        WITH tokd AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents
        ),
        pos AS (
            SELECT doc_id, t,
                   unnest(generate_series(1, len(t) - 4)) AS i
            FROM tokd WHERE len(t) >= 5
        ),
        grams AS (
            SELECT doc_id,
                   md5(array_to_string(list_slice(t, i, i + 4), ' '))
                       AS gh
            FROM pos
        ),
        cnt AS (SELECT gh, count(*) AS c FROM grams GROUP BY gh),
        per AS (
            SELECT g.doc_id,
                   count(*) AS n_grams,
                   count(*) FILTER (WHERE c >= 2) AS n_dup_grams
            FROM grams g JOIN cnt USING (gh)
            GROUP BY g.doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(per.n_grams, 0) AS BIGINT) AS n_grams,
               CAST(COALESCE(per.n_dup_grams, 0) AS BIGINT)
                   AS n_dup_grams
        FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
    """,
    ops=("DEDUP",),
)
def duplicate_span_detect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact-substring duplication profile (Lee et al.): per doc,
    total token 5-grams and how many occur >= 2 times anywhere in
    the corpus — the span-level signal document-level dedup can't
    see (boilerplate fragments inside otherwise-unique docs).
    operators/dedup.duplicate_spans; grams md5-hashed before any
    shuffle, counted map-side-combinably, flagged by hash equi-join.
    """
    from afg_data_pipeline_spark.operators.dedup import (
        duplicate_spans,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    return duplicate_spans(docs, k=5).select(
        F.col("id").alias("doc_id"), "n_grams", "n_dup_grams"
    )


@register(
    "tfidf_doc_pairs",
    oracle="""
        WITH toks AS (
            SELECT doc_id AS id,
                   unnest(regexp_split_to_array(trim(text), '\\s+'))
                       AS term
            FROM documents
        ),
        tf AS (
            SELECT id, term, count(*) AS tf
            FROM toks GROUP BY id, term
        ),
        dfs AS (
            SELECT term, count(*) AS df
            FROM tf GROUP BY term HAVING count(*) <= 50
        ),
        n AS (SELECT count(*) AS n FROM documents),
        w AS (
            SELECT id, term,
                   CAST(round(CAST(tf AS DOUBLE)
                              * ln(CAST((SELECT n FROM n) AS DOUBLE)
                                   / CAST(df AS DOUBLE))
                              * 1000000.0) AS BIGINT) AS s
            FROM tf JOIN dfs USING (term)
        ),
        norms AS (
            SELECT id,
                   sqrt(CAST(SUM(CAST(s AS DECIMAL(19,0))
                                 * CAST(s AS DECIMAL(19,0)))
                             AS DOUBLE)) AS norm
            FROM w GROUP BY id
        ),
        dots AS (
            SELECT a.id AS id_a, b.id AS id_b,
                   SUM(CAST(a.s AS DECIMAL(19,0))
                       * CAST(b.s AS DECIMAL(19,0))) AS dot
            FROM w a JOIN w b USING (term)
            WHERE a.id < b.id
            GROUP BY a.id, b.id
        )
        SELECT d.id_a, d.id_b,
               CAST(d.dot AS DOUBLE) / (na.norm * nb.norm)
                   AS cosine
        FROM dots d
        JOIN norms na ON na.id = d.id_a
        JOIN norms nb ON nb.id = d.id_b
        WHERE CAST(d.dot AS DOUBLE) / (na.norm * nb.norm) >= 0.3
    """,
    ops=("DEDUP",),
)
def tfidf_doc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine similarity — the classical model-free
    sibling of the embedding near-dup family: document pairs whose
    TF-IDF term vectors have cosine >= 0.3, computed by a df-pruned
    inverted-index join (operators/tfidf.py) that never enumerates
    a pair without a shared discriminative term. Weights are
    quantized once to integers (round(w·1e6) — portable across
    engines, unlike double→decimal casts of irrational values);
    dots/norms are then EXACT integer sums, so the cosine values
    are bit-exact against the DuckDB replica."""
    from afg_data_pipeline_spark.operators.tfidf import (
        tfidf_cosine_pairs,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    return tfidf_cosine_pairs(docs, min_sim=0.3, max_df=50)


# SimHash SQL replica (per-token md5 -> 64 nibble-arithmetic bit
# votes -> signed-int64 reassembly from two 32-bit halves), shared
# by the signature oracle and the banded near-dup oracle below.
_SIMHASH_CTES = """
        WITH toks AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
            FROM documents
        ),
        tokhash AS (
            SELECT doc_id, md5(t) AS h FROM toks
        ),
        bitvotes AS (
            SELECT doc_id, i,
                   SUM(2 * ((strpos('0123456789abcdef',
                                    substr(h, 16 - (i // 4), 1)) - 1
                            ) >> (i % 4) & 1) - 1) AS votes
            FROM tokhash, (SELECT unnest(generate_series(0, 63)) AS i)
            GROUP BY doc_id, i
        ),
        halves AS (
            SELECT doc_id,
                   SUM(CASE WHEN i < 32 AND votes > 0
                            THEN CAST(1 AS BIGINT) << i ELSE 0 END) AS lo,
                   SUM(CASE WHEN i >= 32 AND votes > 0
                            THEN CAST(1 AS BIGINT) << (i - 32) ELSE 0 END) AS hi
            FROM bitvotes GROUP BY doc_id
        ),
        sims AS (
            SELECT doc_id,
                   CAST(CASE WHEN u >= CAST(9223372036854775808 AS HUGEINT)
                             THEN u - CAST(18446744073709551616 AS HUGEINT)
                             ELSE u END AS BIGINT) AS simhash
            FROM (SELECT doc_id,
                         CAST(hi AS HUGEINT) * 4294967296
                             + CAST(lo AS HUGEINT) AS u
                  FROM halves)
        )
"""


@register(
    "simhash_signatures",
    oracle=_SIMHASH_CTES
    + """
        SELECT doc_id, simhash FROM sims
    """,
    ops=("DEDUP",),
)
def simhash_signatures_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document (mapInPandas bit vote), verified
    bit-exact against a pure-SQL replica: per-token md5 -> 64
    nibble-arithmetic bit votes -> signed-int64 reassembly from two
    32-bit halves (HUGEINT wraparound for bit 63)."""
    docs = read_star_table(spark, "documents", sf_dir)
    return simhash_signatures(docs)


@register(
    "zipf_fit_report",
    oracle="""
        WITH toks AS (
            SELECT unnest(regexp_split_to_array(trim(text),
                                                '\\s+')) AS t
            FROM documents
        ),
        freqs AS (
            SELECT t, CAST(count(*) AS BIGINT) AS freq
            FROM toks GROUP BY t
        ),
        ranked AS (
            SELECT freq,
                   row_number() OVER (
                       ORDER BY freq DESC, t ASC) AS rank
            FROM freqs
        ),
        pts AS (
            SELECT CAST(round(ln(CAST(rank AS DOUBLE))
                              * 1000000000.0) AS BIGINT) AS x,
                   CAST(round(ln(CAST(freq AS DOUBLE))
                              * 1000000000.0) AS BIGINT) AS y
            FROM ranked
        ),
        s AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT)
                       AS sx,
                   CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT)
                       AS sy,
                   SUM(CAST(x AS HUGEINT) * x) AS sxx,
                   SUM(CAST(y AS HUGEINT) * y) AS syy,
                   SUM(CAST(x AS HUGEINT) * y) AS sxy
            FROM pts
        ),
        tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n_tokens
            FROM toks
        )
        SELECT s.n AS n_types, tot.n_tokens,
               -((CAST(s.n AS DOUBLE) * CAST(s.sxy AS DOUBLE)
                  - CAST(s.sx AS DOUBLE) * CAST(s.sy AS DOUBLE))
                 / (CAST(s.n AS DOUBLE) * CAST(s.sxx AS DOUBLE)
                    - CAST(s.sx AS DOUBLE)
                        * CAST(s.sx AS DOUBLE)))
                   AS zipf_slope,
               (CAST(s.sy AS DOUBLE)
                - CAST(s.sx AS DOUBLE)
                  * ((CAST(s.n AS DOUBLE) * CAST(s.sxy AS DOUBLE)
                      - CAST(s.sx AS DOUBLE)
                          * CAST(s.sy AS DOUBLE))
                     / (CAST(s.n AS DOUBLE)
                            * CAST(s.sxx AS DOUBLE)
                        - CAST(s.sx AS DOUBLE)
                            * CAST(s.sx AS DOUBLE))))
                   / (CAST(s.n AS DOUBLE) * 1000000000.0)
                   AS intercept_ln,
               ((CAST(s.n AS DOUBLE) * CAST(s.sxy AS DOUBLE)
                 - CAST(s.sx AS DOUBLE) * CAST(s.sy AS DOUBLE))
                * (CAST(s.n AS DOUBLE) * CAST(s.sxy AS DOUBLE)
                   - CAST(s.sx AS DOUBLE)
                       * CAST(s.sy AS DOUBLE)))
               / ((CAST(s.n AS DOUBLE) * CAST(s.sxx AS DOUBLE)
                   - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE))
                  * (CAST(s.n AS DOUBLE) * CAST(s.syy AS DOUBLE)
                     - CAST(s.sy AS DOUBLE)
                         * CAST(s.sy AS DOUBLE)))
                   AS r_squared
        FROM s, tot
    """,
    ops=("TEXT", "A1", "O2"),
)
def zipf_fit_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ZIPF-LAW fit of the corpus token-frequency distribution:
    least-squares slope of ln(freq) against ln(rank) over the full
    vocabulary, with the intercept and R² — the one-row corpus
    fingerprint that detects synthetic/templated text (vocabulary
    too flat or too steep) and drives vocabulary-size planning
    (the Zipf exponent governs how fast the tail thins, the same
    assumption behind the tokenizer collect guards).

    Exactness: each ln value is quantized ONCE to the 1e9 integer
    grid (rule 1c) and every regression moment accumulates in
    DECIMAL(38,0) (grid products reach 1e20+, rule 11); the slope,
    intercept, and R² are closed-form double expressions over
    those exact sums. Scale: one map-side-combinable vocabulary
    count; the rank window runs over the VOCABULARY (freq DESC,
    token ASC tie-break), never the corpus; the fit is a 1-row
    aggregate. The global vocab rank is a single-partition window
    — the same vocabulary-bounded exception class as tokenizer
    training's guarded collects (Zipf keeps |vocab| << |corpus|);
    if a corpus ever breaks that, the scale path is
    partition-by-freq ranking over cumulative distinct-freq
    counts (the sharded_cumsum pattern)."""
    from pyspark.sql import Window

    docs = read_star_table(spark, "documents", sf_dir)
    toks = docs.select(F.explode(TX.tokens("text")).alias("t"))
    freqs = toks.groupBy("t").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq")
    )
    w = Window.orderBy(F.col("freq").desc(), F.col("t").asc())
    ranked = freqs.select(
        "freq", F.row_number().over(w).alias("rank")
    )
    grid = lambda c: F.round(  # noqa: E731
        F.log(c.cast("double")) * 1e9
    ).cast("bigint")
    pts = ranked.select(
        grid(F.col("rank")).alias("x"),
        grid(F.col("freq")).alias("y"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dec(F.col("x"))).alias("sx"),
        F.sum(dec(F.col("y"))).alias("sy"),
        F.sum(dec(F.col("x")) * dec(F.col("x"))).alias("sxx"),
        F.sum(dec(F.col("y")) * dec(F.col("y"))).alias("syy"),
        F.sum(dec(F.col("x")) * dec(F.col("y"))).alias("sxy"),
    )
    tot = toks.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens")
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.crossJoin(F.broadcast(tot)).select(
        F.col("n").alias("n_types"),
        "n_tokens",
        (-slope).alias("zipf_slope"),
        ((sy - sx * slope) / (n * F.lit(1e9))).alias(
            "intercept_ln"
        ),
        (
            (n * sxy - sx * sy)
            * (n * sxy - sx * sy)
            / ((n * sxx - sx * sx) * (n * syy - sy * sy))
        ).alias("r_squared"),
    )


@register(
    "corpus_minhash_similarity",
    oracle="""
        WITH tokd AS (
            SELECT lang,
                   regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents
        ),
        shl AS (
            SELECT lang,
                   unnest(CASE WHEN len(t) < 2
                               THEN [concat_ws(' ', t)]
                          ELSE list_transform(
                              generate_series(1, len(t) - 1),
                              i -> t[i] || ' ' || t[i+1])
                          END) AS s
            FROM tokd
        ),
        sh AS (SELECT DISTINCT lang, s FROM shl),
        sizes AS (
            SELECT lang, CAST(count(*) AS BIGINT) AS n
            FROM sh GROUP BY lang
        ),
        inter AS (
            SELECT a.lang AS lang_a, b.lang AS lang_b,
                   CAST(count(*) AS BIGINT) AS n_shared
            FROM sh a JOIN sh b
              ON a.s = b.s AND a.lang < b.lang
            GROUP BY 1, 2
        ),
        hx AS (
            SELECT lang, i,
                   min(md5(CAST(i AS VARCHAR) || '|' || s)) AS mh
            FROM sh, (SELECT unnest(generate_series(0, 15)) AS i)
            GROUP BY lang, i
        ),
        est AS (
            SELECT a.lang AS lang_a, b.lang AS lang_b,
                   CAST(SUM(CASE WHEN a.mh = b.mh
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_matches
            FROM hx a JOIN hx b
              ON a.i = b.i AND a.lang < b.lang
            GROUP BY 1, 2
        )
        SELECT sa.lang AS lang_a, sb.lang AS lang_b,
               sa.n AS n_shingles_a, sb.n AS n_shingles_b,
               COALESCE(i.n_shared, 0) AS n_shared,
               CAST(COALESCE(i.n_shared, 0) AS DOUBLE)
                   / CAST(sa.n + sb.n - COALESCE(i.n_shared, 0)
                          AS DOUBLE) AS exact_jaccard,
               CAST(e.n_matches AS DOUBLE) / 16.0
                   AS est_jaccard
        FROM sizes sa
        JOIN sizes sb ON sa.lang < sb.lang
        LEFT JOIN inter i
          ON i.lang_a = sa.lang AND i.lang_b = sb.lang
        JOIN est e
          ON e.lang_a = sa.lang AND e.lang_b = sb.lang
    """,
    ops=("DEDUP", "A1"),
)
def corpus_minhash_similarity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CORPUS-level overlap audit: pairwise Jaccard similarity of
    the per-language bigram-shingle SETS — both the k=16 MinHash
    ESTIMATE (matching-coordinate fraction, the number a 100 TB
    deployment would publish without ever joining shingle tables)
    and the exact value beside it, so the estimator's error is
    visible in the same row. The cross-corpus dedup/contamination
    planning signal: which language/domain slices share content.

    Scale shape: everything is distinct-shingle-vocabulary sized —
    one map-side-combinable distinct, one 16x seed explode with a
    partial-aggregated min per (lang, seed) (lambda-free, rule
    10), a shingle-keyed equi-join for the exact intersection
    (many keys, natural parallelism; per-key fan-out bounded by
    |langs|), and |langs|^2-sized finals. MinHash seeds follow
    minhash_near_dup's md5('i|' || shingle) convention — the SQL
    replica is exact, so the estimate itself is hash-certified."""
    docs = read_star_table(spark, "documents", sf_dir)
    k = 16
    sh = (
        docs.select(
            "lang", TX.tokens("text").alias("__toks")
        )
        .select(
            "lang",
            F.explode(
                TX.shingle_expr("__toks", 2)
            ).alias("s"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    sizes = sh.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.lang") < F.col("b.lang")),
        )
        .groupBy(
            F.col("a.lang").alias("lang_a"),
            F.col("b.lang").alias("lang_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    seeds = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("i"),
                    F.md5(
                        F.concat(F.lit(f"{i}|"), F.col("s"))
                    ).alias("h"),
                )
                for i in range(k)
            ]
        )
    ).alias("x")
    hx = (
        sh.select("lang", seeds)
        .select("lang", "x.i", "x.h")
        .groupBy("lang", "i")
        .agg(F.min("h").alias("mh"))
    )
    ha, hb = hx.alias("ha"), hx.alias("hb")
    est = (
        ha.join(
            hb,
            (F.col("ha.i") == F.col("hb.i"))
            & (F.col("ha.lang") < F.col("hb.lang")),
        )
        .groupBy(
            F.col("ha.lang").alias("lang_a"),
            F.col("hb.lang").alias("lang_b"),
        )
        .agg(
            F.sum(
                F.when(
                    F.col("ha.mh") == F.col("hb.mh"), F.lit(1)
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("n_matches")
        )
    )
    sa = sizes.select(
        F.col("lang").alias("lang_a"),
        F.col("n").alias("n_shingles_a"),
    )
    sb = sizes.select(
        F.col("lang").alias("lang_b"),
        F.col("n").alias("n_shingles_b"),
    )
    pairs = sa.crossJoin(sb).filter(
        F.col("lang_a") < F.col("lang_b")
    )
    shared = F.coalesce(F.col("n_shared"), F.lit(0)).cast(
        "bigint"
    )
    return (
        pairs.join(
            F.broadcast(inter), ["lang_a", "lang_b"], "left"
        )
        .join(F.broadcast(est), ["lang_a", "lang_b"])
        .select(
            "lang_a",
            "lang_b",
            "n_shingles_a",
            "n_shingles_b",
            shared.alias("n_shared"),
            (
                shared.cast("double")
                / (
                    F.col("n_shingles_a")
                    + F.col("n_shingles_b")
                    - shared
                ).cast("double")
            ).alias("exact_jaccard"),
            (
                F.col("n_matches").cast("double") / F.lit(16.0)
            ).alias("est_jaccard"),
        )
    )


@register(
    "simhash_band_near_dup",
    oracle=_SIMHASH_CTES
    + """,
        u AS (
            SELECT doc_id, simhash,
                   CASE WHEN simhash < 0
                        THEN CAST(simhash AS HUGEINT)
                             + CAST(18446744073709551616
                                    AS HUGEINT)
                        ELSE CAST(simhash AS HUGEINT)
                   END AS usig
            FROM sims
        ),
        bands AS (
            SELECT doc_id, simhash, b.band_id,
                   CAST((usig // b.divisor) % 65536 AS BIGINT)
                       AS band_val
            FROM u, (VALUES
                (0, CAST(1 AS HUGEINT)),
                (1, CAST(65536 AS HUGEINT)),
                (2, CAST(4294967296 AS HUGEINT)),
                (3, CAST(281474976710656 AS HUGEINT))
            ) b(band_id, divisor)
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a,
                   b.doc_id AS doc_b,
                   a.simhash AS sig_a, b.simhash AS sig_b
            FROM bands a JOIN bands b
              ON a.band_id = b.band_id
             AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER)
                   AS hamming
        FROM cand
        WHERE bit_count(xor(sig_a, sig_b)) <= 10
    """,
    ops=("DEDUP",),
)
def simhash_band_near_dup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SimHash near-duplicate pairs: the SQL-CERTIFIED twin of
    image_phash_near_dup's signature->pairs half. Both queries run
    the SAME operator (operators/dedup.banded_hamming_pairs: 16-bit
    band explode -> bucket join -> distinct -> XOR+bit_count <= 10
    verify); here the input signatures are SimHash, whose SQL
    replica is already driver-certified (simhash_signatures), so
    the full pipeline gets a hash-exact oracle — the pHash path's
    banding/verify code can never regress silently (rule 10: the
    minhash_near_dup precedent). Band blocking has 65k natural
    keys; the corpus never self-joins all-pairs."""
    from afg_data_pipeline_spark.operators.dedup import (
        banded_hamming_pairs,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    sigs = simhash_signatures(docs).localCheckpoint(eager=False)
    return banded_hamming_pairs(
        sigs, "simhash", id_col="doc_id",
        n_bands=4, band_bits=16, max_hamming=10,
    )


@register(
    "hamming_band_recall_audit",
    oracle=_SIMHASH_CTES
    + """,
        sample AS MATERIALIZED (
            SELECT doc_id FROM (
                SELECT doc_id,
                       md5('hammingaudit:'
                           || CAST(doc_id AS VARCHAR)) AS h
                FROM documents
                ORDER BY h, doc_id LIMIT 256)
        ),
        ssig AS MATERIALIZED (
            SELECT s.doc_id, s.simhash
            FROM sims s JOIN sample USING (doc_id)
        ),
        truth AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(bit_count(xor(a.simhash, b.simhash))
                        AS INTEGER) AS hamming
            FROM ssig a JOIN ssig b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 10
        ),
        u AS (
            SELECT doc_id,
                   CASE WHEN simhash < 0
                        THEN CAST(simhash AS HUGEINT)
                             + CAST(18446744073709551616
                                    AS HUGEINT)
                        ELSE CAST(simhash AS HUGEINT)
                   END AS usig
            FROM ssig
        ),
        bands AS (
            SELECT doc_id, b.band_id,
                   CAST((usig // b.divisor) % 65536 AS BIGINT)
                       AS band_val
            FROM u, (VALUES
                (0, CAST(1 AS HUGEINT)),
                (1, CAST(65536 AS HUGEINT)),
                (2, CAST(4294967296 AS HUGEINT)),
                (3, CAST(281474976710656 AS HUGEINT))
            ) b(band_id, divisor)
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a,
                   b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band_id = b.band_id
             AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id
        ),
        labeled AS (
            SELECT CASE WHEN t.hamming <= 3 THEN '00-03'
                        WHEN t.hamming <= 7 THEN '04-07'
                        ELSE '08-10' END AS hamming_band,
                   CAST(CASE WHEN c.doc_a IS NOT NULL
                             THEN 1 ELSE 0 END AS BIGINT)
                       AS found
            FROM truth t
            LEFT JOIN cand c
              ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
        )
        SELECT hamming_band,
               CAST(count(*) AS BIGINT) AS n_true_pairs,
               CAST(sum(found) AS BIGINT) AS n_found,
               CAST(sum(found) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) AS recall
        FROM labeled GROUP BY hamming_band
    """,
    ops=("DEDUP", "SAMPLE"),
)
def hamming_band_recall_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BANDED-HAMMING RECALL AUDIT: measure the recall of the
    shared 4x16-bit banding (operators/dedup.banded_hamming_pairs
    — the exact code image_phash_near_dup and
    simhash_band_near_dup both run) ON THIS CORPUS, per true
    Hamming-distance band, against brute-force ground truth over a
    fixed 256-doc md5-ranked subsample (constant work at ANY
    corpus size — the lsh_recall_audit/ann_recall_audit pattern,
    r7 verdict #8). Signatures are SimHash so the whole audit is
    SQL-certifiable; the banding math is signature-agnostic, so
    the measured curve IS the pHash path's curve. Built-in
    self-check: the 00-03 band must read recall 1.0 — Hamming <
    n_bands cannot touch all 4 bands (pigeonhole); above that the
    curve is the documented probabilistic LSH trade, measured here
    instead of trusted."""
    from afg_data_pipeline_spark.operators.dedup import (
        banded_hamming_pairs,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    sample = (
        docs.select(
            "doc_id",
            "text",
            F.md5(
                F.concat(
                    F.lit("hammingaudit:"),
                    F.col("doc_id").cast("string"),
                )
            ).alias("__h"),
        )
        .orderBy("__h", "doc_id")
        .limit(256)
        .drop("__h")
    )
    # signature table feeds BOTH the truth brute-force and the
    # banded branch — checkpoint once (rule 12)
    ss = simhash_signatures(sample).localCheckpoint(eager=False)
    a = ss.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("sig_a"),
    )
    b = ss.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sig_b"),
    )
    truth = (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(
                F.col("sig_a").bitwiseXOR(F.col("sig_b"))
            )
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= 10)
    )
    found = banded_hamming_pairs(
        ss, "simhash", id_col="doc_id",
        n_bands=4, band_bits=16, max_hamming=10,
    ).select("doc_a", "doc_b", F.lit(1).alias("__found"))
    labeled = truth.join(
        F.broadcast(found), ["doc_a", "doc_b"], "left"
    ).select(
        F.when(F.col("hamming") <= 3, "00-03")
        .when(F.col("hamming") <= 7, "04-07")
        .otherwise("08-10")
        .alias("hamming_band"),
        F.coalesce(F.col("__found"), F.lit(0))
        .cast("bigint")
        .alias("found"),
    )
    return labeled.groupBy("hamming_band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true_pairs"),
        F.sum("found").cast("bigint").alias("n_found"),
        (
            F.sum("found").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("recall"),
    )


@register(
    "ann_cosine_topk",
    oracle="""
        WITH vecs AS (
            SELECT vec_id, embedding,
                   sqrt(list_aggregate(list_transform(
                       generate_series(1, len(embedding)),
                       i -> CAST(embedding[i] AS DOUBLE)
                            * CAST(embedding[i] AS DOUBLE)),
                       'sum')) AS nrm
            FROM embeddings
        ),
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   list_aggregate(list_transform(
                       generate_series(1, len(q.embedding)),
                       i -> CAST(q.embedding[i] AS DOUBLE)
                            * CAST(c.embedding[i] AS DOUBLE)),
                       'sum') / (q.nrm * c.nrm) AS cosine
            FROM vecs q CROSS JOIN vecs c
            WHERE q.vec_id <> c.vec_id AND q.vec_id < 32
        )
        SELECT query_id, neighbor_id, cosine, rn AS rank
        FROM (
            SELECT query_id, neighbor_id, cosine,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id ASC
                   ) AS rn
            FROM scored
        ) WHERE rn <= 5
    """,
    ops=("ANN",),
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for the first 32 query vectors.

    The brute-force baseline of similarity search; scores
    accumulate in decimal so Spark and DuckDB agree bit-for-bit.
    """
    emb = read_star_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 32)
    return brute_force_topk(queries, emb, k=5)


def _srp_topk_oracle_sql(
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 2,
    dim: int = 64,
    seed: int = 42,
    query_pred: str = "vec_id < 32",
) -> str:
    """Exact SQL replica of lsh_bucketed_topk (same inlined
    md5-derived planes and decimal bucket dots as
    _srp_lsh_oracle_sql, then exact cosine + deterministic
    (cosine DESC, neighbor ASC) ranking)."""
    from afg_data_pipeline_spark.operators.similarity import _hyperplane

    def dot_sql(plane: list[float]) -> str:
        lst = "[" + ", ".join(repr(p) for p in plane) + "]"
        return (
            "list_aggregate(list_transform("
            f"generate_series(1, {len(plane)}),"
            " i -> CAST(CAST(embedding[i] AS DOUBLE)"
            f" * ({lst}[i]) AS DECIMAL(28,18))), 'sum')"
        )

    selects = []
    for t in range(n_tables):
        planes = [
            _hyperplane(seed + t * 1000 + p, dim) for p in range(n_planes)
        ]
        bucket = " + ".join(
            f"(CASE WHEN {dot_sql(pl)} >= 0 THEN 1 ELSE 0 END) "
            f"* {2 ** (n_planes - 1 - i)}"
            for i, pl in enumerate(planes)
        )
        selects.append(
            f"SELECT {t} AS t, vec_id, ({bucket}) AS bucket "
            "FROM embeddings"
        )
    union = " UNION ALL ".join(selects)
    return f"""
        WITH buckets AS ({union}),
        cand AS (
            SELECT DISTINCT q.vec_id AS query_id,
                            c.vec_id AS neighbor_id
            FROM buckets q
            JOIN buckets c ON q.t = c.t AND q.bucket = c.bucket
            WHERE q.{query_pred} AND q.vec_id <> c.vec_id
        ),
        vecs AS (
            SELECT vec_id, embedding,
                   sqrt(list_aggregate(list_transform(
                       generate_series(1, len(embedding)),
                       i -> CAST(embedding[i] AS DOUBLE)
                            * CAST(embedding[i] AS DOUBLE)),
                       'sum')) AS nrm
            FROM embeddings
        ),
        scored AS (
            SELECT cd.query_id, cd.neighbor_id,
                   list_aggregate(list_transform(
                       generate_series(1, len(a.embedding)),
                       i -> CAST(a.embedding[i] AS DOUBLE)
                            * CAST(b.embedding[i] AS DOUBLE)),
                       'sum') / (a.nrm * b.nrm) AS cosine
            FROM cand cd
            JOIN vecs a ON a.vec_id = cd.query_id
            JOIN vecs b ON b.vec_id = cd.neighbor_id
        )
        SELECT query_id, neighbor_id, cosine, rank
        FROM (
            SELECT query_id, neighbor_id, cosine,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id ASC
                   ) AS INTEGER) AS rank
            FROM scored
        ) WHERE rank <= {k}
    """


@register(
    "ann_lsh_topk",
    oracle=_srp_topk_oracle_sql(),
    ops=("ANN",),
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH bucketed ANN — the 100 TB similarity-search path.
    Approximate vs brute force by design, but fully deterministic,
    so the whole bucketed pipeline is replicated in SQL and
    oracle-checked bit-for-bit (planes inlined as literals)."""
    emb = read_star_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 32)
    return lsh_bucketed_topk(queries, emb, k=5)


@register(
    "multimodal_features",
    oracle=None,  # real BMP codec; DuckDB cannot decode BMP bytes
    ops=("MULTIMODAL",),
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column -> Arrow-batched feature extraction over
    REAL media: deterministic BMP bytes synthesized per document,
    decoded by the pure-NumPy codec (operators/codecs.py) inside
    extract_features' decode_media dispatch — no stub path.

    The feature vector is projected to scalar columns (dim, L2
    norm, first component) for the harness — the rows-only
    canonicalizer hashes scalar cells only, and the full
    array<double> remains available from extract_features()
    directly (pinned in pytest)."""
    from afg_data_pipeline_spark.operators.multimodal import (
        attach_synth_bmp,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    media = attach_synth_bmp(docs)
    feat = extract_features(media)
    return feat.select(
        "doc_id",
        F.size("feature").alias("feature_dim"),
        # Explicit 8-term sum, not F.aggregate — this feeds a
        # rows-only (oracle-less) path, so the HOF-lambda corruption
        # class (CLAUDE.md rule 10) would be silent here.
        F.sqrt(
            sum(
                (
                    F.element_at("feature", j + 1)
                    * F.element_at("feature", j + 1)
                    for j in range(8)
                ),
                F.lit(0.0),
            )
        ).alias("feature_norm"),
        F.element_at("feature", 1).alias("feature_0"),
    )


@register(
    "multimodal_frame_sample",
    oracle=None,  # real BMP codec; DuckDB cannot decode BMP bytes
    ops=("MULTIMODAL",),
)
def multimodal_frame_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Row-expanding frame sampling over REAL media: each synthetic
    BMP is decoded by the pure-NumPy codec and split into 4
    contiguous row-strip frames via mapInPandas, with the
    pre-expansion repartition that keeps the N× blow-up parallel
    (AQE cannot see expansion in input shuffle bytes)."""
    from afg_data_pipeline_spark.operators.multimodal import (
        attach_synth_bmp,
        frame_sample,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    media = attach_synth_bmp(docs)
    frames = frame_sample(media, n_frames=4)
    return frames.select(
        "doc_id",
        "frame_idx",
        "frame_ts",
        # driver-canonicalizable projection of the frame payload
        # (schema-lint rule: registered outputs expose only scalar
        # driver-safe types; the binary-returning operator stays
        # for pipeline use). md5 pins the full byte content.
        F.md5("frame").alias("frame_md5"),
        F.length("frame").alias("frame_bytes"),
    )


def _frame_manifest_oracle() -> str:
    """Closed-form oracle for multimodal_frame_manifest: the synth
    raster's dimensions derive from md5(text) (codecs.py
    synth_bmp_for_text: seed = first 8 md5 bytes big-endian,
    w = 8 + seed % 25, h = 8 + (seed >> 8) % 17), the decoded
    payload is w*h*3 bytes, and frame i of 4 is the
    [n*i//4, n*(i+1)//4) slice. seed >> 8 = the first 14 hex chars
    as an integer (< 2^56, BIGINT-safe); seed % 25 =
    ((A % 25) * 256 + B) % 25 with B the last byte — no 64-bit
    overflow anywhere (rule 5b hex arithmetic)."""
    nib = (
        "(strpos('0123456789abcdef', substr(hx, {k}, 1)) - 1)"
    )
    a_terms = " + ".join(
        f"{nib.format(k=k + 1)} * {16 ** (13 - k)}"
        for k in range(14)
    )
    b_expr = (
        f"{nib.format(k=15)} * 16 + {nib.format(k=16)}"
    )
    return f"""
        WITH m AS (
            SELECT doc_id, md5(text) AS hx FROM documents
        ),
        ab AS (
            SELECT doc_id,
                   CAST({a_terms} AS BIGINT) AS a,
                   CAST({b_expr} AS BIGINT) AS b
            FROM m
        ),
        dims AS (
            SELECT doc_id,
                   CAST(8 + ((a % 25) * 256 + b) % 25
                        AS INTEGER) AS width,
                   CAST(8 + (a % 17) AS INTEGER) AS height
            FROM ab
        )
        SELECT d.doc_id,
               CAST(i.i AS INTEGER) AS frame_idx,
               CAST(i.i AS DOUBLE) AS frame_ts,
               CAST((width * height * 3 * (i.i + 1)) // 4
                    - (width * height * 3 * i.i) // 4
                    AS INTEGER) AS frame_bytes,
               width, height
        FROM dims d
        CROSS JOIN (
            SELECT unnest(generate_series(0, 3)) AS i
        ) i
    """


@register(
    "multimodal_frame_manifest",
    oracle=_frame_manifest_oracle(),
    ops=("MM",),
)
def multimodal_frame_manifest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FRAME MANIFEST, hash-exact — the oracle-checkable sibling
    of the rows-only `multimodal_frame_sample` (frame CONTENT
    md5s can't be recomputed in SQL; frame GEOMETRY can). The
    Spark side runs the REAL pipeline — synth container encode
    (BMP even doc_ids / PNG odd), magic-byte dispatch decode,
    contiguous strip split in mapInPandas — and exposes per frame
    its byte length plus the header-parsed dimensions; the oracle
    recomputes all of it closed-form from md5(text). A drift
    anywhere in the codec, header parse, decode, or strip
    arithmetic turns this row red, so the multimodal family gets
    a real driver-green exact row (VERDICT r8 #8)."""
    from afg_data_pipeline_spark.operators.multimodal import (
        attach_synth_bmp,
        frame_sample,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    # media feeds BOTH the frame expansion and the dims projection:
    # checkpoint once or the synth encode mapInPandas runs twice
    # (rule 12; the encode is expensive relative to its output).
    media = attach_synth_bmp(docs).localCheckpoint(eager=False)
    frames = frame_sample(media, n_frames=4)
    dims = media.select(
        "doc_id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )
    return (
        frames.select(
            "doc_id",
            "frame_idx",
            "frame_ts",
            F.length("frame").alias("frame_bytes"),
        )
        .join(dims, "doc_id")
        .select(
            "doc_id",
            "frame_idx",
            "frame_ts",
            "frame_bytes",
            "width",
            "height",
        )
    )


@register(
    "domain_mixture_resample",
    oracle="""
        WITH counts AS (
            SELECT source, count(*) AS n FROM documents GROUP BY source
        ),
        w AS (
            SELECT source, n,
                   CASE WHEN source IN ('src0','src1','src2','src3','src4')
                        THEN CAST(0.12 AS DOUBLE)
                        ELSE CAST(0.08 AS DOUBLE) END AS w
            FROM counts
        ),
        k AS (SELECT min(CAST(n AS DOUBLE) / w) AS k FROM w),
        rates AS (
            SELECT source, (w * k / CAST(n AS DOUBLE)) AS rate
            FROM w CROSS JOIN k
        )
        SELECT d.doc_id, d.source, d.lang
        FROM documents d JOIN rates r USING (source)
        WHERE md5(CAST(d.doc_id AS VARCHAR)) <
              CASE WHEN r.rate >= 1.0
                   THEN 'gggggggggggggggggggggggggggggggg'
                   ELSE lower(lpad(to_hex(CAST(floor(
                            r.rate * 4294967296.0) AS BIGINT)),
                            8, '0'))
                        || '000000000000000000000000'
              END
    """,
    ops=("SAMPLE", "A1"),
)
def domain_mixture_resample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Downsample-only domain mixing (operators/sampling.
    mixture_resample): resample sources to a target mixture
    (relative weight 0.12 for src0-4, 0.08 for every other source)
    at the largest total
    that honors the weights without upsampling. The data-dependent
    keep-rates come from exact counts through single IEEE ops, so
    the md5 thresholds — and therefore the surviving row set — are
    bit-identical in SQL."""
    from afg_data_pipeline_spark.operators.sampling import (
        mixture_resample,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    weights = {f"src{i}": 0.12 for i in range(5)}
    out = mixture_resample(
        docs, "source", "doc_id", weights, default_weight=0.08
    )
    return out.select("doc_id", "source", "lang")


@register(
    "boilerplate_line_dedup",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents
        ),
        linearr AS (
            SELECT doc_id,
                   list_transform(
                       generate_series(1,
                           CAST(ceil(len(t) / 10.0) AS BIGINT)),
                       i -> array_to_string(
                           array_slice(t, (i-1)*10 + 1, i*10), ' ')
                   ) AS ls
            FROM toks
        ),
        lines AS (
            SELECT doc_id, pos, ls[pos] AS line
            FROM linearr,
                 LATERAL (SELECT unnest(generate_series(1, len(ls)))
                          AS pos)
        ),
        counts AS (
            SELECT line, count(*) AS cnt FROM lines GROUP BY line
        ),
        kept AS (
            SELECT l.doc_id, l.pos, l.line
            FROM lines l JOIN counts c USING (line)
            WHERE c.cnt < 3
        ),
        rebuilt AS (
            SELECT doc_id,
                   string_agg(line, chr(10) ORDER BY pos)
                       AS clean_text,
                   count(*) AS n_kept
            FROM kept GROUP BY doc_id
        )
        SELECT a.doc_id,
               COALESCE(r.clean_text, '') AS clean_text,
               CAST(len(a.ls) - COALESCE(r.n_kept, 0) AS BIGINT)
                   AS n_lines_removed
        FROM linearr a LEFT JOIN rebuilt r USING (doc_id)
    """,
    ops=("DEDUP", "TEXT"),
)
def boilerplate_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level dedup: any line occurring >= 3 times
    across the corpus is boilerplate and is dropped from every
    document; documents are rebuilt from their surviving lines in
    order. (C4 used exactly this three-occurrence rule on real
    lines; this corpus has no newlines, so 'lines' are
    deterministic 10-token windows built in-plan — the global
    count + ordered rebuild semantics are the operator under
    test.)

    Scale shape: the text is tokenized ONCE into an array column
    (the line-windowing lambda slices that column — inlining
    split() into the lambda body re-ran the regex split per line,
    O(tokens²/10) per doc, and cost 2.06s → 1.16s at sf0.1); the
    corpus-wide occurrence count is a map-side-combined groupBy
    over xxhash64 line keys whose cnt >= 3 survivors broadcast
    back as a flag — the line strings never shuffle for counting,
    and a hot boilerplate line is one grouped row, so no skew
    probe is needed (details at the implementation comment). The
    ordered rebuild is a per-doc sort of that doc's own line
    structs, never a global sort. All-lines-removed docs survive
    (empty text, full removed-count).
    """
    docs = read_star_table(spark, "documents", sf_dir)

    # Line construction is a CODEGEN'D regex chunker, not HOF
    # transform/slice/concat_ws: HOFs are CodegenFallback (rule 18)
    # and 3M interpreted slice+join lambdas measured 3.5s at sf10
    # where the java-regex pass is 0.35s — identical output. The
    # text is whitespace-normalized FIRST so regex chunks equal the
    # split-then-join lines for ANY input spacing; an empty/
    # whitespace-only doc keeps its single empty line (split("")
    # yields [""]  — the regex finds no match, so the CASE supplies
    # it, matching the oracle's regexp_split_to_array semantics).
    def _lines_arr(d: DataFrame) -> DataFrame:
        norm = F.regexp_replace(
            F.trim(F.col("text")), r"\s+", " "
        )
        return d.select(
            "doc_id",
            F.when(norm == "", F.array(F.lit("")))
            .otherwise(
                F.regexp_extract_all(
                    norm,
                    F.lit(r"(?:\S+ ){0,9}\S+"),
                    F.lit(0),
                )
            )
            .alias("ls"),
        )

    def _lines(d: DataFrame) -> DataFrame:
        # posexplode_outer + isNotNull: the non-outer generate
        # infers `size(ls) > 0 AND isnotnull(ls)` and pushes the
        # whole regex chunker into a per-row scan filter — and this
        # stream is deliberately evaluated twice (count + rebuild),
        # so the regex ran 4x per doc instead of 2x. `ls` is never
        # empty (the CASE supplies [""] for empty text) and its
        # elements are never null, so the generated-column filter
        # keeps the row set identical (a null-text doc yields a
        # null array -> one null row -> dropped, same as before).
        return _lines_arr(d).select(
            "doc_id",
            F.posexplode_outer("ls").alias("pos0", "line"),
        ).filter(F.col("line").isNotNull()).select(
            "doc_id", (F.col("pos0") + 1).alias("pos"), "line"
        )

    # The corpus-wide occurrence count NEVER shuffles line strings
    # (r7; the r6 count-window shuffled all 3M lines, 1.2s at sf10,
    # plus a 0.6s skew probe): count by xxhash64(line) — groupBy
    # map-side-combines to one (hash, cnt) row per distinct line
    # per partition (rule 19; a window has no partial aggregation),
    # filter to the cnt >= 3 BOILERPLATE keys (by definition
    # <= total_lines/3, in practice a few thousand 8-byte keys),
    # and broadcast-left-join the flag back. Skew-proof by
    # construction: a pathologically hot line is ONE grouped row
    # and a broadcast lookup, so the corpus_key_count probe gate is
    # unnecessary here. Hashed count keys follow the
    # duplicate_spans precedent (oracle-checked: a 64-bit collision
    # merging two distinct lines' counts would be a red row, never
    # silent). The line stream is evaluated twice (count + rebuild)
    # — recomputing the 0.35s regex pass beats checkpointing 3M
    # rows (rule 17).
    lines = _lines(docs)
    boil = (
        lines.groupBy(F.xxhash64("line").alias("lh"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 3)
        .select("lh", F.lit(1).alias("is_boiler"))
    )
    counted = lines.withColumn(
        "lh", F.xxhash64("line")
    ).join(F.broadcast(boil), "lh", "left")
    # ONE doc-level aggregate: collect_list skips nulls, so the
    # CASE inside it is the keep-filter and the rebuild + removed-
    # count ride the same pass. Every doc owns >= 1 line row
    # (empty text keeps its single empty line), so doc-level
    # coverage needs no outer join.
    return counted.groupBy("doc_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list("
            " CASE WHEN is_boiler IS NULL THEN struct(pos, line)"
            " END)), x -> x.line), '\\n')"
        ).alias("clean_text"),
        F.sum(
            F.when(F.col("is_boiler").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("n_lines_removed"),
    ).select("doc_id", "clean_text", "n_lines_removed")


@register(
    "unigram_lm_score",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
            FROM documents
        ),
        freqs AS (
            SELECT t, count(*) AS cnt FROM toks GROUP BY t
        ),
        tot AS (
            SELECT count(*) AS n FROM toks
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(SUM(CAST((-ln(CAST(cnt AS DOUBLE)
                              / CAST(n AS DOUBLE)))
                         AS DECIMAL(18,6))) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) AS avg_nll
        FROM toks JOIN freqs USING (t) CROSS JOIN tot
        GROUP BY doc_id
    """,
    ops=("TEXT", "A1"),
)
def unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score: per-document mean negative
    log-likelihood under the corpus's own unigram LM (the CCNet /
    Gopher-style 'LM filter' with the cheapest possible LM).
    Low avg_nll = common boilerplate-like tokens; high = rare-token
    soup — both tails are what quality filtering trims.

    Two aggregation passes, both shuffle-light: (1) global token
    counts (partial count before the shuffle, vocabulary-sized
    result), (2) token->freq equi-join (stopword skew handled by
    AQE) then a per-doc decimal-accumulated mean (order-invariant,
    CLAUDE.md rule 1; ln() verified bit-identical across engines
    on the frequency ratios). The corpus total rides in as a 1-row
    broadcast cross join, not a collected literal, so the plan is
    one lazy composition.
    """
    from afg_data_pipeline_spark.functions.numeric import dsum_expr

    docs = read_star_table(spark, "documents", sf_dir)
    toks_long = docs.select(
        "doc_id", F.explode(TX.tokens("text")).alias("t")
    )
    freqs = toks_long.groupBy("t").agg(F.count(F.lit(1)).alias("cnt"))
    tot = toks_long.agg(F.count(F.lit(1)).alias("n"))
    nll = -F.log(
        F.col("cnt").cast("double") / F.col("n").cast("double")
    )
    return (
        toks_long.join(freqs, "t")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (
                dsum_expr(nll, "nll_sum")
                / F.count(F.lit(1)).cast("double")
            ).alias("avg_nll"),
        )
        .select("doc_id", "n_tokens", "avg_nll")
    )


@register(
    "pii_redaction",
    oracle="""
        SELECT doc_id,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     text || ' contact u' || CAST(doc_id AS VARCHAR)
                          || '@mail.example.invalid or +56 9 '
                          || CAST(1000 + doc_id % 9000 AS VARCHAR)
                          || ' 5678 at 10.0.'
                          || CAST(doc_id % 256 AS VARCHAR) || '.7',
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                     '[EMAIL]', 'g'),
                   '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '[IP]', 'g'),
                 '\\+\\d{1,3}[ -]?\\d{1,4}[ -]?\\d{3,4}[ -]?\\d{3,4}',
                 '[PHONE]', 'g') AS clean_text
        FROM documents
    """,
    ops=("F2", "P9"),
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (operators/text.redact_pii): emails, IPv4,
    phone numbers -> typed tags. The corpus text is clean by
    construction, so the query *plants* one of each per row
    (deterministic from doc_id) before redacting — the oracle then
    verifies the actual redaction semantics bit-for-bit, not a
    no-op passthrough."""
    from afg_data_pipeline_spark.operators.text import redact_pii

    docs = read_star_table(spark, "documents", sf_dir)
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.invalid or +56 9 "),
            (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
            F.lit(" 5678 at 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7"),
        ).alias("text"),
    )
    return planted.select(
        "doc_id", redact_pii("text").alias("clean_text")
    )


@register(
    "pack_token_stream",
    oracle="""
        SELECT doc_id, lang, n_tokens,
               CAST((cum - n_tokens) // 2048 AS BIGINT) AS chunk_id,
               CAST((cum - n_tokens) % 2048 AS BIGINT) AS chunk_offset
        FROM (
            SELECT doc_id, lang,
                   len(regexp_split_to_array(trim(text), '\\s+'))
                       AS n_tokens,
                   SUM(len(regexp_split_to_array(trim(text), '\\s+')))
                       OVER (PARTITION BY lang ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
            FROM documents
        )
    """,
    ops=("A6", "O1"),
)
def pack_token_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing, stream-concatenation style: documents are
    laid head-to-tail per language into fixed 2048-token training
    chunks; each doc reports the chunk where it starts and its
    offset in it (docs may straddle chunk boundaries — the GPT-2/3
    concat-then-chunk recipe, unlike length_bucketed_batches which
    never splits).

    Scale shape: the running total is an ADAPTIVE prefix sum
    (operators/prefixsum.sharded_cumsum). Above the per-group row
    threshold it is the two-pass SHARDED scan — per-(lang,
    doc_id-range shard) partial sums, broadcast exclusive shard
    offsets, then a within-shard window — so parallelism is
    n_shards per language instead of one task per language (a
    mostly-monolingual 100 TB corpus would otherwise funnel
    through a single task). Below it (this corpus at test sfs) the
    plain one-shuffle window runs: measured at sf1 the sharded
    machinery is 1.64s vs 0.27s of pure overhead on small groups.
    Integer addition is associative, so both strategies are
    bit-identical to the per-lang window the oracle expresses."""
    from afg_data_pipeline_spark.operators.prefixsum import sharded_cumsum
    from afg_data_pipeline_spark.operators.text import token_count

    docs = read_star_table(spark, "documents", sf_dir)
    cap = 2048
    with_cum = sharded_cumsum(
        docs.select(
            "doc_id",
            "lang",
            token_count("text").alias("n_tokens"),
        ),
        value_col="n_tokens",
        order_col="doc_id",
        partition_cols=["lang"],
        n_shards=32,
        out_col="cum",
    )
    start = F.col("cum") - F.col("n_tokens")
    return with_cum.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor(start / cap).cast("bigint").alias("chunk_id"),
        (start % cap).cast("bigint").alias("chunk_offset"),
    )


@register(
    "eval_decontamination",
    oracle="""
        WITH tokd AS (
            SELECT doc_id, source,
                   regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents
        ),
        grams AS (
            SELECT doc_id, source,
                   list_distinct(
                       CASE WHEN len(t) < 3
                            THEN [concat_ws(' ', t)]
                       ELSE list_transform(
                           generate_series(1, len(t) - 2),
                           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                       END) AS gs
            FROM tokd
        ),
        eval_grams AS (
            SELECT DISTINCT unnest(gs) AS gram
            FROM grams WHERE source = 'src0'
        ),
        train_grams AS (
            SELECT doc_id, unnest(gs) AS gram
            FROM grams WHERE source <> 'src0'
        )
        SELECT t.doc_id, count(*) AS n_matched_grams
        FROM train_grams t JOIN eval_grams e USING (gram)
        GROUP BY t.doc_id
    """,
    ops=("DEDUP",),
)
def eval_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-leakage check: training docs (source != 'src0')
    sharing at least one word trigram with the held-out eval slice
    (source = 'src0'), with the matched-gram count per doc
    (operators/dedup.decontaminate). Published recipes use 13-grams;
    3 keeps the synthetic corpus discriminative."""
    from afg_data_pipeline_spark.operators.dedup import decontaminate

    docs = read_star_table(spark, "documents", sf_dir)
    train = docs.filter(F.col("source") != "src0")
    eval_df = docs.filter(F.col("source") == "src0")
    return decontaminate(train, eval_df, n=3)


@register(
    "vocab_growth_curve",
    oracle="""
        WITH tokd AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(text), '\\s+'))
                       AS tok
            FROM documents
        ),
        tot AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
            FROM tokd GROUP BY doc_id
        ),
        firsts AS (
            SELECT tok, min(doc_id) AS doc_id
            FROM tokd GROUP BY tok
        ),
        novel AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_novel
            FROM firsts GROUP BY doc_id
        ),
        j AS (
            SELECT t.doc_id, t.n_tokens,
                   CAST(COALESCE(n.n_novel, 0) AS BIGINT)
                       AS n_novel
            FROM tot t LEFT JOIN novel n USING (doc_id)
        )
        SELECT doc_id, n_tokens, n_novel,
               CAST(sum(n_tokens) OVER w AS BIGINT) AS cum_tokens,
               CAST(sum(n_novel) OVER w AS BIGINT) AS vocab_size
        FROM j
        WINDOW w AS (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    """,
    ops=("DEDUP", "A6"),
)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth over the corpus in arrival
    order: running token total and running distinct-vocabulary
    size per document (operators/dedup.vocab_growth). First-
    occurrence credit is one token-keyed min (no dedup shuffle —
    duplicates cannot change a min); the running sums ride the
    adaptive sharded cumsum, never a partitionless window."""
    from afg_data_pipeline_spark.operators.dedup import vocab_growth

    docs = read_star_table(spark, "documents", sf_dir)
    return vocab_growth(docs)


@register(
    "gram_novelty_scores",
    oracle="""
        WITH tokd AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents
        ),
        grams AS (
            SELECT doc_id,
                   list_distinct(
                       CASE WHEN len(t) < 3
                            THEN [concat_ws(' ', t)]
                       ELSE list_transform(
                           generate_series(1, len(t) - 2),
                           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                       END) AS gs
            FROM tokd
        ),
        dg AS (SELECT doc_id, unnest(gs) AS gram FROM grams),
        firsts AS (
            SELECT gram, min(doc_id) AS doc_id FROM dg GROUP BY gram
        ),
        novel AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_novel
            FROM firsts GROUP BY doc_id
        ),
        tot AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
            FROM dg GROUP BY doc_id
        )
        SELECT t.doc_id, t.n_grams,
               CAST(COALESCE(n.n_novel, 0) AS BIGINT) AS n_novel,
               CAST(COALESCE(n.n_novel, 0) AS DOUBLE) / t.n_grams
                   AS novelty
        FROM tot t LEFT JOIN novel n USING (doc_id)
    """,
    ops=("DEDUP",),
)
def gram_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the share of each doc's distinct word
    trigrams first seen in THAT doc (id order = arrival order) —
    dedup-aware data valuation (operators/dedup.gram_novelty).
    First-occurrence credit is one gram-keyed min aggregate; the
    corpus never self-joins."""
    from afg_data_pipeline_spark.operators.dedup import gram_novelty

    docs = read_star_table(spark, "documents", sf_dir)
    return gram_novelty(docs, n=3)


@register(
    "multimodal_audio_features",
    oracle=None,  # real WAV codec; DuckDB cannot decode RIFF bytes
    ops=("MULTIMODAL",),
)
def multimodal_audio_features(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL audio path: synthesize deterministic PCM16 WAV bytes per
    document, decode them with the pure-NumPy RIFF codec, and emit
    duration/RMS/peak/ZCR/band-energy features — all Arrow-batched
    on executors (operators/codecs.py, operators/multimodal.py).

    Scalar projection for the rows-only harness; the full feature
    array is pinned in pytest."""
    from afg_data_pipeline_spark.operators.multimodal import (
        attach_synth_wav,
        audio_feature_extract,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    feat = audio_feature_extract(attach_synth_wav(docs))
    return feat.select(
        "doc_id",
        "sample_rate",
        "n_frames",
        F.element_at("feature", 1).alias("duration_s"),
        F.element_at("feature", 2).alias("rms"),
        F.element_at("feature", 3).alias("peak"),
        F.element_at("feature", 4).alias("zcr"),
    )


@register(
    "multimodal_audio_manifest",
    oracle="""
        WITH m AS (
            SELECT doc_id, md5(text) AS hx FROM documents
        ),
        b AS (
            SELECT doc_id,
                   (strpos('0123456789abcdef',
                           substr(hx, 15, 1)) - 1) * 16
                   + (strpos('0123456789abcdef',
                             substr(hx, 16, 1)) - 1) AS lastbyte
            FROM m
        )
        SELECT doc_id,
               CAST(44 + 2 * (800 + lastbyte) AS INTEGER)
                   AS container_bytes,
               CAST(8000 AS INTEGER) AS sample_rate,
               CAST(800 + lastbyte AS BIGINT) AS n_frames
        FROM b
    """,
    ops=("MULTIMODAL",),
)
def multimodal_audio_manifest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """AUDIO MANIFEST, hash-exact — the oracle-checkable sibling of
    the rows-only audio path (feature floats can't be recomputed in
    SQL; container and PCM geometry can). The Spark side runs the
    REAL pipeline — md5-seeded sine, PCM16 RIFF encode, pure-NumPy
    RIFF decode — and exposes the container byte length plus the
    decoder's (sample_rate, n_frames); the oracle recomputes them
    closed-form (synth_wav_for_text: n = 800 + last md5 byte;
    PCM16 mono container = 44-byte canonical RIFF header + 2n). A
    drift anywhere in the encoder's chunk layout or the decoder's
    frame accounting turns this row red — the audio twin of
    multimodal_frame_manifest."""
    from afg_data_pipeline_spark.operators.multimodal import (
        attach_synth_wav,
        audio_feature_extract,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    # media feeds the container projection AND the decode: one
    # checkpoint or the synth+encode mapInPandas runs twice
    # (rule 12).
    media = attach_synth_wav(docs).localCheckpoint(eager=False)
    container = media.select(
        "doc_id", F.length("media").alias("container_bytes")
    )
    decoded = audio_feature_extract(media).select(
        "doc_id", "sample_rate", "n_frames"
    )
    return container.join(decoded, "doc_id").select(
        "doc_id", "container_bytes", "sample_rate", "n_frames"
    )


def _pixel_histogram_oracle() -> str:
    """Closed-form PIXEL-VALUE oracle: the synth raster is an
    arithmetic gradient (codecs.synth_bmp_for_text — r = x*255 //
    (w-1), g = y*255 // (h-1), b = (x+y+seed) % 256 with seed%256
    = the last md5 byte), so the full decoded-RGB histogram is
    computable in SQL. This checks pixel VALUES through the real
    codecs, not just geometry.

    (r10: the generator now reduces the seed mod 256 driver-side
    before it meets numpy — the former big-seed float64 upcast
    that zeroed the b channel for ~half the corpus was numpy-1.x
    behavior and raises under numpy 2 / NEP 50 — so the oracle is
    the plain closed form with no bigseed branch.)"""
    nib = (
        "(strpos('0123456789abcdef', substr(hx, {k}, 1)) - 1)"
    )
    a_terms = " + ".join(
        f"{nib.format(k=k + 1)} * {16 ** (13 - k)}"
        for k in range(14)
    )
    b_expr = f"{nib.format(k=15)} * 16 + {nib.format(k=16)}"
    return f"""
        WITH m AS (
            SELECT doc_id, md5(text) AS hx FROM documents
        ),
        ab AS (
            SELECT doc_id,
                   CAST({a_terms} AS BIGINT) AS a,
                   CAST({b_expr} AS BIGINT) AS lastb
            FROM m
        ),
        dims AS (
            SELECT doc_id, lastb,
                   CAST(8 + ((a % 25) * 256 + lastb) % 25
                        AS BIGINT) AS w,
                   CAST(8 + (a % 17) AS BIGINT) AS h
            FROM ab
        ),
        px AS (
            SELECT doc_id, w, h, lastb,
                   unnest(generate_series(0, w - 1)) AS x
            FROM dims
        ),
        pxy AS (
            SELECT doc_id, w, h, lastb, x,
                   unnest(generate_series(0, h - 1)) AS y
            FROM px
        ),
        chan AS (
            SELECT doc_id, 'r' AS channel,
                   (x * 255) // (w - 1) AS v
            FROM pxy
            UNION ALL
            SELECT doc_id, 'g', (y * 255) // (h - 1) FROM pxy
            UNION ALL
            SELECT doc_id, 'b', (x + y + lastb) % 256
            FROM pxy
        )
        SELECT doc_id, channel,
               CAST(v // 16 AS INTEGER) AS bin,
               CAST(count(*) AS BIGINT) AS n
        FROM chan
        GROUP BY 1, 2, 3
    """


@register(
    "multimodal_pixel_histogram",
    oracle=_pixel_histogram_oracle(),
    ops=("MULTIMODAL",),
)
def multimodal_pixel_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PIXEL-VALUE CERTIFICATION of the image codecs, hash-exact:
    decode the mixed BMP/PNG corpus (even doc_ids ride the
    uncompressed codec, odd the real zlib PNG) and emit each
    document's per-channel 16-bin byte histogram; the oracle
    recomputes every pixel from the synth gradient's closed form.
    Any wrong byte anywhere in either decoder — BMP row padding,
    PNG defiltering, palette/alpha handling — moves a bin count
    and turns the row red. Completes the manifest siblings
    (geometry) with a VALUES-level exact check; the remaining
    rows-only image queries pin float features the gradient's
    integer form can't reach.

    Scale shape: one mapInPandas decode pass (Arrow-batched,
    pre-expansion repartition inside attach_synth_bmp), histogram
    computed per batch in numpy, output 48 rows/doc max —
    media bytes never cross a shuffle."""
    from collections.abc import Iterator

    from afg_data_pipeline_spark.operators.multimodal import (
        attach_synth_bmp,
        decode_raster,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    media = attach_synth_bmp(docs)

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in it:
            ids, chans, bins, ns = [], [], [], []
            for doc_id, m, meta in zip(
                pdf["doc_id"], pdf["media"], pdf["meta"]
            ):
                arr = decode_raster(bytes(m), meta["format"])
                for ci, cname in enumerate("rgb"):
                    counts = np.bincount(
                        arr[:, :, ci].reshape(-1) // 16,
                        minlength=16,
                    )
                    for bi in np.nonzero(counts)[0]:
                        ids.append(doc_id)
                        chans.append(cname)
                        bins.append(int(bi))
                        ns.append(int(counts[bi]))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "channel": chans,
                    "bin": bins,
                    "n": ns,
                }
            )

    return media.mapInPandas(
        batches,
        schema="doc_id long, channel string, bin int, n long",
    )


@register(
    "multimodal_image_pipeline",
    oracle=None,  # real BMP codec; DuckDB cannot decode BMP bytes
    ops=("MULTIMODAL",),
)
def multimodal_image_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL image path: synthesize deterministic BMP bytes, resize
    them (decode -> area resample -> re-encode, a real pixel op, not
    a metadata stamp), then decode + featurize the resized rasters.
    Verifies the full compose: attach -> resize -> features, each an
    Arrow-batched executor stage; media bytes never shuffle after
    featurization."""
    from afg_data_pipeline_spark.operators.multimodal import (
        attach_synth_bmp,
        image_feature_extract,
        image_resize,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    resized = image_resize(attach_synth_bmp(docs), width=8, height=8)
    feat = image_feature_extract(resized)
    return feat.select(
        "doc_id",
        "width",
        "height",
        F.element_at("feature", 4).alias("mean_r"),
        F.element_at("feature", 5).alias("mean_g"),
        F.element_at("feature", 6).alias("mean_b"),
        F.element_at("feature", 7).alias("luma_mean"),
        F.element_at("feature", 8).alias("luma_std"),
    )


@register(
    "multimodal_jpeg_pipeline",
    oracle=None,  # real JPEG codec; DuckDB cannot decode JPEG bytes
    ops=("MULTIMODAL",),
)
def multimodal_jpeg_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL lossy-compressed image path: synthesize deterministic
    baseline-JPEG bytes (4:2:0, Annex-K quality 90) and decode +
    featurize them — the full T.81 pipeline (huffman entropy
    decode, dequantize, IDCT, chroma upsample, YCbCr->RGB) runs in
    numpy inside the Arrow-batched executor stage
    (operators/codecs.decode_jpeg via the decode_raster magic-byte
    dispatch). Deterministic end-to-end, so the output is pinned
    by a python-replica frame-diff in tests
    (test_multimodal_golden.py); the driver records rows-only."""
    from afg_data_pipeline_spark.operators.multimodal import (
        attach_synth_jpeg,
        image_feature_extract,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    feat = image_feature_extract(attach_synth_jpeg(docs))
    return feat.select(
        "doc_id",
        "width",
        "height",
        F.element_at("feature", 4).alias("mean_r"),
        F.element_at("feature", 5).alias("mean_g"),
        F.element_at("feature", 6).alias("mean_b"),
        F.element_at("feature", 7).alias("luma_mean"),
        F.element_at("feature", 8).alias("luma_std"),
    )


@register(
    "dedup_keep_canonical",
    oracle="""
        SELECT d.doc_id, d.lang, d.source, d.n_chars
        FROM documents d
        JOIN (
            SELECT min(doc_id) AS keep_id
            FROM documents
            GROUP BY md5(text)
        ) k ON d.doc_id = k.keep_id
    """,
    ops=("DEDUP",),
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup *action*: keep one canonical row per content hash.

    exact_dedup computes the groups; this applies them — a
    semi-join of the corpus against the keep-set, which shuffles
    ids, never text.
    """
    docs = read_star_table(spark, "documents", sf_dir)
    keep = exact_dedup(docs).select(
        F.col("keep_id").alias("doc_id")
    )
    return docs.join(keep, "doc_id", "left_semi").select(
        "doc_id", "lang", "source", "n_chars"
    )


@register(
    "curate_corpus",
    oracle="""
        WITH keep AS (
            SELECT min(doc_id) AS doc_id
            FROM documents GROUP BY md5(text)
        ),
        stats AS (
            SELECT doc_id, lang,
                   CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                        AS BIGINT) AS n_tokens,
                   0.4 * (CAST(len(list_filter(
                              regexp_split_to_array(trim(text), '\\s+'),
                              t -> list_contains(['the','a','of','and','is'], t)))
                              AS DOUBLE)
                          / CAST(len(regexp_split_to_array(trim(text),
                              '\\s+')) AS DOUBLE))
                   + 0.3 * least(1.0,
                         CAST(len(regexp_split_to_array(trim(text),
                             '\\s+')) AS DOUBLE) / 100.0)
                   + 0.3 * (1.0 -
                         CAST(len(regexp_extract_all(text, '[.,!?;:]'))
                              AS DOUBLE)
                         / CAST(length(text) AS DOUBLE)) AS quality
            FROM documents
        )
        SELECT s.doc_id, s.lang, s.n_tokens, s.quality
        FROM stats s
        JOIN keep k ON s.doc_id = k.doc_id
        WHERE s.quality >= 0.4 AND s.n_tokens >= 20
    """,
    ops=("TEXT", "DEDUP"),
)
def curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data curation pass: exact dedup ->
    quality score -> length floor, composed from the operator
    library in one lazy plan.

    The canonical pretraining-pipeline shape: one text scan feeds
    both the hash-dedup keep-set (ids shuffle) and the quality
    projection (no shuffle); the semi-join + filters emit the
    curated corpus. At 100 TB this runs as two passes over text and
    one id-join — no full-text shuffle anywhere.
    """
    from afg_data_pipeline_spark.operators.text import (
        quality_score_of,
        tokens,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    keep = exact_dedup(docs).select(
        F.col("keep_id").alias("doc_id")
    )
    # Single-evaluation gate (functions/gate.py, rule 18c): the
    # plain select+filter pushed the quality/length predicate below
    # the projection — the tokenizer split, the stopword lambda and
    # the punctuation regex all ran twice per row (r11 before-plan:
    # the full quality pipeline in the scan Filter AND the
    # Project). The Generate gate computes both stats exactly once,
    # over a token array projected ONCE below it (generator inputs
    # are interpreted — no subexpression elimination — so the
    # inline form would re-split the text once per counter).
    from afg_data_pipeline_spark.functions.gate import filter_once

    pre = docs.select(
        "doc_id", "lang", "text", tokens("text").alias("__toks")
    )
    stats = filter_once(
        pre,
        F.struct(
            F.size("__toks").cast("bigint").alias("n_tokens"),
            quality_score_of(F.col("__toks"), "text").alias(
                "quality"
            ),
        ),
        lambda t: (t["quality"] >= 0.4) & (t["n_tokens"] >= 20),
        "__tq",
    ).select(
        "doc_id",
        "lang",
        F.col("__tq.n_tokens").alias("n_tokens"),
        F.col("__tq.quality").alias("quality"),
    )
    return stats.join(keep, "doc_id", "left_semi")


@register(
    "embedding_near_dup",
    oracle="""
        WITH vecs AS (
            SELECT vec_id, embedding,
                   sqrt(list_aggregate(list_transform(
                       generate_series(1, len(embedding)),
                       i -> CAST(embedding[i] AS DOUBLE)
                            * CAST(embedding[i] AS DOUBLE)),
                       'sum')) AS nrm
            FROM embeddings
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               list_aggregate(list_transform(
                   generate_series(1, len(a.embedding)),
                   i -> CAST(a.embedding[i] AS DOUBLE)
                        * CAST(b.embedding[i] AS DOUBLE)),
                   'sum') / (a.nrm * b.nrm) AS cosine
        FROM vecs a CROSS JOIN vecs b
        WHERE a.vec_id < b.vec_id
          AND list_aggregate(list_transform(
                  generate_series(1, len(a.embedding)),
                  i -> CAST(a.embedding[i] AS DOUBLE)
                       * CAST(b.embedding[i] AS DOUBLE)),
                  'sum') / (a.nrm * b.nrm) >= 0.2
    """,
    ops=("DEDUP", "ANN"),
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (north star: the
    semantic-dedup method of training pipelines).

    Brute-force pairwise here (bit-exact oracle); the sub-quadratic
    production path is `embedding_near_dup_lsh` below. Threshold
    0.2 on this synthetic corpus surfaces the heavy-overlap tail
    without degenerating to the full pair set.

    Guarded: all-pairs is O(n²) compute plus a full-side broadcast,
    so the query refuses corpora beyond AFG_BRUTE_PAIRS_MAX_ROWS
    (default 100k rows ≈ 5e9 pairs) instead of melting a cluster —
    past that, use the LSH path and keep this as its sampled
    recall anchor.
    """
    from afg_data_pipeline_spark.functions.gate import pair_join
    from afg_data_pipeline_spark.operators.similarity import (
        dot_decimal,
        norm_decimal,
    )

    emb = read_star_table(spark, "embeddings", sf_dir)
    guard = gate("BRUTE_PAIRS_MAX_ROWS", emb.count(), 100_000)
    if guard.over:
        raise ValueError(
            f"embedding_near_dup is all-pairs: {guard.stat} rows "
            f"exceeds the AFG_BRUTE_PAIRS_MAX_ROWS guard "
            f"({guard.budget}); use embedding_near_dup_lsh for "
            "corpora at scale"
        )
    par = spark.sparkContext.defaultParallelism
    # norms once per vector, not per O(n²) pair. pair_join instead
    # of crossJoin: the BNLJ's pushed join condition also carried
    # the full dot fold, interpreted once per O(n²) pair and again
    # in the projection. Measured at sf0.1 (2k vectors, 2M pairs):
    # 1.41s orig BNLJ → 1.18s BHJ+gate, values exact.
    a = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
    ).withColumn("na", norm_decimal("va"))
    b = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
    ).withColumn("nb", norm_decimal("vb"))
    pairs = pair_join(a, b, spread=par).filter(
        F.col("id_a") < F.col("id_b")
    )
    cosine = dot_decimal("va", "vb") / (
        F.col("na") * F.col("nb")
    )
    # Single-evaluation threshold gate (functions/gate.py, rule
    # 18c): keeps `cosine >= 0.2` out of the join condition so the
    # fold runs exactly once per pair.
    from afg_data_pipeline_spark.functions.gate import filter_once

    return filter_once(
        pairs, cosine, lambda c: c >= F.lit(0.2), "cosine"
    ).select("id_a", "id_b", "cosine")


def _srp_lsh_oracle_sql(
    threshold: float = 0.2,
    n_planes: int = 2,
    n_tables: int = 6,
    dim: int = 64,
    seed: int = 42,
) -> str:
    """Exact SQL replica of lsh_near_dup_pairs: the md5-derived
    hyperplanes are inlined as literals and each bucket dot product
    accumulates per-component products in DECIMAL(28,18) — exact
    and associative, the same arithmetic the Spark side's
    srp_tagged_decimal uses — so the candidate sets (and therefore
    the verified output rows) match bit-for-bit regardless of
    evaluation order."""
    from afg_data_pipeline_spark.operators.similarity import _hyperplane

    def dot_sql(plane: list[float]) -> str:
        lst = "[" + ", ".join(repr(p) for p in plane) + "]"
        return (
            "list_aggregate(list_transform("
            f"generate_series(1, {len(plane)}),"
            " i -> CAST(CAST(embedding[i] AS DOUBLE)"
            f" * ({lst}[i]) AS DECIMAL(28,18))), 'sum')"
        )

    selects = []
    for t in range(n_tables):
        planes = [
            _hyperplane(seed + t * 1000 + p, dim) for p in range(n_planes)
        ]
        bucket = " + ".join(
            f"(CASE WHEN {dot_sql(pl)} >= 0 THEN 1 ELSE 0 END) "
            f"* {2 ** (n_planes - 1 - i)}"
            for i, pl in enumerate(planes)
        )
        selects.append(
            f"SELECT {t} AS t, vec_id, ({bucket}) AS bucket "
            "FROM embeddings"
        )
    union = " UNION ALL ".join(selects)
    return f"""
        WITH buckets AS ({union}),
        cand AS (
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM buckets a
            JOIN buckets b ON a.t = b.t AND a.bucket = b.bucket
            WHERE a.vec_id < b.vec_id
        ),
        vecs AS (
            SELECT vec_id, embedding,
                   sqrt(list_aggregate(list_transform(
                       generate_series(1, len(embedding)),
                       i -> CAST(embedding[i] AS DOUBLE)
                            * CAST(embedding[i] AS DOUBLE)),
                       'sum')) AS nrm
            FROM embeddings
        )
        SELECT c.id_a, c.id_b,
               list_aggregate(list_transform(
                   generate_series(1, len(a.embedding)),
                   i -> CAST(a.embedding[i] AS DOUBLE)
                        * CAST(b.embedding[i] AS DOUBLE)),
                   'sum') / (a.nrm * b.nrm) AS cosine
        FROM cand c
        JOIN vecs a ON a.vec_id = c.id_a
        JOIN vecs b ON b.vec_id = c.id_b
        WHERE list_aggregate(list_transform(
                  generate_series(1, len(a.embedding)),
                  i -> CAST(a.embedding[i] AS DOUBLE)
                       * CAST(b.embedding[i] AS DOUBLE)),
                  'sum') / (a.nrm * b.nrm) >= {threshold!r}
    """


@register(
    "embedding_near_dup_lsh",
    oracle=_srp_lsh_oracle_sql(),
    ops=("DEDUP", "ANN"),
)
def embedding_near_dup_lsh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Thresholded semantic dedup via SRP-LSH blocking — the
    registered production path (salted shuffle self-join per
    bucket table, exact cosine verification, nothing broadcast).

    Same (id_a, id_b, cosine) contract and 0.2 threshold as the
    brute-force anchor; emitted rows are bit-identical to the
    anchor's for every recalled pair (precision 1.0). (n_planes=2,
    n_tables=6) is tuned for this corpus's low-threshold regime —
    recall 0.915 at sf0.01, pinned ≥0.9 in pytest; production
    dedup at threshold 0.8+ would raise n_planes and prune
    exponentially harder (see lsh_near_dup_pairs docstring).
    """
    emb = read_star_table(spark, "embeddings", sf_dir)
    return lsh_near_dup_pairs(
        emb,
        id_col="vec_id",
        vec_col="embedding",
        threshold=0.2,
        n_planes=2,
        n_tables=6,
        dim=64,
    )


@register(
    "ann_ivf_topk",
    oracle="""
        WITH cents AS (
            SELECT vec_id AS centroid_id, embedding AS centroid
            FROM embeddings
            ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC
            LIMIT 16
        ),
        dists AS (
            SELECT e.vec_id, c.centroid_id,
                   list_aggregate(list_transform(
                       generate_series(1, len(e.embedding)),
                       i -> (CAST(e.embedding[i] AS DOUBLE)
                             - CAST(c.centroid[i] AS DOUBLE))
                          * (CAST(e.embedding[i] AS DOUBLE)
                             - CAST(c.centroid[i] AS DOUBLE))),
                       'sum') AS d2
            FROM embeddings e CROSS JOIN cents c
        ),
        ranked AS (
            SELECT vec_id, centroid_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id
                       ORDER BY d2 ASC, centroid_id ASC
                   ) AS probe_rank
            FROM dists
        ),
        corpus_cells AS (
            SELECT vec_id AS neighbor_id, centroid_id
            FROM ranked WHERE probe_rank = 1
        ),
        query_cells AS (
            SELECT vec_id AS query_id, centroid_id
            FROM ranked WHERE probe_rank <= 4 AND vec_id < 32
        ),
        cand AS (
            SELECT DISTINCT q.query_id, c.neighbor_id
            FROM query_cells q
            JOIN corpus_cells c USING (centroid_id)
            WHERE q.query_id <> c.neighbor_id
        ),
        vecs AS (
            SELECT vec_id, embedding,
                   sqrt(list_aggregate(list_transform(
                       generate_series(1, len(embedding)),
                       i -> CAST(embedding[i] AS DOUBLE)
                            * CAST(embedding[i] AS DOUBLE)),
                       'sum')) AS nrm
            FROM embeddings
        )
        SELECT query_id, neighbor_id, cosine, rank
        FROM (
            SELECT cd.query_id, cd.neighbor_id,
                   list_aggregate(list_transform(
                       generate_series(1, len(a.embedding)),
                       i -> CAST(a.embedding[i] AS DOUBLE)
                            * CAST(b.embedding[i] AS DOUBLE)),
                       'sum') / (a.nrm * b.nrm) AS cosine,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY cd.query_id
                       ORDER BY list_aggregate(list_transform(
                           generate_series(1, len(a.embedding)),
                           i -> CAST(a.embedding[i] AS DOUBLE)
                                * CAST(b.embedding[i] AS DOUBLE)),
                           'sum') / (a.nrm * b.nrm) DESC,
                                cd.neighbor_id ASC
                   ) AS INTEGER) AS rank
            FROM cand cd
            JOIN vecs a ON a.vec_id = cd.query_id
            JOIN vecs b ON b.vec_id = cd.neighbor_id
        ) WHERE rank <= 5
    """,
    ops=("ANN",),
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate cosine top-5 (the second ANN scale
    path next to SRP-LSH): corpus partitioned by nearest centroid,
    queries probe 4 of 16 cells. Deterministic end-to-end (seeded
    centroids, tie-broken ranks), so the full bucketed pipeline is
    replicated in SQL and oracle-checked bit-for-bit."""
    from afg_data_pipeline_spark.operators.similarity import ivf_topk

    emb = read_star_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 32)
    return ivf_topk(queries, emb, k=5, n_centroids=16, n_probe=4)


@register(
    "lang_confusion_matrix",
    oracle=f"""
        WITH scored AS (
            SELECT doc_id, lang, {_SCORE_COLS_SQL}
            FROM documents
        ),
        pred AS (
            SELECT lang AS true_lang,
                   CASE
                     WHEN score_en = greatest(score_en, score_de,
                                              score_fr, score_es)
                       THEN 'en'
                     WHEN score_de = greatest(score_en, score_de,
                                              score_fr, score_es)
                       THEN 'de'
                     WHEN score_fr = greatest(score_en, score_de,
                                              score_fr, score_es)
                       THEN 'fr'
                     ELSE 'es'
                   END AS pred_lang
            FROM scored
        ),
        cnt AS (
            SELECT true_lang, pred_lang, count(*) AS n
            FROM pred GROUP BY true_lang, pred_lang
        ),
        tot AS (
            SELECT true_lang, count(*) AS t
            FROM pred GROUP BY true_lang
        )
        SELECT c.true_lang, c.pred_lang,
               CAST(c.n AS BIGINT) AS n_docs,
               CAST(c.n AS DOUBLE) / CAST(t.t AS DOUBLE) AS share
        FROM cnt c JOIN tot t USING (true_lang)
    """,
    ops=("TEXT", "A1", "U5"),
)
def lang_confusion_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Model-eval confusion matrix for the heuristic language ID:
    (true_lang, pred_lang, count, row-normalized share) — the
    audit a pipeline runs before trusting a classifier stage for
    filtering. Two vocabulary-sized aggregates + one equi-join;
    share is an integer/integer double division, deterministic on
    both engines."""
    docs = read_star_table(spark, "documents", sf_dir)
    pred = docs.select(
        F.col("lang").alias("true_lang"),
        TX.lang_id("text").alias("pred_lang"),
    )
    cnt = pred.groupBy("true_lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    tot = pred.groupBy("true_lang").agg(
        F.count(F.lit(1)).alias("t")
    )
    return cnt.join(tot, "true_lang").select(
        "true_lang",
        "pred_lang",
        "n_docs",
        (
            F.col("n_docs").cast("double")
            / F.col("t").cast("double")
        ).alias("share"),
    )


@register(
    "contamination_report",
    oracle="""
        WITH train AS (
            SELECT text FROM documents
            WHERE source NOT IN ('src0', 'src1')
        ),
        evals AS (
            SELECT source AS eval_set, doc_id, text
            FROM documents WHERE source IN ('src0', 'src1')
        ),
        tgrams AS (
            SELECT DISTINCT gram FROM (
                SELECT unnest(list_distinct(list_transform(
                    generate_series(1, len(t) - 2),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])))
                    AS gram
                FROM (SELECT regexp_split_to_array(trim(text),
                                                   '\\s+') AS t
                      FROM train)
                WHERE len(t) >= 3)
        ),
        egrams AS (
            SELECT DISTINCT eval_set, doc_id, gram FROM (
                SELECT eval_set, doc_id,
                       unnest(list_distinct(list_transform(
                           generate_series(1, len(t) - 2),
                           i -> t[i] || ' ' || t[i+1] || ' '
                                || t[i+2]))) AS gram
                FROM (SELECT eval_set, doc_id,
                             regexp_split_to_array(trim(text),
                                                   '\\s+') AS t
                      FROM evals)
                WHERE len(t) >= 3)
        ),
        contaminated AS (
            SELECT DISTINCT e.eval_set, e.doc_id
            FROM egrams e SEMI JOIN tgrams t ON e.gram = t.gram
        ),
        totals AS (
            SELECT eval_set, CAST(count(*) AS BIGINT) AS n_docs
            FROM evals GROUP BY eval_set
        ),
        hits AS (
            SELECT eval_set,
                   CAST(count(*) AS BIGINT) AS n_contaminated
            FROM contaminated GROUP BY eval_set
        )
        SELECT t.eval_set, t.n_docs,
               COALESCE(h.n_contaminated, 0) AS n_contaminated,
               CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE)
               / CAST(t.n_docs AS DOUBLE) AS contamination_rate
        FROM totals t LEFT JOIN hits h USING (eval_set)
    """,
    ops=("DEDUP", "TEXT"),
)
def contamination_report_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-benchmark contamination audit: treating src0/src1 as two
    held-out eval sets and the rest of the corpus as training data,
    report what fraction of each eval set's examples share at least
    one word 3-gram with training (the leaderboard-integrity
    direction of eval_decontamination — published recipes use
    13-grams; the synthetic corpus is tiny). Train reduces to its
    distinct gram vocabulary, eval ids arrive via a gram semi-join
    — documents never shuffle.
    operators/dedup.contamination_report."""
    from afg_data_pipeline_spark.operators.dedup import (
        contamination_report,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    train = docs.filter(~F.col("source").isin("src0", "src1"))
    evals = docs.filter(
        F.col("source").isin("src0", "src1")
    ).select(
        F.col("source").alias("eval_set"), "doc_id", "text"
    )
    return contamination_report(train, evals)


@register(
    "bm25_topk",
    oracle="""
        WITH q(query_id, term) AS (
            VALUES ('q_dup', 'batch'), ('q_dup', 'dup'),
                   ('q_dup', 'merge'),
                   ('q_quality', 'filter'), ('q_quality', 'scan'),
                   ('q_quality', 'slow'),
                   ('q_vector', 'hash'), ('q_vector', 'join'),
                   ('q_vector', 'vector')
        ),
        toks AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(text),
                                                '\\s+')) AS term
            FROM documents
        ),
        dl AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
            FROM toks GROUP BY doc_id
        ),
        corpus AS (
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(dl) AS BIGINT) AS total_len
            FROM dl
        ),
        tf AS (
            SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM toks
            WHERE term IN (SELECT DISTINCT term FROM q)
            GROUP BY doc_id, term
        ),
        dfreq AS (
            SELECT term, CAST(count(*) AS BIGINT) AS df
            FROM tf GROUP BY term
        ),
        contrib AS (
            SELECT q.query_id, tf.doc_id,
                   CAST(round(
                       ln(1.0 + (CAST(n_docs AS DOUBLE)
                                 - CAST(df AS DOUBLE) + 0.5)
                                / (CAST(df AS DOUBLE) + 0.5))
                       * (CAST(tf AS DOUBLE) * 2.2)
                         / (CAST(tf AS DOUBLE)
                            + 1.2 * (0.25
                                     + 0.75 * CAST(dl AS DOUBLE)
                                       / (CAST(total_len AS DOUBLE)
                                          / CAST(n_docs AS DOUBLE))))
                       * 1000000000.0) AS BIGINT) AS c
            FROM tf
            JOIN dfreq USING (term)
            JOIN q USING (term)
            JOIN dl USING (doc_id), corpus
        ),
        s AS (
            SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS s
            FROM contrib GROUP BY query_id, doc_id
        ),
        r AS (
            SELECT query_id, doc_id, s,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY s DESC,
                                               doc_id ASC) AS rnk
            FROM s
        )
        SELECT query_id, doc_id,
               CAST(s AS DOUBLE) / 1000000000.0 AS score,
               CAST(rnk AS INTEGER) AS rank
        FROM r WHERE rnk <= 10
    """,
    ops=("RETRIEVAL",),
)
def bm25_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 retrieval for three probe queries over the
    documents corpus (operators/bm25.py) — the targeted-audit /
    quality-selection retrieval primitive. Query terms broadcast;
    the posting stream is semi-join-pruned BEFORE the df/tf
    aggregates so only the token scan and per-doc lengths are
    corpus-sized; each ln-derived contribution is quantized once
    to the 1e9 integer grid (rule 1c) and summed exactly, making
    the scores bit-identical to the DuckDB replica; top-k per
    query runs the salted two-level window, never one hot
    partition per query."""
    from afg_data_pipeline_spark.operators.bm25 import bm25_topk

    docs = read_star_table(spark, "documents", sf_dir)
    return bm25_topk(
        docs,
        [
            ("q_vector", "vector hash join"),
            ("q_quality", "slow scan filter"),
            ("q_dup", "dup merge batch"),
        ],
        k=10,
    )


from afg_data_pipeline_spark.plans.registry import (  # noqa: E402
    REGISTRY as _REG,
)


@register(
    "bm25_persisted",
    # Same queries, same grid, same scoring tail: the persisted
    # index must reproduce the one-shot bm25_topk bit-for-bit.
    oracle=_REG["bm25_topk"].oracle,
    ops=("RETRIEVAL",),
)
def bm25_persisted_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED-index lifecycle of bm25_topk: postings
    (term, doc, tf, dl) are built ONCE into a parquet directory
    partitioned by crc32(term) % 64 — the partition layout IS the
    inverted index — plus a two-integer stats.json. Serving prunes
    the scan to the query terms' buckets (PartitionFilters) with
    the term set pushed as a data filter, reads none of the
    corpus, and recomputes df from the pruned postings
    (query-terms-sized), keeping the index incrementally
    appendable. Registers the SAME oracle as the one-shot path and
    is pinned equal to it in tests/test_bm25.py.
    operators/bm25.build_bm25_index / query_bm25_index."""
    import os

    from afg_data_pipeline_spark.operators.bm25 import (
        build_bm25_index,
        query_bm25_index,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    index_dir = os.path.join(
        "/tmp/afg_bm25_index",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    build_bm25_index(docs, index_dir)
    return query_bm25_index(
        spark,
        index_dir,
        [
            ("q_vector", "vector hash join"),
            ("q_quality", "slow scan filter"),
            ("q_dup", "dup merge batch"),
        ],
        k=10,
    )


@register(
    "prefix_jaccard_pairs",
    oracle="""
        WITH tokd AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents
        ),
        side AS (
            SELECT doc_id,
                   list_distinct(
                       CASE WHEN len(t) < 2
                            THEN [concat_ws(' ', t)]
                       ELSE list_transform(
                           generate_series(1, len(t) - 1),
                           i -> t[i] || ' ' || t[i+1])
                       END) AS sh
            FROM tokd
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT)
                   AS n_shared,
               CAST(len(a.sh) AS BIGINT) AS size_a,
               CAST(len(b.sh) AS BIGINT) AS size_b,
               CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                   / CAST(len(a.sh) + len(b.sh)
                          - len(list_intersect(a.sh, b.sh))
                          AS DOUBLE) AS jaccard,
               'exact' AS tier
        FROM side a JOIN side b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sh, b.sh)) * 5
              >= (len(a.sh) + len(b.sh)
                  - len(list_intersect(a.sh, b.sh))) * 3
    """,
    ops=("DEDUP",),
)
def prefix_jaccard_pairs_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT global bigram-shingle Jaccard >= 3/5 pairs via prefix
    filtering (AllPairs/PPJoin candidate generation): docs'
    shingles ordered by global rarity, candidates only where the
    rare-first PREFIXES collide — no language blocking, no LSH
    recall loss. The oracle is the brute-force all-pairs join, so
    a prefix-length bug (a missed pair) is a red row, not a silent
    recall drop. Threshold comparisons are exact rationals (n·5 >=
    (union)·3), never double straddles.
    operators/dedup.prefix_filter_jaccard_pairs."""
    from afg_data_pipeline_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    return prefix_filter_jaccard_pairs(docs)


@register(
    "containment_near_dup",
    oracle="""
        WITH tokd AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents
        ),
        side AS (
            SELECT doc_id,
                   list_distinct(
                       CASE WHEN len(t) < 2
                            THEN [concat_ws(' ', t)]
                       ELSE list_transform(
                           generate_series(1, len(t) - 1),
                           i -> t[i] || ' ' || t[i+1])
                       END) AS sh
            FROM tokd
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT)
                   AS n_shared,
               CAST(len(a.sh) AS BIGINT) AS size_a,
               CAST(len(b.sh) AS BIGINT) AS size_b,
               CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                   / CAST(len(a.sh) AS DOUBLE) AS containment,
               'exact' AS tier
        FROM side a JOIN side b ON a.doc_id <> b.doc_id
        WHERE len(a.sh) >= 5
          AND len(list_intersect(a.sh, b.sh)) * 5
              >= len(a.sh) * 4
    """,
    ops=("DEDUP",),
)
def containment_near_dup_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT asymmetric containment >= 4/5 pairs (directed: a
    contained in b) over bigram shingles — the QUOTE / SUBSET
    detector Jaccard dedup structurally misses: a short passage
    lifted into a long page has near-zero Jaccard but containment
    ~1, and repeated-quote mass is a known training-data
    contamination vector. Candidates via the asymmetric prefix
    filter (contained side's rare-first prefix joined against the
    container side's FULL postings); the oracle is the brute-force
    all-ordered-pairs join, so a prefix-length bug is a red row,
    not a silent recall drop. Threshold comparisons are exact
    rationals; the tier column pins 'exact' so a budget-crossing
    fallback red-rows rather than silently losing pairs.
    operators/dedup.containment_pairs."""
    from afg_data_pipeline_spark.operators.dedup import (
        containment_pairs,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    return containment_pairs(docs)


@register(
    "containment_dedup_keep",
    oracle="""
        WITH RECURSIVE tokd AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents
        ),
        side AS (
            SELECT doc_id,
                   list_distinct(
                       CASE WHEN len(t) < 2
                            THEN [concat_ws(' ', t)]
                       ELSE list_transform(
                           generate_series(1, len(t) - 1),
                           i -> t[i] || ' ' || t[i+1])
                       END) AS sh
            FROM tokd
        ),
        pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM side a JOIN side b ON a.doc_id <> b.doc_id
            WHERE len(a.sh) >= 5
              AND len(list_intersect(a.sh, b.sh)) * 5
                  >= len(a.sh) * 4
        ),
        sym AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ),
        reach AS (
            SELECT src AS v, src AS r FROM sym
            UNION
            SELECT reach.v, s.dst
            FROM reach JOIN sym s ON reach.r = s.src
        ),
        comp AS (SELECT v, min(r) AS c FROM reach GROUP BY v),
        m AS (
            SELECT comp.v AS doc_id, comp.c,
                   CAST(len(s.sh) AS BIGINT) AS n_grams
            FROM comp JOIN side s ON s.doc_id = comp.v
        ),
        kept AS (
            SELECT c, doc_id AS kept_id FROM (
                SELECT c, doc_id,
                       row_number() OVER (
                           PARTITION BY c
                           ORDER BY n_grams DESC, doc_id ASC
                       ) AS rn
                FROM m) WHERE rn = 1
        ),
        cn AS (
            SELECT c, CAST(count(*) AS BIGINT) AS cluster_n
            FROM m GROUP BY c
        )
        SELECT m.doc_id, k.kept_id,
               CAST(CASE WHEN m.doc_id = k.kept_id
                         THEN 1 ELSE 0 END AS INTEGER)
                   AS is_kept,
               m.n_grams, cn.cluster_n
        FROM m JOIN kept k USING (c) JOIN cn USING (c)
    """,
    ops=("DEDUP",),
)
def containment_dedup_keep_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Containment detection graduated to ACTION (the
    dedup_keep_best pattern for the quote/subset family): the
    directed containment pairs become an undirected graph, quote
    CHAINS collapse via connected components (A⊂B, B⊂C must
    resolve together — pairwise keep decisions can't see the
    chain), and each cluster keeps its LARGEST document (most
    distinct shingles — the superset that subsumes the others;
    tie → smallest doc_id). Output: every pair-involved doc with
    its cluster's kept_id, is_kept flag, gram count, cluster
    size. Oracle: brute pairs + WITH RECURSIVE closure (the
    entity_resolution contract); at budget-crossing scale the
    subset tier changes the pair set and therefore red-rows here
    too — never a silent divergence."""
    from afg_data_pipeline_spark.operators.dedup import (
        containment_pairs,
    )
    from afg_data_pipeline_spark.operators.graph import (
        connected_components,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    pairs = containment_pairs(docs).localCheckpoint(eager=False)
    edges = pairs.select(
        F.least("id_a", "id_b").alias("src"),
        F.greatest("id_a", "id_b").alias("dst"),
    ).distinct()
    comps = connected_components(edges)
    sizes = (
        pairs.select(
            F.col("id_a").alias("doc_id"),
            F.col("size_a").alias("n_grams"),
        )
        .unionByName(
            pairs.select(
                F.col("id_b").alias("doc_id"),
                F.col("size_b").alias("n_grams"),
            )
        )
        .distinct()
    )
    m = comps.join(
        sizes, comps.vertex == sizes.doc_id
    ).select("doc_id", "component", "n_grams")
    kept = m.groupBy("component").agg(
        F.max(
            F.struct(
                F.col("n_grams"),
                (-F.col("doc_id")).alias("negid"),
            )
        ).alias("b"),
        F.count(F.lit(1)).cast("bigint").alias("cluster_n"),
    ).select(
        "component",
        (-F.col("b.negid")).alias("kept_id"),
        "cluster_n",
    )
    return m.join(kept, "component").select(
        "doc_id",
        "kept_id",
        (F.col("doc_id") == F.col("kept_id"))
        .cast("int")
        .alias("is_kept"),
        "n_grams",
        "cluster_n",
    )


@register(
    "containment_recall_audit",
    oracle="""
        WITH tokd AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents
        ),
        side AS MATERIALIZED (
            SELECT doc_id,
                   list_distinct(
                       CASE WHEN len(t) < 2
                            THEN [concat_ws(' ', t)]
                       ELSE list_transform(
                           generate_series(1, len(t) - 1),
                           i -> t[i] || ' ' || t[i+1])
                       END) AS sh
            FROM tokd
        ),
        ranked AS (
            SELECT doc_id, row_number() OVER (
                       ORDER BY md5('contaudit:'
                                    || CAST(doc_id AS VARCHAR)),
                                doc_id) AS rk
            FROM documents
        ),
        sample AS (SELECT doc_id FROM ranked WHERE rk <= 128),
        truth AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   len(list_intersect(a.sh, b.sh)) AS i,
                   len(a.sh) AS sza
            FROM side a
            JOIN sample s ON s.doc_id = a.doc_id
            JOIN side b ON a.doc_id <> b.doc_id
            WHERE len(a.sh) >= 5
              AND len(list_intersect(a.sh, b.sh)) * 5
                  >= len(a.sh) * 4
        ),
        banded AS (
            SELECT CASE WHEN i = sza THEN '1.00'
                        WHEN i * 10 >= sza * 9 THEN '0.90-0.99'
                        ELSE '0.80-0.89' END AS band
            FROM truth
        )
        -- the engine runs the EXACT tier at sf0.01 (candidate
        -- bound under budget), so its audited hits must equal the
        -- brute truth band-for-band: recall pinned 1.0, a lost
        -- pair red-rows here
        SELECT band,
               CAST(count(*) AS BIGINT) AS n_truth,
               CAST(count(*) AS BIGINT) AS n_hit,
               1.0 AS recall
        FROM banded GROUP BY band
    """,
    ops=("DEDUP",),
)
def containment_recall_audit_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MEASURED RECALL of containment_near_dup per containment
    band, against brute-force truth for a 128-doc md5-ranked
    subsample of contained sides — the lsh_recall_audit pattern
    for the new adaptive-cap tier: at exact-tier scales recall
    pins 1.0 (the oracle's assertion); at budget-crossing scales
    this query MEASURES what the announced rare-gram subset
    actually recalls per band instead of leaving 'documented
    subset' unquantified. Truth is the subsample × corpus exact
    intersect join (bounded: 128 × distinct-set count pairs —
    constant in corpus duplication); the audited side is the full
    registered operator's output restricted to the subsample."""
    from afg_data_pipeline_spark.operators.dedup import (
        containment_pairs,
    )
    from afg_data_pipeline_spark.operators.text import (
        shingle_expr,
        tokens,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    sample = (
        docs.select("doc_id")
        .orderBy(
            F.md5(
                F.concat(
                    F.lit("contaudit:"),
                    F.col("doc_id").cast("string"),
                )
            ),
            "doc_id",
        )
        .limit(128)
    )
    sh = docs.select(
        "doc_id", tokens("text").alias("__toks")
    ).select(
        "doc_id",
        F.array_distinct(shingle_expr("__toks", 2)).alias("sh"),
    )
    # Shingle the 128 sampled docs directly instead of slicing the
    # corpus-wide `sh` frame: the size(sh) >= 5 filter on the
    # derived column pushes below the sample join and re-runs the
    # whole tokenize+shingle pipeline per CORPUS row at the scan
    # (the lsh_band_plan inferred/pushed-filter class, r10 opt
    # round). Values identical — same 128 ids, same shingle sets.
    # r11: the r10 restructure was NOT enough — the derived-column
    # filter references only the docs side, so Catalyst STILL
    # pushed it below the sample join to the full scan (split
    # pipeline ×5 in the scan Filter, r11 before-plan). The
    # single-evaluation gate (functions/gate.py) on the sh
    # ATTRIBUTE cannot be rewritten below the join's projection.
    from afg_data_pipeline_spark.functions.gate import (
        filter_once,
        pair_join,
    )

    a = filter_once(
        docs.join(sample, "doc_id")
        .select("doc_id", tokens("text").alias("__t"))
        .select(
            "doc_id",
            F.array_distinct(shingle_expr("__t", 2)).alias("sh"),
        ),
        F.size("sh"),
        lambda z: z >= 5,
        "__z",
    ).select(
        F.col("doc_id").alias("id_a"),
        F.col("sh").alias("sh_a"),
        F.col("__z").alias("sza"),
    )
    par = spark.sparkContext.defaultParallelism
    # pair_join + i-gate (the lsh_recall_audit r11 shape): the
    # crossJoin planned a BNLJ whose pushed containment test
    # evaluated the interpreted array_intersect per (corpus × 128)
    # pair in the join condition AND per survivor in the
    # projection; the gate intersects exactly once per pair.
    truth = filter_once(
        pair_join(
            sh.select(
                F.col("doc_id").alias("id_b"),
                F.col("sh").alias("sh_b"),
            ),
            a,
            spread=par,
        ).filter(F.col("id_a") != F.col("id_b")),
        F.size(F.array_intersect("sh_a", "sh_b")),
        lambda i: i * 5 >= F.col("sza") * 4,
        "i",
    ).select("id_a", "id_b", "i", "sza")
    got = (
        containment_pairs(docs)
        .join(
            sample.select(F.col("doc_id").alias("id_a")),
            "id_a",
        )
        .select("id_a", "id_b", F.lit(1).alias("__hit"))
    )
    band = (
        F.when(F.col("i") == F.col("sza"), F.lit("1.00"))
        .when(
            F.col("i") * 10 >= F.col("sza") * 9,
            F.lit("0.90-0.99"),
        )
        .otherwise(F.lit("0.80-0.89"))
    )
    joined = truth.join(got, ["id_a", "id_b"], "left").select(
        band.alias("band"), "__hit"
    )
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_truth"),
        F.sum(
            F.when(F.col("__hit").isNotNull(), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_hit"),
        (
            F.sum(
                F.when(F.col("__hit").isNotNull(), 1).otherwise(
                    0
                )
            ).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("recall"),
    )


@register(
    "image_phash_near_dup",
    oracle=None,  # binary media decode — rows-only by design;
    # tests pin the DCT kernel against a scalar-python replica and
    # assert container-independence + the exact-text-dup invariant
    ops=("M-IMG", "DEDUP"),
)
def image_phash_near_dup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Image near-duplicate pairs via perceptual hash (pHash): the
    image-dedup stage of a LAION-style multimodal curation
    pipeline. REAL media path — deterministic BMP/PNG bytes per
    document (operators/multimodal.attach_synth_bmp), a real
    decode (codecs.py), the classic luma->32x32->DCT->sign-of-AC
    signature (multimodal.phash_of_rgb), then SimHash-style 16-bit
    band blocking over the 64-bit signature: candidates only where
    a band collides (4 exploded rows/image; 65k-key natural
    parallelism — rule 13 salting not needed), verified with
    XOR+bit_count <= 10. The corpus never self-joins all-pairs.

    The signature table feeds both sides of the band join — it is
    the expensive decode+DCT output, so it's localCheckpointed
    once (rule 12). Identical texts produce identical pixels in
    BOTH containers, so every exact-text duplicate pair MUST
    surface at hamming 0 (asserted in tests). The signature->pairs
    half is the shared operators/dedup.banded_hamming_pairs, whose
    exact SQL oracle rides simhash_band_near_dup — only the decode
    half is rows-only."""
    from afg_data_pipeline_spark.operators.multimodal import (
        attach_synth_bmp,
        image_phash,
    )

    from afg_data_pipeline_spark.operators.dedup import (
        banded_hamming_pairs,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    sigs = (
        image_phash(attach_synth_bmp(docs))
        .localCheckpoint(eager=False)
    )
    return banded_hamming_pairs(
        sigs, "phash", id_col="doc_id",
        n_bands=4, band_bits=16, max_hamming=10,
    )


@register(
    "readability_scores",
    oracle=r"""
        WITH m AS (
            SELECT doc_id, lang,
                   CAST(len(list_filter(
                       regexp_split_to_array(trim(text), '\s+'),
                       x -> len(x) > 0)) AS BIGINT) AS w,
                   CAST(len(list_filter(
                       regexp_split_to_array(text, '[.!?]+'),
                       x -> regexp_matches(x, '\S')))
                       AS BIGINT) AS s,
                   CAST(len(regexp_extract_all(lower(text),
                       '[aeiouy]+')) AS BIGINT) AS y
            FROM documents
        )
        SELECT doc_id, lang, w AS n_words, s AS n_sentences,
               y AS n_syllables,
               (206835.0 * CAST(s AS DOUBLE) * CAST(w AS DOUBLE)
                - 1015.0 * CAST(w AS DOUBLE) * CAST(w AS DOUBLE)
                - 84600.0 * CAST(y AS DOUBLE)
                  * CAST(s AS DOUBLE))
               / (1000.0 * CAST(s AS DOUBLE)
                  * CAST(w AS DOUBLE)) AS flesch
        FROM m WHERE w > 0 AND s > 0
    """,
    ops=("TEXT", "F6"),
)
def readability_scores(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Flesch reading-ease per document — the classic readability
    gate of a text-quality pipeline (alongside the Gopher/C4
    heuristics in this module). Words = non-empty whitespace
    tokens, sentences = non-blank [.!?]+ segments (≥1 for
    punctuation-less text), syllables = [aeiouy]+ vowel groups
    (the standard counting heuristic).

    Exactness without quantization: Flesch is RATIONAL in the
    three integer counts, so both engines evaluate the identical
    single expression (206835·s·w − 1015·w² − 84600·y·s)/(1000·s·w)
    — every intermediate is an integer-valued double multiplied/
    subtracted in the same order, IEEE-deterministic even past
    2^53. Scale: a pure scan-projection; zero shuffles, zero UDFs
    (the lambdas are oracle-checked per rule 10)."""
    docs = read_star_table(spark, "documents", sf_dir)
    w = F.size(
        F.filter(
            F.split(F.trim(F.col("text")), r"\s+"),
            lambda x: F.length(x) > 0,
        )
    ).cast("bigint")
    s = F.size(
        F.filter(
            F.split(F.col("text"), r"[.!?]+"),
            lambda x: x.rlike(r"\S"),
        )
    ).cast("bigint")
    y = F.size(
        F.regexp_extract_all(
            F.lower(F.col("text")), F.lit("[aeiouy]+"), F.lit(0)
        )
    ).cast("bigint")
    # Single-evaluation gate (functions/gate.py, rule 18c): the
    # plain select+filter pushed (w > 0 AND s > 0) below the
    # projection, re-running the w and s split+lambda counters
    # twice per row (r11 before-plan: both pipelines in the scan
    # Filter AND the Project). The Generate gate computes the three
    # counters exactly once.
    from afg_data_pipeline_spark.functions.gate import filter_once

    m = filter_once(
        docs.select("doc_id", "lang", "text"),
        F.struct(w.alias("w"), s.alias("s"), y.alias("y")),
        lambda t: (t["w"] > 0) & (t["s"] > 0),
        "__wsy",
    ).select(
        "doc_id",
        "lang",
        F.col("__wsy.w").alias("w"),
        F.col("__wsy.s").alias("s"),
        F.col("__wsy.y").alias("y"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return m.select(
        "doc_id",
        "lang",
        F.col("w").alias("n_words"),
        F.col("s").alias("n_sentences"),
        F.col("y").alias("n_syllables"),
        (
            (
                F.lit(206835.0) * d("s") * d("w")
                - F.lit(1015.0) * d("w") * d("w")
                - F.lit(84600.0) * d("y") * d("s")
            )
            / (F.lit(1000.0) * d("s") * d("w"))
        ).alias("flesch"),
    )


@register(
    "filter_funnel_report",
    oracle="""
        WITH tok AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(text),
                                                '\\s+')) AS t
            FROM documents
        ),
        tc AS (
            SELECT doc_id, t, CAST(count(*) AS BIGINT) AS c
            FROM tok WHERE length(t) > 0
            GROUP BY doc_id, t
        ),
        m0 AS (
            SELECT doc_id,
                   CAST(sum(c) AS BIGINT) AS n_tokens,
                   CAST(count(*) AS BIGINT) AS n_distinct,
                   CAST(max(c) AS BIGINT) AS max_freq,
                   CAST(sum(length(t) * c) AS BIGINT)
                       AS tok_chars,
                   CAST(max(length(t)) AS BIGINT) AS max_len
            FROM tc GROUP BY doc_id
        ),
        m AS (
            SELECT d.doc_id,
                   COALESCE(m0.n_tokens, 0) AS n_tokens,
                   COALESCE(m0.n_distinct, 0) AS n_distinct,
                   COALESCE(m0.max_freq, 0) AS max_freq,
                   COALESCE(m0.tok_chars, 0) AS tok_chars,
                   COALESCE(m0.max_len, 0) AS max_len
            FROM documents d LEFT JOIN m0 USING (doc_id)
        ),
        flags AS (
            SELECT doc_id,
                   CAST(CASE WHEN n_tokens BETWEEN 8 AND 4096
                             THEN 1 ELSE 0 END AS BIGINT) AS f1,
                   CAST(CASE WHEN 2 * n_tokens <= tok_chars
                              AND tok_chars <= 12 * n_tokens
                             THEN 1 ELSE 0 END AS BIGINT) AS f2,
                   CAST(CASE WHEN 8 * n_distinct >= n_tokens
                             THEN 1 ELSE 0 END AS BIGINT) AS f3,
                   CAST(CASE WHEN 4 * max_freq <= n_tokens
                             THEN 1 ELSE 0 END AS BIGINT) AS f4,
                   CAST(CASE WHEN max_len <= 24
                             THEN 1 ELSE 0 END AS BIGINT) AS f5
            FROM m
        ),
        s AS (
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(1 - f1) AS BIGINT) AS d1,
                   CAST(sum(f1) AS BIGINT) AS in2,
                   CAST(sum(f1 * (1 - f2)) AS BIGINT) AS d2,
                   CAST(sum(f1 * f2) AS BIGINT) AS in3,
                   CAST(sum(f1 * f2 * (1 - f3)) AS BIGINT) AS d3,
                   CAST(sum(f1 * f2 * f3) AS BIGINT) AS in4,
                   CAST(sum(f1 * f2 * f3 * (1 - f4)) AS BIGINT)
                       AS d4,
                   CAST(sum(f1 * f2 * f3 * f4) AS BIGINT) AS in5,
                   CAST(sum(f1 * f2 * f3 * f4 * (1 - f5))
                        AS BIGINT) AS d5,
                   CAST(sum(f1 * f2 * f3 * f4 * f5) AS BIGINT)
                       AS out5,
                   CAST(sum((1 - f1) * f2 * f3 * f4 * f5)
                        AS BIGINT) AS u1,
                   CAST(sum(f1 * (1 - f2) * f3 * f4 * f5)
                        AS BIGINT) AS u2,
                   CAST(sum(f1 * f2 * (1 - f3) * f4 * f5)
                        AS BIGINT) AS u3,
                   CAST(sum(f1 * f2 * f3 * (1 - f4) * f5)
                        AS BIGINT) AS u4,
                   CAST(sum(f1 * f2 * f3 * f4 * (1 - f5))
                        AS BIGINT) AS u5
            FROM flags
        )
        SELECT 1 AS stage, 'token_count_bounds' AS rule,
               n_docs AS n_in, d1 AS n_dropped, in2 AS n_out,
               u1 AS n_sole_reject FROM s
        UNION ALL
        SELECT 2, 'mean_token_len', in2, d2, in3, u2 FROM s
        UNION ALL
        SELECT 3, 'distinct_ratio', in3, d3, in4, u3 FROM s
        UNION ALL
        SELECT 4, 'top_token_dominance', in4, d4, in5, u4 FROM s
        UNION ALL
        SELECT 5, 'max_token_len', in5, d5, out5, u5 FROM s
    """,
    ops=("TEXT", "A1"),
)
def filter_funnel_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """QUALITY-FILTER FUNNEL: the per-rule rejection accounting a
    production curation pipeline publishes (the RefinedWeb / Dolma
    convention) — for each of five ordered heuristic rules, how
    many documents entered the stage, how many it dropped, how
    many survived, and how many it REJECTS UNIQUELY (docs every
    other rule would pass — the marginal value of keeping the
    rule). Rules are Gopher-style corpus heuristics expressed in
    PURE INTEGER arithmetic (threshold compares as cross-
    multiplications, never ratios), so the oracle is bit-exact
    with zero float-portability surface:

      1 token_count_bounds    8 <= n_tokens <= 4096
      2 mean_token_len        2 <= tok_chars/n_tokens <= 12
      3 distinct_ratio        n_distinct/n_tokens >= 1/8
      4 top_token_dominance   max_freq/n_tokens <= 1/4
      5 max_token_len         max token length <= 24

    Scale shape: ONE token explode -> (doc, token) count ->
    per-doc 5-metric aggregate (all map-side combinable), then
    the funnel is fifteen sums over the per-doc flag table and a
    constant 5-row projection — no joins, no windows, no second
    corpus pass. Empty documents enter the funnel via the LEFT
    join and fail rule 1. The flag/rollup kernel is SHARED with
    the streaming per-batch funnel sink
    (operators/quality_funnel.py; streaming/funnel.py), so online
    and offline funnels cannot drift apart."""
    from afg_data_pipeline_spark.operators.quality_funnel import (
        funnel_flags,
        funnel_rollup,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    return funnel_rollup(funnel_flags(docs))


@register(
    "embedding_stats_report",
    oracle="""
        WITH q AS (
            SELECT pos AS dim,
                   CAST(round(CAST(embedding[pos] AS DOUBLE)
                              * 1000000.0) AS BIGINT) AS qv
            FROM (
                SELECT embedding,
                       unnest(generate_series(1,
                           len(embedding))) AS pos
                FROM embeddings)
        ),
        s AS (
            SELECT dim,
                   CAST(count(*) AS DOUBLE) AS n,
                   CAST(CAST(sum(CAST(qv AS DECIMAL(38,0)))
                             AS DECIMAL(38,0)) AS DOUBLE) AS sq,
                   CAST(CAST(sum(CAST(qv * qv
                                      AS DECIMAL(38,0)))
                             AS DECIMAL(38,0)) AS DOUBLE) AS sqq
            FROM q GROUP BY dim
        )
        SELECT CAST(dim AS INTEGER) AS dim,
               CAST(n AS BIGINT) AS n_vectors,
               sq / (n * 1000000.0) AS mean,
               (n * sqq - sq * sq)
                   / (n * n * 1000000000000.0) AS variance
        FROM s
    """,
    ops=("ANN", "A1"),
)
def embedding_stats_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EMBEDDING OBSERVABILITY: per-dimension mean and population
    variance over the corpus embedding table — the health check a
    vector pipeline runs before trusting ANN results (dead dims,
    collapsed variance, mean drift after re-embedding). Companion
    to the ANN ladder: same table, the audit side.

    Exactness: each float component is CAST to DOUBLE first (rule
    16 — float32×literal stays float32 in DuckDB), quantized ONCE
    to the 1e6 integer grid (rule 1b), and both moment sums
    accumulate exactly in DECIMAL(38,0) (rule 11 — sum of q² has
    no provable 2^63 bound at corpus scale); mean and variance
    are then identical double arithmetic from identical exact
    integers on both engines (shared infix shapes). Scale: one
    posexplode + a 64-key map-side-combinable aggregate; output
    is dimension-bounded."""
    emb = read_star_table(spark, "embeddings", sf_dir)
    q = emb.select(
        F.posexplode("embedding").alias("pos0", "x")
    ).select(
        (F.col("pos0") + 1).cast("int").alias("dim"),
        F.round(F.col("x").cast("double") * 1000000.0)
        .cast("bigint")
        .alias("qv"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = q.groupBy("dim").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(dec(F.col("qv"))).cast("double").alias("sq"),
        F.sum(dec(F.col("qv") * F.col("qv")))
        .cast("double")
        .alias("sqq"),
    )
    return s.select(
        F.col("dim").cast("int").alias("dim"),
        F.col("n").cast("bigint").alias("n_vectors"),
        F.expr("sq / (n * 1000000.0)").alias("mean"),
        F.expr(
            "(n * sqq - sq * sq)"
            " / (n * n * 1000000000000.0)"
        ).alias("variance"),
    )


@register(
    "dedup_threshold_sweep",
    oracle="""
        WITH tokd AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents
        ),
        sh AS (
            SELECT doc_id,
                   list_distinct(
                       CASE WHEN len(t) < 2
                            THEN [concat_ws(' ', t)]
                       ELSE list_transform(
                           generate_series(1, len(t) - 1),
                           i -> t[i] || ' ' || t[i+1])
                       END) AS s
            FROM tokd
        ),
        sig AS (
            SELECT doc_id, s,
                   list_aggregate(list_transform(s, x -> md5('0|' || x)), 'min') AS mh0,
                   list_aggregate(list_transform(s, x -> md5('1|' || x)), 'min') AS mh1,
                   list_aggregate(list_transform(s, x -> md5('2|' || x)), 'min') AS mh2,
                   list_aggregate(list_transform(s, x -> md5('3|' || x)), 'min') AS mh3,
                   list_aggregate(list_transform(s, x -> md5('4|' || x)), 'min') AS mh4,
                   list_aggregate(list_transform(s, x -> md5('5|' || x)), 'min') AS mh5,
                   list_aggregate(list_transform(s, x -> md5('6|' || x)), 'min') AS mh6,
                   list_aggregate(list_transform(s, x -> md5('7|' || x)), 'min') AS mh7
            FROM sh
        ),
        long AS (
            SELECT doc_id,
                   unnest(['0|' || mh0 || '|' || mh1,
                           '1|' || mh2 || '|' || mh3,
                           '2|' || mh4 || '|' || mh5,
                           '3|' || mh6 || '|' || mh7]) AS band_key
            FROM sig
        ),
        cpairs AS (
            SELECT DISTINCT a.doc_id AS doc_id_a,
                   b.doc_id AS doc_id_b
            FROM long a JOIN long b USING (band_key)
            WHERE a.doc_id < b.doc_id
        ),
        scored AS (
            SELECT p.doc_id_a, p.doc_id_b,
                   CAST(len(list_intersect(sa.s, sb.s))
                        AS DOUBLE)
                   / CAST(len(sa.s) + len(sb.s)
                          - len(list_intersect(sa.s, sb.s))
                          AS DOUBLE) AS j
            FROM cpairs p
            JOIN sh sa ON sa.doc_id = p.doc_id_a
            JOIN sh sb ON sb.doc_id = p.doc_id_b
        ),
        nd AS (
            SELECT CAST(count(*) AS BIGINT) AS n_docs
            FROM documents
        ),
        taus AS (
            SELECT unnest([50, 60, 70, 80, 90]) AS threshold
        ),
        qual AS (
            SELECT t.threshold, s.doc_id_a, s.doc_id_b
            FROM scored s JOIN taus t
              ON s.j * 100.0 >= CAST(t.threshold AS DOUBLE)
        ),
        np AS (
            SELECT threshold,
                   CAST(count(*) AS BIGINT) AS n_pairs
            FROM qual GROUP BY threshold
        ),
        docs_hit AS (
            SELECT threshold,
                   CAST(count(DISTINCT d) AS BIGINT)
                       AS n_dup_docs
            FROM (
                SELECT threshold, doc_id_a AS d FROM qual
                UNION ALL
                SELECT threshold, doc_id_b FROM qual)
            GROUP BY threshold
        )
        SELECT t.threshold,
               COALESCE(np.n_pairs, 0) AS n_pairs,
               COALESCE(dh.n_dup_docs, 0) AS n_dup_docs,
               CAST(COALESCE(dh.n_dup_docs, 0) AS DOUBLE)
                   / CAST(nd.n_docs AS DOUBLE) AS dup_doc_rate
        FROM taus t
        LEFT JOIN np USING (threshold)
        LEFT JOIN docs_hit dh USING (threshold)
        CROSS JOIN nd
    """,
    ops=("DEDUP", "A1"),
)
def dedup_threshold_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NEAR-DUP THRESHOLD SWEEP — 'what would each Jaccard cutoff
    cost us': from ONE banded-MinHash candidate pass (the
    certified minhash_near_dup pipeline verbatim), report per
    threshold tau in {0.5..0.9} the qualifying pair count, the
    number of documents touched, and the affected-document rate.
    The decision table a curation team reads before picking its
    dedup aggressiveness — computed once, not five pipeline runs.

    Exactness: pair Jaccards are single divisions of exact shingle
    intersection/union integers, so j*100 >= tau compares
    identical doubles on both engines. Scale: the sweep rides the
    verified candidate table (sub-quadratic by banding); the 5x
    threshold join expands PAIRS, never documents, and both
    rollups are map-side combinable. The scored pair table is
    checkpointed once — it feeds the pair-count and the
    affected-doc branches (rule 12)."""
    docs = read_star_table(spark, "documents", sf_dir)
    scored = minhash_lsh_candidates(docs).localCheckpoint(
        eager=False
    )
    nd = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    taus = spark.createDataFrame(
        [(t,) for t in (50, 60, 70, 80, 90)], "threshold int"
    )
    qual = scored.join(
        F.broadcast(taus),
        F.col("jaccard") * 100.0
        >= F.col("threshold").cast("double"),
    ).select("threshold", "doc_id_a", "doc_id_b")
    qual = qual.localCheckpoint(eager=False)
    # ^ feeds the pair-count AND the distinct-doc branches
    np_ = qual.groupBy("threshold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )
    dh = (
        qual.select(
            "threshold", F.col("doc_id_a").alias("d")
        )
        .unionByName(
            qual.select(
                "threshold", F.col("doc_id_b").alias("d")
            )
        )
        .distinct()
        .groupBy("threshold")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_dup_docs"))
    )
    z = lambda c: F.coalesce(F.col(c), F.lit(0))  # noqa: E731
    return (
        taus.join(np_, "threshold", "left")
        .join(dh, "threshold", "left")
        .crossJoin(F.broadcast(nd))
        .select(
            "threshold",
            z("n_pairs").alias("n_pairs"),
            z("n_dup_docs").alias("n_dup_docs"),
            (
                z("n_dup_docs").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("dup_doc_rate"),
        )
    )


def _mmr_oracle_sql(n_queries: int = 16, k_cand: int = 20) -> str:
    """Unrolled greedy-MMR oracle: brute top-k_cand candidates,
    candidate-pair cosines, then 5 selection steps. Every CTE that
    later steps re-reference is AS MATERIALIZED (rule 5); the
    selected-set join is set-based (no correlated subqueries — the
    WordPiece recursive-CTE lesson)."""
    dot_ab = (
        "list_aggregate(list_transform("
        "generate_series(1, len(a.embedding)),"
        " i -> CAST(a.embedding[i] AS DOUBLE)"
        " * CAST(b.embedding[i] AS DOUBLE)), 'sum')"
    )
    dot_vavb = (
        "list_aggregate(list_transform("
        "generate_series(1, len(va.embedding)),"
        " i -> CAST(va.embedding[i] AS DOUBLE)"
        " * CAST(vb.embedding[i] AS DOUBLE)), 'sum')"
    )
    steps = []
    for k in range(2, 6):
        selu = " UNION ALL ".join(
            f"SELECT query_id, neighbor_id FROM sel{j}"
            for j in range(1, k)
        )
        steps.append(
            f"""selu{k} AS MATERIALIZED ({selu}),
        sel{k} AS MATERIALIZED (
            SELECT query_id, neighbor_id, rel,
                   mmr_score, {k} AS sel_rank
            FROM (
                SELECT c.query_id, c.neighbor_id, c.cosine AS rel,
                       0.5 * c.cosine
                           - 0.5 * coalesce(mx.ms, 0.0)
                           AS mmr_score,
                       ROW_NUMBER() OVER (
                           PARTITION BY c.query_id
                           ORDER BY 0.5 * c.cosine
                                    - 0.5 * coalesce(mx.ms, 0.0)
                                    DESC,
                                    c.neighbor_id ASC
                       ) AS rn
                FROM cand c
                LEFT JOIN selu{k} d
                  ON d.query_id = c.query_id
                 AND d.neighbor_id = c.neighbor_id
                LEFT JOIN (
                    SELECT p.query_id, p.cand,
                           max(p.sim) AS ms
                    FROM pairs p
                    JOIN selu{k} s
                      ON s.query_id = p.query_id
                     AND s.neighbor_id = p.other
                    GROUP BY 1, 2
                ) mx
                  ON mx.query_id = c.query_id
                 AND mx.cand = c.neighbor_id
                WHERE d.neighbor_id IS NULL
            ) WHERE rn = 1
        )"""
        )
    chain = ",\n        ".join(steps)
    finals = " UNION ALL ".join(
        f"SELECT query_id, sel_rank, neighbor_id, rel AS relevance,"
        f" mmr_score FROM sel{j}"
        for j in range(1, 6)
    )
    return f"""
        WITH vecs AS (
            SELECT vec_id, embedding,
                   sqrt(list_aggregate(list_transform(
                       generate_series(1, len(embedding)),
                       i -> CAST(embedding[i] AS DOUBLE)
                            * CAST(embedding[i] AS DOUBLE)),
                       'sum')) AS nrm
            FROM embeddings
        ),
        cand AS MATERIALIZED (
            SELECT query_id, neighbor_id, cosine,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id ASC
                   ) AS rn
            FROM (
                SELECT a.vec_id AS query_id,
                       b.vec_id AS neighbor_id,
                       {dot_ab} / (a.nrm * b.nrm) AS cosine
                FROM vecs a CROSS JOIN vecs b
                WHERE a.vec_id < {n_queries}
                  AND a.vec_id <> b.vec_id
            )
            QUALIFY rn <= {k_cand}
        ),
        pairs AS MATERIALIZED (
            SELECT a.query_id, a.neighbor_id AS cand,
                   b.neighbor_id AS other,
                   {dot_vavb} / (va.nrm * vb.nrm) AS sim
            FROM cand a
            JOIN cand b ON a.query_id = b.query_id
            JOIN vecs va ON va.vec_id = a.neighbor_id
            JOIN vecs vb ON vb.vec_id = b.neighbor_id
            WHERE a.neighbor_id <> b.neighbor_id
        ),
        sel1 AS MATERIALIZED (
            SELECT query_id, neighbor_id, cosine AS rel,
                   0.5 * cosine - 0.5 * 0.0 AS mmr_score,
                   1 AS sel_rank
            FROM cand WHERE rn = 1
        ),
        {chain}
        SELECT * FROM ({finals})
    """


@register(
    "mmr_diversified_topk",
    oracle=_mmr_oracle_sql(),
    ops=("ANN",),
)
def mmr_diversified_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MMR DIVERSIFIED RERANKING (Carbonell & Goldstein 1998) —
    the retrieval consumer's answer to "my top-5 are five copies
    of the same page": from each query's exact-cosine top-20
    candidate pool, greedily select 5 maximizing
    0.5*relevance - 0.5*max-similarity-to-already-selected.

    Execution shape (operators/mmr.py): candidates ride the
    certified brute_force_topk (swap in ann_funnel_topk's
    candidate stream at scale — the selection is
    candidate-source-agnostic); candidate-pair cosines are
    computed Spark-side with the portable sequential-fold dot and
    PER-CANDIDATE norms hoisted before the pair join (rule 12);
    the greedy loop itself is per-query LOCAL, so it runs as
    groupBy(query_id).applyInPandas — parallelism scales with Q,
    zero iteration barriers, and the pandas side only compares /
    linearly combines Spark-computed doubles (single IEEE ops),
    keeping the result bit-identical to the unrolled 5-step CTE
    oracle."""
    from afg_data_pipeline_spark.operators.mmr import mmr_rerank
    from afg_data_pipeline_spark.operators.similarity import (
        brute_force_topk_streamed,
        dot_decimal,
        norm_decimal,
    )

    emb = read_star_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 16)
    cand = brute_force_topk_streamed(queries, emb, k=20)
    vecs = emb.select(
        "vec_id", "embedding"
    ).withColumn("nrm", norm_decimal("embedding"))
    a = (
        cand.join(
            vecs, cand["neighbor_id"] == vecs["vec_id"]
        )
        .select(
            "query_id",
            F.col("neighbor_id").alias("cand"),
            F.col("cosine").alias("rel"),
            F.col("embedding").alias("va"),
            F.col("nrm").alias("na"),
        )
        .localCheckpoint(eager=False)
    )
    b = a.select(
        F.col("query_id"),
        F.col("cand").alias("other"),
        F.col("va").alias("vb"),
        F.col("na").alias("nb"),
    )
    pairs = a.join(b, "query_id").select(
        "query_id",
        "cand",
        "rel",
        "other",
        (
            dot_decimal("va", "vb")
            / (F.col("na") * F.col("nb"))
        ).alias("sim"),
    )
    return mmr_rerank(pairs)


@register(
    "embedding_domain_shift",
    oracle="""
        WITH j AS (
            SELECT d.source, e.embedding
            FROM embeddings e
            JOIN documents d ON d.doc_id = e.vec_id
        ),
        comp AS (
            SELECT source, i AS pos,
                   CAST(round(CAST(embedding[i] AS DOUBLE)
                              * 10000.0, 0) AS BIGINT) AS xq
            FROM j, unnest(generate_series(1, len(embedding)))
                     AS t(i)
        ),
        per AS (
            SELECT source, pos,
                   CAST(sum(xq) AS HUGEINT) AS s_q,
                   CAST(count(*) AS HUGEINT) AS n_s
            FROM comp GROUP BY 1, 2
        ),
        gtab AS (
            SELECT pos, CAST(sum(s_q) AS HUGEINT) AS g_q,
                   CAST(sum(n_s) AS HUGEINT) AS big_n
            FROM per GROUP BY pos
        )
        SELECT source,
               CAST(max(n_s) AS BIGINT) AS n_vecs,
               sqrt(CAST(sum((s_q * big_n - g_q * n_s)
                             * (s_q * big_n - g_q * n_s))
                         AS DOUBLE)
                    / CAST((max(n_s) * max(big_n))
                           * (max(n_s) * max(big_n))
                           AS DOUBLE)) / 10000.0 AS shift_l2
        FROM per JOIN gtab USING (pos)
        GROUP BY source
    """,
    ops=("ANN", "A1"),
)
def embedding_domain_shift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EMBEDDING DOMAIN SHIFT — per-source mean-vector displacement
    from the corpus centroid, ||mean_s - mean_global||_2: the
    vector-table sibling of distribution_drift_psi
    (embedding_stats_report watches per-dim health; this watches
    per-SOURCE health — an embedding-model version mix-up or a
    contaminated source shows up as one source's centroid walking
    away from the corpus).

    Exactness: components CAST to DOUBLE (rule 16) then quantized
    ONCE to the 1e4 integer grid (rule 1b); the mean difference is
    kept as an exact integer numerator over the common denominator
    n_s*N — (s_q*N - g_q*n_s) per dim, squared and summed in
    DECIMAL(38,0)/HUGEINT (bounded through ~sf30 at this grid;
    rule 11) — and converted to double only in the final
    sqrt(num/den) (each step one correctly-rounded IEEE op, both
    engines). Scale shape: one posexplode collapses the vector
    table to |sources| x 64 moment rows; everything after is
    bounded-table work."""
    emb = read_star_table(spark, "embeddings", sf_dir)
    docs = read_star_table(spark, "documents", sf_dir)
    dec = "decimal(38,0)"
    j = emb.join(
        docs.select("doc_id", "source"),
        emb["vec_id"] == F.col("doc_id"),
    )
    comp = j.select(
        "source",
        F.posexplode("embedding").alias("pos0", "x"),
    ).select(
        "source",
        (F.col("pos0") + 1).alias("pos"),
        F.round(F.col("x").cast("double") * 10000.0, 0)
        .cast("bigint")
        .alias("xq"),
    )
    per = comp.groupBy("source", "pos").agg(
        F.sum("xq").cast(dec).alias("s_q"),
        F.count(F.lit(1)).cast(dec).alias("n_s"),
    )
    glob = per.groupBy("pos").agg(
        F.sum("s_q").cast(dec).alias("g_q"),
        F.sum("n_s").cast(dec).alias("big_n"),
    )
    num = F.col("s_q") * F.col("big_n") - F.col("g_q") * F.col(
        "n_s"
    )
    return (
        per.join(glob, "pos")
        .groupBy("source")
        .agg(
            F.max("n_s").cast("bigint").alias("n_vecs"),
            (
                F.sqrt(
                    F.sum((num * num).cast(dec))
                    .cast(dec)
                    .cast("double")
                    / (
                        (F.max("n_s") * F.max("big_n"))
                        * (F.max("n_s") * F.max("big_n"))
                    )
                    .cast(dec)
                    .cast("double")
                )
                / F.lit(10000.0)
            ).alias("shift_l2"),
        )
        .select("source", "n_vecs", "shift_l2")
    )


_LSH_PLAN_BANDINGS = ((16, 1), (8, 2), (4, 4), (2, 8))

# Banding-plan corpus cap: the report runs on an md5-ranked
# deterministic subsample of at most this many documents (the
# lsh_recall_audit pattern — constant work at ANY corpus size; a
# candidate-volume ESTIMATE doesn't need the whole corpus, and the
# any-single-hash pair table grows superlinearly without it).
# Corpora at or under the cap are unchanged (rank <= cap is the
# identity there); the sample size rides every output row as
# sample_docs so the tier is announced, never silent.
_LSH_PLAN_MAX_DOCS = budget("LSH_PLAN_MAX_DOCS", 4096)


def _lsh_band_plan_oracle() -> str:
    """Oracle for lsh_band_plan: 16-hash md5 signatures (the
    minhash_near_dup SQL-replica conventions), any-single-hash
    candidate pairs, per-banding qualification flags."""
    sig_cols = ",\n                   ".join(
        "list_aggregate(list_transform(s, x -> md5('"
        f"{i}|' || x)), 'min') AS mh{i}"
        for i in range(16)
    )
    keys = ", ".join(
        f"'{i}|' || mh{i}" for i in range(16)
    )
    flags = []
    for b, r in _LSH_PLAN_BANDINGS:
        ors = " OR ".join(
            "("
            + " AND ".join(
                f"a.mh{j * r + i} = c.mh{j * r + i}"
                for i in range(r)
            )
            + ")"
            for j in range(b)
        )
        flags.append(
            f"CASE WHEN {ors} THEN 1 ELSE 0 END AS f_{b}_{r}"
        )
    flag_sql = ",\n                   ".join(flags)
    matches = " + ".join(
        f"CASE WHEN a.mh{i} = c.mh{i} THEN 1 ELSE 0 END"
        for i in range(16)
    )
    rows = " UNION ALL ".join(
        f"""SELECT {b} AS n_bands, {r} AS band_rows,
               CAST(sum(f_{b}_{r}) AS BIGINT)
                   AS n_candidate_pairs,
               CAST(sum(CASE WHEN f_{b}_{r} = 1
                             AND matches >= 8
                        THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_est_dups,
               CASE WHEN sum(f_{b}_{r}) > 0 THEN
                   CAST(sum(CASE WHEN f_{b}_{r} = 1
                                 AND matches >= 8
                            THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(sum(f_{b}_{r}) AS DOUBLE)
               ELSE NULL END AS est_precision,
               CAST({(1.0 / b) ** (1.0 / r)!r} AS DOUBLE) AS t_star,
               (SELECT CAST(count(*) AS BIGINT) FROM sample)
                   AS sample_docs
           FROM flagged"""
        for b, r in _LSH_PLAN_BANDINGS
    )
    cap = _LSH_PLAN_MAX_DOCS
    return f"""
        WITH ranked AS (
            SELECT doc_id,
                   row_number() OVER (
                       ORDER BY md5('lshplan:'
                                    || CAST(doc_id AS VARCHAR)),
                                doc_id) AS rk
            FROM documents
        ),
        sample AS (
            SELECT doc_id FROM ranked WHERE rk <= {cap}
        ),
        tokd AS (
            SELECT d.doc_id,
                   regexp_split_to_array(trim(d.text),
                                         '\\s+') AS t
            FROM documents d JOIN sample USING (doc_id)
        ),
        sh AS (
            SELECT doc_id,
                   list_distinct(
                       CASE WHEN len(t) < 2
                            THEN [concat_ws(' ', t)]
                       ELSE list_transform(
                           generate_series(1, len(t) - 1),
                           i -> t[i] || ' ' || t[i+1])
                       END) AS s
            FROM tokd
        ),
        sig AS MATERIALIZED (
            SELECT doc_id,
                   {sig_cols}
            FROM sh
        ),
        long AS (
            SELECT doc_id, unnest([{keys}]) AS hk
            FROM sig
        ),
        pairs AS (
            SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
            FROM long a JOIN long b USING (hk)
            WHERE a.doc_id < b.doc_id
        ),
        flagged AS MATERIALIZED (
            SELECT {matches} AS matches,
                   {flag_sql}
            FROM pairs p
            JOIN sig a ON a.doc_id = p.da
            JOIN sig c ON c.doc_id = p.db
        )
        SELECT * FROM ({rows})
    """


@register(
    "lsh_band_plan",
    oracle=_lsh_band_plan_oracle(),
    ops=("DEDUP", "SAMPLE"),
)
def lsh_band_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH BANDING DECISION TABLE — the 'pick your (bands, rows)'
    companion to dedup_threshold_sweep's 'pick your tau': for each
    banding of a 16-hash MinHash signature ((16,1), (8,2), (4,4),
    (2,8)), the measured candidate-pair volume ON THIS CORPUS, the
    estimated-duplicate count among candidates (signature
    agreement >= 8/16, a verification-free duplicate proxy), the
    precision proxy, and the theoretical S-curve midpoint
    t* = (1/b)^(1/r). Loose bandings buy recall with candidate
    explosion; this table prices that trade with data instead of
    folklore.

    Engineering: ONE signature pass (lambda-free explode +
    partial-agg min, rule 10) and ONE pair table — the (16,1)
    single-hash collisions are a superset of every coarser
    banding's candidates (an r-row band match implies each
    constituent hash matches), so all four bandings are FLAGS on
    the same joined pair stream, never four pipelines. t* is one
    python-formatted literal injected into BOTH engines (no
    pow() ulp exposure). At production scale this report runs on
    a corpus sample; the plan itself stays sub-quadratic exactly
    like the certified banded pipeline."""
    docs = read_star_table(spark, "documents", sf_dir)
    par = spark.sparkContext.defaultParallelism
    from afg_data_pipeline_spark.operators.text import (
        shingle_expr,
        tokens,
    )

    # md5-ranked deterministic subsample (cap announced as
    # sample_docs). The top-K runs over doc_id ONLY and the text
    # rides back in via a broadcast semi-join: ranking the full
    # (doc_id, text) rows funnels every candidate row's text
    # through the global-limit's single merge task (measured 4.5s
    # of single-task CPU at sf0.1 — guide §8: decide with small
    # rows, move the payload once). Same 4096 ids, same output.
    sample_ids = (
        docs.select("doc_id")
        .orderBy(
            F.md5(
                F.concat(
                    F.lit("lshplan:"),
                    F.col("doc_id").cast("string"),
                )
            ).asc(),
            F.col("doc_id").asc(),
        )
        .limit(_LSH_PLAN_MAX_DOCS)
        .localCheckpoint(eager=False)
    )
    sampled = docs.select("doc_id", "text").join(
        F.broadcast(sample_ids), "doc_id", "left_semi"
    )
    base = (
        sampled
        .repartition(par)
        .withColumn("__toks", tokens("text"))
        .select(
            "doc_id",
            F.array_distinct(
                shingle_expr("__toks", 2)
            ).alias("shingles"),
        )
        # Materialize BEFORE the explode (the _minhash_band_table
        # discipline): the non-outer explode makes the optimizer
        # infer `size(shingles) > 0` and push it below the
        # repartition exchange, re-evaluating the whole tokenize+
        # shingle+array_distinct pipeline per row in the single
        # pre-exchange scan task — with the transform() HOF
        # interpreted (rule 18). Measured at sf0.1: a 6.0s 1-task
        # stage; with the boundary the inferred filter tests the
        # materialized column instead (explode sub-plan 6.4->0.7s).
        # LAZY (r11, ADVICE): the optimizer barrier is the
        # LogicalRDD wrapper, present for either eager value — the
        # first action materializes it; eager=True additionally ran
        # a real Spark job at PLAN-CONSTRUCTION time, which every
        # plan-only sweep (schema_lint, plan_audit, explain dumps)
        # paid for a query it never executed.
        .localCheckpoint(eager=False)
    )
    exploded = base.select(
        "doc_id", F.explode("shingles").alias("__s")
    )
    hashed = exploded.select(
        "doc_id",
        *[
            F.md5(
                F.concat(F.lit(f"{i}|"), F.col("__s"))
            ).alias(f"h{i}")
            for i in range(16)
        ],
    )
    sigs = hashed.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"mh{i}") for i in range(16)]
    ).localCheckpoint(eager=False)  # lazy for the same reason as base
    # the band key embeds the hash INDEX, so a pair's colliding
    # keys tell us exactly which of the 16 min-hashes agree: one
    # (da, db) aggregate yields matches (= collision count) and a
    # 16-bit agreement mask — no dropDuplicates pass and no
    # signature rejoins (the r8 shape paid a 2.6M-pair x 34-column
    # intermediate plus two joins for the same information).
    long = sigs.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "|", F.lit(str(i)), F.col(f"mh{i}")
                    )
                    for i in range(16)
                ]
            )
        ).alias("idx", "hk"),
    )
    a = long.select(F.col("doc_id").alias("da"), "hk", "idx")
    b = long.select(F.col("doc_id").alias("db"), "hk")
    agreed = (
        a.join(b, "hk")
        .filter(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(
            F.count(F.lit(1)).cast("int").alias("matches"),
            F.sum(F.expr("shiftleft(1, idx)"))
            .cast("int")
            .alias("mask"),
        )
    )
    flag_cols = []
    for bb, r in _LSH_PLAN_BANDINGS:
        full = (1 << r) - 1
        band_ok = None
        for j in range(bb):
            cond = (
                F.shiftright(F.col("mask"), j * r)
                .bitwiseAND(F.lit(full))
                == F.lit(full)
            )
            band_ok = (
                cond if band_ok is None else (band_ok | cond)
            )
        flag_cols.append(
            F.when(band_ok, 1).otherwise(0).alias(f"f_{bb}_{r}")
        )
    flagged = agreed.select("matches", *flag_cols)
    rows = flagged.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bb).alias("n_bands"),
                        F.lit(r).alias("band_rows"),
                        F.col(f"f_{bb}_{r}").alias("f"),
                        F.lit(float((1.0 / bb) ** (1.0 / r)))
                        .alias("t_star"),
                    )
                    for bb, r in _LSH_PLAN_BANDINGS
                ]
            )
        ).alias("s"),
        "matches",
    ).select("s.*", "matches")
    # sample_docs counts the PRE-shingle sample (= the oracle's
    # count(*) FROM sample): counting sigs instead would diverge on
    # corpora where degenerate text (NULL / shingle-less) drops a
    # doc from the signature table but not from the sample.
    # Counted over the checkpointed id list — doc_id is unique, so
    # |sample_ids| == |sampled| by construction, and the count
    # skips a second full parquet scan of the text column.
    n_sample = sample_ids.agg(
        F.count(F.lit(1)).cast("bigint").alias("sample_docs")
    )
    return (
        rows.groupBy("n_bands", "band_rows", "t_star")
        .agg(
            F.sum("f").cast("bigint").alias("n_candidate_pairs"),
            F.sum(
                F.when(
                    (F.col("f") == 1) & (F.col("matches") >= 8),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_est_dups"),
        )
        # 1-row stat broadcast: the measured-harmless BNLJ class
        # (rule 23) — announces the sampled corpus size on every
        # row so the tier is visible in the report itself.
        .crossJoin(F.broadcast(n_sample))
        .select(
            "n_bands",
            "band_rows",
            "n_candidate_pairs",
            "n_est_dups",
            F.when(
                F.col("n_candidate_pairs") > 0,
                F.col("n_est_dups").cast("double")
                / F.col("n_candidate_pairs").cast("double"),
            ).alias("est_precision"),
            "t_star",
            "sample_docs",
        )
    )


_BM25_CTES_50 = """
        WITH q(query_id, term) AS (
            VALUES ('q_dup', 'batch'), ('q_dup', 'dup'),
                   ('q_dup', 'merge'),
                   ('q_quality', 'filter'), ('q_quality', 'scan'),
                   ('q_quality', 'slow'),
                   ('q_vector', 'hash'), ('q_vector', 'join'),
                   ('q_vector', 'vector')
        ),
        toks AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(text),
                                                '\\s+')) AS term
            FROM documents
        ),
        dl AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
            FROM toks GROUP BY doc_id
        ),
        corpus AS (
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(dl) AS BIGINT) AS total_len
            FROM dl
        ),
        tf AS (
            SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM toks
            WHERE term IN (SELECT DISTINCT term FROM q)
            GROUP BY doc_id, term
        ),
        dfreq AS (
            SELECT term, CAST(count(*) AS BIGINT) AS df
            FROM tf GROUP BY term
        ),
        contrib AS (
            SELECT q.query_id, tf.doc_id,
                   CAST(round(
                       ln(1.0 + (CAST(n_docs AS DOUBLE)
                                 - CAST(df AS DOUBLE) + 0.5)
                                / (CAST(df AS DOUBLE) + 0.5))
                       * (CAST(tf AS DOUBLE) * 2.2)
                         / (CAST(tf AS DOUBLE)
                            + 1.2 * (0.25
                                     + 0.75 * CAST(dl AS DOUBLE)
                                       / (CAST(total_len AS DOUBLE)
                                          / CAST(n_docs AS DOUBLE))))
                       * 1000000000.0) AS BIGINT) AS c
            FROM tf
            JOIN dfreq USING (term)
            JOIN q USING (term)
            JOIN dl USING (doc_id), corpus
        ),
        s AS (
            SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS s
            FROM contrib GROUP BY query_id, doc_id
        ),
        cand AS MATERIALIZED (
            SELECT query_id, doc_id, s,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY s DESC,
                                               doc_id ASC) AS r1
            FROM s
            QUALIFY r1 <= 50
        )
"""


@register(
    "rrf_hybrid_rerank",
    oracle=_BM25_CTES_50
    + """
        , cids AS (SELECT DISTINCT doc_id FROM cand),
        dq AS MATERIALIZED (
            SELECT t.doc_id,
                   CAST(count(*) AS BIGINT) AS n_tok,
                   CAST(count(DISTINCT term) AS BIGINT) AS dt
            FROM toks t JOIN cids USING (doc_id)
            GROUP BY t.doc_id
        ),
        ranked AS MATERIALIZED (
            SELECT c.query_id, c.doc_id, c.r1,
                   row_number() OVER (
                       PARTITION BY c.query_id
                       ORDER BY CAST(dq.dt AS DOUBLE)
                                / CAST(dq.n_tok AS DOUBLE) DESC,
                                c.doc_id ASC) AS r2
            FROM cand c JOIN dq USING (doc_id)
        ),
        fused AS (
            SELECT query_id, doc_id,
                   CAST(r1 AS INTEGER) AS bm25_rank,
                   CAST(r2 AS INTEGER) AS quality_rank,
                   CAST(1000000000000 // (60 + r1)
                        + 1000000000000 // (60 + r2)
                        AS BIGINT) AS rrf_q
            FROM ranked
        )
        SELECT query_id, doc_id, bm25_rank, quality_rank, rrf_q,
               CAST(rn AS INTEGER) AS rank
        FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY rrf_q DESC, doc_id ASC) AS rn
            FROM fused
        ) WHERE rn <= 10
    """,
    ops=("RETRIEVAL",),
)
def rrf_hybrid_rerank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RECIPROCAL RANK FUSION (Cormack/Clarke/Buettcher 2009) —
    the standard hybrid-retrieval combiner, here fusing BM25
    relevance with a lexical-quality signal (distinct-token
    ratio): candidates are the certified bm25_topk pipeline at
    k=50 per probe query, each candidate gets a second rank by
    quality within the candidate pool, and the final top-10 is by
    RRF(d) = sum_r 1/(60 + rank_r(d)). Targeted data selection in
    practice retrieves-then-quality-reranks exactly like this.

    Exactness: ranks are exact integers; each RRF term is an exact
    integer floor division 1e12 // (60 + r) on BOTH engines (no
    float reciprocals, no ordered-sum exposure); quality ordering
    is one portable double division of exact counts with a doc_id
    tie-break. Scale shape: everything after the certified BM25
    scoring runs on the <= 50*|queries| candidate pool — the
    quality aggregate token-scans ONLY candidate docs (semi-join
    prune before the explode), windows are per-query over <= 50
    rows."""
    from afg_data_pipeline_spark.operators.bm25 import bm25_topk

    docs = read_star_table(spark, "documents", sf_dir)
    cand = bm25_topk(
        docs,
        [
            ("q_vector", "vector hash join"),
            ("q_quality", "slow scan filter"),
            ("q_dup", "dup merge batch"),
        ],
        k=50,
    ).localCheckpoint(eager=False)
    cids = cand.select("doc_id").distinct()
    dq = (
        docs.join(F.broadcast(cids), "doc_id", "left_semi")
        .select(
            "doc_id", F.explode(TX.tokens("text")).alias("term")
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tok"),
            F.countDistinct("term").cast("bigint").alias("dt"),
        )
    )
    from pyspark.sql import Window

    wq = Window.partitionBy("query_id").orderBy(
        (
            F.col("dt").cast("double")
            / F.col("n_tok").cast("double")
        ).desc(),
        F.col("doc_id").asc(),
    )
    ranked = (
        cand.select(
            "query_id", "doc_id", F.col("rank").alias("r1")
        )
        .join(dq, "doc_id")
        .withColumn("r2", F.row_number().over(wq))
    )
    fused = ranked.select(
        "query_id",
        "doc_id",
        F.col("r1").cast("int").alias("bm25_rank"),
        F.col("r2").cast("int").alias("quality_rank"),
        (
            F.expr("1000000000000 div (60 + r1)")
            + F.expr("1000000000000 div (60 + r2)")
        )
        .cast("bigint")
        .alias("rrf_q"),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("rrf_q").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= 10)
        .select(
            "query_id",
            "doc_id",
            "bm25_rank",
            "quality_rank",
            "rrf_q",
            F.col("rank").cast("int").alias("rank"),
        )
    )
