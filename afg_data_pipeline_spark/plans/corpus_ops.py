"""Declared queries: round-3 corpus-preparation operators —
bigram LM scoring, character entropy, PMI collocations, sliding
chunking, and deterministic train/val/test splitting.

These extend the LLM-data surface of plans/llm_ops.py; same
conventions (exact DuckDB oracle per query, identical column
aliases on both sides, decimal/integer accumulation per CLAUDE.md
rule 1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from afg_data_pipeline_spark.io import read_star_table
from afg_data_pipeline_spark.operators.sampling import (
    fraction_threshold,
    hash_split,
)
from afg_data_pipeline_spark.plans.registry import register


@register(
    "bigram_lm_score",
    oracle="""
        WITH tokd AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS arr
            FROM documents
        ),
        toks AS (
            SELECT doc_id, pos, list_extract(arr, pos) AS tok
            FROM (SELECT doc_id, arr,
                         unnest(generate_series(1, len(arr)))
                             AS pos
                  FROM tokd)
        ),
        bigrams AS (
            SELECT doc_id, prev, tok FROM (
                SELECT doc_id,
                       lag(tok) OVER (PARTITION BY doc_id
                                      ORDER BY pos) AS prev,
                       tok
                FROM toks)
            WHERE prev IS NOT NULL
        ),
        bg AS (
            SELECT prev, tok, count(*) AS cb
            FROM bigrams GROUP BY prev, tok
        ),
        uni AS (
            SELECT tok, count(*) AS cu FROM toks GROUP BY tok
        ),
        tot AS (SELECT count(*) AS n FROM toks)
        SELECT b.doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(CAST(round((- ln(
                   0.75 * CAST(bg.cb AS DOUBLE)
                        / CAST(cup.cu AS DOUBLE)
                   + 0.25 * CAST(u.cu AS DOUBLE)
                          / CAST(tot.n AS DOUBLE)
               )) * 1000000000.0) AS BIGINT)) AS DOUBLE) / 1e9
                   / CAST(count(*) AS DOUBLE) AS avg_nll
        FROM bigrams b
        JOIN bg ON bg.prev = b.prev AND bg.tok = b.tok
        JOIN uni cup ON cup.tok = b.prev
        JOIN uni u ON u.tok = b.tok
        CROSS JOIN tot
        GROUP BY b.doc_id
    """,
    ops=("TEXT", "A1"),
)
def bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram LM quality score (CCNet-style, one order
    above unigram_lm_score): per-doc mean NLL of each token given
    its predecessor, p = 0.75·c(prev,t)/c(prev) + 0.25·c(t)/N.
    operators/lm.bigram_lm_nll; per-row NLL quantized to the 1e-9
    integer grid and summed exactly (engine-portable), per-doc lag
    windows, map-side-combined count tables."""
    from afg_data_pipeline_spark.operators.lm import bigram_lm_nll

    docs = read_star_table(spark, "documents", sf_dir)
    return bigram_lm_nll(docs, lam=0.75).select(
        F.col("id").alias("doc_id"), "n_bigrams", "avg_nll"
    )


@register(
    "char_entropy",
    oracle="""
        WITH chars AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(text, '')) AS c
            FROM documents
        ),
        counts AS (
            SELECT doc_id, c, count(*) AS cnt
            FROM chars WHERE length(c) > 0
            GROUP BY doc_id, c
        ),
        per AS (
            SELECT doc_id,
                   CAST(SUM(cnt) AS BIGINT) AS n,
                   CAST(SUM(CAST(round(
                       CAST(cnt AS DOUBLE)
                       * ln(CAST(cnt AS DOUBLE))
                       * 1000000000.0) AS BIGINT)) AS BIGINT)
                       AS qsum
            FROM counts GROUP BY doc_id
        )
        SELECT doc_id,
               n AS n_chars_counted,
               CAST(round(
                   (ln(CAST(n AS DOUBLE))
                       - CAST(qsum AS DOUBLE) / 1e9
                         / CAST(n AS DOUBLE))
                   / 0.6931471805599453 * 1e9) AS BIGINT)
                   / 1e9 AS entropy
        FROM per
    """,
    ops=("TEXT",),
)
def char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document — the gibberish
    / padding / binary-paste quality gate. operators/text.
    char_entropy_profile: factored H = log2(n) − Σc·log2(c)/n with
    the inner sum quantized to exact BIGINT (portable across
    engines, unlike decimal casts of irrational doubles)."""
    from afg_data_pipeline_spark.operators.text import (
        char_entropy_profile,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    return char_entropy_profile(docs).select(
        F.col("id").alias("doc_id"), "n_chars_counted", "entropy"
    )


@register(
    "pmi_collocations",
    oracle="""
        WITH tokd AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS arr
            FROM documents
        ),
        toks AS (
            SELECT doc_id, pos, list_extract(arr, pos) AS tok
            FROM (SELECT doc_id, arr,
                         unnest(generate_series(1, len(arr)))
                             AS pos
                  FROM tokd)
        ),
        bigrams AS (
            SELECT doc_id, prev, tok FROM (
                SELECT doc_id,
                       lag(tok) OVER (PARTITION BY doc_id
                                      ORDER BY pos) AS prev,
                       tok
                FROM toks)
            WHERE prev IS NOT NULL
        ),
        bg AS (
            SELECT prev, tok, count(*) AS cb
            FROM bigrams GROUP BY prev, tok
            HAVING count(*) >= 5
        ),
        uni AS (
            SELECT tok, count(*) AS cu FROM toks GROUP BY tok
        ),
        tot AS (SELECT count(*) AS n FROM toks)
        SELECT bg.prev AS term_a, bg.tok AS term_b,
               CAST(bg.cb AS BIGINT) AS n_pair,
               CAST(round(
                   ln(CAST(tot.n AS DOUBLE) * CAST(bg.cb AS DOUBLE)
                      / (CAST(cup.cu AS DOUBLE)
                         * CAST(u.cu AS DOUBLE))) * 1e9)
                    AS BIGINT) / 1e9 AS pmi
        FROM bg
        JOIN uni cup ON cup.tok = bg.prev
        JOIN uni u ON u.tok = bg.tok
        CROSS JOIN tot
    """,
    ops=("TEXT", "A1"),
)
def pmi_collocations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Adjacent-bigram PMI collocation mining: token pairs
    occurring >= 5 times, pmi = ln(N·c_ab/(c_a·c_b)) over corpus
    token counts — all-integer counts, so the score is one
    deterministic double expression. operators/lm.bigram_pmi:
    linear in corpus size (no per-document pair fanout), count
    tables partial-aggregated before their shuffles."""
    from afg_data_pipeline_spark.operators.lm import bigram_pmi

    docs = read_star_table(spark, "documents", sf_dir)
    return bigram_pmi(docs, min_count=5)


@register(
    "pmi_doc_pairs",
    oracle="""
        WITH dt AS (
            SELECT DISTINCT doc_id AS id, term FROM (
                SELECT doc_id,
                       unnest(regexp_split_to_array(trim(text),
                                                    '\\s+')) AS term
                FROM documents)
        ),
        dfs AS (
            SELECT term, count(*) AS c
            FROM dt GROUP BY term
            HAVING count(*) >= 2 AND count(*) <= 400
        ),
        pruned AS (
            SELECT dt.id, dt.term, dfs.c
            FROM dt JOIN dfs USING (term)
        ),
        n AS (SELECT count(*) AS n FROM documents),
        pairs AS (
            SELECT a.term AS term_a, b.term AS term_b,
                   a.c AS ca, b.c AS cb,
                   count(*) AS n_docs_both
            FROM pruned a JOIN pruned b ON a.id = b.id
            WHERE a.term < b.term
            GROUP BY a.term, b.term, a.c, b.c
            HAVING count(*) >= 2
        )
        SELECT term_a, term_b,
               CAST(n_docs_both AS BIGINT) AS n_docs_both,
               CAST(round(
                   ln(CAST((SELECT n FROM n) AS DOUBLE)
                      * CAST(n_docs_both AS DOUBLE)
                      / (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE)))
                   * 1e9) AS BIGINT) / 1e9 AS pmi
        FROM pairs
    """,
    ops=("TEXT", "A1"),
)
def pmi_doc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-co-occurrence PMI — the topic-level association
    sibling of pmi_collocations (which is adjacency/phrase-level):
    term pairs sharing >= 2 documents, pmi over DOCUMENT
    frequencies, df-pruned (2 <= df <= 400) so singleton terms
    never pair and near-universal terms never pay the per-doc
    quadratic fanout. The cap is tuned to this corpus's profile
    (synthetic vocabulary: 31 terms, df 25..402 at sf0.01 — a
    max_df below 400 prunes everything); production corpora with
    Zipfian vocabularies use a much lower cap relative to N.
    operators/tfidf.pmi_pairs: posting-list self-join on doc id,
    integer counts, pmi snapped to the 1e-9 grid."""
    from afg_data_pipeline_spark.operators.tfidf import pmi_pairs

    docs = read_star_table(spark, "documents", sf_dir)
    return pmi_pairs(
        docs, min_df=2, max_df=400, min_pair_count=2
    )


@register(
    "chunk_documents",
    oracle="""
        WITH base AS (
            SELECT doc_id, text, length(text) AS n FROM documents
        ),
        idx AS (
            SELECT doc_id, text,
                   unnest(generate_series(
                       0,
                       CAST(floor((greatest(n - 200, 0) + 149)
                                  / 150.0) AS BIGINT)
                   )) AS chunk_idx
            FROM base
        )
        SELECT doc_id,
               CAST(chunk_idx AS BIGINT) AS chunk_idx,
               substr(text, 1 + chunk_idx * 150, 200)
                   AS chunk_text,
               CAST(length(substr(text, 1 + chunk_idx * 150, 200))
                    AS BIGINT) AS n_chunk_chars
        FROM idx
    """,
    ops=("P10", "U4"),
)
def chunk_documents_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sliding-window chunking for training-sequence prep: 200-char
    chunks every 150 chars (50 overlap), last chunk ragged.
    operators/text.chunk_documents — pure projection + bounded
    explode, zero shuffles."""
    from afg_data_pipeline_spark.operators.text import (
        chunk_documents,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    return chunk_documents(docs, size=200, stride=150).select(
        F.col("id").alias("doc_id"),
        "chunk_idx",
        "chunk_text",
        "n_chunk_chars",
    )


_T_TRAIN = fraction_threshold(0.8)
_T_VAL = fraction_threshold(0.9)


@register(
    "train_val_test_split",
    oracle=f"""
        SELECT lang, split,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
        FROM (
            SELECT lang, n_chars,
                   CASE WHEN md5('split:'
                                 || CAST(doc_id AS VARCHAR))
                             < '{_T_TRAIN}' THEN 'train'
                        WHEN md5('split:'
                                 || CAST(doc_id AS VARCHAR))
                             < '{_T_VAL}' THEN 'val'
                        ELSE 'test' END AS split
            FROM documents)
        GROUP BY lang, split
    """,
    ops=("A1", "P14"),
)
def train_val_test_split(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by salted
    md5 threshold (operators/sampling.hash_split — no RNG, no
    shuffle, identical membership on every engine/retry), audited
    as per-(lang, split) doc and char totals."""
    docs = read_star_table(spark, "documents", sf_dir)
    return (
        hash_split(docs, "doc_id", train=0.8, val=0.1)
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars_total"),
        )
    )


@register(
    "vocab_oov_rate",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(text),
                                                '\\s+')) AS tok
            FROM documents
        ),
        vocab AS (
            SELECT tok FROM (
                SELECT tok, count(*) AS cnt
                FROM toks GROUP BY tok
                ORDER BY cnt DESC, tok ASC
                LIMIT 1000
            )
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(count(*) FILTER (WHERE v.tok IS NULL)
                    AS BIGINT) AS n_oov,
               CAST(count(*) FILTER (WHERE v.tok IS NULL)
                    AS DOUBLE) / CAST(count(*) AS DOUBLE)
                   AS oov_rate
        FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
        GROUP BY doc_id
    """,
    ops=("TEXT", "A1"),
)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage audit: build the top-1000
    corpus vocabulary (count desc, term asc tie-break) and report
    each document's out-of-vocabulary token count and rate — the
    pre-training sanity check for vocab/tokenizer choices.

    Scale notes: the vocabulary selection is orderBy+limit →
    TakeOrderedAndProject (per-task partial top-k, no partitionless
    window funneling the vocabulary through one task — same
    discipline as the IVF centroid seeding); the membership probe
    is a broadcast left join (1000 rows) against the token stream;
    per-doc counts partial-aggregate. Integer counts + one double
    division = deterministic on any engine.
    """
    from afg_data_pipeline_spark.operators import text as TX

    docs = read_star_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id", F.explode(TX.tokens("text")).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("tok").asc())
        .limit(1000)
        .select("tok", F.lit(1).alias("__in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(
                F.when(F.col("__in_vocab").isNull(), F.lit(1))
            ).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            (
                F.col("n_oov").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("oov_rate"),
        )
    )


@register(
    "trigram_lm_score",
    oracle="""
        WITH tokd AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS arr
            FROM documents
        ),
        toks AS (
            SELECT doc_id, pos, list_extract(arr, pos) AS tok
            FROM (SELECT doc_id, arr,
                         unnest(generate_series(1, len(arr)))
                             AS pos
                  FROM tokd)
        ),
        ctx AS (
            SELECT doc_id, tok,
                   lag(tok, 1) OVER (PARTITION BY doc_id
                                     ORDER BY pos) AS t1,
                   lag(tok, 2) OVER (PARTITION BY doc_id
                                     ORDER BY pos) AS t2
            FROM toks
        ),
        tri_stream AS (
            SELECT doc_id, t2, t1, tok FROM ctx
            WHERE t2 IS NOT NULL
        ),
        bi_stream AS (
            SELECT t1, tok FROM ctx WHERE t1 IS NOT NULL
        ),
        tri AS (
            SELECT t2, t1, tok, count(*) AS c3
            FROM tri_stream GROUP BY t2, t1, tok
        ),
        bi AS (
            SELECT t1, tok, count(*) AS c2
            FROM bi_stream GROUP BY t1, tok
        ),
        bictx AS (
            SELECT t1, CAST(SUM(c2) AS BIGINT) AS cb
            FROM bi GROUP BY t1
        ),
        trictx AS (
            SELECT t1 AS t2, tok AS t1, c2 AS cc FROM bi
        ),
        uni AS (
            SELECT tok, count(*) AS cu FROM toks GROUP BY tok
        ),
        tot AS (SELECT count(*) AS n FROM toks)
        SELECT s.doc_id,
               CAST(count(*) AS BIGINT) AS n_trigrams,
               CAST(SUM(CAST(round((- ln(
                   0.5 * CAST(tr.c3 AS DOUBLE)
                       / CAST(tc.cc AS DOUBLE)
                   + 0.3 * CAST(b.c2 AS DOUBLE)
                         / CAST(bc.cb AS DOUBLE)
                   + 0.19999999999999998 * CAST(u.cu AS DOUBLE)
                         / CAST(tot.n AS DOUBLE)
               )) * 1000000000.0) AS BIGINT)) AS DOUBLE) / 1e9
                   / CAST(count(*) AS DOUBLE) AS avg_nll
        FROM tri_stream s
        JOIN tri tr ON tr.t2 = s.t2 AND tr.t1 = s.t1
                   AND tr.tok = s.tok
        JOIN trictx tc ON tc.t2 = s.t2 AND tc.t1 = s.t1
        JOIN bi b ON b.t1 = s.t1 AND b.tok = s.tok
        JOIN bictx bc ON bc.t1 = s.t1
        JOIN uni u ON u.tok = s.tok
        CROSS JOIN tot
        GROUP BY s.doc_id
    """,
    ops=("TEXT", "A1"),
)
def trigram_lm_score(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Interpolated trigram LM quality score — top rung of the LM
    ladder (unigram_lm_score → bigram_lm_score → here):
    p = 0.5·c(t2,t1,t)/c(t2,t1) + 0.3·c(t1,t)/c(t1) + 0.2·c(t)/N.
    operators/lm.trigram_lm_nll; two per-doc lag windows, three
    map-side-combined count tables, per-row NLL quantized to the
    1e-9 integer grid and summed exactly."""
    from afg_data_pipeline_spark.operators.lm import (
        trigram_lm_nll,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    return trigram_lm_nll(docs, l3=0.5, l2=0.3).select(
        F.col("id").alias("doc_id"), "n_trigrams", "avg_nll"
    )


@register(
    "duplicate_span_extract",
    oracle="""
        WITH tokd AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents
        ),
        pos AS (
            SELECT doc_id, t,
                   unnest(generate_series(1, len(t) - 4)) AS pos
            FROM tokd WHERE len(t) >= 5
        ),
        grams AS (
            SELECT doc_id, pos,
                   md5(array_to_string(
                       list_slice(t, pos, pos + 4), ' ')) AS gh
            FROM pos
        ),
        counted AS (
            SELECT doc_id, pos,
                   count(*) OVER (PARTITION BY gh) AS c
            FROM grams
        ),
        dup AS (SELECT doc_id, pos FROM counted WHERE c >= 2),
        flagged AS (
            SELECT doc_id, pos,
                   CASE WHEN lag(pos) OVER w IS NULL
                             OR pos > lag(pos) OVER w + 5
                        THEN 1 ELSE 0 END AS new_island
            FROM dup
            WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ),
        islands AS (
            SELECT doc_id, pos,
                   SUM(new_island) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS UNBOUNDED PRECEDING) AS island
            FROM flagged
        )
        SELECT doc_id,
               CAST(min(pos) AS BIGINT) AS span_start,
               CAST(max(pos) + 4 AS BIGINT) AS span_end,
               CAST(max(pos) + 4 - min(pos) + 1 AS BIGINT)
                   AS n_span_tokens
        FROM islands GROUP BY doc_id, island
    """,
    ops=("DEDUP",),
)
def duplicate_span_extract_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Materialized duplicated spans (Lee et al. exact-substring
    dedup, the actionable sibling of duplicate_span_detect): the
    MERGED 1-based token intervals covered by corpus-duplicated
    5-grams, per document — exactly the ranges a training-data
    dedup pass cuts. operators/dedup.duplicate_span_extract:
    single-evaluation xxhash64 gram stream, window count by hash,
    per-doc gaps-and-islands; two shuffles, all-integer output."""
    from afg_data_pipeline_spark.operators.dedup import (
        duplicate_span_extract,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    return duplicate_span_extract(docs, k=5).select(
        F.col("id").alias("doc_id"),
        F.col("span_start").cast("bigint").alias("span_start"),
        F.col("span_end").cast("bigint").alias("span_end"),
        F.col("n_span_tokens").cast("bigint").alias(
            "n_span_tokens"
        ),
    )


@register(
    "winnow_fingerprints",
    oracle="""
        WITH tokd AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents
        ),
        g AS (
            SELECT doc_id, t, len(t) - 3 AS n_pos,
                   unnest(generate_series(1, len(t) - 3)) AS pos
            FROM tokd WHERE len(t) >= 4
        ),
        grams AS (
            SELECT doc_id, n_pos, pos,
                   md5(array_to_string(
                       list_slice(t, pos, pos + 3), ' ')) AS gh
            FROM g
        ),
        wm AS (
            SELECT doc_id, n_pos, pos,
                   min(gh) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN 4 PRECEDING
                                 AND CURRENT ROW) AS win_min
            FROM grams
        )
        SELECT DISTINCT doc_id, win_min AS fp
        FROM wm WHERE pos >= 5 OR pos = n_pos
    """,
    ops=("DEDUP",),
)
def winnow_fingerprints_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, MOSS):
    per-document minimum md5 of each sliding window of 5
    consecutive token-4-gram hashes — any shared substring of
    >= 8 tokens is GUARANTEED to produce an identical fingerprint
    in both documents while keeping only ~2/(w+1) of grams. The
    position-robust candidate-generation tier between MinHash
    (whole-doc) and exact-substring counting.
    operators/dedup.winnow_fingerprints: bounded-PRECEDING window
    frames only (rule 2), lexicographic hex min (engine-portable),
    distinct shuffles (id, fp) pairs only."""
    from afg_data_pipeline_spark.operators.dedup import (
        winnow_fingerprints,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    return winnow_fingerprints(docs, k=4, w=5).select(
        F.col("id").alias("doc_id"), "fp"
    )


@register(
    "winnow_candidate_pairs",
    oracle="""
        WITH tokd AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents
        ),
        g AS (
            SELECT doc_id, t, len(t) - 3 AS n_pos,
                   unnest(generate_series(1, len(t) - 3)) AS pos
            FROM tokd WHERE len(t) >= 4
        ),
        grams AS (
            SELECT doc_id, n_pos, pos,
                   md5(array_to_string(
                       list_slice(t, pos, pos + 3), ' ')) AS gh
            FROM g
        ),
        wm AS (
            SELECT doc_id, n_pos, pos,
                   min(gh) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN 4 PRECEDING
                                 AND CURRENT ROW) AS win_min
            FROM grams
        ),
        fps AS (
            SELECT DISTINCT doc_id, win_min AS fp
            FROM wm WHERE pos >= 5 OR pos = n_pos
        ),
        keep AS (
            SELECT fp FROM fps GROUP BY fp
            HAVING count(*) <= 200
        ),
        capped AS (
            SELECT fps.doc_id, fps.fp
            FROM fps JOIN keep USING (fp)
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(count(*) AS BIGINT) AS n_shared_fps
        FROM capped a JOIN capped b ON a.fp = b.fp
        WHERE a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING count(*) >= 2
    """,
    ops=("DEDUP",),
)
def winnow_candidate_pairs_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MOSS match step: document pairs sharing >= 2 winnowing
    fingerprints (k=4, w=5), with the shared count — the
    position-robust candidate tier (detects copied PASSAGES at any
    offset, where MinHash needs whole-doc similarity).
    operators/dedup.winnow_candidate_pairs: inverted-index
    self-join on fingerprint, hot fingerprints capped at 200 docs
    (boilerplate guard, the minhash bucket-cap pattern),
    fingerprint table checkpointed once."""
    from afg_data_pipeline_spark.operators.dedup import (
        winnow_candidate_pairs,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    return winnow_candidate_pairs(
        docs, k=4, w=5, min_shared=2, max_fp_docs=200
    )


@register(
    "adaptive_length_filter",
    oracle="""
        WITH counts AS (
            SELECT lang AS g, n_chars AS v, count(*) AS c
            FROM documents GROUP BY lang, n_chars
        ),
        cum AS (
            SELECT g, v,
                   SUM(c) OVER (PARTITION BY g ORDER BY v
                                ROWS UNBOUNDED PRECEDING) AS cum,
                   SUM(c) OVER (PARTITION BY g) AS n
            FROM counts
        ),
        bands AS (
            SELECT g, CAST(max(n) AS BIGINT) AS n_docs,
                   min(CASE WHEN cum >= (n * 10 + 99) // 100
                            THEN v END) AS lo,
                   min(CASE WHEN cum >= (n * 90 + 99) // 100
                            THEN v END) AS hi
            FROM cum GROUP BY g
        )
        SELECT d.lang, b.n_docs, b.lo, b.hi,
               CAST(SUM(CASE WHEN d.n_chars BETWEEN b.lo AND b.hi
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept
        FROM documents d JOIN bands b ON b.g = d.lang
        GROUP BY d.lang, b.n_docs, b.lo, b.hi
    """,
    ops=("A2", "TEXT"),
)
def adaptive_length_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-language adaptive length gate: exact discrete p10/p90 of
    n_chars per lang and the count of documents inside the band —
    fixed global length thresholds misfire across languages, so
    corpus prep cuts each language against its own distribution.
    operators/quantiles.grouped_percentile_disc: the heavy pass is
    a map-side-combinable (lang, n_chars) count — one row per
    DISTINCT value per group regardless of corpus size — and the
    cumulative window runs over that tiny frame; never a per-group
    row sort. ceil(q·n) ranks in exact integer arithmetic."""
    from afg_data_pipeline_spark.operators.quantiles import (
        adaptive_band_filter,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    return adaptive_band_filter(
        docs, "lang", "n_chars", lo_q=0.1, hi_q=0.9
    )


@register(
    "incremental_near_dup",
    oracle="""
        WITH tokd AS (
            SELECT doc_id, source,
                   regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents
        ),
        sh AS (
            SELECT doc_id, source,
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
            SELECT doc_id, source, s,
                   list_aggregate(list_transform(s,
                       x -> md5('0|' || x)), 'min') AS mh0,
                   list_aggregate(list_transform(s,
                       x -> md5('1|' || x)), 'min') AS mh1,
                   list_aggregate(list_transform(s,
                       x -> md5('2|' || x)), 'min') AS mh2,
                   list_aggregate(list_transform(s,
                       x -> md5('3|' || x)), 'min') AS mh3,
                   list_aggregate(list_transform(s,
                       x -> md5('4|' || x)), 'min') AS mh4,
                   list_aggregate(list_transform(s,
                       x -> md5('5|' || x)), 'min') AS mh5,
                   list_aggregate(list_transform(s,
                       x -> md5('6|' || x)), 'min') AS mh6,
                   list_aggregate(list_transform(s,
                       x -> md5('7|' || x)), 'min') AS mh7
            FROM sh
        ),
        long AS (
            SELECT doc_id, source,
                   unnest(['0|' || mh0 || '|' || mh1,
                           '1|' || mh2 || '|' || mh3,
                           '2|' || mh4 || '|' || mh5,
                           '3|' || mh6 || '|' || mh7]) AS band_key
            FROM sig
        ),
        pairs AS (
            SELECT DISTINCT n.doc_id AS new_id,
                            c.doc_id AS dup_of
            FROM long n JOIN long c USING (band_key)
            WHERE n.source IN ('src0', 'src1')
              AND c.source NOT IN ('src0', 'src1')
        )
        SELECT p.new_id, p.dup_of,
               CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
               / CAST(len(sa.s) + len(sb.s)
                      - len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                   AS jaccard
        FROM pairs p
        JOIN sh sa ON sa.doc_id = p.new_id
        JOIN sh sb ON sb.doc_id = p.dup_of
    """,
    ops=("DEDUP",),
)
def incremental_near_dup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental (delta-vs-corpus) near-dup detection: treat
    sources src0/src1 as today's crawl increment and every other
    source as the existing corpus; report which new docs are banded
    near-dups of corpus docs with exact shingle Jaccard — the
    production shape where all-pairs re-dedup per increment would
    be quadratic in history.
    operators/dedup.cross_corpus_near_dup: both sides band through
    the shared _minhash_band_table pipeline (byte-compatible with a
    persisted signature store), strictly cross-side equi-join on
    band_key (AQE broadcasts the small increment side)."""
    from afg_data_pipeline_spark.operators.dedup import (
        cross_corpus_near_dup,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    is_new = F.col("source").isin("src0", "src1")
    return cross_corpus_near_dup(
        docs.filter(~is_new), docs.filter(is_new)
    )


def _contrastive_oracle() -> str:
    """Compose the oracle from the registered minhash oracle (the
    positives are exactly its >= 0.5 pairs) plus the portable
    md5-bucket negative probing — same SQL text the Spark operator
    derives its bucket expression from."""
    from afg_data_pipeline_spark.plans.registry import REGISTRY

    minhash_sql = REGISTRY["minhash_near_dup"].oracle
    bucket = (
        "(((instr('0123456789abcdef', substr(md5(cast({col} as "
        "VARCHAR)), 1, 1)) - 1) * 16 + instr('0123456789abcdef', "
        "substr(md5(cast({col} as VARCHAR)), 2, 1)) - 1) % 64 + 64)"
        " % 64"
    )
    return f"""
        WITH pos_base AS (
            SELECT doc_id_a AS id_a, doc_id_b AS id_b
            FROM ({minhash_sql}) mh
            WHERE jaccard >= 0.5
        ),
        pos AS (
            SELECT id_a AS anchor_id, id_b AS partner_id
            FROM pos_base
            UNION ALL
            SELECT id_b, id_a FROM pos_base
        ),
        anchors AS (SELECT DISTINCT anchor_id FROM pos),
        reps AS (
            SELECT bucket, min(cand) AS neg_id FROM (
                SELECT doc_id AS cand,
                       {bucket.format(col='doc_id')} AS bucket
                FROM documents)
            GROUP BY bucket
        ),
        probes AS (
            SELECT anchor_id,
                   ((anchor_id + g.i * 40503) % 64 + 64) % 64
                       AS bucket
            FROM anchors, generate_series(1, 3) g(i)
        ),
        negs AS (
            SELECT DISTINCT p.anchor_id, r.neg_id AS partner_id
            FROM probes p JOIN reps r USING (bucket)
            WHERE r.neg_id <> p.anchor_id
              AND NOT EXISTS (
                  SELECT 1 FROM pos
                  WHERE pos.anchor_id = p.anchor_id
                    AND pos.partner_id = r.neg_id)
        )
        SELECT anchor_id, partner_id, 'pos' AS label FROM pos
        UNION ALL
        SELECT anchor_id, partner_id, 'neg' AS label FROM negs
    """


@register(
    "contrastive_pairs",
    oracle=_contrastive_oracle(),
    ops=("DEDUP", "TEXT"),
)
def contrastive_pairs_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Contrastive training-pair mining: near-dup positives
    (minhash banded pairs with jaccard >= 0.5, both directions) and
    up to 3 deterministic negatives per anchor via md5-bucket
    probing — (anchor_id, partner_id, label) triplet stream for
    embedding-model fine-tuning, zero RNG anywhere.
    operators/contrastive.contrastive_pairs: bucket reps are a tiny
    map-side-combined aggregate broadcast to the anchors; collision
    and already-positive probes are anti-joined away, never
    silently resampled. The minhash frame is passed unrenamed: from
    the driver minhash kernel it carries its pair columns and the
    corpus ids it read, and the negatives are mined on the driver
    too with no further job (a rename would drop them)."""
    from afg_data_pipeline_spark.operators.contrastive import (
        contrastive_pairs,
    )
    from afg_data_pipeline_spark.operators.dedup import (
        minhash_lsh_candidates,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    positives = minhash_lsh_candidates(docs, threshold=0.5)
    return contrastive_pairs(
        docs, positives, n_negatives=3, n_buckets=64
    )


def _keep_best_oracle() -> str:
    """Compose: the registered connected-components oracle (cluster
    membership) + the quality-score SQL twin + per-cluster argmax
    (quality DESC, doc_id ASC)."""
    from afg_data_pipeline_spark.plans.registry import REGISTRY

    comps_sql = REGISTRY["near_dup_components"].oracle
    return f"""
        WITH comps AS (
            SELECT doc_id, component FROM ({comps_sql}) c
        ),
        scored AS (
            SELECT doc_id,
                   0.4 * (CAST(len(list_filter(
                              regexp_split_to_array(trim(text),
                                                    '\\s+'),
                              t -> list_contains(
                                  ['the','a','of','and','is'], t)))
                              AS DOUBLE)
                          / CAST(len(regexp_split_to_array(
                                trim(text), '\\s+')) AS DOUBLE))
                   + 0.3 * least(1.0,
                         CAST(len(regexp_split_to_array(trim(text),
                             '\\s+')) AS DOUBLE) / 100.0)
                   + 0.3 * (1.0 -
                         CAST(len(regexp_extract_all(text,
                              '[.,!?;:]')) AS DOUBLE)
                         / CAST(length(text) AS DOUBLE)) AS quality
            FROM documents
        ),
        members AS (
            SELECT c.component, c.doc_id, s.quality
            FROM comps c JOIN scored s USING (doc_id)
        ),
        ranked AS (
            SELECT component, doc_id, quality,
                   ROW_NUMBER() OVER (
                       PARTITION BY component
                       ORDER BY quality DESC, doc_id ASC
                   ) AS rn,
                   COUNT(*) OVER (PARTITION BY component)
                       AS n_members
            FROM members
        )
        SELECT component,
               doc_id AS keep_id,
               quality AS best_quality,
               CAST(n_members AS BIGINT) AS n_members
        FROM ranked WHERE rn = 1
    """


@register(
    "dedup_keep_best",
    oracle=_keep_best_oracle(),
    ops=("DEDUP", "A5"),
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection: resolve near-dup clusters
    (minhash pairs >= 0.5 → connected components) and keep the
    HIGHEST-QUALITY member of each cluster (tie → smallest id) —
    the production upgrade over keep-min-id, which throws away the
    best copy whenever the earliest crawl was the worst one.
    Output: (component, keep_id, best_quality, n_members).

    Scale shape: the cluster membership table joins the per-doc
    quality projection on doc id; the argmax is a per-component
    window over cluster members only (duplicate clusters are tiny
    by construction — the corpus-wide frame never sorts)."""
    from pyspark.sql import Window

    from afg_data_pipeline_spark.operators.dedup import (
        minhash_lsh_candidates,
    )
    from afg_data_pipeline_spark.operators.graph import (
        connected_components,
    )
    from afg_data_pipeline_spark.operators.text import quality_score

    docs = read_star_table(spark, "documents", sf_dir)
    pairs = minhash_lsh_candidates(
        docs, threshold=0.5
    )
    comps = connected_components(
        pairs, src="doc_id_a", dst="doc_id_b"
    )
    scored = docs.select(
        F.col("doc_id"), quality_score("text").alias("quality")
    )
    members = comps.join(
        scored, comps.vertex == scored.doc_id
    ).select("component", "doc_id", "quality")
    w = Window.partitionBy("component").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return (
        members.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_members",
            F.count(F.lit(1)).over(Window.partitionBy("component")),
        )
        .filter(F.col("rn") == 1)
        .select(
            "component",
            F.col("doc_id").alias("keep_id"),
            F.col("quality").alias("best_quality"),
            F.col("n_members").cast("bigint").alias("n_members"),
        )
    )


@register(
    "content_defined_chunks",
    oracle="""
        WITH tokd AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents
            WHERE len(regexp_split_to_array(trim(text),
                                            '\\s+')) >= 1
        ),
        pos AS (
            SELECT doc_id, t, len(t) AS n,
                   unnest(generate_series(1, len(t))) AS pos
            FROM tokd
        ),
        g AS (
            SELECT doc_id, pos, t[pos] AS tok,
                   CASE WHEN pos + 2 <= n THEN
                       md5(array_to_string(
                           list_slice(t, pos, pos + 2), ' '))
                   END AS gh
            FROM pos
        ),
        flagged AS (
            SELECT doc_id, pos, tok,
                   CASE WHEN gh IS NOT NULL AND pos > 1 AND
                        ((instr('0123456789abcdef',
                                substr(gh, 1, 1)) - 1) * 16
                         + instr('0123456789abcdef',
                                 substr(gh, 2, 1)) - 1) % 8 = 0
                        THEN 1 ELSE 0 END AS boundary
            FROM g
        ),
        chunked AS (
            SELECT doc_id, pos, tok,
                   SUM(boundary) OVER (PARTITION BY doc_id
                       ORDER BY pos ROWS UNBOUNDED PRECEDING)
                       AS chunk_idx
            FROM flagged
        )
        SELECT doc_id,
               CAST(chunk_idx AS BIGINT) AS chunk_idx,
               md5(string_agg(tok, ' ' ORDER BY pos))
                   AS chunk_digest,
               CAST(count(*) AS BIGINT) AS n_chunk_tokens
        FROM chunked GROUP BY doc_id, chunk_idx
    """,
    ops=("DEDUP", "TEXT"),
)
def content_defined_chunks_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Content-defined chunking (LBFS/FastCDC at token
    granularity): boundaries where the local 3-token window's
    md5 ≡ 0 mod 8 — chunk identity is a pure function of local
    content, so identical regions chunk identically at ANY offset
    (the dedup property fixed-size chunking lacks; ~8-token
    average chunks). Output: one row per chunk with its md5
    digest — digest-equal chunks across the corpus are the
    block-level dedup signal between whole-doc hashing and span
    counting. operators/text.content_defined_chunks."""
    from afg_data_pipeline_spark.operators.text import (
        content_defined_chunks,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    return content_defined_chunks(docs, k=3, divisor=8).select(
        F.col("id").alias("doc_id"),
        "chunk_idx",
        "chunk_digest",
        "n_chunk_tokens",
    )


@register(
    "chunk_dedup_profile",
    oracle="""
        WITH tokd AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents
            WHERE len(regexp_split_to_array(trim(text),
                                            '\\s+')) >= 1
        ),
        pos AS (
            SELECT doc_id, t, len(t) AS n,
                   unnest(generate_series(1, len(t))) AS pos
            FROM tokd
        ),
        g AS (
            SELECT doc_id, pos, t[pos] AS tok,
                   CASE WHEN pos + 2 <= n THEN
                       md5(array_to_string(
                           list_slice(t, pos, pos + 2), ' '))
                   END AS gh
            FROM pos
        ),
        flagged AS (
            SELECT doc_id, pos, tok,
                   CASE WHEN gh IS NOT NULL AND pos > 1 AND
                        ((instr('0123456789abcdef',
                                substr(gh, 1, 1)) - 1) * 16
                         + instr('0123456789abcdef',
                                 substr(gh, 2, 1)) - 1) % 8 = 0
                        THEN 1 ELSE 0 END AS boundary
            FROM g
        ),
        chunked AS (
            SELECT doc_id, pos, tok,
                   SUM(boundary) OVER (PARTITION BY doc_id
                       ORDER BY pos ROWS UNBOUNDED PRECEDING)
                       AS chunk_idx
            FROM flagged
        ),
        chunks AS (
            SELECT doc_id, chunk_idx,
                   md5(string_agg(tok, ' ' ORDER BY pos))
                       AS chunk_digest,
                   count(*) AS n_chunk_tokens
            FROM chunked GROUP BY doc_id, chunk_idx
        ),
        counted AS (
            SELECT doc_id, n_chunk_tokens,
                   count(*) OVER (PARTITION BY chunk_digest)
                       AS c
            FROM chunks
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dup_chunks,
               CAST(SUM(CASE WHEN c >= 2 THEN n_chunk_tokens
                             ELSE 0 END) AS BIGINT)
                   AS n_dup_tokens
        FROM counted GROUP BY doc_id
    """,
    ops=("DEDUP", "TEXT"),
)
def chunk_dedup_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Block-level duplication profile over content-defined
    chunks: per document, how many of its CDC chunks (and how
    many tokens inside them) occur verbatim anywhere else in the
    corpus — the offset-robust block tier of the dedup ladder
    (whole-doc hash → CDC chunks → 5-gram spans). Corpus counts
    via a COUNT window over the chunk digest (the duplicate_spans
    pattern: single evaluation, one shuffle), skew-gated via
    operators/corpuscount (a ubiquitous boilerplate chunk routes
    through a broadcast-joined groupBy, bit-identically)."""
    from afg_data_pipeline_spark.operators.corpuscount import (
        corpus_key_count,
    )
    from afg_data_pipeline_spark.operators.text import (
        content_defined_chunks,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    return (
        corpus_key_count(
            docs,
            lambda d: content_defined_chunks(d, k=3, divisor=8),
            "chunk_digest",
            out_col="c",
        )
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(
                F.when(F.col("c") >= 2, 1).otherwise(0)
            ).alias("n_dup_chunks"),
            F.sum(
                F.when(
                    F.col("c") >= 2, F.col("n_chunk_tokens")
                ).otherwise(0)
            ).alias("n_dup_tokens"),
        )
        .select(
            F.col("id").alias("doc_id"),
            F.col("n_chunks").cast("bigint").alias("n_chunks"),
            F.col("n_dup_chunks")
            .cast("bigint")
            .alias("n_dup_chunks"),
            F.col("n_dup_tokens")
            .cast("bigint")
            .alias("n_dup_tokens"),
        )
    )


def _bpe_oracle(n_merges: int = 3, through_final: bool = False) -> str:
    """Unrolled-CTE replica of bpe_train_merges (the PageRank
    pattern): per round, pair counts via positional lead, the
    argmax pair, and the left-to-right greedy merge as
    islands + row-number parity. With ``through_final`` the merge
    application is emitted for EVERY round so s{n+1} (the fully
    merged symbol table) exists for the encode oracle."""

    def explode_syms(src: str) -> str:
        return f"""
            SELECT word, freq, pos, arr[pos] AS sym,
                   CASE WHEN pos < len(arr)
                        THEN arr[pos + 1] END AS nxt
            FROM (SELECT word, freq, arr,
                         unnest(generate_series(1, len(arr)))
                             AS pos
                  FROM {src})"""

    parts = [
        """
        s1 AS MATERIALIZED (
            SELECT word, freq,
                   regexp_split_to_array(word, '') AS arr
            FROM (
                SELECT word, count(*) AS freq FROM (
                    SELECT unnest(regexp_split_to_array(
                        trim(text), '\\s+')) AS word
                    FROM documents)
                WHERE length(word) > 0
                GROUP BY word)
        )"""
    ]
    for r in range(1, n_merges + 1):
        parts.append(
            f"""
        p{r} AS MATERIALIZED (
            SELECT sym AS l, nxt AS r,
                   CAST(SUM(freq) AS BIGINT) AS n
            FROM ({explode_syms(f's{r}')})
            WHERE nxt IS NOT NULL
            GROUP BY sym, nxt
        ),
        b{r} AS MATERIALIZED (
            SELECT l, r, n FROM p{r}
            ORDER BY n DESC, l ASC, r ASC LIMIT 1
        )"""
        )
        if r < n_merges or through_final:
            parts.append(
                f"""
        m{r} AS MATERIALIZED (
            SELECT e.*, CASE WHEN e.sym = b.l AND e.nxt = b.r
                             THEN 1 ELSE 0 END AS m
            FROM ({explode_syms(f's{r}')}) e CROSS JOIN b{r} b
        ),
        i{r} AS MATERIALIZED (
            SELECT *, SUM(new_island) OVER (
                       PARTITION BY word ORDER BY pos
                       ROWS UNBOUNDED PRECEDING) AS island_id
            FROM (
                SELECT *, CASE WHEN m = 1 AND COALESCE(
                               lag(m) OVER (PARTITION BY word
                                            ORDER BY pos), 0) = 0
                               THEN 1 ELSE 0 END AS new_island
                FROM m{r})
        ),
        d{r} AS MATERIALIZED (
            SELECT *, CASE WHEN m = 1 AND
                        (row_number() OVER (
                             PARTITION BY word, island_id
                             ORDER BY pos) - 1) % 2 = 0
                        THEN 1 ELSE 0 END AS do_merge
            FROM i{r}
        ),
        s{r + 1} AS MATERIALIZED (
            SELECT word, max(freq) AS freq,
                   list(CASE WHEN do_merge = 1 THEN sym || nxt
                             ELSE sym END ORDER BY pos) AS arr
            FROM (
                SELECT *, COALESCE(lag(do_merge) OVER (
                              PARTITION BY word ORDER BY pos),
                          0) AS consumed
                FROM d{r})
            WHERE consumed = 0
            GROUP BY word
        )"""
            )
    if through_final:
        return "WITH" + ",".join(parts)
    selects = [
        f"SELECT {r} AS rank, l AS merge_left, r AS merge_right,"
        f" n AS pair_count FROM b{r}"
        for r in range(1, n_merges + 1)
    ]
    return (
        "WITH" + ",".join(parts) + " " + " UNION ALL ".join(selects)
    )


@register(
    "bpe_train_merges",
    oracle=_bpe_oracle(3),
    ops=("TEXT",),
)
def bpe_train_merges_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distributed BPE merge training (Sennrich et al.): the first
    3 learned merges over the corpus word-frequency table —
    (rank, merge_left, merge_right, pair_count), ties broken
    (count DESC, left ASC, right ASC). The left-to-right greedy
    non-overlapping merge is expressed relationally
    (gaps-and-islands + row-number parity — no sequential UDF);
    the only corpus-sized aggregate is the word-frequency table,
    every round after that works on the vocabulary.
    operators/bpe.bpe_train_merges; oracle unrolls the rounds as
    MATERIALIZED CTEs (PageRank pattern)."""
    from afg_data_pipeline_spark.operators.bpe import (
        bpe_train_merges,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    return bpe_train_merges(docs, n_merges=3)


@register(
    "bpe_encode_stats",
    oracle=_bpe_oracle(3, through_final=True)
    + """,
        lens AS (
            SELECT word, CAST(len(arr) AS BIGINT) AS n_sub
            FROM s4
        ),
        dw AS (
            SELECT doc_id, word FROM (
                SELECT doc_id,
                       unnest(regexp_split_to_array(
                           trim(text), '\\s+')) AS word
                FROM documents)
            WHERE length(word) > 0
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(SUM(length(word)) AS BIGINT)
                   AS n_char_tokens,
               CAST(SUM(n_sub) AS BIGINT) AS n_bpe_tokens
        FROM dw JOIN lens USING (word)
        GROUP BY doc_id
    """,
    ops=("TEXT",),
)
def bpe_encode_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The ENCODE half of the tokenizer story: train 3 BPE merges,
    tokenize every document with them, and report per-doc
    (n_words, n_char_tokens, n_bpe_tokens) — the measured
    compression the learned merges buy on the corpus that trained
    them. Encoding is a broadcast join of the corpus word stream
    against the vocabulary-sized word → subword-count table; no
    per-document merge application runs.
    operators/bpe.bpe_encode_token_counts."""
    from afg_data_pipeline_spark.operators.bpe import (
        bpe_encode_token_counts,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    return bpe_encode_token_counts(docs, n_merges=3).select(
        F.col("id").alias("doc_id"),
        "n_words",
        "n_char_tokens",
        "n_bpe_tokens",
    )


@register(
    "bpe_train_merges_fast",
    oracle=_bpe_oracle(3),
    ops=("TEXT",),
)
def bpe_train_merges_fast_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver-side BPE merge training — the production-merge-count
    path (operators/bpe.bpe_train_merges_fast): ONE corpus-sized
    word-frequency aggregate, the vocabulary collected under an
    asserted bound, then the merge loop (heap + incremental pair
    counts) in driver Python with the exact relational semantics —
    overlapping pair counts, (count DESC, left ASC, right ASC)
    argmax, left-to-right greedy application. Registered at
    n_merges=3 against the SAME unrolled-CTE oracle as
    bpe_train_merges, so the driver trainer is hash-checked
    bit-for-bit against both DuckDB and (transitively) the
    relational twin; tests extend the equivalence to 8 merges and
    train 1000 merges at sf1 vocabulary scale in seconds
    (tests/test_bpe.py)."""
    from afg_data_pipeline_spark.operators.bpe import (
        bpe_train_merges_fast,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    return bpe_train_merges_fast(docs, n_merges=3)


@register(
    "bpe_encode_stats_fast",
    oracle=_bpe_oracle(3, through_final=True)
    + """,
        lens AS (
            SELECT word, CAST(len(arr) AS BIGINT) AS n_sub
            FROM s4
        ),
        dw AS (
            SELECT doc_id, word FROM (
                SELECT doc_id,
                       unnest(regexp_split_to_array(
                           trim(text), '\\s+')) AS word
                FROM documents)
            WHERE length(word) > 0
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(SUM(length(word)) AS BIGINT)
                   AS n_char_tokens,
               CAST(SUM(n_sub) AS BIGINT) AS n_bpe_tokens
        FROM dw JOIN lens USING (word)
        GROUP BY doc_id
    """,
    ops=("TEXT",),
)
def bpe_encode_stats_fast_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """bpe_encode_stats through the DRIVER-trained vocabulary
    (operators/bpe.bpe_encode_token_counts_fast): the trainer's
    final symbol arrays become the broadcast word → subword-count
    table, so the whole driver-training path — vocabulary collect,
    heap merge loop, final arrays — is hash-checked end-to-end
    against the same unrolled-CTE oracle the relational encode
    uses. Still exactly ONE broadcast join at any merge count
    (plan-shape-asserted in tests/test_bpe.py)."""
    from afg_data_pipeline_spark.operators.bpe import (
        bpe_encode_token_counts_fast,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    return bpe_encode_token_counts_fast(docs, n_merges=3).select(
        F.col("id").alias("doc_id"),
        "n_words",
        "n_char_tokens",
        "n_bpe_tokens",
    )


_BPE_VOCAB_SQL = """,
        alphabet AS (
            SELECT ch,
                   CAST(row_number() OVER (ORDER BY ch) - 1
                        AS BIGINT) AS token_id
            FROM (SELECT DISTINCT unnest(
                      regexp_split_to_array(word, '')) AS ch
                  FROM s1)
        ),
        merge_tokens AS (
            SELECT l || r AS tok,
                   (SELECT count(*) FROM alphabet)
                     + rank - 1 AS token_id
            FROM (SELECT 1 AS rank, l, r FROM b1
                  UNION ALL SELECT 2, l, r FROM b2
                  UNION ALL SELECT 3, l, r FROM b3)
        ),
        vocab AS (
            SELECT tok AS token,
                   CAST(MIN(token_id) AS INT) AS token_id
            FROM (SELECT ch AS tok, token_id FROM alphabet
                  UNION ALL
                  SELECT tok, token_id FROM merge_tokens)
            GROUP BY tok
        )
"""


@register(
    "bpe_vocab",
    oracle=_bpe_oracle(3, through_final=True)
    + _BPE_VOCAB_SQL
    + "SELECT token, token_id FROM vocab",
    ops=("TEXT",),
)
def bpe_vocab_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned BPE tokenizer vocabulary as a table:
    (token, token_id) — sorted base alphabet at ids 0..A-1, merge
    tokens in rank order after (first id wins when two merges
    manufacture the same string — mainstream tokenizer vocab-dedup
    semantics). Driver-trained (operators/bpe.bpe_vocab_table);
    the oracle rebuilds the same layout from the unrolled merge
    chain."""
    from afg_data_pipeline_spark.operators.bpe import (
        bpe_vocab_table,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    return bpe_vocab_table(docs, n_merges=3)


@register(
    "bpe_tokenize",
    oracle=_bpe_oracle(3, through_final=True)
    + _BPE_VOCAB_SQL
    + """,
        word_ids AS (
            SELECT word,
                   list(token_id ORDER BY pos) AS ids
            FROM (
                SELECT word, pos, arr[pos] AS sub
                FROM (SELECT word, arr,
                             unnest(generate_series(1, len(arr)))
                                 AS pos
                      FROM s4)) s
            JOIN vocab v ON s.sub = v.token
            GROUP BY word
        ),
        dw AS (
            SELECT doc_id, wpos, t[wpos] AS word
            FROM (SELECT doc_id,
                         regexp_split_to_array(trim(text),
                                               '\\s+') AS t
                  FROM documents),
                 LATERAL unnest(generate_series(1, len(t)))
                     AS u(wpos)
            WHERE length(t[wpos]) > 0
        )
        SELECT doc_id,
               COALESCE(array_to_string(
                   flatten(list(ids ORDER BY wpos)), ' '), '')
                   AS token_ids
        FROM dw JOIN word_ids USING (word)
        GROUP BY doc_id
    """,
    ops=("TEXT",),
)
def bpe_tokenize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents tokenized into BPE TOKEN-ID STREAMS —
    (doc_id, token_ids) — the artifact a training pipeline feeds to
    packing/batching. Encode = broadcast join of the word stream
    against the trainer's word → id-array table + one ordered
    per-doc rebuild; no per-document merge application
    (operators/bpe.bpe_tokenize)."""
    from afg_data_pipeline_spark.operators.bpe import (
        bpe_tokenize,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    return bpe_tokenize(docs, n_merges=3).select(
        F.col("id").alias("doc_id"),
        # space-joined STRING, not array<int>: the driver's pandas
        # canonicalizer cannot sort numpy-array cells (r6 ERR) --
        # pipelines wanting real id arrays call operators/bpe
        # directly; cast-then-concat_ws stays codegen'd (no HOF)
        F.concat_ws(
            " ", F.col("token_ids").cast("array<string>")
        ).alias("token_ids"),
    )


@register(
    "pack_token_sequences",
    oracle=_bpe_oracle(3, through_final=True)
    + _BPE_VOCAB_SQL
    + """,
        word_ids AS (
            SELECT word,
                   list(token_id ORDER BY pos) AS ids
            FROM (
                SELECT word, pos, arr[pos] AS sub
                FROM (SELECT word, arr,
                             unnest(generate_series(1, len(arr)))
                                 AS pos
                      FROM s4)) s
            JOIN vocab v ON s.sub = v.token
            GROUP BY word
        ),
        dw AS (
            SELECT doc_id, wpos, t[wpos] AS word
            FROM (SELECT doc_id,
                         regexp_split_to_array(trim(text),
                                               '\\s+') AS t
                  FROM documents),
                 LATERAL unnest(generate_series(1, len(t)))
                     AS u(wpos)
            WHERE length(t[wpos]) > 0
        ),
        doc_tokens AS (
            SELECT doc_id,
                   flatten(list(ids ORDER BY wpos)) AS tids
            FROM dw JOIN word_ids USING (word)
            GROUP BY doc_id
        ),
        cumulated AS (
            SELECT d.lang, t.tids,
                   SUM(len(t.tids)) OVER (
                       PARTITION BY d.lang ORDER BY t.doc_id
                       ROWS UNBOUNDED PRECEDING)
                     - len(t.tids) AS start
            FROM doc_tokens t JOIN documents d USING (doc_id)
        ),
        ex AS (
            SELECT lang,
                   (start + pos - 1) // 256 AS chunk_id,
                   (start + pos - 1) % 256 AS off,
                   tids[pos] AS tid
            FROM cumulated,
                 LATERAL unnest(generate_series(1, len(tids)))
                     AS u(pos)
        )
        SELECT lang, CAST(chunk_id AS BIGINT) AS chunk_id,
               CAST(count(*) AS BIGINT) AS n_filled,
               COALESCE(array_to_string(
                   list(tid ORDER BY off), ' '), '') AS token_ids
        FROM ex GROUP BY lang, chunk_id
    """,
    ops=("TEXT", "A6"),
)
def pack_token_sequences_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The tokenizer pipeline's END ARTIFACT: per-language packed
    256-token training sequences of real BPE token ids —
    bpe_tokenize → head-to-tail concat (adaptive sharded running
    sum, pack_token_stream's placement arithmetic) → materialized
    fixed-length id arrays. Every chunk but a language's last
    holds exactly 256 ids (operators/bpe.pack_token_sequences)."""
    from afg_data_pipeline_spark.operators.bpe import (
        pack_token_sequences,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    return pack_token_sequences(
        docs, n_merges=3, seq_len=256
    ).withColumn(
        # driver-canonicalizable STRING projection of the id array
        # (r6 ERR class; see bpe_tokenize)
        "token_ids",
        F.concat_ws(" ", F.col("token_ids").cast("array<string>")),
    )


@register(
    "tokenizer_fertility",
    oracle=_bpe_oracle(3, through_final=True)
    + _BPE_VOCAB_SQL
    + """,
        word_ids AS (
            SELECT word,
                   list(token_id ORDER BY pos) AS ids
            FROM (
                SELECT word, pos, arr[pos] AS sub
                FROM (SELECT word, arr,
                             unnest(generate_series(1, len(arr)))
                                 AS pos
                      FROM s4)) s
            JOIN vocab v ON s.sub = v.token
            GROUP BY word
        ),
        dw AS (
            SELECT doc_id, wpos, t[wpos] AS word
            FROM (SELECT doc_id,
                         regexp_split_to_array(trim(text),
                                               '\\s+') AS t
                  FROM documents),
                 LATERAL unnest(generate_series(1, len(t)))
                     AS u(wpos)
            WHERE length(t[wpos]) > 0
        ),
        per_doc AS (
            SELECT doc_id,
                   CAST(SUM(len(ids)) AS BIGINT) AS n_tok,
                   CAST(COUNT(*) AS BIGINT) AS n_words
            FROM dw JOIN word_ids USING (word)
            GROUP BY doc_id
        )
        SELECT d.lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(COALESCE(p.n_words, 0)) AS BIGINT)
                   AS n_words,
               CAST(SUM(COALESCE(p.n_tok, 0)) AS BIGINT)
                   AS n_tokens,
               CAST(SUM(d.n_chars) AS BIGINT) AS n_chars,
               CAST(SUM(COALESCE(p.n_tok, 0)) AS DOUBLE)
                   / CAST(SUM(COALESCE(p.n_words, 0)) AS DOUBLE)
                   AS fertility,
               CAST(SUM(d.n_chars) AS DOUBLE)
                   / CAST(SUM(COALESCE(p.n_tok, 0)) AS DOUBLE)
                   AS chars_per_token
        FROM documents d LEFT JOIN per_doc p USING (doc_id)
        GROUP BY d.lang
    """,
    ops=("TEXT", "A1"),
)
def tokenizer_fertility(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-language tokenizer FERTILITY report — tokens/word and
    chars/token under the trained BPE — the standard metric for
    judging whether a tokenizer under-serves a language (high
    fertility = more tokens per word = shorter effective context
    and higher serving cost for that language; the multilingual-
    tokenizer-fairness literature's headline table).

    Rides the certified BPE machinery: bpe_tokenize's broadcast
    word->ids encode, one per-doc size aggregate, one per-lang
    rollup. All counts are exact BIGINT sums (total tokens are
    bounded by total corpus characters — provably < 2^63 for any
    corpus under ~9 exabytes); the two ratios are single double
    divisions of exact integers (portable, rule 1). Docs with no
    words contribute zero counts via the left join."""
    from afg_data_pipeline_spark.operators import text as TX
    from afg_data_pipeline_spark.operators.bpe import (
        bpe_tokenize,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    base = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        # split('') yields [''] (size 1) while the oracle's dw
        # filters zero-length words — guard the empty/whitespace-
        # only doc explicitly (codegen'd CASE, no HOF filter);
        # trimmed non-empty text splits into only non-empty tokens
        F.when(F.trim(F.col("text")) == "", F.lit(0))
        .otherwise(F.size(TX.tokens("text")))
        .cast("bigint")
        .alias("n_words"),
    )
    toks = bpe_tokenize(docs, n_merges=3).select(
        F.col("id").alias("doc_id"),
        F.size("token_ids").cast("bigint").alias("n_tok"),
    )
    j = base.join(toks, "doc_id", "left")
    n_words = F.sum(F.coalesce(F.col("n_words"), F.lit(0)))
    n_tok = F.sum(F.coalesce(F.col("n_tok"), F.lit(0)))
    n_chars = F.sum("n_chars")
    return j.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        n_words.cast("bigint").alias("n_words"),
        n_tok.cast("bigint").alias("n_tokens"),
        n_chars.cast("bigint").alias("n_chars"),
        (n_tok.cast("double") / n_words.cast("double")).alias(
            "fertility"
        ),
        (n_chars.cast("double") / n_tok.cast("double")).alias(
            "chars_per_token"
        ),
    )


@register(
    "token_budget_allocation",
    oracle="""
        WITH ws AS (
            SELECT source,
                   CAST(sum(len(regexp_split_to_array(
                       trim(text), '\\s+'))) AS BIGINT)
                       AS n_tokens
            FROM documents GROUP BY source
        ),
        tot AS (
            SELECT CAST(sum(n_tokens) AS BIGINT) AS w FROM ws
        ),
        quota AS (
            SELECT source, n_tokens,
                   CAST((CAST(n_tokens AS HUGEINT) * 1000000)
                        // t.w AS BIGINT) AS base,
                   CAST((CAST(n_tokens AS HUGEINT) * 1000000)
                        % t.w AS BIGINT) AS rem
            FROM ws, tot t
        ),
        l AS (
            SELECT CAST(1000000 - sum(base) AS BIGINT)
                       AS leftover
            FROM quota
        ),
        ranked AS (
            SELECT source, n_tokens, base, rem,
                   row_number() OVER (
                       ORDER BY rem DESC, source ASC) AS rk
            FROM quota
        )
        SELECT r.source, r.n_tokens, r.base,
               CAST(CASE WHEN r.rk <= l.leftover
                         THEN 1 ELSE 0 END AS BIGINT) AS extra,
               r.base + CASE WHEN r.rk <= l.leftover
                             THEN 1 ELSE 0 END AS alloc_tokens
        FROM ranked r, l
    """,
    ops=("A1", "O1"),
)
def token_budget_allocation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TOKEN-BUDGET apportionment: split a 1,000,000-token
    training budget across ingest sources proportionally to their
    token mass using LARGEST-REMAINDER (Hamilton) apportionment —
    the exact-integer answer to "how many tokens does each domain
    contribute to this mix", with the property fractional quotas
    cannot give: allocations are integers, sum EXACTLY to the
    budget, and each is within 1 of its exact proportional share.
    The deterministic core of a domain-mixture sampler (the
    temperature-resampling twin is domain_mixture_resample).

    Exactness: base_i = floor(B·w_i / W) and the remainder rank
    are pure integer arithmetic (DECIMAL(38,0) product — B·w_i
    has no provable 2^63 bound at corpus scale, rule 11); the
    leftover +1s go to the largest remainders with a source-name
    tie-break. Scale: one map-side-combinable token count per
    source, then |sources|-sized arithmetic."""
    from pyspark.sql import Window

    from afg_data_pipeline_spark.operators import text as TX

    docs = read_star_table(spark, "documents", sf_dir)
    B = 1_000_000
    ws = docs.groupBy("source").agg(
        F.sum(F.size(TX.tokens("text")).cast("bigint"))
        .cast("bigint")
        .alias("n_tokens")
    )
    tot = ws.agg(
        F.sum("n_tokens").cast("bigint").alias("w")
    )
    quota = ws.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        F.expr(
            f"cast((cast(n_tokens as decimal(38,0)) * {B})"
            " div w as bigint)"
        ).alias("base"),
        F.expr(
            f"cast((cast(n_tokens as decimal(38,0)) * {B})"
            " % w as bigint)"
        ).alias("rem"),
    )
    l = quota.agg(
        (F.lit(B) - F.sum("base")).cast("bigint").alias(
            "leftover"
        )
    )
    wnd = Window.orderBy(
        F.col("rem").desc(), F.col("source").asc()
    )
    ranked = quota.withColumn(
        "rk", F.row_number().over(wnd)
    ).crossJoin(F.broadcast(l))
    extra = F.when(
        F.col("rk") <= F.col("leftover"), F.lit(1)
    ).otherwise(F.lit(0))
    return ranked.select(
        "source",
        "n_tokens",
        "base",
        extra.cast("bigint").alias("extra"),
        (F.col("base") + extra).cast("bigint").alias(
            "alloc_tokens"
        ),
    )


@register(
    "k_anonymity_report",
    oracle="""
        WITH q AS (
            SELECT lang, source,
                   CAST(n_chars // 100 AS BIGINT)
                       AS size_bucket,
                   CAST(count(*) AS BIGINT) AS grp_n
            FROM documents
            GROUP BY 1, 2, 3
        ),
        tot AS (
            SELECT CAST(sum(grp_n) AS BIGINT) AS n_rows,
                   CAST(count(*) AS BIGINT) AS n_groups
            FROM q
        )
        SELECT k.k,
               CAST(sum(CASE WHEN q.grp_n < k.k
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS groups_below_k,
               CAST(sum(CASE WHEN q.grp_n < k.k
                             THEN q.grp_n ELSE 0 END)
                    AS BIGINT) AS rows_at_risk,
               CAST(sum(CASE WHEN q.grp_n < k.k
                             THEN q.grp_n ELSE 0 END)
                    AS DOUBLE)
                   / CAST(t.n_rows AS DOUBLE)
                   AS share_at_risk,
               t.n_groups, t.n_rows
        FROM q, tot t,
             (SELECT unnest([2, 5, 10, 25]) AS k) k
        GROUP BY k.k, t.n_groups, t.n_rows
    """,
    ops=("A1",),
)
def k_anonymity_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """K-ANONYMITY audit over the quasi-identifier tuple
    (lang, source, size-bucket): for each policy threshold k in
    {2, 5, 10, 25}, how many equivalence classes are smaller than
    k and what share of the corpus sits in them — the governance
    gate a dataset release runs before publishing metadata-rich
    corpora (a document whose QI tuple is shared by fewer than k
    others is re-identifiable from metadata alone).

    Scale shape: one map-side-combinable groupBy collapses the
    corpus to the equivalence-class table; the four thresholds fan
    out over THAT table (a broadcast-size literal array), and the
    corpus total rides a 1-row broadcast cross join. Exact BIGINT
    counts; one double division per row."""
    docs = read_star_table(spark, "documents", sf_dir)
    q = docs.groupBy(
        "lang",
        "source",
        F.floor(F.col("n_chars") / 100)
        .cast("bigint")
        .alias("size_bucket"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("grp_n"))
    tot = q.agg(
        F.sum("grp_n").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
    )
    ks = F.explode(
        F.array(*[F.lit(k) for k in (2, 5, 10, 25)])
    ).alias("k")
    fanned = q.select("grp_n", ks).crossJoin(F.broadcast(tot))
    below = F.when(F.col("grp_n") < F.col("k"), F.col("grp_n"))
    return fanned.groupBy("k", "n_groups", "n_rows").agg(
        F.sum(
            F.when(F.col("grp_n") < F.col("k"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("groups_below_k"),
        F.sum(F.coalesce(below, F.lit(0)))
        .cast("bigint")
        .alias("rows_at_risk"),
        (
            F.sum(F.coalesce(below, F.lit(0))).cast("double")
            / F.max("n_rows").cast("double")
        ).alias("share_at_risk"),
    ).select(
        "k",
        "groups_below_k",
        "rows_at_risk",
        "share_at_risk",
        "n_groups",
        "n_rows",
    )


@register(
    "l_diversity_report",
    oracle="""
        WITH q AS (
            SELECT event_type,
                   dayofweek(ts) + 1 AS dow,
                   CAST(floor(value / 10.0) AS BIGINT) AS vb,
                   CAST(count(*) AS BIGINT) AS grp_n,
                   CAST(count(DISTINCT user_id) AS BIGINT)
                       AS n_sens
            FROM events
            GROUP BY 1, 2, 3
        ),
        tot AS (
            SELECT CAST(sum(grp_n) AS BIGINT) AS n_rows,
                   CAST(count(*) AS BIGINT) AS n_groups
            FROM q
        )
        SELECT l.l,
               CAST(sum(CASE WHEN q.n_sens < l.l
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS groups_below_l,
               CAST(sum(CASE WHEN q.n_sens < l.l
                             THEN q.grp_n ELSE 0 END)
                    AS BIGINT) AS rows_at_risk,
               CAST(sum(CASE WHEN q.n_sens < l.l
                             THEN q.grp_n ELSE 0 END)
                    AS DOUBLE)
                   / CAST(t.n_rows AS DOUBLE)
                   AS share_at_risk,
               t.n_groups, t.n_rows
        FROM q, tot t,
             (SELECT unnest([2, 3, 5, 10]) AS l) l
        GROUP BY l.l, t.n_groups, t.n_rows
    """,
    ops=("A1", "A7"),
)
def l_diversity_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """L-DIVERSITY audit — k_anonymity_report's sibling for the
    attribute-disclosure direction: a quasi-identifier group can
    be large (k-anonymous) yet still leak if everyone in it shares
    the SAME sensitive value. Over events with QI =
    (event_type, day-of-week, value decade) and user_id as the
    sensitive attribute, report for each policy l in {2,3,5,10}
    how many QI groups carry fewer than l distinct users and what
    share of rows sits in them.

    Engine parity: DuckDB dayofweek is 0-6 vs Spark 1-7 (rule 5c
    — oracle adds 1); the value bucket is floor(value/10.0), one
    IEEE division both sides. Scale: one map-side-combinable
    groupBy + one exact distinct per group (partial-aggregated
    (QI, user) pairs); thresholds fan out over the bounded
    group table, corpus totals ride a 1-row broadcast."""
    ev = read_star_table(spark, "events", sf_dir)
    q = ev.groupBy(
        "event_type",
        F.dayofweek("ts").alias("dow"),
        F.floor(F.col("value") / 10.0)
        .cast("bigint")
        .alias("vb"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("grp_n"),
        F.countDistinct("user_id").cast("bigint").alias("n_sens"),
    )
    tot = q.agg(
        F.sum("grp_n").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
    )
    ls = F.explode(
        F.array(*[F.lit(v) for v in (2, 3, 5, 10)])
    ).alias("l")
    fanned = q.select("grp_n", "n_sens", ls).crossJoin(
        F.broadcast(tot)
    )
    risk = F.when(F.col("n_sens") < F.col("l"), F.col("grp_n"))
    return (
        fanned.groupBy("l", "n_groups", "n_rows")
        .agg(
            F.sum(
                F.when(
                    F.col("n_sens") < F.col("l"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("groups_below_l"),
            F.sum(F.coalesce(risk, F.lit(0)))
            .cast("bigint")
            .alias("rows_at_risk"),
            (
                F.sum(F.coalesce(risk, F.lit(0))).cast("double")
                / F.max("n_rows").cast("double")
            ).alias("share_at_risk"),
        )
        .select(
            "l",
            "groups_below_l",
            "rows_at_risk",
            "share_at_risk",
            "n_groups",
            "n_rows",
        )
    )


@register(
    "packing_efficiency_report",
    oracle=_bpe_oracle(3, through_final=True)
    + _BPE_VOCAB_SQL
    + """,
        word_ids AS (
            SELECT word,
                   list(token_id ORDER BY pos) AS ids
            FROM (
                SELECT word, pos, arr[pos] AS sub
                FROM (SELECT word, arr,
                             unnest(generate_series(1, len(arr)))
                                 AS pos
                      FROM s4)) s
            JOIN vocab v ON s.sub = v.token
            GROUP BY word
        ),
        dw AS (
            SELECT doc_id, wpos, t[wpos] AS word
            FROM (SELECT doc_id,
                         regexp_split_to_array(trim(text),
                                               '\\s+') AS t
                  FROM documents),
                 LATERAL unnest(generate_series(1, len(t)))
                     AS u(wpos)
            WHERE length(t[wpos]) > 0
        ),
        doc_tokens AS (
            SELECT doc_id,
                   flatten(list(ids ORDER BY wpos)) AS tids
            FROM dw JOIN word_ids USING (word)
            GROUP BY doc_id
        ),
        cumulated AS (
            SELECT d.lang, t.tids,
                   SUM(len(t.tids)) OVER (
                       PARTITION BY d.lang ORDER BY t.doc_id
                       ROWS UNBOUNDED PRECEDING)
                     - len(t.tids) AS start
            FROM doc_tokens t JOIN documents d USING (doc_id)
        ),
        ex AS (
            SELECT lang,
                   (start + pos - 1) // 256 AS chunk_id,
                   (start + pos - 1) % 256 AS off,
                   tids[pos] AS tid
            FROM cumulated,
                 LATERAL unnest(generate_series(1, len(tids)))
                     AS u(pos)
        ),
        chunks AS (
            SELECT lang, chunk_id,
                   CAST(count(*) AS BIGINT) AS n_filled
            FROM ex GROUP BY lang, chunk_id
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(sum(n_filled) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN n_filled = 256
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS full_chunks,
               CAST(sum(256 - n_filled) AS BIGINT)
                   AS pad_tokens,
               CAST(sum(n_filled) AS DOUBLE)
                   / (CAST(count(*) AS DOUBLE) * 256.0)
                   AS utilization
        FROM chunks GROUP BY lang
    """,
    ops=("TEXT", "A1"),
)
def packing_efficiency_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PACKING EFFICIENCY of the training-sequence materializer:
    per language, how many 256-token chunks the packer emits, how
    many are exactly full, and how many pad tokens a
    pad-all-partials policy would burn — the utilization number a
    training-infra team watches (wasted pad tokens are wasted
    FLOPs). Head-to-tail concat packing guarantees at most ONE
    partial chunk per language, so utilization here is near 1 by
    construction — the report EXISTS to prove that invariant on
    real data and to compare against per-document padding.

    Rides the certified pack_token_sequences pipeline (adaptive
    sharded running sum, pre-expansion repartition); the report
    itself is one aggregate over the chunk table. Exact BIGINT
    counts; one double division."""
    from afg_data_pipeline_spark.operators.bpe import (
        pack_token_sequences,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    chunks = pack_token_sequences(
        docs, n_merges=3, seq_len=256
    ).select("lang", "n_filled")
    return chunks.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum("n_filled").cast("bigint").alias("n_tokens"),
        F.sum(
            F.when(F.col("n_filled") == 256, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("full_chunks"),
        F.sum(F.lit(256) - F.col("n_filled"))
        .cast("bigint")
        .alias("pad_tokens"),
        (
            F.sum("n_filled").cast("double")
            / (F.count(F.lit(1)).cast("double") * F.lit(256.0))
        ).alias("utilization"),
    )


@register(
    "per_group_sample_k",
    oracle="""
        SELECT doc_id, lang, n_chars
        FROM (
            SELECT doc_id, lang, n_chars,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY md5('ksample:'
                                    || CAST(doc_id AS VARCHAR))
                   ) AS rn
            FROM documents)
        WHERE rn <= 10
    """,
    ops=("SAMPLE",),
)
def per_group_sample_k(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACTLY 10 documents per language, selected by deterministic
    md5 order — the fixed-size sampler the fraction-threshold
    family can't provide (audits, eval slices, per-domain caps
    need exact counts). Uniform in the hash, reproducible on any
    engine/retry, hash-reservoir displacement property for growing
    corpora. operators/sampling.hash_topk_per_group."""
    from afg_data_pipeline_spark.operators.sampling import (
        hash_topk_per_group,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    return hash_topk_per_group(
        docs.select("doc_id", "lang", "n_chars"),
        "lang",
        "doc_id",
        10,
    )


def _dedup_apply_oracle() -> str:
    """Survivors = every doc except near-dup cluster members that
    are not their cluster's keeper — composing the keep-best
    oracle."""
    from afg_data_pipeline_spark.plans.registry import REGISTRY

    keep_best = REGISTRY["dedup_keep_best"].oracle
    comps = REGISTRY["near_dup_components"].oracle
    return f"""
        WITH keepers AS (
            SELECT keep_id FROM ({keep_best}) kb
        ),
        members AS (
            SELECT doc_id FROM ({comps}) c
        )
        SELECT d.doc_id, d.lang, d.source
        FROM documents d
        WHERE d.doc_id NOT IN (SELECT doc_id FROM members)
           OR d.doc_id IN (SELECT keep_id FROM keepers)
    """


@register(
    "corpus_after_dedup",
    oracle=_dedup_apply_oracle(),
    ops=("DEDUP",),
)
def corpus_after_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The APPLIED form of the near-dup pipeline: the surviving
    corpus after quality-aware dedup — docs outside any near-dup
    cluster, plus each cluster's highest-quality keeper. This is
    what downstream training actually consumes; detection queries
    (pairs, components, keepers) are its audit trail.

    Scale shape: two anti/semi joins of the corpus against the
    (tiny) cluster-membership and keeper tables — doc-id shuffles
    only, never text."""
    from pyspark.sql import Window

    from afg_data_pipeline_spark.operators.dedup import (
        minhash_lsh_candidates,
    )
    from afg_data_pipeline_spark.operators.graph import (
        connected_components,
    )
    from afg_data_pipeline_spark.operators.text import quality_score

    docs = read_star_table(spark, "documents", sf_dir)
    pairs = minhash_lsh_candidates(
        docs, threshold=0.5
    )
    comps = connected_components(
        pairs, src="doc_id_a", dst="doc_id_b"
    ).localCheckpoint(eager=True)
    scored = docs.select(
        F.col("doc_id"), quality_score("text").alias("quality")
    )
    w = Window.partitionBy("component").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    keepers = (
        comps.join(scored, comps.vertex == scored.doc_id)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("doc_id").alias("keep_id"))
    )
    members = comps.select(F.col("vertex").alias("doc_id"))
    survivors = docs.join(
        members, "doc_id", "left_anti"
    ).unionByName(
        docs.join(
            keepers,
            docs.doc_id == keepers.keep_id,
            "left_semi",
        )
    )
    return survivors.select("doc_id", "lang", "source")


_DSIR_CTE = """
        WITH tokd AS (
            SELECT doc_id, lang,
                   regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents
        ),
        grams AS (
            SELECT doc_id, lang,
                   substr(md5(t[pos] || ' ' || t[pos + 1]), 1, 2)
                       AS bucket
            FROM (SELECT doc_id, lang, t,
                         unnest(generate_series(1, len(t) - 1))
                             AS pos
                  FROM tokd
                  WHERE len(t) >= 2)
        ),
        doc_counts AS (
            SELECT doc_id, bucket,
                   CAST(count(*) AS BIGINT) AS c
            FROM grams GROUP BY doc_id, bucket
        ),
        spine AS (
            SELECT lower(lpad(to_hex(i), 2, '0')) AS bucket
            FROM generate_series(0, 255) AS s(i)
        ),
        raw_dist AS (
            SELECT s.bucket,
                   COALESCE(r.rc, 0) AS rc
            FROM spine s LEFT JOIN (
                SELECT bucket, CAST(SUM(c) AS BIGINT) AS rc
                FROM doc_counts GROUP BY bucket
            ) r USING (bucket)
        ),
        tgt_dist AS (
            SELECT s.bucket,
                   COALESCE(g.tc, 0) AS tc
            FROM spine s LEFT JOIN (
                SELECT bucket, CAST(count(*) AS BIGINT) AS tc
                FROM grams WHERE lang = 'en' GROUP BY bucket
            ) g USING (bucket)
        ),
        rt AS (SELECT CAST(SUM(rc) AS BIGINT) AS rt FROM raw_dist),
        tt AS (SELECT CAST(SUM(tc) AS BIGINT) AS tt FROM tgt_dist),
        lr AS (
            SELECT r.bucket,
                   CAST(round((
                       ln(CAST(g.tc + 1 AS DOUBLE)
                          / CAST(tt.tt + 256 AS DOUBLE))
                       - ln(CAST(r.rc + 1 AS DOUBLE)
                            / CAST(rt.rt + 256 AS DOUBLE))
                   ) * 1e9) AS BIGINT) AS lrq
            FROM raw_dist r
            JOIN tgt_dist g USING (bucket)
            CROSS JOIN rt CROSS JOIN tt
        ),
        scored AS (
            SELECT dc.doc_id,
                   CAST(SUM(dc.c) AS BIGINT) AS n_grams,
                   SUM(CAST(dc.c AS HUGEINT) * lr.lrq) AS sq
            FROM doc_counts dc JOIN lr USING (bucket)
            GROUP BY dc.doc_id
        )
        """


@register(
    "dsir_importance_scores",
    oracle=_DSIR_CTE
    + """SELECT d.doc_id,
               COALESCE(s.n_grams, 0) AS n_grams,
               CAST(COALESCE(s.sq, 0) AS DOUBLE) / 1e9 AS score
        FROM documents d LEFT JOIN scored s USING (doc_id)
    """,
    ops=("SAMPLE", "TEXT"),
)
def dsir_importance_scores(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DSIR (Xie et al. 2023): hashed-bigram importance of every
    document against the English subset as the target domain —
    the model-free data-selection score a 100 TB pretraining
    pipeline computes before sampling. Buckets are md5-prefix
    strings (identical in both engines), ln-derived per-bucket
    log-ratios are snapped to the 1e-9 integer grid before any
    count multiplies them (CLAUDE.md rule 1c), and the per-doc sum
    is exact decimal/HUGEINT (rule 11). See operators/dsir.py for
    the scale shape."""
    from afg_data_pipeline_spark.operators.dsir import dsir_scores

    docs = read_star_table(spark, "documents", sf_dir)
    # Subset-target mode: the target (lang='en') is a predicate
    # over the raw corpus, so the corpus is tokenized and shuffled
    # ONCE (the flag rides the groupBy key; see operators/dsir.py).
    return dsir_scores(docs, target_cond=F.col("lang") == "en")


@register(
    "dsir_selected_corpus",
    oracle=_DSIR_CTE
    + """
        SELECT d.doc_id, d.lang, d.source,
               CAST(s.sq AS DOUBLE) / 1e9 AS score
        FROM documents d JOIN scored s USING (doc_id)
        WHERE s.sq > 0
    """,
    ops=("SAMPLE", "TEXT"),
)
def dsir_selected_corpus(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The APPLIED form of DSIR (the corpus_after_dedup pattern):
    keep exactly the documents whose importance score is positive
    — i.e. whose hashed-bigram profile is MORE likely under the
    target domain than under the raw corpus. score > 0 is the
    natural model-free selection boundary (log-likelihood ratio
    favors the target); the threshold is a constant, so selection
    is a filter — no global rank, no per-corpus sort, and the
    integer score sum makes the survivor SET bit-identical across
    engines (a float boundary would straddle). Output carries the
    score so downstream mixture/weighted sampling can resample
    survivors (operators/sampling)."""
    from afg_data_pipeline_spark.operators.dsir import dsir_scores

    docs = read_star_table(spark, "documents", sf_dir)
    scores = dsir_scores(
        docs, target_cond=F.col("lang") == "en"
    ).filter(F.col("score") > 0)
    return docs.join(
        scores.select("doc_id", "score"), "doc_id"
    ).select("doc_id", "lang", "source", "score")


@register(
    "bloom_prefilter_dedup",
    oracle="""
        WITH hist AS MATERIALIZED (
            SELECT DISTINCT text AS key
            FROM documents WHERE doc_id % 3 = 0
        ),
        set_bits AS MATERIALIZED (
            SELECT DISTINCT
                   ('0x' || substring(md5(pfx || key), 1, 13))
                       ::BIGINT % 4096 AS pos
            FROM hist,
                 (SELECT '0:' AS pfx UNION ALL SELECT '1:') p
        ),
        probe_bits AS (
            SELECT doc_id,
                   ('0x' || substring(md5(pfx || text), 1, 13))
                       ::BIGINT % 4096 AS pos
            FROM documents,
                 (SELECT '0:' AS pfx UNION ALL SELECT '1:') p
        ),
        verdicts AS (
            SELECT pb.doc_id,
                   bool_and(sb.pos IS NOT NULL) AS bloom_positive
            FROM probe_bits pb
            LEFT JOIN set_bits sb ON sb.pos = pb.pos
            GROUP BY pb.doc_id
        )
        SELECT d.doc_id,
               v.bloom_positive,
               EXISTS (SELECT 1 FROM hist h WHERE h.key = d.text)
                   AS present,
               v.bloom_positive
                   AND NOT EXISTS (SELECT 1 FROM hist h
                                   WHERE h.key = d.text)
                   AS false_positive
        FROM documents d JOIN verdicts v ON v.doc_id = d.doc_id
    """,
    ops=("A7", "J1"),
)
def bloom_prefilter_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bloom-filter ingest pre-filter (operators/bloom.py): the
    historical corpus (here: every doc_id ≡ 0 mod 3, standing in
    for 'already ingested') is compressed to a 4096-bit / 2-hash
    bitmap — 64 OR-ed BIGINT words built by one map-side-combinable
    aggregate — and every incoming document probes it by broadcast
    join. Output per document: the bloom verdict, ground truth from
    the exact text match, and the false-positive flag, so the query
    doubles as a measured FP-rate report (the m=4096 config is
    deliberately small enough that saturation becomes visible as sf
    grows — the tunable at 100 TB is m, not the algorithm).

    Scale shape: the bitmap is O(m) regardless of corpus size; the
    probe side shuffles only (doc_id) for its bool_and; the exact
    verification join that a real pipeline would run afterwards
    touches only the bloom-positive fraction.
    """
    from afg_data_pipeline_spark.operators.bloom import (
        bloom_build,
        bloom_probe,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    hist = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .select(F.col("text").alias("key"))
        .distinct()
    )
    bloom = bloom_build(hist, "key", m_bits=4096, k_hashes=2)
    probes = docs.select("doc_id", F.col("text").alias("key"))
    verdicts = bloom_probe(
        probes, "key", bloom, m_bits=4096, k_hashes=2
    )
    present = docs.join(
        hist.withColumnRenamed("key", "text")
        .withColumn("__p", F.lit(True)),
        "text",
        "left",
    ).select(
        "doc_id", F.coalesce(F.col("__p"), F.lit(False)).alias("present")
    )
    return (
        verdicts.select("doc_id", "bloom_positive")
        .join(present, "doc_id")
        .select(
            "doc_id",
            "bloom_positive",
            "present",
            (F.col("bloom_positive") & ~F.col("present")).alias(
                "false_positive"
            ),
        )
    )


@register(
    "unigram_tokenize",
    oracle=None,  # EM is float log-space: no SQL-expressible
    # oracle (SURVEY §5.1 rows-only class). Full output is
    # value-pinned against an independent naive replica in
    # tests/test_unigram.py::test_registered_query_golden.
    ops=("A1", "J1"),
)
def unigram_tokenize_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Unigram-LM (SentencePiece-style) tokenization of the corpus
    into per-document token-id streams — the second of the two
    real-world subword algorithms (operators/unigram.py; BPE is
    the other, bpe_tokenize). One corpus-sized word aggregate,
    driver-side EM + pruning + per-distinct-word Viterbi, then the
    broadcast word→ids join and ordered per-doc rebuild. Sorted
    token_ids output contract matches bpe_tokenize."""
    from afg_data_pipeline_spark.operators.unigram import (
        unigram_tokenize,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    return unigram_tokenize(docs, vocab_size=512).withColumn(
        # driver-canonicalizable STRING projection of the id array
        # (r6/r7 ERR class; the pack_token_sequences_q pattern) —
        # the array-returning operator stays available for
        # pipeline composition.
        "token_ids",
        F.concat_ws(" ", F.col("token_ids").cast("array<string>")),
    )


@register(
    "unigram_seed_vocab",
    oracle="""
        WITH wf AS (
            SELECT word, CAST(count(*) AS BIGINT) AS freq
            FROM (
                SELECT unnest(regexp_split_to_array(
                           trim(text), '\\s+')) AS word
                FROM documents
            )
            WHERE len(word) > 0
            GROUP BY word
        ),
        pos AS (
            SELECT word, freq,
                   unnest(generate_series(1, len(word))) AS i
            FROM wf
        ),
        sub AS (
            SELECT substr(word, i, j - i + 1) AS piece, freq
            FROM (
                SELECT word, freq, i,
                       unnest(generate_series(
                           i, least(i + 7, len(word)))) AS j
                FROM pos
            )
        ),
        cnts AS (
            SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
            FROM sub GROUP BY piece
        ),
        multi AS (
            SELECT piece, cnt, TRUE AS multi
            FROM cnts WHERE len(piece) > 1
            ORDER BY cnt DESC, piece ASC
            LIMIT 256
        ),
        chars AS (
            SELECT piece, cnt, FALSE AS multi
            FROM cnts WHERE len(piece) = 1
        )
        SELECT * FROM multi UNION ALL SELECT * FROM chars
    """,
    ops=("A1", "O2"),
)
def unigram_seed_vocab(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Unigram-LM SEED VOCABULARY, distributed and hash-exact —
    the oracle-checkable sibling of the rows-only
    `unigram_tokenize` (EM is float log-space; the SEED stage is
    pure integer counting, so the driver gets a green exact row
    for the family instead of a perpetual `no_oracle`).

    Semantics = operators/unigram._seed_pieces verbatim (pinned
    equal in tests/test_unigram.py): every substring of length
    <= 8 of every word, occurrence-counted weighted by word
    frequency; the top-256 multi-char candidates (count DESC,
    piece ASC) plus ALL single characters — the coverage floor.

    Scale shape: the corpus-sized work is the one map-side-
    combinable word aggregate (_word_freqs, shared with BPE/
    WordPiece); the substring expansion runs over the DISTINCT
    word table (vocabulary-sized under Zipf at any corpus scale),
    and the top-K is TakeOrderedAndProject — per-partition
    partial top-256, no global sort."""
    from afg_data_pipeline_spark.operators.bpe import _word_freqs

    docs = read_star_table(spark, "documents", sf_dir)
    words = _word_freqs(docs, "text")
    counts = (
        words.select(
            "word",
            "freq",
            F.explode(
                F.sequence(F.lit(1), F.length("word"))
            ).alias("i"),
        )
        .select(
            "word",
            "freq",
            "i",
            F.explode(
                F.sequence(
                    F.col("i"),
                    F.least(
                        F.col("i") + F.lit(7),
                        F.length("word"),
                    ),
                )
            ).alias("j"),
        )
        .select(
            F.expr("substring(word, i, j - i + 1)").alias(
                "piece"
            ),
            "freq",
        )
        .groupBy("piece")
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    multi = (
        counts.filter(F.length("piece") > 1)
        .orderBy(F.col("cnt").desc(), F.col("piece").asc())
        .limit(256)
        .withColumn("multi", F.lit(True))
    )
    chars = counts.filter(F.length("piece") == 1).withColumn(
        "multi", F.lit(False)
    )
    return multi.unionByName(chars)


@register(
    "heavy_hitters_cms",
    oracle="""
        WITH tokd AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS arr
            FROM documents
        ),
        toks AS (
            SELECT doc_id, pos, list_extract(arr, pos) AS tok
            FROM (SELECT doc_id, arr,
                         unnest(generate_series(1, len(arr)))
                             AS pos
                  FROM tokd)
        ),
        w AS MATERIALIZED (
            SELECT prev || ' ' || tok AS bigram FROM (
                SELECT doc_id,
                       lag(tok) OVER (PARTITION BY doc_id
                                      ORDER BY pos) AS prev,
                       tok
                FROM toks)
            WHERE prev IS NOT NULL
        ),
        pfx AS (
            SELECT * FROM (VALUES ('0:', 0), ('1:', 1),
                                  ('2:', 2), ('3:', 3)) t(p, j)
        ),
        counters AS MATERIALIZED (
            SELECT pfx.j,
                   ('0x' || substring(md5(pfx.p || w.bigram), 1, 13))
                       ::BIGINT % 1024 AS pos,
                   count(*) AS c
            FROM w CROSS JOIN pfx
            GROUP BY 1, 2
        ),
        cand AS MATERIALIZED (
            SELECT bigram, count(*) AS true_count
            FROM w GROUP BY bigram
        ),
        est AS (
            SELECT cand.bigram, cand.true_count,
                   min(c.c) AS est_count
            FROM cand CROSS JOIN pfx
            JOIN counters c
              ON c.j = pfx.j
             AND c.pos = ('0x' || substring(
                     md5(pfx.p || cand.bigram), 1, 13))
                     ::BIGINT % 1024
            GROUP BY 1, 2
        )
        SELECT bigram, est_count, true_count,
               est_count - true_count AS overcount
        FROM est
        ORDER BY est_count DESC, bigram ASC
        LIMIT 50
    """,
    ops=("A7", "A8"),
)
def heavy_hitters_cms(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Count-min-sketch heavy hitters over the corpus word-BIGRAM
    stream (operators/cms.py): top-50 bigrams by sketch-ESTIMATED
    frequency with the exact count alongside, so the overcount
    column is the sketch's measured one-sided error at width 1024
    - bigram cardinality (~|vocab|^2) deliberately saturates the
    1024-cell rows so collisions are VISIBLE in the report (the
    tunable at 100 TB is w, like the Bloom filter's m). Unlike the
    HLL/KLL queries (engine-specific internals, rows-only), the
    md5-derived CMS is exactly reproducible in SQL: this row
    hash-checks the entire counter matrix through its
    min-reduction. Bigram extraction = the bigram_lm_score shape
    (posexplode + per-doc lag window, never a corpus-wide sort)."""
    from afg_data_pipeline_spark.operators.cms import (
        cms_heavy_hitters,
    )
    from pyspark.sql import Window

    docs = read_star_table(spark, "documents", sf_dir)
    toks = docs.select(
        F.col("doc_id").alias("id"),
        F.posexplode(
            F.split(F.trim(F.col("text")), r"\s+")
        ).alias("pos", "t"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    keys = (
        toks.withColumn("prev", F.lag("t").over(w))
        .filter(F.col("prev").isNotNull())
        .select(
            F.concat(
                F.col("prev"), F.lit(" "), F.col("t")
            ).alias("bigram")
        )
    )
    return cms_heavy_hitters(
        keys, "bigram", k=50, width=1024, depth=4
    )


@register(
    "dataset_card_report",
    oracle="""
        WITH base AS (
            SELECT lang, md5(text) AS h,
                   len(regexp_split_to_array(trim(text), '\\s+'))
                       AS toks
            FROM documents
        ),
        tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(toks) AS BIGINT) AS total_tokens,
                   CAST(count(DISTINCT h) AS BIGINT)
                       AS n_unique_texts
            FROM base
        ),
        langs AS (
            SELECT lang, CAST(count(*) AS BIGINT) AS c
            FROM base GROUP BY lang
        ),
        ent AS (
            SELECT CAST(count(*) AS BIGINT) AS n_langs,
                   CAST(sum(CAST(round(
                       -(CAST(c AS DOUBLE)
                         / CAST(n_docs AS DOUBLE))
                       * ln(CAST(c AS DOUBLE)
                            / CAST(n_docs AS DOUBLE))
                       * 1000000000.0) AS BIGINT)) AS BIGINT)
                       AS eq
            FROM langs, tot
        ),
        med AS (
            SELECT min(CASE WHEN cum >= (n + 1) // 2
                            THEN v END) AS p50_tokens
            FROM (
                SELECT toks AS v,
                       SUM(c) OVER (ORDER BY toks
                           ROWS UNBOUNDED PRECEDING) AS cum,
                       SUM(c) OVER () AS n
                FROM (SELECT toks, count(*) AS c
                      FROM base GROUP BY toks)
            )
        )
        SELECT tot.n_docs, tot.total_tokens,
               CAST(tot.total_tokens AS DOUBLE)
                   / CAST(tot.n_docs AS DOUBLE) AS mean_tokens,
               med.p50_tokens,
               ent.n_langs,
               CAST(ent.eq AS DOUBLE) / 1000000000.0
                   AS lang_entropy_nats,
               tot.n_unique_texts,
               CAST(tot.n_docs - tot.n_unique_texts AS DOUBLE)
                   / CAST(tot.n_docs AS DOUBLE) AS dup_fraction
        FROM tot, ent, med
    """,
    ops=("A1", "A7", "TEXT"),
)
def dataset_card_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One-row dataset card for the documents corpus — the summary
    block a curation pipeline publishes with a release: doc/token
    counts, mean and exact-median tokens per doc, language count
    and Shannon entropy of the language mix, exact-hash unique
    texts and duplicate fraction. One corpus scan computes the
    (lang, md5, token-count) projection; everything downstream is
    map-side-combinable aggregates over vocabulary-sized frames
    (the median via the distinct-value cumulative machinery, never
    a row sort). Each -p·ln(p) entropy term is quantized once to
    the 1e9 grid (rule 1c) and summed exactly."""
    from pyspark.sql import Window

    docs = read_star_table(spark, "documents", sf_dir)
    base = docs.select(
        "lang",
        F.md5(F.col("text")).alias("h"),
        F.size(
            F.split(F.trim(F.col("text")), r"\s+")
        ).alias("toks"),
    ).localCheckpoint(eager=False)
    tot = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("toks").cast("bigint").alias("total_tokens"),
        F.countDistinct("h").alias("n_unique_texts"),
    )
    langs = base.groupBy("lang").agg(
        F.count(F.lit(1)).alias("c")
    )
    p = F.col("c").cast("double") / F.col("n_docs").cast("double")
    ent = (
        langs.crossJoin(F.broadcast(tot.select("n_docs")))
        .select(
            F.round(-p * F.log(p) * F.lit(1e9))
            .cast("bigint")
            .alias("eq")
        )
        .agg(
            F.count(F.lit(1)).alias("n_langs"),
            F.sum("eq").cast("bigint").alias("eq"),
        )
    )
    counts = base.groupBy("toks").agg(
        F.count(F.lit(1)).alias("c")
    )
    wcum = (
        Window.orderBy("toks")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the cumulative window runs over DISTINCT token counts (a
    # few thousand values at any corpus size), not documents
    med = (
        counts.withColumn("cum", F.sum("c").over(wcum))
        .crossJoin(F.broadcast(tot.select("n_docs")))
        .agg(
            F.min(
                F.when(
                    # exact integer ceil(n/2): (n+1) div 2 — the
                    # double (n+1)/2 would demand cum >= x.5 for
                    # even n while the oracle's // demands x
                    F.col("cum")
                    >= F.floor(
                        (F.col("n_docs") + 1) / F.lit(2)
                    ).cast("bigint"),
                    F.col("toks"),
                )
            ).alias("p50_tokens")
        )
    )
    return (
        tot.crossJoin(F.broadcast(ent))
        .crossJoin(F.broadcast(med))
        .select(
            "n_docs",
            "total_tokens",
            (
                F.col("total_tokens").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("mean_tokens"),
            "p50_tokens",
            "n_langs",
            (F.col("eq").cast("double") / F.lit(1e9)).alias(
                "lang_entropy_nats"
            ),
            "n_unique_texts",
            (
                (
                    F.col("n_docs") - F.col("n_unique_texts")
                ).cast("double")
                / F.col("n_docs").cast("double")
            ).alias("dup_fraction"),
        )
    )


@register(
    "rank_normalize_values",
    oracle="""
        WITH counts AS (
            SELECT event_type,
                   CAST(round(CAST(value AS DOUBLE) * 100)
                        AS BIGINT) AS cents,
                   CAST(count(*) AS BIGINT) AS c
            FROM events GROUP BY 1, 2
        ),
        cum AS (
            SELECT event_type, cents, c,
                   SUM(c) OVER (PARTITION BY event_type
                                ORDER BY cents
                                ROWS UNBOUNDED PRECEDING) - c
                       AS below,
                   SUM(c) OVER (PARTITION BY event_type) AS n
            FROM counts
        )
        SELECT event_type, cents, c AS n_rows,
               CAST(2 * below + c + 1 AS BIGINT) AS rank2,
               CAST(2 * n AS BIGINT) AS den2,
               CAST(2 * below + c + 1 AS DOUBLE)
                   / CAST(2 * n AS DOUBLE) AS rank_norm
        FROM cum
    """,
    ops=("A2", "O1"),
)
def rank_normalize_values(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rank (quantile) normalization per event type — the
    rank-gauss / quantile-normalize ML-prep primitive: each
    distinct cent value maps to its MID-RANK fraction
    (2·below + cnt + 1)/(2·n), tie-aware and exactly the average
    rank of that value's rows. All rank arithmetic is exact
    integers (rank2/den2 in the output make the rationals
    auditable); the normalized fraction is one double division.
    Scale shape: the heavy pass is one map-side-combinable
    (type, cent) count; the cumulative window runs over the
    BOUNDED cent domain (value range × 100 rows max, independent
    of corpus size), never event rows."""
    from pyspark.sql import Window

    ev = read_star_table(spark, "events", sf_dir)
    counts = ev.groupBy(
        "event_type",
        F.round(F.col("value").cast("double") * 100)
        .cast("bigint")
        .alias("cents"),
    ).agg(F.count(F.lit(1)).alias("c"))
    wc = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("event_type")
    cum = counts.withColumn(
        "below", F.sum("c").over(wc) - F.col("c")
    ).withColumn("n", F.sum("c").over(wn))
    rank2 = (
        F.lit(2) * F.col("below") + F.col("c") + F.lit(1)
    ).cast("bigint")
    den2 = (F.lit(2) * F.col("n")).cast("bigint")
    return cum.select(
        "event_type",
        "cents",
        F.col("c").alias("n_rows"),
        rank2.alias("rank2"),
        den2.alias("den2"),
        (rank2.cast("double") / den2.cast("double")).alias(
            "rank_norm"
        ),
    )


def _wordpiece_oracle(
    n_merges: int = 3, through_encode: bool = False
) -> str:
    """Unrolled-CTE replica of WordPiece training (the
    _bpe_oracle pattern) and, with ``through_encode``, the greedy
    longest-match-first encode. WordPiece-specific machinery:

    - per-round symbol (unigram) counts u{r} next to pair counts
      p{r}; the merge argmax compares score(a,b) =
      count(ab)/(count(a)·count(b)) by EXACT HUGEINT
      cross-products in a NOT-EXISTS anti-join (never float
      division), lexical (l, r) tie-break — bit-identical to the
      driver trainer's integer comparisons;
    - candidates need pair_count >= 2 (the trainer's stop rule);
      an empty b{r} makes the round a no-op via LEFT JOIN ON TRUE
      (never the BPE oracle's CROSS JOIN, which would empty the
      symbol table);
    - merged symbol absorbs the right piece's '##' continuation;
    - ENCODE: longest-match lengths are precomputed SET-BASED —
      every (word, pos, L) candidate substring equi-joins the
      piece set and max(L) per position wins — then a recursive
      CTE walks each word's single deterministic chain. The
      correlated-subquery formulation is AVOIDED deliberately:
      DuckDB 1.0 returns empty rows for a MATERIALIZED CTE
      referenced (even transitively) from a recursive term's
      correlated subquery, silently mis-encoding; a plain LEFT
      JOIN to the materialized advance table is both correct and
      faster. [UNK] rule: no match at any position, or
      length(word) > 100 (the BERT guard), collapses the word to
      one piece."""

    def explode_syms(src: str) -> str:
        return f"""
            SELECT word, freq, pos, arr[pos] AS sym,
                   CASE WHEN pos < len(arr)
                        THEN arr[pos + 1] END AS nxt
            FROM (SELECT word, freq, arr,
                         unnest(generate_series(1, len(arr)))
                             AS pos
                  FROM {src})"""

    parts = [
        """
        s1 AS MATERIALIZED (
            SELECT word, freq,
                   CASE WHEN length(word) = 1
                        THEN [substr(word, 1, 1)]
                        ELSE list_prepend(
                            substr(word, 1, 1),
                            list_transform(
                                regexp_split_to_array(
                                    substr(word, 2), ''),
                                x -> '##' || x))
                   END AS arr
            FROM (
                SELECT word, count(*) AS freq FROM (
                    SELECT unnest(regexp_split_to_array(
                        trim(text), '\\s+')) AS word
                    FROM documents)
                WHERE length(word) > 0
                GROUP BY word)
        )"""
    ]
    for r in range(1, n_merges + 1):
        parts.append(
            f"""
        u{r} AS MATERIALIZED (
            SELECT sym, CAST(SUM(freq) AS BIGINT) AS un
            FROM ({explode_syms(f's{r}')})
            GROUP BY sym
        ),
        p{r} AS MATERIALIZED (
            SELECT sym AS l, nxt AS r,
                   CAST(SUM(freq) AS BIGINT) AS n
            FROM ({explode_syms(f's{r}')})
            WHERE nxt IS NOT NULL
            GROUP BY sym, nxt
        ),
        sc{r} AS MATERIALIZED (
            SELECT p.l, p.r, p.n, ul.un AS ln, ur.un AS rn
            FROM p{r} p
            JOIN u{r} ul ON ul.sym = p.l
            JOIN u{r} ur ON ur.sym = p.r
            WHERE p.n >= 2
        ),
        b{r} AS MATERIALIZED (
            SELECT l, r, n, ln, rn,
                   l || CASE WHEN r LIKE '##%' THEN substr(r, 3)
                             ELSE r END AS merged
            FROM sc{r} c
            WHERE NOT EXISTS (
                SELECT 1 FROM sc{r} c2
                WHERE CAST(c2.n AS HUGEINT) * c.ln * c.rn
                      > CAST(c.n AS HUGEINT) * c2.ln * c2.rn
                   OR (CAST(c2.n AS HUGEINT) * c.ln * c.rn
                       = CAST(c.n AS HUGEINT) * c2.ln * c2.rn
                       AND (c2.l < c.l
                            OR (c2.l = c.l AND c2.r < c.r)))
            )
        ),
        m{r} AS MATERIALIZED (
            SELECT e.*, CASE WHEN b.l IS NOT NULL
                              AND e.sym = b.l AND e.nxt = b.r
                             THEN 1 ELSE 0 END AS m,
                   b.merged
            FROM ({explode_syms(f's{r}')}) e
            LEFT JOIN b{r} b ON TRUE
        ),
        i{r} AS MATERIALIZED (
            SELECT *, SUM(new_island) OVER (
                       PARTITION BY word ORDER BY pos
                       ROWS UNBOUNDED PRECEDING) AS island_id
            FROM (
                SELECT *, CASE WHEN m = 1 AND COALESCE(
                               lag(m) OVER (PARTITION BY word
                                            ORDER BY pos), 0) = 0
                               THEN 1 ELSE 0 END AS new_island
                FROM m{r})
        ),
        d{r} AS MATERIALIZED (
            SELECT *, CASE WHEN m = 1 AND
                        (row_number() OVER (
                             PARTITION BY word, island_id
                             ORDER BY pos) - 1) % 2 = 0
                        THEN 1 ELSE 0 END AS do_merge
            FROM i{r}
        ),
        s{r + 1} AS MATERIALIZED (
            SELECT word, max(freq) AS freq,
                   list(CASE WHEN do_merge = 1 THEN merged
                             ELSE sym END ORDER BY pos) AS arr
            FROM (
                SELECT *, COALESCE(lag(do_merge) OVER (
                              PARTITION BY word ORDER BY pos),
                          0) AS consumed
                FROM d{r})
            WHERE consumed = 0
            GROUP BY word
        )"""
        )
    if not through_encode:
        selects = [
            f"SELECT {r} AS rank, l AS merge_left,"
            f" r AS merge_right, n AS pair_count,"
            f" ln AS left_count, rn AS right_count FROM b{r}"
            for r in range(1, n_merges + 1)
        ]
        return (
            "WITH RECURSIVE"
            + ",".join(parts)
            + " "
            + " UNION ALL ".join(selects)
        )
    pieces_union = " UNION ".join(
        f"SELECT merged AS p FROM b{r}"
        for r in range(1, n_merges + 1)
    )
    tail = f""",
        pieces AS MATERIALIZED (
            SELECT DISTINCT sym AS p FROM ({explode_syms('s1')})
            UNION
            {pieces_union}
        ),
        cand AS MATERIALIZED (
            SELECT w.word, w.pos, l.l,
                   CASE WHEN w.pos = 1
                        THEN substr(w.word, 1, l.l)
                        ELSE '##' || substr(w.word, w.pos, l.l)
                   END AS key
            FROM (SELECT word,
                         unnest(generate_series(
                             1, length(word))) AS pos
                  FROM s1) w
            CROSS JOIN (
                SELECT unnest(generate_series(1, (
                    SELECT max(CASE WHEN p LIKE '##%'
                                    THEN length(p) - 2
                                    ELSE length(p) END)
                    FROM pieces))) AS l) l
            WHERE w.pos + l.l - 1 <= length(w.word)
        ),
        adv AS MATERIALIZED (
            SELECT c.word, c.pos, max(c.l) AS adv
            FROM cand c JOIN pieces pc ON pc.p = c.key
            GROUP BY c.word, c.pos
        ),
        enc AS (
            SELECT word,
                   CASE WHEN length(word) > 100
                        THEN CAST(length(word) + 1 AS BIGINT)
                        ELSE CAST(1 AS BIGINT) END AS pos,
                   CASE WHEN length(word) > 100
                        THEN CAST(1 AS BIGINT)
                        ELSE CAST(0 AS BIGINT) END AS np,
                   length(word) > 100 AS unk
            FROM s1
            UNION ALL
            SELECT e.word,
                   CASE WHEN a.adv IS NULL
                        THEN CAST(length(e.word) + 1 AS BIGINT)
                        ELSE e.pos + a.adv END,
                   CASE WHEN a.adv IS NULL
                        THEN CAST(1 AS BIGINT)
                        ELSE e.np + 1 END,
                   a.adv IS NULL
            FROM enc e
            LEFT JOIN adv a ON a.word = e.word
                           AND a.pos = e.pos
            WHERE NOT e.unk AND e.pos <= length(e.word)
        ),
        encw AS MATERIALIZED (
            SELECT word, np AS w_pieces,
                   CASE WHEN unk THEN 1 ELSE 0 END AS w_unk
            FROM enc WHERE unk OR pos > length(word)
        ),
        dw AS MATERIALIZED (
            SELECT doc_id, word, count(*) AS cnt FROM (
                SELECT doc_id, unnest(regexp_split_to_array(
                    trim(text), '\\s+')) AS word
                FROM documents)
            WHERE length(word) > 0
            GROUP BY doc_id, word
        )
        SELECT d.doc_id,
               CAST(SUM(d.cnt) AS BIGINT) AS n_words,
               CAST(SUM(d.cnt * e.w_pieces) AS BIGINT)
                   AS n_pieces,
               CAST(SUM(d.cnt * e.w_unk) AS BIGINT) AS n_unk
        FROM dw d JOIN encw e USING (word)
        GROUP BY d.doc_id
    """
    return "WITH RECURSIVE" + ",".join(parts) + tail


@register(
    "wordpiece_train_merges",
    oracle=_wordpiece_oracle(3),
    ops=("TOKENIZE",),
)
def wordpiece_train_merges_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WordPiece merge training, fully auditable: the first 3
    learned merges with their argmax evidence — (rank, merge_left,
    merge_right, pair_count, left_count, right_count). The
    objective is the published likelihood-ratio score(a,b) =
    count(ab)/(count(a)·count(b)), compared by EXACT integer
    cross-products with a lexical tie-break (bit-deterministic,
    operators/wordpiece.train_wordpiece_driver); the oracle
    replicates it with HUGEINT cross-product anti-joins per
    unrolled round. Upgrades the WordPiece family from rows-only
    to hash-exact (r7 verdict #5 — the minhash/simhash precedent:
    certify what can be certified)."""
    from afg_data_pipeline_spark.operators.wordpiece import (
        wordpiece_train_merges,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    return wordpiece_train_merges(docs, n_merges=3)


@register(
    "wordpiece_encode_stats",
    oracle=_wordpiece_oracle(3, through_encode=True),
    ops=("TOKENIZE",),
)
def wordpiece_encode_stats_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WordPiece (Schuster–Nakajima / BERT) encode statistics per
    document — completes the tokenizer trio next to BPE and the
    unigram LM. Training maximizes count(ab)/(count(a)·count(b))
    per merge (EXACT integer cross-product comparisons, lexical
    tie-break — bit-deterministic); encoding is greedy
    longest-match-first with '##' continuations and [UNK] words
    (operators/wordpiece.py).

    Scale split (the fast-BPE pattern): ONE map-side-combinable
    (word, freq) aggregate, vocabulary-sized driver training with
    an explicit collect bound, one Arrow-batched encode pass over
    DISTINCT words with the piece set broadcast, and a broadcast
    join back to per-(doc, word) counts — the corpus never sees
    per-row python.

    Oracle-pinned at n_merges=3 (the BPE-family convention:
    bpe_encode_stats pins n=3 too; the operator defaults to 50
    for production use) — the full train+greedy-encode CTE chain,
    upgraded from rows-only in r8."""
    from afg_data_pipeline_spark.operators.wordpiece import (
        wordpiece_encode_stats,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    return wordpiece_encode_stats(docs, n_merges=3)


@register(
    "boilerplate_span_scrub",
    oracle="""
        WITH ndocs AS (
            SELECT CAST(count(*) AS BIGINT) AS n FROM documents
        ),
        toks AS (
            SELECT doc_id, pos, arr[pos] AS t
            FROM (
                SELECT doc_id, arr,
                       unnest(generate_series(1, len(arr)))
                           AS pos
                FROM (
                    SELECT doc_id,
                           list_filter(regexp_split_to_array(
                               trim(text), '\\s+'),
                               x -> length(x) > 0) AS arr
                    FROM documents))
        ),
        grams AS (
            SELECT doc_id, pos,
                   t || ' ' || lead(t, 1) OVER w
                     || ' ' || lead(t, 2) OVER w AS g
            FROM toks
            WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            QUALIFY lead(t, 2) OVER w IS NOT NULL
        ),
        gdf AS (
            SELECT g, CAST(count(DISTINCT doc_id) AS BIGINT)
                       AS df
            FROM grams GROUP BY g
        ),
        flagged AS (
            SELECT g FROM gdf CROSS JOIN ndocs
            WHERE 10 * df > n
        ),
        occ AS (
            SELECT gr.doc_id, gr.pos
            FROM grams gr JOIN flagged USING (g)
        ),
        covered AS (
            SELECT DISTINCT doc_id, pos + i AS pos
            FROM occ,
                 (SELECT unnest(generate_series(0, 2)) AS i)
        ),
        kept AS (
            SELECT t.doc_id,
                   string_agg(t.t, ' ' ORDER BY t.pos)
                       AS clean_text
            FROM toks t
            LEFT JOIN covered c
              ON c.doc_id = t.doc_id AND c.pos = t.pos
            WHERE c.doc_id IS NULL
            GROUP BY t.doc_id
        ),
        before AS (
            SELECT doc_id, CAST(count(*) AS BIGINT)
                       AS n_tokens_before
            FROM toks GROUP BY doc_id
        ),
        removed AS (
            SELECT doc_id, CAST(count(*) AS BIGINT)
                       AS n_tokens_removed
            FROM covered GROUP BY doc_id
        )
        SELECT d.doc_id,
               COALESCE(k.clean_text, '') AS clean_text,
               COALESCE(b.n_tokens_before, 0)
                   AS n_tokens_before,
               COALESCE(r.n_tokens_removed, 0)
                   AS n_tokens_removed
        FROM documents d
        LEFT JOIN kept k USING (doc_id)
        LEFT JOIN before b USING (doc_id)
        LEFT JOIN removed r USING (doc_id)
    """,
    ops=("TEXT", "DEDUP"),
)
def boilerplate_span_scrub(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BOILERPLATE SPAN REMOVAL — detection graduated to
    TRANSFORMATION: token 3-grams occurring in more than 10% of
    documents (headers, footers, navigation chrome) are located
    per occurrence and their covered token positions CUT from the
    document; output is the rebuilt clean text plus the removal
    accounting. Completes the span family: duplicate_span_detect
    finds repetition, boilerplate_line_dedup drops whole lines,
    this emits the scrubbed corpus a training pipeline actually
    feeds downstream (the C4/RefinedWeb boilerplate pass).

    Scale shape: one token posexplode; gram construction is two
    lead()s inside the per-document window (documents are
    KB-sized — the partition is tiny by construction); the gram
    document-frequency table is vocabulary-sized; coverage is a
    3x explode of FLAGGED occurrences only, never the corpus; the
    rebuild is one ordered per-doc aggregate. The 10% threshold
    compares as 10*df > n_docs — integer, no ratio."""
    from pyspark.sql import Window

    docs = read_star_table(spark, "documents", sf_dir)
    ndocs = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(
                F.split(F.trim(F.col("text")), r"\s+"),
                lambda x: F.length(x) > 0,
            )
        ).alias("pos0", "t"),
    ).select(
        "doc_id", (F.col("pos0") + 1).alias("pos"), "t"
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    grams = (
        toks.select(
            "doc_id",
            "pos",
            F.concat_ws(
                " ",
                F.col("t"),
                F.lead("t", 1).over(w),
                F.lead("t", 2).over(w),
            ).alias("g"),
            F.lead("t", 2).over(w).alias("__l2"),
        )
        .filter(F.col("__l2").isNotNull())
        .drop("__l2")
    )
    # gram stream feeds BOTH the df aggregate and the occurrence
    # join (rule 12) — narrow (doc_id, pos, g), checkpoint once.
    grams = grams.localCheckpoint(eager=False)
    gdf = (
        grams.select("g", "doc_id")
        .distinct()
        .groupBy("g")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    )
    flagged = gdf.crossJoin(F.broadcast(ndocs)).filter(
        F.lit(10) * F.col("df") > F.col("n")
    ).select("g")
    occ = grams.join(flagged, "g").select("doc_id", "pos")
    covered = (
        occ.select(
            "doc_id",
            F.explode(
                F.array(F.lit(0), F.lit(1), F.lit(2))
            ).alias("i"),
            "pos",
        )
        .select("doc_id", (F.col("pos") + F.col("i")).alias("pos"))
        .distinct()
    )
    kept = (
        toks.join(covered, ["doc_id", "pos"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.expr(
                    "transform(array_sort(collect_list("
                    "struct(pos, t))), x -> x.t)"
                ),
            ).alias("clean_text")
        )
    )
    before = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens_before")
    )
    removed = covered.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens_removed")
    )
    z = lambda c, d: F.coalesce(F.col(c), F.lit(d))  # noqa: E731
    return (
        docs.select("doc_id")
        .join(kept, "doc_id", "left")
        .join(before, "doc_id", "left")
        .join(removed, "doc_id", "left")
        .select(
            "doc_id",
            z("clean_text", "").alias("clean_text"),
            z("n_tokens_before", 0).alias("n_tokens_before"),
            z("n_tokens_removed", 0).alias("n_tokens_removed"),
        )
    )


@register(
    "training_order_shuffle",
    oracle="""
        WITH h AS (
            SELECT doc_id, source,
                   md5('trainorder:'
                       || CAST(doc_id AS VARCHAR)) AS hh
            FROM documents
        ),
        p AS (
            SELECT doc_id, source,
                   CAST(row_number() OVER (
                       PARTITION BY source
                       ORDER BY hh, doc_id) - 1 AS BIGINT)
                       AS source_pos
            FROM h
        )
        SELECT doc_id, source, source_pos,
               CAST(row_number() OVER (
                   ORDER BY source_pos, source, doc_id) - 1
                   AS BIGINT) AS global_pos
        FROM p
    """,
    ops=("SAMPLE", "O2"),
)
def training_order_shuffle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DETERMINISTIC GLOBAL TRAINING ORDER with round-robin source
    interleaving — the 'shuffle the corpus for training' pass,
    seedless and bit-reproducible: each document's shuffle key is
    md5('trainorder:'||doc_id); documents are ranked WITHIN their
    source by that key, and the global order visits position 0 of
    every source (in source order), then position 1, ... — the
    epoch-uniform mixing a multi-source pretraining run wants.

    THE SCALE POINT — the global index is computed with NO GLOBAL
    SHUFFLE and NO GLOBAL WINDOW anywhere (rule 19: an
    unpartitioned row_number runs ONE task over the corpus; the
    oracle uses exactly that, which is fine for DuckDB):
    - within-source ranks come from (source, 2-hex-char bucket)
      windows — 256·|sources| independent partitions; the hex
      prefix respects the md5 sort order, so bucket-local ranks +
      per-bucket offsets (a tiny |sources|·256-row cumulative)
      compose to exact within-source positions;
    - the GLOBAL position has a closed form from per-source
      counts only: rank(p, s) = sum_s' min(p, c_s') +
      #{s' < s : c_s' > p} — evaluated as driver-literal terms
      (rule 14; |sources| is bounded and guard-checked), so the
      corpus pays two narrow passes and zero corpus-wide sorts."""
    from pyspark.sql import Window

    docs = read_star_table(spark, "documents", sf_dir)
    hashed = docs.select(
        "doc_id",
        "source",
        F.md5(
            F.concat(
                F.lit("trainorder:"),
                F.col("doc_id").cast("string"),
            )
        ).alias("hh"),
    ).withColumn("bucket", F.substring("hh", 1, 2))
    # feeds the rank window AND the bucket-count pass (rule 12)
    hashed = hashed.localCheckpoint(eager=False)
    w = Window.partitionBy("source", "bucket").orderBy(
        "hh", "doc_id"
    )
    local = hashed.select(
        "doc_id",
        "source",
        "bucket",
        (F.row_number().over(w) - 1).cast("bigint").alias("lp"),
    )
    bcounts = hashed.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    # per-(source, bucket) offsets: cumulative over the TINY
    # (|sources| x 256)-row frame — the window is per source over
    # <=256 rows, never the corpus
    wo = (
        Window.partitionBy("source")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = bcounts.select(
        "source",
        "bucket",
        F.coalesce(F.sum("c").over(wo), F.lit(0)).alias("off"),
    )
    pos = local.join(
        F.broadcast(offsets), ["source", "bucket"]
    ).select(
        "doc_id",
        "source",
        (F.col("off") + F.col("lp")).alias("source_pos"),
    )
    # per-source totals -> driver literals (rule 14): the closed-
    # form global rank needs only c_s' per source; bound-checked
    # limit(n+1) collect (never OOM before the guard, r7 #6)
    cnt_rows = (
        hashed.groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .limit(10_001)
        .collect()
    )
    if len(cnt_rows) > 10_000:
        raise ValueError(
            "training_order_shuffle's literal-model rank assumes "
            f"a bounded source space; got >{10_000} sources"
        )
    counts = sorted((r["source"], r["c"]) for r in cnt_rows)
    p = F.col("source_pos")
    global_pos = F.lit(0).cast("bigint")
    for s_name, c in counts:
        global_pos = global_pos + F.least(
            p, F.lit(int(c)).cast("bigint")
        )
        global_pos = global_pos + F.when(
            (F.lit(s_name) < F.col("source"))
            & (F.lit(int(c)) > p),
            F.lit(1).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint"))
    return pos.select(
        "doc_id",
        "source",
        "source_pos",
        global_pos.alias("global_pos"),
    )


@register(
    "epoch_upsample_plan",
    oracle="""
        WITH cfg AS (
            SELECT * FROM (VALUES
                ('src0', 25, 10),
                ('src1', 25, 10),
                ('src2', 12, 10)
            ) c(source, e10, den)
        ),
        base AS (
            SELECT d.doc_id, d.source,
                   c.e10 // c.den AS whole,
                   c.e10 % c.den AS frac10
            FROM documents d JOIN cfg c USING (source)
        ),
        marked AS (
            SELECT doc_id, source, whole,
                   CASE WHEN md5('epoch:'
                                 || CAST(doc_id AS VARCHAR))
                        < CASE frac10
                              WHEN 0 THEN '0000'
                              WHEN 5 THEN '8000'
                              WHEN 2 THEN '3333'
                              ELSE 'gggg' END
                        THEN 1 ELSE 0 END AS extra
            FROM base
        )
        SELECT doc_id, source,
               CAST(copy_idx AS BIGINT) AS copy_idx
        FROM (
            SELECT doc_id, source, whole + extra AS n_copies
            FROM marked)
        CROSS JOIN LATERAL unnest(
            generate_series(0, CAST(n_copies AS BIGINT) - 1))
            AS t(copy_idx)
        WHERE n_copies > 0
    """,
    ops=("SAMPLE", "U1"),
)
def epoch_upsample_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MULTI-EPOCH DATASET ASSEMBLY — the UPSAMPLING half of
    mixture control (domain_mixture_resample is the downsampling
    half): each source gets a fractional epoch target (src0/src1
    2.5 epochs, src2 1.2 here — the Llama-style epoch table), and
    every document is emitted floor(e) times plus one more when
    md5('epoch:'||doc_id) falls under the fractional threshold —
    deterministic, zero RNG, so the assembled corpus is
    bit-reproducible and each doc's extra copy is a stable
    property of the doc (never of partitioning or retry).

    Exactness: epoch targets are held as INTEGER tenths (e10/den),
    the fractional threshold as a fixed-width hex-prefix literal
    (rule 5b — same-width lowercase hex orders like its value on
    both engines: 2/10 -> '3333' = floor(0.2*65536)). Scale: the
    copy explode is bounded by ceil(e) and runs AFTER a rule-3
    round-robin repartition; everything else is a broadcast config
    join."""
    par = spark.sparkContext.defaultParallelism
    cfg = spark.createDataFrame(
        [
            ("src0", 25, 10),
            ("src1", 25, 10),
            ("src2", 12, 10),
        ],
        "source string, e10 int, den int",
    )
    frac_hex = {0: "0000", 5: "8000", 2: "3333"}
    docs = read_star_table(spark, "documents", sf_dir).select(
        "doc_id", "source"
    )
    base = docs.join(F.broadcast(cfg), "source")
    marked = base.select(
        "doc_id",
        "source",
        (F.col("e10") / F.col("den"))
        .cast("int")
        .alias("whole"),
        F.when(
            F.md5(
                F.concat(
                    F.lit("epoch:"),
                    F.col("doc_id").cast("string"),
                )
            )
            < F.element_at(
                F.create_map(
                    *[
                        x
                        for k, v in frac_hex.items()
                        for x in (F.lit(k), F.lit(v))
                    ]
                ),
                (F.col("e10") % F.col("den")).cast("int"),
            ),
            1,
        )
        .otherwise(0)
        .alias("extra"),
    )
    copies = marked.select(
        "doc_id",
        "source",
        (F.col("whole") + F.col("extra")).alias("n_copies"),
    ).filter(F.col("n_copies") > 0)
    # rule 3: the explode multiplies rows; AQE can't see it in
    # input bytes — spread the pre-expansion side first
    copies = copies.repartition(par)
    return copies.select(
        "doc_id",
        "source",
        F.explode(
            F.sequence(
                F.lit(0).cast("bigint"),
                F.col("n_copies").cast("bigint") - 1,
            )
        ).alias("copy_idx"),
    )


@register(
    "dataset_manifest",
    oracle="""
        WITH per_doc AS (
            SELECT source,
                   length(text) AS n_chars,
                   len(list_filter(regexp_split_to_array(
                       trim(text), '\\s+'),
                       x -> length(x) > 0)) AS n_tokens,
                   md5(CAST(doc_id AS VARCHAR) || '|' || text)
                       AS h
            FROM documents
        ),
        weighted AS (
            SELECT source, n_chars, n_tokens,
                   CAST(ascii(substr(h, 1, 1)) AS BIGINT)
                   + CAST(ascii(substr(h, 2, 1)) AS BIGINT) * 128
                   + CAST(ascii(substr(h, 3, 1)) AS BIGINT) * 16384
                   + CAST(ascii(substr(h, 4, 1)) AS BIGINT) * 2097152
                   + CAST(ascii(substr(h, 5, 1)) AS BIGINT) * 268435456
                   + CAST(ascii(substr(h, 6, 1)) AS BIGINT) * 34359738368
                   + CAST(ascii(substr(h, 7, 1)) AS BIGINT) * 4398046511104
                   + CAST(ascii(substr(h, 8, 1)) AS BIGINT) * 562949953421312
                       AS hsum
            FROM per_doc
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               CAST(sum(n_chars) AS BIGINT) AS n_chars,
               CAST(CAST(sum(CAST(hsum AS DECIMAL(38,0)))
                         AS DECIMAL(38,0)) AS VARCHAR)
                   AS content_checksum
        FROM weighted GROUP BY source
    """,
    ops=("A1",),
)
def dataset_manifest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RELEASE MANIFEST: per source, document/token/character
    counts plus an ORDER-INDEPENDENT content checksum — the
    reproducibility record a dataset release ships so a consumer
    can verify "same docs, same bytes" without re-reading the
    corpus in any particular order. The checksum is the exact sum
    over documents of a 56-bit integer derived from
    md5(doc_id|text) (eight hex chars, ascii-weighted by powers
    of 128 — ascii() and md5 are bit-identical on both engines;
    rule 5b family, no hex->int conversion anywhere): any changed,
    added, or dropped document moves the sum with probability
    ~1-2^-56. Commutative addition makes it partition-, order- and
    retry-invariant; DECIMAL(38,0) accumulation (rule 11: no
    provable 2^63 bound at corpus scale), final column string-cast
    on both sides (rule 11a). Scale: one scan, map-side
    combinable, |sources| output rows."""
    docs = read_star_table(spark, "documents", sf_dir)
    h = F.md5(
        F.concat(
            F.col("doc_id").cast("string"),
            F.lit("|"),
            F.col("text"),
        )
    )
    per_doc = docs.select(
        "source",
        F.length("text").alias("n_chars"),
        F.size(
            F.filter(
                F.split(F.trim(F.col("text")), r"\s+"),
                lambda x: F.length(x) > 0,
            )
        ).alias("n_tokens"),
        h.alias("h"),
    )
    hsum = sum(
        (
            F.ascii(F.substring("h", i + 1, 1))
            * F.lit(128**i).cast("bigint")
            for i in range(1, 8)
        ),
        F.ascii(F.substring("h", 1, 1)).cast("bigint"),
    )
    weighted = per_doc.select(
        "source", "n_chars", "n_tokens", hsum.alias("hsum")
    )
    return weighted.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.sum(F.col("hsum").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .cast("string")
        .alias("content_checksum"),
    )


@register(
    "t_closeness_report",
    oracle="""
        WITH gv AS (
            SELECT dayofweek(ts) + 1 AS dow,
                   CAST(floor(value / 10.0) AS BIGINT) AS vb,
                   event_type,
                   CAST(count(*) AS HUGEINT) AS n_gv
            FROM events
            GROUP BY 1, 2, 3
        ),
        g AS (
            SELECT dow, vb, CAST(sum(n_gv) AS HUGEINT) AS n_g
            FROM gv GROUP BY 1, 2
        ),
        v AS (
            SELECT event_type,
                   CAST(sum(n_gv) AS HUGEINT) AS n_v
            FROM gv GROUP BY 1
        ),
        tot AS (
            SELECT CAST(sum(n_gv) AS HUGEINT) AS big_n FROM gv
        ),
        pres AS (
            SELECT gv.dow, gv.vb,
                   sum(abs(gv.n_gv * t.big_n
                           - v.n_v * g.n_g)) AS psum,
                   sum(v.n_v) AS pnv
            FROM gv
            JOIN g USING (dow, vb)
            JOIN v USING (event_type)
            CROSS JOIN tot t
            GROUP BY 1, 2
        ),
        sg AS (
            SELECT p.dow, p.vb, g.n_g,
                   p.psum + (t.big_n - p.pnv) * g.n_g AS s_num
            FROM pres p
            JOIN g USING (dow, vb)
            CROSS JOIN tot t
        ),
        gt AS (
            SELECT CAST(count(*) AS BIGINT) AS n_groups,
                   CAST(sum(n_g) AS BIGINT) AS n_rows
            FROM sg
        )
        SELECT th.t_pct,
               CAST(sum(CASE WHEN 100 * sg.s_num
                             > 2 * sg.n_g * t.big_n * th.t_pct
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS groups_above_t,
               CAST(sum(CASE WHEN 100 * sg.s_num
                             > 2 * sg.n_g * t.big_n * th.t_pct
                             THEN sg.n_g ELSE 0 END) AS BIGINT)
                   AS rows_at_risk,
               CAST(sum(CASE WHEN 100 * sg.s_num
                             > 2 * sg.n_g * t.big_n * th.t_pct
                             THEN sg.n_g ELSE 0 END) AS DOUBLE)
                   / CAST(t.big_n AS DOUBLE) AS share_at_risk,
               gt.n_groups, gt.n_rows
        FROM sg
        CROSS JOIN tot t
        CROSS JOIN gt
        CROSS JOIN (SELECT unnest([5, 10, 20, 30]) AS t_pct) th
        GROUP BY th.t_pct, gt.n_groups, gt.n_rows, t.big_n
    """,
    ops=("A1", "A7"),
)
def t_closeness_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """T-CLOSENESS audit — the third leg of the privacy trio
    (k_anonymity_report: group size; l_diversity_report: sensitive
    diversity; here: sensitive DISTRIBUTION). A QI group can be
    k-anonymous AND l-diverse yet still leak if its sensitive
    distribution diverges from the global one (skewness attack —
    Li/Li/Venkatasubramanian 2007 use earth-mover distance; for a
    categorical attribute EMD over the discrete metric IS total
    variation distance). Over events with QI = (day-of-week,
    value decade) and event_type as the sensitive attribute:
    TVD_g = (1/2) * sum_v |n_gv/n_g - n_v/N|, and for each policy
    t in {5,10,20,30}% report how many QI groups exceed it and the
    row share they carry.

    Exactness: TVD is compared by integer cross-multiplication —
    100 * S_g > 2 * n_g * N * t_pct where
    S_g = sum_v |n_gv*N - n_v*n_g| — zero float surface until the
    final share division (one IEEE op, rule 5). Sensitive values
    ABSENT from a group contribute (N - sum_present n_v) * n_g,
    so the per-group sum never fans out to the full type
    vocabulary. Products reach n_g*N*t ~ 1e20 at sf10 —
    DECIMAL(38,0) on the Spark side, HUGEINT in the oracle
    (rule 11). Scale shape: ONE corpus scan collapses to the
    (QI, type) cell table (value-space-bounded); every later
    join/window/fan-out runs over that bounded table, the corpus
    never shuffles again; dayofweek+1 on the oracle (rule 5c).
    The corpus total and the group totals ride PARTITIONLESS
    WINDOWS over the bounded cell/group tables instead of 1-row
    broadcast cross joins — sanctioned global windows (the input
    is value-space-bounded, never the corpus) that cut two
    aggregate+broadcast jobs of pure scheduling floor (measured
    sf30 2.16s -> ~1.3s)."""
    from pyspark.sql import Window

    ev = read_star_table(spark, "events", sf_dir)
    dec = "decimal(38,0)"
    wall = Window.partitionBy()
    gv = (
        ev.groupBy(
            F.dayofweek("ts").alias("dow"),
            F.floor(F.col("value") / 10.0)
            .cast("bigint")
            .alias("vb"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).cast(dec).alias("n_gv"))
        .withColumn(
            "big_n", F.sum("n_gv").over(wall).cast(dec)
        )
        .localCheckpoint(eager=False)
    )
    g = gv.groupBy("dow", "vb").agg(
        F.sum("n_gv").cast(dec).alias("n_g")
    )
    v = gv.groupBy("event_type").agg(
        F.sum("n_gv").cast(dec).alias("n_v")
    )
    pres = (
        gv.join(g, ["dow", "vb"])
        .join(v, "event_type")
        .groupBy("dow", "vb")
        .agg(
            F.max("big_n").alias("big_n"),
            F.sum(
                F.abs(
                    F.col("n_gv") * F.col("big_n")
                    - F.col("n_v") * F.col("n_g")
                )
            )
            .cast(dec)
            .alias("psum"),
            F.sum("n_v").cast(dec).alias("pnv"),
        )
    )
    sg = (
        pres.join(g, ["dow", "vb"])
        .select(
            "dow",
            "vb",
            "n_g",
            "big_n",
            (
                F.col("psum")
                + (F.col("big_n") - F.col("pnv")) * F.col("n_g")
            )
            .cast(dec)
            .alias("s_num"),
        )
        .withColumn(
            "n_groups",
            F.count(F.lit(1)).over(wall).cast("bigint"),
        )
        .withColumn(
            "n_rows", F.sum("n_g").over(wall).cast("bigint")
        )
    )
    ths = F.explode(
        F.array(*[F.lit(t) for t in (5, 10, 20, 30)])
    ).alias("t_pct")
    fanned = sg.select(
        "n_g", "big_n", "s_num", "n_groups", "n_rows", ths
    )
    above = (
        F.lit(100).cast(dec) * F.col("s_num")
        > F.lit(2).cast(dec)
        * F.col("n_g")
        * F.col("big_n")
        * F.col("t_pct").cast(dec)
    )
    return (
        fanned.groupBy("t_pct", "n_groups", "n_rows")
        .agg(
            F.sum(F.when(above, 1).otherwise(0))
            .cast("bigint")
            .alias("groups_above_t"),
            F.sum(F.when(above, F.col("n_g")).otherwise(0))
            .cast(dec)
            .cast("bigint")
            .alias("rows_at_risk"),
            (
                F.sum(
                    F.when(above, F.col("n_g")).otherwise(0)
                ).cast("double")
                / F.max("big_n").cast("double")
            ).alias("share_at_risk"),
        )
        .select(
            "t_pct",
            "groups_above_t",
            "rows_at_risk",
            "share_at_risk",
            "n_groups",
            "n_rows",
        )
    )


def _mw_oracle() -> str:
    """Unrolled multiplicative-weights oracle (8 rounds).

    Every step re-references the previous weights table (raw sum +
    per-row), so each round is AS MATERIALIZED (CLAUDE.md rule 5 —
    plain CTEs inline and the plan tree grows exponentially)."""
    rounds = []
    prev = "w0"
    for k in range(1, 9):
        rounds.append(
            f"""w{k} AS MATERIALIZED (
            SELECT source, n_tokens, loss_q, excess, ep,
                   (w * (4000 + ep)
                    * CAST(1000000000000 AS HUGEINT))
                   // (SELECT sum(w * (4000 + ep)) FROM {prev})
                       AS w
            FROM {prev}
        )"""
        )
        prev = f"w{k}"
    chain = ",\n        ".join(rounds)
    return f"""
        WITH toks AS (
            SELECT source,
                   unnest(regexp_split_to_array(trim(text),
                                                '\\s+')) AS t
            FROM documents
        ),
        gv AS MATERIALIZED (
            SELECT source, t, count(*) AS cnt_st
            FROM toks GROUP BY 1, 2
        ),
        freqs AS (
            SELECT t, sum(cnt_st) AS cnt FROM gv GROUP BY t
        ),
        tot AS (
            SELECT sum(cnt_st) AS n FROM gv
        ),
        src AS MATERIALIZED (
            SELECT source,
                   CAST(sum(cnt_st) AS BIGINT) AS n_tokens,
                   CAST(sum(CAST(cnt_st AS HUGEINT)
                            * CAST(round(
                       (-ln(CAST(cnt AS DOUBLE)
                            / CAST(n AS DOUBLE)))
                       * 1000000000.0, 0) AS BIGINT))
                       AS HUGEINT) AS nll_sum
            FROM gv JOIN freqs USING (t) CROSS JOIN tot
            GROUP BY source
        ),
        losses AS MATERIALIZED (
            SELECT source, n_tokens,
                   (nll_sum * 1000000)
                   // CAST(n_tokens AS HUGEINT) AS loss_q
            FROM src
        ),
        ex AS MATERIALIZED (
            SELECT source, n_tokens, loss_q,
                   loss_q - (SELECT min(loss_q) FROM losses)
                       AS excess
            FROM losses
        ),
        e AS MATERIALIZED (
            SELECT source, n_tokens, loss_q, excess,
                   CASE WHEN (SELECT max(excess) FROM ex) > 0
                        THEN (excess * 1000)
                             // (SELECT max(excess) FROM ex)
                        ELSE CAST(0 AS HUGEINT) END AS ep
            FROM ex
        ),
        w0 AS MATERIALIZED (
            SELECT source, n_tokens, loss_q, excess, ep,
                   CAST(1000000000000 AS HUGEINT)
                   // (SELECT count(*) FROM e) AS w
            FROM e
        ),
        {chain}
        SELECT source,
               n_tokens,
               CAST(loss_q AS BIGINT) AS loss_q,
               CAST(excess AS BIGINT) AS excess_q,
               CAST(ep AS BIGINT) AS ep_permille,
               CAST(n_tokens AS DOUBLE)
                   / CAST((SELECT sum(n_tokens) FROM src)
                          AS DOUBLE) AS baseline_share,
               CAST(w AS BIGINT) AS mw_weight_q,
               CAST(w AS DOUBLE) / 1000000000000.0 AS mw_weight,
               (CAST(w AS DOUBLE) / 1000000000000.0)
                   / (CAST(n_tokens AS DOUBLE)
                      / CAST((SELECT sum(n_tokens) FROM src)
                             AS DOUBLE)) AS weight_ratio
        FROM w8
    """


@register(
    "domain_reweight_mw",
    oracle=_mw_oracle(),
    ops=("SAMPLE", "A1"),
)
def domain_reweight_mw(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DOMAIN REWEIGHTING, DoReMi-style (Xie et al. 2023): upweight
    the training-mixture domains whose EXCESS loss is largest.
    DoReMi runs exponentiated-gradient over a proxy model's
    per-domain excess loss; here the loss is the corpus's own
    unigram LM mean NLL (the certified unigram_lm_score machinery)
    and the update is the POLYNOMIAL multiplicative-weights variant
    w <- w * (1 + eta*excess) — rational arithmetic instead of
    exp(), so every round is exact-integer and engine-portable
    (the pagerank/markov discipline; exp() would differ by ulps
    across engines).

    Spec: per-token nll_q = round(-ln(cnt/N) * 1e9) as BIGINT
    (rule 1c: quantize once, sum exactly); per-source mean loss by
    integer floor-div on a 1e6 grid; excess vs the min-loss
    domain, scaled to per-mille of the max excess; 8 MW rounds
    w <- w*(4000+ep) renormalized to the 1e12 grid by exact
    floor-div (eta = 1/(4*max_excess); max per-round factor 1.25).

    Scale shape: the corpus pays the unigram-LM token pass ONCE
    collapsing to a |sources|-row table; the 8 rounds run
    DRIVER-SIDE on that bounded table (limit-guarded collect, rule
    14 — zero Spark jobs per round), bit-identical to the unrolled
    HUGEINT CTE oracle."""
    from afg_data_pipeline_spark.operators import text as TX

    docs = read_star_table(spark, "documents", sf_dir)
    # ONE corpus pass collapses the token stream to the
    # vocabulary-x-sources cell table; the nll join and every
    # aggregate below run over THAT (rule 12: checkpointed once
    # for its three consumers), never over per-token rows.
    gv = (
        docs.select(
            "source", F.explode(TX.tokens("text")).alias("t")
        )
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).alias("cnt_st"))
        .localCheckpoint(eager=False)
    )
    freqs = gv.groupBy("t").agg(F.sum("cnt_st").alias("cnt"))
    tot = gv.agg(F.sum("cnt_st").alias("n"))
    nll_q = F.round(
        -F.log(
            F.col("cnt").cast("double")
            / F.col("n").cast("double")
        )
        * 1e9,
        0,
    ).cast("bigint")
    src = (
        gv.join(freqs, "t")
        .crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.sum("cnt_st").cast("bigint").alias("n_tokens"),
            F.sum(
                F.col("cnt_st").cast("decimal(38,0)")
                * nll_q.cast("decimal(38,0)")
            )
            .cast("decimal(38,0)")
            .alias("nll_sum"),
        )
    )
    # bound-check BEFORE materializing (wordpiece.py pattern)
    rows = src.limit(10_001).collect()
    if len(rows) > 10_000:
        raise ValueError(
            "domain_reweight_mw: source cardinality exceeds the "
            f"bounded-collect guard ({len(rows)} sources)"
        )
    grid = 1_000_000_000_000
    n_tok = {r["source"]: int(r["n_tokens"]) for r in rows}
    loss = {
        r["source"]: (int(r["nll_sum"]) * 1_000_000)
        // int(r["n_tokens"])
        for r in rows
    }
    total = sum(n_tok.values())
    min_l = min(loss.values())
    excess = {s: l - min_l for s, l in loss.items()}
    max_e = max(excess.values())
    ep = {
        s: (e * 1000) // max_e if max_e > 0 else 0
        for s, e in excess.items()
    }
    w = {s: grid // len(rows) for s in loss}
    for _ in range(8):
        raw = {s: w[s] * (4000 + ep[s]) for s in w}
        tot_raw = sum(raw.values())
        w = {s: (raw[s] * grid) // tot_raw for s in w}
    out = [
        (
            s,
            n_tok[s],
            loss[s],
            excess[s],
            ep[s],
            n_tok[s] / float(total),
            w[s],
            w[s] / 1e12,
            (w[s] / 1e12) / (n_tok[s] / float(total)),
        )
        for s in sorted(loss)
    ]
    return spark.createDataFrame(
        out,
        "source string, n_tokens bigint, loss_q bigint, "
        "excess_q bigint, ep_permille bigint, "
        "baseline_share double, mw_weight_q bigint, "
        "mw_weight double, weight_ratio double",
    )


def _kn_oracle() -> str:
    """Kneser-Ney oracle sharing kn_p_sql()'s infix verbatim."""
    from afg_data_pipeline_spark.operators.lm import kn_p_sql

    return f"""
        WITH tokd AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS arr
            FROM documents
        ),
        toks AS (
            SELECT doc_id, pos, list_extract(arr, pos) AS tok
            FROM (SELECT doc_id, arr,
                         unnest(generate_series(1, len(arr)))
                             AS pos
                  FROM tokd)
        ),
        bigrams AS (
            SELECT doc_id, prev, tok FROM (
                SELECT doc_id,
                       lag(tok) OVER (PARTITION BY doc_id
                                      ORDER BY pos) AS prev,
                       tok
                FROM toks)
            WHERE prev IS NOT NULL
        ),
        bg AS (
            SELECT prev, tok, count(*) AS cb
            FROM bigrams GROUP BY prev, tok
        ),
        vstats AS (
            SELECT prev, sum(cb) AS ctx, count(*) AS n1v
            FROM bg GROUP BY prev
        ),
        wstats AS (
            SELECT tok, count(*) AS n1w FROM bg GROUP BY tok
        ),
        scal AS (
            SELECT sum(CASE WHEN cb = 1 THEN 1 ELSE 0 END) AS n1,
                   sum(CASE WHEN cb = 2 THEN 1 ELSE 0 END) AS n2,
                   count(*) AS n1tot
            FROM bg
        )
        SELECT b.doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(CAST(round((- ln(
                   {kn_p_sql()}
               )) * 1000000000.0, 0) AS BIGINT)) AS DOUBLE) / 1e9
                   / CAST(count(*) AS DOUBLE) AS avg_nll
        FROM bigrams b
        JOIN bg ON bg.prev = b.prev AND bg.tok = b.tok
        JOIN vstats v ON v.prev = b.prev
        JOIN wstats ws ON ws.tok = b.tok
        CROSS JOIN scal
        GROUP BY b.doc_id
    """


@register(
    "kneser_ney_bigram_score",
    oracle=_kn_oracle(),
    ops=("TEXT", "A1"),
)
def kneser_ney_bigram_score(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """KNESER-NEY bigram LM quality score — the top rung of the
    n-gram LM ladder (unigram -> fixed-lambda bigram -> trigram ->
    here): per-doc mean NLL under absolute discounting with
    continuation-count backoff, the Chen & Goodman 1998 estimator
    (D = n1/(n1+2*n2)). operators/lm.kneser_ney_bigram_nll; the
    probability is ONE shared infix (kn_p_sql) evaluated verbatim
    by both engines on exact integer statistics, per-row NLL
    quantized once to the 1e-9 grid (rules 1b/1c)."""
    from afg_data_pipeline_spark.operators.lm import (
        kneser_ney_bigram_nll,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    return kneser_ney_bigram_nll(docs).select(
        F.col("id").alias("doc_id"), "n_bigrams", "avg_nll"
    )


@register(
    "ks_two_sample_drift",
    oracle="""
        WITH pv AS (
            SELECT source, n_chars AS v,
                   CAST(count(*) AS BIGINT) AS c
            FROM documents GROUP BY 1, 2
        ),
        ns AS (
            SELECT source, CAST(sum(c) AS BIGINT) AS n_s
            FROM pv GROUP BY 1
        ),
        tot AS (
            SELECT CAST(sum(c) AS BIGINT) AS big_n FROM pv
        ),
        vals AS (SELECT DISTINCT v FROM pv),
        gcum AS (
            SELECT v, CAST(sum(sum(c)) OVER (
                       ORDER BY v ASC
                       ROWS UNBOUNDED PRECEDING) AS BIGINT)
                       AS cum_g
            FROM pv GROUP BY v
        ),
        grid AS (
            SELECT s.source, s.n_s, vl.v
            FROM ns s CROSS JOIN vals vl
        ),
        scum AS (
            SELECT g.source, g.n_s, g.v,
                   CAST(sum(COALESCE(p.c, 0)) OVER (
                       PARTITION BY g.source ORDER BY g.v ASC
                       ROWS UNBOUNDED PRECEDING) AS BIGINT)
                       AS cum_s
            FROM grid g
            LEFT JOIN pv p
              ON p.source = g.source AND p.v = g.v
        )
        SELECT s.source,
               s.n_s,
               t.big_n - s.n_s AS n_rest,
               CAST(max(abs(CAST(s.cum_s AS HUGEINT)
                            * (t.big_n - s.n_s)
                            - CAST(gc.cum_g - s.cum_s AS HUGEINT)
                              * s.n_s)) AS BIGINT) AS d_num,
               CAST(max(abs(CAST(s.cum_s AS HUGEINT)
                            * (t.big_n - s.n_s)
                            - CAST(gc.cum_g - s.cum_s AS HUGEINT)
                              * s.n_s)) AS DOUBLE)
                   / (CAST(s.n_s AS DOUBLE)
                      * CAST(t.big_n - s.n_s AS DOUBLE))
                   AS ks_d,
               sqrt(CAST(s.n_s AS DOUBLE)
                    * CAST(t.big_n - s.n_s AS DOUBLE)
                    / CAST(t.big_n AS DOUBLE))
                   * (CAST(max(abs(CAST(s.cum_s AS HUGEINT)
                            * (t.big_n - s.n_s)
                            - CAST(gc.cum_g - s.cum_s AS HUGEINT)
                              * s.n_s)) AS DOUBLE)
                      / (CAST(s.n_s AS DOUBLE)
                         * CAST(t.big_n - s.n_s AS DOUBLE)))
                   AS ks_stat
        FROM scum s
        JOIN gcum gc USING (v)
        CROSS JOIN tot t
        GROUP BY s.source, s.n_s, t.big_n
    """,
    ops=("A1", "A6"),
)
def ks_two_sample_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TWO-SAMPLE KOLMOGOROV-SMIRNOV drift test, each source vs
    the REST of the corpus over the doc-length distribution — the
    BINLESS sibling of distribution_drift_psi (PSI needs bin
    choices; KS is the sup-norm ECDF distance, sensitive anywhere
    on the distribution). Reports D, the exact integer numerator
    it came from, and the sample-size-scaled KS statistic
    sqrt(n*m/(n+m))*D (compare to the 1.36 alpha=0.05 line).

    Exactness: D's argmax compares EXACT integers —
    |cum_s(v)*n_rest - cum_rest(v)*n_s| over the common
    denominator n_s*n_rest (HUGEINT/DECIMAL(38,0), rule 11) —
    floats appear only in the final division and sqrt (single
    correctly-rounded IEEE ops). Scale shape: one corpus scan
    collapses to the (source, value) count table; the ECDF
    cumulative windows run per-source over the VALUE-compressed
    grid (distinct n_chars values — bounded), never over corpus
    rows; the rest-ECDF is derived from the global cumulative by
    subtraction, so no second corpus pass."""
    from pyspark.sql import Window

    docs = read_star_table(spark, "documents", sf_dir)
    dec = "decimal(38,0)"
    pv = (
        docs.groupBy("source", F.col("n_chars").alias("v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=False)
    )
    ns = pv.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_s")
    )
    tot = pv.agg(F.sum("c").cast("bigint").alias("big_n"))
    vals = pv.select("v").distinct()
    wg = Window.orderBy(F.col("v").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    gcum = (
        pv.groupBy("v")
        .agg(F.sum("c").alias("cv"))
        .withColumn("cum_g", F.sum("cv").over(wg).cast("bigint"))
        .select("v", "cum_g")
    )
    # sources x distinct-values completion
    from afg_data_pipeline_spark.functions.gate import pair_join

    grid = pair_join(vals, ns)
    ws = (
        Window.partitionBy("source")
        .orderBy(F.col("v").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scum = (
        grid.join(pv, ["source", "v"], "left")
        .withColumn(
            "cum_s",
            F.sum(F.coalesce(F.col("c"), F.lit(0)))
            .over(ws)
            .cast("bigint"),
        )
        .select("source", "n_s", "v", "cum_s")
    )
    num = F.abs(
        F.col("cum_s").cast(dec)
        * (F.col("big_n") - F.col("n_s")).cast(dec)
        - (F.col("cum_g") - F.col("cum_s")).cast(dec)
        * F.col("n_s").cast(dec)
    )
    den = F.col("n_s").cast("double") * (
        F.col("big_n") - F.col("n_s")
    ).cast("double")
    return (
        scum.join(gcum, "v")
        .crossJoin(F.broadcast(tot))
        .groupBy("source", "n_s", "big_n")
        .agg(F.max(num).cast(dec).alias("__dn"))
        .select(
            "source",
            "n_s",
            (F.col("big_n") - F.col("n_s"))
            .cast("bigint")
            .alias("n_rest"),
            F.col("__dn").cast("bigint").alias("d_num"),
            (F.col("__dn").cast("double") / den).alias("ks_d"),
            (
                F.sqrt(
                    den / F.col("big_n").cast("double")
                )
                * (F.col("__dn").cast("double") / den)
            ).alias("ks_stat"),
        )
    )


def _fertility_families_oracle() -> str:
    """Cross-family fertility oracle: the certified per-family
    chains reused VERBATIM as scoped subqueries (the BPE chain is
    tokenizer_fertility's oracle, the WordPiece chain is
    wordpiece_encode_stats' full train+greedy-encode oracle), each
    wrapped with a per-language bytes rollup and stamped with its
    family literal. Name scoping is per-subquery, so the two WITH
    chains (one RECURSIVE) cannot collide."""
    from afg_data_pipeline_spark.plans.registry import REGISTRY

    bpe = REGISTRY["tokenizer_fertility"].oracle
    wp = REGISTRY["wordpiece_encode_stats"].oracle
    return f"""
        SELECT 'whitespace' AS family, lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(nw) AS BIGINT) AS n_words,
               CAST(sum(nw) AS BIGINT) AS n_tokens,
               CAST(sum(n_chars) AS BIGINT) AS n_chars,
               CAST(sum(nb) AS BIGINT) AS n_bytes,
               CAST(sum(nw) AS DOUBLE) / CAST(sum(nw) AS DOUBLE)
                   AS fertility,
               CAST(sum(n_chars) AS DOUBLE)
                   / CAST(sum(nw) AS DOUBLE) AS chars_per_token,
               CAST(sum(nb) AS DOUBLE)
                   / CAST(sum(nw) AS DOUBLE) AS bytes_per_token
        FROM (
            SELECT lang, n_chars, strlen(text) AS nb,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(regexp_split_to_array(
                                 trim(text), '\\s+')) END AS nw
            FROM documents)
        GROUP BY lang
        UNION ALL
        SELECT 'bpe' AS family, f.lang, f.n_docs, f.n_words,
               f.n_tokens, f.n_chars, b.n_bytes, f.fertility,
               f.chars_per_token,
               CAST(b.n_bytes AS DOUBLE)
                   / CAST(f.n_tokens AS DOUBLE) AS bytes_per_token
        FROM ({bpe}) f
        JOIN (SELECT lang,
                     CAST(sum(strlen(text)) AS BIGINT)
                         AS n_bytes
              FROM documents GROUP BY lang) b USING (lang)
        UNION ALL
        SELECT 'wordpiece' AS family, d.lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(COALESCE(e.n_words, 0)) AS BIGINT)
                   AS n_words,
               CAST(sum(COALESCE(e.n_pieces, 0)) AS BIGINT)
                   AS n_tokens,
               CAST(sum(d.n_chars) AS BIGINT) AS n_chars,
               CAST(sum(strlen(d.text)) AS BIGINT)
                   AS n_bytes,
               CAST(sum(COALESCE(e.n_pieces, 0)) AS DOUBLE)
                   / CAST(sum(COALESCE(e.n_words, 0)) AS DOUBLE)
                   AS fertility,
               CAST(sum(d.n_chars) AS DOUBLE)
                   / CAST(sum(COALESCE(e.n_pieces, 0)) AS DOUBLE)
                   AS chars_per_token,
               CAST(sum(strlen(d.text)) AS DOUBLE)
                   / CAST(sum(COALESCE(e.n_pieces, 0)) AS DOUBLE)
                   AS bytes_per_token
        FROM documents d LEFT JOIN ({wp}) e
          ON e.doc_id = d.doc_id
        GROUP BY d.lang
    """


@register(
    "tokenizer_fertility_families",
    oracle=_fertility_families_oracle(),
    ops=("TOKENIZE", "A1"),
)
def tokenizer_fertility_families(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CROSS-FAMILY tokenizer fertility — the dataset-card table
    comparing per-language tokens/word, chars/token and BYTES/token
    across the tokenizer families side by side (whitespace
    baseline, trained BPE, trained WordPiece — each at the
    oracle-pinned n_merges=3), one row per (family, lang). The
    standard release metric for "which languages does this
    tokenizer under-serve, and by how much per family". The
    unigram-LM family's fertility is derivable the same way from
    the rows-only unigram_tokenize output (float EM — no SQL
    oracle by design); the cross-family consistency test covers it
    (tests/test_fertility_families.py).

    One scan per family over the already-built encode outputs
    (bpe_tokenize's broadcast word->ids join; wordpiece's
    Arrow-batched distinct-word encode), each rolled up per
    language with exact BIGINT sums; ratios are single double
    divisions of exact integers (rule 1). All three branches reuse
    certified machinery; the oracle reuses the certified CTE
    chains verbatim as scoped subqueries."""
    from afg_data_pipeline_spark.operators import text as TX
    from afg_data_pipeline_spark.operators.bpe import bpe_tokenize
    from afg_data_pipeline_spark.operators.wordpiece import (
        wordpiece_encode_stats,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    base = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.octet_length("text").cast("bigint").alias("n_bytes"),
        F.when(F.trim(F.col("text")) == "", F.lit(0))
        .otherwise(F.size(TX.tokens("text")))
        .cast("bigint")
        .alias("n_words"),
    ).localCheckpoint(eager=False)

    def _family(per_doc_tokens, family: str) -> DataFrame:
        j = base.join(per_doc_tokens, "doc_id", "left")
        n_words = F.sum(F.coalesce(F.col("n_words"), F.lit(0)))
        n_tok = F.sum(F.coalesce(F.col("n_tok"), F.lit(0)))
        n_chars = F.sum("n_chars")
        n_bytes = F.sum("n_bytes")
        return j.groupBy("lang").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            n_words.cast("bigint").alias("n_words"),
            n_tok.cast("bigint").alias("n_tokens"),
            n_chars.cast("bigint").alias("n_chars"),
            n_bytes.cast("bigint").alias("n_bytes"),
            (n_tok.cast("double") / n_words.cast("double"))
            .alias("fertility"),
            (n_chars.cast("double") / n_tok.cast("double"))
            .alias("chars_per_token"),
            (n_bytes.cast("double") / n_tok.cast("double"))
            .alias("bytes_per_token"),
        ).select(F.lit(family).alias("family"), "*")

    ws = _family(
        base.select("doc_id", F.col("n_words").alias("n_tok")),
        "whitespace",
    )
    bpe = _family(
        bpe_tokenize(docs, n_merges=3).select(
            F.col("id").alias("doc_id"),
            F.size("token_ids").cast("bigint").alias("n_tok"),
        ),
        "bpe",
    )
    wp = _family(
        wordpiece_encode_stats(docs, n_merges=3).select(
            "doc_id", F.col("n_pieces").alias("n_tok")
        ),
        "wordpiece",
    )
    return ws.unionByName(bpe).unionByName(wp)


# --- reproducible noisy-release histogram (r10) ----------------------------

_DP_EPS = 1.0
_DP_DELTA = 1e-6
_DP_SEED = 20260817
_DP_SUPPRESS = 10
# Gaussian-mechanism scale for an L2-sensitivity-1 histogram
# (each document lands in exactly one (lang, source) cell):
# sigma = sqrt(2 ln(1.25/delta)) * D2 / eps, computed ONCE here in
# Python and inlined as the same shortest-roundtrip double literal
# on both engines (no ln() in either engine — rule 1c).
import math as _math  # noqa: E402

_DP_SIGMA = _math.sqrt(2.0 * _math.log(1.25 / _DP_DELTA)) / _DP_EPS


def _dp_release_oracle() -> str:
    M, A0, A1 = 4294967291, 1588635695, 1100087778
    mix = []
    for k in range(12):
        t = f"({_DP_SEED} + (r - 1) * 12 + {k})"
        u = f"(({t} % {M}) * {A0}) % {M}"
        w = f"xor({u}, ({u}) >> 15)"
        y = f"(({w}) * {A1}) % {M}"
        mix.append(f"(xor({y}, ({y}) >> 13) % 65536)")
    s = " + ".join(mix)
    return f"""
        WITH cells AS (
            SELECT lang, source, CAST(count(*) AS BIGINT) AS n
            FROM documents GROUP BY 1, 2
        ),
        ranked AS (
            SELECT lang, source, n,
                   row_number() OVER (ORDER BY lang, source) AS r
            FROM cells
        ),
        noised AS (
            SELECT lang, source, n,
                   CAST(floor({_DP_SIGMA!r}
                              * (({s}) - 393210.0) / 65536.0
                              + 0.5) AS BIGINT) AS z
            FROM ranked
        )
        SELECT lang, source,
               greatest(CAST(0 AS BIGINT), n + z)
                   AS released_count,
               greatest(CAST(0 AS BIGINT), n + z)
                   < {_DP_SUPPRESS} AS suppressed,
               CAST({_DP_EPS!r} AS DOUBLE) AS epsilon,
               CAST({_DP_DELTA!r} AS DOUBLE) AS delta,
               CAST({_DP_SIGMA!r} AS DOUBLE) AS sigma
        FROM noised
    """


@register(
    "dp_release_histogram",
    oracle=_dp_release_oracle(),
    ops=("A1",),
)
def dp_release_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REPRODUCIBLE NOISY-RELEASE histogram over the (lang, source)
    cells — the publication step after the k-anonymity /
    l-diversity / t-closeness audits: never release raw cell
    counts; add calibrated noise and suppress small cells.

    Mechanism shape: the Gaussian mechanism for an
    L2-sensitivity-1 histogram (each document contributes to
    exactly one cell), sigma = sqrt(2 ln(1.25/delta))/epsilon with
    (epsilon, delta) = (1.0, 1e-6), all three announced in-output
    like every tier knob in this repo. The noise is a DISCRETE
    CLT approximation of N(0, sigma^2): twelve 16-bit uniforms
    from the counter-based multiply-mod-p + xor-shift mixer
    (bootstrap_ci_mean's generator — rule 5b bit-portability;
    p = 4294967291 keeps every product under 2^63, ANSI-safe),
    summed and centered (Irwin-Hall-12), scaled by sigma/2^16 in
    double arithmetic whose only division is by a power of two.
    Released count clamps at zero; cells releasing below 10 are
    flagged suppressed (small-cell suppression).

    HONESTY NOTE (in code, not just prose): the noise stream is
    seeded and deterministic so that releases are reproducible and
    the DuckDB oracle can replicate them bit-for-bit — this is the
    mechanism SHAPE and accounting formula, not a certified DP
    implementation; a production release feeds a secret seed and a
    cryptographic PRNG, and the 12-uniform CLT discretization
    slightly perturbs the tail relative to an exact Gaussian.

    Scale shape: one map-side-combinable count aggregate over the
    corpus; ranking, mixing and noising all happen on the
    dimension-sized cell table (the partitionless row_number runs
    over the bounded (lang x source) value space — the sanctioned
    plan-audit class)."""
    from pyspark.sql import Window

    docs = read_star_table(spark, "documents", sf_dir)
    cells = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    ranked = cells.withColumn(
        "r",
        F.row_number().over(
            Window.orderBy("lang", "source")
        ),
    )
    M, A0, A1 = 4294967291, 1588635695, 1100087778
    # layered selects so each mixer state is a plain column
    # reference (rules 15/18c — never re-inlined per branch)
    tx = ranked.select(
        "lang",
        "source",
        "n",
        *[
            (
                (
                    (
                        F.lit(_DP_SEED)
                        + (F.col("r") - 1) * 12
                        + F.lit(k)
                    )
                    % M
                    * A0
                )
                % M
            ).alias(f"u{k}")
            for k in range(12)
        ],
    )
    wxx = tx.select(
        "lang",
        "source",
        "n",
        *[
            F.col(f"u{k}")
            .bitwiseXOR(F.shiftright(F.col(f"u{k}"), 15))
            .alias(f"w{k}")
            for k in range(12)
        ],
    )
    yxx = wxx.select(
        "lang",
        "source",
        "n",
        *[
            ((F.col(f"w{k}") * A1) % M).alias(f"y{k}")
            for k in range(12)
        ],
    )
    vxx = yxx.select(
        "lang",
        "source",
        "n",
        *[
            (
                F.col(f"y{k}")
                .bitwiseXOR(F.shiftright(F.col(f"y{k}"), 13))
                % 65536
            ).alias(f"v{k}")
            for k in range(12)
        ],
    )
    s = sum(F.col(f"v{k}") for k in range(12))
    noised = vxx.select(
        "lang",
        "source",
        "n",
        F.floor(
            F.lit(_DP_SIGMA)
            * (s.cast("double") - F.lit(393210.0))
            / F.lit(65536.0)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("z"),
    )
    released = F.greatest(
        F.lit(0).cast("bigint"),
        F.col("n") + F.col("z"),
    )
    return noised.select(
        "lang",
        "source",
        released.alias("released_count"),
        (released < F.lit(_DP_SUPPRESS)).alias("suppressed"),
        F.lit(float(_DP_EPS)).alias("epsilon"),
        F.lit(float(_DP_DELTA)).alias("delta"),
        F.lit(float(_DP_SIGMA)).alias("sigma"),
    )
