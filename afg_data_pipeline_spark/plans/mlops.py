"""Declared queries: ML-adjacent corpus operators — a trainable
quality/domain classifier (multinomial Naive Bayes), exact
classifier evaluation (ROC-AUC), and a Pareto-frontier (skyline)
selector.

These extend the reference's text surface the way a 100 TB
training-data pipeline needs: CCNet/fastText-style source filtering
is a *trained classifier* scoring every document (not just the
heuristic quality gates in plans/llm_ops.py), and any trained
filter needs an exact, engine-portable evaluation metric.

Exactness conventions: every ln() is quantized once to the 1e9
integer grid (CLAUDE.md rule 1c) so accumulation is exact integer
arithmetic; rank statistics (AUC) are computed from integer counts
with the doubled-rank trick, so the only float in each output is
one correctly-rounded final division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from afg_data_pipeline_spark.io import read_star_table
from afg_data_pipeline_spark.operators import text as TX
from afg_data_pipeline_spark.operators.classify import (
    nb_score,
    nb_train,
)
from afg_data_pipeline_spark.plans.registry import register


# NB oracle CTE chain through the per-doc argmax — shared verbatim
# by nb_classify_lang and classifier_eval_report so the two oracles
# can never drift.
_NB_ORACLE_CTES = """
        WITH train AS (
            SELECT doc_id, lang, text FROM documents
            WHERE doc_id % 2 = 0
        ),
        test AS MATERIALIZED (
            SELECT doc_id, lang, text FROM documents
            WHERE doc_id % 2 = 1
        ),
        ttok AS (
            SELECT lang AS cls,
                   unnest(regexp_split_to_array(trim(text),
                                                '\\s+')) AS token
            FROM train
        ),
        counts AS MATERIALIZED (
            SELECT cls, token, CAST(count(*) AS BIGINT) AS n_tc
            FROM ttok GROUP BY 1, 2
        ),
        totals AS (
            SELECT cls, CAST(sum(n_tc) AS BIGINT) AS t_c
            FROM counts GROUP BY 1
        ),
        vocab AS (
            SELECT CAST(count(DISTINCT token) AS BIGINT) AS v
            FROM counts
        ),
        ndocs AS (
            SELECT CAST(count(*) AS BIGINT) AS n FROM train
        ),
        priors AS (
            SELECT lang AS cls, CAST(count(*) AS BIGINT)
                       AS n_docs_c
            FROM train GROUP BY 1
        ),
        cmodel AS MATERIALIZED (
            SELECT t.cls,
                   CAST(round(ln(1.0 / (CAST(t.t_c AS DOUBLE)
                                        + CAST(v.v AS DOUBLE)))
                              * 1000000000.0) AS BIGINT)
                       AS floor_q,
                   CAST(round(ln(CAST(p.n_docs_c AS DOUBLE)
                                 / CAST(n.n AS DOUBLE))
                              * 1000000000.0) AS BIGINT)
                       AS prior_q,
                   t.t_c
            FROM totals t
            JOIN priors p USING (cls), vocab v, ndocs n
        ),
        tmodel AS MATERIALIZED (
            SELECT c.cls, c.token,
                   CAST(round(ln((CAST(c.n_tc AS DOUBLE) + 1.0)
                                 / (CAST(m.t_c AS DOUBLE)
                                    + CAST(v.v AS DOUBLE)))
                              * 1000000000.0) AS BIGINT)
                       AS term_q
            FROM counts c JOIN cmodel m USING (cls), vocab v
        ),
        stok AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(text),
                                                '\\s+')) AS token
            FROM test
        ),
        dtok AS (
            SELECT doc_id, token,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM stok GROUP BY 1, 2
        ),
        invocab AS (SELECT DISTINCT token FROM tmodel),
        perclass AS (
            SELECT d.doc_id, m.cls,
                   CAST(sum(d.cnt * COALESCE(t.term_q,
                                             m.floor_q))
                        AS BIGINT) AS tok_sum_q
            FROM dtok d
            JOIN invocab iv USING (token)
            CROSS JOIN cmodel m
            LEFT JOIN tmodel t
                ON t.token = d.token AND t.cls = m.cls
            GROUP BY 1, 2
        ),
        scores AS (
            SELECT te.doc_id, m.cls,
                   COALESCE(p.tok_sum_q, 0) + m.prior_q
                       AS score_q
            FROM test te
            CROSS JOIN cmodel m
            LEFT JOIN perclass p
                ON p.doc_id = te.doc_id AND p.cls = m.cls
        ),
        best AS (
            SELECT doc_id, cls, score_q,
                   row_number() OVER (
                       PARTITION BY doc_id
                       ORDER BY score_q DESC, cls ASC
                   ) AS rn
            FROM scores
        )
"""


@register(
    "nb_classify_lang",
    oracle=_NB_ORACLE_CTES
    + """
        SELECT b.doc_id, b.cls AS pred_cls,
               CAST(b.score_q AS DOUBLE) / 1000000000.0
                   AS score,
               te.lang AS actual_cls,
               CAST(CASE WHEN b.cls = te.lang THEN 1 ELSE 0 END
                    AS INTEGER) AS correct
        FROM best b JOIN test te USING (doc_id)
        WHERE b.rn = 1
    """,
    ops=("TEXT", "A1", "J1"),
)
def nb_classify_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multinomial Naive Bayes language classifier — train on the
    even-doc_id half of the corpus, score the odd half
    (operators/classify.py). The trained-filter pattern of a
    CCNet/fastText curation pipeline, engine-portably exact: every
    smoothed log-likelihood is quantized once to the 1e9 grid
    (rule 1c) so per-document accumulation is exact integer math.

    Scale: training is two map-side-combinable aggregates (the
    model is vocabulary-sized, checkpointed once — rule 12);
    scoring is one token-keyed join plus a |classes|-row broadcast
    fan-out; the per-doc argmax is a groupBy min(struct) — never a
    window (rule 19). No stage touches the corpus twice."""
    docs = read_star_table(spark, "documents", sf_dir)
    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 == 1)
    token_model, class_model = nb_train(
        train, "lang", TX.tokens("text")
    )
    scored = nb_score(
        test, "doc_id", TX.tokens("text"), token_model,
        class_model,
    )
    return scored.join(
        test.select(
            "doc_id", F.col("lang").alias("actual_cls")
        ),
        "doc_id",
    ).select(
        "doc_id",
        "pred_cls",
        "score",
        "actual_cls",
        (F.col("pred_cls") == F.col("actual_cls"))
        .cast("int")
        .alias("correct"),
    )


@register(
    "uncertainty_sample",
    oracle=_NB_ORACLE_CTES
    + """,
        top2 AS (
            SELECT a.doc_id, a.cls AS pred_cls,
                   b.cls AS runner_up_cls,
                   a.score_q - b.score_q AS margin_q
            FROM best a JOIN best b ON a.doc_id = b.doc_id
            WHERE a.rn = 1 AND b.rn = 2
        )
        SELECT t.doc_id, t.pred_cls, t.runner_up_cls,
               CAST(t.margin_q AS BIGINT) AS margin_q,
               CAST(t.margin_q AS DOUBLE) / 1000000000.0
                   AS margin,
               te.lang AS actual_cls
        FROM top2 t JOIN test te USING (doc_id)
        ORDER BY t.margin_q ASC, t.doc_id ASC
        LIMIT 32
    """,
    ops=("TEXT", "A1", "O2"),
)
def uncertainty_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ACTIVE-LEARNING SELECTION: the 32 most uncertain documents
    under the NB classifier — smallest top-1 vs top-2 log-posterior
    margin — the labeling-budget allocator of a classifier-driven
    curation loop (label where the filter is least sure, retrain,
    repeat). Margins are exact integer differences on the shared
    1e9 log grid (same trained model and quantization as
    nb_classify_lang — the oracle extends _NB_ORACLE_CTES, so the
    two can never drift), with (margin ASC, doc_id ASC) as the
    fully deterministic selection order.

    Scale: per-doc top-2 is a groupBy over the per-(doc, class)
    score frame with a sort_array(collect_list) of |classes|-sized
    structs — never a doc-partitioned window (rule 19); the final
    top-32 is a TakeOrderedAndProject, not a global sort."""
    docs = read_star_table(spark, "documents", sf_dir)
    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 == 1)
    token_model, class_model = nb_train(
        train, "lang", TX.tokens("text")
    )
    from afg_data_pipeline_spark.operators.classify import (
        nb_class_scores,
    )

    scores = nb_class_scores(
        test, "doc_id", TX.tokens("text"), token_model,
        class_model,
    )
    agg = scores.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    (-F.col("score_q")).alias("neg"), "cls"
                )
            )
        ).alias("arr")
    )
    top2 = agg.select(
        "doc_id",
        F.col("arr")[0]["cls"].alias("pred_cls"),
        F.col("arr")[1]["cls"].alias("runner_up_cls"),
        (F.col("arr")[1]["neg"] - F.col("arr")[0]["neg"])
        .cast("bigint")
        .alias("margin_q"),
    )
    return (
        top2.join(
            test.select(
                "doc_id", F.col("lang").alias("actual_cls")
            ),
            "doc_id",
        )
        .select(
            "doc_id",
            "pred_cls",
            "runner_up_cls",
            "margin_q",
            (F.col("margin_q").cast("double") / F.lit(1e9)).alias(
                "margin"
            ),
            "actual_cls",
        )
        .orderBy(F.col("margin_q").asc(), F.col("doc_id").asc())
        .limit(32)
    )


@register(
    "classifier_eval_auc",
    oracle="""
        WITH scored AS (
            SELECT CAST(embedding[1] AS DOUBLE) AS score,
                   CASE WHEN label >= 5 THEN 1 ELSE 0 END
                       AS is_pos
            FROM embeddings
        ),
        per_value AS (
            SELECT score,
                   CAST(sum(is_pos) AS BIGINT) AS n_pos_v,
                   CAST(sum(1 - is_pos) AS BIGINT) AS n_neg_v
            FROM scored GROUP BY 1
        ),
        cum AS (
            SELECT score, n_pos_v, n_neg_v,
                   CAST(sum(n_neg_v) OVER (
                       ORDER BY score
                       ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW
                   ) AS BIGINT) AS cum_neg_incl
            FROM per_value
        )
        SELECT
            CAST(sum(CAST(n_pos_v AS HUGEINT)
                     * (2 * CAST(cum_neg_incl - n_neg_v
                                 AS HUGEINT)
                        + CAST(n_neg_v AS HUGEINT)))
                 AS DOUBLE)
                / (2.0 * CAST(sum(n_pos_v) AS DOUBLE)
                   * CAST(sum(n_neg_v) AS DOUBLE)) AS auc,
            CAST(sum(n_pos_v) AS BIGINT) AS n_pos,
            CAST(sum(n_neg_v) AS BIGINT) AS n_neg
        FROM cum
    """,
    ops=("A1", "O1"),
)
def classifier_eval_auc(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact ROC-AUC of a score column against a binary label
    (Mann-Whitney U with mid-rank tie handling) — the evaluation
    half of the trained-filter story. Score = the first embedding
    component (raw stored float, no arithmetic — bit-identical
    across engines); positive class = label >= 5.

    Scale: the corpus collapses FIRST to one row per distinct
    score value (map-side-combinable counts); the cumulative
    negative count runs over that value-space-sized table via
    sharded_cumsum (operators/prefixsum.py — bit-identical to the
    single window, n_shards-way parallel); U is accumulated with
    the doubled-rank trick in DECIMAL(38,0) (n_pos·n_neg products
    have no provable 2^63 bound at corpus scale — rule 11); the
    only float is the one final correctly-rounded division
    (operators/classify.exact_auc)."""
    from afg_data_pipeline_spark.operators.classify import (
        exact_auc,
    )

    emb = read_star_table(spark, "embeddings", sf_dir)
    scored = emb.select(
        F.element_at("embedding", 1).cast("double")
        .alias("score"),
        F.when(F.col("label") >= 5, F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_pos"),
    )
    return exact_auc(scored, "score", "is_pos")


@register(
    "pareto_frontier",
    oracle="""
        WITH pts AS (
            SELECT p_partkey, p_name, p_retailprice, p_size,
                   CAST(round(p_retailprice * 100) AS BIGINT)
                       AS pc
            FROM part
        ),
        pp AS (
            SELECT pc, min(p_size) AS min_size
            FROM pts GROUP BY 1
        ),
        w AS (
            SELECT pc, min_size,
                   min(min_size) OVER (
                       ORDER BY pc
                       ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING
                   ) AS runmin_prev
            FROM pp
        )
        SELECT p.p_partkey, p.p_name,
               p.p_retailprice AS price, p.p_size
        FROM pts p JOIN w USING (pc)
        WHERE p.p_size = w.min_size
          AND (w.runmin_prev IS NULL
               OR p.p_size < w.runmin_prev)
    """,
    ops=("O2", "A1"),
)
def pareto_frontier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """2-D Pareto frontier (skyline): parts not dominated on
    (retail price, size) — q dominates p iff q is <= on both
    dimensions and strictly < on at least one. The multi-objective
    shortlist query of procurement/model-selection dashboards.

    Scale: the corpus collapses to one row per DISTINCT price
    (cents-exact groupBy min(size) — map-side combinable); the
    frontier test is a running min over that table, whose size is
    bounded by the price VALUE SPACE (~100k cent values),
    constant in corpus size — so the global one-task window is
    bounded work at any scale, and survivors re-join the corpus
    on the price key. Equal (price, size) duplicates are mutually
    non-dominating and all surface, exactly as the dominance
    definition demands."""
    from pyspark.sql import Window

    part = read_star_table(spark, "part", sf_dir)
    pts = part.select(
        "p_partkey",
        "p_name",
        "p_retailprice",
        "p_size",
        F.round(F.col("p_retailprice") * 100)
        .cast("bigint")
        .alias("pc"),
    )
    pp = pts.groupBy("pc").agg(
        F.min("p_size").alias("min_size")
    )
    w = (
        Window.orderBy("pc")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frontier_prices = pp.withColumn(
        "runmin_prev", F.min("min_size").over(w)
    )
    return (
        pts.join(frontier_prices, "pc")
        .filter(
            (F.col("p_size") == F.col("min_size"))
            & (
                F.col("runmin_prev").isNull()
                | (F.col("p_size") < F.col("runmin_prev"))
            )
        )
        .select(
            "p_partkey",
            "p_name",
            F.col("p_retailprice").alias("price"),
            "p_size",
        )
    )


@register(
    "distribution_drift_psi",
    oracle="""
        WITH vc AS (
            SELECT n_chars AS v, count(*) AS c
            FROM documents GROUP BY 1
        ),
        cum AS (
            SELECT v,
                   SUM(c) OVER (ORDER BY v
                                ROWS UNBOUNDED PRECEDING) AS cum,
                   SUM(c) OVER () AS n
            FROM vc
        ),
        cuts AS (
            SELECT min(CASE WHEN cum >= (n * 1 + 9) // 10 THEN v END) AS p10,
                   min(CASE WHEN cum >= (n * 1 + 4) // 5 THEN v END) AS p20,
                   min(CASE WHEN cum >= (n * 3 + 9) // 10 THEN v END) AS p30,
                   min(CASE WHEN cum >= (n * 2 + 4) // 5 THEN v END) AS p40,
                   min(CASE WHEN cum >= (n * 1 + 1) // 2 THEN v END) AS p50,
                   min(CASE WHEN cum >= (n * 3 + 4) // 5 THEN v END) AS p60,
                   min(CASE WHEN cum >= (n * 7 + 9) // 10 THEN v END) AS p70,
                   min(CASE WHEN cum >= (n * 4 + 4) // 5 THEN v END) AS p80,
                   min(CASE WHEN cum >= (n * 9 + 9) // 10 THEN v END) AS p90
            FROM cum
        ),
        binned AS (
            SELECT d.source,
                   CAST(n_chars > c.p10 AS INTEGER)
                   + CAST(n_chars > c.p20 AS INTEGER)
                   + CAST(n_chars > c.p30 AS INTEGER)
                   + CAST(n_chars > c.p40 AS INTEGER)
                   + CAST(n_chars > c.p50 AS INTEGER)
                   + CAST(n_chars > c.p60 AS INTEGER)
                   + CAST(n_chars > c.p70 AS INTEGER)
                   + CAST(n_chars > c.p80 AS INTEGER)
                   + CAST(n_chars > c.p90 AS INTEGER) AS bin
            FROM documents d, cuts c
        ),
        sc AS (
            SELECT source, bin, CAST(count(*) AS BIGINT) AS c
            FROM binned GROUP BY 1, 2
        ),
        ns AS (
            SELECT source, CAST(count(*) AS BIGINT) AS n_s
            FROM documents GROUP BY 1
        ),
        tb AS (
            SELECT bin, CAST(sum(c) AS BIGINT) AS c_tot
            FROM sc GROUP BY 1
        ),
        nn AS (
            SELECT CAST(count(*) AS BIGINT) AS n FROM documents
        ),
        grid AS (
            SELECT s.source, b.bin, s.n_s, nn.n
            FROM ns s,
                 (SELECT unnest(generate_series(0, 9)) AS bin) b,
                 nn
        ),
        pq AS (
            SELECT g.source, g.n_s,
                   (CAST(COALESCE(s.c, 0) + 1 AS DOUBLE))
                       / (CAST(g.n_s AS DOUBLE) + 10.0) AS p,
                   (CAST(t.c_tot - COALESCE(s.c, 0) + 1
                         AS DOUBLE))
                       / (CAST(g.n - g.n_s AS DOUBLE) + 10.0)
                       AS q
            FROM grid g
            LEFT JOIN sc s
              ON s.source = g.source AND s.bin = g.bin
            JOIN tb t ON t.bin = g.bin
        ),
        terms AS (
            SELECT source, n_s,
                   CAST(round(((p - q) * ln(p / q))
                              * 1000000000000.0) AS BIGINT)
                       AS term_q
            FROM pq
        )
        SELECT source,
               CAST(max(n_s) AS BIGINT) AS n_docs,
               CAST(CAST(sum(term_q) AS BIGINT) AS DOUBLE)
                   / 1000000000000.0 AS psi
        FROM terms GROUP BY source
    """,
    ops=("A2", "A1"),
)
def distribution_drift_psi(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DISTRIBUTION-DRIFT monitor: the Population Stability Index
    of each source's document-length distribution against the rest
    of the corpus, over the corpus's own global decile bins — the
    production-ML drift gate ("did this feed change shape") run
    leave-one-out across ingest sources. PSI < 0.1 is the classic
    stable threshold; > 0.25 flags a shifted feed.

    Exactness: the ten bins come from exact-rational ceil(q·n)
    discrete percentiles of the value-compressed length table;
    bin shares are Laplace-smoothed exact integer ratios; each
    bin's PSI term (p−q)·ln(p/q) is an identically-shaped double
    expression on both engines snapped once to the 1e12 grid
    (rule 1c) so the sum is exact integer math. Scale: one
    value-compressed cumulative window for the cuts (never a
    corpus sort), one broadcast of the 9 cuts, one
    (source × 10)-cell grid for the rest."""
    from functools import reduce

    from afg_data_pipeline_spark.operators.quantiles import (
        grouped_percentile_disc,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    qs = [i / 10 for i in range(1, 10)]
    cuts = grouped_percentile_disc(
        docs.select(F.lit(1).alias("g"), "n_chars"),
        "g",
        "n_chars",
        qs,
    ).drop("g", "n")
    names = [f"p{int(q * 100)}" for q in qs]
    binned = docs.select("source", "n_chars").crossJoin(
        F.broadcast(cuts)
    ).select(
        "source",
        reduce(
            lambda a, b: a + b,
            [
                (F.col("n_chars") > F.col(nm)).cast("int")
                for nm in names
            ],
        ).alias("bin"),
    )
    sc = binned.groupBy("source", "bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).localCheckpoint(eager=False)
    ns = sc.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_s")
    )
    tb = sc.groupBy("bin").agg(
        F.sum("c").cast("bigint").alias("c_tot")
    )
    nn = sc.agg(F.sum("c").cast("bigint").alias("n"))
    grid = (
        ns.crossJoin(
            F.broadcast(
                spark.range(10).select(
                    F.col("id").cast("int").alias("bin")
                )
            )
        )
        .crossJoin(F.broadcast(nn))
        .join(sc, ["source", "bin"], "left")
        .join(F.broadcast(tb), "bin")
    )
    pq = grid.select(
        "source",
        "n_s",
        (
            (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
            / (F.col("n_s").cast("double") + F.lit(10.0))
        ).alias("p"),
        (
            (
                F.col("c_tot")
                - F.coalesce(F.col("c"), F.lit(0))
                + 1
            ).cast("double")
            / (
                (F.col("n") - F.col("n_s")).cast("double")
                + F.lit(10.0)
            )
        ).alias("q"),
    )
    terms = pq.select(
        "source",
        "n_s",
        F.round(
            F.expr("(p - q) * ln(p / q)") * F.lit(1e12)
        )
        .cast("bigint")
        .alias("term_q"),
    )
    return terms.groupBy("source").agg(
        F.max("n_s").cast("bigint").alias("n_docs"),
        (
            F.sum("term_q").cast("bigint").cast("double")
            / F.lit(1e12)
        ).alias("psi"),
    )


@register(
    "ab_test_welch",
    oracle="""
        WITH base AS (
            SELECT event_type,
                   CAST(user_id % 2 AS INTEGER) AS grp,
                   CAST(round(CAST(value AS DOUBLE) * 100)
                        AS BIGINT) AS x
            FROM events
        ),
        m AS (
            SELECT event_type,
                   CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END)
                        AS DOUBLE) AS na,
                   CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END)
                        AS DOUBLE) AS nb,
                   CAST(CAST(sum(CASE WHEN grp = 0 THEN x
                                      ELSE 0 END) AS HUGEINT)
                        AS DOUBLE) AS sxa,
                   CAST(CAST(sum(CASE WHEN grp = 1 THEN x
                                      ELSE 0 END) AS HUGEINT)
                        AS DOUBLE) AS sxb,
                   CAST(SUM(CASE WHEN grp = 0
                                 THEN CAST(x AS HUGEINT) * x
                                 ELSE 0 END) AS DOUBLE) AS sxxa,
                   CAST(SUM(CASE WHEN grp = 1
                                 THEN CAST(x AS HUGEINT) * x
                                 ELSE 0 END) AS DOUBLE) AS sxxb
            FROM base GROUP BY event_type
        ),
        mm AS (
            SELECT event_type, na, nb,
                   (sxa / na) AS ma, (sxb / nb) AS mb,
                   ((na * sxxa - sxa * sxa) / (na * (na - 1.0))) AS va, ((nb * sxxb - sxb * sxb) / (nb * (nb - 1.0))) AS vb
            FROM m WHERE na > 1 AND nb > 1
        )
        SELECT event_type,
               CAST(na AS BIGINT) AS n_a,
               CAST(nb AS BIGINT) AS n_b,
               ma AS mean_a_cents, mb AS mean_b_cents,
               ((ma - mb) / sqrt(va / na + vb / nb)) AS t_stat,
               (pow(va / na + vb / nb, 2.0) / (pow(va / na, 2.0) / (na - 1.0) + pow(vb / nb, 2.0) / (nb - 1.0))) AS welch_df
        FROM mm
    """,
    ops=("A1", "F10"),
)
def ab_test_welch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WELCH two-sample t-test per event_type between the two
    deterministic user cohorts (user_id parity — the A/B hash
    split of an experimentation pipeline): cohort sizes, means,
    the t statistic, and the Welch–Satterthwaite degrees of
    freedom. The unequal-variance test is the default of modern
    experiment analysis (never pooled-variance Student t).

    Exactness: per-cohort count/sum/sum-of-squares are exact
    integer aggregates in one map-side-combinable pass
    (DECIMAL(38,0) for the squares, rule 11); every double
    formula — means, sample variances, t, df — is ONE SHARED infix
    string parsed by both engines (the ols_multifeature
    discipline), so operation order is identical by construction.
    Types with a degenerate cohort (n <= 1) are excluded rather
    than reported with fake zeros."""
    ev = read_star_table(spark, "events", sf_dir)
    x = F.round(F.col("value").cast("double") * 100).cast(
        "bigint"
    )
    base = ev.select(
        "event_type",
        (F.col("user_id") % 2).cast("int").alias("grp"),
        x.alias("x"),
    )
    dx = F.col("x").cast("decimal(38,0)")
    is_a = F.col("grp") == 0
    m = base.groupBy("event_type").agg(
        F.sum(F.when(is_a, 1).otherwise(0))
        .cast("double")
        .alias("na"),
        F.sum(F.when(~is_a, 1).otherwise(0))
        .cast("double")
        .alias("nb"),
        F.sum(F.when(is_a, dx).otherwise(F.lit(0).cast("decimal(38,0)")))
        .cast("double")
        .alias("sxa"),
        F.sum(F.when(~is_a, dx).otherwise(F.lit(0).cast("decimal(38,0)")))
        .cast("double")
        .alias("sxb"),
        F.sum(F.when(is_a, dx * dx).otherwise(F.lit(0).cast("decimal(38,0)")))
        .cast("double")
        .alias("sxxa"),
        F.sum(F.when(~is_a, dx * dx).otherwise(F.lit(0).cast("decimal(38,0)")))
        .cast("double")
        .alias("sxxb"),
    )
    mm = m.filter(
        (F.col("na") > 1) & (F.col("nb") > 1)
    ).select(
        "event_type",
        "na",
        "nb",
        F.expr("(sxa / na)").alias("ma"),
        F.expr("(sxb / nb)").alias("mb"),
        F.expr("((na * sxxa - sxa * sxa) / (na * (na - 1.0)))").alias("va"),
        F.expr("((nb * sxxb - sxb * sxb) / (nb * (nb - 1.0)))").alias("vb"),
    )
    return mm.select(
        "event_type",
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.col("ma").alias("mean_a_cents"),
        F.col("mb").alias("mean_b_cents"),
        F.expr("((ma - mb) / sqrt(va / na + vb / nb))").alias("t_stat"),
        F.expr("(pow(va / na + vb / nb, 2.0) / (pow(va / na, 2.0) / (na - 1.0) + pow(vb / nb, 2.0) / (nb - 1.0)))").alias("welch_df"),
    )


@register(
    "ols_multifeature",
    oracle="""
        WITH base AS (
            SELECT event_type,
                   CAST(hour(ts) AS BIGINT) AS x1,
                   -- DuckDB dayofweek is 0-6, Spark 1-7 (the
                   -- seasonal_anomaly_flags convention): shift +1
                   CAST(dayofweek(ts) + 1 AS BIGINT) AS x2,
                   CAST(round(CAST(value AS DOUBLE) * 100)
                        AS BIGINT) AS y
            FROM events
        ),
        m AS (
            SELECT event_type,
                   CAST(count(*) AS DOUBLE) AS n,
                   CAST(CAST(sum(x1) AS HUGEINT) AS DOUBLE)
                       AS sx1,
                   CAST(CAST(sum(x2) AS HUGEINT) AS DOUBLE)
                       AS sx2,
                   CAST(SUM(CAST(x1 AS HUGEINT) * x1) AS DOUBLE)
                       AS sxx1,
                   CAST(SUM(CAST(x2 AS HUGEINT) * x2) AS DOUBLE)
                       AS sxx2,
                   CAST(SUM(CAST(x1 AS HUGEINT) * x2) AS DOUBLE)
                       AS sx12,
                   CAST(CAST(sum(y) AS HUGEINT) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(x1 AS HUGEINT) * y) AS DOUBLE)
                       AS sx1y,
                   CAST(SUM(CAST(x2 AS HUGEINT) * y) AS DOUBLE)
                       AS sx2y
            FROM base GROUP BY event_type
        )
        SELECT event_type,
               CAST(n AS BIGINT) AS n_obs,
               (sy*(sxx1*sxx2 - sx12*sx12) - sx1*(sx1y*sxx2 - sx12*sx2y) + sx2*(sx1y*sx12 - sxx1*sx2y)) / nullif((n*(sxx1*sxx2 - sx12*sx12) - sx1*(sx1*sxx2 - sx12*sx2) + sx2*(sx1*sx12 - sxx1*sx2)), 0.0) AS b0,
               (n*(sx1y*sxx2 - sx12*sx2y) - sy*(sx1*sxx2 - sx12*sx2) + sx2*(sx1*sx2y - sx2*sx1y)) / nullif((n*(sxx1*sxx2 - sx12*sx12) - sx1*(sx1*sxx2 - sx12*sx2) + sx2*(sx1*sx12 - sxx1*sx2)), 0.0) AS b1_hour,
               (n*(sxx1*sx2y - sx1y*sx12) - sx1*(sx1*sx2y - sx2*sx1y) + sy*(sx1*sx12 - sx2*sxx1)) / nullif((n*(sxx1*sxx2 - sx12*sx12) - sx1*(sx1*sxx2 - sx12*sx2) + sx2*(sx1*sx12 - sxx1*sx2)), 0.0) AS b2_dow
        FROM m
    """,
    ops=("A1", "F10"),
)
def ols_multifeature(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MULTI-FEATURE closed-form OLS per group: cents ~ b0 +
    b1·hour-of-day + b2·day-of-week per event_type, solved by
    Cramer's rule on the 3x3 normal equations — the M1 forecast
    family generalized beyond one regressor, still with zero
    iteration and zero collect. Collinear groups (singular normal
    matrix) yield NULL coefficients via nullif, the
    ols_forecast convention.

    Exactness: all nine moment sums are exact integer aggregates
    (DECIMAL(38,0) accumulation — x·y products have no provable
    2^63 bound at corpus scale, rule 11); the Cramer determinants
    are evaluated from ONE SHARED infix formula string parsed by
    both engines (identical double operation order, the
    ols_forecast_sql twin-expression discipline). Scale: one
    map-side-combinable aggregate; the solve is per-group constant
    work."""
    ev = read_star_table(spark, "events", sf_dir)
    base = ev.select(
        "event_type",
        F.hour("ts").cast("bigint").alias("x1"),
        F.dayofweek("ts").cast("bigint").alias("x2"),
        F.round(F.col("value").cast("double") * 100)
        .cast("bigint")
        .alias("y"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(dec("x1")).cast("double").alias("sx1"),
        F.sum(dec("x2")).cast("double").alias("sx2"),
        F.sum(dec("x1") * dec("x1")).cast("double").alias("sxx1"),
        F.sum(dec("x2") * dec("x2")).cast("double").alias("sxx2"),
        F.sum(dec("x1") * dec("x2")).cast("double").alias("sx12"),
        F.sum(dec("y")).cast("double").alias("sy"),
        F.sum(dec("x1") * dec("y")).cast("double").alias("sx1y"),
        F.sum(dec("x2") * dec("y")).cast("double").alias("sx2y"),
    )
    # ONE shared infix string per coefficient, parsed by BOTH
    # engines — identical double evaluation order by construction.
    return m.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_obs"),
        F.expr("(sy*(sxx1*sxx2 - sx12*sx12) - sx1*(sx1y*sxx2 - sx12*sx2y) + sx2*(sx1y*sx12 - sxx1*sx2y)) / nullif((n*(sxx1*sxx2 - sx12*sx12) - sx1*(sx1*sxx2 - sx12*sx2) + sx2*(sx1*sx12 - sxx1*sx2)), 0.0)").alias("b0"),
        F.expr("(n*(sx1y*sxx2 - sx12*sx2y) - sy*(sx1*sxx2 - sx12*sx2) + sx2*(sx1*sx2y - sx2*sx1y)) / nullif((n*(sxx1*sxx2 - sx12*sx12) - sx1*(sx1*sxx2 - sx12*sx2) + sx2*(sx1*sx12 - sxx1*sx2)), 0.0)").alias("b1_hour"),
        F.expr("(n*(sxx1*sx2y - sx1y*sx12) - sx1*(sx1*sx2y - sx2*sx1y) + sy*(sx1*sx12 - sx2*sxx1)) / nullif((n*(sxx1*sxx2 - sx12*sx12) - sx1*(sx1*sxx2 - sx12*sx2) + sx2*(sx1*sx12 - sxx1*sx2)), 0.0)").alias("b2_dow"),
    )


@register(
    "bootstrap_ci_mean",
    oracle="""
        WITH base AS (
            SELECT event_id, event_type,
                   CAST(round(CAST(value AS DOUBLE) * 100)
                        AS BIGINT) AS cents
            FROM events
        ),
        rs AS (
            SELECT s.g, base.event_type, base.cents,
                   (base.event_id % 4294967291) * 48 + s.g * 8
                       AS t0
            FROM base,
                 (SELECT unnest(generate_series(0, 5))
                      AS g) s
        ),
        ux AS (
            SELECT event_type, g, cents,
                   ((t0 + 0) % 4294967291 * 1588635695)
                       % 4294967291 AS u0,
                   ((t0 + 1) % 4294967291 * 1588635695)
                       % 4294967291 AS u1,
                   ((t0 + 2) % 4294967291 * 1588635695)
                       % 4294967291 AS u2,
                   ((t0 + 3) % 4294967291 * 1588635695)
                       % 4294967291 AS u3,
                   ((t0 + 4) % 4294967291 * 1588635695)
                       % 4294967291 AS u4,
                   ((t0 + 5) % 4294967291 * 1588635695)
                       % 4294967291 AS u5,
                   ((t0 + 6) % 4294967291 * 1588635695)
                       % 4294967291 AS u6,
                   ((t0 + 7) % 4294967291 * 1588635695)
                       % 4294967291 AS u7
            FROM rs
        ),
        wx AS (
            SELECT event_type, g, cents,
                   xor(u0, u0 >> 15) AS w0,
                   xor(u1, u1 >> 15) AS w1,
                   xor(u2, u2 >> 15) AS w2,
                   xor(u3, u3 >> 15) AS w3,
                   xor(u4, u4 >> 15) AS w4,
                   xor(u5, u5 >> 15) AS w5,
                   xor(u6, u6 >> 15) AS w6,
                   xor(u7, u7 >> 15) AS w7
            FROM ux
        ),
        yx AS (
            SELECT event_type, g, cents,
                   (w0 * 1100087778) % 4294967291 AS y0,
                   (w1 * 1100087778) % 4294967291 AS y1,
                   (w2 * 1100087778) % 4294967291 AS y2,
                   (w3 * 1100087778) % 4294967291 AS y3,
                   (w4 * 1100087778) % 4294967291 AS y4,
                   (w5 * 1100087778) % 4294967291 AS y5,
                   (w6 * 1100087778) % 4294967291 AS y6,
                   (w7 * 1100087778) % 4294967291 AS y7
            FROM wx
        ),
        vx AS (
            SELECT event_type, g, cents,
                   xor(y0, y0 >> 13) % 65536 AS v0,
                   xor(y1, y1 >> 13) % 65536 AS v1,
                   xor(y2, y2 >> 13) % 65536 AS v2,
                   xor(y3, y3 >> 13) % 65536 AS v3,
                   xor(y4, y4 >> 13) % 65536 AS v4,
                   xor(y5, y5 >> 13) % 65536 AS v5,
                   xor(y6, y6 >> 13) % 65536 AS v6,
                   xor(y7, y7 >> 13) % 65536 AS v7
            FROM yx
        ),
        mm AS (
            SELECT event_type, g, cents,
                   CASE WHEN v0 < 24109 THEN 0
                        WHEN v0 < 48218 THEN 1
                        WHEN v0 < 60273 THEN 2
                        WHEN v0 < 64291 THEN 3
                        WHEN v0 < 65296 THEN 4
                        ELSE 5 END AS m0,
                   CASE WHEN v1 < 24109 THEN 0
                        WHEN v1 < 48218 THEN 1
                        WHEN v1 < 60273 THEN 2
                        WHEN v1 < 64291 THEN 3
                        WHEN v1 < 65296 THEN 4
                        ELSE 5 END AS m1,
                   CASE WHEN v2 < 24109 THEN 0
                        WHEN v2 < 48218 THEN 1
                        WHEN v2 < 60273 THEN 2
                        WHEN v2 < 64291 THEN 3
                        WHEN v2 < 65296 THEN 4
                        ELSE 5 END AS m2,
                   CASE WHEN v3 < 24109 THEN 0
                        WHEN v3 < 48218 THEN 1
                        WHEN v3 < 60273 THEN 2
                        WHEN v3 < 64291 THEN 3
                        WHEN v3 < 65296 THEN 4
                        ELSE 5 END AS m3,
                   CASE WHEN v4 < 24109 THEN 0
                        WHEN v4 < 48218 THEN 1
                        WHEN v4 < 60273 THEN 2
                        WHEN v4 < 64291 THEN 3
                        WHEN v4 < 65296 THEN 4
                        ELSE 5 END AS m4,
                   CASE WHEN v5 < 24109 THEN 0
                        WHEN v5 < 48218 THEN 1
                        WHEN v5 < 60273 THEN 2
                        WHEN v5 < 64291 THEN 3
                        WHEN v5 < 65296 THEN 4
                        ELSE 5 END AS m5,
                   CASE WHEN v6 < 24109 THEN 0
                        WHEN v6 < 48218 THEN 1
                        WHEN v6 < 60273 THEN 2
                        WHEN v6 < 64291 THEN 3
                        WHEN v6 < 65296 THEN 4
                        ELSE 5 END AS m6,
                   CASE WHEN v7 < 24109 THEN 0
                        WHEN v7 < 48218 THEN 1
                        WHEN v7 < 60273 THEN 2
                        WHEN v7 < 64291 THEN 3
                        WHEN v7 < 65296 THEN 4
                        ELSE 5 END AS m7
            FROM vx
        ),
        agg0 AS (
            SELECT event_type, g,
                   CAST(sum(m0) AS BIGINT) AS n0,
                   CAST(sum(m0 * cents) AS BIGINT) AS w0,
                   CAST(sum(m1) AS BIGINT) AS n1,
                   CAST(sum(m1 * cents) AS BIGINT) AS w1,
                   CAST(sum(m2) AS BIGINT) AS n2,
                   CAST(sum(m2 * cents) AS BIGINT) AS w2,
                   CAST(sum(m3) AS BIGINT) AS n3,
                   CAST(sum(m3 * cents) AS BIGINT) AS w3,
                   CAST(sum(m4) AS BIGINT) AS n4,
                   CAST(sum(m4 * cents) AS BIGINT) AS w4,
                   CAST(sum(m5) AS BIGINT) AS n5,
                   CAST(sum(m5 * cents) AS BIGINT) AS w5,
                   CAST(sum(m6) AS BIGINT) AS n6,
                   CAST(sum(m6 * cents) AS BIGINT) AS w6,
                   CAST(sum(m7) AS BIGINT) AS n7,
                   CAST(sum(m7 * cents) AS BIGINT) AS w7
            FROM mm GROUP BY 1, 2
        ),
        agg AS (
            SELECT event_type,
                   g * 8 + j.j AS b,
                   CASE j.j WHEN 0 THEN n0 WHEN 1 THEN n1
                            WHEN 2 THEN n2 WHEN 3 THEN n3
                            WHEN 4 THEN n4 WHEN 5 THEN n5
                            WHEN 6 THEN n6 ELSE n7 END AS n_eff,
                   CASE j.j WHEN 0 THEN w0 WHEN 1 THEN w1
                            WHEN 2 THEN w2 WHEN 3 THEN w3
                            WHEN 4 THEN w4 WHEN 5 THEN w5
                            WHEN 6 THEN w6 ELSE w7 END AS wsum
            FROM agg0,
                 (SELECT unnest(generate_series(0, 7)) AS j) j
        ),
        means AS (
            SELECT event_type, b,
                   CAST(wsum AS DOUBLE) / CAST(n_eff AS DOUBLE)
                       AS mean_b,
                   row_number() OVER (
                       PARTITION BY event_type
                       ORDER BY CAST(wsum AS DOUBLE)
                                / CAST(n_eff AS DOUBLE) ASC,
                                b ASC) AS rn
            FROM agg WHERE n_eff > 0
        ),
        ci AS (
            SELECT event_type,
                   max(CASE WHEN rn = 2 THEN mean_b END)
                       AS ci_lo_cents,
                   max(CASE WHEN rn = 47 THEN mean_b END)
                       AS ci_hi_cents
            FROM means GROUP BY 1
        ),
        fullm AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE) AS mean_cents
            FROM base GROUP BY 1
        )
        SELECT f.event_type, f.n, f.mean_cents,
               c.ci_lo_cents, c.ci_hi_cents
        FROM fullm f JOIN ci c USING (event_type)
    """,
    ops=("A1", "O1"),
)
def bootstrap_ci_mean(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DETERMINISTIC Poisson-bootstrap 95% confidence interval for
    the per-event-type mean value — the resampling machinery of a
    large-scale eval pipeline with the randomness replaced by
    deterministic arithmetic, so two engines (and two runs)
    produce identical intervals. Each of B=48 resamples draws row
    multiplicity m ~ Poisson(1) (capped at 5) from a COUNTER-BASED
    integer mixer over t = event_id·48 + b: two rounds of
    multiply-mod-p (p = 4294967291, the largest 32-bit prime —
    state × 2^31 multiplier stays under 2^63, ANSI-overflow-safe)
    interleaved with xor-shift rounds (the nonlinearity; a purely
    affine chain left 0.94 cross-draw correlation, the mixed form
    measures <0.008 with Poisson marginals exact to 4 decimals),
    then the low 16 bits against integer CDF thresholds
    floor(CDF_k·2^16). NO HASHING AT ALL — r7's md5 formulation
    (6 md5/row, eight 16-bit slices each, hex-literal thresholds)
    was decomposed to md5 primitive throughput as its 3.0× sf10
    bottleneck; the mixer replaces every md5 with ~12 codegen
    integer ops that DuckDB (xor(), >>, %) and Spark (^, >>, %)
    evaluate bit-identically. Resample means are single divisions
    of exact BIGINT sums; the CI picks ranks 2 and 47 of the 48
    sorted means (2.5/97.5%). Poisson bootstrap (Chamandy et al.,
    "Estimating Uncertainty for Massive Data Streams") is THE
    bootstrap that distributes: each row draws its multiplicity
    independently — no global-n resampling, one pass, map-side
    combinable.

    Scale shape: the 6-fold explode runs AFTER a round-robin
    repartition (rule 3 — AQE sizes partitions from pre-expansion
    bytes); the mixer states are LAYERED selects so each step is
    a column reference, never a re-inlined subtree (rule 18c/15 —
    CollapseProject would otherwise duplicate the chain per CASE
    branch); the rank window runs on the B-rows-per-group means
    table, never the corpus."""
    from pyspark.sql import Window

    ev = read_star_table(spark, "events", sf_dir)
    par = spark.sparkContext.defaultParallelism
    base = ev.select(
        "event_id",
        "event_type",
        F.round(F.col("value").cast("double") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    # rule-3 pre-expansion repartition, rule-20 stats-gated: only
    # when the scan's natural split count underfills the cores —
    # a well-split source skips a full-corpus shuffle. Per (row,
    # g in 0..5), eight counter-based draws ride as columns into
    # a 16-sum aggregate, and the tiny (|types| x 6)-row result
    # unpivots to (type, b) — the 48-way row expansion never
    # materializes.
    if base.rdd.getNumPartitions() < par:
        base = base.repartition(par)
    M, A0, A1 = 4294967291, 1588635695, 1100087778
    rs = base.select(
        "event_type",
        "cents",
        ((F.col("event_id") % M) * 48).alias("e48"),
        F.explode(
            F.array(*[F.lit(g) for g in range(6)])
        ).alias("g"),
    )
    # Counter-based mixer, one LAYER per round so every step is a
    # plain column reference in the next select (CollapseProject
    # refuses to inline non-cheap multiply-referenced aliases, so
    # the codegen evaluates each state exactly once — no subtree
    # re-expansion into the CASE branches, rules 15/18c).
    ux = rs.select(
        "event_type",
        "g",
        "cents",
        *[
            (
                (
                    (F.col("e48") + F.col("g") * 8 + F.lit(k))
                    % M
                    * A0
                )
                % M
            ).alias(f"u{k}")
            for k in range(8)
        ],
    )
    wx = ux.select(
        "event_type",
        "g",
        "cents",
        *[
            (
                F.col(f"u{k}")
                .bitwiseXOR(F.shiftright(F.col(f"u{k}"), 15))
            ).alias(f"w{k}")
            for k in range(8)
        ],
    )
    yx = wx.select(
        "event_type",
        "g",
        "cents",
        *[
            ((F.col(f"w{k}") * A1) % M).alias(f"y{k}")
            for k in range(8)
        ],
    )
    vx = yx.select(
        "event_type",
        "g",
        "cents",
        *[
            (
                F.col(f"y{k}")
                .bitwiseXOR(F.shiftright(F.col(f"y{k}"), 13))
                % 65536
            ).alias(f"v{k}")
            for k in range(8)
        ],
    )

    # Integer Poisson(1) CDF thresholds floor(CDF_k * 2^16) — the
    # same constants the r7 hex literals encoded ('5e2d' = 24109).
    def _m(c):
        return (
            F.when(c < 24109, 0)
            .when(c < 48218, 1)
            .when(c < 60273, 2)
            .when(c < 64291, 3)
            .when(c < 65296, 4)
            .otherwise(5)
        )

    mm = vx.select(
        "event_type",
        "g",
        "cents",
        *[_m(F.col(f"v{j}")).alias(f"m{j}") for j in range(8)],
    )
    agg0 = mm.groupBy("event_type", "g").agg(
        *[
            a
            for j in range(8)
            for a in (
                F.sum(f"m{j}").cast("bigint").alias(f"n{j}"),
                F.sum(F.col(f"m{j}") * F.col("cents"))
                .cast("bigint")
                .alias(f"w{j}"),
            )
        ]
    )
    agg = agg0.select(
        "event_type",
        "g",
        F.posexplode(
            F.array(
                *[
                    F.struct(
                        F.col(f"n{j}").alias("n_eff"),
                        F.col(f"w{j}").alias("wsum"),
                    )
                    for j in range(8)
                ]
            )
        ).alias("j", "x"),
    ).select(
        "event_type",
        (F.col("g") * 8 + F.col("j")).alias("b"),
        F.col("x.n_eff").alias("n_eff"),
        F.col("x.wsum").alias("wsum"),
    )
    means = agg.filter(F.col("n_eff") > 0).select(
        "event_type",
        "b",
        (
            F.col("wsum").cast("double")
            / F.col("n_eff").cast("double")
        ).alias("mean_b"),
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("mean_b").asc(), F.col("b").asc()
    )
    ranked = means.withColumn("rn", F.row_number().over(w))
    ci = ranked.groupBy("event_type").agg(
        F.max(
            F.when(F.col("rn") == 2, F.col("mean_b"))
        ).alias("ci_lo_cents"),
        F.max(
            F.when(F.col("rn") == 47, F.col("mean_b"))
        ).alias("ci_hi_cents"),
    )
    fullm = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (
            F.sum("cents").cast("bigint").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_cents"),
    )
    return fullm.join(ci, "event_type")


@register(
    "classifier_kappa",
    oracle=_NB_ORACLE_CTES
    + """,
        preds AS (
            SELECT b.doc_id, b.cls AS pred_cls, te.lang
                       AS actual_cls
            FROM best b JOIN test te USING (doc_id)
            WHERE b.rn = 1
        ),
        m AS (
            SELECT CAST(count(*) AS DOUBLE) AS n,
                   CAST(sum(CASE WHEN pred_cls = actual_cls
                                 THEN 1 ELSE 0 END) AS DOUBLE)
                       AS agree
            FROM preds
        ),
        marg AS (
            SELECT CAST(SUM(CAST(np AS HUGEINT) * na) AS DOUBLE)
                       AS pesum
            FROM (
                SELECT p.cls,
                       CAST(count(*) AS BIGINT) AS np,
                       CAST(max(a.na) AS BIGINT) AS na
                FROM (SELECT pred_cls AS cls FROM preds) p
                JOIN (SELECT actual_cls AS cls,
                             count(*) AS na
                      FROM preds GROUP BY 1) a USING (cls)
                GROUP BY p.cls
            )
        )
        SELECT CAST(m.n AS BIGINT) AS n,
               (agree / n) AS po,
               (pesum / (n * n)) AS pe,
               (((agree / n) - (pesum / (n * n))) / (1.0 - (pesum / (n * n)))) AS kappa
        FROM m, marg
    """,
    ops=("A1", "J1"),
)
def classifier_kappa(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """COHEN'S KAPPA between the NB classifier and the given
    labels on the held-out half — chance-corrected agreement, the
    metric that exposes a classifier coasting on class imbalance
    (accuracy can be high while kappa ~ 0). po is observed
    agreement, pe the expected agreement of independent raters
    with the same marginals, kappa = (po - pe)/(1 - pe).

    Exactness: all counts are exact integers (the pe numerator
    Σ n_pred_c·n_actual_c accumulates in DECIMAL(38,0), rule 11);
    the three reported ratios are shared infix formula strings
    parsed by both engines (the ols_multifeature discipline).
    Classes predicted but never actual (or vice versa) contribute
    zero to pe via the inner marginal join. Scale: rides the NB
    pipeline; everything after the argmax is |classes|-sized."""
    docs = read_star_table(spark, "documents", sf_dir)
    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 == 1)
    token_model, class_model = nb_train(
        train, "lang", TX.tokens("text")
    )
    scored = nb_score(
        test, "doc_id", TX.tokens("text"), token_model,
        class_model,
    )
    preds = scored.join(
        test.select(
            "doc_id", F.col("lang").alias("actual_cls")
        ),
        "doc_id",
    ).select("pred_cls", "actual_cls").localCheckpoint(
        eager=False
    )
    m = preds.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(
            F.when(
                F.col("pred_cls") == F.col("actual_cls"), 1
            ).otherwise(0)
        )
        .cast("double")
        .alias("agree"),
    )
    np_ = preds.groupBy(
        F.col("pred_cls").alias("cls")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("np"))
    na_ = preds.groupBy(
        F.col("actual_cls").alias("cls")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("na"))
    marg = (
        np_.join(na_, "cls")
        .agg(
            F.sum(
                F.col("np").cast("decimal(38,0)")
                * F.col("na").cast("decimal(38,0)")
            )
            .cast("double")
            .alias("pesum")
        )
    )
    return m.crossJoin(F.broadcast(marg)).select(
        F.col("n").cast("bigint").alias("n"),
        F.expr("(agree / n)").alias("po"),
        F.expr("(pesum / (n * n))").alias("pe"),
        F.expr("(((agree / n) - (pesum / (n * n))) / (1.0 - (pesum / (n * n))))").alias("kappa"),
    )


@register(
    "label_noise_report",
    oracle=_NB_ORACLE_CTES
    + """,
        conf AS (
            SELECT te.lang AS cls,
                   CAST(count(*) AS BIGINT) AS n_c,
                   CAST(sum(CAST(s.score_q AS HUGEINT))
                        AS HUGEINT) AS sum_q
            FROM test te
            JOIN scores s
              ON s.doc_id = te.doc_id AND s.cls = te.lang
            GROUP BY 1
        ),
        above AS (
            SELECT s.doc_id, s.cls, s.score_q
            FROM scores s JOIN conf c ON c.cls = s.cls
            WHERE CAST(s.score_q AS HUGEINT)
                      * CAST(c.n_c AS HUGEINT) >= c.sum_q
        ),
        sugg AS (
            SELECT doc_id, cls AS suggested_cls,
                   row_number() OVER (
                       PARTITION BY doc_id
                       ORDER BY score_q DESC, cls ASC
                   ) AS rn
            FROM above
        )
        SELECT te.lang AS given_cls, g.suggested_cls,
               CAST(count(*) AS BIGINT) AS n_flagged
        FROM test te
        JOIN sugg g ON g.doc_id = te.doc_id AND g.rn = 1
        WHERE g.suggested_cls <> te.lang
        GROUP BY 1, 2
    """,
    ops=("A1", "J1"),
)
def label_noise_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LABEL-NOISE detection (confident-learning shape, Northcutt
    et al.): for each class j, the confidence threshold t_j is the
    mean model score of held-out documents GIVEN label j; a
    document is flagged as likely-mislabeled i→j when its score
    for some other class j clears t_j (argmax over clearing
    classes, ties to the smallest class). Output: the off-diagonal
    (given_cls, suggested_cls, n_flagged) joint counts — the table
    that decides whether a labeled corpus needs re-annotation
    before training a filter on it.

    Exactness: scores live on the 1e9-quantized log grid (rule
    1c), so the threshold test is pure integer arithmetic —
    score_q · n_j >= Σ score_q over class j (never a mean as a
    double). Scale: thresholds are one |classes|-row aggregate;
    the clearing test is a broadcast join against it; the per-doc
    argmax is groupBy min(struct) (rule 19); all-OOV documents
    enter via nb_class_scores' straggler-only prior completion."""
    from afg_data_pipeline_spark.operators.classify import (
        nb_class_scores,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 == 1)
    token_model, class_model = nb_train(
        train, "lang", TX.tokens("text")
    )
    full = nb_class_scores(
        test, "doc_id", TX.tokens("text"), token_model,
        class_model,
    ).localCheckpoint(eager=False)
    labels = test.select("doc_id", F.col("lang").alias("given"))
    conf = (
        full.join(labels, "doc_id")
        .filter(F.col("cls") == F.col("given"))
        .groupBy("cls")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_c"),
            F.sum("score_q").alias("sum_q"),
        )
    )
    above = full.join(F.broadcast(conf), "cls").filter(
        F.col("score_q") * F.col("n_c") >= F.col("sum_q")
    )
    sugg = above.groupBy("doc_id").agg(
        F.min(
            F.struct((-F.col("score_q")).alias("neg"), "cls")
        ).alias("b")
    ).select("doc_id", F.col("b.cls").alias("suggested_cls"))
    return (
        sugg.join(labels, "doc_id")
        .filter(F.col("suggested_cls") != F.col("given"))
        .groupBy(
            F.col("given").alias("given_cls"), "suggested_cls"
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_flagged"))
    )


@register(
    "classifier_eval_report",
    oracle=_NB_ORACLE_CTES
    + """
        , preds AS (
            SELECT b.cls AS pred_cls, te.lang AS actual_cls
            FROM best b JOIN test te USING (doc_id)
            WHERE b.rn = 1
        ),
        conf AS (
            SELECT pred_cls, actual_cls,
                   CAST(count(*) AS BIGINT) AS n
            FROM preds GROUP BY 1, 2
        ),
        act AS (
            SELECT actual_cls AS cls,
                   CAST(sum(n) AS BIGINT) AS n_actual
            FROM conf GROUP BY 1
        ),
        prd AS (
            SELECT pred_cls AS cls,
                   CAST(sum(n) AS BIGINT) AS n_pred
            FROM conf GROUP BY 1
        ),
        tp AS (
            SELECT pred_cls AS cls,
                   CAST(sum(n) AS BIGINT) AS tp
            FROM conf WHERE pred_cls = actual_cls GROUP BY 1
        )
        SELECT cls,
               COALESCE(n_actual, 0) AS n_actual,
               COALESCE(n_pred, 0) AS n_pred,
               COALESCE(tp, 0) AS tp,
               CASE WHEN COALESCE(n_pred, 0) > 0 THEN
                   CAST(COALESCE(tp, 0) AS DOUBLE)
                       / CAST(n_pred AS DOUBLE) END
                   AS precision,
               CASE WHEN COALESCE(n_actual, 0) > 0 THEN
                   CAST(COALESCE(tp, 0) AS DOUBLE)
                       / CAST(n_actual AS DOUBLE) END
                   AS recall,
               CASE WHEN COALESCE(n_pred, 0)
                         + COALESCE(n_actual, 0) > 0 THEN
                   2.0 * CAST(COALESCE(tp, 0) AS DOUBLE)
                       / CAST(COALESCE(n_pred, 0)
                              + COALESCE(n_actual, 0)
                              AS DOUBLE) END
                   AS f1
        FROM act
        FULL JOIN prd USING (cls)
        LEFT JOIN tp USING (cls)
    """,
    ops=("A1", "J1"),
)
def classifier_eval_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-class precision / recall / F1 of the NB language
    classifier on the held-out half — the confusion-matrix rollup
    every trained corpus filter ships with. F1 uses the
    single-division identity 2·tp/(n_pred + n_actual), so each
    metric is ONE correctly-rounded division of exact integers;
    classes never predicted (or never actual) report NULL for the
    undefined ratio rather than a fake 0.

    Scale: everything after the NB scoring pipeline runs on the
    |classes|² confusion table."""
    docs = read_star_table(spark, "documents", sf_dir)
    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 == 1)
    token_model, class_model = nb_train(
        train, "lang", TX.tokens("text")
    )
    scored = nb_score(
        test, "doc_id", TX.tokens("text"), token_model,
        class_model,
    )
    preds = scored.join(
        test.select(
            "doc_id", F.col("lang").alias("actual_cls")
        ),
        "doc_id",
    ).select("pred_cls", "actual_cls")
    # |classes|²-row table whose upstream is the ENTIRE NB
    # pipeline, feeding three rollup branches — checkpoint once
    # (rule 12) or the corpus scores three times.
    conf = (
        preds.groupBy("pred_cls", "actual_cls")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .localCheckpoint(eager=False)
    )
    act = conf.groupBy(
        F.col("actual_cls").alias("cls")
    ).agg(F.sum("n").cast("bigint").alias("n_actual"))
    prd = conf.groupBy(
        F.col("pred_cls").alias("cls")
    ).agg(F.sum("n").cast("bigint").alias("n_pred"))
    tp = (
        conf.filter(F.col("pred_cls") == F.col("actual_cls"))
        .groupBy(F.col("pred_cls").alias("cls"))
        .agg(F.sum("n").cast("bigint").alias("tp"))
    )
    rep = (
        act.join(prd, "cls", "full")
        .join(tp, "cls", "left")
        .select(
            "cls",
            F.coalesce("n_actual", F.lit(0)).alias("n_actual"),
            F.coalesce("n_pred", F.lit(0)).alias("n_pred"),
            F.coalesce("tp", F.lit(0)).alias("tp"),
        )
    )
    return rep.select(
        "cls",
        "n_actual",
        "n_pred",
        "tp",
        F.when(
            F.col("n_pred") > 0,
            F.col("tp").cast("double")
            / F.col("n_pred").cast("double"),
        ).alias("precision"),
        F.when(
            F.col("n_actual") > 0,
            F.col("tp").cast("double")
            / F.col("n_actual").cast("double"),
        ).alias("recall"),
        F.when(
            (F.col("n_pred") + F.col("n_actual")) > 0,
            F.lit(2.0)
            * F.col("tp").cast("double")
            / (
                F.col("n_pred") + F.col("n_actual")
            ).cast("double"),
        ).alias("f1"),
    )


@register(
    "robust_outlier_flags",
    oracle="""
        WITH med AS (
            SELECT lang,
                   quantile_cont(n_chars, 0.5) AS median_chars
            FROM documents GROUP BY 1
        ),
        mad AS (
            SELECT d.lang,
                   quantile_cont(
                       abs(CAST(d.n_chars AS DOUBLE)
                           - m.median_chars), 0.5
                   ) AS mad_chars
            FROM documents d JOIN med m USING (lang)
            GROUP BY 1
        )
        SELECT d.doc_id, d.lang, d.n_chars,
               m.median_chars, a.mad_chars,
               CAST(CASE WHEN abs(CAST(d.n_chars AS DOUBLE)
                                  - m.median_chars)
                              > 3 * a.mad_chars
                         THEN 1 ELSE 0 END AS INTEGER)
                   AS is_outlier
        FROM documents d
        JOIN med m USING (lang)
        JOIN mad a USING (lang)
    """,
    ops=("A2", "A3"),
)
def robust_outlier_flags(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-language robust outlier flags on document length:
    |x − median| > 3·MAD — the heavy-tail-safe data-quality gate
    (mean/stddev gates break under the power-law lengths real
    crawls have). operators/robust.py: the corpus compresses to a
    (lang, n_chars, count) table FIRST (map-side combinable,
    bounded by the length value space), rank statistics run over
    that compressed table (never Spark's buffer-everything exact
    percentile), and the tiny per-group (med2, mad4) model
    broadcast-joins back. The flag is the pure integer comparison
    2·|2x − med2| > 3·mad4 — no float straddle; the reported
    median/MAD doubles are exact halves/quarters, matching
    DuckDB's quantile_cont bit-for-bit."""
    from afg_data_pipeline_spark.operators.robust import (
        robust_outlier_model,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    model = robust_outlier_model(docs, ["lang"], "n_chars")
    dev2 = F.abs(
        2 * F.col("n_chars") - F.col("med2")
    )
    return docs.join(F.broadcast(model), "lang").select(
        "doc_id",
        "lang",
        "n_chars",
        (F.col("med2").cast("double") / F.lit(2.0)).alias(
            "median_chars"
        ),
        (F.col("mad4").cast("double") / F.lit(4.0)).alias(
            "mad_chars"
        ),
        (2 * dev2 > 3 * F.col("mad4"))
        .cast("int")
        .alias("is_outlier"),
    )


@register(
    "score_calibration_bins",
    oracle=_NB_ORACLE_CTES
    + """
        , scored2 AS MATERIALIZED (
            SELECT b.doc_id,
                   CAST(b.score_q AS DOUBLE) / 1000000000.0
                       AS score,
                   CAST(CASE WHEN b.cls = te.lang
                             THEN 1 ELSE 0 END AS BIGINT)
                       AS correct
            FROM best b JOIN test te USING (doc_id)
            WHERE b.rn = 1
        ),
        vcount AS (
            SELECT score AS v, count(*) AS c
            FROM scored2 GROUP BY 1
        ),
        cum AS (
            SELECT v,
                   SUM(c) OVER (ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS rc,
                   SUM(c) OVER () AS n
            FROM vcount
        ),
        cuts AS (
            SELECT
                min(CASE WHEN rc >= (n * 10 + 99) // 100
                         THEN v END) AS c10,
                min(CASE WHEN rc >= (n * 20 + 99) // 100
                         THEN v END) AS c20,
                min(CASE WHEN rc >= (n * 30 + 99) // 100
                         THEN v END) AS c30,
                min(CASE WHEN rc >= (n * 40 + 99) // 100
                         THEN v END) AS c40,
                min(CASE WHEN rc >= (n * 50 + 99) // 100
                         THEN v END) AS c50,
                min(CASE WHEN rc >= (n * 60 + 99) // 100
                         THEN v END) AS c60,
                min(CASE WHEN rc >= (n * 70 + 99) // 100
                         THEN v END) AS c70,
                min(CASE WHEN rc >= (n * 80 + 99) // 100
                         THEN v END) AS c80,
                min(CASE WHEN rc >= (n * 90 + 99) // 100
                         THEN v END) AS c90
            FROM cum
        ),
        binned AS (
            SELECT s.doc_id, s.correct,
                   CAST(round(s.score * 1000000000.0)
                        AS BIGINT) AS score_q,
                   CAST(1
                        + CAST(s.score > c.c10 AS INTEGER)
                        + CAST(s.score > c.c20 AS INTEGER)
                        + CAST(s.score > c.c30 AS INTEGER)
                        + CAST(s.score > c.c40 AS INTEGER)
                        + CAST(s.score > c.c50 AS INTEGER)
                        + CAST(s.score > c.c60 AS INTEGER)
                        + CAST(s.score > c.c70 AS INTEGER)
                        + CAST(s.score > c.c80 AS INTEGER)
                        + CAST(s.score > c.c90 AS INTEGER)
                        AS INTEGER) AS bin
            FROM scored2 s CROSS JOIN cuts c
        )
        SELECT bin,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(correct) AS BIGINT) AS n_correct,
               CAST(sum(correct) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) AS accuracy,
               CAST(sum(CAST(score_q AS HUGEINT)) AS DOUBLE)
                   / (CAST(count(*) AS DOUBLE)
                      * 1000000000.0) AS mean_score
        FROM binned
        GROUP BY bin
    """,
    ops=("A1", "A2"),
)
def score_calibration_bins(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Reliability diagram for the NB classifier: held-out docs
    bucketed into score DECILES (exact discrete percentile cuts —
    operators/quantiles machinery over value-compressed counts,
    ties share a bucket so no row_number over the corpus), each
    bin reporting accuracy vs mean confidence — the calibration
    check every production corpus filter needs before its scores
    gate data.

    Exactness: cut comparison is double equality on grid-snapped
    scores (identical k/1e9 doubles both engines); mean score
    re-derives the exact integer score_q = round(score·1e9) and
    sums it in DECIMAL(38,0) (rule 11 — never a double→decimal
    cast of the score itself, rule 1b), leaving one final
    division. The scored table feeds the cuts AND the binning —
    checkpointed once (rule 12): its upstream is the whole NB
    pipeline, its width three columns."""
    from afg_data_pipeline_spark.operators.quantiles import (
        grouped_percentile_disc,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 == 1)
    token_model, class_model = nb_train(
        train, "lang", TX.tokens("text")
    )
    scored = (
        nb_score(
            test, "doc_id", TX.tokens("text"), token_model,
            class_model,
        )
        .join(
            test.select(
                "doc_id", F.col("lang").alias("actual_cls")
            ),
            "doc_id",
        )
        .select(
            "doc_id",
            "score",
            (F.col("pred_cls") == F.col("actual_cls"))
            .cast("bigint")
            .alias("correct"),
        )
        .localCheckpoint(eager=False)
    )
    qs = [round(0.1 * i, 1) for i in range(1, 10)]
    cuts = grouped_percentile_disc(
        scored.withColumn("g0", F.lit(0)), "g0", "score", qs
    ).select(
        *[
            F.col(f"p{int(q * 100)}").alias(f"c{int(q * 100)}")
            for q in qs
        ]
    )
    bin_col = F.lit(1)
    for q in qs:
        bin_col = bin_col + (
            F.col("score") > F.col(f"c{int(q * 100)}")
        ).cast("int")
    binned = scored.crossJoin(F.broadcast(cuts)).select(
        F.col("correct"),
        F.round(F.col("score") * F.lit(1e9))
        .cast("bigint")
        .alias("score_q"),
        bin_col.cast("int").alias("bin"),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("correct").cast("bigint").alias("n_correct"),
        (
            F.sum("correct").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("accuracy"),
        (
            # DECIMAL(38,0) sum — score_q per row reaches ~1e14,
            # past dsum_expr's DECIMAL(18,6) 1e12 bound (rule 11)
            F.sum(F.col("score_q").cast("decimal(38,0)"))
            .cast("double")
            / (
                F.count(F.lit(1)).cast("double")
                * F.lit(1e9)
            )
        ).alias("mean_score"),
    )


@register(
    "seasonal_anomaly_flags",
    oracle="""
        WITH base AS (
            SELECT event_id, event_type,
                   CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
                   CAST(hour(ts) AS INTEGER) AS hod,
                   CAST(round(CAST(value AS DOUBLE) * 100)
                        AS BIGINT) AS cents
            FROM events
        ),
        prof AS (
            SELECT event_type, dow, hod,
                   quantile_cont(cents, 0.5) AS med
            FROM base WHERE cents IS NOT NULL
            GROUP BY 1, 2, 3
        ),
        resid AS (
            SELECT b.event_id, b.event_type, b.dow, b.hod,
                   CAST(2 * b.cents AS DOUBLE) - 2 * p.med
                       AS res2
            FROM base b
            JOIN prof p USING (event_type, dow, hod)
        ),
        stats AS (
            SELECT event_type,
                   quantile_cont(res2, 0.5) AS med_r
            FROM resid GROUP BY 1
        ),
        mads AS (
            SELECT r.event_type,
                   quantile_cont(abs(r.res2 - s.med_r), 0.5)
                       AS mad_r
            FROM resid r JOIN stats s USING (event_type)
            GROUP BY 1
        )
        SELECT r.event_id, r.event_type, r.dow, r.hod,
               r.res2 / 2 AS residual,
               CAST(CASE WHEN abs(r.res2 - s.med_r)
                              > 3 * m.mad_r
                         THEN 1 ELSE 0 END AS INTEGER)
                   AS is_anomaly
        FROM resid r
        JOIN stats s USING (event_type)
        JOIN mads m USING (event_type)
    """,
    ops=("A2", "W2"),
)
def seasonal_anomaly_flags(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seasonality-aware anomaly detection: each event's value is
    compared to the exact median of its (event_type, day-of-week,
    hour) cell — the W2 seasonal-profile idea — and the residual
    is flagged per event_type with the robust median/MAD gate
    (operators/robust.py). The composition a monitoring pipeline
    runs: 'is this value unusual FOR a Tuesday 3pm purchase',
    not 'unusual overall'.

    Exactness: values quantize once to cents (rule 1b); the
    seasonal median is med2 = v_lo + v_hi (exact BIGINT), so
    residuals res2 = 2·cents − med2 are exact integers; the
    anomaly test is the pure integer comparison
    2·|2·res2 − med2_r| > 3·mad4_r. Scale: both median layers run
    on value-compressed counts (profile cells are bounded by
    |types|·7·24 and broadcast back); the corpus is only ever
    scanned and aggregated, never sorted."""
    from afg_data_pipeline_spark.operators.robust import (
        median2_from_counts,
        robust_outlier_model,
    )

    ev = read_star_table(spark, "events", sf_dir)
    base = ev.select(
        "event_id",
        "event_type",
        F.dayofweek("ts").cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hod"),
        F.round(F.col("value").cast("double") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    keys = ["event_type", "dow", "hod"]
    # Null cents are EXCLUDED from the profile (quantile_cont
    # semantics; Spark's cumulative rank would sort them FIRST and
    # shift every median cross-engine — the documented convention
    # of operators/robust.py and operators/quantiles.py). Latent
    # today (no null values in the generated events), load-bearing
    # the day there are.
    vc = (
        base.filter(F.col("cents").isNotNull())
        .groupBy(*keys, "cents")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    prof = median2_from_counts(vc, keys, "cents", "_cnt")
    resid = base.join(F.broadcast(prof), keys).select(
        "event_id",
        "event_type",
        "dow",
        "hod",
        (2 * F.col("cents") - F.col("med2")).alias("res2"),
    )
    model = robust_outlier_model(
        resid, ["event_type"], "res2"
    ).withColumnRenamed("med2", "med2_r").withColumnRenamed(
        "mad4", "mad4_r"
    )
    return resid.join(F.broadcast(model), "event_type").select(
        "event_id",
        "event_type",
        "dow",
        "hod",
        (F.col("res2").cast("double") / F.lit(2.0)).alias(
            "residual"
        ),
        # coalesce: a null residual (null cents) must flag 0 on
        # both engines (DuckDB CASE WHEN NULL -> ELSE 0; Spark's
        # bare null>x cast would stay null)
        F.coalesce(
            (
                2 * F.abs(2 * F.col("res2") - F.col("med2_r"))
                > 3 * F.col("mad4_r")
            ).cast("int"),
            F.lit(0),
        ).alias("is_anomaly"),
    )


@register(
    "winsorized_stats",
    oracle="""
        WITH base AS (
            SELECT event_type,
                   CAST(round(CAST(value AS DOUBLE) * 100)
                        AS BIGINT) AS cents
            FROM events
        ),
        cum AS (
            SELECT event_type, cents AS v,
                   SUM(c) OVER (PARTITION BY event_type
                       ORDER BY cents
                       ROWS UNBOUNDED PRECEDING) AS rc,
                   SUM(c) OVER (PARTITION BY event_type) AS n
            FROM (SELECT event_type, cents, count(*) AS c
                  FROM base GROUP BY 1, 2)
        ),
        cuts AS (
            SELECT event_type,
                   min(CASE WHEN rc >= (n * 5 + 99) // 100
                            THEN v END) AS p5_cents,
                   min(CASE WHEN rc >= (n * 95 + 99) // 100
                            THEN v END) AS p95_cents
            FROM cum GROUP BY 1
        ),
        w AS (
            SELECT b.event_type, b.cents,
                   c.p5_cents, c.p95_cents,
                   least(greatest(b.cents, c.p5_cents),
                         c.p95_cents) AS clipped,
                   CASE WHEN b.cents < c.p5_cents
                         OR b.cents > c.p95_cents
                        THEN 1 ELSE 0 END AS is_clip
            FROM base b JOIN cuts c USING (event_type)
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(is_clip) AS BIGINT) AS n_clipped,
               min(p5_cents) AS p5_cents,
               min(p95_cents) AS p95_cents,
               CAST(sum(CAST(cents AS HUGEINT)) AS DOUBLE)
                   / (CAST(count(*) AS DOUBLE) * 100.0)
                   AS mean_raw,
               CAST(sum(CAST(clipped AS HUGEINT)) AS DOUBLE)
                   / (CAST(count(*) AS DOUBLE) * 100.0)
                   AS mean_winsorized
        FROM w GROUP BY event_type
    """,
    ops=("A1", "A2"),
)
def winsorized_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Winsorized per-group statistics: values clipped at the
    exact discrete p5/p95 cuts before averaging — the standard
    robust-mean gate for heavy-tailed numeric columns (a handful
    of whale transactions otherwise dominate a plain mean).

    Exactness: cents grid (rule 1b), exact percentile_disc cuts
    from value-compressed counts (operators/quantiles machinery),
    DECIMAL(38,0)-accumulated sums (rule 11) with ONE final
    division each. Scale: cut computation runs on the
    value-space-bounded count table; the corpus pays one scan,
    one broadcast join of the |groups|-row cut table, and one
    map-side-combinable aggregate."""
    from afg_data_pipeline_spark.operators.quantiles import (
        grouped_percentile_disc,
    )

    ev = read_star_table(spark, "events", sf_dir)
    base = ev.select(
        "event_type",
        F.round(F.col("value").cast("double") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    cuts = grouped_percentile_disc(
        base, "event_type", "cents", [0.05, 0.95]
    ).select(
        "event_type",
        F.col("p5").alias("p5_cents"),
        F.col("p95").alias("p95_cents"),
    )
    w = base.join(F.broadcast(cuts), "event_type").select(
        "event_type",
        "cents",
        "p5_cents",
        "p95_cents",
        F.least(
            F.greatest(F.col("cents"), F.col("p5_cents")),
            F.col("p95_cents"),
        ).alias("clipped"),
        (
            (F.col("cents") < F.col("p5_cents"))
            | (F.col("cents") > F.col("p95_cents"))
        )
        .cast("int")
        .alias("is_clip"),
    )
    dec = "decimal(38,0)"
    return w.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("is_clip").cast("bigint").alias("n_clipped"),
        F.min("p5_cents").alias("p5_cents"),
        F.min("p95_cents").alias("p95_cents"),
        (
            F.sum(F.col("cents").cast(dec)).cast("double")
            / (F.count(F.lit(1)).cast("double") * F.lit(100.0))
        ).alias("mean_raw"),
        (
            F.sum(F.col("clipped").cast(dec)).cast("double")
            / (F.count(F.lit(1)).cast("double") * F.lit(100.0))
        ).alias("mean_winsorized"),
    )


def _cramer3(a, b):
    """Shared-infix Cramer solve for a SYMMETRIC 3x3 system:
    ``a`` = dict with keys a11,a12,a13,a22,a23,a33, ``b`` =
    (b1,b2,b3) — each value a column-name/expr STRING. Returns
    (det, d1, d2, d3) infix strings. The SAME text is parsed by
    Spark and DuckDB (the ols_multifeature twin-expression
    discipline), so double evaluation order is identical by
    construction."""
    a11, a12, a13 = a["a11"], a["a12"], a["a13"]
    a22, a23, a33 = a["a22"], a["a23"], a["a33"]
    b1, b2, b3 = b
    det = (
        f"{a11}*({a22}*{a33} - {a23}*{a23})"
        f" - {a12}*({a12}*{a33} - {a23}*{a13})"
        f" + {a13}*({a12}*{a23} - {a22}*{a13})"
    )
    d1 = (
        f"{b1}*({a22}*{a33} - {a23}*{a23})"
        f" - {a12}*({b2}*{a33} - {a23}*{b3})"
        f" + {a13}*({b2}*{a23} - {a22}*{b3})"
    )
    d2 = (
        f"{a11}*({b2}*{a33} - {a23}*{b3})"
        f" - {b1}*({a12}*{a33} - {a23}*{a13})"
        f" + {a13}*({a12}*{b3} - {b2}*{a13})"
    )
    d3 = (
        f"{a11}*({a22}*{b3} - {b2}*{a23})"
        f" - {a12}*({a12}*{b3} - {b2}*{a13})"
        f" + {b1}*({a12}*{a23} - {a22}*{a13})"
    )
    return det, d1, d2, d3


_LG1_DET, _LG1_D1, _LG1_D2, _LG1_D3 = _cramer3(
    {k: k for k in ("a11", "a12", "a13", "a22", "a23", "a33")},
    ("g1", "g2", "g3"),
)
_LG1_B = [
    f"2.0 * ({d}) / nullif({_LG1_DET}, 0.0)"
    for d in (_LG1_D1, _LG1_D2, _LG1_D3)
]
_LG2_DET, _LG2_D1, _LG2_D2, _LG2_D3 = _cramer3(
    {k: "w" + k for k in ("a11", "a12", "a13", "a22", "a23", "a33")},
    ("h1", "h2", "h3"),
)
_LG2_B = [
    f"b{j} + ({d}) / nullif({_LG2_DET}, 0.0)"
    for j, d in enumerate((_LG2_D1, _LG2_D2, _LG2_D3))
]
_LG_Z = "b0 + b1 * CAST(x1 AS DOUBLE) + b2 * CAST(x2 AS DOUBLE)"
_LG_PQ = "CAST(round(1000000.0 / (1.0 + exp(-(z)))) AS BIGINT)"


@register(
    "logistic_newton_purchase",
    oracle=f"""
        WITH base AS (
            SELECT CAST(hour(ts) AS BIGINT) AS x1,
                   CAST(dayofweek(ts) + 1 AS BIGINT) AS x2,
                   CASE WHEN event_type = 'purchase'
                        THEN 1 ELSE 0 END AS y
            FROM events
        ),
        m1 AS (
            SELECT CAST(count(*) AS DOUBLE) AS a11,
                   CAST(CAST(sum(x1) AS BIGINT) AS DOUBLE) AS a12,
                   CAST(CAST(sum(x2) AS BIGINT) AS DOUBLE) AS a13,
                   CAST(CAST(sum(x1 * x1) AS BIGINT) AS DOUBLE)
                       AS a22,
                   CAST(CAST(sum(x1 * x2) AS BIGINT) AS DOUBLE)
                       AS a23,
                   CAST(CAST(sum(x2 * x2) AS BIGINT) AS DOUBLE)
                       AS a33,
                   CAST(CAST(sum(2 * y - 1) AS BIGINT) AS DOUBLE)
                       AS g1,
                   CAST(CAST(sum((2 * y - 1) * x1) AS BIGINT)
                        AS DOUBLE) AS g2,
                   CAST(CAST(sum((2 * y - 1) * x2) AS BIGINT)
                        AS DOUBLE) AS g3,
                   CAST(count(*) AS BIGINT) AS n_obs
            FROM base
        ),
        beta1 AS (
            SELECT n_obs,
                   {_LG1_B[0]} AS b0,
                   {_LG1_B[1]} AS b1,
                   {_LG1_B[2]} AS b2
            FROM m1
        ),
        zrows AS (
            SELECT x1, x2, y, {_LG_Z} AS z
            FROM base CROSS JOIN beta1
        ),
        prows AS (
            SELECT x1, x2, y, {_LG_PQ} AS pq
            FROM zrows
        ),
        wrows AS (
            SELECT x1, x2,
                   pq * (1000000 - pq) AS wq,
                   y * 1000000 - pq AS df
            FROM prows
        ),
        m2 AS (
            SELECT
                CAST(CAST(sum(CAST(wq AS DECIMAL(38,0)))
                          AS DECIMAL(38,0)) AS DOUBLE) AS wa11,
                CAST(CAST(sum(CAST(wq * x1 AS DECIMAL(38,0)))
                          AS DECIMAL(38,0)) AS DOUBLE) AS wa12,
                CAST(CAST(sum(CAST(wq * x2 AS DECIMAL(38,0)))
                          AS DECIMAL(38,0)) AS DOUBLE) AS wa13,
                CAST(CAST(sum(CAST(wq * x1 * x1
                                   AS DECIMAL(38,0)))
                          AS DECIMAL(38,0)) AS DOUBLE) AS wa22,
                CAST(CAST(sum(CAST(wq * x1 * x2
                                   AS DECIMAL(38,0)))
                          AS DECIMAL(38,0)) AS DOUBLE) AS wa23,
                CAST(CAST(sum(CAST(wq * x2 * x2
                                   AS DECIMAL(38,0)))
                          AS DECIMAL(38,0)) AS DOUBLE) AS wa33,
                1000000.0 * CAST(CAST(sum(CAST(df
                                   AS DECIMAL(38,0)))
                          AS DECIMAL(38,0)) AS DOUBLE) AS h1,
                1000000.0 * CAST(CAST(sum(CAST(df * x1
                                   AS DECIMAL(38,0)))
                          AS DECIMAL(38,0)) AS DOUBLE) AS h2,
                1000000.0 * CAST(CAST(sum(CAST(df * x2
                                   AS DECIMAL(38,0)))
                          AS DECIMAL(38,0)) AS DOUBLE) AS h3
            FROM wrows
        )
        SELECT beta1.n_obs,
               beta1.b0 AS b0_step1,
               beta1.b1 AS b1_step1,
               beta1.b2 AS b2_step1,
               {_LG2_B[0]} AS b0_step2,
               {_LG2_B[1]} AS b1_step2,
               {_LG2_B[2]} AS b2_step2
        FROM m2 CROSS JOIN beta1
    """,
    ops=("A1", "F10"),
)
def logistic_newton_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LOGISTIC REGRESSION by two unrolled Newton/IRLS steps —
    P(event_type = 'purchase' | hour-of-day, day-of-week) — the
    quality-classifier training shape (a linear model fitted by
    iterated weighted least squares) expressed as TWO corpus
    aggregates, no driver iteration, no MLlib.

    Exactness discipline (the ols_forecast/ols_multifeature
    lineage, extended to an ITERATIVE model):
    - Step 1 starts at beta = 0, where the sigmoid is EXACTLY 1/2
      and the IRLS weight exactly 1/4, so the first Newton step
      delta = 2 * M^-1 * g is pure integer-moment algebra (M =
      sum x x^T, g = sum (2y-1) x) — bit-deterministic.
    - Step 2 needs per-row sigmoids: z comes from SHARED infix
      text, p is quantized ONCE to the 1e6 integer grid
      (round(1e6 * sigmoid)) so every weighted moment is an EXACT
      integer accumulated in DECIMAL(38,0) (rule 1b: irrational
      per-row terms quantize-then-sum; exp's cross-engine 1-ulp
      class shifts the rounded integer only within ~1e-10 of a
      grid boundary).
    - All Cramer determinants evaluate from ONE shared infix
      formula string parsed by both engines (_cramer3).
    - DuckDB dayofweek is 0-6 vs Spark's 1-7 (rule 5c): oracle
      uses dayofweek(ts) + 1.

    Scale: two map-side-combinable aggregates over events; the
    solve is constant work on a 1-row frame. More Newton steps =
    more unrolled aggregates (the PageRank pattern), each a full
    but shuffle-light corpus pass."""
    ev = read_star_table(spark, "events", sf_dir)
    base = ev.select(
        F.hour("ts").cast("bigint").alias("x1"),
        F.dayofweek("ts").cast("bigint").alias("x2"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("y"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m1 = base.agg(
        F.count(F.lit(1)).cast("double").alias("a11"),
        F.sum("x1").cast("bigint").cast("double").alias("a12"),
        F.sum("x2").cast("bigint").cast("double").alias("a13"),
        F.sum(F.col("x1") * F.col("x1"))
        .cast("bigint")
        .cast("double")
        .alias("a22"),
        F.sum(F.col("x1") * F.col("x2"))
        .cast("bigint")
        .cast("double")
        .alias("a23"),
        F.sum(F.col("x2") * F.col("x2"))
        .cast("bigint")
        .cast("double")
        .alias("a33"),
        F.sum(F.lit(2) * F.col("y") - 1)
        .cast("bigint")
        .cast("double")
        .alias("g1"),
        F.sum((F.lit(2) * F.col("y") - 1) * F.col("x1"))
        .cast("bigint")
        .cast("double")
        .alias("g2"),
        F.sum((F.lit(2) * F.col("y") - 1) * F.col("x2"))
        .cast("bigint")
        .cast("double")
        .alias("g3"),
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
    )
    beta1 = m1.select(
        "n_obs",
        F.expr(_LG1_B[0]).alias("b0"),
        F.expr(_LG1_B[1]).alias("b1"),
        F.expr(_LG1_B[2]).alias("b2"),
    ).localCheckpoint(eager=False)
    # ^ beta1 feeds BOTH the per-row z pass and the final output
    # projection (rule 12).
    zrows = base.crossJoin(F.broadcast(beta1)).select(
        "x1", "x2", "y", F.expr(_LG_Z).alias("z")
    )
    prows = zrows.select(
        "x1", "x2", "y", F.expr(_LG_PQ).alias("pq")
    )
    wrows = prows.select(
        "x1",
        "x2",
        (F.col("pq") * (F.lit(1000000) - F.col("pq"))).alias(
            "wq"
        ),
        (F.col("y") * F.lit(1000000) - F.col("pq")).alias("df"),
    )
    m2 = wrows.agg(
        F.sum(dec(F.col("wq"))).cast("double").alias("wa11"),
        F.sum(dec(F.col("wq") * F.col("x1")))
        .cast("double")
        .alias("wa12"),
        F.sum(dec(F.col("wq") * F.col("x2")))
        .cast("double")
        .alias("wa13"),
        F.sum(dec(F.col("wq") * F.col("x1") * F.col("x1")))
        .cast("double")
        .alias("wa22"),
        F.sum(dec(F.col("wq") * F.col("x1") * F.col("x2")))
        .cast("double")
        .alias("wa23"),
        F.sum(dec(F.col("wq") * F.col("x2") * F.col("x2")))
        .cast("double")
        .alias("wa33"),
        (
            F.lit(1000000.0)
            * F.sum(dec(F.col("df"))).cast("double")
        ).alias("h1"),
        (
            F.lit(1000000.0)
            * F.sum(dec(F.col("df") * F.col("x1"))).cast(
                "double"
            )
        ).alias("h2"),
        (
            F.lit(1000000.0)
            * F.sum(dec(F.col("df") * F.col("x2"))).cast(
                "double"
            )
        ).alias("h3"),
    )
    return m2.crossJoin(F.broadcast(beta1)).select(
        "n_obs",
        F.col("b0").alias("b0_step1"),
        F.col("b1").alias("b1_step1"),
        F.col("b2").alias("b2_step1"),
        F.expr(_LG2_B[0]).alias("b0_step2"),
        F.expr(_LG2_B[1]).alias("b1_step2"),
        F.expr(_LG2_B[2]).alias("b2_step2"),
    )


@register(
    "mi_feature_rank",
    oracle="""
        WITH dt AS (
            SELECT DISTINCT doc_id, lang,
                   unnest(regexp_split_to_array(trim(text),
                                                '\\s+')) AS t
            FROM documents
        ),
        nydoc AS (
            SELECT lang, count(DISTINCT doc_id) AS n_y
            FROM documents GROUP BY lang
        ),
        tot AS (
            SELECT CAST(count(*) AS BIGINT) AS big_n
            FROM documents
        ),
        joint AS (
            SELECT t, lang, count(*) AS c1
            FROM dt GROUP BY t, lang
        ),
        nt AS (
            SELECT t, CAST(sum(c1) AS BIGINT) AS n_t
            FROM joint GROUP BY t
        ),
        grid AS (
            SELECT n.t, y.lang, n.n_t, y.n_y,
                   COALESCE(j.c1, 0) AS c1
            FROM nt n
            CROSS JOIN nydoc y
            LEFT JOIN joint j
              ON j.t = n.t AND j.lang = y.lang
        ),
        cells AS (
            SELECT t,
                   CASE WHEN c1 > 0 THEN c1 * CAST(round(ln(
                       (CAST(big_n AS DOUBLE) * CAST(c1 AS DOUBLE))
                       / (CAST(n_t AS DOUBLE)
                          * CAST(n_y AS DOUBLE)))
                       * 1000000000.0, 0) AS BIGINT)
                       ELSE 0 END
                   + CASE WHEN n_y - c1 > 0 AND big_n - n_t > 0
                          THEN (n_y - c1) * CAST(round(ln(
                       (CAST(big_n AS DOUBLE)
                        * CAST(n_y - c1 AS DOUBLE))
                       / (CAST(big_n - n_t AS DOUBLE)
                          * CAST(n_y AS DOUBLE)))
                       * 1000000000.0, 0) AS BIGINT)
                       ELSE 0 END AS cell_q
            FROM grid CROSS JOIN tot
        ),
        mi AS (
            SELECT t AS token,
                   CAST(sum(cell_q) AS BIGINT) AS mi_q
            FROM cells GROUP BY t
        )
        SELECT token,
               mi_q,
               CAST(mi_q AS DOUBLE) / 1e9
                   / CAST(t.big_n AS DOUBLE) AS mi,
               n.n_t AS n_docs_with
        FROM mi JOIN nt n ON n.t = mi.token CROSS JOIN tot t
        ORDER BY mi_q DESC, token ASC
        LIMIT 50
    """,
    ops=("TEXT", "A1"),
)
def mi_feature_rank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MUTUAL-INFORMATION FEATURE RANKING — the classical feature-
    selection audit for the NB language classifier: MI(token
    presence; lang) over documents, top 50 tokens. High-MI tokens
    are what the classifier actually keys on — the table a curator
    reads to catch spurious shortcuts (a boilerplate token
    identifying a source rather than a language).

    Exactness: all four contingency cells per (token, lang) are
    exact integers (joint from DISTINCT doc-token presence, x=0
    cells derived as n_y - c1); each cell's ln(N*c/(n_t*n_y)) is
    quantized ONCE to the 1e9 integer grid (rule 1c) and
    multiplied by the exact integer count, so the RANKING compares
    exact BIGINTs — no float order anywhere; 0*ln(0) cells are 0
    by the case guards. Scale shape: one distinct-presence pass
    collapses the corpus to the vocabulary x classes cell table;
    the grid completion is a bounded crossJoin of two vocabulary-
    sized tables; top-50 is TakeOrderedAndProject (per-task
    partial top-k, no global sort)."""
    docs = read_star_table(spark, "documents", sf_dir)
    dt = docs.select(
        "doc_id", "lang", F.explode(TX.tokens("text")).alias("t")
    ).distinct()
    nydoc = docs.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("n_y")
    )
    tot = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("big_n")
    )
    joint = dt.groupBy("t", "lang").agg(
        F.count(F.lit(1)).alias("c1")
    )
    nt = joint.groupBy("t").agg(
        F.sum("c1").cast("bigint").alias("n_t")
    )
    # vocab x classes completion
    from afg_data_pipeline_spark.functions.gate import pair_join

    grid = (
        pair_join(nt, nydoc)
        .join(joint, ["t", "lang"], "left")
        .select(
            "t",
            "n_t",
            "n_y",
            F.coalesce(F.col("c1"), F.lit(0)).alias("c1"),
        )
        .crossJoin(F.broadcast(tot))
    )

    def lnq(num, den):
        return F.round(
            F.log(num.cast("double") / den.cast("double"))
            * F.lit(1e9),
            0,
        ).cast("bigint")

    cell = F.when(
        F.col("c1") > 0,
        F.col("c1")
        * lnq(
            F.col("big_n") * F.col("c1"),
            F.col("n_t") * F.col("n_y"),
        ),
    ).otherwise(F.lit(0)) + F.when(
        (F.col("n_y") - F.col("c1") > 0)
        & (F.col("big_n") - F.col("n_t") > 0),
        (F.col("n_y") - F.col("c1"))
        * lnq(
            F.col("big_n") * (F.col("n_y") - F.col("c1")),
            (F.col("big_n") - F.col("n_t")) * F.col("n_y"),
        ),
    ).otherwise(
        F.lit(0)
    )
    mi = (
        grid.select("t", cell.alias("cell_q"))
        .groupBy("t")
        .agg(F.sum("cell_q").cast("bigint").alias("mi_q"))
    )
    return (
        mi.join(nt, "t")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("t").alias("token"),
            "mi_q",
            (
                F.col("mi_q").cast("double")
                / F.lit(1e9)
                / F.col("big_n").cast("double")
            ).alias("mi"),
            F.col("n_t").alias("n_docs_with"),
        )
        .orderBy(F.col("mi_q").desc(), F.col("token").asc())
        .limit(50)
    )


@register(
    "conformal_filter_threshold",
    oracle=_NB_ORACLE_CTES
    + """
        , cal AS MATERIALIZED (
            SELECT s.doc_id, s.score_q
            FROM scores s
            JOIN test te
              ON te.doc_id = s.doc_id AND s.cls = te.lang
            WHERE te.doc_id % 4 = 1
        ),
        ncal AS (SELECT CAST(count(*) AS BIGINT) AS n FROM cal),
        ranked AS MATERIALIZED (
            SELECT score_q,
                   row_number() OVER (ORDER BY score_q ASC)
                       AS rn
            FROM cal
        ),
        alph AS (SELECT unnest([5, 10, 20]) AS alpha_pct),
        thr AS MATERIALIZED (
            SELECT a.alpha_pct, n.n AS n_cal,
                   (a.alpha_pct * (n.n + 1)) // 100 AS k_rank,
                   r.score_q AS thr_q
            FROM alph a
            CROSS JOIN ncal n
            JOIN ranked r
              ON r.rn = (a.alpha_pct * (n.n + 1)) // 100
        ),
        evaltrue AS MATERIALIZED (
            SELECT s.doc_id, s.score_q
            FROM scores s
            JOIN test te
              ON te.doc_id = s.doc_id AND s.cls = te.lang
            WHERE te.doc_id % 4 = 3
        ),
        evalall AS MATERIALIZED (
            SELECT s.doc_id, s.score_q
            FROM scores s
            JOIN test te ON te.doc_id = s.doc_id
            WHERE te.doc_id % 4 = 3
        ),
        neval AS (
            SELECT CAST(count(*) AS BIGINT) AS n_eval
            FROM evaltrue
        ),
        cov AS (
            SELECT t.alpha_pct,
                   CAST(sum(CASE WHEN e.score_q >= t.thr_q
                            THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_covered
            FROM thr t CROSS JOIN evaltrue e
            GROUP BY 1
        ),
        sz AS (
            SELECT t.alpha_pct,
                   CAST(sum(CASE WHEN e.score_q >= t.thr_q
                            THEN 1 ELSE 0 END) AS BIGINT)
                       AS set_sum
            FROM thr t CROSS JOIN evalall e
            GROUP BY 1
        )
        SELECT t.alpha_pct,
               t.n_cal,
               CAST(t.k_rank AS BIGINT) AS k_rank,
               CAST(t.thr_q AS BIGINT) AS threshold_q,
               ne.n_eval,
               CAST(c.n_covered AS DOUBLE)
                   / CAST(ne.n_eval AS DOUBLE) AS coverage,
               CAST(s.set_sum AS DOUBLE)
                   / CAST(ne.n_eval AS DOUBLE) AS avg_set_size
        FROM thr t
        JOIN cov c USING (alpha_pct)
        JOIN sz s USING (alpha_pct)
        CROSS JOIN neval ne
    """,
    ops=("TEXT", "A1", "O2"),
)
def conformal_filter_threshold(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SPLIT-CONFORMAL THRESHOLDING (Vovk; Angelopoulos & Bates
    2021 tutorial form) for the NB classifier-as-filter: pick the
    score threshold that guarantees >= 1-alpha coverage of the
    true class on exchangeable data, then MEASURE what it delivers
    on a held-out eval split. For each alpha in {5,10,20}%: the
    threshold is the k-th smallest calibration true-class score
    with k = floor(alpha*(n_cal+1)) (the finite-sample-correct
    rank), plus empirical eval coverage and the average
    prediction-SET size (the conformal efficiency metric — how
    decisive the filter is at that guarantee).

    Exactness: scores are the shared exact-integer NB log grid
    (oracle extends _NB_ORACLE_CTES — model and audit can't
    drift); the k-th order statistic is rank selection on exact
    BIGINTs (tie-independent); coverage/set-size are exact counts
    with one final division each. Scale shape: thresholds come
    from orderBy(score).limit(k).max — TakeOrderedAndProject, no
    global window; k = alpha-tail size, small for the alphas that
    matter (for alpha near 1 flip to the symmetric largest-k
    selection), all alphas unioned into ONE job; coverage and
    set size come from ONE truth-flagged aggregate over the
    checkpointed score frame (rule 12); per-alpha arithmetic runs
    driver-side on collected exact integers (rule 14)."""
    from afg_data_pipeline_spark.operators.classify import (
        nb_class_scores,
    )

    docs = read_star_table(spark, "documents", sf_dir)
    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 == 1)
    token_model, class_model = nb_train(
        train, "lang", TX.tokens("text")
    )
    scores = nb_class_scores(
        test, "doc_id", TX.tokens("text"), token_model,
        class_model,
    ).localCheckpoint(eager=False)
    truth = test.select("doc_id", F.col("lang").alias("cls"))
    cal_true = scores.join(truth, ["doc_id", "cls"]).filter(
        F.col("doc_id") % 4 == 1
    )
    eval_all = scores.filter(F.col("doc_id") % 4 == 3)
    n_cal = cal_true.count()
    # alphas whose rank k=(a*(n_cal+1))//100 is 0 have no k-th
    # order statistic: the oracle's `JOIN ranked ON rn = k_rank`
    # silently drops those rows, so drop them here too (tiny
    # calibration sets degrade identically instead of limit(0)
    # .agg(max) -> NULL -> int(None) TypeError; ADVICE r8).
    alphas = tuple(
        a for a in (5, 10, 20) if (a * (n_cal + 1)) // 100 >= 1
    )
    schema = (
        "alpha_pct int, n_cal bigint, k_rank bigint, "
        "threshold_q bigint, n_eval bigint, coverage double, "
        "avg_set_size double"
    )
    if not alphas:
        return spark.createDataFrame([], schema)
    from functools import reduce

    # ONE job for all thresholds: union of the per-alpha
    # TakeOrderedAndProject+max subtrees over the checkpointed
    # calibration frame (was one collect per alpha — a pure
    # scheduling-floor tax on this floor-class row).
    # collect-bound: union of <=3 TakeOrdered+1-row-agg subtrees
    thr_rows = reduce(
        lambda x, y: x.unionByName(y),
        [
            cal_true.orderBy(F.col("score_q").asc())
            .limit((a * (n_cal + 1)) // 100)
            .agg(
                F.lit(a).alias("alpha_pct"),
                F.max("score_q").alias("t"),
            )
            for a in alphas
        ],
    ).collect()
    thr = {int(r["alpha_pct"]): r["t"] for r in thr_rows}
    # ONE pass for coverage AND set size: eval_true is exactly the
    # truth-flagged subset of eval_all, so flag it and aggregate
    # both metric families together (was two jobs).
    flagged = eval_all.join(
        truth.withColumn("__true", F.lit(1)),
        ["doc_id", "cls"],
        "left",
    ).withColumn(
        "__true", F.coalesce(F.col("__true"), F.lit(0))
    )
    row = flagged.agg(
        F.sum("__true").alias("n_eval"),
        *[
            F.sum(
                F.when(
                    (F.col("__true") == 1)
                    & (F.col("score_q") >= F.lit(int(thr[a]))),
                    1,
                ).otherwise(0)
            ).alias(f"cov{a}")
            for a in alphas
        ],
        *[
            F.sum(
                F.when(
                    F.col("score_q") >= F.lit(int(thr[a])), 1
                ).otherwise(0)
            ).alias(f"sz{a}")
            for a in alphas
        ],
    ).collect()[0]
    row_t = row
    row_a = row
    # Empty eval split (doc_id % 4 == 3 matches nothing): the
    # sums above are NULL, so int(None) would TypeError and the
    # coverage divisions are 0/0 — degrade to the empty schema,
    # matching the empty-alphas guard (ADVICE r9).
    if row_t["n_eval"] is None or int(row_t["n_eval"]) == 0:
        return spark.createDataFrame([], schema)
    n_eval = int(row_t["n_eval"])
    out = [
        (
            a,
            n_cal,
            (a * (n_cal + 1)) // 100,
            int(thr[a]),
            n_eval,
            int(row_t[f"cov{a}"]) / float(n_eval),
            int(row_a[f"sz{a}"]) / float(n_eval),
        )
        for a in alphas
    ]
    return spark.createDataFrame(out, schema)


def _ece_oracle() -> str:
    """ECE oracle: the FULL score_calibration_bins oracle as a
    subquery (the bins and their rollup cannot drift), with the
    per-bin contribution quantized to an exact BIGINT before the
    cross-bin sum — an unordered SUM of 10 doubles is NOT portable
    (engine accumulation order), the integer sum is."""
    from afg_data_pipeline_spark.plans.registry import REGISTRY

    bins = REGISTRY["score_calibration_bins"].oracle
    return f"""
        SELECT CAST(count(*) AS BIGINT) AS n_bins,
               CAST(sum(n) AS BIGINT) AS n_docs,
               CAST(sum(CAST(round(
                   abs(accuracy - mean_score)
                   * CAST(n AS DOUBLE) * 1000000000.0, 0)
                   AS BIGINT)) AS DOUBLE) / 1e9
                   / CAST(sum(n) AS DOUBLE) AS ece,
               max(abs(accuracy - mean_score)) AS mce
        FROM ({bins}) b
    """


@register(
    "ece_calibration",
    oracle=_ece_oracle(),
    ops=("TEXT", "A1"),
)
def ece_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXPECTED CALIBRATION ERROR — the one-number rollup of the
    reliability diagram (Naeini et al. 2015; Guo et al. 2017):
    ECE = sum_b (n_b/N)*|acc_b - conf_b| over the same exact
    decile bins score_calibration_bins reports, plus MCE (the
    worst bin). Built ON the registered bins query on both sides
    (Spark calls it; the oracle wraps its SQL as a subquery), so
    diagram and scalar cannot drift.

    Portability: each bin's |acc - conf|*n is a product of
    portable doubles quantized ONCE to a BIGINT (rule 1c) — a
    cross-bin SUM of raw doubles would depend on accumulation
    order; the integer sum does not. MCE is a max of portable
    doubles (order-free)."""
    from afg_data_pipeline_spark.plans.registry import REGISTRY

    bins = REGISTRY["score_calibration_bins"].fn(spark, sf_dir)
    contrib = F.round(
        F.abs(F.col("accuracy") - F.col("mean_score"))
        * F.col("n").cast("double")
        * F.lit(1e9),
        0,
    ).cast("bigint")
    return bins.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.sum("n").cast("bigint").alias("n_docs"),
        (
            F.sum(contrib.cast("decimal(38,0)")).cast("double")
            / F.lit(1e9)
            / F.sum("n").cast("double")
        ).alias("ece"),
        F.max(
            F.abs(F.col("accuracy") - F.col("mean_score"))
        ).alias("mce"),
    )


_MWU_CLES = (
    "CAST(u2 AS DOUBLE) / (2.0 * CAST(na AS DOUBLE)"
    " * CAST(nb AS DOUBLE))"
)
_MWU_Z = (
    "((CAST(u2 AS DOUBLE) - CAST(na AS DOUBLE)"
    " * CAST(nb AS DOUBLE)) / 2.0)"
    " / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0"
    " * ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) + 1.0)"
    " - CAST(tsum AS DOUBLE)"
    " / ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))"
    " * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 1.0))))"
)


@register(
    "ab_test_mann_whitney",
    oracle=f"""
        WITH base AS (
            SELECT event_type,
                   CAST(user_id % 2 AS INTEGER) AS grp,
                   CAST(round(CAST(value AS DOUBLE) * 100, 0)
                        AS BIGINT) AS x
            FROM events
        ),
        pv AS (
            SELECT event_type, x,
                   CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END)
                        AS HUGEINT) AS a,
                   CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END)
                        AS HUGEINT) AS b
            FROM base GROUP BY 1, 2
        ),
        cum AS (
            SELECT event_type, x, a, b,
                   CAST(COALESCE(sum(b) OVER (
                       PARTITION BY event_type ORDER BY x ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS HUGEINT)
                       AS cumb
            FROM pv
        ),
        agg AS (
            SELECT event_type,
                   CAST(sum(a) AS BIGINT) AS na,
                   CAST(sum(b) AS BIGINT) AS nb,
                   CAST(sum(a * (2 * cumb + b)) AS BIGINT)
                       AS u2,
                   sum((a + b) * (a + b) * (a + b) - (a + b))
                       AS tsum
            FROM cum GROUP BY event_type
        )
        SELECT event_type, na, nb, u2,
               {_MWU_CLES} AS cles,
               {_MWU_Z} AS z
        FROM agg
        WHERE na > 1 AND nb > 1
    """,
    ops=("A1", "A6"),
)
def ab_test_mann_whitney(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MANN-WHITNEY U — ab_test_welch's NONPARAMETRIC twin on the
    same user-parity cohorts: rank-sum comparison per event_type,
    valid when spend distributions are skewed/heavy-tailed (they
    always are) and Welch's normality lean is suspect. Reports 2U
    (exact integer; ties counted half so the doubled statistic
    stays integral), the common-language effect size
    U/(n_a*n_b) = P(A beats B) + P(tie)/2, and the tie-corrected
    normal z.

    Exactness: U's pair counting runs entirely on the
    VALUE-COMPRESSED cents table — 2U = sum_v a_v*(2*cumB<(v) +
    b_v) with exact integer counts (HUGEINT/DECIMAL, rule 11; the
    tie term sums (t^3 - t) which needs wide integers); the ECDF
    window is per-type over distinct values, never corpus rows;
    cles/z are SHARED infix strings (ols discipline). Degenerate
    cohorts (n <= 1) excluded like the Welch twin."""
    from pyspark.sql import Window

    ev = read_star_table(spark, "events", sf_dir)
    dec = "decimal(38,0)"
    base = ev.select(
        "event_type",
        (F.col("user_id") % 2).cast("int").alias("grp"),
        F.round(F.col("value").cast("double") * 100, 0)
        .cast("bigint")
        .alias("x"),
    )
    pv = base.groupBy("event_type", "x").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast(dec)
        .alias("a"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast(dec)
        .alias("b"),
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy(F.col("x").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = pv.withColumn(
        "cumb",
        F.coalesce(
            F.sum("b").over(wc), F.lit(0).cast(dec)
        ).cast(dec),
    )
    t = F.col("a") + F.col("b")
    agg = cum.groupBy("event_type").agg(
        F.sum("a").cast("bigint").alias("na"),
        F.sum("b").cast("bigint").alias("nb"),
        F.sum(
            F.col("a")
            * (F.lit(2).cast(dec) * F.col("cumb") + F.col("b"))
        )
        .cast(dec)
        .cast("bigint")
        .alias("u2"),
        F.sum(t * t * t - t).cast(dec).alias("tsum"),
    )
    return agg.filter(
        (F.col("na") > 1) & (F.col("nb") > 1)
    ).select(
        "event_type",
        "na",
        "nb",
        "u2",
        F.expr(_MWU_CLES).alias("cles"),
        F.expr(_MWU_Z).alias("z"),
    )
