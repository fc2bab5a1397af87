"""BM25 full-text retrieval over the documents corpus.

The retrieval half of a training-data curation stack: given a
handful of probe queries, rank documents by Okapi BM25 (Robertson
et al.; the Lucene ``ln(1 + (N - df + 0.5)/(df + 0.5))`` idf form,
which is non-negative even for stopword-grade terms). Used for
targeted corpus audits ("show me the docs that look like this
benchmark prompt") and quality-weighted selection.

Spark-first shape: query terms are a driver-side literal
(vocabulary-sized) broadcast; the posting stream is PRUNED by a
broadcast semi-join on query terms BEFORE the df/tf aggregates, so
the only corpus-sized work is the token scan + the per-doc length
aggregate (both map-side combinable). Scoring follows CLAUDE.md
rule 1c for the ln-derived idf: each (term, doc) contribution is
quantized ONCE to an integer grid (round(idf·tfnorm·1e9) →
BIGINT) and summed exactly, so scores are bit-identical across
engines; the final division by 1e9 is one correctly-rounded double
op. Top-k per query avoids the few-groups hot-window (rule 13/19):
a salted per-(query, shard) window bounds every task's sort, then
the global per-query window ranks only S·k survivors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

GRID = 1_000_000_000  # rule-1c contribution grid (1e9)


def _doc_tokens(docs: DataFrame, id_col: str, text_col: str):
    """(doc_id, dl, term) token stream: the doc length is
    size(split(...)) computed ONCE per row before the explode (a
    per-entity invariant, rule 12) so no second corpus scan or
    doc-length join is ever needed — dl rides the tf aggregate."""
    arr = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("__toks"),
    )
    return arr.select(
        "doc_id",
        F.size("__toks").alias("dl"),
        F.explode("__toks").alias("term"),
    )


def _query_terms_df(spark, queries: list[tuple[str, str]]):
    qterms = sorted(
        {
            (qid, t)
            for qid, qtext in queries
            for t in qtext.strip().split()
            if t
        }
    )
    if not qterms:
        raise ValueError("queries contain no terms")
    return spark.createDataFrame(qterms, ["query_id", "term"])


def _score_topk(
    tf: DataFrame,
    qdf: DataFrame,
    corpus: DataFrame,
    k: int,
    k1: float,
    b: float,
    shards: int,
) -> DataFrame:
    """Shared scoring tail: ``tf`` = (doc_id, term, tf, dl) already
    pruned to query terms; ``corpus`` = 1-row (n_docs, total_len).
    Identical between the one-shot and persisted paths, so the
    persisted index reproduces bm25_topk bit-for-bit."""
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(qdf), "term")
        .crossJoin(F.broadcast(corpus))
    )
    n = F.col("n_docs").cast("double")
    dfd = F.col("df").cast("double")
    idf = F.log(
        F.lit(1.0)
        + (n - dfd + F.lit(0.5)) / (dfd + F.lit(0.5))
    )
    avg_len = F.col("total_len").cast("double") / n
    tfd = F.col("tf").cast("double")
    tfnorm = (tfd * F.lit(k1 + 1.0)) / (
        tfd
        + F.lit(k1)
        * (
            F.lit(1.0 - b)
            + F.lit(b) * F.col("dl").cast("double") / avg_len
        )
    )
    contrib = F.round(idf * tfnorm * F.lit(float(GRID))).cast(
        "bigint"
    )
    scores = (
        scored.select(
            "query_id", "doc_id", contrib.alias("__c")
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("__c").alias("__s"))
    )
    wl = Window.partitionBy(
        "query_id",
        F.crc32(F.col("doc_id").cast("string")) % shards,
    ).orderBy(F.col("__s").desc(), F.col("doc_id").asc())
    wg = Window.partitionBy("query_id").orderBy(
        F.col("__s").desc(), F.col("doc_id").asc()
    )
    return (
        scores.withColumn("__rl", F.row_number().over(wl))
        .filter(F.col("__rl") <= k)
        .withColumn("rank", F.row_number().over(wg))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "doc_id",
            (
                F.col("__s").cast("double") / F.lit(float(GRID))
            ).alias("score"),
            "rank",
        )
    )


def bm25_topk(
    docs: DataFrame,
    queries: list[tuple[str, str]],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    shards: int = 32,
) -> DataFrame:
    """Top-k documents per query by BM25.

    ``queries``: (query_id, query_text) pairs; terms are split on
    whitespace like the corpus. Duplicate terms in one query count
    once (standard bag-of-query-TERMS BM25; query-side tf is
    almost always 1 for short probes).

    Returns (query_id, doc_id, score, rank) with rank 1..k and the
    deterministic tie-break (score DESC, doc_id ASC).
    """
    spark = docs.sparkSession
    qdf = _query_terms_df(spark, queries)

    toks = _doc_tokens(docs, id_col, text_col)
    # corpus stats (N, total token count) in ONE narrow scan of
    # the pre-explode projection — no token shuffle
    corpus = docs.select(
        F.size(
            F.split(F.trim(F.col(text_col)), r"\s+")
        ).alias("__dl")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__dl").alias("total_len"),
    )

    # posting stream pruned to query terms before any aggregate:
    # the tf/df shuffles carry only matching terms; dl rides the
    # aggregate (constant per doc) instead of a doc-length join
    hits = toks.join(
        F.broadcast(qdf.select("term").distinct()),
        "term",
        "left_semi",
    )
    tf = hits.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"),
        F.max("dl").alias("dl"),
    )
    return _score_topk(tf, qdf, corpus, k, k1, b, shards)


N_TERM_BUCKETS = 64


def build_bm25_index(
    docs: DataFrame,
    index_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Materialize a SERVABLE BM25 inverted index — the build-once
    / query-many lifecycle of text retrieval, vs the single-shot
    bm25_topk that rescans the corpus per call:

    - ``postings`` (parquet, partitionBy(tbucket)): one row per
      (term, doc) — tf and the doc length. tbucket =
      crc32(term) % 64: the partition layout IS the inverted
      index — a query reads only its terms' buckets (parquet
      partition pruning) and the term equality pushes into the
      scan as a data filter.
    - ``stats.json``: (n_docs, total_len) — the driver-side model
      (two integers; exact, so persisted scoring is bit-identical
      to the one-shot path).

    df is NOT persisted: it is a per-term count over the pruned
    postings at query time (query-terms-sized work), which keeps
    the index incrementally appendable without a second table to
    maintain.
    """
    import os

    from afg_data_pipeline_spark.fs import write_json

    toks = _doc_tokens(docs, id_col, text_col)
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"),
        F.max("dl").alias("dl"),
    ).withColumn(
        "tbucket",
        F.crc32(F.col("term")) % F.lit(N_TERM_BUCKETS),
    )
    tf.write.mode("overwrite").partitionBy("tbucket").parquet(
        os.path.join(index_dir, "postings")
    )
    row = docs.select(
        F.size(
            F.split(F.trim(F.col(text_col)), r"\s+")
        ).alias("__dl")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__dl").alias("t"),
    ).collect()[0]
    write_json(
        docs.sparkSession,
        os.path.join(index_dir, "stats.json"),
        {"n_docs": int(row["n"]), "total_len": int(row["t"])},
    )


def query_bm25_index(
    spark,
    index_dir: str,
    queries: list[tuple[str, str]],
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    shards: int = 32,
) -> DataFrame:
    """Serve BM25 top-k from a persisted index: the postings scan
    carries the term buckets as PartitionFilters and the term set
    as a pushed data filter, so serving reads ~|query terms|/64 of
    the index bytes and never touches the corpus. Bit-identical to
    bm25_topk on the same corpus (same integer grid, same shared
    scoring tail)."""
    import os

    from afg_data_pipeline_spark.fs import read_json

    qdf = _query_terms_df(spark, queries)
    # collect-bound: distinct terms of the driver-side query list
    terms = [r.term for r in qdf.select("term").distinct().collect()]
    import zlib

    buckets = sorted(
        {zlib.crc32(t.encode()) % N_TERM_BUCKETS for t in terms}
    )
    st = read_json(spark, os.path.join(index_dir, "stats.json"))
    corpus = spark.createDataFrame(
        [(st["n_docs"], st["total_len"])],
        ["n_docs", "total_len"],
    )
    tf = (
        spark.read.parquet(os.path.join(index_dir, "postings"))
        .filter(F.col("tbucket").isin(buckets))
        .filter(F.col("term").isin(terms))
        .select("doc_id", "term", "tf", "dl")
    )
    return _score_topk(tf, qdf, corpus, k, k1, b, shards)
