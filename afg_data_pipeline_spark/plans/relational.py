"""Relational-core declared queries (SURVEY.md §2.2, §2.3, §2.4, §2.7).

Each query re-expresses reference operators on the driver star schema
(FIXTURES.md §9 mapping: lineitem plays atenciones, nation/region the
dimensions). All float aggregates go through functions.numeric so the
Spark and DuckDB results are bit-identical (order-independent decimal
accumulation); per-row double arithmetic is IEEE-exact and left
native.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from afg_data_pipeline_spark.functions.numeric import (
    dsum,
    dsum_expr,
    sql_dsum,
)
from afg_data_pipeline_spark.io import read_star_table
from afg_data_pipeline_spark.plans.registry import register


@register(
    "flagship_filter_project",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
               l_discount, l_returnflag, l_linestatus, l_shipdate
        FROM lineitem
        WHERE l_returnflag IN ('R', 'A')
          AND l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_linestatus = 'F'
    """,
    ops=("S1", "P1", "P2"),
)
def flagship_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive filter (equality + range + IN) then projection.

    Reference: carga_atenciones_urgencia, atenciones_urgencia.py:7-28
    (RegionCodigo=='13' & Anio>=2019 & Causa.isin(diagnosticos), then
    a 14-column projection). Declarative filter+select lets Catalyst
    push all three predicates and the 8-column ReadSchema into the
    parquet scan — at 100 TB this is the difference between reading
    the table and reading a slice of row groups.
    """
    li = read_star_table(spark, "lineitem", sf_dir)
    return li.filter(
        F.col("l_returnflag").isin("R", "A")
        & (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_linestatus") == "F")
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    )


@register(
    "string_normalize",
    oracle="""
        SELECT c_custkey,
               upper(substr(lower(trim(c_mktsegment)), 1, 1))
                 || substr(lower(trim(c_mktsegment)), 2) AS segment_title,
               lower(trim(c_name)) AS name_norm,
               concat_ws('-', c_mktsegment, CAST(c_custkey AS VARCHAR))
                 AS segment_key
        FROM customer
    """,
    ops=("F1", "F2", "F3", "F4", "P9"),
)
def string_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Title-case / trim / lower / concat normalization.

    Reference: matriz_movilidad.ipynb cell 6 (nb:70-72)
    `str.title().strip().lower()` on comuna names and cell 10/18;
    concat at temperaturas_rm.py:93-95. initcap on a single-token
    string == upper(first)||lower(rest), which is what the oracle
    spells out (DuckDB has no initcap).
    """
    cust = read_star_table(spark, "customer", sf_dir)
    seg = F.lower(F.trim(F.col("c_mktsegment")))
    return cust.select(
        "c_custkey",
        F.initcap(seg).alias("segment_title"),
        F.lower(F.trim(F.col("c_name"))).alias("name_norm"),
        F.concat_ws(
            "-", F.col("c_mktsegment"), F.col("c_custkey").cast("string")
        ).alias("segment_key"),
    )


@register(
    "computed_columns",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               l_extendedprice * (1 - l_discount) AS revenue,
               l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge,
               CAST(l_quantity AS INTEGER) AS qty_int,
               greatest(0.0, l_quantity - 25.0) AS qty_over_25,
               pow(l_discount, 2) AS disc_sq,
               l_quantity * 111.0 AS qty_km
        FROM lineitem
    """,
    ops=("P10", "P11", "F6", "F8", "F9"),
)
def computed_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row arithmetic, casts, clamp-at-zero, unit conversion.

    Reference: attraction mass addition nb:303 (cell 28), gravity
    power/divide nb:349, clamp max(0, pred) nb:154 (cell 13), deg->km
    *111 at temperaturas_rm.py:130, astype casts nb:122. All per-row
    IEEE double ops — bit-deterministic in any engine, and they stay
    inside whole-stage codegen (no UDFs).
    """
    li = read_star_table(spark, "lineitem", sf_dir)
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        revenue.alias("revenue"),
        (revenue * (1 + F.col("l_tax"))).alias("charge"),
        F.col("l_quantity").cast("int").alias("qty_int"),
        F.greatest(F.lit(0.0), F.col("l_quantity") - 25.0).alias(
            "qty_over_25"
        ),
        F.pow(F.col("l_discount"), 2).alias("disc_sq"),
        (F.col("l_quantity") * 111.0).alias("qty_km"),
    )


@register(
    "date_parts",
    oracle="""
        SELECT o_orderkey,
               year(o_orderdate) AS o_year,
               month(o_orderdate) AS o_month,
               dayofyear(o_orderdate) AS o_doy,
               make_date(year(o_orderdate), month(o_orderdate),
                         day(o_orderdate)) AS o_date_rebuilt,
               CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
                 AS o_month_start
        FROM orders
    """,
    ops=("P12", "P13"),
)
def date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date construction from parts + date-part extraction.

    Reference: to_datetime(Año+'-'+Mes+'-'+Dias) at
    temperaturas_rm.py:92-96 and .dt.month/.dt.dayofyear/.dt.year at
    temperaturas_rm.py:194-196.
    """
    o = read_star_table(spark, "orders", sf_dir)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).alias("o_year"),
        F.month(d).alias("o_month"),
        F.dayofyear(d).alias("o_doy"),
        F.make_date(F.year(d), F.month(d), F.dayofmonth(d)).alias(
            "o_date_rebuilt"
        ),
        F.date_trunc("month", d).cast("timestamp_ntz").alias(
            "o_month_start"
        ),
    )


@register(
    "distinct_subset",
    oracle="""
        SELECT DISTINCT l_returnflag, l_linestatus,
               year(l_shipdate) AS ship_year
        FROM lineitem
    """,
    ops=("P8", "A7"),
)
def distinct_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct over a column subset.

    Reference: drop_duplicates over 4 station columns at
    temperaturas_rm.py:111 and unique() pulls (nb:143). Projection
    first, then dropDuplicates — a full-row distinct would shuffle
    every column at scale.
    """
    li = read_star_table(spark, "lineitem", sf_dir)
    return li.select(
        "l_returnflag",
        "l_linestatus",
        F.year("l_shipdate").alias("ship_year"),
    ).dropDuplicates()


@register(
    "union_segments",
    oracle="""
        SELECT c_custkey, c_acctbal, 'building' AS tipo
        FROM customer WHERE c_mktsegment = 'BUILDING'
        UNION ALL
        SELECT c_custkey, c_acctbal, 'machinery' AS tipo
        FROM customer WHERE c_mktsegment = 'MACHINERY'
        UNION ALL
        SELECT c_custkey, c_acctbal, 'household' AS tipo
        FROM customer WHERE c_mktsegment = 'HOUSEHOLD'
    """,
    ops=("U1", "U2", "P14"),
)
def union_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way union with a provenance tag column.

    Reference: pd.concat of parvulario/escolar/superior with a tipo
    tag, matriz_movilidad.ipynb cell 5 (nb:60) and forecast-row
    append cell 14 (nb:172). unionByName (not positional unionAll)
    is the scale-safe form — column order drift can't corrupt it.
    """
    cust = read_star_table(spark, "customer", sf_dir)

    def slice_(segment: str, tag: str) -> DataFrame:
        return cust.filter(F.col("c_mktsegment") == segment).select(
            "c_custkey", "c_acctbal", F.lit(tag).alias("tipo")
        )

    return (
        slice_("BUILDING", "building")
        .unionByName(slice_("MACHINERY", "machinery"))
        .unionByName(slice_("HOUSEHOLD", "household"))
    )


@register(
    "melt_unpivot",
    oracle="""
        SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
               l_quantity AS value FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
        FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
    """,
    ops=("U4",),
)
def melt_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide -> long melt (unpivot).

    Reference: pd.melt of the wide year-column workers/population
    tables, matriz_movilidad.ipynb cells 9 and 17 (nb:101, nb:200).
    Native df.unpivot — one narrow scan, no shuffle; the oracle
    spells the same thing as UNION ALL.
    """
    li = read_star_table(spark, "lineitem", sf_dir)
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="value",
    )


@register(
    "pivot_wide",
    oracle="""
        SELECT n.n_name,
               coalesce(count(CASE WHEN r.r_name = 'AFRICA'
                                   THEN 1 END), 0) AS "AFRICA",
               coalesce(count(CASE WHEN r.r_name = 'AMERICA'
                                   THEN 1 END), 0) AS "AMERICA",
               coalesce(count(CASE WHEN r.r_name = 'ASIA'
                                   THEN 1 END), 0) AS "ASIA",
               coalesce(count(CASE WHEN r.r_name = 'EUROPE'
                                   THEN 1 END), 0) AS "EUROPE",
               coalesce(count(CASE WHEN r.r_name = 'MIDDLE EAST'
                                   THEN 1 END), 0) AS "MIDDLE EAST"
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY n.n_name
    """,
    ops=("U5", "J1"),
)
def pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long -> wide pivot at the pipeline edge.

    Reference: the comuna x comuna flow matrix materialization,
    matriz_movilidad.ipynb cell 29 (nb:351). Internally everything
    stays long-form (SURVEY.md §7 principle); pivot only here, with
    an explicit value list so Spark skips the extra distinct-values
    job — mandatory at scale where .pivot() without values scans the
    whole table twice.
    """
    cust = read_star_table(spark, "customer", sf_dir)
    nation = read_star_table(spark, "nation", sf_dir)
    region = read_star_table(spark, "region", sf_dir)
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    joined = cust.join(
        F.broadcast(nation),
        cust.c_nationkey == nation.n_nationkey,
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    wide = (
        joined.groupBy("n_name")
        .pivot("r_name", regions)
        .agg(F.count(F.lit(1)))
    )
    # Pivot leaves empty cells null; count semantics want 0.
    return wide.select(
        "n_name",
        *[F.coalesce(F.col(f"`{r}`"), F.lit(0)).alias(r) for r in regions],
    )


@register(
    "left_join_composite",
    oracle="""
        SELECT e.event_id, e.user_id, e.event_type, e.value,
               s.avg_value,
               e.value - s.avg_value AS deviation
        FROM events e
        LEFT JOIN (
            SELECT user_id, event_type,
                   CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                     / CAST(COUNT(value) AS DOUBLE) AS avg_value
            FROM events
            GROUP BY user_id, event_type
        ) s ON e.user_id = s.user_id AND e.event_type = s.event_type
    """,
    ops=("J1", "A1"),
)
def left_join_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left equi-join on a composite (2-column) key.

    Reference: poblacion ⟕ laborales ⟕ educacion on (comuna, año),
    matriz_movilidad.ipynb cell 20 (nb:228-229). Here: each event
    joined to its (user_id, event_type) group mean — the aggregate
    side is small, so broadcast it; the big fact side never
    shuffles.
    """
    ev = read_star_table(spark, "events", sf_dir)
    stats = ev.groupBy("user_id", "event_type").agg(
        (
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count("value").cast("double")
        ).alias("avg_value")
    )
    return ev.join(
        F.broadcast(stats), ["user_id", "event_type"], "left"
    ).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        "avg_value",
        (F.col("value") - F.col("avg_value")).alias("deviation"),
    )


@register(
    "star_join_revenue",
    oracle=f"""
        SELECT r.r_name, n.n_name,
               count(*) AS num_orders,
               {sql_dsum("o.o_totalprice", "total_revenue")}
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name, n.n_name
    """,
    ops=("J1", "A1"),
)
def star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: fact -> dims with broadcast, then aggregate.

    The scale-shape: orders (the 100 TB side) streams through two
    broadcast hash joins (region/nation are KB) and one shuffle for
    customer, then a partial-aggregated groupBy. No dimension ever
    shuffles the fact table.
    """
    o = read_star_table(spark, "orders", sf_dir)
    c = read_star_table(spark, "customer", sf_dir)
    n = read_star_table(spark, "nation", sf_dir)
    r = read_star_table(spark, "region", sf_dir)
    joined = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return joined.groupBy("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("num_orders"),
        dsum("o_totalprice", "total_revenue"),
    )


@register(
    "null_audit_left_join",
    oracle="""
        SELECT count(*) AS n_customers,
               count(CASE WHEN hv.o_custkey IS NULL THEN 1 END)
                 AS n_without_big_order,
               CAST(count(CASE WHEN hv.o_custkey IS NULL THEN 1 END)
                    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS null_rate
        FROM customer c
        LEFT JOIN (
            SELECT DISTINCT o_custkey FROM orders
            WHERE o_totalprice > 400000
        ) hv ON c.c_custkey = hv.o_custkey
    """,
    ops=("A4", "J1", "A8"),
)
def null_audit_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null count / null rate audit over a left-join miss pattern.

    Reference: the imputation pipeline's null audit
    (temperaturas_rm.py:159-160,174-175: isna().sum() and a
    percentage). Nulls here are produced by customers with no
    high-value order — the same left-join-miss shape as comunas
    missing a year (SURVEY.md §5 edge tests).
    """
    c = read_star_table(spark, "customer", sf_dir)
    hv = (
        read_star_table(spark, "orders", sf_dir)
        .filter(F.col("o_totalprice") > 400000)
        .select("o_custkey")
        .dropDuplicates()
    )
    joined = c.join(
        F.broadcast(hv), c.c_custkey == hv.o_custkey, "left"
    )
    n_null = F.count(
        F.when(F.col("o_custkey").isNull(), F.lit(1))
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_customers"),
        n_null.alias("n_without_big_order"),
        (
            n_null.cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("null_rate"),
    )


@register(
    "sort_limit_topk",
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 10
    """,
    ops=("O2",),
)
def sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-K by sort + limit.

    Reference: sort_values at nb:162 (cell 13). Spark turns
    orderBy().limit(k) into TakeOrderedAndProject — a per-partition
    top-K plus a driver merge, never a full global sort; exactly
    what you want at 100 TB. Tie-break on o_orderkey makes the
    result set deterministic.
    """
    o = read_star_table(spark, "orders", sf_dir)
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@register(
    "bucketed_join_revenue",
    oracle=f"""
        SELECT o.o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_items,
               {sql_dsum("l.l_extendedprice * (1 - l.l_discount)",
                         "revenue")}
        FROM orders o JOIN lineitem l
          ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderpriority
    """,
    ops=("J1", "A1", "S10"),
)
def bucketed_join_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CO-LOCATED FACT-TO-FACT JOIN via bucketed tables — the
    shuffle-elimination primitive the star-schema queries can't
    show (their dimensions broadcast): orders and lineitem are
    persisted ONCE as catalog tables bucketed 8-ways on the order
    key (io.write_bucketed_table), and the revenue join then runs
    as an Exchange-free SortMergeJoin — both scans report the
    same hash partitioning, so neither corpus moves. At 100 TB
    this is the difference between two full-corpus shuffles per
    join and zero, amortized over every downstream orderkey join;
    tests/test_r8_ops.py plan-asserts the absence of shuffle.
    The merge hint pins SMJ so the demonstration doesn't silently
    degrade to a broadcast join at toy scale."""
    import os

    from afg_data_pipeline_spark.io import write_bucketed_table

    tag = (
        os.path.basename(os.path.normpath(sf_dir))
        .replace(".", "_")
        .replace("-", "_")
    )
    base = f"/tmp/afg_bucketed/{tag}"
    o = read_star_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderpriority"
    )
    li = read_star_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    write_bucketed_table(
        o, f"afg_orders_b_{tag}", f"{base}/orders",
        "o_orderkey", 8,
    )
    write_bucketed_table(
        li, f"afg_lineitem_b_{tag}", f"{base}/lineitem",
        "l_orderkey", 8,
    )
    ob = spark.table(f"afg_orders_b_{tag}")
    lb = spark.table(f"afg_lineitem_b_{tag}")
    revenue = F.col("l_extendedprice") * (
        1 - F.col("l_discount")
    )
    return (
        lb.hint("merge")
        .join(ob, lb.l_orderkey == ob.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            dsum_expr(revenue, "revenue"),
        )
    )
