"""M2+M3: gravity model + row-share normalization.

Reference: matriz_movilidad.ipynb cell 29 (nb:329-353) computes
F_ij = K · P_i · A_j / D_ij^β (K=1, β=2, diagonal zeroed) with a
Python double loop over a pandas distance matrix, then cells 31-32
(nb:369-390) "normalize" each origin row — labeled softmax but
actually row-sum share (SURVEY.md F7 note); the engine implements
the computed semantics: flow / sum(flow) over (partition by origin).

Spark-first shape: the matrix never materializes — everything stays
long-form (origin, dest, flow). The cross join is explicit
(crossJoin), the diagonal is filtered, and the normalization is a
windowed decimal sum, not a collapse+join. At reference scale this
is 34×34; the same plan handles 10⁴ origins × 10⁴ dests by
broadcasting the dest side (attribute table is small by
construction — it is an aggregate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from afg_data_pipeline_spark.functions.gate import pair_join

_DEC = "decimal(18,6)"


def gravity_flows(
    attrs: DataFrame,
    key_col: str,
    mass_col: str,
    attraction_col: str,
    lat_col: str,
    lon_col: str,
    beta: float = 2.0,
    k: float = 1.0,
) -> DataFrame:
    """Long-form gravity flows with row-share normalization.

    ``attrs``: one row per place with (key, mass P, attraction A,
    lat, lon). Output: (origin, dest, distance, flow, flow_share),
    diagonal excluded — the zeroed diagonal of the reference
    contributes nothing to row sums (SURVEY.md F7 note), so the
    sparse long form is exact.
    """
    o = attrs.select(
        F.col(key_col).alias("origin"),
        F.col(mass_col).alias("mass_o"),
        F.col(lat_col).alias("lat_o"),
        F.col(lon_col).alias("lon_o"),
    )
    d = attrs.select(
        F.col(key_col).alias("dest"),
        F.col(attraction_col).alias("attr_d"),
        F.col(lat_col).alias("lat_d"),
        F.col(lon_col).alias("lon_d"),
    )
    pairs = pair_join(o, d).filter(F.col("origin") != F.col("dest"))
    # J5/F10: euclidean distance on centroid coords (the reference
    # uses scipy distance_matrix on lat/lon pairs, nb:323).
    dist = F.sqrt(
        F.pow(F.col("lat_o") - F.col("lat_d"), 2)
        + F.pow(F.col("lon_o") - F.col("lon_d"), 2)
    )
    flow = (
        F.lit(k)
        * (F.col("mass_o") * F.col("attr_d")).cast("double")
        / F.pow(dist, F.lit(beta))
    )
    w = Window.partitionBy("origin")
    row_sum = F.sum(flow.cast(_DEC)).over(w).cast("double")
    return pairs.select(
        "origin",
        "dest",
        dist.alias("distance"),
        flow.alias("flow"),
        (flow / row_sum).alias("flow_share"),
    )
