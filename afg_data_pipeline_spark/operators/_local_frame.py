"""The driver kernels' one frame builder, and the numpy columns its
frames carry to the next kernel (``graph._symmetric``,
``contrastive._local_pairs``). Any transform of such a frame returns a
new object that carries nothing, so a consumer sees only exact rows."""

from __future__ import annotations

import pandas as pd
from pyspark.sql.types import StructType


def make(spark, fields, cols, read=None):
    """``cols`` under ``fields``, carrying ``{field name: column}`` and
    ``read``: ``(frame, id column, its ids)`` when the kernel read
    every id of a frame, unique and non-null."""
    held = {f.name: c for f, c in zip(fields, cols)}
    df = spark.createDataFrame(pd.DataFrame(held), StructType(fields))
    df._kernel_columns = held, read
    return df


def columns(df):
    """The columns ``make`` attached to ``df``, or ``{}``. Read through
    ``vars``: ``DataFrame.__getattr__`` would analyse the schema."""
    return vars(df).get("_kernel_columns", ({}, None))[0]


def ids_read(df, frame, id_col):
    """The ``id_col`` values of ``frame`` that the kernel which made
    ``df`` read (``make``'s ``read``), or None."""
    read = vars(df).get("_kernel_columns", ({}, None))[1]
    if read is not None and read[0] is frame and read[1] == id_col:
        return read[2]
    return None
