"""Registry-wide output-schema lint: driver canonicalizability.

The driver canonicalizes Spark results via ``toPandas()`` +
``sort_values`` over all columns and DuckDB results via ``.df()``;
any output column whose pandas dtype is an unhashable object
(numpy arrays from ArrayType, dicts from MapType, Row from
StructType) hard-ERRs the comparison, and DECIMAL columns render
on different pandas paths in the two engines (decimal.Decimal vs
float/str) and hash-mismatch even when values are identical
(round-6 red rows: bpe_tokenize, pack_token_sequences,
join_key_skew).

This lints EVERY registered query's output schema at plan time
(sf0.001 — no execution beyond what plan construction itself
does) and reports columns outside the driver-safe set
{integral, float/double, string, boolean, date, timestamp,
timestamp_ntz}. ALL registered queries must be clean — the driver
sorts (pandas sort_values) rows-only outputs too, so an ArrayType
column in an oracle-less query still hard-ERRs its driver row
(round-7 red row: unigram_tokenize, which this lint's original
oracle-only scope was written to miss).

Usage: python tools/schema_lint.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import types as T  # noqa: E402

SAFE = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.StringType,
    T.BooleanType,
    T.DateType,
    T.TimestampType,
    T.TimestampNTZType,
)


def unsafe_fields(schema: T.StructType) -> list[tuple[str, str]]:
    return [
        (f.name, f.dataType.simpleString())
        for f in schema.fields
        if not isinstance(f.dataType, SAFE)
    ]


def main() -> int:
    sf_dir = (
        sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    )
    from afg_data_pipeline_spark.plans import REGISTRY
    from afg_data_pipeline_spark.session import get_session

    spark = get_session("schema-lint")
    bad_oracle, bad_rows_only, errs = [], [], []
    for name, q in sorted(REGISTRY.items()):
        try:
            df = q.fn(spark, sf_dir)
        except Exception as e:  # noqa: BLE001
            errs.append((name, str(e)[:200]))
            continue
        bad = unsafe_fields(df.schema)
        if bad:
            (bad_oracle if q.oracle else bad_rows_only).append(
                (name, bad)
            )
    for name, bad in bad_oracle:
        print(f"ORACLE-UNSAFE    {name}: {bad}")
    for name, bad in bad_rows_only:
        print(f"ROWS-ONLY-UNSAFE {name}: {bad}")
    for name, e in errs:
        print(f"PLAN-ERROR       {name}: {e}")
    print(
        f"\n{len(bad_oracle)} oracle-backed unsafe, "
        f"{len(bad_rows_only)} rows-only unsafe, {len(errs)} errors"
    )
    spark.stop()
    # rows-only unsafe is a HARD failure too: the driver sorts
    # rows-only outputs with pandas just the same (r7 verdict #2).
    return 1 if (bad_oracle or bad_rows_only or errs) else 0


if __name__ == "__main__":
    sys.exit(main())
