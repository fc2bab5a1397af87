"""Declared-schema readers and sinks.

Upgrades the reference's inference-based scans (SURVEY.md §2.1
S1-S5) to schema-validated Spark reads. ``read_star_table`` reads a
single-file table's footer on the driver and passes it as the
schema, which skips Spark's schema-inference job, and select-pruning
plus filter pushdown reach the parquet scan (ReadSchema /
PushedFilters in `.explain("formatted")`).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from afg_data_pipeline_spark import fs, schemas

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Correctness-critical runtime confs, pinned on every table read so
# the engine behaves identically under a SparkSession it did not
# build (the driver harness constructs its own). All are
# runtime-settable SQL confs; without nanosAsLong a foreign session
# cannot even read the events table (PARQUET_TYPE_ILLEGAL), and a
# non-UTC timezone would shift every timestamp comparison.
_RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    # Pin cached-plan output partitioning stability to its safe
    # default (AQE may not re-partition cached plans). A long-lived
    # session serving many cached relations returned corrupt reads
    # of a correctly-cached table (rows lost/duplicated across
    # evaluations; AQE empty-relation propagation then collapsed a
    # downstream join to zero rows) — engine code therefore uses
    # localCheckpoint instead of .persist() everywhere
    # (operators/dedup.py), and this pin keeps the cached-plan
    # machinery in its most conservative mode for user persists.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "false",
}
_conf_pinned_sessions: set[int] = set()


def ensure_session_confs(spark: SparkSession) -> None:
    """Idempotently pin the runtime confs on a session."""
    key = id(spark)
    if key in _conf_pinned_sessions:
        return
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # noqa: BLE001 — a locked conf is fatal
            # only if behavior actually diverges; reads will raise
            # their own clear error then.
            pass
    _conf_pinned_sessions.add(key)


def read_star_table(
    spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR
) -> DataFrame:
    """Read one driver star-schema table with its declared schema.

    The declared StructType is asserted against the file footer
    (names + types) rather than passed to the reader: parquet is
    self-describing, and a silent mismatch is exactly the fragility
    the reference suffers from (SURVEY.md §1).

    A single-file table's footer schema is read on the driver
    (``fs.parquet_footer_schema``, ~40 ms) and handed to the reader,
    so the read launches no job; Spark's inference costs a job and
    ~100 ms of CPU per call. A part-file directory keeps inference:
    Spark picks the file to read and discovers the partitions.
    """
    if name not in schemas.STAR:
        raise KeyError(f"unknown star table {name!r}")
    ensure_session_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    footer = fs.parquet_footer_schema(spark, path)
    reader = spark.read if footer is None else spark.read.schema(footer)
    df = reader.parquet(path)
    declared = schemas.STAR[name]
    actual = {f.name: f.dataType for f in df.schema.fields}
    projected = []
    for field in declared.fields:
        if field.name not in actual:
            raise ValueError(
                f"{name}: missing declared column {field.name!r}"
            )
        have = actual[field.name]
        if isinstance(
            field.dataType, (T.TimestampType, T.TimestampNTZType)
        ) and isinstance(have, T.LongType):
            # INT64 TIMESTAMP(NANOS) read as raw nanos (session
            # config nanosAsLong): truncate nanos -> micros, the
            # same truncation DuckDB applies reading the file.
            # `div` = integer division on longs; a float divide
            # would round epoch-nanos (~1.7e18 > 2^53) and corrupt
            # the microseconds. Session TZ is UTC, so the
            # LTZ->NTZ cast is value-preserving.
            projected.append(
                F.expr(
                    f"cast(timestamp_micros(`{field.name}` div 1000)"
                    " as timestamp_ntz)"
                ).alias(field.name)
            )
            continue
        if have != field.dataType:
            raise ValueError(
                f"{name}.{field.name}: file has {have}, "
                f"declared {field.dataType}"
            )
        projected.append(F.col(field.name))
    return df.select(*projected)


def read_parquet_glob(
    spark: SparkSession, directory: str, name_contains: str
) -> DataFrame:
    """Parquet scan with a filename predicate (operator S1).

    Reference: atenciones_urgencia.py:4,9-11 lists a directory and
    loads the file whose name contains "urg". Spark-first: push the
    name predicate into the read path as a glob so non-matching
    entries are never opened. A path glob (not pathGlobFilter)
    matches both single parquet files and Spark-written parquet
    directories, whose leaf part-files wouldn't carry the name.
    """
    return spark.read.parquet(f"{directory}/*{name_contains}*")


def read_jsonl_with_corrupt_capture(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """JSON-lines scan that quarantines malformed records instead of
    failing the job or silently dropping rows.

    PERMISSIVE mode + an explicit ``_corrupt_record`` column: rows
    that parse get their fields, rows that don't carry the raw line
    in ``_corrupt_record`` with every schema field null. The caller
    splits on ``_corrupt_record IS NULL`` — good rows continue, bad
    rows go to a quarantine sink with full fidelity for replay. At
    100 TB a single malformed line must never kill a multi-hour
    job (FAILFAST) or vanish unaccounted (DROPMALFORMED).
    """
    full = T.StructType(
        schema.fields
        + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    return spark.read.schema(full).option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    ).json(path)


def split_quarantine(
    df: DataFrame, corrupt_col: str = "_corrupt_record"
) -> tuple[DataFrame, DataFrame]:
    """(good, quarantined) split of a corrupt-capture scan.

    The scan is materialized first — Spark refuses plans that
    reference ONLY the internal corrupt-record column of a raw
    JSON/CSV scan (the parser would have nothing to fail on), and
    the two sides would otherwise re-parse the input twice anyway.
    localCheckpoint rather than .persist(): checkpointed RDDs stay
    out of the CacheManager, whose plan substitution under
    in-cache AQE served corrupt results in a long-lived session
    (see operators/dedup.py:minhash_lsh_candidates).
    """
    df = df.localCheckpoint(eager=True)
    good = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = df.filter(F.col(corrupt_col).isNotNull()).select(corrupt_col)
    return good, bad


def read_excel_driver_side(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    sheet_name: str | int = 0,
) -> DataFrame:
    """Excel scan via driver-side pandas (operators S3/S4).

    Reference: matriz_movilidad.ipynb cells 8 and 16 (nb:88, nb:190)
    read KB-scale .xls/.xlsx dimension tables. Spark has no native
    Excel reader; for dimension-table-sized inputs the idiomatic move
    is a driver-side pandas read -> createDataFrame with a declared
    schema (SURVEY.md S3/S4). Requires openpyxl/xlrd at runtime; this
    container has neither, so the call raises ImportError unless the
    caller supplies rows (tests inject pandas frames directly).
    """
    import pandas as pd  # noqa: PLC0415 — optional heavy dep path

    pdf = pd.read_excel(path, sheet_name=sheet_name)
    return spark.createDataFrame(pdf, schema=schema)


def read_orc(
    spark: SparkSession, path: str, merge_schema: bool = False
) -> DataFrame:
    """ORC scan (columnar interchange with Hive/Trino warehouses —
    the S-family beyond the reference's parquet/CSV/Excel). Spark's
    native vectorized ORC reader applies the same predicate
    pushdown and column pruning as parquet; ``merge_schema``
    reconciles files written under evolving schemas (off by
    default — it reads every footer)."""
    return (
        spark.read.option("mergeSchema", str(merge_schema).lower())
        .orc(path)
    )


def write_orc(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """ORC sink, partitioned for pruning (same contract as
    write_parquet; zlib default compression)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    dynamic_partition_overwrite: bool = False,
) -> None:
    """Parquet sink (operator S10), partitioned for pruning.

    The reference's upstream produced at_urg_respiratorio_semanal
    .parquet (.MISSING_LARGE_BLOBS:12) unpartitioned. At 100 TB a
    sink must partition on the dominant filter key (year/date) so
    downstream scans prune entire directories.

    ``dynamic_partition_overwrite``: overwrite replaces ONLY the
    partitions present in ``df`` instead of truncating the whole
    table — the idempotent-backfill write mode (re-running one
    day's job must not delete the other days).
    """
    writer = df.write.mode(mode)
    if dynamic_partition_overwrite:
        writer = writer.option("partitionOverwriteMode", "dynamic")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_parquet_sorted(
    df: DataFrame,
    path: str,
    sort_by: list[str],
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Parquet sink with a data layout tuned for min/max skipping.

    repartitionByRange on the sort keys clusters each key range
    into one file, and sortWithinPartitions orders rows inside it —
    so every row group's min/max footer stats on those columns are
    tight, and a later filtered scan skips whole row groups /
    files instead of reading them. This is the (single-column
    special case of the) Z-order idea expressed with built-in
    operators: at 100 TB the layout decides whether a selective
    filter reads gigabytes or terabytes.
    """
    n = n_files or df.sparkSession.sparkContext.defaultParallelism
    cols = [F.col(c) for c in sort_by]
    (
        df.repartitionByRange(n, *cols)
        .sortWithinPartitions(*cols)
        .write.mode(mode)
        .parquet(path)
    )


def zorder_value(x, y, bits: int = 16):
    """Morton (Z-order) interleaving of two non-negative integer
    columns: bit i of x lands at position 2i, bit i of y at 2i+1.

    Sorting by this value clusters rows that are close in BOTH
    dimensions, so per-file min/max stats are tight on x AND y and
    a filter on either column skips files — which a single-column
    sort can only provide for its own column. Pure bitwise
    expressions, fully inside codegen.
    """
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(
                F.shiftright(x.cast("long"), i).bitwiseAND(F.lit(1)),
                2 * i,
            )
        ).bitwiseOR(
            F.shiftleft(
                F.shiftright(y.cast("long"), i).bitwiseAND(F.lit(1)),
                2 * i + 1,
            )
        )
    return z


def write_parquet_zordered(
    df: DataFrame,
    path: str,
    col_x: str,
    col_y: str,
    n_files: int | None = None,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Parquet sink Z-ordered on two columns: range-partition and
    sort by the Morton value so each file covers a compact 2-D
    tile — selective filters on either column (or both) skip most
    files. The 2-D generalization of write_parquet_sorted."""
    z = zorder_value(F.col(col_x), F.col(col_y), bits).alias("__z")
    n = n_files or df.sparkSession.sparkContext.defaultParallelism
    (
        df.withColumn("__z", z)
        .repartitionByRange(n, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def compact_parquet(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    target_file_mb: int = 128,
) -> int:
    """Small-file compaction: rewrite a fragmented dataset into
    ~target_file_mb files; returns the output file count.

    Streaming sinks and over-parallel writers produce thousands of
    KB-scale files; each costs a task + open + footer parse per
    scan, and at 100 TB the file listing alone dominates planning.
    Sizing from the actual input bytes (not row counts) keeps the
    result stable across schema/compression changes. coalesce (not
    repartition): compaction must not pay a shuffle.
    """
    # scheme-aware listing (rule 24): a driver-local glob on an
    # HDFS/S3A source would see 0 bytes and coalesce(1) the whole
    # input — the sinks/compaction lesson, shared here.
    from afg_data_pipeline_spark.sinks.compaction import (
        _list_files,
    )

    total_bytes = sum(
        sz for _f, sz in _list_files(spark, source_dir)
    )
    n_out = max(1, round(total_bytes / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(source_dir)
    df.coalesce(n_out).write.mode("overwrite").parquet(target_dir)
    return len(_list_files(spark, target_dir))


def write_bucketed_table(
    df: DataFrame,
    table: str,
    path: str,
    bucket_col: str,
    n_buckets: int = 8,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a BUCKETED catalog table: rows are hash-
    partitioned on ``bucket_col`` into ``n_buckets`` files and
    sorted by it within each bucket. Two tables bucketed the same
    way join WITHOUT A SHUFFLE — the scan itself reports the
    hash partitioning, so SortMergeJoin consumes both sides
    in place (Exchange-free; the sortBy also satisfies the sort
    requirement when each bucket reads as one file). This is the
    co-located-join primitive for fact-to-fact joins at 100 TB:
    bucket once at ingest, every downstream orderkey join skips
    the two corpus-sized exchanges forever.

    Bucket metadata lives in the CATALOG (a plain parquet
    directory cannot carry it), hence saveAsTable with an explicit
    external path; the in-memory catalog of a fresh session works
    — no Hive metastore needed."""
    (
        df.write.mode(mode)
        .option("path", path)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
        .saveAsTable(table)
    )
