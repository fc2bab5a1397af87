"""Scheme-aware filesystem probes shared by streaming sinks and
table-maintenance tools.

Every incremental-store sink (streaming/dsir.py,
streaming/incremental_dedup.py, streaming/drift.py) must ask "does
the prior-batch store exist yet?" before reading it; they all ask
through streaming/sinks.prior, which calls ``store_exists``.  A bare
``os.path.exists`` answers that question against the DRIVER'S local
disk only: pointed at an ``hdfs://`` or ``s3a://`` store it silently
returns ``False`` forever, so every batch is scored against an empty
prior — wrong DSIR scores, zero dedup recall, no error (the
silent-wrong-at-scale class; VERDICT r8 #1).  The probe here goes
through the Hadoop FileSystem API instead, so ``file://`` local
runs, HDFS, and S3A all behave identically.

The same holds for the small driver-side metadata files persisted
indexes keep beside their parquet tables (BM25 ``stats.json``,
IVF-PQ ``codebooks.json``): a Python ``open()`` on a ``file://``
URI raises, and a scheme-less ``open()`` of an ``hdfs://`` path
writes a stray local directory.  ``write_json`` / ``read_json``
route them through the same FileSystem as the tables.

``parquet_footer_schema`` reads a parquet file's footer through the
same FileSystem, so ``io.read_star_table`` can hand Spark the schema
instead of paying its inference job.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession
from pyspark.sql.types import StructType


def _resolve(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` under the session's Hadoop
    configuration."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def store_exists(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` exists on the filesystem its scheme names
    (driver-local when scheme-less), via Hadoop's ``FileSystem`` —
    the same resolution ``spark.read.parquet`` will use, so the
    probe can never disagree with the read that follows it."""
    fs, p = _resolve(spark, path)
    return bool(fs.exists(p))


def delete_path(spark: SparkSession, path: str) -> bool:
    """Recursively delete ``path`` on whatever filesystem its
    scheme names (a shutil.rmtree that works on HDFS/S3A too —
    needed by the erasure path to drop fully-purged store
    partitions).  Returns True iff something was deleted."""
    fs, p = _resolve(spark, path)
    if not fs.exists(p):
        return False
    return bool(fs.delete(p, True))


def write_json(spark: SparkSession, path: str, obj) -> None:
    """Write ``obj`` as JSON to ``path`` (replacing it; parent
    directories are created) on the filesystem its scheme names."""
    fs, p = _resolve(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(json.dumps(obj).encode("utf-8")))
    finally:
        out.close()


def read_json(spark: SparkSession, path: str):
    """Parse the JSON file at ``path`` on the filesystem its scheme
    names."""
    fs, p = _resolve(spark, path)
    src = fs.open(p)
    try:
        return json.loads(bytes(src.readAllBytes()).decode("utf-8"))
    finally:
        src.close()


def parquet_footer_schema(spark: SparkSession, path: str):
    """The Spark schema of the single parquet file at ``path``, read
    from its footer on the driver, or None when ``path`` is not a file
    (a part-file directory, or nothing). The conversion is Spark's
    own: the footer's Spark schema when a Spark writer stored one,
    else ``ParquetToSparkSchemaConverter`` under the session's SQL
    conf, so the result equals what ``spark.read.parquet`` infers,
    without the inference job."""
    fs, p = _resolve(spark, path)
    if not fs.exists(p):
        return None
    status = fs.getFileStatus(p)
    if not status.isFile():
        return None
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(
            status, conf
        )
    )
    try:
        footer = jvm.org.apache.parquet.hadoop.Footer(p, reader.getFooter())
    finally:
        reader.close()
    parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    schema = parquet.ParquetFileFormat.readSchemaFromFooter(
        footer,
        parquet.ParquetToSparkSchemaConverter(
            spark._jsparkSession.sessionState().conf()
        ),
    )
    return StructType.fromJson(json.loads(schema.json()))
