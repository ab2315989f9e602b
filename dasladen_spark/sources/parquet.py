"""Parquet source helpers (the native lakehouse format)."""

from __future__ import annotations

import json
import os

from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from dasladen_spark.sources.csv import local_path

#: Parquet summary files, which Spark's schema inference prefers
_SUMMARIES = ("_common_metadata", "_metadata")


def _listed(name: str) -> bool:
    """Whether Spark's file listing keeps ``name``
    (HadoopFSUtils.shouldFilterOutPathName)."""
    hidden = (name.startswith("_") and "=" not in name) or name.startswith(".")
    return name.startswith(_SUMMARIES) or not (hidden or name.endswith("._COPYING_"))


def _leaf_files(path: str) -> list[str]:
    files = []
    for entry in os.scandir(path):
        if not _listed(entry.name):
            continue
        if entry.is_dir():
            files += _leaf_files(entry.path)
        else:
            files.append(entry.path)
    return files


def _schema_file(path: str) -> str | None:
    """The file Spark's schema inference would read for the local
    ``path`` (ParquetUtils.inferSchema without mergeSchema): the first
    ``_common_metadata``, else the first ``_metadata``, else the first
    data file, in path order."""
    if os.path.isfile(path):
        return path
    files = sorted(_leaf_files(path))
    for summary in _SUMMARIES:
        hit = next((f for f in files if os.path.basename(f) == summary), None)
        if hit:
            return hit
    return next((f for f in files if os.path.basename(f) not in _SUMMARIES), None)


def _footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The data schema Spark would infer for the local parquet
    ``path``, read from one footer on the driver with Spark's own
    classes, so no job runs. None where only Spark can tell: not a
    local path, no file to read, ``mergeSchema`` on, or a footer the
    driver cannot read (Spark's inference then raises the error)."""
    if not local_path(spark, path):
        return None
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().conf()
    if conf.isParquetSchemaMergingEnabled():
        return None
    chosen = _schema_file(path)
    if chosen is None:
        return None
    pq = jvm.org.apache.spark.sql.execution.datasources.parquet
    converter = pq.ParquetToSparkSchemaConverter

    def default(i):
        return getattr(converter, f"$lessinit$greater$default${i}")()

    try:
        hadoop_path = jvm.org.apache.hadoop.fs.Path(os.path.abspath(chosen))
        footer = pq.ParquetFooterReader.readFooter(
            jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                hadoop_path, spark._jsc.hadoopConfiguration()
            ),
            jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
        )
        # the flags ParquetFileFormat.mergeSchemasInParallel passes:
        # five from the session, the constructor's defaults for the rest
        to_spark = converter(
            conf.isParquetBinaryAsString(),
            conf.isParquetINT96AsTimestamp(),
            default(3),
            conf.parquetInferTimestampNTZEnabled(),
            conf.legacyParquetNanosAsLong(),
            default(6),
            default(7),
            conf.parquetReaderRespectUnknownTypeAnnotation(),
        )
        schema = pq.ParquetFileFormat.readSchemaFromFooter(
            jvm.org.apache.parquet.hadoop.Footer(hadoop_path, footer), to_spark
        )
    except (Py4JError, PySparkException):  # PySpark converts most JVM errors
        return None
    return StructType.fromJson(json.loads(schema.json()))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the job Spark runs to infer
    the schema: for a local path the schema comes from the footer of
    the file Spark would have read. Spark still discovers partition
    columns (``batch=N/``) from the directory layout."""
    schema = _footer_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def read_parquet_evolving(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution read: mergeSchema unions the schemas of all
    files, so rows written before a column existed surface it as
    NULL. This is an extra footer pass over every file — at 100 TB
    pin the merged schema in a catalog instead; this reader is for
    the transition window while old and new writers coexist."""
    return spark.read.option("mergeSchema", True).parquet(path)
