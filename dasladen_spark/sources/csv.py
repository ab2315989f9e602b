"""CSV source — parity with the reference's lazy petl read
(/root/reference/dasladen/task.py:209-221): first row is the header,
every value is a STRING (typing is the `convert` transform's job),
delimiter defaults to ';', encoding to utf-8.

Spark-side: a distributed CSV scan (splittable, predicate-pushdown
capable); `inferSchema` stays off both for parity and because schema
inference is an extra full pass at 100 TB.

Even without `inferSchema`, Spark learns a CSV's column names by
running a job that reads its first line. For a local file `read_csv`
reads that line on the driver instead and hands Spark the all-string
schema it would have built, so the read launches no job.
"""

from __future__ import annotations

import codecs
import io
import os
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

#: characters that make Spark treat a path as a glob pattern
_GLOB_CHARS = frozenset("*?[]{}\\")


def local_path(spark: SparkSession, path: str) -> bool:
    """Whether Spark reads ``path`` as this local file or directory:
    it exists here, holds no glob character, and a path without a
    scheme resolves to the local filesystem."""
    default_fs = spark._jsc.hadoopConfiguration().get("fs.defaultFS") or "file:///"
    return (
        default_fs.startswith("file:")
        and not _GLOB_CHARS.intersection(path)
        and os.path.exists(path)
    )


def _first_line(path: str, encoding: str) -> str | None:
    """The first non-blank line of the local file ``path``, split and
    decoded the way Spark's header inference reads it: Hadoop's line
    reader drops a UTF-8 byte-order mark and splits on LF, CR or CRLF,
    and Spark skips lines that SQL ``trim`` (spaces only) leaves
    empty. None when the file has no such line, Python does not know
    ``encoding``, or the encoding is not ASCII-compatible (Hadoop
    splits lines on raw bytes)."""
    try:
        codec = codecs.lookup(encoding).name
    except LookupError:
        return None
    if "\n".encode(codec) != b"\n":
        return None
    with open(path, "rb") as raw:
        if raw.read(len(codecs.BOM_UTF8)) != codecs.BOM_UTF8:
            raw.seek(0)
        with io.TextIOWrapper(raw, encoding=codec, errors="replace") as text:
            lines = (ln.rstrip("\n") for ln in text)
            return next((ln for ln in lines if ln.strip(" ")), None)


def _split(line: str, sep: str) -> list[str] | None:
    """The fields of one CSV line as Spark's parser reads them (quote
    '"', escape backslash): a field that opens with a quote runs to
    the closing quote, where a backslash escapes a quote or a
    backslash; any other field runs literally to the next ``sep``.
    None for a line this reading may get wrong: an unclosed quote, or
    text between a closing quote and the next ``sep``."""
    fields, i, n = [], 0, len(line)
    while True:
        if line.startswith('"', i):
            value, j = [], i + 1
            while j < n and line[j] != '"':
                if line[j] == "\\" and line[j + 1 : j + 2] in ('"', "\\"):
                    j += 1
                value.append(line[j])
                j += 1
            j += 1
            if j > n or not (j == n or line.startswith(sep, j)):
                return None
            fields.append("".join(value))
        else:
            j = line.find(sep, i)
            j = n if j < 0 else j
            fields.append(line[i:j])
        if j == n:
            return fields
        i = j + len(sep)


def _safe_header(names: list[str], case_sensitive: bool) -> list[str]:
    """Spark's CSVDataSource.makeSafeHeader: an empty name becomes
    ``_c<i>``; a duplicated name (compared case-insensitively unless
    ``case_sensitive``) gets its index appended."""
    key = (lambda n: n) if case_sensitive else str.lower
    seen = Counter(key(n) for n in names)
    return [
        f"_c{i}" if not n else f"{n}{i}" if seen[key(n)] > 1 else n
        for i, n in enumerate(names)
    ]


def _header_schema(
    spark: SparkSession, path: str, delimiter: str, encoding: str
) -> StructType | None:
    """The all-string schema Spark would infer for the local CSV file
    ``path``, read without a Spark job; None where only Spark can tell
    (not a local file, no non-blank line, unknown codec, a line or
    separator `_split` does not take)."""
    if not (local_path(spark, path) and os.path.isfile(path)):
        return None
    line = _first_line(path, encoding)
    if line is None:
        return None
    # Spark reads escape sequences such as "\\t" in a separator
    plain_sep = delimiter and not {"\\", '"'} & set(delimiter)
    fields = _split(line, delimiter) if plain_sep else None
    if fields is None:
        return None
    case_sensitive = spark.conf.get("spark.sql.caseSensitive") == "true"
    names = _safe_header(fields, case_sensitive)
    return StructType([StructField(n, StringType()) for n in names])


def read_csv(
    spark: SparkSession,
    path: str,
    delimiter: str = ";",
    encoding: str = "utf-8",
    header: bool = True,
) -> DataFrame:
    reader = spark.read
    schema = _header_schema(spark, path, delimiter, encoding) if header else None
    if schema is not None:
        reader = reader.schema(schema)
    return (
        reader.option("header", header)
        .option("sep", delimiter)
        .option("encoding", encoding)
        .option("inferSchema", False)
        .csv(path)
    )


def read_csv_robust(
    spark: SparkSession,
    path: str,
    schema: str,
    delimiter: str = ";",
    encoding: str = "utf-8",
    header: bool = True,
    mode: str = "PERMISSIVE",
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """Typed CSV read with an explicit malformed-row policy — what a
    100 TB ingest actually needs (one bad row must not kill a
    12-hour job, and silently dropping it is worse):

    - PERMISSIVE (default): bad rows land with nulls + the raw line
      in ``corrupt_col`` so they can be quarantined downstream
      (see quarantine_corrupt).
    - DROPMALFORMED: bad rows vanish (count them before trusting).
    - FAILFAST: any bad row fails the job — for data contracts.

    Requires an explicit schema (PERMISSIVE needs it to know what a
    'good' row is; inference is an extra full pass at scale anyway).
    """
    full_schema = f"{schema}, {corrupt_col} STRING"
    return (
        spark.read.schema(full_schema)
        .option("header", header)
        .option("sep", delimiter)
        .option("encoding", encoding)
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", corrupt_col)
        .csv(path)
    )


def quarantine_corrupt(
    df: DataFrame,
    quarantine_path: str | None = None,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """Split a PERMISSIVE read: corrupt raw lines are optionally
    written to ``quarantine_path`` (text, one bad line per row, for
    replay after a parser fix) and clean rows are returned without
    the corrupt column. Spark requires caching a PERMISSIVE frame
    before filtering on the corrupt column (SPARK-21610)."""
    from pyspark.sql import functions as F

    df = df.cache()
    bad = df.filter(F.col(corrupt_col).isNotNull()).select(corrupt_col)
    if quarantine_path is not None:
        bad.write.mode("overwrite").text(quarantine_path)
    return df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)

