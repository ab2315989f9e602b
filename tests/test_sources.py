"""Schemas read on the driver: a local CSV's header line and a local
parquet footer give Spark the schema its own inference would build,
so the read launches no Spark job. Each case is checked against
Spark's own inference (same schema, same rows), plus the fallbacks
where only Spark can tell."""

import uuid
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as papq
import pytest

from dasladen_spark.session import load_table
from dasladen_spark.sources.csv import _header_schema, read_csv
from dasladen_spark.sources.parquet import _footer_schema, read_parquet

_GROUP = "spark.jobGroup.id"


def read_with_jobs(spark, read):
    """``read()``'s DataFrame and the ids of the jobs it launched."""
    sc = spark.sparkContext
    group = f"test-sources-{uuid.uuid4().hex}"
    caller = sc.getLocalProperty(_GROUP)
    sc.setLocalProperty(_GROUP, group)
    try:
        df = read()
    finally:
        sc.setLocalProperty(_GROUP, caller)
    return df, list(sc.statusTracker().getJobIdsForGroup(group))


def assert_same(got, want):
    assert got.schema == want.schema
    assert Counter(map(tuple, got.collect())) == Counter(map(tuple, want.collect()))


def spark_csv(spark, path, encoding="utf-8"):
    """Spark's own header inference, the parity reference."""
    return (
        spark.read.option("header", True)
        .option("sep", ";")
        .option("encoding", encoding)
        .option("inferSchema", False)
        .csv(str(path))
    )


CSV_HEADERS = {
    "plain": b"a;b;c\n1;2;3\n",
    "dups": b"a;b;a\n1;2;3\n",
    "case_dups": b"a;A;b\n1;2;3\n",
    "empty": b"a;;c\n1;2;3\n",
    "quoted": b'"a;x";b\n1;2\n',
    "bom": b"\xef\xbb\xbfa;b\n1;2\n",
    "leading_blank_lines": b"\n   \na;b\n1;2\n",
    "spaces": b" a ; b \n1;2\n",
    "crlf": b"a;b\r\n1;2\r\n",
    "empty_quoted": b'"";b\n1;2\n',
    "header_only": b"a;b\n",
    "escaped_quote": b'"a\\"b";c\n1;2\n',
    "backslash_unquoted": b"a\\;b;c\n1;2;3\n",
}


@pytest.mark.parametrize("name", sorted(CSV_HEADERS))
def test_csv_header_matches_spark_without_a_job(spark, tmp_path, name):
    path = tmp_path / f"{name}.csv"
    path.write_bytes(CSV_HEADERS[name])
    got, jobs = read_with_jobs(spark, lambda: read_csv(spark, str(path)))
    assert jobs == []
    assert_same(got, spark_csv(spark, path))


def test_csv_case_sensitive_duplicates_follow_the_session(spark, tmp_path):
    path = tmp_path / "case.csv"
    path.write_bytes(CSV_HEADERS["case_dups"])
    spark.conf.set("spark.sql.caseSensitive", "true")
    try:
        got, jobs = read_with_jobs(spark, lambda: read_csv(spark, str(path)))
        assert jobs == [] and got.columns == ["a", "A", "b"]
        assert_same(got, spark_csv(spark, path))
    finally:
        spark.conf.unset("spark.sql.caseSensitive")


def test_csv_non_utf8_encoding(spark, tmp_path):
    path = tmp_path / "latin.csv"
    path.write_bytes("é;b\n1;ü\n".encode("iso-8859-1"))
    got, jobs = read_with_jobs(
        spark, lambda: read_csv(spark, str(path), encoding="iso-8859-1")
    )
    assert jobs == []
    assert_same(got, spark_csv(spark, path, "iso-8859-1"))


@pytest.mark.parametrize(
    "case",
    [
        "directory",  # not a local file
        "glob",  # not a local file: Spark expands the pattern
        "blank_only",  # no non-blank line
        "utf16",  # Hadoop splits lines on bytes this codec does not use
        "unclosed_quote",  # a header line the driver does not parse
    ],
)
def test_csv_fallbacks_match_spark(spark, tmp_path, case):
    encoding = "utf-16" if case == "utf16" else "utf-8"
    body = {
        "blank_only": b"  \n\n",
        "utf16": "a;b\n1;2\n".encode("utf-16"),
        "unclosed_quote": b'a;"b\n1;2\n',
    }.get(case, b"a;b\n1;2\n")
    (tmp_path / "d").mkdir()
    (tmp_path / "d" / "part.csv").write_bytes(body)
    path = str(tmp_path / "d")
    if case != "directory":
        path += "/*.csv" if case == "glob" else "/part.csv"
    assert _header_schema(spark, path, ";", encoding) is None
    assert_same(read_csv(spark, path, encoding=encoding), spark_csv(spark, path, encoding))


# ---------------------------------------------------------------- parquet


def _pyarrow_file(spark, tmp_path):
    path = tmp_path / "arrow.parquet"
    papq.write_table(
        pa.table(
            {
                "a": [1, 2, None],
                "s": ["x", None, "z"],
                "f": pa.array([1.0, 2.0, 3.0], pa.float32()),
                "ts": pa.array([1, 2, 3], pa.timestamp("us")),
            }
        ),
        path,
    )
    return path


def _spark_dir(spark, tmp_path):
    path = tmp_path / "spark_dir"
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id BIGINT NOT NULL, name STRING"
    ).write.parquet(str(path))
    return path


def _partitioned(spark, tmp_path):
    path = tmp_path / "intake"
    spark.createDataFrame(
        [(1, "a", 0), (2, "b", 0), (3, "c", 1)], "id BIGINT, name STRING, batch INT"
    ).write.partitionBy("batch").parquet(str(path))
    return path


def _common_metadata(spark, tmp_path):
    """A summary file names a column no data file has: Spark's own
    inference reads the summary, so the schema has it too."""
    path = tmp_path / "summarized"
    path.mkdir()
    papq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path / "part-0.parquet")
    papq.write_metadata(
        pa.schema([("a", pa.int64()), ("b", pa.string()), ("c", pa.float64())]),
        path / "_common_metadata",
    )
    return path


@pytest.mark.parametrize(
    "make", [_pyarrow_file, _spark_dir, _partitioned, _common_metadata]
)
def test_parquet_footer_matches_spark_without_a_job(spark, tmp_path, make):
    path = str(make(spark, tmp_path))
    got, jobs = read_with_jobs(spark, lambda: read_parquet(spark, path))
    assert jobs == []
    assert_same(got, spark.read.parquet(path))


def test_parquet_partition_column_still_discovered(spark, tmp_path):
    path = str(_partitioned(spark, tmp_path))
    got = read_parquet(spark, path)
    assert got.columns == ["id", "name", "batch"]
    assert sorted(r.batch for r in got.collect()) == [0, 0, 1]


def test_parquet_footer_matches_load_table_events(spark, sf_dir):
    """``events`` as load_table reads it, under nanosAsLong."""
    want = load_table(spark, sf_dir, "events")
    path = f"{sf_dir}/events.parquet"
    got, jobs = read_with_jobs(spark, lambda: read_parquet(spark, path))
    assert jobs == []
    assert_same(got, want)


def test_parquet_converter_reads_the_session_conf_at_call_time(spark, tmp_path):
    """TIMESTAMP(NANOS) columns read as longs only under nanosAsLong:
    the footer schema must follow the conf as it stands at each read."""
    path = str(tmp_path / "nanos.parquet")
    papq.write_table(
        pa.table({"ts": pa.array([1_000, 2_000], pa.timestamp("ns")), "v": [1, 2]}),
        path,
    )
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        got, jobs = read_with_jobs(spark, lambda: read_parquet(spark, path))
        assert jobs == [] and got.schema["ts"].dataType.typeName() == "long"
        assert_same(got, spark.read.parquet(path))
        spark.conf.set(key, "false")
        assert _footer_schema(spark, path) is None  # Spark raises; so must we
        with pytest.raises(Exception) as spark_error:
            spark.read.parquet(path)
        with pytest.raises(type(spark_error.value)):
            read_parquet(spark, path)
    finally:
        spark.conf.set(key, before)


def test_parquet_merge_schema_falls_back_to_spark(spark, tmp_path):
    path = tmp_path / "evolving"
    path.mkdir()
    papq.write_table(pa.table({"a": [1]}), path / "part-0.parquet")
    papq.write_table(pa.table({"a": [2], "b": ["x"]}), path / "part-1.parquet")
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        assert _footer_schema(spark, str(path)) is None
        got = read_parquet(spark, str(path))
        assert got.columns == ["a", "b"]
        assert_same(got, spark.read.parquet(str(path)))
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")


def test_no_driver_read_when_bare_paths_name_another_filesystem(spark, tmp_path):
    """Where the default filesystem is not local (a cluster's HDFS), a
    bare path names a file there, not the driver's copy."""
    csv_path = tmp_path / "plain.csv"
    csv_path.write_bytes(CSV_HEADERS["plain"])
    parquet_path = str(_pyarrow_file(spark, tmp_path))
    conf = spark._jsc.hadoopConfiguration()
    before = conf.get("fs.defaultFS")
    conf.set("fs.defaultFS", "hdfs://namenode:8020")
    try:
        assert _header_schema(spark, str(csv_path), ";", "utf-8") is None
        assert _footer_schema(spark, parquet_path) is None
    finally:
        conf.set("fs.defaultFS", before)
