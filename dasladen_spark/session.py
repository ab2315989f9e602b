"""SparkSession factory with scale-aware defaults.

The reference engine is a single-threaded petl pipeline (see SURVEY.md
§3: /root/reference/dasladen/task.py:200-202 materializes rows one at a
time). Here a tuned SparkSession is the execution substrate; every
default below is chosen so the same code runs on local[N] for tests and
on a 1000-executor cluster against ~100 TB:

- Arrow on, so any unavoidable Python stage is vectorized.
- shuffle.partitions is a *starting* number; AQE coalesces down on
  small data and the advisory partition size governs the large end.
- session timezone pinned to UTC so timestamp semantics are identical
  across driver, executors, and the DuckDB correctness oracle.

Spark's own defaults already give what the scale path needs, so they
are not repeated here: AQE with partition coalescing and skew-join
splitting (64 MiB advisory partitions), parquet filter pushdown, the
vectorized parquet reader, and 128 MiB input splits (a 1 GiB
row-group-dense file still splits). tests/test_session.py pins those
effective values.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

#: configs applied to every session; callers may override via extra_conf
DEFAULT_CONF: dict[str, str] = {
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # PySpark 4 wraps EVERY DataFrame/Column API call in a call-site
    # capture (a Python stack walk + a set/clear py4j round-trip pair)
    # purely to enrich error messages with user line numbers. On
    # plan-construction-heavy queries (the 64-permutation MinHash
    # aggregate builds ~6.9k py4j calls) that is 15-50 % of the
    # DRIVER-side plan build time — same-process A/B (toggling the
    # pyspark gate): dedup_minhash_lsh build 1.31→0.64 s, ann_lsh
    # 0.69→0.47 s, rrf 0.57→0.39 s. Driver plan time is a fixed cost
    # that parallelizes on nothing (guide §7.3), so it is turned off
    # here; errors still raise with the full JVM analysis message,
    # only the "user code line" enrichment is lost. PySpark reads it
    # once per process, at the first DataFrame API call, and caches
    # it: it takes effect when set before that call (a reused JVM
    # too) and cannot be changed after it.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # output codec: zstd reads back as fast as snappy and writes
    # markedly smaller files (guide §6) — at 100 TB the sink bytes
    # are the cost; locally A/B-measured a wash (pipeline_corpus_e2e
    # interleaved medians 15.18 s snappy vs 14.98 s zstd)
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # signature aggregates (MinHash min-folds, hyperplane quantized
    # dots) carry 128-260 buffer fields; the default maxFields=100
    # silently drops those stages out of whole-stage codegen (the
    # stage still runs, interpreted). Janino splits oversized
    # methods, and hugeMethodLimit still guards the pathological
    # case, so a higher ceiling only widens codegen coverage.
    "spark.sql.codegen.maxFields": "384",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # Long sessions (bench: 55 queries × 4 reps; oracle gate: 267)
    # generate thousands of codegen classes; the JVM's default 240 MB
    # code cache fills, the JIT silently disables, and every later
    # query runs interpreted ~2-3× slower — measured as progressive
    # per-query degradation across a bench run. A larger, flushable
    # code cache keeps late queries at the same steady state as a
    # fresh session. CAVEAT: this only takes effect when THIS
    # builder launches the JVM (the local/test/bench path); under
    # spark-submit client mode the driver JVM already exists and the
    # setting is silently inert — pass the same flags via
    # --driver-java-options there. get_spark MERGES this with any
    # extraJavaOptions from spark-defaults.conf or extra_conf (theirs
    # first, these appended) rather than replacing, so a deployment's
    # GC/agent flags survive; a caller-supplied ReservedCodeCacheSize
    # wins (see _merge_java_options).
    "spark.driver.extraJavaOptions": (
        "-XX:ReservedCodeCacheSize=512m -XX:+UseCodeCacheFlushing"
    ),
    # streaming state off-heap: the default HDFS-backed provider keeps
    # every key's state in executor heap, which caps stateful streaming
    # (streaming/stateful.py, matview.py) far below 100 TB key
    # cardinality; RocksDB spills to local disk and bounds heap use
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": (
        "true"
    ),
}


def default_parallelism() -> int:
    """CPU budget: SPARK_GRAFT_CPUS env, else all local cores."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


_JAVA_OPTS_KEY = "spark.driver.extraJavaOptions"


def _spark_defaults_java_options() -> str:
    """``spark.driver.extraJavaOptions`` from spark-defaults.conf, if
    a conf dir exists ($SPARK_CONF_DIR, else $SPARK_HOME/conf) — the
    local-launch path never reads that file through SparkConf (the
    JVM doesn't exist yet), so a deployment's GC/agent flags would
    otherwise be silently dropped by our code-cache default."""
    conf_dir = os.environ.get("SPARK_CONF_DIR") or (
        os.path.join(os.environ["SPARK_HOME"], "conf")
        if "SPARK_HOME" in os.environ
        else None
    )
    if not conf_dir:
        return ""
    path = os.path.join(conf_dir, "spark-defaults.conf")
    found = ""
    try:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line or line.startswith("#"):
                    continue
                # Spark reads this file via java.util.Properties, so
                # the key/value separator is the FIRST '=' or
                # whitespace (keys never contain '='; later '='s —
                # -XX:ReservedCodeCacheSize=512m — belong to the
                # value). Exact-key match, LAST occurrence wins.
                m = re.match(r"^([^\s=]+)[\s=]+(.*)$", line)
                if m and m.group(1) == _JAVA_OPTS_KEY:
                    found = m.group(2).strip()
    except OSError:
        return ""
    return found


def _merge_java_options(*values: str | None) -> str:
    """Merge driver java-option strings left-to-right, dropping exact
    duplicate flags and letting a LATER value of a ``-XX:name=``-style
    option override an earlier one (JVMs take the last occurrence, but
    deduping keeps the line readable and the intent explicit). Empty /
    None values are skipped."""
    seen: dict[str, int] = {}
    out: list[str] = []
    for value in values:
        for flag in (value or "").split():
            # -XX:Name=V and -Dname=v override by their name part
            key = flag.split("=", 1)[0] if "=" in flag else flag
            if key in seen:
                out[seen[key]] = flag
            else:
                seen[key] = len(out)
                out.append(flag)
    return " ".join(out)


def get_spark(
    app_name: str = "dasladen-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``; on a real
    cluster pass ``None`` after setting ``--master`` via spark-submit
    (an existing session is reused untouched).
    """
    cpus = default_parallelism()
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    elif master is not None:
        builder = builder.master(master)

    conf = dict(DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(
        shuffle_partitions if shuffle_partitions is not None else max(cpus, 32)
    )
    if extra_conf:
        conf.update(extra_conf)
    # merge, never replace, driver java options: a deployment's flags
    # (spark-defaults.conf) and a caller's (extra_conf) both survive
    # alongside the code-cache defaults; the caller's value is last so
    # e.g. its own -XX:ReservedCodeCacheSize wins
    conf[_JAVA_OPTS_KEY] = _merge_java_options(
        _spark_defaults_java_options(),
        DEFAULT_CONF[_JAVA_OPTS_KEY],
        (extra_conf or {}).get(_JAVA_OPTS_KEY),
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one synthetic fixture table (see TESTDATA.md).

    The events table stores TIMESTAMP(NANOS) parquet, which Spark only
    reads via the nanosAsLong legacy conf; convert to timestamp_ntz at
    microsecond precision — exactly what DuckDB does natively, so the
    oracle comparison stays bit-identical. The conf is set at runtime
    (works on any session, including the driver's own)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn(
            "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
        )
    return df


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view so ``spark.sql``
    can be used as the query engine (the reference delegates SQL text
    to its backing RDBMS — /root/reference/dasladen/task.py:94-107;
    here Spark SQL *is* the backing engine)."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
