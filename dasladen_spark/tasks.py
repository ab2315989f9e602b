"""Task types — the reference's full task matrix (SURVEY §2.5,
/root/reference/dasladen/task.py:577-599) compiled to Spark plans.

Every ETL task is source → transform chain → sink as ONE lazy
DataFrame plan: Catalyst sees the whole pipeline, so filters written
as `transform.filter` strings reach the scan as pushed-down
predicates — something the reference's row-at-a-time petl chain can
never do.

The emptiness short-circuit keeps the reference's semantics
(task.py:181 etc.) without a second read of the source (fix per
SURVEY §4.8): a csv sink checks after its write, and only when the
write wrote nothing does `isEmpty()` peek at one partition; the db
sink peeks before writing.

Non-data tasks (zip/unzip/download/ftp/py-exec/custom) stay
driver-side Python, as in the reference — they are control-plane.
"""

from __future__ import annotations

import os
import sys
import threading
import uuid
import zipfile
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from dasladen_spark.connections import ConnectionRegistry
from dasladen_spark.metrics import group_stages
from dasladen_spark.sinks.commit import replace_dir
from dasladen_spark.sinks.csv import write_csv
from dasladen_spark.sources.csv import read_csv
from dasladen_spark.sources.parquet import read_parquet
from dasladen_spark.sources.xls import read_xls
from dasladen_spark.sources.xml import read_xml
from dasladen_spark.transforms.compiler import apply_transforms, load_user_transform


@dataclass
class TaskContext:
    """Folders + session + connections for one task file run
    (the reference's folder convention, base.py:19-25)."""

    spark: SparkSession
    connections: ConnectionRegistry
    input_path: str = "input"
    output_path: str = "output"
    module_path: str = "module"
    log: Callable[[str], None] = field(default=lambda m: None)


def _src_path(ctx: TaskContext, src: dict) -> str:
    return os.path.join(src.get("folder", src.get("path", ctx.input_path)), src["file"])


def _tgt_path(ctx: TaskContext, tgt: dict) -> str:
    return os.path.join(tgt.get("folder", tgt.get("path", ctx.output_path)), tgt["file"])


def _parse_sql(ctx: TaskContext, src: dict) -> str:
    """command | query-file + params — parity with _parse_sql
    (task.py:94-107) incl. trailing-';' strip; `.format(**params)`
    substitution is kept (documented, no eval)."""
    if "command" in src:
        sql = src["command"]
    else:
        path = os.path.join(src.get("path", ctx.input_path), src["query"])
        with open(path, encoding=src.get("encoding", "utf-8")) as f:
            sql = f.read()
    params = src.get("params")
    if params:
        sql = sql.format(**params)
    return sql.strip().rstrip(";")


def _transformed(ctx: TaskContext, task: dict, df: DataFrame) -> DataFrame:
    return apply_transforms(
        df,
        transform=task.get("transform"),
        transforms=task.get("transforms"),
        module_path=ctx.module_path,
    )


def _read_source(ctx: TaskContext, task: dict, kind: str) -> DataFrame:
    """Read ``task["source"]`` as format ``kind``."""
    src = task["source"]
    if kind == "csv":
        return read_csv(
            ctx.spark,
            _src_path(ctx, src),
            delimiter=src.get("delimiter", ";"),
            encoding=src.get("encoding", "utf-8"),
        )
    if kind == "db":
        conn = ctx.connections.get(src["connection"])
        return conn.read_sql(ctx.spark, _parse_sql(ctx, src))
    if kind == "xml":
        return read_xml(
            ctx.spark,
            _src_path(ctx, src),
            row=src["row"],
            value=src.get("value"),
            attr=src.get("attr"),
            mapping=src.get("mapping"),
        )
    if kind == "xls":
        return read_xls(
            ctx.spark,
            _src_path(ctx, src),
            sheet=src.get("sheet"),
            use_view=bool(src.get("use_view", True)),
        )
    if kind == "json":
        # JSON-lines by default (the splittable, scale-friendly form);
        # multiline=true opts into whole-file parsing for pretty JSON.
        rd = ctx.spark.read
        if src.get("schema"):
            rd = rd.schema(src["schema"])
        if src.get("multiline"):
            rd = rd.option("multiLine", "true")
        return rd.json(_src_path(ctx, src))
    if kind == "parquet":
        return read_parquet(ctx.spark, _src_path(ctx, src))
    if kind == "orc":
        return ctx.spark.read.orc(_src_path(ctx, src))
    raise ValueError(f"unknown source kind {kind!r}")


def _write_sink(
    ctx: TaskContext,
    task: dict,
    df: DataFrame,
    kind: str,
    keep: Callable[[], bool] | None = None,
) -> None:
    """Write ``df`` to ``task["target"]`` as format ``kind``. A truncate
    write to a file target lands beside it and replaces it only once
    finished (sinks/commit); ``keep`` goes to the csv sink (see
    ``write_csv``)."""
    tgt = task["target"]
    truncate = bool(tgt.get("truncate", False))
    mode = "overwrite" if truncate else "append"
    if kind == "db":
        ctx.connections.get(tgt["connection"]).write_table(
            df, ctx.spark, tgt["table"], truncate=truncate, schema=tgt.get("schema")
        )
        return
    if kind == "csv":
        write_csv(
            df,
            _tgt_path(ctx, tgt),
            delimiter=tgt.get("delimiter", ";"),
            encoding=tgt.get("encoding", "utf-8"),
            truncate=truncate,
            single_file=bool(tgt.get("single_file", True)),
            keep=keep,
        )
        return
    if kind == "json":
        write = df.write.mode(mode).json
    elif kind == "parquet" and tgt.get("zorder"):
        # two-column Morton-clustered layout (sinks/zorder) — file-level
        # min/max skipping on BOTH columns
        if tgt.get("partition_by"):
            raise ValueError(
                "parquet sink: 'zorder' and 'partition_by' are"
                " mutually exclusive — a z-ordered layout is one"
                " directory of curve-clustered files; partition"
                " the table instead if directory pruning is the"
                " goal"
            )
        from dasladen_spark.sinks.zorder import write_zordered

        def write(stage: str) -> None:
            cols, n_files = tuple(tgt["zorder"]), int(tgt.get("n_files", 8))
            write_zordered(df, stage, cols, n_files=n_files, mode=mode)

    elif kind in ("parquet", "orc"):
        w = df.write.mode(mode)
        if tgt.get("partition_by"):
            w = w.partitionBy(*tgt["partition_by"])
        write = w.format(kind).save
    elif kind == "tar":
        # WebDataset-style shard export (sinks/tarshards) — the
        # training-loader layout, reachable from task files; an
        # export always replaces its target
        from dasladen_spark.sinks.tarshards import write_tar_shards

        def write(stage: str) -> None:
            write_tar_shards(
                df,
                stage,
                n_shards=int(tgt.get("n_shards", 8)),
                key_col=tgt.get("key_field", "key"),
                payload_col=tgt.get("payload_field", "payload"),
                ext=tgt.get("ext", "bin"),
                meta_cols=tgt.get("meta_fields"),
            )

    else:
        raise ValueError(f"unknown sink kind {kind!r}")
    if truncate or kind == "tar":
        replace_dir(ctx.spark, _tgt_path(ctx, tgt), write)
    else:  # append keeps Spark's own per-job commit
        write(_tgt_path(ctx, tgt))


# Every runner but run_etl names the spec key it reads (source, train,
# bench, queries) or writes (target, quarantine, report) and that
# key's default kind; the spec's own ``kind`` overrides the default.
# The spec always reaches _read_source / _write_sink as the task's
# ``source`` / ``target``.


def _read(
    ctx: TaskContext, task: dict, key: str = "source", default: str = "parquet"
) -> DataFrame:
    spec = task[key]
    return _read_source(ctx, {**task, "source": spec}, spec.get("kind", default))


def _read_transformed(ctx: TaskContext, task: dict) -> DataFrame:
    """The task's ``source`` run through its transform chain."""
    return _transformed(ctx, task, _read(ctx, task))


def _write(
    ctx: TaskContext,
    task: dict,
    df: DataFrame,
    key: str = "target",
    default: str = "parquet",
) -> None:
    spec = task[key]
    _write_sink(ctx, {**task, "target": spec}, df, spec.get("kind", default))


def _observed_write(ctx: TaskContext, task: dict, df: DataFrame) -> int:
    """Write ``df`` to the task's parquet-default ``target`` and return
    the number of rows written, counted by a CollectMetrics observation
    ON the write itself: the write already computes every row, so the
    count costs no extra job and no cache (guide §1.4/§5)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    _write(ctx, task, df.observe(obs, F.count(F.lit(1)).alias("n")))
    return int(obs.get["n"])


def _reject_reserved(df: DataFrame, names, what: str, role: str) -> None:
    """Fail when a source column would collide with a column the task
    adds (``role`` says which kind)."""
    for name in names:
        if name in df.columns:
            raise ValueError(
                f"{what}: source column {name!r} collides with {role}"
                " — rename it upstream"
            )


# The write's jobs share a job group, not a job tag: StatusTracker
# looks a group's job ids up directly, while finding tagged jobs
# scans every retained job on every poll.
_JOB_GROUP = "spark.jobGroup.id"


def _rows_written(spark: SparkSession, group: str, sink_kind: str, skip=()) -> int:
    """Rows written so far by the jobs of job group ``group`` not in
    ``skip``, read from Spark's own per-task metrics (they update once
    per finished task).

    Every Spark writer records ``outputRecords``. The tar sink writes
    from Python, so Spark records none for it; its rows are the
    shuffle-read records of its last job's result stage, which the
    sink's own repartition alone feeds. A last stage that writes
    shuffle output belongs to an adaptive map job, not the writer."""
    tar = sink_kind == "tar"
    _, stages = group_stages(spark, group, skip, last=tar)
    if tar:
        if not stages or stages[0].shuffleWriteRecords():
            return 0
        return stages[0].shuffleReadRecords()
    return sum(s.outputRecords() for s in stages)


def run_etl(ctx: TaskContext, task: dict) -> None:
    """All seven source×sink ETL shapes share this pipeline
    (task.py §2.5); one lazy plan end-to-end, written by the task's
    only Spark job wherever the source's schema is known without
    reading its rows (csv, parquet, db; xml and json infer theirs).

    The write runs in the caller's job group, so the caller's
    ``cancelJobGroup`` stops it, and Spark's task metrics of the jobs
    started in that group after the write began say how many rows it
    wrote. A caller without a group gets one of the write's own for
    the time of the write.

    Empty-source short-circuit (ref task.py:181) ONLY for the
    reference-parity terminal sinks, csv and db: an empty source
    writes no header-only file and makes no DB round trip.
    Engine-internal sinks (parquet/orc/json/tar) ALWAYS write a
    schema-bearing (possibly empty) output: a chained pipeline's next
    stage must find its input even when an upstream filter
    legitimately empties the stream (round-11's sf1 gate died with
    PATH_NOT_FOUND when the skip swallowed a mid-pipeline stage's
    input). Two rules decide the skip:
    - csv writes into a stage beside its target, so it asks after
      its job: a write that wrote rows keeps its output at no cost,
      and only one that wrote none (or ran a module transform)
      probes the source with ``isEmpty()``;
    - db probes first, because a JDBC truncate runs before its job
      starts and cannot be staged.

    Progress meter parity (ref task.py:197-202: petl logs every
    10,000 rows into the per-task log): a driver-side poller sums the
    rows the write's jobs wrote, narrating each crossed 10k boundary
    WHILE the write runs. Task metrics arrive on task completion, so
    lines appear per finished partition — the distributed analogue of
    a row counter, costing no extra pass and no Python stage.
    ``"progress": 0`` in the task disables the meter."""
    src_kind, sink_kind = task["type"].split("-")
    df = _read_source(ctx, task, src_kind)
    name = task.get("name")
    if sink_kind == "db" and df.isEmpty():
        ctx.log(f"task {name}: empty source, skipping write")
        return
    out = _transformed(ctx, task, df)
    every = int(task.get("progress", 10000))
    sc = ctx.spark.sparkContext
    caller_group = sc.getLocalProperty(_JOB_GROUP)
    group = caller_group or f"dasladen-etl-{uuid.uuid4().hex}"
    # the caller's jobs so far are not the write's
    before = set(sc.statusTracker().getJobIdsForGroup(group)) if caller_group else ()
    stop = threading.Event()
    reported = 0
    skipped = False

    # rows written prove the source non-empty unless a user module
    # transform, which may add rows (a trailer, a global count), ran
    modules = task.get("transforms") or "module" in (task.get("transform") or {})

    def written() -> int:
        return _rows_written(ctx.spark, group, sink_kind, before)

    def keep() -> bool:
        nonlocal skipped
        wrote = not modules and written() > 0
        skipped = not wrote and df.isEmpty()
        return not skipped

    def emit_crossings() -> int:
        nonlocal reported
        rows = written()
        while reported + every <= rows:
            reported += every
            ctx.log(f"task {name}: {reported} rows")
        return rows

    def poll():
        while every and not stop.wait(0.2):
            emit_crossings()

    sc.setLocalProperty(_JOB_GROUP, group)
    poller = threading.Thread(target=poll, daemon=True)
    poller.start()
    try:
        _write_sink(ctx, task, out, sink_kind, keep=keep)
    finally:
        sc.setLocalProperty(_JOB_GROUP, caller_group)
        stop.set()
        poller.join()
    if skipped:
        ctx.log(f"task {name}: empty source, skipping write")
    elif every:
        # only now, with the poller gone, does this thread advance the
        # count; '~': a retried or speculative task attempt can record
        # its rows again, so after an executor failure the total can
        # exceed the rows actually committed
        ctx.log(f"task {name}: wrote ~{emit_crossings()} rows")


# ------------------------------------------------------ control-plane


def run_sql_exec(ctx: TaskContext, task: dict) -> None:
    """DDL/DML statement on a connection (task.py:527-536)."""
    src = task["source"]
    conn = ctx.connections.get(src["connection"])
    conn.execute_sql(ctx.spark, _parse_sql(ctx, src))


def _cp437_member_name(name: str) -> str:
    """Member names restricted to cp437 (ref task.py:461-463): legacy
    zip consumers read names as cp437, so any character outside it
    becomes '_' — keeping the name's byte form stable everywhere."""
    # encode-with-replace turns non-cp437 chars into '?', then '?'→'_'
    # (literal '?' too, exactly as the reference's translate does)
    return (
        name.encode("cp437", errors="replace").decode("cp437").replace("?", "_")
    )


def run_zip(ctx: TaskContext, task: dict) -> None:
    """Zip files from the source folder (fixes §4.7: reads members
    from the SOURCE path, not the target); member names are cp437-
    sanitized like the reference's _encode_cp437."""
    src, tgt = task["source"], task["target"]
    src_dir = src.get("path", ctx.output_path)
    out = os.path.join(tgt.get("path", ctx.output_path), tgt["file"])
    files = src["files"] if isinstance(src.get("files"), list) else [src["file"]]
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for fn in files:
            zf.write(os.path.join(src_dir, fn), arcname=_cp437_member_name(fn))
    if src.get("remove_after"):
        for fn in files:
            os.remove(os.path.join(src_dir, fn))


def run_unzip(ctx: TaskContext, task: dict) -> None:
    """Extract an archive (fixes §4.7: remove_after removes the real
    source path)."""
    src, tgt = task["source"], task.get("target", {})
    src_path = os.path.join(src.get("path", ctx.input_path), src["file"])
    dest = tgt.get("path", ctx.input_path)
    with zipfile.ZipFile(src_path) as zf:
        zf.extractall(dest)
    if src.get("remove_after"):
        os.remove(src_path)


def run_download(ctx: TaskContext, task: dict) -> None:
    """HTTP GET → file (task.py:558-574); driver-side."""
    import requests

    src, tgt = task["source"], task["target"]
    resp = requests.get(
        src["url"], params=src.get("params"), headers=src.get("headers"), timeout=300
    )
    resp.raise_for_status()
    out = _tgt_path(ctx, tgt)
    os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
    with open(out, "wb") as f:
        f.write(resp.content)


def run_ftp_upload(ctx: TaskContext, task: dict) -> None:
    """FTP push (task.py:441-456) via stdlib ftplib."""
    from ftplib import FTP

    src, tgt = task["source"], task["target"]
    conn = ctx.connections.get(tgt["connection"]).config
    local = os.path.join(src.get("path", ctx.output_path), src["file"])
    ftp = FTP()
    ftp.connect(conn.get("host", "localhost"), int(conn.get("port", 21)))
    ftp.login(conn.get("user", ""), conn.get("pass", ""))
    if tgt.get("path"):
        ftp.cwd(tgt["path"])
    with open(local, "rb") as f:
        ftp.storbinary(f"STOR {tgt.get('file', src['file'])}", f)
    ftp.quit()


def run_py_exec(ctx: TaskContext, task: dict) -> None:
    """Run a user module's main() (task.py:510-524); the module can
    import the active SparkSession for Spark-aware steps."""
    src = task["source"]
    mod = load_user_transform(src["module"], src.get("package"), ctx.module_path)
    argv_backup = sys.argv
    try:
        sys.argv = [mod.__name__] + list(src.get("args", []))
        mod.main()
    finally:
        sys.argv = argv_backup


class BaseTask:
    """Custom-task ABC (parity with task.py:83-92); run() receives the
    TaskContext (which carries the SparkSession) instead of a DB
    driver factory."""

    def run(self, ctx: TaskContext, task: dict) -> None:  # pragma: no cover
        raise NotImplementedError


def run_custom(ctx: TaskContext, task: dict) -> None:
    """User-defined task class (task.py:545-555)."""
    mod = load_user_transform(task["module"], task.get("package"), ctx.module_path)
    inst = getattr(mod, task["class"])()
    inst.run(ctx, task)


def run_nop(ctx: TaskContext, task: dict) -> None:
    ctx.log(f"task {task.get('name')}: nop")


def run_profile(ctx: TaskContext, task: dict) -> None:
    """Profile task (beyond the reference): read ANY supported source
    (``source.kind`` picks the reader), compute a per-column profile —
    null count, distinct count, min/max (stringified for a uniform
    report schema) — in ONE aggregation pass over the data, and write
    the per-column report through any supported sink
    (``target.kind``, default csv).

    The reshape from the 1-row wide aggregate to one-report-row-per-
    column happens driver-side on that single row, so the data itself
    is scanned exactly once however many columns are profiled."""
    from pyspark.sql import functions as F

    df = _read_transformed(ctx, task)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in df.columns:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(F.col(c).cast("string")).alias(f"{c}__min"),
            F.max(F.col(c).cast("string")).alias(f"{c}__max"),
        ]
    row = df.agg(*aggs).collect()[0]
    report = ctx.spark.createDataFrame(
        [
            (
                c,
                int(row["__n"]),
                int(row[f"{c}__nulls"]),
                int(row[f"{c}__distinct"]),
                row[f"{c}__min"],
                row[f"{c}__max"],
            )
            for c in df.columns
        ],
        "column STRING, n_rows BIGINT, n_nulls BIGINT, n_distinct BIGINT, "
        "min_value STRING, max_value STRING",
    )
    _write(ctx, task, report, default="csv")
    ctx.log(f"task {task.get('name')}: profiled {len(df.columns)} columns")


def run_validate(ctx: TaskContext, task: dict) -> None:
    """Validate task (beyond the reference): read any supported source
    (``source.kind``), evaluate the contract in ``rules`` (name → SQL
    predicate, one aggregate pass via operators/quality.py), optionally
    check ``unique`` key columns, and route rows: clean rows continue
    to ``target``; violating rows (tagged with the names of every rule
    they failed) go to ``quarantine`` if configured. ``fail_on_violation``
    turns any violation into a task error AFTER the report is written —
    a 100 TB ingest quarantines and reports, it doesn't stack-trace
    first."""
    from pyspark.sql import functions as F

    from dasladen_spark.operators.quality import (
        check_rules,
        check_unique,
        split_valid,
    )

    df = _read_transformed(ctx, task)
    rules = task.get("rules", {})
    counts = check_rules(df, rules) if rules else {}
    dup_count = 0
    if task.get("unique"):
        dup_count = check_unique(df, task["unique"]).count()
        counts["unique"] = dup_count
    ctx.log(f"task {task.get('name')}: violations {counts}")
    clean, bad = split_valid(df, rules) if rules else (df, None)
    if task.get("quarantine") and bad is not None:
        bad = bad.withColumn("violated", F.concat_ws(",", "violated"))
        _write(ctx, task, bad, "quarantine", "csv")
    if task.get("target"):
        _write(ctx, task, clean, default="csv")
    if task.get("fail_on_violation") and (any(counts.values()) or dup_count):
        raise ValueError(f"contract violations: {counts}")


def run_dedup(ctx: TaskContext, task: dict) -> None:
    """Dedup task (beyond the reference): read any supported source,
    keep one row per normalized-text fingerprint (lowest ``id_field``
    survives), and — when ``index`` names a catalog table — drop rows
    whose fingerprint is already in that MATERIALIZED history index
    (operators/fingerprint_index: bucketed anti-join, zero history-
    side shuffle) before writing survivors to ``target``. With
    ``update_index`` (default true) the survivors' fingerprints are
    appended, so the next run of the same task file dedups against
    everything this run admitted: scheduled task-file runs become an
    incremental intake pipeline with per-run cost O(batch). A missing
    index table cold-starts empty.

    ``method: "winnowing"`` switches to NEAR-dup semantics (winnowed
    k-gram fingerprints, the MOSS position-local scheme): within-batch
    clusters collapse to their min-id survivor and, with ``index``,
    docs sharing ``min_shared`` or more fingerprints with history are
    dropped. An index table holds either whole-doc or winnowed
    fingerprints, never both — point each method at its own table.
    Both arms are operators/fingerprint_index.dedup_against_index,
    what the streaming dedup intake runs per micro-batch."""
    from dasladen_spark.operators.dedup import WINNOW_MIN_SHARED
    from dasladen_spark.operators.fingerprint_index import (
        build_fingerprint_index,
        dedup_against_index,
    )
    from dasladen_spark.operators.snapshot import build_once, resolve_snapshot

    df = _read_transformed(ctx, task)
    text_field = task.get("text_field", "text")
    id_field = task.get("id_field", df.columns[0])
    method = task.get("method", "exact")
    if method == "spans":
        return _run_dedup_spans(ctx, task, df, text_field, id_field)
    if method == "semantic":
        return _run_dedup_semantic(ctx, task, df, id_field)
    if method not in ("exact", "winnowing"):
        # a typo must not silently fall through to whole-document
        # exact dedup — that DROPS documents the user asked to keep
        raise ValueError(f"unknown dedup method {method!r}")
    index = task.get("index")
    if index:
        # cold start: a missing index, or one whose build died before
        # its meta table, is built empty (else append_to_index dies
        # after the sink already ran) — at the physical name its
        # pointer names, else at ``index`` itself
        build_once(
            ctx.spark,
            resolve_snapshot(ctx.spark, index),
            ("", "_meta"),
            lambda t: build_fingerprint_index(
                ctx.spark.createDataFrame([], f"{text_field} STRING"), t,
                text_col=text_field,
                n_buckets=int(task.get("n_buckets", 16)), tag="cold-start",
            ),
        )
    n_out = dedup_against_index(
        df,
        index,
        # the row count rides the write via observe, not a third job
        lambda out: _observed_write(ctx, task, out),
        method=method,
        id_col=id_field,
        text_col=text_field,
        min_shared=int(task.get("min_shared", WINNOW_MIN_SHARED)),
        update_index=task.get("update_index", True),
    )
    arm = " (winnowing)" if method == "winnowing" else ""
    ctx.log(f"task {task.get('name')}: {n_out} novel rows out{arm}")


def _run_dedup_semantic(
    ctx: TaskContext, task: dict, df, id_field: str
) -> None:
    """The dedup task's SEMANTIC arm (SemDeDup — operators/dedup
    semantic_dedup_survivors): cluster ``vec_field`` embeddings with
    the exact lattice k-means (``k``, ``iterations``, optional
    ``fit_fraction`` for the sampled 100 TB fit), drop docs within
    ``threshold`` cosine of a lower-id cluster-mate (component min-id
    survivor). Kept docs go to ``target``; set ``quarantine`` to also
    write the dropped docs with their ``survivor`` audit column.
    Pairwise work is cluster-bounded and a cluster above
    ``max_cluster`` raises loudly (re-fit with larger k)."""
    from pyspark.sql import functions as F

    from dasladen_spark.operators.clustering import kmeans_fit
    from dasladen_spark.operators.dedup import semantic_dedup_survivors

    vec_field = task.get("vec_field", "embedding")
    assigned = kmeans_fit(
        df,
        vec_field,
        id_field,
        k=int(task.get("k", 8)),
        iterations=int(task.get("iterations", 2)),
        fit_fraction=task.get("fit_fraction"),
    )
    surv = semantic_dedup_survivors(
        df,
        assigned,
        id_col=id_field,
        vec_col=vec_field,
        threshold=float(task.get("threshold", 0.9)),
        max_cluster=int(task.get("max_cluster", 100_000)),
    )
    from pyspark.sql import Observation

    marked = df.join(
        surv.select(
            F.col("id").alias(id_field), "survivor", "kept"
        ),
        id_field,
    )
    q = task.get("quarantine")
    # persist ONLY when the quarantine sink adds a second consumer;
    # the (n_in, n_kept) audit rides the kept-write as a CollectMetrics
    # observation placed BELOW the kept filter (it sees every marked
    # row), replacing the two count() jobs the old spelling ran
    if q:
        marked = marked.persist()
    try:
        obs = Observation()
        observed = marked.observe(
            obs,
            F.count(F.lit(1)).alias("n_in"),
            F.sum("kept").alias("n_kept"),
        )
        kept = observed.filter(F.col("kept") == 1).drop("survivor", "kept")
        _write(ctx, task, kept)
        n_in = int(obs.get["n_in"])
        n_kept = int(obs.get["n_kept"] or 0)
        if q:
            dropped = marked.filter(F.col("kept") == 0).drop("kept")
            _write(ctx, task, dropped, "quarantine")
    finally:
        if q:
            marked.unpersist()
    ctx.log(
        f"task {task.get('name')}: semantic dedup kept {n_kept}/{n_in}"
    )


def _run_dedup_spans(
    ctx: TaskContext, task: dict, df, text_field: str, id_field: str
) -> None:
    """The dedup task's SPAN-level arm (Lee et al.-style exact
    substring dedup, operators/dedup duplicated_spans): instead of
    dropping whole near-dup documents, cut every LATER occurrence of
    a duplicated token run and keep each doc's unique remainder.

    ``mode: "cut"`` (default) writes the corpus with ``text_field``
    rewritten plus an ``n_cut_tokens`` audit column; ``mode:
    "report"`` writes the span table itself (doc_a, doc_b, a_start,
    b_start, span_tokens, span_md5) — the input a human review or a
    downstream masking job consumes. Knobs: ``seed_n`` (seed k-gram
    width), ``min_span`` (minimal cut length, tokens), ``max_df``
    (seed hub cap). ``mode: "drop"`` keeps whole docs whose
    duplicated-span COVERAGE stays ≤ ``max_coverage`` (default 0.5,
    shingle width ``span`` default 8) — the corpus_clean_funnel s4
    gate as a task stage. No history-index support — span cutting is
    a within-corpus operation; run it before the exact/winnowing
    incremental arms."""
    from dasladen_spark.operators.dedup import (
        SPAN_MAX_DF,
        SPAN_MIN_TOKENS,
        SPAN_SEED_N,
        cut_duplicate_spans,
        duplicated_span_coverage,
        duplicated_spans,
    )

    kw = dict(
        id_col=id_field,
        text_col=text_field,
        seed_n=int(task.get("seed_n", SPAN_SEED_N)),
        min_span=int(task.get("min_span", SPAN_MIN_TOKENS)),
        max_df=int(task.get("max_df", SPAN_MAX_DF)),
    )
    mode = task.get("mode", "cut")
    if mode == "report":
        out = duplicated_spans(df, **kw)
    elif mode == "cut":
        out = cut_duplicate_spans(df, **kw)
    elif mode == "drop":
        # funnel-parity arm: compute each doc's duplicated-span
        # coverage over THIS batch and keep docs at or under the
        # ceiling — the spelling corpus_clean_funnel audits, so task
        # runs and the registered report never disagree on the metric
        from pyspark.sql import functions as F

        cov = duplicated_span_coverage(
            df.select(id_field, text_field),
            id_field,
            text_field,
            span=int(task.get("span", 8)),
        )
        out = (
            df.join(
                cov.select(id_field, "dup_coverage"), id_field, "left"
            )
            .filter(
                F.coalesce(F.col("dup_coverage"), F.lit(0.0))
                <= float(task.get("max_coverage", 0.5))
            )
            .drop("dup_coverage")
        )
    else:
        raise ValueError(f"unknown dedup spans mode {mode!r}")
    n_out = _observed_write(ctx, task, out)
    ctx.log(f"task {task.get('name')}: {n_out} rows out (spans/{mode})")


def run_er(ctx: TaskContext, task: dict) -> None:
    """Entity-resolution task (beyond the reference): blocked
    candidate pairs over ``name_field`` (``block_expr`` SQL
    expression, default all-but-last-2-characters — the device that
    caps block size by construction), edit-distance match edges
    (``max_distance``, default 1), TRANSITIVE closure via per-block
    union-find (operators/graph partitioned_components — every edge
    lies inside one block, so no iteration is needed), and a full
    member → cluster mapping written to ``target``: (member, member_name,
    cluster_id, rep_name), singletons mapped to themselves — the
    task-file spelling of er_customer_clusters, producing the merge
    map a downstream golden-record join applies.

    Scale shape: the candidate join is block-keyed (never all-pairs),
    and since every edge lies inside one block, closure is
    partitioned_components — one shuffle + union-find per block in an
    Arrow batch, no iterative jobs."""
    from pyspark.sql import functions as F

    from dasladen_spark.operators.graph import partitioned_components

    df = _read_transformed(ctx, task)
    name_field = task.get("name_field", "name")
    key_field = task.get("key_field") or task.get("id_field", df.columns[0])
    max_distance = int(task.get("max_distance", 1))
    block = F.expr(
        task.get(
            "block_expr",
            f"substring({name_field}, 1, length({name_field}) - 2)",
        )
    )
    # spread the stream side of the broadcast candidate join: a
    # dimension-sized source scans as one task, and the pair
    # expansion × levenshtein would otherwise run on a single core
    a = df.repartition(ctx.spark.sparkContext.defaultParallelism).select(
        F.col(key_field).alias("ka"),
        F.col(name_field).alias("name_a"),
        block.alias("blk"),
    )
    b = df.select(
        F.col(key_field).alias("kb"),
        F.col(name_field).alias("name_b"),
        block.alias("blk"),
    )
    edges = (
        a.join(b, on=[a.blk == b.blk, F.col("ka") < F.col("kb")])
        .filter(F.levenshtein("name_a", "name_b") <= max_distance)
        .select("ka", "kb", a.blk)
    )
    labels = partitioned_components(edges, "blk", src="ka", dst="kb")
    mapping = (
        df.select(
            F.col(key_field).alias("member"),
            F.col(name_field).alias("member_name"),
        )
        .join(
            labels.select(
                F.col("id").alias("member"),
                F.col("component").alias("cluster_id"),
            ),
            "member",
            "left",
        )
        # a key in no match edge is its own (singleton) cluster
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("member")))
    )
    reps = df.select(
        F.col(key_field).alias("cluster_id"),
        F.col(name_field).alias("rep_name"),
    )
    out = mapping.join(reps, "cluster_id", "left").select(
        "member", "member_name", "cluster_id", "rep_name"
    )
    _write(ctx, task, out)
    ctx.log(f"task {task.get('name')}: er merge map written")


def run_classify(ctx: TaskContext, task: dict) -> None:
    """Classify task (beyond the reference): train the distributed
    Naive-Bayes classifier (operators/classify) on the ``train``
    source's (text, label) rows, score the ``source`` rows, and write
    (id, pred, score) to ``target`` — the task-file spelling of the
    quality-filter stage, so a scheduled task file becomes a corpus
    curation run. ``min_score`` optionally drops rows whose winning
    log-score is below the bar (an absolute-likelihood floor)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dasladen_spark.operators.classify import nb_score, nb_train

    text_field = task.get("text_field", "text")
    label_field = task.get("label_field", "label")
    train = _read(ctx, task, "train")
    df = _read_transformed(ctx, task)
    id_field = task.get("id_field", df.columns[0])
    counts, stats = nb_train(
        train, id_col=task.get("train_id_field", id_field),
        text_col=text_field, label_col=label_field,
    )
    scores = nb_score(
        df, counts, stats, id_col=id_field, text_col=text_field,
        label_col=label_field,
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("log_score").desc(), F.col(label_field).asc()
    )
    pred = (
        scores.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            F.col("doc_id").alias(id_field),
            F.col(label_field).alias("pred"),
            F.col("log_score").alias("score"),
        )
    )
    if "min_score" in task:
        pred = pred.filter(F.col("score") >= float(task["min_score"]))
    n_out = _observed_write(ctx, task, pred)
    ctx.log(f"task {task.get('name')}: {n_out} rows classified")


def run_sample(ctx: TaskContext, task: dict) -> None:
    """Sample task (beyond the reference): read any supported source,
    keep a deterministic id-hash sample, write it to ``target`` — the
    task-file spelling of the sampling operators, so a scheduled task
    becomes a repeatable downsized extract (same rows on every run
    and on any cluster size; operators/sampling).

    - ``method: deterministic`` (default) — ``fraction`` of rows by
      id hash
    - ``method: stratified`` — per-stratum ``fractions`` map over
      ``strata_field`` (unlisted strata get ``default_fraction``)
    - ``method: dsir`` — importance-resampling selection: score each
      source row by the DSIR target-vs-raw unigram log-likelihood
      ratio against the ``train`` source's exemplar docs
      (operators/sampling.dsir_weights) and keep the top
      ``keep_fraction`` by per-token weight (exact-percentile
      threshold, ties kept) — the task-file spelling of
      quality-targeted corpus selection
    - ``method: coreset`` — greedy k-center over ``vec_field``
      embeddings (operators/sampling.kcenter_coreset): the ``k``
      source rows that COVER the embedding space, each stamped with
      its pick_order and squared distance to the prior centers —
      the task-file spelling of diversity-first selection
    """
    from dasladen_spark.operators.sampling import (
        deterministic_sample,
        dsir_weights,
        stratified_sample,
    )

    df = _read_transformed(ctx, task)
    id_field = task.get("id_field", df.columns[0])
    method = task.get("method", "deterministic")
    if method == "dsir":
        from pyspark.sql import functions as F

        text_field = task.get("text_field", "text")
        train = _read(ctx, task, "train")
        tagged = df.select(
            F.col(id_field).alias("_did"),
            F.col(text_field).alias("_txt"),
            F.lit(False).alias("_t"),
        ).unionByName(
            train.select(
                F.lit(None).cast(df.schema[id_field].dataType).alias("_did"),
                F.col(text_field).alias("_txt"),
                F.lit(True).alias("_t"),
            )
        )
        # w feeds TWO consumers (the percentile threshold and the keep
        # filter); exchange reuse already runs the DSIR pipeline's
        # shuffles once for both. Not persisted: a cached plan keeps its
        # shuffles at spark.sql.shuffle.partitions uncoalesced (this
        # session leaves canChangeCachedPlanOutputPartitioning false),
        # while AQE coalesces the uncached ones
        w = dsir_weights(tagged, "_t", id_col="_did", text_col="_txt")
        keep_fraction = float(task.get("keep_fraction", 0.25))
        thr = w.agg(
            F.percentile("weight_per_token", F.lit(1.0 - keep_fraction)).alias("thr")
        )
        keep = (
            w.crossJoin(F.broadcast(thr))
            .filter(F.col("weight_per_token") >= F.col("thr"))
            .select(F.col("_did").alias(id_field), "weight_per_token")
        )
        _write(ctx, task, df.join(keep, id_field))
        ctx.log(f"task {task.get('name')}: sample written (dsir)")
        return
    if method == "coreset":
        from pyspark.sql import functions as F

        from dasladen_spark.operators.quality import require_unique_ids
        from dasladen_spark.operators.sampling import kcenter_coreset

        what = "sample task (coreset)"
        _reject_reserved(df, ("pick_order", "d2"), what, "an audit column")
        # loud id guard (the decontaminate task's invariant): a NULL
        # id seeds the greedy pick then vanishes from the equi-join;
        # duplicate ids fan the broadcast join out into >k rows with
        # d2 stamped on rows it was never computed for
        require_unique_ids(df, id_field, what)
        # the greedy loop scans the source k times — persist so those
        # scans hit memory, not the source parser (the operator's
        # at-scale contract)
        df = df.persist()
        try:
            picks = kcenter_coreset(
                df,
                vec_col=task.get("vec_field", "embedding"),
                id_col=id_field,
                k=int(task.get("k", 8)),
            )
            # picks is k rows — broadcast it back onto the source so
            # the output carries every source column plus the audit
            # pair
            out = df.join(F.broadcast(picks), id_field).orderBy(
                "pick_order"
            )
            _write(ctx, task, out)
        finally:
            df.unpersist()
        ctx.log(f"task {task.get('name')}: sample written (coreset)")
        return
    if method == "deterministic":
        out = deterministic_sample(
            df, float(task.get("fraction", 0.1)), id_field,
            salt=int(task.get("salt", 42)),
        )
    elif method == "stratified":
        out = stratified_sample(
            df,
            task["strata_field"],
            {k: float(v) for k, v in task.get("fractions", {}).items()},
            id_field,
            default_fraction=float(task.get("default_fraction", 0.0)),
            salt=int(task.get("salt", 42)),
        )
    else:
        raise ValueError(f"unknown sample method {method!r}")
    _write(ctx, task, out)
    ctx.log(f"task {task.get('name')}: sample written ({method})")


def _semantic_prefilter(task: dict) -> str:
    """Map the decontaminate task's ``prefilter`` knob to a
    semantic_contamination method, rejecting unknown values."""
    pf = task.get("prefilter")
    if pf in (None, "exact"):
        return "exact"
    if pf == "ann":
        return "ann"
    raise ValueError(
        f"decontaminate task: unknown prefilter {pf!r}"
        " (expected 'ann' or 'exact'/absent)"
    )


def run_pack(ctx: TaskContext, task: dict) -> None:
    """Pack task (beyond the reference): stamp every source row with
    ``n_tokens`` (whitespace token count of ``text_field``) and a
    ``pack_id`` assigning documents — in ``id_field`` order — to
    fixed-budget training sequences by exclusive running token count
    (``seq_tokens``, default 2048). The task-file spelling of the
    pack_sequences plan: the running total is
    operators/ranking.global_prefix_sum (range-partition + partition
    offsets), never a single-partition global window, so the same
    task packs a trillion tokens."""
    from pyspark.sql import functions as F

    from dasladen_spark.functions.text import token_count
    from dasladen_spark.operators.ranking import global_prefix_sum

    df = _read_transformed(ctx, task)
    text_field = task.get("text_field", "text")
    id_field = task.get("id_field", df.columns[0])
    seq_tokens = int(task.get("seq_tokens", 2048))
    _reject_reserved(
        df, ("n_tokens", "pack_id", "__prior"), "pack task", "an output name"
    )
    toks = df.withColumn(
        "n_tokens", token_count(F.col(text_field)).cast("long")
    )
    ps = global_prefix_sum(
        toks, [F.col(id_field)], "n_tokens", out_col="__prior",
        exclusive=True,
    )
    out = ps.withColumn(
        "pack_id",
        F.floor(F.col("__prior") / F.lit(seq_tokens)).cast("bigint"),
    ).drop("__prior")
    _write(ctx, task, out)
    ctx.log(
        f"task {task.get('name')}: packed into {seq_tokens}-token"
        " sequences"
    )


def run_decontaminate(ctx: TaskContext, task: dict) -> None:
    """Decontaminate task (beyond the reference): drop source docs
    that share at least ``min_hits`` distinct word n-grams (width
    ``ngram``, default 8) with a benchmark corpus read from the
    ``bench`` source — the task-file spelling of the
    decontaminate_ngrams query family, so eval-set leakage removal
    becomes a schedulable pipeline stage. Clean docs go to
    ``target``; set ``quarantine`` to also write the dropped docs
    with their hit counts (the audit trail reviewers ask for).
    ``method: "semantic"`` switches to embedding-space matching: a
    doc drops when its ``vec_field`` vector sits within ``threshold``
    cosine of some benchmark vector — the paraphrase-robust
    complement (a reworded eval question shares no 8-gram but sits
    next to the original in embedding space); quarantined docs carry
    (nearest_bench_id, max_cosine) instead of the gram count.

    ``id_field`` values must be non-null and unique — a NULL id would
    silently pass a contaminated doc into the clean output (anti-join
    NULL semantics) and duplicate ids would merge gram sets across
    docs before the min_hits threshold, so both fail loudly up front.

    The bench side, the hits and the clean/quarantine split are
    operators/decontaminate's decontamination_bench,
    decontamination_hits and route_on_hits (scale shape there) — what
    the streaming intake gate runs per micro-batch, so batch and
    stream drop exactly the same docs."""
    from dasladen_spark.operators.decontaminate import (
        decontamination_bench,
        decontamination_hits,
        route_on_hits,
    )
    from dasladen_spark.operators.quality import require_unique_ids

    df = _read_transformed(ctx, task)
    method = task.get("method", "ngrams")
    text_field = task.get("text_field", "text")
    id_field = task.get("id_field", df.columns[0])
    vec_field = task.get("vec_field", "embedding")
    n = int(task.get("ngram", 8))
    min_hits = int(task.get("min_hits", 1))
    what = "decontaminate task"
    bench = decontamination_bench(
        _read(ctx, task, "bench"),
        method,
        what,
        text_col=task.get("bench_text_field", text_field),
        n=n,
        id_col=id_field,
        vec_col=vec_field,
        bench_id_col=task.get("bench_id_field"),
        bench_vec_col=task.get("bench_vec_field"),
    )
    _reject_reserved(
        df,
        ("_did", "n_contaminated_grams") if method == "ngrams"
        else ("_did", "nearest_bench_id", "max_cosine"),
        what,
        "an internal name",
    )
    require_unique_ids(
        df, id_field, what,
        " — a NULL or duplicated id would silently leak or over-drop"
        " documents",
    )
    hits = decontamination_hits(
        df,
        bench,
        method,
        text_col=text_field,
        id_col=id_field,
        n=n,
        min_hits=min_hits,
        vec_col=vec_field,
        threshold=float(task.get("threshold", 0.35)),
        # prefilter: "ann" bounds the rescore to hyperplane-bucket
        # collisions — the shape for eval suites too large for the
        # exact |corpus|×|bench| broadcast scan; anything else
        # (typo, wrong case) fails loudly rather than silently
        # running the 2000×-slower exact scan
        prefilter=(
            _semantic_prefilter(task) if method == "semantic" else "exact"
        ),
        num_tables=int(task.get("num_tables", 16)),
        bits_per_table=int(task.get("bits_per_table", 4)),
        dim=int(task.get("dim", 64)),
    )
    route_on_hits(
        df,
        hits,
        id_field,
        lambda clean: _write(ctx, task, clean),
        (lambda dropped: _write(ctx, task, dropped, "quarantine"))
        if task.get("quarantine")
        else None,
    )
    knobs = (
        f"method=semantic, threshold={float(task.get('threshold', 0.35))}"
        if method == "semantic"
        else f"ngram={n}, min_hits={min_hits}"
    )
    ctx.log(f"task {task.get('name')}: decontaminated ({knobs})")


def run_intake(ctx: TaskContext, task: dict) -> None:
    """Intake task (beyond the reference): run one of the STREAMING
    ingestion gates (streaming/intake.py) from a task file, so the
    reference's control plane — watcher, scheduler, repeat-N, CLI —
    can drive continuous document intake without bespoke driver code.
    Each run drains whatever landed in the source folder since the
    last run (``availableNow`` + a persistent checkpoint under the
    output area), routing to ``target`` (accept) and ``quarantine``
    folders exactly once; a scheduled task file thereby becomes an
    incremental intake pipeline with per-run cost O(new files).

    ``gate: "quality"`` (default) scores with functions/text's
    quality_score and token_count, the Column functions the batch
    pipeline uses (``min_quality`` / ``min_tokens`` knobs); ``gate:
    "decontaminate"`` quarantines docs sharing ≥ ``min_hits`` word
    ``ngram``-grams with the ``bench`` source through
    operators/decontaminate's decontamination_bench,
    decontamination_hits and route_on_hits — the functions the
    `decontaminate` task calls, so ingestion and backfill can never
    disagree. ``schema`` defaults to the documents layout."""
    from dasladen_spark.streaming.intake import (
        run_decontaminate_gate,
        run_quality_gate,
        stream_document_folder,
    )

    src = task["source"]
    folder = src.get("folder", src.get("path", ctx.input_path))
    schema = src.get(
        "schema", "doc_id long, text string, lang string, source string"
    )
    docs = stream_document_folder(ctx.spark, folder, schema)
    tgt = task["target"]
    accept = _tgt_path(ctx, tgt)
    quarantine = _tgt_path(
        ctx,
        {"file": tgt["file"] + ".quarantine", **task.get("quarantine", {})},
    )
    gate = task.get("gate", "quality")
    # keyed on (name, gate, target): two intake tasks sharing an
    # output area must not share a streaming checkpoint — the second
    # would inherit the first's seen-files log and silently process
    # nothing
    checkpoint = task.get(
        "checkpoint",
        os.path.join(
            ctx.output_path,
            f"_ck_{task.get('name', 'intake')}_{gate}_{tgt['file']}",
        ),
    )
    scratch: list = []
    if gate == "quality":
        query = run_quality_gate(
            docs,
            accept,
            quarantine,
            checkpoint,
            min_quality=float(task.get("min_quality", 0.3)),
            min_tokens=int(task.get("min_tokens", 5)),
            text_col=task.get("text_field", "text"),
        )
    elif gate == "decontaminate":
        query = run_decontaminate_gate(
            docs,
            _read(ctx, task, "bench"),
            accept,
            quarantine,
            checkpoint,
            text_col=task.get("text_field", "text"),
            id_col=task.get("id_field", "doc_id"),
            ngram=int(task.get("ngram", 8)),
            min_hits=int(task.get("min_hits", 1)),
            scratch=scratch,
            # method: "semantic" needs a `schema` with the vector
            # column (the documents default has none)
            method=task.get("method", "ngrams"),
            vec_col=task.get("vec_field", "embedding"),
            threshold=float(task.get("threshold", 0.35)),
            bench_id_col=task.get("bench_id_field"),
            bench_vec_col=task.get("bench_vec_field"),
        )
    else:
        raise ValueError(f"unknown intake gate {gate!r}")
    try:
        query.awaitTermination()
    finally:
        for c in scratch:
            c.unpersist()
    ctx.log(f"task {task.get('name')}: intake drained ({gate} gate)")


def run_cluster(ctx: TaskContext, task: dict) -> None:
    """Cluster task (beyond the reference): read any supported
    source, run the lattice k-means over its embedding column
    (operators/clustering.kmeans_fit — md5-hash seeds, quantized-
    integer Lloyd rounds), and write the (id, cluster) assignment to
    ``target``; ``report`` optionally names a second sink for the
    per-cluster size rollup. Fully deterministic, so a scheduled
    re-run over the same corpus writes identical assignments — the
    task-file spelling of corpus-structure discovery (mix audits,
    per-cluster sampling quotas).

    Options: ``k`` (default 8), ``iterations`` (default 4),
    ``id_field`` (default vec_id), ``vector_field`` (default
    embedding), ``fit_fraction`` (fit the centroids on a
    deterministic id-hash sample — the 100 TB shape; the final
    assignment still covers every row)."""
    from pyspark.sql import functions as F

    from dasladen_spark.operators.clustering import kmeans_fit

    df = _read_transformed(ctx, task)
    id_field = task.get("id_field", "vec_id")
    vec_field = task.get("vector_field", "embedding")
    k = int(task.get("k", 8))
    fit_fraction = task.get("fit_fraction")
    assigned = kmeans_fit(
        df,
        vec_field,
        id_field,
        k=k,
        iterations=int(task.get("iterations", 4)),
        fit_fraction=(
            float(fit_fraction) if fit_fraction is not None else None
        ),
    ).withColumnRenamed("id", id_field)
    _write(ctx, task, assigned)
    if task.get("report"):
        sizes = (
            assigned.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n_members"))
            .orderBy("cluster")
        )
        _write(ctx, task, sizes, "report", "csv")
    ctx.log(f"task {task.get('name')}: clustered into {k} cells")


def run_score(ctx: TaskContext, task: dict) -> None:
    """Score task (beyond the reference): stamp every source row with
    the heuristic quality score (functions/text.quality_score — the
    same Column the registered queries and the streaming intake gate
    use) and, when ``normalize_by`` names a group column, a
    ``quality_normalized`` column mapping the score to the GLOBAL
    score at the same within-group CDF position
    (operators/scoring.quantile_normalize_map). The task-file
    spelling of make-scores-comparable curation: score once, then
    filter/sample downstream on a column that means the same thing
    in every source.

    Scale shape: scoring is a pure JVM projection; the normalization
    mapping is built from ONE extra pass over the scored frame
    (bounded at distinct (group, score) pairs — scores are rounded
    to 4 decimals) and broadcast back, so the corpus never shuffles.
    """
    from pyspark.sql import functions as F

    from dasladen_spark.functions.text import quality_score

    df = _read_transformed(ctx, task)
    text_field = task.get("text_field", "text")
    scored = df.withColumn("quality", quality_score(F.col(text_field)))
    grp = task.get("normalize_by")
    if grp:
        if grp == "quality":
            raise ValueError(
                "score task: normalize_by must name a GROUP column, not"
                " the score itself"
            )
        from dasladen_spark.operators.scoring import quantile_normalize_map

        # rows with NULL text (→ NULL quality) or a NULL group never
        # enter the CDFs (the operator drops them) and keep a NULL
        # quality_normalized here — identifiable, never distorting
        m = quantile_normalize_map(
            scored.select(grp, "quality"), grp, "quality"
        )
        scored = scored.join(
            F.broadcast(
                m.select(grp, "quality", F.col("nq").alias("quality_normalized"))
            ),
            [grp, "quality"],
            "left",
        )
    _write(ctx, task, scored)
    ctx.log(
        f"task {task.get('name')}: scores written"
        f" ({'normalized by ' + grp if grp else 'raw'})"
    )


def run_ann_index(ctx: TaskContext, task: dict) -> None:
    """ANN-index task (beyond the reference): the full index
    lifecycle from task files, the same way the dedup task covers the
    fingerprint index —

    - ``action: build``   materialize the bucketed index from the
      ``source`` rows (LSH or IVF probe keys, optional PQ postings)
    - ``action: append``  encode ONLY the ``source`` rows with the
      stored parameters/codebooks and add them (no rebuild)
    - ``action: compact`` rewrite to one posting file per bucket
      after many appends (schedule it like any table maintenance)
    - ``action: search``  probe with the ``queries`` source, write
      the per-query top-k to ``target``"""
    from dasladen_spark.operators.ann_index import (
        append_to_ann_index,
        compact_ann_index,
        ensure_ann_index,
        search_ann_index,
    )

    index = task["index"]
    id_field = task.get("id_field", "vec_id")
    vec_field = task.get("vector_field", "embedding")
    action = task.get("action", "build")
    if action == "append":
        append_to_ann_index(
            ctx.spark, index, _read(ctx, task), id_col=id_field,
            vec_col=vec_field,
        )
        ctx.log(f"task {task.get('name')}: appended to index {index}")
        return
    if action == "compact":
        compact_ann_index(ctx.spark, index)
        ctx.log(f"task {task.get('name')}: compacted index {index}")
        return
    if action == "build":
        ensure_ann_index(
            _read(ctx, task),
            index,
            # default tag = the resolved source FILE path, so pointing
            # the same index at a different corpus file rebuilds it
            tag=str(task.get("tag", _src_path(ctx, task["source"]))),
            method=task.get("method", "lsh"),
            id_col=id_field,
            vec_col=vec_field,
            dim=int(task.get("dim", 64)),
            compress=task.get("compress", "none"),
            # every geometry knob is reachable from the task surface
            # (defaults match ann_index._GEOMETRY_DEFAULTS — a task
            # that sets any of them gets a matching index, not the
            # stale default-geometry one)
            num_tables=int(task.get("num_tables", 16)),
            bits_per_table=int(task.get("bits_per_table", 4)),
            n_centroids=int(task.get("n_centroids", 16)),
            lloyd_iters=int(task.get("lloyd_iters", 1)),
            n_buckets=int(task.get("n_buckets", 16)),
            pq_m=int(task.get("pq_m", 16)),
            pq_ksub=int(task.get("pq_ksub", 32)),
            pq_iters=int(task.get("pq_iters", 2)),
        )
        ctx.log(f"task {task.get('name')}: index {index} ready")
        return
    if action != "search":
        raise ValueError(f"unknown ann-index action {action!r}")
    res = search_ann_index(
        ctx.spark,
        index,
        _read(ctx, task, "queries"),
        k=int(task.get("k", 5)),
        query_id=id_field,
        query_vec=vec_field,
        n_probe=int(task.get("n_probe", 4)),
        rerank_mult=int(task.get("rerank_mult", 8)),
        corpus=_read(ctx, task) if "source" in task else None,
    )
    _write(ctx, task, res)
    ctx.log(f"task {task.get('name')}: search results written")


def run_sketch(ctx: TaskContext, task: dict) -> None:
    """Sketch task (beyond the reference): maintain mergeable
    distinct-count / overlap sketch TABLES from task files — the
    persisted form of operators/sketches, so a daily pipeline ships
    m (or k) longs per key per period instead of raw value sets.

    - ``action: build``    source rows → sketch rows → target (run
      daily with an append-mode target to accumulate the daily
      sketch table; streaming/sketchsync maintains the same shape)
    - ``action: merge``    source SKETCH table → coarser ``keys``
      (daily → monthly) → target
    - ``action: estimate`` source SKETCH table → per-``keys``
      distinct-count estimates → target
    - ``action: overlap``  (kmv only) source SKETCH table keyed by
      ``keys[0]`` → intersection/union estimates for ``pair`` →
      target

    ``method: hll`` (default; m buckets) or ``kmv`` (k minimum
    values); ``value`` names the counted column for ``build``."""
    from dasladen_spark.operators import sketches as sk

    method = task.get("method", "hll")
    action = task.get("action", "build")
    keys = list(task.get("keys", []))
    df = _read_transformed(ctx, task)
    if method == "hll":
        m = int(task.get("m", 16))
        if action == "build":
            out = sk.hll_sketch(df, keys, task["value"], m=m)
        elif action == "merge":
            out = sk.hll_merge(df, keys)
        elif action == "estimate":
            # merge-first: estimating a finer-keyed sketch table
            # directly would sum duplicate buckets (garbage
            # estimates); merging to the table's own keys is a no-op
            out = sk.hll_estimate(sk.hll_merge(df, keys), keys, m=m)
        else:
            raise ValueError(f"unknown hll sketch action {action!r}")
    elif method == "kmv":
        k = int(task.get("k", 256))
        if action == "build":
            out = sk.kmv_sketch(df, keys, task["value"], k=k)
        elif action == "merge":
            out = sk.kmv_merge(df, keys, k=k)
        elif action == "estimate":
            # merge-first, same reason as the hll branch (re-ranking
            # an already-k-min sketch at its own keys is a no-op)
            out = sk.kmv_estimate_distinct(
                sk.kmv_merge(df, keys, k=k), keys, k=k
            )
        elif action == "overlap":
            pair = task["pair"]
            cached = df.persist()  # feeds four branches, ≤ 2k rows
            try:
                out = sk.kmv_overlap_pair(
                    cached, keys[0], pair[0], pair[1], k=k
                )
                _write(ctx, task, out)
            finally:
                cached.unpersist()
            ctx.log(f"task {task.get('name')}: kmv overlap written")
            return
        else:
            raise ValueError(f"unknown kmv sketch action {action!r}")
    else:
        raise ValueError(f"unknown sketch method {method!r}")
    _write(ctx, task, out)
    ctx.log(
        f"task {task.get('name')}: sketch {method}/{action} written"
    )


#: type → runner (TaskFactory parity, task.py:577-599)
TASK_TYPES: dict[str, Callable[[TaskContext, dict], None]] = {
    "csv-db": run_etl,
    "db-csv": run_etl,
    "db-db": run_etl,
    "csv-csv": run_etl,
    "xls-csv": run_etl,
    "xml-csv": run_etl,
    "xml-db": run_etl,
    "sql-exec": run_sql_exec,
    "zip": run_zip,
    "unzip": run_unzip,
    "download": run_download,
    "ftp-upload": run_ftp_upload,
    "py-exec": run_py_exec,
    "custom": run_custom,
    "nop": run_nop,
    "profile": run_profile,
    "validate": run_validate,
    "dedup": run_dedup,
    "er": run_er,
    "classify": run_classify,
    "ann-index": run_ann_index,
    "cluster": run_cluster,
    "sample": run_sample,
    "score": run_score,
    "decontaminate": run_decontaminate,
    "intake": run_intake,
    "sketch": run_sketch,
    "pack": run_pack,
}

# Beyond the reference's seven ETL shapes: the full source×sink matrix
# over the Spark-native formats (JSON-lines, parquet, and ORC are what
# a lakehouse pipeline actually moves; all splittable and columnar/
# row-streamed at any scale).
for _s in ("csv", "db", "xml", "xls", "json", "parquet", "orc"):
    for _t in ("csv", "db", "json", "parquet", "orc", "tar"):
        TASK_TYPES.setdefault(f"{_s}-{_t}", run_etl)
