"""End-to-end task tests: JSON task file → DataFrame plan → sink,
covering the ETL matrix + control-plane tasks (SURVEY §2.5)."""

import hashlib
import json
import os
import tarfile
import uuid
import zipfile

import pytest

from dasladen_spark.runner.taskrun import Runner, TaskRunner


def write_csv_file(path, rows, header="id;name;qty", delim=";"):
    with open(path, "w", encoding="utf-8") as f:
        f.write(header + "\n")
        for r in rows:
            f.write(delim.join(str(x) for x in r) + "\n")


@pytest.fixture()
def workdir(tmp_path):
    for d in ("input", "output", "module", "capture"):
        (tmp_path / d).mkdir()
    return tmp_path


def run_tasks(spark, workdir, config):
    TaskRunner(
        spark,
        Runner(config),
        input_path=str(workdir / "input"),
        output_path=str(workdir / "output"),
        module_path=str(workdir / "module"),
        log=lambda m: None,
    ).run()


def test_csv_csv_with_transforms(spark, workdir):
    write_csv_file(
        workdir / "input" / "src.csv",
        [(1, "Alpha", 10), (2, "Beta", 3), (3, "Gamma", 50)],
    )
    run_tasks(
        spark,
        workdir,
        {
            "tasks": [
                {
                    "name": "t1",
                    "type": "csv-csv",
                    "source": {"file": "src.csv"},
                    "target": {"file": "out.csv", "truncate": True},
                    "transform": {
                        "convert": [["qty", "int"], ["name", "lower"]],
                        "filter": "{qty} > 5",
                        "rename": [["name", "label"]],
                    },
                }
            ]
        },
    )
    out = (workdir / "output" / "out.csv").read_text().strip().splitlines()
    assert out[0] == "id;label;qty"
    assert set(out[1:]) == {"1;alpha;10", "3;gamma;50"}


def test_csv_append_without_header(spark, workdir):
    write_csv_file(workdir / "input" / "src.csv", [(1, "a", 1)])
    cfg = {
        "tasks": [
            {
                "name": "t",
                "type": "csv-csv",
                "source": {"file": "src.csv"},
                "target": {"file": "out.csv", "truncate": True},
            }
        ]
    }
    run_tasks(spark, workdir, cfg)
    cfg["tasks"][0]["target"]["truncate"] = False
    run_tasks(spark, workdir, cfg)
    lines = (workdir / "output" / "out.csv").read_text().strip().splitlines()
    # header once (truncate), appended rows headerless (task.py:202)
    assert lines.count("id;name;qty") == 1
    assert lines.count("1;a;1") == 2


def test_mssql_trusted_connection_option_mapping():
    """Empty user → OS auth: the reference builds
    Trusted_Connection=yes (taskdriver.py:118-123); the JDBC bundle
    must carry integratedSecurity=true and NO user/password keys."""
    from dasladen_spark.connections import Connection

    trusted = Connection(
        {"name": "dw", "driver": "MSSQL", "host": "h", "database": "d",
         "user": ""}
    ).jdbc_options()
    assert trusted["integratedSecurity"] == "true"
    assert "user" not in trusted and "password" not in trusted

    plain = Connection(
        {"name": "dw", "driver": "MSSQL", "host": "h", "database": "d",
         "user": "sa", "pass": "pw"}
    ).jdbc_options()
    assert "integratedSecurity" not in plain
    assert plain["user"] == "sa" and plain["password"] == "pw"


def test_mysql_ansi_quotes_session_init():
    """MySQL connections force ANSI_QUOTES (ref taskdriver.py:164) so
    double-quoted identifiers work; user initializing statements
    follow it."""
    from dasladen_spark.connections import Connection

    opts = Connection(
        {"name": "m", "driver": "MySQL", "host": "h", "database": "d",
         "user": "u", "pass": "p", "initializing": ["SET NAMES utf8mb4"]}
    ).jdbc_options()
    assert opts["sessionInitStatement"] == (
        "SET SQL_MODE=ANSI_QUOTES; SET NAMES utf8mb4"
    )


#: per sink kind: the task's target and how to count the rows it
#: holds, given the session, the output folder and the db connection
PROGRESS_SINKS = {
    "csv": (
        {"file": "out.csv", "truncate": True},
        lambda spark, out, db: len((out / "out.csv").read_text().splitlines()) - 1,
    ),
    "parquet": (
        {"file": "out.parquet", "truncate": True},
        lambda spark, out, db: spark.read.parquet(str(out / "out.parquet")).count(),
    ),
    "json": (
        {"file": "out.json", "truncate": True},
        lambda spark, out, db: spark.read.json(str(out / "out.json")).count(),
    ),
    "db": (
        {"connection": "derby", "table": "big", "truncate": True},
        lambda spark, out, db: db.read_sql(
            spark, "SELECT COUNT(*) AS n FROM big"
        ).first()[0],
    ),
    "tar": (
        {"file": "shards", "n_shards": 3, "key_field": "id", "payload_field": "v"},
        lambda spark, out, db: sum(
            _tar_members(f) for f in (out / "shards").glob("*.tar")
        ),
    ),
}


def _tar_members(path) -> int:
    with tarfile.open(path) as tf:
        return len(tf.getnames())


@pytest.mark.parametrize("sink", sorted(PROGRESS_SINKS))
def test_progress_meter_logs_10k_increments(spark, workdir, sink):
    """run_etl narrates every 10k written rows into the task log (ref
    task.py:197-202: petl .progress(10000)) on every sink kind; the
    final total always lands even when task metrics arrive after the
    write. The tar sink writes from Python, so Spark records no output
    rows for it: its count comes from the sink's shuffle read."""
    n_rows = 25_000
    lines = "\n".join(f"{i};v{i}" for i in range(n_rows))
    (workdir / "input" / "big.csv").write_text(f"id;v\n{lines}\n")
    derby = {
        "name": "derby",
        "driver": "JDBC",
        "url": f"jdbc:derby:memory:progress_{uuid.uuid4().hex[:12]};create=true",
        "jdbc_driver": "org.apache.derby.jdbc.EmbeddedDriver",
    }
    target, count = PROGRESS_SINKS[sink]
    logged: list[str] = []
    runner = TaskRunner(
        spark,
        Runner(
            {
                "connections": [derby],
                "tasks": [
                    {
                        "name": "big",
                        "type": f"csv-{sink}",
                        "source": {"file": "big.csv"},
                        "target": target,
                    }
                ],
            }
        ),
        input_path=str(workdir / "input"),
        output_path=str(workdir / "output"),
        module_path=str(workdir / "module"),
        log=logged.append,
    )
    runner.run()
    assert "task big: 10000 rows" in logged
    assert "task big: 20000 rows" in logged
    assert "task big: wrote ~25000 rows" in logged
    db = runner.ctx.connections.get("derby")
    assert count(spark, workdir / "output", db) == n_rows  # no row lost


def test_etl_write_runs_no_python_stage(spark, workdir, monkeypatch):
    """The progress meter reads Spark's own write metrics: the frame
    an ETL task hands its sink plans no Python worker."""
    import re

    from dasladen_spark import tasks

    write_csv_file(workdir / "input" / "src.csv", [(1, "a", 1), (2, "b", 2)])
    seen = []
    real = tasks._write_sink

    def capture(ctx, task, df, kind, **kw):
        seen.append(df)
        return real(ctx, task, df, kind, **kw)

    monkeypatch.setattr(tasks, "_write_sink", capture)
    for kind in ("parquet", "csv"):
        run_tasks(
            spark,
            workdir,
            {
                "tasks": [
                    {
                        "name": f"to-{kind}",
                        "type": f"csv-{kind}",
                        "source": {"file": "src.csv"},
                        "target": {"file": f"out.{kind}", "truncate": True},
                    }
                ]
            },
        )
    assert len(seen) == 2
    python_node = re.compile(
        r"MapInArrow|MapInPandas|ArrowEvalPython|BatchEvalPython"
    )
    for df in seen:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert not python_node.search(plan), plan


def test_etl_restores_the_callers_job_group(spark, workdir, monkeypatch):
    """run_etl labels its write's jobs with a job group of its own and
    hands the caller's group back, also when the sink raises."""
    from dasladen_spark import tasks

    sc = spark.sparkContext
    write_csv_file(workdir / "input" / "src.csv", [(1, "a", 1)])
    cfg = {
        "tasks": [
            {
                "name": "t",
                "type": "csv-csv",
                "source": {"file": "src.csv"},
                "target": {"file": "out.csv", "truncate": True},
            }
        ]
    }
    sc.setJobGroup("caller-group", "set by the caller")
    try:
        run_tasks(spark, workdir, cfg)
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"

        def broken(ctx, task, df, kind, **kw):
            raise RuntimeError("sink down")

        monkeypatch.setattr(tasks, "_write_sink", broken)
        with pytest.raises(RuntimeError, match="sink down"):
            run_tasks(spark, workdir, cfg)
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_callers_cancel_job_group_stops_a_running_etl_write(
    spark, workdir, monkeypatch
):
    """The write runs in the caller's job group, so the caller's
    cancelJobGroup stops it mid-write."""
    import threading
    import time

    from pyspark.sql import functions as F

    from dasladen_spark import tasks

    sc = spark.sparkContext
    write_csv_file(workdir / "input" / "src.csv", [(1, "a", 1)])
    # a write that runs until cancelled: one row held 60 s by a UDF
    slow = F.udf(lambda v: time.sleep(60) or v, "string")
    real = tasks._transformed
    monkeypatch.setattr(
        tasks,
        "_transformed",
        lambda ctx, task, df: real(ctx, task, df).withColumn("name", slow("name")),
    )

    def cancel_once_running():
        deadline = time.time() + 30
        while not sc.statusTracker().getActiveJobsIds() and time.time() < deadline:
            time.sleep(0.1)
        sc.cancelJobGroup("caller-cancel")

    sc.setJobGroup("caller-cancel", "set by the caller")
    canceller = threading.Thread(target=cancel_once_running)
    canceller.start()
    t0 = time.time()
    try:
        with pytest.raises(Exception, match="(?i)cancel"):
            run_tasks(
                spark,
                workdir,
                {
                    "tasks": [
                        {
                            "name": "t",
                            "type": "csv-parquet",
                            "source": {"file": "src.csv"},
                            "target": {"file": "out.parquet", "truncate": True},
                        }
                    ]
                },
            )
    finally:
        canceller.join(timeout=60)
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not canceller.is_alive()
    assert time.time() - t0 < 60


def test_progress_meter_disabled_by_zero(spark, workdir):
    write_csv_file(workdir / "input" / "src.csv", [(1, "a", 1)])
    logged: list[str] = []
    TaskRunner(
        spark,
        Runner(
            {
                "tasks": [
                    {
                        "name": "t",
                        "type": "csv-csv",
                        "progress": 0,
                        "source": {"file": "src.csv"},
                        "target": {"file": "out.csv", "truncate": True},
                    }
                ]
            }
        ),
        input_path=str(workdir / "input"),
        output_path=str(workdir / "output"),
        module_path=str(workdir / "module"),
        log=logged.append,
    ).run()
    assert (workdir / "output" / "out.csv").exists()
    assert not any("rows" in m and "wrote" in m for m in logged)


def test_zip_member_names_cp437_sanitized(spark, workdir):
    """Non-cp437 member names become '_' in the archive (ref
    task.py:461-463) so legacy consumers read stable names."""
    from dasladen_spark.tasks import _cp437_member_name

    assert _cp437_member_name("plain.csv") == "plain.csv"
    assert _cp437_member_name("café.csv") == "café.csv"  # cp437 has é
    assert _cp437_member_name("数据.csv") == "__.csv"
    assert _cp437_member_name("wh?t.csv") == "wh_t.csv"


def test_empty_source_short_circuit(spark, workdir):
    write_csv_file(workdir / "input" / "src.csv", [])
    run_tasks(
        spark,
        workdir,
        {
            "tasks": [
                {
                    "name": "t",
                    "type": "csv-csv",
                    "source": {"file": "src.csv"},
                    "target": {"file": "out.csv", "truncate": True},
                }
            ]
        },
    )
    assert not (workdir / "output" / "out.csv").exists()


def _derby(name):
    # Derby memory databases live as long as the JVM: a unique name
    # per test keeps runs apart
    return {
        "name": "derby",
        "driver": "JDBC",
        "url": f"jdbc:derby:memory:{name}_{uuid.uuid4().hex[:12]};create=true",
        "jdbc_driver": "org.apache.derby.jdbc.EmbeddedDriver",
    }


@pytest.mark.parametrize(
    "truncate, single_file",
    [
        pytest.param(True, True, id="True"),
        pytest.param(False, True, id="False"),
        pytest.param(True, False, id="multi_file-True"),
        pytest.param(False, False, id="multi_file-False"),
    ],
)
def test_empty_source_leaves_existing_target_byte_identical(
    spark, workdir, truncate, single_file
):
    write_csv_file(workdir / "input" / "src.csv", [])
    out = workdir / "output" / "out.csv"
    if single_file:
        out.write_bytes(b"id;name;qty\r\n9;old;1\n")
    else:
        out.mkdir()
        (out / "part-00000-old.csv").write_bytes(b"id;name;qty\r\n9;old;1\n")
    before = _snapshot(out)
    logged: list[str] = []
    TaskRunner(
        spark,
        Runner(
            {
                "tasks": [
                    {
                        "name": "t",
                        "type": "csv-csv",
                        "source": {"file": "src.csv"},
                        "target": {
                            "file": "out.csv",
                            "truncate": truncate,
                            "single_file": single_file,
                        },
                    }
                ]
            }
        ),
        input_path=str(workdir / "input"),
        output_path=str(workdir / "output"),
        log=logged.append,
    ).run()
    assert _snapshot(out) == before
    assert _hidden(workdir / "output") == []
    assert "task t: empty source, skipping write" in logged
    assert not any("wrote" in m for m in logged)


def test_source_filtered_to_no_rows_still_writes_the_header(spark, workdir):
    """The skip is for an empty SOURCE (ref task.py:181); a source
    whose rows the transform filters out writes its header-only file."""
    write_csv_file(workdir / "input" / "src.csv", [(1, "a", 1), (2, "b", 2)])
    run_tasks(
        spark,
        workdir,
        {
            "tasks": [
                {
                    "name": "t",
                    "type": "csv-csv",
                    "source": {"file": "src.csv"},
                    "target": {"file": "out.csv", "truncate": True},
                    "transform": {"convert": [["qty", "int"]], "filter": "{qty} > 100"},
                }
            ]
        },
    )
    assert (workdir / "output" / "out.csv").read_text() == "id;name;qty\n"


def test_empty_source_skips_even_when_a_module_transform_adds_rows(spark, workdir):
    """The skip asks whether the SOURCE is empty: a module transform
    that makes a row out of nothing (a global count) does not turn an
    empty source into a written file."""
    (workdir / "module" / "counted.py").write_text(
        "def transform(df, *fields):\n    return df.groupBy().count()\n"
    )
    write_csv_file(workdir / "input" / "src.csv", [])
    run_tasks(
        spark,
        workdir,
        {
            "tasks": [
                {
                    "name": "t",
                    "type": "csv-csv",
                    "source": {"file": "src.csv"},
                    "target": {"file": "out.csv", "truncate": True},
                    "transforms": [{"module": "counted"}],
                }
            ]
        },
    )
    assert not (workdir / "output" / "out.csv").exists()


def test_empty_source_makes_no_db_round_trip(spark, workdir, monkeypatch):
    from dasladen_spark.connections import Connection

    def no_write(*args, **kwargs):
        raise AssertionError("write_table called for an empty source")

    monkeypatch.setattr(Connection, "write_table", no_write)
    write_csv_file(workdir / "input" / "src.csv", [])
    run_tasks(
        spark,
        workdir,
        {
            "connections": [_derby("empty")],
            "tasks": [
                {
                    "name": "t",
                    "type": "csv-db",
                    "source": {"file": "src.csv"},
                    "target": {"connection": "derby", "table": "t", "truncate": True},
                }
            ],
        },
    )


def _next_job_id(spark) -> int:
    """Spark numbers jobs 0, 1, 2, ...: the difference of two readings
    is the number of jobs launched in between."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


@pytest.mark.parametrize(
    "shape, single_file",
    [
        pytest.param("csv-csv", True, id="csv-csv"),
        pytest.param("csv-parquet", True, id="csv-parquet"),
        pytest.param("parquet-csv", True, id="parquet-csv"),
        pytest.param("db-csv", True, id="db-csv"),
        pytest.param("csv-csv", False, id="csv-csv-multi_file"),
    ],
)
def test_etl_task_launches_one_spark_job(spark, workdir, shape, single_file):
    """The write is the task's only job: the csv header and the parquet
    footer are read on the driver, a jdbc schema comes from the
    database, and either csv layout probes for an empty source only
    when its write wrote nothing."""
    from dasladen_spark.connections import Connection

    write_csv_file(workdir / "input" / "src.csv", [(1, "a", 3), (2, "b", 4)])
    spark.createDataFrame(
        [(1, "a", 3)], "id BIGINT, name STRING, qty BIGINT"
    ).write.parquet(str(workdir / "input" / "src.parquet"))
    derby = _derby("onejob")
    Connection(derby).write_table(
        spark.createDataFrame([(1, "a")], "id INT, nm STRING"), spark, "src", truncate=True
    )
    src_kind, sink_kind = shape.split("-")
    source = {
        "csv": {"file": "src.csv"},
        "parquet": {"file": "src.parquet"},
        "db": {"connection": "derby", "command": 'SELECT "id", "nm" FROM src'},
    }[src_kind]
    task = {
        "name": "t",
        "type": shape,
        "source": source,
        "target": {
            "file": f"out.{sink_kind}",
            "truncate": True,
            "single_file": single_file,
        },
    }
    before = _next_job_id(spark)
    run_tasks(spark, workdir, {"connections": [derby], "tasks": [task]})
    assert _next_job_id(spark) - before == 1


def test_empty_stage_still_feeds_chained_pipeline(spark, workdir):
    """A stage whose filter legitimately empties the stream must
    still write a schema-bearing parquet output, so the NEXT stage
    reads an empty frame instead of dying with PATH_NOT_FOUND
    (round-11's sf1 pipeline_corpus_e2e failure mode). The
    empty-skip stays reference parity for TERMINAL csv/db sinks
    only (ref task.py:181)."""
    spark.createDataFrame(
        [(1, 3), (2, 4)], "id BIGINT, qty BIGINT"
    ).write.parquet(str(workdir / "input" / "src.parquet"))
    s1 = {
        "name": "s1",
        "type": "parquet-parquet",
        "source": {"file": "src.parquet"},
        "target": {"file": "s1.parquet", "truncate": True},
        "transform": {"filter": "{qty} > 100"},  # empties the stream
    }
    s2 = {
        "name": "s2",
        "type": "parquet-parquet",
        "source": {"file": "s1.parquet", "folder": str(workdir / "output")},
        "target": {"file": "s2.parquet", "truncate": True},
    }
    s3 = {
        "name": "s3",
        "type": "parquet-csv",
        "source": {"file": "s2.parquet", "folder": str(workdir / "output")},
        "target": {"file": "out.csv", "truncate": True},
    }
    run_tasks(spark, workdir, {"tasks": [s1, s2, s3]})
    for stage in ("s1.parquet", "s2.parquet"):
        df = spark.read.parquet(str(workdir / "output" / stage))
        assert df.columns == ["id", "qty"]  # schema survives emptiness
        assert df.count() == 0
    # the terminal csv sink keeps the reference's empty-skip
    assert not (workdir / "output" / "out.csv").exists()


def _snapshot(path) -> dict:
    """Every file under ``path`` (a file or a folder): relative name →
    md5 of its bytes."""
    files = [path] if path.is_file() else [p for p in path.rglob("*") if p.is_file()]
    return {
        str(f.relative_to(path)): hashlib.md5(f.read_bytes()).hexdigest() for f in files
    }


def _hidden(folder) -> list:
    """Hidden entries of ``folder``: what a staged write leaves behind."""
    return sorted(n for n in os.listdir(folder) if n.startswith("."))


#: a filter that keeps every row of the 20-row source of the
#: fault-injection tests below, and one whose job fails mid-write
_KEEP_ALL = "{qty} >= 0"
_FAIL = "assert_true({qty} < 10) IS NULL"


def _qty_source(spark, workdir, name="src.parquet", null_id=False):
    rows = [(None if null_id and i == 15 else i, i, f"v{i}", i % 3) for i in range(20)]
    spark.createDataFrame(
        rows, "id BIGINT, qty BIGINT, v STRING, grp INT"
    ).write.parquet(str(workdir / "input" / name))


def test_failed_stage_leaves_earlier_stages_and_its_own_output_intact(spark, workdir):
    """A chained file re-run whose middle stage fails mid-write: the
    stage before it is rewritten whole, the failed stage's previous
    output is byte-identical, no stage is left beside any target, and
    a fixed re-run succeeds."""
    _qty_source(spark, workdir)
    out = workdir / "output"

    def chain(check):
        tasks, source = [], {"file": "src.parquet"}
        for name in ("s1", "s2", "s3"):
            tasks.append(
                {
                    "name": name,
                    "type": "parquet-parquet",
                    "source": source,
                    "target": {"file": f"{name}.parquet", "truncate": True},
                }
            )
            source = {"file": f"{name}.parquet", "folder": str(out)}
        tasks[1]["transform"] = {"filter": check}
        return {"tasks": tasks}

    run_tasks(spark, workdir, chain(_KEEP_ALL))
    before = {n: _snapshot(out / n) for n in ("s2.parquet", "s3.parquet")}
    assert all(before.values())
    with pytest.raises(Exception, match="is not true"):
        run_tasks(spark, workdir, chain(_FAIL))
    assert spark.read.parquet(str(out / "s1.parquet")).count() == 20
    assert {n: _snapshot(out / n) for n in before} == before
    assert _hidden(out) == []
    run_tasks(spark, workdir, chain("{qty} < 10"))
    assert spark.read.parquet(str(out / "s3.parquet")).count() == 10
    assert _hidden(out) == []


#: per sink: task type, target, and the task keys of a re-run whose
#: job fails
FAILING_REWRITES = {
    "json": ("parquet-json", {"file": "out.json"}, {"transform": {"filter": _FAIL}}),
    "partition_by": (
        "parquet-parquet",
        {"file": "out.parquet", "partition_by": ["grp"]},
        {"transform": {"filter": _FAIL}},
    ),
    "zorder": (
        "parquet-parquet",
        {"file": "out.parquet", "zorder": ["id", "qty"], "n_files": 2},
        {"transform": {"filter": _FAIL}},
    ),
    "tar": (
        "parquet-tar",
        {"file": "shards", "n_shards": 2, "key_field": "id", "payload_field": "v"},
        {"source": {"file": "nullkey.parquet"}},
    ),
    "db_parquet": (
        "parquet-db",
        {"connection": "lake", "table": "out"},
        {"transform": {"filter": _FAIL}},
    ),
}


@pytest.mark.parametrize("sink", list(FAILING_REWRITES))
def test_failed_rewrite_leaves_the_target_byte_identical(spark, workdir, sink):
    """Each staged file sink: a re-run whose job fails leaves the
    previous output byte-identical and no stage beside it, and a
    fixed re-run replaces it."""
    _qty_source(spark, workdir)
    _qty_source(spark, workdir, "nullkey.parquet", null_id=True)
    out = workdir / "output"
    kind, target, failing = FAILING_REWRITES[sink]
    task = {
        "name": "t",
        "type": kind,
        "source": {"file": "src.parquet"},
        "target": {**target, "truncate": True},
        "transform": {"filter": _KEEP_ALL},
    }
    config = {
        "connections": [{"name": "lake", "driver": "parquet", "path": str(out)}],
        "tasks": [task],
    }
    run_tasks(spark, workdir, config)
    path = out / target.get("file", "out.parquet")
    before = _snapshot(path)
    assert before
    with pytest.raises(Exception, match="is not true|non-null keys"):
        run_tasks(spark, workdir, {**config, "tasks": [{**task, **failing}]})
    assert _snapshot(path) == before
    assert _hidden(out) == []
    task["transform"] = {"filter": "{qty} < 10"}
    run_tasks(spark, workdir, config)
    assert _snapshot(path) != before
    assert _hidden(out) == []


def test_truncate_write_recovers_a_killed_swap(spark, workdir):
    """A swap killed between its two renames left the target missing
    and the prior output parked at a hidden ``.old-`` sibling, beside a
    stale stage: the next truncate write of the target restores and
    replaces it, and no sibling is left."""
    _qty_source(spark, workdir)
    out = workdir / "output"
    task = {
        "name": "t",
        "type": "parquet-parquet",
        "source": {"file": "src.parquet"},
        "target": {"file": "out.parquet", "truncate": True},
        "transform": {"filter": _KEEP_ALL},
    }
    run_tasks(spark, workdir, {"tasks": [task]})
    os.rename(out / "out.parquet", out / f".out.parquet.old-{uuid.uuid4().hex}")
    (out / f".out.parquet.stage-{uuid.uuid4().hex}").mkdir()
    task["transform"] = {"filter": "{qty} < 10"}
    run_tasks(spark, workdir, {"tasks": [task]})
    assert spark.read.parquet(str(out / "out.parquet")).count() == 10
    assert _hidden(out) == []


def test_db_csv_via_parquet_connection(spark, workdir, sf_dir):
    """db-* tasks with the parquet lakehouse driver: Spark SQL is the
    backing engine (reference pushes SQL text to an RDBMS)."""
    run_tasks(
        spark,
        workdir,
        {
            "connections": [
                {"name": "lake", "driver": "parquet", "path": sf_dir}
            ],
            "tasks": [
                {
                    "name": "t",
                    "type": "db-csv",
                    "source": {
                        "connection": "lake",
                        "command": (
                            "SELECT r_regionkey, r_name FROM region"
                            " ORDER BY r_regionkey;"
                        ),
                    },
                    "target": {"file": "regions.csv", "truncate": True},
                }
            ],
        },
    )
    lines = (workdir / "output" / "regions.csv").read_text().strip().splitlines()
    assert lines[0] == "r_regionkey;r_name"
    assert len(lines) == 6


def test_db_db_parquet_roundtrip(spark, workdir, sf_dir):
    out_base = workdir / "lake_out"
    out_base.mkdir()
    run_tasks(
        spark,
        workdir,
        {
            "connections": [
                {"name": "src", "driver": "parquet", "path": sf_dir},
                {"name": "dst", "driver": "parquet", "path": str(out_base)},
            ],
            "tasks": [
                {
                    "name": "t",
                    "type": "db-db",
                    "source": {
                        "connection": "src",
                        "command": "SELECT n_nationkey, n_name FROM nation",
                    },
                    "target": {
                        "connection": "dst",
                        "table": "nation_copy",
                        "truncate": True,
                    },
                }
            ],
        },
    )
    df = spark.read.parquet(str(out_base / "nation_copy.parquet"))
    assert df.count() == 25


def test_sql_query_file_with_params(spark, workdir, sf_dir):
    (workdir / "input" / "q.sql").write_text(
        "SELECT c_custkey FROM customer WHERE c_mktsegment = '{seg}';"
    )
    run_tasks(
        spark,
        workdir,
        {
            "connections": [{"name": "lake", "driver": "parquet", "path": sf_dir}],
            "tasks": [
                {
                    "name": "t",
                    "type": "db-csv",
                    "source": {
                        "connection": "lake",
                        "query": "q.sql",
                        "path": str(workdir / "input"),
                        "params": {"seg": "BUILDING"},
                    },
                    "target": {"file": "out.csv", "truncate": True},
                }
            ],
        },
    )
    lines = (workdir / "output" / "out.csv").read_text().strip().splitlines()
    assert lines[0] == "c_custkey"
    assert len(lines) > 1


def test_xml_csv_mapping(spark, workdir):
    (workdir / "input" / "src.xml").write_text(
        "<data><item code='p1'><name>widget</name><price>9</price></item>"
        "<item code='p2'><name>gadget</name><price>12</price></item></data>"
    )
    run_tasks(
        spark,
        workdir,
        {
            "tasks": [
                {
                    "name": "t",
                    "type": "xml-csv",
                    "source": {
                        "file": "src.xml",
                        "row": "item",
                        "mapping": {"sku": "@code", "label": "name"},
                    },
                    "target": {"file": "out.csv", "truncate": True},
                }
            ]
        },
    )
    lines = (workdir / "output" / "out.csv").read_text().strip().splitlines()
    assert lines[0] == "sku;label"
    assert set(lines[1:]) == {"p1;widget", "p2;gadget"}


def test_zip_unzip_roundtrip(spark, workdir):
    (workdir / "output" / "a.txt").write_text("hello")
    run_tasks(
        spark,
        workdir,
        {
            "tasks": [
                {
                    "name": "z",
                    "type": "zip",
                    "source": {"files": ["a.txt"], "path": str(workdir / "output")},
                    "target": {"file": "pkg.zip", "path": str(workdir / "output")},
                },
                {
                    "name": "u",
                    "type": "unzip",
                    "source": {"file": "pkg.zip", "path": str(workdir / "output")},
                    "target": {"path": str(workdir / "input")},
                },
            ]
        },
    )
    assert (workdir / "input" / "a.txt").read_text() == "hello"


def test_py_exec(spark, workdir):
    (workdir / "module" / "myscript.py").write_text(
        "import sys, pathlib\n"
        "def main():\n"
        "    pathlib.Path(sys.argv[1]).write_text('ran')\n"
    )
    marker = workdir / "marker.txt"
    run_tasks(
        spark,
        workdir,
        {
            "tasks": [
                {
                    "name": "p",
                    "type": "py-exec",
                    "source": {"module": "myscript", "args": [str(marker)]},
                }
            ]
        },
    )
    assert marker.read_text() == "ran"


def test_custom_task(spark, workdir):
    (workdir / "module" / "mytask.py").write_text(
        "from dasladen_spark.tasks import BaseTask\n"
        "import pathlib\n"
        "class Marker(BaseTask):\n"
        "    def run(self, ctx, task):\n"
        "        p = pathlib.Path(task['args']['out'])\n"
        "        p.write_text(str(ctx.spark.range(3).count()))\n"
    )
    marker = workdir / "custom.txt"
    run_tasks(
        spark,
        workdir,
        {
            "tasks": [
                {
                    "name": "c",
                    "type": "custom",
                    "module": "mytask",
                    "class": "Marker",
                    "args": {"out": str(marker)},
                }
            ]
        },
    )
    assert marker.read_text() == "3"


def test_disabled_task_is_nop(spark, workdir):
    run_tasks(
        spark,
        workdir,
        {
            "tasks": [
                {
                    "name": "d",
                    "type": "csv-csv",
                    "disabled": True,
                    "source": {"file": "missing.csv"},
                    "target": {"file": "out.csv"},
                }
            ]
        },
    )
    assert not (workdir / "output" / "out.csv").exists()


def test_read_xls_many_distributed_plumbing(spark, tmp_path):
    """binaryFile + mapInPandas plumbing for many-workbook reads,
    exercised with an injected parser (no Excel engine in this
    container — the Spark side is what's under test)."""
    import pandas as pd

    from dasladen_spark.sources.xls import read_xls_many

    for i in range(3):
        (tmp_path / f"wb{i}.xlsx").write_bytes(f"id;v\n{i};{i * 10}\n".encode())

    def fake_parser(raw: bytes) -> pd.DataFrame:
        import io

        return pd.read_csv(io.BytesIO(raw), sep=";")

    df = read_xls_many(
        spark, str(tmp_path / "*.xlsx"), schema="id long, v long",
        parser=fake_parser,
    )
    assert df.rdd.getNumPartitions() >= 1
    assert {(r["id"], r["v"]) for r in df.collect()} == {(0, 0), (1, 10), (2, 20)}


def test_read_csv_robust_quarantines_corrupt_rows(spark, tmp_path):
    from dasladen_spark.sources.csv import quarantine_corrupt, read_csv_robust

    src = tmp_path / "dirty.csv"
    src.write_text(
        "id;qty\n"
        "1;10\n"
        "2;not_a_number\n"   # type error -> corrupt under typed schema
        "3;30\n"
    )
    df = read_csv_robust(spark, str(src), "id BIGINT, qty BIGINT")
    q = tmp_path / "quarantine"
    clean = quarantine_corrupt(df, str(q))
    assert {(r["id"], r["qty"]) for r in clean.collect()} == {(1, 10), (3, 30)}
    bad_lines = spark.read.text(str(q)).collect()
    assert len(bad_lines) == 1 and "not_a_number" in bad_lines[0]["value"]

    # FAILFAST honors the data contract
    import pytest as _pytest

    with _pytest.raises(Exception):
        read_csv_robust(
            spark, str(src), "id BIGINT, qty BIGINT", mode="FAILFAST"
        ).collect()

    # DROPMALFORMED silently drops (documented foot-gun). NB: a bare
    # count() would prune every column and the parser would never
    # see the malformed value — materialize the columns to observe
    # the drop (the same trap in production metrics!)
    dropped = read_csv_robust(
        spark, str(src), "id BIGINT, qty BIGINT", mode="DROPMALFORMED"
    )
    assert len(dropped.select("id", "qty").collect()) == 2


def test_json_parquet_csv_matrix(spark, workdir):
    """json-parquet then parquet-csv: the Spark-native format matrix
    beyond the reference's seven shapes, one lazy plan per task."""
    with open(workdir / "input" / "src.json", "w", encoding="utf-8") as f:
        for i, name in [(1, "Alpha"), (2, "Beta"), (3, "Gamma")]:
            f.write(json.dumps({"id": i, "name": name, "qty": i * 10}) + "\n")
    run_tasks(
        spark,
        workdir,
        {
            "tasks": [
                {
                    "name": "j2p",
                    "type": "json-parquet",
                    "source": {
                        "file": "src.json",
                        "schema": "id BIGINT, name STRING, qty BIGINT",
                    },
                    "target": {"file": "mid.parquet", "truncate": True},
                    "transform": {"filter": "{qty} > 10"},
                },
                {
                    "name": "p2c",
                    "type": "parquet-csv",
                    "source": {"file": "mid.parquet", "folder": str(workdir / "output")},
                    "target": {"file": "out.csv", "truncate": True},
                    "transform": {"convert": [["name", "upper"]]},
                },
            ]
        },
    )
    out = (workdir / "output" / "out.csv").read_text().strip().splitlines()
    assert out[0] == "id;name;qty"
    assert set(out[1:]) == {"2;BETA;20", "3;GAMMA;30"}


def test_orc_roundtrip_in_etl_matrix(spark, workdir):
    """ORC joins the lakehouse matrix: csv→orc then orc→csv must
    round-trip values through Spark's native (splittable, columnar)
    ORC reader/writer."""
    write_csv_file(workdir / "input" / "src.csv", [(1, "a", 10), (2, "b", 3)])
    run_tasks(
        spark,
        workdir,
        {
            "tasks": [
                {
                    "name": "to_orc",
                    "type": "csv-orc",
                    "source": {"file": "src.csv"},
                    "target": {"file": "data.orc", "truncate": True},
                },
                {
                    "name": "back",
                    "type": "orc-csv",
                    "source": {"folder": str(workdir / "output"),
                               "file": "data.orc"},
                    "target": {"file": "back.csv", "truncate": True},
                },
            ]
        },
    )
    out = (workdir / "output" / "back.csv").read_text().strip().splitlines()
    assert out[0] == "id;name;qty"
    assert set(out[1:]) == {"1;a;10", "2;b;3"}


def test_profile_task_reports_per_column_stats(spark, workdir):
    """'profile' task: any source in, one aggregation pass, a
    per-column report (nulls / distincts / min / max) out through any
    sink — the discovery step wired into the task JSON surface."""
    with open(workdir / "input" / "p.json", "w", encoding="utf-8") as f:
        rows = [
            {"id": 1, "name": "Alpha", "qty": 10},
            {"id": 2, "name": None, "qty": 10},
            {"id": 3, "name": "Gamma", "qty": None},
            {"id": 4, "name": "Alpha", "qty": 30},
        ]
        for r in rows:
            f.write(json.dumps(r) + "\n")
    run_tasks(
        spark,
        workdir,
        {
            "tasks": [
                {
                    "name": "prof",
                    "type": "profile",
                    "source": {
                        "kind": "json",
                        "file": "p.json",
                        "schema": "id BIGINT, name STRING, qty BIGINT",
                    },
                    "target": {"kind": "csv", "file": "prof.csv", "truncate": True},
                }
            ]
        },
    )
    out = {}
    with open(workdir / "output" / "prof.csv", encoding="utf-8") as f:
        header = f.readline().strip().split(";")
        for line in f:
            rec = dict(zip(header, line.strip().split(";")))
            out[rec["column"]] = rec
    assert set(out) == {"id", "name", "qty"}
    assert out["id"]["n_rows"] == "4"
    assert out["id"]["n_nulls"] == "0" and out["id"]["n_distinct"] == "4"
    assert out["name"]["n_nulls"] == "1" and out["name"]["n_distinct"] == "2"
    assert out["qty"]["n_nulls"] == "1" and out["qty"]["n_distinct"] == "2"
    assert out["qty"]["min_value"] == "10" and out["qty"]["max_value"] == "30"
    assert out["name"]["min_value"] == "Alpha" and out["name"]["max_value"] == "Gamma"


def test_validate_task_routes_clean_and_quarantine(spark, workdir):
    """'validate' task: contract rules evaluated in one pass; clean
    rows flow to the target, violators (tagged with every failed
    rule) to the quarantine sink; fail_on_violation raises AFTER the
    report is written."""
    import pytest as _pytest

    with open(workdir / "input" / "v.json", "w", encoding="utf-8") as f:
        rows = [
            {"id": 1, "qty": 10},
            {"id": 2, "qty": -5},
            {"id": 3, "qty": None},
            {"id": 3, "qty": 7},
        ]
        for r in rows:
            f.write(json.dumps(r) + "\n")
    task = {
        "name": "val",
        "type": "validate",
        "source": {
            "kind": "json",
            "file": "v.json",
            "schema": "id BIGINT, qty BIGINT",
        },
        "rules": {
            "qty_positive": "qty > 0",
            "qty_present": "qty IS NOT NULL",
        },
        "unique": ["id"],
        "target": {"kind": "csv", "file": "clean.csv", "truncate": True},
        "quarantine": {"kind": "csv", "file": "bad.csv", "truncate": True},
    }
    run_tasks(spark, workdir, {"tasks": [task]})

    def read_semis(path):
        with open(path, encoding="utf-8") as f:
            header = f.readline().strip().split(";")
            return [dict(zip(header, l.strip().split(";"))) for l in f]

    clean = read_semis(workdir / "output" / "clean.csv")
    bad = read_semis(workdir / "output" / "bad.csv")
    assert sorted(r["id"] for r in clean) == ["1", "3"]
    # SQL three-valued logic: NULL qty does NOT violate "qty > 0"
    # (unknown, not false) — only the explicit IS NOT NULL rule fires
    assert {r["id"]: r["violated"] for r in bad} == {
        "2": "qty_positive",
        "3": "qty_present",
    }

    task_fail = {**task, "fail_on_violation": True}
    with _pytest.raises(Exception):
        run_tasks(spark, workdir, {"tasks": [task_fail]})


def test_dedup_task_incremental_across_runs(spark, workdir):
    """'dedup' task: within-batch dups collapse, and with an `index`
    configured, a SECOND run of the same task file drops everything
    the first run admitted — the task-file surface driving the
    materialized incremental-dedup pipeline."""
    for t in ("t_task_fpidx", "t_task_fpidx_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    rows1 = [
        {"doc_id": 1, "text": "alpha doc"},
        {"doc_id": 2, "text": "ALPHA   doc!"},  # in-batch dup of 1
        {"doc_id": 3, "text": "beta doc"},
    ]
    with open(workdir / "input" / "d1.json", "w", encoding="utf-8") as f:
        for r in rows1:
            f.write(json.dumps(r) + "\n")
    task = {
        "name": "dd",
        "type": "dedup",
        "index": "t_task_fpidx",
        "id_field": "doc_id",
        "source": {
            "kind": "json",
            "file": "d1.json",
            "schema": "doc_id BIGINT, text STRING",
        },
        "target": {"kind": "parquet", "file": "novel1.parquet", "truncate": True},
    }
    run_tasks(spark, workdir, {"tasks": [task]})
    got1 = {
        r["doc_id"]
        for r in spark.read.parquet(str(workdir / "output" / "novel1.parquet")).collect()
    }
    assert got1 == {1, 3}

    rows2 = [
        {"doc_id": 10, "text": "beta doc"},   # seen in run 1
        {"doc_id": 11, "text": "gamma doc"},  # novel
    ]
    with open(workdir / "input" / "d2.json", "w", encoding="utf-8") as f:
        for r in rows2:
            f.write(json.dumps(r) + "\n")
    task2 = {
        **task,
        "source": {**task["source"], "file": "d2.json"},
        "target": {"kind": "parquet", "file": "novel2.parquet", "truncate": True},
    }
    run_tasks(spark, workdir, {"tasks": [task2]})
    got2 = {
        r["doc_id"]
        for r in spark.read.parquet(str(workdir / "output" / "novel2.parquet")).collect()
    }
    assert got2 == {11}
    for t in ("t_task_fpidx", "t_task_fpidx_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_dedup_task_cold_start_follows_the_index_pointer(spark, workdir):
    """A dedup task pointed at an index that ensure_fingerprint_index
    built (a physical snapshot plus the ``{index}_ptr`` pointer) must
    dedup against that snapshot, not cold-start a stray empty index
    under the logical name beside it."""
    from dasladen_spark.operators.fingerprint_index import (
        ensure_fingerprint_index,
    )

    hist = spark.createDataFrame(
        [(1, "alpha doc"), (2, "beta doc")], "doc_id BIGINT, text STRING"
    )
    phys = ensure_fingerprint_index(hist, "t_task_ptr_idx", tag="hist")
    with open(workdir / "input" / "d.json", "w", encoding="utf-8") as f:
        for r in ({"doc_id": 10, "text": "beta doc"},
                  {"doc_id": 11, "text": "gamma doc"}):
            f.write(json.dumps(r) + "\n")
    task = {
        "name": "dd",
        "type": "dedup",
        "index": "t_task_ptr_idx",
        "id_field": "doc_id",
        "source": {
            "kind": "json",
            "file": "d.json",
            "schema": "doc_id BIGINT, text STRING",
        },
        "target": {"kind": "parquet", "file": "novel.parquet", "truncate": True},
    }
    run_tasks(spark, workdir, {"tasks": [task]})
    got = {
        r["doc_id"]
        for r in spark.read.parquet(str(workdir / "output" / "novel.parquet")).collect()
    }
    assert got == {11}  # the history doc is dropped
    assert not spark.catalog.tableExists("t_task_ptr_idx")
    assert not spark.catalog.tableExists("t_task_ptr_idx_meta")
    for t in (phys, f"{phys}_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_classify_task_trains_and_scores(spark, workdir):
    """'classify' task: train NB on a labeled source, score another
    source, write (id, pred, score) — the task-file spelling of the
    quality-filter stage."""
    train_rows = []
    for i in range(40):
        if i % 2 == 0:
            train_rows.append(
                {"doc_id": i, "text": "meeting agenda report", "label": "ham"}
            )
        else:
            train_rows.append(
                {"doc_id": i, "text": "winner free prize", "label": "spam"}
            )
    with open(workdir / "input" / "train.json", "w", encoding="utf-8") as f:
        for r in train_rows:
            f.write(json.dumps(r) + "\n")
    score_rows = [
        {"doc_id": 100, "text": "agenda for the meeting"},
        {"doc_id": 101, "text": "free prize winner click"},
    ]
    with open(workdir / "input" / "score.json", "w", encoding="utf-8") as f:
        for r in score_rows:
            f.write(json.dumps(r) + "\n")
    task = {
        "name": "cls",
        "type": "classify",
        "id_field": "doc_id",
        "train": {
            "kind": "json",
            "file": "train.json",
            "schema": "doc_id BIGINT, text STRING, label STRING",
        },
        "source": {
            "kind": "json",
            "file": "score.json",
            "schema": "doc_id BIGINT, text STRING",
        },
        "target": {"kind": "parquet", "file": "preds.parquet", "truncate": True},
    }
    run_tasks(spark, workdir, {"tasks": [task]})
    got = {
        r["doc_id"]: r["pred"]
        for r in spark.read.parquet(
            str(workdir / "output" / "preds.parquet")
        ).collect()
    }
    assert got == {100: "ham", 101: "spam"}


def test_ann_index_task_build_then_search(spark, workdir):
    """'ann-index' task lifecycle: one task file builds the
    materialized index from a vector source, a second searches it and
    writes the per-query top-k."""
    spark.sql("DROP TABLE IF EXISTS t_task_annidx")
    spark.sql("DROP TABLE IF EXISTS t_task_annidx_meta")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb.write.mode("overwrite").parquet(str(workdir / "input" / "emb.parquet"))
    build = {
        "name": "annb",
        "type": "ann-index",
        "action": "build",
        "index": "t_task_annidx",
        "tag": "t1",
        "source": {"kind": "parquet", "file": "emb.parquet"},
    }
    search = {
        "name": "anns",
        "type": "ann-index",
        "action": "search",
        "index": "t_task_annidx",
        "k": 3,
        "queries": {"kind": "parquet", "file": "emb.parquet"},
        "target": {"kind": "parquet", "file": "nn.parquet", "truncate": True},
    }
    run_tasks(spark, workdir, {"tasks": [build, search]})
    res = spark.read.parquet(str(workdir / "output" / "nn.parquet"))
    assert set(res.columns) == {"query_id", "rank", "neighbor_id", "cosine"}
    assert res.count() > 0
    assert res.groupBy("query_id").count().agg({"count": "max"}).collect()[0][0] <= 3


def test_task_pipeline_dedup_then_classify_end_to_end(spark, workdir):
    """A single task file chains the curation pipeline the reference's
    users would run: incremental dedup against a history index, then
    classifier scoring of the survivors — each stage reading the
    previous stage's sink."""
    for t in ("t_pipe_fpidx", "t_pipe_fpidx_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    docs = [
        {"doc_id": 1, "text": "meeting agenda and quarterly report"},
        {"doc_id": 2, "text": "MEETING agenda and quarterly report"},  # dup
        {"doc_id": 3, "text": "click here for a free prize offer"},
    ]
    with open(workdir / "input" / "raw.json", "w", encoding="utf-8") as f:
        for r in docs:
            f.write(json.dumps(r) + "\n")
    train = [
        {"doc_id": i, "text": "meeting agenda minutes report", "label": "keep"}
        if i % 2 == 0
        else {"doc_id": i, "text": "free prize click offer", "label": "drop"}
        for i in range(40)
    ]
    with open(workdir / "input" / "train.json", "w", encoding="utf-8") as f:
        for r in train:
            f.write(json.dumps(r) + "\n")
    dedup = {
        "name": "p1",
        "type": "dedup",
        "index": "t_pipe_fpidx",
        "id_field": "doc_id",
        "source": {
            "kind": "json",
            "file": "raw.json",
            "schema": "doc_id BIGINT, text STRING",
        },
        "target": {"kind": "parquet", "file": "clean.parquet", "truncate": True},
    }
    classify = {
        "name": "p2",
        "type": "classify",
        "id_field": "doc_id",
        "train": {
            "kind": "json",
            "file": "train.json",
            "schema": "doc_id BIGINT, text STRING, label STRING",
        },
        # reads the PREVIOUS stage's sink from the output folder
        "source": {
            "kind": "parquet",
            "file": "clean.parquet",
            "folder": str(workdir / "output"),
        },
        "target": {"kind": "parquet", "file": "scored.parquet", "truncate": True},
    }
    run_tasks(spark, workdir, {"tasks": [dedup, classify]})
    got = {
        r["doc_id"]: r["pred"]
        for r in spark.read.parquet(
            str(workdir / "output" / "scored.parquet")
        ).collect()
    }
    # doc 2 fell to the dedup stage; 1 keeps, 3 drops
    assert got == {1: "keep", 3: "drop"}


def test_ann_index_task_append_and_compact(spark, workdir):
    """'ann-index' maintenance actions: append new vectors (searchable
    immediately, no rebuild), then compact back to one file per
    bucket."""
    import os

    for t in ("t_task_annidx2", "t_task_annidx2_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb.filter("vec_id < 40").write.mode("overwrite").parquet(
        str(workdir / "input" / "old.parquet")
    )
    emb.filter("vec_id >= 40").write.mode("overwrite").parquet(
        str(workdir / "input" / "new.parquet")
    )
    emb.filter("vec_id = 45").write.mode("overwrite").parquet(
        str(workdir / "input" / "q.parquet")
    )
    tasks = [
        {
            "name": "b", "type": "ann-index", "action": "build",
            "index": "t_task_annidx2", "tag": "t1",
            "source": {"kind": "parquet", "file": "old.parquet"},
        },
        {
            "name": "a", "type": "ann-index", "action": "append",
            "index": "t_task_annidx2",
            "source": {"kind": "parquet", "file": "new.parquet"},
        },
        {
            "name": "c", "type": "ann-index", "action": "compact",
            "index": "t_task_annidx2",
        },
        {
            "name": "s", "type": "ann-index", "action": "search",
            "index": "t_task_annidx2", "k": 3, "exclude_self": False,
            "queries": {"kind": "parquet", "file": "q.parquet"},
            "target": {"kind": "parquet", "file": "nn2.parquet", "truncate": True},
        },
    ]
    run_tasks(spark, workdir, {"tasks": tasks})
    res = spark.read.parquet(str(workdir / "output" / "nn2.parquet")).collect()
    # the appended vector finds itself (exclude_self not set -> the
    # task defaults to self-matches allowed? search defaults True, so
    # check the appended vector appears as SOMEONE's neighbor instead
    assert any(r["neighbor_id"] >= 40 or r["query_id"] == 45 for r in res)
    # compaction left one file per bucket — in the PHYSICAL snapshot
    # table the logical name points at (operators/snapshot: the index
    # lives at t_task_annidx2__<digest>, resolved via the pointer view)
    from dasladen_spark.operators.snapshot import resolve_snapshot

    phys = resolve_snapshot(spark, "t_task_annidx2")
    wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    files = [
        f
        for f in os.listdir(os.path.join(wh, phys))
        if f.endswith(".parquet")
    ]
    assert len(files) == 16, len(files)


def test_json_to_tar_shards_task(spark, workdir):
    """json-tar: the WebDataset export is reachable from a task file —
    JSON-lines rows become tar members (the sink UTF-8-encodes a
    string payload field itself), with metadata sidecars."""
    import tarfile

    with open(workdir / "input" / "docs.json", "w", encoding="utf-8") as f:
        for i, txt in [(1, "alpha"), (2, "beta"), (3, "gamma")]:
            f.write(json.dumps({"key": i, "text": txt, "lang": "en"}) + "\n")
    run_tasks(
        spark,
        workdir,
        {
            "tasks": [
                {
                    "name": "j2t",
                    "type": "json-tar",
                    "source": {
                        "file": "docs.json",
                        "schema": "key BIGINT, text STRING, lang STRING",
                    },
                    "target": {
                        "file": "shards",
                        "n_shards": 2,
                        "key_field": "key",
                        "payload_field": "text",
                        "ext": "txt",
                        "meta_fields": ["lang"],
                    },
                }
            ]
        },
    )
    shard_dir = workdir / "output" / "shards"
    got = {}
    for tf_path in sorted(shard_dir.glob("shard-*.tar")):
        with tarfile.open(tf_path) as tf:
            for m in tf.getmembers():
                got[m.name] = tf.extractfile(m).read()
    assert got["1.txt"] == b"alpha"
    assert got["2.txt"] == b"beta"
    assert got["3.txt"] == b"gamma"
    assert json.loads(got["1.json"]) == {"lang": "en"}


def test_sample_task_deterministic_and_stratified(spark, workdir):
    """The sample task keeps the SAME rows across runs (id-hash
    membership) and honors per-stratum rates."""
    import pandas as pd

    pd.DataFrame(
        {
            "id": range(200),
            "grp": ["a" if i % 2 == 0 else "b" for i in range(200)],
        }
    ).to_parquet(workdir / "input" / "rows.parquet")
    base = {
        "source": {"kind": "parquet", "file": "rows.parquet"},
        "target": {"kind": "parquet", "file": "s.parquet", "truncate": True},
        "id_field": "id",
    }
    run_tasks(
        spark,
        workdir,
        {"tasks": [{"name": "s1", "type": "sample",
                    "fraction": 0.3, **base}]},
    )
    got1 = {r["id"] for r in
            spark.read.parquet(str(workdir / "output" / "s.parquet")).collect()}
    assert 30 <= len(got1) <= 90  # ~30% of 200, hash-noise tolerant
    run_tasks(
        spark,
        workdir,
        {"tasks": [{"name": "s2", "type": "sample",
                    "fraction": 0.3, **base}]},
    )
    got2 = {r["id"] for r in
            spark.read.parquet(str(workdir / "output" / "s.parquet")).collect()}
    assert got1 == got2  # deterministic membership

    run_tasks(
        spark,
        workdir,
        {"tasks": [{
            "name": "s3", "type": "sample", "method": "stratified",
            "strata_field": "grp", "fractions": {"a": 1.0},
            "default_fraction": 0.0, **base,
        }]},
    )
    rows = spark.read.parquet(
        str(workdir / "output" / "s.parquet")
    ).collect()
    assert {r["grp"] for r in rows} == {"a"}
    assert len(rows) == 100


def test_dedup_task_winnowing_incremental_across_runs(spark, workdir):
    """'dedup' task with method=winnowing: a NEAR-dup (shared long
    token run, different surroundings) collapses within the batch,
    and with an `index` configured, a second run drops docs that
    share >= min_shared winnowed fingerprints with what run 1
    admitted — the task-file surface of the winnowed fingerprint
    index intake (the near-dup sibling of
    test_dedup_task_incremental_across_runs)."""
    for t in ("t_task_winidx", "t_task_winidx_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    run = " ".join(f"shared{i}" for i in range(25))
    other = " ".join(f"left{i}" for i in range(25))
    rows1 = [
        {"doc_id": 1, "text": "intro one two " + run},
        # near-dup of 1: same 25-token run, different lead-in
        {"doc_id": 2, "text": "totally different prefix " + run},
        {"doc_id": 3, "text": other},
    ]
    with open(workdir / "input" / "w1.json", "w", encoding="utf-8") as f:
        for r in rows1:
            f.write(json.dumps(r) + "\n")
    task = {
        "name": "wd",
        "type": "dedup",
        "method": "winnowing",
        "index": "t_task_winidx",
        "id_field": "doc_id",
        "source": {
            "kind": "json",
            "file": "w1.json",
            "schema": "doc_id BIGINT, text STRING",
        },
        "target": {"kind": "parquet", "file": "wnovel1.parquet", "truncate": True},
    }
    run_tasks(spark, workdir, {"tasks": [task]})
    got1 = {
        r["doc_id"]
        for r in spark.read.parquet(
            str(workdir / "output" / "wnovel1.parquet")
        ).collect()
    }
    assert got1 == {1, 3}

    rows2 = [
        # shares the 25-token run with doc 1 (admitted in run 1)
        {"doc_id": 10, "text": "yet another framing " + run + " coda"},
        {"doc_id": 11, "text": " ".join(f"fresh{i}" for i in range(25))},
    ]
    with open(workdir / "input" / "w2.json", "w", encoding="utf-8") as f:
        for r in rows2:
            f.write(json.dumps(r) + "\n")
    task2 = {
        **task,
        "source": {**task["source"], "file": "w2.json"},
        "target": {"kind": "parquet", "file": "wnovel2.parquet", "truncate": True},
    }
    run_tasks(spark, workdir, {"tasks": [task2]})
    got2 = {
        r["doc_id"]
        for r in spark.read.parquet(
            str(workdir / "output" / "wnovel2.parquet")
        ).collect()
    }
    assert got2 == {11}
    for t in ("t_task_winidx", "t_task_winidx_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


@pytest.mark.parametrize("index", [None, "t_task_leakidx"])
def test_dedup_task_winnowing_leaves_nothing_cached(spark, workdir, index):
    """A winnowing 'dedup' task unpersists every frame it caches (the
    pair stage's fingerprint frame included), with and without an
    index — a long-lived Watcher runs the same task file on every
    schedule tick, and a cached frame left per run is a leak."""
    for t in ("t_task_leakidx", "t_task_leakidx_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    run = " ".join(f"shared{i}" for i in range(25))
    with open(workdir / "input" / "l.json", "w", encoding="utf-8") as f:
        for r in [
            {"doc_id": 1, "text": "intro one two " + run},
            {"doc_id": 2, "text": "totally different prefix " + run},
            {"doc_id": 3, "text": " ".join(f"left{i}" for i in range(25))},
        ]:
            f.write(json.dumps(r) + "\n")
    task = {
        "name": "leak",
        "type": "dedup",
        "method": "winnowing",
        "id_field": "doc_id",
        "source": {
            "kind": "json",
            "file": "l.json",
            "schema": "doc_id BIGINT, text STRING",
        },
        "target": {"kind": "parquet", "file": "l.parquet", "truncate": True},
    }
    if index:
        task["index"] = index
    cache = spark._jsparkSession.sharedState().cacheManager()
    # frames other tests of this session cached are not this task's
    spark.catalog.clearCache()
    assert cache.isEmpty()
    run_tasks(spark, workdir, {"tasks": [task]})
    got = {
        r["doc_id"]
        for r in spark.read.parquet(
            str(workdir / "output" / "l.parquet")
        ).collect()
    }
    assert got == {1, 3}
    assert cache.isEmpty()
    for t in ("t_task_leakidx", "t_task_leakidx_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_intake_task_incremental_quality_and_decontaminate_gates(
    spark, workdir
):
    """'intake' task: the streaming gates driven from a task file.
    Run 1 drains the folder through the quality gate (reject routed
    with a reason); run 2 of the SAME task only processes the file
    that landed in between (availableNow + checkpoint = incremental
    scheduled intake). A decontaminate-gate task quarantines the
    bench-overlapping doc."""
    drops = workdir / "input" / "drops"
    drops.mkdir()
    good = "data pipelines shuffle partition join merge sort scan today fine"
    (drops / "a.jsonl").write_text(
        json.dumps({"doc_id": 1, "text": good, "lang": "en", "source": "s1"})
        + "\n"
        + json.dumps({"doc_id": 2, "text": "ok", "lang": "en", "source": "s1"})
    )
    task = {
        "name": "iq",
        "type": "intake",
        "gate": "quality",
        "source": {"folder": str(drops)},
        "target": {"file": "accepted"},
        "quarantine": {"file": "rejected"},
    }
    run_tasks(spark, workdir, {"tasks": [task]})
    acc1 = spark.read.parquet(str(workdir / "output" / "accepted"))
    rej1 = spark.read.parquet(str(workdir / "output" / "rejected"))
    assert {r["doc_id"] for r in acc1.collect()} == {1}
    rej_rows = rej1.collect()
    assert [r["doc_id"] for r in rej_rows] == [2]
    assert rej_rows[0]["reject_reason"] == "too_short"

    # a new drop lands; re-running the same task file processes ONLY it
    (drops / "b.jsonl").write_text(
        json.dumps({"doc_id": 3, "text": good + " again with more words",
                    "lang": "en", "source": "s2"})
    )
    run_tasks(spark, workdir, {"tasks": [task]})
    acc2 = spark.read.parquet(str(workdir / "output" / "accepted"))
    assert {r["doc_id"] for r in acc2.collect()} == {1, 3}

    # decontaminate gate from a task file
    leak = "alpha beta gamma delta epsilon zeta eta theta"
    d2 = workdir / "input" / "drops2"
    d2.mkdir()
    (d2 / "a.jsonl").write_text(
        json.dumps({"doc_id": 10, "text": f"intro {leak} outro",
                    "lang": "en", "source": "s1"})
        + "\n"
        + json.dumps({"doc_id": 11, "text": good, "lang": "en",
                      "source": "s1"})
    )
    with open(workdir / "input" / "bench.json", "w", encoding="utf-8") as f:
        f.write(json.dumps({"bid": 9, "text": f"pre {leak} post"}) + "\n")
    run_tasks(
        spark,
        workdir,
        {
            "tasks": [
                {
                    "name": "id",
                    "type": "intake",
                    "gate": "decontaminate",
                    "source": {"folder": str(d2)},
                    "bench": {"kind": "json", "file": "bench.json",
                              "schema": "bid BIGINT, text STRING"},
                    "target": {"file": "clean"},
                    "quarantine": {"file": "leaked"},
                }
            ]
        },
    )
    clean = spark.read.parquet(str(workdir / "output" / "clean"))
    leaked = spark.read.parquet(str(workdir / "output" / "leaked")).collect()
    assert {r["doc_id"] for r in clean.collect()} == {11}
    assert [r["doc_id"] for r in leaked] == [10]
    assert leaked[0]["n_contaminated_grams"] >= 1


def test_download_task_fetches_over_real_http(spark, workdir):
    """'download' task against a loopback http.server: a REAL GET
    (params serialized onto the query string, headers sent) lands the
    body in the output folder — the reference's HTTP path
    (task.py:558-574) exercised live with no external network, and
    the fetched CSV is immediately readable by a downstream task."""
    import functools
    import http.server
    import threading

    serve_dir = workdir / "serve"
    serve_dir.mkdir()
    (serve_dir / "data.csv").write_text("a;b\n1;2\n3;4\n")
    handler = functools.partial(
        http.server.SimpleHTTPRequestHandler, directory=str(serve_dir)
    )
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        port = srv.server_address[1]
        run_tasks(
            spark,
            workdir,
            {
                "tasks": [
                    {
                        "name": "dl",
                        "type": "download",
                        "source": {
                            "url": f"http://127.0.0.1:{port}/data.csv",
                            "params": {"v": "1"},
                            "headers": {"X-Probe": "dasladen"},
                        },
                        "target": {"file": "fetched.csv"},
                    },
                    # downstream: the fetched file is a normal csv
                    # source for the next task in the same file
                    {
                        "name": "load",
                        "type": "csv-parquet",
                        "source": {
                            "kind": "csv",
                            "file": "fetched.csv",
                            "folder": str(workdir / "output"),
                            "delimiter": ";",
                        },
                        "target": {"kind": "parquet", "file": "dl.parquet",
                                   "truncate": True},
                    },
                ]
            },
        )
    finally:
        srv.shutdown()
    assert (
        workdir / "output" / "fetched.csv"
    ).read_text() == "a;b\n1;2\n3;4\n"
    rows = spark.read.parquet(str(workdir / "output" / "dl.parquet")).collect()
    assert {(r["a"], r["b"]) for r in rows} == {("1", "2"), ("3", "4")}


def test_dedup_task_spans_cut_and_report(spark, workdir):
    """'dedup' task with method=spans: the later occurrence of a
    duplicated token run is CUT from its doc (unique remainder kept,
    n_cut_tokens audited), and mode=report writes the span table
    itself — the task-file surface of operators/dedup
    duplicated_spans / cut_duplicate_spans."""
    run = " ".join(f"shared{i}" for i in range(20))
    rows = [
        {"doc_id": 1, "text": "intro one two " + run + " tail"},
        {"doc_id": 2, "text": "different prefix words " + run + " other coda"},
        {"doc_id": 3, "text": " ".join(f"solo{i}" for i in range(20))},
    ]
    with open(workdir / "input" / "sp.json", "w", encoding="utf-8") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    task = {
        "name": "sp",
        "type": "dedup",
        "method": "spans",
        "min_span": 12,
        "id_field": "doc_id",
        "source": {
            "kind": "json",
            "file": "sp.json",
            "schema": "doc_id BIGINT, text STRING",
        },
        "target": {"kind": "parquet", "file": "spcut.parquet", "truncate": True},
    }
    run_tasks(spark, workdir, {"tasks": [task]})
    got = {
        r["doc_id"]: r
        for r in spark.read.parquet(
            str(workdir / "output" / "spcut.parquet")
        ).collect()
    }
    assert set(got) == {1, 2, 3}  # nothing dropped — spans cut, docs kept
    assert got[1]["n_cut_tokens"] == 0 and run in got[1]["text"]
    assert got[2]["n_cut_tokens"] == 20 and "shared0" not in got[2]["text"]
    assert got[2]["text"].startswith("different prefix words")
    assert "other coda" in got[2]["text"]
    assert got[3]["n_cut_tokens"] == 0

    report = {
        **task,
        "mode": "report",
        "target": {"kind": "parquet", "file": "spans.parquet", "truncate": True},
    }
    run_tasks(spark, workdir, {"tasks": [report]})
    spans = spark.read.parquet(
        str(workdir / "output" / "spans.parquet")
    ).collect()
    assert len(spans) == 1
    s = spans[0]
    assert (s["doc_a"], s["doc_b"], s["span_tokens"]) == (1, 2, 20)
    assert s["a_start"] == 4 and s["b_start"] == 4


def test_er_task_writes_transitive_merge_map(spark, workdir):
    """'er' task: blocked levenshtein edges + transitive closure
    written as a full member -> cluster merge map — A~B~C in one
    cluster at distance 2, singletons mapped to themselves."""
    rows = [
        {"ck": 1, "nm": "Chain#X00"},
        {"ck": 2, "nm": "Chain#X01"},  # dist 1 from X00 and X11
        {"ck": 3, "nm": "Chain#X11"},  # dist 2 from X00
        {"ck": 9, "nm": "Alone#Z99"},
    ]
    with open(workdir / "input" / "er.json", "w", encoding="utf-8") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    run_tasks(
        spark,
        workdir,
        {"tasks": [{
            "name": "er1",
            "type": "er",
            "key_field": "ck",
            "name_field": "nm",
            "source": {
                "kind": "json",
                "file": "er.json",
                "schema": "ck BIGINT, nm STRING",
            },
            "target": {"kind": "parquet", "file": "er.parquet", "truncate": True},
        }]},
    )
    got = {
        r["member"]: (r["cluster_id"], r["rep_name"])
        for r in spark.read.parquet(
            str(workdir / "output" / "er.parquet")
        ).collect()
    }
    assert got == {
        1: (1, "Chain#X00"),
        2: (1, "Chain#X00"),
        3: (1, "Chain#X00"),
        9: (9, "Alone#Z99"),
    }


def test_sample_task_dsir_selects_target_like_docs(spark, workdir):
    """'sample' task with method=dsir: source docs sharing the
    exemplar set's vocabulary must outrank docs drawn from a
    disjoint vocabulary, and exactly the top keep_fraction (with
    their dsir weight column) reach the target."""
    target_vocab = ["alpha", "beta", "gamma", "delta", "epsilon"]
    noise_vocab = ["zero", "one", "two", "three", "four"]
    train_rows = [
        {"doc_id": 100 + i, "text": " ".join(target_vocab * 4)}
        for i in range(3)
    ]
    src_rows = [
        # 2 target-like docs, 6 noise docs
        {"doc_id": 1, "text": " ".join(target_vocab * 5)},
        {"doc_id": 2, "text": " ".join((target_vocab * 4) + noise_vocab)},
    ] + [
        {"doc_id": 10 + i, "text": " ".join(noise_vocab * 5)}
        for i in range(6)
    ]
    for fname, rows in (("dsir_train.json", train_rows), ("dsir_src.json", src_rows)):
        with open(workdir / "input" / fname, "w", encoding="utf-8") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
    run_tasks(
        spark,
        workdir,
        {"tasks": [{
            "name": "ds",
            "type": "sample",
            "method": "dsir",
            "id_field": "doc_id",
            "keep_fraction": 0.25,
            "train": {
                "kind": "json",
                "file": "dsir_train.json",
                "schema": "doc_id BIGINT, text STRING",
            },
            "source": {
                "kind": "json",
                "file": "dsir_src.json",
                "schema": "doc_id BIGINT, text STRING",
            },
            "target": {"kind": "parquet", "file": "dsir.parquet", "truncate": True},
        }]},
    )
    got = spark.read.parquet(str(workdir / "output" / "dsir.parquet"))
    kept = {r["doc_id"] for r in got.collect()}
    assert kept == {1, 2}
    assert "weight_per_token" in got.columns


def test_parquet_zorder_sink_task(spark, workdir, sf_dir):
    """parquet→parquet with a two-column z-order clustered target:
    the task surface reaches sinks/zorder, files carry tight min/max
    footer ranges on BOTH cluster columns (the data-skipping layout),
    and the data round-trips unchanged."""
    run_tasks(
        spark,
        workdir,
        {
            "tasks": [
                {
                    "name": "zorder",
                    "type": "parquet-parquet",
                    "source": {"file": "orders.parquet", "folder": sf_dir},
                    "target": {
                        "file": "orders_z.parquet",
                        "truncate": True,
                        "zorder": ["o_custkey", "o_orderdate"],
                        "n_files": 4,
                    },
                }
            ]
        },
    )
    out = str(workdir / "output" / "orders_z.parquet")
    back = spark.read.parquet(out)
    src = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    assert back.count() == src.count()
    import glob

    assert len(glob.glob(os.path.join(out, "*.parquet"))) >= 3


def test_parquet_zorder_rejects_partition_by(spark, workdir, sf_dir):
    """zorder and partition_by on one parquet target must fail loudly
    — silently dropping the partitioning would break downstream
    directory pruning invisibly."""
    with pytest.raises(Exception, match="mutually exclusive"):
        run_tasks(
            spark,
            workdir,
            {
                "tasks": [
                    {
                        "name": "bad",
                        "type": "parquet-parquet",
                        "source": {"file": "orders.parquet", "folder": sf_dir},
                        "target": {
                            "file": "o.parquet",
                            "truncate": True,
                            "zorder": ["o_custkey", "o_orderdate"],
                            "partition_by": ["o_orderstatus"],
                        },
                    }
                ]
            },
        )


def test_score_task_normalizes_across_sources(spark, workdir, sf_dir):
    """score task: every doc gets the heuristic quality column, and
    normalize_by maps each score to the global score at the same
    within-source CDF position — per-source normalized distributions
    become comparable (monotone within source, values drawn from the
    global score set)."""
    run_tasks(
        spark,
        workdir,
        {
            "tasks": [
                {
                    "name": "score",
                    "type": "score",
                    "source": {"file": "documents.parquet", "folder": sf_dir},
                    "target": {"file": "scored.parquet", "truncate": True},
                    "normalize_by": "source",
                }
            ]
        },
    )
    out = spark.read.parquet(str(workdir / "output" / "scored.parquet"))
    rows = out.select(
        "doc_id", "source", "quality", "quality_normalized"
    ).toPandas()
    src = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    assert len(rows) == src.count()
    assert rows.quality_normalized.notna().all()
    # normalized values come from the global score multiset
    assert set(rows.quality_normalized) <= set(rows.quality)
    # monotone within each source: higher raw never maps lower
    for _, g in rows.groupby("source"):
        g = g.sort_values(["quality", "doc_id"])
        assert (g.quality_normalized.diff().dropna() >= -1e-12).all()


def test_decontaminate_task_drops_bench_overlaps(spark, workdir):
    """decontaminate task: docs sharing an 8-gram with the bench
    corpus are dropped from the clean output and land in quarantine
    with their contaminated-gram counts; clean docs pass untouched."""
    leak = "alpha beta gamma delta epsilon zeta eta theta"
    with open(workdir / "input" / "docs.json", "w", encoding="utf-8") as f:
        f.write(json.dumps({"doc_id": 1, "text": f"intro {leak} outro"}) + "\n")
        f.write(
            json.dumps({"doc_id": 2, "text": "totally original words only "
                        "nothing shared here at all ok"}) + "\n"
        )
    with open(workdir / "input" / "bench.json", "w", encoding="utf-8") as f:
        f.write(json.dumps({"bid": 9, "text": f"prefix {leak} suffix"}) + "\n")
    run_tasks(
        spark,
        workdir,
        {
            "tasks": [
                {
                    "name": "decon",
                    "type": "decontaminate",
                    "source": {
                        "kind": "json",
                        "file": "docs.json",
                        "schema": "doc_id BIGINT, text STRING",
                    },
                    "bench": {
                        "kind": "json",
                        "file": "bench.json",
                        "schema": "bid BIGINT, text STRING",
                    },
                    "id_field": "doc_id",
                    "target": {"file": "clean.parquet", "truncate": True},
                    "quarantine": {
                        "file": "dropped.parquet",
                        "truncate": True,
                    },
                }
            ]
        },
    )
    clean = spark.read.parquet(str(workdir / "output" / "clean.parquet"))
    dropped = spark.read.parquet(str(workdir / "output" / "dropped.parquet"))
    assert [r.doc_id for r in clean.collect()] == [2]
    drow = dropped.collect()
    assert len(drow) == 1 and drow[0].doc_id == 1
    assert drow[0].n_contaminated_grams >= 1


def test_decontaminate_task_rejects_null_or_dup_ids(spark, workdir):
    """NULL or duplicated ids would silently leak contaminated docs
    (anti-join NULL semantics) or merge gram sets across docs — the
    task must fail loudly before writing anything."""
    with open(workdir / "input" / "docs.json", "w", encoding="utf-8") as f:
        f.write(json.dumps({"doc_id": 1, "text": "a b c"}) + "\n")
        f.write(json.dumps({"doc_id": 1, "text": "d e f"}) + "\n")
    with open(workdir / "input" / "bench.json", "w", encoding="utf-8") as f:
        f.write(json.dumps({"bid": 9, "text": "a b c"}) + "\n")
    with pytest.raises(Exception, match="non-null and unique"):
        run_tasks(
            spark,
            workdir,
            {
                "tasks": [
                    {
                        "name": "decon",
                        "type": "decontaminate",
                        "source": {
                            "kind": "json",
                            "file": "docs.json",
                            "schema": "doc_id BIGINT, text STRING",
                        },
                        "bench": {
                            "kind": "json",
                            "file": "bench.json",
                            "schema": "bid BIGINT, text STRING",
                        },
                        "id_field": "doc_id",
                        "ngram": 3,
                        "target": {"file": "clean.parquet", "truncate": True},
                    }
                ]
            },
        )


def test_decontaminate_task_semantic_method(spark, workdir):
    """decontaminate task, method: semantic — a doc whose embedding
    sits within `threshold` cosine of a benchmark vector is dropped
    and quarantined with (nearest_bench_id, max_cosine); orthogonal
    docs pass. The n-gram text path is bypassed entirely (no text
    column needed)."""
    with open(workdir / "input" / "docs.json", "w", encoding="utf-8") as f:
        f.write(json.dumps(
            {"doc_id": 1, "embedding": [0.9, 0.1, 0.0, 0.0]}) + "\n")
        f.write(json.dumps(
            {"doc_id": 2, "embedding": [0.0, 1.0, 0.0, 0.0]}) + "\n")
    with open(workdir / "input" / "bench.json", "w", encoding="utf-8") as f:
        f.write(json.dumps(
            {"bid": 9, "vec": [1.0, 0.0, 0.0, 0.0]}) + "\n")
    run_tasks(
        spark,
        workdir,
        {
            "tasks": [
                {
                    "name": "decon-sem",
                    "type": "decontaminate",
                    "method": "semantic",
                    "source": {
                        "kind": "json",
                        "file": "docs.json",
                        "schema": "doc_id BIGINT, embedding ARRAY<DOUBLE>",
                    },
                    "bench": {
                        "kind": "json",
                        "file": "bench.json",
                        "schema": "bid BIGINT, vec ARRAY<DOUBLE>",
                    },
                    "id_field": "doc_id",
                    "bench_id_field": "bid",
                    "bench_vec_field": "vec",
                    "threshold": 0.8,
                    "target": {"file": "clean.parquet", "truncate": True},
                    "quarantine": {
                        "file": "dropped.parquet",
                        "truncate": True,
                    },
                }
            ]
        },
    )
    clean = spark.read.parquet(str(workdir / "output" / "clean.parquet"))
    dropped = spark.read.parquet(str(workdir / "output" / "dropped.parquet"))
    assert [r.doc_id for r in clean.collect()] == [2]
    drow = dropped.collect()
    assert len(drow) == 1 and drow[0].doc_id == 1
    assert drow[0].nearest_bench_id == 9
    assert drow[0].max_cosine > 0.8


def test_decontaminate_task_rejects_unknown_method(spark, workdir):
    with open(workdir / "input" / "docs.json", "w", encoding="utf-8") as f:
        f.write(json.dumps({"doc_id": 1, "text": "a b c"}) + "\n")
    with open(workdir / "input" / "bench.json", "w", encoding="utf-8") as f:
        f.write(json.dumps({"bid": 9, "text": "a b c"}) + "\n")
    with pytest.raises(Exception, match="unknown method"):
        run_tasks(
            spark,
            workdir,
            {
                "tasks": [
                    {
                        "name": "decon-bad",
                        "type": "decontaminate",
                        "method": "telepathy",
                        "source": {
                            "kind": "json",
                            "file": "docs.json",
                            "schema": "doc_id BIGINT, text STRING",
                        },
                        "bench": {
                            "kind": "json",
                            "file": "bench.json",
                            "schema": "bid BIGINT, text STRING",
                        },
                        "id_field": "doc_id",
                        "target": {"file": "c.parquet", "truncate": True},
                    }
                ]
            },
        )


def test_sample_task_coreset_method(spark, workdir):
    """sample task, method: coreset — writes the k greedy k-center
    picks with every source column plus (pick_order, d2); the seed is
    the lowest id and picks are distinct."""
    import json as _json

    rows = [
        {"vec_id": 1, "embedding": [0.0, 0.0], "label": "a"},
        {"vec_id": 2, "embedding": [10.0, 0.0], "label": "b"},
        {"vec_id": 3, "embedding": [0.0, 10.0], "label": "c"},
        {"vec_id": 4, "embedding": [0.1, 0.1], "label": "d"},
    ]
    with open(workdir / "input" / "vecs.json", "w", encoding="utf-8") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")
    run_tasks(
        spark,
        workdir,
        {
            "tasks": [
                {
                    "name": "core",
                    "type": "sample",
                    "method": "coreset",
                    "k": 3,
                    "source": {
                        "kind": "json",
                        "file": "vecs.json",
                        "schema": "vec_id BIGINT, embedding ARRAY<DOUBLE>,"
                                  " label STRING",
                    },
                    "id_field": "vec_id",
                    "target": {"file": "core.parquet", "truncate": True},
                }
            ]
        },
    )
    out = (
        spark.read.parquet(str(workdir / "output" / "core.parquet"))
        .orderBy("pick_order")
        .collect()
    )
    assert [r.pick_order for r in out] == [0, 1, 2]
    assert out[0].vec_id == 1          # seed = lowest id
    assert out[0].d2 is None
    # the two far corners are picked before the near-duplicate of
    # the seed
    assert {out[1].vec_id, out[2].vec_id} == {2, 3}
    assert {r.label for r in out} <= {"a", "b", "c", "d"}
    assert all(r.d2 > 1.0 for r in out[1:])


def test_sample_task_coreset_rejects_dup_ids_and_reserved_cols(
    spark, workdir
):
    import json as _json

    with open(workdir / "input" / "v.json", "w", encoding="utf-8") as f:
        f.write(_json.dumps({"vec_id": 1, "embedding": [0.0]}) + "\n")
        f.write(_json.dumps({"vec_id": 1, "embedding": [1.0]}) + "\n")
    base = {
        "name": "core-bad",
        "type": "sample",
        "method": "coreset",
        "k": 2,
        "source": {"kind": "json", "file": "v.json",
                   "schema": "vec_id BIGINT, embedding ARRAY<DOUBLE>"},
        "id_field": "vec_id",
        "target": {"file": "c.parquet", "truncate": True},
    }
    with pytest.raises(Exception, match="non-null and unique"):
        run_tasks(spark, workdir, {"tasks": [base]})
    with open(workdir / "input" / "v2.json", "w", encoding="utf-8") as f:
        f.write(_json.dumps(
            {"vec_id": 1, "embedding": [0.0], "d2": 9.0}) + "\n")
    bad2 = {**base, "source": {
        "kind": "json", "file": "v2.json",
        "schema": "vec_id BIGINT, embedding ARRAY<DOUBLE>, d2 DOUBLE"}}
    with pytest.raises(Exception, match="audit column"):
        run_tasks(spark, workdir, {"tasks": [bad2]})


def test_ftp_upload_task_pushes_over_real_ftp(spark, workdir):
    """'ftp-upload' against a loopback FTP server speaking just
    enough RFC 959 (USER/PASS/TYPE/CWD/PASV/STOR/QUIT): the task's
    stdlib ftplib client performs a REAL passive-mode upload — the
    reference's FTP path (task.py:441-456) exercised live with no
    external network, closing round 8's 'implemented, never
    executed' caveat."""
    import socket
    import threading

    received: dict = {}
    ctrl = socket.create_server(("127.0.0.1", 0))
    port = ctrl.getsockname()[1]

    def session():
        conn, _ = ctrl.accept()
        f = conn.makefile("rwb")

        def send(line):
            f.write((line + "\r\n").encode())
            f.flush()

        send("220 mini ftp ready")
        data_listener = None
        while True:
            raw = f.readline()
            if not raw:
                break
            cmd, _, arg = raw.decode().rstrip("\r\n").partition(" ")
            cmd = cmd.upper()
            if cmd == "USER":
                received["user"] = arg
                send("331 send password")
            elif cmd == "PASS":
                received["pass"] = arg
                send("230 logged in")
            elif cmd == "TYPE":
                send("200 type set")
            elif cmd == "CWD":
                received["cwd"] = arg
                send("250 cwd ok")
            elif cmd == "PASV":
                data_listener = socket.create_server(("127.0.0.1", 0))
                p = data_listener.getsockname()[1]
                send(
                    "227 Entering Passive Mode "
                    f"(127,0,0,1,{p >> 8},{p & 255})"
                )
            elif cmd == "STOR":
                send("150 opening data connection")
                d, _ = data_listener.accept()
                chunks = []
                while True:
                    buf = d.recv(65536)
                    if not buf:
                        break
                    chunks.append(buf)
                d.close()
                data_listener.close()
                received[arg] = b"".join(chunks)
                send("226 transfer complete")
            elif cmd == "QUIT":
                send("221 bye")
                break
            else:
                send("502 not implemented")
        conn.close()
        ctrl.close()

    threading.Thread(target=session, daemon=True).start()
    (workdir / "output" / "report.csv").write_text("a;b\n1;2\n")
    run_tasks(
        spark,
        workdir,
        {
            "connections": [
                {
                    "name": "ftpbox",
                    "driver": "ftp",
                    "host": "127.0.0.1",
                    "port": port,
                    "user": "uploader",
                    "pass": "secret",
                }
            ],
            "tasks": [
                {
                    "name": "push",
                    "type": "ftp-upload",
                    "source": {"file": "report.csv"},
                    "target": {
                        "connection": "ftpbox",
                        "path": "/inbox",
                        "file": "report_final.csv",
                    },
                }
            ],
        },
    )
    assert received["user"] == "uploader" and received["pass"] == "secret"
    assert received["cwd"] == "/inbox"
    assert received["report_final.csv"] == b"a;b\n1;2\n"


def test_cluster_task_assigns_and_reports(spark, workdir):
    """'cluster' task: embeddings source in, deterministic lattice
    k-means assignment out, per-cluster size rollup to the report
    sink — and a re-run writes IDENTICAL assignments (the md5-seed +
    integer-lattice determinism the operator guarantees)."""
    import shutil

    shutil.copy(
        "/root/testdata/sf0.001/embeddings.parquet",
        workdir / "input" / "emb.parquet",
    )
    cfg = {
        "tasks": [
            {
                "name": "km",
                "type": "cluster",
                "k": 4,
                "iterations": 2,
                "source": {"kind": "parquet", "file": "emb.parquet"},
                "target": {
                    "kind": "parquet",
                    "file": "cl.parquet",
                    "truncate": True,
                },
                "report": {
                    "kind": "csv",
                    "file": "sizes.csv",
                    "truncate": True,
                },
            }
        ]
    }
    run_tasks(spark, workdir, cfg)
    first = {
        (r["vec_id"], r["cluster"])
        for r in spark.read.parquet(
            str(workdir / "output" / "cl.parquet")
        ).collect()
    }
    n_vecs = spark.read.parquet(
        str(workdir / "input" / "emb.parquet")
    ).count()
    assert len(first) == n_vecs
    assert len({c for _i, c in first}) > 1  # it actually clusters
    with open(workdir / "output" / "sizes.csv", encoding="utf-8") as f:
        header = f.readline().strip().split(";")
        rows = [dict(zip(header, ln.strip().split(";"))) for ln in f]
    assert sum(int(r["n_members"]) for r in rows) == n_vecs
    run_tasks(spark, workdir, cfg)  # determinism across runs
    second = {
        (r["vec_id"], r["cluster"])
        for r in spark.read.parquet(
            str(workdir / "output" / "cl.parquet")
        ).collect()
    }
    assert second == first


def test_pipeline_corpus_e2e_artifacts(spark, tmp_path):
    """The full chained curation pipeline (intake → dedup → length →
    span-drop → score/gate → decontaminate → DSIR → pack → tar): the
    funnel stages are oracle-checked by the driver; this test asserts
    the POST-funnel artifacts — decontaminated/selected/packed
    parquet stages are consistent and the WebDataset shards carry one
    payload + one metadata sidecar per packed doc."""
    import tarfile

    from dasladen_spark.plans.curation import run_corpus_pipeline

    work = tmp_path / "w"
    got = run_corpus_pipeline(spark, "/root/testdata/sf0.001", str(work))
    rows = {r["stage"]: r for r in got.collect()}
    assert (
        rows[1]["n_docs"]
        >= rows[2]["n_docs"]
        >= rows[3]["n_docs"]
        >= rows[4]["n_docs"]
        >= rows[5]["n_docs"]
        > 0
    )
    out = work / "output"
    clean = spark.read.parquet(str(out / "s6_clean.parquet"))
    sel = spark.read.parquet(str(out / "s7_selected.parquet"))
    packed = spark.read.parquet(str(out / "s8_packed.parquet"))
    n_clean, n_sel, n_packed = clean.count(), sel.count(), packed.count()
    assert n_clean <= rows[5]["n_docs"]
    assert 0 < n_sel <= n_clean
    assert n_packed == n_sel
    assert {"pack_id", "n_tokens"} <= set(packed.columns)
    pids = sorted(
        r["pack_id"] for r in packed.select("pack_id").distinct().collect()
    )
    assert pids == list(range(len(pids)))  # contiguous 0..K sequence ids
    shard_files = sorted((out / "shards").glob("shard-*.tar"))
    assert len(shard_files) == 4
    members: set = set()
    for path in shard_files:
        with tarfile.open(path) as tf:
            members |= {m.name for m in tf.getmembers()}
    txts = {m for m in members if m.endswith(".txt")}
    assert len(txts) == n_packed
    assert {m.replace(".txt", ".json") for m in txts} <= members


def test_dedup_task_semantic_method(spark, workdir):
    """'dedup' method 'semantic' (SemDeDup): keeps one doc per
    embedding near-dup component within a k-means cluster; dropped
    docs land in quarantine with their survivor id."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb.write.mode("overwrite").parquet(
        str(workdir / "input" / "emb.parquet")
    )
    run_tasks(
        spark,
        workdir,
        {
            "tasks": [
                {
                    "name": "sd",
                    "type": "dedup",
                    "method": "semantic",
                    "id_field": "vec_id",
                    "vec_field": "embedding",
                    "k": 4,
                    "iterations": 1,
                    "threshold": 0.4,
                    "source": {"kind": "parquet", "file": "emb.parquet"},
                    "target": {"kind": "parquet", "file": "kept.parquet",
                               "truncate": True},
                    "quarantine": {"kind": "parquet",
                                   "file": "dropped.parquet",
                                   "truncate": True},
                }
            ]
        },
    )
    kept = spark.read.parquet(str(workdir / "output" / "kept.parquet"))
    dropped = spark.read.parquet(str(workdir / "output" / "dropped.parquet"))
    n = emb.count()
    assert kept.count() + dropped.count() == n
    assert 0 < kept.count() <= n
    kept_ids = {r["vec_id"] for r in kept.select("vec_id").collect()}
    for r in dropped.select("vec_id", "survivor").collect():
        assert r["survivor"] in kept_ids and r["survivor"] < r["vec_id"]


def test_unknown_task_type_raises(spark, workdir):
    """Reference parity (task.py:599 raises NotImplementedError): a
    typo'd task type fails loudly instead of skipping the stage."""
    with pytest.raises(ValueError, match="unknown type 'csv-dbb'"):
        run_tasks(
            spark,
            workdir,
            {"tasks": [{"name": "typo", "type": "csv-dbb", "source": {}}]},
        )


def test_unknown_task_type_fails_before_the_first_task_runs(spark, workdir):
    """A typo in the LAST task's type stops the file before any task
    has written anything."""
    write_csv_file(workdir / "input" / "src.csv", [(1, "a", 1)])
    tasks = [
        {
            "name": name,
            "type": kind,
            "source": {"file": "src.csv"},
            "target": {"file": f"{name}.csv", "truncate": True},
        }
        for name, kind in (("first", "csv-csv"), ("second", "csv-csv"), ("third", "csv-cvs"))
    ]
    with pytest.raises(ValueError, match="task 'third': unknown type 'csv-cvs'"):
        run_tasks(spark, workdir, {"tasks": tasks})
    assert not (workdir / "output" / "first.csv").exists()


def test_unknown_connection_fails_before_the_first_task_runs(spark, workdir):
    """A connection name the file does not define, in the LAST task,
    stops the file before any task has written anything."""
    write_csv_file(workdir / "input" / "src.csv", [(1, "a", 1)])
    tasks = [
        {
            "name": "first",
            "type": "csv-csv",
            "source": {"file": "src.csv"},
            "target": {"file": "first.csv", "truncate": True},
        },
        {
            "name": "last",
            "type": "csv-db",
            "source": {"file": "src.csv"},
            "target": {"connection": "derbyy", "table": "t", "truncate": True},
        },
    ]
    with pytest.raises(
        ValueError, match="task 'last': target names unknown connection 'derbyy'"
    ):
        run_tasks(spark, workdir, {"connections": [_derby("badconn")], "tasks": tasks})
    assert not (workdir / "output" / "first.csv").exists()


def _docs_json(workdir):
    with open(workdir / "input" / "docs.json", "w", encoding="utf-8") as f:
        for i, text in enumerate(["alpha beta gamma", "delta epsilon zeta"]):
            f.write(json.dumps({"doc_id": i, "text": text, "label": "x"}) + "\n")


_DOCS = {"kind": "json", "file": "docs.json"}


@pytest.mark.parametrize(
    "key, task",
    [
        ("source", {"type": "score", "source": {"kind": "parqet", "file": "docs.json"}}),
        ("bench", {"type": "decontaminate", "id_field": "doc_id", "source": _DOCS,
                   "bench": {"kind": "jsn", "file": "docs.json"}}),
        ("train", {"type": "classify", "source": _DOCS,
                   "train": {"kind": "jsnol", "file": "docs.json"}}),
        ("quarantine", {"type": "validate", "source": _DOCS,
                        "rules": {"short": "length(text) > 100"},
                        "quarantine": {"kind": "cvs", "file": "bad.csv"}}),
        ("report", {"type": "cluster", "k": 2, "iterations": 1,
                    "source": {"kind": "parquet", "file": "emb.parquet"},
                    "report": {"kind": "cssv", "file": "sizes.csv"}}),
    ],
)
def test_misspelt_spec_kind_names_the_kind(spark, workdir, key, task):
    """Every spec a runner reads or writes goes through the one
    format dispatch, so a misspelt ``kind`` fails loudly with that
    kind in the message instead of falling back to a default."""
    import shutil

    _docs_json(workdir)
    shutil.copy(
        "/root/testdata/sf0.001/embeddings.parquet",
        workdir / "input" / "emb.parquet",
    )
    task = {"name": key, "target": {"file": "out", "truncate": True}, **task}
    side = "source" if key in ("source", "bench", "train") else "sink"
    kind = task[key]["kind"]
    with pytest.raises(ValueError, match=f"unknown {side} kind '{kind}'"):
        run_tasks(spark, workdir, {"tasks": [task]})


def test_every_spec_passes_the_read_and_write_seam(spark, workdir, monkeypatch):
    """Each spec a task names reaches the module-global _read_source /
    _write_sink as the task's ``source`` / ``target``, in the order
    the runner uses them — the seam callers wrap to trace reads and
    writes per spec."""
    from dasladen_spark import tasks

    seen = []
    read, write = tasks._read_source, tasks._write_sink

    def recording_read(ctx, t, *args):
        seen.append(t["source"])
        return read(ctx, t, *args)

    def recording_write(ctx, t, df, *args):
        seen.append(t["target"])
        return write(ctx, t, df, *args)

    monkeypatch.setattr(tasks, "_read_source", recording_read)
    monkeypatch.setattr(tasks, "_write_sink", recording_write)
    _docs_json(workdir)
    task = {
        "name": "decon",
        "type": "decontaminate",
        "id_field": "doc_id",
        "ngram": 2,
        "source": dict(_DOCS),
        "bench": {"kind": "json", "file": "docs.json"},
        "target": {"file": "clean.parquet", "truncate": True},
        "quarantine": {"file": "dropped.parquet", "truncate": True},
    }
    run_tasks(spark, workdir, {"tasks": [task]})
    assert seen == [
        task["source"], task["bench"], task["target"], task["quarantine"]
    ]
