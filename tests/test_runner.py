"""Control-plane tests: watcher diffing, zip intake, copy rules,
scheduler parsing (incl. the fixed int quirks) — pure driver-side."""

import datetime as dt
import json
import zipfile

import pytest

from dasladen_spark.runner.scheduler import ScheduledJob, Scheduler, next_fire
from dasladen_spark.runner.taskrun import Runner, parse_to_int
from dasladen_spark.runner.watcher import Watcher


def test_is_task_detection(tmp_path):
    p = tmp_path / "a.json"
    p.write_text(json.dumps({"tasks": []}))
    assert Runner(str(p)).is_task()
    p.write_text(json.dumps({"other": 1}))
    assert not Runner(str(p)).is_task()


def test_parse_to_int_accepts_int_and_string():
    """The reference only honored string "3" (processor.py:189-196);
    both must work now."""
    assert parse_to_int(3) == 3
    assert parse_to_int("3") == 3
    assert parse_to_int(None, default=1) == 1
    assert parse_to_int("x", default=7) == 7


def test_schedule_times_runs_n_times(spark, tmp_path):
    for d in ("input", "output", "module", "capture"):
        (tmp_path / d).mkdir()
    (tmp_path / "input" / "src.csv").write_text("id;v\n1;a\n")
    cfg = {
        "schedule": {"times": 3},  # JSON *number*, the fixed quirk
        "tasks": [
            {
                "name": "t",
                "type": "csv-csv",
                "source": {"file": "src.csv"},
                "target": {"file": "out.csv", "truncate": False},
            }
        ],
    }
    from dasladen_spark.runner.taskrun import TaskRunner

    TaskRunner(
        spark,
        Runner(cfg),
        input_path=str(tmp_path / "input"),
        output_path=str(tmp_path / "output"),
        log=lambda m: None,
    ).run_with_schedule()
    lines = (tmp_path / "output" / "out.csv").read_text().strip().splitlines()
    assert lines.count("1;a") == 3


def test_next_fire_daily_and_minutes():
    now = dt.datetime(2026, 8, 13, 10, 0)
    n = next_fire({"recurring": True, "frequency": "daily", "time": "09:30"}, now)
    assert n == dt.datetime(2026, 8, 14, 9, 30)
    n = next_fire({"recurring": True, "frequency": "minutes", "minutes": 5}, now)
    assert n == now + dt.timedelta(minutes=5)
    assert next_fire({"recurring": False}, now) is None


def test_next_fire_weekly_weekday():
    now = dt.datetime(2026, 8, 13, 10, 0)  # a Thursday
    n = next_fire(
        {"recurring": True, "frequency": "weekly", "weekday": ["friday"],
         "time": "08:00"},
        now,
    )
    assert n == dt.datetime(2026, 8, 14, 8, 0)


def test_one_shot_job_cancels():
    fired = []
    now = dt.datetime(2026, 8, 13, 10, 0)
    job = ScheduledJob(
        {"recurring": True, "frequency": "minutes", "minutes": 1, "one_shot": True},
        lambda: fired.append(1),
        now=now,
    )
    sched = Scheduler()
    sched.jobs.append(job)
    assert sched.run_pending(now + dt.timedelta(minutes=2)) == 1
    assert sched.run_pending(now + dt.timedelta(minutes=10)) == 0
    assert fired == [1]


@pytest.fixture()
def watch_env(spark, tmp_path):
    w = Watcher(
        spark,
        capture_path=str(tmp_path / "capture"),
        input_path=str(tmp_path / "input"),
        output_path=str(tmp_path / "output"),
        module_path=str(tmp_path / "module"),
        log=lambda m: None,
        log_dir=str(tmp_path / "log"),
    )
    return w, tmp_path


def test_watcher_copy_rules(watch_env):
    w, tmp = watch_env
    (tmp / "capture" / "data.csv").write_text("id\n1\n")
    (tmp / "capture" / "trans.py").write_text("# module")
    added = w.check()
    assert set(added) == {"data.csv", "trans.py"}
    assert (tmp / "input" / "data.csv").exists()
    assert (tmp / "module" / "trans.py").exists()
    assert w.check() == []  # no re-processing


def test_watcher_runs_and_consumes_task_file(watch_env):
    w, tmp = watch_env
    (tmp / "input" / "src.csv").write_text("id;v\n1;a\n2;b\n")
    task_file = tmp / "capture" / "job.json"
    task_file.write_text(
        json.dumps(
            {
                "tasks": [
                    {
                        "name": "t",
                        "type": "csv-csv",
                        "source": {"file": "src.csv"},
                        "target": {"file": "out.csv", "truncate": True},
                    }
                ]
            }
        )
    )
    w.check()
    assert (tmp / "output" / "out.csv").exists()
    assert not task_file.exists()  # consumed (processor.py:186)


def test_watcher_zip_package_intake(watch_env):
    w, tmp = watch_env
    pkg = tmp / "pkg.zip"
    with zipfile.ZipFile(pkg, "w") as zf:
        zf.writestr("src.csv", "id;v\n7;z\n")
        zf.writestr(
            "job.json",
            json.dumps(
                {
                    "tasks": [
                        {
                            "name": "t",
                            "type": "csv-csv",
                            "source": {"file": "src.csv"},
                            "target": {"file": "out.csv", "truncate": True},
                        }
                    ]
                }
            ),
        )
    w.process_file(str(pkg))
    out = (tmp / "output" / "out.csv").read_text().strip().splitlines()
    assert out == ["id;v", "7;z"]


def test_next_fire_every_n_days_and_weeks():
    now = dt.datetime(2026, 8, 13, 10, 0)  # a Thursday
    # every-3-days: today's slot passed -> 3-day stride (ref
    # processor.py:76-80)
    sched = {"recurring": True, "frequency": "daily", "days": 3, "time": "09:00"}
    n = next_fire(sched, now)
    assert n == dt.datetime(2026, 8, 16, 9, 0)
    # and the stride repeats from each fire instant
    n2 = next_fire(sched, n)
    assert n2 == dt.datetime(2026, 8, 19, 9, 0)
    # every-2-weeks on friday: next friday + 1 extra week (ref
    # processor.py:82-112 via schedule.every(2).friday)
    n = next_fire(
        {"recurring": True, "frequency": "weekly", "weeks": 2,
         "weekday": ["friday"], "time": "08:00"},
        now,
    )
    assert n == dt.datetime(2026, 8, 21, 8, 0)


def test_weekly_multi_weekday_strides_per_day():
    """Every-2-weeks on monday+friday: each weekday advances 2 weeks
    from its OWN last fire (independent jobs in the reference), so a
    Monday fire must not push the Friday onto an off-week."""
    fired = []
    now = dt.datetime(2026, 8, 13, 10, 0)  # Thursday
    job = ScheduledJob(
        {
            "recurring": True,
            "frequency": "weekly",
            "weeks": 2,
            "weekday": ["monday", "friday"],
            "time": "08:00",
        },
        lambda: fired.append(1),
        now=now,
    )
    seq = []
    for _ in range(4):
        t = job.next_run
        assert job.tick(t)
        seq.append(t)
    assert seq == [
        dt.datetime(2026, 8, 21, 8),  # friday (next fri + 1 extra wk)
        dt.datetime(2026, 8, 24, 8),  # monday of its own cadence
        dt.datetime(2026, 9, 4, 8),   # friday again: exactly 14 days on
        dt.datetime(2026, 9, 7, 8),   # monday: exactly 14 days on
    ]
    assert len(fired) == 4


def test_watcher_fires_recurring_task_file_on_schedule(watch_env):
    """A recurring task file is enqueued, not run on arrival, and then
    runs on every due tick of the watcher's scheduler."""
    w, tmp = watch_env
    (tmp / "input" / "src.csv").write_text("id;v\n1;a\n")
    task_file = tmp / "capture" / "every_minute.json"
    task_file.write_text(
        json.dumps(
            {
                "schedule": {"recurring": True, "frequency": "minutes",
                             "minutes": 1},
                "tasks": [
                    {
                        "name": "t",
                        "type": "csv-csv",
                        "source": {"file": "src.csv"},
                        "target": {"file": "out.csv", "truncate": True},
                    }
                ],
            }
        )
    )
    w.check()
    assert not task_file.exists()  # consumed into the schedule
    assert not (tmp / "output" / "out.csv").exists()  # not run yet
    log_file = tmp / "log" / "every_minute.log"

    def runs():
        if not log_file.exists():
            return 0
        return log_file.read_text().count("task t (csv-csv): done")

    now = dt.datetime.now()
    assert w.scheduler.run_pending(now + dt.timedelta(minutes=2)) == 1
    assert runs() == 1
    assert (tmp / "output" / "out.csv").exists()
    assert w.scheduler.run_pending(now + dt.timedelta(minutes=2, seconds=30)) == 0
    assert w.scheduler.run_pending(now + dt.timedelta(minutes=4)) == 1
    assert runs() == 2


def test_per_task_log_file_written(watch_env):
    w, tmp = watch_env
    (tmp / "input" / "src.csv").write_text("id;v\n1;a\n")
    (tmp / "capture" / "nightly.json").write_text(
        json.dumps(
            {
                "tasks": [
                    {
                        "name": "t",
                        "type": "csv-csv",
                        "source": {"file": "src.csv"},
                        "target": {"file": "out.csv", "truncate": True},
                    }
                ]
            }
        )
    )
    w.check()
    log_file = tmp / "log" / "nightly.log"
    assert log_file.exists()
    content = log_file.read_text()
    assert "task t (csv-csv): start" in content
    # every line is timestamped (ref log.py:23-24 format)
    import re

    for line in content.strip().splitlines():
        assert re.match(r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2} ", line), line


def test_task_failure_recorded_in_task_log(spark, tmp_path):
    """A failing task leaves its cause in ``log/<key>.log`` (not only
    on the console), and the Watcher's console line stays as it was."""
    import re

    console: list[str] = []
    w = Watcher(
        spark,
        capture_path=str(tmp_path / "capture"),
        input_path=str(tmp_path / "input"),
        output_path=str(tmp_path / "output"),
        module_path=str(tmp_path / "module"),
        log=console.append,
        log_dir=str(tmp_path / "log"),
    )
    (tmp_path / "input" / "src.csv").write_text("id;v\n1;a\n")
    (tmp_path / "capture" / "nightly.json").write_text(
        json.dumps(
            {
                "tasks": [
                    {
                        "name": "ok",
                        "type": "csv-csv",
                        "source": {"file": "src.csv"},
                        "target": {"file": "out.csv", "truncate": True},
                    },
                    {
                        "name": "bad",
                        "type": "csv-csv",
                        "source": {"file": "missing.csv"},
                        "target": {"file": "out2.csv", "truncate": True},
                    },
                ]
            }
        )
    )
    w.check()
    content = (tmp_path / "log" / "nightly.log").read_text()
    assert "task ok (csv-csv): done in" in content
    assert re.search(
        r"task bad \(csv-csv\): failed after \d+\.\d\ds: \w+: .*missing\.csv",
        content,
    ), content
    assert any(m.startswith("error processing nightly.json: ") for m in console)


def test_no_log_disables_task_log_files(spark, tmp_path):
    w = Watcher(
        spark,
        capture_path=str(tmp_path / "capture"),
        input_path=str(tmp_path / "input"),
        output_path=str(tmp_path / "output"),
        module_path=str(tmp_path / "module"),
        log=lambda m: None,
        log_dir=str(tmp_path / "log"),
        file_log=False,  # the --no-log path (ref base.py:34)
    )
    (tmp_path / "input" / "src.csv").write_text("id;v\n1;a\n")
    (tmp_path / "capture" / "job.json").write_text(
        json.dumps(
            {
                "tasks": [
                    {
                        "name": "t",
                        "type": "csv-csv",
                        "source": {"file": "src.csv"},
                        "target": {"file": "out.csv", "truncate": True},
                    }
                ]
            }
        )
    )
    w.check()
    assert (tmp_path / "output" / "out.csv").exists()
    assert not (tmp_path / "log").exists()


def test_cli_single_task_end_to_end(tmp_path):
    """The real user entry point: `python -m dasladen_spark.runner.cli
    -task f.json` in a fresh process must run a csv-csv pipeline and
    write the output file (catches packaging/arg/import regressions
    no in-process test can)."""
    import json
    import os
    import subprocess
    import sys

    (tmp_path / "input").mkdir()
    (tmp_path / "capture").mkdir()
    (tmp_path / "input" / "src.csv").write_text("id;qty\n1;10\n2;3\n3;50\n")
    task = {
        "tasks": [
            {
                "name": "t",
                "type": "csv-csv",
                "source": {"file": "src.csv"},
                "transform": {"convert": [["qty", "int"]], "filter": "{qty} > 5"},
                "target": {"file": "out.csv", "truncate": True},
            }
        ]
    }
    tf = tmp_path / "job.json"
    tf.write_text(json.dumps(task))
    r = subprocess.run(
        [sys.executable, "-m", "dasladen_spark.runner.cli", "-task", str(tf),
         "-capture", str(tmp_path / "capture")],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    out = (tmp_path / "output" / "out.csv").read_text().strip().splitlines()
    assert out[0] == "id;qty"
    assert set(out[1:]) == {"1;10", "3;50"}
