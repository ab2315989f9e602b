"""Capture-folder watcher — parity with processor.py:298-338.

Driver-side control plane (the reference's watcher is a task-file
queue, not a data stream — SURVEY §1.4). Snapshot-diff the capture
folder; process additions in the reference's fixed order:
zip packages → copy rules → task files; task files are deleted after
processing (processor.py:186). A task file with a recurring schedule
is enqueued instead of run (taskrun.py:41-47 → processor.py:64-136)
and fires from later polls.

For *data* ingestion at scale, the idiomatic upgrade is the
Structured Streaming file source in streaming/ingest.py.
"""

from __future__ import annotations

import os
import shutil
import zipfile

from dasladen_spark.runner.scheduler import Scheduler
from dasladen_spark.runner.taskrun import Runner, TaskRunner


class Watcher:
    def __init__(
        self,
        spark,
        capture_path: str = "capture",
        input_path: str = "input",
        output_path: str = "output",
        module_path: str = "module",
        log=print,
        log_dir: str = "log",
        file_log: bool = True,
    ):
        self.spark = spark
        self.capture = capture_path
        self.input_path = input_path
        self.output_path = output_path
        self.module_path = module_path
        self.log = log
        self.log_dir = log_dir
        self.file_log = file_log
        for d in (capture_path, input_path, output_path, module_path):
            os.makedirs(d, exist_ok=True)
        self._snapshot = set(os.listdir(self.capture))
        self.scheduler = Scheduler()

    # ------------------------------------------------------------ diff

    def check(self) -> list[str]:
        """One poll: diff filenames, process additions in order
        (processor.py:330-338), then fire due recurring task files."""
        current = set(os.listdir(self.capture))
        added = sorted(current - self._snapshot)
        self._snapshot = current
        for name in added:
            # one bad file must not kill the watch loop
            try:
                self._process(os.path.join(self.capture, name))
            except Exception as ex:  # noqa: BLE001
                self.log(f"error processing {name}: {type(ex).__name__}: {ex}")
        self.scheduler.run_pending()
        return added

    def process_file(self, path: str) -> None:
        """Single-shot CLI path (processor.py:321-328): copy into
        capture/, then process."""
        dest = os.path.join(self.capture, os.path.basename(path))
        if os.path.abspath(path) != os.path.abspath(dest):
            shutil.copy(path, dest)
        self._snapshot.add(os.path.basename(dest))
        self._process(dest)

    # ------------------------------------------------------- processors

    def _process(self, path: str) -> None:
        name = os.path.basename(path)
        if name.endswith(".zip"):
            self._process_zip(path)
        elif name.endswith(".json") and self._is_task_file(path):
            self._run_task_file(path)
        else:
            self._copy_rule(path)

    def _is_task_file(self, path: str) -> bool:
        try:
            return Runner(path).is_task()
        except ValueError:  # malformed JSON → treat as a plain file
            self.log(f"{os.path.basename(path)}: not valid JSON, copying as-is")
            return False

    def _copy_rule(self, path: str) -> None:
        """Non-task files: .py → module/, others → input/
        (processor.py:199-226)."""
        dest_dir = self.module_path if path.endswith(".py") else self.input_path
        shutil.move(path, os.path.join(dest_dir, os.path.basename(path)))

    def _process_zip(self, path: str) -> None:
        """Zip package intake (processor.py:265-295): extract, apply
        copy rules to non-task members, run contained task files."""
        tmp = path + ".extract"
        os.makedirs(tmp, exist_ok=True)
        try:
            with zipfile.ZipFile(path) as zf:
                zf.extractall(tmp)
            task_files = []
            for root, _dirs, files in os.walk(tmp):
                for fn in sorted(files):
                    p = os.path.join(root, fn)
                    if fn.endswith(".json") and Runner(p).is_task():
                        task_files.append(p)
                    else:
                        self._copy_rule(p)
            for p in task_files:
                self._run_task_file(p)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            os.remove(path)

    def _run_task_file(self, path: str) -> None:
        key = os.path.splitext(os.path.basename(path))[0]
        try:
            runner = Runner(path)
            if runner.has_schedule():
                self.scheduler.enqueue(
                    runner.schedule, lambda: self._fire(key, runner)
                )
                self.log(f"{key}: scheduled {runner.schedule}")
            else:
                self._execute(key, runner)
        finally:
            # task files are consumed (processor.py:186); a recurring
            # one lives on as its parsed Runner in the scheduler
            if os.path.exists(path):
                os.remove(path)

    def _execute(self, key: str, runner: Runner, once: bool = False) -> None:
        from dasladen_spark.runner.tasklog import TaskLog

        # per-task-file log (ref log.py:16-27, base.py:43-48):
        # one timestamped file per task key, console mirrored
        with TaskLog(
            key, self.log_dir, to_file=self.file_log, console=self.log
        ) as tlog:
            tr = TaskRunner(
                self.spark,
                runner,
                input_path=self.input_path,
                output_path=self.output_path,
                module_path=self.module_path,
                log=tlog,
            )
            if once:
                tr.run()
            else:
                tr.run_with_schedule()

    def _fire(self, key: str, runner: Runner) -> None:
        """One scheduled run (processor.py:40-51). A failure is logged,
        not raised: the job keeps its schedule and the poll loop
        lives."""
        try:
            self._execute(key, runner, once=True)
        except Exception as ex:  # noqa: BLE001
            self.log(f"error running {key}: {type(ex).__name__}: {ex}")
