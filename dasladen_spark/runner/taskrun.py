"""JSON task-file runner — parity with taskrun.py + the schedule
quirk fixes (SURVEY §4.3-4.5).

A task file is {"connections": [...], "schedule": {...}, "tasks":
[...]} (/root/reference/dasladen/taskrun.py:42-51); it is recognized
purely by the presence of a "tasks" key (taskrun.py:32-39). Tasks run
sequentially; `disabled: true` routes to nop (taskrun.py:70-72).
"""

from __future__ import annotations

import json
import time

from pyspark.sql import SparkSession

from dasladen_spark.connections import ConnectionRegistry
from dasladen_spark.tasks import TASK_TYPES, TaskContext


def parse_to_int(value, default: int = 0) -> int:
    """Accept both JSON numbers AND strings — the reference returns 0
    for real numbers (processor.py:189-196, a py2 basestring bug);
    fixed here."""
    try:
        return int(value)
    except (TypeError, ValueError):
        return default


#: the task spec keys whose ``connection`` a task may name
_CONNECTION_KEYS = ("source", "target", "bench", "train", "queries")


class Runner:
    """Wraps one parsed task file (taskrun.py:22-55)."""

    def __init__(self, path_or_config: str | dict):
        if isinstance(path_or_config, dict):
            self.config = path_or_config
        else:
            with open(path_or_config, encoding="utf-8") as f:
                self.config = json.load(f)

    def is_task(self) -> bool:
        return isinstance(self.config, dict) and "tasks" in self.config

    def has_schedule(self) -> bool:
        sched = self.config.get("schedule") or {}
        return bool(sched.get("recurring"))

    @property
    def schedule(self) -> dict:
        return self.config.get("schedule") or {}


class TaskRunner:
    """Runs a task file's tasks sequentially (taskrun.py:64-76)."""

    def __init__(
        self,
        spark: SparkSession,
        runner: Runner,
        input_path: str = "input",
        output_path: str = "output",
        module_path: str = "module",
        log=print,
    ):
        self.spark = spark
        self.runner = runner
        self.log = log
        self.ctx = TaskContext(
            spark=spark,
            connections=ConnectionRegistry(runner.config.get("connections")),
            input_path=input_path,
            output_path=output_path,
            module_path=module_path,
            log=log,
        )

    def run(self) -> None:
        items = self.runner.config.get("tasks", [])
        kinds = ["nop" if item.get("disabled") else item.get("type") for item in items]
        defined = {c["name"] for c in self.runner.config.get("connections") or []}
        # an unknown task type (reference parity: task.py:599 raises
        # NotImplementedError) or connection name fails loudly — and
        # before the first task runs, so a typo'd pipeline neither
        # skips a stage nor leaves the stages before it written
        for item, task_type in zip(items, kinds):
            if task_type not in TASK_TYPES:
                raise ValueError(
                    f"task {item.get('name')!r}: unknown type"
                    f" {task_type!r}; available:"
                    f" {', '.join(sorted(TASK_TYPES))}"
                )
            for key in () if task_type == "nop" else _CONNECTION_KEYS:
                name = (item.get(key) or {}).get("connection")
                if name is not None and name not in defined:
                    raise ValueError(
                        f"task {item.get('name')!r}: {key} names unknown"
                        f" connection {name!r}"
                    )
        for item, task_type in zip(items, kinds):
            fn = TASK_TYPES[task_type]
            t0 = time.time()
            label = f"task {item.get('name')} ({task_type})"
            self.log(f"{label}: start")
            try:
                fn(self.ctx, item)
            except Exception as ex:
                # recorded in the per-task-file log before the caller
                # (the Watcher's console line) sees it
                self.log(
                    f"{label}: failed after {time.time() - t0:.2f}s:"
                    f" {type(ex).__name__}: {ex}"
                )
                raise
            self.log(f"{label}: done in {time.time() - t0:.2f}s")

    def run_with_schedule(self) -> None:
        """times / infinity loop semantics (processor.py:154-169);
        `times` works as int OR string (quirk §4.4 fixed)."""
        sched = self.runner.schedule
        times = parse_to_int(sched.get("times"), default=1)
        if sched.get("infinity"):
            while True:  # pragma: no cover - explicit infinite mode
                self.run()
        for _ in range(max(times, 1)):
            self.run()
