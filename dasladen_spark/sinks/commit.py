"""The one commit path of the file sinks: write beside the target,
swap it in on success.

A write lands in a stage, a hidden sibling of its target (the name
starts with ``.``, so Spark's listing of the parent folder skips it).
Only a finished write replaces the target; a failed one leaves the
target as it was and its stage deleted. Renames go through Hadoop's
``FileSystem`` for the target's path, so the same code serves local
folders and any other scheme a task folder names.

Every file sink and every streaming snapshot (streaming/matview)
commits this way. A snapshot carries its applied-batch marker inside
the committed folder, so data and marker move in the same rename.

JDBC and catalog tables are not staged: a JDBC truncate runs before
its job, and a catalog table is replaced through the catalog.
"""

from __future__ import annotations

import re
import uuid
from contextlib import contextmanager
from typing import Callable

from pyspark.sql import SparkSession


def _sibling(spark: SparkSession, target, role: str):
    """A fresh hidden sibling of the Hadoop path ``target``."""
    return spark._jvm.org.apache.hadoop.fs.Path(
        target.getParent(), f".{target.getName()}.{role}-{uuid.uuid4().hex}"
    )


def rename(fs, src, dst) -> None:
    """Rename the Hadoop path ``src`` to ``dst`` on ``fs``, or raise."""
    if not fs.rename(src, dst):
        raise OSError(f"cannot rename {src.toString()} to {dst.toString()}")


def recover(spark: SparkSession, path: str) -> None:
    """Finish what a killed swap of ``path`` left behind: when the
    target is missing, rename its parked ``.old-`` sibling back, then
    delete every other hidden stage or old sibling of it. Assumes one
    writer per target: a concurrent writer's stage would be deleted."""
    target = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = target.getFileSystem(spark._jsc.hadoopConfiguration())
    name = target.getName()
    # the name comes from a task file, so escape the glob's own syntax
    pattern = spark._jvm.org.apache.hadoop.fs.Path(
        target.getParent(),
        "." + re.sub(r"([\\{}\[\]*?,])", r"\\\1", name) + ".{old,stage}-*",
    )
    siblings = [st.getPath() for st in fs.globStatus(pattern) or []]
    parked = [p for p in siblings if p.getName().startswith(f".{name}.old-")]
    if parked and not fs.exists(target):
        rename(fs, parked[0], target)  # a swap killed between its renames
    for p in siblings:  # the one renamed back is no longer there
        fs.delete(p, True)


@contextmanager
def staged(spark: SparkSession, path: str):
    """Yield ``(fs, target, stage)``: the Hadoop file system of
    ``path``, ``path`` and a fresh stage beside it, as Hadoop paths.
    The stage is deleted on every exit."""
    target = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = target.getFileSystem(spark._jsc.hadoopConfiguration())
    stage = _sibling(spark, target, "stage")
    try:
        yield fs, target, stage
    finally:
        fs.delete(stage, True)


def replace_dir(
    spark: SparkSession,
    path: str,
    write: Callable[[str], None],
    keep: Callable[[], bool] | None = None,
) -> bool:
    """Replace ``path`` with what ``write(stage)`` writes into a stage
    beside it. ``keep``, when given, is asked after the write; a False
    answer drops the stage and leaves ``path`` untouched. Returns
    whether ``path`` was replaced.

    The old target is parked beside the stage while the stage is
    renamed into place, then deleted; if that rename fails, the old
    target is renamed back first. A process killed anywhere in the
    swap leaves siblings that the next ``replace_dir`` of the same
    path puts right first (``recover``), as long as one writer at a
    time replaces ``path``."""
    recover(spark, path)
    with staged(spark, path) as (fs, target, stage):
        write(stage.toString())
        if keep is not None and not keep():
            return False
        old = _sibling(spark, target, "old")
        if fs.exists(target):
            rename(fs, target, old)
        try:
            rename(fs, stage, target)
        except BaseException:
            if fs.exists(old):
                rename(fs, old, target)
            raise
        fs.delete(old, True)
    # as Spark's own overwrite does: cached plans over path re-read it
    spark.catalog.refreshByPath(path)
    return True
