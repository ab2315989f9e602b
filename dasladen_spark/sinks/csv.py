"""CSV sink — parity with tocsv/appendcsv
(/root/reference/dasladen/task.py:199-202): truncate writes
header+rows to ONE file; append extends the same file WITHOUT a
header.

Two modes:
- single_file=True (default, reference parity): coalesce(1) into a
  stage beside the target (sinks/commit), then rename or append the
  part file onto the target path. Right for operational exports;
  documented as non-scalable.
- single_file=False (scale mode): a normal partitioned
  `df.write.csv` directory — what a 100 TB result actually needs.
  Truncate replaces the directory through sinks/commit; append moves
  the stage's part files into it.
"""

from __future__ import annotations

import glob
import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame

from dasladen_spark.sinks.commit import rename, replace_dir, staged


def write_csv(
    df: DataFrame,
    path: str,
    delimiter: str = ";",
    encoding: str = "utf-8",
    truncate: bool = True,
    single_file: bool = True,
    keep: Callable[[], bool] | None = None,
) -> None:
    """Write ``df`` to ``path`` through a stage beside it. ``keep``,
    when given, is asked after the Spark job and before the output
    moves into place; if it returns False the output is discarded and
    ``path`` is left untouched."""
    # header only on truncate — append parity (task.py:202)
    options = dict(
        header=str(truncate).lower(), sep=delimiter, encoding=encoding, emptyValue=""
    )

    def write(stage: str) -> None:
        (df.coalesce(1) if single_file else df).write.options(**options).csv(stage)

    if not single_file and truncate:
        replace_dir(df.sparkSession, path, write, keep)
        return
    with staged(df.sparkSession, path) as (fs, target, stage):
        write(stage.toString())
        if keep is not None and not keep():
            return
        if not single_file:
            Path = df.sparkSession._jvm.org.apache.hadoop.fs.Path
            fs.mkdirs(target)
            for part in fs.globStatus(Path(stage, "part-*")):
                rename(fs, part.getPath(), Path(target, part.getPath().getName()))
            return
        # one task, one part file, with the header even when empty
        (part,) = glob.glob(os.path.join(stage.toString(), "part-*"))
        if truncate or not os.path.exists(path):
            os.replace(part, path)
        else:
            with open(path, "ab") as out, open(part, "rb") as src:
                shutil.copyfileobj(src, out)
