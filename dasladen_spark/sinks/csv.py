"""CSV sink — parity with tocsv/appendcsv
(/root/reference/dasladen/task.py:199-202): truncate writes
header+rows to ONE file; append extends the same file WITHOUT a
header.

Two modes:
- single_file=True (default, reference parity): coalesce(1) into a
  temp dir, then move/concatenate into the target path. Right for
  operational exports; documented as non-scalable.
- single_file=False (scale mode): a normal partitioned
  `df.write.csv` directory — what a 100 TB result actually needs.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
from typing import Callable

from pyspark.sql import DataFrame


def _spark_csv_options(delimiter: str, encoding: str, header: bool) -> dict:
    return {
        "header": str(header).lower(),
        "sep": delimiter,
        "encoding": encoding,
        "emptyValue": "",
    }


def write_csv(
    df: DataFrame,
    path: str,
    delimiter: str = ";",
    encoding: str = "utf-8",
    truncate: bool = True,
    single_file: bool = True,
    keep: Callable[[], bool] | None = None,
) -> None:
    """Write ``df`` to ``path``. In single-file mode ``keep``, when
    given, is asked after the Spark job and before the file moves into
    place; if it returns False the output is discarded and ``path``
    is left untouched."""
    if not single_file:
        (
            df.write.mode("overwrite" if truncate else "append")
            .options(**_spark_csv_options(delimiter, encoding, truncate))
            .csv(path)
        )
        return

    tmp = tempfile.mkdtemp(prefix="dasladen_csv_")
    try:
        # header only on truncate — append parity (task.py:202)
        (
            df.coalesce(1)
            .write.mode("overwrite")
            .options(**_spark_csv_options(delimiter, encoding, truncate))
            .csv(tmp)
        )
        if keep is not None and not keep():
            return
        parts = sorted(glob.glob(os.path.join(tmp, "part-*")))
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
        if truncate or not os.path.exists(path):
            if parts:
                shutil.move(parts[0], path)
            else:  # empty result still writes the header on truncate
                with open(path, "w", encoding=encoding) as f:
                    f.write(delimiter.join(df.columns) + "\n")
        else:
            with open(path, "ab") as out:
                for p in parts:
                    with open(p, "rb") as src:
                        shutil.copyfileobj(src, out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
