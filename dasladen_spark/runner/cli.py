"""CLI entry point — parity with the reference's surface
(/root/reference/dasladen/base.py:28-77): `-task`, `-capture`,
`-watch-time`, `--verbose`, `--no-init`, plus folder bootstrap and
the watch loop. `python -m dasladen_spark.runner.cli ...`
"""

from __future__ import annotations

import argparse
import os
import sys
import time

from dasladen_spark.session import get_spark


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="dasladen-spark")
    ap.add_argument("-task", dest="task", help="run one task file and exit")
    ap.add_argument("-capture", dest="capture", default="capture")
    ap.add_argument("-watch-time", dest="watch_time", type=int, default=10)
    ap.add_argument("--verbose", action="store_true")
    ap.add_argument("--no-init", action="store_true", help="skip folder creation")
    ap.add_argument(
        "--no-log",
        dest="no_log",
        action="store_true",
        help="disable per-task log files (ref base.py:34)",
    )
    args = ap.parse_args(argv)

    spark = get_spark("dasladen-spark-runner")
    if not args.verbose:
        spark.sparkContext.setLogLevel("ERROR")

    from dasladen_spark.runner.watcher import Watcher

    base = os.path.dirname(os.path.abspath(args.capture)) or "."
    watcher = Watcher(
        spark,
        capture_path=args.capture,
        input_path=os.path.join(base, "input"),
        output_path=os.path.join(base, "output"),
        module_path=os.path.join(base, "module"),
        log_dir=os.path.join(base, "log"),
        file_log=not args.no_log,
    )
    sys.path.append(watcher.module_path)  # user transforms (base.py:55)

    if args.task:
        watcher.process_file(args.task)
        try:
            # a recurring task file was enqueued, not run: keep firing
            # it until its job cancels (one_shot) or Ctrl-C
            while watcher.scheduler.jobs:
                watcher.scheduler.run_pending()
                time.sleep(args.watch_time)
        except KeyboardInterrupt:
            pass
        return 0

    # startup autorun (base.py:65-66)
    start_zip = os.path.join(base, "start.zip")
    if os.path.exists(start_zip):
        watcher.process_file(start_zip)

    try:
        while True:  # watch loop (base.py:69-77)
            watcher.check()
            time.sleep(args.watch_time)
    except KeyboardInterrupt:
        return 0


if __name__ == "__main__":
    raise SystemExit(main())
