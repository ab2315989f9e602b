"""Streaming-maintainer throughput bench: rows/s and per-batch
latency across N availableNow micro-batches.

The scale claim of every streaming maintainer in this repo is
CONSTANT per-batch cost: the fingerprint index anti-join never
shuffles the history side, the matview/sketch merges touch only the
batch's key set, the intake gate is a stateless projection. This
bench measures that claim directly — N successive drops of B fresh
documents each, one availableNow drain per drop, wall-clock per
batch — while the accumulated state (index postings, snapshot rows,
accepted corpus) grows N-fold. A maintainer whose batch cost tracked
HISTORY size would show monotonic per-batch growth here; flat batch
times are the 100 TB evidence.

growth_ratio = mean(last two batch walls) / mean(batches 2..3)
(batch 1 is excluded everywhere — it pays stream/plan bootstrap).

Usage: python tools/stream_bench.py [out_json]   (history/STREAMBENCH_r10.json)
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_BATCHES = 6
BATCH_ROWS = 10_000


def _docs_batch(k: int) -> list[dict]:
    rng = random.Random(1000 + k)
    vocab = [f"w{i}" for i in range(4000)]
    base = k * BATCH_ROWS
    return [
        {
            "doc_id": base + i,
            "text": " ".join(rng.choice(vocab) for _ in range(40)),
            "lang": "en",
            "source": f"s{i % 5}",
        }
        for i in range(BATCH_ROWS)
    ]


def _drop(folder: str, k: int) -> None:
    with open(os.path.join(folder, f"b{k}.jsonl"), "w") as fh:
        for r in _docs_batch(k):
            fh.write(json.dumps(r) + "\n")


def bench_maintainer(spark, name: str, run_batch) -> dict:
    walls = []
    for k in range(N_BATCHES):
        t0 = time.time()
        run_batch(k)
        walls.append(round(time.time() - t0, 3))
    steady = sum(walls[1:3]) / len(walls[1:3])
    tail = sum(walls[-2:]) / len(walls[-2:])
    rec = {
        "maintainer": name,
        "batches": N_BATCHES,
        "rows_per_batch": BATCH_ROWS,
        "batch_wall_s": walls,
        "rows_per_s_steady": round(BATCH_ROWS / steady, 0),
        "growth_ratio": round(tail / steady, 2),
    }
    print(
        f"# {name}: walls {walls} growth {rec['growth_ratio']}"
        f" ({rec['rows_per_s_steady']:.0f} rows/s)",
        file=sys.stderr,
    )
    return rec


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "history/STREAMBENCH_r10.json"
    from dasladen_spark.session import get_spark
    from dasladen_spark.streaming.intake import (
        run_quality_gate,
        stream_document_folder,
    )

    spark = get_spark("stream-bench")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="stream_bench_")
    results = []

    # 1. intake quality gate — stateless projection + routed writes
    d1 = os.path.join(work, "drops1")
    os.makedirs(d1)

    def intake_batch(k: int) -> None:
        _drop(d1, k)
        q = run_quality_gate(
            stream_document_folder(spark, d1),
            os.path.join(work, "accept1"),
            os.path.join(work, "quarantine1"),
            os.path.join(work, "ck1"),
        )
        q.awaitTermination()

    results.append(bench_maintainer(spark, "intake_quality_gate", intake_batch))

    # 2. fingerprint-dedup intake — the index grows by ~B novel docs
    # per batch; the anti-join must stay O(batch) (bucketed history,
    # zero history-side shuffle)
    from dasladen_spark.operators.fingerprint_index import (
        build_fingerprint_index,
    )
    from dasladen_spark.streaming.indexsync import run_streaming_dedup_intake

    spark.sql("DROP TABLE IF EXISTS t_streambench_fpidx")
    spark.sql("DROP TABLE IF EXISTS t_streambench_fpidx_meta")
    build_fingerprint_index(
        spark.createDataFrame([], "text STRING"),
        "t_streambench_fpidx",
        tag="stream-bench",
    )
    d2 = os.path.join(work, "drops2")
    os.makedirs(d2)

    def dedup_batch(k: int) -> None:
        _drop(d2, k)
        q = run_streaming_dedup_intake(
            stream_document_folder(spark, d2),
            "t_streambench_fpidx",
            os.path.join(work, "accept2"),
            os.path.join(work, "ck2"),
        )
        q.awaitTermination()

    results.append(bench_maintainer(spark, "dedup_intake_exact", dedup_batch))

    # 3. HLL sketch maintainer — snapshot merge touches the batch's
    # key set only
    from dasladen_spark.streaming.sketchsync import run_streaming_hll_sketch

    d3 = os.path.join(work, "drops3")
    os.makedirs(d3)

    def hll_batch(k: int) -> None:
        _drop(d3, k)
        run_streaming_hll_sketch(
            stream_document_folder(spark, d3),
            os.path.join(work, "hll_snap"),
            os.path.join(work, "ck3"),
            ["source"],
            "doc_id",
        )

    results.append(bench_maintainer(spark, "hll_sketch_sync", hll_batch))

    # 4. incremental matview — per-source counts/sums snapshot
    from pyspark.sql import functions as F  # noqa: F401

    from dasladen_spark.streaming.matview import run_incremental_matview

    d4 = os.path.join(work, "drops4")
    os.makedirs(d4)

    def matview_batch(k: int) -> None:
        _drop(d4, k)
        run_incremental_matview(
            stream_document_folder(spark, d4),
            os.path.join(work, "mv_snap"),
            os.path.join(work, "ck4"),
            "source",
            {"n_docs": "count(1)", "n_chars": "sum(length(text))"},
        )

    results.append(bench_maintainer(spark, "incremental_matview", matview_batch))

    record = {
        "n_batches": N_BATCHES,
        "rows_per_batch": BATCH_ROWS,
        "results": results,
        "max_growth_ratio": max(r["growth_ratio"] for r in results),
    }
    with open(out_path, "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps({"max_growth_ratio": record["max_growth_ratio"]}))
    shutil.rmtree(work, ignore_errors=True)
    for t in ("t_streambench_fpidx", "t_streambench_fpidx_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


if __name__ == "__main__":
    main()
