"""processingTime streaming probe (round-11 verdict ask 7).

STREAMBENCH covers availableNow drains; this probe runs the custom
stateful maintainers (EWMA / CUSUM / P² in streaming/stateful.py)
under a processingTime trigger against a rate source for ≥50
micro-batches each, recording per-batch trigger latency and the state
store's row count + memory from StreamingQueryProgress. The
bounded-state claim, measured: state rows pin at the key count and
memory stays flat while the processed-event history grows ~50×;
latency's tail/steady ratio stays ~1.

Usage: python tools/stream_state_probe.py [out_json]
Env: PROBE_BATCHES (default 55), PROBE_KEYS (default 200).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_BATCHES = int(os.environ.get("PROBE_BATCHES", "55"))
N_KEYS = int(os.environ.get("PROBE_KEYS", "200"))
TRIGGER = "250 milliseconds"
ROWS_PER_SEC = 20_000


def _rate_events(spark):
    from pyspark.sql import functions as F

    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", ROWS_PER_SEC)
        .load()
        .select(
            (F.col("value") % N_KEYS).alias("user_id"),
            F.col("timestamp").alias("ts"),
            F.col("value").alias("event_id"),
            # deterministic pseudo-measurement in [0, 100)
            (
                F.pmod(F.col("value") * F.lit(2654435761), F.lit(1000))
                / 10.0
            ).alias("value"),
        )
    )


def probe(spark, name: str, make_stream, work: str) -> dict:
    q = (
        make_stream(_rate_events(spark))
        .writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", os.path.join(work, f"ck_{name}"))
        .trigger(processingTime=TRIGGER)
        .start()
    )
    deadline = time.time() + 180
    try:
        while time.time() < deadline:
            lp = q.lastProgress
            if lp and lp["batchId"] >= N_BATCHES:
                break
            time.sleep(0.5)
        progresses = [json.loads(p.json) for p in q.recentProgress]
    finally:
        q.stop()
    batches = []
    for p in progresses:
        ops = p.get("stateOperators") or []
        if not ops or p.get("numInputRows", 0) == 0:
            continue
        batches.append(
            {
                "batch": p["batchId"],
                "rows": p["numInputRows"],
                "trigger_ms": p["durationMs"].get("triggerExecution"),
                "state_rows": ops[0]["numRowsTotal"],
                "state_mem_bytes": ops[0]["memoryUsedBytes"],
            }
        )
    batches.sort(key=lambda b: b["batch"])
    # steady = batches 5..10 (past bootstrap), tail = last 5
    steady = batches[5:10]
    tail = batches[-5:]
    med = lambda xs: sorted(xs)[len(xs) // 2]  # noqa: E731
    rec = {
        "maintainer": name,
        "n_batches": len(batches),
        "total_rows": sum(b["rows"] for b in batches),
        "keys": N_KEYS,
        "state_rows_steady": med([b["state_rows"] for b in steady]),
        "state_rows_tail": med([b["state_rows"] for b in tail]),
        "state_mem_steady": med([b["state_mem_bytes"] for b in steady]),
        "state_mem_tail": med([b["state_mem_bytes"] for b in tail]),
        "latency_ms_steady": med([b["trigger_ms"] for b in steady]),
        "latency_ms_tail": med([b["trigger_ms"] for b in tail]),
        "batches": batches,
    }
    rec["latency_growth"] = round(
        rec["latency_ms_tail"] / max(rec["latency_ms_steady"], 1), 2
    )
    rec["state_mem_growth"] = round(
        rec["state_mem_tail"] / max(rec["state_mem_steady"], 1), 2
    )
    print(
        f"# {name}: {rec['n_batches']} batches, state rows "
        f"{rec['state_rows_steady']}->{rec['state_rows_tail']}, mem "
        f"{rec['state_mem_steady']}->{rec['state_mem_tail']}, latency "
        f"{rec['latency_ms_steady']}->{rec['latency_ms_tail']}ms",
        file=sys.stderr,
    )
    return rec


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "history/STREAMSTATE_r11.json"
    from dasladen_spark.session import get_spark
    from dasladen_spark.streaming.stateful import (
        cusum_by_key,
        ewma_by_key,
        p2_quantile_by_key,
    )

    spark = get_spark("stream-state-probe")
    spark.sparkContext.setLogLevel("ERROR")
    # fewer state-store partitions -> sane per-trigger commit cost at
    # a 250 ms cadence (the claim under test is flatness, and state
    # rows/memory are per-query totals either way)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    work = tempfile.mkdtemp(prefix="stream_state_probe_")
    try:
        results = [
            probe(spark, "ewma_by_key", lambda s: ewma_by_key(s, 0.2), work),
            probe(
                spark,
                "cusum_by_key",
                lambda s: cusum_by_key(s, slack=50.0, threshold=1e12),
                work,
            ),
            probe(
                spark,
                "p2_quantile_by_key",
                lambda s: p2_quantile_by_key(s, 0.95),
                work,
            ),
        ]
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    record = {
        "trigger": TRIGGER,
        "rows_per_sec": ROWS_PER_SEC,
        "keys": N_KEYS,
        "results": results,
        "max_latency_growth": max(r["latency_growth"] for r in results),
        "max_state_mem_growth": max(r["state_mem_growth"] for r in results),
    }
    with open(out_path, "w") as fh:
        json.dump(record, fh, indent=1)
    print(
        json.dumps(
            {
                "max_latency_growth": record["max_latency_growth"],
                "max_state_mem_growth": record["max_state_mem_growth"],
            }
        )
    )


if __name__ == "__main__":
    main()
