"""Adversarial-skew probe: do the hub caps and salting actually bound
straggler tasks on data BUILT to be hostile?

The planted-fixture tests prove correctness of `max_df` / star-cap /
salted-join logic; this probe measures the thing those devices exist
for — per-task time balance under adversarial key distributions:

- a corpus where ONE 8-token boilerplate shingle appears in 50% of
  documents (the mega-bucket that makes naive LSH/seed joins
  quadratic in half the corpus), plus a planted near-dup pair so the
  operators still have honest work;
- a join where ONE key owns 30% of the big side's rows (the Zipf head
  that pins an unsalted shuffle partition on one core).

For each operator it runs the real code at probe scale, pulls
per-task executorRunTime quantiles from Spark's status REST API, and
reports the WORST max/median ratio over substantive stages (>= 8
tasks, median >= 30 ms — tiny stages are scheduling noise). An
unsalted copy of the skewed join runs as the control: the probe must
show salting beating it. Output: history/PROBE_skew_r10.json.

Usage: python tools/skew_probe.py [out_json]
"""

from __future__ import annotations

import json
import os
import random
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_DOCS = 20_000
HUB_DOC_FRACTION = 0.5  # docs carrying the boilerplate shingle
N_BIG = 2_000_000
N_KEYS = 1_000
HOT_KEY_FRACTION = 0.3  # big-side rows owned by one key
UI_PORT = 4057
MIN_TASKS = 8
MIN_MEDIAN_MS = 30.0


def build_session():
    from dasladen_spark.session import get_spark

    spark = get_spark(
        "skew-probe",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": str(UI_PORT),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def build_doc_fixture(spark, path: str) -> None:
    """20k docs; half embed the SAME 8-token boilerplate run inside
    otherwise-distinct text (the mega-bucket); a handful of true
    near-dup pairs planted so the operators produce real output."""
    rng = random.Random(20261016)
    vocab = [f"w{i}" for i in range(5000)]
    hub = "alpha beta gamma delta epsilon zeta eta theta"
    rows = []
    for i in range(N_DOCS):
        body = " ".join(rng.choice(vocab) for _ in range(60))
        if i % int(1 / HUB_DOC_FRACTION) == 0:
            words = body.split()
            cut = rng.randrange(10, 50)
            body = " ".join(words[:cut]) + f" {hub} " + " ".join(words[cut:])
        rows.append((i, body))
    # planted near-dups: 50 pairs of 95%-identical docs
    for j in range(50):
        base = " ".join(rng.choice(vocab) for _ in range(60))
        rows.append((N_DOCS + 2 * j, base + " tail one"))
        rows.append((N_DOCS + 2 * j + 1, base + " tail two"))
    spark.createDataFrame(rows, "doc_id long, text string").repartition(
        32
    ).write.mode("overwrite").parquet(path)


def build_join_fixture(spark, big_path: str, small_path: str) -> None:
    """Big side: 2M rows, key 0 owns 30%; the rest Zipf-ish over 1k
    keys. Small side: one row per key."""
    from pyspark.sql import functions as F

    hot = int(N_BIG * HOT_KEY_FRACTION)
    big = spark.range(N_BIG, numPartitions=32).select(
        F.when(F.col("id") < hot, F.lit(0))
        .otherwise(
            # Zipf-ish tail: low keys still heavier than high keys
            (
                F.pow(
                    F.pmod(F.xxhash64("id"), F.lit(1_000_000))
                    / F.lit(1_000_000.0),
                    F.lit(2.0),
                )
                * F.lit(N_KEYS - 1)
            ).cast("long")
            + F.lit(1)
        )
        .alias("k"),
        (F.col("id") % 97).alias("v"),
    )
    big.write.mode("overwrite").parquet(big_path)
    spark.range(N_KEYS).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("dim_v")
    ).write.mode("overwrite").parquet(small_path)


def stage_summaries(app_id: str, stage_ids: set[int]) -> list[dict]:
    out = []
    base = f"http://localhost:{UI_PORT}/api/v1/applications/{app_id}"
    for sid in sorted(stage_ids):
        try:
            with urllib.request.urlopen(f"{base}/stages/{sid}") as r:
                attempts = json.load(r)
        except Exception:
            continue
        for att in attempts:
            if att.get("status") != "COMPLETE":
                continue
            n = att.get("numCompleteTasks", 0)
            if n < MIN_TASKS:
                continue
            q = f"{base}/stages/{sid}/{att['attemptId']}/taskSummary?quantiles=0.5,1.0"
            try:
                with urllib.request.urlopen(q) as r:
                    summ = json.load(r)
            except Exception:
                continue
            med, mx = summ["executorRunTime"]
            if med < MIN_MEDIAN_MS:
                continue
            out.append(
                {
                    "stage": sid,
                    "tasks": n,
                    "median_ms": round(med, 1),
                    "max_ms": round(mx, 1),
                    "ratio": round(mx / max(med, 1e-9), 2),
                }
            )
    return out


def probe(spark, name: str, fn) -> dict:
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    t0 = time.time()
    n_rows = fn()
    wall = time.time() - t0
    stage_ids: set[int] = set()
    for jid in set(tracker.getJobIdsForGroup()) - before:
        ji = tracker.getJobInfo(jid)
        if ji:
            stage_ids |= set(ji.stageIds)
    stages = stage_summaries(sc.applicationId, stage_ids)
    worst = max(stages, key=lambda s: s["ratio"], default=None)
    rec = {
        "op": name,
        "rows_out": n_rows,
        "wall_s": round(wall, 2),
        "n_stages_measured": len(stages),
        "worst": worst,
        "stages": sorted(stages, key=lambda s: -s["ratio"])[:5],
    }
    print(
        f"# {name}: {n_rows} rows, {wall:.1f}s, worst ratio "
        f"{worst['ratio'] if worst else 'n/a'}",
        file=sys.stderr,
    )
    return rec


def main() -> None:
    import tempfile

    from pyspark.sql import functions as F

    out_path = sys.argv[1] if len(sys.argv) > 1 else "history/PROBE_skew_r10.json"
    spark = build_session()
    work = tempfile.mkdtemp(prefix="skew_probe_")
    docs_path = os.path.join(work, "docs.parquet")
    big_path = os.path.join(work, "big.parquet")
    small_path = os.path.join(work, "small.parquet")
    build_doc_fixture(spark, docs_path)
    build_join_fixture(spark, big_path, small_path)
    docs = spark.read.parquet(docs_path)
    big = spark.read.parquet(big_path)
    small = spark.read.parquet(small_path)

    from dasladen_spark.operators.dedup import (
        duplicated_spans,
        minhash_lsh_pairs,
        winnowing_pairs,
    )
    from dasladen_spark.operators.skew import salted_join

    results = []
    results.append(
        probe(
            spark,
            "dedup_minhash_lsh",
            lambda: minhash_lsh_pairs(docs, "text", "doc_id").count(),
        )
    )
    results.append(
        probe(
            spark,
            "dedup_winnowing",
            lambda: winnowing_pairs(docs).count(),
        )
    )
    results.append(
        probe(
            spark,
            "dedup_duplicate_spans",
            lambda: duplicated_spans(docs).count(),
        )
    )
    # the salted join vs the unsalted control on the SAME hot-key data
    # (sort-merge forced on the control: an auto-broadcast dim hides
    # the skew the probe exists to measure)
    results.append(
        probe(
            spark,
            "join_salted",
            lambda: salted_join(big, small, "k", salt=32)
            .groupBy("k")
            .agg(F.sum(F.col("v") + F.col("dim_v")).alias("s"))
            .count(),
        )
    )
    results.append(
        probe(
            spark,
            "join_unsalted_control",
            lambda: big.join(small.hint("merge"), "k")
            .groupBy("k")
            .agg(F.sum(F.col("v") + F.col("dim_v")).alias("s"))
            .count(),
        )
    )

    # same control with AQE's skew-join splitting OFF: what the
    # salting device buys on engines/paths where the runtime cannot
    # re-plan (AQE splitting already bounds the plain case above —
    # itself a probe finding worth recording)
    def _no_aqe_control():
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        try:
            return (
                big.join(small.hint("merge"), "k")
                .groupBy("k")
                .agg(F.sum(F.col("v") + F.col("dim_v")).alias("s"))
                .count()
            )
        finally:
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")

    results.append(
        probe(spark, "join_unsalted_no_aqe_skew", _no_aqe_control)
    )

    record = {
        "fixture": {
            "n_docs": N_DOCS,
            "hub_doc_fraction": HUB_DOC_FRACTION,
            "n_big_rows": N_BIG,
            "hot_key_fraction": HOT_KEY_FRACTION,
        },
        "thresholds": {
            "min_tasks": MIN_TASKS,
            "min_median_ms": MIN_MEDIAN_MS,
        },
        "results": results,
        "max_operator_ratio": max(
            (r["worst"]["ratio"] for r in results[:4] if r["worst"]),
            default=None,
        ),
    }
    with open(out_path, "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps({k: record[k] for k in ("max_operator_ratio",)}))


if __name__ == "__main__":
    main()
