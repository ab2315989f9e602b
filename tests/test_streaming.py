"""Structured Streaming ingestion: availableNow drain of a CSV drop
folder with transforms, and watermarked windowed aggregation."""

import datetime as dt

import pytest

from pyspark.sql import functions as F

from dasladen_spark.streaming.ingest import (
    run_available_now,
    stream_csv_folder,
    windowed_event_counts,
)


def test_stream_csv_folder_available_now(spark, tmp_path):
    src = tmp_path / "drops"
    src.mkdir()
    (src / "a.csv").write_text("id;qty\n1;10\n2;3\n")
    (src / "b.csv").write_text("id;qty\n3;50\n")
    stream = stream_csv_folder(
        spark,
        str(src),
        schema="id STRING, qty STRING",
        transform={"convert": [["qty", "int"]], "filter": "{qty} > 5"},
    )
    assert stream.isStreaming
    out = tmp_path / "out"
    run_available_now(stream, str(out), str(tmp_path / "ckpt"))
    rows = spark.read.parquet(str(out)).collect()
    assert {(r["id"], r["qty"]) for r in rows} == {("1", 10), ("3", 50)}

    # exactly-once: a second drain with the same checkpoint adds nothing
    run_available_now(
        stream_csv_folder(spark, str(src), schema="id STRING, qty STRING",
                          transform={"convert": [["qty", "int"]],
                                     "filter": "{qty} > 5"}),
        str(out),
        str(tmp_path / "ckpt"),
    )
    assert spark.read.parquet(str(out)).count() == 2


def test_windowed_event_counts_batch_parity(spark):
    base = dt.datetime(2024, 1, 1, 0, 0)
    rows = [
        (base + dt.timedelta(minutes=m), "click") for m in (1, 2, 11)
    ] + [(base + dt.timedelta(minutes=3), "view")]
    df = spark.createDataFrame(rows, ["ts", "event_type"])
    out = windowed_event_counts(df, window="10 minutes")
    got = {
        (r["win"]["start"].minute, r["event_type"]): r["n_events"]
        for r in out.collect()
    }
    assert got[(0, "click")] == 2
    assert got[(10, "click")] == 1
    assert got[(0, "view")] == 1


def _drain_to_memory(spark, stream, name, output_mode="append"):
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {name}")


def test_sessionized_counts_stream_and_batch(spark, tmp_path):
    from dasladen_spark.streaming.stateful import sessionized_counts

    src = tmp_path / "ev"
    src.mkdir()
    # the 04:00 sentinel (user 99) pushes the watermark past every
    # other session's close so append mode emits them; its own
    # still-open session stays in state — exactly the late-data
    # semantics the operator is for
    (src / "a.csv").write_text(
        "ts;user_id\n"
        "2024-01-01 00:01:00;1\n"
        "2024-01-01 00:05:00;1\n"
        "2024-01-01 02:00:00;1\n"
        "2024-01-01 00:02:00;2\n"
        "2024-01-01 04:00:00;99\n"
    )
    schema = "ts TIMESTAMP, user_id BIGINT"
    stream = spark.readStream.schema(schema).option("sep", ";").option(
        "header", True
    ).csv(str(src))
    got = _drain_to_memory(
        spark, sessionized_counts(stream, gap="30 minutes"), "sess_t"
    )
    rows = {(r["user_id"], r["n_events"]) for r in got.collect()}
    # user 1: two sessions (00:01-00:05 merged, 02:00 separate); user 2: one
    assert rows == {(1, 2), (1, 1), (2, 1)}

    batch = spark.read.schema(schema).option("sep", ";").option("header", True).csv(
        str(src)
    )
    brows = {
        (r["user_id"], r["n_events"])
        for r in sessionized_counts(batch, gap="30 minutes").collect()
    }
    # batch mode has no watermark: the sentinel's session appears too
    assert brows == rows | {(99, 1)}


def test_running_user_stats_accumulates_across_microbatches(spark, tmp_path):
    from dasladen_spark.streaming.stateful import running_user_stats

    src = tmp_path / "vals"
    src.mkdir()
    (src / "b1.csv").write_text("user_id;value\n1;10.0\n1;20.0\n2;5.0\n")
    schema = "user_id BIGINT, value DOUBLE"
    stream = (
        spark.readStream.schema(schema)
        .option("sep", ";")
        .option("header", True)
        .option("maxFilesPerTrigger", 1)
        .csv(str(src))
    )
    emitted: list[tuple] = []

    def sink(batch_df, batch_id):
        emitted.extend(
            (r["user_id"], r["n_events"], r["total_value"], r["max_value"])
            for r in batch_df.collect()
        )

    def drain(s):
        q = (
            running_user_stats(s)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ck1"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain(stream)
    # second file arrives -> state must carry over the first run
    (src / "b2.csv").write_text("user_id;value\n1;30.0\n")
    drain(
        spark.readStream.schema(schema)
        .option("sep", ";")
        .option("header", True)
        .option("maxFilesPerTrigger", 1)
        .csv(str(src))
    )
    latest = {u: (n, t, m) for (u, n, t, m) in emitted}
    assert latest[1] == (3, 60.0, 30.0)
    assert latest[2] == (1, 5.0, 5.0)


def test_running_user_stats_timeout_drops_idle_state(spark, tmp_path):
    """An idle key must EXPIRE: after the processing-time timeout
    elapses, a later micro-batch fires hasTimedOut for it (final row
    emitted, state removed), so a later event for that key restarts
    its counts from zero instead of resuming — the proof that state
    is bounded rather than pinned forever.

    Uses one continuously-running processingTime query: restarting
    with availableNow while timeouts are armed trips a Spark 4.1.2
    planner NPE (PythonSQLMetrics on a session-less plan node), and
    timeouts are a continuous-query feature anyway."""
    import time as _time

    from dasladen_spark.streaming.stateful import running_user_stats

    src = tmp_path / "vals_to"
    src.mkdir()
    schema = "user_id BIGINT, value DOUBLE"
    emitted: list[tuple] = []

    def sink(batch_df, batch_id):
        emitted.extend(
            (r["user_id"], r["n_events"]) for r in batch_df.collect()
        )

    s = (
        spark.readStream.schema(schema)
        .option("sep", ";")
        .option("header", True)
        .csv(str(src))
    )
    q = (
        running_user_stats(s, timeout_ms=500)
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_to"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:

        def wait_for(pred, timeout=60):
            t0 = _time.time()
            while _time.time() - t0 < timeout:
                if pred():
                    return True
                _time.sleep(0.3)
            return False

        (src / "b1.csv").write_text("user_id;value\n1;10.0\n1;20.0\n")
        assert wait_for(lambda: (1, 2) in emitted), emitted

        _time.sleep(2.0)  # let user 1's 500 ms timeout lapse
        # a new batch (any key) gives the engine a trigger to fire
        # the expired key's hasTimedOut path
        (src / "b2.csv").write_text("user_id;value\n2;5.0\n")
        assert wait_for(lambda: (2, 1) in emitted), emitted

        (src / "b3.csv").write_text("user_id;value\n1;30.0\n")
        assert wait_for(
            lambda: (1, 1) in emitted or (1, 3) in emitted
        ), emitted
    finally:
        q.stop()
    # state was removed at timeout: user 1 restarted at 1, not 3
    assert (1, 1) in emitted
    assert (1, 3) not in emitted


def test_streaming_dedup_within_watermark(spark, tmp_path):
    from dasladen_spark.streaming.stateful import streaming_dedup

    src = tmp_path / "dups"
    src.mkdir()
    (src / "a.csv").write_text(
        "ts;event_id\n"
        "2024-01-01 00:01:00;100\n"
        "2024-01-01 00:02:00;100\n"
        "2024-01-01 00:03:00;101\n"
    )
    schema = "ts TIMESTAMP, event_id BIGINT"
    stream = spark.readStream.schema(schema).option("sep", ";").option(
        "header", True
    ).csv(str(src))
    got = _drain_to_memory(
        spark, streaming_dedup(stream, ["event_id"]), "dedup_t"
    )
    assert sorted(r["event_id"] for r in got.collect()) == [100, 101]

    batch = spark.read.schema(schema).option("sep", ";").option("header", True).csv(
        str(src)
    )
    assert streaming_dedup(batch, ["event_id"]).count() == 2


def test_incremental_matview_equals_batch_recompute(spark, tmp_path):
    """Two micro-batches maintained incrementally must equal one
    batch recompute over all the data (sum/count additivity), and the
    sum must stay long-typed (no double drift)."""
    from dasladen_spark.streaming.matview import run_incremental_matview

    src = tmp_path / "inc"
    src.mkdir()
    (src / "b1.csv").write_text("k;v\na;1\na;2\nb;10\n")
    schema = "k STRING, v BIGINT"

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("sep", ";")
            .option("header", True)
            .option("maxFilesPerTrigger", 1)
            .csv(str(src))
        )

    snap = str(tmp_path / "snapshot")
    ck = str(tmp_path / "ck")
    aggs = {"n": "count(1)", "total": "sum(v)"}
    run_incremental_matview(stream(), snap, ck, "k", aggs)
    (src / "b2.csv").write_text("k;v\na;4\nc;100\n")
    run_incremental_matview(stream(), snap, ck, "k", aggs)

    got = {
        r["k"]: (r["n"], r["total"])
        for r in spark.read.parquet(snap).collect()
    }
    batch = (
        spark.read.schema(schema).option("sep", ";").option("header", True)
        .csv(str(src))
        .groupBy("k")
        .agg(F.expr("count(1)").alias("n"), F.expr("sum(v)").alias("total"))
    )
    want = {r["k"]: (r["n"], r["total"]) for r in batch.collect()}
    assert got == want == {"a": (3, 7), "b": (1, 10), "c": (1, 100)}


def test_streaming_upsert_last_write_wins_and_replay_safe(spark, tmp_path):
    """CDC-apply sink: the snapshot holds exactly one row per key with
    the highest version; an intra-batch double-update collapses; a
    REPLAYED batch (marker rolled back, checkpoint cleared) must not
    change the snapshot — the exactly-once guarantee."""
    from dasladen_spark.streaming.matview import run_streaming_upsert

    src = tmp_path / "cdc"
    src.mkdir()
    schema = "k STRING, v STRING, ver BIGINT"

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("sep", ";")
            .option("header", True)
            .option("maxFilesPerTrigger", 1)
            .csv(str(src))
        )

    snap = str(tmp_path / "snap")
    ck = str(tmp_path / "ck_up")
    (src / "b1.csv").write_text("k;v;ver\na;a1;1\na;a2;2\nb;b1;1\n")
    run_streaming_upsert(stream(), snap, ck, "k", "ver")
    got = {r["k"]: (r["v"], r["ver"]) for r in spark.read.parquet(snap).collect()}
    assert got == {"a": ("a2", 2), "b": ("b1", 1)}

    # batch 2: newer a, stale b (must NOT regress b), new c
    (src / "b2.csv").write_text("k;v;ver\na;a3;3\nb;b0;0\nc;c1;1\n")
    run_streaming_upsert(stream(), snap, ck, "k", "ver")
    got = {r["k"]: (r["v"], r["ver"]) for r in spark.read.parquet(snap).collect()}
    assert got == {"a": ("a3", 3), "b": ("b1", 1), "c": ("c1", 1)}

    # simulate a crash-replay: clear the checkpoint so the engine
    # re-delivers both files as batch 0 (an id the marker has already
    # applied) — the sink must skip it and the snapshot stay intact
    import shutil

    shutil.rmtree(ck)
    run_streaming_upsert(stream(), snap, ck, "k", "ver")
    got2 = {r["k"]: (r["v"], r["ver"]) for r in spark.read.parquet(snap).collect()}
    assert got2 == got


def test_matview_snapshot_swap_recovers_from_crash(spark, tmp_path, monkeypatch):
    """The snapshot swap must be crash-safe at every point. Each batch
    below is killed inside the sinks/commit swap (a kill never rolls
    the parked copy back), then the stream restarts from its
    checkpoint and replays the batch: (c) the FIRST batch killed after
    its stage rename is not applied twice; (a) a batch killed after
    parking the live snapshot but before the stage moved in merges,
    once, against the exact pre-batch snapshot; (b) a batch killed
    after the rename but before the old copy is deleted keeps the new
    snapshot and loses the sibling; a stale stage always goes."""
    import os

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from dasladen_spark.sinks import commit
    from dasladen_spark.streaming.matview import run_incremental_matview

    src = tmp_path / "src"
    src.mkdir()
    snap, ck = tmp_path / "snap", str(tmp_path / "ck")
    real_rename = commit.rename

    def killed(at):
        def rename(fs, frm, to):
            if ".old-" in frm.getName():  # the rollback a kill never runs
                raise OSError("killed")
            if ".stage-" in frm.getName() and at == "before":
                raise OSError("killed")
            real_rename(fs, frm, to)
            if ".stage-" in frm.getName() and at == "after":
                raise OSError("killed")

        return rename

    def drain(at=None):
        stream = (
            spark.readStream.schema("k STRING, v BIGINT")
            .option("sep", ";")
            .option("header", True)
            .option("maxFilesPerTrigger", 1)
            .csv(str(src))
        )
        if at:
            monkeypatch.setattr(commit, "rename", killed(at))
        try:
            run_incremental_matview(
                stream, str(snap), ck, "k", {"n": "count(1)", "total": "sum(v)"}
            )
        finally:
            monkeypatch.setattr(commit, "rename", real_rename)

    def view():
        rows = spark.read.parquet(str(snap)).collect()
        return {r["k"]: (r["n"], r["total"]) for r in rows}

    def siblings(role=""):
        names = os.listdir(tmp_path)
        return sorted(n for n in names if n.startswith(f".snap.{role}"))

    # (c) first batch killed after its rename: the replay is skipped
    (src / "b0.csv").write_text("k;v\na;1\na;2\nb;10\n")
    with pytest.raises(StreamingQueryException, match="killed"):
        drain("after")
    assert view() == {"a": (2, 3), "b": (1, 10)}
    drain()
    assert view() == {"a": (2, 3), "b": (1, 10)}

    # (a) killed after parking, before the stage rename: the live
    # snapshot is missing, the pre-batch copy parked beside it
    (src / "b1.csv").write_text("k;v\na;4\nc;100\n")
    with pytest.raises(StreamingQueryException, match="killed"):
        drain("before")
    assert not snap.exists() and len(siblings("old-")) == 1
    (tmp_path / ".snap.stage-0123abcd").mkdir()  # a kill's stale stage
    drain()
    assert view() == {"a": (3, 7), "b": (1, 10), "c": (1, 100)}
    assert siblings() == []

    # (b) killed after the rename, before the old copy is deleted
    (src / "b2.csv").write_text("k;v\nb;5\n")
    with pytest.raises(StreamingQueryException, match="killed"):
        drain("after")
    assert len(siblings("old-")) == 1
    drain()
    assert view() == {"a": (3, 7), "b": (2, 15), "c": (1, 100)}
    assert siblings() == []


def test_incremental_topk_equals_batch_recompute(spark, tmp_path, sf_dir):
    """Corpus vectors arriving in two micro-batches must yield the
    same per-query top-k as one batch recompute over everything."""
    from dasladen_spark.operators.similarity import cosine_topk
    from dasladen_spark.session import load_table
    from dasladen_spark.streaming.incremental_topk import run_incremental_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)

    # split the corpus into two parquet drop files
    src = tmp_path / "vecs"
    emb.filter("vec_id % 2 = 0").write.parquet(str(src / "p1"))
    run2 = emb.filter("vec_id % 2 = 1")

    stream = lambda: (  # noqa: E731
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    snap, ck = str(tmp_path / "topk"), str(tmp_path / "ck")
    run_incremental_topk(stream(), queries, snap, ck, k=5)
    run2.write.parquet(str(src / "p2"))
    run_incremental_topk(stream(), queries, snap, ck, k=5)

    got = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in spark.read.parquet(snap).collect()
    }
    want = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in cosine_topk(queries, emb, k=5).collect()
    }
    assert got == want


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join (views x purchases
    within 15 min) must produce exactly the batch join's inner rows."""
    from dasladen_spark.streaming.join import interval_join

    vdir, pdir = tmp_path / "views", tmp_path / "purch"
    vdir.mkdir(), pdir.mkdir()
    (vdir / "v.csv").write_text(
        "user_id;vts;page\n"
        "1;2024-01-01 00:00:00;home\n"
        "1;2024-01-01 00:30:00;item\n"
        "2;2024-01-01 00:05:00;item\n"
        "3;2024-01-01 00:10:00;home\n"
    )
    (pdir / "p.csv").write_text(
        "user_id;pts;amount\n"
        "1;2024-01-01 00:10:00;5.0\n"  # matches 00:00 view only
        "1;2024-01-01 00:31:00;7.0\n"  # matches 00:30 view only
        "2;2024-01-01 01:00:00;9.0\n"  # outside 15 min -> no match
        "4;2024-01-01 00:10:00;1.0\n"  # no view for user 4
    )
    vschema = "user_id BIGINT, vts TIMESTAMP, page STRING"
    pschema = "user_id BIGINT, pts TIMESTAMP, amount DOUBLE"

    def src(schema, d, streaming):
        rd = spark.readStream if streaming else spark.read
        return (
            rd.schema(schema).option("sep", ";").option("header", True)
            .csv(str(d))
        )

    sjoin = interval_join(
        src(vschema, vdir, True), src(pschema, pdir, True),
        key="user_id", left_ts="vts", right_ts="pts",
    )
    assert sjoin.isStreaming
    got = {
        (r["user_id"], str(r["vts"]), str(r["pts"]), r["amount"])
        for r in _drain_to_memory(spark, sjoin, "ssj_t").collect()
    }
    bjoin = interval_join(
        src(vschema, vdir, False), src(pschema, pdir, False),
        key="user_id", left_ts="vts", right_ts="pts",
    )
    want = {
        (r["user_id"], str(r["vts"]), str(r["pts"]), r["amount"])
        for r in bjoin.collect()
    }
    assert got == want
    assert ("1", "2024-01-01 00:00:00", "2024-01-01 00:31:00", 7.0) not in got
    assert len(got) == 2


def test_stream_static_enrichment_matches_batch(spark, tmp_path):
    """enrich_with_dim: a streamed fact file broadcast-joined to a
    static dimension produces exactly the batch join's rows; unmatched
    keys survive with NULLs (left join semantics)."""
    from dasladen_spark.streaming.join import enrich_with_dim

    src = tmp_path / "facts"
    src.mkdir()
    (src / "f.csv").write_text(
        "user_id;amount\n1;10\n2;20\n999;5\n"
    )
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver"), (3, "bronze")], ["user_id", "tier"]
    )
    schema = "user_id BIGINT, amount BIGINT"
    stream = (
        spark.readStream.schema(schema)
        .option("sep", ";")
        .option("header", True)
        .csv(str(src))
    )
    got = _drain_to_memory(
        spark, enrich_with_dim(stream, dim, "user_id"), "enrich_t"
    )
    srows = {(r["user_id"], r["amount"], r["tier"]) for r in got.collect()}
    batch = (
        spark.read.schema(schema)
        .option("sep", ";")
        .option("header", True)
        .csv(str(src))
    )
    brows = {
        (r["user_id"], r["amount"], r["tier"])
        for r in enrich_with_dim(batch, dim, "user_id").collect()
    }
    assert srows == brows == {(1, 10, "gold"), (2, 20, "silver"), (999, 5, None)}


def test_decontaminate_gate_quarantines_at_ingestion_with_batch_parity(
    spark, tmp_path
):
    """Streaming decontamination gate: a doc sharing an 8-gram with
    the benchmark corpus quarantines at ingestion (with its
    contaminated-gram count), clean docs land in accept, and the
    accept/quarantine split EQUALS the batch `decontaminate` task's
    clean/dropped split over the same data — the shared
    operators/decontaminate pipeline guarantees no ingest-time skew
    (the streaming mirror of
    test_decontaminate_task_drops_bench_overlaps)."""
    import json

    from dasladen_spark.streaming.intake import (
        run_decontaminate_gate,
        stream_document_folder,
    )

    leak = "alpha beta gamma delta epsilon zeta eta theta"
    docs = [
        {"doc_id": 1, "text": f"intro {leak} outro",
         "lang": "en", "source": "s1"},
        {"doc_id": 2, "text": "totally original words only nothing "
         "shared here at all ok", "lang": "en", "source": "s1"},
        {"doc_id": 3, "text": "more clean unique content in a second "
         "arriving micro batch drop", "lang": "en", "source": "s2"},
    ]
    src = tmp_path / "drops"
    src.mkdir()
    (src / "a.jsonl").write_text("\n".join(json.dumps(d) for d in docs[:2]))
    (src / "b.jsonl").write_text(json.dumps(docs[2]))
    bench = spark.createDataFrame(
        [(9, f"prefix {leak} suffix")], "bid long, text string"
    )

    acc, quar, ckpt = (
        str(tmp_path / "accept"), str(tmp_path / "quar"), str(tmp_path / "ck")
    )
    scratch: list = []
    q = run_decontaminate_gate(
        stream_document_folder(spark, str(src)), bench, acc, quar, ckpt,
        scratch=scratch,
    )
    q.awaitTermination(120)

    got_acc = {r["doc_id"] for r in spark.read.parquet(acc).collect()}
    quar_rows = spark.read.parquet(quar).collect()
    assert got_acc == {2, 3}
    assert [r["doc_id"] for r in quar_rows] == [1]
    assert quar_rows[0]["n_contaminated_grams"] >= 1

    # batch parity: the decontaminate TASK over the same corpus must
    # produce exactly the same clean set (shared gram pipeline)
    wd = tmp_path / "task"
    for sub in ("input", "output", "done"):
        (wd / sub).mkdir(parents=True)
    with open(wd / "input" / "docs.json", "w", encoding="utf-8") as f:
        for d in docs:
            f.write(json.dumps({"doc_id": d["doc_id"], "text": d["text"]}) + "\n")
    with open(wd / "input" / "bench.json", "w", encoding="utf-8") as f:
        f.write(json.dumps({"bid": 9, "text": f"prefix {leak} suffix"}) + "\n")
    from dasladen_spark.connections import ConnectionRegistry
    from dasladen_spark.tasks import TaskContext, run_decontaminate

    run_decontaminate(
        TaskContext(
            spark,
            ConnectionRegistry(None),
            input_path=str(wd / "input"),
            output_path=str(wd / "output"),
        ),
        {
            "name": "par",
            "type": "decontaminate",
            "source": {"kind": "json", "file": "docs.json",
                       "schema": "doc_id BIGINT, text STRING"},
            "bench": {"kind": "json", "file": "bench.json",
                      "schema": "bid BIGINT, text STRING"},
            "id_field": "doc_id",
            "target": {"file": "clean.parquet", "truncate": True},
        },
    )
    batch_clean = {
        r["doc_id"]
        for r in spark.read.parquet(
            str(wd / "output" / "clean.parquet")
        ).collect()
    }
    assert batch_clean == got_acc
    for c in scratch:
        c.unpersist()


def test_decontaminate_gate_rejects_null_ids_loudly(spark, tmp_path):
    """A NULL doc_id would slip a contaminated doc past the anti-join
    into the accept area — the gate must kill the query with the
    batch task's loud error, not silently leak (parity with
    test_decontaminate_task_rejects_null_or_dup_ids)."""
    import json

    import pytest

    from dasladen_spark.streaming.intake import (
        run_decontaminate_gate,
        stream_document_folder,
    )

    src = tmp_path / "drops"
    src.mkdir()
    (src / "a.jsonl").write_text(
        json.dumps({"doc_id": None, "text": "a b c d e f g h i"})
        + "\n"
        + json.dumps({"doc_id": 2, "text": "j k l m n o p q r"})
    )
    bench = spark.createDataFrame(
        [(9, "a b c d e f g h i")], "bid long, text string"
    )
    scratch: list = []
    q = run_decontaminate_gate(
        stream_document_folder(spark, str(src)),
        bench,
        str(tmp_path / "accept"),
        str(tmp_path / "quar"),
        str(tmp_path / "ck"),
        scratch=scratch,
    )
    with pytest.raises(Exception, match="non-null and unique"):
        q.awaitTermination(120)
    for c in scratch:
        c.unpersist()


def test_quality_gate_routes_and_matches_batch(spark, tmp_path):
    """Streaming intake gate: accept/quarantine routing must equal the
    batch scorer applied to a static read (no ingest-time skew), rejects
    must carry reasons, and a re-drain with the same checkpoint must add
    nothing (exactly-once)."""
    import json

    from dasladen_spark.streaming.intake import (
        run_quality_gate,
        score_documents,
        stream_document_folder,
    )

    src = tmp_path / "drops"
    src.mkdir()
    docs = [
        {"doc_id": 1, "text": "the quick brown fox jumps over a lazy dog today",
         "lang": "en", "source": "s1"},
        {"doc_id": 2, "text": "ok", "lang": "en", "source": "s1"},
        {"doc_id": 3, "text": "!!!! ???? ;;;; >>>> #### $$$$ %%%% @@@@",
         "lang": "en", "source": "s2"},
        {"doc_id": 4, "text": "data pipelines shuffle partition join merge sort scan",
         "lang": "en", "source": "s2"},
    ]
    (src / "a.jsonl").write_text("\n".join(json.dumps(d) for d in docs[:2]))
    (src / "b.jsonl").write_text("\n".join(json.dumps(d) for d in docs[2:]))

    acc, quar, ckpt = (
        str(tmp_path / "accept"), str(tmp_path / "quar"), str(tmp_path / "ck")
    )
    q = run_quality_gate(
        stream_document_folder(spark, str(src)), acc, quar, ckpt
    )
    q.awaitTermination(120)

    got_acc = {r["doc_id"] for r in spark.read.parquet(acc).collect()}
    quar_rows = spark.read.parquet(quar).collect()
    got_rej = {r["doc_id"]: r["reject_reason"] for r in quar_rows}

    static = score_documents(
        spark.createDataFrame(
            [(d["doc_id"], d["text"], d["lang"], d["source"]) for d in docs],
            "doc_id long, text string, lang string, source string",
        )
    )
    want_acc = {r["doc_id"] for r in static.filter("accept").collect()}
    want_rej = {
        r["doc_id"]: r["reject_reason"]
        for r in static.filter("NOT accept").collect()
    }
    assert got_acc == want_acc and len(got_acc) >= 1
    assert got_rej == want_rej and "too_short" in set(got_rej.values())

    # exactly-once on re-drain
    n_acc = spark.read.parquet(acc).count()
    q2 = run_quality_gate(
        stream_document_folder(spark, str(src)), acc, quar, ckpt
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(acc).count() == n_acc


def test_state_store_is_rocksdb(spark):
    """Stateful ops must run on the RocksDB provider: the default
    HDFS-backed store keeps all state in executor heap, which caps
    key cardinality far below the 100 TB target. (The streaming tests
    above all execute under this provider.)"""
    assert "RocksDBStateStoreProvider" in spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass"
    )


def test_streaming_dedup_intake_maintains_index(spark, tmp_path):
    """Continuous intake dedup: micro-batches dedup within themselves,
    against the prebuilt history index, AND against earlier batches'
    novel docs (the index grows as the stream runs); re-drains add
    nothing; a replayed batch reconstructs its original novel set even
    though its own fingerprints are already in the index."""
    import json

    from dasladen_spark.operators.fingerprint_index import (
        build_fingerprint_index,
        novel_against_index,
    )
    from dasladen_spark.streaming.indexsync import run_streaming_dedup_intake
    from dasladen_spark.streaming.intake import stream_document_folder

    for t in ("t_stream_fpidx", "t_stream_fpidx_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    hist = spark.createDataFrame(
        [(100, "history doc one"), (101, "history doc two")],
        ["doc_id", "text"],
    )
    build_fingerprint_index(hist, "t_stream_fpidx", n_buckets=4, tag="h0")

    src = tmp_path / "drops"
    src.mkdir()
    batch1 = [
        {"doc_id": 1, "text": "HISTORY doc one!", "lang": "en", "source": "s"},
        {"doc_id": 2, "text": "fresh doc alpha", "lang": "en", "source": "s"},
        {"doc_id": 3, "text": "Fresh   DOC alpha", "lang": "en", "source": "s"},
    ]
    (src / "a.jsonl").write_text("\n".join(json.dumps(d) for d in batch1))
    acc, ckpt = str(tmp_path / "accept"), str(tmp_path / "ck")

    q = run_streaming_dedup_intake(
        stream_document_folder(spark, str(src)), "t_stream_fpidx", acc, ckpt
    )
    q.awaitTermination(120)
    # in-batch dup (3) and history dup (1) filtered; lowest id survives
    assert {r["doc_id"] for r in spark.read.parquet(acc).collect()} == {2}

    # second drop: dup of batch1's novel doc + genuinely new doc
    batch2 = [
        {"doc_id": 4, "text": "fresh doc alpha", "lang": "en", "source": "s"},
        {"doc_id": 5, "text": "fresh doc beta", "lang": "en", "source": "s"},
    ]
    (src / "b.jsonl").write_text("\n".join(json.dumps(d) for d in batch2))
    q2 = run_streaming_dedup_intake(
        stream_document_folder(spark, str(src)), "t_stream_fpidx", acc, ckpt
    )
    q2.awaitTermination(120)
    assert {r["doc_id"] for r in spark.read.parquet(acc).collect()} == {2, 5}

    # re-drain with same checkpoint: nothing changes
    q3 = run_streaming_dedup_intake(
        stream_document_folder(spark, str(src)), "t_stream_fpidx", acc, ckpt
    )
    q3.awaitTermination(120)
    assert {r["doc_id"] for r in spark.read.parquet(acc).collect()} == {2, 5}

    # replay determinism: batch 1's fps are in the index, yet the
    # before_batch filter reproduces its original novel set
    b2 = spark.createDataFrame(
        [(d["doc_id"], d["text"]) for d in batch2], ["doc_id", "text"]
    )
    replayed = novel_against_index(
        spark, "t_stream_fpidx", b2, before_batch=1
    )
    assert {r["doc_id"] for r in replayed.collect()} == {5}
    # while an un-windowed read (a NEW batch) sees everything
    fresh = novel_against_index(spark, "t_stream_fpidx", b2)
    assert fresh.count() == 0
    for t in ("t_stream_fpidx", "t_stream_fpidx_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_intake_marker_keeps_its_value_when_its_write_fails(
    spark, tmp_path, monkeypatch
):
    """The intake's applied-batch marker is replaced, never truncated:
    a marker write that fails keeps the previous value readable and
    fails the query, and a restart then applies the batch."""
    import json
    import os

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from dasladen_spark.operators.fingerprint_index import build_fingerprint_index
    from dasladen_spark.streaming import indexsync
    from dasladen_spark.streaming.intake import stream_document_folder

    spark.sql("DROP TABLE IF EXISTS t_marker_idx")
    spark.sql("DROP TABLE IF EXISTS t_marker_idx_meta")
    build_fingerprint_index(
        spark.createDataFrame([(100, "history doc")], ["doc_id", "text"]),
        "t_marker_idx",
        n_buckets=2,
        tag="h0",
    )
    src, acc, ck = tmp_path / "drops", str(tmp_path / "accept"), str(tmp_path / "ck")
    src.mkdir()
    marker = os.path.join(acc, "_last_batch")

    def drain(name, doc_id):
        doc = {"doc_id": doc_id, "text": f"doc {name}", "lang": "en", "source": "s"}
        (src / f"{name}.jsonl").write_text(json.dumps(doc))
        stream = stream_document_folder(spark, str(src))
        indexsync.run_streaming_dedup_intake(
            stream, "t_marker_idx", acc, ck
        ).awaitTermination(120)

    drain("a", 1)
    assert indexsync._last_applied(marker) == 0
    real_replace = os.replace

    def failing_replace(src_, dst, *args, **kwargs):
        if str(dst) == marker:
            raise OSError("simulated marker write failure")
        return real_replace(src_, dst, *args, **kwargs)

    monkeypatch.setattr(os, "replace", failing_replace)
    with pytest.raises(StreamingQueryException, match="simulated marker"):
        drain("b", 2)
    monkeypatch.undo()
    assert indexsync._last_applied(marker) == 0
    drain("c", 3)
    assert indexsync._last_applied(marker) == 2
    assert {r["doc_id"] for r in spark.read.parquet(acc).collect()} == {1, 2, 3}
    spark.sql("DROP TABLE IF EXISTS t_marker_idx")
    spark.sql("DROP TABLE IF EXISTS t_marker_idx_meta")


def test_streaming_winnowed_intake_near_dup_across_batches(spark, tmp_path):
    """Winnowing-method intake (the near-dup sibling of the exact
    test above): a doc sharing a long token run with HISTORY is
    dropped, a within-batch near-dup pair collapses to its min id,
    a later batch's near-dup of an earlier batch's ADMITTED doc is
    dropped (the index grew), and a re-drain adds nothing."""
    import json

    from dasladen_spark.operators.fingerprint_index import (
        build_winnowed_fingerprint_index,
    )
    from dasladen_spark.streaming.indexsync import run_streaming_dedup_intake
    from dasladen_spark.streaming.intake import stream_document_folder

    for t in ("t_stream_winidx", "t_stream_winidx_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    hist_run = " ".join(f"hist{i}" for i in range(25))
    novel_run = " ".join(f"nov{i}" for i in range(25))
    hist = spark.createDataFrame(
        [(100, "archive copy " + hist_run)], ["doc_id", "text"]
    )
    build_winnowed_fingerprint_index(
        hist, "t_stream_winidx", n_buckets=4, tag="h0"
    )

    src = tmp_path / "wdrops"
    src.mkdir()
    batch1 = [
        # near-dup of history (same 25-token run, new framing)
        {"doc_id": 1, "text": "fresh intro " + hist_run, "lang": "en", "source": "s"},
        {"doc_id": 2, "text": "lead one " + novel_run, "lang": "en", "source": "s"},
        # within-batch near-dup of 2
        {"doc_id": 3, "text": "other lead " + novel_run, "lang": "en", "source": "s"},
    ]
    (src / "a.jsonl").write_text("\n".join(json.dumps(d) for d in batch1))
    acc, ckpt = str(tmp_path / "waccept"), str(tmp_path / "wck")

    q = run_streaming_dedup_intake(
        stream_document_folder(spark, str(src)), "t_stream_winidx",
        acc, ckpt, method="winnowing",
    )
    q.awaitTermination(120)
    assert {r["doc_id"] for r in spark.read.parquet(acc).collect()} == {2}

    batch2 = [
        # near-dup of batch1's admitted doc 2
        {"doc_id": 4, "text": "yet more " + novel_run + " tail", "lang": "en", "source": "s"},
        {"doc_id": 5, "text": " ".join(f"beta{i}" for i in range(25)), "lang": "en", "source": "s"},
    ]
    (src / "b.jsonl").write_text("\n".join(json.dumps(d) for d in batch2))
    q2 = run_streaming_dedup_intake(
        stream_document_folder(spark, str(src)), "t_stream_winidx",
        acc, ckpt, method="winnowing",
    )
    q2.awaitTermination(120)
    assert {r["doc_id"] for r in spark.read.parquet(acc).collect()} == {2, 5}

    # re-drain with the same checkpoint: nothing changes
    q3 = run_streaming_dedup_intake(
        stream_document_folder(spark, str(src)), "t_stream_winidx",
        acc, ckpt, method="winnowing",
    )
    q3.awaitTermination(120)
    assert {r["doc_id"] for r in spark.read.parquet(acc).collect()} == {2, 5}
    for t in ("t_stream_winidx", "t_stream_winidx_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


@pytest.mark.parametrize(
    "method, admitted", [("exact", {2, 4, 5, 6}), ("winnowing", {2, 4})]
)
def test_dedup_task_and_stream_intake_agree(spark, tmp_path, method, admitted):
    """Dedup parity: the same documents through a `dedup` task with an
    index and through one micro-batch of run_streaming_dedup_intake,
    each against its own index table seeded with the same history,
    admit the same ids and leave the same fingerprints (and batch
    tags) in their index tables."""
    import json

    from dasladen_spark.connections import ConnectionRegistry
    from dasladen_spark.operators.fingerprint_index import (
        build_fingerprint_index,
        build_winnowed_fingerprint_index,
    )
    from dasladen_spark.streaming.indexsync import run_streaming_dedup_intake
    from dasladen_spark.streaming.intake import stream_document_folder
    from dasladen_spark.tasks import TaskContext, run_dedup

    tables = [f"t_par_{side}_{method}" for side in ("task", "stream")]
    for t in tables:
        for suffix in ("", "_meta"):
            spark.sql(f"DROP TABLE IF EXISTS {t}{suffix}")
    hist_run = " ".join(f"hist{i}" for i in range(25))
    run_a = " ".join(f"alpha{i}" for i in range(25))
    hist = spark.createDataFrame(
        [(100, "archive copy " + hist_run)], ["doc_id", "text"]
    )
    build = (
        build_winnowed_fingerprint_index
        if method == "winnowing"
        else build_fingerprint_index
    )
    for t in tables:
        build(hist, t, n_buckets=4, tag="h0")
    docs = [
        (1, "archive copy " + hist_run),  # whole-doc dup of history
        (2, "lead one " + run_a),
        (3, "lead one " + run_a),  # in-batch dup of 2
        (4, " ".join(f"beta{i}" for i in range(25))),
        (5, "other framing " + run_a + " tail"),  # near-dup of 2
        (6, "fresh intro " + hist_run),  # near-dup of history
    ]
    inp = tmp_path / "input"
    inp.mkdir()
    with open(inp / "docs.jsonl", "w", encoding="utf-8") as f:
        for i, text in docs:
            f.write(json.dumps({"doc_id": i, "text": text}) + "\n")

    out = tmp_path / "output"
    run_dedup(
        TaskContext(
            spark,
            ConnectionRegistry(None),
            input_path=str(inp),
            output_path=str(out),
        ),
        {
            "name": "par",
            "type": "dedup",
            "method": method,
            "index": tables[0],
            "id_field": "doc_id",
            "source": {"kind": "json", "file": "docs.jsonl",
                       "schema": "doc_id BIGINT, text STRING"},
            "target": {"file": "novel.parquet", "truncate": True},
        },
    )
    acc = str(tmp_path / "accept")
    q = run_streaming_dedup_intake(
        stream_document_folder(spark, str(inp)), tables[1], acc,
        str(tmp_path / "ck"), method=method,
    )
    q.awaitTermination(120)

    def ids(path):
        return {r["doc_id"] for r in spark.read.parquet(path).collect()}

    def postings(t):
        spark.catalog.refreshTable(t)
        return {
            (r["fp"], r["batch_id"])
            for r in spark.table(t).select("fp", "batch_id").collect()
        }

    assert ids(str(out / "novel.parquet")) == ids(acc) == admitted
    task_postings = postings(tables[0])
    assert task_postings == postings(tables[1])
    # history baseline plus this batch's append
    assert {b for _, b in task_postings} == {-1, 0}
    for t in tables:
        for suffix in ("", "_meta"):
            spark.sql(f"DROP TABLE IF EXISTS {t}{suffix}")


def test_streaming_ann_sync_new_vectors_searchable(spark, tmp_path, sf_dir):
    """New embeddings streamed into a materialized ANN index become
    searchable without a rebuild: a planted duplicate of an existing
    corpus vector must come back as its own top neighbor after sync,
    and a re-drain appends nothing new."""
    import json

    from dasladen_spark.operators.ann_index import (
        build_ann_index,
        search_ann_index,
    )
    from dasladen_spark.session import load_table
    from dasladen_spark.streaming.indexsync import run_streaming_ann_sync

    for t in ("t_ann_sync", "t_ann_sync_meta", "t_ann_sync_centroids"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    emb = load_table(spark, sf_dir, "embeddings")
    build_ann_index(emb, "t_ann_sync", tag="base")
    base_rows = spark.table("t_ann_sync").count()

    # planted new vector: an exact copy of corpus vector 7
    v7 = [float(x) for x in emb.filter("vec_id = 7").collect()[0]["embedding"]]
    src = tmp_path / "vecs"
    src.mkdir()
    (src / "a.jsonl").write_text(
        json.dumps({"vec_id": 999007, "embedding": v7})
    )
    ckpt = str(tmp_path / "ck_ann")
    stream = spark.readStream.schema(
        "vec_id long, embedding array<double>"
    ).json(str(src))
    q = run_streaming_ann_sync(
        stream, "t_ann_sync", ckpt, str(tmp_path / "ann_marker")
    )
    q.awaitTermination(120)

    res = search_ann_index(
        spark, "t_ann_sync", emb.filter("vec_id = 7"), k=3
    ).collect()
    top = [r["neighbor_id"] for r in res if r["rank"] == 1]
    assert top == [999007]
    assert abs([r["cosine"] for r in res if r["rank"] == 1][0] - 1.0) < 1e-6

    # re-drain: marker short-circuits, postings unchanged
    n_after = spark.table("t_ann_sync").count()
    assert n_after > base_rows
    q2 = run_streaming_ann_sync(
        spark.readStream.schema("vec_id long, embedding array<double>").json(
            str(src)
        ),
        "t_ann_sync",
        ckpt,
        str(tmp_path / "ann_marker"),
    )
    q2.awaitTermination(120)
    assert spark.table("t_ann_sync").count() == n_after
    for t in ("t_ann_sync", "t_ann_sync_meta", "t_ann_sync_centroids"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ewma_by_key_matches_sequential_replay(spark, tmp_path):
    """The stateful EWMA recursion across micro-batches equals a
    sequential pandas replay of the same (ts, event_id)-ordered
    event sequence — exactly, not approximately."""
    from dasladen_spark.streaming.stateful import ewma_by_key

    src = tmp_path / "ev"
    src.mkdir()
    (src / "b1.csv").write_text(
        "user_id;ts;event_id;value\n"
        "1;2024-01-01 00:00:00;1;10.0\n"
        "1;2024-01-01 00:01:00;2;20.0\n"
        "2;2024-01-01 00:00:30;3;5.0\n"
    )
    schema = "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, value DOUBLE"

    emitted: list[tuple] = []

    def sink(batch_df, batch_id):
        emitted.extend(
            (r["user_id"], r["n_events"], r["ewma"])
            for r in batch_df.collect()
        )

    def drain():
        s = (
            spark.readStream.schema(schema)
            .option("sep", ";")
            .option("header", True)
            .option("maxFilesPerTrigger", 1)
            .csv(str(src))
        )
        q = (
            ewma_by_key(s, alpha=0.25)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ck_ewma"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    (src / "b2.csv").write_text(
        "user_id;ts;event_id;value\n"
        "1;2024-01-01 00:02:00;4;40.0\n"
        "2;2024-01-01 00:02:30;5;15.0\n"
    )
    drain()

    # sequential replay: per user, in (ts, event_id) order across the
    # SAME micro-batch boundaries
    def replay(seq, alpha=0.25):
        s, n = 0.0, 0
        for x in seq:
            s = x if n == 0 else alpha * x + (1 - alpha) * s
            n += 1
        return n, s

    latest = {u: (n, e) for (u, n, e) in emitted}
    n1, s1 = replay([10.0, 20.0, 40.0])
    n2, s2 = replay([5.0, 15.0])
    assert latest[1] == (n1, s1)
    assert latest[2] == (n2, s2)


def test_streaming_nb_model_matches_batch_train(spark, tmp_path):
    """The streamed (token,label) / (label) count snapshots rehydrate
    into a model that scores EXACTLY like nb_train over the full
    delivered corpus — additive merges commute with aggregation."""
    import json as _json

    from dasladen_spark.operators.classify import nb_score, nb_train
    from dasladen_spark.streaming.modelsync import (
        nb_model_from_snapshots,
        run_streaming_nb_counts,
        run_streaming_nb_docs,
    )

    src = tmp_path / "docs"
    src.mkdir()
    rows1 = [
        {"doc_id": 1, "text": "meeting agenda report", "label": "ham"},
        {"doc_id": 2, "text": "winner free prize", "label": "spam"},
    ]
    rows2 = [
        {"doc_id": 3, "text": "agenda minutes meeting report", "label": "ham"},
        {"doc_id": 4, "text": "free free offer click", "label": "spam"},
    ]
    schema = "doc_id BIGINT, text STRING, label STRING"
    with open(src / "b1.json", "w") as f:
        for r in rows1:
            f.write(_json.dumps(r) + "\n")

    def drain():
        s = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        run_streaming_nb_counts(
            s, str(tmp_path / "cnt"), str(tmp_path / "ck_c")
        )
        s2 = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        run_streaming_nb_docs(s2, str(tmp_path / "dc"), str(tmp_path / "ck_d"))

    drain()
    with open(src / "b2.json", "w") as f:
        for r in rows2:
            f.write(_json.dumps(r) + "\n")
    drain()

    counts_s, stats_s = nb_model_from_snapshots(
        spark, str(tmp_path / "cnt"), str(tmp_path / "dc")
    )
    full = spark.createDataFrame(
        [(r["doc_id"], r["text"], r["label"]) for r in rows1 + rows2], schema
    )
    counts_b, stats_b = nb_train(full)

    test = spark.createDataFrame(
        [(100, "agenda meeting"), (101, "free prize click")],
        "doc_id BIGINT, text STRING",
    )
    got_s = {
        (r["doc_id"], r["label"]): r["log_score"]
        for r in nb_score(test, counts_s, stats_s).collect()
    }
    got_b = {
        (r["doc_id"], r["label"]): r["log_score"]
        for r in nb_score(test, counts_b, stats_b).collect()
    }
    assert got_s == got_b
    assert len(got_s) == 4


def test_ewma_state_recovers_after_mid_stream_crash(spark, tmp_path):
    """RocksDB state RECOVERY, not just happy-path accumulation: a
    foreachBatch sink crashes the query on its second micro-batch
    (after batch 0's state committed), the query is restarted from
    the same checkpoint, and the final per-key state must equal a
    sequential replay of the full event sequence — proving the
    restarted query resumed from batch 0's committed RocksDB state
    (changelog checkpointing, session.py default) and reprocessed
    the failed batch exactly once rather than from scratch or
    twice."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from dasladen_spark.streaming.stateful import ewma_by_key

    import os

    src = tmp_path / "ev"
    src.mkdir()
    values = [10.0, 20.0, 30.0, 40.0, 50.0, 60.0]
    for b in range(3):  # 3 files → 3 micro-batches (maxFilesPerTrigger=1)
        rows = "".join(
            f"1;2024-01-01 00:00:{2 * b + j:02d};{2 * b + j};"
            f"{values[2 * b + j]}\n"
            for j in range(2)
        )
        f = src / f"b{b}.csv"
        f.write_text("user_id;ts;event_id;value\n" + rows)
        # the file source orders micro-batches by modification time;
        # same-instant writes tie and order arbitrarily, which would
        # scramble the (order-dependent) EWMA recursion — pin them
        os.utime(f, (1_700_000_000 + b, 1_700_000_000 + b))
    schema = "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, value DOUBLE"

    final: dict[int, tuple] = {}
    crash = {"armed": True}

    def sink(batch_df, batch_id):
        if batch_id == 1 and crash["armed"]:
            crash["armed"] = False
            raise RuntimeError("injected mid-stream crash")
        for r in batch_df.collect():
            final[r["user_id"]] = (r["n_events"], r["ewma"])

    def run():
        s = (
            spark.readStream.schema(schema)
            .option("sep", ";")
            .option("header", True)
            .option("maxFilesPerTrigger", 1)
            .csv(str(src))
        )
        q = (
            ewma_by_key(s, alpha=0.2)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ck_crash"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    try:
        run()
        raise AssertionError("first run should have crashed")
    except StreamingQueryException:
        pass
    assert not crash["armed"]  # the injected crash actually fired
    run()  # restart from the same checkpoint — must resume, not restart

    s = values[0]
    for x in values[1:]:
        s = 0.2 * x + 0.8 * s
    n_events, ewma = final[1]
    assert n_events == len(values)
    assert abs(ewma - s) < 1e-12


def test_cusum_by_key_matches_sequential_replay(spark, tmp_path):
    """The stateful CUSUM recursion across micro-batches equals a
    sequential replay of the (ts, event_id)-ordered sequence, and the
    drift flag trips exactly when the statistic crosses the
    threshold."""
    from dasladen_spark.streaming.stateful import cusum_by_key

    src = tmp_path / "ev"
    src.mkdir()
    (src / "b1.csv").write_text(
        "user_id;ts;event_id;value\n"
        "1;2024-01-01 00:00:00;1;10.0\n"
        "1;2024-01-01 00:01:00;2;12.0\n"
        "2;2024-01-01 00:00:30;3;5.0\n"
    )
    schema = "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, value DOUBLE"
    final: dict[int, tuple] = {}

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            final[r["user_id"]] = (r["n_events"], r["cusum"], r["drift"])

    def drain():
        s = (
            spark.readStream.schema(schema)
            .option("sep", ";")
            .option("header", True)
            .option("maxFilesPerTrigger", 1)
            .csv(str(src))
        )
        q = (
            cusum_by_key(s, slack=8.0, threshold=5.0)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ck_cusum"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    (src / "b2.csv").write_text(
        "user_id;ts;event_id;value\n"
        "1;2024-01-01 00:02:00;4;11.0\n"
        "2;2024-01-01 00:02:30;5;20.0\n"
    )
    drain()

    def replay(values):
        s = 0.0
        for x in values:
            s = max(0.0, s + (x - 8.0))
        return s

    # user 1: 10,12,11 → 2,6,9 — drift (9 > 5)
    n, s, drift = final[1]
    assert (n, s, drift) == (3, replay([10.0, 12.0, 11.0]), True)
    assert s == 9.0
    # user 2: 5 → 0; then 20 → 12 — drift
    n2, s2, drift2 = final[2]
    assert (n2, s2, drift2) == (2, replay([5.0, 20.0]), True)


def _p2_replay(values, p):
    """Sequential P² replay for the cross-micro-batch differential.
    It re-implements the same published update rules rather than
    importing the operator's helpers, so it verifies that STATE
    survives micro-batch boundaries and checkpointing exactly — a
    shared misreading of Jain & Chlamtac would pass both sides, which
    is why the test also asserts the loose accuracy bound against the
    true median."""
    vals = []
    q, n = [0.0] * 5, [0] * 5
    cnt = 0
    for x in values:
        x = float(x)
        if cnt < 5:
            q[cnt] = x
            cnt += 1
            if cnt == 5:
                q.sort()
                n = [1, 2, 3, 4, 5]
            continue
        cnt += 1
        if x < q[0]:
            q[0] = x
            k = 0
        elif x >= q[4]:
            q[4] = x
            k = 3
        else:
            k = max(i for i in range(4) if q[i] <= x)
        for i in range(k + 1, 5):
            n[i] += 1
        dns = (0.0, p / 2.0, p, (1.0 + p) / 2.0, 1.0)
        for i in (1, 2, 3):
            d = (1.0 + dns[i] * (cnt - 1)) - n[i]
            if (d >= 1.0 and n[i + 1] - n[i] > 1) or (
                d <= -1.0 and n[i - 1] - n[i] < -1
            ):
                d = 1.0 if d >= 1.0 else -1.0
                qi = q[i] + d / (n[i + 1] - n[i - 1]) * (
                    (n[i] - n[i - 1] + d) * (q[i + 1] - q[i]) / (n[i + 1] - n[i])
                    + (n[i + 1] - n[i] - d) * (q[i] - q[i - 1]) / (n[i] - n[i - 1])
                )
                if q[i - 1] < qi < q[i + 1]:
                    q[i] = qi
                else:
                    j = i + (1 if d > 0 else -1)
                    q[i] = q[i] + d * (q[j] - q[i]) / (n[j] - n[i])
                n[i] = int(n[i] + d)
    if cnt <= 5:
        import math

        s = sorted(q[:cnt])
        return s[max(0, min(cnt - 1, math.ceil(p * cnt) - 1))]
    return q[2]


def test_p2_quantile_matches_replay_and_tracks_exact(spark, tmp_path):
    """The stateful P² median across micro-batches equals an
    independent sequential replay EXACTLY, and lands near the true
    median of the replayed stream (the algorithm's accuracy
    contract)."""
    from dasladen_spark.streaming.stateful import p2_quantile_by_key

    # deterministic pseudo-random-ish stream: 40 values per user from
    # a fixed integer recurrence (no random module — replayable)
    vals1 = [((i * 37) % 101) / 2.0 for i in range(40)]
    vals2 = [float(i % 7) for i in range(25)]
    src = tmp_path / "ev"
    src.mkdir()
    half = 20
    for b, sl in ((0, slice(0, half)), (1, slice(half, None))):
        lines = ["user_id;ts;event_id;value"]
        off = sl.start or 0
        for j, v in enumerate(vals1[sl]):
            lines.append(f"1;2024-01-01 00:{(off+j)//60:02d}:{(off+j)%60:02d};{off+j};{v}")
        if b == 0:
            for j, v in enumerate(vals2):
                lines.append(f"2;2024-01-01 00:00:{j:02d};{100+j};{v}")
        f = src / f"b{b}.csv"
        f.write_text("\n".join(lines) + "\n")
        import os

        os.utime(f, (1_700_000_000 + b, 1_700_000_000 + b))
    schema = "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, value DOUBLE"
    final: dict[int, tuple] = {}

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            final[r["user_id"]] = (r["n_events"], r["quantile"])

    s = (
        spark.readStream.schema(schema)
        .option("sep", ";")
        .option("header", True)
        .option("maxFilesPerTrigger", 1)
        .csv(str(src))
    )
    q = (
        p2_quantile_by_key(s, p=0.5)
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_p2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    n1, est1 = final[1]
    assert n1 == 40
    assert est1 == _p2_replay(vals1, 0.5)  # exact differential
    exact = sorted(vals1)[20]
    assert abs(est1 - exact) <= 6.0  # accuracy contract on this stream
    n2, est2 = final[2]
    assert n2 == 25
    assert est2 == _p2_replay(vals2, 0.5)


def test_holt_by_key_matches_sequential_replay(spark, tmp_path):
    """The stateful Holt recursion across micro-batches equals a
    sequential replay, and on a linear ramp the one-step forecast
    anticipates the next value far better than a flat EWMA would."""
    import os

    from dasladen_spark.streaming.stateful import holt_by_key

    vals = [10.0, 20.0, 30.0, 40.0, 50.0, 60.0]
    src = tmp_path / "ev"
    src.mkdir()
    for b in range(2):
        rows = "".join(
            f"1;2024-01-01 00:00:{3 * b + j:02d};{3 * b + j};"
            f"{vals[3 * b + j]}\n"
            for j in range(3)
        )
        f = src / f"b{b}.csv"
        f.write_text("user_id;ts;event_id;value\n" + rows)
        os.utime(f, (1_700_000_000 + b, 1_700_000_000 + b))
    schema = "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, value DOUBLE"
    final = {}

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            final[r["user_id"]] = (
                r["n_events"], r["level"], r["trend"], r["forecast"]
            )

    s = (
        spark.readStream.schema(schema)
        .option("sep", ";")
        .option("header", True)
        .option("maxFilesPerTrigger", 1)
        .csv(str(src))
    )
    q = (
        holt_by_key(s, alpha=0.3, beta=0.1)
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_holt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # sequential replay with the same init convention
    n, lvl, b = 0, 0.0, 0.0
    for x in vals:
        if n == 0:
            lvl, b = x, 0.0
        elif n == 1:
            b = x - lvl
            lvl = 0.3 * x + 0.7 * (lvl + b)
        else:
            prev = lvl
            lvl = 0.3 * x + 0.7 * (lvl + b)
            b = 0.1 * (lvl - prev) + 0.9 * b
        n += 1
    got_n, got_l, got_b, got_f = final[1]
    assert got_n == 6
    assert abs(got_l - lvl) < 1e-12 and abs(got_b - b) < 1e-12
    assert got_f == got_l + got_b
    # the ramp continues to 70: the trend-aware forecast must land
    # materially closer than the trailing level alone
    assert abs(got_f - 70.0) < abs(got_l - 70.0)


def test_streaming_score_counts_mapping_equals_batch(spark, tmp_path):
    """Two doc micro-batches folded into the additive (source,
    quality) count snapshot must yield EXACTLY the normalization
    mapping a from-scratch batch build computes over all delivered
    docs — the additive-sketch property the streaming scorer rests
    on. NULL text rows are dropped on intake, never distorting the
    CDFs."""
    from dasladen_spark.functions.text import quality_score
    from dasladen_spark.operators.scoring import quantile_normalize_map
    from dasladen_spark.streaming.scoresync import (
        normalization_mapping,
        run_streaming_score_counts,
    )

    src = tmp_path / "docs"
    src.mkdir()
    (src / "b1.csv").write_text(
        "source;text\nsrc0;alpha beta gamma delta\nsrc0;alpha alpha alpha\n"
        "src1;the quick brown fox jumps\n"
    )
    schema = "source STRING, text STRING"

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("sep", ";")
            .option("header", True)
            .option("maxFilesPerTrigger", 1)
            .csv(str(src))
        )

    snap = str(tmp_path / "score_counts")
    ck = str(tmp_path / "ck")
    run_streaming_score_counts(stream(), snap, ck)
    (src / "b2.csv").write_text(
        "source;text\nsrc1;lorem ipsum dolor sit amet word\nsrc0;;\n"
        "src1;alpha beta gamma delta\n"
    )
    run_streaming_score_counts(stream(), snap, ck)

    got = (
        normalization_mapping(spark, snap)
        .toPandas()
        .sort_values(["source", "quality"])
        .reset_index(drop=True)
    )
    batch_docs = (
        spark.read.schema(schema)
        .option("sep", ";")
        .option("header", True)
        .csv(str(src))
        .select("source", quality_score(F.col("text")).alias("quality"))
    )
    want = (
        quantile_normalize_map(batch_docs, "source", "quality")
        .toPandas()
        .sort_values(["source", "quality"])
        .reset_index(drop=True)
    )
    assert got.equals(want), (got, want)
    assert got.c.sum() == 5  # exactly the 5 real docs; NULL text out


def test_normalization_mapping_reads_a_file_uri_snapshot(spark, tmp_path):
    """The score-count snapshot is found through its path's Hadoop
    FileSystem: a ``file://`` URI to an existing snapshot reads the
    same mapping as the plain path, and a URI to a missing one still
    raises FileNotFoundError."""
    from dasladen_spark.streaming.scoresync import normalization_mapping

    snap = tmp_path / "score_counts"
    spark.createDataFrame(
        [("src0", 0.25, 2), ("src0", 0.5, 1), ("src1", 0.5, 3)],
        "source STRING, quality DOUBLE, c BIGINT",
    ).write.parquet(str(snap))

    def mapping(path):
        return sorted(map(tuple, normalization_mapping(spark, path).collect()))

    want = mapping(str(snap))
    assert len(want) == 3
    assert mapping(snap.as_uri()) == want
    with pytest.raises(FileNotFoundError):
        normalization_mapping(spark, (tmp_path / "missing").as_uri())


def test_decontaminate_gate_semantic_batch_parity(spark, tmp_path):
    """Semantic decontamination gate: a doc within `threshold`
    cosine of a benchmark vector quarantines at ingestion with
    (nearest_bench_id, max_cosine); the accept set EQUALS the batch
    task's method: semantic clean set over the same corpus (shared
    operators/decontaminate.decontamination_hits pipeline)."""
    import json

    from dasladen_spark.streaming.intake import (
        run_decontaminate_gate,
        stream_document_folder,
    )

    docs = [
        {"doc_id": 1, "embedding": [0.9, 0.1, 0.0, 0.0]},
        {"doc_id": 2, "embedding": [0.0, 1.0, 0.0, 0.0]},
        {"doc_id": 3, "embedding": [0.0, 0.0, 1.0, 0.0]},
    ]
    src = tmp_path / "drops"
    src.mkdir()
    (src / "a.jsonl").write_text("\n".join(json.dumps(d) for d in docs[:2]))
    (src / "b.jsonl").write_text(json.dumps(docs[2]))
    bench = spark.createDataFrame(
        [(9, [1.0, 0.0, 0.0, 0.0])],
        "doc_id long, embedding array<double>",
    )

    acc, quar, ckpt = (
        str(tmp_path / "accept"), str(tmp_path / "quar"), str(tmp_path / "ck")
    )
    scratch: list = []
    q = run_decontaminate_gate(
        stream_document_folder(
            spark, str(src), "doc_id long, embedding array<double>"
        ),
        bench, acc, quar, ckpt,
        method="semantic", threshold=0.8, scratch=scratch,
    )
    q.awaitTermination(120)

    got_acc = {r["doc_id"] for r in spark.read.parquet(acc).collect()}
    quar_rows = spark.read.parquet(quar).collect()
    assert got_acc == {2, 3}
    assert [r["doc_id"] for r in quar_rows] == [1]
    assert quar_rows[0]["nearest_bench_id"] == 9
    assert quar_rows[0]["max_cosine"] > 0.8

    # batch parity: method: semantic task over the same corpus
    wd = tmp_path / "task"
    for sub in ("input", "output", "done"):
        (wd / sub).mkdir(parents=True)
    with open(wd / "input" / "docs.json", "w", encoding="utf-8") as f:
        for d in docs:
            f.write(json.dumps(d) + "\n")
    with open(wd / "input" / "bench.json", "w", encoding="utf-8") as f:
        f.write(json.dumps({"doc_id": 9,
                            "embedding": [1.0, 0.0, 0.0, 0.0]}) + "\n")
    from dasladen_spark.connections import ConnectionRegistry
    from dasladen_spark.tasks import TaskContext, run_decontaminate

    run_decontaminate(
        TaskContext(
            spark,
            ConnectionRegistry(None),
            input_path=str(wd / "input"),
            output_path=str(wd / "output"),
        ),
        {
            "name": "par-sem",
            "type": "decontaminate",
            "method": "semantic",
            "threshold": 0.8,
            "source": {"kind": "json", "file": "docs.json",
                       "schema": "doc_id BIGINT, embedding ARRAY<DOUBLE>"},
            "bench": {"kind": "json", "file": "bench.json",
                      "schema": "doc_id BIGINT, embedding ARRAY<DOUBLE>"},
            "id_field": "doc_id",
            "target": {"file": "clean.parquet", "truncate": True},
        },
    )
    batch_clean = {
        r["doc_id"]
        for r in spark.read.parquet(
            str(wd / "output" / "clean.parquet")
        ).collect()
    }
    assert batch_clean == got_acc
    for c in scratch:
        c.unpersist()
