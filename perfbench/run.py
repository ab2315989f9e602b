"""Task-file benchmark for dasladen_spark.

    python3 perfbench/run.py --workload etl_small_files --seed 1 --seconds 10 --trace 0

Run from the repository root. One run is one fresh process, as a CLI
user pays it: it starts the library's session (``get_spark()`` with
its default configuration on ``local[nproc]``), generates the
workload's inputs from ``--seed``, runs ops in a closed loop with one
client for ``--seconds`` (whole cycles of the workload's shapes, at
least one op), checks every output after the loop, and prints one
JSON object as the last line of standard output::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on
spans around the program's layer boundaries and the Spark event log,
and reports the per-layer metrics instead (see ``LAYERS.md``). The
line before it is a context record: input sizes, per-op latencies,
the failure ratio and a fixed-JVM-loop machine calibration taken
before and after the run. Scratch files live under
``.perfbench_work/`` in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


def process_age_s() -> float:
    """Seconds since this process started (clock-tick resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


AGE_AT_START = process_age_s()


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot; steal is time
    the hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(values: list[float], min_beyond: int = 10) -> tuple[float, float] | None:
    """The highest percentile with at least ``min_beyond`` samples above
    it, as (percentile, value); None when there are too few samples."""
    n = len(values)
    k = n - min_beyond  # 1-based rank with min_beyond samples beyond
    if k < 1:
        return None
    q = 100 * (k - 1) / (n - 1) if n > 1 else 0.0
    return q, percentile(values, q)


def calibrate(spark, cores: int) -> float:
    """Wall time of a fixed pure-JVM loop, run twice, the second time
    timed (the first pays code generation). A shared virtual machine
    changes speed between phases, so every run records it beside its
    metrics."""
    query = spark.range(20_000_000, numPartitions=4 * cores).selectExpr("sum(id * 2 + 1)")
    query.collect()
    t0 = time.perf_counter()
    query.collect()
    return time.perf_counter() - t0


def instrument(tracer: spans.Tracer) -> None:
    """Wrap the program's layer boundaries in spans."""
    from dasladen_spark import connections, tasks
    from dasladen_spark.plans import llm4
    from dasladen_spark.runner import Runner, TaskRunner, Watcher

    tracer.wrap(Watcher, "check", "runner.watch")
    tracer.wrap(Runner, "__init__", "runner.parse")
    tracer.wrap(TaskRunner, "run", "runner.run")
    for kind, fn in list(tasks.TASK_TYPES.items()):
        label = "tasks.etl" if fn is tasks.run_etl else f"tasks.{kind}"
        tasks.TASK_TYPES[kind] = tracer.traced(fn, label)

    def path_of(resolve, key):
        def annotate(args, kwargs):
            ctx, task = args[0], args[1]
            spec = task.get(key) or {}
            return {"path": resolve(ctx, spec) if "file" in spec else None}

        return annotate

    tracer.wrap(tasks, "_read_source", "sources.read", path_of(tasks._src_path, "source"))
    tracer.wrap(tasks, "apply_transforms", "transforms.apply")
    tracer.wrap(tasks, "_write_sink", "sinks.write", path_of(tasks._tgt_path, "target"))
    tracer.wrap(connections.Connection, "read_sql", "connections.read_sql")
    tracer.wrap(connections.Connection, "write_table", "connections.write_table")
    tracer.wrap(llm4, "run_corpus_pipeline", "plans.build")


#: task kinds reported as tasks.<kind>_s
TASK_KINDS = ("etl", "intake", "dedup", "score", "decontaminate", "sample", "pack")


def layer_metrics(tracer, ops, per_op, job_span, cores) -> dict[str, float]:
    """Per-layer metrics of the measured ops, each a mean per op."""
    measured = {op["id"] for op in ops}
    n = len(ops)
    all_spans = {s["id"]: s for s in tracer.spans}
    sp = [s for s in tracer.spans if s["op"] in measured]
    own = spans.self_times(tracer.spans)

    def dur(name):
        return sum(s["end"] - s["start"] for s in sp if s["name"] == name)

    def self_of(prefix):
        return sum(own[s["id"]] for s in sp if s["name"].startswith(prefix))

    def within(s, name):
        """The span itself or its nearest ancestor called ``name``."""
        while s is not None and s["name"] != name:
            s = all_spans.get(s["parent"])
        return s

    def jobs_under(name, innermost=False):
        count = 0
        for sid in job_span.values():
            s = all_spans.get(sid)
            if s is None or s["op"] not in measured:
                continue
            count += s["name"] == name if innermost else within(s, name) is not None
        return count

    watched_runs = sum(
        s["end"] - s["start"]
        for s in sp
        if s["name"] == "runner.run" and within(s, "runner.watch") is not None
    )

    src = [op["sources"] for op in ops]
    snk = [op["sinks"] for op in ops]
    out_bytes = sum(d["bytes"] for d in snk)
    in_bytes = sum(op["in_bytes"] for op in ops)
    m = {
        "runner.parse_s": dur("runner.parse"),
        "runner.watch_s": dur("runner.watch") - watched_runs,
        "runner.overhead_s": self_of("runner.run"),
        "tasks.self_s": self_of("tasks."),
        **{f"tasks.{k}_s": dur(f"tasks.{k}") for k in TASK_KINDS},
        "sources.read_s": dur("sources.read"),
        "sources.read_jobs": jobs_under("sources.read"),
        "sources.input_bytes": sum(d["bytes"] for d in src),
        "sources.input_rows": sum(d["rows"] for d in src),
        "transforms.apply_s": dur("transforms.apply"),
        "sinks.write_s": dur("sinks.write"),
        "sinks.output_bytes": out_bytes,
        "sinks.output_files": sum(d["files"] for d in snk),
        "sinks.output_rows": sum(d["rows"] for d in snk),
        "connections.read_sql_s": dur("connections.read_sql"),
        "connections.write_table_s": dur("connections.write_table"),
        "plans.build_s": self_of("plans.build"),
        "plans.build_jobs": jobs_under("plans.build", innermost=True),
    }
    counters = dict.fromkeys(spans.COUNTERS, 0)
    for op in ops:
        for k, v in per_op.get(op["id"], {}).items():
            counters[k] += v
    m.update({f"spark.{k}": v for k, v in counters.items()})
    m = {k: v / n for k, v in m.items()}
    busy = sum(op["latency_s"] for op in ops) * cores
    m["sinks.out_bytes_per_in_byte"] = out_bytes / in_bytes if in_bytes else 0.0
    m["spark.executor_busy_ratio"] = counters["executor_run_s"] / busy
    m["trace.op_s.p50"] = statistics.median(op["latency_s"] for op in ops)
    m["trace.overhead_s"] = sum(op["trace_overhead_s"] for op in ops) / n
    return m


def _sum_describe(paths) -> dict:
    total = {"rows": 0, "bytes": 0, "files": 0, "row_groups": 0}
    for p in sorted(set(paths)):
        if p and os.path.exists(p):
            for k, v in gen.describe(p).items():
                total[k] += v
    return total


def start_session(trace: bool, work: str):
    """The library's session on local[nproc], plus its first job.
    Returns (spark, timings); the traced run also writes the event
    log under ``work``."""
    from dasladen_spark.session import get_spark

    extra = None
    if trace:
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        }
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=extra)
    t1 = time.perf_counter()
    spark.range(1).count()
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, {
        "setup_s": AGE_AT_START + t2 - T_START,
        "session.get_spark_s": t1 - t0,
        "session.first_job_s": t2 - t1,
    }


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cores = len(os.sched_getaffinity(0))
    base = os.path.abspath(".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, d))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the JVM's temp files stay inside the checkout too (no /tmp perf data)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    os.chdir(work)  # derby.log, spark-warehouse land here

    spark, session = start_session(bool(args.trace), work)
    from pyspark import SparkContext

    jvm_pid = SparkContext._gateway.proc.pid
    tracer = spans.Tracer(spark.sparkContext) if args.trace else None
    marks = {"setup": time.perf_counter()}
    calib_before = calibrate(spark, cores)
    marks["calibration_before"] = time.perf_counter()
    wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, cores)
    if tracer:
        instrument(tracer)
    marks["inputs"] = time.perf_counter()

    failures: list[str] = []

    def run_one(i: int, label: str) -> dict:
        op = wl.prepare_op(i)
        op["id"] = label
        if tracer:
            tracer.set_op(label)
            ov0 = tracer.overhead_s
        t = time.perf_counter()
        try:
            ok = wl.run_op(op)
            op["error"] = None if ok else "the watcher reported an error"
        except Exception as ex:  # noqa: BLE001 - a failed op is counted, not fatal
            op["error"] = f"{type(ex).__name__}: {ex}"
        op["latency_s"] = time.perf_counter() - t
        if tracer:
            tracer.set_op(None)
            op["trace_overhead_s"] = tracer.overhead_s - ov0
            mine = [s for s in tracer.spans if s["op"] == label]
            op["sources"] = _sum_describe(s["path"] for s in mine if s["name"] == "sources.read")
            op["sinks"] = _sum_describe(s["path"] for s in mine if s["name"] == "sinks.write")
        if op["error"] is None:
            op["error"] = wl.check(op)
        if op["error"] is not None:
            failures.append(f"{label} ({op['type']}): {op['error']}")
        wl.cleanup(op)
        return op

    for i in range(wl.warmup_ops):
        run_one(i, f"warm{i}")
    marks["warmup"] = loop_start = time.perf_counter()
    steal0, total0 = cpu_ticks()
    ops: list[dict] = []
    i = wl.warmup_ops
    while not ops or (i - wl.warmup_ops) % wl.cycle or time.perf_counter() - loop_start < args.seconds:
        ops.append(run_one(i, f"op{i}"))
        i += 1
    marks["loop"] = time.perf_counter()
    steal1, total1 = cpu_ticks()
    calib_after = calibrate(spark, cores)
    marks["calibration_after"] = time.perf_counter()
    peak_rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb(os.getpid())
    stop_session(spark)
    marks["stop"] = time.perf_counter()

    phases, prev = {"setup": session["setup_s"]}, marks.pop("setup")
    for name, t in marks.items():
        phases[name], prev = t - prev, t
    lat = [op["latency_s"] for op in ops]
    attempted = len(ops) + wl.warmup_ops
    tail = tail_percentile(lat)
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": cores,
        "calibration_s": {"before": calib_before, "after": calib_after},
        "phase_s": phases,
        "loop_cpu_steal_ratio": (steal1 - steal0) / max(total1 - total0, 1),
        "peak_rss_mb": peak_rss_mb,
        "inputs": wl.describe_inputs(),
        "ops": len(ops),
        "op_latency_s": lat,
        "op_s.tail": None if tail is None else {"percentile": tail[0], "value": tail[1], "n": len(lat)},
        "fail_ratio": len(failures) / attempted,
        "failures": failures,
        "rows_per_op": [op["rows"] for op in ops],
        "in_bytes_per_op": [op["in_bytes"] for op in ops],
    }
    if tracer:
        per_op, job_span = spans.fold_event_log(
            spans.find_event_log(os.path.join(work, "eventlog"))
        )
        metrics = {
            "session.get_spark_s": session["session.get_spark_s"],
            "session.first_job_s": session["session.first_job_s"],
            "session.peak_rss_mb": peak_rss_mb,
            **layer_metrics(tracer, ops, per_op, job_span, cores),
        }
        context["unlabelled_jobs"] = per_op.get(None, {}).get("jobs", 0)
    else:
        busy = sum(lat)
        metrics = {
            "setup_s": session["setup_s"],
            "op_s.p50": statistics.median(lat),
            "ops_per_s": len(ops) / busy,
            "rows_per_s": sum(op["rows"] for op in ops) / busy,
        }

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        declared = json.load(f)
    unit_of = {m["name"]: m["unit"] for m in declared["end_to_end"] + declared["per_layer"]}
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{args.workload}-s{args.seed}-t{args.trace}")
    if tracer:
        tracer.write(stem + ".spans.jsonl")
    with open(stem + ".json", "w", encoding="utf-8") as f:
        json.dump({"context": context, "metrics": metrics}, f, indent=1)
    os.chdir(ROOT)
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"context": context}))
    print(
        json.dumps(
            {
                "correct": not failures,
                "attempted": attempted,
                "failed": len(failures),
                "metrics": {k: {"value": v, "unit": unit_of[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
