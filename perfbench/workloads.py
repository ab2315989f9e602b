"""The benchmark's workloads: seeded inputs, one op, output checks.

A workload object prepares each op's inputs untimed, runs one op per
``run_op`` call (the caller times it) and checks the op's output
after the timer stops, so checking never lands in a latency.

- ``etl_small_files``: small task files dropped one at a time into
  ``capture/`` and handled by ``Watcher.check()``, cycling through the
  reference's ETL shapes. Op = one task file.
- ``curation_chain``: ``plans.llm4.run_corpus_pipeline`` over a
  seeded corpus. Op = one whole ten-stage pipeline run.
"""

from __future__ import annotations

import csv
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow.parquet as pq

import gen

# ------------------------------------------------------------- checks


def _render(kind: str, v) -> str:
    if kind == "f":
        return repr(float(v))
    if kind == "i":
        return str(int(v))
    return gen.cell_text(v)


def row_hash(cols: dict[str, str], rows) -> tuple[int, str]:
    """Order-insensitive hash of ``rows`` (dicts) over the named
    columns, each rendered by its kind: ``i`` int, ``f`` float, ``s``
    text. Returns (row count, hex digest)."""
    names = sorted(cols)
    lines = sorted(
        "|".join(_render(cols[c], r[c]) for c in names) for r in rows
    )
    h = hashlib.sha256(("\n".join(names) + "\n\n" + "\n".join(lines)).encode())
    return len(lines), h.hexdigest()


def read_output(path: str) -> list[dict]:
    """Rows of a CSV sink file or a parquet sink directory."""
    if path.endswith(".csv"):
        with open(path, newline="", encoding="utf-8") as f:
            return list(csv.DictReader(f, delimiter=";"))
    return pq.read_table(path).to_pylist()


# ------------------------------------------------------ etl small files

#: one cycle of the reference's everyday ETL shapes. Each entry: task
#: type, rows per input file (fixed, so that only the content varies
#: with the seed), input format, transform block, output column kinds,
#: and the row predicate and mapping the transform applies (the
#: recomputation the output is checked against).
_NUM = {
    "l_orderkey": "i",
    "l_partkey": "i",
    "l_suppkey": "i",
    "l_linenumber": "i",
    "l_quantity": "f",
    "l_extendedprice": "f",
    "l_discount": "f",
    "l_tax": "f",
}
_TYPED = {c: _NUM.get(c, "s") for c in gen.LINEITEM_COLS}
_TEXT = dict.fromkeys(gen.LINEITEM_COLS, "s")


def _lower_flag(r):
    return {**r, "l_returnflag": r["l_returnflag"].lower()}


def _rename(r, old, new):
    r = dict(r)
    r[new] = r.pop(old)
    return r


def _drop(r, *cols):
    return {k: v for k, v in r.items() if k not in cols}


XML_MAPPING = {
    "orderkey": "l_orderkey",
    "quantity": "l_quantity",
    "price": "l_extendedprice",
    "flag": "l_returnflag",
}

SHAPES = [
    {
        "type": "csv-csv",
        "rows": 2000,
        "fmt": "csv",
        "transform": {
            "convert": [["l_quantity", "float"], ["l_returnflag", "lower"]],
            "filter": "{l_quantity} > 10",
            "rename": [["l_tax", "tax"]],
        },
        "kinds": {**_rename(_TEXT, "l_tax", "tax"), "l_quantity": "f"},
        "keep": lambda r: r["l_quantity"] > 10,
        "map": lambda r: _rename(_lower_flag(r), "l_tax", "tax"),
    },
    {
        "type": "csv-parquet",
        "rows": 5000,
        "fmt": "csv",
        "transform": {
            "convert": [
                ["l_orderkey", "int"],
                ["l_quantity", "float"],
                ["l_extendedprice", "float"],
            ],
            "filter": "{l_quantity} >= 5",
            "remove": ["l_shipdate"],
            "rename": [["l_extendedprice", "price"]],
        },
        "kinds": {
            **_drop(_rename(_TEXT, "l_extendedprice", "price"), "l_shipdate"),
            "l_orderkey": "i",
            "l_quantity": "f",
            "price": "f",
        },
        "keep": lambda r: r["l_quantity"] >= 5,
        "map": lambda r: _rename(_drop(r, "l_shipdate"), "l_extendedprice", "price"),
    },
    {
        "type": "parquet-csv",
        "rows": 3000,
        "fmt": "parquet",
        "transform": {
            "filter": "{l_discount} < 0.05",
            "rename": [["l_linestatus", "status"]],
        },
        "kinds": _rename(_TYPED, "l_linestatus", "status"),
        "keep": lambda r: r["l_discount"] < 0.05,
        "map": lambda r: _rename(r, "l_linestatus", "status"),
    },
    {
        "type": "xml-csv",
        "rows": 1000,
        "fmt": "xml",
        "source": {"row": "row", "mapping": XML_MAPPING},
        "transform": {"filter": "{quantity} > 20"},
        "kinds": {"orderkey": "i", "quantity": "f", "price": "f", "flag": "s"},
        "keep": lambda r: r["l_quantity"] > 20,
        "map": lambda r: {k: r[v] for k, v in XML_MAPPING.items()},
    },
    {
        "type": "json-parquet",
        "rows": 4000,
        "fmt": "json",
        "transform": {"filter": "{l_returnflag} == 'R'", "remove": ["l_shipdate"]},
        "kinds": _drop(_TYPED, "l_shipdate"),
        "keep": lambda r: r["l_returnflag"] == "R",
        "map": lambda r: _drop(r, "l_shipdate"),
    },
    {
        "type": "csv-db",
        "rows": 2500,
        "fmt": "csv",
        "transform": {
            "convert": [["l_orderkey", "int"], ["l_quantity", "float"]],
            "filter": "{l_quantity} > 10",
        },
        "kinds": {**_TEXT, "l_orderkey": "i", "l_quantity": "f"},
        "keep": lambda r: r["l_quantity"] > 10,
        "map": lambda r: r,
    },
    # reads back the table the csv-db file just loaded
    {"type": "db-csv", "fmt": None},
]


WARMUP_ROWS = 300


class EtlSmallFiles:
    name = "etl_small_files"
    cycle = len(SHAPES)
    warmup_ops = len(SHAPES)

    def __init__(self, spark, work: str, seed: int, cores: int):
        from dasladen_spark.runner import Watcher

        self.spark = spark
        self.rng = np.random.default_rng(seed)
        self.input = os.path.join(work, "input")
        self.output = os.path.join(work, "output")
        self.capture = os.path.join(work, "capture")
        self.errors: list[str] = []
        self.derby = {
            "name": "derby",
            "driver": "JDBC",
            "url": f"jdbc:derby:memory:perfbench_{seed}_{os.getpid()};create=true",
            "jdbc_driver": "org.apache.derby.jdbc.EmbeddedDriver",
        }
        self.watcher = Watcher(
            spark,
            capture_path=self.capture,
            input_path=self.input,
            output_path=self.output,
            module_path=os.path.join(work, "module"),
            log_dir=os.path.join(work, "log"),
            log=self._log,
        )
        self.prepared: dict[int, dict] = {}

    def _log(self, msg: str) -> None:
        if msg.startswith("error processing"):
            self.errors.append(msg)

    def describe_inputs(self) -> dict:
        """Totals over the input files written so far (one per op that
        reads a file; the context line also lists them per op)."""
        files = [op for op in self.prepared.values() if op["in_bytes"]]
        return {
            "lineitem_files": {
                "files": len(files),
                "rows": sum(op["rows"] for op in files),
                "bytes": sum(op["in_bytes"] for op in files),
            }
        }

    def prepare_op(self, i: int) -> dict:
        """Write op ``i``'s input file and task file body (untimed)."""
        shape = SHAPES[i % self.cycle]
        task = {"name": f"op{i}", "type": shape["type"]}
        op = {"i": i, "type": shape["type"], "in_bytes": 0}
        if shape["fmt"] is None:  # db-csv: read what the csv-db op wrote
            prev = self.prepared[i - 1]
            task["source"] = {"connection": "derby", "command": f"SELECT * FROM t_{i - 1}"}
            op["kinds"], op["expected"] = prev["kinds"], prev["expected"]
            op["rows"] = prev["expected"][0]
        else:
            # warm-up files only need to run every code path once
            n = WARMUP_ROWS if i < self.warmup_ops else shape["rows"]
            cols = gen.lineitem_rows(self.rng, n, key_base=i * 10_000_000)
            fname = f"li_{i}.{'jsonl' if shape['fmt'] == 'json' else shape['fmt']}"
            path = os.path.join(self.input, fname)
            gen.WRITERS[shape["fmt"]](path, cols)
            rows = [dict(zip(cols, r)) for r in zip(*cols.values())]
            out = [shape["map"](r) for r in rows if shape["keep"](r)]
            op["kinds"] = shape["kinds"]
            op["expected"] = row_hash(shape["kinds"], out)
            op["rows"] = n
            op["in_bytes"] = os.path.getsize(path)
            task["source"] = {"file": fname, **shape.get("source", {})}
            task["transform"] = shape["transform"]
        if shape["type"].endswith("-db"):
            task["target"] = {"connection": "derby", "table": f"t_{i}", "truncate": True}
            op["table"] = f"t_{i}"
        else:
            ext = "csv" if shape["type"].endswith("-csv") else "parquet"
            task["target"] = {"file": f"out_{i}.{ext}", "truncate": True}
            op["out"] = os.path.join(self.output, f"out_{i}.{ext}")
        op["task_file"] = {"connections": [self.derby], "tasks": [task]}
        self.prepared[i] = op
        return op

    def run_op(self, op: dict) -> bool:
        """Drop the task file into capture/ and handle it. Returns False
        when the watcher reported an error for it."""
        path = os.path.join(self.capture, f"op{op['i']}.json")
        with open(path, "w", encoding="utf-8") as f:
            json.dump(op["task_file"], f)
        n_err = len(self.errors)
        self.watcher.check()
        return len(self.errors) == n_err

    def check(self, op: dict) -> str | None:
        """None when op's output matches its recomputation, else why."""
        if "table" in op:
            from dasladen_spark.connections import Connection

            n = Connection(self.derby).read_sql(
                self.spark, f"SELECT COUNT(*) AS n FROM {op['table']}"
            ).collect()[0][0]
            want = op["expected"][0]
            return None if n == want else f"derby rows {n}, expected {want}"
        if not os.path.exists(op["out"]):
            return "no output"
        rows = read_output(op["out"])
        got_cols = sorted(rows[0]) if rows else sorted(op["kinds"])
        if got_cols != sorted(op["kinds"]):
            return f"columns {got_cols}, expected {sorted(op['kinds'])}"
        got = row_hash(op["kinds"], rows)
        return None if got == op["expected"] else f"rows/hash {got} != {op['expected']}"

    def cleanup(self, op: dict) -> None:
        """Outputs stay until the run's scratch directory is removed."""


# ------------------------------------------------------ curation chain


#: corpus size: the sf0.1 fixture's document count
N_DOCS = 5000


class CurationChain:
    name = "curation_chain"
    cycle = 1
    warmup_ops = 0

    def __init__(self, spark, work: str, seed: int, cores: int):
        self.spark = spark
        self.root = work
        self.data = os.path.join(work, "data")
        table = gen.documents(np.random.default_rng(seed), N_DOCS)
        self.docs = os.path.join(self.data, "documents.parquet")
        gen.write_split_table(table, self.docs, n_files=4 * cores, row_groups=4)
        self.inputs = {"documents": gen.describe(self.docs)}
        self.expected = self._funnel_oracle()

    def describe_inputs(self) -> dict:
        return self.inputs

    def _funnel_oracle(self) -> list[tuple]:
        import duckdb

        from dasladen_spark.plans import ORACLES

        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{self.docs}/*.parquet')"
            )
            return sorted(tuple(r) for r in con.execute(ORACLES["pipeline_corpus_e2e"]).fetchall())
        finally:
            con.close()

    def prepare_op(self, i: int) -> dict:
        work = os.path.join(self.root, f"op{i}")
        os.makedirs(work)
        return {
            "i": i,
            "type": "pipeline",
            "work": work,
            "rows": self.inputs["documents"]["rows"],
            "in_bytes": self.inputs["documents"]["bytes"],
        }

    def run_op(self, op: dict) -> bool:
        from dasladen_spark.plans import llm4

        funnel = llm4.run_corpus_pipeline(self.spark, self.data, op["work"])
        op["funnel"] = sorted(tuple(r) for r in funnel.collect())
        return True

    def check(self, op: dict) -> str | None:
        got = op.get("funnel")
        return None if got == self.expected else f"funnel {got} != oracle {self.expected}"

    def cleanup(self, op: dict) -> None:
        shutil.rmtree(op["work"], ignore_errors=True)


WORKLOADS = {w.name: w for w in (EtlSmallFiles, CurationChain)}
