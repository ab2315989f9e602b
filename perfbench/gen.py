"""Seeded inputs for the benchmark workloads.

Every input is a pure function of the seed: the same seed writes the
same bytes. The shapes follow the fixture tables the repository's
queries and oracles are written against (TPC-H-like ``lineitem``
rows and the ``documents`` corpus: 31-word vocabulary, 10-100 tokens
per document, five languages, twenty sources), so the DuckDB funnel
oracle applies unchanged.

The corpus is written as a directory of ``4 x cores`` parquet files,
each cut into small row groups, so a scan can split across every core
instead of reading one single-row-group file in one task.
"""

from __future__ import annotations

import json
import os
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the fixture corpus vocabulary (documents.text is words from this
#: list joined by single spaces)
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash "
    "join key line merge order part query row scan slow small sort "
    "spark stream table the value vector window"
).split()
LANGS = ("en", "de", "fr", "es", "zh")
N_SOURCES = 20

#: lineitem columns of the ETL inputs; l_shipdate stays a plain
#: yyyy-mm-dd string so every source format carries it unchanged
LINEITEM_COLS = (
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
    "l_returnflag",
    "l_linestatus",
    "l_shipdate",
)
_DAY0 = np.datetime64("1995-01-02")


def lineitem_rows(rng: np.random.Generator, n: int, key_base: int) -> dict:
    """``n`` lineitem-shaped rows as column lists (Python values).

    ``key_base`` shifts the order keys, gen_sf-style, so the rows of
    different files never share keys."""
    days = rng.integers(0, 2498, n)
    return {
        "l_orderkey": (key_base + np.sort(rng.integers(0, n // 4 + 1, n))).tolist(),
        "l_partkey": rng.integers(0, 20000, n).tolist(),
        "l_suppkey": rng.integers(0, 1000, n).tolist(),
        "l_linenumber": rng.integers(1, 8, n).tolist(),
        "l_quantity": rng.integers(1, 51, n).astype(float).tolist(),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n), 2).tolist(),
        "l_discount": (rng.integers(0, 11, n) / 100).tolist(),
        "l_tax": (rng.integers(0, 9, n) / 100).tolist(),
        "l_returnflag": rng.choice(["A", "N", "R"], n).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n).tolist(),
        "l_shipdate": [str(_DAY0 + int(d)) for d in days],
    }


def cell_text(v) -> str:
    """A value as the text inputs carry it (floats round-trip exactly)."""
    return repr(v) if isinstance(v, float) else str(v)


def write_csv(path: str, cols: dict, delimiter: str = ";") -> None:
    names = list(cols)
    with open(path, "w", encoding="utf-8") as f:
        f.write(delimiter.join(names) + "\n")
        for row in zip(*cols.values()):
            f.write(delimiter.join(cell_text(v) for v in row) + "\n")


def write_parquet(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def write_jsonl(path: str, cols: dict) -> None:
    names = list(cols)
    with open(path, "w", encoding="utf-8") as f:
        for row in zip(*cols.values()):
            f.write(json.dumps(dict(zip(names, row))) + "\n")


def write_xml(path: str, cols: dict) -> None:
    """``<data><row><field>value</field>...</row>...</data>``, the
    row/value shape of the reference's XML source."""
    names = list(cols)
    with open(path, "w", encoding="utf-8") as f:
        f.write("<data>\n")
        for row in zip(*cols.values()):
            f.write(
                "<row>"
                + "".join(f"<{k}>{escape(cell_text(v))}</{k}>" for k, v in zip(names, row))
                + "</row>\n"
            )
        f.write("</data>\n")


WRITERS = {
    "csv": write_csv,
    "parquet": write_parquet,
    "json": write_jsonl,
    "xml": write_xml,
}


# ------------------------------------------------------------ corpus


def _mutated(rng: np.random.Generator, toks: list[str], every: int) -> list[str]:
    """Copy of ``toks`` with every ``every``-th token replaced: the copy
    shares runs of ``every - 1`` tokens with its original."""
    out = list(toks)
    for i in range(every - 1, len(out), every):
        out[i] = VOCAB[int(rng.integers(len(VOCAB)))]
    return out


def documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """The ``documents`` table: random fixture-vocabulary texts plus
    planted duplicates, so every funnel stage has work to do:

    - 1 % exact copies of an earlier document (fingerprint dedup);
    - 8 % near-copies sharing 11-token runs with an earlier document
      (duplicated-span coverage above the 0.5 drop threshold);
    - lengths of 10-100 tokens (the 25-token minimum-length gate)."""
    texts: list[str] = []
    toks_of: list[list[str]] = []
    kind = rng.random(n_docs)
    for i in range(n_docs):
        if i > 10 and kind[i] < 0.01:
            toks = toks_of[int(rng.integers(i))]
        elif i > 10 and kind[i] < 0.09:
            toks = _mutated(rng, toks_of[int(rng.integers(i))], 12)
        else:
            n_tok = int(rng.integers(10, 101))
            toks = [VOCAB[j] for j in rng.integers(0, len(VOCAB), n_tok)]
        toks_of.append(toks)
        texts.append(" ".join(toks))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n_docs).tolist(), pa.string()),
            "source": pa.array(
                [f"src{j}" for j in rng.integers(0, N_SOURCES, n_docs)], pa.string()
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_split_table(table: pa.Table, path: str, n_files: int, row_groups: int) -> None:
    """``path`` as a directory of ``n_files`` parquet files, each cut
    into ``row_groups`` row groups."""
    os.makedirs(path, exist_ok=True)
    per_file = -(-table.num_rows // n_files)
    for k in range(n_files):
        part = table.slice(k * per_file, per_file)
        pq.write_table(
            part,
            os.path.join(path, f"part-{k:05d}.parquet"),
            row_group_size=max(1, -(-part.num_rows // row_groups)),
        )


# ------------------------------------------------------ description


def describe(path: str) -> dict:
    """Rows, bytes, files and row groups of one input or output (a file
    or a directory tree; names starting with ``_`` or ``.`` are
    bookkeeping and skipped). Rows come from parquet footers, or from
    the line count of a text file (minus the CSV header and the XML
    root tags); other files count bytes only."""
    if os.path.isdir(path):
        files = []
        for root, dirs, names in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            files += [os.path.join(root, n) for n in names if not n.startswith(("_", "."))]
    else:
        files = [path]
    out = {"rows": 0, "bytes": 0, "files": 0, "row_groups": 0}
    for f in files:
        out["files"] += 1
        out["bytes"] += os.path.getsize(f)
        if f.endswith(".parquet"):
            md = pq.ParquetFile(f).metadata
            out["rows"] += md.num_rows
            out["row_groups"] += md.num_row_groups
        elif f.endswith((".csv", ".json", ".jsonl", ".xml")):
            with open(f, "rb") as fh:
                n = sum(1 for _ in fh)
            out["rows"] += n - {".csv": 1, ".xml": 2}.get(os.path.splitext(f)[1], 0)
    return out
