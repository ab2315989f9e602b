"""Local replica of the driver's correctness gate.

Runs every `queries()` entry on Spark and its `oracle_sql()` on
DuckDB at the given sf_dir, then compares row count, schema shape,
and an order-insensitive VALUE HASH: columns sorted by name, rows
sorted, every cell rendered to a canonical string.  Two frames match
only if the rendered bytes are identical — a Spark `Decimal` vs an
oracle float64, or int64 vs float64, is a FAIL even when the values
are numerically equal (this mirrors the driver's hash, which r01
showed distinguishes representations; the old cross-type
float(x)==float(y) fallback masked 18 graded failures).

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dasladen_spark.session import TABLES, get_spark  # noqa: E402


def load_entry():
    import __spark_entry__ as e

    return e.queries(), e.oracle_sql()


def duck_conn(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def duck_df(con, sql: str) -> pd.DataFrame:
    """Execute oracle SQL with CORRECTLY-ROUNDED decimal exits.

    duckdb's .df() converts DECIMAL columns to float64 as
    int128 × 10^-scale in float math, which lands one ulp off the
    nearest double at unlucky magnitudes (first seen at sf1:
    q1_pricing_summary's sum_charge, exact decimal identical on both
    engines, duck's float64 one ulp high). Spark's exit path
    (registry._normalize_result → BigDecimal cast) rounds correctly,
    so the honest comparison converts duck decimals the same way:
    fetch arrow (exact decimal128), then python float(Decimal) —
    correctly rounded by construction. Non-decimal results keep the
    plain .df() path untouched."""
    import pyarrow as pa

    res = con.execute(sql)
    tab = res.fetch_arrow_table()
    if not any(pa.types.is_decimal(f.type) for f in tab.schema):
        return tab.to_pandas(date_as_object=False)
    # date_as_object=False: match .df()'s datetime64 dates (the
    # arrow default yields datetime.date objects — a representation
    # change, not a value change)
    pdf = tab.to_pandas(date_as_object=False)
    for f in tab.schema:
        if pa.types.is_decimal(f.type):
            pdf[f.name] = (
                pdf[f.name]
                .map(lambda v: None if v is None else float(v))
                .astype("float64")
            )
    return pdf


def render_cell(v) -> str:
    """Canonical string for one cell — representation-sensitive.

    None/NaN/NaT unify to '∅' (both engines may surface SQL NULL
    differently), floats render via repr (bit-exact for float64),
    numpy scalars unwrap via .item() so int64(3) == int(3), and
    everything else falls back to repr of the python object — so a
    decimal.Decimal, date-vs-datetime, or str-vs-bytes difference is
    visible exactly as a hash would see it.
    """
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "∅" if math.isnan(v) else repr(v)
    item = getattr(v, "item", None)
    if item is not None and not isinstance(v, (bytes, str)):
        try:
            v = v.item()
        except (ValueError, TypeError):
            pass
        if isinstance(v, float):
            return "∅" if math.isnan(v) else repr(v)
    if v is pd.NaT or (isinstance(v, pd.Timestamp) and pd.isna(v)):
        return "∅"
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(render_cell(x) for x in v) + "]"
    return f"{type(v).__name__}:{v!r}"


def render(df: pd.DataFrame) -> list[str]:
    """Order-insensitive canonical lines: columns sorted by name, each
    row rendered, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    rows = [
        "|".join(render_cell(v) for v in row)
        for row in df.itertuples(index=False, name=None)
    ]
    rows.sort()
    return rows


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
    sc, dc = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if sc != dc:
        problems.append(f"columns spark={sc} duck={dc}")
        return problems
    if problems:
        return problems
    a, b = render(spark_pdf), render(duck_pdf)
    # multiset compare, NOT sorted-zip: one differing cell shifts the
    # sort order and a positional zip then misreports every following
    # row as different (sf1's funnel showed "5/5 rows differ" for a
    # single-cell divergence). Counter diff reports TRUE damage.
    from collections import Counter

    only_a = Counter(a) - Counter(b)
    only_b = Counter(b) - Counter(a)
    if only_a or only_b:
        n_bad = max(sum(only_a.values()), sum(only_b.values()))
        ex_a = next(iter(sorted(only_a)), "")
        ex_b = next(iter(sorted(only_b)), "")
        problems.append(
            f"{n_bad}/{len(a)} rendered rows differ, first:\n"
            f"    spark={ex_a[:300]}\n    duck ={ex_b[:300]}"
        )
    return problems


# ---------------------------------------------------------------- value
# checks for the queries that have NO SQL oracle (eigensolve, d×d
# inverse, Spark-native HLL++ internals). Each replays the query's
# existing differential — numpy for linalg, exact-sibling error
# envelope for sketches — so the gate reports BOUNDED VALUES for
# every registered query, not shape-only (round-11 verdict ask 6).
# Signature: fn(spark_pdf, con, oracles) -> list[str] of problems.


def _emb_matrix(con):
    import numpy as np

    d = con.execute(
        "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id"
    ).df()
    ids = d["vec_id"].to_numpy()
    x = np.stack([np.asarray(e, dtype=np.float64) for e in d["embedding"]])
    return ids, x


def _check_pca_variance(pdf, con, oracles):
    import numpy as np

    _, x = _emb_matrix(con)
    mu = x.mean(axis=0)
    cov = (x.T @ x) / len(x) - np.outer(mu, mu)
    evals = np.maximum(np.linalg.eigvalsh(cov)[::-1], 0.0)
    ratios = evals / evals.sum()
    probs = []
    got = pdf.sort_values("component")
    if list(got["component"]) != list(range(1, 9)):
        return [f"components {list(got['component'])}"]
    for i, (ev, ratio) in enumerate(
        zip(got["eigenvalue"], got["explained_ratio"])
    ):
        if abs(ev - evals[i]) > 1e-6 * max(abs(evals[i]), 1e-9) + 1e-9:
            probs.append(f"eigenvalue[{i}] {ev} vs numpy {evals[i]}")
        if abs(ratio - ratios[i]) > 1e-6:
            probs.append(f"ratio[{i}] {ratio} vs numpy {ratios[i]}")
    return probs


def _check_whiten(pdf, con, oracles):
    probs = []
    if len(pdf) != 64:
        probs.append(f"{len(pdf)} dims, expected 64")
    bad = pdf[(pdf["variance"] - 1.0).abs() > 1e-2]
    if len(bad):
        probs.append(
            f"{len(bad)} dims off identity covariance, worst "
            f"{bad['variance'].iloc[0]}"
        )
    return probs


def _check_mahalanobis(pdf, con, oracles):
    import numpy as np

    ids, x = _emb_matrix(con)
    mean = x.sum(axis=0) / len(x)
    cov = (x.T @ x) / len(x) - np.outer(mean, mean) + 1e-6 * np.eye(
        x.shape[1]
    )
    inv = np.linalg.inv(cov)
    c = x - mean
    d = np.sqrt(np.maximum(np.einsum("ij,jk,ik->i", c, inv, c), 0.0))
    order = np.lexsort((ids, -d))[: len(pdf)]
    probs = []
    if list(pdf["vec_id"]) != ids[order].tolist():
        probs.append("outlier id ordering differs from numpy replay")
    else:
        for got, i in zip(pdf["mahalanobis"], order):
            if abs(got - d[i]) > 1e-5:
                probs.append(f"distance {got} vs numpy {d[i]}")
                break
    return probs


def _check_approx_sketches(pdf, con, oracles):
    exact = con.execute(
        "SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS n,"
        " MEDIAN(l_extendedprice) AS med FROM lineitem GROUP BY 1"
    ).df()
    probs = []
    ex = {
        r.l_returnflag: (r.n, r.med) for r in exact.itertuples(index=False)
    }
    if set(pdf["l_returnflag"]) != set(ex):
        return [f"groups {sorted(pdf['l_returnflag'])} vs {sorted(ex)}"]
    for r in pdf.itertuples(index=False):
        n, med = ex[r.l_returnflag]
        if abs(r.approx_orders - n) / n > 0.05:
            probs.append(f"{r.l_returnflag}: approx_orders {r.approx_orders} vs exact {n}")
        if abs(r.approx_median - med) / med > 0.05:
            probs.append(f"{r.l_returnflag}: approx_median {r.approx_median} vs exact {med}")
    return probs


def _check_hll_rollup(pdf, con, oracles):
    # exact sibling's own oracle is the ground truth (same week keys)
    exact = con.execute(oracles["q_bitmap_distinct_rollup"]).df()
    ex = dict(zip(exact["week"], exact["distinct_users"]))
    got = dict(zip(pdf["week"], pdf["approx_distinct_users"]))
    if set(got) != set(ex):
        return [f"weeks differ: {len(got)} vs {len(ex)}"]
    probs = []
    for wk, n in ex.items():
        if abs(got[wk] - n) / n > 0.05:
            probs.append(f"week {wk}: {got[wk]} vs exact {n}")
    return probs


VALUE_CHECKS = {
    "embedding_pca_variance": _check_pca_variance,
    "embedding_whiten_check": _check_whiten,
    "embedding_mahalanobis_outliers": _check_mahalanobis,
    "q_approx_sketches": _check_approx_sketches,
    "q_hll_mergeable_rollup": _check_hll_rollup,
}


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    queries, oracles = load_entry()
    spark = get_spark("oracle-check")
    con = duck_conn(sf_dir)
    ok, bad, noracle, bounded = [], [], [], []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            bad.append(name)
            print(f"FAIL {name}: spark error {type(ex).__name__}: {ex}")
            continue
        finally:
            # operators persist() intermediates whose lifetime is the
            # caller's; 267 queries of leaked cache blocks degrade the
            # session's per-job overhead severely by the tail (the
            # bench.py hygiene note). Materialized index TABLES are
            # disk-backed — unaffected.
            spark.catalog.clearCache()
        if name not in oracles:
            vcheck = VALUE_CHECKS.get(name)
            if vcheck is None:
                noracle.append(name)
                print(
                    f"ROWS {name}: {len(sdf)} rows (no oracle, NO value"
                    f" check) [{time.time()-t0:.1f}s]"
                )
                continue
            try:
                problems = vcheck(sdf, con, oracles)
            except Exception as ex:
                problems = [f"value check error {type(ex).__name__}: {ex}"]
            if problems:
                bad.append(name)
                print(f"FAIL {name}: {'; '.join(problems)} [{time.time()-t0:.1f}s]")
            else:
                bounded.append(name)
                print(
                    f"VAL  {name}: {len(sdf)} rows value-bounded"
                    f" (no SQL oracle) [{time.time()-t0:.1f}s]"
                )
            continue
        try:
            ddf = duck_df(con, oracles[name])
        except Exception as ex:
            bad.append(name)
            print(f"FAIL {name}: duckdb error {type(ex).__name__}: {ex}")
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            bad.append(name)
            print(f"FAIL {name}: {'; '.join(problems)} [{time.time()-t0:.1f}s]")
        else:
            ok.append(name)
            print(f"OK   {name}: {len(sdf)} rows [{time.time()-t0:.1f}s]")
    print(
        f"\n{len(ok)} ok, {len(bad)} failed, {len(bounded)} value-bounded,"
        f" {len(noracle)} rows-only / {len(queries)} total"
    )
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
