"""Deterministic sf-multiplier fixture generator (round-11 verdict
ask 2: extend the scaling evidence a decade past the driver's sf0.1).

The driver's tables are read-only and its generator is not available,
so larger scale factors are built FROM sf0.1 by replication with
key-space shifts: replica r shifts every key/foreign-key column by
r × (table's row count), preserving referential integrity, key
density, and every per-replica value distribution exactly. Two
columns are perturbed so content-addressed operators scale instead of
collapsing into 10-way duplicates:

- documents.text: replicas r>0 MUTATE every 7th token to
  ``{token}zzr{r}`` — runs shared with the original are exactly 6
  tokens, one below the 8-token span-dedup shingle, so replicas are
  NOT span-duplicates of their originals (the round-11 single
  trailing-suffix scheme left replicas span-identical and the sf1
  span-dedup gate annihilated the whole corpus: funnel stage 4
  n_docs=0). Replicas remain word-3-gram near-dups (Jaccard ≈ 0.4 —
  deliberately kept near-dup structure), drop below the MinHash 0.5
  threshold, and two docs that were mutual dups INSIDE a replica
  stay mutual dups (mutation is position-deterministic per replica).
  The mutated-token fraction is 1/7 ≈ 14%; mutated tokens stay
  single [a-z0-9]+ tokens (fixture text is pure lowercase words).
- embeddings.embedding: replicas r>0 get seeded uniform ±0.02 jitter,
  then L2 re-normalization (the corpus stays unit-norm; replicas are
  near- but not exact neighbors of their originals). Replica 0 is
  copied VERBATIM — byte-identical to the source, no renorm round
  trip through float64.

pyarrow end-to-end: output schemas are byte-identical to the driver's
(int32 widths, timestamp units), so every query and oracle reads sf1
exactly like the driver's dirs.

Usage: python tools/gen_sf.py [out_dir] [multiplier]
       (default /root/repo/.localdata/sf1, 10)
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"

#: key columns per table -> the stride source table (its row count is
#: the shift unit, keeping ids dense across replicas)
KEYS = {
    "customer": {"c_custkey": "customer"},
    "supplier": {"s_suppkey": "supplier"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
    "lineitem": {
        "l_orderkey": "orders",
        "l_partkey": "part",
        "l_suppkey": "supplier",
    },
    "events": {"event_id": "events", "user_id": "_users"},
    "documents": {"doc_id": "documents"},
    "embeddings": {"vec_id": "embeddings"},
}

#: tables copied verbatim (TPC-H dimension tables do not scale)
STATIC = ["region", "nation"]

#: mutate every Kth token of a replica document. MUST stay below the
#: span-dedup shingle length (operators/dedup._SPAN_N = 8): shared runs of
#: exactly MUTATE_EVERY-1 = 7-1 = 6 tokens contain no duplicated
#: 8-gram, so replicas never span-annihilate their originals, while
#: word-3-gram Jaccard vs the original stays ≈ 0.4 (real near-dup
#: structure) and 5-gram MinHash similarity drops below its 0.5 gate.
MUTATE_EVERY = 7


def _mutate_text(v: str, r: int) -> str:
    """Deterministic replica-r mutation: every 7th token gets a
    ``zzr{r}`` suffix (position-based, so two docs that are mutual
    dups within one replica remain mutual dups)."""
    toks = v.split(" ")
    return " ".join(
        f"{tok}zzr{r}" if i % MUTATE_EVERY == MUTATE_EVERY - 1 else tok
        for i, tok in enumerate(toks)
    )


def _strides(tables: dict[str, pa.Table]) -> dict[str, int]:
    s = {name: t.num_rows for name, t in tables.items()}
    # events.user_id is a dense 0..U-1 domain, not events' row count
    users = tables["events"].column("user_id").to_numpy()
    s["_users"] = int(users.max()) + 1
    # the shift scheme silently assumes DENSE 0-based primary keys
    # (shift unit = parent row count); sparse keys would collide
    # across replicas and fan out joins — fail loudly instead.
    # (_users is exempt: its stride is max+1 by construction, which
    # is collision-free even over a sparse domain.)
    for name, keys in KEYS.items():
        for col, stride_of in keys.items():
            if stride_of == name:
                k = tables[name].column(col).to_numpy()
                assert int(k.max()) + 1 == s[stride_of] and int(k.min()) == 0, (
                    f"{name}.{col}: keys not dense 0-based "
                    f"(min={k.min()}, max={k.max()}, stride={s[stride_of]})"
                )
    return s


def _replica(
    name: str,
    t: pa.Table,
    r: int,
    strides: dict[str, int],
) -> pa.Table:
    if r == 0 and name not in ("documents", "embeddings"):
        return t
    arrays = []
    for field in t.schema:
        col = t.column(field.name)
        stride_of = KEYS.get(name, {}).get(field.name)
        if stride_of is not None and r > 0:
            shifted = col.to_numpy() + r * strides[stride_of]
            arrays.append(pa.array(shifted, type=field.type))
        elif (
            r > 0
            and (name, field.name) in (("customer", "c_name"), ("supplier", "s_name"))
        ):
            # identity names are key-derived (Xxx#%09d) and unique in
            # the driver's tables — regenerate from the shifted key so
            # name-keyed rollups don't silently merge replicas
            key_field = {"customer": "c_custkey", "supplier": "s_suppkey"}[name]
            prefix = {"customer": "Customer", "supplier": "Supplier"}[name]
            keys = t.column(key_field).to_numpy() + r * strides[
                KEYS[name][key_field]
            ]
            arrays.append(
                pa.array([f"{prefix}#{k:09d}" for k in keys], type=field.type)
            )
        elif name == "documents" and field.name == "text" and r > 0:
            txt = [
                _mutate_text(v, r) for v in col.to_pylist()
            ]
            arrays.append(pa.array(txt, type=field.type))
        elif name == "documents" and field.name == "n_chars" and r > 0:
            n_chars = [
                len(_mutate_text(v, r))
                for v in t.column("text").to_pylist()
            ]
            arrays.append(pa.array(n_chars, type=field.type))
        elif name == "embeddings" and field.name == "embedding" and r > 0:
            x = np.stack(
                [np.asarray(v, dtype=np.float64) for v in col.to_pylist()]
            )
            rng = np.random.default_rng(42_000 + r)
            x = x + rng.uniform(-0.02, 0.02, size=x.shape)
            x = x / np.linalg.norm(x, axis=1, keepdims=True)
            arrays.append(
                pa.array(
                    [row.astype(np.float32).tolist() for row in x],
                    type=field.type,
                )
            )
        else:
            # replica 0 copies every non-key column VERBATIM —
            # including embeddings (the old unconditional
            # renorm-in-float64 could move the base replica by one
            # ulp, contradicting "distributions preserved exactly")
            arrays.append(col.combine_chunks() if r == 0 else col)
    return pa.Table.from_arrays(
        [a if isinstance(a, (pa.Array, pa.ChunkedArray)) else a for a in arrays],
        schema=t.schema,
    )


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.localdata/sf1"
    mult = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        name: pq.read_table(f"{SRC}/{name}.parquet") for name in KEYS
    }
    strides = _strides(tables)
    for name in STATIC:
        t = pq.read_table(f"{SRC}/{name}.parquet")
        pq.write_table(t, f"{out_dir}/{name}.parquet")
        print(f"# {name}: {t.num_rows} rows (static)", file=sys.stderr)
    for name, t in tables.items():
        reps = [_replica(name, t, r, strides) for r in range(mult)]
        big = pa.concat_tables(reps).combine_chunks()
        pq.write_table(big, f"{out_dir}/{name}.parquet")
        print(
            f"# {name}: {t.num_rows} -> {big.num_rows} rows",
            file=sys.stderr,
        )
    print(f"wrote x{mult} fixtures to {out_dir}")


if __name__ == "__main__":
    main()
