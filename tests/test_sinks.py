"""Sink-side tests: tar-shard export (WebDataset layout)."""

from pyspark.sql import functions as F

def test_tar_shards_roundtrip_and_determinism(spark, sf_dir, tmp_path):
    """Every document lands in exactly one shard with payload bytes
    and metadata intact; member order inside a shard is key-sorted;
    a second export produces byte-identical tar files (fixed mtimes,
    stable shard assignment)."""
    import hashlib
    import tarfile

    from dasladen_spark.operators.multimodal import with_payload
    from dasladen_spark.session import load_table
    from dasladen_spark.sinks.tarshards import write_tar_shards

    docs = with_payload(
        load_table(spark, sf_dir, "documents").limit(60)
    ).select(
        F.col("doc_id").alias("key"), "payload", "source", "n_chars"
    )
    want = {
        str(r["key"]): (bytes(r["payload"]), r["source"], r["n_chars"])
        for r in docs.collect()
    }

    out1 = tmp_path / "shards1"
    files = write_tar_shards(
        docs, str(out1), n_shards=4, ext="txt",
        meta_cols=["source", "n_chars"],
    )
    assert files and len(files) <= 4

    import json as _json

    got = {}
    for f in files:
        with tarfile.open(f) as tf:
            names = tf.getnames()
            # key-sorted samples, payload member before its sidecar
            keys = [n.rsplit(".", 1)[0] for n in names[::2]]
            assert keys == sorted(keys)
            assert names == [
                k + ext for k in keys for ext in (".txt", ".json")
            ]
            for m in tf.getmembers():
                key, kind = m.name.rsplit(".", 1)
                payload = tf.extractfile(m).read()
                if kind == "txt":
                    got.setdefault(key, {})["payload"] = payload
                else:
                    got.setdefault(key, {})["meta"] = _json.loads(payload)
    assert set(got) == set(want)
    for key, (payload, source, n_chars) in want.items():
        assert got[key]["payload"] == payload
        assert got[key]["meta"] == {"source": source, "n_chars": n_chars}

    out2 = tmp_path / "shards2"
    files2 = write_tar_shards(
        docs, str(out2), n_shards=4, ext="txt",
        meta_cols=["source", "n_chars"],
    )
    h = lambda p: hashlib.md5(open(p, "rb").read()).hexdigest()  # noqa: E731
    assert [h(f) for f in files] == [h(f) for f in files2]


def test_gen_sf_preserves_schemas_fks_and_identity(tmp_path, monkeypatch):
    """The sf-multiplier fixture generator must preserve parquet
    schemas byte-for-byte, referential integrity across replicas,
    key density, and identity-name uniqueness (round-11: duplicated
    names silently merged name-keyed rollups and exploded ER blocks)."""
    import os
    import sys

    import duckdb
    import pyarrow.parquet as pq

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))
    import gen_sf

    monkeypatch.setattr(gen_sf, "SRC", "/root/testdata/sf0.001")
    monkeypatch.setattr(sys, "argv", ["gen_sf", str(tmp_path), "3"])
    gen_sf.main()

    con = duckdb.connect()
    for t in ("lineitem", "documents", "embeddings", "events", "customer"):
        a = pq.read_schema(f"/root/testdata/sf0.001/{t}.parquet")
        b = pq.read_schema(f"{tmp_path}/{t}.parquet")
        assert a.equals(b), t
        n0 = pq.read_metadata(f"/root/testdata/sf0.001/{t}.parquet").num_rows
        n1 = pq.read_metadata(f"{tmp_path}/{t}.parquet").num_rows
        assert n1 == 3 * n0, t
    # FK integrity
    orphans = con.execute(
        f"SELECT COUNT(*) FROM '{tmp_path}/lineitem.parquet' l LEFT JOIN"
        f" '{tmp_path}/orders.parquet' o ON l.l_orderkey = o.o_orderkey"
        " WHERE o.o_orderkey IS NULL"
    ).fetchone()[0]
    assert orphans == 0
    # identity names unique AND format preserved
    for t, k, n, pfx in (
        ("customer", "c_custkey", "c_name", "Customer#"),
        ("supplier", "s_suppkey", "s_name", "Supplier#"),
    ):
        dups, badfmt = con.execute(
            f"SELECT COUNT(*) - COUNT(DISTINCT {n}),"
            f" SUM(CASE WHEN {n} = '{pfx}' || lpad(CAST({k} AS VARCHAR), 9, '0')"
            f" THEN 0 ELSE 1 END) FROM '{tmp_path}/{t}.parquet'"
        ).fetchone()
        assert dups == 0 and badfmt == 0, t
    # embeddings: replicas stay unit-norm and are near- but not exact
    import numpy as np

    e = con.execute(
        f"SELECT vec_id, embedding FROM '{tmp_path}/embeddings.parquet'"
        " WHERE vec_id IN (3, 503) ORDER BY vec_id"
    ).df()
    x = np.stack([np.asarray(v, np.float64) for v in e["embedding"]])
    assert np.allclose(np.linalg.norm(x, axis=1), 1.0, atol=1e-6)
    cos = float(x[0] @ x[1])
    assert 0.98 < cos < 0.99999
    # replica 0 is byte-identical to the source (no renorm round trip)
    src0 = con.execute(
        "SELECT embedding FROM '/root/testdata/sf0.001/embeddings.parquet'"
        " WHERE vec_id = 3"
    ).fetchone()[0]
    rep0 = con.execute(
        f"SELECT embedding FROM '{tmp_path}/embeddings.parquet'"
        " WHERE vec_id = 3"
    ).fetchone()[0]
    assert list(src0) == list(rep0)
    # documents: replica text differs (no cross-replica exact dupes);
    # every 7th token mutated, the rest verbatim — and the longest
    # token run shared with the original stays BELOW the 8-token
    # span-dedup shingle, so replicas never span-annihilate their
    # originals (the round-11 trailing-suffix degeneracy)
    t0, t1 = con.execute(
        f"SELECT text FROM '{tmp_path}/documents.parquet'"
        " WHERE doc_id IN (3, 503) ORDER BY doc_id"
    ).fetchall()
    assert t0[0] != t1[0]
    a, b = t0[0].split(" "), t1[0].split(" ")
    assert len(a) == len(b)
    for i, (ta, tb) in enumerate(zip(a, b)):
        if i % 7 == 6:
            assert tb == ta + "zzr1", i
        else:
            assert tb == ta, i
    run = best = 0
    for ta, tb in zip(a, b):
        run = run + 1 if ta == tb else 0
        best = max(best, run)
    assert best < 8
