"""WebDataset-style tar-shard export — the sample-sequential layout
multimodal training loaders stream (one ``.tar`` per shard, each
sample a ``{key}.{ext}`` member, metadata as a sidecar ``.json``
member).

Parquet is the right ANALYTICS layout; a training dataloader wants
the opposite trade: large sequential reads of interleaved
payload+metadata with no column reassembly. This sink bridges the
two: repartition rows into deterministically-assigned shards, then
each executor partition streams ITS shard to one tar file —
payload bytes never visit the driver, shard membership is a pure
function of the key (md5, the same engine-portable hashing
sampling.portable_sample_filter documents), and re-runs produce
byte-stable member ordering (rows sorted by key inside each shard).

Beyond-reference operator (the reference moves CSV/XLS/XML rows into
an RDBMS, /root/reference/dasladen/task.py; payload-bearing exports
have no counterpart there).
"""

from __future__ import annotations

import io
import json
import os
import tarfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_tar_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    key_col: str = "key",
    payload_col: str = "payload",
    ext: str = "bin",
    meta_cols: list[str] | None = None,
) -> list[str]:
    """Write (key, payload, *metadata) rows as ``shard-NNNNN.tar``
    files under ``path``. Each sample contributes ``{key}.{ext}``
    (the raw payload bytes) and, when ``meta_cols`` is given,
    ``{key}.json`` (the metadata dict) — the member-name pairing
    WebDataset loaders group by. Returns the shard file paths.

    Scale shape: one md5-keyed repartition (shard = hash(key) mod n,
    so assignment is stable across runs and cluster sizes), then a
    single ``foreachPartition`` pass where each task streams its
    rows into its own tar — O(partition) memory, no driver
    collection. ``n_shards`` sizes the files: pick payload-bytes /
    ~1 GB like any shard layout.

    ``path`` must be a filesystem shared between executors and the
    driver (local disk only on single-node; NFS/FUSE-mounted object
    store on a cluster — tarfile needs a real file handle, so a raw
    s3:// URI won't do). Each shard writes to a tmp name UNIQUE to
    the task attempt and atomically renames: concurrent attempts of
    the same shard (Spark speculation, a zombie first attempt on a
    shared FS) can never interleave writes into one file — last
    complete attempt wins the rename. ``path`` should be a fresh
    directory: the tar task sink writes into a stage and swaps it in
    (sinks/commit), so last run's shards and dead attempts' tmps go
    with the replaced target. Rows stream straight from the sorted
    shuffle into the tar (sortWithinPartitions groups each shard's
    rows key-ordered), so task memory is O(one row), not O(shard).
    Keys must be non-null (the task fails with a pointed error
    otherwise); duplicate keys write duplicate member names, which
    WebDataset loaders treat as one sample — dedupe upstream."""
    os.makedirs(path, exist_ok=True)
    meta_cols = list(meta_cols or [])
    shard = (
        F.conv(
            F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10
        ).cast("bigint")
        % n_shards
    ).cast("int")
    cols = [
        F.col(key_col).cast("string").alias("_key"),
        F.col(payload_col).alias("_payload"),
        shard.alias("_shard"),
        *[F.col(c) for c in meta_cols],
    ]
    # hash-repartitioning on the shard id does NOT guarantee one shard
    # per partition (two ids can hash to the same task); the sort
    # groups each shard's rows contiguously AND key-orders them, so
    # the writer below streams row-at-a-time with no per-shard buffer
    rows = (
        df.select(*cols)
        .repartition(n_shards, "_shard")
        .sortWithinPartitions("_shard", "_key")
    )

    def write_partition(it):
        import uuid

        attempt = uuid.uuid4().hex
        tf = None
        cur = tmp = final = None

        def publish():
            nonlocal tf
            if tf is not None:
                tf.close()
                # atomic: a complete file replaces, never interleaves
                os.replace(tmp, final)
                tf = None

        try:
            for r in it:
                if r["_shard"] is None:
                    raise ValueError(
                        "tar-shard export requires non-null keys; got a "
                        f"null {key_col!r} (payload row dropped nowhere — "
                        "filter or fix upstream)"
                    )
                if r["_shard"] != cur:
                    publish()
                    cur = r["_shard"]
                    final = os.path.join(path, f"shard-{cur:05d}.tar")
                    tmp = f"{final}.tmp-{attempt}"
                    tf = tarfile.open(tmp, "w")
                raw = r["_payload"]
                # accept a STRING payload column too (text corpora)
                payload = (
                    raw.encode("utf-8")
                    if isinstance(raw, str)
                    else bytes(raw or b"")
                )
                info = tarfile.TarInfo(name=f"{r['_key']}.{ext}")
                info.size = len(payload)
                info.mtime = 0  # fixed time → byte-identical re-runs
                tf.addfile(info, io.BytesIO(payload))
                if meta_cols:
                    meta = json.dumps(
                        {c: r[c] for c in meta_cols},
                        sort_keys=True,
                        default=str,
                    ).encode("utf-8")
                    mi = tarfile.TarInfo(name=f"{r['_key']}.json")
                    mi.size = len(meta)
                    mi.mtime = 0
                    tf.addfile(mi, io.BytesIO(meta))
            publish()
        finally:
            # failed attempt: drop the half-written tmp so it cannot
            # be confused for live output
            if tf is not None:
                tf.close()
                if tmp and os.path.exists(tmp):
                    os.remove(tmp)

    rows.foreachPartition(write_partition)
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.startswith("shard-") and f.endswith(".tar")
    )
