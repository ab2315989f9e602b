"""Snapshot-addressed materialized tables.

Round-11's sf1 gate exposed a destructive race: ``ensure_ann_index``
and its siblings keyed materialized tables by NAME only, reusing them
when the stored ``tag`` matched and OVERWRITING (deleting the other
run's part-files) when it didn't. Two concurrent runs over different
corpus snapshots (the sf0.1 bench and the sf1 check) ping-pong-rebuilt
``ann_idx_pq`` / ``nb_quality_model`` and killed each other's readers
with FAILED_READ_FILE.FILE_NOT_EXIST mid-scan.

The fix makes the snapshot part of the table IDENTITY: an index built
from tag T with geometry G lives at ``{base}__{md5(T,G)[:8]}``.
Different snapshots are different physical tables; nothing is ever
destructively overwritten because a (tag, geometry) pair always maps
to the same name and an existing physical table is always the right
one to reuse. A metastore-atomic pointer VIEW ``{base}_ptr`` (its body
is a constant — ``SELECT '<physical>' AS physical`` — so resolving it
touches no data files) publishes the latest physical name under the
logical one, for callers that only know the logical name (the
task-file surface: build in one task, append/search in a later one).

On a production catalog (Hive/Glue/Unity) the same layout gives
lock-free snapshot isolation: builders create new names, the pointer
flip is one atomic catalog op, readers mid-scan keep their resolved
physical table. Nothing here drops an old snapshot; retention is an
explicit ``DROP TABLE`` of its family, like VACUUM.

``ensure`` is the one lifecycle every build-once family goes through
(fingerprint index, ANN index, NB model, bigram LM, PQ drift index):
name the family, reuse it when complete, else clear leftover
warehouse directories, build, and publish the pointer.

Beyond-reference infrastructure (the reference has no materialized
state at all — every run recomputes, /root/reference/dasladen/task.py).
"""

from __future__ import annotations

import hashlib
import os
import shutil
from typing import Callable

from pyspark.sql import SparkSession


def snapshot_name(base: str, *identity) -> str:
    """Physical table name for ``base`` built from ``identity``: an
    8-hex-char digest of everything that defines the physical
    content, the corpus tag plus every relevant build parameter.
    Callers pass the parts; ordering is significant (keep it fixed)."""
    blob = "\x1f".join(str(p) for p in identity)
    return f"{base}__{hashlib.md5(blob.encode('utf-8')).hexdigest()[:8]}"


def publish_pointer(spark: SparkSession, base: str, physical: str) -> None:
    """Atomically point the logical name at a physical snapshot.
    CREATE OR REPLACE VIEW is a pure catalog operation — no part
    files, so concurrent resolvers never see a half-written pointer."""
    spark.sql(
        f"CREATE OR REPLACE VIEW {base}_ptr AS "
        f"SELECT '{physical}' AS physical"
    )


def resolve_snapshot(spark: SparkSession, name: str) -> str:
    """Resolve a logical table name to its current physical snapshot.

    Precedence: the pointer view if one exists (the snapshot scheme),
    else ``name`` itself (callers holding a physical name — including
    every pre-snapshot-scheme test that builds an index under an
    explicit name — pass through unchanged)."""
    if spark.catalog.tableExists(f"{name}_ptr"):
        return spark.table(f"{name}_ptr").collect()[0]["physical"]
    return name


def drop_orphans(spark: SparkSession, name: str, tables) -> None:
    """Remove the warehouse directory of each ``name + suffix`` in
    ``tables`` that has no catalog entry. A managed-table dir can
    outlive its catalog entry (crashed session, fresh in-memory
    catalog over an old warehouse dir); saveAsTable then refuses even
    in overwrite mode. Local-filesystem cleanup only — a production
    catalog owns its locations."""
    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    if not wh.startswith("file:"):
        return
    for sfx in tables:
        p = os.path.join(wh[len("file:"):], (name + sfx).lower())
        if os.path.exists(p) and not spark.catalog.tableExists(name + sfx):
            shutil.rmtree(p)


def build_once(
    spark: SparkSession, name: str, tables, build: Callable[[str], None]
) -> None:
    """Build the family at ``name`` unless it is complete: every
    ``name + suffix`` in ``tables`` exists. ``build(name)`` must write
    the last table of ``tables`` last, so a build that died midway
    leaves the family incomplete and the next call rebuilds it."""
    if all(spark.catalog.tableExists(name + sfx) for sfx in tables):
        return
    drop_orphans(spark, name, tables)
    build(name)


def ensure(
    spark: SparkSession,
    base: str,
    identity,
    tables,
    build: Callable[[str], None],
) -> str:
    """The build-once lifecycle: the family for ``identity`` lives at
    ``snapshot_name(base, *identity)``; it is built there unless
    complete (``build_once``), the ``{base}_ptr`` pointer is published
    at it, and its physical name is returned."""
    phys = snapshot_name(base, *identity)
    build_once(spark, phys, tables, build)
    publish_pointer(spark, base, phys)
    return phys
