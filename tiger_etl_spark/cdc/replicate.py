"""Downstream replica maintenance off the change data feed.

The reference ships data *out* of Postgres with per-table full reads
(`PostgresDB.read`, pg_db.py); at lake scale a downstream copy (a
serving replica, a cross-region mirror, a redacted export) must follow
INCREMENTS. `sync_to` tails the source's snapshot lineage through
`LakeTable.changes_between` (net-effect I/U/D per key between two
versions — a bucket-aligned full-outer join, no event log replay) and
applies each increment as one MERGE into the replica.

Exactly-once bookkeeping mirrors the ingest pipeline's: the last
synced SOURCE version rides the replica's own atomic commit
(`merge(props_updates_fn=...)`), so a crash between diff and commit
re-syncs the same interval — and re-merging the same interval is
idempotent (same keys, same LWW order, same winners). `op_seq` for
the synthetic change events is the source version being applied:
monotone across syncs, constant within one, so replays can never
reorder against later syncs.

Caveat (documented, inherent to net-effect feeds): a delete whose
tombstone was garbage-collected on the source (`compact(
tombstone_horizon=...)`) before the replica ever saw it cannot be
emitted; run `sync_to` at least as often as tombstones are retained.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from tiger_etl_spark.lake.table import LakeTable

_PROP = "replica_src_version"


def sync_to(spark: SparkSession, source: LakeTable, replica: LakeTable) -> dict:
    """Bring `replica` up to `source`'s current snapshot. Returns sync
    stats; no-op (and no commit) when already current. `rows_upserted`
    counts the rows written, tombstones included: a merge has no cheap
    tombstone count of its own."""
    v_from = int(replica.props.get(_PROP, 0))
    v_to = int(source.manifest["version"])
    if v_to == v_from:
        return {
            "src_version_from": v_from,
            "src_version_to": v_to,
            "synced": False,
        }
    if v_to < v_from:
        raise ValueError(
            f"replica is ahead of source ({v_from} > {v_to}) — "
            "was the source table recreated?"
        )
    _mirror_schema_registry(source, replica)
    key = source.key_col
    full_resync = False
    try:
        ch = source.changes_between(spark, v_from, v_to)
        payload = [c for c in ch.columns if c not in ("_change_op", key)]
        batch = ch.select(
            F.col("_change_op").alias("op"),
            F.lit(v_to).cast("long").alias("op_seq"),
            F.col(key),
            *[F.col(c) for c in payload],
        )
    except FileNotFoundError:
        # the last-synced snapshot was expired on the source (snapshot
        # retention outpaced the sync cadence): the incremental diff is
        # gone, so diff against the REPLICA instead — every current
        # source row as U plus a D for each replica key the source no
        # longer has. Same one bucket-aligned join, full state volume.
        full_resync = True
        cur = source.scan(spark)
        payload = [c for c in cur.columns if c != key]
        ups = cur.select(
            F.lit("U").alias("op"),
            F.lit(v_to).cast("long").alias("op_seq"),
            F.col(key),
            *[F.col(c) for c in payload],
        )
        # the tombstone must WIN last-writer-wins against the replica's
        # current row: carry that row's own order columns (event time),
        # so the tie breaks on op_seq = v_to, which exceeds any
        # previously-synced op_seq
        order_cols = set(source.manifest["order_cols"])
        dels = (
            replica.scan(spark)
            .join(cur.select(key), key, "left_anti")
            .select(
                F.lit("D").alias("op"),
                F.lit(v_to).cast("long").alias("op_seq"),
                F.col(key),
                *[
                    (
                        F.col(c)
                        if c in order_cols
                        else F.lit(None).cast(cur.schema[c].dataType)
                    ).alias(c)
                    for c in payload
                ],
            )
        )
        batch = ups.unionByName(dels, allowMissingColumns=False)
    stats = replica.merge(spark, batch, props_updates_fn=lambda: {_PROP: v_to})
    return {
        "src_version_from": v_from,
        "src_version_to": v_to,
        "synced": True,
        "full_resync": full_resync,
        "rows_upserted": stats.rows_upserted,
    }


def _mirror_schema_registry(source: LakeTable, replica: LakeTable) -> None:
    """Propagate source schema evolution to the replica (Fivetran-style
    schema drift): the replica's schema REGISTRY (ids, DDLs, rename
    maps) is kept a verbatim copy of the source's, so replica file
    entries' schema-id stamps mean the same thing as the source's and
    the read-time lift (renames/adds/widens) resolves identically.
    Without this, a column added on the source is silently DROPPED by
    the replica merge (merge projects the batch to the replica's live
    schema) and a rename would null out pre-rename replica files."""
    if (
        source.manifest["schemas"] == replica.manifest["schemas"]
        and source.manifest["current_schema_id"]
        == replica.manifest["current_schema_id"]
    ):
        return
    # Safety: the mirror must not reinterpret or orphan the schema-id
    # stamps on the replica's EXISTING data files. Every id a replica
    # file references must exist in the source registry with the exact
    # entry the replica recorded it under — a source rollback past an
    # evolution the replica already mirrored (or a registry fork) fails
    # loudly here instead of making the replica unreadable/NULLing data.
    src_schemas = source.manifest["schemas"]
    rep_schemas = replica.manifest["schemas"]
    referenced = {
        str(f.get("schema_id", replica.manifest["current_schema_id"]))
        for f in replica.manifest["files"]
    }
    for sid in sorted(referenced):
        if sid not in src_schemas:
            raise RuntimeError(
                f"cannot mirror source schema registry onto replica "
                f"{replica.path}: replica data files reference schema id "
                f"{sid}, absent from the source registry (source rolled "
                "back past an evolution the replica already applied?). "
                "Rebuild the replica or roll it back in step."
            )
        if sid in rep_schemas and src_schemas[sid] != rep_schemas[sid]:
            raise RuntimeError(
                f"cannot mirror source schema registry onto replica "
                f"{replica.path}: schema id {sid} differs between source "
                "and replica (registry fork) — replica files written "
                "under it would be reinterpreted. Rebuild the replica."
            )
    replica.manifest = dict(
        replica.manifest,
        schemas={k: dict(v) for k, v in src_schemas.items()},
        current_schema_id=source.manifest["current_schema_id"],
    )
    replica._commit(replica.manifest["files"], {"operation": "mirror-schema"})


def create_replica(source: LakeTable, path: str) -> LakeTable:
    """An empty replica with the source's schema/key/bucketing — same
    bucket count and hash, so future co-located bucket joins and
    `audit.bucket_checksums` drill-downs line up file-for-file. The
    source's full schema registry is mirrored (ids aligned), so later
    source evolutions propagate on sync.

    The replica is ALWAYS whole-row LWW, even for a `partial`-policy
    source: CDF rows are full current states (column resolution already
    happened on the source), so a column-coalescing apply would wrongly
    resurrect old values where the source holds an explicit NULL."""
    rep = LakeTable.create(
        path,
        source.schema_ddl,
        key_col=source.key_col,
        order_cols=tuple(source.manifest["order_cols"]),
        num_buckets=source.num_buckets,
        merge_policy="lww",
    )
    _mirror_schema_registry(source, rep)
    return rep
