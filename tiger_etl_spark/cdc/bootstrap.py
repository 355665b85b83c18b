"""Initial full-load (snapshot bootstrap), then switch to the tail.

The DMS/Debezium "snapshot + streaming" pattern: a CDC deployment rarely
starts from an empty table — there is an existing corpus (for web pages,
the prior crawl's ~100 TB) captured at one consistent position, and the
binlog tail must take over FROM that position without losing or
double-applying the overlap. Reference analog: the reference's
``bulk_create`` (pg_db.py ``execute_transaction`` batching) is its only
load path; snapshot-vs-tail consistency is this engine's addition,
required by any binlog-tailing deployment.

Design:
- The snapshot is lifted into plain I-events at a single ``op_seq``
  (the snapshot position) and pushed through the SAME batch-apply core
  as streamed events (`apply_changes`) — validation, quarantine,
  lineage, enrichment, and text extraction are identical by
  construction, so a bootstrapped row is byte-identical to the same row
  arriving on the stream.
- The load is applied like any batch, then compacted: the biggest
  write the table will ever see leaves no delta layer, and its base
  files take the table's compaction layout (``compact_cluster_ts``
  windows, cluster columns, z-order), so time-window scans prune it.
- Overlap safety needs no fencing: events re-delivered from before the
  snapshot position carry older ``warc_ts`` and lose LWW against the
  snapshot rows; events after it carry newer ``warc_ts`` and win. The
  tail can therefore start from any offset at-or-before the snapshot
  position and replay through the overlap idempotently.
- Idempotent twice over: the load rides the applied-batch ledger (slot
  ``BOOTSTRAP_BATCH_ID``, committed atomically with the data), so a
  crash after the data commit but before the ``bootstrap_op_seq``
  marker prop makes the re-run's apply a ledger no-op; the re-run then
  compacts (a no-op if that step had finished) and sets the marker. A
  fully completed bootstrap short-circuits on the marker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiger_etl_spark.cdc.pipeline import LineageRecord, apply_changes
from tiger_etl_spark.cdc.schemas import EVENTS_READ_SCHEMA
from tiger_etl_spark.lake import LakeTable

# Ledger slot for the bootstrap batch: below every stream batch id, so
# the applied-batch high-watermark semantics never mark a real stream
# batch as applied because of the bootstrap.
BOOTSTRAP_BATCH_ID = -1


def snapshot_to_events(snapshot: DataFrame, op_seq: int = 1) -> DataFrame:
    """Lift a keyed snapshot (unique per url; any subset of the pages
    columns beyond url/warc_ts/html) into I-events at one consistent
    position, conforming to the superset read schema. ``op_seq`` must be
    >= 1 (0/negative is quarantined by row validation, as on the wire).
    """
    if op_seq < 1:
        raise ValueError(f"snapshot op_seq must be >= 1, got {op_seq}")
    have = set(snapshot.columns)
    cols = []
    for f in EVENTS_READ_SCHEMA.fields:
        if f.name == "op":
            cols.append(F.lit("I").alias("op"))
        elif f.name == "op_seq":
            cols.append(F.lit(op_seq).cast("long").alias("op_seq"))
        elif f.name == "schema_id":
            cols.append(F.lit(2).cast("int").alias("schema_id"))
        elif f.name == "batch_file":
            cols.append(F.lit("bootstrap").alias("batch_file"))
        elif f.name in have:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return snapshot.select(*cols)


def bootstrap_table(
    spark: SparkSession,
    table: LakeTable,
    snapshot: DataFrame,
    op_seq: int = 1,
    enrichers: dict | None = None,
    static_dim=None,
) -> LineageRecord | None:
    """Full-load `snapshot` into the (typically empty) `table` as base
    files (apply, then compact), stamping every row at the snapshot
    position `op_seq`. Returns the load's LineageRecord, or None when
    the table already carries a ``bootstrap_op_seq`` marker (idempotent
    re-run). A rerun that resumes a load whose data commit landed
    returns the ledger's ``skipped`` record: it only compacts and marks."""
    if table.props.get("bootstrap_op_seq") is not None:
        return None
    rec = apply_changes(
        spark,
        table,
        snapshot_to_events(snapshot, op_seq=op_seq),
        batch_id=BOOTSTRAP_BATCH_ID,
        enrichers=enrichers,
        static_dim=static_dim,
    )
    table.compact(spark)
    # marker commits AFTER the data and its compaction; a crash in
    # between is covered by the ledger slot (see module docstring)
    table.update_props({"bootstrap_op_seq": str(op_seq)})
    return rec
