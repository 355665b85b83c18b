"""Structured Streaming wrapper (SURVEY.md §7 stage 4).

`readStream` over the change-file directory (binlog/WAL-tail analog:
files land in offset order, `maxFilesPerTrigger` bounds each micro-batch
— the reference's bulk-op cap of 100 rows,
user_group_management.py:1406-1407, lifted to batch granularity) →
event-time watermark → `foreachBatch` → batch apply core → lake MERGE.

Exactly-once: the file source + checkpoint give replayable offsets; the
applied-batch bookkeeping committed atomically with each MERGE makes
replays no-ops; the LWW guard makes even uncheckpointed double-applies
harmless. Restart-from-checkpoint tests in tests/test_streaming.py.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from tiger_etl_spark.cdc.pipeline import (
    APPLIED_WINDOW,
    WATERMARK_HOURS_DEFAULT,
    LineageRecord,
    apply_changes,
    applied_batches_update,
    batch_applied,
    dead_letter_batch,
    quarantine_dir,
)
from tiger_etl_spark.cdc.sources import read_change_stream
from tiger_etl_spark.lake import LakeTable
from tiger_etl_spark.lake.wap import audit_staged


@dataclass
class StreamResult:
    lineage: list[LineageRecord] = field(default_factory=list)
    batches_applied: int = 0
    batches_skipped: int = 0
    batches_rejected: int = 0
    audit_failures: list[tuple[int, list[str]]] = field(default_factory=list)


class AuditRejected(RuntimeError):
    """Raised (audit_policy='halt') when a micro-batch fails the audit
    gate: the staged snapshot was aborted, the checkpoint did NOT
    advance, and a restart re-delivers the same batch — fail-closed."""

    def __init__(self, batch_id: int, failures: list[str]):
        super().__init__(
            f"batch {batch_id} failed audit: {', '.join(failures)}"
        )
        self.batch_id = batch_id
        self.failures = failures


def _audit_rejected(props: dict, batch_id: int) -> bool:
    return str(batch_id) in props.get("audit_rejected", {})


def _drop_batch_outputs(table: LakeTable, batch_id: int) -> None:
    """Remove what `apply_changes` wrote beside the table for a batch
    whose staged commit was aborted: its dead-letter rows and its
    lineage row."""
    lineage = os.path.join(table.path, "_lineage", f"batch_id={batch_id}")
    for d in (quarantine_dir(table, batch_id), lineage):
        shutil.rmtree(d, ignore_errors=True)


def run_stream(
    spark: SparkSession,
    change_dir: str,
    table_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 4,
    watermark_hours: int = WATERMARK_HOURS_DEFAULT,
    compact_every: int = 0,
    maintain_every: int = 0,
    available_now: bool = True,
    file_format: str = "parquet",
    views: list | None = None,
    enrichers: dict | None = None,
    static_dim=None,
    history_path: str | None = None,
    audit=None,
    audit_policy: str = "halt",
) -> StreamResult:
    """Process all currently-available change files (availableNow
    trigger: drains the backlog in bounded micro-batches, then stops —
    the batch-oriented CDC tail). Resumable: same checkpoint_dir resumes
    from recorded offsets. `file_format`: "parquet", "jsonl" or "warc"
    (cdc/sources.py) — identical normalized columns either way.

    `compact_every` / `maintain_every`: run `table.compact` (always) or
    `table.maintain` (threshold-gated compaction + snapshot expiry)
    after every N applied batches — maintenance interleaved mid-stream
    rather than as a separate job (`compact_every=1` keeps the table
    all-base after every batch); per-batch wall time must stay flat
    across these (pinned by test_streaming + the soak bench).

    `views`: IncrementalAggView instances refreshed after every batch
    commit (continuous materialized views on the ingest path — each
    refresh scans only the buckets the batch touched, via the manifest
    diff; a refresh crash never corrupts the table, the next one
    catches up). `enrichers`: see `apply_changes`.

    `history_path`: an SCD2 history table (cdc/history.py:
    create_history_table) maintained from the SAME micro-batches — each
    batch folds to version fragments under its own applied-batch
    ledger, so a crash between the main merge and the history merge
    replays into a per-table no-op/apply pair and both converge.

    `audit`: a ``lake.wap.AuditSpec`` — the Write-Audit-Publish gate per
    micro-batch: each batch's `apply_changes` runs as the stage of
    ``lake.wap.audit_staged``, so the merge lands on a STAGED snapshot
    (pointer not flipped), the check set runs in one aggregation pass
    over the batch's STAGED DELTA FILES (the manifest diff — O(batch)
    per micro-batch, never a table scan; tombstones excluded), and only
    a passing batch is published. A batch that fails the audit, or
    raises inside the staged section, is aborted trace-free: no
    manifest, lineage row or per-row dead-letter dir of it survives. A
    failing batch is then handled per `audit_policy`:
    - 'halt' (default, fail-closed): raise AuditRejected; the checkpoint
      did not advance, so a restart re-delivers the batch — an operator
      must fix or drop it.
    - 'quarantine': dead-letter the RAW batch in the one dead-letter
      store, `quarantine_dir(table, N)` (every row, `_invalid_reasons`
      = "audit:<failed checks>"; failures and metrics in its
      `_reasons.json` sidecar), mark the batch applied in the ledger (so
      replay skips it, and the SCD2 history/views never see it), and
      continue the stream. Only `replay_quarantine(audit=...)` publishes
      it.
    Audit cost is one extra job per batch — enable it when a bad publish
    is costlier than that scan (it usually is)."""
    result = StreamResult()

    source = read_change_stream(
        spark, change_dir, file_format, max_files_per_trigger
    ).withWatermark("warc_ts", f"{watermark_hours} hours")

    # one manifest load per stream, not per batch: merge() keeps the
    # in-memory handle at the committed snapshot, so re-parsing the
    # (file-list-sized) manifest JSON every trigger is pure fixed cost.
    # Invalidated on failure — the retry reloads from disk.
    cache: dict[str, LakeTable] = {}

    def maintain_history(batch_df, batch_id: int) -> None:
        if history_path is None:
            return
        from tiger_etl_spark.cdc.history import apply_scd2_changes

        hist = cache.pop("history", None) or LakeTable.load(history_path)
        # idempotent under ITS OWN ledger — a replay that the main table
        # skips may still need applying here (crash between the two
        # merges), and vice versa
        apply_scd2_changes(spark, hist, batch_df, batch_id)
        cache["history"] = hist

    def handle(batch_df, batch_id: int):
        table = cache.pop("table", None) or LakeTable.load(table_path)
        if batch_applied(table.props, batch_id):
            # replayed batch (crash landed between merge commit and
            # checkpoint commit). The data is in; the views may not be —
            # the same crash window can precede their refresh — so
            # refresh (idempotent, no-op when current) runs here too.
            # An audit-REJECTED batch is in the ledger but its data was
            # never published — history/views must not see it either.
            result.batches_skipped += 1
            if not _audit_rejected(table.props, batch_id):
                for v in views or ():
                    v.refresh(spark, table)
                maintain_history(batch_df, batch_id)
            cache["table"] = table
            return

        try:
            rec, res = audit_staged(
                spark,
                table,
                audit,
                lambda: apply_changes(
                    spark, table, batch_df, batch_id,
                    watermark_hours=watermark_hours,
                    enrichers=enrichers, static_dim=static_dim,
                ),
            )
        except BaseException:
            if audit is not None:  # the staged batch was aborted
                _drop_batch_outputs(table, batch_id)
            raise
        if res is not None and not res.passed:
            # the staged batch was aborted; its per-row dead-letter split
            # is subsumed by the whole-batch dead-letter below, and its
            # lineage row names a snapshot that was never published
            _drop_batch_outputs(table, batch_id)
            result.batches_rejected += 1
            result.audit_failures.append((batch_id, res.failures))
            if audit_policy == "halt":
                raise AuditRejected(batch_id, res.failures)
            # quarantine policy: dead-letter the raw batch, then mark
            # it applied (props-only commit) so replay and later
            # maintenance skip it — the stream keeps going
            dead_letter_batch(table, batch_df, batch_id, res)
            hwm = int(table.props.get("applied_batch_hwm", -1))
            rejected = dict(table.props.get("audit_rejected", {}))
            rejected[str(batch_id)] = ",".join(res.failures)
            floor = max(hwm, batch_id) - APPLIED_WINDOW
            rejected = {k: v for k, v in rejected.items() if int(k) > floor}
            table.update_props(
                {
                    **applied_batches_update(
                        table.props,
                        batch_id,
                        table.manifest["snapshot_id"],
                    ),
                    "audit_rejected": rejected,
                }
            )
            cache["table"] = table
            return
        result.lineage.append(rec)
        result.batches_applied += 1
        if compact_every and (result.batches_applied % compact_every == 0):
            table.compact(spark)
        if maintain_every and (
            result.batches_applied % maintain_every == 0
        ):
            # full maintenance mid-stream (the operational mode of a
            # long-lived tail): threshold-gated compaction + snapshot
            # expiry. Both commit through the same snapshot machinery,
            # so a concurrent reader never sees a partial rewrite and
            # the exactly-once ledger is untouched.
            table.maintain(spark)
        for v in views or ():
            v.refresh(spark, table)
        maintain_history(batch_df, batch_id)
        cache["table"] = table

    writer = (
        source.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("cdc_apply")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    else:
        q = writer.start()
        q.processAllAvailable()
        q.stop()
    return result
