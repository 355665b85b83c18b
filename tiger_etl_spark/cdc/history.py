"""Incremental SCD2 history maintenance over the CDC stream.

Keeps a *history* LakeTable — every version interval of the tracked
attributes per key, not just the latest row — maintained batch-by-batch
from the same change stream the main pipeline tails. The reference
maintains its one interval-per-row history (user_sessions
login/logout/is_active, ``system/system/models/sessions_management/
model.py:62-88``) imperatively on each request; here the full history
is a table that any batch can extend.

Design (merge-on-read, the 10^10-event shape):

- **apply** appends immutable version *fragments* for the batch — the
  history table is never read at ingest, exactly like the main
  pipeline's MOR merge. Two modes:

  - default (``fold=False``): one single-event fragment per change
    event, keyed by the event's globally-unique sequence number. This
    is duplicate-proof (a re-delivered event lands on the same key and
    LWW-collapses) and order-proof (stitching re-sorts every event by
    event time at read), so it matches the full recompute under the
    stream's real failure modes — cross-file duplicate re-delivery and
    late data (cdc/datagen.py injects both). No shuffle beyond the
    merge's own bucket exchange.
  - ``fold=True``: the batch first folds to a per-key mini-history
    (``operators/scd.py: scd2_history``; one keyed exchange) and only
    the folded version fragments are appended — fewer rows for streams
    that genuinely satisfy strict binlog order with no cross-batch
    duplicates. A late event can never re-interleave INTO an
    already-folded span; ``audit_overlaps`` counts such violations.

- **read** re-runs the SAME fold over the fragments: a fragment stream
  ordered by (frag_from, first_seen_seq) is itself a change log whose
  "events" carry pre-aggregated n_rows/last_seen, so
  ``scd2_history(fragments)`` stitches adjacent same-attr runs across
  batch boundaries, re-indexes version_idx, and recomputes
  valid_to/is_current. The fold is its own composition law: fold(a ⧺ b)
  == fold(fold(a) ⧺ fold(b)) for event-time-ordered inputs — pinned by
  the incremental==full-recompute property tests (tests/test_history.py,
  tests/test_streaming.py against the adversarial generator).
- **exactly-once**: the applied-batch ledger rides the same atomic
  commit as the fragment files (cdc/pipeline.py: batch_applied /
  applied_batches_update); replaying any batch is a no-op.

Storage: default mode stores one row per event — the same asymptotics
as the main table's MOR delta log; ``rewrite_history`` folds fragment
rows down to one per version (optionally only versions settled before
a watermark, leaving the late-data window raw), atomically via a
truncate+merge LakeTransaction. LakeTable.compact() bounds file counts
independently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiger_etl_spark.cdc.pipeline import applied_batches_update, batch_applied
from tiger_etl_spark.lake import LakeTable
from tiger_etl_spark.lake.table import prop_list
from tiger_etl_spark.operators.scd import scd2_history

_KEY_PROP = "scd2_key"
_ATTRS_PROP = "scd2_attrs"


def create_history_table(
    path: str,
    key_ddl: str,
    attr_ddl: str,
    num_buckets: int = 16,
    props: dict | None = None,
) -> LakeTable:
    """Create an SCD2 history table tracking the ``attr_ddl`` columns
    per ``key_ddl`` key (both DDL strings, e.g. ``"url string"``,
    ``"lang string, text_hash long"``). Rows are version *fragments*;
    ``read_history`` stitches them into canonical SCD2 intervals."""
    key_col = key_ddl.split()[0]
    attr_cols = [
        f.strip().split()[0] for f in attr_ddl.split(",") if f.strip()
    ]
    schema = (
        f"_hist_key string, {key_ddl}, frag_idx long, {attr_ddl}, "
        "frag_from timestamp, n_rows long, last_seen timestamp, "
        "last_seen_seq long, first_seen_seq long, stitch_seq long"
    )
    return LakeTable.create(
        path,
        schema,
        key_col="_hist_key",
        order_cols=("stitch_seq",),
        num_buckets=num_buckets,
        props={
            **(props or {}),
            _KEY_PROP: key_col,
            _ATTRS_PROP: ",".join(attr_cols),
        },
    )


def _tracked(hist: LakeTable) -> tuple[str, list[str]]:
    key_col = hist.props.get(_KEY_PROP)
    attrs = prop_list(hist.props.get(_ATTRS_PROP))
    if not key_col or not attrs:
        raise ValueError(
            f"{hist.path} is not an SCD2 history table (missing "
            f"{_KEY_PROP}/{_ATTRS_PROP} props — create it via "
            "create_history_table)"
        )
    return key_col, attrs


def apply_scd2_changes(
    spark: SparkSession,
    hist: LakeTable,
    events: DataFrame,
    batch_id: int,
    ts_col: str = "warc_ts",
    seq_col: str = "op_seq",
    fold: bool = False,
) -> dict:
    """Append one change batch as version fragments. The history table
    itself is never read. Idempotent per ``batch_id`` (ledger skip);
    re-delivered EVENTS (same ``seq_col``) are also idempotent in the
    default mode — they land on the same fragment key. Rows with a null
    key, timestamp or sequence are dropped (unkeyable / unorderable).

    ``fold=True`` pre-folds the batch to per-key version runs (see
    module docstring for the strict-order contract it assumes)."""
    if batch_applied(hist.props, batch_id):
        return {
            "batch_id": batch_id,
            "applied": False,
            "snapshot_id": hist.manifest["snapshot_id"],
        }
    key_col, attr_cols = _tracked(hist)
    clean = events.where(
        F.col(key_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(seq_col).isNotNull()
    )
    seq = F.col(seq_col).cast("long")
    if fold:
        mini = scd2_history(
            clean,
            [key_col],
            attr_cols,
            ts_col,
            tiebreak_cols=[seq_col],
            extra_aggs={
                "last_seen": F.max(F.col(ts_col)),
                "last_seen_seq": F.max_by(
                    seq, F.struct(F.col(ts_col), F.col(seq_col))
                ),
                "first_seen_seq": F.min_by(
                    seq, F.struct(F.col(ts_col), F.col(seq_col))
                ),
            },
        )
        frags = mini.select(
            F.concat_ws(
                "#",
                F.col(key_col).cast("string"),
                F.lit(int(batch_id)),
                F.col("version_idx"),
            ).alias("_hist_key"),
            key_col,
            F.col("version_idx").alias("frag_idx"),
            *attr_cols,
            F.col("valid_from").alias("frag_from"),
            "n_rows",
            "last_seen",
            "last_seen_seq",
            "first_seen_seq",
        )
    else:
        # one fragment per EVENT, keyed by the event's own sequence
        # number: duplicates across batches collapse in the merge, late
        # events re-sort at stitch time — no apply-side window at all.
        frags = clean.select(
            F.concat_ws(
                "#", F.col(key_col).cast("string"), F.lit("e"), seq
            ).alias("_hist_key"),
            key_col,
            F.lit(0).cast("long").alias("frag_idx"),
            *attr_cols,
            F.col(ts_col).alias("frag_from"),
            F.lit(1).cast("long").alias("n_rows"),
            F.col(ts_col).alias("last_seen"),
            seq.alias("last_seen_seq"),
            seq.alias("first_seen_seq"),
        )
    frags = frags.withColumns(
        {
            "stitch_seq": F.lit(int(batch_id)).cast("long"),
            "op": F.lit("I"),
            "op_seq": F.lit(int(batch_id)).cast("long"),
        }
    )
    stats = hist.merge(
        spark,
        frags,
        props_updates_fn=lambda: applied_batches_update(
            hist.props, batch_id, hist.manifest["snapshot_id"] + 1
        ),
    )
    return {
        "batch_id": batch_id,
        "applied": True,
        "rows_written": stats.rows_upserted,
        "snapshot_id": hist.manifest["snapshot_id"],
    }


def _stitch(frags: DataFrame, key_col: str, attr_cols: list[str]) -> DataFrame:
    """The fragment fold: scd2_history re-applied with fragment-level
    bookkeeping aggregates. Event-time order with the FIRST event's
    sequence as tiebreak — sequence numbers are globally unique, so the
    order is total and identical to the full recompute's (ts, seq)."""
    return scd2_history(
        frags,
        [key_col],
        attr_cols,
        "frag_from",
        tiebreak_cols=["first_seen_seq"],
        extra_aggs={
            "n_events": F.sum("n_rows"),
            "last_event": F.max("last_seen"),
            "last_event_seq": F.max_by(
                "last_seen_seq", F.struct("last_seen", "last_seen_seq")
            ),
            "first_event_seq": F.min_by(
                "first_seen_seq", F.struct("frag_from", "first_seen_seq")
            ),
        },
    )


def read_history(spark: SparkSession, hist: LakeTable) -> DataFrame:
    """The canonical SCD2 view: fragments stitched into one row per
    version — adjacent same-attr fragments merged across batch
    boundaries (n_rows summed, last_seen maxed), version_idx re-indexed
    0-based per key, valid_to = next version's valid_from, is_current
    on the open tail. One keyed exchange, same cost shape as the main
    table's MOR resolve."""
    key_col, attr_cols = _tracked(hist)
    stitched = _stitch(hist.scan(spark), key_col, attr_cols)
    return stitched.select(
        key_col,
        "version_idx",
        *attr_cols,
        "valid_from",
        "valid_to",
        "is_current",
        F.col("n_events").alias("n_rows"),
        F.col("last_event").alias("last_seen"),
    )


def rewrite_history(
    spark: SparkSession,
    hist: LakeTable,
    txn_dir: str,
    watermark=None,
) -> dict:
    """Fold the fragment log down to ONE canonical fragment per stitched
    version — the row-level compaction that bounds storage (the default
    apply mode stores one fragment per event). Atomic via a
    LakeTransaction: truncate + re-merge stage under one deferred
    pointer flip, so any crash leaves either the old fragment log or
    the folded one, never an empty table. The applied-batch ledger
    lives in props and survives, so replayed old batches stay no-ops.

    ``watermark`` (timestamp): only fragments whose last_seen is
    strictly BEFORE it are folded; the rest are carried through raw, so
    late events still inside the stream's lateness window can keep
    interleaving event-by-event. Stitching re-merges adjacent runs at
    read, so a version split across the watermark is harmless. A late
    event older than the watermark that arrives AFTER the rewrite can
    no longer re-interleave into a folded span — the same discard
    horizon the pipeline's watermark already defines; audit_overlaps
    flags any such key.

    Canonical fragments keep stitch_seq = the applied high-water mark
    and a non-numeric '#rw#' key segment so they can never collide with
    a live (batch, seq) fragment key. read_history is invariant across
    the rewrite (pinned in tests/test_history.py)."""
    from tiger_etl_spark.lake.txn import LakeTransaction

    key_col, attr_cols = _tracked(hist)
    hwm = int(hist.props.get("applied_batch_hwm", 0))
    # bind the scan plan to the CURRENT snapshot's concrete files now —
    # truncate only moves the manifest; the data files stay on disk
    # until expire_snapshots, so the lazy read below stays valid.
    frags = hist.scan(spark)
    if watermark is not None:
        wm = F.lit(watermark).cast("timestamp")
        carried = frags.where(F.col("last_seen") >= wm)
        frags = frags.where(F.col("last_seen") < wm)
    stitched = _stitch(frags, key_col, attr_cols)
    phys = [
        "_hist_key", key_col, "frag_idx", *attr_cols, "frag_from",
        "n_rows", "last_seen", "last_seen_seq", "first_seen_seq",
        "stitch_seq",
    ]
    canonical = stitched.select(
        F.concat_ws(
            "#", F.col(key_col).cast("string"), F.lit("rw"),
            F.col("version_idx"),
        ).alias("_hist_key"),
        key_col,
        F.col("version_idx").alias("frag_idx"),
        *attr_cols,
        F.col("valid_from").alias("frag_from"),
        F.col("n_events").alias("n_rows"),
        F.col("last_event").alias("last_seen"),
        F.col("last_event_seq").alias("last_seen_seq"),
        F.col("first_event_seq").alias("first_seen_seq"),
        F.lit(hwm).cast("long").alias("stitch_seq"),
    ).select(*phys)
    if watermark is not None:
        canonical = canonical.unionByName(carried.select(*phys))
    batch = canonical.withColumns(
        {"op": F.lit("I"), "op_seq": F.lit(hwm).cast("long")}
    )
    before = hist.manifest["snapshot_id"]
    with LakeTransaction(txn_dir) as txn:  # commits on clean exit
        txn.stage(hist).truncate()
        stats = hist.merge(spark, batch)
    return {
        "fragments": stats.rows_upserted,
        "snapshot_before": before,
        "snapshot_after": hist.manifest["snapshot_id"],
    }


def audit_overlaps(spark: SparkSession, hist: LakeTable) -> DataFrame:
    """Keys where an event interleaved INTO an already-folded span: in
    event-time order, a fragment starting before the previous
    fragment's last_seen. Single-event fragments can never trip this
    (frag_from == last_seen, ties broken by unique seq); only a late
    arrival landing inside a multi-event folded run — whose history may
    then fold differently than a full recompute — is flagged.
    Returns (key, n_overlaps)."""
    from pyspark.sql import Window

    key_col, _ = _tracked(hist)
    w = Window.partitionBy(key_col).orderBy("frag_from", "first_seen_seq")
    prev_seen = F.lag("last_seen").over(w)
    return (
        hist.scan(spark)
        .withColumn(
            "_overlap", prev_seen.isNotNull() & (F.col("frag_from") < prev_seen)
        )
        .groupBy(key_col)
        .agg(F.sum(F.col("_overlap").cast("long")).alias("n_overlaps"))
        .where(F.col("n_overlaps") > 0)
    )
