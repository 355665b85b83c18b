"""Multi-table CDC routing — one change stream, N destination tables,
one atomic commit.

A binlog/WAL tail carries changes for MANY tables interleaved in one
stream (the reference's Postgres holds 6+ schemas served by one
connection pool, `pg_db.py:122-136`); a lake sink must fan each event
out to its destination table while keeping the batch atomic across
tables — a consumer must never observe table A at batch N and table B
at batch N-1 after a crash.

Spark-first shape: the routed split is a set of FILTERS over the one
change batch (each destination's `apply_changes` pipeline reads only
its slice — Catalyst pushes the route predicate into the shared scan),
and atomicity reuses the lake's two-phase intent-log transaction
(`lake/txn.py`): `txn.stage(table)` enlists each destination, so its
`apply_changes` merge is staged with the pointer un-flipped, then one
intent file publishes all of them. Crash before the intent → nothing
visible, replay re-applies the batch (per-table `applied_batches`
bookkeeping makes the re-apply idempotent); crash after →
`LakeTransaction.recover` rolls every pointer forward.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiger_etl_spark.cdc.pipeline import LineageRecord, apply_changes
from tiger_etl_spark.lake.table import LakeTable
from tiger_etl_spark.lake.txn import LakeTransaction


def route_changes(
    spark: SparkSession,
    routes: dict[str, LakeTable],
    events: DataFrame,
    table_col: str,
    batch_id: int,
    txn_dir: str,
    strict: bool = False,
    **apply_kwargs,
) -> dict[str, LineageRecord]:
    """Apply one interleaved change batch to every destination table in
    ``routes`` (route key = value of ``table_col``), publishing all
    tables in one atomic transaction. Returns per-table lineage.

    ``strict=True`` raises if any event's route key has no destination
    (one extra existence probe — a LeftAnti limit-1, not a count);
    default drops unrouted events silently (dead-lettering unroutable
    events is the validate/quarantine stage's job, upstream of this).
    """
    if strict:
        known = [F.lit(k) for k in routes]
        # NULL route keys: `~isin` evaluates to NULL (filtered out, not
        # caught) — test NULL explicitly or those events silently match
        # no destination filter either
        stray = (
            events.where(
                F.col(table_col).isNull() | ~F.col(table_col).isin(*known)
            )
            .select(table_col)
            .limit(1)
            .collect()
        )
        if stray:
            raise ValueError(
                f"unrouted {table_col}={stray[0][table_col]!r} in batch {batch_id}"
            )
    txn = LakeTransaction(txn_dir)
    records: dict[str, LineageRecord] = {}
    try:
        for name, table in routes.items():
            sub = events.where(F.col(table_col) == name).drop(table_col)
            records[name] = apply_changes(
                spark, txn.stage(table), sub, batch_id=batch_id, **apply_kwargs
            )
        txn.commit()
    except BaseException:
        txn.abort()
        raise
    return records
