"""Partial-column update resolution — the Mongo ``$set`` analog.

Reference: ``system/system/database_connections/mongo_db.py:93`` updates
only the fields present in the payload (``{"$set": update_data}``);
whole-row LWW would null out absent columns. Here the change stream
carries ops ``I`` (insert: sets every column, nulls included), ``U``
(partial update: sets only its non-null columns) and ``D`` (delete), and
the final state is resolved *column-wise*:

- a column's value comes from the newest event that SET it (any ``I``,
  or a ``U`` where it is non-null), provided that event is newer than
  the key's last ``D``;
- the row exists iff the newest ``I``/``U`` is newer than the last
  ``D`` (delete-then-update re-creates a partial row — Mongo upsert
  semantics);
- the row's order columns (event time, sequence) come from the newest
  ``I``/``U``.

Everything is one aggregation of associative ``max`` over
``(order, value)`` structs — no window, no per-key ranking. Structs with
string or binary fields make Spark plan it sort-based; on the write path
it runs after the bucket exchange (``lake.table.LakeTable._winners``),
like the LWW ``max_by``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def partial_lww_state(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    op_col: str,
    set_cols: list[str],
    deleted_col: str = "_deleted",
) -> DataFrame:
    """Resolve a change stream with I/U/D ops into one row per key under
    column-wise LWW (see module docstring). Output columns: ``key_col``,
    ``*order_cols`` (from the winning I/U event, or the last D for
    tombstones), ``*set_cols`` (coalesced), ``deleted_col`` boolean."""
    order = [F.col(c) for c in order_cols]
    ordst = F.struct(*order)
    is_del = F.col(op_col) == "D"
    is_ins = F.col(op_col) == "I"

    aggs = [
        F.max(F.when(is_del, ordst)).alias("_m_del"),
        F.max(F.when(~is_del, ordst)).alias("_m_row"),
    ]
    for c in set_cols:
        setter = (~is_del) & (is_ins | F.col(c).isNotNull())
        aggs.append(
            F.max(
                F.when(setter, F.struct(ordst.alias("_o"), F.col(c).alias("_v")))
            ).alias(f"_m_{c}")
        )
    g = df.groupBy(key_col).agg(*aggs)

    def newer_than_del(o: Column) -> Column:
        return F.col("_m_del").isNull() | (o > F.col("_m_del"))

    exists = F.col("_m_row").isNotNull() & newer_than_del(F.col("_m_row"))
    out = [F.col(key_col)]
    # order columns: winning I/U event's, else the tombstone's own order
    # (so a late, older event can never outrank the delete)
    for c in order_cols:
        out.append(
            F.when(exists, F.col(f"_m_row.{c}"))
            .otherwise(F.col(f"_m_del.{c}"))
            .alias(c)
        )
    for c in set_cols:
        m = F.col(f"_m_{c}")
        out.append(
            F.when(m.isNotNull() & newer_than_del(m["_o"]), m["_v"]).alias(c)
        )
    out.append((~exists).alias(deleted_col))
    return g.select(*out)
