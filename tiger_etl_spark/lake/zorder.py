"""Z-order (Morton) clustering key — multi-dimensional file clustering.

The `compact_cluster_cols` layout sorts lexicographically: the FIRST column
gets tight per-file bounds, later ones stay full-span. When scans
range-filter on several columns independently (quality AND length AND
time), the Iceberg/Delta answer is Z-ORDER compaction: sort by the
interleaved bit pattern of the columns' normalized ranks, so every file
covers a small hyper-rectangle and per-file `stats_cols` bounds prune
on EVERY clustered column.

All JVM-side bit arithmetic (shiftright/&/shiftleft/|, whole-stage
codegen) — the expression is a pure sort key, never stored. `bits`
fixed-point resolution per column: bits × n_cols ≤ 63 (fits a long);
16 bits over 3 columns ≈ 65k cells per dimension, far finer than any
practical file count.

Bounds come from the caller (one tiny min/max agg over the data being
rewritten — compaction is maintenance, the extra narrow pass is noise
next to the rewrite itself).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def column_bounds(df: DataFrame, cols: list[str]) -> dict[str, tuple]:
    """{col: (min, max)} in one narrow aggregate."""
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"_lo_{c}"), F.max(c).alias(f"_hi_{c}")]
    row = df.agg(*aggs).first()
    return {c: (row[f"_lo_{c}"], row[f"_hi_{c}"]) for c in cols}


def zorder_key(
    cols: list[str], bounds: dict[str, tuple], bits: int = 16
) -> Column:
    """The Morton sort key: each column is normalized to a `bits`-bit
    fixed-point rank within its [lo, hi] bounds, then ranks are
    bit-interleaved (column k contributes bit b to position b·K + k).
    NULLs and degenerate bounds rank 0 (they sort together, which is
    what clustering wants). Timestamps are ranked via epoch seconds."""
    k = len(cols)
    if k * bits > 63:
        raise ValueError(f"{k} cols × {bits} bits exceeds a signed long")
    top = (1 << bits) - 1
    ranks = []
    for c in cols:
        lo, hi = bounds[c]
        col = F.col(c)
        if lo is not None and hasattr(lo, "isoformat"):  # date/datetime
            # rank via epoch seconds. Bounds convert through an EXPLICIT
            # UTC attachment: naive .timestamp() would use the driver's
            # local timezone while Spark's unix_timestamp uses the
            # (UTC) session timezone — a silent rank skew. DateType
            # bounds arrive as datetime.date (no .timestamp() at all).
            import datetime as _dt

            def _epoch(v):
                if not isinstance(v, _dt.datetime):  # datetime.date
                    v = _dt.datetime(v.year, v.month, v.day)
                if v.tzinfo is None:
                    v = v.replace(tzinfo=_dt.timezone.utc)
                return v.timestamp()

            col, lo, hi = (
                F.unix_timestamp(col.cast("timestamp")).cast("double"),
                _epoch(lo),
                _epoch(hi),
            )
        if lo is None or hi is None or hi == lo:
            ranks.append(F.lit(0).cast("long"))
            continue
        if not isinstance(lo, (int, float)):
            raise ValueError(
                f"z-order clustering needs numeric or timestamp columns; "
                f"{c!r} has {type(lo).__name__} bounds (sort strings via "
                "cluster_cols instead)"
            )
        span = float(hi) - float(lo)
        q = F.floor(
            (col.cast("double") - F.lit(float(lo))) / F.lit(span) * F.lit(top)
        ).cast("long")
        ranks.append(
            F.coalesce(F.greatest(F.least(q, F.lit(top)), F.lit(0)), F.lit(0))
        )
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, q in enumerate(ranks):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(q, b).bitwiseAND(F.lit(1)), b * k + i)
            )
    return z
