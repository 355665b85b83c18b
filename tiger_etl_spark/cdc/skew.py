"""Hot-key skew handling (SURVEY.md §4 custom-work #2).

Common-Crawl hosts are Zipfian: a few url prefixes dominate a batch.
Two layers of defense:

1. The LWW dedup needs no global ordering: ``LakeTable._resolve``
   is an associative ``max_by`` aggregation, not a ranking window. It is
   planned sort-based after the bucket exchange (Exchange → Sort →
   SortAggregate partial → final), so the partial aggregate does not
   shrink a hot url's events before the shuffle: they all meet on its
   bucket's task.
2. The bucket-write shuffle can still hot-spot when one *bucket* gets a
   disproportionate share of a batch (hot host ⇒ many distinct urls can
   still hash across buckets, but a single viral url with heavy payload
   or a small bucket count concentrates bytes). `salted_repartition`
   splits hot partitions N ways; heavy-hitter detection picks N from
   observed frequencies. AQE's skew-join/partition-coalescing handles
   the join side at runtime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def detect_heavy_hitters(
    df: DataFrame,
    key_expr,
    threshold_frac: float = 0.05,
    sample_frac: float | None = 0.1,
) -> list[tuple[str, int]]:
    """Approximate heavy hitters over `key_expr` (e.g. url host prefix):
    sample + groupBy count, keep keys above `threshold_frac` of rows.
    One small extra job per batch; the sample keeps it cheap at scale."""
    keyed = df.select(key_expr.alias("_hh_key"))
    if sample_frac is not None and sample_frac < 1.0:
        keyed = keyed.sample(fraction=sample_frac, seed=7)
    total = keyed.count()
    if total == 0:
        return []
    rows = (
        keyed.groupBy("_hh_key")
        .count()
        .where(F.col("count") >= int(total * threshold_frac))
        .orderBy(F.desc("count"))
        .limit(100)
        .collect()
    )
    return [(r["_hh_key"], r["count"]) for r in rows]


def url_host(col) -> F.Column:
    return F.parse_url(col, F.lit("HOST"))


def salted_repartition(
    df: DataFrame,
    partition_col: str,
    n_salts: int = 8,
    hot_values: list | None = None,
) -> DataFrame:
    """Hash-partition by (partition_col, salt) where salt spreads only
    the hot values (all values if `hot_values` is None) — then the
    downstream writer/aggregator sees ≤ 1/n_salts of any hot partition
    per task. Salt is derived from op_seq/xxhash of the full row key so
    it is deterministic (replay-safe), not random."""
    if hot_values is None:
        salt = F.pmod(F.xxhash64(F.col("op_seq")), F.lit(n_salts))
    else:
        salt = F.when(
            F.col(partition_col).isin(*hot_values),
            F.pmod(F.xxhash64(F.col("op_seq")), F.lit(n_salts)),
        ).otherwise(F.lit(0))
    return (
        df.withColumn("_salt", salt)
        .repartition(F.col(partition_col), F.col("_salt"))
        .drop("_salt")
    )
