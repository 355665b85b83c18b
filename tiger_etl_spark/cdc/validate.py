"""Validation / quarantine routing.

Reference analog: Pydantic wire-schema validation
(``system/system/database_functions/sessions_management/validations.py:49-430``
— positive-int ids :52-57, charset :88-102, format checks :104-114),
which raises per row. Spark can't raise per-row, so invalid rows are
*routed*: each check is SQL text, and the checks a row fails become its
dead-letter string `_invalid_reasons` (the failed checks' names,
comma-joined in check order; '' for a valid row) → quarantine table
(SURVEY.md §1.3, §4 custom-work #5). Rules per FIXTURES.md §6. This
module is the one place that spells the checks, the reason string and
the validity predicate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

VALID_OPS = ("I", "U", "D")

# (reason, SQL predicate true when a row violates the rule)
CHECKS = (
    ("empty_url", "url IS NULL OR length(url) = 0"),
    ("nonpositive_op_seq", "op_seq IS NULL OR op_seq <= 0"),
    ("bad_op", f"op IS NULL OR op NOT IN {VALID_OPS!r}"),
    ("null_warc_ts", "warc_ts IS NULL"),
)

INVALID_REASONS = "concat_ws(',', {})".format(
    ", ".join(f"CASE WHEN {pred} THEN '{name}' END" for name, pred in CHECKS)
)

IS_VALID = "_invalid_reasons = ''"


def split_valid(df: DataFrame, observe=None) -> tuple[DataFrame, DataFrame]:
    """→ (valid rows, dead-letter rows with `_invalid_reasons`): two
    complementary filters over one checked frame (an `_invalid_reasons`
    column `df` already has is replaced). `observe(checked)`, when
    given, returns the frame the valid leg is cut from — apply_changes
    puts its lineage Observation there, so the metrics ride the write
    job alone and the dead-letter leg reads the unobserved frame."""
    checked = df.withColumn("_invalid_reasons", F.expr(INVALID_REASONS))
    kept = observe(checked) if observe else checked
    return (
        kept.where(IS_VALID).drop("_invalid_reasons"),
        checked.where(f"NOT ({IS_VALID})"),
    )
