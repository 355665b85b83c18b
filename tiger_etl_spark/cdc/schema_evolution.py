"""Schema-id mapping stage (SURVEY.md §1.3, §4 custom-work #3).

Reference analog: Alembic migrations (``alembic/versions/
3373e01d40b9_initial_migration.py``, ``310f4b46a4b2_add_all_remaining_
models.py`` — add tables/columns with paired downgrades). Here each
change event carries a ``schema_id`` and the mapping stage lifts every
event to the live table schema *before* MERGE: renames resolved
(``body``→``html``), added columns nulled (``lang``), widened types cast
(``content_len`` int→long, already widened by the superset read schema).

The registry is data, not code, so new schema versions are one dict entry.
Each lift is SQL text, composed from the registry once at import into
one projection of the live columns (`LIVE_PROJECTION`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from tiger_etl_spark.cdc.schemas import NORMALIZED_EVENT_COLUMNS

# per-schema-id lift rules into the live (v2) schema
SCHEMA_REGISTRY: dict[int, dict] = {
    1: {
        "renames": {"body": "html"},   # column renamed in v2
        "absent": ["lang"],            # column added in v2 → null for v1
        "casts": {"content_len": "long"},
    },
    2: {"renames": {}, "absent": [], "casts": {}},
}

LIVE_SCHEMA_ID = 2


def _lift(col: str) -> str:
    """SQL text of live column `col`: per older schema id, a CASE on
    `schema_id` per rename and absent column, then the casts."""
    expr = col
    for sid, rules in SCHEMA_REGISTRY.items():
        if sid == LIVE_SCHEMA_ID:
            continue
        old = {new: old for old, new in rules["renames"].items()}.get(col)
        if old:
            expr = f"CASE WHEN schema_id = {sid} THEN {old} ELSE {expr} END"
        if col in rules["absent"]:
            expr = f"CASE WHEN schema_id = {sid} THEN NULL ELSE {expr} END"
        if col in rules["casts"]:
            expr = f"CAST({expr} AS {rules['casts'][col]})"
    return f"{expr} AS {col}"


LIVE_PROJECTION = [_lift(c) for c in NORMALIZED_EVENT_COLUMNS]


def map_to_live_schema(df: DataFrame) -> DataFrame:
    """Vectorized, branch-per-schema-id via CASE expressions — one
    projection, no per-version shuffles or splits."""
    return df.selectExpr(*LIVE_PROJECTION)
