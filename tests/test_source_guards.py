"""Source-level guards that need no Spark session."""

from __future__ import annotations

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent

# `createDataFrame([], schema)` is a Python-backed relation: every plan
# it enters starts one Python worker task per core, even with no rows.
# Engine code builds empty relations with session.empty_frame and parses
# DDL with pyspark.sql.types.DataType.fromDDL instead.
PY_EMPTY_RELATION = re.compile(r"createDataFrame\(\s*\[\s*\]")


def test_no_python_backed_empty_relation_in_engine_code():
    hits = [
        f"{path.relative_to(ROOT)}:{text.count(chr(10), 0, m.start()) + 1}"
        for top in ("tiger_etl_spark", "jobs")
        for path in sorted((ROOT / top).rglob("*.py"))
        for text in [path.read_text()]
        for m in PY_EMPTY_RELATION.finditer(text)
    ]
    assert not hits, hits
