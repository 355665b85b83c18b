"""Source-level guards that need no Spark session."""

from __future__ import annotations

import ast
import inspect
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent

# `createDataFrame([], schema)` is a Python-backed relation: every plan
# it enters starts one Python worker task per core, even with no rows.
# Engine code builds empty relations with session.empty_frame and parses
# DDL with pyspark.sql.types.DataType.fromDDL instead.
PY_EMPTY_RELATION = re.compile(r"createDataFrame\(\s*\[\s*\]")


# The staged-commit protocol (pointer deferral, pointer flip) is the
# lake's own: callers stage through lake.wap.audit_staged or a
# LakeTransaction, never by setting the flag or flipping the pointer.
STAGED_COMMIT_INTERNALS = re.compile(r"_defer_pointer|_write_pointer\(")

# How a write picks LWW winners and lays rows out by bucket lives in one
# place, LakeTable._winners: no caller resolves or repartitions by a
# table's bucket count on its own.
WRITE_SHAPE_INTERNALS = re.compile(
    r"\b_resolve\w*\(|\.repartition\(\s*[\w.]*num_buckets"
)

# One dead-letter store: the rows of a batch that did not publish (its
# per-row rejects, or all of it when the audit gate rejected it) live in
# the dir cdc.pipeline.quarantine_dir names. No other module spells that
# path, and the retired second store is gone.
QUARANTINE_PATH = re.compile(r"[\"'/]_quarantine\b")
RETIRED_DEAD_LETTER_STORE = re.compile(r"_audit_reject[s]")


# One write mode: `LakeTable.merge` appends, and every rewrite to base
# files is a compaction. No caller picks a merge mode, and the merge
# runs no bucket-set collect of its own.
MERGE_MODE = re.compile(r"merge[_-]mode|\bmode\s*=\s*[\"'](?:cow|mor)[\"']")


# The compaction layout lives in the table's `compact_*` props alone: no
# rewrite call takes a layout argument, and one function reads the props
# for every rewrite to base files.
LAYOUT_ARGS = {"cluster_ts", "cluster_cols", "zorder_cols", "max_records_per_file"}
COMPACT_PROP_READ = re.compile(r"""(?:\.get\(|\[)\s*f?["']compact_""")


# One staged-commit protocol: `audit_staged` gates one table and
# `LakeTransaction.stage` enlists tables for one atomic commit; the
# pointer deferral and flip are known to lake/table.py and lake/txn.py
# alone.
RETIRED_STAGING = re.compile(r"\bWapCommit\b|\._track\(")
POINTER_PROTOCOL_HOMES = {
    "tiger_etl_spark/lake/table.py",
    "tiger_etl_spark/lake/txn.py",
}


# Every read of table data goes through LakeTable._read_files, where the
# schema lift and the manifest's file list meet Spark: no read path
# under lake/ reads data files on its own.
SPARK_READ = re.compile(r"\bspark\.read\b")


# One validation pass: cdc/validate.py alone spells the checks, the
# dead-letter reason string (a string, never an array to join later)
# and the validity predicate, and `split_valid` is the one function that
# puts the reasons on rows.
RETIRED_VALIDATION = re.compile(
    r"\bsize\(\s*[\"']_invalid_reasons|array_join\(\s*[\"']_invalid_reasons"
    r"|\bwith_validation\b|\b_checks\(\)"
)
REASON_SPELLING = re.compile(
    r"[\"'](?:empty_url|nonpositive_op_seq|bad_op|null_warc_ts)[\"']"
    r"|_invalid_reasons\s*=\s*''"
)
ATTACH_REASONS = re.compile(r"\bINVALID_REASONS\b")
VALIDATE_PY = "tiger_etl_spark/cdc/validate.py"


def _engine_hits(pattern: re.Pattern, skip: str | None = None) -> list[str]:
    return [
        f"{path.relative_to(ROOT)}:{text.count(chr(10), 0, m.start()) + 1}"
        for top in ("tiger_etl_spark", "jobs")
        for path in sorted((ROOT / top).rglob("*.py"))
        if skip is None or not path.is_relative_to(ROOT / skip)
        for text in [path.read_text()]
        for m in pattern.finditer(text)
    ]


def _script_hits(pattern: re.Pattern) -> list[str]:
    return [
        name
        for name in ("bench.py", "__spark_entry__.py")
        if pattern.search((ROOT / name).read_text())
    ]


def _enclosing_functions(pattern: re.Pattern, top: str) -> list[tuple[str, str | None]]:
    """(file, innermost enclosing function) of every match under `top`."""
    out = []
    for path in sorted((ROOT / top).rglob("*.py")):
        text = path.read_text()
        funcs = [
            node
            for node in ast.walk(ast.parse(text))
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for m in pattern.finditer(text):
            line = text.count("\n", 0, m.start()) + 1
            enclosing = [f for f in funcs if f.lineno <= line <= f.end_lineno]
            inner = max(enclosing, key=lambda f: f.lineno, default=None)
            out.append((str(path.relative_to(ROOT)), inner and inner.name))
    return out


def test_no_python_backed_empty_relation_in_engine_code():
    hits = _engine_hits(PY_EMPTY_RELATION)
    assert not hits, hits


def test_staged_commit_internals_stay_in_lake():
    assert _engine_hits(STAGED_COMMIT_INTERNALS)  # the pattern is live
    hits = _engine_hits(STAGED_COMMIT_INTERNALS, skip="tiger_etl_spark/lake")
    assert not hits, hits


def test_write_shape_stays_in_lake():
    assert _engine_hits(WRITE_SHAPE_INTERNALS)  # the pattern is live
    hits = _engine_hits(WRITE_SHAPE_INTERNALS, skip="tiger_etl_spark/lake")
    assert not hits, hits


def test_one_dead_letter_store():
    assert not _engine_hits(RETIRED_DEAD_LETTER_STORE)
    assert _engine_hits(QUARANTINE_PATH)  # the pattern is live
    hits = _engine_hits(QUARANTINE_PATH, skip="tiger_etl_spark/cdc/pipeline.py")
    assert not hits, hits


def test_one_write_mode():
    assert MERGE_MODE.search('table.merge(spark, batch, mode="cow")')
    hits = _engine_hits(MERGE_MODE) + _script_hits(MERGE_MODE)
    assert not hits, hits
    table_src = (ROOT / "tiger_etl_spark" / "lake" / "table.py").read_text()
    assert "distinct().collect()" not in table_src


def test_one_reader_of_the_compaction_layout():
    from tiger_etl_spark.lake import LakeTable

    for method in (LakeTable.compact, LakeTable.maintain):
        params = set(inspect.signature(method).parameters)
        assert not params & LAYOUT_ARGS, (method.__name__, params)
    assert COMPACT_PROP_READ.search('props.get("compact_zorder_cols")')
    assert COMPACT_PROP_READ.search("props['compact_cluster_ts']")
    readers = set(_enclosing_functions(COMPACT_PROP_READ, "tiger_etl_spark"))
    assert readers == {("tiger_etl_spark/lake/table.py", "_base_layout")}, readers


def test_one_staging_protocol():
    assert RETIRED_STAGING.search("wap = WapCommit(t, d)")
    assert RETIRED_STAGING.search("txn._track(table)")
    hits = _engine_hits(RETIRED_STAGING) + _script_hits(RETIRED_STAGING)
    assert not hits, hits
    assert not _script_hits(STAGED_COMMIT_INTERNALS)
    homes = {hit.rsplit(":", 1)[0] for hit in _engine_hits(STAGED_COMMIT_INTERNALS)}
    assert homes == POINTER_PROTOCOL_HOMES, homes


def test_one_reader_of_table_data_files():
    assert SPARK_READ.search("df = spark.read.schema(ddl).parquet(*paths)")
    readers = _enclosing_functions(SPARK_READ, "tiger_etl_spark/lake")
    assert readers == [("tiger_etl_spark/lake/table.py", "_read_files")], readers


def test_one_validation_pass():
    assert RETIRED_VALIDATION.search('F.size("_invalid_reasons") == 0')
    assert RETIRED_VALIDATION.search('F.array_join("_invalid_reasons", ",")')
    assert not _engine_hits(RETIRED_VALIDATION), _engine_hits(RETIRED_VALIDATION)
    assert REASON_SPELLING.search("IS_VALID = \"_invalid_reasons = ''\"")
    homes = {hit.rsplit(":", 1)[0] for hit in _engine_hits(REASON_SPELLING)}
    assert homes == {VALIDATE_PY}, homes
    uses = set(_enclosing_functions(ATTACH_REASONS, "tiger_etl_spark"))
    assert uses == {(VALIDATE_PY, None), (VALIDATE_PY, "split_valid")}, uses
