"""Multi-table atomic transactions (execute_transaction analog):
all-or-nothing across tables, with crash-window recovery."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F

from tiger_etl_spark.lake import LakeTable, LakeTransaction

TS = dt.datetime(2024, 1, 1)


def _mk(spark, tmp_path, name, rows, seq):
    t = LakeTable.create(
        str(tmp_path / name),
        "url string, warc_ts timestamp, v long",
        key_col="url",
        num_buckets=2,
    )
    df = spark.createDataFrame(
        [("I", seq + i, k, TS, v) for i, (k, v) in enumerate(rows)],
        "op string, op_seq long, url string, warc_ts timestamp, v long",
    )
    t.merge(spark, df)
    return t


def _keys(spark, t):
    return {r.url for r in t.scan(spark).collect()}


def test_txn_commit_publishes_both_tables(spark, tmp_path):
    parent = _mk(spark, tmp_path, "parent", [("p1", 1), ("p2", 2)], 1)
    child = _mk(spark, tmp_path, "child", [("c1", 1), ("c2", 2)], 10)
    txn_dir = str(tmp_path / "_txn")
    # the J5 cascade: delete parent p1 + its children atomically
    with LakeTransaction(txn_dir) as txn:
        txn.stage(parent).delete_where(spark, F.col("url") == "p1", op_seq=100)
        txn.stage(child).delete_where(spark, F.col("url") == "c1", op_seq=101)
    assert _keys(spark, LakeTable.load(parent.path)) == {"p2"}
    assert _keys(spark, LakeTable.load(child.path)) == {"c2"}
    assert os.listdir(txn_dir) == []  # intent cleaned up


def test_txn_abort_leaves_both_tables_untouched(spark, tmp_path):
    parent = _mk(spark, tmp_path, "parent", [("p1", 1)], 1)
    child = _mk(spark, tmp_path, "child", [("c1", 1)], 10)
    with pytest.raises(RuntimeError, match="boom"):
        with LakeTransaction(str(tmp_path / "_txn")) as txn:
            txn.stage(parent).delete_where(spark, F.col("url") == "p1", op_seq=100)
            raise RuntimeError("boom")
    assert _keys(spark, LakeTable.load(parent.path)) == {"p1"}
    assert _keys(spark, LakeTable.load(child.path)) == {"c1"}
    # staged manifest removed; a follow-up commit works normally
    parent2 = LakeTable.load(parent.path)
    parent2.delete_where(spark, F.col("url") == "p1", op_seq=200)
    assert _keys(spark, LakeTable.load(parent.path)) == set()


def test_txn_crash_before_intent_commits_nothing(spark, tmp_path):
    """Simulated crash: ops staged (manifests written, pointers not
    flipped), intent never written → readers see the old snapshot of
    BOTH tables, and recovery has nothing to do."""
    parent = _mk(spark, tmp_path, "parent", [("p1", 1)], 1)
    child = _mk(spark, tmp_path, "child", [("c1", 1)], 10)
    txn_dir = str(tmp_path / "_txn")
    txn = LakeTransaction(txn_dir)
    txn.stage(parent).delete_where(spark, F.col("url") == "p1", op_seq=100)
    txn.stage(child).delete_where(spark, F.col("url") == "c1", op_seq=101)
    # crash here: no commit() — fresh readers see pre-txn state
    assert LakeTransaction.recover(txn_dir) == 0
    assert _keys(spark, LakeTable.load(parent.path)) == {"p1"}
    assert _keys(spark, LakeTable.load(child.path)) == {"c1"}


def test_txn_crash_between_pointer_flips_rolls_forward(spark, tmp_path):
    """Simulated crash in the publish phase: intent written, only the
    FIRST pointer flipped. recover() must roll the second forward so the
    cascade is all-or-nothing."""
    parent = _mk(spark, tmp_path, "parent", [("p1", 1)], 1)
    child = _mk(spark, tmp_path, "child", [("c1", 1)], 10)
    txn_dir = str(tmp_path / "_txn")
    txn = LakeTransaction(txn_dir)
    txn.stage(parent).delete_where(spark, F.col("url") == "p1", op_seq=100)
    txn.stage(child).delete_where(spark, F.col("url") == "c1", op_seq=101)
    # manually reproduce commit() up to the crash point
    from tiger_etl_spark.lake.table import _atomic_write

    intent = {
        "tables": [
            {"path": t.path, "version": t.manifest["version"]}
            for t in txn._tables
        ]
    }
    intent_path = os.path.join(txn_dir, "txn-crash.json")
    _atomic_write(intent_path, json.dumps(intent))
    LakeTable._write_pointer(parent.path, parent.manifest["version"])
    # CRASH: child pointer never flipped — inconsistent cascade on disk
    assert _keys(spark, LakeTable.load(parent.path)) == set()
    assert _keys(spark, LakeTable.load(child.path)) == {"c1"}
    assert LakeTransaction.recover(txn_dir) == 1
    assert _keys(spark, LakeTable.load(child.path)) == set()
    assert not os.path.exists(intent_path)
    # recovery is idempotent
    assert LakeTransaction.recover(txn_dir) == 0


def test_txn_multiple_ops_same_table(spark, tmp_path):
    t = _mk(spark, tmp_path, "t", [("a", 1), ("b", 2)], 1)
    with LakeTransaction(str(tmp_path / "_txn")) as txn:
        txn.stage(t).delete_where(spark, F.col("url") == "a", op_seq=100)
        txn.stage(t).delete_where(spark, F.col("url") == "b", op_seq=101)
    assert _keys(spark, LakeTable.load(t.path)) == set()
