"""LakeTable format: snapshot isolation, merge (with and without a
compaction after each batch), compaction, tombstones, snapshot expiry."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from tiger_etl_spark.lake import LakeTable

DDL = "url string, warc_ts timestamp, text string"
UTC = dt.timezone.utc


def ts(i: int) -> dt.datetime:
    return dt.datetime(2025, 1, 1, tzinfo=UTC) + dt.timedelta(seconds=i)


def batch_df(spark, rows):
    """rows: (op, op_seq, url, ts_sec, text)"""
    return spark.createDataFrame(
        [(op, sq, u, ts(t), x) for op, sq, u, t, x in rows],
        "op string, op_seq long, url string, warc_ts timestamp, text string",
    )


@pytest.fixture()
def table(tmp_path):
    return LakeTable.create(
        str(tmp_path / "t"), DDL, key_col="url", order_cols=("warc_ts",), num_buckets=4
    )


def state(spark, table):
    return {
        r["url"]: (r["warc_ts"], r["text"])
        for r in table.scan(spark).collect()
    }


def merge(spark, table, rows, compact: bool) -> None:
    """One batch. compact=True keeps a copy-on-write layout: every merge
    is followed by a compaction, so the table stays all-base."""
    table.merge(spark, batch_df(spark, rows))
    if compact:
        table.compact(spark)
        assert all(f["kind"] == "base" for f in table.manifest["files"])


# "mor": the merged deltas stay; "cow": each merge is compacted away
WRITE_LAYOUTS = pytest.mark.parametrize("compact", [False, True], ids=["mor", "cow"])


@WRITE_LAYOUTS
def test_merge_upsert_delete(spark, table, compact):
    merge(
        spark,
        table,
        [("I", 1, "a", 1, "a1"), ("I", 2, "b", 2, "b1"), ("I", 3, "c", 3, "c1")],
        compact,
    )
    assert set(state(spark, table)) == {"a", "b", "c"}

    merge(spark, table, [("U", 4, "a", 10, "a2"), ("D", 5, "b", 11, None)], compact)
    st = state(spark, table)
    assert set(st) == {"a", "c"}
    assert st["a"][1] == "a2"


@WRITE_LAYOUTS
def test_within_batch_lww_and_tombstone_wins(spark, table, compact):
    # same key three times in one batch: latest (warc_ts, op_seq) wins;
    # a delete must survive dedup to beat earlier I/U
    rows = [
        ("I", 1, "k", 1, "v1"),
        ("U", 2, "k", 5, "v2"),
        ("D", 3, "k", 9, None),
        ("I", 4, "x", 2, "x1"),
    ]
    merge(spark, table, rows, compact)
    assert set(state(spark, table)) == {"x"}


@WRITE_LAYOUTS
def test_late_event_cannot_resurrect_delete(spark, table, compact):
    merge(spark, table, [("I", 1, "k", 1, "v1")], compact)
    merge(spark, table, [("D", 2, "k", 100, None)], compact)
    # late update with older event time than the delete → no-op
    merge(spark, table, [("U", 3, "k", 50, "late")], compact)
    assert state(spark, table) == {}
    # but a genuinely newer event re-inserts
    merge(spark, table, [("U", 4, "k", 200, "new")], compact)
    assert state(spark, table)["k"][1] == "new"


def test_tie_on_ts_broken_by_op_seq(spark, table):
    b = batch_df(spark, [("I", 1, "k", 7, "low"), ("U", 9, "k", 7, "high")])
    table.merge(spark, b)
    assert state(spark, table)["k"][1] == "high"


def test_replay_same_batch_is_noop(spark, table):
    b = batch_df(spark, [("I", 1, "a", 1, "a1"), ("I", 2, "b", 2, "b1")])
    table.merge(spark, b)
    before = state(spark, table)
    table.merge(spark, b)  # replayed batch: LWW guard makes it a no-op
    assert state(spark, table) == before


def test_compact_collapses_deltas_and_gcs_tombstones(spark, table):
    for i in range(4):
        table.merge(
            spark,
            batch_df(spark, [("I", i * 2 + 1, f"k{i}", i, f"v{i}"), ("U", i * 2 + 2, "hot", 50 + i, f"h{i}")]),
        )
    table.merge(spark, batch_df(spark, [("D", 100, "k0", 99, None)]))
    n_delta = sum(1 for f in table.manifest["files"] if f["kind"] == "delta")
    assert n_delta > 0
    before = state(spark, table)
    stats = table.compact(spark, tombstone_horizon=ts(1000))
    assert stats.files_removed == n_delta
    assert all(f["kind"] == "base" for f in table.manifest["files"])
    assert state(spark, table) == before
    # tombstone for k0 still present (horizon in future → kept? no: kept
    # only if warc_ts >= horizon; ts(99) < ts(1000) → dropped)
    internal = table.scan(spark, include_internal=True, include_tombstones=True)
    assert internal.where(F.col("_deleted")).count() == 0


@pytest.mark.parametrize(
    "layout,policy",
    [
        pytest.param(layout, policy, id=layout if policy == "lww" else f"{layout}-{policy}")
        for policy in ("lww", "partial")
        for layout in ("empty", "clean", "dirty", "mixed")
    ],
)
def test_scan_same_rows_and_schema_for_every_bucket_layout(spark, tmp_path, layout, policy):
    """Whichever legs a snapshot has — none, only base (clean) buckets,
    only delta (dirty) buckets, or both — scan() returns the live schema
    and the LWW state, under either merge policy (a partial table's
    internal scan keeps `_op` nullable even when every bucket is
    dirty)."""
    table = LakeTable.create(
        str(tmp_path / "t"), DDL, key_col="url", order_cols=("warc_ts",),
        num_buckets=4, merge_policy=policy,
    )
    rows = [("I", i, f"k{i}", i, f"v{i}") for i in range(12)]
    later = [("U", 20, "k1", 50, "w1"), ("D", 21, "k2", 51, None)]
    want = {}
    if layout != "empty":
        merge(spark, table, rows, compact=layout == "mixed")
        merge(spark, table, later, compact=layout == "clean")
        want = {f"k{i}": (ts(i), f"v{i}") for i in range(12) if i != 2}
        want["k1"] = (ts(50), "w1")
    dirty = {f["bucket"] for f in table.manifest["files"] if f["kind"] == "delta"}
    clean = {f["bucket"] for f in table.manifest["files"]} - dirty
    assert (bool(clean), bool(dirty)) == {
        "empty": (False, False),
        "clean": (True, False),
        "dirty": (False, True),
        "mixed": (True, True),
    }[layout]
    got = {
        r["url"]: (r["warc_ts"].astimezone(UTC), r["text"])
        for r in table.scan(spark).collect()
    }
    assert got == want
    assert table.scan(spark).schema == spark.createDataFrame([], DDL).schema
    assert (
        table.scan(spark, include_internal=True, include_tombstones=True).schema
        == spark.createDataFrame([], table._physical_ddl()).schema
    )


def test_snapshot_isolation_reader_sees_old_version(spark, table):
    table.merge(spark, batch_df(spark, [("I", 1, "a", 1, "a1")]))
    old = LakeTable.load(table.path)
    table.merge(spark, batch_df(spark, [("I", 2, "b", 2, "b1")]))
    assert set(state(spark, old)) == {"a"}
    assert set(state(spark, table)) == {"a", "b"}


def test_expire_snapshots(spark, table):
    for i in range(6):
        table.merge(spark, batch_df(spark, [("U", i + 1, "k", i, f"v{i}")]))
    table.compact(spark)
    removed = table.expire_snapshots(keep_last=1)
    assert removed > 0
    assert state(spark, table)["k"][1] == "v5"


def test_concurrent_commit_detected(spark, table, tmp_path):
    stale = LakeTable.load(table.path)
    table.merge(spark, batch_df(spark, [("I", 1, "a", 1, "a1")]))
    with pytest.raises(RuntimeError, match="concurrent commit"):
        stale.merge(spark, batch_df(spark, [("I", 2, "b", 2, "b1")]))
