"""Snapshot bootstrap (initial full-load) + binlog-tail takeover:
the DMS/Debezium snapshot+streaming pattern. Parity bar: bootstrap from
a position-consistent snapshot, then tail the remaining change files —
final state must equal the oracle replay of the WHOLE change log, even
when the tail overlaps the snapshot position (contiguous re-delivery)."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tiger_etl_spark.cdc import oracle
from tiger_etl_spark.cdc.bootstrap import bootstrap_table, snapshot_to_events
from tiger_etl_spark.cdc.datagen import gen_change_events, write_change_files
from tiger_etl_spark.cdc.pipeline import create_pages_table
from tiger_etl_spark.cdc.streaming import run_stream
from tiger_etl_spark.lake import LakeTable

N_EVENTS = 1200
N_FILES = 6
SNAP_AT = 3  # snapshot position: after files [0, SNAP_AT)

SNAP_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("content_len", T.LongType(), True),
    ]
)


@pytest.fixture(scope="module")
def changes(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("boot_changes"))
    ev = gen_change_events(seed=31, n=N_EVENTS, n_hosts=25)
    write_change_files(ev, d, n_files=N_FILES)
    return d


def _files(changes):
    return sorted(glob.glob(os.path.join(changes, "*.parquet")))


def _subdir(tmp_path, changes, idxs, name):
    d = str(tmp_path / name)
    os.makedirs(d, exist_ok=True)
    for i in idxs:
        shutil.copy(_files(changes)[i], d)
    return d


def _snapshot_df(spark, tmp_path, changes):
    """The state at the snapshot position, as a keyed snapshot frame
    (live rows only — a snapshot carries no tombstones)."""
    prefix = _subdir(tmp_path, changes, range(SNAP_AT), "snap_prefix")
    state = oracle.replay_dir(prefix)
    rows = [
        (u, e["warc_ts"], e["html"], e["lang"], e["content_len"])
        for u, e in state.items()
    ]
    return spark.createDataFrame(rows, SNAP_SCHEMA)


def _assert_full_parity(spark, table_path, changes):
    expected = oracle.replay_dir(changes)
    rows = {
        r["url"]: r for r in LakeTable.load(table_path).scan(spark).collect()
    }
    assert set(rows) == set(expected)
    for url, e in expected.items():
        r = rows[url]
        got = bytes(r["html"]) if r["html"] is not None else None
        assert got == e["html"], url
        assert r["text"] == e["text"], url
        assert r["lang"] == e["lang"], url


def test_bootstrap_then_tail_matches_full_replay(spark, tmp_path, changes):
    """Load the snapshot, tail exactly the post-snapshot files: final
    state == oracle replay of the whole log. Bootstrap wrote BASE files
    (apply, then compact) and set the position marker."""
    tp = str(tmp_path / "pages")
    t = create_pages_table(tp, num_buckets=4)
    rec = bootstrap_table(spark, t, _snapshot_df(spark, tmp_path, changes))
    assert rec is not None and rec.rows_in > 0
    assert t.props["bootstrap_op_seq"] == "1"
    kinds = {f["kind"] for f in t.manifest["files"]}
    assert kinds == {"base"}
    tail = _subdir(tmp_path, changes, range(SNAP_AT, N_FILES), "tail_exact")
    run_stream(spark, tail, tp, str(tmp_path / "ckpt"), max_files_per_trigger=1)
    _assert_full_parity(spark, tp, changes)


def test_bootstrap_overlapping_tail_is_idempotent(spark, tmp_path, changes):
    """Tail from BEFORE the snapshot position (contiguous re-delivery of
    files [1..6) over a snapshot taken at 3): LWW absorbs the overlap —
    re-delivered inserts lose to newer snapshot rows, and a delete whose
    insert is re-delivered is itself re-delivered later in the same
    contiguous tail, so nothing resurrects."""
    tp = str(tmp_path / "pages2")
    t = create_pages_table(tp, num_buckets=4)
    bootstrap_table(spark, t, _snapshot_df(spark, tmp_path, changes))
    tail = _subdir(tmp_path, changes, range(1, N_FILES), "tail_overlap")
    run_stream(spark, tail, tp, str(tmp_path / "ckpt2"), max_files_per_trigger=2)
    _assert_full_parity(spark, tp, changes)


def test_bootstrap_is_idempotent(spark, tmp_path, changes):
    """A second bootstrap call must no-op on the marker; state and
    version are untouched."""
    tp = str(tmp_path / "pages3")
    t = create_pages_table(tp, num_buckets=4)
    snap = _snapshot_df(spark, tmp_path, changes)
    assert bootstrap_table(spark, t, snap) is not None
    v = t.manifest["version"]
    assert bootstrap_table(spark, t, snap) is None
    assert t.manifest["version"] == v


def test_bootstrap_writes_day_clustered_base_files(spark, tmp_path):
    """The load takes the table's compaction layout: into a
    `compact_cluster_ts='day'` table it writes base files only, one per
    (bucket, day), so a time-window scan of the bootstrapped corpus
    prunes files."""
    import datetime as dt

    t0 = dt.datetime(2025, 3, 1, tzinfo=dt.timezone.utc)
    rows = [
        (f"http://h{i % 5}.example/p{i}", t0 + dt.timedelta(days=i % 3, minutes=i),
         f"<p>page {i}</p>".encode(), "en", 20)
        for i in range(30)
    ]
    tp = str(tmp_path / "pages_day")
    t = create_pages_table(tp, num_buckets=2, compact_cluster_ts="day")
    bootstrap_table(spark, t, spark.createDataFrame(rows, SNAP_SCHEMA))
    files = t.manifest["files"]
    assert {f["kind"] for f in files} == {"base"}
    days = [f["min"]["warc_ts"][:10] for f in files]
    assert days == [f["max"]["warc_ts"][:10] for f in files]
    assert len(set(days)) == 3
    assert len({(f["bucket"], d) for f, d in zip(files, days)}) == len(files)
    assert sorted(r["url"] for r in t.scan(spark).collect()) == sorted(
        r[0] for r in rows
    )


def test_bootstrap_crash_before_compaction_converges(
    spark, tmp_path, changes, monkeypatch
):
    """A crash after the load's data commit but before its compaction:
    the rerun's apply is a ledger no-op, then it compacts and sets the
    marker — all-base, marked, and at oracle parity. The rerun reports
    the load as resumed (`skipped`: `--bootstrap` prints "resumed"), not
    as a fresh load of 0 rows."""
    compact = LakeTable.compact
    crashed = []

    def crash_once(self, *args, **kwargs):
        if not crashed:
            crashed.append(True)
            raise RuntimeError("injected crash before compaction")
        return compact(self, *args, **kwargs)

    monkeypatch.setattr(LakeTable, "compact", crash_once)
    tp = str(tmp_path / "pages_crash")
    snap = _snapshot_df(spark, tmp_path, changes)
    with pytest.raises(RuntimeError, match="injected crash"):
        bootstrap_table(spark, create_pages_table(tp, num_buckets=4), snap)
    t = LakeTable.load(tp)
    assert t.props.get("bootstrap_op_seq") is None
    assert {f["kind"] for f in t.manifest["files"]} == {"delta"}
    rec = bootstrap_table(spark, t, snap)
    assert rec is not None
    assert rec.skipped and rec.batch_id == -1 and rec.rows_applied == 0
    assert t.props["bootstrap_op_seq"] == "1"
    assert {f["kind"] for f in t.manifest["files"]} == {"base"}
    _assert_full_parity(spark, tp, str(tmp_path / "snap_prefix"))


def test_snapshot_to_events_shape(spark, tmp_path, changes):
    """The lifted events conform to the superset read schema, carry the
    snapshot position, and reject a sub-1 op_seq (which row validation
    would quarantine wholesale on the wire)."""
    snap = _snapshot_df(spark, tmp_path, changes)
    ev = snapshot_to_events(snap, op_seq=7)
    assert [f.name for f in ev.schema.fields] == [
        "op", "op_seq", "url", "warc_ts", "body", "html", "lang",
        "content_len", "schema_id", "batch_file",
    ]
    row = ev.select("op", "op_seq", "schema_id", "batch_file").first()
    assert (row["op"], row["op_seq"], row["schema_id"], row["batch_file"]) == (
        "I", 7, 2, "bootstrap"
    )
    with pytest.raises(ValueError):
        snapshot_to_events(snap, op_seq=0)
