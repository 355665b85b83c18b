"""Structured Streaming wrapper: drain, resume-from-checkpoint,
exactly-once replay, incremental arrival."""

from __future__ import annotations

import glob
import os
import shutil

import pytest

from tiger_etl_spark.cdc import oracle
from tiger_etl_spark.cdc.datagen import gen_change_events, write_change_files
from tiger_etl_spark.cdc.pipeline import create_pages_table, read_lineage
from tiger_etl_spark.cdc.streaming import run_stream
from tiger_etl_spark.lake import LakeTable

N_EVENTS = 3000
N_FILES = 10


@pytest.fixture(scope="module")
def change_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stream_changes"))
    ev = gen_change_events(seed=7, n=N_EVENTS, n_hosts=40)
    write_change_files(ev, d, n_files=N_FILES)
    return d


def assert_parity(spark, table_path, change_dir):
    expected = oracle.replay_dir(change_dir)
    table = LakeTable.load(table_path)
    rows = {r["url"]: r for r in table.scan(spark).collect()}
    assert set(rows) == set(expected)
    for url, e in expected.items():
        assert rows[url]["text"] == e["text"]
        got = rows[url]["html"]
        assert (bytes(got) if got is not None else None) == e["html"]


def test_stream_drain_and_parity(spark, tmp_path, change_dir):
    tp = str(tmp_path / "pages")
    create_pages_table(tp, num_buckets=8)
    res = run_stream(
        spark, change_dir, tp, str(tmp_path / "ckpt"), max_files_per_trigger=3
    )
    assert res.batches_applied == 4  # ceil(10/3)
    assert_parity(spark, tp, change_dir)
    ldf = read_lineage(spark, LakeTable.load(tp))
    assert ldf.count() == res.batches_applied


def test_stream_maintains_scd2_history(spark, tmp_path, change_dir):
    """history_path: the SCD2 history table rides the same micro-batches
    and must stitch to the full recompute over the whole change log —
    including across a restart that re-delivers a batch (per-table
    ledgers converge independently)."""
    from tiger_etl_spark.cdc.history import create_history_table, read_history
    from tiger_etl_spark.cdc.sources import read_change_batch
    from tiger_etl_spark.operators.scd import scd2_history

    tp, hp = str(tmp_path / "pages"), str(tmp_path / "hist")
    create_pages_table(tp, num_buckets=8)
    create_history_table(hp, "url string", "lang string", num_buckets=4)
    ckpt = str(tmp_path / "ckpt")
    run_stream(
        spark, change_dir, tp, ckpt, max_files_per_trigger=3, history_path=hp
    )
    # second drain on the same checkpoint: no new files, nothing re-applied
    res2 = run_stream(
        spark, change_dir, tp, ckpt, max_files_per_trigger=3, history_path=hp
    )
    assert res2.batches_applied == 0
    assert_parity(spark, tp, change_dir)

    # the generator re-delivers ~1% of events verbatim in the next file
    # (idempotent-replay fixture); an event IS its op_seq, so the
    # reference log dedupes by it — the history table does the same
    # structurally (per-event fragment keys).
    full_log = (
        read_change_batch(spark, change_dir)
        .where("warc_ts is not null")
        .dropDuplicates(["op_seq"])
    )
    expected = scd2_history(
        full_log, ["url"], ["lang"], "warc_ts", tiebreak_cols=["op_seq"]
    )
    canon = lambda df: {
        (r.url, r.version_idx): (r.lang, r.valid_from, r.valid_to,
                                 r.is_current, r.n_rows)
        for r in df.collect()
    }
    got = read_history(spark, LakeTable.load(hp))
    assert canon(got.select(expected.columns)) == canon(expected)


def test_restart_from_checkpoint(spark, tmp_path, change_dir):
    """Process half the files, 'crash', add the rest, resume from the
    same checkpoint — final state must equal a clean full replay."""
    tp = str(tmp_path / "pages")
    ckpt = str(tmp_path / "ckpt")
    create_pages_table(tp, num_buckets=8)

    staged = str(tmp_path / "staged_changes")
    os.makedirs(staged)
    files = sorted(glob.glob(os.path.join(change_dir, "*.parquet")))
    for f in files[:5]:
        shutil.copy(f, staged)
    res1 = run_stream(spark, staged, tp, ckpt, max_files_per_trigger=2)
    assert res1.batches_applied == 3

    for f in files[5:]:
        shutil.copy(f, staged)
    res2 = run_stream(spark, staged, tp, ckpt, max_files_per_trigger=2)
    assert res2.batches_applied >= 1
    assert_parity(spark, tp, change_dir)


def test_replay_after_lost_checkpoint_is_idempotent(spark, tmp_path, change_dir):
    """Worst case: checkpoint is lost entirely and the whole stream
    replays against the already-populated table. applied_batches skips
    same-id batches; differently-split batches are no-ops via LWW."""
    tp = str(tmp_path / "pages")
    create_pages_table(tp, num_buckets=8)
    run_stream(spark, change_dir, tp, str(tmp_path / "ckpt1"), max_files_per_trigger=3)
    v1 = LakeTable.load(tp).manifest["snapshot_id"]
    # fresh checkpoint → same batch ids (0..) → all skipped by bookkeeping?
    # No: bookkeeping skips ids already applied; ids collide (0,1,2,3) so
    # the stream becomes a pure no-op.
    res = run_stream(spark, change_dir, tp, str(tmp_path / "ckpt2"), max_files_per_trigger=3)
    assert res.batches_skipped == 4 and res.batches_applied == 0
    assert LakeTable.load(tp).manifest["snapshot_id"] == v1
    assert_parity(spark, tp, change_dir)


def test_compact_every(spark, tmp_path, change_dir):
    tp = str(tmp_path / "pages")
    create_pages_table(tp, num_buckets=4)
    run_stream(
        spark,
        change_dir,
        tp,
        str(tmp_path / "ckpt"),
        max_files_per_trigger=2,
        compact_every=2,
    )
    assert_parity(spark, tp, change_dir)
    t = LakeTable.load(tp)
    # last compaction ran at batch 4 of 5 → at most one delta generation
    n_delta = sum(1 for f in t.manifest["files"] if f["kind"] == "delta")
    assert n_delta <= 8


def test_maintain_every_mid_stream(spark, tmp_path, change_dir):
    """Full maintenance (threshold-gated compaction + snapshot expiry)
    interleaved mid-stream: final state must still be byte-exact vs the
    replay oracle, read amplification must stay bounded, and expiry
    must actually run (meta version count far below commit count)."""
    tp = str(tmp_path / "pages")
    create_pages_table(tp, num_buckets=4)
    res = run_stream(
        spark,
        change_dir,
        tp,
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
        maintain_every=3,
    )
    assert res.batches_applied == N_FILES
    assert_parity(spark, tp, change_dir)
    t = LakeTable.load(tp)
    # threshold-gated compaction keeps per-bucket delta chains bounded
    per_bucket: dict[int, int] = {}
    for f in t.manifest["files"]:
        if f["kind"] == "delta":
            per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + 1
    assert max(per_bucket.values(), default=0) <= 8 + 3
    # snapshot expiry ran: ≥10 merge commits + maintenance commits
    # happened, but only keep_last(5) + post-maintenance commits remain
    versions = [
        fn
        for fn in os.listdir(os.path.join(tp, "meta"))
        if fn.startswith("v") and fn.endswith(".json")
    ]
    assert len(versions) <= 5 + 3
    # the exactly-once ledger survives maintenance: re-running the same
    # stream from a fresh checkpoint replays every batch as a no-op
    before = {r["url"]: r["text"] for r in t.scan(spark).collect()}
    res2 = run_stream(
        spark,
        change_dir,
        tp,
        str(tmp_path / "ckpt2"),
        max_files_per_trigger=1,
        maintain_every=3,
    )
    assert res2.batches_skipped == N_FILES and res2.batches_applied == 0
    after = {
        r["url"]: r["text"]
        for r in LakeTable.load(tp).scan(spark).collect()
    }
    assert after == before


def test_applied_batch_bookkeeping_is_bounded(spark, tmp_path):
    """The exactly-once ledger must not grow with stream length: recent
    ids stay in the window (snapshot correlation), older ids collapse
    into the high-watermark — and replays of BOTH kinds are skipped."""
    from tiger_etl_spark.cdc.datagen import gen_change_events, write_change_files
    from tiger_etl_spark.cdc.pipeline import (
        APPLIED_WINDOW,
        apply_changes,
        applied_batches_update,
        batch_applied,
        create_pages_table,
    )
    from tiger_etl_spark.cdc.schemas import EVENTS_READ_SCHEMA

    # ledger math: window stays bounded over an arbitrarily long stream
    props: dict = {}
    for i in range(APPLIED_WINDOW * 3):
        props.update(applied_batches_update(props, i, i + 1))
    assert len(props["applied_batches"]) <= APPLIED_WINDOW
    assert int(props["applied_batch_hwm"]) == APPLIED_WINDOW * 3 - 1
    for i in range(APPLIED_WINDOW * 3):
        assert batch_applied(props, i), i  # incl. ids trimmed from the dict
    assert not batch_applied(props, APPLIED_WINDOW * 3)

    # end-to-end: a replayed batch whose id fell below the watermark is
    # skipped without touching the table
    d = str(tmp_path / "ch")
    ev = gen_change_events(seed=21, n=400, n_hosts=10)
    write_change_files(ev, d, n_files=2)
    import glob as g

    paths = sorted(g.glob(d + "/*.parquet"))
    events = spark.read.schema(EVENTS_READ_SCHEMA).parquet(paths[0])
    table = create_pages_table(str(tmp_path / "t"), num_buckets=2)
    apply_changes(spark, table, events, batch_id=0)
    # simulate a long-gone ledger: watermark advanced far past batch 0,
    # dict trimmed
    table.update_props({"applied_batches": {}, "applied_batch_hwm": 500})
    v = table.manifest["version"]
    rec = apply_changes(spark, table, events, batch_id=0)
    assert rec.rows_in == 0
    assert table.manifest["version"] == v  # no commit happened
