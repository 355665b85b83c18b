"""Per-micro-batch Write-Audit-Publish gate on the streaming ingest
path: a poisoned batch must never become reader-visible — halt policy
stops the stream fail-closed; quarantine policy dead-letters the batch
and keeps going, with exactly-once semantics across restarts."""

from __future__ import annotations

import glob
import json
import os
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tiger_etl_spark.cdc import oracle
from tiger_etl_spark.cdc.datagen import gen_change_events, write_change_files
from tiger_etl_spark.cdc.pipeline import (
    create_pages_table,
    read_lineage,
    read_quarantine,
    replay_quarantine,
)
from tiger_etl_spark.cdc.streaming import AuditRejected, run_stream
from tiger_etl_spark.lake import LakeTable
from tiger_etl_spark.lake.wap import AuditSpec, parse_audit_spec

N_EVENTS = 900
N_FILES = 6
POISON_IDX = 4  # post-schema-evolution file (v2: has html/lang columns)


def _mk_changes(tmp_path, poison: bool):
    d = str(tmp_path / ("poisoned" if poison else "clean"))
    ev = gen_change_events(seed=21, n=N_EVENTS, n_hosts=20)
    write_change_files(ev, d, n_files=N_FILES)
    if poison:
        # an upstream length-accounting break: every content_len in one
        # batch file goes negative. Row validation (FIXTURES §6) does
        # not police content_len — only the table-state audit can.
        path = sorted(glob.glob(os.path.join(d, "*.parquet")))[POISON_IDX]
        st = os.stat(path)
        t = pq.read_table(path)
        i = t.schema.get_field_index("content_len")
        bad = pa.array([-1] * len(t), type=t.schema.field(i).type)
        pq.write_table(t.set_column(i, "content_len", bad), path)
        # the file stream source orders by modification time — keep the
        # rewritten file in its original delivery slot
        os.utime(path, (st.st_atime, st.st_mtime))
    return d


def _audit() -> AuditSpec:
    return AuditSpec().check_max_violation_frac(
        "len_nonneg", F.col("content_len") >= 0, 0.05
    )


def _final(spark, tp):
    return {
        r["url"]: r["content_len"]
        for r in LakeTable.load(tp).scan(spark).collect()
    }


def _lineage_snapshots(spark, tp) -> dict[int, int]:
    """batch_id -> snapshot_id, as the `_lineage` rows record them."""
    return {
        r["batch_id"]: r["snapshot_id"]
        for r in read_lineage(spark, LakeTable.load(tp)).collect()
    }


def test_audit_halt_stops_before_publish(spark, tmp_path):
    """halt: the poisoned batch aborts the stream; everything published
    so far is exactly the clean prefix, and the poisoned rows are
    nowhere. A restart re-delivers the same batch (checkpoint did not
    advance) and halts again — fail-closed."""
    cdir = _mk_changes(tmp_path, poison=True)
    tp = str(tmp_path / "pages")
    create_pages_table(tp, num_buckets=4)
    ckpt = str(tmp_path / "ckpt")
    with pytest.raises(Exception) as ei:
        run_stream(
            spark, cdir, tp, ckpt, max_files_per_trigger=1, audit=_audit()
        )
    assert "failed audit" in str(ei.value)
    state = _final(spark, tp)
    # clean prefix only: replay the first POISON_IDX files through the
    # single-threaded oracle
    prefix = str(tmp_path / "prefix")
    os.makedirs(prefix)
    for f in sorted(glob.glob(os.path.join(cdir, "*.parquet")))[:POISON_IDX]:
        shutil.copy(f, prefix)
    expected = oracle.replay_dir(prefix)
    assert set(state) == set(expected)
    assert all(v is None or v >= 0 for v in state.values())
    # restart: same halt, nothing new published
    with pytest.raises(Exception):
        run_stream(
            spark, cdir, tp, ckpt, max_files_per_trigger=1, audit=_audit()
        )
    assert _final(spark, tp) == state
    # the rejected batch left no lineage row; every remaining row names
    # the snapshot its batch published (the applied-batch ledger)
    bad_id = int(re.search(r"batch (\d+) failed audit", str(ei.value))[1])
    lineage = _lineage_snapshots(spark, tp)
    assert bad_id not in lineage
    ledger = LakeTable.load(tp).props["applied_batches"]
    assert lineage == {int(k): v for k, v in ledger.items()}


def test_audit_quarantine_continues_and_deadletters(spark, tmp_path):
    """quarantine: the poisoned batch is dead-lettered in the one
    dead-letter store (raw rows + reasons) and the stream drains to the
    end; final state equals the oracle replay of every file EXCEPT the
    poisoned one."""
    cdir = _mk_changes(tmp_path, poison=True)
    tp = str(tmp_path / "pages")
    create_pages_table(tp, num_buckets=4)
    res = run_stream(
        spark,
        cdir,
        tp,
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
        audit=_audit(),
        audit_policy="quarantine",
    )
    assert res.batches_rejected == 1
    assert res.batches_applied == N_FILES - 1
    (bad_id, failures) = res.audit_failures[0]
    assert any("len_nonneg" in f for f in failures)

    files = sorted(glob.glob(os.path.join(cdir, "*.parquet")))
    clean = str(tmp_path / "clean_only")
    os.makedirs(clean)
    for i, f in enumerate(files):
        if i != POISON_IDX:
            shutil.copy(f, clean)
    expected = oracle.replay_dir(clean)
    state = _final(spark, tp)
    assert set(state) == set(expected)
    assert all(v is None or v >= 0 for v in state.values())

    # the batch's dead-letter dir holds exactly the poisoned file's
    # rows, each tagged with the checks the batch failed
    qdir = os.path.join(tp, "_quarantine", f"batch_id={bad_id}")
    rejected = spark.read.parquet(qdir).collect()

    def key(r):
        return (r["op"], r["op_seq"], r["url"])

    poisoned = pq.read_table(files[POISON_IDX]).to_pylist()
    assert sorted(map(key, rejected)) == sorted(map(key, poisoned))
    assert all(r["content_len"] < 0 for r in rejected)
    assert {r["_invalid_reasons"] for r in rejected} == {
        "audit:" + ",".join(failures)
    }
    with open(os.path.join(qdir, "_reasons.json")) as fh:
        reasons = json.load(fh)
    assert reasons["failures"] == failures
    # no lineage row for the rejected batch (its staged snapshot was
    # never published); the rest match what the stream reported
    lineage = _lineage_snapshots(spark, tp)
    assert bad_id not in lineage
    assert lineage == {r.batch_id: r.snapshot_id for r in res.lineage}


def test_audit_error_inside_staged_batch_leaves_nothing_behind(
    spark, tmp_path
):
    """An audit that raises (its check names a missing column) aborts
    the staged batch like a failing one: nothing is published, no staged
    manifest stays on disk, and the batch leaves no lineage row or
    dead-letter dir."""
    cdir = _mk_changes(tmp_path, poison=False)
    tp = str(tmp_path / "pages")
    create_pages_table(tp, num_buckets=4)
    with pytest.raises(Exception, match="no_such_col"):
        run_stream(
            spark,
            cdir,
            tp,
            str(tmp_path / "ckpt"),
            max_files_per_trigger=N_FILES,
            audit=parse_audit_spec("null(no_such_col)<=0"),
        )
    assert LakeTable.load(tp).manifest["version"] == 0
    assert not os.path.exists(os.path.join(tp, "meta", "v1.json"))
    assert not os.path.isdir(os.path.join(tp, "_lineage", "batch_id=0"))
    assert not os.path.isdir(os.path.join(tp, "_quarantine", "batch_id=0"))


def test_audit_quarantine_exactly_once_on_restart(spark, tmp_path):
    """A rejected batch is in the applied ledger: wiping the checkpoint
    and re-draining the same directory must re-apply NOTHING (neither
    the clean batches nor the rejected one) and leave state unchanged."""
    cdir = _mk_changes(tmp_path, poison=True)
    tp = str(tmp_path / "pages")
    create_pages_table(tp, num_buckets=4)
    run_stream(
        spark,
        cdir,
        tp,
        str(tmp_path / "ckpt1"),
        max_files_per_trigger=1,
        audit=_audit(),
        audit_policy="quarantine",
    )
    before = _final(spark, tp)
    res2 = run_stream(
        spark,
        cdir,
        tp,
        str(tmp_path / "ckpt2"),  # fresh checkpoint = full redelivery
        max_files_per_trigger=1,
        audit=_audit(),
        audit_policy="quarantine",
    )
    assert res2.batches_applied == 0
    assert res2.batches_rejected == 0
    assert res2.batches_skipped == N_FILES
    assert _final(spark, tp) == before


def test_replay_audit_rejected_batch_repairs_and_publishes(spark, tmp_path):
    """The repair loop: a dead-lettered batch, fixed (content_len
    recomputed from html) and re-merged under the SAME audit, brings the
    table to full parity with the never-poisoned change log; the dir and
    the rejected-prop entry are cleared in ONE commit. A replay without
    a gate must hold the batch, an unfixed replay must still fail the
    gate, and a fix that leaves every row invalid publishes nothing: all
    three keep the dir intact."""
    cdir = _mk_changes(tmp_path, poison=True)
    tp = str(tmp_path / "pages")
    create_pages_table(tp, num_buckets=4)
    res = run_stream(
        spark,
        cdir,
        tp,
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
        audit=_audit(),
        audit_policy="quarantine",
    )
    assert res.batches_rejected == 1
    bad_id = res.audit_failures[0][0]
    table = LakeTable.load(tp)
    rdir = os.path.join(tp, "_quarantine", f"batch_id={bad_id}")
    n_rejected = spark.read.parquet(rdir).count()
    # the store also holds the stream's one per-row reject (an event
    # with an empty url, in another batch): every replay re-validates it
    # and keeps it
    row_rejects = read_quarantine(spark, table).where(
        ~F.col("_invalid_reasons").startswith("audit:")
    )
    assert row_rejects.count() == 1
    row_dir = os.path.join(
        tp, "_quarantine", f"batch_id={row_rejects.first()['batch_id']}"
    )
    v = table.manifest["version"]

    def store():
        # file lists of both dirs plus the reject's sidecar
        with open(os.path.join(rdir, "_reasons.json")) as fh:
            reasons = json.load(fh)
        return sorted(os.listdir(rdir)), sorted(os.listdir(row_dir)), reasons

    def assert_untouched(out, rows_still_invalid, still_failing):
        assert out == {
            "batches": 2,
            "rows_applied": 0,
            "rows_still_invalid": rows_still_invalid,
            "still_failing": still_failing,
        }
        assert store() == store_before
        published = LakeTable.load(tp)
        assert published.manifest["version"] == v
        assert str(bad_id) in published.props["audit_rejected"]

    store_before = store()
    # replay with NO gate (the per-row replay an operator or cron runs):
    # the audit-rejected batch is held unread; the per-row reject is
    # re-validated, still invalid, and kept as it was
    assert_untouched(replay_quarantine(spark, table), 1, 1)

    # replay WITHOUT a fixer: the same poison re-merges staged, fails
    # the same gate, aborts — dir intact, nothing published
    assert_untouched(replay_quarantine(spark, table, audit=_audit()), 1, 1)

    # a "fix" that leaves every row invalid: nothing reaches the gate,
    # nothing publishes, both dirs keep their original rows
    out = replay_quarantine(
        spark, table, fixer=lambda df: df.withColumn("url", F.lit("")),
        audit=_audit(),
    )
    assert_untouched(out, n_rejected + 1, 0)

    # replay WITH the repair: publishes, clears dir + prop, and the
    # final state now equals the oracle replay of the CLEAN log
    def fix(df):
        return df.withColumn(
            "content_len", F.length("html").cast("long")  # null html → null
        )

    out2 = replay_quarantine(spark, table, fixer=fix, audit=_audit())
    assert out2 == {
        "batches": 2,
        "rows_applied": n_rejected,
        "rows_still_invalid": 1,
        "still_failing": 0,
    }
    assert not os.path.isdir(rdir)
    # the entry is cleared by the replayed merge's own commit: one
    # version, no separate props-only commit after it
    published = LakeTable.load(tp)
    assert published.manifest["version"] == v + 1
    assert str(bad_id) not in published.props.get("audit_rejected", {})
    assert read_quarantine(spark, published).count() == 1
    clean = _mk_changes(tmp_path, poison=False)
    expected = oracle.replay_dir(clean)
    state = {
        r["url"]: (r["content_len"], r["text"])
        for r in LakeTable.load(tp).scan(spark).collect()
    }
    assert set(state) == set(expected)
    for url, e in expected.items():
        assert state[url] == (e["content_len"], e["text"]), url


def test_clean_stream_with_audit_matches_oracle(spark, tmp_path):
    """The gate must be a no-op on a healthy stream: full parity with
    the oracle replay, every batch published."""
    cdir = _mk_changes(tmp_path, poison=False)
    tp = str(tmp_path / "pages")
    create_pages_table(tp, num_buckets=4)
    res = run_stream(
        spark,
        cdir,
        tp,
        str(tmp_path / "ckpt"),
        max_files_per_trigger=2,
        audit=_audit(),
        audit_policy="quarantine",
    )
    assert res.batches_rejected == 0
    expected = oracle.replay_dir(cdir)
    table = LakeTable.load(tp)
    rows = {r["url"]: r for r in table.scan(spark).collect()}
    assert set(rows) == set(expected)
    for url, e in expected.items():
        got = rows[url]["html"]
        assert (bytes(got) if got is not None else None) == e["html"]
        assert rows[url]["text"] == e["text"]


def test_replay_audit_rejected_batch_partial_table_enriches_like_live_ingest(
    spark, tmp_path
):
    """A merge_policy='partial' table that declares an enrich column and
    a static-dim column: the rows a replay of an audit-rejected batch
    publishes must carry both columns exactly as live ingest of the same
    (repaired) change log does — the replay takes the same shaping path,
    enrichers and static_dim included."""
    from tiger_etl_spark.cdc.schemas import PAGES_SCHEMA

    ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in PAGES_SCHEMA.fields
    )

    def mk_table(name):
        path = str(tmp_path / name)
        LakeTable.create(
            path,
            f"{ddl}, lang_family string, lang_rank long",
            key_col="url",
            num_buckets=4,
            merge_policy="partial",
        )
        return path

    dim = spark.createDataFrame(
        [("en", "germanic", 1), ("de", "germanic", 2), ("fr", "romance", 3)],
        "lang string, lang_family string, dim_rank long",
    )
    enrichers = {"lang_rank": F.col("dim_rank") * 10}
    kw = dict(enrichers=enrichers, static_dim=(dim, "lang"))

    tp = mk_table("pages")
    res = run_stream(
        spark,
        _mk_changes(tmp_path, poison=True),
        tp,
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
        audit=_audit(),
        audit_policy="quarantine",
        **kw,
    )
    assert res.batches_rejected == 1
    bad_id = res.audit_failures[0][0]
    rdir = os.path.join(tp, "_quarantine", f"batch_id={bad_id}")
    replayed_urls = {r["url"] for r in spark.read.parquet(rdir).collect()}

    def fix(df):
        return df.withColumn("content_len", F.length("html").cast("long"))

    out = replay_quarantine(
        spark, LakeTable.load(tp), fixer=fix, audit=_audit(), **kw
    )
    assert out["still_failing"] == 0 and out["rows_applied"] > 0
    assert not os.path.isdir(rdir)

    live = mk_table("live")
    run_stream(
        spark,
        _mk_changes(tmp_path, poison=False),
        live,
        str(tmp_path / "ckpt_live"),
        max_files_per_trigger=1,
        **kw,
    )

    cols = ["lang", "lang_family", "lang_rank", "content_len", "text"]

    def state(path):
        return {
            r["url"]: tuple(r[c] for c in cols)
            for r in LakeTable.load(path).scan(spark).collect()
        }

    got, want = state(tp), state(live)
    assert got == want
    rank = {"en": 10, "de": 20, "fr": 30}
    family = {"en": "germanic", "de": "germanic", "fr": "romance"}
    enriched = [
        got[u] for u in replayed_urls if u in got and got[u][0] in rank
    ]
    assert enriched
    for lang, fam, lrank, _, _ in enriched:
        assert (fam, lrank) == (family[lang], rank[lang])
