"""Recovery operations: snapshot rollback (Iceberg rollback_to_snapshot
analog) and dead-letter quarantine replay (repair → re-validate →
re-ingest through the fused merge path)."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from tiger_etl_spark.cdc.pipeline import (
    apply_changes,
    create_pages_table,
    read_quarantine,
    replay_quarantine,
)
from tiger_etl_spark.lake import LakeTable

UTC = dt.timezone.utc


def ts(i: int) -> dt.datetime:
    return dt.datetime(2025, 3, 1, tzinfo=UTC) + dt.timedelta(seconds=i)


def _merge_rows(spark, t, rows):
    t.merge(
        spark,
        spark.createDataFrame(
            rows, "op string, op_seq long, url string, warc_ts timestamp, v string"
        ),
    )


# ---------------------------------------------------------------- rollback


def test_rollback_restores_state_and_keeps_history(spark, tmp_path):
    t = LakeTable.create(
        str(tmp_path / "t"), "url string, warc_ts timestamp, v string", "url",
        num_buckets=2,
    )
    _merge_rows(spark, t, [("I", 1, "a", ts(1), "good"), ("I", 2, "b", ts(2), "good")])
    good_version = t.manifest["version"]
    good_rows = {(r["url"], r["v"]) for r in t.scan(spark).collect()}

    # a bad batch lands: overwrites a, deletes b, inserts junk
    _merge_rows(
        spark, t,
        [("U", 3, "a", ts(3), "BAD"), ("D", 4, "b", ts(4), None),
         ("I", 5, "junk", ts(5), "BAD")],
    )
    assert {(r["url"], r["v"]) for r in t.scan(spark).collect()} != good_rows
    bad_version = t.manifest["version"]

    stats = t.rollback(good_version)
    assert stats.snapshot_id == t.manifest["snapshot_id"]
    assert {(r["url"], r["v"]) for r in t.scan(spark).collect()} == good_rows
    # reloading from disk sees the rolled-back state (the commit is real)
    assert {
        (r["url"], r["v"]) for r in LakeTable.load(t.path).scan(spark).collect()
    } == good_rows
    # history rolled FORWARD: the bad snapshot is still time-travelable
    bad = t.scan(spark, version=bad_version)
    assert bad.where(F.col("url") == "junk").count() == 1
    ops = [h["summary"].get("operation") for h in t.history()]
    assert "rollback" in ops
    # a post-rollback merge builds on the restored state
    _merge_rows(spark, t, [("I", 6, "c", ts(6), "new")])
    assert t.scan(spark).count() == 3


def test_rollback_rewinds_batch_ledger(spark, tmp_path):
    """The exactly-once ledger rides props, so rollback rewinds it: a
    batch applied after the target is no longer marked applied."""
    from tiger_etl_spark.cdc.pipeline import batch_applied

    t = create_pages_table(str(tmp_path / "pages"), num_buckets=4)
    html = b"<p>x</p>"
    rows0 = [("I", i + 1, f"http://h/{i}", ts(i), html, "en", 8, 2, "f0")
             for i in range(5)]
    rows1 = [("U", i + 10, f"http://h/{i}", ts(i + 50), html, "en", 8, 2, "f1")
             for i in range(5)]
    apply_changes(spark, t, _raw_events(spark, rows0), batch_id=0)
    v_after_b0 = t.manifest["version"]
    apply_changes(spark, t, _raw_events(spark, rows1), batch_id=1)
    assert batch_applied(t.props, 1)
    t.rollback(v_after_b0)
    assert batch_applied(t.props, 0)
    assert not batch_applied(t.props, 1)


def test_all_invalid_batch_applies_cleanly(spark, tmp_path):
    """Regression: a micro-batch in which EVERY row is quarantined used
    to crash `apply_changes` — AQE propagates the empty write relation
    past the CollectMetrics node and the Observation completes with a
    schema-less row py4j can't deserialize. The fallback recompute
    must kick in, the batch must be marked applied, and every row must
    land in quarantine."""
    from tiger_etl_spark.cdc.pipeline import batch_applied

    t = create_pages_table(str(tmp_path / "pages"), num_buckets=4)
    rows = [("I", 1, "http://u/1", None, b"<p>x</p>", "en", 5, 2, "f0"),
            ("X", 2, "http://u/2", ts(2), b"<p>y</p>", "en", 5, 2, "f0")]
    rec = apply_changes(spark, t, _raw_events(spark, rows), batch_id=0)
    assert rec.rows_in == 2
    assert rec.rows_quarantined == 2
    assert batch_applied(t.props, 0)
    assert t.scan(spark).count() == 0
    assert read_quarantine(spark, t).count() == 2


# ------------------------------------------------------- quarantine replay


def _raw_events(spark, rows):
    return spark.createDataFrame(
        rows,
        "op string, op_seq long, url string, warc_ts timestamp, html binary, "
        "lang string, content_len long, schema_id int, batch_file string",
    ).withColumn("body", F.lit(None).cast("binary"))


def test_replay_quarantine_repairs_and_reingests(spark, tmp_path):
    t = create_pages_table(str(tmp_path / "pages"), num_buckets=4)
    html = b"<html><body><p>hello quarantine</p></body></html>"
    rows = [
        ("I", 1, "http://ok/1", ts(1), html, "en", 10, 2, "f0"),
        ("I", 2, "http://fixable/2", None, html, "en", 10, 2, "f0"),  # null ts
        ("X", 3, "http://badop/3", ts(3), html, "en", 10, 2, "f0"),  # bad op
    ]
    apply_changes(spark, t, _raw_events(spark, rows), batch_id=0)
    assert t.scan(spark).count() == 1
    assert read_quarantine(spark, t).count() == 2

    # pass 1: repair the null timestamp only
    fix_ts = lambda df: df.withColumn(  # noqa: E731
        "warc_ts", F.coalesce("warc_ts", F.lit(ts(2)))
    )
    res = replay_quarantine(spark, t, fixer=fix_ts)
    assert res == {
        "batches": 1, "rows_applied": 1, "rows_still_invalid": 1,
        "still_failing": 0,
    }
    got = t.scan(spark).where(F.col("url") == "http://fixable/2").collect()
    assert len(got) == 1
    # the replayed row went through the SAME extraction as live ingest
    assert got[0]["text"] == "hello quarantine"
    left = read_quarantine(spark, t).collect()
    assert [r["url"] for r in left] == ["http://badop/3"]
    assert left[0]["_invalid_reasons"] == "bad_op"

    # pass 2: repair the op; the dead-letter dir disappears
    fix_op = lambda df: df.withColumn(  # noqa: E731
        "op", F.when(F.col("op") == "X", "I").otherwise(F.col("op"))
    )
    res = replay_quarantine(spark, t, fixer=fix_op)
    assert res == {
        "batches": 1, "rows_applied": 1, "rows_still_invalid": 0,
        "still_failing": 0,
    }
    assert t.scan(spark).count() == 3
    assert not os.path.isdir(os.path.join(t.path, "_quarantine", "batch_id=0"))

    # pass 3: nothing left — a no-op
    assert replay_quarantine(spark, t) == {
        "batches": 0, "rows_applied": 0, "rows_still_invalid": 0,
        "still_failing": 0,
    }


def test_replay_is_idempotent_and_lww_safe(spark, tmp_path):
    """A replayed event never beats a NEWER live row (LWW holds), and
    replaying the same repair twice is a no-op on state."""
    t = create_pages_table(str(tmp_path / "pages"), num_buckets=4)
    html_old = b"<p>old</p>"
    html_new = b"<p>new</p>"
    # quarantined event for url u (null ts), then a newer live event
    apply_changes(
        spark, t,
        _raw_events(spark, [("I", 1, "http://u/1", None, html_old, "en", 5, 2, "f0")]),
        batch_id=0,
    )
    apply_changes(
        spark, t,
        _raw_events(spark, [("U", 9, "http://u/1", ts(100), html_new, "en", 5, 2, "f1")]),
        batch_id=1,
    )
    # repair stamps an OLDER event time than the live row's
    fixer = lambda df: df.withColumn(  # noqa: E731
        "warc_ts", F.coalesce("warc_ts", F.lit(ts(1)))
    )
    replay_quarantine(spark, t, fixer=fixer)
    rows = t.scan(spark).collect()
    assert len(rows) == 1
    assert rows[0]["text"] == "new"


def test_standard_enrichers_ingest_and_replay(spark, tmp_path):
    """The named preset: ingest with standard_enrichers materializes the
    derived columns, and a quarantine replay with the same preset
    enriches repaired rows identically (no NULL derived columns)."""
    from tiger_etl_spark.cdc.pipeline import (
        STANDARD_ENRICH_DDL,
        STANDARD_STATS_COLS,
        standard_enrichers,
    )

    t = create_pages_table(
        str(tmp_path / "pages"),
        num_buckets=4,
        enrich_ddl=STANDARD_ENRICH_DDL,
        stats_cols=STANDARD_STATS_COLS,
    )
    html = b"<p>the quick brown fox and the lazy dog</p>"
    rows = [
        ("I", 1, "http://ok/1", ts(1), html, "en", 10, 2, "f0"),
        ("I", 2, "http://fix/2", None, html, "en", 10, 2, "f0"),
    ]
    apply_changes(
        spark, t, _raw_events(spark, rows), batch_id=0,
        enrichers=standard_enrichers(),
    )
    live = t.scan(spark).where("url = 'http://ok/1'").collect()[0]
    assert live["n_tokens"] == 8 and live["detected_lang"] == "en"
    assert live["content_fp"] is not None
    # per-file bounds recorded for the preset stats col
    assert any("n_tokens" in f["min"] for f in t.manifest["files"])

    fix = lambda df: df.withColumn(  # noqa: E731
        "warc_ts", F.coalesce("warc_ts", F.lit(ts(2)))
    )
    res = replay_quarantine(spark, t, fixer=fix, enrichers=standard_enrichers())
    assert res["rows_applied"] == 1
    replayed = t.scan(spark).where("url = 'http://fix/2'").collect()[0]
    assert replayed["n_tokens"] == live["n_tokens"]
    assert replayed["detected_lang"] == "en"
    assert replayed["content_fp"] == live["content_fp"]


def test_ingest_cli_enrich_standard_evolves_existing_table(spark, tmp_path):
    """--enrich standard against a table created WITHOUT the preset must
    evolve the schema first — otherwise the enriched values would be
    written but dropped by every scan (the schema lift projects to the
    live schema)."""
    import subprocess
    import sys

    from tiger_etl_spark.cdc.datagen import gen_change_events, write_change_files

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cdir = str(tmp_path / "changes")
    ev = gen_change_events(seed=5, n=300, n_hosts=10)
    write_change_files(ev, cdir, n_files=2)

    def run(extra):
        r = subprocess.run(
            [sys.executable, os.path.join(root, "jobs", "cdc_ingest.py"),
             "--changes", cdir, "--table", str(tmp_path / "pages"),
             "--checkpoint", str(tmp_path / ("ck" + str(len(extra)))),
             "--buckets", "4", "--local-cores", "2", *extra],
            capture_output=True, text=True, timeout=300,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        return r.stdout

    run([])  # plain table, no enrichment
    out = run(["--enrich", "standard"])  # same table, fresh checkpoint
    assert "schema_evolved" in out
    t = LakeTable.load(str(tmp_path / "pages"))
    assert "n_tokens" in t.scan(spark).columns
    # replayed batches are exactly-once no-ops, so rows keep their
    # pre-evolution versions: enriched columns read as typed NULLs
    assert t.scan(spark).count() > 0
