"""Batch pipeline: parity vs the single-threaded replay oracle, schema
evolution, quarantine routing, lineage, text-extraction invariant."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from tiger_etl_spark.cdc import oracle
from tiger_etl_spark.cdc.datagen import gen_change_events, write_change_files
from tiger_etl_spark.cdc.pipeline import (
    apply_changes,
    create_pages_table,
    read_lineage,
    read_quarantine,
)
from tiger_etl_spark.cdc.schemas import EVENTS_READ_SCHEMA

N_EVENTS = 4000
N_FILES = 8


@pytest.fixture(scope="module")
def change_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("changes"))
    ev = gen_change_events(seed=42, n=N_EVENTS, n_hosts=50)
    write_change_files(ev, d, n_files=N_FILES)
    return d


@pytest.fixture(scope="module")
def applied(spark, tmp_path_factory, change_dir):
    """Apply all batches through the pipeline; return (table, lineage)."""
    table = create_pages_table(
        str(tmp_path_factory.mktemp("tables") / "pages"), num_buckets=8
    )
    lineage = []
    for i, path in enumerate(sorted(glob.glob(os.path.join(change_dir, "*.parquet")))):
        events = spark.read.schema(EVENTS_READ_SCHEMA).parquet(path)
        lineage.append(apply_changes(spark, table, events, batch_id=i))
    return table, lineage


def assert_final_state_matches_oracle(spark, table, change_dir):
    expected = oracle.replay_dir(change_dir)
    rows = {r["url"]: r for r in table.scan(spark).collect()}
    assert set(rows) == set(expected)
    for url, e in expected.items():
        r = rows[url]
        got_html = bytes(r["html"]) if r["html"] is not None else None
        assert got_html == e["html"], f"html mismatch for {url}"
        assert r["text"] == e["text"], f"text mismatch for {url}"
        assert r["lang"] == e["lang"], f"lang mismatch for {url}"
        assert r["content_len"] == e["content_len"], f"content_len mismatch for {url}"
        assert r["warc_ts"].replace(tzinfo=None) == e["warc_ts"].replace(
            tzinfo=None
        ), f"warc_ts mismatch for {url}"


def test_final_state_parity(spark, applied, change_dir):
    """Byte-for-byte final-table parity vs reference replay — the
    correctness gate of BASELINE.json."""
    table, _ = applied
    assert_final_state_matches_oracle(spark, table, change_dir)


def test_schema_evolution_applied(spark, applied):
    """v1 events (schema_id=1) had `body` + int content_len + no lang;
    after mapping, urls whose winning event was v1 must still carry html
    and null lang."""
    table, _ = applied
    df = table.scan(spark)
    # v1 events cover the first half of op_seqs; at least some winners
    # must be v1 (no lang but has html)
    v1_winners = df.where(F.col("lang").isNull() & F.col("html").isNotNull())
    assert v1_winners.count() > 0


def test_quarantine_routing(spark, applied, change_dir):
    table, lineage = applied
    q = read_quarantine(spark, table)
    n_q = q.count()
    assert n_q == sum(r.rows_quarantined for r in lineage)
    assert n_q > 0  # generator injects ~0.2% invalid rows
    reasons = {r["_invalid_reasons"] for r in q.select("_invalid_reasons").collect()}
    assert reasons <= {"empty_url", "nonpositive_op_seq", "bad_op", "null_warc_ts"}
    # quarantined rows never reached the table: invalid urls absent
    assert table.scan(spark).where(F.length("url") == 0).count() == 0


def test_lineage_records(spark, applied, change_dir):
    table, lineage = applied
    ldf = read_lineage(spark, table)
    assert ldf.count() == N_FILES
    total_in = sum(r.rows_in for r in lineage)
    # duplicates are injected into following files, so rows_in ≥ N_EVENTS
    assert total_in >= N_EVENTS
    for rec in lineage:
        assert rec.offset_start.startswith("batch-")
        assert rec.offset_end >= rec.offset_start
        assert rec.snapshot_id > 0
        assert rec.bytes_in > 0
        assert rec.partition_counts  # per-bucket apply counts


def test_late_rows_counted(applied):
    _, lineage = applied
    # generator makes ~0.5% very-late rows (beyond the 24h watermark)
    assert sum(r.rows_late for r in lineage) > 0


def test_replayed_batch_skipped(spark, applied, change_dir):
    table, _ = applied
    first = sorted(glob.glob(os.path.join(change_dir, "*.parquet")))[0]
    events = spark.read.schema(EVENTS_READ_SCHEMA).parquet(first)
    before = table.manifest["snapshot_id"]
    rec = apply_changes(spark, table, events, batch_id=0)  # already applied
    assert table.manifest["snapshot_id"] == before
    assert rec.rows_in == 0


def test_cow_mode_same_parity(spark, tmp_path, change_dir):
    """The copy-on-write layout — every batch applied, then compacted —
    reaches the same state as the merge-on-read stream."""
    table = create_pages_table(str(tmp_path / "pages_cow"), num_buckets=4)
    for i, path in enumerate(sorted(glob.glob(os.path.join(change_dir, "*.parquet")))):
        events = spark.read.schema(EVENTS_READ_SCHEMA).parquet(path)
        apply_changes(spark, table, events, batch_id=i)
        table.compact(spark)
    assert_final_state_matches_oracle(spark, table, change_dir)
    # compacted after every batch: no delta files
    assert all(f["kind"] == "base" for f in table.manifest["files"])


def test_compaction_preserves_parity(spark, applied, change_dir):
    table, _ = applied
    table.compact(spark)
    assert_final_state_matches_oracle(spark, table, change_dir)


def test_ingest_enrichment_columns(spark, tmp_path, change_dir):
    """Derived columns (enrich_ddl + enrichers) materialize at ingest on
    the fused winners-only path; base-column parity is unaffected."""
    table = create_pages_table(
        str(tmp_path / "pages_enriched"),
        num_buckets=4,
        enrich_ddl="n_tokens long, text_sha string",
    )
    enrichers = {
        "n_tokens": F.when(
            F.col("text").isNotNull(),
            F.size(F.split(F.trim(F.col("text")), "\\s+")),
        ).cast("long"),
        "text_sha": F.sha2(F.coalesce(F.col("text"), F.lit("")), 256),
    }
    for i, path in enumerate(sorted(glob.glob(os.path.join(change_dir, "*.parquet")))):
        events = spark.read.schema(EVENTS_READ_SCHEMA).parquet(path)
        apply_changes(spark, table, events, batch_id=i, enrichers=enrichers)
    assert_final_state_matches_oracle(spark, table, change_dir)
    import hashlib

    for r in table.scan(spark).collect():
        if r["text"] is not None:
            assert r["n_tokens"] == len(r["text"].split())
            assert r["text_sha"] == hashlib.sha256(r["text"].encode()).hexdigest()


def test_ingest_stats_cols_enable_col_range_pruning(spark, tmp_path, change_dir):
    """stats_cols on the pages table: every CDC commit records per-file
    bounds for the enriched column, and a downstream `n_tokens >= K`
    export range-prunes the file list while matching a plain filter."""
    table = create_pages_table(
        str(tmp_path / "pages_stats"),
        num_buckets=4,
        enrich_ddl="n_tokens long",
        stats_cols="n_tokens",
    )
    enrichers = {
        "n_tokens": F.when(
            F.col("text").isNotNull(),
            F.size(F.split(F.trim(F.col("text")), "\\s+")),
        ).cast("long"),
    }
    for i, path in enumerate(sorted(glob.glob(os.path.join(change_dir, "*.parquet")))):
        events = spark.read.schema(EVENTS_READ_SCHEMA).parquet(path)
        apply_changes(spark, table, events, batch_id=i, enrichers=enrichers)
    for f in table.manifest["files"]:
        assert "n_tokens" in f["min"] and "n_tokens" in f["max"]
    k = int(
        table.scan(spark).agg(F.expr("percentile(n_tokens, 0.9)")).first()[0]
    )
    full = sorted(
        r["url"] for r in table.scan(spark).where(F.col("n_tokens") >= k).collect()
    )
    pruned = sorted(
        r["url"]
        for r in table.scan(spark, col_ranges={"n_tokens": (k, None)}).collect()
    )
    assert pruned == full and pruned
    # after compaction the table is all-base: bounds prune per file
    table.compact(spark)
    planned = table.plan_files(col_ranges={"n_tokens": (k, None)})
    again = sorted(
        r["url"]
        for r in table.scan(spark, col_ranges={"n_tokens": (k, None)}).collect()
    )
    assert again == full
    assert len(planned) <= len(table.manifest["files"])


def test_static_dim_enrichment_broadcast_join(spark, tmp_path, change_dir, monkeypatch):
    """Stream-static join: a small dimension broadcast-joined onto the
    LWW winners; declared dim columns persist, and every ingest write
    plan keeps its one bucket exchange (broadcast adds no shuffle)."""
    from tiger_etl_spark.lake import LakeTable

    plans = []
    write_data = LakeTable._write_data

    def spy(self, spark_, df, *args, **kwargs):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return write_data(self, spark_, df, *args, **kwargs)

    monkeypatch.setattr(LakeTable, "_write_data", spy)
    table = create_pages_table(
        str(tmp_path / "pages_dim"),
        num_buckets=4,
        enrich_ddl="lang_family string, lang_rank long",
    )
    dim = spark.createDataFrame(
        [("en", "germanic", 1), ("de", "germanic", 2), ("fr", "romance", 3)],
        "lang string, lang_family string, dim_rank long",
    )
    enrichers = {"lang_rank": F.col("dim_rank") * 10}
    for i, path in enumerate(sorted(glob.glob(os.path.join(change_dir, "*.parquet")))):
        events = spark.read.schema(EVENTS_READ_SCHEMA).parquet(path)
        apply_changes(
            spark, table, events, batch_id=i,
            enrichers=enrichers, static_dim=(dim, "lang"),
        )
    assert_final_state_matches_oracle(spark, table, change_dir)
    rows = table.scan(spark).collect()
    fam = {r["lang"]: r["lang_family"] for r in rows if r["lang"] is not None}
    want = {"en": "germanic", "de": "germanic", "fr": "romance"}
    for lang, f in fam.items():
        assert f == want.get(lang), (lang, f)
    for r in rows:
        if r["lang"] in want:
            assert r["lang_rank"] in (10, 20, 30)
    # un-declared dim column never leaks into the table
    assert "dim_rank" not in table.scan(spark).columns
    # plan shape of every ingest write: broadcast join, and exactly one
    # hash-partition exchange
    assert len(plans) == N_FILES
    for plan in plans:
        assert "BroadcastHashJoin" in plan
        assert plan.count("Exchange hashpartitioning") == 1, plan


def test_static_dim_guards(spark, tmp_path, change_dir):
    """Duplicate dim join keys are rejected (they would multiply LWW
    winners); dim columns shadowing stream columns are dropped, stream
    value wins; Column-expression join keys are refused."""
    import pytest as _pytest

    table = create_pages_table(
        str(tmp_path / "pages_g"), num_buckets=4, enrich_ddl="lang_family string"
    )
    events = spark.read.schema(EVENTS_READ_SCHEMA).parquet(
        sorted(glob.glob(os.path.join(change_dir, "*.parquet")))[0]
    )
    dup_dim = spark.createDataFrame(
        [("en", "germanic"), ("en", "other")], "lang string, lang_family string"
    )
    with _pytest.raises(ValueError, match="duplicate join keys"):
        apply_changes(
            spark, table, events, batch_id=0, static_dim=(dup_dim, "lang")
        )

    shadow_dim = spark.createDataFrame(
        [("en", "germanic", 999)],
        "lang string, lang_family string, content_len long",
    )
    apply_changes(spark, table, events, batch_id=0, static_dim=(shadow_dim, "lang"))
    row = table.scan(spark).where(F.col("lang") == "en").limit(1).collect()
    if row:  # stream's content_len wins over the dim's 999
        assert row[0]["content_len"] != 999

    with _pytest.raises(ValueError, match="column name"):
        apply_changes(
            spark, table, events, batch_id=1,
            static_dim=(shadow_dim, F.col("lang") == shadow_dim["lang"]),
        )


def test_static_dim_replay_matches_live_ingest(spark, tmp_path, change_dir):
    """replay_quarantine with the same static_dim enriches repaired rows
    exactly like live ingest."""
    import datetime as dt

    from tiger_etl_spark.cdc.pipeline import replay_quarantine

    table = create_pages_table(
        str(tmp_path / "pages_r"), num_buckets=4, enrich_ddl="lang_family string"
    )
    dim = spark.createDataFrame(
        [("en", "germanic")], "lang string, lang_family string"
    )
    bad = spark.createDataFrame(
        [("I", 5, "http://q/1", None, b"<p>q</p>", "en", 5, 2, "fq")],
        "op string, op_seq long, url string, warc_ts timestamp, html binary, "
        "lang string, content_len long, schema_id int, batch_file string",
    ).withColumn("body", F.lit(None).cast("binary"))
    apply_changes(spark, table, bad, batch_id=0, static_dim=(dim, "lang"))
    fix = lambda d: d.withColumn(  # noqa: E731
        "warc_ts",
        F.coalesce("warc_ts", F.lit(dt.datetime(2026, 1, 2, tzinfo=dt.timezone.utc))),
    )
    res = replay_quarantine(spark, table, fixer=fix, static_dim=(dim, "lang"))
    assert res["rows_applied"] == 1
    got = table.scan(spark).where("url='http://q/1'").collect()[0]
    assert got["lang_family"] == "germanic"


def test_arrow_large_binary_blobs_byte_parity(spark, tmp_path):
    """SURVEY.md §7 risk: multi-MB html binaries through the fused
    Arrow/pandas extract path. With arrow.maxRecordsPerBatch clamped to
    4, a 24-row × ~3 MB batch streams as many small Arrow batches —
    no IPC buffer blow-up — and both html and extracted text come back
    BYTE-identical to the pure-Python oracle."""
    import datetime as dt

    from tiger_etl_spark.functions.text import extract_text_py

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
    try:
        ts0 = dt.datetime(2026, 3, 1, tzinfo=dt.timezone.utc)
        rows = []
        for i in range(24):
            # ~3 MB of structured html with a per-row marker, so a
            # truncated/reordered byte is detectable
            body = (
                "<html><body>"
                + f"<h1>doc {i}</h1>"
                + ("<p>" + ("x%d " % i) * 60_000 + "</p>") * 4
                + "</body></html>"
            ).encode()
            rows.append(
                (
                    "I", i + 1, f"http://big/{i}",
                    ts0 + dt.timedelta(seconds=i), body, "en", len(body),
                    2, "f0",
                )
            )
        events = spark.createDataFrame(
            rows,
            "op string, op_seq long, url string, warc_ts timestamp, "
            "html binary, lang string, content_len long, schema_id int, "
            "batch_file string",
        ).withColumn("body", F.lit(None).cast("binary"))
        table = create_pages_table(str(tmp_path / "pages_big"), num_buckets=4)
        apply_changes(spark, table, events, batch_id=0)

        got = {r["url"]: r for r in table.scan(spark).collect()}
        assert len(got) == 24
        for op, seq, url, _, body, _, _, _, _ in rows:
            r = got[url]
            assert bytes(r["html"]) == body, f"html bytes differ for {url}"
            assert r["text"] == extract_text_py(body), f"text differs for {url}"
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_ingest_page_meta_enrichment(spark, tmp_path, change_dir):
    """The 'meta' enricher preset (pipeline.page_meta_enrichers over
    weblinks.page_meta_cols) materializes head-metadata columns at
    ingest on the fused winners-only path; values match the batch
    operator run over the final html, and a noindex export filter works
    on stored columns without touching html."""
    import re

    from tiger_etl_spark.cdc.pipeline import (
        PAGE_META_ENRICH_DDL,
        page_meta_enrichers,
        resolve_enrich_spec,
    )
    from tiger_etl_spark.operators import weblinks

    # spec composition: unknown name raises; composed spec merges
    with pytest.raises(ValueError):
        resolve_enrich_spec("standrad")
    both, ddl = resolve_enrich_spec("standard+meta")
    assert "n_tokens" in both and "noindex" in both
    assert "n_tokens long" in ddl and "noindex boolean" in ddl

    table = create_pages_table(
        str(tmp_path / "pages_meta"),
        num_buckets=4,
        enrich_ddl=PAGE_META_ENRICH_DDL,
    )
    for i, path in enumerate(
        sorted(glob.glob(os.path.join(change_dir, "*.parquet")))
    ):
        events = spark.read.schema(EVENTS_READ_SCHEMA).parquet(path)
        apply_changes(
            spark, table, events, batch_id=i, enrichers=page_meta_enrichers()
        )
    assert_final_state_matches_oracle(spark, table, change_dir)

    final = table.scan(spark)
    # stored columns equal the batch operator over the final state
    recomputed = weblinks.extract_page_meta(
        final.select("url", "html")
    ).collect()
    stored = {
        r["url"]: r
        for r in final.select(
            "url", "title", "meta_description", "canonical_url",
            "robots", "noindex", "nofollow",
        ).collect()
    }
    for r in recomputed:
        s = stored[r["url"]]
        for c in ("title", "meta_description", "canonical_url", "robots",
                  "noindex", "nofollow"):
            assert s[c] == r[c], (r["url"], c, s[c], r[c])

    # the generator's html carries no head markup, so plant a batch
    # that does — the preset must materialize real values, not NULLs
    import datetime

    ts = datetime.datetime(2025, 3, 1, 0, 0, 0)
    planted = spark.createDataFrame(
        [
            ("I", 10_000_001, "https://meta.example.com/a", ts, None,
             b'<title>A page</title>'
             b'<meta name="robots" content="NOINDEX,nofollow">'
             b'<link rel="canonical" href="/canon/a">',
             "en", 10, 2, "planted"),
            ("I", 10_000_002, "https://meta.example.com/b", ts, None,
             b"<html><body>no head</body></html>", "en", 10, 2, "planted"),
        ],
        EVENTS_READ_SCHEMA,
    )
    apply_changes(
        spark, table, planted, batch_id=99, enrichers=page_meta_enrichers()
    )
    got = {
        r["url"]: r
        for r in table.scan(spark)
        .where(F.col("url").startswith("https://meta.example.com/"))
        .collect()
    }
    a = got["https://meta.example.com/a"]
    assert a["title"] == "A page"
    assert a["robots"] == "noindex,nofollow"
    assert a["noindex"] and a["nofollow"]
    assert a["canonical_url"] == "https://meta.example.com/canon/a"
    b = got["https://meta.example.com/b"]
    assert b["title"] is None and b["robots"] is None
    assert b["noindex"] is False and b["nofollow"] is False


def test_ingest_content_enrichment(spark, tmp_path):
    """The 'content' preset stores boilerplate-stripped main_text at
    ingest; stored values match the batch operator, and NULL-html
    (tombstone payload) rows yield NULL main_text."""
    import datetime

    from tiger_etl_spark.cdc.pipeline import (
        CONTENT_ENRICH_DDL,
        content_enrichers,
        resolve_enrich_spec,
    )
    from tiger_etl_spark.operators import weblinks

    e, ddl = resolve_enrich_spec("standard+content")
    assert "main_text" in e and "n_tokens" in e
    assert "main_text string" in ddl

    table = create_pages_table(
        str(tmp_path / "pages_content"),
        num_buckets=2,
        enrich_ddl=CONTENT_ENRICH_DDL,
    )
    ts = datetime.datetime(2025, 3, 1)
    html = (
        b'<nav><a href="/">Home</a> <a href="/a">About</a> '
        b'<a href="/c">More</a></nav>'
        b"<p>real prose body with several plain words here</p>"
    )
    batch = spark.createDataFrame(
        [
            ("I", 1, "https://c.example.com/a", ts, None, html,
             "en", 10, 2, "b"),
            ("I", 2, "https://c.example.com/b", ts, None, None,
             "en", 10, 2, "b"),
        ],
        EVENTS_READ_SCHEMA,
    )
    apply_changes(
        spark, table, batch, batch_id=0, enrichers=content_enrichers()
    )
    got = {r["url"]: r for r in table.scan(spark).collect()}
    a = got["https://c.example.com/a"]
    exp = weblinks.extract_main_content(
        spark.createDataFrame(
            [("https://c.example.com/a", html)], "url string, html binary"
        )
    ).collect()[0]
    assert a["main_text"] == exp["main_text"]
    assert "real prose body" in a["main_text"]
    assert "Home" not in a["main_text"]
    assert a["n_blocks_kept"] == exp["n_blocks_kept"] == 1
    b = got["https://c.example.com/b"]
    assert b["main_text"] is None


def test_ingest_urlgate_enrichment(spark, tmp_path, change_dir):
    """The 'urlgate' enricher preset materializes the url-pattern keep
    decision at ingest (fused winners-only stage); stored values equal
    the batch operator over the final urls, and final-state parity is
    untouched."""
    from tiger_etl_spark.cdc.pipeline import (
        URLGATE_ENRICH_DDL,
        resolve_enrich_spec,
        urlgate_enrichers,
    )
    from tiger_etl_spark.operators.weblinks import url_quality_cols

    en, ddl = resolve_enrich_spec("urlgate")
    assert "url_ok" in en and "url_ok boolean" in ddl

    table = create_pages_table(
        str(tmp_path / "pages_urlgate"),
        num_buckets=4,
        enrich_ddl=URLGATE_ENRICH_DDL,
    )
    for i, path in enumerate(
        sorted(glob.glob(os.path.join(change_dir, "*.parquet")))
    ):
        events = spark.read.schema(EVENTS_READ_SCHEMA).parquet(path)
        apply_changes(
            spark, table, events, batch_id=i, enrichers=urlgate_enrichers()
        )
    assert_final_state_matches_oracle(spark, table, change_dir)

    final = table.scan(spark)
    cols = url_quality_cols(F.col("url"))
    recomputed = {
        r["url"]: (r["ok"], r["depth"])
        for r in final.select(
            "url",
            cols["url_ok"].alias("ok"),
            cols["path_depth"].alias("depth"),
        ).collect()
    }
    stored = {
        r["url"]: (r["url_ok"], r["url_path_depth"])
        for r in final.select("url", "url_ok", "url_path_depth").collect()
    }
    assert stored == recomputed
    assert all(v[0] is not None for v in stored.values())


def test_validation_split_dead_letters_and_lineage_pinned(spark, tmp_path):
    """One hand-built batch through `apply_changes`: a row per check, a
    row failing two checks (reasons comma-joined in check order), a NULL
    op, a v1 row (`body`, no `lang`) and a row late behind the prior
    batch's watermark. Pins the dead-letter reasons, the mapped v1 row,
    the lineage counters, and that a fixer-less replay keeps the
    reasons."""
    import datetime as dt

    from tiger_etl_spark.cdc.pipeline import replay_quarantine
    from tiger_etl_spark.functions.text import extract_text_py

    ts = dt.datetime(2025, 3, 1, tzinfo=dt.timezone.utc)
    table = create_pages_table(str(tmp_path / "pin"), num_buckets=2)
    seed = [("I", 1, "http://p/seed", ts, None, b"<p>seed</p>", "en", 11, 2, "f0")]
    apply_changes(spark, table, spark.createDataFrame(seed, EVENTS_READ_SCHEMA), 0)

    late_ts = ts - dt.timedelta(hours=48)
    # (op, op_seq, url, warc_ts, body, html, lang, content_len, schema_id, batch_file)
    rows = [
        ("I", 2, "", ts, None, b"<p>a</p>", "en", 8, 2, "f1"),
        ("I", 0, "http://p/b", ts, None, b"<p>b</p>", "en", 8, 2, "f2"),
        ("X", 3, "http://p/c", ts, None, b"<p>c</p>", "en", 8, 2, "f2"),
        ("I", 4, "http://p/d", None, None, b"<p>d</p>", "en", 8, 2, "f2"),
        ("I", -1, "", ts, None, b"<p>e</p>", "en", 8, 2, "f2"),
        (None, 5, "http://p/f", ts, None, b"<p>f</p>", "en", 8, 2, "f3"),
        ("U", 6, "http://p/v1", ts, b"<p>old body</p>", None, None, 15, 1, "f1"),
        ("I", 7, "http://p/late", late_ts, None, b"<p>late</p>", "de", 11, 2, "f4"),
    ]
    rec = apply_changes(
        spark, table, spark.createDataFrame(rows, EVENTS_READ_SCHEMA), 1
    )

    want_reasons = {
        2: "empty_url",
        0: "nonpositive_op_seq",
        3: "bad_op",
        4: "null_warc_ts",
        -1: "empty_url,nonpositive_op_seq",
        5: "bad_op",
    }

    def dead_letters():
        return {
            r["op_seq"]: r["_invalid_reasons"]
            for r in read_quarantine(spark, table).collect()
        }

    assert dead_letters() == want_reasons
    assert rec.rows_in == len(rows)
    assert rec.rows_quarantined == len(want_reasons)
    assert rec.rows_late == 1
    assert rec.bytes_in == sum(
        len(html if html is not None else body) + len(url)
        for _, _, url, _, body, html, *_ in rows
    )
    assert (rec.offset_start, rec.offset_end) == ("f1", "f4")

    got = {r["url"]: r for r in table.scan(spark).collect()}
    assert set(got) == {"http://p/seed", "http://p/v1", "http://p/late"}
    v1 = got["http://p/v1"]
    assert bytes(v1["html"]) == b"<p>old body</p>"
    assert v1["lang"] is None and v1["content_len"] == 15
    assert v1["text"] == extract_text_py(b"<p>old body</p>")
    assert got["http://p/late"]["lang"] == "de"  # late rows still apply

    res = replay_quarantine(spark, table)
    assert res["rows_applied"] == 0
    assert res["rows_still_invalid"] == len(want_reasons)
    assert dead_letters() == want_reasons
