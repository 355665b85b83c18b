"""Incremental materialized-view maintenance via dirty-bucket refresh."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from tiger_etl_spark.cdc.datagen import gen_change_events, write_change_files
from tiger_etl_spark.cdc.ivm import IncrementalAggView, dirty_buckets_between
from tiger_etl_spark.cdc.pipeline import apply_changes, create_pages_table
from tiger_etl_spark.cdc.schemas import EVENTS_READ_SCHEMA


def _recompute(spark, table, group_col):
    return {
        r[group_col]: r["n"]
        for r in table.scan(spark).groupBy(group_col).agg(F.count("*").alias("n")).collect()
    }


def _view_state(spark, view):
    return {r[view.group_col]: r["n_rows"] for r in view.read(spark).collect()}


def test_view_tracks_table_across_batches(spark, tmp_path):
    cdir = str(tmp_path / "changes")
    ev = gen_change_events(seed=11, n=1500, n_hosts=40)
    write_change_files(ev, cdir, n_files=3)
    table = create_pages_table(str(tmp_path / "pages"), num_buckets=8)
    view = IncrementalAggView(str(tmp_path / "view"), "lang")

    for i, p in enumerate(sorted(glob.glob(os.path.join(cdir, "*.parquet")))):
        apply_changes(
            spark, table, spark.read.schema(EVENTS_READ_SCHEMA).parquet(p), batch_id=i
        )
        stats = view.refresh(spark, table)
        assert stats["refreshed"]
        assert _view_state(spark, view) == _recompute(spark, table, "lang")

    # idempotent: same base version → no-op
    stats = view.refresh(spark, table)
    assert not stats["refreshed"] and stats["n_dirty_buckets"] == 0


def test_refresh_touches_only_dirty_buckets(spark, tmp_path):
    cdir = str(tmp_path / "changes")
    ev = gen_change_events(seed=12, n=1500, n_hosts=40)
    write_change_files(ev, cdir, n_files=1)
    table = create_pages_table(str(tmp_path / "pages"), num_buckets=16)
    apply_changes(
        spark,
        table,
        spark.read.schema(EVENTS_READ_SCHEMA).parquet(
            glob.glob(os.path.join(cdir, "*.parquet"))[0]
        ),
        batch_id=0,
    )
    view = IncrementalAggView(str(tmp_path / "view"), "lang")
    view.refresh(spark, table)
    v_before = table.manifest["version"]

    # a single-key update touches exactly one bucket
    one = table.scan(spark).select("url").limit(1).collect()[0]["url"]
    batch = spark.createDataFrame(
        [(one, "U", 10**15)], "url string, op string, op_seq long"
    )
    full = table.scan(spark).where(F.col("url") == one).drop("url").limit(1).collect()[0]
    row = spark.createDataFrame(
        [(one, full["warc_ts"], full["html"], "UPDATED TEXT", full["lang"],
          full["content_len"], "U", 10**15)],
        "url string, warc_ts timestamp, html binary, text string, lang string,"
        " content_len long, op string, op_seq long",
    )
    table.merge(spark, row)
    dirty = dirty_buckets_between(table, v_before, table.manifest["version"])
    assert len(dirty) == 1

    stats = view.refresh(spark, table)
    assert stats["refreshed"] and stats["n_dirty_buckets"] == 1
    assert _view_state(spark, view) == _recompute(spark, table, "lang")


def test_compaction_keeps_view_correct(spark, tmp_path):
    cdir = str(tmp_path / "changes")
    ev = gen_change_events(seed=13, n=1200, n_hosts=30)
    write_change_files(ev, cdir, n_files=2)
    table = create_pages_table(str(tmp_path / "pages"), num_buckets=8)
    view = IncrementalAggView(str(tmp_path / "view"), "lang")
    for i, p in enumerate(sorted(glob.glob(os.path.join(cdir, "*.parquet")))):
        apply_changes(
            spark, table, spark.read.schema(EVENTS_READ_SCHEMA).parquet(p), batch_id=i
        )
    view.refresh(spark, table)
    table.compact(spark)
    stats = view.refresh(spark, table)
    assert stats["refreshed"]
    assert _view_state(spark, view) == _recompute(spark, table, "lang")


def test_refresh_falls_back_after_snapshot_expiry(spark, tmp_path):
    """A view whose base snapshot was expired recomputes fully instead
    of wedging on the missing manifest."""
    import datetime as dt

    from tiger_etl_spark.lake import LakeTable

    UTC = dt.timezone.utc

    def ts(i):
        return dt.datetime(2025, 7, 1, tzinfo=UTC) + dt.timedelta(seconds=i)

    t = LakeTable.create(
        str(tmp_path / "t"),
        "url string, warc_ts timestamp, lang string",
        key_col="url",
        num_buckets=2,
    )

    def b(rows):
        return spark.createDataFrame(
            rows, "op string, op_seq long, url string, warc_ts timestamp, lang string"
        )

    t.merge(spark, b([("I", i + 1, f"u{i}", ts(i), "en") for i in range(4)]))
    view = IncrementalAggView(str(tmp_path / "v"), "lang")
    view.refresh(spark, t)
    for j in range(7):
        t.merge(spark, b([("I", 10 + j, f"w{j}", ts(10 + j), "de")]))
    t.expire_snapshots(keep_last=1)
    out = view.refresh(spark, t)
    assert out["refreshed"]
    got = {r["lang"]: r["n_rows"] for r in view.read(spark).collect()}
    assert got == {"en": 4, "de": 7}


def test_views_refresh_inside_run_stream(spark, tmp_path):
    """Continuous materialized views: run_stream refreshes registered
    views after every batch commit; the final view equals a recompute."""
    from tiger_etl_spark.cdc.streaming import run_stream

    cdir = str(tmp_path / "changes")
    ev = gen_change_events(seed=17, n=1200, n_hosts=30)
    write_change_files(ev, cdir, n_files=3)
    tp = str(tmp_path / "pages")
    create_pages_table(tp, num_buckets=4)
    view = IncrementalAggView(str(tmp_path / "view"), "lang")
    res = run_stream(
        spark,
        cdir,
        tp,
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
        views=[view],
    )
    assert res.batches_applied == 3
    from tiger_etl_spark.lake import LakeTable

    table = LakeTable.load(tp)
    got = {r["lang"]: r["n_rows"] for r in view.read(spark).collect()}
    want = {
        r["lang"]: r["n"]
        for r in table.scan(spark).groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert got == want


def test_views_refresh_on_replayed_skipped_batches(spark, tmp_path):
    """The skip path (batch already applied — e.g. a crash landed
    between merge commit and checkpoint commit) must ALSO refresh views:
    here every batch was applied by a first run without views, and a
    second run from a fresh checkpoint replays them all as skips — the
    view must still end up current."""
    from tiger_etl_spark.cdc.streaming import run_stream
    from tiger_etl_spark.lake import LakeTable

    cdir = str(tmp_path / "changes")
    ev = gen_change_events(seed=23, n=900, n_hosts=20)
    write_change_files(ev, cdir, n_files=2)
    tp = str(tmp_path / "pages")
    create_pages_table(tp, num_buckets=4)
    run_stream(spark, cdir, tp, str(tmp_path / "ckpt1"), max_files_per_trigger=1)

    view = IncrementalAggView(str(tmp_path / "view"), "lang")
    res = run_stream(
        spark,
        cdir,
        tp,
        str(tmp_path / "ckpt2"),
        max_files_per_trigger=1,
        views=[view],
    )
    assert res.batches_applied == 0 and res.batches_skipped == 2
    table = LakeTable.load(tp)
    assert _view_state(spark, view) == _recompute(spark, table, "lang")


def test_agg_view_sum_min_max(spark, tmp_path):
    """Generalized view: sum/min/max partials fold exactly through
    incremental refreshes, updates and deletes included."""
    cdir = str(tmp_path / "changes")
    ev = gen_change_events(seed=23, n=1500, n_hosts=40)
    write_change_files(ev, cdir, n_files=3)
    table = create_pages_table(str(tmp_path / "pages"), num_buckets=8)
    view = IncrementalAggView(
        str(tmp_path / "view"),
        "lang",
        {
            "n_rows": (None, "count"),
            "total_len": ("content_len", "sum"),
            "min_len": ("content_len", "min"),
            "max_len": ("content_len", "max"),
        },
    )

    def expected():
        return {
            r["lang"]: (r["n_rows"], r["total_len"], r["min_len"], r["max_len"])
            for r in table.scan(spark)
            .groupBy("lang")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum("content_len").alias("total_len"),
                F.min("content_len").alias("min_len"),
                F.max("content_len").alias("max_len"),
            )
            .collect()
        }

    for i, p in enumerate(sorted(glob.glob(os.path.join(cdir, "*.parquet")))):
        apply_changes(
            spark, table, spark.read.schema(EVENTS_READ_SCHEMA).parquet(p), batch_id=i
        )
        stats = view.refresh(spark, table)
        assert stats["refreshed"]
        got = {
            r["lang"]: (r["n_rows"], r["total_len"], r["min_len"], r["max_len"])
            for r in view.read(spark).collect()
        }
        assert got == expected()
    # the later refreshes were incremental, not full recomputes
    assert stats["n_dirty_buckets"] <= table.num_buckets


def test_incremental_webgraph_tracks_cdc(spark, tmp_path):
    """host_edges_view (multi-key group + flat-map transform) equals a
    full host_edges recompute across insert / link-rewrite update /
    delete batches — and the post-insert refreshes are bucket-scoped."""
    import datetime as dt

    from tiger_etl_spark.lake import LakeTable
    from tiger_etl_spark.operators import weblinks

    UTC = dt.timezone.utc

    def ts(i):
        return dt.datetime(2025, 7, 1, tzinfo=UTC) + dt.timedelta(seconds=i)

    def page(i, gen):
        url = f"https://host{i % 7}.example.com/p/{i}.html"
        html = (
            f'<a href="https://host{(i * 3 + gen) % 7}.example.com/x">a</a>'
            f'<a href="/local/{i}">l</a>'
            f'<a href="//host{(i + gen) % 7}.example.com/q">q</a>'
            '<a href="mailto:u@example.com">m</a>'
        ).encode()
        return url, html

    def b(rows):
        return spark.createDataFrame(
            rows,
            "op string, op_seq long, url string, warc_ts timestamp, html binary",
        )

    t = LakeTable.create(
        str(tmp_path / "pages"),
        "url string, warc_ts timestamp, html binary",
        key_col="url",
        num_buckets=8,
    )
    view = weblinks.host_edges_view(str(tmp_path / "view"))

    def check():
        got = {
            (r["src_host"], r["dst_host"]): r["n_links"]
            for r in view.read(spark).collect()
        }
        want = {
            (r["src_host"], r["dst_host"]): r["n_links"]
            for r in weblinks.host_edges(
                weblinks.extract_outlinks(t.scan(spark).select("url", "html"))
            ).collect()
        }
        assert got == want and got  # non-trivial graph

    # inserts → full first refresh
    ins = []
    for i in range(60):
        url, html = page(i, 0)
        ins.append(("I", i + 1, url, ts(i), html))
    t.merge(spark, b(ins))
    view.refresh(spark, t)
    check()

    # link-rewrite updates on a few pages → dirty-bucket refresh
    upd = [("U", 1000 + i, page(i, 1)[0], ts(100 + i), page(i, 1)[1]) for i in range(0, 60, 9)]
    t.merge(spark, b(upd))
    stats = view.refresh(spark, t)
    assert stats["refreshed"] and stats["n_dirty_buckets"] < t.num_buckets
    check()

    # deletes remove all their pages' edges
    dels = [("D", 2000 + i, page(i, 0)[0], ts(200 + i), None) for i in range(0, 60, 5)]
    t.merge(spark, b(dels))
    stats = view.refresh(spark, t)
    assert stats["refreshed"]
    check()


def test_webgraph_view_refreshes_in_run_stream(spark, tmp_path):
    """host_edges_view registered on the CDC stream stays current per
    micro-batch, against link-bearing html riding the normal change-file
    format (hrefs injected into the datagen payloads)."""
    import numpy as np

    from tiger_etl_spark.cdc.streaming import run_stream
    from tiger_etl_spark.lake import LakeTable
    from tiger_etl_spark.operators import weblinks

    cdir = str(tmp_path / "changes")
    ev = gen_change_events(seed=29, n=900, n_hosts=20)
    for i, h in enumerate(ev["html"]):
        if h is not None:
            ev["html"][i] = (
                h + f'<a href="https://peer{i % 9}.example.com/x">p</a>'.encode()
            )
    ev["content_len"] = np.array(
        [len(h) if h is not None else -1 for h in ev["html"]], dtype=np.int64
    )
    write_change_files(ev, cdir, n_files=3)
    tp = str(tmp_path / "pages")
    create_pages_table(tp, num_buckets=4)
    view = weblinks.host_edges_view(str(tmp_path / "wg"))
    res = run_stream(
        spark, cdir, tp, str(tmp_path / "ckpt"),
        max_files_per_trigger=1, views=[view],
    )
    assert res.batches_applied == 3
    table = LakeTable.load(tp)
    got = {
        (r["src_host"], r["dst_host"]): r["n_links"]
        for r in view.read(spark).collect()
    }
    want = {
        (r["src_host"], r["dst_host"]): r["n_links"]
        for r in weblinks.host_edges(
            weblinks.extract_outlinks(table.scan(spark).select("url", "html"))
        ).collect()
    }
    assert got == want and got


def test_ingest_cli_webgraph_path(spark, tmp_path):
    """jobs/cdc_ingest.py --webgraph-path maintains the host webgraph
    view through the job surface; the view equals a full recompute."""
    import subprocess
    import sys

    import numpy as np

    from tiger_etl_spark.lake import LakeTable
    from tiger_etl_spark.operators import weblinks

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cdir = str(tmp_path / "changes")
    ev = gen_change_events(seed=37, n=300, n_hosts=10)
    for i, h in enumerate(ev["html"]):
        if h is not None:
            ev["html"][i] = (
                h + f'<a href="https://peer{i % 5}.example.com/x">p</a>'.encode()
            )
    ev["content_len"] = np.array(
        [len(h) if h is not None else -1 for h in ev["html"]], dtype=np.int64
    )
    write_change_files(ev, cdir, n_files=2)
    wg = str(tmp_path / "webgraph")
    r = subprocess.run(
        [sys.executable, os.path.join(root, "jobs", "cdc_ingest.py"),
         "--changes", cdir, "--table", str(tmp_path / "pages"),
         "--checkpoint", str(tmp_path / "ck"),
         "--buckets", "4", "--local-cores", "2", "--webgraph-path", wg],
        capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    table = LakeTable.load(str(tmp_path / "pages"))
    view = weblinks.host_edges_view(wg)
    got = {
        (r2["src_host"], r2["dst_host"]): r2["n_links"]
        for r2 in view.read(spark).collect()
    }
    want = {
        (r2["src_host"], r2["dst_host"]): r2["n_links"]
        for r2 in weblinks.host_edges(
            weblinks.extract_outlinks(table.scan(spark).select("url", "html"))
        ).collect()
    }
    assert got == want and got


def test_transform_must_keep_bucket_column(spark, tmp_path):
    import pytest as _pytest

    from tiger_etl_spark.lake import LakeTable

    t = LakeTable.create(
        str(tmp_path / "t"),
        "url string, warc_ts timestamp, lang string",
        key_col="url",
        num_buckets=2,
    )
    import datetime as dt

    t.merge(
        spark,
        spark.createDataFrame(
            [("I", 1, "u", dt.datetime(2025, 7, 1, tzinfo=dt.timezone.utc), "en")],
            "op string, op_seq long, url string, warc_ts timestamp, lang string",
        ),
    )
    view = IncrementalAggView(
        str(tmp_path / "v"),
        "lang",
        transform=lambda df: df.select("lang"),  # drops _vb
    )
    with _pytest.raises(ValueError, match="bucket column"):
        view.refresh(spark, t)


def test_agg_view_rejects_nonfoldable(spark, tmp_path):
    from tiger_etl_spark.cdc.ivm import IncrementalAggView

    import pytest as _pytest

    with _pytest.raises(ValueError, match="not bucket-foldable"):
        IncrementalAggView(str(tmp_path / "v"), "lang", {"d": ("x", "avg")})


def test_agg_view_count_of_column_counts_non_nulls(spark, tmp_path):
    from tiger_etl_spark.cdc.ivm import IncrementalAggView

    cdir = str(tmp_path / "changes")
    ev = gen_change_events(seed=31, n=600, n_hosts=20)
    write_change_files(ev, cdir, n_files=1)
    table = create_pages_table(str(tmp_path / "pages"), num_buckets=4)
    p = sorted(glob.glob(os.path.join(cdir, "*.parquet")))[0]
    apply_changes(
        spark, table, spark.read.schema(EVENTS_READ_SCHEMA).parquet(p), batch_id=0
    )
    view = IncrementalAggView(
        str(tmp_path / "v"), "lang",
        {"n_rows": (None, "count"), "n_with_html": ("html", "count")},
    )
    view.refresh(spark, table)
    want = {
        r["lang"]: (r["a"], r["b"])
        for r in table.scan(spark).groupBy("lang").agg(
            F.count("*").alias("a"), F.count("html").alias("b")
        ).collect()
    }
    got = {
        r["lang"]: (r["n_rows"], r["n_with_html"])
        for r in view.read(spark).collect()
    }
    assert got == want
