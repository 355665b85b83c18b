"""Manifest-level data skipping (lake/pruning.py): Spark-hash parity,
file-list pruning correctness (incl. the dirty-bucket stale-resurface
trap), and point-lookup bucket pruning."""

from __future__ import annotations

import datetime as dt
import random
import string

import pytest
from pyspark.sql import functions as F

from tiger_etl_spark.lake import LakeTable
from tiger_etl_spark.lake.pruning import bucket_of, plan_files, spark_hash_string

DDL = "url string, warc_ts timestamp, text string"
UTC = dt.timezone.utc


def ts(i: int) -> dt.datetime:
    return dt.datetime(2025, 1, 1, tzinfo=UTC) + dt.timedelta(minutes=i)


def batch_df(spark, rows):
    """rows: (op, op_seq, url, ts_min, text)"""
    return spark.createDataFrame(
        [(op, sq, u, ts(t), x) for op, sq, u, t, x in rows],
        "op string, op_seq long, url string, warc_ts timestamp, text string",
    )


# --------------------------------------------------------- hash parity


def test_spark_hash_parity(spark):
    rng = random.Random(7)
    samples = ["", "a", "abc", "abcd", "abcde", "https://example.com/x?q=1"]
    samples += [
        "".join(rng.choices(string.printable, k=rng.randrange(1, 40)))
        for _ in range(60)
    ]
    samples += ["naïve", "héllo wörld", "日本語のテキスト", "emoji 🚀🔥", "\x00\x7f\x80"]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    got = {r["s"]: r["h"] for r in df.select("s", F.hash("s").alias("h")).collect()}
    for s in samples:
        assert spark_hash_string(s) == got[s], repr(s)


def test_bucket_of_matches_bucket_expr(spark, tmp_path):
    t = LakeTable.create(str(tmp_path / "t"), DDL, key_col="url", num_buckets=16)
    urls = [f"https://h{i}.test/p{i*7}" for i in range(100)]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {
        r["url"]: r["b"]
        for r in df.select("url", t.bucket_expr().alias("b")).collect()
    }
    for u in urls:
        assert bucket_of(u, 16) == got[u], u


# ------------------------------------------------------ scan correctness


NB = 8
BASE_KEYS = [f"u{i}" for i in range(16)]
UPD_BUCKET = bucket_of("u0", NB)
# w-keys chosen (driver-side, via the parity-pinned hash) to land
# OUTSIDE u0's bucket, so u0's bucket has exactly one delta at t=100
W_KEYS = [k for k in (f"w{i}" for i in range(100)) if bucket_of(k, NB) != UPD_BUCKET][:3]


@pytest.fixture()
def table(spark, tmp_path):
    """Base data in minutes [0,15] (compacted), one key updated at
    t=100, three inserts at t=200.. — so the manifest mixes clean
    buckets, a dirty bucket whose delta misses most windows, and dirty
    buckets with late inserts."""
    t = LakeTable.create(str(tmp_path / "t"), DDL, key_col="url", num_buckets=NB)
    t.merge(
        spark,
        batch_df(
            spark, [("I", i, f"u{i}", i, f"v1-{i}") for i in range(16)]
        ),
    )
    t.compact(spark)  # minutes [0, 15] now all base files
    t.merge(spark, batch_df(spark, [("U", 100, "u0", 100, "v2-0")]))
    t.merge(
        spark,
        batch_df(
            spark,
            [("I", 200 + i, w, 200 + i, f"w-{w}") for i, w in enumerate(W_KEYS)],
        ),
    )
    return t


def _rows(df):
    return sorted((r["url"], r["text"]) for r in df.collect())


def test_ts_range_pruned_scan_matches_filtered_full_scan(spark, table):
    lo, hi = ts(150), ts(300)
    full = table.scan(spark).where(F.col("warc_ts").between(lo, hi))
    pruned = table.scan(spark, ts_range=(lo, hi))
    assert _rows(pruned) == _rows(full)
    assert _rows(pruned) == sorted((w, f"w-{w}") for w in W_KEYS)
    planned = table.plan_files(ts_range=(lo, hi))
    assert len(planned) < len(table.manifest["files"])
    # u0's bucket is dirty but NONE of its files overlap [150, 300]
    # (base [0,15], delta at 100) — the whole bucket is pruned
    assert all(f["bucket"] != UPD_BUCKET for f in planned)
    # clean buckets without w-keys are pruned too: only w-buckets remain
    w_buckets = {bucket_of(w, NB) for w in W_KEYS}
    assert {f["bucket"] for f in planned} == w_buckets


def test_ts_range_clean_file_pruning(spark, table):
    # [4, 8]: each clean bucket's base file spans only its own keys'
    # minutes, so base files whose key-minutes miss the window prune
    # individually; dirty buckets stay whole (their base overlaps)
    lo, hi = ts(4), ts(8)
    planned = table.plan_files(ts_range=(lo, hi))
    assert len(planned) < len(table.manifest["files"])
    got = dict(_rows(table.scan(spark, ts_range=(lo, hi))))
    want = {f"u{i}": f"v1-{i}" for i in range(4, 9)}
    assert got == want


def test_dirty_bucket_stale_resurface_guard(spark, table):
    """u0's v1 row (t=0) was superseded at t=100. A window covering
    only [0, 50] must NOT resurface v1-0: the newer out-of-window
    version wins resolution first, then the row filter drops the key.
    Per-file pruning inside dirty buckets would get this wrong."""
    got = dict(_rows(table.scan(spark, ts_range=(ts(0), ts(50)))))
    assert "u0" not in got  # superseded later — absent, not stale
    for i in range(1, 16):
        assert got[f"u{i}"] == f"v1-{i}"


def test_key_lookup_pruned(spark, table):
    w0 = W_KEYS[0]
    for key, want in [("u0", "v2-0"), ("u7", "v1-7"), (w0, f"w-{w0}")]:
        rows = table.lookup(spark, key).collect()
        assert len(rows) == 1 and rows[0]["text"] == want
        planned = table.plan_files(keys=[key])
        b = bucket_of(key, table.num_buckets)
        assert planned and all(f["bucket"] == b for f in planned)
    assert table.lookup(spark, "nope").collect() == []


def test_multi_key_and_combined_filters(spark, table):
    w1 = W_KEYS[1]
    keys = ["u1", w1]
    got = _rows(table.scan(spark, keys=keys))
    assert got == sorted([("u1", "v1-1"), (w1, f"w-{w1}")])
    # combined: key + window that excludes u1's version
    got2 = _rows(table.scan(spark, keys=keys, ts_range=(ts(150), ts(300))))
    assert got2 == [(w1, f"w-{w1}")]


def test_pruning_respects_deletes(spark, table):
    w2 = W_KEYS[2]
    table.merge(spark, batch_df(spark, [("D", 500, w2, 500, None)]))
    assert table.lookup(spark, w2).collect() == []
    got = _rows(table.scan(spark, ts_range=(ts(150), ts(600))))
    assert (w2, f"w-{w2}") not in got


# ------------------------------------------------- column-range pruning

CR_DDL = "url string, warc_ts timestamp, text string, quality double"


def qbatch(spark, rows):
    """rows: (op, op_seq, url, t, text, quality)"""
    return spark.createDataFrame(
        [(op, sq, u, ts(t), x, q) for op, sq, u, t, x, q in rows],
        "op string, op_seq long, url string, warc_ts timestamp, "
        "text string, quality double",
    )


# high-quality keys chosen (driver-side, parity-pinned hash) to land in
# ONE bucket of 4, so the other three buckets stay clean after the delta
HI_KEYS = [k for k in (f"hi{i}" for i in range(100)) if bucket_of(k, 4) == 1][:6]


@pytest.fixture()
def qtable(spark, tmp_path):
    """quality tracked via the `stats_cols` prop: 12 compacted
    low-quality rows (bounds ≤ 0.4 per base file), then 6 high-quality
    delta rows (≥ 0.8) all in bucket 1 — so the manifest mixes clean
    low buckets and one dirty bucket whose only qualifying rows are
    deltas."""
    t = LakeTable.create(
        str(tmp_path / "q"),
        CR_DDL,
        key_col="url",
        num_buckets=4,
        props={"stats_cols": "quality"},
    )
    t.merge(
        spark,
        qbatch(
            spark,
            [
                ("I", i, f"lo{i}", i, f"lo-{i}", round((i % 5) * 0.1, 1))
                for i in range(12)
            ],
        ),
    )
    t.compact(spark)
    t.merge(
        spark,
        qbatch(
            spark,
            [
                ("I", 100 + i, k, 100 + i, f"v-{k}", 0.8 + (i % 3) * 0.1)
                for i, k in enumerate(HI_KEYS)
            ],
        ),
    )
    return t


def test_stats_cols_recorded_in_manifest(qtable):
    for f in qtable.manifest["files"]:
        assert isinstance(f["min"]["quality"], float)
        assert isinstance(f["max"]["quality"], float)
        assert f["min"]["quality"] <= f["max"]["quality"]


def test_col_range_pruned_scan_matches_filtered_full_scan(spark, qtable):
    full = qtable.scan(spark).where(F.col("quality") >= 0.75)
    pruned = qtable.scan(spark, col_ranges={"quality": (0.75, None)})
    assert _rows(pruned) == _rows(full)
    assert _rows(pruned) == sorted((k, f"v-{k}") for k in HI_KEYS)
    planned = qtable.plan_files(col_ranges={"quality": (0.75, None)})
    assert len(planned) < len(qtable.manifest["files"])
    # clean buckets (low-quality only, bounds ≤ 0.4) are fully pruned;
    # dirty buckets (holding the high-quality deltas) stay all-or-nothing
    dirty = {f["bucket"] for f in qtable.manifest["files"] if f["kind"] == "delta"}
    assert {f["bucket"] for f in planned} <= dirty


def test_col_range_dirty_bucket_stale_resurface_guard(spark, qtable):
    """hi0's quality drops 0.8 → 0.1 in a newer version. A scan for
    quality ≥ 0.75 must NOT resurface the 0.8 row: the dirty bucket is
    kept whole (the OLD delta's bounds overlap), LWW resolves to the
    0.1 winner, the residual filter drops it. Per-file pruning inside
    the dirty bucket would skip the 0.1 delta and wrongly return 0.8."""
    k0 = HI_KEYS[0]
    qtable.merge(spark, qbatch(spark, [("U", 500, k0, 500, f"v-{k0}-b", 0.1)]))
    got = dict(_rows(qtable.scan(spark, col_ranges={"quality": (0.75, None)})))
    assert k0 not in got
    assert all(k in got for k in HI_KEYS[1:])
    # the key is still present below the threshold, with the new text
    assert dict(_rows(qtable.scan(spark)))[k0] == f"v-{k0}-b"


def test_col_range_combined_with_ts_range(spark, qtable):
    lo_t, hi_t = ts(100), ts(102)
    full = (
        qtable.scan(spark)
        .where(F.col("warc_ts").between(lo_t, hi_t))
        .where(F.col("quality") >= 0.75)
    )
    pruned = qtable.scan(
        spark, ts_range=(lo_t, hi_t), col_ranges={"quality": (0.75, None)}
    )
    assert _rows(pruned) == _rows(full)
    assert _rows(pruned) == sorted((k, f"v-{k}") for k in HI_KEYS[:3])


def test_col_range_untracked_column_keeps_all_files(spark, qtable):
    # no stats recorded for `text`: pruning proves nothing, keeps every
    # file, and the residual row filter still gives the right answer
    planned = qtable.plan_files(col_ranges={"text": ("lo-0", "lo-9")})
    assert len(planned) == len(qtable.manifest["files"])
    got = _rows(qtable.scan(spark, col_ranges={"text": ("lo-0", "lo-9")}))
    want = _rows(qtable.scan(spark).where(F.col("text").between("lo-0", "lo-9")))
    assert got == want and len(got) == 12


def test_col_range_compaction_preserves_stats(spark, qtable):
    before = _rows(qtable.scan(spark, col_ranges={"quality": (0.75, None)}))
    qtable.compact(spark)
    assert all(f["kind"] == "base" for f in qtable.manifest["files"])
    for f in qtable.manifest["files"]:
        assert "quality" in f["min"] and "quality" in f["max"]
    after = _rows(qtable.scan(spark, col_ranges={"quality": (0.75, None)}))
    assert after == before
    # post-compaction the hi rows' buckets are clean: files whose
    # quality bounds top out below the threshold prune individually
    planned = qtable.plan_files(col_ranges={"quality": (0.75, None)})
    assert len(planned) < len(qtable.manifest["files"])


def test_col_range_timestamp_bound_compares_as_time():
    """A timestamp stats column records `isoformat()` bounds ('T'
    separator, UTC offset). A bound written '2024-01-01 06:00:00' must
    be compared as a time: in string order ' ' < 'T', so the file would
    look wholly above the bound although it holds rows at or before it."""
    f = {
        "path": "b0.parquet",
        "bucket": 0,
        "kind": "base",
        "min": {"seen_at": "2024-01-01T05:00:00+00:00"},
        "max": {"seen_at": "2024-01-01T07:00:00+00:00"},
    }
    manifest = {
        "files": [f],
        "order_cols": ["warc_ts"],
        "key_col": "url",
        "num_buckets": 1,
    }

    def plan(lo, hi):
        return plan_files(manifest, col_ranges={"seen_at": (lo, hi)})

    assert plan(None, "2024-01-01 06:00:00") == [f]
    assert plan("2024-01-01 06:00:00", None) == [f]
    # a file the time order proves irrelevant is still pruned
    assert plan(None, "2024-01-01 04:00:00") == []
    assert plan("2024-01-01T08:00:00+00:00", None) == []
    # plain strings keep plain string order
    g = dict(f, min={"seen_at": "apple"}, max={"seen_at": "melon"})
    manifest["files"] = [g]
    assert plan("pear", None) == []
    assert plan(None, "cherry") == [g]


def test_col_range_on_typed_time_column_compares_in_time_order_alone():
    """A stats column typed timestamp or date (`time_cols`, which
    `LakeTable.plan_files` takes from the table's schema) compares in
    time order alone: a lower bound written with a space still prunes a
    file that ends before it (in string order the file's 'T'-separated
    max sorts above the bound)."""
    f = {
        "path": "b0.parquet",
        "bucket": 0,
        "kind": "base",
        "min": {"seen_at": "2024-01-01T05:00:00+00:00", "day": "2024-01-01"},
        "max": {"seen_at": "2024-01-01T07:00:00+00:00", "day": "2024-01-02"},
    }
    manifest = {
        "files": [f],
        "order_cols": ["warc_ts"],
        "key_col": "url",
        "num_buckets": 1,
    }

    def plan(col, lo, hi):
        return plan_files(
            manifest,
            col_ranges={col: (lo, hi)},
            time_cols={"seen_at": False, "day": True},
        )

    assert plan("seen_at", "2024-01-01 08:00:00", None) == []
    assert plan("seen_at", None, "2024-01-01 04:00:00") == []
    assert plan("seen_at", "2024-01-01 06:00:00", None) == [f]
    assert plan("seen_at", dt.datetime(2024, 1, 1, 8, tzinfo=UTC), None) == []
    # an offset moves a timestamp bound: 02:00-05:00 is 07:00 UTC
    assert plan("seen_at", "2024-01-01T02:00:00-05:00", None) == [f]
    assert plan("seen_at", "2024-01-01T03:00:00-05:00", None) == []
    # a date column counts a string bound by its date as written, time
    # and offset ignored, as Spark's cast to date does
    assert plan("day", "2024-01-02 08:00:00", None) == [f]
    assert plan("day", "2024-01-02T23:00:00-05:00", None) == [f]
    assert plan("day", None, "2024-01-01T01:00:00+05:00") == [f]
    assert plan("day", "2024-01-03", None) == []
    assert plan("day", None, "2023-12-31 23:00:00") == []
    # a bound that is no time keeps the file
    assert plan("seen_at", "not a time", None) == [f]
    assert plan("day", "not a date", None) == [f]


def test_table_plan_types_time_stats_cols_from_its_schema(spark, tmp_path):
    """`LakeTable.plan_files` compares a timestamp or date stats column
    in time order (a space-written lower bound prunes), and a date
    column's offset bound keeps the rows Spark's cast to date keeps."""
    t = LakeTable.create(
        str(tmp_path / "t"),
        "url string, warc_ts timestamp, seen_at timestamp, day date",
        key_col="url",
        num_buckets=1,
        props={"stats_cols": "seen_at,day"},
    )
    t0 = dt.datetime(2024, 1, 1, 5, tzinfo=UTC)
    t.merge(
        spark,
        spark.createDataFrame(
            [
                (
                    "I",
                    i + 1,
                    f"u{i}",
                    t0,
                    t0 + dt.timedelta(hours=i),
                    dt.date(2024, 1, 1 + i),
                )
                for i in range(3)
            ],
            "op string, op_seq long, url string, warc_ts timestamp, "
            "seen_at timestamp, day date",
        ),
    )
    t.compact(spark)
    assert t.plan_files(col_ranges={"seen_at": ("2024-01-01 08:00:00", None)}) == []
    for lo, hi in [
        ("2024-01-02T23:00:00-05:00", None),
        (None, "2024-01-02T01:00:00+05:00"),
    ]:
        rng = {"day": (lo, hi)}
        assert t.plan_files(col_ranges=rng) == t.manifest["files"]
        got = sorted(r["url"] for r in t.scan(spark, col_ranges=rng).collect())
        assert got == (["u1", "u2"] if lo else ["u0", "u1"])
    assert t.plan_files(col_ranges={"day": ("2024-01-04", None)}) == []


def test_col_range_on_timestamp_stats_col_returns_qualifying_rows(spark, tmp_path):
    t = LakeTable.create(
        str(tmp_path / "t"),
        "url string, warc_ts timestamp, seen_at timestamp",
        key_col="url",
        num_buckets=1,
        props={"stats_cols": "seen_at"},
    )
    t0 = dt.datetime(2024, 1, 1, 5, tzinfo=UTC)
    t.merge(
        spark,
        spark.createDataFrame(
            [
                ("I", i + 1, f"u{i}", t0, t0 + dt.timedelta(hours=i))
                for i in range(3)
            ],
            "op string, op_seq long, url string, warc_ts timestamp, "
            "seen_at timestamp",
        ),
    )
    t.compact(spark)
    got = t.scan(spark, col_ranges={"seen_at": (None, "2024-01-01 06:00:00")})
    assert sorted(r["url"] for r in got.collect()) == ["u0", "u1"]


# ------------------------------------------- time-clustered compaction


def test_compact_cluster_ts_prunes_base_files(spark, tmp_path):
    """A `compact_cluster_ts='day'` layout splits each bucket's base
    data into one file per day, so manifest time-range pruning keeps
    working on fully-compacted tables."""
    t = LakeTable.create(str(tmp_path / "t"), DDL, key_col="url", num_buckets=2)
    # 3 distinct days, 8 keys each
    rows = []
    for d in range(3):
        for i in range(8):
            rows.append(("I", d * 100 + i, f"d{d}k{i}", d * 1440 + i, f"v-{d}-{i}"))
    t.merge(spark, batch_df(spark, rows))
    t.update_props({"compact_cluster_ts": "day"})
    t.compact(spark)
    files = t.manifest["files"]
    assert all(f["kind"] == "base" for f in files)
    assert len(files) == 6  # 2 buckets × 3 days
    # every file spans a single day
    for f in files:
        assert f["min"]["warc_ts"][:10] == f["max"]["warc_ts"][:10]
    # day-1 window: exactly the 2 day-1 files planned
    lo, hi = ts(1440), ts(1440 + 100)
    planned = t.plan_files(ts_range=(lo, hi))
    assert len(planned) == 2
    got = _rows(t.scan(spark, ts_range=(lo, hi)))
    assert got == sorted((f"d1k{i}", f"v-1-{i}") for i in range(8))
    # full scan unaffected
    assert len(_rows(t.scan(spark))) == 24


def test_compact_cluster_ts_default_from_props(spark, tmp_path):
    t = LakeTable.create(
        str(tmp_path / "t"),
        DDL,
        key_col="url",
        num_buckets=2,
        props={"compact_cluster_ts": "day"},
    )
    rows = [("I", i, f"k{i}", i * 1440, f"v{i}") for i in range(4)]
    t.merge(spark, batch_df(spark, rows))
    t.compact(spark)
    for f in t.manifest["files"]:
        assert f["min"]["warc_ts"][:10] == f["max"]["warc_ts"][:10]
    # updates after clustering still resolve correctly
    t.merge(spark, batch_df(spark, [("U", 99, "k1", 9999, "v1b")]))
    t.compact(spark)
    got = dict(_rows(t.scan(spark)))
    assert got["k1"] == "v1b" and got["k0"] == "v0"


def test_rebucket_keeps_cluster_ts_layout(spark, tmp_path):
    """rebucket is the compaction rewrite: a `compact_cluster_ts='day'`
    table keeps one base file per (bucket, day) under its new bucket
    count, so a one-day window still plans fewer files than it holds."""
    t = LakeTable.create(
        str(tmp_path / "t"),
        DDL,
        key_col="url",
        num_buckets=2,
        props={"compact_cluster_ts": "day"},
    )
    rows = [
        ("I", d * 100 + i, f"d{d}k{i}", d * 1440 + i, f"v-{d}-{i}")
        for d in range(3)
        for i in range(8)
    ]
    t.merge(spark, batch_df(spark, rows))
    t.compact(spark)
    t.rebucket(spark, 4)
    files = t.manifest["files"]
    assert all(f["kind"] == "base" for f in files)
    assert all(f["min"]["warc_ts"][:10] == f["max"]["warc_ts"][:10] for f in files)
    want = {(bucket_of(u, 4), ts(m).isoformat()[:10]) for _, _, u, m, _ in rows}
    got = [(f["bucket"], f["min"]["warc_ts"][:10]) for f in files]
    assert sorted(got) == sorted(want)  # one file per (bucket, day)
    lo, hi = ts(1440), ts(1440 + 100)
    assert len(t.plan_files(ts_range=(lo, hi))) < len(files)
    got_rows = _rows(t.scan(spark, ts_range=(lo, hi)))
    assert got_rows == sorted((f"d1k{i}", f"v-1-{i}") for i in range(8))


# --------------------------------- float-stats safety (NaN/Inf poisoning)


def test_nan_or_inf_in_stats_col_poisons_file_bounds(spark, tmp_path):
    """Spark's parquet writer surfaces NaN/Inf in the column's min/max
    (Double.compare semantics — pinned here); _stats_from_metadata must
    then drop the column's bounds for the WHOLE file, because finite
    bounds derived from other row groups would let plan_files prune a
    file whose NaN row still satisfies `quality >= lo` (Spark treats NaN
    as greater than any number)."""
    t = LakeTable.create(
        str(tmp_path / "nan"),
        CR_DDL,
        key_col="url",
        num_buckets=2,
        props={"stats_cols": "quality"},
    )
    t.merge(
        spark,
        qbatch(
            spark,
            [("I", 0, "a", 0, "x", 0.1), ("I", 1, "b", 1, "y", float("nan")),
             ("I", 2, "c", 2, "z", 0.3), ("I", 3, "d", 3, "w", float("inf"))],
        ),
    )
    # every file that holds a NaN/Inf row must have NO quality bounds
    df = t.scan(spark, include_internal=True)
    for f in t.manifest["files"]:
        has_q = "quality" in f["min"] or "quality" in f["max"]
        if has_q:
            import math

            assert math.isfinite(f["min"]["quality"])
            assert math.isfinite(f["max"]["quality"])
    # pruned scan == plain filtered scan even though NaN rows exist
    full = sorted(
        r["url"] for r in t.scan(spark).where(F.col("quality") >= 0.8).collect()
    )
    pruned = sorted(
        r["url"]
        for r in t.scan(spark, col_ranges={"quality": (0.8, None)}).collect()
    )
    assert pruned == full
    assert "b" in pruned and "d" in pruned  # NaN and Inf both >= 0.8 in Spark


def test_all_null_stats_col_keeps_file_unpruned(spark, tmp_path):
    """A file whose stats column is entirely NULL records no bounds and
    is always kept; NULL rows never satisfy the residual range filter so
    parity holds."""
    t = LakeTable.create(
        str(tmp_path / "nulls"),
        CR_DDL,
        key_col="url",
        num_buckets=2,
        props={"stats_cols": "quality"},
    )
    t.merge(
        spark,
        qbatch(spark, [("I", 0, "n1", 0, "x", None), ("I", 1, "n2", 1, "y", None)]),
    )
    for f in t.manifest["files"]:
        assert "quality" not in f["min"] and "quality" not in f["max"]
    assert t.plan_files(col_ranges={"quality": (0.5, None)}) == t.manifest["files"]
    assert t.scan(spark, col_ranges={"quality": (0.5, None)}).count() == 0


# ----------------------------------------------- explicit bucket subset


def test_plan_files_buckets_param(spark, qtable):
    sub = qtable.plan_files(buckets={1})
    assert sub and all(f["bucket"] == 1 for f in sub)
    want = sorted(
        r["url"]
        for r in qtable.scan(spark, include_internal=True)
        .withColumn("_b", qtable.bucket_expr())
        .where(F.col("_b") == 1)
        .collect()
    )
    got = sorted(r["url"] for r in qtable.scan(spark, buckets={1}).collect())
    assert got == want and got
    assert qtable.scan(spark, buckets=set()).count() == 0


# ------------------------------------- cluster-by-column compaction


def test_compact_cluster_cols_tightens_stats_bounds(spark, tmp_path):
    """CLUSTER BY analog: compacting under `compact_cluster_cols` sorts
    each bucket by the column and splits files sequentially
    (maxRecordsPerFile), so per-file stats bounds become tight
    contiguous ranges and a col_ranges scan of a fully-compacted table
    skips most files."""
    t = LakeTable.create(
        str(tmp_path / "t"),
        "url string, warc_ts timestamp, q double",
        key_col="url",
        num_buckets=2,
        props={"stats_cols": "q"},
    )
    rows = [("I", i + 1, f"u{i}", ts(i), (i % 100) / 100.0) for i in range(200)]
    t.merge(
        spark,
        spark.createDataFrame(
            rows, "op string, op_seq long, url string, warc_ts timestamp, q double"
        ),
    )
    t.update_props(
        {"compact_cluster_cols": "q", "compact_max_records_per_file": "25"}
    )
    t.compact(spark)
    files = t.manifest["files"]
    # several files per bucket, all base
    assert len(files) >= 8 and all(f["kind"] == "base" for f in files)
    # bounds are tight: each file spans ≤ ~(25/100 of the q range)
    spans = [f["max"]["q"] - f["min"]["q"] for f in files]
    assert max(spans) <= 0.35
    planned = t.plan_files(col_ranges={"q": (0.9, None)})
    assert 0 < len(planned) < len(files) / 2
    # parity: pruned scan equals full-scan filter
    want = sorted(
        r["url"] for r in t.scan(spark).where(F.col("q") >= 0.9).collect()
    )
    got = sorted(
        r["url"] for r in t.scan(spark, col_ranges={"q": (0.9, None)}).collect()
    )
    assert got == want and len(got) == 20


def test_compact_cluster_cols_defaults_from_props(spark, tmp_path):
    t = LakeTable.create(
        str(tmp_path / "t"),
        "url string, warc_ts timestamp, q double",
        key_col="url",
        num_buckets=2,
        props={
            "stats_cols": "q",
            "compact_cluster_cols": "q",
            "compact_max_records_per_file": "25",
        },
    )
    rows = [("I", i + 1, f"u{i}", ts(i), (i % 100) / 100.0) for i in range(200)]
    t.merge(
        spark,
        spark.createDataFrame(
            rows, "op string, op_seq long, url string, warc_ts timestamp, q double"
        ),
    )
    t.compact(spark)  # everything from props — the maintain() path
    assert len(t.manifest["files"]) >= 8
    assert len(t.plan_files(col_ranges={"q": (0.9, None)})) < len(
        t.manifest["files"]
    )


def test_compact_zorder_prunes_on_every_clustered_column(spark, tmp_path):
    """Z-order compaction: files cover small (x, y) hyper-rectangles, so
    col_ranges prunes on BOTH columns — a lexicographic sort would only
    ever prune on the first."""
    t = LakeTable.create(
        str(tmp_path / "t"),
        "url string, warc_ts timestamp, x double, y double",
        key_col="url",
        num_buckets=2,
        props={"stats_cols": "x,y"},
    )
    rows = [
        ("I", i + 1, f"u{i}", ts(i), (i % 20) / 20.0, ((i // 20) % 20) / 20.0)
        for i in range(400)
    ]
    t.merge(
        spark,
        spark.createDataFrame(
            rows,
            "op string, op_seq long, url string, warc_ts timestamp, x double, y double",
        ),
    )
    t.update_props(
        {"compact_zorder_cols": "x,y", "compact_max_records_per_file": "25"}
    )
    t.compact(spark)
    files = t.manifest["files"]
    assert len(files) >= 12
    px = t.plan_files(col_ranges={"x": (0.8, None)})
    py = t.plan_files(col_ranges={"y": (0.8, None)})
    pbox = t.plan_files(col_ranges={"x": (0.8, None), "y": (0.8, None)})
    # every dimension prunes, and the box prunes at least as hard
    assert len(px) < 0.7 * len(files), (len(px), len(files))
    assert len(py) < 0.7 * len(files), (len(py), len(files))
    assert len(pbox) <= min(len(px), len(py))
    # parity on the box scan
    want = sorted(
        r["url"]
        for r in t.scan(spark).where((F.col("x") >= 0.8) & (F.col("y") >= 0.8)).collect()
    )
    got = sorted(
        r["url"]
        for r in t.scan(
            spark, col_ranges={"x": (0.8, None), "y": (0.8, None)}
        ).collect()
    )
    assert got == want and got


def test_compact_zorder_handles_date_and_timestamp_columns(spark, tmp_path):
    """DateType bounds arrive as datetime.date (no .timestamp()); both
    date and timestamp columns must rank through explicit-UTC epochs."""
    t = LakeTable.create(
        str(tmp_path / "t"),
        "url string, warc_ts timestamp, d date, x double",
        key_col="url",
        num_buckets=2,
        props={"stats_cols": "x"},
    )
    rows = [
        ("I", i + 1, f"u{i}", ts(i), dt.date(2025, 1, 1 + i % 28), (i % 50) / 50.0)
        for i in range(200)
    ]
    t.merge(
        spark,
        spark.createDataFrame(
            rows,
            "op string, op_seq long, url string, warc_ts timestamp, d date, x double",
        ),
    )
    t.update_props(
        {"compact_zorder_cols": "d,x", "compact_max_records_per_file": "25"}
    )
    t.compact(spark)
    files = t.manifest["files"]
    assert len(files) >= 8 and all(f["kind"] == "base" for f in files)
    # x still prunes despite sharing the interleave with the date dim
    px = t.plan_files(col_ranges={"x": (0.9, None)})
    assert len(px) < len(files)
    want = sorted(r["url"] for r in t.scan(spark).where("x >= 0.9").collect())
    got = sorted(
        r["url"] for r in t.scan(spark, col_ranges={"x": (0.9, None)}).collect()
    )
    assert got == want and got
