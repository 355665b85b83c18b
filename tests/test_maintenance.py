"""Maintenance policy (maintain) and partition evolution (rebucket)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from tiger_etl_spark.lake import LakeTable
from tiger_etl_spark.lake.pruning import bucket_of

DDL = "url string, warc_ts timestamp, text string"
UTC = dt.timezone.utc


def ts(i: int) -> dt.datetime:
    return dt.datetime(2025, 5, 1, tzinfo=UTC) + dt.timedelta(seconds=i)


def batch_df(spark, rows):
    return spark.createDataFrame(
        [(op, sq, u, ts(t), x) for op, sq, u, t, x in rows],
        "op string, op_seq long, url string, warc_ts timestamp, text string",
    )


def _state(spark, t):
    return sorted((r["url"], r["text"]) for r in t.scan(spark).collect())


def test_maintain_compacts_only_over_threshold(spark, tmp_path):
    t = LakeTable.create(str(tmp_path / "t"), DDL, key_col="url", num_buckets=2)
    for j in range(3):
        t.merge(spark, batch_df(spark, [("I", j * 10 + i, f"k{i}", j * 10 + i, f"v{j}") for i in range(4)]))
    out1 = t.maintain(spark, max_delta_files_per_bucket=8)
    assert not out1["compacted"]  # healthy: only a manifest check
    assert all(f["kind"] == "delta" for f in t.manifest["files"])

    out2 = t.maintain(spark, max_delta_files_per_bucket=2)
    assert out2["compacted"]
    assert all(f["kind"] == "base" for f in t.manifest["files"])
    assert _state(spark, t) == [(f"k{i}", "v2") for i in range(4)]
    # idempotent: nothing left to do
    out3 = t.maintain(spark, max_delta_files_per_bucket=2)
    assert not out3["compacted"]


def test_maintain_expires_snapshots(spark, tmp_path):
    t = LakeTable.create(str(tmp_path / "t"), DDL, key_col="url", num_buckets=2)
    for j in range(8):
        t.merge(spark, batch_df(spark, [("U", j, "k", j, f"v{j}")]))
    t.maintain(spark, max_delta_files_per_bucket=1, keep_snapshots=2)
    hist = t.history()
    assert len(hist) <= 2
    assert _state(spark, t) == [("k", "v7")]


def test_rebucket_preserves_state_and_layout(spark, tmp_path):
    t = LakeTable.create(str(tmp_path / "t"), DDL, key_col="url", num_buckets=2)
    t.merge(
        spark,
        batch_df(spark, [("I", i, f"u{i}", i, f"v{i}") for i in range(20)]),
    )
    t.merge(spark, batch_df(spark, [("D", 30, "u3", 30, None)]))
    before = _state(spark, t)
    old_version = t.manifest["version"]

    t.rebucket(spark, 8)
    assert t.num_buckets == 8
    assert _state(spark, t) == before
    # files land in the NEW buckets
    for f in t.manifest["files"]:
        assert 0 <= f["bucket"] < 8
    # point lookup prunes on the new bucketing
    planned = t.plan_files(keys=["u7"])
    assert planned and all(
        f["bucket"] == bucket_of("u7", 8) for f in planned
    )
    # tombstone survived the rewrite: a LATE older event cannot resurrect
    t.merge(spark, batch_df(spark, [("U", 2, "u3", 2, "zombie")]))
    assert ("u3", "zombie") not in _state(spark, t)
    # time travel still resolves under the OLD bucket count
    old = t.at_version(old_version)
    assert old.num_buckets == 2
    assert sorted(
        (r["url"], r["text"]) for r in old.scan(spark).collect()
    ) == before
    # merges after rebucket use the new layout and resolve correctly
    t.merge(spark, batch_df(spark, [("U", 40, "u5", 40, "v5b")]))
    got = dict(_state(spark, t))
    assert got["u5"] == "v5b"


def test_rebucket_noop_same_count(spark, tmp_path):
    t = LakeTable.create(str(tmp_path / "t"), DDL, key_col="url", num_buckets=4)
    t.merge(spark, batch_df(spark, [("I", 1, "a", 1, "x")]))
    v = t.manifest["version"]
    t.rebucket(spark, 4)
    assert t.manifest["version"] == v


def test_rebucket_fresh_load_sees_new_count(spark, tmp_path):
    path = str(tmp_path / "t")
    t = LakeTable.create(path, DDL, key_col="url", num_buckets=2)
    t.merge(spark, batch_df(spark, [("I", i, f"x{i}", i, "v") for i in range(6)]))
    t.rebucket(spark, 4)
    t2 = LakeTable.load(path)
    assert t2.num_buckets == 4
    assert _state(spark, t2) == _state(spark, t)


def test_bloom_filter_opt_in(spark, tmp_path):
    """props bloom_filter=true writes parquet bloom filters on the key
    column (row-group skipping inside the files manifest pruning keeps).
    pyarrow 16 doesn't surface the bloom offset, so presence is checked
    by the deterministic size delta of an identical write."""
    rows = [("I", i, f"u{i}", i, f"v{i}") for i in range(50)]
    t = LakeTable.create(
        str(tmp_path / "t"),
        DDL,
        key_col="url",
        num_buckets=2,
        props={"bloom_filter": "true", "bloom_filter_ndv": "1000"},
    )
    t.merge(spark, batch_df(spark, rows))
    plain = LakeTable.create(
        str(tmp_path / "plain"), DDL, key_col="url", num_buckets=2
    )
    plain.merge(spark, batch_df(spark, rows))
    by_bucket = lambda tbl: {f["bucket"]: f["bytes"] for f in tbl.manifest["files"]}
    b, p = by_bucket(t), by_bucket(plain)
    assert set(b) == set(p)
    assert all(b[k] > p[k] for k in b), (b, p)  # bitmap adds bytes
    # lookups still correct through the bloom-bearing files
    assert t.lookup(spark, "u7").collect()[0]["text"] == "v7"
    assert t.lookup(spark, "nope").collect() == []


def test_concurrent_merge_retry(spark, tmp_path):
    """Two writer handles race: the stale handle's commit fails, its
    orphaned data files are cleaned up, and merge_with_retry replays
    the batch onto the newer snapshot — both batches' effects land."""
    from tiger_etl_spark.lake.table import merge_with_retry

    path = str(tmp_path / "t")
    t1 = LakeTable.create(path, DDL, key_col="url", num_buckets=2)
    t2 = LakeTable.load(path)
    t1.merge(spark, batch_df(spark, [("I", 1, "a", 1, "from-w1")]))

    b2 = batch_df(spark, [("I", 2, "b", 2, "from-w2")])
    import os as _os
    n_before = len(_os.listdir(_os.path.join(path, "data")))
    with pytest.raises(RuntimeError, match="concurrent commit"):
        t2.merge(spark, b2)  # stale handle loses the race
    # losing attempt left no orphan files behind
    assert len(_os.listdir(_os.path.join(path, "data"))) == n_before

    stats = merge_with_retry(spark, path, b2)
    assert stats.rows_upserted == 1
    final = _state(spark, LakeTable.load(path))
    assert final == [("a", "from-w1"), ("b", "from-w2")]


def test_rebucket_lost_race_cleans_up(spark, tmp_path):
    path = str(tmp_path / "t")
    t1 = LakeTable.create(path, DDL, key_col="url", num_buckets=2)
    t1.merge(spark, batch_df(spark, [("I", i, f"k{i}", i, "v") for i in range(6)]))
    t2 = LakeTable.load(path)
    t1.merge(spark, batch_df(spark, [("I", 10, "extra", 10, "v")]))
    import os as _os
    n_before = len(_os.listdir(_os.path.join(path, "data")))
    with pytest.raises(RuntimeError, match="concurrent commit"):
        t2.rebucket(spark, 8)  # stale handle loses the race
    assert len(_os.listdir(_os.path.join(path, "data"))) == n_before
    # the handle is restored to the published bucketing, not half-moved
    assert t2.num_buckets == 2
    fresh = LakeTable.load(path)
    assert fresh.num_buckets == 2
    assert len(_state(spark, fresh)) == 7


def test_compact_lost_race_cleans_up(spark, tmp_path):
    path = str(tmp_path / "t")
    t1 = LakeTable.create(path, DDL, key_col="url", num_buckets=2)
    t1.merge(spark, batch_df(spark, [("I", i, f"k{i}", i, "v") for i in range(6)]))
    t2 = LakeTable.load(path)
    t1.merge(spark, batch_df(spark, [("I", 10, "extra", 10, "v")]))
    import os as _os
    n_before = len(_os.listdir(_os.path.join(path, "data")))
    with pytest.raises(RuntimeError, match="concurrent commit"):
        t2.compact(spark)  # stale handle loses the race
    # the losing rewrite of the dirty buckets is not left behind
    assert len(_os.listdir(_os.path.join(path, "data"))) == n_before
    fresh = LakeTable.load(path)
    assert {f["kind"] for f in fresh.manifest["files"]} == {"delta"}
    assert len(_state(spark, fresh)) == 7


def test_vacuum_removes_only_old_orphans(spark, tmp_path):
    import os as _os
    import time as _time

    path = str(tmp_path / "t")
    t = LakeTable.create(path, DDL, key_col="url", num_buckets=2)
    t.merge(spark, batch_df(spark, [("I", i, f"k{i}", i, "v") for i in range(4)]))
    before = _state(spark, t)
    # crash debris: a stale stage dir + an unreferenced data file
    _os.makedirs(_os.path.join(path, "stage-deadbeef"))
    orphan = _os.path.join(path, "data", "b00000-orphan-0-delta.parquet")
    with open(orphan, "wb") as f:
        f.write(b"junk")
    old = _time.time() - 7200
    _os.utime(_os.path.join(path, "stage-deadbeef"), (old, old))
    _os.utime(orphan, (old, old))
    # a FRESH orphan (in-flight write) must survive
    fresh = _os.path.join(path, "data", "b00001-inflight-0-delta.parquet")
    with open(fresh, "wb") as f:
        f.write(b"junk")

    out = t.vacuum(max_age_hours=1.0)
    assert out == {
        "stage_dirs_removed": 1,
        "orphan_files_removed": 1,
        "orphan_segments_removed": 0,
    }
    assert not _os.path.exists(orphan)
    assert _os.path.exists(fresh)
    assert _state(spark, t) == before  # committed data untouched


def test_maintain_verify_checksum_passes_and_rolls_back(spark, tmp_path):
    """maintain(verify=True): a healthy compaction is checksum-proven
    content-preserving; a corrupted rewrite (simulated by a compact that
    also drops a row) is detected and ROLLED BACK, with snapshot expiry
    suppressed so the forensic manifests survive."""
    t = LakeTable.create(str(tmp_path / "tv"), DDL, key_col="url", num_buckets=2)
    for j in range(3):
        t.merge(
            spark,
            batch_df(
                spark,
                [("I", j * 10 + i, f"k{i}", j * 10 + i, f"v{j}") for i in range(4)],
            ),
        )
    before = _state(spark, t)

    out = t.maintain(spark, max_delta_files_per_bucket=2, verify=True)
    assert out["compacted"] and out["compaction_verified"] is True
    assert _state(spark, t) == before
    # healthy pass reports no verification key when nothing compacted
    out2 = t.maintain(spark, max_delta_files_per_bucket=2, verify=True)
    assert not out2["compacted"] and "compaction_verified" not in out2

    # corrupt path: wrap compact to silently delete one key afterwards
    t2 = LakeTable.create(str(tmp_path / "tv2"), DDL, key_col="url", num_buckets=2)
    for j in range(3):
        t2.merge(
            spark,
            batch_df(
                spark,
                [("I", j * 10 + i, f"k{i}", j * 10 + i, f"v{j}") for i in range(4)],
            ),
        )
    before2 = _state(spark, t2)
    real_compact = t2.compact

    def corrupting_compact(*a, **kw):
        res = real_compact(*a, **kw)
        t2.delete_where(spark, F.col("url") == "k0", op_seq=10_000)
        return res

    t2.compact = corrupting_compact
    try:
        out3 = t2.maintain(spark, max_delta_files_per_bucket=2, verify=True)
    finally:
        del t2.compact
    assert out3["compaction_verified"] is False
    assert out3["snapshots_expired_files_removed"] == 0
    # rolled back: full content restored, k0 included
    assert _state(spark, t2) == before2


def _run_maintenance_cli(monkeypatch, capsys, *argv) -> dict:
    """Run `jobs/maintenance.py` in-process (on the test session) and
    return its JSON report line."""
    import json
    import sys

    from jobs.maintenance import main

    monkeypatch.setattr(sys, "argv", ["maintenance.py", *argv])
    main()
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_maintenance_cli_column_lists_allow_spaces(
    spark, tmp_path, monkeypatch, capsys
):
    """`jobs/maintenance.py --zorder-cols "x, y"` (and --cluster-cols)
    name the columns x and y, not " y": they are stored as the table's
    layout props, the compaction lays files out by them, and the table's
    state is preserved. A column the table lacks is refused before
    anything commits: stored, it would fail every later compaction."""
    from tiger_etl_spark.lake import zorder
    from tiger_etl_spark.lake.table import prop_list

    path = str(tmp_path / "t")
    t = LakeTable.create(
        path, f"{DDL}, x long, y long", key_col="url", num_buckets=2
    )
    for j in range(3):
        t.merge(
            spark,
            spark.createDataFrame(
                [
                    ("I", j * 10 + i, f"k{i}", ts(j * 10 + i), f"v{j}", i * j, i - j)
                    for i in range(4)
                ],
                "op string, op_seq long, url string, warc_ts timestamp, "
                "text string, x long, y long",
            ),
        )
    before = sorted(tuple(r) for r in t.scan(spark).collect())

    # the one reader of the layout props, and the z-order key it builds
    seen, zorder_cols = [], []
    base_layout = LakeTable._base_layout
    zorder_key = zorder.zorder_key

    def layout_spy(self, raw):
        layout = base_layout(self, raw)
        seen.append(
            (
                prop_list(self.props["compact_zorder_cols"]),
                prop_list(self.props["compact_cluster_cols"]),
                layout["sort_cols"][1:],
            )
        )
        return layout

    def zorder_spy(cols, *args, **kw):
        zorder_cols.append(list(cols))
        return zorder_key(cols, *args, **kw)

    monkeypatch.setattr(LakeTable, "_base_layout", layout_spy)
    monkeypatch.setattr(zorder, "zorder_key", zorder_spy)
    out = _run_maintenance_cli(
        monkeypatch, capsys, "--table", path,
        "--max-delta-files-per-bucket", "1",
        "--zorder-cols", "x, y", "--cluster-cols", " y ,x",
    )
    assert out["props_updated"] == {
        "compact_zorder_cols": "x,y",
        "compact_cluster_cols": "y,x",
    }
    assert out["compacted"]
    assert seen == [(["x", "y"], ["y", "x"], ["y", "x"])]
    assert zorder_cols == [["x", "y"]]
    after = LakeTable.load(path)
    assert prop_list(after.props["compact_zorder_cols"]) == ["x", "y"]
    assert prop_list(after.props["compact_cluster_cols"]) == ["y", "x"]
    assert all(f["kind"] == "base" for f in after.manifest["files"])
    assert sorted(tuple(r) for r in after.scan(spark).collect()) == before

    version = after.manifest["version"]
    with pytest.raises(SystemExit, match=r"\['z'\]"):
        _run_maintenance_cli(
            monkeypatch, capsys, "--table", path, "--zorder-cols", "x,z"
        )
    after = LakeTable.load(path)
    assert after.manifest["version"] == version
    assert after.props["compact_zorder_cols"] == "x,y"


def _xy_rows(spark, n: int, seq0: int = 0):
    return spark.createDataFrame(
        [
            (
                "I", seq0 + i + 1, f"u{i}", ts(i),
                (i % 20) / 20.0, ((i // 20) % 20) / 20.0,
            )
            for i in range(n)
        ],
        "op string, op_seq long, url string, warc_ts timestamp, x double, y double",
    )


def test_maintenance_cli_zorder_layout_survives_later_compaction(
    spark, tmp_path, monkeypatch, capsys
):
    """The layout the maintenance job sets stays set: after a later
    merge, a plain `compact(spark)` (what a stream's `compact_every`
    runs) rewrites the dirty buckets in the same z-order split, so a
    `y` range still prunes most files."""
    path = str(tmp_path / "t")
    t = LakeTable.create(
        path,
        "url string, warc_ts timestamp, x double, y double",
        key_col="url",
        num_buckets=2,
        props={"stats_cols": "x,y"},
    )
    t.merge(spark, _xy_rows(spark, 400))
    out = _run_maintenance_cli(
        monkeypatch, capsys, "--table", path,
        "--max-delta-files-per-bucket", "0",
        "--zorder-cols", "x,y", "--max-records-per-file", "25",
    )
    assert out["compacted"]
    assert out["props_updated"] == {
        "compact_zorder_cols": "x,y",
        "compact_max_records_per_file": "25",
    }

    def y_pruned(table):
        files = table.manifest["files"]
        planned = table.plan_files(col_ranges={"y": (0.8, None)})
        return len(planned), len(files)

    t = LakeTable.load(path)
    planned, n_files = y_pruned(t)
    assert n_files >= 16 and planned < 0.7 * n_files, (planned, n_files)
    # a small update, then the stream's compaction call
    t.merge(spark, _xy_rows(spark, 4, seq0=1000))
    t.compact(spark)
    assert all(f["kind"] == "base" for f in t.manifest["files"])
    planned, n_files = y_pruned(t)
    assert n_files >= 16 and planned < 0.7 * n_files, (planned, n_files)
    want = sorted(
        r["url"] for r in t.scan(spark).where(F.col("y") >= 0.8).collect()
    )
    got = sorted(
        r["url"] for r in t.scan(spark, col_ranges={"y": (0.8, None)}).collect()
    )
    assert got == want and len(got) == 80


def test_maintenance_cli_rebucket_takes_cluster_ts(
    spark, tmp_path, monkeypatch, capsys
):
    """`--rebucket 4 --cluster-ts day` stores the layout before the
    rebucket runs, so the rewrite writes one base file per (bucket,
    day)."""
    path = str(tmp_path / "t")
    t = LakeTable.create(path, DDL, key_col="url", num_buckets=2)
    rows = [
        ("I", d * 100 + i, f"d{d}k{i}", d * 86_400 + i, f"v-{d}-{i}")
        for d in range(3)
        for i in range(8)
    ]
    t.merge(spark, batch_df(spark, rows))
    before = _state(spark, t)
    out = _run_maintenance_cli(
        monkeypatch, capsys, "--table", path,
        "--rebucket", "4", "--cluster-ts", "day",
    )
    assert out["props_updated"] == {"compact_cluster_ts": "day"}
    assert out["rebucketed_to"] == 4
    t = LakeTable.load(path)
    files = t.manifest["files"]
    assert t.num_buckets == 4 and all(f["kind"] == "base" for f in files)
    assert all(f["min"]["warc_ts"][:10] == f["max"]["warc_ts"][:10] for f in files)
    want = {(bucket_of(u, 4), ts(s).isoformat()[:10]) for _, _, u, s, _ in rows}
    got = [(f["bucket"], f["min"]["warc_ts"][:10]) for f in files]
    assert sorted(got) == sorted(want)  # one file per (bucket, day)
    assert out["rebucket_files_written"] == len(files)
    assert _state(spark, t) == before
