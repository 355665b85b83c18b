"""Partial-column update ($set analog) — operator vs single-threaded
replay oracle, and LakeTable merge_policy='partial' end-to-end."""

from __future__ import annotations

import datetime as dt
import random

import pytest
from pyspark.sql import functions as F

from tiger_etl_spark.lake import LakeTable
from tiger_etl_spark.operators.partial import partial_lww_state

COLS = ["a", "b"]


def replay(events: list[dict]) -> dict:
    """Single-threaded reference: apply events in (ts, seq) order.
    I = full-row set (nulls included), U = $set of non-null cols
    (upserts on missing/deleted keys), D = delete."""
    state: dict = {}
    for e in sorted(events, key=lambda e: (e["ts"], e["seq"])):
        k = e["key"]
        if e["op"] == "D":
            state.pop(k, None)
        elif e["op"] == "I":
            state[k] = {"ts": e["ts"], "seq": e["seq"], "a": e["a"], "b": e["b"]}
        else:
            cur = state.setdefault(k, {"a": None, "b": None})
            cur["ts"], cur["seq"] = e["ts"], e["seq"]
            for c in COLS:
                if e[c] is not None:
                    cur[c] = e[c]
    return state


def gen_events(seed: int, n: int, n_keys: int) -> list[dict]:
    rng = random.Random(seed)
    evs = []
    for seq in range(n):
        op = rng.choices(["I", "U", "D"], weights=[2, 6, 1])[0]
        evs.append(
            {
                "key": f"k{rng.randrange(n_keys)}",
                "ts": rng.randrange(50),  # coarse → plenty of seq tiebreaks
                "seq": seq,
                "op": op,
                "a": rng.choice([None, float(rng.randrange(100))]),
                "b": rng.choice([None, f"v{rng.randrange(10)}"]),
            }
        )
    return evs


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_partial_lww_state_matches_replay(spark, seed):
    evs = gen_events(seed, n=400, n_keys=30)
    df = spark.createDataFrame(
        [(e["key"], e["ts"], e["seq"], e["op"], e["a"], e["b"]) for e in evs],
        "key string, ts long, seq long, op string, a double, b string",
    )
    got = {
        r.key: {"ts": r.ts, "seq": r.seq, "a": r.a, "b": r.b}
        for r in partial_lww_state(df, "key", ["ts", "seq"], "op", COLS)
        .where(~F.col("_deleted"))
        .collect()
    }
    assert got == replay(evs)


def test_partial_update_does_not_null_absent_columns(spark):
    """The headline $set behavior: a U carrying only column a leaves
    column b intact (whole-row LWW would null it)."""
    df = spark.createDataFrame(
        [
            ("k", 1, 1, "I", 1.0, "orig"),
            ("k", 2, 2, "U", 9.0, None),
        ],
        "key string, ts long, seq long, op string, a double, b string",
    )
    [row] = partial_lww_state(df, "key", ["ts", "seq"], "op", COLS).collect()
    assert (row.a, row.b, row.ts) == (9.0, "orig", 2)


def test_delete_then_update_recreates_partial_row(spark):
    df = spark.createDataFrame(
        [
            ("k", 1, 1, "I", 1.0, "x"),
            ("k", 2, 2, "D", None, None),
            ("k", 3, 3, "U", 7.0, None),
        ],
        "key string, ts long, seq long, op string, a double, b string",
    )
    [row] = (
        partial_lww_state(df, "key", ["ts", "seq"], "op", COLS)
        .where(~F.col("_deleted"))
        .collect()
    )
    # b's only setter (the I) predates the D → gone; a set after the D
    assert (row.a, row.b) == (7.0, None)


def _mk_table(tmp_path, n_buckets=4) -> LakeTable:
    return LakeTable.create(
        str(tmp_path / "t"),
        "url string, warc_ts timestamp, a double, b string",
        key_col="url",
        order_cols=("warc_ts",),
        num_buckets=n_buckets,
        merge_policy="partial",
    )


def _batch_df(spark, evs):
    t0 = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            (
                e["op"],
                e["seq"],
                e["key"],
                t0 + dt.timedelta(seconds=e["ts"]),
                e["a"],
                e["b"],
            )
            for e in evs
        ],
        "op string, op_seq long, url string, warc_ts timestamp, a double, b string",
    )


def _state_of(spark, table: LakeTable) -> dict:
    return {
        r.url: (r.a, r.b) for r in table.scan(spark).collect()
    }


@pytest.mark.parametrize("seed", [7, 8])
def test_lake_partial_policy_multi_batch_matches_replay(spark, tmp_path, seed):
    evs = gen_events(seed, n=300, n_keys=25)
    table = _mk_table(tmp_path)
    for i in range(0, 300, 100):  # three merges, interleaved orders
        table.merge(spark, _batch_df(spark, evs[i : i + 100]))
    expected = {
        k: (v["a"], v["b"]) for k, v in replay(evs).items()
    }
    assert _state_of(spark, table) == expected
    # compact rewrites dirty buckets to resolved base rows — same state
    table.compact(spark)
    assert _state_of(spark, table) == expected
    # re-merging an already-applied batch is a no-op at resolve level
    table.merge(spark, _batch_df(spark, evs[200:300]))
    assert _state_of(spark, table) == expected


def test_load_refuses_foreign_bucket_hash(spark, tmp_path):
    import json
    import os

    table = _mk_table(tmp_path)
    mpath = os.path.join(table.path, "meta", "v0.json")
    with open(mpath) as f:
        m = json.load(f)
    m["bucket_hash_fn"] = "xxhash64_pmod"
    with open(mpath, "w") as f:
        json.dump(m, f)
    with pytest.raises(RuntimeError, match="bucketed with hash"):
        LakeTable.load(table.path)


def test_apply_changes_routes_partial_tables_through_raw_merge(spark, tmp_path):
    """The batch-apply core works on merge_policy='partial' pages tables:
    U events coalesce column-wise instead of nulling absent columns."""
    import datetime as dt

    from pyspark.sql import functions as F

    from tiger_etl_spark.cdc.pipeline import apply_changes
    from tiger_etl_spark.cdc.schemas import EVENTS_READ_SCHEMA, PAGES_SCHEMA
    from tiger_etl_spark.lake import LakeTable

    ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in PAGES_SCHEMA.fields
    )
    table = LakeTable.create(
        str(tmp_path / "pages"),
        ddl,
        key_col="url",
        num_buckets=4,
        merge_policy="partial",
    )
    t = dt.datetime(2024, 3, 1)

    def ev(op, seq, url, sec, html, lang):
        return (
            op, seq, url, t + dt.timedelta(seconds=sec), None, html, lang,
            None, 2, f"f{seq}",
        )

    events = spark.createDataFrame(
        [
            ev("I", 1, "u1", 1, b"<p>one</p>", "en"),
            # U sets only lang — html (and its text) must survive
            ev("U", 2, "u1", 2, None, "de"),
            ev("I", 3, "u2", 1, b"<p>two</p>", "fr"),
            ev("D", 4, "u2", 2, None, None),
            # U after D recreates a partial row
            ev("U", 5, "u2", 3, None, "es"),
        ],
        EVENTS_READ_SCHEMA,
    )
    rec = apply_changes(spark, table, events, batch_id=0)
    assert rec.rows_applied == 5  # raw events stored (no collapse)
    got = {
        r.url: (bytes(r.html) if r.html is not None else None, r.text, r.lang)
        for r in table.scan(spark).collect()
    }
    assert got["u1"] == (b"<p>one</p>", "one", "de")
    assert got["u2"] == (None, None, "es")
    # exactly-once: replaying the batch is a no-op
    rec2 = apply_changes(spark, table, events, batch_id=0)
    assert rec2.rows_applied == 0
    # compaction collapses to resolved base rows, same state
    table.compact(spark)
    got2 = {
        r.url: (bytes(r.html) if r.html is not None else None, r.text, r.lang)
        for r in LakeTable.load(table.path).scan(spark).collect()
    }
    assert got2 == got
