"""Write-Audit-Publish: staged merges are invisible until the audit
passes; failing audits abort without readers ever observing the batch."""

from __future__ import annotations

import datetime as dt
import glob
import os

import pytest
from pyspark.sql import functions as F

from tiger_etl_spark.lake import LakeTable, LakeTransaction
from tiger_etl_spark.lake.wap import AuditSpec, audit_staged, parse_audit_spec

TS = dt.datetime(2024, 1, 1)
SCHEMA = "op string, op_seq long, url string, warc_ts timestamp, v long"


def _table(spark, tmp_path, rows, seq=1):
    t = LakeTable.create(
        str(tmp_path / "pages"),
        "url string, warc_ts timestamp, v long",
        key_col="url",
        num_buckets=2,
    )
    df = spark.createDataFrame(
        [("I", seq + i, k, TS, v) for i, (k, v) in enumerate(rows)], SCHEMA
    )
    t.merge(spark, df)
    return t


def _batch(spark, rows, seq, op="U", v_null=False):
    return spark.createDataFrame(
        [
            (op, seq + i, k, TS, None if v_null else v)
            for i, (k, v) in enumerate(rows)
        ],
        SCHEMA,
    )


def _state(spark, path):
    """What a FRESH reader (published pointer) sees."""
    return {
        r.url: r.v for r in LakeTable.load(path).scan(spark).collect()
    }


def test_staged_invisible_then_published(spark, tmp_path):
    t = _table(spark, tmp_path, [("a", 1), ("b", 2)])

    def stage():
        t.merge(spark, _batch(spark, [("a", 10), ("c", 3)], seq=5))
        # staged state visible through the staging handle only
        staged = {r.url: r.v for r in t.scan(spark).collect()}
        assert staged == {"a": 10, "b": 2, "c": 3}
        assert _state(spark, t.path) == {"a": 1, "b": 2}

    _, res = audit_staged(
        spark, t, AuditSpec().check_max_null_frac("v", 0.0), stage
    )
    assert res.passed and not res.failures
    assert _state(spark, t.path) == {"a": 10, "b": 2, "c": 3}


def test_failing_audit_aborts_and_readers_never_saw_it(spark, tmp_path):
    t = _table(spark, tmp_path, [("a", 1), ("b", 2)])
    published_version = t.manifest["version"]
    # null-flood batch: every v NULL (upstream schema break)
    _, res = audit_staged(
        spark,
        t,
        AuditSpec().check_max_null_frac("v", 0.10),
        lambda: t.merge(
            spark, _batch(spark, [("a", 0), ("x", 0)], seq=5, v_null=True)
        ),
    )
    assert not res.passed
    assert res.failures == ["null_frac(v)<=0.1"]
    assert _state(spark, t.path) == {"a": 1, "b": 2}
    # staged manifest deleted; table handle back on the published version
    assert t.manifest["version"] == published_version
    assert not glob.glob(
        os.path.join(t.path, "meta", f"v{published_version + 1}.json")
    )


def test_rows_delta_guard_catches_fanout(spark, tmp_path):
    t = _table(spark, tmp_path, [(f"k{i}", i) for i in range(20)])
    # a "fan-out bug": batch inserts 3x the table size of new keys
    fanout = _batch(spark, [(f"n{i}", i) for i in range(60)], seq=100, op="I")
    _, res = audit_staged(
        spark,
        t,
        AuditSpec().check_rows_delta_frac(0.5),
        lambda: t.merge(spark, fanout),
    )
    assert not res.passed
    assert any(n.startswith("rows_delta_frac") for n in res.failures)
    assert len(_state(spark, t.path)) == 20
    # normal-sized batch passes the same guard (reads no data: manifest only)
    _, res2 = audit_staged(
        spark,
        t,
        AuditSpec().check_rows_delta_frac(0.5),
        lambda: t.merge(spark, _batch(spark, [("k0", 99)], seq=200)),
    )
    assert res2.passed
    assert _state(spark, t.path)["k0"] == 99


def test_violation_frac_predicate_check(spark, tmp_path):
    t = _table(spark, tmp_path, [("a", 1)])
    _, res = audit_staged(
        spark,
        t,
        AuditSpec().check_max_violation_frac("v_nonneg", F.col("v") >= 0, 0.10),
        lambda: t.merge(
            spark, _batch(spark, [("b", -5), ("c", 7)], seq=5, op="I")
        ),
    )
    # the audit judges the staged rows b and c: 1 of 2 violates → 50% > 10%
    assert not res.passed
    assert abs(res.metrics["violation_frac(v_nonneg)<=0.1"] - 1 / 2) < 1e-9


def test_crash_after_intent_rolls_forward(spark, tmp_path):
    """commit() writes the intent file first; a crash before the
    pointer flip must roll FORWARD on recover — the audited batch is
    already committed. The audit here is the whole-table form: the
    spec evaluated over the staged table's scan."""
    t = _table(spark, tmp_path, [("a", 1)])
    txn_dir = str(tmp_path / "_txn")
    txn = LakeTransaction(txn_dir)
    txn.stage(t).merge(spark, _batch(spark, [("a", 2)], seq=5))
    assert AuditSpec().evaluate(spark, t.scan(spark)).passed  # no checks → pass
    # simulate the crash window: write the intent by hand, skip the flip
    import json, uuid

    intent = {
        "tables": [{"path": t.path, "version": t.manifest["version"]}]
    }
    with open(os.path.join(txn_dir, f"txn-{uuid.uuid4().hex}.json"), "w") as f:
        f.write(json.dumps(intent))
    assert _state(spark, t.path) == {"a": 1}  # not yet published
    assert LakeTransaction.recover(txn_dir) == 1
    assert _state(spark, t.path) == {"a": 2}


def test_parse_audit_spec_grammar(spark, tmp_path):
    """CLI grammar → AuditSpec: each kind lands as the right check, and
    a bad term is rejected loudly."""
    spec = parse_audit_spec(
        "null(v)<=0.1, nonneg(v)<=0.2, nonempty(url)<=0, delta<=2.5"
    )
    assert len(spec.checks) == 3
    assert spec.delta_bound == 2.5
    assert spec.bounds == [0.1, 0.2, 0.0]
    names = [n for n, _ in spec.checks]
    assert names[0].startswith("null_frac(v)")
    assert "nonneg(v)" in names[1]
    assert "nonempty(url)" in names[2]
    for bad in ("null(v)", "frob(v)<=0.1", "null v<=0.1"):
        with pytest.raises(ValueError):
            parse_audit_spec(bad)
    # semantics on a real table: nonneg catches the planted negative
    t = _table(spark, tmp_path, [("a", 1)])
    _, res = audit_staged(
        spark,
        t,
        parse_audit_spec("nonneg(v)<=0"),
        lambda: t.merge(spark, _batch(spark, [("b", -3)], seq=5, op="I")),
    )
    assert not res.passed
    assert _state(spark, t.path) == {"a": 1}


def test_audit_is_single_job(spark, tmp_path, monkeypatch):
    """All scan-based checks fold into one aggregation over one scan of
    the staged files: evaluating them runs exactly one Spark job."""
    t = _table(spark, tmp_path, [("a", 1), ("b", 2)])
    spec = (
        AuditSpec()
        .check_max_null_frac("v", 0.5)
        .check_max_violation_frac("pos", F.col("v") > 0, 0.5)
        .check_rows_delta_frac(5.0)
    )
    sc = spark.sparkContext
    group = f"audit-{tmp_path.name}"
    evaluate = AuditSpec.evaluate

    def evaluate_in_group(self, *args, **kwargs):
        sc.setJobGroup(group, "audit evaluation")
        try:
            return evaluate(self, *args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    monkeypatch.setattr(AuditSpec, "evaluate", evaluate_in_group)
    _, res = audit_staged(
        spark,
        t,
        spec,
        lambda: t.merge(spark, _batch(spark, [("c", 3)], seq=5, op="I")),
    )
    assert res.passed
    assert len(res.metrics) == 3
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_error_inside_staged_section_aborts(spark, tmp_path):
    """An exception inside ``audit_staged`` (here: a check on a missing
    column, raised while evaluating) aborts the staged commit: the
    published version is unchanged, no staged manifest is left on disk,
    and the handle is back at the published snapshot — the next commit
    takes the freed version slot."""
    t = _table(spark, tmp_path, [("a", 1), ("b", 2)])
    v = t.manifest["version"]
    with pytest.raises(Exception, match="no_such_col"):
        audit_staged(
            spark,
            t,
            parse_audit_spec("null(no_such_col)<=0"),
            lambda: t.merge(spark, _batch(spark, [("a", 10)], seq=5)),
        )
    published = LakeTable.load(t.path)
    assert published.manifest["version"] == v
    assert not os.path.exists(os.path.join(t.path, "meta", f"v{v + 1}.json"))
    assert t.manifest == published.manifest
    assert _state(spark, t.path) == {"a": 1, "b": 2}
    t.merge(spark, _batch(spark, [("c", 3)], seq=9))
    assert LakeTable.load(t.path).manifest["version"] == v + 1
    assert _state(spark, t.path) == {"a": 1, "b": 2, "c": 3}
