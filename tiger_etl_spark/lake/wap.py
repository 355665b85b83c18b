"""Write-Audit-Publish (WAP) for CDC ingest.

The table-level quarantine gate: a change batch is MERGEd onto a STAGED
snapshot (manifest written, ``meta/_current`` pointer untouched — the
``LakeTransaction`` staging protocol, lake/txn.py), audited against
declarative data-quality checks evaluated on the staged state, and only
then published by the atomic pointer flip. A failing audit aborts: the
staged manifest is deleted and readers never observed anything. This is
the Iceberg WAP workflow (branch → audit → fast-forward) re-expressed
over this lake's versioned-manifest + pointer design.

Reference analog: the closest surface is ``execute_transaction``'s
all-or-nothing batching (pg_db.py:440-475) — the reference validates
rows BEFORE insert (per-row validators); WAP validates the RESULTING
TABLE STATE before readers can see it, which is the only form that can
catch whole-batch pathologies (a truncating replay, a null-flood from an
upstream schema break, a fan-out bug doubling the row count).

Three pieces:
- ``AuditSpec`` — the declarative check set.
- ``audit_staged`` — the one staged-commit gate of the ingest paths
  (``run_stream(audit=...)`` per micro-batch, ``replay_quarantine(
  audit=...)`` per repaired dead-letter batch): stage with the pointer
  held back, audit only the files the stage added, then publish or
  abort.
- ``WapCommit`` — explicit stage → audit → publish | abort on one table
  with a whole-table audit (the interactive / job-script form).

Scale notes: every declarative check is folded into ONE narrow
aggregation pass over the staged scan (a single job, partial-aggregated,
no shuffle beyond the final 1-row reduce); the row-delta check compares
manifest row counts on both sides and reads no data at all. Audit cost
is therefore at most one scan of the table regardless of how many
checks are registered.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiger_etl_spark.lake.table import LakeTable, MergeStats
from tiger_etl_spark.lake.txn import LakeTransaction, abort_staged


@dataclass
class AuditResult:
    passed: bool
    failures: list[str] = field(default_factory=list)
    metrics: dict = field(default_factory=dict)


class AuditSpec:
    """A reusable, declarative set of table-state quality checks.
    Builder-style ``check_*`` methods return self; ``evaluate`` runs the
    whole set in one aggregation job over the given scan."""

    def __init__(self) -> None:
        self.checks: list[tuple[str, F.Column]] = []
        self.bounds: list[float] = []
        self.delta_bound: float | None = None

    # ------------------------------------------------------------ checks
    def check_max_null_frac(self, col: str, max_frac: float) -> "AuditSpec":
        """Fail if > max_frac of staged rows have NULL in `col` — the
        upstream-schema-break detector."""
        name = f"null_frac({col})<={max_frac}"
        self.checks.append((name, F.avg(F.col(col).isNull().cast("double"))))
        self.bounds.append(float(max_frac))
        return self

    def check_max_violation_frac(
        self, name: str, predicate, max_frac: float
    ) -> "AuditSpec":
        """Fail if > max_frac of staged rows violate `predicate` (a
        boolean Column over the table schema). NULL predicate results
        count as violations."""
        label = f"violation_frac({name})<={max_frac}"
        ok = F.coalesce(predicate.cast("boolean"), F.lit(False))
        self.checks.append((label, F.avg((~ok).cast("double"))))
        self.bounds.append(float(max_frac))
        return self

    def check_rows_delta_frac(self, max_frac: float) -> "AuditSpec":
        """Fail if the staged snapshot's STORED row count (manifest file
        entries — raw rows including tombstones, the same accounting on
        both sides) moved more than max_frac relative to the published
        snapshot — catches truncating replays and fan-out bugs with ZERO
        data read: both counts come from manifests."""
        self.delta_bound = float(max_frac)
        return self

    # ---------------------------------------------------------- evaluate
    def evaluate(
        self,
        spark: SparkSession,
        staged: DataFrame,
        base_rows: int | None = None,
        staged_rows: int | None = None,
    ) -> AuditResult:
        """One aggregation job over `staged` (the post-merge scan), plus
        the manifest-only row-delta comparison when both counts are
        supplied."""
        failures, metrics = [], {}
        if self.delta_bound is not None and base_rows is not None:
            base = float(base_rows)
            delta = (
                abs(float(staged_rows or 0) - base) / base if base > 0 else 0.0
            )
            name = f"rows_delta_frac<={self.delta_bound}"
            metrics[name] = delta
            if delta > self.delta_bound:
                failures.append(name)
        if self.checks:
            aggs = [c.alias(f"_m{i}") for i, (_, c) in enumerate(self.checks)]
            row = staged.agg(*aggs).first()
            for i, (name, _) in enumerate(self.checks):
                val = row[f"_m{i}"]
                metrics[name] = float(val) if val is not None else 0.0
                if val is not None and float(val) > self.bounds[i]:
                    failures.append(name)
        return AuditResult(
            passed=not failures, failures=failures, metrics=metrics
        )


def parse_audit_spec(spec: str) -> AuditSpec:
    """Build an AuditSpec from the compact CLI grammar used by
    ``jobs/cdc_ingest.py --audit`` — comma-separated terms:

    - ``null(col)<=F``      null fraction of `col` bounded by F
    - ``nonneg(col)<=F``    fraction of rows with `col` < 0 bounded by F
    - ``nonempty(col)<=F``  fraction with `col` NULL/empty bounded by F
    - ``delta<=F``          manifest stored-row delta fraction bound

    e.g. ``--audit "null(text)<=0.02,nonneg(content_len)<=0,delta<=2.0"``.
    Arbitrary predicates are the library API's job
    (``check_max_violation_frac``)."""
    out = AuditSpec()
    for term in [t.strip() for t in spec.split(",") if t.strip()]:
        if "<=" not in term:
            raise ValueError(f"audit term {term!r}: missing '<=bound'")
        head, bound_s = term.rsplit("<=", 1)
        bound = float(bound_s)
        head = head.strip()
        if head == "delta":
            out.check_rows_delta_frac(bound)
            continue
        if "(" not in head or not head.endswith(")"):
            raise ValueError(f"audit term {term!r}: expected kind(col)")
        kind, col = head[:-1].split("(", 1)
        kind, col = kind.strip(), col.strip()
        if kind == "null":
            out.check_max_null_frac(col, bound)
        elif kind == "nonneg":
            out.check_max_violation_frac(
                f"nonneg({col})", F.col(col) >= 0, bound
            )
        elif kind == "nonempty":
            out.check_max_violation_frac(
                f"nonempty({col})", F.length(F.col(col)) > 0, bound
            )
        else:
            raise ValueError(
                f"audit term {term!r}: unknown kind {kind!r} "
                "(null|nonneg|nonempty|delta)"
            )
    return out


def manifest_rows(table: LakeTable) -> int:
    """Stored-row count straight from the manifest (no data read)."""
    return sum(f["rows"] for f in table.manifest["files"])


def audit_staged(
    spark: SparkSession,
    table: LakeTable,
    audit: AuditSpec | None,
    stage: Callable[[], object],
) -> tuple[object, AuditResult | None]:
    """Run ``stage()`` (merges on `table`) as one staged commit gated by
    `audit`: the pointer is held back, the checks judge only the files
    the stage added (the manifest diff: O(batch), never a table scan;
    tombstones excluded), then a passing stage is published by the
    pointer flip and a failing one aborted. An exception inside the
    staged section aborts too. ``audit=None`` is a plain commit.
    Returns (stage's result, AuditResult or None)."""
    if audit is None:
        return stage(), None
    base_rows = manifest_rows(table)
    pre_paths = {f["path"] for f in table.manifest["files"]}
    table._defer_pointer = True
    try:
        out = stage()
        new_files = [
            f for f in table.manifest["files"] if f["path"] not in pre_paths
        ]
        res = audit.evaluate(
            spark,
            table._read_files(spark, new_files).where(~F.col("_deleted")),
            base_rows=base_rows,
            staged_rows=manifest_rows(table),
        )
    except BaseException:
        abort_staged(table)
        raise
    if not res.passed:
        abort_staged(table)
        return out, res
    # publish = the atomic pointer flip. A crash before it leaves the
    # staged manifest inert; the next commit overwrites it.
    table._defer_pointer = False
    LakeTable._write_pointer(table.path, table.manifest["version"])
    return out, res


class WapCommit:
    """One staged commit on one table: ``merge`` → ``audit`` →
    ``publish`` | ``abort``. The staged snapshot is visible ONLY through
    this handle (``staged_scan``); fresh ``LakeTable.load`` readers keep
    the published snapshot until ``publish`` flips the pointer.

    Crash behavior is inherited from LakeTransaction: crash before
    ``publish`` leaves the pointer untouched (staged manifest inert,
    overwritten by the next commit); ``publish`` writes the intent file
    first, so a crash mid-publish is rolled forward by
    ``LakeTransaction.recover``.
    """

    def __init__(self, table: LakeTable, txn_dir: str):
        self.table = table
        self.base_version = table.manifest["version"]
        self.base_rows = manifest_rows(table)
        self.txn = LakeTransaction(txn_dir)
        self.spec = AuditSpec()

    # ------------------------------------------------------------ write
    def merge(self, spark: SparkSession, batch: DataFrame, **kw) -> MergeStats:
        return self.txn.merge(self.table, spark, batch, **kw)

    def delete_where(self, spark: SparkSession, predicate, op_seq: int):
        return self.txn.delete_where(self.table, spark, predicate, op_seq)

    def staged_scan(self, spark: SparkSession) -> DataFrame:
        """The post-merge table state the audit judges (and what readers
        WILL see after publish)."""
        return self.table.scan(spark)

    # ------------------------------------------------------------ audit
    def check_max_null_frac(self, col: str, max_frac: float) -> "WapCommit":
        self.spec.check_max_null_frac(col, max_frac)
        return self

    def check_max_violation_frac(
        self, name: str, predicate, max_frac: float
    ) -> "WapCommit":
        self.spec.check_max_violation_frac(name, predicate, max_frac)
        return self

    def check_rows_delta_frac(self, max_frac: float) -> "WapCommit":
        self.spec.check_rows_delta_frac(max_frac)
        return self

    def audit(self, spark: SparkSession) -> AuditResult:
        """Evaluate every registered check in ONE aggregation job over
        the staged scan (plus the manifest-only row-delta check, which
        reads no data)."""
        return self.spec.evaluate(
            spark,
            self.staged_scan(spark),
            base_rows=self.base_rows,
            staged_rows=manifest_rows(self.table),
        )

    # ---------------------------------------------------------- lifecycle
    def publish(self) -> int:
        """Atomic pointer flip (via the transaction's intent-logged
        commit point). Returns the published version."""
        self.txn.commit()
        return self.table.manifest["version"]

    def abort(self) -> int:
        """Discard the staged snapshot; readers never saw it. Returns
        the still-published version."""
        self.txn.abort()
        return self.table.manifest["version"]

    def run(self, spark: SparkSession) -> AuditResult:
        """audit → publish-or-abort in one call."""
        result = self.audit(spark)
        if result.passed:
            self.publish()
        else:
            self.abort()
        return result
