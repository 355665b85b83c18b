"""Write-Audit-Publish (WAP) for CDC ingest.

The table-level quarantine gate: a change batch is MERGEd onto a STAGED
snapshot (manifest written, ``meta/_current`` pointer untouched — the
staging protocol of lake/txn.py), audited against declarative
data-quality checks evaluated on the staged rows, and only then
published by the atomic pointer flip. A failing audit aborts: the
staged manifest is deleted and readers never observed anything. This is
the Iceberg WAP workflow (branch → audit → fast-forward) re-expressed
over this lake's versioned-manifest + pointer design.

Reference analog: the closest surface is ``execute_transaction``'s
all-or-nothing batching (pg_db.py:440-475) — the reference validates
rows BEFORE insert (per-row validators); WAP validates the RESULTING
TABLE STATE before readers can see it, which is the only form that can
catch whole-batch pathologies (a truncating replay, a null-flood from an
upstream schema break, a fan-out bug doubling the row count).

Two pieces:
- ``AuditSpec`` — the declarative check set.
- ``audit_staged`` — the one staged-commit gate on one table
  (``run_stream(audit=...)`` per micro-batch, ``replay_quarantine(
  audit=...)`` per repaired dead-letter batch, or any caller's own
  stage): stage with the pointer held back, audit only the files the
  stage added, then publish or abort. The pointer protocol itself is
  lake/txn.py's; a caller that wants a whole-table audit evaluates the
  spec over ``table.scan`` inside a ``LakeTransaction``.

Scale notes: every declarative check is folded into ONE narrow
aggregation pass over the staged files (one job of one stage: the
checks are observed metrics of a no-op write, no shuffle); the
row-delta check compares manifest row counts on both sides and reads no
data at all. Audit cost is therefore one scan of the batch's files
regardless of how many checks are registered.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from tiger_etl_spark.lake.table import LakeTable
from tiger_etl_spark.lake.txn import abort_staged, begin_staged, publish_staged


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
        """One job over `staged` (the staged rows to judge), plus the
        manifest-only row-delta comparison when both counts are
        supplied. The checks ride the scan as an Observation of a no-op
        write: one stage, no exchange, where ``agg().first()`` would run
        a second job for the reduce under adaptive execution."""
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
            obs = Observation()
            staged.observe(obs, *aggs).write.format("noop").mode(
                "overwrite"
            ).save()
            row = obs.get
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
    begin_staged(table)
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
    if res.passed:
        publish_staged(table)
    else:
        abort_staged(table)
    return out, res

