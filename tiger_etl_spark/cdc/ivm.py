"""Incremental materialized-view maintenance — dirty-bucket refresh.

A downstream consumer of the CDC-merged lake (a per-language page
count, a per-host rollup) should not rescan 10^10 rows per micro-batch.
The reference has no analog (its reports re-query Postgres each call,
e.g. the count endpoints in
`/root/reference/system/system/database_functions/user_group_management/user_group_management.py`);
at lake scale the standard answer is *partition-scoped incremental
refresh* (Iceberg/Materialize lineage): recompute only the partitions
the last commits touched, keep every untouched partition's partial
aggregate as-is.

Why buckets and not the change feed: `LakeTable.changes_between` emits
after-images only, so a grouped aggregate cannot attribute a delete's
-1 to its old group without before-images. Bucket-scoped refresh needs
no before-images and is exact for ANY aggregate: the set of buckets
whose file lists differ between two snapshots (a MANIFEST diff — zero
data read) provably covers every changed key, because all writes are
bucket-aligned (merge shuffles by `bucket(key)`; compaction rewrites
within a bucket).

Refresh cost per call: scan of dirty buckets only + rewrite of a
view-sized parquet (groups × buckets rows — tiny). The view stores
per-(bucket, group) partials so untouched buckets' contributions carry
over without touching their data; `read()` folds partials to group
totals. State is snapshot-versioned with the same atomic pointer
protocol as LakeTable, and `refresh()` is idempotent: refreshing twice
at the same base version is a no-op.
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiger_etl_spark.lake.table import LakeTable, _atomic_write

_BUCKET = "_vb"


def dirty_buckets_between(table: LakeTable, v_from: int, v_to: int) -> set[int]:
    """Buckets whose file sets differ between two snapshots — a pure
    manifest diff, no data read. Compaction-rewritten buckets are
    included (recompute is then redundant but never wrong)."""
    a = table.at_version(v_from).manifest["files"]
    b = table.at_version(v_to).manifest["files"]
    a_paths = {f["path"] for f in a}
    b_paths = {f["path"] for f in b}
    return {f["bucket"] for f in b if f["path"] not in a_paths} | {
        f["bucket"] for f in a if f["path"] not in b_paths
    }


# how a per-bucket partial of each aggregate folds to the group total
_FOLD = {"count": F.sum, "sum": F.sum, "min": F.min, "max": F.max}


class IncrementalAggView:
    """Materialized grouped aggregate over a LakeTable, maintained by
    dirty-bucket refresh. `aggs` maps output column → (source column,
    fn) with fn ∈ {count, sum, min, max} — the associative aggregates
    whose per-bucket partials fold exactly (avg = a sum view + a count
    view folded at read time). Layout: ``<path>/v{N}.parquet`` +
    ``<path>/_meta`` (JSON: current view version + base table version).

    ``group_col`` may be a single column name or a sequence of names
    (multi-key views, e.g. a (src_host, dst_host) webgraph).

    ``transform`` (optional) maps the scanned base rows to the rows
    actually aggregated — a *per-row derivation*: each output row must
    derive from exactly ONE input row (select / filter / flat-map such
    as an href explode are all fine; joins and window functions across
    rows are NOT). Under that contract bucket attribution is exact —
    every derived row inherits its source row's bucket, so recomputing
    the dirty buckets and carrying the clean buckets' partials covers
    precisely the rows whose derivation could have changed. The
    transform must pass the bucket column (every column it does not
    project away rides along; see operators/weblinks.py host_pairs for
    the composition this enables).
    """

    def __init__(
        self,
        path: str,
        group_col: str | Sequence[str],
        aggs: dict[str, tuple[str | None, str]] | None = None,
        transform: Callable[[DataFrame], DataFrame] | None = None,
    ):
        self.path = path
        self.group_cols = (
            [group_col] if isinstance(group_col, str) else list(group_col)
        )
        self.group_col = self.group_cols[0]
        self.transform = transform
        self.aggs = aggs or {"n_rows": (None, "count")}
        for name, (_col, fn) in self.aggs.items():
            if fn not in _FOLD:
                raise ValueError(
                    f"aggregate {name}={fn!r} is not bucket-foldable "
                    f"(supported: {sorted(_FOLD)})"
                )
        os.makedirs(path, exist_ok=True)

    def _fresh_aggs(self) -> list:
        out = []
        for name, (col, fn) in self.aggs.items():
            if fn == "count":
                # count(col) = non-null count; count with col=None = rows
                out.append(
                    (F.count(col) if col else F.count(F.lit(1))).alias(name)
                )
            else:
                out.append(getattr(F, fn)(col).alias(name))
        return out

    def _fold_aggs(self) -> list:
        return [
            _FOLD[fn](name).alias(name) for name, (_c, fn) in self.aggs.items()
        ]

    # ------------------------------------------------------------ state
    def _meta(self) -> dict | None:
        p = os.path.join(self.path, "_meta")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def _partials(self, spark: SparkSession, meta: dict) -> DataFrame:
        return spark.read.parquet(
            os.path.join(self.path, f"v{meta['view_version']}.parquet")
        )

    # ---------------------------------------------------------- refresh
    def refresh(self, spark: SparkSession, base: LakeTable) -> dict:
        """Bring the view up to ``base``'s current snapshot. Returns
        refresh stats: base versions, #dirty buckets, #scanned rows."""
        meta = self._meta()
        v_to = base.manifest["version"]
        if meta is not None and meta["base_version"] == v_to:
            return {
                "base_version_from": v_to,
                "base_version_to": v_to,
                "n_dirty_buckets": 0,
                "refreshed": False,
            }
        if meta is None:
            dirty: set[int] | None = None  # first refresh: full compute
        else:
            try:
                dirty = dirty_buckets_between(base, meta["base_version"], v_to)
            except FileNotFoundError:
                # the view's base snapshot was expired (maintenance ran
                # more often than refresh): the manifest diff is gone,
                # so fall back to a full recompute instead of wedging
                dirty = None

        # buckets= prunes the FILE LIST to the touched buckets (manifest
        # records each file's bucket) — a per-micro-batch refresh reads
        # only the batch's buckets, never a full-table pass. The residual
        # row filter stays as belt-and-suspenders.
        snap = base.scan(spark, buckets=dirty).withColumn(
            _BUCKET, base.bucket_expr()
        )
        if dirty is not None:
            snap = snap.where(F.col(_BUCKET).isin(*dirty) if dirty else F.lit(False))
        if self.transform is not None:
            snap = self.transform(snap)
            if _BUCKET not in snap.columns:
                raise ValueError(
                    "transform dropped the bucket column — it must pass "
                    f"'{_BUCKET}' through so derived rows stay attributed "
                    "to their source bucket"
                )
        fresh = snap.groupBy(_BUCKET, *self.group_cols).agg(*self._fresh_aggs())
        if dirty is None:
            out = fresh  # full recompute: first refresh OR expired base
        elif dirty:
            carried = self._partials(spark, meta).where(
                ~F.col(_BUCKET).isin(*dirty)
            )
            out = carried.unionByName(fresh)
        else:
            out = self._partials(spark, meta)

        new_version = (meta["view_version"] + 1) if meta else 0
        dest = os.path.join(self.path, f"v{new_version}.parquet")
        tmp = f"{dest}.tmp-{uuid.uuid4().hex}"
        out.write.mode("overwrite").parquet(tmp)
        if os.path.isdir(dest):
            # leftover of a crash between this write and the _meta
            # pointer below — _meta still names the previous version, so
            # the orphan is referenced by nothing and os.replace onto a
            # non-empty dir would fail (ENOTEMPTY) on every retry
            import shutil

            shutil.rmtree(dest)
        os.replace(tmp, dest)
        _atomic_write(
            os.path.join(self.path, "_meta"),
            json.dumps({"view_version": new_version, "base_version": v_to}),
        )
        # retention: a per-micro-batch refresh cadence would otherwise
        # accumulate one full view copy per refresh forever
        keep_from = new_version - 2
        for fn in os.listdir(self.path):
            if fn.startswith("v") and fn.endswith(".parquet"):
                try:
                    v = int(fn[1:-8])
                except ValueError:
                    continue
                if v < keep_from:
                    import shutil

                    shutil.rmtree(os.path.join(self.path, fn), ignore_errors=True)
        return {
            "base_version_from": meta["base_version"] if meta else None,
            "base_version_to": v_to,
            "n_dirty_buckets": (
                len(dirty) if dirty is not None else base.num_buckets
            ),
            "refreshed": True,
        }

    # ------------------------------------------------------------- read
    def read(self, spark: SparkSession) -> DataFrame:
        """(group, *aggs) — partials folded to group totals."""
        meta = self._meta()
        if meta is None:
            raise FileNotFoundError(f"view at {self.path} never refreshed")
        return (
            self._partials(spark, meta)
            .groupBy(*self.group_cols)
            .agg(*self._fold_aggs())
        )
