"""LakeTable — a minimal Iceberg-style table format on plain Parquet.

The sandbox has no Iceberg/Delta jars, so the lake layer is built from
scratch (which is also the assignment: a brand-new engine, not a port).
Design follows the Iceberg spec's public ideas (snapshot manifests,
atomic pointer swap, hidden bucket partitioning, merge-on-read
row-level operations with compaction, schema-id evolution)
re-implemented minimally for a single-writer CDC sink:

- ``meta/v{N}.json``  — snapshot manifest: schema registry, snapshot
  lineage, table properties (including applied-batch bookkeeping for
  exactly-once), and a small ``manifest_list`` naming the segment files
  that hold the file entries.
- ``meta/seg-*.json`` — immutable manifest segments: slices of the file
  list (per-file bucket / row-count / byte / min-max stats). A commit
  rewrites only the segments its delta touches plus one new segment —
  O(files touched), not O(all files) (the Iceberg manifest-list design;
  format v2 tables with the inline list still load and are migrated on
  their first commit).
- ``meta/_current``   — pointer file, atomically replaced (os.replace) —
  readers always see a complete snapshot; on HDFS/S3 this maps to an
  atomic rename / a catalog CAS. Single-writer is assumed (the streaming
  driver), as with one Structured Streaming query per sink.
- ``data/``           — zstd parquet, file-per-bucket-per-commit.

Partitioning: hidden ``bucket(B, key)`` via ``pmod(murmur3(key), B)``
(the same hash Spark's HashPartitioning uses, so a ``repartition(B,
key)`` is bucket-aligned — see ``bucket_expr``).
A CDC upsert table is bucketed by merge key so every MERGE is a
bucket-local operation: the shuffle is one hash-partition by bucket, and
a merge appends delta files, so its write cost is bounded by the batch
size alone; compaction rewrites only the buckets that hold deltas.
Event-time pruning uses per-file min/max warc_ts stats.

Reference analog: the TimescaleDB hypertable layout — time partitioning,
compression segment-by key, retention
(``system/system/models/sessions_management/model.py:304-431``) — maps to
bucket partitioning + ``compact()`` (sorted rewrite) + ``expire_snapshots``.
Transactionality (``engine.begin()`` everywhere, ``pg_db.py:237,350``)
maps to the atomic snapshot commit.
"""

from __future__ import annotations

import functools
import json
import operator
import os
import re
import shutil
import time
import uuid
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, DateType, StructType, TimestampType

from tiger_etl_spark.session import empty_frame

_BUCKET_COL = "_bucket"
_TSWIN_COL = "_ts_win"
_SEQ_COL = "_op_seq"
_DELETED_COL = "_deleted"
_OP_COL = "_op"  # partial-policy tables only: 'I' | 'U' | 'D' per row
INTERNAL_COLS = (_SEQ_COL, _DELETED_COL, _OP_COL)
# identifies pmod(murmur3(key), B) — Spark's HashPartitioning hash. Part
# of the on-disk format (manifest "bucket_hash_fn"); changing the
# bucketing hash requires a new name here and a table rewrite.
BUCKET_HASH_FN = "murmur3_pmod"


@dataclass
class MergeStats:
    snapshot_id: int
    rows_upserted: int = 0
    buckets_touched: int = 0
    files_added: int = 0
    files_removed: int = 0
    bytes_written: int = 0
    partition_counts: dict[str, int] = field(default_factory=dict)


def _atomic_write(path: str, data: str) -> None:
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(data)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


@functools.lru_cache(maxsize=256)
def _ddl_schema(ddl: str) -> StructType:
    """`DataType.fromDDL`, once per DDL string: the parse is a JVM round
    trip, and building one read plan needs the same schemas many times.
    Every caller shares the result, so none may modify it."""
    return DataType.fromDDL(ddl)


def _sql_name(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


_BYTE_SHIFT = {"": 0, "k": 10, "m": 20, "g": 30, "t": 40, "p": 50}


def _conf_bytes(spark: SparkSession, key: str) -> int:
    """A byte-size Spark conf ('134217728b', '64m', '1gb') in bytes."""
    m = re.fullmatch(r"\s*(\d+)\s*([kmgtp]?)b?\s*", spark.conf.get(key).lower())
    return int(m.group(1)) << _BYTE_SHIFT[m.group(2)]


def prop_list(value: str | None) -> list[str]:
    """A comma-separated table prop (``stats_cols``,
    ``compact_cluster_cols``, ...) as its list of names."""
    return [c.strip() for c in (value or "").split(",") if c.strip()]


# Manifest sharding (Iceberg manifest-list analog): the snapshot manifest
# v{N}.json holds a small "manifest_list" of immutable segment files
# (meta/seg-*.json), each carrying a slice of the file entries, instead of
# the entire inline file list. A commit rewrites only the segments that
# lost an entry plus one new segment for added entries — O(delta), not
# O(all files); at 100 TB / ~400k files the old inline design re-serialized
# ~100 MB of JSON on the driver per micro-batch commit (O(n²) over a
# stream). When the list grows past _SEG_LIMIT the smallest segments are
# merged down to _SEG_TARGET — LSM-style, so each entry is rewritten
# O(log n) times over the table's lifetime.
_SEG_LIMIT = 64
_SEG_TARGET = 32


class LakeTable:
    """A snapshot-versioned, bucket-partitioned upsert table."""

    def __init__(self, path: str, manifest: dict):
        self.path = path
        self.manifest = manifest
        # segment cache: rel path -> entry list. Segments are immutable,
        # so entries never invalidate; the cache is what lets _commit
        # carry untouched segments by reference with zero re-reads.
        self._seg_cache: dict[str, list[dict]] = {}
        # set while a staged commit is open (lake/txn.py): _commit then
        # writes the manifest but withholds the pointer flip
        self._defer_pointer = False
        self._hydrate()

    # ------------------------------------------------------------- create
    @classmethod
    def create(
        cls,
        path: str,
        schema_ddl: str,
        key_col: str,
        order_cols: tuple[str, ...] = ("warc_ts",),
        num_buckets: int = 16,
        props: dict | None = None,
        merge_policy: str = "lww",
    ) -> "LakeTable":
        """`order_cols` + the internal `_op_seq` form the LWW total order
        (ties on event time broken by sequence — SURVEY.md §7 risk #1).

        merge_policy='lww': whole-row last-writer-wins (the CDC default).
        merge_policy='partial': column-wise LWW — `U` events set only
        their non-null columns (the Mongo `$set` analog,
        mongo_db.py:93); see operators/partial.py for the semantics.
        """
        if merge_policy not in ("lww", "partial"):
            raise ValueError(f"unknown merge_policy {merge_policy!r}")
        os.makedirs(os.path.join(path, "data"), exist_ok=True)
        os.makedirs(os.path.join(path, "meta"), exist_ok=True)
        manifest = {
            # v3 = sharded manifest (manifest_list of segment files);
            # v2 tables (inline "files") load fine and are migrated to
            # segments on their first commit.
            "format_version": 3,
            "version": 0,
            "snapshot_id": 0,
            "parent_version": None,
            "key_col": key_col,
            "order_cols": list(order_cols),
            "num_buckets": num_buckets,
            # the hash behind bucket(B, key) is part of the on-disk
            # format: opening a table with a different hash would split
            # keys across old/new buckets and break clean-bucket scans.
            # Recorded here; load() refuses on mismatch.
            "bucket_hash_fn": BUCKET_HASH_FN,
            "merge_policy": merge_policy,
            "current_schema_id": 2,
            # schema registry: physical read schema per schema_id +
            # rename map into the live schema (Iceberg field-id analog)
            "schemas": {"2": {"ddl": schema_ddl, "renames": {}}},
            "files": [],
            "manifest_list": [],
            "props": dict(props or {}),
            "summary": {},
        }
        cls._write_manifest(path, manifest)
        return cls(path, manifest)

    @classmethod
    def load(cls, path: str) -> "LakeTable":
        with open(os.path.join(path, "meta", "_current")) as f:
            version = int(f.read().strip())
        with open(os.path.join(path, "meta", f"v{version}.json")) as f:
            manifest = json.load(f)
        recorded = manifest.get("bucket_hash_fn", "unrecorded(format v1)")
        if recorded != BUCKET_HASH_FN:
            raise RuntimeError(
                f"table {path} was bucketed with hash {recorded!r} but this "
                f"code uses {BUCKET_HASH_FN!r}; opening it would split keys "
                "across buckets (stale rows surviving LWW). Rewrite the "
                "table (scan with the writing version, re-create, merge) "
                "to migrate."
            )
        return cls(path, manifest)

    @classmethod
    def exists(cls, path: str) -> bool:
        return os.path.exists(os.path.join(path, "meta", "_current"))

    @staticmethod
    def _write_manifest(path: str, manifest: dict, flip_pointer: bool = True) -> None:
        mpath = os.path.join(path, "meta", f"v{manifest['version']}.json")
        # the file entries live in immutable segment files named by
        # "manifest_list"; only the small list itself (plus schemas,
        # props, summary) is serialized per commit. The hydrated
        # in-memory "files" must never hit disk here.
        slim = {k: v for k, v in manifest.items() if k != "files"}
        _atomic_write(mpath, json.dumps(slim, separators=(",", ":")))
        if flip_pointer:
            LakeTable._write_pointer(path, manifest["version"])

    @staticmethod
    def _write_pointer(path: str, version: int) -> None:
        _atomic_write(os.path.join(path, "meta", "_current"), str(version))

    # ------------------------------------------------------------ helpers
    @property
    def key_col(self) -> str:
        return self.manifest["key_col"]

    @property
    def num_buckets(self) -> int:
        return self.manifest["num_buckets"]

    @property
    def schema_ddl(self) -> str:
        sid = str(self.manifest["current_schema_id"])
        return self.manifest["schemas"][sid]["ddl"]

    @property
    def props(self) -> dict:
        return self.manifest["props"]

    @property
    def merge_policy(self) -> str:
        return self.manifest.get("merge_policy", "lww")

    def bucket_expr(self, col=None):
        """bucket(B, key) = pmod(murmur3(key), B) (see BUCKET_HASH_FN,
        recorded in the manifest) — deliberately the SAME
        function Spark's HashPartitioning uses, so
        ``df.repartition(B, key)`` lands every row in the shuffle
        partition whose id equals its bucket: one even task per bucket,
        no hash-collision skew, and the partitionBy write emits exactly
        one file per bucket (verified in tests/test_lake_table.py)."""
        col = col if col is not None else F.col(self.key_col)
        return F.pmod(F.hash(col), F.lit(self.num_buckets)).cast("int")

    def _physical_ddl(self, schema_id: int | None = None) -> str:
        sid = str(
            schema_id
            if schema_id is not None
            else self.manifest["current_schema_id"]
        )
        ddl = (
            f"{self.manifest['schemas'][sid]['ddl']}, "
            f"{_SEQ_COL} long, {_DELETED_COL} boolean"
        )
        if self.merge_policy == "partial":
            ddl += f", {_OP_COL} string"
        return ddl

    def _abs(self, rel: str) -> str:
        return os.path.join(self.path, rel)

    # ------------------------------------------------- manifest segments
    def _hydrate(self) -> None:
        """Materialize the in-memory file list from manifest segments
        (format v3). v2 manifests carry the list inline — nothing to do.
        One O(n) read per table HANDLE (load/at_version), after which
        every commit touches only its delta's segments."""
        if "files" in self.manifest:
            return
        entries: list[dict] = []
        for seg in self.manifest.get("manifest_list", []):
            entries.extend(self._load_segment(seg["path"]))
        self.manifest["files"] = entries

    def _load_segment(self, rel: str) -> list[dict]:
        cached = self._seg_cache.get(rel)
        if cached is None:
            with open(self._abs(rel)) as f:
                cached = json.load(f)
            self._seg_cache[rel] = cached
        return cached

    def _write_segment(self, entries: list[dict]) -> dict:
        """Write one immutable manifest segment; returns its list entry
        (path + aggregate stats + the bucket set, which lets a later
        commit skip loading segments untouched by its delta)."""
        rel = f"meta/seg-{uuid.uuid4().hex}.json"
        _atomic_write(
            self._abs(rel), json.dumps(entries, separators=(",", ":"))
        )
        self._seg_cache[rel] = entries
        return {
            "path": rel,
            "n_files": len(entries),
            "rows": sum(e.get("rows", 0) for e in entries),
            "bytes": sum(e.get("bytes", 0) for e in entries),
            "buckets": sorted({e.get("bucket", -1) for e in entries}),
        }

    def _update_segments(
        self, added: list[dict], drop: set[str]
    ) -> list[dict]:
        """Produce the new manifest_list for a commit whose file delta is
        (`added` entries, `drop`ped paths): untouched segments are carried
        by reference (segments are immutable), segments containing a
        dropped path are rewritten without it, added entries become one
        new segment. The per-segment bucket set skips even the membership
        scan for segments whose buckets don't intersect the delta's."""
        old_list = self.manifest.get("manifest_list")
        out: list[dict] = []
        if old_list is None:
            # legacy v2 manifest (inline list): migrate — all surviving
            # old entries become the first segment
            survivors = [
                f
                for f in self.manifest.get("files", [])
                if f["path"] not in drop
            ]
            if survivors:
                out.append(self._write_segment(survivors))
        else:
            drop_buckets = (
                {
                    f.get("bucket", -1)
                    for f in self.manifest.get("files", [])
                    if f["path"] in drop
                }
                if drop
                else set()
            )
            for seg in old_list:
                seg_buckets = seg.get("buckets")
                if not drop or (
                    seg_buckets is not None
                    and not drop_buckets.intersection(seg_buckets)
                ):
                    out.append(seg)
                    continue
                entries = self._load_segment(seg["path"])
                if any(e["path"] in drop for e in entries):
                    keep = [e for e in entries if e["path"] not in drop]
                    if keep:
                        out.append(self._write_segment(keep))
                else:
                    out.append(seg)
        if added:
            out.append(self._write_segment(added))
        if len(out) > _SEG_LIMIT:
            # LSM-style bound: merge the smallest segments down to
            # _SEG_TARGET so the serialized manifest_list stays O(1)
            out.sort(key=lambda s: s["n_files"])
            n_merge = len(out) - _SEG_TARGET + 1
            merged: list[dict] = []
            for seg in out[:n_merge]:
                merged.extend(self._load_segment(seg["path"]))
            out = out[n_merge:]
            if merged:
                out.append(self._write_segment(merged))
        return out

    def _schema(self, schema_id: int | None = None) -> StructType:
        """`_physical_ddl` parsed: the live physical schema, or that of
        files written under `schema_id`."""
        return _ddl_schema(self._physical_ddl(schema_id))

    def _read_files(self, spark: SparkSession, files: list[dict]) -> DataFrame:
        """Read data files, lifting every file to the LIVE schema (the
        Iceberg schema-id read path): each file was written under the
        schema current at its commit (`schema_id` in the manifest entry;
        absent = this manifest's own schema — pre-evolution tables).
        Files are grouped by schema id, each group is read with ITS
        physical schema, then lifted by `_lift` in one projection.
        Without the per-id read a renamed column in an old file would
        silently read as NULL (parquet matches by name).

        Every read of table data files goes through here. Their paths
        come from the manifest, and `get_spark` raises Spark's
        parallel-listing threshold, so building the read starts no Spark
        job to list the files again."""
        cur_sid = int(self.manifest["current_schema_id"])
        if not files:
            return empty_frame(spark, self._schema())
        groups: dict[int, list[dict]] = {}
        for f in files:
            groups.setdefault(int(f.get("schema_id", cur_sid)), []).append(f)
        parts: list[DataFrame] = []
        for sid, fs in sorted(groups.items()):
            paths = [self._abs(f["path"]) for f in fs]
            df = spark.read.schema(self._physical_ddl(sid)).parquet(*paths)
            lift = self._lift(sid)
            parts.append(df.selectExpr(*lift) if lift else df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _lift(self, schema_id: int) -> list[str] | None:
        """The projection that lifts files of `schema_id` to the live
        schema, as `CAST(... AS type) AS name` strings: renames recorded
        by the newer schema entries applied oldest-first, added columns
        filled with typed NULLs, widened types cast. None when the files
        already read in the live schema."""
        live = self._schema()
        phys = self._schema(schema_id)
        names = phys.names
        for step in range(schema_id + 1, int(self.manifest["current_schema_id"]) + 1):
            entry = self.manifest["schemas"].get(str(step), {})
            for old, new in entry.get("renames", {}).items():
                names = [new if n == old else n for n in names]
        if names == phys.names and phys == live:
            return None
        source = dict(zip(names, phys.names))
        return [
            f"CAST({_sql_name(source[fl.name]) if fl.name in source else 'NULL'}"
            f" AS {fl.dataType.simpleString()}) AS {_sql_name(fl.name)}"
            for fl in live.fields
        ]

    def _resolve(self, df: DataFrame) -> DataFrame:
        if self.merge_policy == "partial":
            return self._resolve_partial(df)
        return self._resolve_lww(df)

    def _resolve_partial(self, df: DataFrame) -> DataFrame:
        """Column-wise LWW ($set analog) — delegates to
        operators.partial.partial_lww_state: each column keeps the value
        from its newest setter (any I, or a U with the column non-null)
        that postdates the key's last D. Same associative, skew-safe
        aggregation as `_resolve_lww`. The resolved row is a full row, so
        it re-enters the table as an 'I'."""
        from tiger_etl_spark.operators.partial import partial_lww_state

        ocols = self.manifest["order_cols"] + [_SEQ_COL]
        set_cols = [
            c
            for c in df.columns
            if c not in (self.key_col, *ocols, _DELETED_COL, _OP_COL)
        ]
        # no OTHERWISE: the resolved `_deleted` is never NULL, so the
        # values are the same, and `_op` stays nullable like every other
        # column a read returns (a scan with no clean leg has no union
        # to widen it)
        deleted = F.col(_DELETED_COL)
        return partial_lww_state(
            df, self.key_col, ocols, _OP_COL, set_cols, deleted_col=_DELETED_COL
        ).withColumn(_OP_COL, F.when(deleted, F.lit("D")).when(~deleted, F.lit("I")))

    def _resolve_lww(self, df: DataFrame) -> DataFrame:
        """LWW: keep the max-(order_cols, _op_seq) row per key (SURVEY.md
        §2.5 W3).

        Implemented as a `max_by` aggregation, NOT a row_number window:
        max over a struct is associative, so a hot key (one url with
        millions of events in a batch) needs no global ordering and no
        per-key row numbering. `max_by` over a struct with string or
        binary fields cannot use HashAggregate, so Spark plans it
        sort-based. Under `_winners` the plan is Exchange → Sort →
        SortAggregate partial_max_by → SortAggregate max_by: the partial
        aggregate runs after the exchange, so it removes nothing before
        the shuffle (pinned in tests/test_plans.py). Ties (exact
        duplicate events) carry equal payloads, so the winner is
        well-defined either way."""
        cols = ", ".join(_sql_name(c) for c in df.columns if c != self.key_col)
        order = ", ".join(map(_sql_name, [*self.manifest["order_cols"], _SEQ_COL]))
        return (
            df.groupBy(self.key_col)
            .agg(F.expr(f"max_by(struct({cols}), struct({order})) AS _w"))
            .select(self.key_col, "_w.*")
        )

    def _winners(self, df: DataFrame, resolve: bool = True) -> DataFrame:
        """The one bucket exchange of every write. `repartition(B, key)`
        puts bucket i in shuffle partition i (see bucket_expr), so the
        resolve that follows runs partition-local (the exchange already
        satisfies its clustering: no second exchange), and `_write_data`
        emits one file per bucket with no further shuffle. The rows carry
        their `_bucket`. resolve=False lays raw events out the same way
        (a partial-policy merge writes every event). Reads keep plain
        `_resolve`: a forced B-way exchange would turn a one-bucket
        lookup into B tasks. A keyed read whose dirty files fit one split
        coalesces them to one partition instead, which satisfies the
        resolve's clustering with no exchange at all (see `scan`)."""
        out = df.repartition(self.num_buckets, F.col(self.key_col))
        if resolve:
            out = self._resolve(out)
        return out.withColumn(_BUCKET_COL, self.bucket_expr())

    # --------------------------------------------------------------- scan
    def at_version(self, version: int) -> "LakeTable":
        """Time travel: a read-only handle pinned to snapshot `version`
        (its own manifest — file list, schema, merge policy — so reads
        resolve exactly as that snapshot did). Raises FileNotFoundError
        if the version was expired by `expire_snapshots`."""
        with open(os.path.join(self.path, "meta", f"v{version}.json")) as f:
            return LakeTable(self.path, json.load(f))

    def plan_files(
        self,
        ts_range: tuple | None = None,
        keys: list | None = None,
        col_ranges: dict | None = None,
        buckets: set | None = None,
    ) -> list[dict]:
        """Manifest-only scan planning (Iceberg data-skipping analog):
        the file subset a scan with these filters must read, from the
        per-file (key, event-time) bounds recorded at commit —
        `col_ranges` additionally prunes on any column named in the
        `stats_cols` prop, in time order on the columns the live schema
        types as timestamp or date. See lake/pruning.py for the
        dirty-bucket safety argument."""
        from tiger_etl_spark.lake.pruning import plan_files

        time_cols = {
            f.name: isinstance(f.dataType, DateType)
            for f in (self._schema().fields if col_ranges else ())
            if isinstance(f.dataType, (TimestampType, DateType))
        }
        return plan_files(
            self.manifest,
            ts_range=ts_range,
            keys=keys,
            col_ranges=col_ranges,
            buckets=buckets,
            time_cols=time_cols,
        )

    def scan(
        self,
        spark: SparkSession,
        include_internal: bool = False,
        include_tombstones: bool = False,
        version: int | None = None,
        ts_range: tuple | None = None,
        keys: list | None = None,
        col_ranges: dict | None = None,
        buckets: set | None = None,
    ) -> DataFrame:
        """Read the current snapshot (or a historical one via
        `version` — Iceberg time-travel analog). Buckets whose files are
        all 'base' (compacted: unique keys) stream straight through;
        buckets with delta files get LWW-resolved. Tombstones are
        filtered at the end.

        `ts_range=(lo, hi)` (closed interval on the event-time column),
        `keys=[...]` and `col_ranges={col: (lo, hi)}` (closed intervals
        over `stats_cols`-tracked columns) additionally filter rows —
        and, first, prune the FILE LIST from manifest stats
        (`plan_files`), so a point lookup reads 1/B of the table, a
        time-window scan only the files that overlap it, and e.g. a
        `quality >= 0.8` export only the files whose recorded bounds
        can qualify.

        The plan is built from the manifest alone: no Spark job runs
        before the query (see `_read_files`). A snapshot with no clean
        bucket is the resolved dirty leg alone, in the live column order
        (no empty clean leg to union). With `keys`, dirty files that fit
        one split (`spark.sql.files.maxPartitionBytes`) are read as one
        partition, so their resolve needs no exchange: a point lookup is
        one job of one task.
        """
        if version is not None and version != self.manifest["version"]:
            return self.at_version(version).scan(
                spark,
                include_internal,
                include_tombstones,
                ts_range=ts_range,
                keys=keys,
                col_ranges=col_ranges,
                buckets=buckets,
            )
        files = self.plan_files(
            ts_range=ts_range, keys=keys, col_ranges=col_ranges, buckets=buckets
        )
        dirty_buckets = {f["bucket"] for f in files if f["kind"] == "delta"}
        clean = [f for f in files if f["bucket"] not in dirty_buckets]
        dirty = [f for f in files if f["bucket"] in dirty_buckets]
        if dirty:
            raw = self._read_files(spark, dirty)
            if keys is not None and sum(f["bytes"] for f in dirty) <= _conf_bytes(
                spark, "spark.sql.files.maxPartitionBytes"
            ):
                raw = raw.coalesce(1)
            df = self._resolve(raw)
            if clean:
                df = self._read_files(spark, clean).unionByName(df)
            elif df.columns != self._schema().names:
                df = df.select(*self._schema().names)
        else:
            df = self._read_files(spark, clean)
        bounds = [(c, lo, hi) for c, (lo, hi) in (col_ranges or {}).items()]
        if ts_range is not None:
            bounds.append((self.manifest["order_cols"][0], *ts_range))
        conds = [F.col(c) >= F.lit(lo) for c, lo, _ in bounds if lo is not None]
        conds += [F.col(c) <= F.lit(hi) for c, _, hi in bounds if hi is not None]
        if keys is not None:
            conds.append(F.col(self.key_col).isin(list(keys)))
        if not include_tombstones:
            conds.append(~F.col(_DELETED_COL))
        if conds:
            # one filter, not one per bound: each `where` is a JVM round
            # trip and an analysis of the plan so far
            df = df.where(functools.reduce(operator.and_, conds))
        if not include_internal:
            df = df.drop(*INTERNAL_COLS)
        return df

    def lookup(self, spark: SparkSession, key) -> DataFrame:
        """Point lookup: the current row for one key, reading only the
        files of bucket(key) whose key bounds cover it (manifest-pruned
        — the b-tree-index access path of the reference's
        `get_single_row` endpoints, pg_db.py, on an immutable lake).
        When the bucket is dirty and its files fit one split, the LWW
        resolve runs in a single task with no exchange (see `scan`)."""
        return self.scan(spark, keys=[key])

    def changes_between(
        self, spark: SparkSession, v_from: int, v_to: int
    ) -> DataFrame:
        """Change data feed (Iceberg/Delta CDF analog): the net per-key
        changes between two snapshots, as rows tagged `_change_op` ∈
        {I, U, D} — what a downstream incremental consumer applies to
        stay in sync without rescanning the table.

        Semantics are net-effect (state diff), not event history: a key
        inserted and deleted between the snapshots emits nothing; N
        updates collapse to one U carrying the final row. Computed as a
        full-outer join of the two resolved snapshots on the merge key —
        both sides are bucket-partitioned on that key, so the join
        shuffles each side once by its existing layout.
        """
        old, new = (
            self if v == self.manifest["version"] else self.at_version(v)
            for v in (v_from, v_to)
        )
        a = old.scan(spark, include_internal=True, include_tombstones=True)
        b = new.scan(spark, include_internal=True, include_tombstones=True)
        k = self.key_col
        fields = [fl for fl in new._schema().fields if fl.name != k]
        names = [_sql_name(fl.name) for fl in fields]
        a_have = set(old._schema().names)

        def side(df: DataFrame, struct_name: str, exprs: list[str]) -> DataFrame:
            cols = ", ".join(f"{e} AS {n}" for e, n in zip(exprs, names))
            return df.selectExpr(_sql_name(k), f"struct({cols}) AS {struct_name}")

        # the feed is emitted in the NEWER snapshot's schema: columns
        # added since v_from read as typed NULLs on the old side (each
        # scan already lifted ITS files to ITS schema; this aligns the
        # two schemas to each other across an evolve_schema boundary)
        a_exprs = [
            n if fl.name in a_have else f"CAST(NULL AS {fl.dataType.simpleString()})"
            for fl, n in zip(fields, names)
        ]
        af, bf = side(a, "_a", a_exprs), side(b, "_b", names)
        j = af.join(bf, k, "full_outer")
        ocols = [*self.manifest["order_cols"], _SEQ_COL]
        a_ord = "struct(" + ", ".join(f"_a.{_sql_name(c)}" for c in ocols) + ")"
        b_ord = "struct(" + ", ".join(f"_b.{_sql_name(c)}" for c in ocols) + ")"
        # an absent key reads as "deleted since forever"
        a_del = f"(CASE WHEN _a IS NULL THEN true ELSE _a.{_DELETED_COL} END)"
        b_del = f"(CASE WHEN _b IS NULL THEN true ELSE _b.{_DELETED_COL} END)"
        newer = f"(_b IS NOT NULL AND (_a IS NULL OR {b_ord} > {a_ord}))"
        # a key ABSENT from the newer snapshot (truncate(), or a
        # tombstone GC'd after its delete) still deletes a live v_from
        # row — without this arm, truncate is invisible to the feed and
        # downstream replicas keep the rows forever
        gone = f"(_b IS NULL AND NOT {a_del})"
        op = (
            f"CASE WHEN NOT {a_del} AND {b_del} AND {newer} THEN 'D'"
            f" WHEN {gone} THEN 'D'"
            f" WHEN {a_del} AND NOT {b_del} AND {newer} THEN 'I'"
            f" WHEN NOT {a_del} AND NOT {b_del} AND {newer} THEN 'U' END"
        )
        payload = [
            # for the vanished-key D the b side is all NULL: carry the
            # deleted row's own columns (consumers get its event time,
            # so the tombstone can win LWW downstream)
            f"CASE WHEN {gone} THEN _a.{n} ELSE _b.{n} END AS {n}"
            for fl, n in zip(fields, names)
            if fl.name not in INTERNAL_COLS
        ]
        # two JVM calls over SQL text: built from Column objects, the
        # projection cost one JVM round trip per operator
        return j.where(f"({op}) IS NOT NULL").selectExpr(
            f"{op} AS _change_op", _sql_name(k), *payload
        )

    # -------------------------------------------------------------- merge
    def merge(
        self,
        spark: SparkSession,
        batch: DataFrame,
        props_updates_fn=None,
        derive=None,
    ) -> MergeStats:
        """MERGE INTO (SURVEY.md §2.3 J6): `batch` has table columns
        plus `op ('I'|'U'|'D')` and `op_seq long`; columns that are not
        the table's are dropped. Within-batch LWW dedup keeps the
        winning event per key (tombstones included — a D must survive
        dedup to win over earlier I/U). Deletes persist as tombstone rows
        so late-arriving older events can never resurrect a deleted key
        (the idempotent-replay guard); `compact()` GCs them.

        Merge-on-read: the batch is appended as delta files, one per
        touched bucket, after one shuffle by bucket — write cost ∝ batch
        size, never ∝ table size. Every rewrite of table state into
        unique-key base files is `compact()`; a caller that wants a
        read-optimized table after each batch compacts after it.

        derive: optional `rows -> rows` callable applied to the batch
        rows about to be written — the LWW winners under
        merge_policy='lww' (so losing events never pay it), the raw
        events under 'partial' — before they meet any table state. It
        may add columns (text extraction, a broadcast dimension join,
        enrichers); only the table's columns are kept. Under lww it runs
        inside the bucket-aligned stage after the one exchange, so it
        must not shuffle (a broadcast join does not).

        props_updates_fn: optional zero-arg callable returning a props
        dict, evaluated AFTER the write job and BEFORE the commit — the
        props land in the same atomic commit as the data files
        (exactly-once bookkeeping such as the applied-batch ledger or a
        replica's synced version, and metrics observed during the write
        through a pyspark Observation).
        """
        lww = self.merge_policy == "lww"
        cols = [*self._schema().names, _BUCKET_COL]

        def table_cols(df: DataFrame) -> DataFrame:
            have = set(df.columns)
            return df.select(*[c for c in cols if c in have])

        # $set semantics under 'partial': events are written RAW (op
        # preserved). A batch-local collapse to one full row would stamp
        # the winner's order on columns it never set and clobber newer
        # table state — resolution is deferred to scan()/compact().
        events = table_cols(
            batch.withColumns(
                {
                    _SEQ_COL: F.col("op_seq").cast("long"),
                    _DELETED_COL: F.col("op") == "D",
                    **({} if lww else {_OP_COL: F.col("op")}),
                }
            )
        )
        rows = self._winners(events) if lww else events
        if derive is not None:
            rows = table_cols(derive(rows))
        new_files = self._write_data(
            spark, rows if lww else self._winners(rows, resolve=False), kind="delta"
        )
        summary = {  # "merge-mor": the name older manifests carry
            "operation": "merge-mor",
            "rows_written": sum(f["rows"] for f in new_files),
        }
        props_updates = props_updates_fn() if props_updates_fn else None
        if props_updates:
            # bookkeeping (e.g. applied-batch ids for exactly-once) lands
            # in the SAME atomic commit as the data
            self.manifest = dict(
                self.manifest, props={**self.manifest["props"], **props_updates}
            )
        self._commit_or_discard(self.manifest["files"] + new_files, new_files, summary)
        return MergeStats(
            snapshot_id=self.manifest["snapshot_id"],
            rows_upserted=summary["rows_written"],
            buckets_touched=len({f["bucket"] for f in new_files}),
            files_added=len(new_files),
            bytes_written=sum(f["bytes"] for f in new_files),
            partition_counts={
                f"bucket={f['bucket']}": f["rows"] for f in new_files
            },
        )

    # ------------------------------------------------------------ compact
    def compact(self, spark: SparkSession, tombstone_horizon=None) -> MergeStats:
        """Rewrite dirty buckets to unique-key base files sorted by key
        (the Timescale 'compress segmentby/orderby' analog). Tombstones
        older than `tombstone_horizon` (an event-time cutoff ≥ the
        watermark horizon) are dropped — later events for those keys can
        no longer arrive, so the tombstone is garbage.

        The base files take the table's compaction layout: table props
        set once (at `create`, by `update_props`, or by the layout flags
        of `jobs/maintenance.py`) and applied by every rewrite —
        `compact`, `maintain`, `rebucket`, a stream's
        `compact_every`/`maintain_every`:

        `compact_cluster_ts` ('year'|'month'|'day'|'hour') splits each
        bucket's base data into one file per event-time window — the
        Iceberg `bucket(key) + days(ts)` layout. Without it a compacted
        bucket is ONE file spanning all time, so manifest time-range
        pruning (lake/pruning.py) degrades to nothing on compacted data;
        with it, a time-window scan of a compacted 10^10-row table reads
        only the files whose window overlaps. Same single shuffle — the
        writer splits files within each bucket task, no extra exchange.

        `compact_cluster_cols` (+ `compact_max_records_per_file`) is the
        generic "CLUSTER BY" analog for `stats_cols` pruning: each
        bucket's rows are SORTED by these columns and the writer splits
        the sorted run into ≤max_records_per_file files, so every file
        covers a tight, contiguous value range of the cluster columns
        and `scan(col_ranges=...)` skips most of a compacted table
        instead of matching every file's full-span bounds. (A single
        sort key is the common case; multiple columns nest
        lexicographically.) Same shuffle count; the sort is per-bucket.

        `compact_zorder_cols` is the multi-dimensional variant
        (Iceberg/Delta Z-ORDER): rows sort by the interleaved bit
        pattern of the columns' normalized ranks (lake/zorder.py), so
        each emitted file covers a small hyper-rectangle and
        `col_ranges` prunes on EVERY listed column, not just the first.
        Normalization bounds come from one narrow min/max scan of the
        rewritten files (column-pruned — reads only the z-order
        columns)."""
        files = self.manifest["files"]
        dirty_buckets = {f["bucket"] for f in files if f["kind"] == "delta"}
        if not dirty_buckets:
            return MergeStats(snapshot_id=self.manifest["snapshot_id"])
        old = [f for f in files if f["bucket"] in dirty_buckets]
        kept = [f for f in files if f["bucket"] not in dirty_buckets]
        return self._rewrite(
            spark, old, kept, {"operation": "compact"}, len(dirty_buckets),
            tombstone_horizon,
        )

    def _rewrite(
        self,
        spark: SparkSession,
        files: list[dict],
        kept: list[dict],
        summary: dict,
        buckets_touched: int,
        tombstone_horizon=None,
    ) -> MergeStats:
        """The one rewrite to base files (`compact`, `rebucket`): the
        LWW winners of `files`, tombstones older than the horizon
        dropped, written sorted in the table's compaction layout and
        committed beside `kept`."""
        raw = self._read_files(spark, files)
        resolved = self._winners(raw)
        if tombstone_horizon is not None:
            ts_col = self.manifest["order_cols"][0]
            resolved = resolved.where(
                (~F.col(_DELETED_COL)) | (F.col(ts_col) >= F.lit(tombstone_horizon))
            )
        new_files = self._write_data(
            spark, resolved, kind="base", **self._base_layout(raw)
        )
        self._commit_or_discard(kept + new_files, new_files, summary)
        return MergeStats(
            snapshot_id=self.manifest["snapshot_id"],
            buckets_touched=buckets_touched,
            files_added=len(new_files),
            files_removed=len(files),
            bytes_written=sum(f["bytes"] for f in new_files),
        )

    def _base_layout(self, raw: DataFrame) -> dict:
        """The table's compaction layout as `_write_data` arguments: the
        one reader of the `compact_*` props (see `compact`). `raw` holds
        the rows being laid out; z-order bounds come from it (over raw
        files, a superset of the resolved values — a valid, possibly
        slightly wide, normalization from a column-pruned narrow scan
        with no LWW resolution)."""
        props = self.manifest["props"]
        sort_cols: list = prop_list(props.get("compact_cluster_cols"))
        zorder_cols = prop_list(props.get("compact_zorder_cols"))
        if zorder_cols:
            from tiger_etl_spark.lake.zorder import column_bounds, zorder_key

            bounds = column_bounds(raw.select(*zorder_cols), zorder_cols)
            sort_cols = [zorder_key(zorder_cols, bounds)] + sort_cols
        mrpf = props.get("compact_max_records_per_file")
        return {
            "ts_cluster": props.get("compact_cluster_ts"),
            "sort_cols": sort_cols or None,
            "max_records_per_file": int(mrpf) if mrpf else None,
        }

    # ----------------------------------------------------------- internal
    def _write_data(
        self,
        spark: SparkSession,
        df: DataFrame,
        kind: str,
        ts_cluster: str | None = None,
        sort_cols: list[str] | None = None,
        max_records_per_file: int | None = None,
    ) -> list[dict]:
        """File-per-bucket via partitionBy into a staging dir; files then
        move (same-fs rename) into data/ and the manifest records them
        with stats. `df` comes from `_winners`: already laid out one
        partition per bucket, so the only shuffle here is the salted one
        (`write_salts` > 1, delta files only); base files sort in-bucket."""
        stage = os.path.join(self.path, f"stage-{uuid.uuid4().hex}")
        ts_col = self.manifest["order_cols"][0]
        # Salted write shuffle: partition by (bucket, salt) so a hot
        # bucket (skewed batch) spreads over `write_salts` tasks instead
        # of one straggler writer; the salt is a deterministic hash of
        # the key (replay-safe). Files-per-bucket > 1 is fine — the
        # manifest tracks files, compact() re-collapses them.
        salts = int(self.manifest["props"].get("write_salts", 1))
        out = df
        if salts > 1 and kind == "delta":
            # explicit partition count (REPARTITION_BY_NUM): a flexible
            # repartition would let AQE coalesce small batches back into
            # few tasks, silently defeating the salt
            salt = F.pmod(F.xxhash64(F.col(self.key_col)), F.lit(salts))
            out = df.repartition(
                self.num_buckets * salts, F.col(_BUCKET_COL), salt
            )
        part_cols = [_BUCKET_COL]
        if ts_cluster is not None:
            fmt = {
                "year": "yyyy",
                "month": "yyyy-MM",
                "day": "yyyy-MM-dd",
                "hour": "yyyy-MM-dd-HH",
            }[ts_cluster]
            out = out.withColumn(
                _TSWIN_COL, F.date_format(F.col(ts_col), fmt)
            )
            part_cols.append(_TSWIN_COL)
        if kind == "base":
            # writer emits one partition dir at a time per task;
            # cluster columns sort INSIDE each dir so the
            # maxRecordsPerFile splits below cut contiguous ranges
            out = out.sortWithinPartitions(
                *part_cols, *(sort_cols or []), self.key_col
            )
        writer = out.write.mode("overwrite")
        if max_records_per_file:
            # sequential splits of the sorted partition: each emitted
            # file covers a tight contiguous range of the sort columns,
            # which is what makes stats_cols bounds prunable
            writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
        # opt-in parquet bloom filter on the merge key: manifest pruning
        # narrows a point lookup to one bucket's files; the bloom then
        # skips row groups inside them without reading key pages. Off by
        # default — the bitmap costs space on tiny files; size it via
        # props (ndv ≈ expected keys per file at the target scale).
        if self.manifest["props"].get("bloom_filter") == "true":
            ndv = int(self.manifest["props"].get("bloom_filter_ndv", 100_000))
            writer = writer.option(
                f"parquet.bloom.filter.enabled#{self.key_col}", "true"
            ).option(f"parquet.bloom.filter.expected.ndv#{self.key_col}", str(ndv))
        writer.partitionBy(*part_cols).parquet(stage)

        commit_tag = uuid.uuid4().hex[:12]
        staged: list[tuple[str, int, int]] = []  # (src, bucket, idx)
        for bdir in sorted(os.listdir(stage)):
            if not bdir.startswith(f"{_BUCKET_COL}="):
                continue
            bucket = int(bdir.split("=")[1])
            i = 0
            for dirpath, _dirs, fnames in sorted(
                os.walk(os.path.join(stage, bdir))
            ):
                for fn in sorted(fnames):
                    if fn.endswith(".parquet"):
                        staged.append((os.path.join(dirpath, fn), bucket, i))
                        i += 1

        def finalize(item: tuple[str, int, int]) -> dict | None:
            src, bucket, i = item
            md = pq.ParquetFile(src).metadata
            if md.num_rows == 0:
                return None
            rel = f"data/b{bucket:05d}-{commit_tag}-{i}-{kind}.parquet"
            os.replace(src, self._abs(rel))
            return {
                "path": rel,
                "bucket": bucket,
                "kind": kind,
                "rows": md.num_rows,
                "bytes": os.path.getsize(self._abs(rel)),
                # the schema this file's columns are physically laid out
                # in — the read path lifts old-schema files to the live
                # schema (renames/adds/widens) by this id
                "schema_id": int(self.manifest["current_schema_id"]),
                **self._stats_from_metadata(md, ts_col),
            }

        # footer reads are tiny but latency-bound; do them concurrently
        # (one commit can carry hundreds of files)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=16) as pool:
            new_files = [f for f in pool.map(finalize, staged) if f is not None]
        new_files.sort(key=lambda f: f["path"])
        shutil.rmtree(stage, ignore_errors=True)
        return new_files

    def _stats_from_metadata(self, md, ts_col: str) -> dict:
        import math

        # (key, event-time) bounds always; extra columns via the
        # `stats_cols` table prop (Iceberg `write.metadata.metrics`
        # analog) — lets scans range-prune on stored/enriched columns
        # (e.g. a quality score) with zero extra commit I/O: the bounds
        # come from the same parquet footer read.
        extra = prop_list(self.manifest["props"].get("stats_cols"))
        wanted = {ts_col, self.key_col, *extra}
        schema_names = [md.schema.column(i).name for i in range(md.num_columns)]
        mins: dict = {}
        maxs: dict = {}
        # A row group whose stats are unusable (absent, or NaN/Inf —
        # Spark's writer surfaces any NaN/Inf value as a non-finite
        # bound, pinned by tests/test_pruning.py) POISONS the column for
        # the whole file: recording only the other row groups' bounds
        # would understate the true range and let plan_files prune a
        # file that still holds qualifying rows. All-null row groups are
        # the one safe skip — no non-null value exists to widen bounds,
        # and NULL never satisfies a range predicate.
        bad: set = set()
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                name = schema_names[ci]
                if name not in wanted or name in bad:
                    continue
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    if (
                        st is not None
                        and st.null_count is not None
                        and st.null_count == md.row_group(rg).num_rows
                    ):
                        continue  # all-null row group proves nothing, safely
                    bad.add(name)
                    continue
                mn, mx = st.min, st.max
                if hasattr(mn, "isoformat"):
                    mn, mx = mn.isoformat(), mx.isoformat()
                if isinstance(mn, bytes):
                    mn = mn.decode("utf-8", "replace")
                    mx = mx.decode("utf-8", "replace")
                if isinstance(mn, float) and not (
                    math.isfinite(mn) and math.isfinite(mx)
                ):
                    bad.add(name)  # NaN/Inf present; finite bounds would lie
                    continue
                mins[name] = min(mins.get(name, mn), mn)
                maxs[name] = max(maxs.get(name, mx), mx)
        for name in bad:
            mins.pop(name, None)
            maxs.pop(name, None)
        return {"min": mins, "max": maxs}

    def _commit(self, files: list[dict], summary: dict) -> None:
        """Snapshot-isolated commit: new manifest written, then the
        pointer atomically replaced. Optimistic single-writer check —
        a concurrent commit (version moved) raises and the batch retries.

        Inside a staged commit (``_defer_pointer``, see lake/txn.py) the
        pointer flip is withheld: the manifest is staged on disk but
        readers keep seeing the old snapshot until the commit point
        publishes the pointer (or ``abort_staged`` discards it)."""
        deferred = self._defer_pointer
        cur_path = os.path.join(self.path, "meta", "_current")
        with open(cur_path) as f:
            on_disk = int(f.read().strip())
        # in a txn the on-disk pointer legitimately lags staged versions
        stale = on_disk > self.manifest["version"] if deferred else (
            on_disk != self.manifest["version"]
        )
        if stale:
            raise RuntimeError(
                f"concurrent commit: loaded v{self.manifest['version']} "
                f"but table is at v{on_disk}"
            )
        # file delta vs the current snapshot: added entries, dropped
        # paths (removed or mutated — a mutated entry, e.g. a schema-id
        # stamp, leaves its old segment and re-enters with the new value)
        old_by_path = {f["path"]: f for f in self.manifest.get("files", [])}
        new_by_path = {f["path"]: f for f in files}
        changed = {
            p
            for p, f in new_by_path.items()
            if p not in old_by_path or old_by_path[p] != f
        }
        drop = {p for p in old_by_path if p not in new_by_path} | changed
        added = [f for f in files if f["path"] in changed]
        new = dict(self.manifest)
        new["parent_version"] = self.manifest["version"]
        new["version"] = self.manifest["version"] + 1
        new["snapshot_id"] = self.manifest["snapshot_id"] + 1
        new["files"] = files
        new["manifest_list"] = self._update_segments(added, drop)
        new["format_version"] = max(3, int(new.get("format_version", 3)))
        new["summary"] = {**summary, "committed_at": time.time()}
        self._write_manifest(self.path, new, flip_pointer=not deferred)
        self.manifest = new
        # evict superseded segments from the cache: a long-lived
        # streaming writer commits thousands of micro-batches, and
        # pinning every rewritten segment's entry list would rebuild the
        # O(all files ever written) driver-memory footprint the sharding
        # exists to avoid. Time-travel reads just re-read from disk.
        live = {s["path"] for s in new["manifest_list"]}
        self._seg_cache = {
            k: v for k, v in self._seg_cache.items() if k in live
        }

    def _commit_or_discard(
        self, files: list[dict], new_files: list[dict], summary: dict
    ) -> None:
        """`_commit(files, summary)` for a commit that wrote `new_files`.
        If it loses an optimistic-concurrency race, the snapshot on disk
        is untouched and no manifest references `new_files`: remove them
        (a merge, a compaction or a full rebucket copy would otherwise sit
        on disk until `vacuum`) and re-raise, so the caller can reload
        and retry (`merge_with_retry`)."""
        try:
            self._commit(files, summary)
        except RuntimeError:
            for f in new_files:
                fp = self._abs(f["path"])
                if os.path.exists(fp):
                    os.remove(fp)
            raise

    def update_props(self, updates: dict) -> dict:
        """Commit a props-only change (exactly-once batch bookkeeping, a
        job's layout flags). Keys already holding their value are
        skipped, and nothing commits when none is left. Returns the
        props that changed."""
        changed = {k: v for k, v in updates.items() if self.props.get(k) != v}
        if changed:
            self.manifest = dict(self.manifest, props={**self.props, **changed})
            self._commit(self.manifest["files"], {"operation": "props"})
        return changed

    # ----------------------------------------------------- schema evolution
    def evolve_schema(self, new_ddl: str, renames: dict[str, str] | None = None) -> int:
        """Register a new live schema (add / rename / widen — the Alembic
        analog, SURVEY.md §1.3). Old data files keep their physical
        schema; scans of mixed files rely on parquet fill-null for added
        columns and upcast for widened ones; `renames` maps old physical
        name → new name for files written before the rename."""
        protected = {
            self.key_col,
            *self.manifest["order_cols"],
            *prop_list(self.manifest["props"].get("stats_cols")),
        }
        bad = protected & set((renames or {}))
        if bad:
            raise ValueError(
                f"cannot rename merge-key/order/stats columns {sorted(bad)}: "
                "the manifest's key_col/order_cols/stats_cols props and every "
                "recorded per-file stat bound refer to them by name (for a "
                "stats column, drop it from the stats_cols prop first)"
            )
        cur = int(self.manifest["current_schema_id"])
        # stamp the implicit schema id onto any pre-upgrade file entry
        # (written before per-file ids existed): without this, a LATER
        # rename would read those files under the new schema and skip
        # the rename lift, silently nulling the column.
        # The stamped list must NOT be written into self.manifest before
        # the commit — _commit diffs the new list against
        # self.manifest["files"] to decide which manifest segments to
        # rewrite, so pre-assigning it would make the stamps "no change"
        # and carry the old UNSTAMPED segments by reference (the stamp
        # would then be lost on the next reload).
        files = [
            f if "schema_id" in f else dict(f, schema_id=cur)
            for f in self.manifest["files"]
        ]
        new_id = max(int(k) for k in self.manifest["schemas"]) + 1
        schemas = dict(self.manifest["schemas"])
        schemas[str(new_id)] = {"ddl": new_ddl, "renames": dict(renames or {})}
        self.manifest = dict(
            self.manifest, schemas=schemas, current_schema_id=new_id
        )
        self._commit(files, {"operation": "evolve-schema"})
        return new_id

    # ----------------------------------------------------------- rollback
    def rollback(self, version: int) -> MergeStats:
        """Roll the table back to snapshot `version` (Iceberg
        `rollback_to_snapshot` analog): a NEW commit whose file list,
        schema registry, bucket layout and properties are the target
        snapshot's. History rolls FORWARD — nothing is deleted, the bad
        snapshots stay inspectable (and time-travelable) until
        `expire_snapshots` — and a reader mid-scan of any snapshot is
        unaffected. Because the exactly-once batch ledger and the high
        watermark ride `props`, a rollback rewinds them too: change
        batches applied after the target re-apply on replay from an old
        checkpoint, and LWW makes that re-application deterministic.
        Raises FileNotFoundError if `version` was expired."""
        target = self.at_version(version).manifest
        cur = self.manifest
        restored = dict(target)
        # keep the live version counters: the commit must append to the
        # current history, not resurrect the old numbering
        restored["version"] = cur["version"]
        restored["snapshot_id"] = cur["snapshot_id"]
        self.manifest = restored
        try:
            self._commit(
                list(target["files"]),
                {"operation": "rollback", "to_version": version},
            )
        except BaseException:
            self.manifest = cur
            raise
        return MergeStats(
            snapshot_id=self.manifest["snapshot_id"],
            files_added=len(target["files"]),
            files_removed=len(cur["files"]),
        )

    # ----------------------------------------------------------- truncate
    def truncate(self) -> None:
        """S5 analog — `TRUNCATE … RESTART IDENTITY`
        (pg_db.py:400-438): a new empty snapshot; old data files stay
        until expire_snapshots (time travel preserved). Identity reset is
        moot — ids are event sequence numbers, not autoincrement."""
        self._commit([], {"operation": "truncate"})

    def delete_where(self, spark: SparkSession, predicate, op_seq: int) -> MergeStats:
        """J5 analog — FK CASCADE delete (sessions_management/model.py:
        45-50): no FK enforcement in the lake, so child cleanup is an
        explicit keyed delete: scan current state for matching keys, merge
        D tombstones. `predicate` is a Column over the table schema;
        `op_seq` must exceed prior sequence numbers (caller-supplied —
        deletes are change events too, keeping replay deterministic)."""
        victims = self.scan(spark).where(predicate)
        # keep each victim's own warc_ts: the D wins its tie via op_seq,
        # but cannot outrank genuinely newer events that arrive later
        batch = victims.select(
            F.lit("D").alias("op"),
            F.lit(op_seq).cast("long").alias("op_seq"),
            "*",
        )
        return self.merge(spark, batch)

    def describe(self) -> dict:
        """Manifest-only table summary (DESCRIBE TABLE / Iceberg
        `snapshots`+`files` metadata-table analog): zero I/O, zero
        Spark — the numbers an operator checks before deciding to
        compact/rebucket. `delta_ratio` is the fraction of rows in
        delta files (read amplification pressure); `bucket_skew` is
        max/mean bucket row count (1.0 = perfectly even)."""
        files = self.manifest["files"]
        per_bucket: dict[int, int] = {}
        delta_rows = 0
        for f in files:
            per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + f["rows"]
            if f["kind"] == "delta":
                delta_rows += f["rows"]
        total_rows = sum(f["rows"] for f in files)
        counts = list(per_bucket.values())
        return {
            "path": self.path,
            "version": self.manifest["version"],
            "snapshot_id": self.manifest["snapshot_id"],
            "format_version": self.manifest.get("format_version", 1),
            "key_col": self.key_col,
            "order_cols": list(self.manifest["order_cols"]),
            "num_buckets": self.num_buckets,
            "merge_policy": self.merge_policy,
            "current_schema_id": self.manifest["current_schema_id"],
            "n_schemas": len(self.manifest["schemas"]),
            "n_files": len(files),
            "n_delta_files": sum(1 for f in files if f["kind"] == "delta"),
            "rows": total_rows,
            "bytes": sum(f["bytes"] for f in files),
            "delta_ratio": (delta_rows / total_rows) if total_rows else 0.0,
            "buckets_populated": len(per_bucket),
            "bucket_skew": (
                max(counts) / (sum(counts) / len(counts)) if counts else 0.0
            ),
            "props": dict(self.manifest["props"]),
        }

    # ------------------------------------------------------------ history
    def history(self) -> list[dict]:
        metas = []
        meta_dir = os.path.join(self.path, "meta")
        for fn in sorted(os.listdir(meta_dir)):
            if fn.startswith("v") and fn.endswith(".json"):
                with open(os.path.join(meta_dir, fn)) as f:
                    m = json.load(f)
                metas.append(
                    {
                        "version": m["version"],
                        "snapshot_id": m["snapshot_id"],
                        "summary": m.get("summary", {}),
                        "n_files": (
                            len(m["files"])
                            if "files" in m
                            else sum(
                                s["n_files"]
                                for s in m.get("manifest_list", [])
                            )
                        ),
                    }
                )
        return metas

    def _manifest_data_paths(self, m: dict) -> set[str]:
        """Data paths a raw (unhydrated) manifest dict references —
        inline for v2, via segments for v3. A segment that vanished
        mid-listing (concurrent expire) contributes nothing; its files
        are either referenced by a survivor or already expired."""
        if "files" in m:
            return {x["path"] for x in m["files"]}
        out: set[str] = set()
        for seg in m.get("manifest_list", []):
            try:
                # uncached raw read: maintenance scans shouldn't pin
                # every historical segment in the handle's cache
                entries = self._seg_cache.get(seg["path"])
                if entries is None:
                    with open(self._abs(seg["path"])) as f:
                        entries = json.load(f)
                out.update(x["path"] for x in entries)
            except FileNotFoundError:
                continue
        return out

    def _live_refs(
        self, exclude_versions: set[int] | None = None
    ) -> tuple[set[str], set[str]]:
        """(data paths, segment paths) referenced by every on-disk
        manifest (minus `exclude_versions`) — the one definition of
        "live" that vacuum() and expire_snapshots() must agree on. A
        manifest that disappears mid-listing (concurrent expire) is
        skipped: its files are either referenced by a survivor or
        already expired."""
        meta_dir = os.path.join(self.path, "meta")
        data: set[str] = set()
        segs: set[str] = set()
        for fn in os.listdir(meta_dir):
            if not (fn.startswith("v") and fn.endswith(".json")):
                continue
            if exclude_versions and int(fn[1:-5]) in exclude_versions:
                continue
            try:
                with open(os.path.join(meta_dir, fn)) as f:
                    m = json.load(f)
            except FileNotFoundError:
                continue
            data.update(self._manifest_data_paths(m))
            segs.update(s["path"] for s in m.get("manifest_list", []))
        return data, segs

    def vacuum(self, max_age_hours: float = 24.0) -> dict:
        """Remove crash debris (Iceberg remove_orphan_files analog):
        staging dirs and data files referenced by NO live manifest,
        older than `max_age_hours` (the age guard keeps an in-flight
        concurrent write's files safe — never vacuum below the longest
        plausible write duration). Committed data is untouched.
        Concurrency-safe: entries that vanish between listing and
        stat/remove (another writer finalizing, another maintenance
        process) are skipped, not fatal."""
        import glob as _glob

        cutoff = time.time() - max_age_hours * 3600
        removed_stages = 0
        for stage in _glob.glob(os.path.join(self.path, "stage-*")):
            try:
                old = os.path.getmtime(stage) < cutoff
            except FileNotFoundError:
                continue
            if old:
                shutil.rmtree(stage, ignore_errors=True)
                removed_stages += 1
        live, live_segs = self._live_refs()
        removed_files = 0
        data_dir = os.path.join(self.path, "data")
        for fn in os.listdir(data_dir):
            rel = f"data/{fn}"
            fp = os.path.join(data_dir, fn)
            if rel in live:
                continue
            try:
                if os.path.getmtime(fp) < cutoff:
                    os.remove(fp)
                    removed_files += 1
            except FileNotFoundError:
                continue
        # orphan manifest segments: written by a commit that crashed (or
        # lost its optimistic race) before its v{N}.json landed — no
        # manifest references them; same age guard as data files
        removed_segs = 0
        meta_dir = os.path.join(self.path, "meta")
        for fn in os.listdir(meta_dir):
            if not (fn.startswith("seg-") and fn.endswith(".json")):
                continue
            rel = f"meta/{fn}"
            if rel in live_segs:
                continue
            fp = os.path.join(meta_dir, fn)
            try:
                if os.path.getmtime(fp) < cutoff:
                    os.remove(fp)
                    removed_segs += 1
            except FileNotFoundError:
                continue
        return {
            "stage_dirs_removed": removed_stages,
            "orphan_files_removed": removed_files,
            "orphan_segments_removed": removed_segs,
        }

    def expire_snapshots(self, keep_last: int = 5) -> int:
        """Drop old manifests and any data file no live manifest
        references (the Iceberg expire_snapshots / Timescale retention
        analog)."""
        meta_dir = os.path.join(self.path, "meta")
        versions = sorted(
            int(fn[1:-5])
            for fn in os.listdir(meta_dir)
            if fn.startswith("v") and fn.endswith(".json")
        )
        expire = versions[:-keep_last] if len(versions) > keep_last else []
        live_files, live_segs = self._live_refs(exclude_versions=set(expire))
        removed = 0
        expired_refs: set[str] = set()
        expired_segs: set[str] = set()
        for v in expire:
            p = os.path.join(meta_dir, f"v{v}.json")
            with open(p) as f:
                m = json.load(f)
            expired_refs.update(self._manifest_data_paths(m))
            expired_segs.update(s["path"] for s in m.get("manifest_list", []))
            os.remove(p)
        for rel in expired_refs - live_files:
            fp = self._abs(rel)
            if os.path.exists(fp):
                os.remove(fp)
                removed += 1
        # segments referenced only by expired manifests go with them
        for rel in expired_segs - live_segs:
            fp = self._abs(rel)
            if os.path.exists(fp):
                os.remove(fp)
            self._seg_cache.pop(rel, None)
        return removed

    def maintain(
        self,
        spark: SparkSession,
        max_delta_files_per_bucket: int = 8,
        keep_snapshots: int = 5,
        tombstone_horizon=None,
        verify: bool = False,
    ) -> dict:
        """One-call maintenance policy (the Iceberg maintenance-job /
        Timescale background-worker analog, reference retention intent
        `model.py:379-421`): compact ONLY when some bucket's delta-file
        count exceeds the threshold — a pure manifest check, zero I/O
        when healthy — then expire old snapshots. Run it after every
        N batches or on a schedule; it is idempotent and cheap when
        there is nothing to do. Read amplification stays bounded at
        `max_delta_files_per_bucket` resolve inputs per bucket.

        ``verify=True``: prove the compaction content-preserving before
        keeping it — an order-insensitive checksum of the resolved scan
        (operators/audit.py: one narrow agg) is taken before and after
        the rewrite; a mismatch ROLLS BACK to the pre-compaction
        snapshot and skips snapshot expiry (the forensic manifests must
        survive). Costs two scans — the price of a guaranteed-safe
        rewrite of 100 TB of base files."""
        per_bucket: dict[int, int] = {}
        for f in self.manifest["files"]:
            if f["kind"] == "delta":
                per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + 1
        worst = max(per_bucket.values(), default=0)
        compacted = worst > max_delta_files_per_bucket
        verified: bool | None = None
        if compacted:
            pre = pre_version = None
            if verify:
                from tiger_etl_spark.operators.audit import table_checksum

                pre_version = self.manifest["version"]
                pre = table_checksum(self.scan(spark)).first()
            self.compact(spark, tombstone_horizon=tombstone_horizon)
            if verify:
                from tiger_etl_spark.operators.audit import table_checksum

                post = table_checksum(self.scan(spark)).first()
                verified = (pre["n_rows"], pre["checksum"]) == (
                    post["n_rows"],
                    post["checksum"],
                )
                if not verified:
                    self.rollback(pre_version)
        if verified is False:
            expired = 0  # keep every manifest for the post-mortem
        else:
            expired = self.expire_snapshots(keep_last=keep_snapshots)
        out = {
            "compacted": compacted,
            "max_delta_files_per_bucket_seen": worst,
            "snapshots_expired_files_removed": expired,
        }
        if verified is not None:
            out["compaction_verified"] = verified
        return out

    def rebucket(self, spark: SparkSession, new_num_buckets: int) -> MergeStats:
        """Partition evolution (Iceberg `bucket(B)` spec change): when
        the key population outgrows the bucket count, rewrite the whole
        table — resolved, tombstones preserved — into `new_num_buckets`
        base files under one snapshot-isolated commit: the rewrite of
        `compact`, in the compaction layout of the table's props. Readers
        of older snapshots keep the OLD bucket count (each manifest
        records its own `num_buckets`, and `at_version` re-derives
        `bucket_expr` from it), so time travel and in-flight scans stay
        correct; the next merge shuffles by the new bucketing
        automatically. One full-table shuffle — schedule like any major
        compaction."""
        if new_num_buckets == self.num_buckets:
            return MergeStats(snapshot_id=self.manifest["snapshot_id"])
        files = self.manifest["files"]
        old_b = self.num_buckets
        # resolution is per-key, independent of bucketing; switch the
        # live manifest to the new count so _winners/_write_data target
        # the new layout
        old_manifest = self.manifest
        self.manifest = dict(self.manifest)
        self.manifest["num_buckets"] = new_num_buckets
        try:
            return self._rewrite(
                spark,
                files,
                [],
                {"operation": "rebucket", "from": old_b, "to": new_num_buckets},
                new_num_buckets,
            )
        except BaseException:
            # restore the handle to the published snapshot — leaving the
            # new bucket count on the old manifest would make
            # bucket_expr/plan_files disagree with what readers see
            self.manifest = old_manifest
            raise


def merge_with_retry(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    retries: int = 3,
    **merge_kwargs,
) -> MergeStats:
    """Optimistic multi-writer merge (the Iceberg commit-retry loop):
    reload the table at its current snapshot and merge; when the commit
    loses the single-writer race (another commit moved the pointer
    between load and commit), the losing attempt's data files are
    already cleaned up by `merge()` — reload and try again. Safe
    because a MERGE batch is a set of change events: replaying it onto
    the NEWER snapshot yields the same LWW outcome regardless of which
    writer won the race."""
    last: Exception | None = None
    for _ in range(retries + 1):
        table = LakeTable.load(path)
        try:
            return table.merge(spark, batch, **merge_kwargs)
        except RuntimeError as e:
            if "concurrent commit" not in str(e):
                raise
            last = e
    raise RuntimeError(
        f"merge gave up after {retries + 1} attempts: {last}"
    )
