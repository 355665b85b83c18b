"""spark-submit entrypoint for lake-table maintenance.

Run on a schedule beside the ingest job (the Iceberg maintenance-job
pattern — compaction, snapshot expiry, optional bucket evolution live
in their own job so the hot ingest path never pays for them):

    spark-submit --master yarn --deploy-mode cluster \
        --py-files dist/tiger_etl_spark.zip \
        jobs/maintenance.py \
        --table hdfs://…/pages \
        --max-delta-files-per-bucket 8 --keep-snapshots 5 \
        --cluster-ts day [--rebucket 8192]

Local smoke:

    python jobs/maintenance.py --table /tmp/pages --local-cores 8

The layout flags (--cluster-ts, --cluster-cols, --zorder-cols,
--max-records-per-file) are stored as the table's `compact_*` props, so
the layout set once holds for every later compaction, in this job or in
the stream.

Prints one JSON line with what was done (props updated? compacted?
files expired? rebucketed?) for the scheduler's logs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# local runs: repo root on sys.path (cluster runs get the package via
# --py-files, which spark-submit adds to the path itself)
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if os.path.isdir(os.path.join(_ROOT, "tiger_etl_spark")):
    sys.path.insert(0, _ROOT)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", required=True, help="lake table path")
    ap.add_argument("--max-delta-files-per-bucket", type=int, default=8)
    ap.add_argument("--keep-snapshots", type=int, default=5)
    ap.add_argument(
        "--cluster-ts",
        choices=["year", "month", "day", "hour"],
        default=None,
        help="time-cluster base files (bucket+window layout); stored as "
        "table prop compact_cluster_ts, so every later compaction keeps it",
    )
    ap.add_argument(
        "--cluster-cols",
        default=None,
        help="comma list: sort compacted buckets by these columns "
        "(tight per-file stats_cols bounds); stored as table prop "
        "compact_cluster_cols",
    )
    ap.add_argument(
        "--zorder-cols",
        default=None,
        help="comma list: Z-order compacted buckets across these "
        "columns (multi-dimensional pruning); stored as table prop "
        "compact_zorder_cols",
    )
    ap.add_argument(
        "--max-records-per-file",
        type=int,
        default=None,
        help="split compacted files at this row count (enables "
        "cluster/zorder pruning granularity); stored as table prop "
        "compact_max_records_per_file",
    )
    ap.add_argument(
        "--rebucket",
        type=int,
        default=None,
        help="evolve the table to this bucket count (full rewrite) first",
    )
    ap.add_argument(
        "--vacuum-hours",
        type=float,
        default=None,
        help="also remove crash orphans older than this many hours",
    )
    ap.add_argument(
        "--describe",
        action="store_true",
        help="print the manifest-only table summary and exit (no Spark)",
    )
    ap.add_argument(
        "--rollback-to",
        type=int,
        default=None,
        help="FIRST roll the table back to this snapshot version "
        "(history rolls forward; skips all other maintenance)",
    )
    ap.add_argument(
        "--replay-quarantine",
        action="store_true",
        help="re-validate and re-ingest the dead-letter store before "
        "maintenance: per-row rejects and, with --audit, whole batches "
        "the stream's audit gate rejected (rows still invalid, and "
        "repairs that fail --audit, stay quarantined)",
    )
    ap.add_argument(
        "--verify-checksum",
        action="store_true",
        help="prove any compaction content-preserving: order-insensitive "
        "scan checksum before vs after the rewrite; a mismatch rolls "
        "back to the pre-compaction snapshot and preserves all "
        "manifests (costs two scans)",
    )
    ap.add_argument(
        "--audit",
        default=None,
        help="audit spec gating each --replay-quarantine merge (same "
        "grammar as cdc_ingest --audit; typically the SAME spec the "
        "stream ran). Omitted = per-row repairs publish unaudited and "
        "audit-rejected batches stay held.",
    )
    ap.add_argument(
        "--enrich",
        default=None,
        help="enricher preset spec ('standard', 'meta', 'content', or a "
        "'+' combination) to apply during --replay-quarantine (MUST "
        "match what ingest used, or repaired rows land with NULL "
        "derived columns)",
    )
    ap.add_argument(
        "--dim-table",
        default=None,
        help="static dimension (parquet) joined during "
        "--replay-quarantine (MUST match what ingest used, or repaired "
        "rows land with NULL dim columns)",
    )
    ap.add_argument("--dim-on", default="lang", help="join column for --dim-table")
    ap.add_argument("--local-cores", type=int, default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql.types import DataType

    from tiger_etl_spark.lake import LakeTable
    from tiger_etl_spark.lake.table import prop_list

    if args.describe:  # pure manifest math — skip Spark startup entirely
        print(json.dumps(LakeTable.load(args.table).describe()))
        return
    if args.rollback_to is not None:
        # rollback is an emergency operation AND pure manifest math: run
        # it alone (no other maintenance racing the operator's intent)
        # and without paying Spark/JVM startup
        table = LakeTable.load(args.table)
        out = {"table": args.table, "version_before": table.manifest["version"]}
        table.rollback(args.rollback_to)
        out["rolled_back_to"] = args.rollback_to
        out["version_after"] = table.manifest["version"]
        print(json.dumps(out))
        return

    if args.local_cores is not None:
        from tiger_etl_spark.session import get_spark

        spark = get_spark("lake-maintenance", cores=args.local_cores)
    else:  # cluster: master/executors come from spark-submit
        spark = SparkSession.builder.appName("lake-maintenance").getOrCreate()
    table = LakeTable.load(args.table)
    out: dict = {"table": args.table, "version_before": table.manifest["version"]}
    # the layout flags set the table's compaction layout once: every
    # later rewrite (rebucket, maintain, a stream's compactions) reads it,
    # so a column the table lacks would fail each of them, not just this run
    unknown = set(prop_list(args.cluster_cols) + prop_list(args.zorder_cols)) - set(
        DataType.fromDDL(table.schema_ddl).names
    )
    if unknown:
        raise SystemExit(f"layout columns {sorted(unknown)} not in the table schema")
    layout = {
        "compact_cluster_ts": args.cluster_ts,
        "compact_cluster_cols": args.cluster_cols,
        "compact_zorder_cols": args.zorder_cols,
        "compact_max_records_per_file": args.max_records_per_file,
    }
    updates = table.update_props(
        {
            prop: ",".join(prop_list(val)) if prop.endswith("_cols") else str(val)
            for prop, val in layout.items()
            if val is not None
        }
    )
    if updates:
        out["props_updated"] = updates
    if args.replay_quarantine:
        from tiger_etl_spark.cdc.pipeline import (
            replay_quarantine,
            resolve_enrich_spec,
        )
        from tiger_etl_spark.lake.wap import parse_audit_spec

        dim = spark.read.parquet(args.dim_table) if args.dim_table else None
        out["quarantine_replay"] = replay_quarantine(
            spark,
            table,
            audit=parse_audit_spec(args.audit) if args.audit else None,
            enrichers=resolve_enrich_spec(args.enrich)[0],
            static_dim=None if dim is None else (dim, args.dim_on),
        )
    if args.rebucket is not None and args.rebucket != table.num_buckets:
        stats = table.rebucket(spark, args.rebucket)
        out["rebucketed_to"] = args.rebucket
        out["rebucket_files_written"] = stats.files_added
    out.update(
        table.maintain(
            spark,
            max_delta_files_per_bucket=args.max_delta_files_per_bucket,
            keep_snapshots=args.keep_snapshots,
            verify=args.verify_checksum,
        )
    )
    if args.vacuum_hours is not None:
        out.update(table.vacuum(max_age_hours=args.vacuum_hours))
    out["version_after"] = table.manifest["version"]
    print(json.dumps(out))


if __name__ == "__main__":
    main()
