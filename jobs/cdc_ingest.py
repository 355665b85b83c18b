"""spark-submit entrypoint for the CDC ingest job.

Cluster usage (multi-executor):

    python jobs/package.py                      # builds dist/tiger_etl_spark.zip
    spark-submit \
        --master yarn --deploy-mode cluster \
        --num-executors 1000 --executor-cores 4 --executor-memory 16g \
        --conf spark.sql.shuffle.partitions=4000 \
        --conf spark.sql.adaptive.enabled=true \
        --py-files dist/tiger_etl_spark.zip \
        jobs/cdc_ingest.py \
        --changes hdfs://…/changes --table hdfs://…/pages \
        --checkpoint hdfs://…/ckpt --buckets 4096 \
        --max-files-per-trigger 64 --compact-every 16

Local smoke:

    python jobs/cdc_ingest.py --changes /tmp/changes --table /tmp/pages \
        --checkpoint /tmp/ckpt --local-cores 8

Sizing guidance for 10^10 events / ~100 TB: buckets ≈ (table size /
256 MB target file size); shuffle partitions ≈ 2–4 × total executor
cores; maxFilesPerTrigger sized so a micro-batch is 1–5 GB per executor
wave (per-batch fixed costs — trigger, snapshot commit, driver stats —
amortize over batch size).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import SparkSession
from pyspark.sql.types import DataType

# local runs: repo root on sys.path (cluster runs get the package via
# --py-files, which spark-submit adds to the path itself)
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if os.path.isdir(os.path.join(_ROOT, "tiger_etl_spark")):
    sys.path.insert(0, _ROOT)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--changes", required=True, help="change-file directory (binlog tail)")
    ap.add_argument("--table", required=True, help="lake table path")
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--write-salts", type=int, default=1)
    ap.add_argument("--max-files-per-trigger", type=int, default=8)
    ap.add_argument("--watermark-hours", type=int, default=24)
    ap.add_argument(
        "--compact-every", type=int, default=8,
        help="compact every N applied batches (0 = never; 1 = every bucket "
        "compacted after each batch)",
    )
    ap.add_argument(
        "--compact-cluster-ts",
        choices=["year", "month", "day", "hour"],
        default=None,
        help="time-cluster base files at every compaction",
    )
    ap.add_argument(
        "--stats-cols",
        default=None,
        help="comma-separated columns to track per-file min/max bounds "
        "for in the manifest (enables scan(col_ranges=) data skipping)",
    )
    ap.add_argument(
        "--file-format",
        choices=["parquet", "jsonl", "warc"],
        default="parquet",
        help="change-file wire format of --changes",
    )
    ap.add_argument(
        "--enrich",
        default=None,
        help="materialize derived columns at ingest: a '+'-composed "
        "preset spec — 'standard' (n_chars, n_tokens, stopword_ratio, "
        "detected_lang, content_fp; tracks n_tokens in per-file stats "
        "for export pruning), 'meta' (title, meta_description, "
        "canonical_url, robots, noindex, nofollow from the html head), "
        "'content' (boilerplate-stripped main_text + block counts), or "
        "any '+' combination; adds the columns to the table DDL at "
        "creation (or evolves an existing table)",
    )
    ap.add_argument(
        "--dim-table",
        default=None,
        help="path to a small static dimension (parquet) to broadcast-"
        "join onto LWW winners at ingest (stream-static enrichment)",
    )
    ap.add_argument(
        "--dim-on",
        default="lang",
        help="join column for --dim-table",
    )
    ap.add_argument(
        "--history-path",
        default=None,
        help="also maintain an SCD2 history table (cdc/history.py) from "
        "the same micro-batches; created on first run if missing",
    )
    ap.add_argument(
        "--webgraph-path",
        default=None,
        help="also maintain an incrementally-refreshed host webgraph "
        "(operators/weblinks.py host_edges_view) from the same "
        "micro-batches — each refresh re-extracts outlinks only from "
        "the buckets the batch touched",
    )
    ap.add_argument(
        "--history-attrs",
        default="lang",
        help="comma-separated page columns whose version history the "
        "--history-path table tracks (DDL derived from the pages schema)",
    )
    ap.add_argument(
        "--bootstrap",
        default=None,
        help="parquet dir holding a position-consistent keyed snapshot "
        "(url, warc_ts, html[, lang, content_len]) to full-load as base "
        "files BEFORE tailing --changes (cdc/bootstrap.py: the "
        "DMS/Debezium snapshot+streaming pattern). Idempotent: a table "
        "already carrying the bootstrap marker skips the load.",
    )
    ap.add_argument(
        "--bootstrap-op-seq",
        type=int,
        default=1,
        help="the snapshot's consistent position (stamped on every "
        "loaded row; must be >= 1)",
    )
    ap.add_argument(
        "--audit",
        default=None,
        help="Write-Audit-Publish gate per micro-batch (lake/wap.py): "
        "comma-separated checks over the STAGED table state — "
        "'null(col)<=F' (null fraction), 'nonneg(col)<=F' (negative-"
        "value fraction), 'nonempty(col)<=F' (null/empty fraction), "
        "'delta<=F' (manifest row-count delta, zero data read). A "
        "failing batch never becomes reader-visible.",
    )
    ap.add_argument(
        "--audit-policy",
        choices=["halt", "quarantine"],
        default="halt",
        help="on audit failure: 'halt' the stream fail-closed (restart "
        "re-delivers the batch), or 'quarantine' — dead-letter the raw "
        "batch in the table's quarantine store (repaired by "
        "maintenance.py --replay-quarantine --audit) and continue",
    )
    ap.add_argument("--local-cores", type=int, default=0, help=">0: run local[N] (smoke)")
    args = ap.parse_args()

    if args.local_cores:
        from tiger_etl_spark.session import get_spark

        spark = get_spark("cdc_ingest", cores=args.local_cores)
    else:
        spark = SparkSession.builder.appName("cdc_ingest").getOrCreate()
        spark.conf.set("spark.sql.session.timeZone", "UTC")

    from tiger_etl_spark.cdc.pipeline import (
        STANDARD_STATS_COLS,
        create_pages_table,
        resolve_enrich_spec,
    )
    from tiger_etl_spark.cdc.streaming import run_stream
    from tiger_etl_spark.lake import LakeTable
    from tiger_etl_spark.lake.table import prop_list

    enrichers, enrich_ddl = resolve_enrich_spec(args.enrich)
    has_standard = bool(args.enrich) and "standard" in args.enrich.split("+")
    # --enrich standard implies tracking the standard columns, but only
    # as a DEFAULT: at creation it seeds stats_cols; on an existing
    # table it must MERGE into (never replace) an operator-configured
    # prop — replacing would silently drop per-file bounds tracking for
    # the other columns on all future files
    defaulted_stats = has_standard and args.stats_cols is None
    if defaulted_stats:
        args.stats_cols = STANDARD_STATS_COLS
    # dim columns must exist in the table schema or every joined value
    # is projected away before the write — derive their DDL from the
    # dim parquet and append/evolve it (join key excluded: the stream
    # already carries it)
    dim_ddl = None
    static_dim = None
    if args.dim_table:
        dim_df = spark.read.parquet(args.dim_table)
        static_dim = (dim_df, args.dim_on)
        dim_ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in dim_df.schema.fields
            if f.name != args.dim_on
        )
    if not LakeTable.exists(args.table):
        extra_ddl = ", ".join(d for d in (enrich_ddl, dim_ddl) if d)
        create_pages_table(
            args.table,
            num_buckets=args.buckets,
            write_salts=args.write_salts,
            compact_cluster_ts=args.compact_cluster_ts,
            stats_cols=args.stats_cols,
            enrich_ddl=extra_ddl or None,
        )
    else:
        # pure table props apply to an existing table too (--buckets is
        # structural and creation-only; use LakeTable.rebucket to change
        # it) — silently ignoring a flag the operator passed is worse
        # than a props commit. stats_cols takes effect for FILES WRITTEN
        # FROM NOW ON; older files keep their recorded (absent) bounds
        # and are simply never pruned on that column.
        tbl = LakeTable.load(args.table)
        # columns the flags imply must exist in the live schema; without
        # this evolve, enriched/dim values would be written into delta
        # files and silently dropped by every scan (the schema lift
        # projects to the live schema). Pre-existing rows read the new
        # columns as NULL until rewritten.
        wanted_ddls = []
        if enrich_ddl:
            wanted_ddls.append(enrich_ddl)
        if dim_ddl:
            wanted_ddls.append(dim_ddl)
        for ddl in wanted_ddls:
            # compare PARSED schemas, not string-split DDL: types that
            # contain ', ' (decimal(10, 2), structs) would shred into
            # garbage tokens and mis-detect missing columns
            have = set(DataType.fromDDL(tbl.schema_ddl).names)
            missing = [f for f in DataType.fromDDL(ddl).fields if f.name not in have]
            if missing:
                add = ", ".join(
                    f"{f.name} {f.dataType.simpleString()}" for f in missing
                )
                tbl.evolve_schema(f"{tbl.schema_ddl}, {add}")
                print(
                    json.dumps(
                        {"schema_evolved": sorted(f.name for f in missing)}
                    )
                )
        stats_val = args.stats_cols
        if defaulted_stats and tbl.props.get("stats_cols"):
            cur = prop_list(tbl.props["stats_cols"])
            std = prop_list(STANDARD_STATS_COLS)
            stats_val = ",".join(cur + [c for c in std if c not in cur])
        flags = {"compact_cluster_ts": args.compact_cluster_ts, "stats_cols": stats_val}
        updates = tbl.update_props({k: v for k, v in flags.items() if v is not None})
        if updates:
            print(json.dumps({"props_updated": updates}))

    if args.history_path and not LakeTable.exists(args.history_path):
        from tiger_etl_spark.cdc.history import create_history_table

        pages = LakeTable.load(args.table)
        types = {
            f.name: f.dataType.simpleString()
            for f in DataType.fromDDL(pages.schema_ddl).fields
        }
        attrs = [c.strip() for c in args.history_attrs.split(",") if c.strip()]
        unknown = [c for c in attrs if c not in types]
        if unknown:
            raise SystemExit(
                f"--history-attrs {unknown} not in the pages schema "
                f"({sorted(types)})"
            )
        create_history_table(
            args.history_path,
            f"url {types['url']}",
            ", ".join(f"{c} {types[c]}" for c in attrs),
            num_buckets=args.buckets,
        )

    views = None
    if args.webgraph_path:
        from tiger_etl_spark.operators.weblinks import host_edges_view

        views = [host_edges_view(args.webgraph_path)]

    audit = None
    if args.audit:
        from tiger_etl_spark.lake.wap import parse_audit_spec

        audit = parse_audit_spec(args.audit)

    if args.bootstrap:
        from tiger_etl_spark.cdc.bootstrap import bootstrap_table

        tbl = LakeTable.load(args.table)
        rec = bootstrap_table(
            spark,
            tbl,
            spark.read.parquet(args.bootstrap),
            op_seq=args.bootstrap_op_seq,
            enrichers=enrichers,
            static_dim=static_dim,
        )
        # resumed: a rerun after a crash past the load's data commit
        status = "skipped" if rec is None else "resumed" if rec.skipped else "loaded"
        print(
            json.dumps(
                {
                    "bootstrap": status,
                    "bootstrap_rows": 0 if rec is None else rec.rows_in,
                }
            )
        )

    result = run_stream(
        spark,
        args.changes,
        args.table,
        args.checkpoint,
        max_files_per_trigger=args.max_files_per_trigger,
        watermark_hours=args.watermark_hours,
        compact_every=args.compact_every,
        file_format=args.file_format,
        enrichers=enrichers,
        static_dim=static_dim,
        history_path=args.history_path,
        views=views,
        audit=audit,
        audit_policy=args.audit_policy,
    )
    print(
        json.dumps(
            {
                "batches_applied": result.batches_applied,
                "batches_skipped": result.batches_skipped,
                "batches_rejected": result.batches_rejected,
                "audit_failures": result.audit_failures,
                "rows_in": sum(r.rows_in for r in result.lineage),
                "rows_quarantined": sum(r.rows_quarantined for r in result.lineage),
                "rows_late": sum(r.rows_late for r in result.lineage),
                "snapshot_id": LakeTable.load(args.table).manifest["snapshot_id"],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
