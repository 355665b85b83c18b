"""spark-submit entrypoint for the training-corpus export job.

Cluster usage (multi-executor):

    python jobs/package.py                      # builds dist/tiger_etl_spark.zip
    spark-submit \
        --master yarn --deploy-mode cluster \
        --num-executors 1000 --executor-cores 4 --executor-memory 16g \
        --conf spark.sql.adaptive.enabled=true \
        --py-files dist/tiger_etl_spark.zip \
        jobs/export_corpus.py \
        --table hdfs://…/pages --out hdfs://…/corpus-v1 \
        --min-quality 0.8 --quality-col quality \
        --split train=0.98,val=0.01,test=0.01 \
        --pack-budget 4096 --size-col n_tokens --shards 4096

Local smoke:

    python jobs/export_corpus.py --table /tmp/pages --out /tmp/corpus \
        --split train=0.9,val=0.1 --local-cores 8

The quality filter prunes at the table manifest (per-file bounds from
the `stats_cols` prop) before any data is read; split and shard
membership are pure hashes of the merge key, so a re-export of the same
snapshot is byte-stable. The export manifest (_manifest.json) records
the source snapshot version for provenance.
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


def _parse_split(s: str) -> dict[str, float]:
    out: dict[str, float] = {}
    for part in s.split(","):
        name, w = part.split("=")
        out[name.strip()] = float(w)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", required=True, help="lake table path")
    ap.add_argument("--out", required=True, help="export output directory")
    ap.add_argument("--min-quality", type=float, default=None)
    ap.add_argument("--max-quality", type=float, default=None)
    ap.add_argument(
        "--quality-col",
        default="quality",
        help="stats_cols-tracked column the min/max-quality bounds apply to",
    )
    ap.add_argument(
        "--split",
        default=None,
        help="comma list name=weight, e.g. train=0.98,val=0.01,test=0.01",
    )
    ap.add_argument("--pack-budget", type=int, default=None)
    ap.add_argument("--size-col", default="content_len")
    ap.add_argument("--shards", type=int, default=8)
    ap.add_argument("--format", choices=["parquet", "jsonl"], default="parquet")
    ap.add_argument(
        "--columns", default=None, help="comma list; default all columns"
    )
    ap.add_argument(
        "--dedup-exact",
        action="store_true",
        help="drop exact-duplicate text (keep the min-key row per "
        "identical text fingerprint) before export",
    )
    ap.add_argument(
        "--exclude-noindex",
        action="store_true",
        help="drop pages whose stored `noindex` boolean is true (the "
        "robots gate materialized by `--enrich meta` at ingest); rows "
        "with NULL noindex are kept",
    )
    ap.add_argument(
        "--exclude-url-flagged",
        action="store_true",
        help="drop pages whose stored `url_ok` boolean is false (the "
        "C4-style url-pattern gate materialized by `--enrich urlgate` "
        "at ingest); rows with NULL url_ok are kept",
    )
    ap.add_argument(
        "--shuffle-salt",
        default=None,
        help="globally shuffle the export: shard membership AND in-file "
        "row order from a salted md5 of the key (no global sort; a new "
        "salt = a fresh epoch permutation)",
    )
    ap.add_argument("--local-cores", type=int, default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from tiger_etl_spark.lake import LakeTable
    from tiger_etl_spark.operators.export import export_training_shards

    if args.local_cores is not None:
        from tiger_etl_spark.session import get_spark

        spark = get_spark("corpus-export", cores=args.local_cores)
    else:  # cluster: master/executors come from spark-submit
        spark = SparkSession.builder.appName("corpus-export").getOrCreate()

    table = LakeTable.load(args.table)
    row_filter = None
    if args.exclude_noindex:
        have = set(DataType.fromDDL(table.schema_ddl).names)
        if "noindex" not in have:
            raise SystemExit(
                "--exclude-noindex needs a stored `noindex` column — "
                "ingest with `--enrich meta` (or standard+meta) first"
            )
        row_filter = ~F.coalesce(F.col("noindex"), F.lit(False))
    if args.exclude_url_flagged:
        have = set(DataType.fromDDL(table.schema_ddl).names)
        if "url_ok" not in have:
            raise SystemExit(
                "--exclude-url-flagged needs a stored `url_ok` column — "
                "ingest with `--enrich urlgate` first"
            )
        gate = F.coalesce(F.col("url_ok"), F.lit(True))
        row_filter = gate if row_filter is None else (row_filter & gate)
    col_ranges = None
    if args.min_quality is not None or args.max_quality is not None:
        col_ranges = {args.quality_col: (args.min_quality, args.max_quality)}

    keep_list = None
    if args.dedup_exact:
        # exact dedup decision: one winner (min key) per identical
        # normalized text (the library's doc_fingerprint — same
        # whitespace/case normalization as the rest of the exact-dedup
        # tier), computed over the SAME filtered population the export
        # reads: choosing winners over the full table would let a
        # below-threshold winner shadow its qualifying duplicates out
        # of the corpus entirely. NULL-text rows carry no content to
        # deduplicate and are never marked dropped.
        from tiger_etl_spark.functions.text import doc_fingerprint

        key = table.key_col
        cur = (
            table.scan(spark, col_ranges=col_ranges)
            .where(F.col("text").isNotNull())
            .select(key, doc_fingerprint(F.col("text")).alias("_fp"))
        )
        winners = cur.groupBy("_fp").agg(F.min(key).alias("_keep_key"))
        keep_list = (
            cur.join(winners, "_fp")
            .select(key, (F.col(key) == F.col("_keep_key")).alias("keep"))
        )

    manifest = export_training_shards(
        spark,
        table,
        args.out,
        col_ranges=col_ranges,
        keep_list=keep_list,
        split_weights=_parse_split(args.split) if args.split else None,
        pack_budget=args.pack_budget,
        size_col=args.size_col,
        num_shards=args.shards,
        fmt=args.format,
        columns=args.columns.split(",") if args.columns else None,
        row_filter=row_filter,
        shuffle_salt=args.shuffle_salt,
    )
    print(json.dumps(manifest))


if __name__ == "__main__":
    main()
