"""Batch apply core — the engine's main operator (SURVEY.md §3 lifecycle).

One micro-batch of change events flows through:

1. validate → quarantine split           (Pydantic analog, §1.3)
2. schema-id mapping to the live schema  (Alembic analog, §4 #3)
3. LWW dedup per url                     (W3; max_by in the bucket exchange)
4. html→text extraction on winners only  (F10 analog, vectorized Arrow UDF)
5. MERGE INTO the lake table             (J3/J6; tombstoned deletes)
6. lineage + watermark accounting        (A4 analog; exactly-once props)

Steps 3–5 are one `LakeTable.merge`. It owns the one bucket exchange and
the LWW resolve; this module hands it a `derive` (step 4, plus the
static-dim join and enrichers) that the merge applies to the winners,
after the exchange, so losing events never pay the UDF.
The applied-batch id is committed atomically with the data files, so a
replay from checkpoint skips the batch entirely (and even a crash
between data-commit and checkpoint-commit is safe: re-applying is a
no-op under the LWW guard).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import threading
import time
import uuid
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from tiger_etl_spark.cdc.schema_evolution import map_to_live_schema
from tiger_etl_spark.cdc.schemas import EVENTS_READ_SCHEMA, PAGES_SCHEMA
from tiger_etl_spark.cdc.validate import IS_VALID, split_valid
from tiger_etl_spark.functions.text import extract_text_udf
from tiger_etl_spark.lake import LakeTable
from tiger_etl_spark.lake.wap import audit_staged
from tiger_etl_spark.session import empty_frame

WATERMARK_HOURS_DEFAULT = 24


@dataclass
class LineageRecord:
    """Per-micro-batch bookkeeping (FIXTURES.md §4); reference analog:
    bulk-op summary stats (user_group_management.py:2366-2380)."""

    batch_id: int
    offset_start: str
    offset_end: str
    snapshot_id: int
    rows_in: int = 0
    rows_applied: int = 0
    rows_quarantined: int = 0
    rows_late: int = 0
    bytes_in: int = 0
    batch_seconds: float = 0.0
    partition_counts: dict[str, int] = field(default_factory=dict)
    # the applied-batch ledger already held the batch: nothing was applied
    skipped: bool = False


def create_pages_table(
    path: str,
    num_buckets: int = 16,
    write_salts: int = 1,
    enrich_ddl: str | None = None,
    compact_cluster_ts: str | None = None,
    stats_cols: str | None = None,
) -> LakeTable:
    """`enrich_ddl` appends derived columns (e.g. "quality double,
    n_tokens long") to the table schema; fill them at ingest via
    `apply_changes(enrichers=...)`. `compact_cluster_ts`
    ('year'|'month'|'day'|'hour') makes every compaction — including
    run_stream's periodic ones — time-cluster base files. `stats_cols`
    (comma-separated column names, typically the enriched ones) records
    per-file min/max bounds in the manifest at every commit so
    downstream exports can range-prune on them
    (`scan(col_ranges={"quality": (0.8, None)})`)."""
    ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in PAGES_SCHEMA.fields)
    if enrich_ddl:
        ddl = f"{ddl}, {enrich_ddl}"
    return LakeTable.create(
        path,
        ddl,
        key_col="url",
        order_cols=("warc_ts",),
        num_buckets=num_buckets,
        props={
            "write_salts": str(write_salts),
            **(
                {"compact_cluster_ts": compact_cluster_ts}
                if compact_cluster_ts
                else {}
            ),
            **({"stats_cols": stats_cols} if stats_cols else {}),
        },
    )


# The named enricher preset the spark-submit jobs expose (--enrich
# standard): derived columns a training-data pipeline filters/exports
# on, computed on LWW winners inside the fused ingest stage. Keeping it
# HERE (library, not job script) means ingest and quarantine REPLAY
# apply the identical expressions — a replay must enrich exactly like
# live ingest or repaired rows land with NULL derived columns.
STANDARD_ENRICH_DDL = (
    "n_chars long, n_tokens long, stopword_ratio double, "
    "detected_lang string, content_fp long"
)
STANDARD_STATS_COLS = "n_tokens"


def standard_enrichers() -> dict:
    from tiger_etl_spark.functions.text import (
        detect_lang,
        doc_fingerprint,
        quality_score_cols,
    )

    q = quality_score_cols(F.col("text"))
    return {
        "n_chars": q["n_chars"],
        "n_tokens": q["n_tokens"],
        "stopword_ratio": q["stopword_ratio"],
        "detected_lang": detect_lang(F.col("text")),
        "content_fp": doc_fingerprint(F.col("text")),
    }


# Head-metadata enricher preset (`--enrich meta`, composable with
# `standard` as `standard+meta`): the crawl-index fields every corpus
# export filters on (noindex pages are excluded from training sets; the
# canonical url feeds url-level dedup). Computing them ON THE WINNERS
# inside the fused merge stage means a later export never has to
# re-scan 100 TB of html for a boolean gate.
PAGE_META_ENRICH_DDL = (
    "title string, meta_description string, canonical_url string, "
    "robots string, noindex boolean, nofollow boolean"
)


def page_meta_enrichers() -> dict:
    from tiger_etl_spark.operators.weblinks import page_meta_cols

    return page_meta_cols(F.col("url"), F.col("html"))


# Main-content preset (`--enrich content`): boilerplate-stripped body
# text (jusText-style link-density rule over the raw html) stored next
# to the tag-strip `text` column — exports can train on `main_text`
# without ever re-touching html. Same fused winners-only stage.
CONTENT_ENRICH_DDL = (
    "main_text string, n_blocks_kept long, n_blocks_total long"
)


def content_enrichers() -> dict:
    from tiger_etl_spark.operators.weblinks import main_content_cols

    return main_content_cols(F.col("html"))


# name → (enricher factory, DDL) for every named preset the jobs accept;
# '+'-composed specs (e.g. 'standard+meta') merge dicts/DDLs in order.
# URL-gate preset (`--enrich urlgate`): the C4/RefinedWeb url-pattern
# keep decision + structural features stored at ingest (scan-stage
# codegen regexes over the winners — zero extra cost), so exports can
# drop search/auth/asset pages via a stored-column row gate
# (`--exclude` on url_ok) without re-parsing urls.
URLGATE_ENRICH_DDL = "url_ok boolean, url_path_depth long"


def urlgate_enrichers() -> dict:
    from tiger_etl_spark.operators.weblinks import url_quality_cols

    cols = url_quality_cols(F.col("url"))
    return {"url_ok": cols["url_ok"], "url_path_depth": cols["path_depth"]}


ENRICH_PRESETS: dict = {
    "standard": (standard_enrichers, STANDARD_ENRICH_DDL),
    "meta": (page_meta_enrichers, PAGE_META_ENRICH_DDL),
    "content": (content_enrichers, CONTENT_ENRICH_DDL),
    "urlgate": (urlgate_enrichers, URLGATE_ENRICH_DDL),
}


def resolve_enrich_spec(spec: str | None) -> tuple[dict | None, str | None]:
    """'standard+meta' → (merged enrichers dict, merged DDL); None → (None,
    None). Unknown names raise — a typo must not silently ingest without
    the columns the operator asked for."""
    if not spec:
        return None, None
    enrichers: dict = {}
    ddls: list[str] = []
    for name in spec.split("+"):
        name = name.strip()
        if name not in ENRICH_PRESETS:
            raise ValueError(
                f"unknown enrich preset {name!r}; known: "
                f"{sorted(ENRICH_PRESETS)}"
            )
        factory, ddl = ENRICH_PRESETS[name]
        enrichers.update(factory())
        ddls.append(ddl)
    return enrichers, ", ".join(ddls)


def _checked_dim(static_dim: tuple, stream_cols: list[str]) -> DataFrame:
    """Validate + sanitize the static dimension once per handle:
    `on` must be a column NAME (a Column-expression join would keep two
    copies of the key and crash the post-join projection); dim columns
    that shadow stream/internal columns are dropped (the stream's value
    wins — a dim that redefines `content_len` must not make the select
    ambiguous); duplicate join keys are rejected (they would multiply
    LWW winners and break the merge's one-row-per-key contract).
    The duplicate check is one tiny action on the (small, broadcastable)
    dim — cached on the DataFrame handle so a streaming run pays it
    once, not per micro-batch."""
    dim_df, on = static_dim
    if not isinstance(on, str):
        raise ValueError(
            "static_dim join key must be a column name (string); a join "
            "expression would keep both key copies and break the "
            "post-join projection"
        )
    if not getattr(dim_df, "_tiger_dim_checked", False):
        dups = (
            dim_df.groupBy(on).count().where(F.col("count") > 1).limit(1).count()
        )
        if dups:
            raise ValueError(
                f"static_dim has duplicate join keys on {on!r}: a 1:N dim "
                "join would multiply LWW winners (one row per key is the "
                "merge contract). Deduplicate the dim first."
            )
        try:
            dim_df._tiger_dim_checked = True
        except AttributeError:
            pass
    shadowed = [c for c in dim_df.columns if c in stream_cols and c != on]
    return dim_df.drop(*shadowed) if shadowed else dim_df


def _merge_events(
    spark: SparkSession,
    table: LakeTable,
    mapped: DataFrame,
    enrichers: dict | None,
    static_dim: tuple[DataFrame, object] | None,
    props_updates_fn=None,
):
    """Merge `mapped` (validated events in the live schema): the one
    merge of both ingest entry points (live apply, quarantine replay),
    so a replay enriches exactly like live ingest.
    Its `derive` is html→text extraction, the static-dim broadcast
    join, then the enrichers. The merge applies it to the rows it is
    about to write — the LWW winners under merge_policy='lww', inside
    the one bucket-aligned stage (losing events never pay the extraction
    UDF or the join), the raw events under 'partial' — and keeps only
    the table's columns, so un-declared dim columns never reach data
    files."""

    def derive(rows: DataFrame) -> DataFrame:
        # scalar Arrow UDF: only the html column crosses the JVM↔Python
        # boundary, not the row; no per-row Python anywhere
        out = rows.withColumn("text", extract_text_udf(F.col("html")))
        if static_dim is not None:
            # stream-static dimension enrichment (host metadata,
            # language families, domain reputation): a BROADCAST left
            # join keeps the bucket-aligned layout, so it adds no
            # shuffle. Dim columns persist only if declared in the table
            # schema (enrich_ddl); others may feed `enrichers`.
            dim = _checked_dim(static_dim, out.columns)
            out = out.join(F.broadcast(dim), static_dim[1], "left")
        if enrichers:
            # derived columns materialized at ingest (quality scores,
            # token counts, fingerprints): scans filter on the stored
            # column instead of recomputing (the CCNet/RefinedWeb "score
            # at ingest" pattern)
            out = out.withColumns(dict(enrichers))
        return out

    return table.merge(spark, mapped, props_updates_fn=props_updates_fn, derive=derive)


def _revalidate(spark: SparkSession, path: str, fixer) -> tuple:
    """The replay preamble: read the dead-lettered wire rows under
    `path`, apply the optional `fixer(df) -> df` repair, re-validate.
    Returns (now-valid rows in the live schema, still-invalid rows in
    dead-letter layout, n_ok, n_bad)."""
    df = spark.read.schema(EVENTS_READ_SCHEMA).parquet(path)
    if fixer is not None:
        df = fixer(df)
    valid, still = split_valid(df)
    return map_to_live_schema(valid), still, valid.count(), still.count()


# Applied-batch bookkeeping is BOUNDED: Structured Streaming delivers
# micro-batch ids in increasing order per checkpoint and can only ever
# re-deliver batches at/after the last un-checkpointed one, so "id <=
# high-watermark" proves applied without keeping every id. The props
# carry the watermark plus a recent-ids window (snapshot-id correlation
# for replay diagnostics); without the trim a 10^10-event stream's
# manifest would grow by one entry per batch and be rewritten per
# commit — O(n^2) manifest I/O over the stream's life.
APPLIED_WINDOW = 64


def batch_applied(props: dict, batch_id: int) -> bool:
    if str(batch_id) in props.get("applied_batches", {}):
        return True
    hwm = props.get("applied_batch_hwm")
    return hwm is not None and batch_id <= int(hwm)


def applied_batches_update(props: dict, batch_id: int, snapshot_id: int) -> dict:
    new = {**props.get("applied_batches", {}), str(batch_id): snapshot_id}
    hwm = max(
        int(props.get("applied_batch_hwm", -1)),
        max(int(k) for k in new),
    )
    trimmed = {k: v for k, v in new.items() if int(k) > hwm - APPLIED_WINDOW}
    return {"applied_batches": trimmed, "applied_batch_hwm": hwm}


def apply_changes(
    spark: SparkSession,
    table: LakeTable,
    events: DataFrame,
    batch_id: int,
    watermark_hours: int = WATERMARK_HOURS_DEFAULT,
    enrichers: dict | None = None,
    static_dim: tuple[DataFrame, object] | None = None,
) -> LineageRecord:
    """Apply one bounded batch of raw change events. `events` has the
    superset read schema (cdc.schemas.EVENTS_READ_SCHEMA).

    `enrichers`: name → Column over (url, warc_ts, html, text, lang,
    content_len), materialized into matching `enrich_ddl` table columns
    at ingest (winners only on the fused path). `static_dim`:
    (dim_df, on) — broadcast left-join a small static dimension onto
    the winners before enrichment (stream-static join; dim columns
    persist when declared in the table schema, and enrichers may
    reference them)."""
    if batch_applied(table.props, batch_id):
        # exactly-once: replayed batch (restart between data commit and
        # checkpoint commit) — skip without touching the table
        return LineageRecord(
            batch_id=batch_id,
            offset_start="",
            offset_end="",
            snapshot_id=table.manifest["snapshot_id"],
            skipped=True,
        )

    t0 = time.time()
    # late-data accounting per streaming semantics: an event is late if
    # it arrives behind the watermark established by PRIOR batches
    # (high_watermark − horizon). Late rows are still applied — the LWW
    # guard makes stale ones no-ops — but counted to lineage.
    prev_wm = table.props.get("high_watermark")
    late = F.lit(False)
    if prev_wm is not None:
        late = F.col("warc_ts") < F.lit(prev_wm).cast("timestamp") - F.expr(
            f"INTERVAL {int(watermark_hours)} HOURS"
        )
    metrics = [
        F.expr("count(1) AS rows_in"),
        F.expr(
            "sum(coalesce(length(html), length(body), 0)"
            " + coalesce(length(url), 0)) AS bytes_in"
        ),
        F.expr("min(batch_file) AS offset_start"),
        F.expr("max(batch_file) AS offset_end"),
        # watermark advances on VALID rows only: one quarantined event
        # with a bogus far-future timestamp would otherwise poison the
        # never-regressing high_watermark and mark every later event
        # late (and mislead tombstone-horizon choices) forever
        F.expr(f"max(IF({IS_VALID}, warc_ts, NULL)) AS max_ts"),
        F.expr(f"count_if(NOT ({IS_VALID})) AS n_quarantined"),
        F.count_if(F.expr(IS_VALID) & late).alias("n_late"),
    ]
    # ONE Spark job per micro-batch: every lineage counter rides the
    # write job as an Observation (CollectMetrics on the checked frame,
    # on the scan side of the shuffle) instead of its own aggregation
    # pass — per-batch driver jobs are the fixed cost that bounds
    # streaming throughput and scaling efficiency.
    obs = Observation(f"lineage_b{batch_id}")
    unobserved: list[DataFrame] = []  # the checked frame, for the fallback

    def observe(checked: DataFrame) -> DataFrame:
        unobserved.append(checked)
        return checked.observe(obs, *metrics)

    valid, quarantined = split_valid(events, observe)
    mapped = map_to_live_schema(valid)

    record = LineageRecord(
        batch_id=batch_id, offset_start="", offset_end="", snapshot_id=0
    )

    # quarantine (dead-letter) split runs as a CONCURRENT Spark job while
    # the main merge-write job runs — serializing it after the merge
    # costs 0.3-2 s/batch (measured). Discipline: the thread is ALWAYS
    # joined before apply_changes returns or raises; an all-valid batch
    # leaves no (empty) dir behind; a failed merge removes the batch's
    # dead-letter dir so nothing stray outlives an uncommitted batch.
    qdir = quarantine_dir(table, batch_id)
    q_err: list[Exception] = []

    def write_quarantine() -> None:
        try:
            quarantined.write.mode("overwrite").parquet(qdir)
        except Exception as e:  # surfaced at join time
            q_err.append(e)

    q_thread = threading.Thread(target=write_quarantine)
    q_thread.start()

    def commit_props() -> dict:
        """Runs after the write job, before the atomic commit: fold the
        observed metrics into the same commit as the data files, and
        join the quarantine job so a reader never sees a committed batch
        without its dead-letter rows."""
        try:
            m = obs.get
            if not m or not m.get("rows_in"):
                raise ValueError("empty/degenerate observation")
        except Exception:
            # When a batch dedupes/filters to ZERO write rows, AQE can
            # propagate the empty relation past the CollectMetrics node:
            # the observation then completes either with a schema-less
            # row py4j cannot deserialize, or with a default row
            # (count 0, null sums) that never saw the input — all-invalid
            # batches hit this. Recompute the identical aggregates
            # directly; for a genuinely empty batch the recompute is an
            # empty scan, so the extra pass is paid only in this rare
            # degenerate case.
            m = unobserved[0].agg(*metrics).first().asDict()
        record.offset_start = m["offset_start"] or ""
        record.offset_end = m["offset_end"] or ""
        record.rows_in = m["rows_in"]
        record.rows_quarantined = m["n_quarantined"] or 0
        record.rows_late = m["n_late"] or 0
        record.bytes_in = m["bytes_in"] or 0
        q_thread.join()
        if q_err:
            raise q_err[0]
        if not record.rows_quarantined:
            shutil.rmtree(qdir, ignore_errors=True)
        high_wm = m["max_ts"]
        if prev_wm is not None and (high_wm is None or str(high_wm) < prev_wm):
            high_wm = prev_wm  # watermark never regresses
        return {
            **applied_batches_update(table.props, batch_id,
                                     table.manifest["snapshot_id"] + 1),
            "high_watermark": str(high_wm) if high_wm else None,
        }

    try:
        stats = _merge_events(
            spark, table, mapped, enrichers, static_dim, props_updates_fn=commit_props
        )
    except BaseException:
        # failed (uncommitted) batch: no thread outlives this call, no
        # dead-letter rows remain for a batch that never committed
        q_thread.join()
        shutil.rmtree(qdir, ignore_errors=True)
        raise

    record.snapshot_id = stats.snapshot_id
    record.rows_applied = stats.rows_upserted
    record.partition_counts = stats.partition_counts
    record.batch_seconds = round(time.time() - t0, 3)
    _write_lineage(table, record)
    return record


def _write_lineage(table: LakeTable, rec: LineageRecord) -> None:
    """One metadata row per batch — written driver-side with pyarrow (a
    Spark job for a single bookkeeping row costs seconds of scheduler
    latency per micro-batch; this is pure driver metadata, like the
    manifest itself). Layout stays hive-partitioned parquet so
    `read_lineage` is a normal Spark scan."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ldir = os.path.join(table.path, "_lineage", f"batch_id={rec.batch_id}")
    os.makedirs(ldir, exist_ok=True)
    row = asdict(rec)
    tbl = pa.table(
        {
            "offset_start": pa.array([row["offset_start"]], pa.string()),
            "offset_end": pa.array([row["offset_end"]], pa.string()),
            "snapshot_id": pa.array([row["snapshot_id"]], pa.int64()),
            "rows_in": pa.array([row["rows_in"]], pa.int64()),
            "rows_applied": pa.array([row["rows_applied"]], pa.int64()),
            "rows_quarantined": pa.array([row["rows_quarantined"]], pa.int64()),
            "rows_late": pa.array([row["rows_late"]], pa.int64()),
            "bytes_in": pa.array([row["bytes_in"]], pa.int64()),
            "batch_seconds": pa.array([row["batch_seconds"]], pa.float64()),
            "partition_counts": pa.array(
                [list(row["partition_counts"].items())],
                pa.map_(pa.string(), pa.int64()),
            ),
        }
    )
    pq.write_table(tbl, os.path.join(ldir, "lineage.parquet"))


def read_lineage(spark: SparkSession, table: LakeTable) -> DataFrame:
    return spark.read.option("basePath", os.path.join(table.path, "_lineage")).parquet(
        os.path.join(table.path, "_lineage")
    )


def quarantine_dir(table: LakeTable, batch_id: int | None = None) -> str:
    """The dead-letter store `<table>/_quarantine/`, or batch N's dir in
    it: the rows of the batch that did not publish — its per-row
    validation failures, or all of it when the audit gate rejected the
    batch (`_invalid_reasons` = "audit:<failed checks>")."""
    root = os.path.join(table.path, "_quarantine")
    return root if batch_id is None else os.path.join(root, f"batch_id={batch_id}")


AUDIT_REASONS = "_reasons.json"


def dead_letter_batch(
    table: LakeTable, batch_df: DataFrame, batch_id: int, res
) -> None:
    """Dead-letter a batch the audit gate rejected (`res`): its raw
    wire-schema rows, `_invalid_reasons` = "audit:<failed checks>", and
    the `AUDIT_REASONS` sidecar that marks the dir for
    `replay_quarantine`. Renamed into place, never seen sidecar-less."""
    tmp = os.path.join(quarantine_dir(table), f".reject-tmp-{uuid.uuid4().hex}")
    batch_df.select(*EVENTS_READ_SCHEMA.fieldNames()).withColumn(
        "_invalid_reasons", F.lit("audit:" + ",".join(res.failures))
    ).write.parquet(tmp)
    with open(os.path.join(tmp, AUDIT_REASONS), "w") as fh:
        json.dump({"failures": res.failures, "metrics": res.metrics}, fh)
    os.rename(tmp, quarantine_dir(table, batch_id))


def read_quarantine(spark: SparkSession, table: LakeTable) -> DataFrame:
    """Dead-letter rows. Batches with nothing invalid write no
    quarantine dir at all (the common case), so absence = empty."""
    qdir = quarantine_dir(table)
    if not os.path.isdir(qdir):
        return empty_frame(spark, EVENTS_READ_SCHEMA).withColumns(
            {
                "_invalid_reasons": F.lit(None).cast("string"),
                "batch_id": F.lit(None).cast("long"),
            }
        )
    return spark.read.option("basePath", qdir).parquet(qdir)


def replay_quarantine(
    spark: SparkSession,
    table: LakeTable,
    fixer=None,
    audit=None,
    enrichers: dict | None = None,
    static_dim: tuple[DataFrame, object] | None = None,
) -> dict:
    """Reprocess dead-letter rows (the recovery half of the quarantine
    split — the reference raises per-row and drops the request,
    validations.py:49-430; a pipeline must instead repair and re-ingest).

    Per batch dir — per-row rejects and audit-rejected whole batches
    alike: read the original wire-schema rows, apply the optional
    `fixer(df) -> df` repair transform, re-validate, and run the
    now-valid rows through the same merge and `derive` as live ingest
    (pass `enrichers` / `static_dim` as ingest did) as the stage of
    ``lake.wap.audit_staged``, gated by `audit` (an AuditSpec, typically
    the stream's; None = a plain commit). A repair that fails the gate
    aborts trace-free and keeps its dir intact (`still_failing`); so
    does an audit-rejected batch (its dir holds the `AUDIT_REASONS`
    sidecar) when `audit` is None — only a gate may publish it, so it
    is held unread. On publish the dir is rewritten with only the rows
    that are STILL invalid (removed when none are), and the merge's own
    commit clears the batch's `audit_rejected` entry; a dir with nothing
    to publish keeps its original rows (removed only when a `fixer`
    dropped them all). Deliberately does NOT touch the applied-batch
    ledger — those ids belong to the stream's exactly-once bookkeeping
    (it must keep skipping the batch), and a replayed merge is
    idempotent under the LWW guard anyway, which also makes this call
    crash-safe: a crash between merge-commit and dir-rewrite just
    re-merges no-op winners on the next call. An administrative
    operation (one merge commit per dead-letter batch), not a hot-path
    one."""
    qroot = quarantine_dir(table)
    keys = ("batches", "rows_applied", "rows_still_invalid", "still_failing")
    out = dict.fromkeys(keys, 0)
    # crash recovery for the rewrite swap below: an aside dir whose
    # batch dir is missing means we died between the two renames —
    # restore it (the conservative superset; re-replaying it is
    # idempotent). An aside WITH a live batch dir is post-swap debris.
    for aside in glob.glob(os.path.join(qroot, ".replaced-batch_id=*")):
        bname = os.path.basename(aside)[len(".replaced-"):].rsplit("-", 1)[0]
        target = os.path.join(qroot, bname)
        if os.path.exists(target):
            shutil.rmtree(aside, ignore_errors=True)
        else:
            os.rename(aside, target)
    for qdir in sorted(glob.glob(os.path.join(qroot, "batch_id=*"))):
        bid = os.path.basename(qdir).split("=", 1)[1]
        out["batches"] += 1
        if audit is None and os.path.exists(os.path.join(qdir, AUDIT_REASONS)):
            # only a gate may publish what a gate rejected: hold it
            out["still_failing"] += 1
            continue
        mapped, still, n_ok, n_bad = _revalidate(spark, qdir, fixer)
        out["rows_still_invalid"] += n_bad
        if n_ok:

            def clear_reject() -> dict:
                # rides the replayed merge's own commit: no crash window
                # leaves a published repair marked as rejected
                rejected = dict(table.props.get("audit_rejected", {}))
                if rejected.pop(bid, None) is None:
                    return {}
                return {"audit_rejected": rejected}

            _, res = audit_staged(
                spark,
                table,
                audit,
                lambda: _merge_events(
                    spark, table, mapped, enrichers, static_dim,
                    props_updates_fn=clear_reject,
                ),
            )
            if res is not None and not res.passed:
                out["still_failing"] += 1
                continue
            out["rows_applied"] += n_ok
        if not n_bad:
            shutil.rmtree(qdir, ignore_errors=True)
        elif n_ok:
            # tmp name must sit OUTSIDE the `batch_id=*` glob namespace
            # (and be dot-hidden from partition discovery): a crash
            # between write and rename must never leave a phantom dir a
            # later replay or read_quarantine would treat as a batch
            tmp = os.path.join(qroot, f".replay-tmp-{uuid.uuid4().hex}")
            still.write.mode("overwrite").parquet(tmp)
            # swap via aside-rename, not rmtree-then-rename: a crash
            # between an rmtree and the rename would leave the
            # still-invalid rows only in the dot-hidden tmp dir, where
            # read_quarantine and later replays never look — silent row
            # loss. With the aside swap every crash point leaves the
            # rows visible under either the old or the new dir.
            aside = os.path.join(
                qroot,
                f".replaced-{os.path.basename(qdir)}-{uuid.uuid4().hex}",
            )
            os.rename(qdir, aside)
            os.rename(tmp, qdir)
            shutil.rmtree(aside, ignore_errors=True)
    return out
