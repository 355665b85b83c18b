"""Per-layer metrics of a traced run, derived from the spans recorded
around calls into the engine and from the Spark event log.

Every per-layer metric is reported on every workload; a layer the
workload does not exercise reads 0.
"""

from __future__ import annotations

import os
import time

from perfbench import eventlog, stats
from perfbench.tracing import Span, Tracer, self_times_by_name
from tiger_etl_spark.cdc import pipeline, streaming
from tiger_etl_spark.lake import pruning
from tiger_etl_spark.lake.table import LakeTable

# every per-layer metric, with its unit
UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.read_s": "s",
    "sources.input_bytes_per_event": "B/event",
    "validate.map_s": "s",
    "validate.quarantined_frac": "ratio",
    "validate.late_frac": "ratio",
    "streaming.trigger_gap_s": "s",
    "streaming.batches": "count",
    "pipeline.apply_s": "s",
    "pipeline.write_job_s": "s",
    "pipeline.lineage_s": "s",
    "pipeline.winners_per_event": "ratio",
    "exchange.shuffle_bytes_per_event": "B/event",
    "exchange.reduce_stage_s": "s",
    "exchange.task_skew": "ratio",
    "exchange.spill_bytes": "B",
    "text.extract_s": "s",
    "text.extract_mb_per_s": "MB/s",
    "text.python_rows_per_event": "ratio",
    "lake.commit_s": "s",
    "lake.files_added_per_batch": "count",
    "lake.bytes_written_per_event": "B/event",
    "lake.manifest_bytes": "B",
    "lake.manifest_list_len": "count",
    "lake.bucket_skew": "ratio",
    "maintain.s": "s",
    "maintain.compactions": "count",
    "maintain.bytes_rewritten_per_live_byte": "ratio",
    "pruning.plan_ms": "ms",
    "pruning.files_read_frac": "ratio",
    "scan.dirty_bucket_frac": "ratio",
    "scan.rows_read_per_row_returned": "ratio",
    "jvm.gc_s": "s",
    "jvm.gc_frac": "ratio",
    "trace.overhead_frac": "ratio",
    "scaling.eff_1_to_n": "ratio",
}

# span name → layer (module) it times
LAYER_OF = {
    "workload.round": "workload",
    "bulk.drain": "workload",
    "bulk.compact": "workload",
    "reads.apply": "workload",
    "streaming.run_stream": "cdc.streaming",
    "pipeline.apply_changes": "cdc.pipeline",
    "pipeline.commit_props": "cdc.pipeline",
    "lake.merge": "lake.table",
    "lake.compact": "lake.table",
    "lake.maintain": "lake.table",
    "lake.expire_snapshots": "lake.table",
    "pruning.plan_files": "lake.pruning",
    "scan.lookup": "lake.table",
    "scan.window": "lake.table",
    "scan.changes_between": "lake.table",
}


def install(tracer: Tracer) -> None:
    """Wrap the engine's public entry points in spans (this process
    only). `run_stream` calls `apply_changes` through its own module's
    name, so both bindings are wrapped."""
    tracer.wrap(streaming, "run_stream", "streaming.run_stream")
    tracer.wrap(streaming, "apply_changes", "pipeline.apply_changes")
    tracer.wrap(pipeline, "apply_changes", "pipeline.apply_changes")
    tracer.wrap(LakeTable, "merge", "lake.merge", on_call=_wrap_props_fn(tracer))
    tracer.wrap(LakeTable, "compact", "lake.compact", on_call=_note_table)
    tracer.wrap(LakeTable, "maintain", "lake.maintain")
    tracer.wrap(LakeTable, "expire_snapshots", "lake.expire_snapshots")
    tracer.wrap(pruning, "plan_files", "pruning.plan_files", on_call=_note_files)


def _wrap_props_fn(tracer: Tracer):
    """The merge's `props_updates_fn` runs after the write job and before
    the commit: a span around it splits the merge into write job,
    observation fold-in, and commit."""

    def on_call(span: Span, args, kwargs):
        fn = kwargs.get("props_updates_fn")
        if fn is not None:

            def timed():
                with tracer.span("pipeline.commit_props"):
                    return fn()

            kwargs = {**kwargs, "props_updates_fn": timed}
        return args, kwargs

    return on_call


def _note_table(span: Span, args, kwargs):
    span.attrs["table"] = args[0]
    return args, kwargs


def _note_files(span: Span, args, kwargs):
    manifest = args[0] if args else kwargs["manifest"]
    span.attrs["total_files"] = len(manifest["files"])
    return args, kwargs


def _named(spans: list[Span], name: str) -> list[tuple[int, Span]]:
    return [(i, s) for i, s in enumerate(spans) if s.name == name]


def _med(xs) -> float:
    return stats.median(list(xs)) or 0.0


def span_metrics(spans: list[Span], table_path: str) -> tuple[dict, dict, int]:
    """(span-derived metrics, self time per layer, events applied in
    the traced rounds)."""
    applies = _named(spans, "pipeline.apply_changes")
    recs = [s.attrs["result"] for _, s in applies]
    events = sum(r.rows_in for r in recs)
    merges = []  # (apply span, merge span, commit_props span)
    for mi, m in _named(spans, "lake.merge"):
        cb = [s for s in spans if s.parent == mi and s.name == "pipeline.commit_props"]
        if m.parent is not None and spans[m.parent].name == "pipeline.apply_changes" and cb:
            merges.append((spans[m.parent], m, cb[0]))
    streams = _named(spans, "streaming.run_stream")
    stream_batches = sum(len(s.attrs["result"].lineage) for _, s in streams)
    selfs = self_times_by_name(spans)
    compacts = [s for _, s in _named(spans, "lake.compact")]
    maintains = [s for _, s in _named(spans, "lake.maintain")]
    plans = [
        s
        for _, s in _named(spans, "pruning.plan_files")
        if s.parent is not None and spans[s.parent].name == "scan.lookup"
    ]
    table = LakeTable.load(table_path)
    mstats = [m.attrs["result"] for _, m, _ in merges]

    def skew(counts: dict) -> float:
        vals = sorted(counts.values())
        return stats.ratio(vals[-1], stats.median(vals)) if vals else 0.0

    def dirty_frac(plan: Span) -> float:
        files = plan.attrs["result"]
        buckets = {f["bucket"] for f in files}
        dirty = {f["bucket"] for f in files if f["kind"] == "delta"}
        return stats.ratio(len(dirty), len(buckets))

    return {
        "streaming.trigger_gap_s": stats.ratio(
            selfs.get("streaming.run_stream", 0.0), stream_batches
        ),
        "streaming.batches": stream_batches,
        "pipeline.apply_s": _med(s.dur for _, s in applies),
        "pipeline.write_job_s": _med(cb.start - a.start for a, _, cb in merges),
        "pipeline.lineage_s": _med(a.end - m.end for a, m, _ in merges),
        "pipeline.winners_per_event": stats.ratio(sum(r.rows_applied for r in recs), events),
        "validate.quarantined_frac": stats.ratio(sum(r.rows_quarantined for r in recs), events),
        "validate.late_frac": stats.ratio(sum(r.rows_late for r in recs), events),
        # the fused stage hands each LWW winner, and only winners, to the
        # extraction UDF
        "text.python_rows_per_event": stats.ratio(sum(r.rows_applied for r in recs), events),
        "lake.commit_s": _med(m.end - cb.end for _, m, cb in merges),
        "lake.files_added_per_batch": _med(st.files_added for st in mstats),
        "lake.bytes_written_per_event": stats.ratio(sum(st.bytes_written for st in mstats), events),
        "lake.manifest_bytes": os.path.getsize(
            os.path.join(table_path, "meta", f"v{table.manifest['version']}.json")
        ),
        "lake.manifest_list_len": len(table.manifest.get("manifest_list", [])),
        "lake.bucket_skew": _med(skew(st.partition_counts) for st in mstats),
        # per maintain() call where the workload calls it, else per compact()
        "maintain.s": _med(s.dur for s in (maintains or compacts)),
        "maintain.compactions": len(compacts),
        "maintain.bytes_rewritten_per_live_byte": _med(
            stats.ratio(s.attrs["result"].bytes_written, _live_bytes(s.attrs["table"]))
            for s in compacts
        ),
        "pruning.plan_ms": 1000 * _med(s.dur for s in plans),
        "pruning.files_read_frac": _med(
            stats.ratio(len(s.attrs["result"]), s.attrs["total_files"]) for s in plans
        ),
        "scan.dirty_bucket_frac": _med(dirty_frac(s) for s in plans),
    }, _layer_self(selfs), events


def _live_bytes(table: LakeTable) -> int:
    """Bytes of the data files a table handle's snapshot references."""
    return sum(f["bytes"] for f in table.manifest["files"])


def _layer_self(selfs: dict[str, float]) -> dict[str, float]:
    out: dict[str, float] = {}
    for name, v in selfs.items():
        layer = LAYER_OF.get(name, name)
        out[layer] = out.get(layer, 0.0) + v
    return out


def stage_metrics(spans: list[Span], stages: list[eventlog.Stage], events: int) -> dict[str, float]:
    """Exchange and scan counters of the stages that ran inside spans."""
    reduce_s, skews, shuffle, spill = [], [], 0, 0
    for _, a in _named(spans, "pipeline.apply_changes"):
        inside = eventlog.within(stages, a.start, a.end)
        shuffle += sum(s.shuffle_write_bytes for s in inside)
        spill += sum(s.spill_bytes for s in inside)
        reducers = [s for s in inside if s.shuffle_read_bytes > 0]
        if reducers:
            reduce_s.append(sum(s.dur for s in reducers))
            tasks = sorted(t for s in reducers for t in s.task_s)
            skews.append(stats.ratio(tasks[-1], stats.median(tasks)))
    read, returned = 0, 0
    for _, s in _named(spans, "scan.lookup"):
        read += sum(st.records_read for st in eventlog.within(stages, s.start, s.end))
        returned += s.attrs.get("rows", 0)
    return {
        "exchange.shuffle_bytes_per_event": stats.ratio(shuffle, events),
        "exchange.reduce_stage_s": _med(reduce_s),
        "exchange.task_skew": _med(skews),
        "exchange.spill_bytes": spill,
        "scan.rows_read_per_row_returned": stats.ratio(read, returned),
    }


def noop_s(df, reps: int = 3) -> float:
    """Median wall of writing `df` to Spark's no-op sink."""
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - t0)
    return stats.median(walls)


def probe_metrics(spark, batch_dir: str) -> dict[str, float]:
    """Marginal costs of reading, validating + schema-mapping, and
    extracting text for one micro-batch of change files, each through
    the no-op sink."""
    from pyspark.sql import functions as F

    from tiger_etl_spark.cdc.schema_evolution import map_to_live_schema
    from tiger_etl_spark.cdc.sources import read_change_batch
    from tiger_etl_spark.cdc.validate import split_valid
    from tiger_etl_spark.functions.text import extract_text_udf

    raw = read_change_batch(spark, batch_dir)
    mapped = map_to_live_schema(split_valid(raw)[0])
    extracted = mapped.withColumn("text", extract_text_udf(F.col("html")))
    html_bytes = mapped.agg(F.sum(F.length("html"))).first()[0] or 0
    read_s = noop_s(raw)
    map_s = noop_s(mapped)
    extract_s = noop_s(extracted)
    in_bytes = sum(
        os.path.getsize(os.path.join(batch_dir, f)) for f in os.listdir(batch_dir)
    )
    n_raw = raw.count()
    return {
        "sources.read_s": read_s,
        "sources.input_bytes_per_event": stats.ratio(in_bytes, n_raw),
        "validate.map_s": map_s - read_s,
        "text.extract_s": extract_s - map_s,
        "text.extract_mb_per_s": stats.ratio(html_bytes / 1e6, extract_s - map_s),
    }
