"""The benchmark's workloads over the CDC engine's public API.

Each workload is a closed loop: one driver-side client issues the next
Spark job only after the previous one returns. Inputs come from the
engine's own generator with its defaults (Zipf hosts, 10% deletes, 5%
late events, 1% duplicate carry into the next file, 0.2% invalid rows,
one schema v1→v2 switch), written to change files by `prepare()` before
the Spark session starts; `set_up()` then builds what the rounds need,
and WARMUP_ROUNDS rounds run before the measuring window and are not
recorded. A workload then runs rounds until the measuring window closes;
a round in flight when it closes is finished. Every round does the same
work, so its wall and CPU time do not drift with the round's index.
`check()` runs after the window and compares the engine's outputs with
the replay oracle (`cdc.oracle`).
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import sys
import time
import traceback

import numpy as np
import pyarrow.parquet as pq

from perfbench import stats
from tiger_etl_spark.cdc import oracle, pipeline, streaming
from tiger_etl_spark.cdc.datagen import gen_change_events, write_change_files
from tiger_etl_spark.cdc.pipeline import create_pages_table
from tiger_etl_spark.cdc.sources import read_change_batch
from tiger_etl_spark.lake import LakeTable

_EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def _us(ts) -> int | None:
    """Timestamp → epoch microseconds; naive values are UTC (the
    session and this process both run in UTC)."""
    if ts is None:
        return None
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=dt.timezone.utc)
    return (ts - _EPOCH) // dt.timedelta(microseconds=1)


def _ts(us: int) -> dt.datetime:
    return _EPOCH + dt.timedelta(microseconds=us)


def _row_matches(row: dict, want: dict) -> bool:
    html = row["html"]
    return (
        (bytes(html) if html is not None else None) == want["html"]
        and row["text"] == want["text"]
        and _us(row["warc_ts"]) == _us(want["warc_ts"])
        and row["lang"] == want["lang"]
        and row["content_len"] == want["content_len"]
    )


def parity_errors(rows: list, expected: dict[str, dict]) -> int:
    """Rows of a full table scan that differ from the oracle state:
    urls on one side only, plus urls whose payload differs."""
    got = {r["url"]: r.asDict() for r in rows}
    errors = len(got.keys() ^ expected.keys())
    errors += sum(
        1 for u in got.keys() & expected.keys() if not _row_matches(got[u], expected[u])
    )
    return errors


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def file_events(path: str) -> list[dict]:
    """Oracle-normalized events of one parquet change file."""
    return [oracle.normalize_event(r, r["schema_id"]) for r in pq.read_table(path).to_pylist()]


class Ctx:
    """What a workload needs while it runs: the session, the tracer, a
    clock of the CPU seconds the engine has used so far, and the
    operation counters that feed the result's `attempted` and `failed`."""

    def __init__(self, spark, tracer, cpu):
        self.spark = spark
        self.tracer = tracer
        self.cpu = cpu
        self.attempted = 0
        self.failed = 0

    def op(self, fn):
        """Run one operation; a failure is counted and reported, and
        the result is None."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # counted against `failed`; the run goes on
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None


class Workload:
    name = ""
    # rounds run before the window, inside `setup_s`: JVM code
    # generation, JIT and the Python workers are paid before measuring
    WARMUP_ROUNDS = 1
    # the end-to-end CPU figures are medians over the window's first
    # MEASURED_ROUNDS rounds, and the window runs at least that many. The
    # JIT keeps speeding rounds up for minutes, so a median over however
    # many rounds fit in the window would move with the host's speed.
    MEASURED_ROUNDS = 3

    def __init__(self, seed: int, work: str, cores: int):
        self.seed = seed
        self.cores = cores
        self.work = os.path.join(work, self.name)
        # change files that make up one micro-batch, for the traced probes
        self.batch_files: list[str] = []
        self.table_path = ""
        self.input_bytes = 0
        self._round_dir = ""
        self._n_dirs = 0
        self.clear()

    def clear(self) -> None:
        """Forget what earlier rounds recorded (the warm-up's)."""
        self.rounds: list[float] = []
        # CPU seconds the engine used in each round
        self.round_cpu: list[float] = []
        self.traced_rounds: list[bool] = []
        self.lineage: list = []
        # events per second of wall, one entry per ingest call
        self.rates: list[float] = []
        # engine CPU milliseconds per change event, one entry per ingest call
        self.ingest_cpu: list[float] = []

    def prepare(self) -> None:
        """Generate inputs (no Spark)."""

    def set_up(self, spark) -> None:
        """Build what the rounds need, timed as part of `setup_s`."""

    def run(self, ctx: Ctx, deadline: float, min_rounds: int = 1) -> None:
        """Run rounds until `deadline`. A round starts only while at least
        half a round's wall is left, so the window overruns `deadline` by
        half a round on average, not by a whole one."""
        i = 0
        while i < min_rounds or time.time() + 0.5 * (self.rounds or [0.0])[-1] < deadline:
            if not self.before_round(i):
                break
            traced = ctx.tracer.enabled and i % 2 == 0
            ctx.tracer.active = traced
            cpu0 = ctx.cpu()
            with ctx.tracer.span("workload.round", workload=self.name) as s:
                ok = self.round(ctx, i)
            ctx.tracer.active = False
            if not ok:
                break
            self.round_cpu.append(ctx.cpu() - cpu0)
            self.rounds.append(s.dur)
            self.traced_rounds.append(traced)
            i += 1

    def before_round(self, i: int) -> bool:
        """Untimed preparation of round `i`; False when inputs ran out."""
        return True

    def fresh_dir(self) -> str:
        """A new directory path for the next round's table; the previous
        round's directory is removed."""
        if self._round_dir:
            shutil.rmtree(self._round_dir, ignore_errors=True)
        self._n_dirs += 1
        self._round_dir = os.path.join(self.work, f"round{self._n_dirs}")
        return self._round_dir

    def round(self, ctx: Ctx, i: int) -> bool:
        raise NotImplementedError

    def check(self, ctx: Ctx) -> int:
        raise NotImplementedError

    # ------------------------------------------------------------ metrics
    def end_to_end(self) -> dict[str, float]:
        """Every workload reports the same end-to-end set."""
        return {
            "round_cpu_s": stats.median(self.round_cpu[: self.MEASURED_ROUNDS]),
            "ingest_cpu_ms_per_event": stats.median(self.ingest_cpu[: self.MEASURED_ROUNDS]),
            "stored_bytes_per_input_byte": stats.ratio(
                dir_bytes(self.table_path), self.input_bytes
            ),
        }

    def detail(self) -> dict:
        """Wall-clock and workload-specific figures, name → (value, unit,
        extra facts)."""
        batches = [r.batch_seconds for r in self.lineage]
        p, v, n = stats.tail(batches)
        return {
            "round_s": (stats.median(self.rounds), "s", {"n": len(self.rounds)}),
            "ingest_events_per_s": (stats.median(self.rates), "ev/s", {"n": len(self.rates)}),
            "batch_latency_p50_s": (stats.median(batches), "s", {"n": len(batches)}),
            "batch_latency_tail_s": (v, "s", {"percentile": p, "n": n}),
        }


class BulkMerge(Workload):
    """Drain a backlog of change files in a few large micro-batches,
    then compact. Each round drains the same backlog into a fresh table
    and checkpoint."""

    name = "bulk_merge"
    MEASURED_ROUNDS = 4
    EVENTS = 80_000
    FILES = 16
    FILES_PER_TRIGGER = 8

    def prepare(self) -> None:
        self.changes = os.path.join(self.work, "changes")
        ev = gen_change_events(seed=self.seed, n=self.EVENTS)
        paths = write_change_files(ev, self.changes, n_files=self.FILES)
        self.input_bytes = sum(os.path.getsize(p) for p in paths)
        self.batch_files = paths[: self.FILES_PER_TRIGGER]

    def clear(self) -> None:
        super().clear()
        self.compacts: list[float] = []

    def before_round(self, i: int) -> bool:
        base = self.fresh_dir()
        self.table_path = os.path.join(base, "pages")
        self.ckpt = os.path.join(base, "ckpt")
        create_pages_table(self.table_path, num_buckets=2 * self.cores)
        return True

    def round(self, ctx: Ctx, i: int) -> bool:
        tr = ctx.tracer
        cpu0 = ctx.cpu()
        with tr.span("bulk.drain") as d:
            res = ctx.op(
                lambda: streaming.run_stream(
                    ctx.spark,
                    self.changes,
                    self.table_path,
                    self.ckpt,
                    max_files_per_trigger=self.FILES_PER_TRIGGER,
                )
            )
        if res is None:
            return False
        events = sum(r.rows_in for r in res.lineage)
        self.ingest_cpu.append(1000 * (ctx.cpu() - cpu0) / events)
        ctx.attempted += len(res.lineage) - 1  # one operation per batch
        with tr.span("bulk.compact") as c:
            done = ctx.op(lambda: LakeTable.load(self.table_path).compact(ctx.spark))
        if done is None:
            return False
        self.lineage.extend(res.lineage)
        self.rates.append(events / d.dur)
        self.compacts.append(c.dur)
        return True

    def check(self, ctx: Ctx) -> int:
        expected = oracle.replay_dir(self.changes)
        rows = LakeTable.load(self.table_path).scan(ctx.spark).collect()
        return parity_errors(rows, expected)

    def detail(self) -> dict:
        return {
            **super().detail(),
            "compact_s": (stats.median(self.compacts), "s", {"n": len(self.compacts)}),
        }


class LakeReads(Workload):
    """Reads beside writes on an uncompacted merge-on-read table. Set-up
    builds a base table by applying BUILD_FILES change files to it with
    `apply_changes`, one commit each, so every bucket holds that many delta files and
    scans must LWW-resolve. Each round starts from a fresh copy of the
    base table (untimed), so every round reads a table of one shape:
    it applies one more change file from a pool through `apply_changes`,
    then runs LOOKUPS point lookups on Zipf-hot urls, one event-time
    window scan, and `changes_between` across the round's two
    snapshots."""

    name = "lake_reads"
    # the reads warm up over more rounds than bulk_merge's drain does
    WARMUP_ROUNDS = 2
    BUILD_FILES = 4
    POOL_FILES = 12
    EVENTS_PER_FILE = 600
    LOOKUPS = 4
    WINDOW_FRAC = 0.1

    def prepare(self) -> None:
        self.build_dir = os.path.join(self.work, "build")
        n_files = self.BUILD_FILES + self.POOL_FILES
        ev = gen_change_events(seed=self.seed, n=n_files * self.EVENTS_PER_FILE)
        # the base table is schema v1; every pool file a round applies is v2
        files = write_change_files(
            ev,
            os.path.join(self.work, "all"),
            n_files=n_files,
            evolution_at=(self.BUILD_FILES + 0.5) / n_files,
        )
        os.makedirs(self.build_dir, exist_ok=True)
        for p in files[: self.BUILD_FILES]:
            shutil.move(p, self.build_dir)
        self.build_files = sorted(
            os.path.join(self.build_dir, f) for f in os.listdir(self.build_dir)
        )
        self.pool_files = files[self.BUILD_FILES :]
        self.batch_files = self.pool_files[:1]
        self.build_bytes = sum(os.path.getsize(p) for p in self.build_files)
        rng = np.random.default_rng(self.seed + 7)
        # sampling events uniformly picks urls in proportion to how often
        # they change: the Zipf-hot keys
        urls = [u for u in ev["url"] if u]
        self.hot = [
            list(rng.choice(urls, size=self.LOOKUPS)) for _ in range(self.POOL_FILES)
        ]
        ts = ev["warc_ts_us"]
        lo, hi = int(ts.min()), int(ts.max())
        width = int((hi - lo) * self.WINDOW_FRAC)
        self.windows = [
            (int(s), int(s) + width)
            for s in rng.integers(lo, hi - width, size=self.POOL_FILES)
        ]
        self.base_path = os.path.join(self.work, "base")

    def clear(self) -> None:
        super().clear()
        self.lookups: list[float] = []
        self.scans: list[float] = []
        self.cdfs: list[float] = []
        self.results: list[dict] = []

    def set_up(self, spark) -> None:
        create_pages_table(self.base_path, num_buckets=2 * self.cores)
        base = LakeTable.load(self.base_path)
        for k, path in enumerate(self.build_files):
            pipeline.apply_changes(spark, base, read_change_batch(spark, path), batch_id=k)

    def before_round(self, i: int) -> bool:
        self.table_path = os.path.join(self.fresh_dir(), "pages")
        shutil.copytree(self.base_path, self.table_path)
        self.table = LakeTable.load(self.table_path)
        return True

    def round(self, ctx: Ctx, i: int) -> bool:
        spark, tr, table = ctx.spark, ctx.tracer, self.table
        j = i % self.POOL_FILES
        path = self.pool_files[j]
        v0 = table.manifest["version"]
        cpu0 = ctx.cpu()
        with tr.span("reads.apply") as a:
            rec = ctx.op(
                lambda: pipeline.apply_changes(
                    spark,
                    table,
                    read_change_batch(spark, path),
                    batch_id=self.BUILD_FILES,
                )
            )
        if rec is None:
            return False
        self.ingest_cpu.append(1000 * (ctx.cpu() - cpu0) / rec.rows_in)
        self.input_bytes = self.build_bytes + os.path.getsize(path)
        self.lineage.append(rec)
        self.rates.append(rec.rows_in / a.dur)
        v1 = table.manifest["version"]
        got: dict = {"pool": j, "lookups": {}, "window": None, "cdf": None}
        for url in self.hot[j]:
            with tr.span("scan.lookup") as s:
                rows = ctx.op(lambda: table.lookup(spark, url).collect())
                s.attrs["rows"] = len(rows or ())
            if rows is not None:
                got["lookups"][url] = rows[0].asDict() if rows else None
                self.lookups.append(s.dur)
        lo, hi = self.windows[j]
        window = (_ts(lo), _ts(hi))
        with tr.span("scan.window") as s:
            rows = ctx.op(
                lambda: table.scan(spark, ts_range=window).select("url").collect()
            )
        if rows is not None:
            got["window"] = {r["url"] for r in rows}
            self.scans.append(s.dur)
        with tr.span("scan.changes_between") as s:
            rows = ctx.op(
                lambda: table.changes_between(spark, v0, v1)
                .select("_change_op", "url")
                .collect()
            )
        if rows is not None:
            got["cdf"] = {(r["_change_op"], r["url"]) for r in rows}
            self.cdfs.append(s.dur)
        self.results.append(got)
        return True

    def check(self, ctx: Ctx) -> int:
        """Each round's reads against the oracle state of the base
        table's files plus the pool file that round applied."""
        build = [e for p in self.build_files for e in file_events(p)]
        base = oracle.replay(build)
        states: dict[int, dict] = {}
        errors = 0
        for got in self.results:
            j = got["pool"]
            if j not in states:
                states[j] = oracle.replay(build + file_events(self.pool_files[j]))
            state = states[j]
            for url, row in got["lookups"].items():
                want = state.get(url)
                if (row is None) != (want is None) or (
                    row is not None and not _row_matches(row, want)
                ):
                    errors += 1
            lo, hi = self.windows[j]
            if got["window"] is not None:
                want_w = {u for u, r in state.items() if lo <= _us(r["warc_ts"]) <= hi}
                errors += len(got["window"] ^ want_w)
            if got["cdf"] is not None:
                errors += _cdf_errors(got["cdf"], base, state)
        return errors

    def detail(self) -> dict:
        p, v, n = stats.tail(self.lookups)
        return {
            **super().detail(),
            "lookup_p50_ms": (1000 * stats.median(self.lookups), "ms", {"n": len(self.lookups)}),
            "lookup_tail_ms": (
                None if v is None else 1000 * v,
                "ms",
                {"percentile": p, "n": n},
            ),
            "window_scan_p50_s": (stats.median(self.scans), "s", {"n": len(self.scans)}),
            "cdf_p50_s": (stats.median(self.cdfs), "s", {"n": len(self.cdfs)}),
        }


def _cdf_errors(feed: set, before: dict, after: dict) -> int:
    """Net-change feed vs the oracle's two states: inserts and deletes
    must match exactly; an update must name a url live on both sides,
    and every url whose row changed must appear as an update."""
    ins = {u for op, u in feed if op == "I"}
    dels = {u for op, u in feed if op == "D"}
    upd = {u for op, u in feed if op == "U"}
    want_ins = after.keys() - before.keys()
    want_dels = before.keys() - after.keys()
    both = before.keys() & after.keys()
    changed = {
        u
        for u in both
        if _us(before[u]["warc_ts"]) != _us(after[u]["warc_ts"])
        or before[u]["html"] != after[u]["html"]
    }
    return (
        len(ins ^ want_ins)
        + len(dels ^ want_dels)
        + len(upd - both)
        + len(changed - upd)
    )


WORKLOADS = {w.name: w for w in (BulkMerge, LakeReads)}
