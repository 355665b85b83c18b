"""Benchmark of the CDC engine: one workload per invocation.

    python3 perfbench/run.py --workload bulk_merge --seed 1 --seconds 20 --trace 0

Generates the workload's change files from --seed, starts a local
Spark session sized to the host (`local[nproc]`, driver heap from
MemTotal), warms it up with untimed rounds, runs the workload's rounds
for --seconds, checks the outputs against the replay oracle, and prints
one JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end set of BENCHMARK.json;
with --trace 1 they are the per-layer set, from spans recorded around
calls into the engine and from Spark's event log. A line starting with
`DETAIL ` before it carries host facts, workload-specific figures and
per-layer self times. Everything the run writes lives under
`.perfbench_work/` in the current directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

try:
    from perfbench import host, layers, stats
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS, Ctx
    from tiger_etl_spark.session import get_spark
except ImportError as e:  # reported by main(): the engine is not here
    IMPORT_ERROR: ImportError | None = e
else:
    IMPORT_ERROR = None

END_TO_END_UNITS = {
    "setup_s": "s",
    "round_cpu_s": "s",
    "ingest_cpu_ms_per_event": "ms/event",
    "stored_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--cores", type=int, default=0, help="Spark local[N]; default: nproc"
    )
    ap.add_argument(
        "--warmup", type=int, default=-1, help="untimed rounds; default: the workload's"
    )
    ap.add_argument(
        "--rounds", type=int, default=0, help="least timed rounds; default: the workload's"
    )
    return ap.parse_args(argv)


def scaling_rate(args: argparse.Namespace) -> float:
    """ingest_events_per_s of the same workload and seed at local[1], in
    a fresh process: one cold round, no warm-up."""
    cmd = [
        sys.executable,
        os.path.abspath(__file__),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", "1",
        "--trace", "0",
        "--cores", "1",
        "--warmup", "0",
        "--rounds", "1",
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=150, check=True)
    detail = next(
        line for line in reversed(out.stdout.splitlines()) if line.startswith("DETAIL ")
    )
    return json.loads(detail[len("DETAIL "):])["workload_metrics"]["ingest_events_per_s"]["value"]


def stop_spark(spark, procs: list[int]) -> None:
    """Stop the session, then the gateway JVM, and wait for the JVM and
    its Python workers to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in procs):
        time.sleep(0.1)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if IMPORT_ERROR is not None:
        print(f"perfbench: the engine package is not importable here: {IMPORT_ERROR}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    os.environ["TZ"] = "UTC"
    time.tzset()
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(os.getcwd(), ".perfbench_work", run_id)
    os.makedirs(work)
    try:
        return run(args, run_id, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def run(args: argparse.Namespace, run_id: str, work: str) -> int:
    cores = args.cores or host.nproc()
    mem_kb = host.mem_total_kb()
    launch_env = host.configure_launch(work, mem_kb)

    # inputs: generated before the session starts, never while timing
    wl = WORKLOADS[args.workload](args.seed, work, cores)
    wl.prepare()

    tracer = Tracer(run_id, enabled=bool(args.trace))
    extra = {"spark.ui.showConsoleProgress": "false"}
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{log_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", cores=cores, extra_conf=extra)
    start_s = time.perf_counter() - t0
    jvm = host.jvm_pid(spark)
    try:
        t1 = time.perf_counter()
        ctx = Ctx(spark, Tracer(run_id, enabled=False), lambda: host.engine_cpu_s(jvm))
        wl.set_up(spark)
        build_s = time.perf_counter() - t1
        warmup = wl.WARMUP_ROUNDS if args.warmup < 0 else args.warmup
        wl.run(ctx, deadline=0.0, min_rounds=warmup)
        warm_rounds = wl.rounds
        wl.clear()
        warmup_s = time.perf_counter() - t1

        ctx.tracer = tracer
        if args.trace:
            layers.install(tracer)
        gc0 = host.jvm_gc_s(spark)
        steal0, ticks0 = host.cpu_ticks()
        cpu0 = ctx.cpu()
        w0 = time.perf_counter()
        wl.run(ctx, deadline=time.time() + args.seconds, min_rounds=args.rounds or wl.MEASURED_ROUNDS)
        window_s = time.perf_counter() - w0
        cpu_s = ctx.cpu() - cpu0
        steal1, ticks1 = host.cpu_ticks()
        gc_s = host.jvm_gc_s(spark) - gc0
        tracer.restore()

        probes = {}
        if args.trace:
            batch_dir = os.path.join(work, "probe_batch")
            os.makedirs(batch_dir)
            for p in wl.batch_files:
                shutil.copy(p, batch_dir)
            probes = layers.probe_metrics(spark, batch_dir)

        c0 = time.perf_counter()
        errors = wl.check(ctx)
        check_s = time.perf_counter() - c0
        rss_mb = host.peak_rss_mb([jvm] + host.descendants(jvm))
        versions = host.versions(spark)
        e2e = wl.end_to_end()
        detail = wl.detail()
    finally:
        stop_spark(spark, [jvm] + host.descendants(jvm))

    e2e["setup_s"] = start_s + warmup_s
    e2e["peak_rss_mb"] = rss_mb
    result_ok = errors == 0 and ctx.failed == 0
    out_detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": {
            "nproc": host.nproc(),
            "cores_used": cores,
            "mem_total_kb": mem_kb,
            "memcpy_warm_mb_s": round(host.memcpy_warm_mb_s(), 1),
            **versions,
            **launch_env,
        },
        "setup": {"start_s": start_s, "build_s": build_s, "warm_rounds_s": warm_rounds},
        "window_s": window_s,
        "check_s": check_s,
        "window_cpu_s": cpu_s,
        "window_steal_frac": stats.ratio(steal1 - steal0, ticks1 - ticks0),
        "rounds": wl.rounds,
        "round_cpu": wl.round_cpu,
        "ingest_cpu_ms_per_event": wl.ingest_cpu,
        "parity_errors": errors,
        "failed_frac": stats.ratio(ctx.failed, ctx.attempted),
        "workload_metrics": {
            k: {"value": v, "unit": u, **extra_info} for k, (v, u, extra_info) in detail.items()
        },
    }

    if args.trace:
        spans = tracer.spans
        span_m, layer_self, events = layers.span_metrics(spans, wl.table_path)
        log = layers.eventlog.find_log(log_dir)
        stages = layers.eventlog.read_stages(log) if log else []
        traced = [r for r, t in zip(wl.rounds, wl.traced_rounds) if t]
        plain = [r for r, t in zip(wl.rounds, wl.traced_rounds) if not t]
        eff = 0.0
        if args.workload == "bulk_merge" and cores > 1:
            rate = detail["ingest_events_per_s"][0]
            eff = stats.ratio(rate, cores * scaling_rate(args))
        metrics = {
            "session.start_s": start_s,
            "session.warmup_s": warmup_s,
            **probes,
            **span_m,
            **layers.stage_metrics(spans, stages, events),
            "jvm.gc_s": gc_s,
            "jvm.gc_frac": stats.ratio(gc_s, window_s),
            "trace.overhead_frac": stats.ratio(stats.median(traced), stats.median(plain)) - 1
            if plain
            else 0.0,
            "scaling.eff_1_to_n": eff,
        }
        out_detail["layer_self_s"] = layer_self
        out_detail["spans"] = tracer.to_json()
        units = layers.UNITS
    else:
        metrics = e2e
        units = END_TO_END_UNITS

    print("DETAIL " + json.dumps(out_detail, default=str), flush=True)
    print(
        json.dumps(
            {
                "correct": result_ok,
                "attempted": ctx.attempted,
                "failed": ctx.failed,
                "metrics": {
                    k: {"value": float(metrics[k] or 0.0), "unit": u} for k, u in units.items()
                },
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
