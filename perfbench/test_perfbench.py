"""Self-tests for the benchmark's own math; no Spark needed.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys
import types

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import eventlog, stats  # noqa: E402
from perfbench.tracing import Span, Tracer, self_time, self_times_by_name  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "tiny_eventlog.json")


def test_tail_needs_ten_samples_beyond():
    assert stats.tail(list(range(19))) == (None, None, 19)
    # 20 samples: only the median leaves ten beyond it
    assert stats.tail(list(range(1, 21))) == (50.0, 10, 20)
    # 100 samples: p90 leaves ten beyond, p95 only five
    assert stats.tail(list(range(1, 101))) == (90.0, 90, 100)
    assert stats.tail(list(range(1, 1001)))[:2] == (99.0, 990)
    assert stats.tail(list(range(1, 10001)))[:2] == (99.9, 9990)


def test_tail_ignores_input_order():
    xs = [5.0, 1.0, 3.0] * 10
    assert stats.tail(xs) == stats.tail(sorted(xs))


def test_self_time_subtracts_union_of_children():
    parent = Span("p", 0.0, 10.0)
    kids = [Span("a", 1.0, 3.0), Span("b", 2.0, 5.0), Span("c", 7.0, 8.0), Span("d", 9.5, 12.0)]
    # covered: [1,5] + [7,8] + [9.5,10] (clipped) = 5.5
    assert abs(self_time(parent, kids) - 4.5) < 1e-12
    assert self_time(parent, []) == 10.0


def test_self_times_by_name_sum_to_root():
    spans = [
        Span("round", 0.0, 10.0),
        Span("apply", 1.0, 6.0, parent=0),
        Span("merge", 2.0, 5.0, parent=1),
        Span("apply", 6.0, 9.0, parent=0),
    ]
    selfs = self_times_by_name(spans)
    assert selfs == {"round": 2.0, "apply": 5.0, "merge": 3.0}
    assert abs(sum(selfs.values()) - spans[0].dur) < 1e-12


def test_tracer_wraps_restores_and_nests():
    mod = types.SimpleNamespace(outer=None, inner=lambda x: x + 1)
    mod.outer = lambda x: mod.inner(x) * 2
    tr = Tracer("t", enabled=True)
    tr.wrap(mod, "inner", "inner")
    tr.wrap(mod, "outer", "outer")
    assert mod.outer(1) == 4
    assert tr.spans == []  # inactive: timed nothing
    tr.active = True
    assert mod.outer(1) == 4
    names = [(s.name, s.parent) for s in tr.spans]
    assert names == [("outer", None), ("inner", 0)]
    assert tr.spans[0].attrs["result"] == 4
    tr.restore()
    assert not hasattr(mod.outer, "__wrapped__")


def test_proc_cpu_counts_reaped_children():
    import subprocess

    from perfbench import host

    before = host.proc_cpu_s([os.getpid()])
    busy = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass"
    subprocess.run([sys.executable, "-c", busy], check=True)
    # the child has exited and been reaped; its CPU time stays counted
    assert host.proc_cpu_s([os.getpid()]) - before >= 0.4


def test_benchmark_json_names_what_the_code_prints():
    import json

    from perfbench import layers, run, workloads

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.UNITS
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)


def test_event_log_stage_counters():
    stages = eventlog.read_stages(FIXTURE)
    assert [s.stage_id for s in stages] == [0, 1]  # stage 2 never completed
    m, r = stages
    assert (m.submitted, m.completed) == (1000.0, 1000.7)
    assert m.shuffle_write_bytes == 1000 and m.records_read == 120
    assert r.shuffle_read_bytes == 1000 and r.spill_bytes == 96
    assert sorted(r.task_s) == [0.1, 0.2, 0.6]
    assert abs(r.dur - 0.6) < 1e-9
    assert [s.stage_id for s in eventlog.within(stages, 1000.6, 1001.3)] == [1]
    assert eventlog.within(stages, 1000.0, 1000.5) == []
