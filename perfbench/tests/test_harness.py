"""Span arithmetic, counter attribution, failure counting and the CLI."""

from __future__ import annotations

import json
import os
import pickle
import shutil
import subprocess
import sys

import layers
import spans
import workloads
from spans import Recorder, Span, attribute, self_times

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)


def test_self_time_subtracts_the_union_of_children():
    s = [
        Span("op", 0.0, 10.0),
        Span("a", 1.0, 4.0, parent=0),
        Span("b", 3.0, 6.0, parent=0),  # overlaps a: 1..6 covered once
        Span("a.inner", 2.0, 3.0, parent=1),
        Span("late", 9.0, 12.0, parent=0),  # clipped to the parent's end
    ]
    assert self_times(s) == [10.0 - 5.0 - 1.0, 3.0 - 1.0, 3.0, 1.0, 3.0]


def test_one_stack_across_threads_nests_callback_spans():
    import threading

    rec = Recorder()
    outer = rec.open("stream")
    t = threading.Thread(target=lambda: rec.close(rec.open("batch")))
    t.start()
    t.join(timeout=10)
    assert not t.is_alive()
    rec.close(outer)
    assert rec.spans[1].parent == outer


def test_stages_go_to_the_innermost_containing_span():
    s = [Span("op", 100.0, 110.0), Span("merge", 101.0, 105.0, parent=0)]

    def stage(start, end, rows):
        fmt = "%Y-%m-%dT%H:%M:%S.%f"
        from datetime import datetime, timezone

        def ts(x):
            return datetime.fromtimestamp(x, timezone.utc).strftime(fmt)[:-3] + "GMT"

        return {"submissionTime": ts(start), "completionTime": ts(end), "outputRecords": rows,
                "numCompleteTasks": 2}

    stages = [stage(102.0, 104.0, 7), stage(106.0, 107.0, 5), stage(99.0, 99.5, 1000)]
    jobs = [{"submissionTime": stages[0]["submissionTime"],
             "completionTime": stages[0]["completionTime"]}]
    c = attribute(s, stages, jobs, since=100.0)
    assert c[1] == {"stages": 1, "output_rows": 7, "tasks": 2, "jobs": 1, **{
        k: 0 for k in ("run_ms", "input_bytes", "output_bytes", "shuffle_read_bytes",
                       "shuffle_write_bytes", "spill_mem_bytes", "spill_disk_bytes", "gc_ms")}}
    assert c[0]["output_rows"] == 5 and c[0]["stages"] == 1


def test_wrapper_records_spans_passes_through_when_disabled_and_pickles_as_original():
    import types

    from pyspark import cloudpickle

    mod = types.ModuleType("m")
    mod.f = lambda x: x + 1
    rec = Recorder()
    rec.wrap(mod, "f", "m.f")
    assert mod.f(1) == 2 and [s.name for s in rec.spans] == ["m.f"]
    rec.enabled = False
    assert mod.f(2) == 3 and len(rec.spans) == 1
    # shipped to a Python worker it arrives as the plain function: the
    # recorder (and its lock) never travels
    shipped = pickle.loads(cloudpickle.dumps(mod.f))
    assert not isinstance(shipped, spans._Wrapper) and shipped(4) == 5


class _Frame:
    def __init__(self, n):
        self.n = n

    def count(self):
        return self.n


def test_a_raising_or_wrong_query_counts_as_failed():
    def good(spark, d):
        return _Frame(3)

    def wrong(spark, d):
        return _Frame(2)

    def boom(spark, d):
        raise RuntimeError("query blew up")

    fns = {"good": good, "wrong": wrong, "boom": boom}
    expected = {k: (["x"], [(1,), (2,), (3,)]) for k in fns}
    res = workloads.Result("registry")
    times = workloads.run_registry_pass(None, "d", ["good", "boom", "wrong"], fns, expected, res)
    assert res.attempted == 3 and res.failed == 2
    assert times[1] is None and times[0] is not None
    assert any("query blew up" in e for e in res.errors)
    res.setups = [(1.0, 2.0)]
    res.samples = [t[0] for t in times if t is not None]
    res.op_cpu = {"good": 2.0}
    out = res.final(traced=False)
    assert out["correct"] is False and out["failed"] == 2 and out["attempted"] == 3


def test_op_cpu_is_the_mean_of_each_kinds_median_so_scattered_bursts_drop_out():
    # bursts (9.0) hit query "a" in pass 2 and query "b" in pass 3
    cpu = iter([1.0, 2.0, 9.0, 2.0, 1.0, 9.0])

    def cycle(recorder, ops):
        ops.append(("a", 0.5, next(cpu)))
        ops.append(("b", 0.5, next(cpu)))

    ctx = workloads.Context(work="unused", seed=1, seconds=0)
    res = workloads.Result("registry")
    workloads._measure(ctx, res, None, None, cycle, min_cycles=3)
    assert res.op_cpu == {"a": 1.0, "b": 2.0} and len(res.samples) == 6
    res.setups = [(1.0, 1.0)]
    assert res.end_to_end()["op_cpu_s"] == 1.5


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(workloads.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == list(
        layers.PER_LAYER
    )


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "registry", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0 and p.stdout.strip() == ""
