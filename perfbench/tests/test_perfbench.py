"""Tests of the benchmark itself: seeded op lists, the percentile rule,
span self-time arithmetic, and the traced plan_point_20k attribution.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import types

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))
sys.path.insert(0, ROOT)

from perfbench import lineitem, metrics, plan_point  # noqa: E402
from perfbench.spans import Span, Tracer, covered, self_times, summarize  # noqa: E402

OP_LISTS = [plan_point.make_ops, lineitem.selective_ops, lineitem.ingest_ops]


@pytest.mark.parametrize("make", OP_LISTS)
def test_same_seed_same_ops(make):
    assert make(7) == make(7)
    assert make(7) != make(8)


def test_plan_point_exact_sets_match_layout():
    d = plan_point.domain(plan_point.N_FILES)
    for kind, sql in plan_point.make_ops(3, n=40):
        vals = plan_point.exact_values(sql)
        assert all(0 <= v < d for v in vals)
        rgs = plan_point.exact_row_groups(sql)
        if kind == "contradiction":
            assert not vals and not rgs
        else:
            assert len(rgs) >= 1
            for v in vals:
                g = v // plan_point.ROWS_PER_RG
                assert (plan_point.file_name(g // plan_point.RGS_PER_FILE),
                        g % plan_point.RGS_PER_FILE) in rgs


def test_percentile_sample_rule():
    assert metrics.min_samples(90) == 100
    assert metrics.min_samples(99) == 1000
    assert set(metrics.latency_summary([0.001] * 99)) == {"n", "p50_ms"}
    assert set(metrics.latency_summary([0.001] * 100)) == {"n", "p50_ms",
                                                          "p90_ms"}
    s = metrics.latency_summary([0.001] * 1000)
    assert s["n"] == 1000 and "p99_ms" in s
    assert metrics.latency_summary([]) == {"n": 0}


def test_percentile_interpolates():
    xs = [4, 1, 3, 2]
    assert metrics.percentile(xs, 50) == 2.5
    assert metrics.percentile(xs, 100 / 3) == pytest.approx(2.0)
    assert metrics.percentile([5], 90) == 5


def _span(name, start, end, parent=None):
    return Span(name, start, end, parent, None, "measure")


def test_covered_merges_overlaps():
    assert covered([]) == 0
    assert covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert covered([(0, 10), (2, 3)]) == 10


def test_self_time_subtracts_children_once():
    spans = [
        _span("root", 0.0, 10.0),
        _span("a", 1.0, 4.0, parent=0),
        _span("b", 3.0, 6.0, parent=0),   # overlaps a: union is 1..6
        _span("c", 9.0, 12.0, parent=0),  # runs past its parent: clipped
        _span("leaf", 1.5, 2.0, parent=1),
    ]
    assert self_times(spans) == pytest.approx([4.0, 2.5, 3.0, 3.0, 0.5])
    out = summarize(spans, {"measure"})
    assert out["root"]["self_s"] == pytest.approx(4.0)
    assert out["a"]["calls"] == 1


def test_wrap_records_nested_spans_and_unwraps():
    mod = types.ModuleType("perfbench_fake_mod")

    class Thing:
        def outer(self):
            return mod.helper() + 1

    def helper():
        return 41

    mod.helper = helper
    tr = Tracer()
    tr.phase = "measure"
    tr.wrap(Thing, "outer", "thing.outer")
    tr.wrap(mod, "helper", "mod.helper",
            after=lambda t, a, k, r: t.count("helper.result", r))
    assert Thing().outer() == 42
    names = [(s.name, s.parent) for s in tr.spans]
    assert names == [("thing.outer", None), ("mod.helper", 0)]
    assert tr.counts[("measure", "helper.result")] == 41
    tr.unwrap()
    assert mod.helper is helper
    Thing().outer()
    assert len(tr.spans) == 2


def test_traced_plan_point_reconciles():
    """plan_scan time is covered by its traced child layers plus its own
    self time, and catalog.all_files holds most of it."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "plan_point_20k",
         "--seed", "5", "--seconds", "2", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    last, detail = json.loads(lines[-1]), json.loads(lines[-2])["detail"]
    assert last["correct"] and last["failed"] == 0
    share = detail["plan_scan_attribution"]
    covered_share = sum(v for k, v in share.items()
                        if k.startswith("catalog.") or k in (
                            "pruning.rewrite", "self"))
    assert covered_share >= 0.9
    assert share["catalog.all_files"] > 0.5


def test_cached_layout_writes_once(tmp_path):
    d = plan_point.cached_layout(str(tmp_path), 6, 2)
    assert sorted(os.listdir(d)) == [plan_point.file_name(f) for f in range(6)]
    assert os.listdir(tmp_path) == [os.path.basename(d)]  # no leftovers
    stats = plan_point.layout_stats(d, 6)
    assert plan_point.cached_layout(str(tmp_path), 6, 2) == d
    assert plan_point.layout_stats(d, 6) == stats  # reused, not rewritten


def test_stop_marked_processes_ends_descendants():
    from perfbench import run

    mark = f"test-{os.getpid()}"
    env = dict(os.environ, **{run.RUN_MARK: mark})
    # a child that ignores SIGTERM and one whose parent has already gone
    stubborn = subprocess.Popen(
        [sys.executable, "-c", "import signal, time; "
         "signal.signal(signal.SIGTERM, signal.SIG_IGN); time.sleep(60)"],
        env=env)
    subprocess.run(["sh", "-c", "sleep 60 &"], env=env, check=True)
    assert len(run.marked_processes(mark)) == 2
    run.stop_marked_processes(mark, grace_s=0.5)
    assert run.marked_processes(mark) == []
    assert stubborn.wait(timeout=5) != 0
