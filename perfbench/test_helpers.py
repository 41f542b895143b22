"""Tests for the benchmark's own helpers (no Spark session needed).

    python -m pytest perfbench/test_helpers.py -q
"""

from __future__ import annotations

import json
import os
import threading

import pytest

from perfbench import layers
from perfbench.sparkstats import COUNTERS, diff
from perfbench.stats import nearest_rank, tail, tracing_overhead
from perfbench.tracing import Span, Tracer, covered, self_times
from perfbench.workloads import WORKLOADS, Op

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# --- tail percentile -------------------------------------------------------

def test_tail_picks_highest_level_with_ten_beyond():
    values = list(range(1, 101))  # 100 samples
    t = tail(values)
    # p99 leaves 1 beyond, p95 leaves 5, p90 leaves exactly 10
    assert t == {"percentile": 90.0, "value": 90, "samples": 100, "beyond": 10}


def test_tail_large_sample_reaches_p99():
    values = list(range(2000))
    t = tail(values)
    assert t["percentile"] == 99.0
    assert t["beyond"] == 20 and t["samples"] == 2000


def test_tail_none_when_too_few_samples():
    assert tail(list(range(19))) is None  # p50 leaves only 9 beyond
    t = tail(list(range(20)))
    assert t["percentile"] == 50.0 and t["beyond"] == 10


def test_nearest_rank():
    assert nearest_rank([5, 1, 3], 50) == 3
    assert nearest_rank([5, 1, 3], 100) == 5
    with pytest.raises(ValueError):
        nearest_rank([], 50)


# --- span self time ---------------------------------------------------------

def _span(sid, start, end, parent=None, name="s"):
    return Span(sid, name, start, end, parent, 0)


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([], 0, 10) == 0


def test_self_time_subtracts_child_union_once():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 4.0, parent=1),
        _span(3, 3.0, 6.0, parent=1),  # overlaps span 2 (another thread)
        _span(4, 2.0, 3.0, parent=2),  # grandchild: not subtracted from 1
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(5.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_tracer_parents_ops_unpatch_and_dump(tmp_path):
    class Base:
        def inherited(self):
            return "base"

    class Thing(Base):
        def own(self, x):
            return x + 1

    tr = Tracer()
    tr.patch(Thing, "own", "thing.own", describe=lambda a, k, r: {"r": r})
    tr.patch(Thing, "inherited", "thing.inherited", before=lambda a, k: {"b": 1})
    other: list = []
    with tr.op_scope(7) as root:
        with tr.span("outer") as outer:
            assert Thing().own(1) == 2
        t = threading.Thread(target=lambda: other.append(Thing().inherited()))
        t.start()
        t.join(timeout=5)
    assert not t.is_alive() and other == ["base"]
    tr.unpatch()
    path = tmp_path / "spans.jsonl"
    tr.dump(str(path))
    dumped = [json.loads(line) for line in path.read_text().splitlines()]
    assert len(dumped) == len(tr.spans) and all("self_s" in d for d in dumped)
    assert "inherited" not in vars(Thing) and Thing().inherited() == "base"
    assert Thing.own.__name__ == "own" and not hasattr(Thing.own, "__wrapped__")
    by = {sp.name: sp for sp in tr.spans}
    assert by["thing.own"].parent == outer.sid and by["thing.own"].attrs == {"r": 2}
    assert by["thing.inherited"].parent == root.sid  # other thread -> op root
    assert by["thing.inherited"].attrs == {"b": 1}
    assert {sp.op for sp in tr.spans} == {7}


# --- status-store diffing ---------------------------------------------------

def _stage(status="COMPLETE", run_ms=0, done=0, failed=0, killed=0, launched=None, **kw):
    row = {field: 0 for field, _ in COUNTERS.values()}
    row.update(status=status, executorRunTime=run_ms, numCompleteTasks=done,
               numFailedTasks=failed, numKilledTasks=killed, firstTaskLaunchedTime=launched)
    row.update(kw)
    return row


def test_diff_counts_new_and_grown_stages_once():
    before = {
        (1, 0): _stage(run_ms=5000, done=4),                     # finished earlier
        (2, 0): _stage(status="ACTIVE", run_ms=1000, done=1),    # still running
    }
    after = {
        (1, 0): _stage(run_ms=5000, done=4),
        (2, 0): _stage(run_ms=3000, done=3, killed=2),
        (3, 0): _stage(run_ms=2000, done=2, failed=1, launched=1_700_000_000_500,
                       inputBytes=100, diskBytesSpilled=7),
        (4, 0): _stage(status="SKIPPED", run_ms=999, done=9),
    }
    d = diff(before, after)
    assert d["stages"] == 1
    assert d["executor_run_s"] == pytest.approx(4.0)
    assert d["tasks_done"] == 4 and d["tasks_failed"] == 1 and d["tasks_killed"] == 2
    assert d["tasks"] == 7
    assert d["input_bytes"] == 100 and d["spill_bytes"] == 7
    assert d["first_task_launch"] == pytest.approx(1_700_000_000.5)


def test_diff_of_identical_snapshots_is_zero():
    snap = {(1, 0): _stage(run_ms=10, done=1, launched=1)}
    d = diff(snap, snap)
    assert d["stages"] == 0 and d["tasks"] == 0 and d["first_task_launch"] is None


# --- tracing overhead and per-layer report ----------------------------------

def test_tracing_overhead_report():
    r = tracing_overhead([10.0, 10.0], [11.0])
    assert r["overhead_pct"] == pytest.approx(10.0)
    assert r["untraced_ops"] == 2 and r["traced_ops"] == 1
    with pytest.raises(ValueError):
        tracing_overhead([], [1.0])


def _spark_counters(**kw):
    out = {name.split(".", 1)[1]: 0.0 for name, _ in layers.SPARK_METRICS}
    out.update(kw)
    return out


def test_per_layer_reports_every_metric_and_overhead_by_round():
    def etl_pass(round_, traced, q3_s, stream_s, **counters):
        return Op("pass", round_, traced, wall_s=q3_s + stream_s, spark=_spark_counters(**counters),
                  facts={"query_s": {"q3_shipping_priority": q3_s,
                                     "stream_tumbling_counts": stream_s}})

    ops = [
        etl_pass(0, False, 1.0, 3.0),
        etl_pass(1, True, 2.0, 3.0, stages=3),
        etl_pass(2, True, 1.0, 4.0, stages=5),
        etl_pass(3, True, 4.0, 2.0, stages=4),
    ]
    spans = [
        Span(1, "op", 100.0, 105.0, None, 1),
        Span(2, "plans.build", 100.0, 100.5, 1, 1),
        Span(3, "plans.collect", 100.5, 102.4, 1, 1),
        Span(4, "op", 106.0, 111.0, None, 2),
        Span(5, "plans.build", 106.0, 107.0, 4, 2),
        Span(6, "plans.collect", 106.2, 106.4, 5, 2),  # inside build: not the action
        Span(7, "plans.collect", 107.0, 108.4, 4, 2),
    ]
    out = layers.per_layer(ops, spans, {"session.boot_s": 8.0}, cpus=4)
    assert set(out) == {name for name, _ in layers.PER_LAYER}
    assert out["session.boot_s"] == 8.0
    assert out["plans.build_s"] == pytest.approx(0.75)
    assert out["plans.action_s"] == pytest.approx((1.9 + 1.4) / 2)
    assert out["query.q3_shipping_priority_s"] == 2.0  # median over traced passes
    assert out["query.stream_tumbling_counts_s"] == 3.0
    assert out["spark.stages"] == 4.0
    assert out["jobs.journal_bytes"] == 0.0
    assert out["trace.overhead_pct"] == pytest.approx(100 / 3)
    assert out["trace.spans"] == 7


# --- BENCHMARK.json matches the code ----------------------------------------

def test_benchmark_json_names_match_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["end_to_end"]] == [n for n, _ in layers.END_TO_END]
    assert [m["unit"] for m in spec["end_to_end"]] == [u for _, u in layers.END_TO_END]
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == layers.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
