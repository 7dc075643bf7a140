"""Fast checks of the benchmark itself; no Spark session is started.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import workloads  # noqa: E402
from instrument import plan_facts  # noqa: E402
from spans import Tracer, covered, self_times  # noqa: E402
from worker import layer_metrics  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
with open(os.path.join(HERE, "oracles.json")) as f:
    ORACLES = json.load(f)


def test_names_units_and_bounds():
    names = [w["name"] for w in SPEC["workloads"]]
    metrics = SPEC["end_to_end"] + SPEC["per_layer"]
    for name in names + [m["name"] for m in metrics]:
        assert workloads.NAME_RE.fullmatch(name) and len(name) <= 64, name
    assert len(set(names)) == len(names)
    assert len({m["name"] for m in metrics}) == len(metrics)
    assert set(names) == set(workloads.WORKLOADS)
    for m in SPEC["end_to_end"]:
        assert 0 < m["bound"] <= 0.25, m
    assert {"name": "setup_s", "unit": "s", "better": "lower",
            "bound": max(m["bound"] for m in SPEC["end_to_end"])} \
        in SPEC["end_to_end"]


def test_every_slot_resolves_and_has_an_oracle():
    import __spark_entry__ as entry
    registry = entry.queries()
    for name in workloads.WORKLOADS:
        ops = workloads.resolve(name, registry)
        assert len(ops) == len(set(ops)) == len(workloads.WORKLOADS[name])
        for op in ops:
            assert set(ORACLES["ops"][op]) == {"rows", "cols", "hash"}, op


def test_twin_slot_and_unknown_names():
    wl = workloads.WORKLOADS["curation_stream"]
    anchor = next(s for s in wl if s in workloads.TWINS)
    registry = {s: None for s in wl if s != anchor}
    registry[workloads.TWINS[anchor]] = None
    assert workloads.TWINS[anchor] in workloads.resolve(
        "curation_stream", registry)
    del registry[workloads.TWINS[anchor]]
    with pytest.raises(KeyError, match=anchor):
        workloads.resolve("curation_stream", registry)
    with pytest.raises(KeyError):
        workloads.resolve("no_such_workload", registry)


def test_pass_order_is_a_seeded_permutation():
    ops = workloads.WORKLOADS["erd_relational"]
    a = workloads.pass_order(ops, 7, 1)
    assert sorted(a) == sorted(ops)
    assert a == workloads.pass_order(ops, 7, 1)
    assert any(workloads.pass_order(ops, 7, p) != a for p in range(2, 6))


def test_covered_merges_overlaps_and_clips():
    assert covered((0, 10), []) == 0
    assert covered((0, 10), [(1, 3), (2, 5), (7, 8)]) == 5
    assert covered((0, 10), [(-5, 2), (9, 20)]) == 3
    assert covered((0, 10), [(11, 12), (4, 4)]) == 0


def test_self_times_of_nested_spans():
    clock = iter([0.0, 1.0, 2.0, 5.0, 6.0, 6.0, 10.0, 10.0]).__next__
    tr = Tracer(clock=clock)
    with tr.span("op") as op:
        with tr.span("construct") as c:
            with tr.span("cache_build") as b:
                pass
        with tr.span("execute") as e:
            pass
    drain = tr.add("stream_drain", 1.5, 2.5, c["id"])
    st = self_times(tr.spans)
    assert (b["parent"], c["parent"], e["parent"]) == \
        (c["id"], op["id"], op["id"])
    assert st[op["id"]] == pytest.approx(10 - 5 - 4)
    # the drain (1.5-2.5) overlaps the cache build (2-5): union 3.5
    assert st[c["id"]] == pytest.approx(5 - 3.5)
    assert st[b["id"]] == pytest.approx(3)
    assert st[drain["id"]] == pytest.approx(1)


def test_plan_facts_counts_exchanges_and_python_nodes():
    plan = """AdaptiveSparkPlan isFinalPlan=false
+- HashAggregate(keys=[k#1], functions=[count(1)])
   +- Exchange hashpartitioning(k#1, 32), ENSURE_REQUIREMENTS
      +- BroadcastHashJoin [k#1], [k#2], Inner, BuildRight
         :- ArrowEvalPython [f(v#3)#9]
         :  +- *(1) Scan parquet [k#1,v#3]
         :- ReusedExchange [k#2], Exchange hashpartitioning(k#2, 32)
         +- BroadcastExchange HashedRelationBroadcastMode
            +- FlatMapGroupsInPandas [k#2], g(k#2)
"""
    assert plan_facts(plan) == {"exchanges": 2, "python_evals": 2}


def _fake_pass(pass_no, traced, op_names):
    rec = {"wall_s": 1.0, "construct_s": 0.5, "plan_s": 0.1,
           "exec_s": 0.4, "construct_jobs": 1, "stream_jobs": 0,
           "stream_stages": 0, "exchanges": 1, "python_evals": 0,
           "jobs": 2, "stages": 3, "tasks": 8, "task_cpu_s": 1.0,
           "task_run_s": 1.2, "input_mb": 1.0, "output_mb": 0.0,
           "shuffle_read_mb": 0.5, "shuffle_write_mb": 0.5,
           "spill_mb": 0.0}
    ops = [{"op": n, **rec} for n in op_names] if traced else \
        [{"op": n, "wall_s": 0.9} for n in op_names]
    p = {"pass": pass_no, "traced": traced, "ops": ops,
         "op_s": sum(r["wall_s"] for r in ops),
         "wall_s": sum(r["wall_s"] for r in ops) + 0.1}
    if traced:
        p["counts"] = {"cache_hits": 2}
        p["catalog_tables"] = 0
    return p


def test_layer_metrics_cover_the_declared_per_layer_names():
    names = ["a_op", "b_op"]
    groups = {"a_op": "operators", "b_op": "llm"}
    cold = _fake_pass(0, True, names)
    warm = [_fake_pass(i + 2, i % 4 in (1, 2), names) for i in range(4)]
    m = layer_metrics(cold, warm, groups, 3.0, 1)
    m["process.peak_rss_mb"] = 1.0  # sampled by run.py
    assert list(m) == [x["name"] for x in SPEC["per_layer"]]
    assert m["exec.jobs"] == 4
    assert m["operators.s"] == m["llm.s"] == 1.0
    # traced phases sum to 1.0 s per op, untraced ops take 0.9 s
    assert m["trace.phase_gap_pct"] == pytest.approx(100 * (1.0 / 0.9 - 1))
    assert m["trace.overhead_pct"] == pytest.approx(100 * (2 - 1.8) / 1.8)
