"""One benchmark run in a fresh process, started by ``run.py``.

It starts the program's Spark session and runs the cold pass: the
first pass over the workload's ops in this process, in slot order.
``SETTLE_PASSES`` untimed warm passes follow. Then timed warm passes
run in the seed's order, until the run's seconds are spent and at
least ``MIN_PASSES`` ran. Last, every op's result is checked against
its oracle fingerprint.

A pass runs each op once, to completion. Results of at most
``COLLECT_CAP`` rows (per the oracle) are collected; larger ones go
through the noop sink. With tracing on, exactly four timed passes run
and the cold pass and the 2nd and 3rd timed pass are traced; the
untraced timed passes around them give the tracing overhead.

Usage (normally through run.py): python3 perfbench/worker.py '<json>'
"""

from __future__ import annotations

import contextlib
import importlib.util
import json
import os
import statistics
import sys
import time
from collections import Counter

import workloads
from instrument import Probes, plan_facts
from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
COLLECT_CAP = 100_000
MIN_PASSES = 3
SETTLE_PASSES = 2


def _load_check(root: str):
    spec = importlib.util.spec_from_file_location(
        "perfbench_check", os.path.join(root, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _sum(records: list[dict], key: str) -> float:
    return sum(r.get(key, 0.0) for r in records)


class Runner:
    def __init__(self, spark, registry: dict, data: str,
                 small: dict[str, bool], probes=None) -> None:
        self.spark = spark
        self.registry = registry
        self.data = data
        self.small = small
        self.probes = probes
        self.results: dict[str, tuple[list, list[str]]] = {}
        self.errors: list[str] = []

    def _action(self, name: str, df):
        if self.small[name]:
            self.results[name] = (df.collect(), df.columns)
        else:
            # not count(): Catalyst drops row-preserving work under
            # count; the noop sink materializes every row and column
            df.write.format("noop").mode("overwrite").save()

    def _op(self, name: str) -> dict:
        t0 = time.time()
        self._action(name, self.registry[name](self.spark, self.data))
        return {"op": name, "wall_s": time.time() - t0}

    def _traced_op(self, name: str, pass_no: int) -> dict:
        probes, tracer = self.probes, self.probes.tracer
        group = f"pb{pass_no}.{name}"
        with tracer.span("op", op=name, pass_no=pass_no) as op_span:
            with tracer.span("construct") as cs:
                probes.set_group(group + ".construct")
                df = self.registry[name](self.spark, self.data)
            with tracer.span("plan") as ps:
                probes.set_group(group + ".plan")
                plan = df._jdf.queryExecution().executedPlan()
            with tracer.span("execute") as es:
                probes.set_group(group + ".execute")
                self._action(name, df)
        probes.clear_group()
        probes.settle()
        run_ids = probes.adopt_streams(cs)
        own = probes.job_stats([group + ".construct"])
        stream = probes.job_stats(run_ids)
        rest = probes.job_stats([group + ".plan", group + ".execute"])
        rec = {"op": name,
               "wall_s": op_span["end"] - op_span["start"],
               "construct_s": cs["end"] - cs["start"],
               "plan_s": ps["end"] - ps["start"],
               "exec_s": es["end"] - es["start"],
               "construct_jobs": own["jobs"] + stream["jobs"],
               "stream_jobs": stream["jobs"],
               "stream_stages": stream["stages"],
               **plan_facts(plan.toString()),
               **{k: own[k] + stream[k] + rest[k] for k in own}}
        op_span["attrs"].update(rec)
        return rec

    def run_pass(self, ops: list[str], pass_no: int, traced: bool) -> dict:
        counts0 = Counter(self.probes.counts) if traced else None
        if traced:
            self.probes.skip_streams()  # started in an untraced pass
        records = []
        t0 = time.time()
        with (self.probes.tracer.span("pass", pass_no=pass_no) if traced
              else contextlib.nullcontext()):
            for name in ops:
                try:
                    records.append(self._traced_op(name, pass_no) if traced
                                   else self._op(name))
                except Exception as e:  # noqa: BLE001 - counted, run fails
                    self.errors.append(f"pass {pass_no} {name}: {e!r}"[:500])
        out = {"pass": pass_no, "traced": traced,
               "wall_s": time.time() - t0,
               "op_s": _sum(records, "wall_s"), "ops": records}
        if traced:
            out["counts"] = dict(self.probes.counts - counts0)
            out["catalog_tables"] = self.probes.catalog_tables()
        return out

    def verify(self, ops: list[str], oracles: dict, check) -> None:
        """Fingerprint each op's result with tools/check.py's
        table_hash and compare it with the oracle's fingerprint; a
        mismatch is recorded as an error."""
        for name in ops:
            try:
                if name in self.results:
                    rows, cols = self.results[name]
                else:
                    df = self.registry[name](self.spark, self.data)
                    rows, cols = df.collect(), df.columns
                got = {"rows": len(rows), "cols": sorted(cols),
                       "hash": check.table_hash([tuple(r) for r in rows],
                                                cols)}
            except Exception as e:  # noqa: BLE001 - counted, run fails
                got = {"error": repr(e)[:300]}
            want = oracles[name]
            if got != want:
                self.errors.append(f"verify {name}: got {got} "
                                   f"want {want}"[:500])


def layer_metrics(cold: dict, warm: list[dict], groups: dict[str, str],
                  session_start_s: float, memo_entries: int) -> dict:
    """Per-layer figures of a traced run: medians over the traced warm
    passes, the cold pass's breakdown, and the tracing overhead against
    the untraced warm passes."""
    traced = [p for p in warm if p["traced"]]
    plain = [p for p in warm if not p["traced"]]

    def med(fn) -> float:
        return statistics.median(fn(p) for p in traced)

    def ops_sum(key: str):
        return lambda p: _sum(p["ops"], key)

    def count(key: str):
        return lambda p: p["counts"].get(key, 0)

    m = {
        "session.start_s": session_start_s,
        "session.cache_builds": cold["counts"].get("cache_builds", 0)
        + memo_entries,
        "session.cache_build_s": cold["counts"].get("cache_build_s", 0.0),
        "session.cache_hits": med(count("cache_hits")),
        "session.warm_cache_builds": med(count("cache_builds")),
        "session.memo_entries": memo_entries,
        "construct.s": med(ops_sum("construct_s")),
        "construct.jobs": med(ops_sum("construct_jobs")),
        "plan.s": med(ops_sum("plan_s")),
        "plan.exchanges": med(ops_sum("exchanges")),
        "plan.python_evals": med(ops_sum("python_evals")),
        "exec.s": med(ops_sum("exec_s")),
    }
    for key in ("jobs", "stages", "tasks", "task_cpu_s", "task_run_s",
                "input_mb", "output_mb", "shuffle_read_mb",
                "shuffle_write_mb", "spill_mb"):
        m[f"exec.{key}"] = med(ops_sum(key))
    m["sources.fanout_fired"] = med(count("fanout_fired"))
    m["sources.fanout_skipped"] = med(count("fanout_skipped"))
    m["stream.drains"] = med(count("stream_drains"))
    m["stream.batches"] = med(count("stream_batches"))
    m["stream.add_batch_s"] = med(count("stream_add_batch_s"))
    m["stream.jobs"] = med(ops_sum("stream_jobs"))
    m["stream.stages"] = med(ops_sum("stream_stages"))
    m["stream.catalog_tables"] = traced[-1]["catalog_tables"]
    for group in workloads.MODULE_GROUPS:
        m[f"{group}.s"] = med(lambda p: sum(
            r["wall_s"] for r in p["ops"] if groups[r["op"]] == group))
    m["cold.construct_s"] = _sum(cold["ops"], "construct_s")
    m["cold.plan_s"] = _sum(cold["ops"], "plan_s")
    m["cold.exec_s"] = _sum(cold["ops"], "exec_s")
    m["cold.jobs"] = _sum(cold["ops"], "jobs")
    plain_op_s = statistics.mean(p["op_s"] for p in plain)
    traced_op_s = statistics.mean(p["op_s"] for p in traced)
    m["trace.overhead_pct"] = 100.0 * (traced_op_s - plain_op_s) / plain_op_s
    m["trace.bookkeeping_s"] = med(lambda p: p["wall_s"] - p["op_s"])
    m["trace.phase_gap_pct"] = max(
        abs(g) for g in phase_gaps_pct(warm).values())
    return m


def phase_gaps_pct(warm: list[dict]) -> dict[str, float]:
    """Per op: how far its median construct + plan + execute time in
    the traced passes is from its median wall time in the untraced
    passes, in percent of the latter. This is how well the phase spans
    account for the op's real wall time, tracing cost included."""
    def op_median(traced: bool, name: str, fn) -> float:
        return statistics.median(fn(r) for p in warm if p["traced"] == traced
                                 for r in p["ops"] if r["op"] == name)

    names = {r["op"] for p in warm for r in p["ops"]}
    return {name: 100.0 * (op_median(True, name, lambda r: r["construct_s"]
                                     + r["plan_s"] + r["exec_s"])
                           / op_median(False, name, lambda r: r["wall_s"])
                           - 1.0)
            for name in sorted(names)}


def main(cfg: dict) -> int:
    root = cfg["root"]
    sys.path.insert(0, root)
    import __spark_entry__ as entry
    from gcp_datalake_utils_spark import queries_registry
    from gcp_datalake_utils_spark.session import get_spark

    check = _load_check(root)
    registry = entry.queries()
    ops = workloads.resolve(cfg["workload"], registry)
    with open(os.path.join(HERE, "oracles.json")) as f:
        oracles = json.load(f)["ops"]
    missing = [name for name in ops if name not in oracles]
    if missing:
        raise SystemExit(f"no oracle fingerprint for {missing}; run "
                         "perfbench/make_oracles.py")
    small = {name: oracles[name]["rows"] <= COLLECT_CAP for name in ops}
    groups = {name: workloads.owner(registry[name], queries_registry)
              for name in ops}

    t0 = time.time()
    spark = get_spark("perfbench")
    session_start_s = time.time() - t0
    spark.sparkContext.setLogLevel("ERROR")
    traced = bool(cfg["trace"])
    probes = None
    if traced:
        probes = Probes(spark, Tracer())
        probes.install()
    runner = Runner(spark, registry, cfg["data"], small, probes)
    seed = cfg["seed"]

    # the cold pass keeps slot order on every seed, so each run warms
    # the JIT and builds the session caches along the same path
    cold = runner.run_pass(ops, 0, traced)
    setup_s = time.time() - cfg["t_spawn"]

    # the first SETTLE_PASSES warm passes are not timed: right after the
    # cold pass the JIT is still settling, most of all on a busy host,
    # and op times keep falling for a few passes. Timed passes follow
    # until the run's seconds are spent and at least MIN_PASSES ran.
    # Traced runs time four passes in the order untraced, traced,
    # traced, untraced, so that drift cancels out of the overhead figure.
    settle = [runner.run_pass(workloads.pass_order(ops, seed, n), n, False)
              for n in range(1, 1 + SETTLE_PASSES)]
    warm: list[dict] = []
    deadline = time.time() + cfg["seconds"]
    while (len(warm) < 4 if traced
           else time.time() < deadline or len(warm) < MIN_PASSES):
        pass_no = len(warm) + 1 + SETTLE_PASSES
        traced_pass = traced and len(warm) in (1, 2)
        warm.append(runner.run_pass(workloads.pass_order(ops, seed, pass_no),
                                    pass_no, traced_pass))

    runner.verify(ops, oracles, check)
    attempted = len(ops) * (1 + SETTLE_PASSES + len(warm)) + len(ops)
    failed = len(runner.errors)
    plain = [p["wall_s"] for p in warm if not p["traced"]]
    out = {
        "setup_s": setup_s,
        "pass_s": statistics.median(plain),
        "passes": [p["wall_s"] for p in warm],
        "cold_s": cold["wall_s"],
        "settle_s": [p["wall_s"] for p in settle],
        "session_start_s": session_start_s,
        "attempted": attempted,
        "failed": failed,
        "errors": runner.errors,
        "ops": ops,
        "per_op": {name: [r["wall_s"] for p in [cold, *settle, *warm]
                          for r in p["ops"] if r["op"] == name]
                   for name in ops},
        "spark_version": spark.version,
        "java_version": spark.sparkContext._jvm.System.getProperty(
            "java.version"),
    }
    if traced:
        out["per_layer"] = layer_metrics(cold, warm, groups,
                                         session_start_s,
                                         probes.memo_entries())
        out["phase_gap_pct"] = phase_gaps_pct(warm)
        out["op_records"] = [r for p in [cold, *warm] if p["traced"]
                             for r in p["ops"]]
        probes.tracer.write(cfg["spans_path"])
    with open(cfg["result_path"], "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(json.loads(sys.argv[1])))
