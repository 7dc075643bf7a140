"""The benchmark's workloads: which registry ops one pass runs, and how
op names resolve against ``__spark_entry__.queries()``.

Importing this module starts no Spark session; resolution only reads
the registry dict.
"""

from __future__ import annotations

import random
import re
import types

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")

# Bit-identical pairs share one op slot: the slot runs the anchor while
# it is registered and its twin once the anchor is retired, so folding
# a pair into one implementation is measured instead of shrinking the
# pass.
TWINS = {
    "kmeans_iterate": "kmeans_iterate_arrow",
    "lm_quality_bins": "lm_quality_bins_arrow",
    "repetition_flags": "repetition_flags_arrow",
    "pq_codes": "pq_codes_arrow",
}

# Op slots per workload (the reasons are in BENCHMARK.json and
# README.md). The lists are small because every run starts a JVM and
# pays a cold pass, and the benchmark's whole schedule of runs has a
# fixed time budget.
WORKLOADS: dict[str, list[str]] = {
    # execution-bound; the cold pass builds the data-test memo
    "erd_relational": [
        "data_test_report",
        "classify_pk_fk",
        "grid_layout_coords",
        "pricing_summary",
        "top_orders_per_customer",
    ],
    # construction-bound: jobs run inside fn(); a session-cached model,
    # a scaled_repartition fan-out, a stream drain and a snapshot write
    "curation_stream": [
        "repetition_flags",
        "semantic_dedup",
        "corpus_vocabulary",
        "windowed_counts_stream",
        "restore_summary",
    ],
}

# top-level program packages an op's time is grouped under
MODULE_GROUPS = ("operators", "llm", "streaming", "sources", "formatters")


def resolve(workload: str, registry: dict) -> list[str]:
    """Registry names one pass runs, in slot order. An op slot names
    the anchor of a twin pair or a plain op; a name the registry does
    not know fails the run instead of being skipped."""
    if workload not in WORKLOADS:
        raise KeyError(f"unknown workload {workload!r}; "
                       f"known: {sorted(WORKLOADS)}")
    out = []
    for slot in WORKLOADS[workload]:
        if slot in registry:
            out.append(slot)
        elif TWINS.get(slot) in registry:
            out.append(TWINS[slot])
        else:
            raise KeyError(f"op slot {slot!r} of {workload!r} resolves to "
                           "no registered query")
    return out


def pass_order(ops: list[str], seed: int, pass_no: int) -> list[str]:
    """The seed's permutation of ``ops`` for one pass."""
    order = list(ops)
    random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order


def owner(fn, registry_module: types.ModuleType) -> str:
    """Program package that owns a registered op: the function's own
    module, or for a registry lambda the module its body calls into."""
    mod = fn.__module__
    if mod == registry_module.__name__:
        for name in fn.__code__.co_names:
            target = getattr(registry_module, name, None)
            if isinstance(target, types.ModuleType):
                mod = target.__name__
                break
    parts = mod.split(".")
    return parts[1] if len(parts) > 2 else "other"
