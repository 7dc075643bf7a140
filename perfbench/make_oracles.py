"""Compute the oracle fingerprints the benchmark checks results against.

Runs each benchmarked op's DuckDB oracle (``oracle_sql()``) over the
sf0.1 tables through tools/check.py's ``run_duck`` and ``table_hash``,
and writes row count, sorted column names and value hash per op to
perfbench/oracles.json, with the sha256 of every table file so run.py
refuses data the fingerprints were not taken from. This runs outside
the timed process because some oracles take over a minute.

    python3 perfbench/make_oracles.py

It rewrites the whole file: every op (anchor and twin) of every
workload, and the digest of every table.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run  # noqa: E402
import workloads  # noqa: E402
from worker import _load_check  # noqa: E402


def main() -> int:
    import __spark_entry__ as entry
    check = _load_check(ROOT)
    oracles = entry.oracle_sql()
    names = sorted({n for slots in workloads.WORKLOADS.values()
                    for slot in slots
                    for n in (slot, workloads.TWINS.get(slot))
                    if n in oracles})
    path = os.path.join(HERE, "oracles.json")
    out = {"data": {t: run.sha256(os.path.join(run.DATA, t))
                    for t in sorted(os.listdir(run.DATA))},
           "ops": {}}
    for name in names:
        t0 = time.time()
        rows, cols = check.run_duck(oracles[name], run.DATA)
        out["ops"][name] = {"rows": len(rows), "cols": sorted(cols),
                            "hash": check.table_hash(rows, cols)}
        print(f"{name}: {len(rows)} rows ({time.time() - t0:.1f} s)",
              flush=True)
    # replace in one step: a benchmark run reading the file concurrently
    # sees the old or the new fingerprints, never a partial set
    with open(path + ".tmp", "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    os.replace(path + ".tmp", path)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
