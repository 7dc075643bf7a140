"""Derive the correctness window from the committed run records.

The per-round correctness gate hashes the first 50 entries of
``queries()`` and commits the outcome as ``CORRECTNESS_r<n>.json``
(row name -> result, in the order it hashed them). ``derive`` points
the next window at the weakest evidence, in this order:

1. oracled rows whose newest record is not hash-green (a red hash or
   an ``err``), oldest record first;
2. oracled rows that appear in no record, in registration order;
3. the remaining oracled rows, oldest newest-green round first; ties
   go by the row's position in that round's record.

Rows without an oracle never enter the window. Record names that are
no longer registered are ignored, so retiring a row needs no edit to
the records. Refresh ``queries_registry._WINDOW`` after a new record
lands with:

    python tools/window.py
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections.abc import Iterable, Mapping

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW = 50


def load_records() -> list[dict]:
    """Every committed ``CORRECTNESS_r<n>.json``, oldest round first."""
    rounds = sorted(
        (int(m.group(1)), name) for name in os.listdir(ROOT)
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", name)))
    out = []
    for _, name in rounds:
        with open(os.path.join(ROOT, name)) as f:
            out.append(json.load(f))
    return out


def derive(records: list[Mapping[str, Mapping]], names: Iterable[str],
           oracles: Iterable[str]) -> list[str]:
    """The next window: ``WINDOW`` names from ``names`` (registration
    order), ordered by the rules in the module docstring. ``records``
    are the per-round results, oldest round first."""
    newest: dict[str, tuple[int, int, bool]] = {}
    for rnd, record in enumerate(records):
        for pos, (name, row) in enumerate(record.items()):
            green = row.get("hash_match") is True and not row.get("err")
            newest[name] = (rnd, pos, green)
    oracled = set(oracles)
    rows = [n for n in names if n in oracled]
    hashed = [n for n in rows if n in newest]
    by_age = sorted(hashed, key=lambda n: newest[n][:2])
    red = [n for n in by_age if not newest[n][2]]
    never = [n for n in rows if n not in newest]
    green = [n for n in by_age if newest[n][2]]
    return [*red, *never, *green][:WINDOW]


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    from gcp_datalake_utils_spark import queries_registry as qr

    # QUERIES is already rotated, but the order only breaks ties among
    # never-hashed rows, and those inside the window already lead the
    # rest in registration order
    window = derive(load_records(), qr.QUERIES, qr.ORACLES)
    print("[\n" + "".join(f'    "{n}",\n' for n in window) + "]")
