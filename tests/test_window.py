"""The correctness window and the bench watchlist are derived from the
committed run records (tools/window.py, bench.prev_slowest_15). No
Spark session is started here."""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402
from tools.window import derive, load_records  # noqa: E402

GREEN = {"hash_match": True, "err": None}
RED = {"hash_match": False, "err": None}
ERR = {"hash_match": None, "err": "Traceback ..."}


def test_committed_window_is_derived_from_records():
    from gcp_datalake_utils_spark import queries_registry as qr
    assert qr._WINDOW == derive(load_records(), qr.QUERIES, qr.ORACLES)
    assert list(qr.QUERIES)[:50] == qr._WINDOW


def test_derive_ordering_rules():
    names = ["a", "b", "c", "d", "e", "f", "g", "x"]
    oracles = set(names) - {"x"}
    records = [
        {"c": GREEN, "d": RED, "retired": RED, "x": RED},
        {"e": GREEN, "b": RED, "d": GREEN},
        {"f": ERR},
    ]
    # red/err by age (b, f), never hashed in registration order (a, g),
    # then greens oldest round first (c), ties by record position (e
    # before d although d registered first); d's newest record decides;
    # the retired name and the oracle-less x never appear
    assert derive(records, names, oracles) == [
        "b", "f", "a", "g", "c", "e", "d"]


def test_derive_caps_at_window_size():
    names = [f"q{i}" for i in range(60)]
    assert derive([], names, names) == names[:50]


def _bench_record(root, rnd: int, queries: dict) -> None:
    with open(os.path.join(root, f"BENCH_r{rnd}.json"), "w") as f:
        json.dump({"parsed": {"queries": queries}}, f)


def test_watchlist_reads_newest_record(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "ROOT", str(tmp_path))
    _bench_record(tmp_path, 9, {"pricing_summary": 1.0})
    _bench_record(tmp_path, 10, {n: float(i) for i, n in
                                 enumerate(bench.HEADLINE[:20])})
    assert bench.prev_slowest_15() == bench.HEADLINE[19:4:-1]


def test_watchlist_raises_on_name_not_in_headline(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "ROOT", str(tmp_path))
    _bench_record(tmp_path, 14, {"pricing_summary": 1.0,
                                 "retired_row": 2.0})
    with pytest.raises(ValueError, match="retired_row"):
        bench.prev_slowest_15()


def test_watchlist_maps_retired_name_to_survivor(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "ROOT", str(tmp_path))
    _bench_record(tmp_path, 14, {"pricing_summary": 1.0,
                                 "kmeans_iterate": 3.0,
                                 "kmeans_iterate_arrow": 2.0})
    assert bench.prev_slowest_15() == ["kmeans_iterate_arrow",
                                       "pricing_summary"]
