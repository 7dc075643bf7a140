"""bench.py's sidecar contract, with every Spark call stubbed: only a
full-HEADLINE run rewrites ``bench_detail.json``."""

from __future__ import annotations

import json
import os
import sys
from types import SimpleNamespace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry  # noqa: E402
import bench  # noqa: E402
from gcp_datalake_utils_spark import session  # noqa: E402


def _stub_spark(monkeypatch, tmp_path):
    fake = SimpleNamespace(
        sparkContext=SimpleNamespace(setLogLevel=lambda level: None))
    monkeypatch.setattr(session, "get_spark", lambda *a, **k: fake)
    monkeypatch.setattr(entry, "queries",
                        lambda: {"q1": None, "q2": None})
    monkeypatch.setattr(bench, "ROOT", str(tmp_path))
    monkeypatch.setattr(bench, "HEADLINE", ["q1", "q2"])
    monkeypatch.setattr(bench, "prev_slowest_15", lambda: [])
    monkeypatch.setattr(bench, "_warm_up", lambda fn, spark: (0.0, 1))
    monkeypatch.setattr(bench, "_run_once", lambda fn, spark, small: 0.5)


def test_subset_run_leaves_detail_untouched(monkeypatch, tmp_path,
                                            capsys):
    _stub_spark(monkeypatch, tmp_path)
    detail = tmp_path / "bench_detail.json"
    detail.write_text('{"queries": {"committed": 1.0}}')
    monkeypatch.setattr(sys, "argv", ["bench.py", "q1"])
    bench.main()
    assert detail.read_text() == '{"queries": {"committed": 1.0}}'
    assert json.loads(capsys.readouterr().out)["queries"] == {"q1": 0.5}


def test_full_run_rewrites_detail(monkeypatch, tmp_path):
    _stub_spark(monkeypatch, tmp_path)
    detail = tmp_path / "bench_detail.json"
    detail.write_text('{"queries": {"committed": 1.0}}')
    monkeypatch.setattr(sys, "argv", ["bench.py"])
    bench.main()
    assert json.loads(detail.read_text())["queries"] == {"q1": 0.5,
                                                        "q2": 0.5}
