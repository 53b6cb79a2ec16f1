"""The driver-facing surface outside the query registry: ``bench.py``'s
one-line JSON report and ``__spark_entry__.queries()``'s ordering."""

from __future__ import annotations

import json
import os
from types import SimpleNamespace

import __spark_entry__ as entry
import bench
from my_cudf_spark.queries import load_registry
from tests.conftest import SF_DIR


def test_bench_reports_this_run_only(spark, tmp_path, monkeypatch, capsys):
    # Two stub queries plus the session warm-up key; a stream_* name
    # takes the longer repeat count.
    registry = {
        name: SimpleNamespace(fn=lambda s, sf, n=n: s.range(n))
        for name, n in (("ndsh_q1", 3), ("agg_stub", 10), ("stream_stub", 20))
    }
    root = os.path.dirname(os.path.abspath(bench.__file__))
    before = set(os.listdir(root))
    monkeypatch.setattr(bench, "get_spark", lambda name: spark)
    monkeypatch.setattr(bench, "load_registry", lambda: registry)
    monkeypatch.setattr(bench, "SF_DIR", SF_DIR)
    monkeypatch.setattr(bench, "BENCH_LOCAL", str(tmp_path / "BENCH_LOCAL.json"))
    monkeypatch.setattr(spark, "stop", lambda: None)  # the shared test session
    monkeypatch.chdir(tmp_path)

    bench.main()

    last = capsys.readouterr().out.strip().splitlines()[-1]
    result = json.loads(last)
    assert set(result) == {"metric", "value", "unit", "queries", "sf"}
    assert set(result["queries"]) == set(registry)
    assert all(isinstance(v, float) for v in result["queries"].values())
    assert result["value"] == round(sum(result["queries"].values()), 4)
    with open(tmp_path / "BENCH_LOCAL.json") as f:
        assert json.load(f) == result
    # BENCH_LOCAL.json is the only file a run writes: no per-run
    # snapshot directory, here or beside bench.py.
    assert os.listdir(tmp_path) == ["BENCH_LOCAL.json"]
    assert set(os.listdir(root)) == before


def test_queries_order_never_verified_then_oldest_round(monkeypatch):
    names = list(load_registry())
    # every fifth query never verified, the rest spread over rounds 1-4
    seen = {n: i % 4 + 1 for i, n in enumerate(names) if i % 5}
    monkeypatch.setattr(entry, "_last_verified_round", lambda: seen)

    got = list(entry.queries())

    assert len(got) == len(set(got)) and set(got) == set(names)
    never = [n for n in names if n not in seen]
    by_round = [n for r in sorted(set(seen.values())) for n in names if seen.get(n) == r]
    assert got == never + by_round
