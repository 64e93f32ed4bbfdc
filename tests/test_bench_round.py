"""bench.py's round number, without a Spark session: the
``SPARK_GRAFT_BENCH_ROUND`` override wins over the round inferred from
the driver-written artifacts."""

from __future__ import annotations

import pytest


def test_bench_round_env_override(monkeypatch, tmp_path):
    import bench

    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    for name in ("BENCH_r07.json", "CORRECTNESS_r05.json", "BENCH_DETAIL_r12_c8.json"):
        (tmp_path / name).write_text("{}")
    monkeypatch.delenv("SPARK_GRAFT_BENCH_ROUND", raising=False)
    # inferred: one past the newest driver artifact; detail files never count
    assert bench._next_round() == 8
    monkeypatch.setenv("SPARK_GRAFT_BENCH_ROUND", "14")
    assert bench._next_round() == 14
    monkeypatch.setenv("SPARK_GRAFT_BENCH_ROUND", "r14")
    with pytest.raises(ValueError, match="SPARK_GRAFT_BENCH_ROUND"):
        bench._next_round()
