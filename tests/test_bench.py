"""bench.py's closing: the one-line JSON contract is printed last, even when
``spark.stop()`` fails. Runs ``bench.main()`` against a stub session and stub
queries, so no JVM starts."""

from __future__ import annotations

import json

import pytest


class _NoopWrite:
    """Stands in for ``df.write.format("noop").mode("overwrite").save()``."""

    @property
    def write(self):
        return self

    def format(self, _name):
        return self

    def mode(self, _mode):
        return self

    def save(self):
        return None


class _StopFails:
    def stop(self):
        raise RuntimeError("stop failed")


def test_contract_line_printed_last_when_stop_fails(monkeypatch, capsys):
    import bench
    from data_integration_spark import session
    from data_integration_spark.queries import QUERIES, load_all

    load_all()
    for name in ["q_scan_parquet", *bench.HEADLINE, *bench.LLM_OPS]:
        monkeypatch.setitem(QUERIES, name, lambda spark, sf_dir: _NoopWrite())
    monkeypatch.setattr(session, "get_spark", lambda **kw: _StopFails())
    monkeypatch.setenv("SPARK_GRAFT_BENCH_PASSES", "1")
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/nonexistent/sf0.1")

    with pytest.raises(RuntimeError, match="stop failed"):
        bench.main()

    out = capsys.readouterr().out.strip().splitlines()
    line = json.loads(out[-1])
    assert line["metric"] == "headline_queries_total"
    assert set(line["queries"]) == set(bench.HEADLINE)
    assert set(line["llm_ops"]) == set(bench.LLM_OPS)
    assert line["sf"] == 0.1
