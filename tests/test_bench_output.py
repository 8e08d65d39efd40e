"""The bench stdout contract: the driver records only the LAST 2000
characters of stdout (observed in BENCH_r05.json, where a 2204-byte
line lost its head and parsed as null), so the one line bench.py prints
must stay under bench.STDOUT_BUDGET no matter how many headline queries
exist, while remaining valid JSON with the spec's metric/value/unit/
queries/sf keys."""

from __future__ import annotations

import json

import bench


def _full(n_queries: int) -> dict:
    qs = {f"some_operator_family_query_{i:03d}": 0.1234 + i for i in range(n_queries)}
    return {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(qs.values()), 4),
        "unit": "sec",
        "queries": qs,
        "sf": 0.1,
        "n_queries": n_queries,
        "cpus": 32,
        "steal": {"samples": 999, "gt1pct": 999, "max_pct": 99.9, "mean_pct": 99.99},
    }


def test_compact_line_fits_driver_window_at_any_size():
    for n in (0, 1, 64, len(bench.HEADLINE), 500):
        line = bench.compact_line(_full(n), "BENCH_full_local.json")
        assert len(line) <= bench.STDOUT_BUDGET
        d = json.loads(line)
        for key in ("metric", "value", "unit", "queries", "sf", "cpus", "steal"):
            assert key in d
        assert d["n_queries"] == n
        # slowest queries are the ones that make the line
        if n:
            slowest = max(_full(n)["queries"], key=_full(n)["queries"].get)
            assert slowest in d["queries"]


def test_compact_line_includes_everything_when_small():
    d = json.loads(bench.compact_line(_full(10), "f.json"))
    assert len(d["queries"]) == 10


def test_headline_names_resolve():
    """Every headline name must exist in the registry — a typo here
    would silently drop a query from the official bench."""
    from iot_database_spark import registry

    qs = registry.queries()
    missing = [n for n in bench.HEADLINE if n not in qs]
    assert not missing, missing


def test_bench_reports_the_run_it_measured(tmp_path, monkeypatch, capsys):
    """r14 verdict #1/#3: stdout and the written record carry THIS
    run's timings, stamped with cpus and the steal profile — a
    committed record holding smaller per-query times does not leak
    into either."""
    import time as _t
    import types

    seeded = {**_full(0), "queries": {"qa": 0.0001, "qb": 0.0001}, "value": 0.0002}
    (tmp_path / "BENCH_full_local.json").write_text(json.dumps(seeded))
    fake_spark = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(defaultParallelism=3)
    )
    monkeypatch.setattr(bench, "OUT_DIR", tmp_path)
    monkeypatch.setattr(bench, "SF_DIR", str(tmp_path / "sf0.1"))
    monkeypatch.setattr(bench, "HEADLINE", ["qa", "qb"])
    monkeypatch.setattr(bench, "get_spark", lambda app: fake_spark)
    query = lambda spark, sf_dir: None  # noqa: E731
    monkeypatch.setattr(bench.registry, "queries", lambda: {"qa": query, "qb": query})
    monkeypatch.setattr(bench, "force_full_result", lambda df: _t.sleep(0.01))
    monkeypatch.delenv("SPARK_GRAFT_ONLY", raising=False)
    bench.main()

    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    rec = json.loads((tmp_path / "BENCH_full_local.json").read_text())
    assert set(rec["queries"]) == {"qa", "qb"}
    assert all(t >= 0.01 for t in rec["queries"].values())  # not the seeded 1e-4
    assert rec["value"] == round(sum(rec["queries"].values()), 4)
    assert line["queries"] == {k: round(v, 2) for k, v in rec["queries"].items()}
    assert line["value"] == rec["value"]
    assert line["cpus"] == rec["cpus"] == 3
    assert line["steal"] == rec["steal"]
    assert set(rec["steal"]) == {"samples", "gt1pct", "max_pct", "mean_pct"}
    assert line["queries_file"] == "BENCH_full_local.json"


def test_record_name_per_sf_and_subset():
    assert bench.record_name(0.1, False) == "BENCH_full_local.json"
    assert bench.record_name(0.01, False) == "BENCH_full_local_sf0.01.json"
    assert bench.record_name(1.0, False) == "BENCH_full_local_sf1.0.json"
    assert bench.record_name(0.1, True) == "BENCH_subset_local.json"


def test_steal_sampler_parses_proc_stat_line():
    # aggregate cpu line: user nice system idle iowait irq softirq steal ...
    got = bench.StealSampler._jiffies("cpu 100 0 50 800 10 0 5 35 0 0\n")
    assert got == (35, 1000)
    # per-cpu and malformed lines are rejected
    assert bench.StealSampler._jiffies("cpu0 1 2 3 4 5 6 7 8\n") is None
    assert bench.StealSampler._jiffies("") is None
    # pre-2.6.11 kernels have no steal field -> 0
    assert bench.StealSampler._jiffies("cpu 100 0 50 850\n") == (0, 1000)


def test_steal_sampler_profile_shape():
    p = bench.StealSampler.profile([0.0, 0.4, 2.5, 33.1])
    assert p == {"samples": 4, "gt1pct": 2, "max_pct": 33.1, "mean_pct": 9.0}
    # empty profile (sampler never ran / non-Linux host) stays well-formed
    z = bench.StealSampler.profile([])
    assert z == {"samples": 0, "gt1pct": 0, "max_pct": 0.0, "mean_pct": 0.0}


def test_steal_sampler_live_start_stop():
    import time as _t

    s = bench.StealSampler()
    s._INTERVAL_S = 0.05  # fast sampling for the test only
    s.start()
    _t.sleep(0.3)
    p = s.stop()
    # on any Linux host this collected >=1 interval; elsewhere it's the
    # zero profile — both satisfy the schema contract
    assert set(p) == {"samples", "gt1pct", "max_pct", "mean_pct"}
    assert p["gt1pct"] <= p["samples"]
