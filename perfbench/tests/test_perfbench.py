"""Tests of the benchmark's own code: the percentile rule, metric names,
the BENCHMARK.json <-> output contract, the tracer, and the crud and
ingest models (pure, then against a real store on one round).

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import hashlib
import io
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time
from contextlib import redirect_stdout

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import datagen, run, stats  # noqa: E402
from perfbench.models import CrudModel, IngestModel  # noqa: E402
from perfbench.trace import OpSpark, Span, Tracer, _covered  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


# -- percentile rule ---------------------------------------------------------

@pytest.mark.parametrize("n,p", [(19, None), (20, 50), (30, 66), (36, 72), (100, 90),
                                 (200, 95), (1000, 99), (5000, 99)])
def test_tail_percentile_known_sizes(n, p):
    assert stats.tail_percentile(n) == p


def test_tail_percentile_is_highest_with_ten_beyond():
    for n in range(20, 1500):
        p = stats.tail_percentile(n)
        assert n - math.ceil(p * n / 100) >= 10
        if p < 99:
            assert n - math.ceil((p + 1) * n / 100) < 10


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile([3.0], 99) == 3.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


# -- metric names and the BENCHMARK.json contract ------------------------------

def _all_metrics():
    return SPEC["end_to_end"] + SPEC["per_layer"]


def test_metric_names_charset_and_unique():
    names = [m["name"] for m in _all_metrics()]
    assert len(names) == len(set(names))
    for n in names:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n), n
    for m in _all_metrics():
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m
        assert m["better"] in ("higher", "lower")


def test_benchmark_json_shape():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                         "per_layer"}
    assert [w["name"] for w in SPEC["workloads"]] == ["analytics", "oltp"]
    for w in SPEC["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"}


def test_code_and_benchmark_json_name_the_same_metrics():
    assert run.E2E_UNITS == {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert run.LAYER_UNITS == {m["name"]: m["unit"] for m in SPEC["per_layer"]}


def _rounds():
    """Two synthetic rounds (one traced) shaped like a crud run."""
    def op(kind, read, wall, jobs=0, got=None):
        return run.OpRecord(0, kind, "", read, wall, None, 2 if not read else 0, got,
                            OpSpark(jobs=jobs, stages=jobs, tasks=jobs, executor_run_ms=5.0,
                                    busy_ms=wall * 500), 0.0, 0.001,
                            cpu_s=2 * wall, cal_s=run.REF_CAL_S)
    store = {"store_bytes": 1000, "live_rows": 10, "data_files": 4, "manifests": 2,
             "data_bytes": 800, "user_bytes": 400, "manifest_dirs": 3, "offered_rows": 20}
    ops = [op("find", True, 0.05 + i / 1000) for i in range(25)] + [
        op("insert", False, 0.3, 3), op("write_batch", False, 1.0, 9,
                                        {"writes": 10, "chain": 4, "chain_dropped_retro": 1,
                                         "chain_dropped_dup": 1})]
    return [run.Round(True, ops, store), run.Round(False, ops, store)]


SETUPS = [run.Setup(2.0, 0.1, 3.0), run.Setup(2.2, 0.1, 3.4)]


def test_computed_metrics_cover_benchmark_json():
    rounds = _rounds()
    e2e = run.e2e_metrics(rounds, SETUPS, 1000.0)
    assert set(e2e) == set(run.E2E_UNITS)
    tracer = Tracer(True)
    with tracer.span("harness.find"):
        pass
    layers = {**run.workload_metrics(rounds, SETUPS, 25, 2, 10, 0)[0],
              **run.layer_metrics(rounds, SETUPS, tracer, 5.0, 4)}
    assert set(layers) == set(run.LAYER_UNITS)
    assert all(isinstance(v, float) for v in [*e2e.values(), *layers.values()])
    # CPU times at reference speed (the calibration ran at REF_CAL_S)
    assert e2e["setup_s"] == pytest.approx(3.2)
    # one read kind: the median of its 25 ops' best CPU times
    assert e2e["read_cpu_ms"] == pytest.approx(124.0)
    # every op: the mean of the ops' best CPU times
    assert e2e["op_cpu_ms"] == pytest.approx(1000.0 * (3.1 + 0.6 + 2.0) / 27)
    # wall time: one read kind, then the geometric mean of each kind's median
    assert layers["workload.setup_wall_s"] == pytest.approx(2.1)
    assert layers["workload.read_geo_ms"] == pytest.approx(62.0)
    assert layers["workload.op_geo_ms"] == pytest.approx((62.0 * 300.0 * 1000.0) ** (1 / 3))
    assert layers["workload.host_cal_ms"] == pytest.approx(1000.0 * run.REF_CAL_S)
    assert layers["points.accepted_frac"] == pytest.approx(10 / 20)


def test_cpu_times_are_scaled_to_reference_host_speed():
    rounds = _rounds()
    for o in rounds[1].ops:
        o.cal_s = 2 * run.REF_CAL_S  # a host running at half the reference speed
    e2e = run.e2e_metrics(rounds, SETUPS, 1000.0)
    assert e2e["setup_s"] == pytest.approx(1.6)
    assert e2e["read_cpu_ms"] == pytest.approx(62.0)


def test_best_of_rounds_pairs_the_same_op_across_rounds():
    recs = [run.OpRecord(r, k, "", True, w, None, 0, cpu_s=w, cal_s=run.REF_CAL_S)
            for r, k, w in [(0, "a", 1.0), (0, "a", 2.0), (0, "b", 5.0),
                            (1, "a", 0.5), (1, "a", 3.0), (1, "b", 4.0)]]
    assert run._best_of_rounds(recs, lambda o: o.wall_s) == {
        ("a", 0): 0.5, ("a", 1): 2.0, ("b", 0): 4.0}
    rounds = [run.Round(False, recs[:3]), run.Round(False, recs[3:])]
    e2e = run.e2e_metrics(rounds, SETUPS, 1.0)
    assert e2e["op_cpu_ms"] == pytest.approx(1000.0 * 6.5 / 3)
    assert e2e["read_cpu_ms"] == pytest.approx(1000.0 * (1.25 * 4.0) ** 0.5)
    layers = run.workload_metrics(rounds, SETUPS, 6, 0, 6, 0)[0]
    assert layers["workload.throughput_ops_s"] == pytest.approx(3 / 6.5)


@pytest.mark.parametrize("trace", [0, 1])
def test_printed_line_names_exactly_the_benchmark_metrics(monkeypatch, trace):
    rounds = _rounds()
    e2e = run.e2e_metrics(rounds, SETUPS, 1000.0)
    layers = {**run.workload_metrics(rounds, SETUPS, 25, 2, 10, 0)[0],
              **run.layer_metrics(rounds, SETUPS, Tracer(True), 5.0, 4)}
    monkeypatch.setattr(run, "run", lambda *a: {
        "stamp": {"seed": 1}, "e2e": e2e, "layers": layers,
        "attempted": 10, "failed": 0, "errors": []})
    buf = io.StringIO()
    with redirect_stdout(buf):
        assert run.main(["--workload", "oltp", "--seed", "1", "--seconds", "1",
                         "--trace", str(trace)]) == 0
    last = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    section = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in last["metrics"].items()} == {
        m["name"]: m["unit"] for m in section}


def test_bare_directory_exits_nonzero_without_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "oltp", "--seed", "1",
                        "--seconds", "1", "--trace", "0"], cwd=tmp_path, capture_output=True,
                       text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout == ""


# -- tracer and host helpers ---------------------------------------------------

def test_self_time_subtracts_children():
    t = Tracer(True)
    t.spans = [Span("harness.op", 0.0, 10.0, None, 1), Span("tables.insert", 1.0, 7.0, 0, 1),
               Span("tables.find", 2.0, 3.0, 1, 1), Span("session.get_spark", 0.0, 5.0, None, None)]
    st = t.self_times()
    assert st == {"harness.op": 4.0, "tables.insert": 5.0, "tables.find": 1.0}


def test_disabled_tracer_records_and_patches_nothing():
    class C:
        def f(self):
            return 1

    t = Tracer(False)
    t.wrap(C, "f", "c.f")
    with t.span("x"):
        assert C().f() == 1
    assert t.spans == [] and C.__dict__["f"].__name__ == "f"
    t = Tracer(True)
    t.wrap(C, "f", "c.f")
    assert C().f() == 1 and [s.name for s in t.spans] == ["c.f"]
    t.unwrap()
    C().f()
    assert len(t.spans) == 1


def test_process_tree_cpu_counts_children():
    before = stats.proc_tree_cpu_s(os.getpid())
    child = subprocess.Popen([sys.executable, "-c", "import sys, time\n"
                              "t = time.process_time()\n"
                              "while time.process_time() - t < 0.3: pass\n"
                              "sys.stdin.read()"], stdin=subprocess.PIPE)
    try:
        deadline = time.monotonic() + 30
        while stats.proc_tree_cpu_s(os.getpid()) - before < 0.3:
            assert time.monotonic() < deadline
            time.sleep(0.05)
    finally:
        child.communicate(b"")
    # once reaped, the child's CPU stays in the parent's total
    assert stats.proc_tree_cpu_s(os.getpid()) - before >= 0.3
    assert stats.calibrate_s() > 0


def test_covered_merges_overlaps():
    assert _covered([(0, 2), (1, 3), (5, 6), (4, 4)]) == 4


def test_stat_line_and_jvm_heap(tmp_path):
    stat = tmp_path / "stat"
    stat.write_text("cpu  10 1 5 80 3 2 1 7 0 0\ncpu0 1 2 3\n")
    assert stats.cpu_jiffies(str(stat)) == (10 + 1 + 5 + 2 + 1, 7, 109)
    stat.write_text("cpu0 1 2 3\n")
    assert stats.cpu_jiffies(str(stat)) is None
    rec = run.OpRecord(0, "find", "", True, 2.0, None, 0, steal_frac=0.25)
    assert rec.net_s == 1.5
    assert stats.jvm_heap(16 * 1024**3) == "4g"
    assert stats.jvm_heap(2 * 1024**3) == "1g"
    assert stats.jvm_heap(512 * 1024**3) == "8g"


# -- models on a tiny seed ------------------------------------------------------

def test_crud_ops_are_valid_and_fixed_composition():
    for seed in range(5):
        ops = datagen.crud_ops(seed)
        assert sorted(k for k, _ in ops) == sorted(
            k for k, n in datagen.CRUD_MIX.items() for _ in range(n))
        model = CrudModel(*datagen.crud_seed_rows(seed))
        for kind, a in ops:
            if kind == "insert":
                assert all(r["device_id"] in model.devices for r in a["rows"])
            if kind == "delete":
                assert a["id"] in model.devices
            model.apply(kind, a)
        serials = [d["serial"] for d in model.devices.values()]
        assert len(serials) == len(set(serials))
        assert all(r["device_id"] in model.devices for r in model.readings.values())
    assert datagen.crud_ops(3) == datagen.crud_ops(3)


def test_crud_model_cascades_and_reads():
    m = CrudModel([{"id": 1, "serial": "a", "site": "s", "rating": 1.0},
                   {"id": 2, "serial": "b", "site": "t", "rating": 5.0}],
                  [{"id": 1, "device_id": 1, "kind": "k", "v": 3.0},
                   {"id": 2, "device_id": 2, "kind": "k", "v": 4.0}])
    assert m.apply("update", {"site": "s", "delta": 2.0}) == 1
    assert m.apply("find", {"serial": "a"}) == [("a", "s", 3.0)]
    assert m.apply("delete", {"id": 1}) == 1
    assert m.apply("delete", {"id": 1}) == 0
    assert list(m.readings) == [2]
    assert m.apply("range", {"lo": 0.0, "hi": 10.0}) == [4.0]
    assert m.apply("nl", {"rating": 4.0}) == ["b"]
    assert m.apply("litesql", {"site": "t"}) == [("b", 5.0)]


def test_ingest_model_gating_chain_drops():
    pts = [{"guid": "p9", "flags": 64 | 4, "strict_type": None},
           {"guid": "num", "flags": 2 | 4, "strict_type": "double"},
           {"guid": "pw", "flags": 8 | 4, "strict_type": None}]
    m = IngestModel(pts)
    t = dt.datetime(2024, 1, 1)
    s = dt.timedelta(seconds=1)
    first = [("p9", t, 9, "1"), ("p9", t + s, 10, "2"),   # slot 10 gated on p9
             ("num", t, 10, "n/a"),                          # strict double rejects
             ("num", t + s, 10, "5"), ("num", t + 2 * s, 10, "5"),  # consecutive dup
             ("pw", t, 12, "secret"), ("nope", t, 9, "1")]   # unregistered
    assert m.write_batch(first) == {"writes": 4, "ts": 2, "chain": 3,
                                    "chain_dropped_retro": 0, "chain_dropped_dup": 1}
    assert m.heads["pw"][1] == hashlib.sha256(b"secret").hexdigest()
    second = [("num", t, 10, "7"),            # retro: before num's head
              ("num", t + 3 * s, 10, "5"),    # equal data to the head: dup
              ("num", t + 4 * s, 10, "6")]
    assert m.write_batch(second) == {"writes": 3, "ts": 3, "chain": 1,
                                     "chain_dropped_retro": 1, "chain_dropped_dup": 1}
    assert m.series_rows(t, t + 10 * s) == 5 and m.chain == 4 and m.writes == 7


def test_oltp_order_keeps_both_lists():
    order = datagen.oltp_order(4, 20, 9)
    assert order == datagen.oltp_order(4, 20, 9)
    assert order.count("c") == 20 and order.count("i") == 9


def test_ingest_inputs_are_seeded():
    pts = datagen.ingest_points(2)
    assert pts == datagen.ingest_points(2)
    b = datagen.ingest_batches(2, pts)
    assert b == datagen.ingest_batches(2, pts)
    assert all(len(x) == datagen.INGEST_BATCH_ROWS for x in b)
    for i, batch in enumerate(b):
        lo, hi = datagen.batch_window(i)
        assert sum(1 for r in batch if not lo <= r[1] <= hi) == 5  # the retro rows


def test_analytics_tables_are_seeded(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    datagen.write_tables(str(a), 3, 0.001)
    datagen.write_tables(str(b), 3, 0.001)
    for f in sorted(os.listdir(a)):
        assert (a / f).read_bytes() == (b / f).read_bytes()


# -- the model checks against a real store (one round each) ----------------------

@pytest.fixture(scope="module")
def spark_session(tmp_path_factory):
    pyspark = pytest.importorskip("pyspark")  # noqa: F841
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from iot_database_spark.session import get_spark

    spark = get_spark("perfbench-tests")
    yield spark
    spark.stop()


def test_oltp_round_passes_model_checks_and_catches_a_wrong_store(spark_session, tmp_path):
    """One round against a real store passes every check; then a wrong
    op result fails its check and a row the model does not know about
    fails the end-of-round count check."""
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS["oltp"](1, str(tmp_path), Tracer(False))
    wl.setup(spark_session, 0)
    ops = wl.round_ops(0)
    results = [op.run() for op in ops]
    assert [op.check(r) for op, r in zip(ops, results)] == [None] * len(ops)
    assert sorted(op.kind for op in ops) == sorted(
        [k for k, _ in wl.crud.plan] + [k for k, _ in wl.ingest.plan])
    find = next(i for i, op in enumerate(ops) if op.kind == "find")
    assert ops[find].check(results[find] + [("SN999999", "x", 0.0)]) is not None
    live = next(iter(wl.crud.model.devices))
    wl.crud.rd.insert([{"id": 10**6, "device_id": live, "kind": "x", "v": 1.0}])
    _n, errors, store = wl.end_round()
    assert [e for e in errors if "reading rows" in e] and len(errors) == 1
    assert store["live_rows"] > 0 and store["manifests"] > 0
    assert store["manifest_dirs"] >= len(wl.db.list_tables())
