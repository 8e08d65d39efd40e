"""Benchmark entry point.

    python3 perfbench/run.py --workload analytics|oltp \
        --seed N --seconds S --trace 0|1

Runs one workload from the root of a checkout of this repository on
local[<cpus>] with one client thread (a closed loop: the next operation
starts when the previous one returns). The run is:

1. inputs are generated from the seed (analytics tables, op lists);
2. the JVM starts and the workload warms up once, checking outputs;
3. rounds run until at least S seconds have been measured and the
   workload's minimum round count is reached. Each round times every op
   of the seeded op list and checks its result against a model. A fresh
   Spark session and store, timed as set-up, opens before every oltp
   round; analytics sets up three times and then runs every round in
   the last session;
4. the Spark JVM is stopped and waited for.

perfbench/README.md describes the workloads and every metric.

The last stdout line is one JSON object: correct, attempted, failed and
the metrics named in BENCHMARK.json (end-to-end ones with --trace 0,
per-layer ones with --trace 1). The line before it stamps the host and
run. The full record goes to .perfbench-run/results/.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field
from typing import Any

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402
from perfbench.trace import OpSpark, SparkProbe, Tracer, catalyst_phases_ms  # noqa: E402
from perfbench.workloads import FAMILIES, WORKLOADS  # noqa: E402

E2E_UNITS = {
    "setup_s": "s",
    "read_cpu_ms": "ms",
    "op_cpu_ms": "ms",
    "peak_rss_mb": "MB",
}

_TABLE_OPS = ("insert", "update", "upsert", "delete")
_LAYERS = ("harness", "operators", "query", "tables", "database", "points", "streaming")
LAYER_UNITS = {
    "session.jvm_launch_s": "s",
    "session.get_spark_s": "s",
    "session.load_views_s": "s",
    "operators.build_ms": "ms",
    "operators.plan_ms": "ms",
    "operators.exec_ms": "ms",
    **{f"operators.{f}.ms": "ms" for f in FAMILIES},
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.executor_run_ms_per_op": "ms",
    "spark.gc_ms_per_op": "ms",
    "spark.shuffle_write_bytes_per_op": "B",
    "spark.spill_bytes": "B",
    "spark.core_busy_frac": "fraction",
    "spark.driver_only_frac": "fraction",
    "query.litesql_build_ms": "ms",
    "query.nl_build_ms": "ms",
    "query.exec_ms": "ms",
    **{f"tables.{o}_ms": "ms" for o in (*_TABLE_OPS, "find")},
    **{f"tables.{o}_jobs": "count" for o in _TABLE_OPS},
    "tables.manifest_dirs_end": "count",
    "tables.find_growth_ratio": "ratio",
    "tables.files_per_commit": "count",
    "tables.bytes_written_per_user_byte": "ratio",
    "database.txn_ms": "ms",
    "database.txn_commit_ms": "ms",
    "points.write_batch_ms": "ms",
    "points.write_batch_jobs": "count",
    "points.accepted_frac": "fraction",
    "points.chain_rows": "count",
    "points.chain_dropped": "count",
    "points.current_state_ms": "ms",
    "points.get_series_ms": "ms",
    "points.verify_chains_ms": "ms",
    "streaming.tick_ms": "ms",
    "streaming.ran_per_tick": "count",
    **{f"self.{layer}_ms_per_op": "ms" for layer in _LAYERS},
    "trace.overhead_ms_per_op": "ms",
    "trace.overhead_frac": "fraction",
    "workload.setup_wall_s": "s",
    "workload.throughput_ops_s": "ops/s",
    "workload.read_geo_ms": "ms",
    "workload.op_geo_ms": "ms",
    "workload.host_cal_ms": "ms",
    "workload.read_p50_ms": "ms",
    "workload.read_tail_ms": "ms",
    "workload.write_p50_ms": "ms",
    "workload.write_tail_ms": "ms",
    "workload.ingest_rows_s": "rows/s",
    "workload.store_bytes_per_row": "B/row",
    "workload.error_rate": "fraction",
}


@dataclass
class OpRecord:
    round: int
    kind: str
    family: str
    read: bool
    wall_s: float
    error: str | None
    rows: int
    got: Any = None
    spark: OpSpark | None = None
    plan_ms: float = 0.0
    probe_s: float = 0.0
    steal_frac: float = 0.0  # host CPU demand the hypervisor stole during the op
    cpu_s: float = 0.0  # CPU time of the benchmark's process tree during the op
    cal_s: float = 0.0  # CPU time of the calibration task run just before the op

    @property
    def net_s(self) -> float:
        """Wall time less the share the hypervisor stole from the VM."""
        return self.wall_s * (1.0 - self.steal_frac)


@dataclass
class Round:
    traced: bool
    ops: list[OpRecord] = field(default_factory=list)
    store: dict = field(default_factory=dict)


@dataclass
class Setup:
    setup_s: float
    get_spark_s: float
    cpu_s: float = 0.0  # CPU time of the benchmark's process tree


SETUP_REPS = 3  # set-ups per run for a workload whose rounds share one store


def _configure_env(work: str) -> dict:
    """Size Spark to this host and keep every file the run writes inside
    the checkout. Returns the sizing for the stamp."""
    cpus = len(os.sched_getaffinity(0))
    mem = stats.mem_total_bytes()
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    heap = stats.jvm_heap(mem)
    young = f"{int(heap[:-1]) * 256}m"
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": heap,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TZ": "UTC",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        # no console progress bar; JVM temp files (and no perf-data
        # file, which HotSpot would write to /tmp) under the checkout.
        # C1-only JIT: with C2 the JVM keeps recompiling hot paths for
        # about its first 50 s, longer than a run, so op latencies fall
        # 30-40% within a run and differ run to run with JIT progress;
        # C1 settles within the warm-up (10-25% slower steady state).
        # A code cache the JIT never flushes: C1-only gets a small one by
        # default, and from the second oltp round on the code sweeper and
        # the recompiles it caused used 1.5x the CPU of the ops around them.
        # A fixed heap and young generation: a growing heap made peak
        # RSS differ by up to 50% between runs of the same inputs.
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf", "spark.ui.showConsoleProgress=false", "--driver-java-options",
            shlex.quote(f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 "
                        f"-XX:ReservedCodeCacheSize=512m -XX:-UseCodeCacheFlushing "
                        f"-Xms{heap} -Xmn{young} -Djava.io.tmpdir={tmp}"),
            "pyspark-shell"]),
        # for the JVM spark-submit runs first to build the command line
        # (spark-class word-splits it, so it takes no quoting)
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    time.tzset()
    tempfile.tempdir = None
    return {"cpus": cpus, "mem_total_bytes": mem,
            "jvm_heap": heap}


def _wrap_layers(tracer: Tracer) -> None:
    """Spans around the public calls of the tables, points and streaming
    layers, so calls the package makes internally are attributed too."""
    from iot_database_spark.points import PointStore
    from iot_database_spark.streaming.continuous import ContinuousQueryService
    from iot_database_spark.tables import Table

    for m, name in (("insert", "insert"), ("delete", "delete"),
                    ("update_many", "update"), ("upsert", "upsert")):
        tracer.wrap(Table, m, f"tables.{name}")
    for m in ("register_points", "write_batch", "current_state", "get_series",
              "heads_view", "verify_chains"):
        tracer.wrap(PointStore, m, f"points.{m}")
    tracer.wrap(ContinuousQueryService, "tick", "streaming.tick")


def _settle() -> None:
    """Collect garbage in Python and in the JVM (a full, stop-the-world
    collection), so that every round and set-up starts from a clean heap
    and no measured op pays for what an earlier one left behind."""
    from pyspark import SparkContext

    gc.collect()
    SparkContext._jvm.System.gc()


def _run_op(op, op_id: int, round_no: int, tracer: Tracer, probe: SparkProbe | None,
            wl) -> OpRecord:
    tracer.op_id = op_id
    group = probe.begin(op_id) if probe else None
    cal = stats.calibrate_s()
    j0 = stats.cpu_jiffies()
    c0 = stats.proc_tree_cpu_s(os.getpid())
    t0_ms = time.time() * 1000.0
    t0 = time.perf_counter()
    try:
        with tracer.span(f"harness.{op.kind}"):
            got = op.run()
        error = None
    except Exception as exc:  # a failed op is counted and the run goes on
        traceback.print_exc()
        got, error = None, f"{op.kind}: {type(exc).__name__}: {exc}"
    wall = time.perf_counter() - t0
    c1 = stats.proc_tree_cpu_s(os.getpid())
    j1 = stats.cpu_jiffies()
    rec = OpRecord(round_no, op.kind, op.family, op.read, wall, error, 0,
                   cpu_s=c1 - c0, cal_s=cal)
    if j0 and j1:
        busy, steal = j1[0] - j0[0], j1[1] - j0[1]
        rec.steal_frac = steal / (busy + steal) if busy + steal else 0.0
    if probe:
        p0 = time.perf_counter()
        rec.spark = probe.end(group, t0_ms, time.time() * 1000.0)
        if op.family and error is None:
            rec.plan_ms = catalyst_phases_ms(wl.exec_df)
        rec.probe_s = time.perf_counter() - p0
    tracer.op_id = None
    if error is None:
        rec.error = op.check(got)
        rec.rows = op.rows(got) if rec.error is None else 0
        rec.got = got if op.kind in ("write_batch", "tick") else None
    return rec


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _tail(walls: list[float], n_min: int) -> tuple[float, float | None]:
    """(value in ms, percentile) of the highest percentile with at least
    ten samples beyond it in every run (sized on the run's guaranteed
    minimum sample count); the median when none qualifies."""
    if not walls:
        return 0.0, None
    p = stats.tail_percentile(n_min)
    return stats.percentile(walls, p or 50.0) * 1000.0, p


# The CPU seconds stats.calibrate_s takes inside a run on the host the
# bounds were set on, a 4-vCPU Intel Xeon KVM guest (the median over 15
# runs was 22.6 ms). The end-to-end CPU times are reported at that speed.
REF_CAL_S = 0.022


def _host_scale(ops: list[OpRecord]) -> float:
    """REF_CAL_S over the run's median calibration time: the factor that
    brings CPU times measured on this host, at this hour, to the
    reference speed. A busy neighbour slows the calibration task as it
    slows the program (shared cores and caches), so this cancels most
    of it."""
    cals = [o.cal_s for o in ops if o.cal_s > 0]
    return REF_CAL_S / _median(cals) if cals else 1.0


def _best_of_rounds(ops: list[OpRecord], value) -> dict[tuple[str, int], float]:
    """Each op of the round list (its kind and which occurrence of that
    kind it is in its round) mapped to its lowest `value(op)` over the
    rounds. Every round runs the same ops on the same state, so the
    lowest is the one the host disturbed least."""
    best: dict[tuple[str, int], float] = {}
    seen: dict[tuple[int, str], int] = {}
    for o in ops:
        k = seen[(o.round, o.kind)] = seen.get((o.round, o.kind), -1) + 1
        key = (o.kind, k)
        v = value(o)
        best[key] = min(best.get(key, v), v)
    return best


def _geo_by_kind_ms(best: dict[tuple[str, int], float]) -> float:
    """Geometric mean over op kinds of each kind's median best time:
    every kind weighs the same, whatever its share of the ops."""
    by: dict[str, list[float]] = {}
    for (kind, _k), t in best.items():
        by.setdefault(kind, []).append(t)
    if not by:
        return 0.0
    return 1000.0 * math.exp(statistics.fmean(math.log(_median(v)) for v in by.values()))


def _reads(best: dict[tuple[str, int], float], ops: list[OpRecord]) -> dict:
    read_kinds = {o.kind for o in ops if o.read}
    return {k: t for k, t in best.items() if k[0] in read_kinds}


def e2e_metrics(rounds: list[Round], setups: list[Setup], rss_mb: float) -> dict:
    """End-to-end metrics over the untraced rounds: CPU time of the
    benchmark's process tree at reference host speed, from each op's
    lowest over the rounds (wall-time figures are per-layer)."""
    ops = [o for r in rounds if not r.traced for o in r.ops]
    scale = _host_scale(ops)
    best = _best_of_rounds(ops, lambda o: o.cpu_s * scale)
    return {
        "setup_s": _median(s.cpu_s for s in setups) * scale,
        "read_cpu_ms": _geo_by_kind_ms(_reads(best, ops)),
        "op_cpu_ms": 1000.0 * _mean(best.values()),
        "peak_rss_mb": rss_mb,
    }


def workload_metrics(rounds: list[Round], setups: list[Setup], min_reads: int,
                     min_writes: int, attempted: int, failed: int) -> tuple[dict, dict]:
    """Wall-time figures (each op's best steal-adjusted time over the
    rounds, and pooled latency percentiles, whose sample counts and tail
    percentile go to the record), ingest rate, space and error rate over
    the untraced rounds."""
    ops = [o for r in rounds if not r.traced for o in r.ops]
    best = _best_of_rounds(ops, lambda o: o.net_s)
    best_total = sum(best.values())
    reads = [o.wall_s for o in ops if o.read]
    writes = [o.wall_s for o in ops if not o.read]
    wall = sum(o.wall_s for o in ops)
    read_tail, read_p = _tail(reads, min_reads)
    write_tail, write_p = _tail(writes, min_writes)
    stores = [r.store for r in rounds if r.store]
    m = {
        "workload.setup_wall_s": _median(s.setup_s for s in setups),
        "workload.throughput_ops_s": len(best) / best_total if best_total else 0.0,
        "workload.read_geo_ms": _geo_by_kind_ms(_reads(best, ops)),
        "workload.op_geo_ms": _geo_by_kind_ms(best),
        "workload.host_cal_ms": REF_CAL_S / _host_scale(ops) * 1000.0,
        "workload.read_p50_ms": _median(reads) * 1000.0,
        "workload.read_tail_ms": read_tail,
        "workload.write_p50_ms": _median(writes) * 1000.0,
        "workload.write_tail_ms": write_tail,
        "workload.ingest_rows_s": sum(o.rows for o in ops) / wall if wall else 0.0,
        "workload.store_bytes_per_row": _median(
            s["store_bytes"] / s["live_rows"] for s in stores if s["live_rows"]),
        "workload.error_rate": failed / attempted,
    }
    return m, {"ops": len(ops), "reads": len(reads), "read_tail_pct": read_p,
               "writes": len(writes), "write_tail_pct": write_p}


def layer_metrics(rounds: list[Round], setups: list[Setup], tracer: Tracer,
                  jvm_launch_s: float, cpus: int) -> dict:
    traced = [r for r in rounds if r.traced]
    ops = [o for r in traced for o in r.ops]
    sp = [o.spark for o in ops if o.spark is not None]
    wall_ms = sum(o.wall_s for o in ops) * 1000.0

    def span_ms(name: str) -> float:
        return _mean(tracer.durations(name)) * 1000.0

    def kind_ms(kind: str) -> float:
        return _mean(o.wall_s for o in ops if o.kind == kind) * 1000.0

    def kind_jobs(kind: str) -> float:
        return _mean(o.spark.jobs for o in ops if o.kind == kind and o.spark)

    m = {
        "session.jvm_launch_s": jvm_launch_s,
        "session.get_spark_s": _median(s.get_spark_s for s in setups),
        "session.load_views_s": _median(tracer.durations("session.load_views", in_ops=False)),
        "operators.build_ms": span_ms("operators.build"),
        "operators.plan_ms": _mean(o.plan_ms for o in ops if o.family),
        "operators.exec_ms": span_ms("operators.exec"),
        "spark.jobs_per_op": _mean(s.jobs for s in sp),
        "spark.stages_per_op": _mean(s.stages for s in sp),
        "spark.tasks_per_op": _mean(s.tasks for s in sp),
        "spark.executor_run_ms_per_op": _mean(s.executor_run_ms for s in sp),
        "spark.gc_ms_per_op": _mean(s.gc_ms for s in sp),
        "spark.shuffle_write_bytes_per_op": _mean(s.shuffle_write_bytes for s in sp),
        "spark.spill_bytes": float(sum(s.spill_bytes for s in sp)),
        "spark.core_busy_frac": (sum(s.executor_run_ms for s in sp) / (wall_ms * cpus)
                                 if wall_ms else 0.0),
        "spark.driver_only_frac": (1.0 - sum(s.busy_ms for s in sp) / wall_ms
                                   if wall_ms else 0.0),
        "query.litesql_build_ms": span_ms("query.litesql_build"),
        "query.nl_build_ms": span_ms("query.nl_build"),
        "query.exec_ms": span_ms("query.exec"),
        "tables.find_ms": span_ms("tables.find"),
        "database.txn_ms": span_ms("database.txn"),
        "database.txn_commit_ms": span_ms("database.txn_commit"),
        "points.write_batch_ms": kind_ms("write_batch"),
        "points.write_batch_jobs": kind_jobs("write_batch"),
        "points.current_state_ms": kind_ms("current_state"),
        "points.get_series_ms": kind_ms("get_series"),
        "points.verify_chains_ms": kind_ms("verify_chains"),
        "streaming.tick_ms": kind_ms("tick"),
        "streaming.ran_per_tick": _mean(len(o.got) for o in ops if o.kind == "tick" and o.got),
    }
    for f in FAMILIES:
        m[f"operators.{f}.ms"] = _median(o.wall_s for o in ops if o.family == f) * 1000.0
    for t in _TABLE_OPS:
        m[f"tables.{t}_ms"] = span_ms(f"tables.{t}")
        m[f"tables.{t}_jobs"] = kind_jobs(t)

    batches = [o.got for o in ops if o.kind == "write_batch" and o.got]
    offered = sum(r.store.get("offered_rows", 0) for r in traced)
    m["points.accepted_frac"] = sum(b["writes"] for b in batches) / offered if offered else 0.0
    m["points.chain_rows"] = _mean(
        sum(o.got["chain"] for o in r.ops if o.kind == "write_batch" and o.got) for r in traced
    ) if batches else 0.0
    m["points.chain_dropped"] = _mean(
        sum(o.got["chain_dropped_retro"] + o.got["chain_dropped_dup"]
            for o in r.ops if o.kind == "write_batch" and o.got) for r in traced
    ) if batches else 0.0

    stores = [r.store for r in traced if r.store.get("manifests")]
    m["tables.manifest_dirs_end"] = _mean(s["manifest_dirs"] for s in stores)
    m["tables.files_per_commit"] = _mean(s["data_files"] / s["manifests"] for s in stores)
    m["tables.bytes_written_per_user_byte"] = _mean(
        s["data_bytes"] / s["user_bytes"] for s in stores)
    # find latency late in a round over early in it, pooled over rounds
    first, last = [], []
    for r in traced:
        finds = [o.wall_s for o in r.ops if o.kind in ("find", "range")]
        k = max(1, len(finds) // 10)
        if len(finds) >= 2 * k:
            first += finds[:k]
            last += finds[-k:]
    m["tables.find_growth_ratio"] = _median(last) / _median(first) if first else 0.0

    self_ms = tracer.self_times()
    n_ops = len(ops) or 1
    for layer in _LAYERS:
        m[f"self.{layer}_ms_per_op"] = 1000.0 * sum(
            v for k, v in self_ms.items() if k.split(".", 1)[0] == layer) / n_ops

    # tracing overhead: traced op wall (with the probe's collection) over
    # untraced op wall, per op, on the same op list
    t_op = _mean(_mean(o.wall_s + o.probe_s for o in r.ops) for r in traced)
    u_op = _mean(_mean(o.wall_s for o in r.ops) for r in rounds if not r.traced)
    m["trace.overhead_ms_per_op"] = (t_op - u_op) * 1000.0
    m["trace.overhead_frac"] = (t_op - u_op) / u_op if u_op else 0.0
    return m


def _benchmark_names() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _shutdown() -> None:
    """Stop Spark, if it started, and wait for its JVM (and the Python
    workers it owns) to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the gateway server exits on stdin EOF
        proc.wait(timeout=60)


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    work = os.path.join(ROOT, ".perfbench-run", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    stamp = {"workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
             "git_head": stats.git_head(ROOT), **_configure_env(work)}
    steal = stats.StealSampler().start()
    tracer = Tracer(False)
    phases = stamp["phases_s"] = {}
    try:
        from iot_database_spark.session import get_spark

        def set_up(spark, r_no: int):
            """Stop the session, then time a fresh one plus the
            workload's store set-up."""
            spark.stop()
            _settle()
            c0 = stats.proc_tree_cpu_s(os.getpid())
            t0 = time.perf_counter()
            with tracer.span("session.get_spark"):
                spark = get_spark("perfbench")
            t1 = time.perf_counter()
            wl.setup(spark, r_no)
            setups.append(Setup(time.perf_counter() - t0, t1 - t0,
                                stats.proc_tree_cpu_s(os.getpid()) - c0))
            return spark

        t0 = time.perf_counter()
        wl = WORKLOADS[workload](seed, work, tracer)
        t1 = time.perf_counter()
        spark = get_spark("perfbench")
        t2 = time.perf_counter()
        jvm_launch_s = phases["jvm_launch"] = t2 - t1
        phases["inputs"] = t1 - t0
        jvm_pid = spark.sparkContext._gateway.proc.pid
        setups: list[Setup] = []
        if not wl.store_per_round:
            # set up several times, then warm up and run every round in
            # the last session (a long-lived session's steady state)
            tracer.enabled = trace
            for i in range(SETUP_REPS):
                spark = set_up(spark, i)
            tracer.enabled = False
        attempted, errors = wl.warm_up(spark)
        failed = len(errors)
        phases["warm_up"] = time.perf_counter() - t2
        t_rounds = time.perf_counter()
        rounds: list[Round] = []
        measured, op_id = 0.0, 0
        # a traced run alternates traced and untraced rounds, starting
        # traced, with the untraced ones alone as many as an untraced run
        min_rounds = wl.min_rounds * (2 if trace else 1)
        while len(rounds) < min_rounds or measured < seconds:
            r_no = len(rounds)
            traced = trace and r_no % 2 == 0
            tracer.enabled = traced
            if traced:
                _wrap_layers(tracer)
            if wl.store_per_round:
                spark = set_up(spark, r_no)
            _settle()
            rnd = Round(traced)
            probe = SparkProbe(spark) if traced else None
            for op in wl.round_ops(r_no):
                rnd.ops.append(_run_op(op, op_id, r_no, tracer, probe, wl))
                op_id += 1
            n_checks, round_errors, rnd.store = wl.end_round()
            tracer.unwrap()
            tracer.enabled = False
            attempted += len(rnd.ops) + n_checks
            errors += [o.error for o in rnd.ops if o.error] + round_errors
            failed += sum(1 for o in rnd.ops if o.error) + len(round_errors)
            rounds.append(rnd)
            measured += sum(o.wall_s for o in rnd.ops)
        rss_mb = (stats.vm_hwm_bytes(jvm_pid) + stats.vm_hwm_bytes(os.getpid())) / 2**20
        phases["rounds"] = time.perf_counter() - t_rounds
    finally:
        t0 = time.perf_counter()
        _shutdown()
        phases["shutdown"] = time.perf_counter() - t0
        stamp["steal"] = steal.stop()

    reads_per_round = sum(1 for o in rounds[0].ops if o.read)
    writes_per_round = len(rounds[0].ops) - reads_per_round
    e2e = e2e_metrics(rounds, setups, rss_mb)
    layers, w_info = workload_metrics(rounds, setups, reads_per_round * wl.min_rounds,
                                      writes_per_round * wl.min_rounds, attempted, failed)
    if trace:
        layers.update(layer_metrics(rounds, setups, tracer, jvm_launch_s, stamp["cpus"]))
    stamp.update(w_info, setups=len(setups), rounds=len(rounds), measured_s=measured)

    results = os.path.join(ROOT, ".perfbench-run", "results")
    os.makedirs(results, exist_ok=True)
    base = os.path.join(results, f"{workload}-seed{seed}-trace{int(trace)}")
    with open(base + ".json", "w") as fh:
        json.dump({"stamp": stamp, "end_to_end": e2e, "per_layer": layers,
                   "attempted": attempted, "failed": failed, "errors": errors[:50],
                   "setups_s": [s.setup_s for s in setups],
                   "setups_cpu_s": [s.cpu_s for s in setups],
                   "ops": [[o.round, r.traced, o.kind, o.family, o.wall_s, o.steal_frac,
                            o.cpu_s, o.cal_s] for r in rounds for o in r.ops]},
                  fh, indent=1)
    if trace:
        tracer.dump(base + "-spans.json")
    shutil.rmtree(work, ignore_errors=True)
    return {"stamp": stamp, "e2e": e2e, "layers": layers,
            "attempted": attempted, "failed": failed, "errors": errors}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "iot_database_spark")):
        print("perfbench: no iot_database_spark package next to perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    e2e_units, layer_units = _benchmark_names()
    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    for e in out["errors"][:20]:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    values = out["layers"] if args.trace else out["e2e"]
    units = layer_units if args.trace else e2e_units
    metrics = {n: {"value": values[n], "unit": u} for n, u in units.items()}
    print(json.dumps({"stamp": out["stamp"]}))
    print(json.dumps({"correct": out["failed"] == 0, "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
