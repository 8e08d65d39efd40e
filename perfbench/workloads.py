"""The benchmark's workloads: analytics and oltp.

run.py drives a workload in rounds that each run the same seeded op
list. `oltp` opens a fresh Spark session and a fresh, seeded database
before every round, so every round's store grows identically; the
read-only `analytics` sets up three times and then runs all its rounds
in the last session. `warm_up` runs once per process before the first
round.

Every op's result is checked against a model that does not use the
program: DuckDB oracles for analytics, the Python models in models.py
for oltp.
"""

from __future__ import annotations

import datetime as dt
import glob
import hashlib
import json
import math
import os
import random
import sys
from dataclasses import dataclass, field
from decimal import Decimal
from typing import Any, Callable

from perfbench import datagen
from perfbench.models import RANGE_LIMIT, CrudModel, IngestModel


@dataclass
class Op:
    """One measured operation. `run` does the work and returns what
    `check` needs; `check` returns an error string or None. `rows` is
    the count of user rows the op writes (for ingest_rows_s)."""

    kind: str
    read: bool
    run: Callable[[], Any]
    check: Callable[[Any], str | None]
    family: str = ""
    rows: Callable[[Any], int] = field(default=lambda _r: 0)


def _dir_stats(root: str) -> dict[str, int]:
    """Bytes, parquet data files and manifests under a database root."""
    total = data = files = manifests = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            size = os.path.getsize(os.path.join(dirpath, n))
            total += size
            if n.endswith(".parquet"):
                files += 1
                data += size
            elif os.path.basename(dirpath) == "_txn" and n.endswith(".json"):
                manifests += 1
    return {"bytes": total, "data_bytes": data, "files": files, "manifests": manifests}


def _manifest_dirs(root: str) -> int:
    """Live data dirs across the latest manifest (<table>/_txn/<N>.json)
    of every table under a database root."""
    n = 0
    for txn in glob.glob(os.path.join(root, "Tables", "*", "_txn")):
        versions = [int(f[:-5]) for f in os.listdir(txn) if f[:-5].isdigit()]
        if versions:
            with open(os.path.join(txn, f"{max(versions)}.json")) as fh:
                n += len(json.load(fh)["dirs"])
    return n


def _user_bytes(rows) -> int:
    return sum(len(json.dumps(r, default=str)) for r in rows)


# -- analytics ---------------------------------------------------------------

# The fixed subset of the bench.py HEADLINE roster: one query per family.
ANALYTICS_QUERIES = {
    "q01_pricing_summary": "relational",
    "ts_locf_merge": "timeseries",
    "iot_effective_value": "iotvalue",
    "chain_verify": "blockchain",
    "ann_ivf_cosine": "vector",
    "dedup_exact": "dedup",
    "text_quality_scores": "text",
    "search_bm25_topk": "search",
    "stream_exact_dedup": "stream",
}
FAMILIES = tuple(sorted(set(ANALYTICS_QUERIES.values())))
ANALYTICS_SCALE = 0.01  # sf0.01 row counts: lineitem 60k, events 10k


def force_df(df):
    """The one-row DataFrame whose collect() evaluates every output
    column of `df` (bench.force_full_result semantics: a bare count()
    would let Catalyst prune unreferenced projections)."""
    from pyspark.sql import functions as F

    cols = [F.col(c).cast("string") for c in df.columns]
    return df.groupBy().agg(
        F.count(F.lit(1)), F.max(F.md5(F.concat_ws("\x1f", *cols)))
    )


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def result_digest(rows, cols) -> tuple[int, str]:
    """(row count, order-insensitive value hash) over columns sorted by
    name — the tests/test_oracle_parity.py comparison rule."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    return len(norm), hashlib.sha256("\n".join(norm).encode()).hexdigest()


class Analytics:
    name = "analytics"
    min_rounds = 5
    store_per_round = False  # read-only: every round reuses one session

    def __init__(self, seed: int, work: str, tracer):
        self.seed = seed
        self.tracer = tracer
        self.data_dir = os.path.join(work, "data")
        datagen.write_tables(self.data_dir, seed, ANALYTICS_SCALE)
        from iot_database_spark import registry

        self.registry = registry
        self.queries = registry.queries()
        self.spark = None
        self.exec_df = None  # last forced DataFrame, for Catalyst phases
        self.expected_rows: dict[str, int] = {}  # oracle row count per query

    def warm_up(self, spark) -> tuple[int, list[str]]:
        """Run every query once and check it against its DuckDB oracle,
        then once more as a pass of the rounds would, all outside the
        timed rounds. Returns (checks, errors)."""
        import duckdb

        from iot_database_spark.session import TESTDATA_TABLES

        oracles = self.registry.oracles()
        con = duckdb.connect()
        try:
            for t in TESTDATA_TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'"
                )
            errors = []
            for name in ANALYTICS_QUERIES:
                df = self.queries[name](spark, self.data_dir)
                got = result_digest([tuple(r) for r in df.collect()], df.columns)
                res = con.execute(oracles[name])
                want = result_digest(res.fetchall(), [d[0] for d in res.description])
                if got != want:
                    errors.append(f"{name}: spark {got} != oracle {want}")
                self.expected_rows[name] = want[0]
        finally:
            con.close()
        self._cleanup(spark)
        # one more untimed pass in the session the rounds use: without it
        # the first timed pass used about 20% more CPU than the third
        for op in self.round_ops(-1):
            errors += [e for e in [op.check(op.run())] if e]
        self._cleanup(spark)
        return 2 * len(ANALYTICS_QUERIES), errors

    def setup(self, spark, round_no: int) -> None:
        self.spark = spark
        with self.tracer.span("session.load_views"):
            self.registry.load_views(spark, self.data_dir)

    def round_ops(self, round_no: int) -> list[Op]:
        names = list(ANALYTICS_QUERIES)
        random.Random(self.seed * 1000 + round_no).shuffle(names)
        return [
            Op(n, True, lambda n=n: self._run(n),
               lambda row, n=n: _diff(row[0], self.expected_rows[n]),
               family=ANALYTICS_QUERIES[n])
            for n in names
        ]

    def _run(self, name: str):
        with self.tracer.span("operators.build"):
            df = self.queries[name](self.spark, self.data_dir)
        forced = force_df(df)
        with self.tracer.span("operators.exec"):
            row = forced.collect()[0]
        self.exec_df = forced
        return row

    def end_round(self) -> tuple[int, list[str], dict]:
        self._cleanup(self.spark)
        return 0, [], {}

    @staticmethod
    def _cleanup(spark) -> None:
        from iot_database_spark.operators.streaming_queries import cleanup_stream_sinks

        cleanup_stream_sinks(spark)


# -- oltp: typed-table CRUD and point ingest on one database ---------------

class CrudPart:
    """Typed parent/child tables: device (unique serial) and reading
    (cascading foreign key to device), with the seeded crud op list."""

    DEVICE = "id bigint, serial string, site string, rating double"
    READING = "id bigint, device_id bigint, kind string, v double"

    def __init__(self, seed: int, tracer):
        self.seed = seed
        self.tracer = tracer
        self.plan = datagen.crud_ops(seed)
        self.seed_rows = datagen.crud_seed_rows(seed)

    def open(self, db) -> None:
        from iot_database_spark.tables import ForeignKey

        self.db = db
        self.dev = db.tables("device", self.DEVICE, unique=["serial"])
        self.rd = db.tables("reading", self.READING,
                            foreign_keys=[ForeignKey("device_id", "device", "cascading")])
        devices, readings = self.seed_rows
        self.dev.insert([dict(d) for d in devices])
        self.rd.insert([dict(r) for r in readings])
        self.model = CrudModel(devices, readings)
        self.user_bytes = _user_bytes(devices) + _user_bytes(readings)

    def ops(self, plan: list[tuple[str, dict]]) -> list[Op]:
        """Ops for `plan`, each with the result the model expects."""
        out = []
        for kind, args in plan:
            want = self.model.apply(kind, args)
            out.append(Op(
                kind, kind in datagen.CRUD_READS,
                lambda k=kind, a=args: self._run(k, a),
                lambda got, w=want: _diff(got, w),
                rows=lambda _got, k=kind, a=args: self._rows(k, a),
            ))
        return out

    @staticmethod
    def _rows(kind: str, a: dict) -> int:
        if kind in ("insert", "upsert"):
            return len(a["rows"])
        return 2 if kind == "txn" else 0

    def _run(self, kind: str, a: dict):
        from pyspark.sql import functions as F

        span = self.tracer.span
        if kind == "insert":
            self.user_bytes += _user_bytes(a["rows"])
            return self.rd.insert([dict(r) for r in a["rows"]])
        if kind == "update":
            return self.dev.update_many(
                {"rating": F.col("rating") + F.lit(a["delta"])}, F.col("site") == a["site"]
            )
        if kind == "upsert":
            self.user_bytes += _user_bytes(a["rows"])
            return self.dev.upsert([dict(r) for r in a["rows"]])
        if kind == "delete":
            return self.dev.delete(F.col("id") == a["id"])
        if kind == "txn":
            self.user_bytes += _user_bytes([a["device"], a["reading"]])
            with span("database.txn"):
                txn = self.db.transaction()
                txn.__enter__()
                try:
                    self.dev.insert([dict(a["device"])])
                    self.rd.insert([dict(a["reading"])])
                except BaseException:
                    txn.__exit__(*sys.exc_info())
                    raise
                with span("database.txn_commit"):
                    txn.__exit__(None, None, None)
            return None
        if kind == "find":
            with span("tables.find"):
                rows = self.dev.find(F.col("serial") == a["serial"]).collect()
            return sorted((r["serial"], r["site"], r["rating"]) for r in rows)
        if kind == "range":
            with span("tables.find"):
                rows = (self.rd.query().where(F.col("v").between(a["lo"], a["hi"]))
                        .order_by("v").limit(RANGE_LIMIT).to_list())
            return [r["v"] for r in rows]
        if kind == "litesql":
            from iot_database_spark.query.litesql import execute

            with span("query.litesql_build"):
                df = execute(self.db, "SELECT $.serial, $.rating FROM device "
                             f"WHERE $.site = '{a['site']}'")
            with span("query.exec"):
                rows = df.collect()
            return sorted((r[0], r[1]) for r in rows)
        if kind == "nl":
            from iot_database_spark.query.nl import natural_query

            with span("query.nl_build"):
                df = natural_query(f"FIND device WHERE rating > {a['rating']} SELECT serial",
                                   self.db)
            with span("query.exec"):
                rows = df.collect()
            return sorted(r[0] for r in rows)
        raise ValueError(kind)

    def end_checks(self, counts: dict[str, int]) -> list[str]:
        """Final row counts per table, and no orphan children."""
        from pyspark.sql import functions as F

        errors = [
            f"{name} rows {counts[name]} != model {len(want)}"
            for name, want in (("device", self.model.devices), ("reading", self.model.readings))
            if counts[name] != len(want)
        ]
        rd, dev = self.rd.df, self.dev.df.select(F.col("id").alias("_pid"))
        orphans = rd.join(dev, rd["device_id"] == F.col("_pid"), "left_anti").count()
        if orphans:
            errors.append(f"{orphans} orphan readings after cascades")
        return errors


class IngestPart:
    """An IoT fleet on a PointStore, with two continuous queries over its
    write log, and the seeded batches and read plan."""

    def __init__(self, seed: int, tracer):
        self.tracer = tracer
        self.points = datagen.ingest_points(seed)
        self.batches = datagen.ingest_batches(seed, self.points)
        self.plan = datagen.ingest_plan(seed)

    def open(self, db) -> None:
        from pyspark.sql import functions as F

        from iot_database_spark.points import PointStore
        from iot_database_spark.streaming.continuous import (
            ContinuousQueryService,
            QueryConfiguration,
        )

        self.spark = db.spark
        self.store = PointStore(db)
        self.store.register_points([dict(p) for p in self.points])
        self.cq = ContinuousQueryService(db.spark)
        self.cq.add_query(QueryConfiguration(
            "writes_by_priority",
            lambda _s: self.store.writes.df.groupBy("priority").agg(F.count(F.lit(1)).alias("n")),
            interval_ms=1,
        ))
        self.cq.add_query(QueryConfiguration(
            "latest_ts",
            lambda _s: self.store.writes.df.agg(F.max("ts").alias("ts")),
            interval_ms=1,
        ))
        self.model = IngestModel(self.points)
        self.user_bytes = _user_bytes(self.points)

    def ops(self, plan: list[tuple[str, dict]]) -> list[Op]:
        """Ops for `plan`. Each check asks the model for the expected
        result after its op ran, outside the timed region; checks run in
        op order, so the model advances with the store."""
        m = self.model
        out = []
        for kind, a in plan:
            if kind == "write_batch":
                rows = self.batches[a["batch"]]
                out.append(Op(kind, False, lambda r=rows: self._write(r),
                              lambda got, r=rows: _diff(got, m.write_batch(r)),
                              rows=lambda got: got["writes"]))
            elif kind == "current_state":
                out.append(Op(kind, True, lambda: self._count(self.store.current_state),
                              lambda got: _diff(got, len(m.guids))))
            elif kind == "get_series":
                s, e = datagen.batch_window(a["batch"])
                out.append(Op(kind, True,
                              lambda s=s, e=e: self._count(lambda: self.store.get_series(s, e)),
                              lambda got, s=s, e=e: _diff(got, m.series_rows(s, e))))
            elif kind == "heads":
                out.append(Op(kind, True, lambda: self._count(self.store.heads_view),
                              lambda got: _diff(got, len(m.heads))))
            elif kind == "tick":
                out.append(Op(kind, False, self.cq.tick, self._check_tick))
            elif kind == "verify_chains":
                out.append(Op(kind, True, self._verify, self._check_chains))
            else:
                raise ValueError(kind)
        return out

    def _count(self, build) -> int:
        """Rows of a PointStore read; the span covers the build (traced
        separately by its wrapped method) and the collect."""
        with self.tracer.span("points.read"):
            return len(build().collect())

    def _verify(self):
        with self.tracer.span("points.read"):
            return self.store.verify_chains().collect()

    def _write(self, rows: list[tuple]) -> dict[str, int]:
        self.user_bytes += _user_bytes(rows)
        df = self.spark.createDataFrame(rows, "guid string, ts timestamp, priority int, value string")
        return self.store.write_batch(df)

    def _check_tick(self, ran: list[str]) -> str | None:
        """Every query is due on every tick, and the rollup counts every
        write committed so far."""
        total = sum(r["n"] for r in self.cq.read("writes_by_priority").collect())
        return _diff((sorted(ran), total), (self.cq.names(), self.model.writes))

    def _check_chains(self, rows) -> str | None:
        broken = sum(1 for r in rows if not r["valid"])
        return _diff((broken, sum(r["n_blocks"] for r in rows)), (0, self.model.chain))

    def end_checks(self, counts: dict[str, int]) -> list[str]:
        """Final row counts of the three sink tables."""
        want = {"point_writes": self.model.writes, "ts_writes": len(self.model.ts_rows),
                "chain_blocks": self.model.chain}
        return [f"{name} rows {counts[name]} != model {n}"
                for name, n in want.items() if counts[name] != n]


class Oltp:
    """Typed-table CRUD and IoT point ingest on one database, the two op
    lists interleaved in a seeded order. Each round opens a fresh,
    freshly seeded database, so state grows identically in every round."""

    name = "oltp"
    min_rounds = 2
    store_per_round = True

    def __init__(self, seed: int, work: str, tracer):
        self.work = work
        self.crud = CrudPart(seed, tracer)
        self.ingest = IngestPart(seed, tracer)
        self.order = datagen.oltp_order(seed, len(self.crud.plan), len(self.ingest.plan))

    def _open(self, spark, path: str) -> None:
        from iot_database_spark.database import IotDatabase

        self.db = IotDatabase("oltp", path, spark=spark)
        self.crud.open(self.db)
        self.ingest.open(self.db)

    def warm_up(self, spark) -> tuple[int, list[str]]:
        """A scratch database through one op of every crud kind and the
        first op of every ingest kind, in plan order (the ingest model
        only sees the ops that ran)."""
        self._open(spark, os.path.join(self.work, "warm"))
        one_each = datagen.crud_ops(self.crud.seed, {k: 1 for k in datagen.CRUD_MIX})
        firsts: dict[str, dict] = {}
        for kind, args in self.ingest.plan:
            firsts.setdefault(kind, args)
        ops = self.crud.ops(one_each) + self.ingest.ops(list(firsts.items()))
        return len(ops), [e for op in ops for e in [op.check(op.run())] if e]

    def setup(self, spark, round_no: int) -> None:
        self._open(spark, os.path.join(self.work, f"round{round_no}"))

    def round_ops(self, round_no: int) -> list[Op]:
        parts = {"c": iter(self.crud.ops(self.crud.plan)),
                 "i": iter(self.ingest.ops(self.ingest.plan))}
        return [next(parts[k]) for k in self.order]

    def end_round(self) -> tuple[int, list[str], dict]:
        """Final row counts and store stats."""
        counts = {name: self.db.table(name).df.count() for name in self.db.list_tables()}
        errors = self.crud.end_checks(counts) + self.ingest.end_checks(counts)
        st = _dir_stats(self.db.root)
        return 5, errors, {
            "offered_rows": sum(len(b) for b in self.ingest.batches),
            "store_bytes": st["bytes"], "live_rows": sum(counts.values()),
            "data_files": st["files"], "manifests": st["manifests"],
            "data_bytes": st["data_bytes"],
            "user_bytes": self.crud.user_bytes + self.ingest.user_bytes,
            "manifest_dirs": _manifest_dirs(self.db.root),
        }


def _diff(got, want) -> str | None:
    return None if got == want else f"got {got!r}, want {want!r}"


WORKLOADS = {w.name: w for w in (Analytics, Oltp)}
