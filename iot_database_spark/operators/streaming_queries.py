"""Driver-graded Structured Streaming query.

The reference's continuous layer is a poll-timer service
(Queries/QueryExecutionService.cs:14 — 1 s tick, re-run registered
queries); the Spark-first equivalent is Structured Streaming with
event-time windows and watermarks (streaming/windowed.py). This module
puts that path under the driver's DuckDB correctness gate: the SAME
windowed_rollup plan runs as a real stream (file source, availableNow
trigger, memory sink) and must hash-match a plain batch GROUP BY — the
streaming==batch equivalence that makes the two paths interchangeable.

Determinism notes: with availableNow over one input file the stream is
one micro-batch, so no rows are late relative to the watermark and the
result equals the batch aggregation bit-for-bit. first/last-value
columns are dropped from the graded output because min_by/arg_min ties
on duplicate timestamps are engine-nondeterministic.
"""

from __future__ import annotations

import uuid
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iot_database_spark.registry import register
from iot_database_spark.streaming.windowed import windowed_rollup

# Stateful streaming parallelism is pinned at STREAM START by
# spark.sql.shuffle.partitions (AQE re-plans batch exchanges at runtime
# but NEVER streaming state — the partition count is baked into the
# state store layout). Every state partition pays a per-micro-batch
# commit (delta file + maintenance) regardless of how little state it
# holds, so small inputs want FEW partitions: at the registered sf<=1
# inputs, 32 partitions x 2 join sides x 2 availableNow batches = 128
# near-empty store commits that dominated stream_stream_time_join
# (measured 8.2 s -> 2.9 s at 8 partitions, identical results — the
# grading hash is partition-independent).
#
# Input-PROPORTIONAL sizing was tried in r10 and measured WORSE on
# HDFS-backed state (same-process A/B at sf10, 8 vs 19 partitions:
# session-window complete-mode state 17 -> 130 s — per-partition store
# open/commit/maintenance amplifies faster than parallelism pays back
# on one JVM). The r11 RocksDB A/B below revised that: the conclusion
# held only for the HDFS-map backend; under RocksDB more partitions DO
# pay at big state, so the small pin is now the SMALL-SOURCE config.
_STREAM_STATE_PARTITIONS = 8

_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

# r10 verdict task #6: the 8-partition pin above was measured against
# HDFS-backed state, whose per-store open/commit amplification RocksDB
# specifically removes — and the r11 A/B (SCALE_r11.md, sf0.1/sf1/sf10,
# back-to-back same-host batches) shows a clean CROSSOVER, so the
# config is now sized from the stream's SOURCE BYTES (the observable
# proxy for state size):
#   - small sources (sf0.1-scale, events ~2 MB): HDFS-map state at 8
#     partitions wins (11.6 s vs RocksDB-19's 18.4 s family total) —
#     RocksDB's per-store fixed cost dominates near-empty state.
#   - big sources: RocksDB wins big over HDFS-map, and the partition
#     count should GROW with state size — both ends re-measured on a
#     QUIET host in r12 (the r11 batches ran under ~10x load spikes;
#     SCALE_r12.md):
#       sf1  (events ~16 MB):  rocksdb-19 family 19.2 s vs rocksdb-32
#         31.4 s (threshold alerts 6.2 vs 11.5 s) — near-empty stores
#         still punish extra partitions;
#       sf10 (events ~157 MB): rocksdb-32 family 99.2 s vs rocksdb-19
#         105.0 s (threshold alerts 29.3 vs 38.3 s; hdfs-8 = 84.4 s) —
#         at real state size parallelism should match compute
#         parallelism (32 == this host's cores).
#     Hence the two-tier route below: >= 8 MiB -> RocksDB @ 19,
#     >= 64 MiB -> RocksDB @ cores-scale 32 (64 MiB splits the two
#     measured points on the winning side of each).
#   - the HDFS/RocksDB crossover sits near sf1 (events ~16 MB: 18.0 vs
#     16.4 s) — the 8 MiB threshold puts sf1 on the RocksDB side it
#     already wins.
#   - exception, measured each round: stream_stream_time_join keeps the
#     small-state config at every scale (watermark-evicted state never
#     grows with the source; quiet-host sf10 hdfs-8 = 7.7 s vs
#     21.5-37.1 s under every RocksDB config).
# The huge tier's partition count is the session's defaultParallelism
# ("state parallelism should match compute parallelism" is the measured
# conclusion; a literal 32 would pin one host's core count onto any
# other deployment).
_BIG_STATE_SOURCE_BYTES = 8 << 20
_BIG_STATE_PARTITIONS = 19
_HUGE_STATE_SOURCE_BYTES = 64 << 20


def _source_bytes(sf_dir: str, glob: str) -> int:
    """Total bytes of the table the stream will read (parquet file or
    dir). Local-fs only; an unreadable source counts as 0 bytes."""
    import pathlib

    try:
        p = pathlib.Path(sf_dir) / glob
        if p.is_dir():
            return sum(f.stat().st_size for f in p.rglob("*") if f.is_file())
        return p.stat().st_size if p.is_file() else 0
    except OSError:
        return 0


def _stream_state_config(
    sf_dir: str | None, glob: str, parallelism: int
) -> tuple[str, int]:
    """(provider, partitions) for a stream over {sf_dir}/{glob}, from
    the measured size crossover above. `parallelism` is the session's
    compute parallelism (defaultParallelism); the huge tier tracks it,
    never below the big tier's count."""
    if sf_dir:
        nbytes = _source_bytes(sf_dir, glob)
        if nbytes >= _HUGE_STATE_SOURCE_BYTES:
            return ("rocksdb", max(parallelism, _BIG_STATE_PARTITIONS))
        if nbytes >= _BIG_STATE_SOURCE_BYTES:
            return ("rocksdb", _BIG_STATE_PARTITIONS)
    return ("", _STREAM_STATE_PARTITIONS)


_STREAM_SESSIONS: "weakref.WeakKeyDictionary[SparkSession, SparkSession]" = (
    weakref.WeakKeyDictionary()
)


def _stream_session(
    spark: SparkSession,
    sf_dir: str | None = None,
    glob: str = "events.parquet",
):
    """A per-parent-session CLONE (spark.newSession(): same
    SparkContext, isolated SQLConf/catalog) with shuffle.partitions
    pinned to the stream's state-store count and the state store
    backend chosen from the source size (_stream_state_config — the
    measured HDFS-small / RocksDB-big crossover). Every streaming query
    builds its sources, runs its sinks, and returns its result on the
    clone, so the parent session's conf is NEVER touched (r9 verdict
    #5 — the old context manager mutated the session-global conf, and
    any batch query planned concurrently in the same session while a
    stream ran silently inherited the reduced partition count).

    Cached per parent (weak key, strong value): one clone serves all of
    a session's streaming queries, and it stays alive exactly as long
    as the parent — returned DataFrames read their landed sinks through
    it lazily. The per-call conf (re)pin is safe on the shared clone
    because streaming confs bind at STREAM START and every query here
    runs its stream to completion (availableNow) inside its own call."""
    clone = _STREAM_SESSIONS.get(spark)
    if clone is None:
        clone = spark.newSession()
        from iot_database_spark.session import _apply_runtime_confs

        _apply_runtime_confs(clone)
        _STREAM_SESSIONS[spark] = clone
    provider, n = _stream_state_config(
        sf_dir, glob, parallelism=spark.sparkContext.defaultParallelism
    )
    # (re)pin after any conf application — load-order independent
    clone.conf.set("spark.sql.shuffle.partitions", str(n))
    if provider == "rocksdb":
        clone.conf.set(
            "spark.sql.streaming.stateStore.providerClass", _ROCKSDB_PROVIDER
        )
    else:
        clone.conf.unset("spark.sql.streaming.stateStore.providerClass")
    return clone

# PySpark 4.1 reads the testdata's TIMESTAMP(NANOS) parquet natively as
# TIMESTAMP_NTZ (truncated to micros) — declare it as such so event-time
# windowing sees real timestamps
_STREAM_SCHEMA = (
    "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, "
    "value double, props string"
)


def _land_to_parquet(
    stream_df: DataFrame, output_mode: str, write_mode: str, prefix: str
) -> DataFrame:
    """Run a streaming frame to completion (availableNow) landing each
    micro-batch as a foreachBatch parquet write, and return the landed
    result as a DISTRIBUTED read — the driver never holds a row (the r8
    scale probe caught a complete-mode memory sink collecting ~3M
    session rows: 3x data cost 6x runtime).

    The sink directory lives under spark.sql.warehouse.dir — shared
    storage on a real cluster (a driver-local /tmp path would silently
    scatter executor writes across hosts) — namespaced under
    _stream_sinks/ so test/bench sessions can reclaim the space in one
    sweep. The directory must outlive the returned DataFrame (it reads
    the files lazily), so cleanup belongs to the session owner, not this
    helper."""
    spark = stream_df.sparkSession
    out_dir = f"{_sink_root(spark)}/{prefix}{uuid.uuid4().hex[:8]}"

    def land(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df.write.mode(write_mode).parquet(out_dir)

    (
        stream_df.writeStream.foreachBatch(land)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.read.parquet(out_dir)


def _sink_root(spark: SparkSession) -> str:
    """The one place the landed-sink namespace is spelled: keeps
    _land_to_parquet's writes and cleanup_stream_sinks' sweep in
    lockstep."""
    base = str(spark.conf.get("spark.sql.warehouse.dir")).rstrip("/")
    return f"{base}/_stream_sinks"


def cleanup_stream_sinks(spark: SparkSession) -> int:
    """Sweep every landed sink under <warehouse>/_stream_sinks and
    return how many were removed (0 when the delete did not happen —
    hdfs/s3 can refuse on permissions or a concurrent remove, and
    reporting the pre-counted total anyway would claim space that was
    never reclaimed). Uses the Hadoop FileSystem API so the same call
    works on local paths and cluster storage. list-then-delete is not
    atomic: a sink landed between the two calls is removed but not
    counted. Only call when no DataFrame returned by this session's
    streaming queries is still in use — they read the landed files
    lazily."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(_sink_root(spark))
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return 0
    n = len(fs.listStatus(root))
    return n if fs.delete(root, True) else 0


@register(
    "stream_windowed_rollup",
    oracle="""
    SELECT event_type,
           date_trunc('hour', date_trunc('microsecond', ts)) AS bucket_start,
           COUNT(*) AS n_samples,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events
    GROUP BY event_type, date_trunc('hour', date_trunc('microsecond', ts))
    """,
)
def stream_windowed_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-event-type rollup computed BY A RUNNING STREAM
    (readStream file source -> watermark -> window agg -> memory sink,
    availableNow trigger), then returned as the sink table."""
    spark = _stream_session(spark, sf_dir)  # conf-isolated clone (r9 verdict #5)
    stream = (
        spark.readStream.schema(_STREAM_SCHEMA)
        # the file source monitors a DIRECTORY; glob-filter it down to
        # the events table (sf_dir holds other tables' parquet too)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        # watermarks require TIMESTAMP (LTZ); the cast is exact under the
        # engine's pinned UTC session timezone (_stream_session applied it)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    rolled = windowed_rollup(
        stream,
        window="1 hour",
        watermark="2 hours",
        guid="event_type",
        ts="ts",
        value="value",
    ).select("event_type", "bucket_start", "n_samples", "min_value", "max_value")

    sink = f"stream_rollup_{uuid.uuid4().hex[:8]}"
    (
        rolled.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.table(sink)


@register(
    "stream_rollup_to_table",
    oracle="""
    SELECT event_type,
           date_trunc('hour', date_trunc('microsecond', ts)) AS bucket_start,
           COUNT(*) AS n_samples,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events
    GROUP BY event_type, date_trunc('hour', date_trunc('microsecond', ts))
    """,
)
def stream_rollup_to_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100-TB-shape streaming sink under the correctness gate: the
    SAME windowed rollup as stream_windowed_rollup, but lands in a
    versioned commit-log TABLE via foreachBatch upsert (update output
    mode, deterministic window-row ids) instead of a driver-resident
    memory sink — nothing accumulates on the driver, and the result is
    readable/time-travelable parquet. Graded output = the table read
    back, which must hash-match the plain batch GROUP BY."""
    import tempfile

    from iot_database_spark.database import IotDatabase
    from iot_database_spark.streaming.windowed import windowed_rollup_to_table

    spark = _stream_session(spark, sf_dir)  # conf-isolated clone (r9 verdict #5)
    stream = (
        spark.readStream.schema(_STREAM_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    tmp = tempfile.mkdtemp(prefix="stream_rollup_tbl_")
    db = IotDatabase("streamsink", tmp, spark)
    q = windowed_rollup_to_table(
        stream,
        db,
        "hourly_rollup",
        window="1 hour",
        watermark="2 hours",
        guid="event_type",
        ts="ts",
        value="value",
        checkpoint=f"{tmp}/ckpt",
    )
    q.awaitTermination()
    return db.table("hourly_rollup").df.select(
        "event_type", "bucket_start", "n_samples", "min_value", "max_value"
    )


@register(
    "stream_exact_dedup",
    oracle="SELECT DISTINCT md5(text) AS content_hash FROM documents",
)
def stream_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup computed BY A RUNNING STREAM: readStream file source
    -> dropDuplicates on the content hash -> foreachBatch parquet
    append (corpus-sized output must never sit on the driver — same r8
    scale finding as stream_sessionization). The graded output is the
    distinct hash set (which row of a duplicate group a stream keeps is
    arrival-order-dependent, so only the key set is deterministic). At
    scale the state store holds one 16-byte key per distinct document;
    a real deployment bounds it with a watermark on ingest time — with
    availableNow over one file there is a single micro-batch and no
    state expiry question."""
    spark = _stream_session(spark, sf_dir, "documents.parquet")  # conf-isolated clone (r9 verdict #5)
    docs_schema = (
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    stream = (
        spark.readStream.schema(docs_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .select(F.md5("text").alias("content_hash"))
        .dropDuplicates(["content_hash"])
    )
    return _land_to_parquet(stream, "append", "append", "stream_dedup_")


@register(
    "stream_threshold_alerts",
    oracle="""
    WITH s AS (
        SELECT CAST(user_id AS BIGINT) AS guid,
               date_trunc('microsecond', ts) AS ts,
               CAST(value AS DOUBLE) AS value,
               CAST(event_id AS BIGINT) AS event_id
        FROM events
    ), st AS (
        SELECT *,
               COALESCE(LAST_VALUE(
                   CASE WHEN value >= CAST(200.0 AS DOUBLE) THEN 1
                        WHEN value <= CAST(100.0 AS DOUBLE) THEN 0
                   END IGNORE NULLS)
                 OVER (PARTITION BY guid ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 0) AS state
        FROM s
    ), tr AS (
        SELECT *,
               COALESCE(LAG(state) OVER (PARTITION BY guid
                                         ORDER BY ts, event_id), 0) AS prev
        FROM st
    )
    SELECT guid, CAST(epoch_us(ts) AS BIGINT) AS ts_us, value,
           CASE WHEN state = 1 THEN 'raise' ELSE 'clear' END AS alert
    FROM tr WHERE state <> prev
    """,
)
def stream_threshold_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hysteresis alerting computed BY A RUNNING STREAM: readStream file
    source -> applyInPandasWithState (one int of state per series,
    persisted across micro-batches) -> foreachBatch parquet append. Must
    hash-match the batch LOCF+lag window plan (`ts_threshold_alerts`'s
    oracle) — the streaming==batch equivalence that lets the alarm rule
    run incrementally instead of the reference's timer-driven full
    re-query (Queries/QueryExecutionService.cs)."""
    from iot_database_spark.streaming.stateful import (
        streaming_threshold_alerts,
    )

    spark = _stream_session(spark, sf_dir)  # conf-isolated clone (r9 verdict #5)
    stream = (
        spark.readStream.schema(_STREAM_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .select(
            F.col("user_id").alias("guid"),
            F.col("ts").cast("timestamp").alias("ts"),
            F.col("value"),
            F.col("event_id"),
        )
    )
    alerts = streaming_threshold_alerts(stream, high=200.0, low=100.0)
    # foreachBatch parquet append, not a memory sink: the alert stream
    # is bounded by transitions, but nothing guarantees transitions are
    # driver-sized on adversarial data — keep the sink distributed
    return _land_to_parquet(alerts, "append", "append", "stream_alerts_")


@register(
    "stream_sessionization",
    oracle="""
    WITH marked AS (
        SELECT CAST(user_id AS BIGINT) AS user_id,
               CAST(event_id AS BIGINT) AS event_id,
               ts,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                            > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY CAST(user_id AS BIGINT) ORDER BY ts)
    ), sessions AS (
        SELECT user_id, event_id,
               CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS session_no
        FROM marked
    )
    SELECT user_id,
           COUNT(*) AS n_events,
           MIN(event_id) AS first_event,
           MAX(event_id) AS last_event
    FROM sessions
    GROUP BY user_id, session_no
    """,
)
def stream_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows computed BY A RUNNING STREAM:
    readStream file source -> watermark -> F.session_window (native
    state-store session merging, the 100-TB shape: state is per OPEN
    session per user, never the history) -> foreachBatch parquet. Must
    hash-match the batch gap-split sessionization. Gap convention,
    pinned empirically (test_streaming_stateful.py gap-boundary test):
    Spark MERGES an event landing exactly gap after the previous one
    (windows [t, t+gap] touch), so a new session needs gap STRICTLY
    GREATER than 30 min — the same strict-> convention the batch
    `event_sessionization` twin uses, and what the oracle encodes.

    Session identity (user_id, session_no) aggregates to the same
    (n_events, first_event, last_event) multiset the stream emits per
    merged window, so the graded projection drops the window struct and
    session_no. Output mode is COMPLETE (Spark supports session windows
    in append/complete only, and append would hold back every session
    whose window end is past the final watermark — with availableNow
    there is no later batch to flush them); the sink is a foreachBatch
    parquet overwrite, so the full session set is written by a Spark
    job and read back distributed — never collected on the driver."""
    spark = _stream_session(spark, sf_dir)  # conf-isolated clone (r9 verdict #5)
    stream = (
        spark.readStream.schema(_STREAM_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    sessions = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(
            F.col("user_id").cast("bigint").alias("user_id"),
            F.session_window("ts", "30 minutes"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
        )
        .select("user_id", "n_events", "first_event", "last_event")
    )
    return _land_to_parquet(
        sessions, "complete", "overwrite", "stream_sessions_"
    )


@register(
    "stream_stream_time_join",
    oracle="""
    WITH e AS (
        SELECT CAST(user_id AS BIGINT) AS user_id,
               CAST(event_id AS BIGINT) AS event_id, ts, event_type
        FROM events
    ),
    v AS (SELECT user_id, event_id AS view_id, ts AS view_ts
          FROM e WHERE event_type = 'view'),
    p AS (SELECT user_id, event_id AS purchase_id, ts AS p_ts
          FROM e WHERE event_type = 'purchase')
    SELECT v.user_id, v.view_id, p.purchase_id,
           epoch_us(p.p_ts) - epoch_us(v.view_ts) AS delay_us
    FROM v JOIN p ON v.user_id = p.user_id
    WHERE epoch_us(p.p_ts) - epoch_us(v.view_ts)
          BETWEEN 0 AND 1800000000
    """,
)
def stream_stream_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked STREAM-STREAM inner join — view->purchase attribution
    within a 30-minute window, the canonical funnel join every
    clickstream pipeline runs. Both sides carry event-time watermarks
    and the join predicate is a TIME-RANGE condition on the event-time
    columns, which is what lets Spark bound the join state store (a
    view older than watermark + 30 min can never match a future
    purchase and is evicted) — the shape that survives an unbounded
    stream at 100 TB/day. With availableNow over one file the stream is
    a single micro-batch, so the inner join emits exactly the batch
    join's rows and must hash-match the plain DuckDB join.

    The delay column is an exact integer microsecond difference, and
    (view_id, purchase_id) pairs are unique — no tie or float
    nondeterminism anywhere.

    Deliberately NOT size-routed to RocksDB (no sf_dir passed): the
    watermark evicts this join's state continuously, so state stays
    small however big the source — and the r11 A/B measured the
    HDFS-map/8 config fastest for it at EVERY scale (sf10: 9.1-11.9 s
    vs 16.7-27.7 s across RocksDB configs) while the growing-state
    queries flipped (SCALE_r11.md)."""
    spark = _stream_session(spark)  # conf-isolated clone (r9 verdict #5)

    def _side(event_type: str, id_alias: str, ts_alias: str) -> DataFrame:
        return (
            spark.readStream.schema(_STREAM_SCHEMA)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("user_id").cast("bigint").alias("user_id"),
                F.col("event_id").cast("bigint").alias(id_alias),
                F.col("ts").cast("timestamp").alias(ts_alias),
            )
            .withWatermark(ts_alias, "1 hour")
        )

    views = _side("view", "view_id", "view_ts")
    purchases = _side("purchase", "purchase_id", "p_ts").withColumnRenamed(
        "user_id", "p_user_id"
    )
    joined = views.join(
        purchases,
        F.expr(
            "user_id = p_user_id AND "
            "p_ts >= view_ts AND p_ts <= view_ts + INTERVAL 30 MINUTES"
        ),
        "inner",
    ).select(
        "user_id",
        "view_id",
        "purchase_id",
        (F.unix_micros("p_ts") - F.unix_micros("view_ts")).alias("delay_us"),
    )
    return _land_to_parquet(joined, "append", "append", "stream_ssj_")
