"""Central registry of driver-visible queries and their DuckDB oracles.

Every operator this engine claims from SURVEY.md §2 registers a named
query here: a callable (spark, sf_dir) -> DataFrame plus (where the
semantics are ANSI-SQL-expressible) an equivalent DuckDB SQL string.
The driver hash-compares both at sf0.01; `tests/test_oracle_parity.py`
runs the same comparison locally.

Column-name discipline: the driver sorts columns by name before hashing,
so the Spark DataFrame and the oracle SQL must produce identical column
names — alias everything on both sides.
"""

from __future__ import annotations

import weakref
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# oracle values are SQL strings, or zero-arg callables producing one —
# the lazy form exists for oracles parameterized by call-time state
# (e.g. SPARK_GRAFT_DECON_EVAL_PATH, resolved when the driver asks for
# the oracle rather than baked at import — r12 verdict task #5)
_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, "str | Callable[[], str]"] = {}


def register(
    name: str, oracle: "str | Callable[[], str] | None" = None
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a driver-visible query (and optional oracle
    SQL — a string, or a zero-arg callable resolved at oracles() time)."""

    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


# The driver evaluates registered queries in dict-iteration order and
# caps evaluation at the first 50, so this explicit priority list decides
# which queries get a driver row each round. Remaining queries follow in
# registration order. `python scripts/plan_rotation.py` derives the next
# round's ordering from the recorded CORRECTNESS_r*.json artifacts
# (reds first, then never-graded, then oldest-green-first).
#
# Round-14 window (exactly 50 slots) — the planner's output verbatim
# (scripts/plan_rotation.py, run at r14 start). Steady-state rotation:
# stream_windowed_rollup leads (the r10 green the r13 window displaced —
# its evidence hits the 3-round age limit this round, exactly the
# deferral arithmetic the r13 registry comments predicted), then the 49
# oldest r11 greens. No registration change this round (optimization
# round: semantics and registry frozen).
# SATURATION: at 150 registered queries, a 50-slot window, and the
# 3-round evidence-age limit, the rotation is exactly full with ZERO
# slack. Steady state: r15 = the remaining r11 green + the r12 greens.
# Any NEW registration (or same-round re-grade after a semantics
# change) needs a slot freed by RETIRING a query first — the policy is
# mechanical: scripts/plan_rotation.py (r11 verdict task #6).
_PRIORITY: tuple[str, ...] = (
    "stream_windowed_rollup",  # r10 green
    "join_part_promo_monthly",  # r11 green
    "set_intersect",  # r11 green
    "set_except",  # r11 green
    "cube_agg",  # r11 green
    "pivot_status_by_segment",  # r11 green
    "grouping_sets_agg",  # r11 green
    "event_sessionization",  # r11 green
    "skew_salted_agg",  # r11 green
    "event_funnel",  # r11 green
    "event_cohort_retention",  # r11 green
    "approx_sketch_accuracy",  # r11 green
    "event_transition_matrix",  # r11 green
    "string_funcs",  # r11 green
    "string_format_regex",  # r11 green
    "date_funcs",  # r11 green
    "json_extract",  # r11 green
    "iot_write_gating",  # r11 green
    "ts_seasonal_baseline",  # r11 green
    "vector_cosine_topk",  # r11 green
    "vector_l2_topk",  # r11 green
    "vector_upsert_dedup",  # r11 green
    "ann_ivf_cosine",  # r11 green
    "ann_two_stage_rerank",  # r11 green
    "dedup_simhash",  # r11 green
    "dedup_embedding_cosine",  # r11 green
    "dedup_fuzzy_name_match",  # r11 green
    "dedup_span_exact",  # r11 green
    "dedup_span_removal",  # r11 green
    "decontaminate_fixed_eval",  # r11 green
    "text_quality_scores",  # r11 green
    "text_token_count",  # r11 green
    "text_langid",  # r11 green
    "text_gopher_rules",  # r11 green
    "text_scrub_pii",  # r11 green
    "decontaminate_ngram_overlap",  # r11 green
    "embedding_outliers",  # r11 green
    "text_repetition_trim",  # r11 green
    "corpus_zipf_stats",  # r11 green
    "dedup_url_canonical",  # r11 green
    "pipeline_web_ingest",  # r11 green
    "corpus_quality_resample",  # r11 green
    "embedding_quantize_int8",  # r11 green
    "ann_int8_cosine",  # r11 green
    "search_phrase_topk",  # r11 green
    "nl_find_filter_sort_limit",  # r11 green
    "nl_find_dual_join",  # r11 green
    "nl_find_dual_fk_inference",  # r11 green
    "nl_find_triple_join",  # r11 green
    "nl_find_include_digest",  # r11 green
)


def _ordered(src: dict[str, Any]) -> dict[str, Any]:
    out = {name: src[name] for name in _PRIORITY if name in src}
    out.update((name, v) for name, v in src.items() if name not in out)
    return out


def queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return _ordered(_QUERIES)


def oracles() -> dict[str, str]:
    _ensure_loaded()
    return {
        name: (v() if callable(v) else v)
        for name, v in _ordered(_ORACLES).items()
    }


_LOADED = False


def _ensure_loaded() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    import importlib

    for mod in (
        "iot_database_spark.operators.relational",
        "iot_database_spark.operators.scalar_dialect",
        "iot_database_spark.operators.iotvalue_queries",
        "iot_database_spark.operators.timeseries_queries",
        "iot_database_spark.operators.blockchain_queries",
        "iot_database_spark.operators.vector_queries",
        "iot_database_spark.operators.dedup_queries",
        "iot_database_spark.operators.textstats_queries",
        "iot_database_spark.operators.curation_queries",
        "iot_database_spark.operators.quantize_queries",
        "iot_database_spark.operators.search_queries",
        "iot_database_spark.operators.nl_queries",
        "iot_database_spark.operators.streaming_queries",
        "iot_database_spark.operators.storage_queries",
    ):
        importlib.import_module(mod)
    _LOADED = True


# Weakly keyed by the session object so a stopped-and-recreated session
# can never collide with a dead one's id() (round-1 review finding); the
# value holds {"dirs": {sf_dir -> loaded tables}, "active": sf_dir}.
_VIEW_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[str, Any]]" = (
    weakref.WeakKeyDictionary()
)


def load_views(spark: SparkSession, sf_dir: str) -> dict[str, Any]:
    """Register the testdata tables as temp views (memoized per session+dir:
    repeated query calls must not pay parquet-footer/schema reads again).

    View names are GLOBAL per session while the memo is per sf_dir, so a
    session that alternates between dirs (the test suite does; a driver
    grading two SFs would too) must RE-REGISTER the views whenever the
    active dir changes — otherwise a spark.sql()-built query silently
    reads the previous dir's tables while the returned DataFrame dict
    reads the right ones (a round-8 full-suite failure caught exactly
    that split). The per-session 'active' slot tracks which dir owns
    the view names; switching back re-registers (cheap:
    createOrReplaceTempView over already-built frames) without
    re-reading parquet footers."""
    # the active dir is tracked in its own slot, NOT as a magic key in
    # the dirs dict (r9 advice: an sf_dir literally named like the old
    # '_active' sentinel would have been read back as a table dict)
    per_session = _VIEW_CACHE.setdefault(spark, {"dirs": {}, "active": None})
    cached = per_session["dirs"].get(sf_dir)
    if cached is not None:
        if per_session["active"] != sf_dir:
            for name, df in cached.items():
                df.createOrReplaceTempView(name)
            _drop_absent_views(spark, cached)
            per_session["active"] = sf_dir
        return cached
    from iot_database_spark.session import load_tables

    out = load_tables(spark, sf_dir)
    _drop_absent_views(spark, out)
    per_session["dirs"][sf_dir] = out
    per_session["active"] = sf_dir
    return out


def _drop_absent_views(spark: SparkSession, present: dict[str, Any]) -> None:
    """Dirs can hold a SUBSET of the testdata tables (load_tables skips
    missing files silently — crafted test fixtures do this on purpose).
    Activating such a dir must also UNREGISTER the other tables' views:
    leaving them pointed at the previously active dir turns a missing
    table into a silent wrong-dir read for any spark.sql()-built query,
    where the correct outcome is TABLE_OR_VIEW_NOT_FOUND (r8 review
    finding — the dir-switch fix alone only re-pointed tables the new
    dir HAS)."""
    from iot_database_spark.session import TESTDATA_TABLES

    for name in TESTDATA_TABLES:
        if name not in present:
            spark.catalog.dropTempView(name)
