"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line describing THIS run
(kept under the driver's 2000-char stdout tail window — the FULL
per-query map of the same run is written to BENCH_full_local.json,
digest-linked to the stdout line).

Each query is forced by CONSUMING EVERY OUTPUT COLUMN (md5 over the
string-cast row, max-aggregated — nothing is collected to the driver
beyond one row). A bare .count() is NOT a valid force: Catalyst prunes
unreferenced projections under count(1), so a projection-only query
(string transforms, window folds) would be timed as an empty parquet
scan — rounds <= 4 measured exactly that for such queries, which is
why their r5 times are HIGHER and not comparable round-over-round;
aggregation/join/filter-shaped queries were and remain measured fully
(their compute feeds the count) plus the now-explicit consumption cost.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from iot_database_spark import registry
from iot_database_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline queries — one per operator family; extend as families land.
HEADLINE = [
    "q01_pricing_summary",
    "scan_filter_project",
    "join4_revenue_by_nation",
    "join6_local_supplier_revenue",
    "join_part_promo_monthly",
    "join2_orders_customer",
    "groupby_having",
    "window_topk_per_group",
    "window_running_sum",
    "semi_join_exists",
    "set_union",
    "sort_limit_offset",
    "iot_effective_value",
    "ts_locf_merge",
    "ts_resample_interp",
    "ts_asof_join",
    "ts_rollup_hourly",
    "chain_verify",
    "vector_cosine_topk",
    "ann_ivf_cosine",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "text_quality_scores",
    "text_fingerprint",
    "pipeline_clean_corpus",
    "pipeline_prepare_training_data",
    "nl_find_dual_join",
    "event_sessionization",
    "skew_salted_agg",
    # round 2 additions
    "dedup_cluster_assign",
    "text_gopher_rules",
    "text_scrub_pii",
    "text_chunk_windows",
    "remote_serialized_find",
    "stream_windowed_rollup",
    # round 3 additions
    "decontaminate_ngram_overlap",
    "corpus_mixture_sample",
    "heavy_hitter_ngrams",
    "embedding_outliers",
    "ann_lsh_cosine",
    "text_quality_classifier",
    "stream_exact_dedup",
    "search_bm25_topk",
    "search_hybrid_rrf",
    "corpus_pack_sequences",
    # round 3: NTZ-family + relational-core focus
    "ts_detect_gaps",
    "ts_rate_of_change",
    "chain_append",
    "window_range_frame",
    "window_rank_family",
    "rollup_agg",
    "event_funnel",
    # round 4 additions
    "unit_convert_bulk",
    "sql_include_digest",
    # round 5 additions
    "dedup_ngram_jaccard_capped",
    # round 6 additions
    # (dedup_ngram_jaccard_absolute is deliberately NOT here: it is the
    # known-quadratic fixed-cap compat variant — kept registered with
    # its oracle gate for parity proof, but a plan we would never run
    # at scale has no place in the headline total. The scale-correct
    # fractional-df default `dedup_ngram_jaccard` and the capped
    # variant remain measured above.)
    "text_bpe_token_count_fixed",
    "stream_rollup_to_table",
    "zorder_key_events",
    "cagg_incremental_refresh",
    "timetravel_asof_digest",
    "evolution_nullfill_digest",
    "txn_atomicity_digest",
    "fk_cascade_digest",
    "ts_range_join",
    "ts_ewma_smooth",
    "ts_anomaly_mad",
    "ts_threshold_alerts",
    "text_strip_html",
    "approx_sketch_accuracy",
    "text_trigram_coverage",
    "stream_threshold_alerts",
    # round 8 additions
    "stream_sessionization",
    "text_trigram_lm_score",
    "text_repetition_trim",
    "corpus_zipf_stats",
    "dedup_url_canonical",
    "embedding_quantize_int8",
    "ann_int8_cosine",
    "stream_stream_time_join",
    "decontaminate_minhash",
    "ann_two_stage_rerank",
    "event_transition_matrix",
    "pipeline_web_ingest",
    "ts_seasonal_baseline",
    "corpus_ccnet_buckets",
    # round 9 additions
    "continuous_slot14_digest",
    "vector_filtered_topk",
    "vector_multi_query_topk",
    "dedup_ngram_containment",
    "corpus_ngram_novelty",
    "event_path_topk",
    "decontaminate_eval_leak_report",
    "ts_cusum_drift",
    # round 11 additions
    "dedup_span_exact",
    "dedup_span_removal",
    "dedup_substring_suffix",
    "corpus_quality_resample",
    "search_phrase_topk",
    "decontaminate_fixed_eval",
]


def force_full_result(df) -> None:
    """Execute the query evaluating EVERY output column (see module
    docstring): hash the string-cast row, aggregate to one max — all
    compute happens on executors, one scalar returns to the driver."""
    from pyspark.sql import functions as F

    cols = [F.col(c).cast("string") for c in df.columns]
    df.groupBy().agg(
        F.count(F.lit(1)), F.max(F.md5(F.concat_ws("\x1f", *cols)))
    ).collect()


class StealSampler:
    """Samples CPU-steal time from /proc/stat in a daemon thread.

    The bench host is a VM whose neighbors burst-steal up to ~33% of
    CPU for 5-25 s windows (SCALE_r13.md #4a) — enough to inflate a
    full-roster pass by 30%+ with no code change. Recording each
    pass's steal profile alongside its timings makes the ambient
    factor part of the artifact and the stdout line instead of a
    post-hoc control: a raw total is only comparable when its
    `steal.gt1pct` is ~0.

    No-op (profile reports zero samples) where /proc/stat is absent.
    """

    _INTERVAL_S = 4.0

    def __init__(self) -> None:
        self._pcts: list[float] = []
        self._stop = None
        self._thread = None

    @staticmethod
    def _jiffies(line: str) -> tuple[int, int] | None:
        """(steal, total) jiffies from a /proc/stat aggregate cpu line."""
        parts = line.split()
        if not parts or parts[0] != "cpu":
            return None
        vals = [int(x) for x in parts[1:] if x.isdigit()]
        steal = vals[7] if len(vals) > 7 else 0
        return steal, sum(vals)

    @classmethod
    def _read(cls) -> tuple[int, int] | None:
        try:
            with open("/proc/stat") as fh:
                return cls._jiffies(fh.readline())
        except OSError:
            return None

    def start(self) -> "StealSampler":
        import threading

        if self._read() is None:
            return self  # non-Linux host: stay a no-op
        self._stop = threading.Event()

        def loop() -> None:
            prev = self._read()
            while not self._stop.wait(self._INTERVAL_S):
                cur = self._read()
                if prev and cur:
                    d_total = cur[1] - prev[1]
                    if d_total > 0:
                        self._pcts.append(100.0 * (cur[0] - prev[0]) / d_total)
                prev = cur

        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> dict:
        if self._stop is not None:
            self._stop.set()
            self._thread.join(timeout=self._INTERVAL_S + 1)
        return self.profile(self._pcts)

    @staticmethod
    def profile(pcts: list[float]) -> dict:
        return {
            "samples": len(pcts),
            "gt1pct": sum(1 for p in pcts if p > 1.0),
            "max_pct": round(max(pcts), 1) if pcts else 0.0,
            "mean_pct": round(sum(pcts) / len(pcts), 2) if pcts else 0.0,
        }


OUT_DIR = Path(__file__).resolve().parent


def record_name(sf, only: bool) -> str:
    """Artifact file for a run: the canonical sf0.1 record, a per-sf
    record for scale runs, or the subset file for a focused
    SPARK_GRAFT_ONLY probe (which must not clobber a full-run record)."""
    if only:
        return "BENCH_subset_local.json"
    return "BENCH_full_local.json" if sf == 0.1 else f"BENCH_full_local_sf{sf}.json"


def main() -> None:
    steal = StealSampler().start()
    spark = get_spark("iot_database_spark_bench")
    qs = registry.queries()
    names = [n for n in HEADLINE if n in qs]
    # scale probes re-run focused subsets at big sf (SCALE_r06.md):
    # comma-separated headline names, unknown names ignored
    only = os.environ.get("SPARK_GRAFT_ONLY")
    if only:
        keep = {n.strip() for n in only.split(",") if n.strip()}
        names = [n for n in names if n in keep]

    # warm-up pass: JVM startup, parquet footers, and whole-stage-codegen
    # compilation (cached per generated source) are one-time costs a
    # long-lived cluster amortizes — measure steady-state execution
    for name in names:
        force_full_result(qs[name](spark, SF_DIR))

    # two temporally-separated measurement passes, min per query: this
    # host runs unrelated processes whose load spikes inflate a single
    # measurement by 10x+; the min of two spaced runs is the honest
    # steady-state estimate (a spike rarely covers both).
    timings: dict[str, float] = {}
    for _ in range(2):
        for name in names:
            t0 = time.perf_counter()
            force_full_result(qs[name](spark, SF_DIR))
            dt = round(time.perf_counter() - t0, 4)
            timings[name] = min(timings.get(name, dt), dt)

    # every streaming query landed a parquet sink under the warehouse's
    # _stream_sinks namespace; all results are fully consumed by now
    # (force_full_result collects a scalar), so reclaim the space —
    # three passes over the streaming family would otherwise leave
    # ~dozens of dirs per bench run
    try:
        from iot_database_spark.operators.streaming_queries import (
            cleanup_stream_sinks,
        )

        cleanup_stream_sinks(spark)
    except Exception:
        pass  # sweeping is best-effort; timings are already recorded

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # The driver keeps only the LAST 2000 characters of stdout
    # (BENCH_r05.json parsed as null with its head cut off), so the
    # full-precision record of this run goes to the record file and
    # stdout gets compact_line's digest-linked summary of the same run.
    full = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "n_queries": len(timings),
        "cpus": spark.sparkContext.defaultParallelism,
        "steal": steal.stop(),
    }
    full_path = OUT_DIR / record_name(sf_val, bool(only))
    full_path.write_text(json.dumps(full, indent=1) + "\n")
    print(compact_line(full, full_path.name))


STDOUT_BUDGET = 1900  # < the driver's 2000-char stdout tail window


def compact_line(full: dict, queries_file: str) -> str:
    """The <=STDOUT_BUDGET-byte stdout form of a full bench record:
    totals, cpus, steal profile, digest, artifact pointer, and the
    slowest per-query entries that fit — slowest first, since those are
    the ones a reader of the parsed line needs (tested in
    tests/test_bench_output.py)."""
    import hashlib

    digest = hashlib.md5(
        json.dumps(full, sort_keys=True).encode()
    ).hexdigest()[:12]
    compact = {
        "metric": full["metric"],
        "value": full["value"],
        "unit": full["unit"],
        "sf": full["sf"],
        "n_queries": full["n_queries"],
        "cpus": full["cpus"],
        "steal": full["steal"],
        "digest": digest,
        "queries_file": queries_file,
        "queries": {},
    }
    for name, t in sorted(full["queries"].items(), key=lambda kv: -kv[1]):
        compact["queries"][name] = round(t, 2)
        if len(json.dumps(compact, separators=(",", ":"))) > STDOUT_BUDGET:
            del compact["queries"][name]
            break
    return json.dumps(compact, separators=(",", ":"))


if __name__ == "__main__":
    main()
