"""Measure that the blocked-self-join width caps BIND at scale
(r10 verdict task #5).

The r10 cap audit argued the `max_block`/`max_bucket` guards bound the
quadratic candidate-pair term past the cap, but deliberately did not
probe above the cap ("past the cap the curve is trivially flat" — an
argument, not a measurement). This probe measures it for the fuzzy-name
blocked join (`dedup_fuzzy_name_match`, block key = nation):

- `below`: 24 cold nations x 1,000 customers + one hot nation at 3,000
  (widest block 3,000 <= 4,096 — the cap does nothing). Pair work:
  24 * C(1000,2) + C(3000,2) ~ 16.5M levenshtein evaluations.
- `above`: same 24 cold nations + the hot nation at 12,000 (widest
  block 12,000 > 4,096 — the cap DROPS it). Input rows grow 1.33x and
  the uncapped plan would pay C(12000,2) ~ 72M extra evaluations
  (~5.3x the below total); the capped plan does the cold nations only
  (~12M — LESS work than below).

Flat-or-falling runtime from `below` to `above`, with the dropped
block's width reported, is the measured proof the cap turns the
super-linear skew term into reported loss instead of runtime.

Writes nothing outside .scale/capprobe (gitignored); prints one JSON
line. Run alone (no concurrent Spark jobs) and take min-of-two — this
host's load spikes inflate single runs.
"""

from __future__ import annotations

import json
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from iot_database_spark import registry
from iot_database_spark.operators.dedup_queries import (
    _FUZZY_MAX_BLOCK,
    dedup_fuzzy_name_match,
)
from iot_database_spark.session import get_spark

ROOT = Path(__file__).resolve().parent.parent / ".scale" / "capprobe"
COLD_NATIONS = 24
COLD_WIDTH = 1_000


def gen(spark, name: str, hot_width: int) -> str:
    """Deterministic skewed customer table: nations 1..24 cold at
    COLD_WIDTH rows, nation 0 hot at hot_width. Names are fixed-width
    'Customer#<9 digits>' so levenshtein pairs exist at every width."""
    out = ROOT / name
    if out.exists():
        shutil.rmtree(out)
    n = COLD_NATIONS * COLD_WIDTH + hot_width
    df = spark.range(n).select(
        F.col("id").alias("c_custkey"),
        F.format_string("Customer#%09d", F.col("id")).alias("c_name"),
        F.when(F.col("id") < hot_width, F.lit(0))
        .otherwise((F.col("id") - hot_width) % COLD_NATIONS + 1)
        .cast("bigint")
        .alias("c_nationkey"),
    )
    df.repartition(8).write.mode("overwrite").parquet(
        str(out / "customer.parquet")
    )
    return str(out)


def measure(spark, sf_dir: str) -> dict:
    t_best, n_pairs = None, None
    for _ in range(2):
        t0 = time.perf_counter()
        n_pairs = dedup_fuzzy_name_match(spark, sf_dir).count()
        dt = time.perf_counter() - t0
        t_best = dt if t_best is None else min(t_best, dt)
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    widths = (
        cust.groupBy("c_nationkey").count().orderBy(F.desc("count")).collect()
    )
    widest = widths[0]["count"]
    dropped = [
        {"blk": r["c_nationkey"], "width": r["count"]}
        for r in widths
        if r["count"] > _FUZZY_MAX_BLOCK
    ]
    return {
        "rows": cust.count(),
        "widest_block": widest,
        "dropped_blocks": dropped,
        "dropped_rows": sum(d["width"] for d in dropped),
        "output_pairs": n_pairs,
        "min_sec": round(t_best, 3),
    }


def main() -> None:
    spark = get_spark("cap_probe")
    results = {}
    for name, hot in (("below", 3_000), ("above", 12_000)):
        sf_dir = gen(spark, name, hot)
        registry._VIEW_CACHE.clear()  # fresh views per probe dir
        results[name] = measure(spark, sf_dir)
    results["cap"] = _FUZZY_MAX_BLOCK
    results["step_ratio_runtime"] = round(
        results["above"]["min_sec"] / results["below"]["min_sec"], 3
    )
    results["step_ratio_rows"] = round(
        results["above"]["rows"] / results["below"]["rows"], 3
    )
    print(json.dumps(results))


if __name__ == "__main__":
    main()
