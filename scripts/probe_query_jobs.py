"""Per-query decomposition probe: construction time, force time, and
SPARK JOB COUNT for each named registered query.

Usage:
    python scripts/probe_query_jobs.py name[,name...] [reps]

For lifecycle/digest-style queries the job count is the structural
metric: at sub-second scale each sequential job costs a near-constant
scheduling+barrier overhead, so `n_jobs` predicts the floor better than
the plan does. Jobs are attributed via a per-query job group.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import SF_DIR, force_full_result as force  # noqa: E402
from iot_database_spark import registry  # noqa: E402
from iot_database_spark.session import get_spark  # noqa: E402


def main() -> None:
    names = [n.strip() for n in sys.argv[1].split(",") if n.strip()]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    spark = get_spark("probe_query_jobs")
    sc = spark.sparkContext
    qs = registry.queries()

    print(f"{'query':40s} {'min_s':>7s} {'con_s':>7s} {'frc_s':>7s} {'jobs':>5s}")
    for name in names:
        fn = qs.get(name)
        if fn is None:
            print(f"{name:40s}  (not registered)")
            continue
        # warm-up (codegen, footers)
        force(fn(spark, SF_DIR))
        best = None
        for _ in range(reps):
            sc.setJobGroup(f"probe:{name}", name)
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            t1 = time.perf_counter()
            force(df)
            t2 = time.perf_counter()
            jobs = len(sc.statusTracker().getJobIdsForGroup(f"probe:{name}"))
            sc.setJobGroup(None, None)
            cur = (t2 - t0, t1 - t0, t2 - t1, jobs)
            if best is None or cur[0] < best[0]:
                best = cur
        print(
            f"{name:40s} {best[0]:7.2f} {best[1]:7.2f} {best[2]:7.2f} {best[3]:5d}"
        )


if __name__ == "__main__":
    main()
