"""Count Spark jobs (driver actions / job submissions) a declared query
executes while being BUILT and then collected -- the structural evidence for
iterative queries whose meaningful cost is per-round job count, not the
final (trivial) physical plan.

Usage: python tools/count_jobs.py <query> [query ...]
Env: SPARK_GRAFT_SF_DIR.

Prints one line per query: name, jobs during build, jobs during collect,
wall seconds. Uses the public StatusTracker API (job ids are monotonically
increasing per SparkContext).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from hive_person_service_spark import plans
    from hive_person_service_spark.session import get_spark
    from hive_person_service_spark.sources import TABLES, load_table

    spark = get_spark(app_name="count-jobs")
    spark.sparkContext.setLogLevel("ERROR")
    st = spark.sparkContext.statusTracker()
    for t in TABLES:
        load_table(spark, sf_dir, t).count()

    qs = plans.all_queries()
    for name in names:
        spark.catalog.clearCache()
        j0 = len(st.getJobIdsForGroup(None))
        t0 = time.time()
        df = qs[name](spark, sf_dir)
        j1 = len(st.getJobIdsForGroup(None))
        df.collect()
        j2 = len(st.getJobIdsForGroup(None))
        dt = time.time() - t0
        print(
            f"{name}: build_jobs={j1 - j0} collect_jobs={j2 - j1} "
            f"total_jobs={j2 - j0} wall={dt:.3f}s",
            flush=True,
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
