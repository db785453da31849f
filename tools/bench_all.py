"""Per-query timing sweep over the ENTIRE declared inventory (not just the
bench.py headline set) -- the per-round perf regression baseline.

Usage: python tools/bench_all.py [sf_dir] [out.json] [collect|noop]
Writes {"sf": ..., "mode": ..., "queries": {name: sec}} sorted
slowest-first and prints the 10 slowest.

Modes: `collect` (default) measures end-to-end including driver
materialization -- what the oracle gate pays; `noop` executes into the
JVM-side noop sink, isolating plan cost from result-set serialization
(a projection returning 600k rows is "slow" under collect purely from
shipping rows to Python).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/bench_all.json"

    from hive_person_service_spark import plans
    from hive_person_service_spark.session import get_spark
    from hive_person_service_spark.sources import TABLES, load_table

    spark = get_spark(app_name="bench-all")
    spark.sparkContext.setLogLevel("ERROR")
    for t in TABLES:
        load_table(spark, sf_dir, t).count()

    mode = sys.argv[3] if len(sys.argv) > 3 else "collect"
    only = set(sys.argv[4:])  # optional subset of query names
    timings: dict[str, float] = {}
    for name, fn in plans.all_queries().items():
        if only and name not in only:
            continue
        t0 = time.time()
        df = fn(spark, sf_dir)
        if mode == "noop":
            df.write.format("noop").mode("overwrite").save()
        else:
            df.collect()
        timings[name] = round(time.time() - t0, 3)
        # Drop cached intermediates the query persisted: queries are
        # independent, and letting 300+ persists accumulate in one
        # session puts later queries under artificial memory pressure
        # (geo_nearest_supplier measured 25s in-sweep vs 3.5s standalone
        # before this line).
        spark.catalog.clearCache()
        print(f"done {name}: {timings[name]}s", flush=True)

    ordered = dict(sorted(timings.items(), key=lambda kv: -kv[1]))
    json.dump(
        {"sf": sf_dir, "mode": mode, "queries": ordered},
        open(out_path, "w"),
        indent=1,
    )
    total = round(sum(timings.values()), 1)
    print(f"total {total}s over {len(timings)} queries -> {out_path}")
    for name, sec in list(ordered.items())[:10]:
        print(f"  {sec:7.2f}s  {name}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
