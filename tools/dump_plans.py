"""Dump .explain("formatted") for a list of declared queries to files.

Usage: python tools/dump_plans.py <outdir> <suffix> <query> [query ...]

Writes <outdir>/<query>_<suffix>.txt for each query. Uses the same session
construction as bench.py so the plans match what the bench executes.
Planning only -- queries are built, never executed (cheap enough to run
while other work owns the box).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from hive_person_service_spark import plans
    from hive_person_service_spark.session import get_spark

    spark = get_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = plans.all_queries()
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = qs[name](spark, sf_dir)
        txt = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        print(f"wrote {path} ({len(txt)} chars)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
