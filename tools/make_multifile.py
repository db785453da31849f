"""Rewrite the single-file fixture tables into N-file parquet layouts.

The driver fixtures are one file + one row group per table, which caps
local scan parallelism at 1 task regardless of cores (SCALE.md §Scans) --
the opposite of a production lake, where tables are thousands of files and
row groups. This tool materializes the production shape so bench numbers
can show the scan-parallelism headroom:

    python tools/make_multifile.py /root/testdata/sf0.1 /tmp/sf0.1_mf 32
    SPARK_GRAFT_SF_DIR=/tmp/sf0.1_mf python bench.py

Each table lands as a DIRECTORY named <table>.parquet (the loader treats
file and directory paths identically), round-robin repartitioned into
nfiles parts. Small dims (< 10k rows) stay single-file: splitting them
would only add task overhead.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf_multifile"
    nfiles = int(sys.argv[3]) if len(sys.argv) > 3 else 32

    from hive_person_service_spark.session import get_spark
    from hive_person_service_spark.sources import TABLES, load_table

    spark = get_spark(app_name="make-multifile")
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark.sql import functions as F

    for t in TABLES:
        df = load_table(spark, sf_dir, t)
        if t == "events":
            # loader expects raw int64 nanos for events (the fixtures are
            # TIMESTAMP(NANOS)); write back in that raw form
            df = df.withColumn("ts", F.unix_micros("ts") * 1000)
        n = df.count()
        parts = 1 if n < 10_000 else nfiles
        df.repartition(parts).write.mode("overwrite").parquet(
            f"{out_dir}/{t}.parquet"
        )
        print(f"{t}: {n} rows -> {parts} file(s)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
