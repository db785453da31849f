"""Synthesize a ~10x local scale (sf1) from the sf0.1 fixtures for the
headroom proof (VERDICT r3 item 5): every fact table becomes the union of
10 key-shifted replicas with FK consistency preserved (customer/orders/
lineitem/part/supplier share per-entity offsets), so every declared join
still resolves and selectivities scale linearly.

Anti-degeneracy tweaks (so 10x data is 10x WORKLOAD, not 10 identical
copies):
  * documents: each replica's text gets a per-replica suffix -- replicas
    are near-duplicates (high-but-<1 jaccard), not exact dups, keeping the
    LSH pipelines realistic; n_chars re-derived;
  * embeddings: each replica's vector is rotated by r positions (norm- and
    distribution-preserving, but neighbor structure differs per replica).

Dims (region/nation) stay as-is -- that is what dims do at scale.

Usage: python tools/make_sf1.py [src_sf_dir] [out_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

C_OFF = 10_000_000  # custkey / user_id
O_OFF = 100_000_000  # orderkey
P_OFF = 10_000_000  # partkey
S_OFF = 1_000_000  # suppkey
E_OFF = 1_000_000_000  # event_id
D_OFF = 10_000_000  # doc_id
V_OFF = 1_000_000  # vec_id
REPLICAS = 10


def main() -> int:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1"

    from pyspark.sql import functions as F

    from hive_person_service_spark.session import get_spark
    from hive_person_service_spark.sources import load_table

    spark = get_spark(app_name="make-sf1")
    spark.sparkContext.setLogLevel("ERROR")

    def replicate(name, shifts, extra=None):
        base = load_table(spark, src, name)
        parts = []
        for r in range(REPLICAS):
            df = base
            for col, off in shifts.items():
                df = df.withColumn(col, F.col(col) + F.lit(r * off))
            if extra is not None:
                df = extra(df, r)
            parts.append(df)
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        t0 = time.time()
        u.write.mode("overwrite").parquet(f"{out}/{name}.parquet")
        n = spark.read.parquet(f"{out}/{name}.parquet").count()
        print(f"{name}: {n} rows ({time.time() - t0:.1f}s)")

    for name in ("region", "nation"):
        load_table(spark, src, name).write.mode("overwrite").parquet(
            f"{out}/{name}.parquet"
        )
        print(f"{name}: copied (dim)")

    replicate("customer", {"c_custkey": C_OFF})
    replicate("supplier", {"s_suppkey": S_OFF})
    replicate("part", {"p_partkey": P_OFF})
    replicate("orders", {"o_orderkey": O_OFF, "o_custkey": C_OFF})
    replicate(
        "lineitem",
        {"l_orderkey": O_OFF, "l_partkey": P_OFF, "l_suppkey": S_OFF},
    )
    replicate("events", {"event_id": E_OFF, "user_id": C_OFF})

    def doc_extra(df, r):
        if r == 0:
            return df
        return df.withColumn(
            "text", F.concat(F.col("text"), F.lit(f" replica{r} variant"))
        ).withColumn("n_chars", F.length("text").cast("long"))

    replicate("documents", {"doc_id": D_OFF}, extra=doc_extra)

    def emb_extra(df, r):
        if r == 0:
            return df
        size = F.size("embedding")
        return df.withColumn(
            "embedding",
            F.concat(
                F.slice("embedding", r + 1, 64 - r), F.slice("embedding", 1, r)
            ),
        )

    replicate("embeddings", {"vec_id": V_OFF}, extra=emb_extra)
    print(f"wrote {out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
