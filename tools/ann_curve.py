"""Recall/latency curve for the ANN tiers (VERDICT r2 item 9).

For a deterministic sample of query vectors from the embeddings fixture:
exact brute-force top-k is ground truth; then IVF (nprobe sweep), PQ
(ADC over all codes), and IVF-PQ (nprobe sweep, exact re-rank) report
mean recall@k and mean per-query wall seconds. Markdown table to stdout
-- paste into SCALE.md.

Usage: python tools/ann_curve.py [sf_dir] [n_queries] [k]
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_queries = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 10

    from pyspark.sql import functions as F

    from hive_person_service_spark.operators.ivf import build_ivf, ivf_topk
    from hive_person_service_spark.operators.pq import (
        build_ivfpq,
        ivfpq_topk,
        pq_topk,
    )
    from hive_person_service_spark.session import get_spark

    spark = get_spark(app_name="ann_curve")
    spark.sparkContext.setLogLevel("ERROR")

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    rows = emb.collect()  # ground truth needs the full matrix anyway
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    n = len(ids)
    nlist = 16
    print(f"corpus n={n}, dim={mat.shape[1]}, nlist={nlist}, k={k}, "
          f"queries={n_queries}")

    # Deterministic query sample: every (n // n_queries)-th vector.
    q_idx = np.arange(0, n, max(1, n // n_queries))[:n_queries]

    def exact_topk(qv, qid):
        mask = ids != qid
        scores = mat[mask] @ qv
        cand_ids = ids[mask]
        return set(cand_ids[np.argsort(-scores)[:k]].tolist())

    truths = {int(ids[i]): exact_topk(mat[i], ids[i]) for i in q_idx}

    assigned, centroids = build_ivf(emb, nlist=nlist, seed=42)
    assigned = assigned.persist()
    assigned.count()
    coded, pq_cents, codebooks = build_ivfpq(emb, nlist=nlist, m=16, ksub=128,
                                             seed=42, assign=2)
    coded = coded.persist()
    coded.count()

    def sweep(fn):
        recs, secs = [], []
        for i in q_idx:
            qid, qv = int(ids[i]), mat[i]
            t0 = time.time()
            got = {
                r.vec_id
                for r in fn(qv, qid).collect()
            }
            secs.append(time.time() - t0)
            recs.append(len(got & truths[qid]) / k)
        return float(np.mean(recs)), float(np.mean(secs))

    print("\n| tier | nprobe | recall@10 | s/query |")
    print("| --- | --- | --- | --- |")
    for nprobe in (1, 2, 4, 8, 16):
        rec, sec = sweep(
            lambda qv, qid, np_=nprobe: ivf_topk(
                assigned.where(F.col("vec_id") != qid), centroids, qv,
                k=k, nprobe=np_,
            )
        )
        print(f"| IVF | {nprobe} | {rec:.3f} | {sec:.3f} |")
    from hive_person_service_spark.operators.pq import encode_pq, train_pq

    cb_flat = train_pq(emb, m=16, ksub=128, seed=42)
    enc_flat = encode_pq(emb, cb_flat).persist()
    enc_flat.count()
    rec, sec = sweep(
        lambda qv, qid: pq_topk(
            enc_flat.where(F.col("vec_id") != qid), cb_flat, qv, k=k
        )
    )
    print(f"| PQ (ADC, full scan) | — | {rec:.3f} | {sec:.3f} |")
    for nprobe in (2, 4, 8, 16):
        rec, sec = sweep(
            lambda qv, qid, np_=nprobe: ivfpq_topk(
                spark,
                coded.where(F.col("vec_id") != qid),
                emb.where(F.col("vec_id") != qid),
                pq_cents,
                codebooks,
                qv,
                k=k,
                nprobe=np_,
                refine=20,
            )
        )
        print(f"| IVF-PQ (residual, assign=2, refine=20) | {nprobe} | {rec:.3f} | {sec:.3f} |")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
