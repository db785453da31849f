"""Unit/property tests for the library operators the oracle can't fully
check: as-of join, MinHash-LSH recall, SimHash invariants, blockwise kNN
equivalence, ANN precision, approx-distinct error, per-partition sort,
multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL

from hive_person_service_spark.functions.vectors import cosine_expr, to_double_array
from hive_person_service_spark.operators.dedup import (
    doc_shingles,
    near_duplicates_minhash,
    simhash_signatures,
    verify_jaccard,
)
from hive_person_service_spark.operators.joins import asof_join
from hive_person_service_spark.operators.multimodal import (
    decode_image_features,
    documents_as_assets,
    resize_images,
)
from hive_person_service_spark.operators.similarity import (
    ann_pairs_lsh,
    exact_topk_pairs_blockwise,
)
from hive_person_service_spark.sources import load_table


def test_asof_join_brute_force(spark):
    """asof_join == per-left-row argmax over eligible right rows."""
    left = spark.createDataFrame(
        [(1, 10, 100), (2, 10, 105), (3, 20, 100), (4, 30, 100)],
        "lid long, key long, lts long",
    )
    right = spark.createDataFrame(
        [(11, 10, 99), (12, 10, 105), (13, 10, 105), (14, 20, 101), (15, 30, 90)],
        "rid long, key long, rts long",
    )
    out = asof_join(
        left, right, on="key", left_id="lid", left_ts="lts", right_ts="rts",
        tie_break="rid",
    ).select("lid", "rid").collect()
    got = {r.lid: r.rid for r in out}
    # lid=1: only rid 11 (99<=100). lid=2: ties at rts=105 -> larger rid 13.
    # lid=3: rts 101 > 100 -> no match (None). lid=4: rid 15.
    assert got == {1: 11, 2: 13, 3: None, 4: 15}


def test_asof_join_directions_brute_force(spark):
    """forward / nearest directions == per-left-row argmin over eligible
    right rows under the documented tie rules."""
    left = spark.createDataFrame(
        [(1, 10, 100), (2, 10, 105), (3, 20, 100), (4, 30, 100)],
        "lid long, key long, lts long",
    )
    right = spark.createDataFrame(
        [(11, 10, 99), (12, 10, 105), (13, 10, 105), (14, 20, 101), (15, 30, 90)],
        "rid long, key long, rts long",
    )
    fwd = asof_join(
        left, right, on="key", left_id="lid", left_ts="lts", right_ts="rts",
        tie_break="rid", direction="forward",
    ).select("lid", "rid").collect()
    # lid=1: earliest rts >= 100 -> 105 (tie 12/13 -> larger rid 13).
    # lid=2: 105 ties -> 13. lid=3: 101 -> 14. lid=4: none >= 100 -> None.
    assert {r.lid: r.rid for r in fwd} == {1: 13, 2: 13, 3: 14, 4: None}

    near = asof_join(
        left, right, on="key", left_id="lid", left_ts="lts", right_ts="rts",
        tie_break="rid", direction="nearest",
    ).select("lid", "rid").collect()
    # lid=1: |99-100|=1 beats |105-100|=5 -> 11. lid=2: delta 0 -> rid 13.
    # lid=3: only 14. lid=4: only 15 (delta 10, backward side).
    assert {r.lid: r.rid for r in near} == {1: 11, 2: 13, 3: 14, 4: 15}


def test_minhash_lsh_recall_and_precision(spark):
    docs = load_table(spark, SF_SMALL, "documents")
    found = near_duplicates_minhash(docs, threshold=0.7)
    found_pairs = {(r.id_a, r.id_b): r.jaccard for r in found.collect()}

    # Brute-force truth: exact Jaccard over the inverted shingle index.
    shingled = doc_shingles(docs, n=3)
    cand = (
        shingled.select(F.col("doc_id").alias("id_a"), "shingle")
        .join(shingled.select(F.col("doc_id").alias("id_b"), "shingle"), "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    truth = {
        (r.id_a, r.id_b): r.jaccard
        for r in verify_jaccard(cand, shingled)
        .where(F.col("jaccard") >= 0.7)
        .collect()
    }
    # Precision is exact by construction (pairs are verified); recall is
    # probabilistic: P(hit | j=0.7) ~ 0.89 with 8 bands x 4 rows.
    assert set(found_pairs) <= set(truth)
    if truth:
        recall = len(found_pairs) / len(truth)
        assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_lsh_bands_key_on_raw_slot_tuple(spark):
    # 8 slots in 2 bands of 4: a candidate means "every slot of SOME band
    # is equal" -- no more (a near-miss in each band is not enough), no
    # less (one fully equal band is).
    from hive_person_service_spark.operators.dedup import lsh_candidate_pairs

    sigs = spark.createDataFrame(
        [
            (1, 1, 2, 3, 4, 5, 6, 7, 8),
            (2, 1, 2, 3, 4, 9, 9, 9, 9),  # band 0 equal to doc 1
            (3, 1, 2, 3, 0, 5, 6, 7, 0),  # one slot off in each band of doc 1
        ],
        "doc_id long, " + ", ".join(f"sig_{j} long" for j in range(8)),
    )
    pairs = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(sigs, num_perm=8, bands=2).collect()
    }
    assert pairs == {(1, 2)}


def test_minhash_unknown_base_hash_raises(spark):
    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError, match="base_hash"):
        near_duplicates_minhash(docs, base_hash="sha1")


def test_simhash_identical_texts_equal_signatures(spark):
    df = spark.createDataFrame(
        [(1, "spark join window filter"), (2, "spark join window filter"),
         (3, "completely different words here")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: (r.simhash_lo, r.simhash_hi)
            for r in simhash_signatures(df).collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]
    assert all(0 <= lo < 2**32 and 0 <= hi < 2**32 for lo, hi in rows.values())


def test_blockwise_topk_matches_expression_join(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    fast = exact_topk_pairs_blockwise(spark, emb, k=10)
    a = emb.select(F.col("vec_id").alias("a_id"), to_double_array("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("b_id"), to_double_array("embedding").alias("vb"))
    naive = (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", cosine_expr(F.col("va"), F.col("vb")).alias("cos"))
        .orderBy(F.col("cos").desc(), "a_id", "b_id")
        .limit(10)
    )
    fast_rows = [(r.a_id, r.b_id, round(r.cos, 9)) for r in fast.collect()]
    naive_rows = [(r.a_id, r.b_id, round(r.cos, 9)) for r in naive.collect()]
    assert fast_rows == naive_rows


def test_blockwise_pairs_match_expression_join(spark):
    from hive_person_service_spark.operators.similarity import (
        cosine_pairs_blockwise,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")
    fast = cosine_pairs_blockwise(spark, emb, threshold=0.4)
    a = emb.select(F.col("vec_id").alias("a_id"), to_double_array("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("b_id"), to_double_array("embedding").alias("vb"))
    naive = (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", F.round(cosine_expr(F.col("va"), F.col("vb")), 6).alias("cos"))
        .where(F.col("cos") >= 0.4)
    )
    fast_rows = sorted((r.a_id, r.b_id, r.cos) for r in fast.collect())
    naive_rows = sorted((r.a_id, r.b_id, r.cos) for r in naive.collect())
    assert fast_rows == naive_rows
    assert len(fast_rows) > 0  # threshold picked to select real pairs


def test_power_iteration_pc1_matches_numpy(spark):
    """On well-conditioned (anisotropic) data the distributed power
    iteration must align with numpy's exact top eigenvector; on the
    near-spherical fixture (eigengap λ2/λ1 ≈ 0.93 -- power iteration's
    worst case) it must still capture most of the top variance, and the
    declared projections must equal X @ v exactly."""
    import numpy as np

    from hive_person_service_spark.operators.pca import (
        pc1_projections,
        power_iteration_pc1,
    )

    # 1) synthetic dominant direction: converges in 6 iterations.
    rng = np.random.RandomState(7)
    u = rng.standard_normal(64)
    u /= np.linalg.norm(u)
    S = rng.standard_normal((200, 64)) * 0.3 + np.outer(
        rng.standard_normal(200) * 3.0, u
    )
    sdf = spark.createDataFrame(
        [(int(i), [float(x) for x in S[i]]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    v_syn = power_iteration_pc1(sdf, dim=64, iters=6)
    w, vecs = np.linalg.eigh(S.T @ S)
    assert abs(float(np.dot(v_syn, vecs[:, -1]))) >= 0.99

    # 2) fixture: Rayleigh quotient within 80% of λ1 + projection identity.
    emb = load_table(spark, SF_SMALL, "embeddings")
    v = power_iteration_pc1(emb, dim=64, iters=6)
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    lam1 = np.linalg.eigh(X.T @ X)[0][-1]
    rayleigh = float(v @ (X.T @ (X @ v)))
    assert rayleigh >= 0.8 * lam1, (rayleigh, lam1)
    proj = {r.vec_id: r.pc1 for r in pc1_projections(emb).collect()}
    want = X @ v
    for i, vid in enumerate(ids):
        assert abs(proj[vid] - round(float(want[i]), 6)) < 1e-6


def test_tiled_blockwise_matches_single_tile(spark):
    """Forcing a tiny max_tile_rows (sf0.001 has 500 vectors -> ~4 tiles of
    ~128) must reproduce the single-tile output exactly, for both the
    top-k and the threshold-pairs form. This pins the 100-TB path: block
    pairs meet executor-side regardless of tiling granularity."""
    from hive_person_service_spark.operators.similarity import (
        cosine_pairs_blockwise,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")

    one_k = exact_topk_pairs_blockwise(spark, emb, k=10)
    tiled_k = exact_topk_pairs_blockwise(spark, emb, k=10, max_tile_rows=128)
    assert [(r.a_id, r.b_id, round(r.cos, 9)) for r in tiled_k.collect()] == [
        (r.a_id, r.b_id, round(r.cos, 9)) for r in one_k.collect()
    ]

    one_p = cosine_pairs_blockwise(spark, emb, threshold=0.4)
    tiled_p = cosine_pairs_blockwise(spark, emb, threshold=0.4, max_tile_rows=128)
    one_rows = sorted((r.a_id, r.b_id, r.cos) for r in one_p.collect())
    tiled_rows = sorted((r.a_id, r.b_id, r.cos) for r in tiled_p.collect())
    assert tiled_rows == one_rows
    assert len(tiled_rows) > 0


def test_blockwise_similarity_has_no_driver_collect():
    """VERDICT r2 item 3: the exact similarity tier must keep the driver
    out of the data path -- no collect()/toPandas()/toLocalIterator in
    the module (the former implementation collect()ed each tile to the
    driver before broadcasting it)."""
    import inspect

    from hive_person_service_spark.operators import similarity

    src = "".join(
        inspect.getsource(fn)
        for fn in (
            similarity._block_pair_groups,
            similarity.exact_topk_pairs_blockwise,
            similarity.cosine_pairs_blockwise,
        )
    )
    for banned in (".collect(", ".toPandas(", ".toLocalIterator(", "broadcast("):
        assert banned not in src, banned


def test_ann_lsh_pairs_are_exact_subset(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    ann = ann_pairs_lsh(emb, threshold=0.6, n_planes=12)
    a = emb.select(F.col("vec_id").alias("a_id"), to_double_array("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("b_id"), to_double_array("embedding").alias("vb"))
    exact = (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", F.round(cosine_expr(F.col("va"), F.col("vb")), 6).alias("cos"))
        .where(F.col("cos") >= 0.6)
    )
    ann_pairs = {(r.a_id, r.b_id) for r in ann.collect()}
    exact_pairs = {(r.a_id, r.b_id) for r in exact.collect()}
    assert ann_pairs <= exact_pairs  # no false positives (verified in-bucket)


def test_approx_count_distinct_error(spark):
    ev = load_table(spark, SF_SMALL, "events")
    approx = {
        r.event_type: r.approx_users
        for r in ev.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", 0.01).alias("approx_users"))
        .collect()
    }
    exact = {
        r.event_type: r.users
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("users"))
        .collect()
    }
    for k, v in exact.items():
        assert abs(approx[k] - v) <= max(1, 0.05 * v), (k, approx[k], v)


def test_sort_within_partitions_layout(spark):
    from hive_person_service_spark import plans

    df = plans.all_queries()["sort_within_partitions"](spark, SF_SMALL)

    def check(it):
        rows = list(it)
        keys = [(r.l_suppkey, -r.l_extendedprice) for r in rows]
        assert keys == sorted(keys)
        # one suppkey never spans two partitions: emit the distinct keys
        return iter({r.l_suppkey for r in rows})

    parts = df.rdd.mapPartitions(check).collect()
    assert len(parts) == len(set(parts))  # no suppkey in two partitions


def test_multimodal_decode_plumbing(spark):
    docs = load_table(spark, SF_SMALL, "documents").limit(50)
    assets = documents_as_assets(docs)
    feats = decode_image_features(assets, dim=8).collect()
    assert len(feats) == 50
    for r in feats:
        assert r.blob_len > 0
        assert len(r.feature) == 8
        assert abs(sum(x * x for x in r.feature) - 1.0) < 1e-9  # unit norm
    # resize_images decodes for real (PGM/PPM/BMP/PNG/baseline-gray JPEG);
    # errors fire at EXECUTION, per blob: malformed bodies raise ValueError.
    from hive_person_service_spark.operators.multimodal import (
        PNG_MAGIC,
        decode_image,
    )

    with pytest.raises(Exception):  # valid JPEG magic, garbage body
        decode_image(b"\xff\xd8\xff\xe0" + b"\x00" * 16)
    with pytest.raises(Exception):  # valid PNG magic, garbage body
        decode_image(PNG_MAGIC + b"\x00" * 16)
    with pytest.raises(Exception):  # text/plain blobs are not images
        resize_images(assets, 224, 224).collect()


def test_raw_image_resize_exact(spark):
    """...but the pixel-space resize is REAL: nearest-neighbor over raw
    gray8 blobs matches numpy's reference sampling exactly, and resizing
    to the source dims is the identity."""
    import numpy as np

    from hive_person_service_spark.operators.multimodal import (
        resize_raw_images,
        synth_raw_images,
    )

    ids = spark.createDataFrame([(i,) for i in range(6)], "asset_id long")
    raw = synth_raw_images(ids)
    src = {r.asset_id: (bytes(r.blob), r.width, r.height) for r in raw.collect()}

    out = {r.asset_id: bytes(r.blob) for r in resize_raw_images(raw, 8, 8).collect()}
    for aid, (blob, w, h) in src.items():
        arr = np.frombuffer(blob, dtype=np.uint8).reshape(h, w)
        r_idx = (np.arange(8) * h) // 8
        c_idx = (np.arange(8) * w) // 8
        assert out[aid] == arr[r_idx][:, c_idx].tobytes()

    # identity: out dims == src dims reproduces the source bytes (dims
    # vary per id, so check one id at its own dims)
    one = raw.where(F.col("asset_id") == 3)
    w3, h3 = src[3][1], src[3][2]
    same = resize_raw_images(one, w3, h3).collect()[0]
    assert bytes(same.blob) == src[3][0]


def test_holt_forecast_matches_pandas_reference(spark):
    """Spark grouped Holt forecast == the same recurrence run in plain
    pandas on the collected daily series."""
    from hive_person_service_spark import plans
    from hive_person_service_spark.plans.pipeline16 import (
        HOLT_ALPHA,
        HOLT_BETA,
        HOLT_STEPS,
    )
    from hive_person_service_spark.sources import load_table
    from pyspark.sql import functions as F

    got = {
        (r.event_type, r.step): r.forecast
        for r in plans.all_queries()["events_forecast_holt"](
            spark, SF_SMALL
        ).collect()
    }

    ev = load_table(spark, SF_SMALL, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count("*").cast("double").alias("n"))
        .collect()
    )
    series = {}
    for r in daily:
        series.setdefault(r.event_type, []).append((r.day, r.n))
    for et, pts in series.items():
        ys = [n for _, n in sorted(pts)]
        level, trend = ys[0], ys[1] - ys[0]
        for y in ys[1:]:
            prev = level
            level = HOLT_ALPHA * y + (1 - HOLT_ALPHA) * (level + trend)
            trend = HOLT_BETA * (level - prev) + (1 - HOLT_BETA) * trend
        for h in range(1, HOLT_STEPS + 1):
            assert got[(et, h)] == round(level + h * trend, 4)


def test_range_bucketed_join_plan_is_equi(spark):
    """The bucketed range join must carry NO BroadcastNestedLoopJoin --
    the point of the rewrite is that Catalyst sees pure equi-keys."""
    from hive_person_service_spark import plans

    df = plans.all_queries()["join_range_bucketed"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan


def test_winnowing_guarantee(spark):
    """Winnowing's detection guarantee: any shared token run of length
    >= w + k - 1 (here 4 + 3 - 1 = 6) must yield at least one shared
    (fingerprint) between the two documents, regardless of surrounding
    context. Identical docs share all fingerprints."""
    from hive_person_service_spark import plans

    import tempfile

    from hive_person_service_spark.plans.pipeline8 import text_winnowing

    common = "alpha beta gamma delta epsilon zeta"  # 6 shared tokens
    df = spark.createDataFrame(
        [
            (1, f"one two three {common} four five six seven"),
            (2, f"red green blue cyan {common} purple orange"),
            (3, "wholly different words with no overlap at all here now"),
            (4, "wholly different words with no overlap at all here now"),
        ],
        "doc_id long, text string",
    )
    with tempfile.TemporaryDirectory() as tmp:
        df.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        out = text_winnowing(spark, tmp)
        fps = {}
        for r in out.collect():
            fps.setdefault(r.doc_id, set()).add(r.fp)
    assert fps[1] & fps[2], "shared 6-token run must share a fingerprint"
    assert fps[3] == fps[4]
    assert not (fps[3] & fps[1])


def test_compression_ratio_invariants(spark):
    """Repetitive text must compress harder than high-entropy text; ratios
    stay in (0, ~1.1]; repeated runs agree (zlib level pinned)."""
    from hive_person_service_spark import plans

    df = spark.createDataFrame(
        [
            (1, "spark " * 200),
            (2, " ".join(f"tok{i}xyz{i * 7}" for i in range(200))),
        ],
        "doc_id long, text string",
    )
    df.createOrReplaceTempView("_cr_docs")

    import zlib

    ratios = {}
    for r in df.collect():
        ratios[r.doc_id] = len(zlib.compress(r.text.encode(), 6)) / len(r.text)
    assert ratios[1] < ratios[2]  # repetition compresses more

    q = plans.all_queries()["text_compression_ratio"]
    out = {r.doc_id: r.compression_ratio for r in q(spark, SF_SMALL).collect()}
    out2 = {r.doc_id: r.compression_ratio for r in q(spark, SF_SMALL).collect()}
    assert out == out2
    # zlib header overhead can push very short docs slightly above 1.0
    assert all(0 < v <= 1.5 for v in out.values())


def test_sample_rows_deterministic(spark):
    from hive_person_service_spark import plans

    q = plans.all_queries()["sample_rows"]
    a = sorted(map(tuple, q(spark, SF_SMALL).collect()))
    b = sorted(map(tuple, q(spark, SF_SMALL).collect()))
    assert a == b
    n_total = load_table(spark, SF_SMALL, "lineitem").count()
    assert 0.05 * n_total < len(a) < 0.15 * n_total  # ~10% Bernoulli


def test_stat_sketches_sane(spark):
    from hive_person_service_spark import plans

    rows = plans.all_queries()["stat_sketches"](spark, SF_SMALL).collect()
    # all 5 event types are ~uniform (>10% support) -> all are frequent
    freq = set(rows[0].frequent_event_types.split(","))
    assert {"click", "error", "purchase", "signup", "view"} <= freq
    sampled = {r.event_type: r.n_sampled for r in rows}
    ev = load_table(spark, SF_SMALL, "events")
    n_click = ev.where(F.col("event_type") == "click").count()
    assert 0.3 * n_click < sampled.get("click", 0) < 0.7 * n_click
    assert set(sampled) <= {"click", "purchase"}


def test_spark_hashes_deterministic(spark):
    from hive_person_service_spark import plans

    q = plans.all_queries()["fn_hash_spark"]
    a = sorted(map(tuple, q(spark, SF_SMALL).collect()))
    b = sorted(map(tuple, q(spark, SF_SMALL).collect()))
    assert a == b


def test_minhash_md5_pipeline_recall_and_precision(spark):
    """The md5 base hash (the oracle-checked dedup_near) keeps the LSH
    contract: verified pairs are a SUBSET of brute-force truth (precision
    exact by construction) with usable recall. Exact agreement with the
    DuckDB replay is covered by the declared oracle; this pins the
    statistical contract independently."""
    docs = load_table(spark, SF_SMALL, "documents")
    found = {
        (r.id_a, r.id_b): r.jaccard
        for r in near_duplicates_minhash(
            docs, threshold=0.7, base_hash="md5"
        ).collect()
    }
    shingled = doc_shingles(docs, n=3)
    cand = (
        shingled.select(F.col("doc_id").alias("id_a"), "shingle")
        .join(shingled.select(F.col("doc_id").alias("id_b"), "shingle"), "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    truth = {
        (r.id_a, r.id_b): r.jaccard
        for r in verify_jaccard(cand, shingled)
        .where(F.col("jaccard") >= 0.7)
        .collect()
    }
    assert set(found) <= set(truth)
    for pair, j in found.items():
        assert j == truth[pair]  # verification is exact, not approximate
    if truth:
        assert len(found) / len(truth) >= 0.5
