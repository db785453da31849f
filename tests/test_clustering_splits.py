"""Connected-components dedup groups, hash splits, snapshot diff."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL

from hive_person_service_spark.operators.clustering import (
    connected_components,
    dedup_groups,
)
from hive_person_service_spark.operators.snapshots import SnapshotTable
from hive_person_service_spark.operators.splits import hash_split
from hive_person_service_spark.sources import load_table


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3, island 7-8, singleton edge 5-5 is not representable;
    # 10-20 separate pair
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (10, 20)], "id_a long, id_b long"
    )
    comp = {r.node: r.comp for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 10: 10, 20: 10}


def test_dedup_groups_keep_canonical(spark):
    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame([(0, 3), (3, 5)], "id_a long, id_b long")
    out = {r.doc_id: (r.canon, r.keep) for r in dedup_groups(docs, pairs).collect()}
    assert out[0] == (0, True) and out[3] == (0, False) and out[5] == (0, False)
    assert out[1] == (1, True) and out[2] == (2, True) and out[4] == (4, True)


def test_dedup_groups_without_pairs_is_identity(spark):
    docs = spark.createDataFrame([(i,) for i in range(4)], "doc_id long")
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    out = sorted(map(tuple, dedup_groups(docs, pairs).collect()))
    assert out == [(i, i, True) for i in range(4)]


def test_dedup_groups_on_real_near_dups(spark):
    """sf0.1 documents have real exact dups; near-dup pairs at >=0.9 must
    collapse them into groups whose members share identical text."""
    docs = load_table(spark, "/root/testdata/sf0.1", "documents")
    from hive_person_service_spark.operators.dedup import near_duplicates_minhash

    pairs = near_duplicates_minhash(docs, threshold=0.95).where(
        F.col("jaccard") >= 0.999
    )
    groups = dedup_groups(docs.select("doc_id", "text"), pairs)
    joined = groups.join(docs.select("doc_id", "text"), "doc_id")
    canon_text = joined.select(
        F.col("canon"), F.col("text")
    ).groupBy("canon").agg(F.countDistinct("text").alias("k"))
    assert canon_text.where(F.col("k") > 1).count() == 0  # groups are pure
    n_dups = groups.where(~F.col("keep")).count()
    assert n_dups > 0  # found the sf0.1 duplicates


def test_hash_split_properties(spark):
    docs = load_table(spark, SF_SMALL, "documents")
    splits = hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    n = docs.count()
    sizes = {k: v.count() for k, v in splits.items()}
    assert sum(sizes.values()) == n  # exhaustive
    ids = [set(r.doc_id for r in v.select("doc_id").collect()) for v in splits.values()]
    assert not (ids[0] & ids[1]) and not (ids[0] & ids[2]) and not (ids[1] & ids[2])
    assert 0.7 * n < sizes["train"] < 0.9 * n
    again = hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    assert {r.doc_id for r in again["val"].collect()} == ids[1]  # reproducible
    with pytest.raises(ValueError):
        hash_split(docs, "doc_id", {"a": 0.5, "b": 0.6})


def test_snapshot_diff(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    base = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    t.write(base)
    t.write(spark.createDataFrame([(2, "b"), (3, "c")], "id long, v string"))
    d = {(r.id, r.v): r["__change"] for r in t.diff(1, 2).collect()}
    assert d == {(3, "c"): "added", (1, "a"): "removed"}


def test_pack_documents_invariants(spark):
    """Packing: every doc exactly once; no pack over budget unless a lone
    over-budget doc; deterministic across runs."""
    from hive_person_service_spark.functions.text import tokens_expr
    from hive_person_service_spark.operators.packing import pack_documents

    d = load_table(spark, SF_SMALL, "documents").select(
        "doc_id", F.size(tokens_expr()).cast("long").alias("n_tokens")
    )
    budget = 512
    packed = pack_documents(d, budget=budget)
    rows = packed.collect()

    assert sorted(r.doc_id for r in rows) == sorted(
        r.doc_id for r in d.collect()
    )  # exactly-once membership

    by_pack: dict[str, int] = {}
    sizes: dict[str, int] = {}
    for r in rows:
        by_pack[r.pack_id] = by_pack.get(r.pack_id, 0) + r.n_tokens
        sizes[r.pack_id] = sizes.get(r.pack_id, 0) + 1
    for pack, total in by_pack.items():
        assert total <= budget or sizes[pack] == 1, (pack, total, sizes[pack])

    again = {(r.doc_id, r.pack_id) for r in pack_documents(d, budget=budget).collect()}
    assert again == {(r.doc_id, r.pack_id) for r in rows}  # deterministic
