"""Round-12 persist hygiene (guide §5, r11 verdict item 7).

Plan-level ``.persist()`` sites used to leak cached blocks across queries
in a long-lived session (the failure mode that forced selfcheck's
clearCache()).  They now route through
``operators/caching.py::persist_bounded``: one live relation per slot,
the previous cache dropped when the plan changes, kept when identical.

These tests pin the discipline: running pipeline queries back-to-back
(a) never grows the cached-relation set beyond the bounded slots they
declare, and (b) re-running the same query reuses the same slots
(idempotent -- no growth at all).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_MED


def _n_cached(spark) -> int:
    # persisted *datasets* (DataFrame.persist goes through CacheManager,
    # not getPersistentRDDs); the Java CacheManager is invisible from
    # PySpark, so count via the storage status of cached RDDs instead
    jsc = spark.sparkContext._jsc.sc()
    return jsc.getPersistentRDDs().size()


def test_persist_bounded_slots_do_not_grow(spark):
    from hive_person_service_spark.operators import caching
    from hive_person_service_spark.plans.registry import REGISTRY

    spark.catalog.clearCache()
    caching._LAST_PERSISTED.clear()
    # the session is shared: earlier tests may leave RDDs outside the
    # CacheManager (e.g. localCheckpoint blocks the JVM has not collected
    # yet), so only the growth from here is this test's to bound
    base = _n_cached(spark)

    # two back-to-back plan-level-persist queries, twice each
    for _ in range(2):
        REGISTRY["text_lm_score"].fn(spark, SF_MED).limit(5).collect()
        REGISTRY["dedup_decontaminate"].fn(spark, SF_MED).limit(5).collect()

    # exactly one live relation per slot those two queries declare
    assert set(caching._LAST_PERSISTED) >= {"lm_score_grams", "decontaminate_tr"}
    n_slots = len(caching._LAST_PERSISTED)
    assert _n_cached(spark) - base <= n_slots

    # a third run must not add anything (idempotent slots)
    before = _n_cached(spark)
    REGISTRY["text_lm_score"].fn(spark, SF_MED).limit(5).collect()
    assert _n_cached(spark) <= before

    spark.catalog.clearCache()
    caching._LAST_PERSISTED.clear()


def test_persist_bounded_swaps_on_plan_change(spark):
    from hive_person_service_spark.operators.caching import (
        _LAST_PERSISTED,
        persist_bounded,
    )

    spark.catalog.clearCache()
    _LAST_PERSISTED.clear()

    a = persist_bounded("t_slot", spark.range(10).select(F.col("id")))
    a.count()
    assert a.storageLevel.useMemory
    b = persist_bounded("t_slot", spark.range(20).select(F.col("id")))
    b.count()
    # the slot holds the NEW relation; the old one was unpersisted
    assert _LAST_PERSISTED["t_slot"][1] is b
    assert not a.storageLevel.useMemory  # unpersisted (async, level reset)

    # identical plan -> cache kept (CacheManager matches canonicalized
    # plans; the slot key is the semantic hash)
    key_before = _LAST_PERSISTED["t_slot"][0]
    c = persist_bounded("t_slot", spark.range(20).select(F.col("id")))
    assert _LAST_PERSISTED["t_slot"][0] == key_before
    assert b.storageLevel.useMemory  # previous cache NOT dropped
    c.count()

    spark.catalog.clearCache()
    _LAST_PERSISTED.clear()


def test_persist_bounded_survives_failing_unpersist(spark, monkeypatch):
    # A slot may hold a relation of a stopped session whose unpersist
    # raises; the next query must still persist and take the slot.
    from hive_person_service_spark.operators.caching import (
        _LAST_PERSISTED,
        persist_bounded,
    )

    spark.catalog.clearCache()
    _LAST_PERSISTED.clear()
    stale = persist_bounded("t_slot", spark.range(10).select(F.col("id")))

    def boom(self, blocking=False):
        raise RuntimeError("session stopped")

    monkeypatch.setattr(type(stale), "unpersist", boom)
    fresh = persist_bounded("t_slot", spark.range(30).select(F.col("id")))
    monkeypatch.undo()
    assert _LAST_PERSISTED["t_slot"][1] is fresh
    assert fresh.storageLevel.useMemory
    assert fresh.count() == 30

    stale.unpersist()
    spark.catalog.clearCache()
    _LAST_PERSISTED.clear()


def test_pagerank_releases_loop_caches(spark):
    from hive_person_service_spark.operators.graph import pagerank

    spark.catalog.clearCache()
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long"
    )
    before = _n_cached(spark)
    ranks = pagerank(edges, n_iter=3)
    rows = {r["node"]: r["rank"] for r in ranks.collect()}
    assert abs(sum(rows.values()) - 1.0) < 1e-9
    # checkpoint-cut final plan -> the loop's 3 persisted inputs released;
    # only per-round localCheckpoint RDDs (<= n_iter, ContextCleaner drains
    # them lazily) may remain. An un-released loop would show 3 more.
    assert _n_cached(spark) <= before + 3


def test_dedup_groups_leaves_one_checkpoint(spark):
    # connected_components releases each round's replaced checkpoint and
    # the edge list; only the final labels, which the plan reads, remain
    from hive_person_service_spark.operators.clustering import dedup_groups

    docs = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    # a 7-node chain needs several rounds, each with its own checkpoint
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_a long, id_b long"
    )
    before = _n_cached(spark)
    groups = {r.doc_id: r.canon for r in dedup_groups(docs, pairs).collect()}
    assert groups == {i: 0 if i < 7 else i for i in range(10)}
    assert _n_cached(spark) - before <= 1
