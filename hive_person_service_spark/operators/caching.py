"""Bounded plan-level caching (guide §5: unpersist when done).

A query function that returns a LAZY DataFrame cannot unpersist its
intermediates before returning -- the cache must outlive the call -- but
a long session calling many such queries would otherwise accumulate
cached blocks until LRU eviction perturbs later queries' memory budget
(the exact failure mode that forced selfcheck's clearCache() in r11).

``persist_bounded(slot, df)`` bounds the leak to ONE relation per slot:
each call unpersists the previous cache held under the slot IF the plan
changed, and keeps it when the plan is identical so repeated identical
queries still hit the cache (CacheManager matches canonicalized plans,
so the bench's warm best-of-N reps behave exactly like a bare
``.persist()`` did). This is the same discipline operators/dedup.py has
used since round 7, factored out so plan-level persists share it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: Last persisted intermediate per slot -- see module docstring.
_LAST_PERSISTED: dict[str, tuple[int, DataFrame]] = {}


def persist_bounded(slot: str, df: DataFrame) -> DataFrame:
    try:
        key = df._jdf.queryExecution().analyzed().semanticHash()
    except Exception:
        key = id(df)
    prev = _LAST_PERSISTED.get(slot)
    if prev is not None and prev[0] != key:
        try:
            prev[1].unpersist(blocking=False)
        except Exception:
            # the slot may hold a relation of a stopped session; it must
            # not fail the next query -- the slot is overwritten below
            pass
    out = df.persist()
    _LAST_PERSISTED[slot] = (key, out)
    return out
