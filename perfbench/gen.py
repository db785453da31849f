"""Seeded input generators for the benchmark.

Everything the engine sees is made here from the run's ``--seed``: the
fixture-schema tables, the HiveQL texts, the curation samples and query
vectors, and the lake upsert batches. The same seed gives byte-identical
inputs; different seeds give different inputs of the same size and shape,
so run-to-run spread measures the engine, not the draw.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
STATUSES = ["F", "O", "P"]

ORDER_EPOCH = dt.date(1995, 1, 1)
ORDER_DAYS = 2400  # o_orderdate spans 1995-01-01 .. 2001-07-24
EVENT_EPOCH = dt.datetime(2024, 1, 1)
EVENT_DAYS = 30

#: Rows per table at scale factor 1 (the fixture generator's ratios).
BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "events": 1_000_000,
}

#: Curation corpus sizes (fixed: the operators' cost is dominated by job
#: count, not rows, so these keep one pass to a few seconds on 4 cores).
N_DOCS = 1_200
N_VECS = 600
DIM = 64
N_CLUSTERS = 16


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _ts(days: np.ndarray, epoch: dt.date) -> pa.Array:
    base = np.datetime64(epoch.isoformat(), "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(seed: int) -> dict:
    """Word-salad documents with planted exact and near duplicates.

    Vocabulary is large enough that unrelated documents share almost no
    word 3-grams, so every near-duplicate pair comes from a planted family:
    ~10% exact copies and ~15% copies with one or two words replaced of an
    original document (Jaccard ~0.8-0.95, above the 0.7 threshold). Copies
    are made of originals only, so families are stars of diameter <= 2 and
    every seed needs the same number of connected-component rounds."""
    r = _rng(seed, 7)
    vocab = np.array([f"w{i:04d}" for i in range(4000)])
    texts: list[str] = []
    originals: list[int] = []
    for i in range(N_DOCS):
        roll = r.random()
        if len(originals) > 10 and roll < 0.10:
            texts.append(texts[originals[int(r.integers(0, len(originals)))]])
        elif len(originals) > 10 and roll < 0.25:
            toks = texts[originals[int(r.integers(0, len(originals)))]].split(" ")
            for _ in range(int(r.integers(1, 3))):
                toks[int(r.integers(0, len(toks)))] = vocab[int(r.integers(0, len(vocab)))]
            texts.append(" ".join(toks))
        else:
            originals.append(i)
            texts.append(" ".join(vocab[r.integers(0, len(vocab), int(r.integers(60, 110)))]))
    langs = np.array(["en", "de", "fr", "es", "zh"])
    return {
        "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs[r.integers(0, 5, N_DOCS)]),
        "source": pa.array([f"src{k}" for k in r.integers(0, 20, N_DOCS)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _centers(seed: int) -> np.ndarray:
    c = _rng(seed, 8).normal(size=(N_CLUSTERS, DIM))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def _unit(m: np.ndarray) -> np.ndarray:
    return (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)


def _embeddings(seed: int) -> dict:
    """L2-normalised float32 vectors drawn around N_CLUSTERS centres, so an
    IVF index has real cells to prune."""
    r = _rng(seed, 9)
    label = r.integers(0, N_CLUSTERS, N_VECS)
    m = _unit(_centers(seed)[label] + 0.12 * r.normal(size=(N_VECS, DIM)))
    return {
        "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
        "embedding": pa.array(list(m), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten fixture-schema tables (sources/schemas.py) for ``seed``
    at scale factor ``sf`` into ``out_dir/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    n = {t: max(10, int(v * sf)) for t, v in BASE_ROWS.items()}
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })

    r = _rng(seed, 1)
    nc = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(r.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, nc), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[r.integers(0, 5, nc)]),
    })

    r = _rng(seed, 2)
    ns = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(r.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, ns), 2)),
    })

    r = _rng(seed, 3)
    npart = n["part"]
    adj = np.array(["cold", "large", "small", "bright", "dark", "smooth"])
    noun = np.array(["widget", "bolt", "gear", "valve", "panel", "spring"])
    ptype = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    price = np.round(r.uniform(900.0, 2000.0, npart), 2)
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(adj[r.integers(0, 6, npart)], " "),
                                       noun[r.integers(0, 6, npart)])),
        "p_brand": pa.array([f"Brand#{k}" for k in r.integers(1, 26, npart)]),
        "p_type": pa.array(ptype[r.integers(0, 6, npart)]),
        "p_size": pa.array(r.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(price),
    })

    r = _rng(seed, 4)
    no = n["orders"]
    odays = r.integers(0, ORDER_DAYS, no)
    nlines = r.integers(1, 8, no)
    lo = np.repeat(np.arange(no, dtype=np.int64), nlines)
    nl = len(lo)
    lpart = r.integers(0, npart, nl)
    qty = r.integers(1, 51, nl).astype(np.float64)
    ext = np.round(qty * price[lpart], 2)
    disc = r.integers(0, 11, nl) / 100.0
    tax = r.integers(0, 9, nl) / 100.0
    total = np.round(np.bincount(lo, weights=ext * (1 - disc) * (1 + tax), minlength=no), 2)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(STATUSES)[r.integers(0, 3, no)]),
        "o_totalprice": pa.array(total),
        "o_orderdate": _ts(odays, ORDER_EPOCH),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[r.integers(0, 5, no)]),
    })
    first = np.r_[0, np.cumsum(nlines)[:-1]]
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(lo),
        "l_partkey": pa.array(lpart.astype(np.int64)),
        "l_suppkey": pa.array(r.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array((np.arange(nl) - np.repeat(first, nlines) + 1).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(ext),
        "l_discount": pa.array(disc),
        "l_tax": pa.array(tax),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, nl)]),
        "l_shipdate": _ts(np.repeat(odays, nlines) + r.integers(1, 122, nl), ORDER_EPOCH),
    })

    r = _rng(seed, 5)
    ne = n["events"]
    us = np.sort(r.integers(0, EVENT_DAYS * 86_400_000_000, ne))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(np.datetime64(EVENT_EPOCH, "us") + us.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(r.zipf(1.3, ne) % max(10, ne // 60)),
        "event_type": pa.array(np.array(EVENT_TYPES)[r.integers(0, 5, ne)]),
        "value": pa.array(np.round(r.exponential(40.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, ne)]),
    })

    _write(out_dir, "documents", _documents(seed))
    _write(out_dir, "embeddings", _embeddings(seed))


# -- hive_sql ----------------------------------------------------------------

def _d(days: int) -> str:
    return f"DATE '{(ORDER_EPOCH + dt.timedelta(days=int(days))).isoformat()}'"


def _q_pricing(r):
    return f"""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
  sum(l_extendedprice) AS sum_base, sum(l_extendedprice * (1 - l_discount)) AS sum_disc,
  avg(l_quantity) AS avg_qty, count(*) AS cnt
FROM lineitem WHERE l_shipdate <= {_d(r.integers(600, ORDER_DAYS))}
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""


def _q_join3(r):
    lo = int(r.integers(0, ORDER_DAYS - 800))
    return f"""SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= {_d(lo)} AND o_orderdate < {_d(lo + 730)}
GROUP BY n_name ORDER BY revenue DESC, n_name"""


def _q_window_topk(r):
    lo = int(r.integers(0, ORDER_DAYS - 400))
    return f"""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders WHERE o_orderdate >= {_d(lo)} AND o_orderdate < {_d(lo + 365)}
) t WHERE rn <= {int(r.integers(1, 4))}"""


def _q_events_window(r):
    day = int(r.integers(0, EVENT_DAYS - 7))
    lo = EVENT_EPOCH + dt.timedelta(days=day)
    hi = lo + dt.timedelta(days=7)
    return f"""SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS c, sum(value) AS s
FROM events WHERE ts >= TIMESTAMP '{lo:%Y-%m-%d %H:%M:%S}' AND ts < TIMESTAMP '{hi:%Y-%m-%d %H:%M:%S}'
GROUP BY date_trunc('hour', ts), event_type ORDER BY h, event_type"""


def _q_distinct_users(r):
    return f"""SELECT event_type, count(DISTINCT user_id) AS u FROM events
WHERE value >= {float(np.round(r.uniform(0, 60), 2))}
GROUP BY event_type ORDER BY event_type"""


def _q_sort_limit(r):
    return f"""SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount FROM lineitem
WHERE l_shipdate >= {_d(r.integers(0, ORDER_DAYS))}
ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT {int(r.integers(10, 200))}"""


def _q_tpch3(r):
    cut = int(r.integers(300, ORDER_DAYS - 300))
    return f"""SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) AS revenue,
  CAST(o_orderdate AS DATE) AS odate, o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = '{SEGMENTS[int(r.integers(0, 5))]}'
  AND o_orderdate < {_d(cut)} AND l_shipdate > {_d(cut)}
GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
ORDER BY revenue DESC, odate, l_orderkey LIMIT {int(r.integers(5, 50))}"""


def _q_tpch5(r):
    lo = int(r.integers(0, ORDER_DAYS - 365))
    return f"""SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = '{REGIONS[int(r.integers(0, 5))]}'
  AND o_orderdate >= {_d(lo)} AND o_orderdate < {_d(lo + 365)}
GROUP BY n_name ORDER BY revenue DESC, n_name"""


def _q_tpch10(r):
    lo = int(r.integers(0, ORDER_DAYS - 92))
    return f"""SELECT c_custkey, c_name, sum(l_extendedprice * (1 - l_discount)) AS revenue,
  c_acctbal, n_name
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= {_d(lo)} AND o_orderdate < {_d(lo + 92)} AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey LIMIT {int(r.integers(10, 40))}"""


def _q_tpch18(r):
    return f"""SELECT c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS odate,
  o_totalprice, sum(l_quantity) AS qty
FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING sum(l_quantity) > {int(r.integers(230, 300))})
GROUP BY c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE), o_totalprice
ORDER BY o_totalprice DESC, odate, o_orderkey LIMIT {int(r.integers(10, 100))}"""


#: BASELINE.md's six shapes, then TPC-H Q3/Q5/Q10/Q18-shaped joins.
SQL_TEMPLATES = {
    "pricing_summary": _q_pricing,
    "join3_revenue": _q_join3,
    "window_topk": _q_window_topk,
    "events_window": _q_events_window,
    "distinct_users": _q_distinct_users,
    "sort_limit": _q_sort_limit,
    "tpch_q3": _q_tpch3,
    "tpch_q5": _q_tpch5,
    "tpch_q10": _q_tpch10,
    "tpch_q18": _q_tpch18,
}


def sql_query(seed: int, i: int) -> tuple[str, str]:
    """The i-th query of the run: templates round-robin (so every run has
    the same mix), parameters fresh from (seed, i)."""
    names = list(SQL_TEMPLATES)
    name = names[i % len(names)]
    return name, SQL_TEMPLATES[name](_rng(seed, 100, i))


# -- llm_curation -------------------------------------------------------------

_P31 = (1 << 31) - 1


@dataclass(frozen=True)
class Sample:
    """Keeps row ``id`` iff x^2 mod p falls in the lowest ``pct`` percent of
    [0, p), where x = (id * a + b) mod p and p = 2^31-1: a hash sample that
    Spark (as SQL) and numpy (as the oracle) compute alike. Squaring breaks
    the lattice structure a linear hash has for some a; every product stays
    below 2^63 for ids below 2^32."""

    a: int
    b: int
    pct: int = 80

    @property
    def _cut(self) -> int:
        return _P31 * self.pct // 100

    def sql(self, col: str) -> str:
        x = f"pmod({col} * {self.a} + {self.b}, {_P31})"
        return f"pmod({x} * {x}, {_P31}) < {self._cut}"

    def mask(self, ids: np.ndarray) -> np.ndarray:
        x = (ids.astype(np.int64) * self.a + self.b) % _P31
        return x * x % _P31 < self._cut


N_QUERIES = 64
QUERY_ID_BASE = 1 << 40


def curation_inputs(seed: int, i: int) -> tuple[Sample, Sample, np.ndarray]:
    """Pass i's document sample, embedding sample and query vectors."""
    r = _rng(seed, 200, i)
    docs = Sample(int(r.integers(1, _P31)), int(r.integers(0, _P31)))
    vecs = Sample(int(r.integers(1, _P31)), int(r.integers(0, _P31)))
    centers = _centers(seed)[r.integers(0, N_CLUSTERS, N_QUERIES)]
    queries = _unit(centers + 0.12 * r.normal(size=(N_QUERIES, DIM)))
    return docs, vecs, queries


# -- lake_upsert ---------------------------------------------------------------

def upsert_batch(seed: int, i: int, n_live: int, rows: int, update_share: float) -> dict:
    """Commit i's merge source for a table whose keys are 0..n_live-1:
    ``update_share`` of the rows rewrite existing keys, the rest insert
    keys n_live and up. Returns orders-schema columns."""
    r = _rng(seed, 300, i)
    n_up = int(rows * update_share)
    keys = np.concatenate([
        r.choice(n_live, n_up, replace=False).astype(np.int64),
        np.arange(n_live, n_live + rows - n_up, dtype=np.int64),
    ])
    return {
        "o_orderkey": pa.array(keys),
        "o_custkey": pa.array(r.integers(0, 1000, rows).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(STATUSES)[r.integers(0, 3, rows)]),
        "o_totalprice": pa.array(np.round(r.uniform(100.0, 400000.0, rows), 2)),
        "o_orderdate": _ts(r.integers(0, ORDER_DAYS, rows), ORDER_EPOCH),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[r.integers(0, 5, rows)]),
    }
