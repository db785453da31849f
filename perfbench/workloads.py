"""The three benchmark workloads.

Each workload is a closed loop driven by one client thread: ``prepare(i)``
makes op i's inputs (untimed), ``run(i, prep)`` makes the timed calls into
the engine and returns what it produced, and ``check(outputs)`` compares
every op's output against an independent oracle after the loop, so checking
never eats into the measured time. Spans wrap each call into a layer's
public function; they cost nothing when tracing is off.
"""

from __future__ import annotations

import json
import math
import os
import traceback
from collections import defaultdict

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def duck_on(data_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB with one view per table over the same parquet files the
    engine reads. events.ts is cast to a microsecond TIMESTAMP, which is
    what the engine's loader yields whichever physical encoding the file
    uses (BASELINE.md)."""
    con = duckdb.connect()
    for t in TABLES:
        src = f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')"
        sel = "* REPLACE (CAST(ts AS TIMESTAMP) AS ts)" if t == "events" else "*"
        con.execute(f"CREATE VIEW {t} AS SELECT {sel} FROM {src}")
    return con


def _same(a, b, rel: float = 1e-9) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=1e-6)
    return a == b


def rows_match(got: list[tuple], want: list[tuple], ordered: bool) -> bool:
    """Row-by-row equality; floats within a relative 1e-9 (summation order
    differs between engines). Unordered results are compared sorted."""
    if len(got) != len(want):
        return False
    if not ordered:
        key = lambda r: tuple((x is None, x) for x in r)  # noqa: E731
        got, want = sorted(got, key=key), sorted(want, key=key)
    return all(len(g) == len(w) and all(_same(x, y) for x, y in zip(g, w))
               for g, w in zip(got, want))


class Workload:
    name = ""
    op_span = ""
    round = 1  # ops per round: the loop only stops between rounds

    def __init__(self, ctx):
        self.ctx = ctx  # run.Context: seed, data_dir, work_dir, tracer, engine
        self.extra: dict[str, list[float]] = defaultdict(list)

    @property
    def span(self):
        return self.ctx.tracer.span

    def setup(self) -> None:
        """Build the workload state the loop needs (part of set-up time)."""

    def prepare(self, i: int):
        """Op i's inputs, made untimed."""
        raise NotImplementedError

    def run(self, i: int, prep):
        """Op i's timed calls into the engine; returns what check() needs."""
        raise NotImplementedError

    def trace_extra(self, i: int, prep, out) -> None:
        """Per-layer counts that need extra engine work: traced runs only,
        outside every timed span."""

    def check(self, outputs: dict[int, object]) -> tuple[dict[int, bool], dict[str, float]]:
        """(op -> passed, quality metrics)."""
        raise NotImplementedError


# -- hive_sql ------------------------------------------------------------------

class HiveSql(Workload):
    """Engine.sql over the attached catalog: Catalyst planning, parquet
    scans, shuffle joins and aggregates, driver job scheduling."""

    name = "hive_sql"
    op_span = "hive_sql.query"
    round = len(gen.SQL_TEMPLATES)

    def prepare(self, i: int):
        return gen.sql_query(self.ctx.seed, i)[1]

    def run(self, i: int, text: str):
        with self.span("engine.sql"):
            df = self.ctx.engine.sql(text)
        with self.span("engine.collect"):
            rows = df.collect()
        return [tuple(r) for r in rows]

    def check(self, outputs):
        con = duck_on(self.ctx.data_dir)
        ok = {}
        for i, got in outputs.items():
            text = gen.sql_query(self.ctx.seed, i)[1]
            try:
                want = con.execute(text).fetchall()
            except duckdb.Error:
                traceback.print_exc()
                ok[i] = False
                continue
            ok[i] = rows_match(got, want, ordered="ORDER BY" in text.rsplit(")", 1)[-1])
        con.close()
        return ok, {"recall": 1.0}


# -- llm_curation ---------------------------------------------------------------

JACCARD = 0.7
NPROBE = 4
NLIST = 16


def _shingles(text: str, n: int = 3) -> frozenset:
    toks = text.split(" ")
    return frozenset(" ".join(toks[k:k + n]) for k in range(len(toks) - n + 1))


def _jaccard(a: frozenset, b: frozenset) -> float:
    inter = len(a & b)
    union = len(a) + len(b) - inter
    return inter / union if union else 0.0


class Curation(Workload):
    """A dedup + similarity pass over a fresh ~80% sample: exact dedup,
    MinHash-LSH near dups, dedup groups, exact top-k pairs, IVF build and
    an IVF kNN join of a query batch."""

    name = "llm_curation"
    op_span = "llm_curation.pass"

    def __init__(self, ctx):
        super().__init__(ctx)
        docs = pq.read_table(os.path.join(ctx.data_dir, "documents.parquet"))
        self.doc_ids = docs["doc_id"].to_numpy()
        self.texts = docs["text"].to_pylist()
        emb = pq.read_table(os.path.join(ctx.data_dir, "embeddings.parquet"))
        self.vec_ids = emb["vec_id"].to_numpy()
        self.vecs = np.array(emb["embedding"].to_pylist(), dtype=np.float64)

    def prepare(self, i: int):
        from pyspark.sql.types import ArrayType, FloatType, LongType, StructField, StructType

        docs, vecs, queries = gen.curation_inputs(self.ctx.seed, i)
        schema = StructType([StructField("vec_id", LongType()),
                             StructField("embedding", ArrayType(FloatType()))])
        qdf = self.ctx.engine.spark.createDataFrame(
            [(gen.QUERY_ID_BASE + k, [float(x) for x in q]) for k, q in enumerate(queries)],
            schema)
        return docs, vecs, queries, qdf

    def run(self, i: int, prep):
        from hive_person_service_spark.operators.clustering import dedup_groups
        from hive_person_service_spark.operators.dedup import exact_dedup, near_duplicates_minhash
        from hive_person_service_spark.operators.ivf import build_ivf, ivf_knn_join
        from hive_person_service_spark.operators.similarity import exact_topk_pairs_blockwise

        docs_s, vecs_s, _, qdf = prep
        eng, sp = self.ctx.engine, self.span
        docs = eng.table("documents").where(docs_s.sql("doc_id"))
        with sp("operators.dedup.exact_dedup"):
            uniq = exact_dedup(docs)
            with sp("operators.dedup.exact_dedup.collect"):
                uniq_ids = [r[0] for r in uniq.select("doc_id").collect()]
        with sp("operators.dedup.near_duplicates_minhash"):
            pairs = near_duplicates_minhash(uniq, threshold=JACCARD)
            with sp("operators.dedup.near_duplicates_minhash.collect"):
                pair_rows = [tuple(r) for r in pairs.collect()]
        with sp("operators.clustering.dedup_groups"):
            groups = dedup_groups(uniq.select("doc_id"), pairs)
            with sp("operators.clustering.dedup_groups.collect"):
                group_rows = [tuple(r) for r in groups.collect()]
        emb = eng.table("embeddings").where(vecs_s.sql("vec_id"))
        with sp("operators.similarity.exact_topk_pairs_blockwise"):
            top = exact_topk_pairs_blockwise(eng.spark, emb, k=10)
            with sp("operators.similarity.exact_topk_pairs_blockwise.collect"):
                top_rows = [tuple(r) for r in top.collect()]
        with sp("operators.ivf.build_ivf"):
            assigned, cents = build_ivf(emb, nlist=NLIST)
        with sp("operators.ivf.ivf_knn_join"):
            knn = ivf_knn_join(qdf, assigned, cents, k=10, nprobe=NPROBE)
            with sp("operators.ivf.ivf_knn_join.collect"):
                knn_rows = [(r["a_id"], r["b_id"], r["cos"]) for r in knn.collect()]
        return {"uniq": uniq_ids, "pairs": pair_rows, "groups": group_rows,
                "top": top_rows, "knn": knn_rows, "cents": cents}

    def trace_extra(self, i, prep, out) -> None:
        from hive_person_service_spark.operators.dedup import (
            doc_shingles, lsh_candidate_pairs, minhash_signatures)

        eng = self.ctx.engine
        docs_s, vecs_s, queries, _ = prep
        ids = eng.spark.createDataFrame([(int(x),) for x in out["uniq"]], "doc_id long")
        uniq = eng.table("documents").join(ids, "doc_id")
        n_cand = lsh_candidate_pairs(minhash_signatures(doc_shingles(uniq))).count()
        self.extra["operators.dedup.lsh_candidate_pairs"].append(n_cand)
        self.extra["operators.dedup.verified_pairs"].append(len(out["pairs"]))
        self.extra["operators.dedup.verify_yield"].append(len(out["pairs"]) / n_cand if n_cand else 1.0)
        # vectors scored by the kNN join: the probed cells' sizes per query
        mask = vecs_s.mask(self.vec_ids)
        corpus = self.vecs[mask]
        cents = out["cents"]
        half = 0.5 * np.sum(cents ** 2, axis=1)
        cell = np.argmax(corpus @ cents.T - half, axis=1)
        sizes = np.bincount(cell, minlength=len(cents))
        probes = np.argsort(-(queries.astype(np.float64) @ cents.T - half), axis=1)[:, :NPROBE]
        self.extra["operators.ivf.scored_frac"].append(
            float(sizes[probes].sum()) / (len(corpus) * len(queries)))

    def check(self, outputs):
        ok, nd_recall, ann_recall = {}, [], []
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{os.path.join(self.ctx.data_dir, 'documents.parquet')}')")
        for i, out in outputs.items():
            try:
                ok[i], nd, ann = self._check_pass(con, i, out)
            except Exception:  # a malformed output is a failed op, not a crash
                traceback.print_exc()
                ok[i] = False
                continue
            nd_recall.append(nd)
            ann_recall.append(ann)
        con.close()
        self.extra["near_dup_recall"] = nd_recall
        self.extra["ann_recall_at_10"] = ann_recall
        nd = float(np.mean(nd_recall)) if nd_recall else 0.0
        ann = float(np.mean(ann_recall)) if ann_recall else 0.0
        return ok, {"recall": min(nd, ann), "near_dup_recall": nd, "ann_recall_at_10": ann}

    def _check_pass(self, con, i: int, out: dict) -> tuple[bool, float, float]:
        """(passed, near-dup recall, kNN recall@10) of pass i."""
        docs_s, vecs_s, queries = gen.curation_inputs(self.ctx.seed, i)
        good = True
        # exact dedup: one row per distinct text, the lowest id
        con.register("sample", pa.table({"doc_id": self.doc_ids[docs_s.mask(self.doc_ids)]}))
        n_distinct = con.execute(
            "SELECT count(DISTINCT text) FROM documents JOIN sample USING (doc_id)").fetchone()[0]
        keep = {r[0] for r in con.execute(
            "SELECT min(doc_id) FROM documents JOIN sample USING (doc_id) GROUP BY text").fetchall()}
        con.unregister("sample")
        good &= len(out["uniq"]) == n_distinct and set(out["uniq"]) == keep
        # near dups: each reported pair really is one; recall vs all true pairs
        sh = {d: _shingles(self.texts[d]) for d in keep}
        for a, b, jac in out["pairs"]:
            exact = _jaccard(sh[a], sh[b]) if a in sh and b in sh and a < b else -1.0
            good &= exact >= JACCARD and abs(exact - jac) <= 1e-6
        truth = self._true_pairs(sh)
        found = {(a, b) for a, b, _ in out["pairs"]}
        nd_recall = len(truth & found) / len(truth) if truth else 1.0
        # dedup groups: canon = smallest id of its component over the pairs
        parent = {d: d for d in keep}

        def root(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in found & truth:
            ra, rb = root(a), root(b)
            parent[max(ra, rb)] = min(ra, rb)
        good &= set(out["groups"]) == {(d, root(d), d == root(d)) for d in keep}
        # exact top-10 pairs vs numpy brute force
        m = vecs_s.mask(self.vec_ids)
        ids, mat = self.vec_ids[m], self.vecs[m]
        pos = {v: k for k, v in enumerate(ids)}
        sims = mat @ mat.T
        best = np.sort(sims[np.triu_indices(len(ids), 1)])[::-1][:10]
        got = sorted((c for _, _, c in out["top"]), reverse=True)
        good &= len(got) == len(best) and np.allclose(got, best, rtol=0, atol=1e-9)
        good &= all(a < b and abs(sims[pos[a], pos[b]] - c) <= 1e-9 for a, b, c in out["top"])
        # IVF kNN join: each neighbour's cosine, recall@10 against the exact top 10
        qsims = queries.astype(np.float64) @ mat.T
        by_q = defaultdict(list)
        for a, b, c in out["knn"]:
            by_q[a - gen.QUERY_ID_BASE].append((b, c))
        good &= set(by_q) <= set(range(len(queries)))
        hits = 0
        for k in range(len(queries)):
            tenth = np.sort(qsims[k])[::-1][9]
            got_k = by_q.get(k, ())
            good &= len(got_k) <= 10
            for b, c in got_k:
                good &= abs(qsims[k, pos[b]] - c) <= 1e-6
                hits += qsims[k, pos[b]] >= tenth - 1e-9
        return bool(good), nd_recall, hits / (10 * len(queries))

    @staticmethod
    def _true_pairs(sh: dict[int, frozenset]) -> set[tuple[int, int]]:
        """All pairs at or above the threshold, via a shingle inverted index
        (pairs sharing no shingle have Jaccard 0)."""
        index = defaultdict(list)
        for d, s in sh.items():
            for g in s:
                index[g].append(d)
        cands = set()
        for ds in index.values():
            if len(ds) > 1:
                ds = sorted(ds)
                cands.update((a, b) for k, a in enumerate(ds) for b in ds[k + 1:])
        return {(a, b) for a, b in cands if sh[a] and sh[b] and _jaccard(sh[a], sh[b]) >= JACCARD}


# -- lake_upsert ----------------------------------------------------------------

BATCH_ROWS = 5_000
UPDATE_SHARE = 0.8
OPTIMIZE_EVERY = 4
KEY = "o_orderkey"


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _log_state(table: str) -> tuple[int, int, int]:
    """(live files, live files carrying a deletion vector, commit count)
    from a replay of the JSON commits."""
    log = os.path.join(table, "_delta_log")
    commits = sorted(f for f in os.listdir(log) if f.endswith(".json") and f[:20].isdigit())
    live: dict[str, bool] = {}
    for f in commits:
        with open(os.path.join(log, f)) as fh:
            for line in fh:
                act = json.loads(line)
                if "add" in act:
                    live[act["add"]["path"]] = bool(act["add"].get("deletionVector"))
                elif "remove" in act:
                    live.pop(act["remove"]["path"], None)
    return len(live), sum(live.values()), len(commits)


class LakeUpsert(Workload):
    """Seeded upsert batches merged into a Delta table, a snapshot aggregate
    after every commit and OPTIMIZE every few commits."""

    name = "lake_upsert"
    op_span = "lake_upsert.cycle"
    round = OPTIMIZE_EVERY

    def __init__(self, ctx):
        super().__init__(ctx)
        self.n_orders = pq.ParquetFile(os.path.join(ctx.data_dir, "orders.parquet")).metadata.num_rows
        self.batch_rows = min(BATCH_ROWS, self.n_orders // 2)  # small fixtures
        self.n_up = int(self.batch_rows * UPDATE_SHARE)
        self.table = ""
        self.tables = 0

    def setup(self) -> None:
        from hive_person_service_spark.sources.delta_log import delta_write

        self.tables += 1
        self.table = os.path.join(self.ctx.work_dir, f"lake{self.tables}", "orders")
        with self.span("sources.delta_log.delta_write"):
            delta_write(self.ctx.engine.table("orders"), self.table)

    def _n_live(self, i: int) -> int:
        return self.n_orders + i * (self.batch_rows - self.n_up)

    def _batch(self, i: int) -> dict:
        return gen.upsert_batch(self.ctx.seed, i, self._n_live(i), self.batch_rows, UPDATE_SHARE)

    def prepare(self, i: int):
        path = os.path.join(self.ctx.work_dir, "batches", f"{i}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(pa.table(self._batch(i)), path)
        return path

    def _read(self):
        from pyspark.sql import functions as F

        from hive_person_service_spark.sources.delta_log import delta_scan

        with self.span("sources.delta_log.delta_scan"):
            snap = delta_scan(self.ctx.engine.spark, self.table)
        agg = (snap.groupBy("o_orderstatus")
               .agg(F.count("*"), F.sum(F.round(F.col("o_totalprice") * 100).cast("long")))
               .orderBy("o_orderstatus"))
        with self.span("lake.read_collect"):
            return [tuple(r) for r in agg.collect()]

    def run(self, i: int, path: str):
        from hive_person_service_spark.sources.delta_log import delta_merge, delta_optimize
        from hive_person_service_spark.sources.schemas import SCHEMAS

        spark = self.ctx.engine.spark
        if i % OPTIMIZE_EVERY == 0:  # each round starts compacted
            with self.span("sources.delta_log.delta_optimize"):
                delta_optimize(spark, self.table)
        src = spark.read.schema(SCHEMAS["orders"]).parquet(path)
        before = _dir_bytes(self.table) if self.ctx.tracer.enabled else 0
        with self.span("sources.delta_log.delta_merge"):
            res = delta_merge(spark, self.table, src, [KEY])
        if self.ctx.tracer.enabled:
            self.extra["sources.delta_log.bytes_written"].append(_dir_bytes(self.table) - before)
        return {"merge": (res["updated"], res["inserted"]), "read": self._read()}

    def trace_extra(self, i, prep, out) -> None:
        live, dv, versions = _log_state(self.table)
        self.extra["sources.delta_log.live_files"].append(live)
        self.extra["sources.delta_log.dv_files"].append(dv)
        self.extra["sources.delta_log.log_versions"].append(versions)

    def check(self, outputs):
        con = duckdb.connect()
        con.execute("CREATE TABLE m AS SELECT * FROM read_parquet(?)",
                    [os.path.join(self.ctx.data_dir, "orders.parquet")])
        ok = {}
        for i in range(max(outputs, default=-1) + 1):
            batch = pa.table(self._batch(i))
            con.register("batch", batch)
            con.execute(f"DELETE FROM m WHERE {KEY} IN (SELECT {KEY} FROM batch)")
            con.execute("INSERT INTO m SELECT * FROM batch")
            con.unregister("batch")
            if i not in outputs:
                continue
            want = con.execute(
                "SELECT o_orderstatus, count(*), sum(CAST(round(o_totalprice * 100) AS BIGINT)) "
                "FROM m GROUP BY o_orderstatus ORDER BY o_orderstatus").fetchall()
            out = outputs[i]
            ok[i] = out["merge"] == (self.n_up, self.batch_rows - self.n_up) and rows_match(out["read"], want, True)
        # space: the table on disk vs the same live rows written once by pyarrow
        plain = os.path.join(self.ctx.work_dir, "live_rows.parquet")
        pq.write_table(con.execute("SELECT * FROM m").arrow(), plain)
        self.extra["lake.bytes_per_user_byte"].append(_dir_bytes(self.table) / os.path.getsize(plain))
        con.close()
        return ok, {"recall": 1.0}


WORKLOADS = {w.name: w for w in (HiveSql, Curation, LakeUpsert)}
