"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke test drives every workload on the small fixture tables (skipped
when they are absent) and takes a few minutes.
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import metrics  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

from hive_person_service_spark.sources.loader import DEFAULT_SF_DIR  # noqa: E402

#: The smallest fixture tables, beside the loader's default data dir.
SMOKE_DATA = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")


def _tables(tmp_path, seed: int) -> str:
    out = str(tmp_path / f"s{seed}-{len(os.listdir(tmp_path))}")
    gen.write_tables(out, seed, 0.001)
    return out


def test_tables_deterministic_per_seed(tmp_path):
    a, b, c = _tables(tmp_path, 1), _tables(tmp_path, 1), _tables(tmp_path, 2)
    names = sorted(os.listdir(a))
    assert len(names) == 10
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert match == names and not mismatch and not errors
    _, differ, _ = filecmp.cmpfiles(a, c, names, shallow=False)
    assert set(differ) >= {"customer.parquet", "orders.parquet", "lineitem.parquet",
                           "events.parquet", "documents.parquet", "embeddings.parquet"}


def test_sql_texts_deterministic_per_seed():
    run = lambda seed: [gen.sql_query(seed, i) for i in range(30)]  # noqa: E731
    assert run(5) == run(5)
    assert run(5) != run(6)
    # every template appears, in the same order on every seed
    assert [n for n, _ in run(5)[:10]] == list(gen.SQL_TEMPLATES)


def test_samples_and_batches_deterministic_per_seed():
    d1, v1, q1 = gen.curation_inputs(3, 0)
    d2, v2, q2 = gen.curation_inputs(3, 0)
    assert d1 == d2 and v1 == v2 and np.array_equal(q1, q2)
    d3, _, q3 = gen.curation_inputs(4, 0)
    assert d3 != d1 and not np.array_equal(q1, q3)
    for seed in range(20):  # every draw keeps ~80%, never all or nothing
        for sample in gen.curation_inputs(seed, 1)[:2]:
            assert 0.7 < sample.mask(np.arange(gen.N_VECS)).mean() < 0.9
    b1, b2 = gen.upsert_batch(3, 2, 1000, 100, 0.8), gen.upsert_batch(3, 2, 1000, 100, 0.8)
    assert all(b1[k].equals(b2[k]) for k in b1)
    assert not b1["o_orderkey"].equals(gen.upsert_batch(4, 2, 1000, 100, 0.8)["o_orderkey"])
    keys = b1["o_orderkey"].to_numpy()
    assert len(set(keys)) == 100 and (keys < 1000).sum() == 80


def test_benchmark_json_matches_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    decl = metrics.declared()
    assert bench["end_to_end"] == decl["end_to_end"]
    assert bench["per_layer"] == decl["per_layer"]
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert bench["command"] == ["python3", "perfbench/run.py"]


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--data", SMOKE_DATA],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.skipif(not os.path.isdir(SMOKE_DATA), reason="fixture tables absent")
@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_error_rate_zero(workload):
    res = _run(workload, 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in metrics.declared()["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.skipif(not os.path.isdir(SMOKE_DATA), reason="fixture tables absent")
def test_smoke_traced_prints_per_layer():
    res = _run("hive_sql", 1)
    assert res["correct"] and res["failed"] == 0
    want = {m["name"]: m["unit"] for m in metrics.declared()["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert res["metrics"]["engine.collect.jobs"]["value"] >= 1
