"""Physical-plan audit + regression gate (the 100 TB checklist).

For each declared query, extract .explain('formatted') features:
  * filters reach the parquet scan (PushedFilters),
  * only needed columns are read (ReadSchema),
  * dim joins broadcast (BroadcastHashJoin) -- counted SEPARATELY from
    BroadcastNestedLoopJoin, which is the O(n*m) anti-pattern,
  * top-k windows use the rank-limit pushdown (WindowGroupLimit),
  * partition-less windows (windowspecdefinition whose first argument is
    already an ordering item -- every row in one task at scale),
  * pipelines fuse (WholeStageCodegen spans), Python stages, exchanges.

Gate mode (VERDICT r4 item 9): compare against the committed
EXPLAIN_BASELINE.json and FAIL on scale regressions --
  * a query gains a BroadcastNestedLoopJoin it didn't have,
  * a query that had pushed filters loses ALL of them,
  * a query gains a partition-less window.
New queries are reported and added on --update-baseline. Run:

    python tools/explain_audit.py --gate                     # full registry
    python tools/explain_audit.py --gate --json AUDIT.json   # + artifact
    python tools/explain_audit.py --update-baseline          # re-pin
    python tools/explain_audit.py q1 q2                      # ad-hoc (prints plans for <=3)

True-streaming queries (stream_live_*, stream_python_datasource,
stream_dedup_ingest) are skipped: invoking them RUNS the stream and the
returned relation is a drained memory-sink scan, so there is no
meaningful static plan to audit.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_AUDIT_SF", "/root/testdata/sf0.01")
BASELINE_PATH = os.path.join(os.path.dirname(__file__), "..", "EXPLAIN_BASELINE.json")

CHECKS = {
    "pushed_filter": re.compile(r"PushedFilters: \[[^\]]"),
    "read_schema": re.compile(r"ReadSchema: struct<([^>]*)>"),
    "broadcast_hash_join": re.compile(r"BroadcastHashJoin"),
    "bnlj": re.compile(r"BroadcastNestedLoopJoin"),
    "cartesian": re.compile(r"CartesianProduct"),
    "sortmerge_join": re.compile(r"SortMergeJoin"),
    "window_group_limit": re.compile(r"WindowGroupLimit"),
    "take_ordered": re.compile(r"TakeOrderedAndProject"),
    "codegen": re.compile(r"WholeStageCodegen"),
    "python_in_plan": re.compile(
        r"ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas"
    ),
    "exchange": re.compile(
        r"Exchange (hashpartitioning|rangepartitioning|SinglePartition)"
    ),
    # windowspecdefinition whose FIRST argument is already an ordering item
    # (`col ASC/DESC NULLS ...`) has no partition columns -> at scale the
    # whole relation funnels through one task.
    "partitionless_window": re.compile(
        r"windowspecdefinition\([^,()]+ (?:ASC|DESC) NULLS"
    ),
}

# True-streaming declared queries: calling them executes the stream; the
# returned DataFrame is a memory-sink scan with no plan worth auditing.
SKIP_PREFIXES = ("stream_live_", "stream_python_datasource", "stream_dedup_ingest")


def audit_one(spark, fn, name: str) -> tuple[dict, str]:
    df = fn(spark, SF)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    found: dict = {}
    for key, rx in CHECKS.items():
        m = rx.findall(plan)
        if m:
            found[key] = len(m) if key != "read_schema" else sorted(set(m))
    return found, plan


def regressions(name: str, base: dict, cur: dict) -> list[str]:
    probs = []
    if cur.get("bnlj", 0) > base.get("bnlj", 0):
        probs.append(
            f"{name}: BroadcastNestedLoopJoin {base.get('bnlj', 0)} -> "
            f"{cur.get('bnlj', 0)}"
        )
    if cur.get("cartesian", 0) > base.get("cartesian", 0):
        probs.append(
            f"{name}: CartesianProduct {base.get('cartesian', 0)} -> "
            f"{cur.get('cartesian', 0)}"
        )
    if base.get("pushed_filter", 0) and not cur.get("pushed_filter", 0):
        probs.append(f"{name}: lost ALL PushedFilters")
    if cur.get("partitionless_window", 0) > base.get("partitionless_window", 0):
        probs.append(
            f"{name}: partition-less windows "
            f"{base.get('partitionless_window', 0)} -> "
            f"{cur.get('partitionless_window', 0)}"
        )
    return probs


def run_gate(
    spark=None,
    names: list[str] | None = None,
    json_out: str | None = None,
    gate: bool = True,
    update: bool = False,
    verbose: bool = True,
) -> int:
    """Audit + (optionally) gate; callable in-process so callers holding
    single-JVM resources (embedded Derby) can share their session."""
    from hive_person_service_spark import plans

    if spark is None:
        from hive_person_service_spark.session import get_spark

        spark = get_spark(app_name="explain-audit")
        spark.sparkContext.setLogLevel("ERROR")
    qs = plans.all_queries()
    explicit = names is not None and len(names) > 0
    names = names or sorted(qs)

    report: dict[str, dict] = {}
    errors: list[str] = []
    for name in names:
        if not explicit and name.startswith(SKIP_PREFIXES):
            continue
        try:
            # Audit each query CACHE-FREE: another query's persist() can
            # substitute an InMemoryRelation for a semantically-identical
            # subplan (observed: reco_item_cooccurrence's persisted basket
            # matches orders_market_basket's), making the audited plan
            # depend on sweep order -- scans lose PushedFilters and the
            # gate flags a phantom regression.
            spark.catalog.clearCache()
            found, plan = audit_one(spark, qs[name], name)
        except Exception as e:  # noqa: BLE001 - report, keep auditing
            errors.append(f"{name}: {type(e).__name__}: {e}")
            continue
        report[name] = found
        if verbose:
            print(f"== {name}: {found}")
        if explicit and len(names) <= 3:
            print(plan)

    rc = 0
    if gate or update:
        base: dict = {}
        if os.path.exists(BASELINE_PATH):
            with open(BASELINE_PATH) as fh:
                base = json.load(fh)
        probs: list[str] = []
        new_queries = [n for n in report if n not in base]
        for name, cur in report.items():
            if name in base:
                probs.extend(regressions(name, base[name], cur))
        if probs:
            print("\nPLAN REGRESSIONS:")
            for p in probs:
                print("  " + p)
            rc = 1
        if new_queries:
            print(f"\n{len(new_queries)} new queries (not in baseline): "
                  f"{new_queries}")
        if errors:
            print("\nAUDIT ERRORS (query failed to build):")
            for e in errors:
                print("  " + e)
            rc = 1
        if update or (gate and not os.path.exists(BASELINE_PATH)):
            with open(BASELINE_PATH, "w") as fh:
                json.dump(report, fh, indent=1, sort_keys=True)
            print(f"\nwrote baseline {BASELINE_PATH} ({len(report)} queries)")
        print(
            f"\naudit: {len(report)} queries, {len(probs)} regressions, "
            f"{len(errors)} errors, {len(new_queries)} new"
        )
    if json_out:
        with open(json_out, "w") as fh:
            json.dump(report, fh, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    return rc


def main() -> int:
    argv = list(sys.argv[1:])
    gate = "--gate" in argv
    update = "--update-baseline" in argv
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        del argv[i : i + 2]
    argv = [a for a in argv if not a.startswith("--")]
    return run_gate(
        names=argv or None, json_out=json_out,
        gate=gate or not (argv or update), update=update,
    )


if __name__ == "__main__":
    raise SystemExit(main())
