"""One-off scanner: find broadcast ResolvedHints whose subtree contains an
explode-derived grouped aggregate (an unbounded corpus-derived relation).
Used to pin the round-11 no-forced-corpus-broadcast invariant."""
from __future__ import annotations

import re
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hive_person_service_spark.session import get_spark  # noqa: E402
from hive_person_service_spark import plans  # noqa: E402

SF = "/root/testdata/sf0.001"

TREE = re.compile(r"^[\s:+|-]*")


def _depth(s: str) -> int:
    return len(TREE.match(s).group(0))


def hint_subtrees(plan: str):
    lines = plan.splitlines()
    out = []
    for i, ln in enumerate(lines):
        if "ResolvedHint" in ln and "broadcast" in ln:
            d = _depth(ln)
            j = i + 1
            sub = []
            while j < len(lines) and _depth(lines[j]) > d:
                sub.append(lines[j])
                j += 1
            out.append((lines[i + 1] if i + 1 < len(lines) else "", "\n".join(sub)))
    return out


def is_global_agg(child: str) -> bool:
    body = child.strip().lstrip(":+|- ")
    return body.startswith("Aggregate [") and "], [" not in body


def violations(plan: str):
    bad = []
    for child, sub in hint_subtrees(plan):
        has_explode = "Generate explode" in sub or "Generate posexplode" in sub
        grouped_agg = "], [" in sub and "Aggregate [" in sub
        if has_explode and grouped_agg and not is_global_agg(child):
            bad.append(child.strip())
    return bad


if __name__ == "__main__":
    spark = get_spark(app_name="scan", master="local[4]", shuffle_partitions=4)
    qs = plans.all_queries()
    errs, bad = 0, {}
    for name, fn in sorted(qs.items()):
        try:
            df = fn(spark, SF)
            p = df._jdf.queryExecution().analyzed().toString()
        except Exception:
            errs += 1
            continue
        v = violations(p)
        if v:
            bad[name] = v
    print("errors:", errs)
    print("violations:", len(bad))
    for k, v in bad.items():
        print(" ", k, "->", v[:2])
