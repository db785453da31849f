"""Generate INDEX.md: one line per declared query (VERDICT r2 item 10).

Registry-driven, so it can't drift from the code: name, defining
module:line, family (name prefix), check type (oracle vs rows-only),
first docstring line.

Usage: python tools/make_index.py   (rewrites INDEX.md at the repo root)
"""

from __future__ import annotations

import sys
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def main() -> int:
    from hive_person_service_spark import plans
    from hive_person_service_spark.plans.registry import REGISTRY

    assert plans  # import side effect populates REGISTRY

    rows = []
    for name, d in REGISTRY.items():
        fn = d.fn
        mod = fn.__module__.replace("hive_person_service_spark.", "")
        line = fn.__code__.co_firstlineno
        family = name.split("_", 1)[0]
        check = "oracle" if d.oracle is not None else "rows-only"
        first_doc = (d.doc or "").strip().splitlines()
        rows.append((mod, line, name, family, check,
                     first_doc[0] if first_doc else ""))
    rows.sort()

    fam_counts = Counter(r[3] for r in rows)
    check_counts = Counter(r[4] for r in rows)

    out = ROOT / "INDEX.md"
    with out.open("w") as fh:
        fh.write(
            "# INDEX — declared query registry "
            "(generated by tools/make_index.py; do not edit)\n\n"
            f"{len(rows)} queries: {check_counts['oracle']} oracle-checked, "
            f"{check_counts['rows-only']} rows-only (each rows-only query "
            "carries a named pytest — SURVEY.md §5).\n\n"
            "Families: "
            + ", ".join(f"{k} ({v})" for k, v in sorted(fam_counts.items()))
            + "\n\n| query | defined at | family | check | summary |\n"
            "| --- | --- | --- | --- | --- |\n"
        )
        for mod, line, name, family, check, doc in rows:
            if len(doc) > 90:
                doc = doc[:87] + "..."
            doc = doc.replace("|", "\\|")
            fh.write(
                f"| {name} | {mod}.py:{line} | {family} | {check} | {doc} |\n"
            )
    print(f"wrote {out} ({len(rows)} queries)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
