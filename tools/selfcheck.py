"""Self-oracle harness (SURVEY.md §5.2.1): replicate the driver's
correctness gate locally -- run every declared query in Spark AND its oracle
SQL in DuckDB on the same parquet, compare row count, column names, and
values (order-insensitive).

Usage:
    python tools/selfcheck.py [sf_dir] [query ...]
        [--json OUT.json] [--fuzz N] [--audit]

--audit appends the physical-plan regression gate
(tools/explain_audit.py --gate vs EXPLAIN_BASELINE.json) to the sweep.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import duckdb
import pandas as pd


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Canonicalize a result frame for cross-engine comparison."""
    out = df.copy()
    out = out[sorted(out.columns)]
    for c in out.columns:
        s = out[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            out[c] = pd.to_datetime(s).astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_float_dtype(s):
            out[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            out[c] = s.astype("int64")
        elif pd.api.types.is_bool_dtype(s):
            out[c] = s.astype("bool")
        else:
            out[c] = s.astype("string")
    out = out.sort_values(by=list(out.columns), ignore_index=True)
    return out


def compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    sc, dc = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if sc != dc:
        problems.append(f"columns: spark={sc} duck={dc}")
        return problems
    if problems:
        return problems
    a, b = _normalize(spark_pdf), _normalize(duck_pdf)
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype.kind == "f":
            # Bit-exact on purpose: the in-query rounding discipline
            # (registry docstring) makes Spark and DuckDB produce identical
            # doubles -- measured 0 mismatches across all oracles at sf0.01.
            # A tolerance here would mask regressions the driver's value
            # hash might not forgive.
            eq = (av.isna() & bv.isna()) | (av == bv)
        else:
            eq = (av.isna() & bv.isna()) | (av.astype(object) == bv.astype(object))
        bad = (~eq).sum()
        if bad:
            i = (~eq).idxmax()
            problems.append(
                f"col {c}: {bad} mismatched values, first at row {i}: "
                f"spark={av[i]!r} duck={bv[i]!r}"
            )
    return problems


def _value_hash(pdf: pd.DataFrame) -> str:
    """Deterministic digest of a normalized result frame (driver-style)."""
    import hashlib

    norm = _normalize(pdf)
    payload = norm.to_csv(index=False).encode()
    return hashlib.sha256(payload).hexdigest()[:16]


def main() -> int:
    argv = list(sys.argv[1:])
    json_out = None
    fuzz_n = 0
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        del argv[i : i + 2]
    if "--fuzz" in argv:
        # append a randomized differential pass (tools/fuzz.py) after the
        # registry sweep -- attacks the shared-blind-spot risk of the
        # fixed query set (VERDICT r3 item 2)
        i = argv.index("--fuzz")
        fuzz_n = int(argv[i + 1])
        del argv[i : i + 2]
    audit = "--audit" in argv
    if audit:
        argv.remove("--audit")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from hive_person_service_spark.session import get_spark

    spark = get_spark(app_name="selfcheck")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):  # multi-file layouts (e.g. the sf1 synth)
            p = f"{p}/*.parquet"
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
        )

    n_pass = n_fail = n_rows_only = 0
    failures: list[str] = []
    report: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            # queries may persist() intermediates for their own reuse;
            # across a 446-query sweep those leak into one shared JVM
            # heap (an sf1 sweep OOM'd on the accumulation) -- clear
            # between queries so each runs from a clean slate
            spark.catalog.clearCache()
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            n_fail += 1
            failures.append(name)
            report[name] = {"status": "spark_error", "err": traceback.format_exc(limit=3)}
            print(f"FAIL  {name}: SPARK ERROR\n{traceback.format_exc()}")
            continue
        secs = round(time.time() - t0, 2)
        if name not in oracles:
            n_rows_only += 1
            report[name] = {
                "status": "rows_only",
                "rows": len(sdf),
                "cols": sorted(sdf.columns),
                "hash": _value_hash(sdf),
                "secs": secs,
            }
            print(f"rows  {name}: {len(sdf)} rows ({secs:.1f}s)")
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception:
            n_fail += 1
            failures.append(name)
            report[name] = {"status": "duckdb_error", "err": traceback.format_exc(limit=3)}
            print(f"FAIL  {name}: DUCKDB ERROR\n{traceback.format_exc()}")
            continue
        problems = compare(sdf, ddf)
        if problems:
            n_fail += 1
            failures.append(name)
            report[name] = {"status": "fail", "problems": problems, "secs": secs}
            print(f"FAIL  {name}: " + "; ".join(problems))
        else:
            n_pass += 1
            report[name] = {
                "status": "oracle_pass",
                "rows": len(sdf),
                "cols": sorted(sdf.columns),
                "hash": _value_hash(sdf),
                "secs": secs,
            }
            print(f"ok    {name}: {len(sdf)} rows ({secs:.1f}s)")

    print(
        f"\n{n_pass} oracle-pass, {n_rows_only} rows-only, {n_fail} FAIL"
        + (f": {failures}" if failures else "")
    )
    if json_out:
        import json

        summary = {
            "sf_dir": sf_dir,
            "oracle_pass": n_pass,
            "rows_only": n_rows_only,
            "fail": n_fail,
            "queries": report,
        }
        with open(json_out, "w") as fh:
            json.dump(summary, fh, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    if fuzz_n:
        from tools.fuzz import run_fuzz

        fr = run_fuzz(sf_dir, fuzz_n, seed=4, spark=spark)
        n_fail += fr["fail"]
    if audit:
        # plan-regression gate (VERDICT r4 item 9): new BNLJ / lost
        # PushedFilters / new partition-less window vs EXPLAIN_BASELINE.json.
        # Runs IN-PROCESS on the same session: a subprocess cannot reopen
        # single-JVM resources this sweep already holds (embedded Derby).
        from tools.explain_audit import run_gate

        rc = run_gate(spark=spark, verbose=False)
        if rc:
            print("explain-audit gate FAILED (plan regressions)")
            n_fail += 1
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
