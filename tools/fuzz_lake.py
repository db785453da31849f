#!/usr/bin/env python
"""Lake-reader property fuzz (round 8): random MUTATION HISTORIES
against all three open-table clients, each diffed step-by-step against
a driver-side SHADOW copy.

Per history: pick a format (delta / iceberg / hudi-cow / hudi-mor),
seed a small table, then apply 3-6 random actions drawn from the
format's mutation set --

  delta:    append, predicate delete (DV), predicate update (DV),
            overwrite, VACUUM (retain 0)
  iceberg:  append, position delete, overwrite, partition-spec
            evolution (metadata-only), schema add-column,
            EXPIRE_SNAPSHOTS (keep_last 1-2)
  hudi:     upsert (new + existing keys), key delete, insert_overwrite,
            compaction (MOR), CLEAN (keep_versions 1-2)

Retention actions tighten the end-of-history travel check instead of
weakening it: a snapshot whose files were reclaimed must FAIL precisely
(hudi: the clean-boundary ValueError; iceberg: the not-in-log error;
delta: a scan-time failure on any version referencing vacuumed files) --
silently returning partial rows is recorded as a mismatch.

After EVERY action the snapshot scan must equal the shadow exactly
(sorted row tuples, floats bit-for-bit -- no arithmetic happens on the
values, only storage round-trips).  At history end, every recorded
version/snapshot/instant is TIME-TRAVEL read and must equal the shadow
as of that point -- so the fuzz also attacks the historical read path,
not just HEAD.

Usage: python tools/fuzz_lake.py [n_histories] [seed] [--json OUT]
Exits nonzero on any mismatch.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import tempfile
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SCHEMA = "id long, grp string, v double"


def _rows(rng: random.Random, ids) -> list[tuple]:
    return [
        (int(i), f"g{rng.randrange(4)}", float(rng.randrange(200)) / 2.0)
        for i in ids
    ]


def _fresh_ids(rng: random.Random, shadow_keys, n) -> list[int]:
    base = (max(shadow_keys) + 1) if shadow_keys else 0
    return [base + j for j in range(n)]


def _scan_rows(df, cols=("id", "grp", "v")) -> list[tuple]:
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


class Mismatch(Exception):
    pass


def _check(tag: str, got: list[tuple], want: list[tuple]) -> None:
    if got != want:
        only_got = [r for r in got if r not in want][:5]
        only_want = [r for r in want if r not in got][:5]
        raise Mismatch(
            f"{tag}: rows diverge (got {len(got)}, want {len(want)}; "
            f"extra={only_got}, missing={only_want})"
        )


# ---------------------------------------------------------------------------
# per-format drivers: shadow is a dict {id: (id, grp, v)} for hudi
# (keyed upserts) and a list of tuples for delta/iceberg (multisets)
# ---------------------------------------------------------------------------


def run_delta_history(spark, rng: random.Random, root: str) -> int:
    from hive_person_service_spark.sources.delta_log import (
        delta_changes,
        delta_delete,
        delta_scan,
        delta_update,
        delta_write,
    )
    from hive_person_service_spark.sources.delta_stream import _log_versions

    t = f"{root}/delta_{uuid.uuid4().hex[:8]}"
    shadow: list[tuple] = _rows(rng, range(rng.randrange(10, 30)))
    # half the histories enable Change Data Feed: their DELETE/UPDATE
    # commits write cdc actions + _change_data files and the feed reads
    # THOSE; the other half exercises log reconstruction. Both are
    # diffed at history end against a shadow EVENT log.
    cdf = rng.random() < 0.5
    delta_write(
        spark.createDataFrame(shadow, SCHEMA), t,
        configuration=(
            {"delta.enableChangeDataFeed": "true"} if cdf else None
        ),
    )
    history = [(max(_log_versions(t)), sorted(shadow))]
    events: list[tuple] = [(0, "insert", r) for r in shadow]
    n_checks = 1
    _check("delta seed", _scan_rows(delta_scan(spark, t)), sorted(shadow))

    vacuumed: set[str] = set()  # relative paths VACUUM reclaimed
    for _step in range(rng.randrange(3, 7)):
        op = rng.choice(["append", "delete", "update", "overwrite", "vacuum",
                         "optimize"])
        if op == "optimize":
            from hive_person_service_spark.sources.delta_log import (
                delta_optimize,
            )

            delta_optimize(spark, t, target_files=rng.randrange(1, 3))
            # reorganization only: shadow unchanged AND the shadow event
            # log gets nothing -- the feed differential below then pins
            # that dataChange=false removes emit no spurious deletes
            _check("delta optimize", _scan_rows(delta_scan(spark, t)),
                   sorted(shadow))
            history.append((max(_log_versions(t)), sorted(shadow)))
            n_checks += 1
            continue
        if op == "vacuum":
            from hive_person_service_spark.sources.delta_log import (
                delta_vacuum,
            )

            vacuumed |= set(delta_vacuum(spark, t, retain_ms=0))
            # state-preserving for HEAD; no new version
            _check("delta vacuum", _scan_rows(delta_scan(spark, t)),
                   sorted(shadow))
            n_checks += 1
            continue
        if op == "append":
            new = _rows(rng, _fresh_ids(rng, [r[0] for r in shadow],
                                        rng.randrange(3, 10)))
            delta_write(spark.createDataFrame(new, SCHEMA), t)
            shadow = shadow + new
            v = max(_log_versions(t))
            events += [(v, "insert", r) for r in new]
        elif op == "delete":
            k = rng.randrange(2, 5)
            removed = [r for r in shadow if r[0] % k == 0]
            delta_delete(spark, t, f"id % {k} = 0")
            shadow = [r for r in shadow if r[0] % k != 0]
            if removed:
                v = max(_log_versions(t))
                events += [(v, "delete", r) for r in removed]
        elif op == "update":
            cut = float(rng.randrange(100)) / 2.0
            matched = [r for r in shadow if r[2] < cut]
            delta_update(spark, t, f"v < {cut}", {"v": "v + 1000.0"})
            shadow = [
                (i, g, v + 1000.0) if v < cut else (i, g, v)
                for (i, g, v) in shadow
            ]
            if matched:
                # this client executes UPDATE as a DV-delete commit +
                # an append commit (pre-images delete at v-1, post-
                # images insert at v) -- the feed reflects that shape
                v = max(_log_versions(t))
                events += [(v - 1, "delete", r) for r in matched]
                events += [
                    (v, "insert", (i, g, vv + 1000.0))
                    for (i, g, vv) in matched
                ]
        else:
            old = list(shadow)
            shadow = _rows(rng, range(rng.randrange(5, 15)))
            delta_write(spark.createDataFrame(shadow, SCHEMA), t,
                        mode="overwrite")
            v = max(_log_versions(t))
            events += [(v, "delete", r) for r in old]
            events += [(v, "insert", r) for r in shadow]
        _check(f"delta {op}", _scan_rows(delta_scan(spark, t)),
               sorted(shadow))
        history.append((max(_log_versions(t)), sorted(shadow)))
        n_checks += 1

    if not vacuumed:
        # change-feed differential: the full feed (cdc files when CDF
        # is on, reconstruction otherwise) must equal the shadow event
        # log exactly. Vacuumed histories are skipped: reclaimed files
        # legitimately drop their change rows from reconstruction.
        got = sorted(
            (r["_commit_version"], r["_change_type"],
             (r["id"], r["grp"], r["v"]))
            for r in delta_changes(spark, t, starting_version=0).collect()
        )
        _check(
            f"delta feed ({'cdc' if cdf else 'reconstruction'})",
            got,
            sorted(events),
        )
        n_checks += 1

    from hive_person_service_spark.sources.delta_dv import z85_decode
    from hive_person_service_spark.sources.delta_log import _snapshot

    for ver, snap in history:  # time travel over the whole history
        # a version whose snapshot references a vacuumed file must FAIL
        # at scan time (never silently return a partial result); every
        # other version must still read exactly. refs include each add's
        # DV bin path (derived like delta_vacuum derives them) so a
        # version whose parquet survived but whose old DV bin was
        # reclaimed also takes the expected-failure branch
        adds = _snapshot(t, version_as_of=ver)[0]
        refs = set(adds)
        for a in adds.values():
            desc = a.get("deletionVector")
            if desc and desc.get("storageType") == "u":
                raw = desc["pathOrInlineDv"]
                dv_uid = uuid.UUID(bytes=z85_decode(raw[-20:]))
                refs.add(
                    os.path.join(raw[:-20], f"deletion_vector_{dv_uid}.bin")
                )
        if refs & vacuumed:
            try:
                _scan_rows(delta_scan(spark, t, version_as_of=ver))
            except Exception:
                n_checks += 1
                continue
            raise Mismatch(
                f"delta travel v{ver}: reads through vacuumed files "
                f"instead of failing"
            )
        _check(
            f"delta travel v{ver}",
            _scan_rows(delta_scan(spark, t, version_as_of=ver)),
            snap,
        )
        n_checks += 1
    shutil.rmtree(t, ignore_errors=True)
    return n_checks


def run_iceberg_history(spark, rng: random.Random, root: str) -> int:
    from hive_person_service_spark.sources.iceberg import (
        _load_metadata,
        iceberg_alter,
        iceberg_delete,
        iceberg_scan,
        iceberg_update_spec,
        iceberg_write,
    )

    t = f"{root}/ice_{uuid.uuid4().hex[:8]}"
    shadow: list[tuple] = _rows(rng, range(rng.randrange(10, 30)))
    spec = rng.choice(
        [None, [{"name": "grp_p", "transform": "identity", "source": "grp"}]]
    )
    iceberg_write(spark.createDataFrame(shadow, SCHEMA), t,
                  partition_spec=spec)
    base_cols = ("id", "grp", "v")
    history = [(_load_metadata(t)["current-snapshot-id"], sorted(shadow))]
    n_checks = 1
    _check("ice seed", _scan_rows(iceberg_scan(spark, t), base_cols),
           sorted(shadow))

    expired_ids: set[int] = set()
    for _step in range(rng.randrange(3, 7)):
        op = rng.choice(
            ["append", "delete", "overwrite", "spec_evolution", "add_column",
             "expire"]
        )
        if op == "expire":
            from hive_person_service_spark.sources.iceberg import (
                iceberg_expire_snapshots,
            )

            iceberg_expire_snapshots(spark, t, keep_last=rng.randrange(1, 3))
            kept = {
                s["snapshot-id"] for s in _load_metadata(t).get("snapshots", [])
            }
            expired_ids |= {sid for sid, _snap in history if sid not in kept}
            _check("ice expire", _scan_rows(iceberg_scan(spark, t), base_cols),
                   sorted(shadow))
            n_checks += 1
            continue
        if op == "append":
            new = _rows(rng, _fresh_ids(rng, [r[0] for r in shadow],
                                        rng.randrange(3, 10)))
            iceberg_write(spark.createDataFrame(new, SCHEMA), t)
            shadow = shadow + new
        elif op == "delete":
            k = rng.randrange(2, 5)
            iceberg_delete(spark, t, f"id % {k} = 0")
            shadow = [r for r in shadow if r[0] % k != 0]
        elif op == "overwrite":
            shadow = _rows(rng, range(rng.randrange(5, 15)))
            iceberg_write(spark.createDataFrame(shadow, SCHEMA), t,
                          mode="overwrite")
        elif op == "spec_evolution":
            iceberg_update_spec(
                t,
                rng.choice(
                    [
                        [{"name": "id_b", "transform": "bucket[4]",
                          "source": "id"}],
                        [{"name": "grp_p", "transform": "identity",
                          "source": "grp"}],
                        [{"name": "id_i", "transform": "identity",
                          "source": "id"}],
                    ]
                ),
            )  # metadata-only: shadow unchanged
        else:
            iceberg_alter(t, add_columns=[(f"c{uuid.uuid4().hex[:6]}",
                                           "long")])
            # null-backfilled column; base columns unchanged
        if op in ("spec_evolution", "add_column"):
            # metadata-only actions don't commit a snapshot
            _check(f"ice {op}", _scan_rows(iceberg_scan(spark, t), base_cols),
                   sorted(shadow))
            n_checks += 1
            continue
        _check(f"ice {op}", _scan_rows(iceberg_scan(spark, t), base_cols),
               sorted(shadow))
        history.append((_load_metadata(t)["current-snapshot-id"],
                        sorted(shadow)))
        n_checks += 1

    for sid, snap in history:
        if sid in expired_ids:  # must raise the precise not-in-log error
            try:
                _scan_rows(iceberg_scan(spark, t, snapshot_id=sid), base_cols)
            except Exception:
                n_checks += 1
                continue
            raise Mismatch(
                f"ice travel {sid}: expired snapshot read back silently"
            )
        _check(
            f"ice travel {sid}",
            _scan_rows(iceberg_scan(spark, t, snapshot_id=sid), base_cols),
            snap,
        )
        n_checks += 1
    shutil.rmtree(t, ignore_errors=True)
    return n_checks


def run_hudi_history(spark, rng: random.Random, root: str,
                     table_type: str) -> int:
    from hive_person_service_spark.sources.hudi import (
        hudi_compact,
        hudi_delete,
        hudi_scan,
        hudi_timeline,
        hudi_write,
    )

    t = f"{root}/hudi_{table_type}_{uuid.uuid4().hex[:8]}"
    seed = _rows(rng, range(rng.randrange(10, 30)))
    shadow: dict[int, tuple] = {r[0]: r for r in seed}
    hudi_write(spark, t, spark.createDataFrame(seed, SCHEMA),
               record_key="id", table_type=table_type, n_buckets=3)
    history = [(hudi_timeline(t)[-1]["instant"], sorted(shadow.values()))]
    n_checks = 1
    _check(f"hudi-{table_type} seed", _scan_rows(hudi_scan(spark, t)),
           sorted(shadow.values()))

    clean_floor = ""  # earliestCommitToRetain across clean actions
    savepoints: dict[str, list] = {}  # savepointed instant -> snapshot
    for _step in range(rng.randrange(3, 7)):
        ops = ["upsert", "delete", "insert_overwrite", "clean", "savepoint"]
        if table_type == "mor":
            ops.append("compact")
        if savepoints:
            ops.append("restore")
        op = rng.choice(ops)
        if op == "savepoint":
            from hive_person_service_spark.sources.hudi import hudi_savepoint

            inst = hudi_timeline(t)[-1]["instant"]
            hudi_savepoint(t, inst)
            savepoints[inst] = sorted(shadow.values())
            _check(f"hudi-{table_type} savepoint",
                   _scan_rows(hudi_scan(spark, t)), sorted(shadow.values()))
            n_checks += 1
            continue
        if op == "restore":
            from hive_person_service_spark.sources.hudi import hudi_restore

            sp = rng.choice(sorted(savepoints))
            hudi_restore(t, sp)
            shadow = {r[0]: r for r in savepoints[sp]}
            # rolled-back instants are gone: drop them as travel targets
            history = [(i, s) for (i, s) in history if i <= sp]
            savepoints = {i: s for i, s in savepoints.items() if i <= sp}
            _check(f"hudi-{table_type} restore",
                   _scan_rows(hudi_scan(spark, t)), sorted(shadow.values()))
            n_checks += 1
            continue
        if op == "clean":
            from hive_person_service_spark.sources.hudi import hudi_clean

            rcpt = hudi_clean(spark, t, keep_versions=rng.randrange(1, 3))
            clean_floor = max(clean_floor,
                              rcpt["earliest_commit_to_retain"] or "")
            _check(f"hudi-{table_type} clean", _scan_rows(hudi_scan(spark, t)),
                   sorted(shadow.values()))
            n_checks += 1
            continue
        if op == "upsert":
            old = rng.sample(sorted(shadow), k=min(len(shadow),
                                                   rng.randrange(1, 6)))
            new_ids = _fresh_ids(rng, shadow, rng.randrange(0, 4))
            batch = _rows(rng, old + new_ids)
            hudi_write(spark, t, spark.createDataFrame(batch, SCHEMA),
                       record_key="id", table_type=table_type)
            for r in batch:
                shadow[r[0]] = r
        elif op == "delete":
            # delete at most half so the table never empties
            victims = rng.sample(sorted(shadow),
                                 k=rng.randrange(1, max(2, len(shadow) // 2)))
            hudi_delete(spark, t, [str(i) for i in victims])
            for i in victims:
                shadow.pop(i)
        elif op == "insert_overwrite":
            batch = _rows(rng, range(rng.randrange(5, 15)))
            hudi_write(spark, t, spark.createDataFrame(batch, SCHEMA),
                       record_key="id", table_type=table_type,
                       mode="insert_overwrite")
            shadow = {r[0]: r for r in batch}
        else:
            hudi_compact(spark, t)  # state-preserving
        _check(f"hudi-{table_type} {op}", _scan_rows(hudi_scan(spark, t)),
               sorted(shadow.values()))
        history.append((hudi_timeline(t)[-1]["instant"],
                        sorted(shadow.values())))
        n_checks += 1

    for instant, snap in history:
        if clean_floor and instant < clean_floor and instant not in savepoints:
            # (savepointed instants stay readable past the boundary --
            # the cleaner pinned their files)
            # before the retention boundary the guard must REFUSE --
            # reclaimed slices make the old snapshot unreconstructable
            try:
                _scan_rows(hudi_scan(spark, t, as_of=instant))
            except ValueError as exc:
                if "clean retention boundary" not in str(exc):
                    raise Mismatch(
                        f"hudi-{table_type} travel {instant}: wrong error "
                        f"{exc}"
                    ) from exc
                n_checks += 1
                continue
            raise Mismatch(
                f"hudi-{table_type} travel {instant}: read before the clean "
                f"boundary succeeded silently"
            )
        _check(
            f"hudi-{table_type} travel {instant}",
            _scan_rows(hudi_scan(spark, t, as_of=instant)),
            snap,
        )
        n_checks += 1
    shutil.rmtree(t, ignore_errors=True)
    return n_checks


def run_hive_acid_history(spark, rng: random.Random, root: str,
                          variant: str) -> int:
    """Random Hive ACID history in one of four layout variants --
    ``flat`` (full-ACID, unpartitioned), ``part`` (full-ACID,
    partitioned by grp), ``orig`` (pre-ACID original files converted in
    place, then ACID DML on top), ``mm`` (insert-only transactional).
    Every action's snapshot scan is compared against a driver-side
    shadow replay; partitioned variants also compare a randomly chosen
    PRUNED scan against the filtered shadow after every action."""
    from hive_person_service_spark.sources.hive_acid import (
        _list_dirs,
        _partitions,
        hive_acid_compact,
        hive_acid_convert,
        hive_acid_delete,
        hive_acid_insert,
        hive_acid_insert_only,
        hive_acid_scan,
        hive_acid_seed_originals,
        hive_acid_update,
    )

    t = f"{root}/acid_{variant}_{uuid.uuid4().hex[:8]}"
    part_col = "grp" if variant == "part" else None
    shadow: list[tuple] = _rows(rng, range(rng.randrange(10, 30)))
    seed_df = spark.createDataFrame(shadow, SCHEMA)
    if variant == "orig":
        hive_acid_seed_originals(spark, t, seed_df, key_col="id",
                                 n_buckets=rng.randrange(1, 4))
        hive_acid_convert(t)
    elif variant == "mm":
        hive_acid_insert_only(spark, t, seed_df, key_col="id",
                              n_buckets=rng.randrange(1, 4))
    else:
        hive_acid_insert(spark, t, seed_df, key_col="id",
                         n_buckets=rng.randrange(1, 4),
                         partition_col=part_col)
    n_checks = 0

    def check(tag: str) -> None:
        nonlocal n_checks
        _check(f"acid-{variant} {tag}",
               _scan_rows(hive_acid_scan(spark, t)), sorted(shadow))
        n_checks += 1
        if variant == "part":
            g = f"g{rng.randrange(4)}"
            pruned = hive_acid_scan(
                spark, t, partition_filters=[("grp", "=", g)]
            )
            want = sorted(r for r in shadow if r[1] == g)
            # the lossless-hint contract: pruning never drops a
            # qualifying row (the caller's predicate still applies)
            got = sorted(
                tuple(r[c] for c in ("id", "grp", "v"))
                for r in pruned.where(f"grp = '{g}'").collect()
            )
            _check(f"acid-part pruned {tag}", got, want)
            n_checks += 1

    check("seed")
    for _step in range(rng.randrange(3, 7)):
        if variant == "mm":
            ops = ["insert", "compact_minor", "compact_major", "abort"]
        else:
            ops = ["insert", "delete", "update",
                   "compact_minor", "compact_major", "abort"]
        op = rng.choice(ops)
        if op == "abort":
            # publish a delta, then abort its write id: the scan must
            # look exactly as if the commit never happened
            from hive_person_service_spark.sources.hive_acid import (
                hive_acid_abort,
            )

            doomed = _rows(rng, _fresh_ids(rng, [r[0] for r in shadow],
                                           rng.randrange(2, 6)))
            df = spark.createDataFrame(doomed, SCHEMA)
            if variant == "mm":
                wid = hive_acid_insert_only(spark, t, df, key_col="id")
            else:
                wid = hive_acid_insert(spark, t, df, key_col="id",
                                       partition_col=part_col)
            hive_acid_abort(t, wid)
            check("abort")
            continue
        if op == "insert":
            new = _rows(rng, _fresh_ids(rng, [r[0] for r in shadow],
                                        rng.randrange(3, 10)))
            df = spark.createDataFrame(new, SCHEMA)
            if variant == "mm":
                hive_acid_insert_only(spark, t, df, key_col="id")
            else:
                hive_acid_insert(spark, t, df, key_col="id",
                                 partition_col=part_col)
            shadow = shadow + new
        elif op == "delete":
            k = rng.randrange(2, 5)
            hive_acid_delete(spark, t, f"row.id % {k} = 0")
            shadow = [r for r in shadow if r[0] % k != 0]
        elif op == "update":
            cut = float(rng.randrange(100)) / 2.0
            hive_acid_update(spark, t, f"row.v < {cut}",
                             {"v": "v + 1000.0"}, key_col="id")
            shadow = [
                (i, g, v + 1000.0) if v < cut else (i, g, v)
                for (i, g, v) in shadow
            ]
        elif op == "compact_minor":
            # only meaningful when some directory has >=1 delta; a
            # tier with <2 dirs is an explicit no-op result
            from hive_person_service_spark.sources.hive_acid import (
                _aborted_wids,
            )

            ab = _aborted_wids(t)
            has_deltas = any(
                _list_dirs(p, ab)[2] or _list_dirs(p, ab)[3]
                for p in _partitions(t).values()
            )
            if not has_deltas:
                continue
            hive_acid_compact(spark, t, mode="minor")
        else:
            hive_acid_compact(spark, t, mode="major")
        check(op)
    shutil.rmtree(t, ignore_errors=True)
    return n_checks


def main() -> int:
    argv = list(sys.argv[1:])
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        del argv[i : i + 2]
    n_hist = int(argv[0]) if argv else 200
    seed = int(argv[1]) if len(argv) > 1 else 8

    from hive_person_service_spark.session import get_spark

    spark = get_spark(app_name="fuzz_lake", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="fuzz_lake_")
    rng = random.Random(seed)
    t0 = time.time()
    n_checks = 0
    failures: list[dict] = []
    fmts = [
        "delta", "iceberg", "hudi-cow", "hudi-mor",
        "acid-flat", "acid-part", "acid-orig", "acid-mm",
    ]
    per_fmt = {f: 0 for f in fmts}
    for h in range(n_hist):
        fmt = fmts[h % len(fmts)]
        hrng = random.Random(rng.randrange(2**63))
        try:
            if fmt == "delta":
                n_checks += run_delta_history(spark, hrng, root)
            elif fmt == "iceberg":
                n_checks += run_iceberg_history(spark, hrng, root)
            elif fmt.startswith("hudi"):
                n_checks += run_hudi_history(spark, hrng, root,
                                             fmt.split("-")[1])
            else:
                n_checks += run_hive_acid_history(spark, hrng, root,
                                                  fmt.split("-")[1])
            per_fmt[fmt] += 1
        except Mismatch as m:
            failures.append({"history": h, "format": fmt, "err": str(m)})
            print(f"FAIL history {h} [{fmt}]: {m}")
        except Exception as e:  # client crash = failure too
            failures.append(
                {"history": h, "format": fmt,
                 "err": f"{type(e).__name__}: {e}"}
            )
            print(f"FAIL history {h} [{fmt}]: {type(e).__name__}: {e}")
        if (h + 1) % 20 == 0:
            print(
                f"  {h + 1}/{n_hist} histories, {n_checks} compares, "
                f"{len(failures)} failures, {time.time() - t0:.0f}s",
                flush=True,
            )
    shutil.rmtree(root, ignore_errors=True)
    report = {
        "tool": "fuzz_lake",
        "seed": seed,
        "n_histories": n_hist,
        "histories_per_format": per_fmt,
        "n_compares": n_checks,
        "n_failures": len(failures),
        "failures": failures,
        "secs": round(time.time() - t0, 1),
    }
    print(json.dumps({k: report[k] for k in
                      ("n_histories", "n_compares", "n_failures", "secs")}))
    if json_out:
        with open(json_out, "w") as fh:
            json.dump(report, fh, indent=1)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
