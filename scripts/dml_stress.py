#!/usr/bin/env python
"""DML STATEMENT-path cost at a scale decade (round 13, VERDICT r12
#6): run sql_delete / sql_update / sql_merge_into STATEMENT shapes —
the full front-door path (masked-text parse → predicate splice →
copy-on-write into new partition directories and a manifest publish,
``sparketl.manifest``) — against a partitioned target
built from the x-tier orders and record BYTES WRITTEN vs table size,
proving pruned-CoW IO ∝ touched partitions at a decade up.

merge_apply (the engine face under MERGE) was measured in r9
(merge_batch1/2 lanes); this measures the STATEMENT route on top of
it: statement parsing, the DELETE/UPDATE predicate→touched-partition
derivation, and the versioned write-back — i.e. everything a pasted
Trino script actually pays.

Each statement's predicate confines affected rows to ONE of the five
o_orderpriority partitions, so the honest-pruning claim is
bytes_written ≈ that partition's size (plus the parquet rewrite
delta), NOT the table's.  Bytes are measured by snapshotting
{data file: (mtime, size)} under the table root before/after each
statement and summing new/changed file sizes; table and partition
sizes count the current version's live files (the table manifest),
not the superseded directories kept beside them until the next
publish.

Results merge into SCALE_STRESS.json under ``sql_delete_stmt`` /
``sql_update_stmt`` / ``sql_merge_stmt`` and print markdown rows for
SCALING.md.

Usage: python scripts/dml_stress.py [tier] [passes]
       (defaults: x10 2 — sf1-equivalent facts, 1.5M orders)
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

STATEMENTS = {
    "sql_delete_stmt": (
        "delete from dml_big where o_orderpriority = '5-LOW' "
        "and o_orderkey % 3 = 0"
    ),
    "sql_update_stmt": (
        "update dml_big set o_totalprice = o_totalprice + 1 "
        "where o_orderpriority = '1-URGENT' and o_orderkey % 2 = 0"
    ),
    "sql_merge_stmt": (
        "merge into dml_big as t using "
        "(select o_orderkey as k, o_totalprice as p from orders "
        " where o_orderpriority = '2-HIGH' and o_orderkey % 11 = 0) as s "
        "on t.o_orderkey = s.k "
        "when matched and s.p > 100000 then delete "
        "when matched then update set o_totalprice = t.o_totalprice + 5"
    ),
}


def _snapshot(root: str) -> dict[str, tuple[float, int]]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.startswith(("_", ".")):
                continue  # manifest, markers, checksums: not data
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[p] = (st.st_mtime_ns, st.st_size)
    return out


def _bytes_written(before: dict, after: dict) -> int:
    return sum(
        sz for p, (mt, sz) in after.items() if before.get(p) != (mt, sz)
    )


def _partition_bytes(root: str) -> dict[str, int]:
    """Bytes of the current version's data files per partition."""
    from sparketl import manifest

    out: dict[str, int] = {}
    for rel, (size, _mtime) in manifest.files(manifest.load(root)).items():
        part = os.path.dirname(rel) or "."
        out[part] = out.get(part, 0) + size
    return out


def main() -> None:
    args = sys.argv[1:]
    tier = args[0] if args else "x10"
    passes = int(args[1]) if len(args) > 1 else 2
    sf_dir = os.path.join(REPO, ".scale", tier)

    from scripts.stress_common import merge_scale_stress, warm_spark
    from sparketl import dialect, dml, session
    from sparketl.tables import load_tables

    spark = session.get_spark("sparketl-dml-stress")
    warm_spark(spark)
    load_tables(spark, sf_dir)

    base = os.path.join(REPO, ".scale", "_dml_stage", tier)
    results: dict[str, dict] = {}
    rows: list[str] = []
    walls: dict[str, list[float]] = {k: [] for k in STATEMENTS}
    for p in range(passes):
        shutil.rmtree(base, ignore_errors=True)
        dml.set_base_dir(spark, base)
        dialect.sql(spark, "drop table if exists dml_big")
        dialect.sql(
            spark,
            "create table dml_big "
            "with (partitioned_by = array['o_orderpriority']) as "
            "select o_orderkey, o_custkey, o_totalprice, o_orderdate, "
            "o_orderpriority from orders",
        )
        tpath = dml.table_path(spark, "dml_big")
        pbytes = _partition_bytes(tpath)
        table_bytes = sum(pbytes.values())
        n_parts = sum(1 for k in pbytes if k.startswith("o_orderpriority="))
        for name, stmt in STATEMENTS.items():
            before = _snapshot(tpath)
            w0 = time.perf_counter()
            n = dialect.sql(spark, stmt).collect()[0][0]
            wall = round(time.perf_counter() - w0, 3)
            written = _bytes_written(before, _snapshot(tpath))
            walls[name].append(wall)
            if p == passes - 1:
                results[name] = {
                    tier: {
                        "wall_sec": min(walls[name]),
                        "walls": walls[name],
                        "rows_affected": int(n),
                        "bytes_written": written,
                        "table_bytes": table_bytes,
                        "write_fraction": round(written / table_bytes, 4),
                        "touched_partitions": 1,
                        "total_partitions": n_parts,
                    }
                }
                rows.append(
                    f"| {name} | {n} | {min(walls[name]):.2f} | "
                    f"{written / 1e6:.1f} | {table_bytes / 1e6:.1f} | "
                    f"{written / table_bytes:.3f} |"
                )
    merge_scale_stress(REPO, results, passes)
    shutil.rmtree(base, ignore_errors=True)
    print("| statement | rows | wall s | MB written | table MB | frac |")
    print("| --- | --- | --- | --- | --- | --- |")
    for r in rows:
        print(r)
    # the honest-pruning assertion: each statement touches 1 of 5
    # partitions, so bytes written must stay well under half the table
    for name, rec in results.items():
        frac = rec[tier]["write_fraction"]
        if frac > 0.5:
            raise SystemExit(
                f"{name}: wrote {frac:.0%} of the table for a "
                "single-partition statement — pruning broken"
            )


if __name__ == "__main__":
    main()
