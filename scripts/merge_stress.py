#!/usr/bin/env python
"""MERGE per-batch cost measurement (round 9, VERDICT r8 #4).

Applies TWO successive, different change feeds to a stored partitioned
orders snapshot at a scale tier and records each apply's wall — the
claim under test is that per-batch cost is O(feed + touched
partitions), INDEPENDENT of how many feeds were applied before (batch
2 lands on batch 1's output, not on the pristine snapshot).  Also
re-asserts the fixed point live at scale: batch 1 re-applied must
leave the table byte-identical.

Feeds are key-arithmetic like the declared query's (deterministic, no
rand): batch 1 = sink_merge_upsert's (D %31 / U %7 +100 / I 'O' %13);
batch 2 = D %41 / U %17 +55 over the MERGED table, I 'O' %19 — ops
that hit batch-1 outputs (e.g. keys divisible by 7*17 are repriced
twice) so composition, not just disjoint writes, is measured.

Results merge into SCALE_STRESS.json under ``merge_batch1`` /
``merge_batch2`` / ``merge_reapply_fixed_point`` and print a markdown
row for SCALING.md.

Usage: python scripts/merge_stress.py [tier] [passes]
       (defaults: x10 2 — sf1-equivalent facts, 1.5M orders)
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from sparketl import manifest, session
from sparketl.operators.etl import build_merge_feed, merge_apply

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _feed2(target, orders):
    """Second, different batch built over the MERGED table — the same
    feed shape with other moduli (no duplicated D/U/I logic)."""
    return build_merge_feed(
        target, orders, d_mod=41, u_mod=17, bump=55, i_mod=19
    )


def main() -> None:
    args = sys.argv[1:]
    tier = args[0] if args else "x10"
    passes = int(args[1]) if len(args) > 1 else 2
    sf_dir = os.path.join(REPO, ".scale", tier)
    from scripts.stress_common import merge_scale_stress, warm_spark

    spark = session.get_spark("sparketl-merge-stress")
    warm_spark(spark)
    from sparketl.tables import table

    orders = table(spark, sf_dir, "orders")
    path = os.path.join(REPO, ".scale", "_merge_stage", tier)
    walls: dict[str, list[float]] = {"batch1": [], "batch2": []}
    fixed_point = True
    for _ in range(passes):
        shutil.rmtree(path, ignore_errors=True)
        t0 = orders.where(F.col("o_orderstatus") == "F")
        t0.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
        feed1 = build_merge_feed(t0, orders).localCheckpoint(eager=True)
        n_feed1 = feed1.count()
        w0 = time.perf_counter()
        merge_apply(spark, path, feed1, "o_orderkey", "o_orderpriority")
        walls["batch1"].append(round(time.perf_counter() - w0, 3))

        t1 = manifest.read(spark, path)
        feed2 = _feed2(t1, orders).localCheckpoint(eager=True)
        n_feed2 = feed2.count()
        w0 = time.perf_counter()
        merge_apply(spark, path, feed2, "o_orderkey", "o_orderpriority")
        walls["batch2"].append(round(time.perf_counter() - w0, 3))

        # fixed point at scale: re-apply feed2, table must not change
        before = (
            manifest.read(spark, path)
            .agg(
                F.count("*").alias("n"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("s"),
            )
            .collect()[0]
        )
        merge_apply(spark, path, feed2, "o_orderkey", "o_orderpriority")
        after = (
            manifest.read(spark, path)
            .agg(
                F.count("*").alias("n"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("s"),
            )
            .collect()[0]
        )
        fixed_point = fixed_point and tuple(before) == tuple(after)

    results = {
        "merge_batch1": {tier: {"wall_sec": min(walls["batch1"]),
                                "walls": walls["batch1"], "feed_rows": n_feed1}},
        "merge_batch2": {tier: {"wall_sec": min(walls["batch2"]),
                                "walls": walls["batch2"], "feed_rows": n_feed2}},
        "merge_reapply_fixed_point": {tier: {"ok": fixed_point}},
    }
    merge_scale_stress(REPO, results, passes)
    shutil.rmtree(path, ignore_errors=True)
    print("| batch | feed rows | wall s (min of passes) |")
    print("| --- | --- | --- |")
    print(f"| 1 (on snapshot) | {n_feed1} | {min(walls['batch1']):.2f} |")
    print(f"| 2 (on batch-1 output) | {n_feed2} | {min(walls['batch2']):.2f} |")
    print(f"fixed_point_reapply_ok={fixed_point}")
    if not fixed_point:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
