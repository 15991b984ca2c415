#!/usr/bin/env python
"""k ~ sqrt(n) sweep for SemDeDup / IVF search (VERDICT.md r7 #2).

The declared queries bind the fixture's per-label codebook (k=10),
which is honest for correctness but pins the within-cluster block
cost at O((n/10)^2) — at x10 data that grew SemDeDup's wall 4.8x
(SCALE_STRESS.json).  Production SemDeDup (Abbas et al. 2023) grows
k with the corpus (k ~ sqrt(n)), flattening block cost to ~O(n).
This script MEASURES that claim on the same scale corpus:

  for tier in (x1 n=2000, x10 n=20000):
      train a k=round(sqrt(n)) codebook with kmeans_train(k=...)
      (deterministic first-k-vec_id seeds, Lloyd iterations)
      run semantic_dedup_frame / ivf_search_frame with that codebook
      — the IDENTICAL plans the declared queries execute, only the
      codebook literal differs

Walls (min of N passes) merge into SCALE_STRESS.json under
``llm_semantic_dedup_ksqrt`` / ``llm_ivf_search_ksqrt`` so the
x1->x10 ratios sit next to the fixture-fixed-k rows they refute.
Train wall is recorded separately (`train_sec`) — index build and
search are different budget lines in any ANN deployment.

Determinism gate: each tier's drop/search result is collected twice
and must be identical (count + checksum) — a nondeterministic kernel
would invalidate the measurement.

Usage: python scripts/k_sweep.py [passes]   (default 2)
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparketl import session
from sparketl.operators.llm import (
    _centroids,
    ivf_search_frame,
    kmeans_train,
    semantic_dedup_frame,
)
from sparketl.operators.llm_ann import multiprobe_frame
from sparketl.tables import load_tables

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def checksum(df) -> tuple[int, int]:
    from pyspark.sql import functions as F

    r = df.agg(
        F.count("*").alias("n"),
        F.expr(f"bit_xor(xxhash64({', '.join(df.columns)}))").alias("h"),
    ).collect()[0]
    return int(r.n), int(r.h or 0)


def main() -> None:
    passes = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    from scripts.stress_common import merge_scale_stress, warm_spark

    spark = session.get_spark("sparketl-k-sweep")
    warm_spark(spark)

    # Cross-validation gate: at the declared k=10 codebook the HOF
    # argmin and the _np_assign kernel must produce checksum-identical
    # frames — the bit-exactness discipline, verified, not asserted.
    xv_dir = os.path.join(REPO, ".scale", "x1")
    cens10 = _centroids(spark, xv_dir)
    for name, fn in (
        ("semantic_dedup", semantic_dedup_frame),
        ("ivf_search", ivf_search_frame),
    ):
        a = checksum(fn(spark, xv_dir, cens10))
        b = checksum(fn(spark, xv_dir, cens10, np_assign=True))
        assert a == b, f"HOF vs numpy assignment diverge for {name}: {a} != {b}"
        print(f"xval {name}: HOF == numpy assignment ({a[0]} rows)", file=sys.stderr)

    results: dict[str, dict] = {}
    for tag in ("x1", "x10"):
        sf_dir = os.path.join(REPO, ".scale", tag)
        n = load_tables(spark, sf_dir)["embeddings"].count()
        k = round(math.sqrt(n))
        session.reset(spark)
        t0 = time.perf_counter()
        cens, iters_run = kmeans_train(spark, sf_dir, iters=3, k=k, np_assign=True)
        train_sec = round(time.perf_counter() - t0, 3)
        k_eff = len(cens)  # Lloyd may empty clusters
        for name, frame_fn in (
            ("llm_semantic_dedup_ksqrt", semantic_dedup_frame),
            ("llm_ivf_search_ksqrt", ivf_search_frame),
        ):
            walls, sums = [], []
            for _ in range(passes):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                sums.append(checksum(frame_fn(spark, sf_dir, cens, np_assign=True)))
                walls.append(round(time.perf_counter() - t0, 3))
            assert len(set(sums)) == 1, f"nondeterministic {name}@{tag}: {sums}"
            # one reference pass on the interpreted-HOF assignment path
            # (the declared queries' plan shape) for the comparison row
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            hof_sum = checksum(frame_fn(spark, sf_dir, cens))
            hof_wall = round(time.perf_counter() - t0, 3)
            assert hof_sum == sums[0], f"HOF/np diverge {name}@{tag}"
            results.setdefault(name, {})[tag] = {
                "wall_sec": min(walls),
                "walls": walls,
                "wall_sec_hof_assign": hof_wall,
                "k": k,
                "k_effective": k_eff,
                "n": n,
                "train_sec": train_sec,
                "train_iters": iters_run,
                "rows": sums[0][0],
            }
            print(
                f"{tag:4} {name:28} k={k_eff:4} n={n:6} "
                f"wall={min(walls):6.3f}s hof={hof_wall:.2f}s "
                f"train={train_sec:.2f}s rows={sums[0][0]}",
                file=sys.stderr,
            )

    # Sibling claim to k ~ sqrt(n): multiprobe LSH's production knob
    # is planes ~ log2(n / occupancy) — constant bucket occupancy =>
    # constant per-query candidate volume.  The declared query's
    # fixed 8 planes measured 8.4x wall for 10x data (SCALE_STRESS);
    # occupancy-preserving planes should flatten it.
    for tag in ("x1", "x10"):
        sf_dir = os.path.join(REPO, ".scale", tag)
        n = load_tables(spark, sf_dir)["embeddings"].count()
        planes = max(1, round(math.log2(n / 8)))
        walls, sums = [], []
        for _ in range(passes):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            sums.append(checksum(multiprobe_frame(spark, sf_dir, n_planes=planes)))
            walls.append(round(time.perf_counter() - t0, 3))
        assert len(set(sums)) == 1, f"nondeterministic multiprobe@{tag}: {sums}"
        results.setdefault("llm_ann_multiprobe_logn", {})[tag] = {
            "wall_sec": min(walls),
            "walls": walls,
            "n_planes": planes,
            "n": n,
            "rows": sums[0][0],
        }
        print(
            f"{tag:4} llm_ann_multiprobe_logn      planes={planes:3} n={n:6} "
            f"wall={min(walls):6.3f}s rows={sums[0][0]}",
            file=sys.stderr,
        )

    merge_scale_stress(REPO, results, passes)

    print("| query | x1 s | x10 s | ratio | x10 HOF s | x1 k | x10 k | x10 train s |")
    print("| --- | --- | --- | --- | --- | --- | --- | --- |")
    for name, rec in results.items():
        r1, r10 = rec["x1"], rec["x10"]
        ratio = round(r10["wall_sec"] / r1["wall_sec"], 2)
        if "n_planes" in r10:
            print(
                f"| {name} | {r1['wall_sec']:.2f} | {r10['wall_sec']:.2f} | "
                f"{ratio} | — | planes={r1['n_planes']} | "
                f"planes={r10['n_planes']} | — |"
            )
            continue
        print(
            f"| {name} | {r1['wall_sec']:.2f} | {r10['wall_sec']:.2f} | "
            f"{ratio} | {r10['wall_sec_hof_assign']:.2f} | "
            f"{r1['k_effective']} | {r10['k_effective']} | "
            f"{r10['train_sec']:.2f} |"
        )


if __name__ == "__main__":
    main()
