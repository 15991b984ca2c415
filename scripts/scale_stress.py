#!/usr/bin/env python
"""Scale-stress the heavy dedup/ANN lane (VERDICT.md r6 next-round #1).

Runs each heavy-lane query against the generated 1x and 10x
(sf1-equivalent) corpora from gen_scale_corpus.py, recording per query:
wall seconds (min of N passes), and — from the Spark UI REST API,
enabled for this session only — per-run shuffle write bytes, shuffle
read bytes, and memory+disk spill deltas summed over the stages the
run created.  Growth ratio = wall(x10)/wall(x1); for a near-linear
operator at 10x data it should sit near or below 10 (below, when fixed
per-job overhead dominates the x1 wall).  Superlinear entries are the
bugs this script exists to find.

Output: SCALE_STRESS.json + a markdown table on stdout (pasted into
SCALING.md).

Usage: python scripts/scale_stress.py [passes]   (default 2)
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparketl import registry, session
from sparketl.tables import load_tables

HEAVY = [
    "llm_dedup_exact",
    "llm_dedup_minhash_lsh",
    "llm_dedup_ngram_jaccard",
    "llm_dedup_ngram_dfcap",
    "llm_dedup_simhash",
    "llm_dedup_components",
    "llm_dedup_apply",
    "llm_dedup_bloom_prefilter",
    "llm_dedup_survivorship",
    "llm_span_dedup",
    "llm_similarity_ann_lsh",
    "llm_similarity_ann_multiprobe",
    "llm_ivf_centroids",
    "llm_ivf_search",
    "llm_ivf_search_nprobe",
    "llm_pq_codes",
    "llm_pq_adc_search",
    "llm_semantic_dedup",
    "llm_kmeans_iterate",
    "llm_quality_classifier",
]

#: the sub-quadratic family — operators whose work grows ~linearly in
#: corpus size by design (signature/bitmap/narrow-map/broadcast-bounded
#: plans).  The --x100 tier runs THESE over x10 -> x100 for a second
#: decade of evidence; the pair-volume-bound family (jaccard/dfcap,
#: ann buckets, semantic dedup at fixture-fixed k) is excluded because
#: its growth law is the candidate count, already characterized at x10.
LINEAR = [
    "llm_dedup_exact",
    "llm_dedup_bloom_prefilter",
    "llm_dedup_simhash",
    "llm_dedup_minhash_lsh",
    "llm_span_dedup",
    "llm_quality_classifier",
    "llm_ivf_centroids",
    "llm_kmeans_iterate",
    "llm_pq_codes",
]

#: the relational + event-time core (VERDICT.md r7 #1) — run with
#: ``--rel`` against a ``gen_scale_corpus.py --rel`` corpus, where
#: customer/orders/lineitem/events are generated at x1 = sf0.1 row
#: counts and x10 = sf1 (6M lineitem).  Covers the reference's heart:
#: TPC-H scan→join→agg shapes, windows, sessionization, funnel/cohort.
RELATIONAL = [
    "flagship_q1_pricing_summary",
    "tpch_q3_shape",
    "tpch_q5_local_supplier",
    "tpch_q9_product_profit",
    "tpch_q13_cust_distribution",
    "tpch_q18_large_orders",
    "tpch_q21_waiting_supplier",
    "join_asof",
    "join_skew_salted",
    "agg_checksum",
    "agg_cube_rollup",
    "exact_percentile_median",
    "sort_global_topn",
    "win_topk_per_group",
    "win_sliding_frames",
    "stream_session_window",
    "stream_stateful_sessions",
    "funnel_conversion",
    "retention_cohort",
    # round 9 (VERDICT r8 #6): grouping-sets, a set-op, and the two
    # newest window/ETL shapes join the measured lane
    "agg_grouping_sets",
    "set_except_all",
    "win_range_interval",
    "etl_scd2_dimension",
    # round 9 late: the query-shape additions (#150-#152) — recursion
    # depth grows a level at x10 (5-digit custkeys), gap-fill spine is
    # |users| x |days|, pivot is the two-level counter aggregate
    "cte_recursive_hierarchy",
    "reshape_pivot",
    "ts_gap_fill",
    # round 9 final: window navigation (#154-#155) and the rollup
    # cascade (#157) — per-user ordered passes over events and the
    # two-level partial aggregation
    "win_locf_fill",
    "win_frame_exclude",
    "ts_rollup_cascade",
    "win_groups_frame",
    # round 10 (VERDICT r9 #2/#5): the graded EXCLUDE GROUP/TIES pair
    # and the widened GROUPS bounds — same per-user ordered pass
    "win_frame_exclude_group",
    "win_frame_exclude_ties",
    "win_groups_frame_bounds",
    "win_groups_exclude",
    # round 11: the mergeable percentile sketch (bounded map state,
    # map-side combinable bucket counts) and the PERMUTE window face
    "approx_pctl_sketch_merge",
    "row_pattern_permute",
    # round 12: PERMUTE under SKIP PAST LAST ROW — the greedy
    # non-overlap chain as a partition-level mapInPandas kernel over
    # candidates (one Python call per Spark partition, not per group)
    "row_pattern_permute_pastlast",
]

#: relational third decade (``--rel --x100``): the sub-lane run over
#: x10 -> x100 (6M -> 60M lineitem, 1M -> 10M events) — scan->agg,
#: join, window, sessionization and the md5 checksum, the shapes whose
#: growth law should stay ~linear at any scale.
REL_X100 = [
    "flagship_q1_pricing_summary",
    "tpch_q3_shape",
    "tpch_q18_large_orders",
    "join_asof",
    "agg_checksum",
    "exact_percentile_median",
    "win_topk_per_group",
    "stream_session_window",
    # round 9: the new lane shapes ride the third decade too
    "agg_grouping_sets",
    "etl_scd2_dimension",
    # round 9 late: recursion gains another depth level at x100
    # (6-digit custkeys); gap-fill spine reaches 4.5M cells
    "cte_recursive_hierarchy",
    "ts_gap_fill",
    # round 9 final: the LOCF window pass at 10M events and the rollup
    # cascade's flatness claim get a third decade
    "win_locf_fill",
    "ts_rollup_cascade",
    # round 11: the sketch's bounded-state claim rides the third decade
    "approx_pctl_sketch_merge",
]


def api(spark, path: str):
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}/{path}") as r:
        return json.load(r)


def stage_totals(spark) -> dict[str, int]:
    tot = {"shuffle_write": 0, "shuffle_read": 0, "spill": 0, "stages": 0}
    for st in api(spark, "stages?status=complete"):
        tot["shuffle_write"] += st.get("shuffleWriteBytes", 0)
        tot["shuffle_read"] += st.get("shuffleReadBytes", 0)
        tot["spill"] += st.get("memoryBytesSpilled", 0) + st.get(
            "diskBytesSpilled", 0
        )
        tot["stages"] += 1
    return tot


def mb(b: int) -> float:
    return round(b / 1e6, 2)


def main() -> None:
    # usage: scale_stress.py [passes] [query-name ...] — names restrict
    # the lane (re-measuring after a fix) and MERGE into the existing
    # SCALE_STRESS.json instead of replacing it.
    args = sys.argv[1:]
    x100 = "--x100" in args
    if x100:
        args.remove("--x100")
    rel = "--rel" in args
    if rel:
        args.remove("--rel")
    passes = int(args.pop(0)) if args and args[0].isdigit() else 2
    if rel:
        base = REL_X100 if x100 else RELATIONAL
    else:
        base = LINEAR if x100 else HEAVY
    if args:
        # validate every name against the lane — a typo must be an
        # error, not a silently-empty lane that exits 0 (round-7 review)
        unknown = [a for a in args if a not in base]
        if unknown:
            print(
                f"error: unknown lane queries {unknown}; lane is {base}",
                file=sys.stderr,
            )
            raise SystemExit(2)
        lane = [n for n in base if n in args]
    else:
        lane = list(base)
    tags = ("x10", "x100") if x100 else ("x1", "x10")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    registry.load_all_modules()
    session.LOCAL_BUILD_CONFS = {
        **session.LOCAL_BUILD_CONFS,
        "spark.ui.enabled": "true",
        "spark.ui.retainedStages": "20000",
    }
    from scripts.stress_common import warm_spark

    spark = session.get_spark("sparketl-scale-stress")
    warm_spark(spark)

    results: dict[str, dict] = {}
    for tag in tags:
        sf_dir = os.path.join(repo, ".scale", tag)
        for name in lane:
            walls = []
            metrics = None
            for p in range(passes):
                # every pass pays every shared subtree exactly once:
                # the session's memos and cached frames.  Without this
                # the min-of-passes for llm_dedup_components / the ivf
                # family is a memo hit, not a standalone measurement.
                session.reset(spark)
                spark.catalog.clearCache()
                before = stage_totals(spark)
                t0 = time.perf_counter()
                try:
                    registry.QUERIES[name](spark, sf_dir).collect()
                    walls.append(round(time.perf_counter() - t0, 3))
                except Exception as e:  # noqa: BLE001
                    print(f"# ERROR {tag} {name}: {e}", file=sys.stderr)
                    walls.append(-1.0)
                    break
                after = stage_totals(spark)
                if p == 0:
                    metrics = {
                        k: after[k] - before[k]
                        for k in ("shuffle_write", "shuffle_read", "spill", "stages")
                    }
            spark.catalog.clearCache()
            ok = [w for w in walls if w >= 0]
            results.setdefault(name, {})[tag] = {
                "wall_sec": min(ok) if ok else -1.0,
                "walls": walls,
                **(metrics or {}),
            }
            print(
                f"{tag:4} {name:32} {min(ok) if ok else -1:7.3f}s "
                f"sw={mb((metrics or {}).get('shuffle_write', 0))}MB "
                f"spill={mb((metrics or {}).get('spill', 0))}MB",
                file=sys.stderr,
            )

    rows = []
    ratio_key = "wall_ratio_x100" if x100 else "wall_ratio"
    for name in lane:
        r1, r10 = results[name][tags[0]], results[name][tags[1]]
        ratio = (
            round(r10["wall_sec"] / r1["wall_sec"], 2)
            if r1["wall_sec"] > 0 and r10["wall_sec"] > 0
            else None
        )
        results[name][ratio_key] = ratio
        rows.append(
            f"| {name} | {r1['wall_sec']:.2f} | {r10['wall_sec']:.2f} | "
            f"{ratio if ratio is not None else 'ERR'} | "
            f"{mb(r1.get('shuffle_write', 0))} | "
            f"{mb(r10.get('shuffle_write', 0))} | "
            f"{mb(r10.get('spill', 0))} |"
        )

    # deep-merge into the shared artifact (scripts/stress_common.py —
    # refreshes tier records, recomputes every cross-tier ratio,
    # preserves other runs' tiers)
    from scripts.stress_common import merge_scale_stress

    merge_scale_stress(
        repo,
        results,
        passes,
        extra={
            "corpus": {
                "x1": "docs=5000 emb=2000 (+--rel: sf0.1 facts)",
                "x10": "docs=50000 emb=20000 (+--rel: sf1 facts)",
                "x100": "docs=500000 emb=200000 (+--rel: sf10 facts)",
            }
        },
    )

    print(f"| query | {tags[0]} wall s | {tags[1]} wall s | ratio | "
          f"{tags[0]} shW MB | {tags[1]} shW MB | {tags[1]} spill MB |")
    print("| --- | --- | --- | --- | --- | --- | --- |")
    for r in rows:
        print(r)


if __name__ == "__main__":
    main()
