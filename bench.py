#!/usr/bin/env python
"""Benchmark: run every declared query once at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 test data) and print ONE JSON line:
{"metric": ..., "value": suite_sec, "unit": "sec", "queries": {name:
sec} for the 15 slowest, "sf": ..., "n_queries": ..., "n_errors": ...,
"sum_query_sec": ...}.

It measures the session the engine ships, as perfbench does: one
process, ``get_spark`` with ``SESSION_CONFS`` unchanged, the tables
opened untimed, then one client in a closed loop: every
``registry.QUERIES`` entry in registry order, one at a time, each timed
through ``.collect()``.  There is no warm-up pass and no repeat, so the
suite wall includes the process's cold start of its first Spark jobs.
"value" is the suite wall, and with one query at a time it equals the
sum of the per-query times up to the loop's own overhead.  A query that
raises is timed as -1.0 and counted in "n_errors".
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sparketl import registry
from sparketl.session import get_spark
from sparketl.tables import load_tables

#: Queries named on the stdout line, slowest first.
N_SLOWEST = 15


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry.load_all_modules()
    spark = get_spark("sparketl-bench")
    load_tables(spark, sf_dir)

    timings: dict[str, float] = {}
    t_suite = time.perf_counter()
    for name, build in registry.QUERIES.items():
        t0 = time.perf_counter()
        try:
            build(spark, sf_dir).collect()
            timings[name] = round(time.perf_counter() - t0, 4)
        except Exception as e:  # noqa: BLE001
            timings[name] = -1.0
            print(f"# bench error {name}: {e}", file=sys.stderr)
    total = round(time.perf_counter() - t_suite, 4)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf

    # The committed BENCH_LOCAL.json is defined at sf0.1: a run at any
    # other scale writes a side artifact instead of overwriting it.
    local_name = (
        "BENCH_LOCAL.json" if sf_val == 0.1 else f"BENCH_LOCAL_sf{sf_val}.json"
    )
    if local_name != "BENCH_LOCAL.json":
        print(
            f"# bench: sf={sf_val} != 0.1 — writing {local_name}, "
            "leaving committed BENCH_LOCAL.json untouched",
            file=sys.stderr,
        )
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), local_name),
            "w",
        ) as f:
            json.dump(
                {"value": total, "sf": sf_val, "queries": timings},
                f,
                indent=1,
                sort_keys=True,
            )
    except OSError:
        pass

    slowest = dict(
        sorted(
            ((k, round(t, 2)) for k, t in timings.items() if t >= 0),
            key=lambda kv: -kv[1],
        )[:N_SLOWEST]
    )
    payload = {
        "metric": "declared_query_suite_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": slowest,
        "sf": sf_val,
        "n_queries": len(timings),
        "sum_query_sec": round(sum(t for t in timings.values() if t > 0), 2),
        "n_errors": sum(1 for t in timings.values() if t < 0),
    }
    line = json.dumps(payload, separators=(",", ":"))
    # A caller that keeps only a bounded tail of stdout records no metric
    # from a longer line, so drop the fastest named queries first.
    while len(line) >= 2000 and slowest:
        slowest.popitem()
        line = json.dumps(payload, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
