#!/usr/bin/env python
"""Isolated per-query timing with the noop sink (guide §1.4).

Usage: python scripts/qtime.py name [name ...] [--sf DIR] [--n N]

Times `QUERIES[name](spark, sf).write.format("noop")` best-of-N in one
warmed session (same conf contract as the engine; bench-style warmup).
This times the COMPUTATION, not the collect/sink, and is the
measurement used for before/after evidence in OPTIMIZATION_r*.md.
Prints per-query best/all times as JSON lines.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, ".")

from sparketl import registry
from sparketl.session import get_spark, reset
from sparketl.tables import load_tables


def main() -> int:
    args = list(sys.argv[1:])
    sf = "/root/testdata/sf0.1"
    n = 3
    if "--sf" in args:
        i = args.index("--sf")
        sf = args[i + 1]
        del args[i : i + 2]
    if "--n" in args:
        i = args.index("--n")
        n = int(args[i + 1])
        del args[i : i + 2]

    registry.load_all_modules()
    names = []
    for a in args:
        a2 = a.rstrip("*")
        names += [q for q in registry.QUERIES if q == a2 or q.startswith(a2)]
    names = list(dict.fromkeys(names))

    spark = get_spark("sparketl-qtime")
    load_tables(spark, sf)
    spark.sql("select 1").collect()
    spark.range(32).repartition(32).mapInPandas(
        lambda it: it, schema="id long"
    ).collect()

    for name in names:
        times = []
        for _ in range(n):
            reset(spark)
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"qtime:{name}")
            t0 = time.perf_counter()
            df = registry.QUERIES[name](spark, sf)
            df.write.format("noop").mode("overwrite").save()
            times.append(round(time.perf_counter() - t0, 4))
        print(
            json.dumps(
                {
                    "query": name,
                    "best": min(times),
                    "times": times,
                    "load_1m": round(os.getloadavg()[0], 1),
                }
            )
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
