"""SparkSession factory + divergence-control configuration.

The driver owns the SparkSession it passes to ``entry()``/``queries()``,
so everything this engine needs MUST be applyable at runtime via
``spark.conf.set`` (all confs below are SQLConf, i.e. runtime-settable).

Conf contract (SURVEY.md §4.3):
  * ``spark.sql.ansi.enabled=true`` — PySpark 4 default; matches
    Presto/DuckDB error-on-overflow semantics.
  * ``spark.sql.session.timeZone=UTC`` — timestamp parity with the
    DuckDB oracle.
  * ``spark.sql.legacy.parquet.nanosAsLong=true`` — pre-round-4 fixture
    generations carried events.ts as a nanosecond timestamp that PySpark
    4.1 otherwise refuses to read (PARQUET_TYPE_ILLEGAL).  The round-4
    regeneration writes ``timestamp[us]`` (conf then has no effect); the
    loader's ``normalize_events_ts`` adapts to either physical type.
  * AQE on (default) — runtime SMJ→BHJ conversion + skew-join splitting;
    this is the 100 TB skew story (no hand-rolled salting needed for
    the inventory's key distributions).

A JVM that ``get_spark`` starts maps Spark's classes from a class-data
sharing archive kept per host (``sparketl/cds.py``): 130-210 MB at
``$XDG_CACHE_HOME/sparketl/cds/<key>.jsa`` (default
``~/.cache/sparketl/cds/``), one per JDK and Spark install.  The first
session on a host records it: it starts ~3 s slower and its JVM spends
10-15 s at exit writing the file, which the next session checks and
publishes.  Later sessions start ~3 s faster (``core_sf0.1`` bench set-up 7.9
→ 4.7 s).  ``rm -rf ~/.cache/sparketl`` resets it.  It is skipped when
``SPARK_CONF_DIR`` holds any file that is not a ``*.template``, and when
no JVM is launched here: under ``spark-submit``, or for a session the
caller built (``__spark_entry__``'s driver contract).
"""

from __future__ import annotations

import os
import threading
import weakref

from pyspark.sql import DataFrame, SparkSession

from sparketl import cds

#: Process-wide catalog mutation/enumeration lock (round 13, VERDICT
#: r12 #7).  Spark's temp-view catalog is shared by every thread on a
#: session, and ``spark.catalog.listTables()`` has been observed to die
#: with PARSE_EMPTY_STATEMENT when another thread's DROP/RENAME lands
#: mid-listing (the concurrent-bench DML faces do this constantly).
#: Rounds 11-12 papered over it with a 3-attempt retry; serializing the
#: engine's own catalog MUTATIONS (dml registers/drops, load_tables
#: re-pins) against its catalog ENUMERATIONS (SHOW TABLES/SCHEMAS)
#: deletes the race class instead.  Mutations hold it for the catalog
#: call only — query execution never runs under it.  RLock, so a
#: holder may re-enter it.
CATALOG_LOCK = threading.RLock()

#: Everything the engine keeps for one session: session ->
#: {"state": {name: dict}, "memo": {name: dict}}.  A session is found by
#: identity, so a new session after ``stop()`` starts empty and never
#: sees an old session's frames.  Memos assume that the files under an
#: ``sf_dir`` do not change for the life of the session.
_SESSIONS: "weakref.WeakKeyDictionary[SparkSession, dict[str, dict]]" = (
    weakref.WeakKeyDictionary()
)


def _named(spark: SparkSession, kind: str, name: str) -> dict:
    per = _SESSIONS.get(spark)
    if per is None:
        per = _SESSIONS.setdefault(spark, {"state": {}, "memo": {}})
    d = per[kind].get(name)
    if d is None:
        d = per[kind].setdefault(name, {})
    return d


def state(spark: SparkSession, name: str) -> dict:
    """The session's dict ``name`` of state: what the engine registered
    on it (catalog frames, DML tables, views...).  ``reset`` keeps it."""
    return _named(spark, "state", name)


def memo(spark: SparkSession, name: str) -> dict:
    """The session's dict ``name`` of memoized results, which can be
    recomputed at any time.  ``reset`` drops it."""
    return _named(spark, "memo", name)


def states(name: str) -> list[dict]:
    """The state dict ``name`` of every session that has one."""
    return [
        per["state"][name]
        for per in list(_SESSIONS.values())
        if name in per["state"]
    ]


def reset(spark: SparkSession) -> None:
    """Drop the session's memos and unpersist the frames they hold, so
    the next query pays every shared subtree again."""
    per = _SESSIONS.get(spark)
    if per is None:
        return
    memos = list(per["memo"].values())
    per["memo"].clear()
    for d in memos:
        for v in list(d.values()):
            if isinstance(v, DataFrame):
                v.unpersist()


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """``rows`` (tuples in ``schema`` order; a DDL string or StructType)
    as a LocalRelation built from an Arrow table on the driver: collecting
    it runs no Spark job and starts no Python worker, with or without
    ``spark.sql.execution.arrow.pyspark.enabled``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    cols = list(zip(*rows)) or [()] * len(schema.fields)
    table = pa.table([list(c) for c in cols], schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


#: Runtime-settable confs applied to ANY session this engine touches.
SESSION_CONFS: dict[str, str] = {
    "spark.sql.ansi.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # match local core count; AQE coalesces small shuffles back down.
    # At cluster scale this would be ~2-3x total executor cores.
    "spark.sql.shuffle.partitions": "32",
    # WITH RECURSIVE (§2 #150): Spark's safety valve caps TOTAL rows
    # accumulated across recursion levels at 1M by default —
    # RECURSION_ROW_LIMIT_EXCEEDED on the 1.5M-node x100 forest (and
    # any production-sized hierarchy).  Raised to 1e9 here; the level
    # limit (default 100) stays — depth is the true runaway guard for
    # the O(log n)-deep hierarchies this engine declares.
    "spark.sql.cteRecursionRowLimit": "1000000000",
}

#: Builder-time confs for sessions WE create (tests / bench).  At 100 TB
#: shuffle.partitions would be sized ~2-3× total cores with AQE
#: coalescing down; at sf≤0.1 on local[32] low counts kill fixed
#: overhead (BASELINE.md: the 2× gate is at risk from overhead, not
#: throughput).
LOCAL_BUILD_CONFS: dict[str, str] = {
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
    # A 130-query suite generates thousands of janino/whole-stage-codegen
    # classes in ONE JVM; the JDK default 240 MB code cache fills mid-suite,
    # the JIT silently stops compiling, and late queries run interpreted
    # (measured: the heavy lane degrades 62s -> 35s with this raised).
    # Flushing stays on so long-lived sessions evict cold generated code.
    "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=1g "
    "-XX:+UseCodeCacheFlushing",
}


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply the runtime conf contract to an externally-owned session."""
    for k, v in SESSION_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Non-runtime-settable in some deployment => best effort;
            # the loader has a pyarrow fallback for the events table.
            pass
    return spark


def get_spark(app_name: str = "sparketl") -> SparkSession:
    """Create (or get) a local session with the full conf contract."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    for k, v in {**LOCAL_BUILD_CONFS, **SESSION_CONFS}.items():
        builder = builder.config(k, v)
    java_options = LOCAL_BUILD_CONFS["spark.driver.extraJavaOptions"]
    spark = cds.start_driver(
        lambda cds_options: builder.config(
            "spark.driver.extraJavaOptions", f"{java_options} {cds_options}".strip()
        ).getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return configure_session(spark)
