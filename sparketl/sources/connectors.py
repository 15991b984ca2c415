"""Source / sink connectors (SURVEY.md §2.1 #2-4).

Presto reads and writes through connectors; the ETL-tool surface is
"ingest from files with explicit schema, write partitioned columnar
output".  Spark equivalents: ``spark.read.schema(..).csv/json`` and
``df.write.partitionBy(..).parquet``.

Declared queries prove each connector with a *round-trip*: export a
fixture table to the format under ``.scratch/`` (gitignored), read it
back through the connector, and return a result the DuckDB oracle
reproduces straight from the original parquet — so any loss/mangling
in the format hop (types, quoting, nulls, partition values) breaks the
hash.

Schema policy (SURVEY.md §1.1): sources always get an EXPLICIT schema
— never ``inferSchema`` (a second pass over 100 TB, and type guesses
drift between runs).

Scale: writes are partitioned both row-wise (task parallelism follows
the upstream partitioning — no single-writer bottleneck) and
directory-wise (``partitionBy`` → partition pruning for downstream
readers, SURVEY.md §4.1 DPP row).
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from sparketl.registry import query
from sparketl.tables import read_parquet, table

_SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))), ".scratch")


def _scratch_dir(sf_dir: str, name: str) -> str:
    sf_tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    return os.path.join(_SCRATCH, sf_tag, name)


NATION_SCHEMA = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]
)

SUPPLIER_SCHEMA = T.StructType(
    [
        T.StructField("s_suppkey", T.LongType()),
        T.StructField("s_name", T.StringType()),
        T.StructField("s_nationkey", T.IntegerType()),
        T.StructField("s_acctbal", T.DoubleType()),
    ]
)


@query(
    "source_csv",
    oracle="""
        select n.n_nationkey, n.n_name, r.r_name as region_name
        from nation n join region r on n.n_regionkey = r.r_regionkey
    """,
)
def source_csv(spark, sf_dir):
    """#2 CSV source: nation exported to headered CSV, read back with
    an explicit schema (no inference), joined to a dimension — the
    classic ETL ingest step.  Oracle reads the original parquet, so
    the CSV hop must be lossless."""
    nation = table(spark, sf_dir, "nation")
    path = _scratch_dir(sf_dir, "nation_csv")
    nation.write.mode("overwrite").option("header", True).csv(path)
    n = spark.read.schema(NATION_SCHEMA).option("header", True).csv(path)
    r = table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("n_nationkey", "n_name", F.col("r_name").alias("region_name"))
    )


@query(
    "source_jsonlines",
    oracle="""
        select s_nationkey,
               count(*) as n_suppliers,
               round(sum(cast(round(s_acctbal * 100) as bigint))
                     / cast(100 as double), 6) as total_acctbal
        from supplier
        group by s_nationkey
    """,
)
def source_jsonlines(spark, sf_dir):
    """#3 JSON-lines source: supplier exported to ndjson, read back
    with an explicit schema, aggregated.  Doubles survive the JSON hop
    bit-exactly (Spark prints round-trippable shortest-repr doubles);
    the exact-cents sum makes the aggregate engine-stable anyway."""
    supplier = table(spark, sf_dir, "supplier")
    path = _scratch_dir(sf_dir, "supplier_json")
    supplier.write.mode("overwrite").json(path)
    s = spark.read.schema(SUPPLIER_SCHEMA).json(path)
    return s.groupBy("s_nationkey").agg(
        F.count("*").alias("n_suppliers"),
        F.round(
            F.sum(F.round(F.col("s_acctbal") * 100).cast("bigint"))
            / F.lit(100).cast("double"),
            6,
        ).alias("total_acctbal"),
    )


@query(
    "source_orc_roundtrip",
    oracle="""
        select c_mktsegment,
               count(*) as n_customers,
               round(sum(cast(round(c_acctbal * 100) as bigint))
                     / cast(100 as double), 6) as total_acctbal
        from customer
        group by c_mktsegment
    """,
)
def source_orc_roundtrip(spark, sf_dir):
    """#2/#3-family columnar interchange: customer exported to ORC
    (Spark-native writer, no external package), read back and
    aggregated.  ORC is the other columnar lake format a Presto-family
    engine reads; types (int64/double/string) and values must survive
    the hop bit-exactly — the oracle reads the ORIGINAL parquet.

    Scale: ORC scans get the same vectorized reader + predicate
    pushdown + column pruning treatment as parquet in Spark, so the
    choice of columnar format does not change any plan in this repo.
    """
    customer = table(spark, sf_dir, "customer")
    path = _scratch_dir(sf_dir, "customer_orc")
    customer.write.mode("overwrite").orc(path)
    c = spark.read.orc(path)
    return c.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        F.round(
            F.sum(F.round(F.col("c_acctbal") * 100).cast("bigint"))
            / F.lit(100).cast("double"),
            6,
        ).alias("total_acctbal"),
    )


@query(
    "source_text_roundtrip",
    oracle="""
        select lang,
               count(*) as n_docs,
               cast(sum(length(text)) as bigint) as total_chars
        from documents
        group by lang
    """,
)
def source_text_roundtrip(spark, sf_dir):
    """#2/#3-family raw-text interchange: documents exported as
    one-record-per-line text (the delivery format of real web-corpus
    dumps), read back with the line-oriented text source, parsed, and
    aggregated against the ORIGINAL parquet.  Fields are tab-joined
    with the free-text payload url-encoded — Spark's ``base64`` emits
    MIME line breaks (which would corrupt a line-oriented format),
    while ``url_encode`` is single-line by construction and its decode
    is exact.

    Scale: text scans split by line ranges exactly like CSV/JSON —
    thousands of parallel splits at 100 TB; the parse is a narrow map.
    The encode/decode hop proves payload integrity byte-for-byte (the
    oracle's char counts come from the un-exported originals)."""
    docs = table(spark, sf_dir, "documents")
    path = _scratch_dir(sf_dir, "documents_text")
    # concat_ws silently DROPS null fields (shifting every later column
    # at parse time) — a null anywhere must fail the export loudly
    # instead of corrupting the file (review round 6).
    lines = docs.select(
        F.when(
            F.col("doc_id").isNull()
            | F.col("lang").isNull()
            | F.col("text").isNull(),
            F.raise_error(
                F.lit("source_text_roundtrip: null field in line export")
            ),
        )
        .otherwise(
            F.concat_ws(
                "\t",
                F.col("doc_id").cast("string"),
                F.col("lang"),
                F.url_encode("text"),
            )
        )
        .alias("value")
    )
    lines.write.mode("overwrite").text(path)
    parts = F.split(F.col("value"), "\t")
    parsed = spark.read.text(path).select(
        parts.getItem(0).cast("bigint").alias("doc_id"),
        parts.getItem(1).alias("lang"),
        F.url_decode(parts.getItem(2)).alias("text"),
    )
    return parsed.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).cast("bigint").alias("total_chars"),
    )


@query(
    "sink_parquet_partitioned",
    oracle="""
        select o_orderstatus, o_orderpriority,
               count(*) as n_orders,
               round(sum(cast(round(o_totalprice * 100) as bigint))
                     / cast(100 as double), 6) as total_price
        from orders
        group by o_orderstatus, o_orderpriority
    """,
)
def sink_parquet_partitioned(spark, sf_dir):
    """#4 partitioned parquet sink: orders written
    ``partitionBy(o_orderstatus)``, re-read, and aggregated — with a
    status filter applied on the re-read path so partition pruning
    (the point of directory partitioning) is exercised; the final
    union restores full coverage for the oracle.

    Scale: partitionBy keys with bounded cardinality (3 statuses) give
    pruning without small-file explosion; high-cardinality keys would
    instead be bucketed.  The re-read scan lists only matching
    directories (static partition pruning, SURVEY.md §4.1)."""
    orders = table(spark, sf_dir, "orders")
    path = _scratch_dir(sf_dir, "orders_by_status")
    (
        orders.select(
            "o_orderkey", "o_totalprice", "o_orderpriority", "o_orderstatus"
        )
        .write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(path)
    )
    back = read_parquet(spark, path)
    # partition-pruned branch + remainder branch: both scans prune dirs
    pruned = back.where(F.col("o_orderstatus") == "F")
    rest = back.where(F.col("o_orderstatus") != "F")
    return (
        pruned.unionByName(rest)
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
                / F.lit(100).cast("double"),
                6,
            ).alias("total_price"),
        )
    )


def _bucketed_table(spark, sf_dir: str, name: str, df, key: str, n: int = 8) -> str:
    """Create (or replace) an external bucketed+sorted parquet table and
    return its catalog name.  Names are sf-scoped so sf0.01 (driver
    correctness) and sf0.1 (bench) never collide in one session."""
    sf_tag = (os.path.basename(sf_dir.rstrip("/")) or "sf").replace(".", "_")
    tbl = f"sparketl_{name}_{sf_tag}"
    spark.sql(f"drop table if exists {tbl}")
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n, key)
        .sortBy(key)
        .option("path", _scratch_dir(sf_dir, f"bucketed_{name}"))
        .saveAsTable(tbl)
    )
    return tbl


@query(
    "sink_bucketed_colocated_join",
    oracle="""
        select o_orderpriority,
               count(*) as n_items,
               round(sum(cast(round(l_extendedprice * 100) as bigint))
                     / cast(100 as double), 6) as revenue
        from orders o
        join lineitem l on l.l_orderkey = o.o_orderkey
        group by o_orderpriority
    """,
)
def sink_bucketed_colocated_join(spark, sf_dir):
    """#4/§8 bucketed table layout: orders and lineitem written
    ``bucketBy(8, <orderkey>) + sortBy`` as external parquet tables,
    then fact-fact joined on the bucket key.  Because both sides carry
    identical HashPartitioning from their bucketed scans, the join
    plans with NO Exchange on either side (asserted in
    tests/test_plans.py::test_bucketed_join_elides_shuffle).

    Scale: THE shuffle-elision story for repeated fact-fact joins at
    100 TB — pay one bucketed write, then every downstream join /
    groupBy on the bucket key skips its exchange entirely (and sortBy
    lets SortMergeJoin skip its sort).  Bucket count at cluster scale
    would be sized to ~target-partition-bytes (e.g. 4096), not 8."""
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    t_o = _bucketed_table(spark, sf_dir, "orders", orders, "o_orderkey")
    t_l = _bucketed_table(spark, sf_dir, "lineitem", li, "l_orderkey")
    o = spark.table(t_o)
    l = spark.table(t_l)
    return (
        o.join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.round(
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
                / F.lit(100).cast("double"),
                6,
            ).alias("revenue"),
        )
    )


@query(
    "sink_partition_overwrite_dynamic",
    oracle="""
        with restated as (
            select o_orderkey, o_totalprice, 'X-RESTATED' as o_orderpriority,
                   o_orderstatus
            from orders where o_orderstatus = 'F'
        ),
        final_state as (
            select o_orderkey, o_totalprice, o_orderpriority, o_orderstatus
            from orders where o_orderstatus <> 'F'
            union all
            select * from restated
        )
        select o_orderstatus, o_orderpriority,
               count(*) as n_orders,
               round(sum(cast(round(o_totalprice * 100) as bigint))
                     / cast(100 as double), 6) as total_price
        from final_state
        group by o_orderstatus, o_orderpriority
    """,
)
def sink_partition_overwrite_dynamic(spark, sf_dir):
    """#4 dynamic partition overwrite — the idempotent-backfill
    primitive every production ETL tool needs: re-running a day's
    pipeline replaces ONLY the partitions the new data touches,
    leaving sibling partitions byte-identical.

    Here: orders land partitioned by status, then a "restatement" job
    rewrites just the F partition (priority set to X-RESTATED) with
    ``partitionOverwriteMode=dynamic`` — O and P partitions are never
    rewritten (asserted file-level in tests/test_sinks.py).  The
    oracle reconstructs the expected merged state relationally, so the
    gate proves overwrite scoping, not just the happy path.

    Scale: dynamic mode turns backfill cost from O(table) to
    O(changed partitions); with date-partitioned 100 TB tables that is
    the difference between rewriting 36 PB-days and one."""
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority", "o_orderstatus"
    )
    path = _scratch_dir(sf_dir, "orders_dyn_overwrite")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    restated = (
        orders.where(F.col("o_orderstatus") == "F")
        .withColumn("o_orderpriority", F.lit("X-RESTATED"))
    )
    with _partition_overwrite_dynamic(spark):
        (
            restated.write.mode("overwrite")
            .partitionBy("o_orderstatus")
            .parquet(path)
        )
    back = read_parquet(spark, path)
    return back.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            / F.lit(100).cast("double"),
            6,
        ).alias("total_price"),
    )


@contextlib.contextmanager
def _partition_overwrite_dynamic(spark):
    """Scope partitionOverwriteMode=dynamic to one write: the session
    default (static) is what ad-hoc ``mode("overwrite")`` users expect
    — leaking dynamic would silently change unrelated sinks'
    semantics."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "static")
    spark.conf.set(key, "dynamic")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


@query(
    "sink_compacted_files",
    oracle="""
        select l_returnflag,
               count(*) as n_lines,
               round(sum(cast(round(l_extendedprice * 100) as bigint))
                     / cast(100 as double), 6) as revenue
        from lineitem
        where l_shipdate >= timestamp '1996-01-01'
          and l_shipdate < timestamp '1996-07-01'
        group by l_returnflag
    """,
)
def sink_compacted_files(spark, sf_dir):
    """#4 small-file compaction — the maintenance job that keeps a
    100 TB lake scannable: a fragmented landing zone (64 shards here,
    standing in for per-task/per-micro-batch files) is rewritten into
    size-targeted files via ``repartition(n_target)`` +
    ``maxRecordsPerFile``, where n_target = ceil(bytes / 64 MiB) from
    the ACTUAL on-disk footprint (filesystem metadata — no data pass,
    no collect).  The oracle aggregates the original table, so the
    gate proves the rewrite is lossless; tests/test_sinks.py asserts
    the file count actually collapses.

    Scale: compaction is shuffle-bound on exactly the data it
    rewrites; round-robin repartition (no key) avoids skew by
    construction, and maxRecordsPerFile caps the worst file even if
    the size estimate is off."""
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    frag = _scratch_dir(sf_dir, "lineitem_fragmented")
    li.repartition(64).write.mode("overwrite").parquet(frag)
    fragmented = read_parquet(spark, frag)
    n_bytes = sum(
        os.path.getsize(os.path.join(frag, f))
        for f in os.listdir(frag)
        if f.endswith(".parquet")
    )
    n_target = max(1, -(-n_bytes // (64 * 1024 * 1024)))
    compact = _scratch_dir(sf_dir, "lineitem_compacted")
    (
        fragmented.repartition(n_target)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 10_000_000)
        .parquet(compact)
    )
    back = read_parquet(spark, compact)
    return back.groupBy("l_returnflag").agg(
        F.count("*").alias("n_lines"),
        F.round(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            / F.lit(100).cast("double"),
            6,
        ).alias("revenue"),
    )


@query(
    "source_csv_malformed",
    oracle="""
        select cast(count(*) as bigint) as n_clean,
               cast(3 as bigint) as n_corrupt,
               cast(sum(n_nationkey) as bigint) as key_checksum
        from nation
    """,
)
def source_csv_malformed(spark, sf_dir):
    """#2 CSV source, dirty-input path: the landing file carries three
    planted rows whose integer columns cannot parse.  PERMISSIVE mode
    with ``columnNameOfCorruptRecord`` must (a) deliver every clean
    row losslessly and (b) route each bad row into the corrupt-record
    column instead of failing the job or silently nulling it — the
    contract a production ingest job relies on to quarantine bad data
    for replay.  The oracle pins all three counts against the
    pristine parquet (clean count + key checksum) and the planted bad
    count; DROPMALFORMED/FAILFAST behaviors over the same file are
    unit-tested in tests/test_sinks.py.

    Scale: corrupt handling is per-row inside the scan — no extra
    pass, no shuffle; the aggregate is one map-side-combined job."""
    nation = table(spark, sf_dir, "nation")
    path = _scratch_dir(sf_dir, "nation_csv_dirty")
    nation.select("n_nationkey", "n_name", "n_regionkey").write.mode(
        "overwrite"
    ).csv(path)
    with open(os.path.join(path, "part-bad.csv"), "w") as f:
        f.write("notanint,BADROW1,0\n")
        f.write("xx,BADROW2,yy\n")
        f.write("4294967296999999999999,BADROW3,1\n")
    schema = T.StructType(
        [*NATION_SCHEMA.fields, T.StructField("_corrupt_record", T.StringType())]
    )
    n = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    # _corrupt_record columns cannot be referenced alone (Spark pushes
    # a guard); cache-free workaround: select all, then classify.
    n = n.select("n_nationkey", "n_name", "n_regionkey", "_corrupt_record")
    return n.agg(
        F.count_if(F.col("_corrupt_record").isNull()).alias("n_clean"),
        F.count_if(F.col("_corrupt_record").isNotNull()).alias("n_corrupt"),
        F.sum(
            F.when(F.col("_corrupt_record").isNull(), F.col("n_nationkey"))
        ).cast("bigint").alias("key_checksum"),
    )
