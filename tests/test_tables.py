"""Opening parquet tables (``sparketl.tables.read_parquet``): the schema
comes from one footer read on the driver, so opening a table runs no
Spark job, and it is the schema Spark's own inference gives."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from sparketl import manifest, tables
from sparketl.streaming.runner import stage_events_dir
from tests.conftest import SF_DIR
from tests.test_dml import _jobs


def test_load_tables_runs_no_spark_job(spark):
    tables.clear_cache()
    dfs, n = _jobs(spark, lambda: tables.load_tables(spark, SF_DIR))
    assert sorted(dfs) == sorted(tables.TABLE_NAMES)
    assert n == 0
    # the count sees schema inference: a schema-less read runs a job
    _, n = _jobs(spark, lambda: spark.read.parquet(f"{SF_DIR}/region.parquet").schema)
    assert n >= 1


def test_fixture_schemas_equal_spark_inference(spark):
    for name in tables.TABLE_NAMES:
        path = f"{SF_DIR}/{name}.parquet"
        got = tables.read_parquet(spark, path).schema
        assert got == spark.read.parquet(path).schema, name


def test_directory_schemas_equal_spark_inference(spark, tmp_path):
    """The shapes the converted call sites open: a partitioned directory
    (the connector read-backs, ``manifest.adopt``), a many-file one
    (compaction) and the streaming landing directory."""
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_totalprice", "o_orderpriority", "o_orderstatus",
        F.to_date("o_orderdate").alias("day"),
    )
    by_status = str(tmp_path / "by_status")
    orders.write.partitionBy("o_orderstatus").parquet(by_status)
    by_day = str(tmp_path / "by_day")
    orders.where("o_orderkey < 200").write.partitionBy("day").parquet(by_day)
    frag = str(tmp_path / "frag")
    orders.repartition(4).write.parquet(frag)
    events = stage_events_dir(SF_DIR, str(tmp_path))
    for path in (by_status, by_day, frag, events):
        want = spark.read.parquet(path).schema
        assert tables.read_parquet(spark, path).schema == want, path
    # the partition column keeps the type Spark's discovery gives it
    assert dict(spark.read.parquet(by_day).dtypes)["day"] == "date"
    for root, col in ((by_status, "o_orderstatus"), (by_day, "day")):
        want = spark.read.parquet(root).schema
        assert manifest.adopt(spark, root, col).schema == want, root


def test_path_without_data_file_is_left_to_spark(spark, tmp_path):
    empty = tmp_path / "empty"
    (empty / "_hidden").mkdir(parents=True)
    (empty / "_hidden" / "part-0.parquet").write_bytes(b"not parquet")
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        tables.read_parquet(spark, str(empty))
