"""Trino DML front-door tests (sparketl.dml; round 12, VERDICT r11 #1).

Coverage: statement parsing + refusal messages, the semantic pins the
declared faces rely on (DELETE's predicate-IS-TRUE rule, UPDATE's
old-row evaluation, INSERT positional/named column matching, MERGE's
first-satisfied-clause order and multi-source-match guard), the pruned
copy-on-write write-back (untouched partition files not rewritten),
EXPLAIN's pushed-filter output, and a native-DuckDB differential
executing the SAME statement text on the same starting data.
"""

from __future__ import annotations

import os

import pytest

from sparketl import dialect, dml, manifest, session


@pytest.fixture()
def wh(spark, tmp_path):
    """Fresh writable warehouse per test; fixture view `dml_fx`."""
    dml.set_base_dir(spark, str(tmp_path / "wh"))
    spark.createDataFrame(
        [
            (1, "a", 10.0),
            (2, "b", 20.0),
            (3, "a", 30.0),
            (4, None, 40.0),
            (5, "c", 50.0),
        ],
        "k long, g string, v double",
    ).createOrReplaceTempView("dml_fx")
    yield str(tmp_path / "wh")


def _state(spark, name):
    return sorted(
        tuple(r) for r in dialect.sql(spark, f"select * from {name}").collect()
    )


def test_ctas_insert_roundtrip(spark, wh):
    n = dialect.sql(
        spark, "create table t_ci as select k, g, v from dml_fx"
    ).collect()[0][0]
    assert n == 5
    # positional insert casts to the target types
    assert (
        dialect.sql(
            spark, "insert into t_ci select k + 10, g, v * 2 from dml_fx where k <= 2"
        ).collect()[0][0]
        == 2
    )
    # named column list fills unnamed columns with NULL
    assert (
        dialect.sql(
            spark, "insert into t_ci (k, v) select k + 100, v from dml_fx where k = 1"
        ).collect()[0][0]
        == 1
    )
    got = _state(spark, "t_ci")
    assert (11, "a", 20.0) in got and (12, "b", 40.0) in got
    assert (101, None, 10.0) in got
    assert len(got) == 8


def test_insert_errors(spark, wh):
    dialect.sql(spark, "create table t_ie as select k, g from dml_fx")
    with pytest.raises(ValueError, match="query produces 1 columns"):
        dialect.sql(spark, "insert into t_ie select k from dml_fx")
    with pytest.raises(ValueError, match="not in t_ie"):
        dialect.sql(spark, "insert into t_ie (k, nope) select k, g from dml_fx")
    with pytest.raises(ValueError, match="not a writable table"):
        dialect.sql(spark, "insert into dml_fx select * from dml_fx")


def test_ctas_exists_and_if_not_exists(spark, wh):
    dialect.sql(spark, "create table t_ce as select k from dml_fx")
    with pytest.raises(ValueError, match="already exists"):
        dialect.sql(spark, "create table t_ce as select k from dml_fx")
    assert (
        dialect.sql(
            spark, "create table if not exists t_ce as select g from dml_fx"
        ).collect()[0][0]
        == 0
    )
    # schema unchanged — the second CTAS was a no-op
    assert dialect.sql(spark, "select * from t_ce").columns == ["k"]


def test_ctas_with_no_data(spark, wh):
    dialect.sql(
        spark, "create table t_nd as select k, g from dml_fx with no data"
    )
    df = dialect.sql(spark, "select * from t_nd")
    assert df.count() == 0 and df.columns == ["k", "g"]


def test_delete_null_predicate_keeps_rows(spark, wh):
    dialect.sql(spark, "create table t_d as select k, g, v from dml_fx")
    # g = 'a' is NULL for the g-IS-NULL row → that row SURVIVES
    n = dialect.sql(spark, "delete from t_d where g = 'a'").collect()[0][0]
    assert n == 2
    assert [r[0] for r in _state(spark, "t_d")] == [2, 4, 5]
    # whole-table delete leaves a readable empty table
    n = dialect.sql(spark, "delete from t_d").collect()[0][0]
    assert n == 3
    df = dialect.sql(spark, "select * from t_d")
    assert df.count() == 0 and df.columns == ["k", "g", "v"]


def test_update_old_row_swap(spark, wh):
    dialect.sql(
        spark,
        "create table t_u as select k, v as x, v + 100 as y from dml_fx",
    )
    dialect.sql(spark, "update t_u set x = y, y = x where k % 2 = 1")
    got = {r[0]: (r[1], r[2]) for r in _state(spark, "t_u")}
    assert got[1] == (110.0, 10.0)  # swapped (old-row RHS evaluation)
    assert got[2] == (20.0, 120.0)  # untouched
    with pytest.raises(ValueError, match="assigned twice"):
        dialect.sql(spark, "update t_u set x = 1, x = 2")
    with pytest.raises(ValueError, match="not in t_u"):
        dialect.sql(spark, "update t_u set nope = 1")


def test_update_partition_column_refused(spark, wh):
    dialect.sql(
        spark,
        "create table t_up with (partitioned_by = array['g']) as "
        "select k, g, v from dml_fx",
    )
    with pytest.raises(ValueError, match="partition column"):
        dialect.sql(spark, "update t_up set g = 'z' where k = 1")


def _live_dirs(spark, name: str, part: str) -> list[str]:
    """The live data directories of one partition of a DML table, read
    from its manifest."""
    v = manifest.load(dml.table_path(spark, name))
    return [os.path.join(v.root, d) for d in v.dirs if d.split("/")[0] == part]


def test_pruned_write_leaves_untouched_partitions(spark, wh):
    dialect.sql(
        spark,
        "create table t_pr with (partitioned_by = array['g']) as "
        "select k, g, v from dml_fx",
    )

    def c_files():
        return {
            f: os.path.getmtime(os.path.join(d, f))
            for d in _live_dirs(spark, "t_pr", "g=c")
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before = c_files()
    assert before
    dialect.sql(spark, "delete from t_pr where g = 'a' and k = 1")
    after = c_files()
    assert before == after  # partition g=c was never rewritten
    assert [r[0] for r in _state(spark, "t_pr")] == [2, 3, 4, 5]
    # emptying a partition drops it from the table's next version
    dialect.sql(spark, "delete from t_pr where g = 'c'")
    assert _live_dirs(spark, "t_pr", "g=c") == []
    assert [r[0] for r in _state(spark, "t_pr")] == [2, 3, 4]


def test_merge_clause_order_and_guard(spark, wh):
    dialect.sql(spark, "create table t_m as select k, g, v from dml_fx")
    spark.createDataFrame(
        [(1, 5.0), (3, -1.0), (9, 90.0), (10, 100.0)],
        "sk long, sv double",
    ).createOrReplaceTempView("t_m_feed")
    n = dialect.sql(
        spark,
        """
        merge into t_m as t using t_m_feed as s on t.k = s.sk
        when matched and s.sv < 0 then delete
        when matched then update set v = t.v + s.sv
        when not matched and s.sv > 95 then
             insert (k, g, v) values (s.sk, 'new', s.sv)
        """,
    ).collect()[0][0]
    assert n == 3  # 1 update + 1 delete + 1 insert (sv=90 clause miss)
    got = {r[0]: (r[1], r[2]) for r in _state(spark, "t_m")}
    assert got[1] == ("a", 15.0)      # second clause (first was false)
    assert 3 not in got               # first clause deleted it
    assert got[10] == ("new", 100.0)  # conditional insert fired
    assert 9 not in got               # insert condition false → dropped
    assert got[2] == ("b", 20.0)      # unmatched target untouched
    # Trino's one-source-row rule
    spark.createDataFrame(
        [(1, 1.0), (1, 2.0)], "sk long, sv double"
    ).createOrReplaceTempView("t_m_dup")
    with pytest.raises(ValueError, match="more than one source row"):
        dialect.sql(
            spark,
            "merge into t_m using t_m_dup on t_m.k = t_m_dup.sk "
            "when matched then delete",
        )


def test_merge_subquery_source_and_defaults(spark, wh):
    dialect.sql(spark, "create table t_ms as select k, v from dml_fx")
    # INSERT without a column list takes the full target column order
    n = dialect.sql(
        spark,
        """
        merge into t_ms using (select 99 as mk, 9.9 as mv) m
        on t_ms.k = mk
        when not matched then insert values (m.mk, m.mv)
        """,
    ).collect()[0][0]
    assert n == 1
    assert (99, 9.9) in _state(spark, "t_ms")
    with pytest.raises(ValueError, match="needs an alias"):
        dialect.sql(
            spark,
            "merge into t_ms using (select 1 as q) on t_ms.k = q "
            "when matched then delete",
        )


def test_drop_table(spark, wh):
    dialect.sql(spark, "create table t_dr as select k from dml_fx")
    path = dml.table_path(spark, "t_dr")
    dialect.sql(spark, "drop table t_dr")
    assert not os.path.exists(path)
    with pytest.raises(ValueError, match="not a writable table"):
        dialect.sql(spark, "drop table t_dr")
    # IF EXISTS is a no-op
    assert dialect.sql(spark, "drop table if exists t_dr").collect()[0][0] == 0


def test_run_script_and_register_table(spark, wh, tmp_path):
    p = str(tmp_path / "adopted")
    spark.createDataFrame([(7, 70.0)], "k long, v double").write.parquet(p)
    dml.register_table(spark, "t_adopt", p)
    out = dml.run_script(
        spark,
        """
        insert into t_adopt select k, v from dml_fx where k = 1;
        delete from t_adopt where k = 7;
        select k, v from t_adopt
        """,
    )
    assert [tuple(r) for r in out.collect()] == [(1, 10.0)]


def test_explain_carries_pushed_filter(spark, wh):
    dialect.sql(
        spark,
        "create table t_ex as select k, g, v from dml_fx",
    )
    # Presto-dialect input (int division would refuse if untranslated)
    plan = "\n".join(
        r[0]
        for r in dialect.sql(
            spark, "explain select k / 2 as h from t_ex where k > 3"
        ).collect()
    )
    assert "PushedFilters" in plan and "GreaterThan(k,3)" in plan
    with pytest.raises(ValueError, match="options are refused"):
        dialect.sql(spark, "explain (type distributed) select 1")


def test_explain_analyze_runs_and_annotates(spark, wh):
    """Round 14: EXPLAIN ANALYZE executes the query and returns the
    FINAL adaptive plan annotated with per-operator runtime metrics
    (Trino's one-column result shape); DML statements still refuse."""
    dialect.sql(spark, "create table t_ea as select k, g, v from dml_fx")
    out = dialect.sql(
        spark,
        "explain analyze select g, count(*) as c from t_ea "
        "where k > 1 group by g",
    ).collect()
    assert len(out) == 1 and out[0].__fields__ == ["query_plan"]
    text = out[0].query_plan
    # executed: the header carries the actual output-row count (4
    # groups survive k > 1: 'a', 'b', 'c', NULL)
    assert "4 output row(s)" in text
    # annotated: actual rows flowed through the scan (4 of 5 pass)
    assert "numOutputRows=4" in text
    assert "HashAggregate" in text and "Scan parquet" in text
    # the plan shown is the FINAL adaptive one
    assert "AdaptiveSparkPlan" in text
    # Presto-dialect text translates before executing (int division)
    out2 = dialect.sql(
        spark, "explain analyze select k / 2 as h from t_ea where k = 4"
    ).collect()[0].query_plan
    assert "1 output row(s)" in out2
    # DML through EXPLAIN ANALYZE executes + reports write metrics
    # since round 15 (test_explain_analyze_dml_write_metrics); it
    # really runs, so the row is gone afterwards
    out3 = dialect.sql(
        spark, "explain analyze delete from t_ea where k = 1"
    ).collect()[0].query_plan
    assert "rows affected: 1" in out3
    assert dialect.sql(
        spark, "select count(*) as c from t_ea where k = 1"
    ).collect()[0].c == 0
    dialect.sql(spark, "drop table t_ea")


def test_unsupported_statements_refuse(spark, wh):
    with pytest.raises(ValueError, match="cannot parse CREATE TABLE"):
        # bare CREATE TABLE with neither column defs nor AS
        dialect.sql(spark, "create table t_x")
    # schema-only DDL is SUPPORTED since round 13 (VERDICT r12 #1)
    dialect.sql(spark, "drop table if exists t_x")
    dialect.sql(spark, "create table t_x (a bigint, b varchar)")
    dialect.sql(spark, "drop table t_x")
    with pytest.raises(ValueError, match="partitioned_by must be"):
        dialect.sql(
            spark,
            "create table t_x with (partitioned_by = 'g') as "
            "select g from dml_fx",
        )
    with pytest.raises(ValueError, match="unsupported table property"):
        dialect.sql(
            spark,
            "create table t_x with (bucketed_by = array['g']) as "
            "select g from dml_fx",
        )
    with pytest.raises(ValueError, match="format='PARQUET'"):
        dialect.sql(
            spark,
            "create table t_x with (format = 'ORC') as select g from dml_fx",
        )


def test_duckdb_same_statement_differential(spark, wh):
    """Execute the SAME statement text natively in DuckDB on the same
    starting rows; final states must match byte-for-byte (the verdict's
    'same statement on a copy of the parquet' grading shape, as a unit
    test — the declared faces use final-state CTE oracles)."""
    import duckdb

    stmts = [
        "insert into t_dd select k + 10, g, v * 2 from t_dd where k <= 2",
        "delete from t_dd where g = 'a' and v > 15",
        "update t_dd set v = v + 1, g = 'u' where k % 2 = 0",
    ]
    dialect.sql(spark, "create table t_dd as select k, g, v from dml_fx")
    for s in stmts:
        dialect.sql(spark, s)
    got = _state(spark, "t_dd")
    con = duckdb.connect()
    con.sql(
        "create table t_dd as select * from (values "
        "(1, 'a', 10.0), (2, 'b', 20.0), (3, 'a', 30.0), "
        "(4, null, 40.0), (5, 'c', 50.0)) t(k, g, v)"
    )
    for s in stmts:
        con.sql(s)
    want = sorted(tuple(r) for r in con.sql("select * from t_dd").fetchall())
    assert got == want


def test_insert_values_and_truncate(spark, wh):
    dialect.sql(spark, "create table t_iv as select k, g from dml_fx")
    # INSERT ... VALUES — the literal-row form ETL scripts paste
    n = dialect.sql(
        spark, "insert into t_iv values (100, 'x'), (101, 'y')"
    ).collect()[0][0]
    assert n == 2
    assert (100, "x") in _state(spark, "t_iv")
    n = dialect.sql(
        spark, "insert into t_iv (g, k) values ('z', 102)"
    ).collect()[0][0]
    assert n == 1 and (102, "z") in _state(spark, "t_iv")
    # TRUNCATE keeps a readable empty table
    dialect.sql(spark, "truncate table t_iv")
    df = dialect.sql(spark, "select * from t_iv")
    assert df.count() == 0 and df.columns == ["k", "g"]
    with pytest.raises(ValueError, match="not a writable table"):
        dialect.sql(spark, "truncate table dml_fx")


def test_null_partition_delete_and_survivors(spark, wh):
    """Round-12 review (confirmed live before the fix): partition-column
    joins are null-BLIND, so a DELETE touching the NULL partition
    (a) silently no-op'd on the doomed rows and (b) once the rewrite
    ran, dropped the partition's SURVIVORS.  Membership is now a
    literal NULL-safe predicate on both the dml and merge_apply
    paths."""
    dialect.sql(
        spark,
        "create table t_np with (partitioned_by = array['g']) as "
        "select k, g, v from dml_fx",
    )
    # k=4 lives in the NULL partition; add a second NULL-partition row
    dialect.sql(spark, "insert into t_np values (6, null, 60.0)")
    n = dialect.sql(spark, "delete from t_np where k = 4").collect()[0][0]
    assert n == 1
    got = [r[0] for r in _state(spark, "t_np")]
    assert got == [1, 2, 3, 5, 6]  # doomed row gone, NULL survivor kept
    # UPDATE inside the NULL partition round-trips too (columns stay
    # in declared order: k, g, v)
    dialect.sql(spark, "update t_np set v = v + 1 where k = 6")
    got = {r[0]: r[2] for r in _state(spark, "t_np")}
    assert got[6] == 61.0 and got[5] == 50.0


def test_merge_apply_null_partition_feed(spark, tmp_path):
    """merge_apply itself with a NULL-partition feed: the doomed row
    leaves, the NULL-partition survivor stays, other partitions
    untouched."""
    from pyspark.sql import functions as F

    from sparketl.operators.etl import merge_apply

    path = str(tmp_path / "nulltab")
    spark.createDataFrame(
        [(1, None, 1.0), (2, "b", 2.0), (3, None, 3.0)],
        "k long, g string, v double",
    ).write.partitionBy("g").parquet(path)
    feed = spark.createDataFrame(
        [(1, None, 1.0, "D")], "k long, g string, v double, __op string"
    )
    merge_apply(spark, path, feed, "k", "g")
    got = sorted(
        (r.k, r.g) for r in manifest.read(spark, path).select("k", "g").collect()
    )
    assert got == [(2, "b"), (3, None)]


def test_merge_partition_column_update_refused(spark, wh):
    dialect.sql(
        spark,
        "create table t_mp with (partitioned_by = array['g']) as "
        "select k, g, v from dml_fx",
    )
    with pytest.raises(ValueError, match="partition column"):
        dialect.sql(
            spark,
            "merge into t_mp using (select 1 as mk) m on t_mp.k = mk "
            "when matched then update set g = 'zz'",
        )


def test_merge_probe_prune_insert_into_pruned_partition(spark, wh):
    """VERDICT r13 #1 (probe-side partition pruning): the matched
    probe scans only partitions holding at least one source match.
    Edges pinned here: (1) an INSERT landing in an EXISTING partition
    that held no matches must keep that partition's surviving rows
    (the repair scan re-enters them into the rewrite frame); (2) an
    insert-only MERGE against a disjoint source (empty probe set)
    leaves every existing row intact; (3) a NULL-partition match is
    found by the pruning semi-join (collected set carries None)."""
    dialect.sql(
        spark,
        "create table t_ppi with (partitioned_by = array['g']) as "
        "select k, g, v from dml_fx",
    )
    # matches confined to partition 'a' (k=1); the INSERT lands k=9 in
    # partition 'b', which held no matches — its row k=2 must survive
    n = dialect.sql(
        spark,
        "merge into t_ppi as t using "
        "(select 1 as sk, 'b' as sg union all select 9, 'b') as s "
        "on t.k = s.sk "
        "when matched then update set v = v + 0.5 "
        "when not matched then insert (k, g, v) values (s.sk, s.sg, 99.0)",
    ).collect()[0][0]
    assert n == 2
    got = {(r[0], r[1]): r[2] for r in _state(spark, "t_ppi")}
    assert got[(1, "a")] == 10.5  # updated in the probed partition
    assert got[(2, "b")] == 20.0  # survivor of the insert partition
    assert got[(9, "b")] == 99.0  # the insert itself
    assert len(got) == 6
    # insert-only merge, disjoint source: probe set is EMPTY — all
    # existing rows survive, the new row lands in a new partition
    n = dialect.sql(
        spark,
        "merge into t_ppi as t using (select 77 as sk) as s on t.k = s.sk "
        "when not matched then insert (k, g, v) values (sk, 'z', 7.0)",
    ).collect()[0][0]
    assert n == 1
    got = _state(spark, "t_ppi")
    assert len(got) == 7 and (77, "z", 7.0) in got
    # NULL-partition match: the semi-join's collected set carries None
    n = dialect.sql(
        spark,
        "merge into t_ppi as t using (select 4 as sk) as s on t.k = s.sk "
        "when matched then update set v = -1.0",
    ).collect()[0][0]
    assert n == 1
    got = {(r[0], r[1]): r[2] for r in _state(spark, "t_ppi")}
    assert got[(4, None)] == -1.0


def _jobs(spark, fn):
    """``fn()``'s result and the Spark jobs it ran, counted in a job
    group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker lags the bus
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_dml_job_budget(spark, wh):
    """Spark jobs per statement on a partitioned table: the result frame
    is a local relation (collecting it runs none), INSERT writes in one
    job, UPDATE/DELETE add the count-and-partitions aggregate, MERGE
    stages its matched and inserted rows once, and a whole-table DELETE
    counts from the parquet footers."""
    dialect.sql(
        spark,
        "create table t_jb with (partitioned_by = array['g']) as "
        "select k, g, v from dml_fx",
    )
    budget = [
        ("insert into t_jb values (6, 'a', 60.0), (7, 'b', 70.0)", 2, 1),
        ("update t_jb set v = v + 1 where g = 'a'", 3, 3),
        ("delete from t_jb where g = 'b' and k = 2", 1, 3),
        (
            "merge into t_jb as t using (select 1 as sk, 5.0 as sv "
            "union all select 8, 8.0) as s on t.k = s.sk "
            "when matched then update set v = s.sv "
            "when not matched then insert (k, g, v) values (s.sk, 'c', s.sv)",
            2,
            10,
        ),
    ]
    for stmt, rows, jobs in budget:
        res, n = _jobs(spark, lambda: dialect.sql(spark, stmt))
        got, m = _jobs(spark, res.collect)
        assert (got[0][0], m) == (rows, 0), stmt
        if stmt.startswith("merge"):
            assert n <= jobs, stmt
        else:
            assert n == jobs, stmt
    res, n = _jobs(spark, lambda: dialect.sql(spark, "delete from t_jb"))
    assert (res.collect()[0][0], n) == (7, 0)
    assert _state(spark, "t_jb") == []


def test_local_frame_without_arrow_conf(spark, wh):
    """``session.local_frame`` does not depend on the arrow conf: with it
    off, the codebook keeps its declared types and non-null fields, an
    empty SHOW TABLES keeps its schema, and EXPLAIN ANALYZE text with
    quotes, backslashes and newlines comes back byte for byte as the
    list path gives it; collecting any of them runs no job."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    from sparketl.operators.llm_ann import _cen_frame

    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        cens = [(0, [0.5, -1.25]), (1, [2.0, 1e-300])]
        cb = _cen_frame(spark, cens)
        assert cb.schema == StructType(
            [
                StructField("c_label", IntegerType(), False),
                StructField("cvec", ArrayType(DoubleType(), False), False),
            ]
        )
        got, n = _jobs(spark, cb.collect)
        assert ([tuple(r) for r in got], n) == (cens, 0)
        dialect.sql(spark, "create schema lf_empty")
        res = dialect.sql(spark, "show tables from lf_empty")
        got, n = _jobs(spark, res.collect)
        assert (res.schema.simpleString(), got, n) == (
            "struct<table:string>", [], 0
        )
        res = dialect.sql(
            spark, "explain analyze select k from dml_fx where g <> 'b'"
        )
        (text,), n = _jobs(spark, lambda: res.collect()[0])
        assert n == 0 and "\n" in text
        text += "\n-- it's \"q\" \\ C:\\tmp\\n \\\\ \t é\r\n"
        listed = spark.createDataFrame([(text,)], "query_plan string")
        local = session.local_frame(spark, [(text,)], "query_plan string")
        assert local.schema == listed.schema == res.schema
        assert local.collect()[0][0] == listed.collect()[0][0] == text
    finally:
        spark.conf.set(key, old)
        dialect.sql(spark, "drop schema if exists lf_empty")


def test_merge_partition_edges_match_duckdb(spark, wh):
    """MERGE on a partitioned target against DuckDB applying the same
    change as its DELETE/UPDATE + INSERT (DuckDB 1.0 has no MERGE):
    INSERT rows landing in partitions the probe pruned out (an existing
    one, and the NULL partition) keep those partitions' rows; a
    NULL-partition match is deleted while an insert lands in a pruned
    partition; a source that matches one target row twice raises and
    leaves the table at its version."""
    import duckdb

    dialect.sql(
        spark,
        "create table t_me with (partitioned_by = array['g']) as "
        "select k, g, v from dml_fx",
    )
    con = duckdb.connect()
    con.sql(
        "create table t_me as select * from (values "
        "(1, 'a', cast(10.0 as double)), (2, 'b', 20.0), (3, 'a', 30.0), "
        "(4, cast(null as varchar), 40.0), (5, 'c', 50.0)) t(k, g, v)"
    )

    def both(src, clauses, duck):
        n = dialect.sql(
            spark,
            f"merge into t_me as t using ({src}) as s on t.k = s.sk "
            + clauses,
        ).collect()[0][0]
        con.sql(
            "create or replace temp table ins as select s.sk, s.sg, s.sv "
            f"from ({src}) s where not exists "
            "(select 1 from t_me where t_me.k = s.sk)"
        )
        changed = con.execute(duck.format(src=src)).fetchone()[0]
        changed += con.execute("insert into t_me select * from ins").fetchone()[0]
        want = sorted(con.sql("select * from t_me").fetchall())
        assert (n, _state(spark, "t_me")) == (changed, want)

    # matches only in 'a'; inserts into 'b' and the NULL partition,
    # both pruned out of the probe, and into a new partition 'd'
    both(
        "select 1 as sk, cast(null as varchar) as sg, 1.5 as sv "
        "union all select 20, 'b', 2.5 union all select 21, null, 3.5 "
        "union all select 22, 'd', 4.5",
        "when matched then update set v = t.v + s.sv "
        "when not matched then insert (k, g, v) values (s.sk, s.sg, s.sv)",
        "update t_me set v = t_me.v + s.sv from ({src}) s "
        "where t_me.k = s.sk",
    )
    # the NULL partition's match is deleted; the insert lands in 'c'
    both(
        "select 4 as sk, 'x' as sg, 0.0 as sv union all select 30, 'c', 9.0",
        "when matched then delete "
        "when not matched then insert (k, g, v) values (s.sk, s.sg, s.sv)",
        "delete from t_me where k in (select sk from ({src}))",
    )
    path = dml.table_path(spark, "t_me")
    before = (manifest.load(path), _state(spark, "t_me"))
    with pytest.raises(ValueError, match="more than one source row"):
        dialect.sql(
            spark,
            "merge into t_me as t using (select 1 as sk, 1.0 as sv "
            "union all select 1, 2.0 union all select 40, 3.0) as s "
            "on t.k = s.sk when matched then update set v = s.sv "
            "when not matched then insert (k, g, v) values (s.sk, 'a', s.sv)",
        )
    assert (manifest.load(path), _state(spark, "t_me")) == before


def test_delete_update_zero_match_is_noop(spark, wh):
    dialect.sql(spark, "create table t_zm as select k, g from dml_fx")
    path = dml.table_path(spark, "t_zm")
    before = manifest.load(path)
    assert dialect.sql(
        spark, "delete from t_zm where k > 999"
    ).collect()[0][0] == 0
    assert dialect.sql(
        spark, "update t_zm set g = 'x' where k > 999"
    ).collect()[0][0] == 0
    assert manifest.load(path) == before  # no rewrite happened


def test_partitioned_column_order_and_truncate_insert_cycle(spark, wh):
    """Round-12 review follow-ups: (a) a partitioned re-read puts the
    partition column LAST — the handle pins the DECLARED order so CTAS
    column order survives and INSERT's positional matching stays
    stable; (b) INSERT into a truncated partitioned table reads back
    exactly the inserted row."""
    dialect.sql(
        spark,
        "create table t_ord with (partitioned_by = array['g']) as "
        "select k, g, v from dml_fx",
    )
    assert dialect.sql(spark, "select * from t_ord").columns == ["k", "g", "v"]
    # positional insert follows the DECLARED order (k, g, v)
    dialect.sql(spark, "insert into t_ord values (7, 'z', 70.0)")
    assert (7, "z", 70.0) in _state(spark, "t_ord")
    dialect.sql(spark, "truncate table t_ord")
    dialect.sql(spark, "insert into t_ord values (8, 'q', 80.0)")
    assert _state(spark, "t_ord") == [(8, "q", 80.0)]


def test_review2_regressions(spark, wh):
    """Round-12 review, pass 2 (each confirmed live pre-fix):
    (a) a zero-row INSERT into an EMPTY partitioned table must leave
        it readable;
    (b) INSERT matches source columns BY POSITION even when the query
        produces duplicate output names (`select k, g as k`);
    (c) a string partition column with numeric-looking values keeps
        its DECLARED type across re-reads (partition-value inference
        would silently retype it int);
    (d) an unparenthesized CASE inside a MERGE AND condition must not
        mis-split at the CASE's own THEN."""
    # (a)
    dialect.sql(
        spark,
        "create table t_r2a with (partitioned_by = array['g']) as "
        "select k, g from dml_fx with no data",
    )
    assert dialect.sql(
        spark, "insert into t_r2a select k, g from dml_fx where k > 999"
    ).collect()[0][0] == 0
    df = dialect.sql(spark, "select * from t_r2a")
    assert df.count() == 0 and df.columns == ["k", "g"]
    # (b)
    dialect.sql(spark, "create table t_r2b as select k, g from dml_fx")
    dialect.sql(
        spark, "insert into t_r2b select k + 50, cast(k as varchar) as k "
        "from dml_fx where k = 1"
    )
    assert (51, "1") in _state(spark, "t_r2b")
    # (c)
    dialect.sql(
        spark,
        "create table t_r2c with (partitioned_by = array['g']) as "
        "select k, cast(k as varchar) as g from dml_fx",
    )
    df = dialect.sql(spark, "select * from t_r2c")
    assert df.schema["g"].dataType.simpleString() == "string"
    assert ("1") in {r[1] for r in df.collect()}
    # (d)
    dialect.sql(spark, "create table t_r2d as select k, v from dml_fx")
    n = dialect.sql(
        spark,
        """merge into t_r2d using (select 2 as mk) m on t_r2d.k = mk
           when matched and case when m.mk > 0 then true else false end
           then update set v = 0.0""",
    ).collect()[0][0]
    assert n == 1
    assert {r[0]: r[1] for r in _state(spark, "t_r2d")}[2] == 0.0


def test_create_view_reflects_later_dml(spark, wh):
    """A view is LOGICAL: Spark re-analyzes it on every read, so
    INSERT/UPDATE on the base table show through; CREATE OR REPLACE
    swaps the definition in place."""
    dialect.sql(spark, "create table t_vb as select k, g, v from dml_fx")
    dialect.sql(
        spark, "create view v_even as select k, v from t_vb where k % 2 = 0"
    )
    assert _state(spark, "v_even") == [(2, 20.0), (4, 40.0)]
    dialect.sql(
        spark, "insert into t_vb select k + 10, g, v from dml_fx where k <= 2"
    )
    assert _state(spark, "v_even") == [(2, 20.0), (4, 40.0), (12, 20.0)]
    dialect.sql(spark, "update t_vb set v = v + 1 where k = 2")
    assert (2, 21.0) in _state(spark, "v_even")
    dialect.sql(
        spark,
        "create or replace view v_even as "
        "select k, v from t_vb where k % 2 = 1",
    )
    assert (1, 10.0) in _state(spark, "v_even")
    # view over view
    dialect.sql(
        spark, "create view v_top as select max(k) as mk from v_even"
    )
    dialect.sql(
        spark, "insert into t_vb select 99, 'z', 0.0 from dml_fx where k = 1"
    )
    assert _state(spark, "v_top") == [(99,)]


def test_view_refusals_and_drop(spark, wh):
    dialect.sql(spark, "create table t_vr as select k from dml_fx")
    dialect.sql(spark, "create view v_r as select k from t_vr")
    # duplicate without OR REPLACE
    with pytest.raises(ValueError, match="OR\\s+REPLACE"):
        dialect.sql(spark, "create view v_r as select k from t_vr")
    # shadowing a table / a fixture view
    with pytest.raises(ValueError, match="is a table"):
        dialect.sql(spark, "create view t_vr as select k from t_vr")
    with pytest.raises(ValueError, match="fixture"):
        dialect.sql(spark, "create view dml_fx as select 1 as x")
    # DML-bodied view, materialized view
    with pytest.raises(ValueError, match="SELECT-shaped"):
        dialect.sql(spark, "create view v_bad as delete from t_vr")
    with pytest.raises(ValueError, match="MATERIALIZED"):
        dialect.sql(
            spark, "create materialized view mv as select k from t_vr"
        )
    # dependency refusals: table under a view, view under a view
    with pytest.raises(ValueError, match="v_r"):
        dialect.sql(spark, "drop table t_vr")
    dialect.sql(spark, "create view v_r2 as select k from v_r")
    with pytest.raises(ValueError, match="v_r2"):
        dialect.sql(spark, "drop view v_r")
    # eager validation: a typo fails at CREATE VIEW time
    with pytest.raises(Exception):
        dialect.sql(spark, "create view v_typo as select nope from t_vr")
    assert "v_typo" not in session.state(spark, "dml_views")
    # drop in dependency order, then the table
    dialect.sql(spark, "drop view v_r2")
    dialect.sql(spark, "drop view v_r")
    dialect.sql(spark, "drop table t_vr")
    assert dialect.sql(spark, "drop view if exists v_r").collect()[0][0] == 0
    with pytest.raises(ValueError, match="not a DML-created view"):
        dialect.sql(spark, "drop view v_r")


def test_alter_table_add_drop_columns(spark, wh):
    dialect.sql(spark, "create table t_al as select k, g, v from dml_fx")
    # ADD COLUMN is metadata-only: existing rows null-fill
    dialect.sql(spark, "alter table t_al add column note varchar")
    assert dialect.sql(spark, "select * from t_al").columns == [
        "k", "g", "v", "note",
    ]
    assert all(r[3] is None for r in _state(spark, "t_al"))
    # new column is writable
    dialect.sql(
        spark,
        "insert into t_al select 100, 'x', 1.0, 'hello' from dml_fx "
        "where k = 1",
    )
    assert (100, "x", 1.0, "hello") in _state(spark, "t_al")
    assert (
        dialect.sql(
            spark, "alter table t_al add column if not exists note varchar"
        ).collect()[0][0]
        == 0
    )
    with pytest.raises(ValueError, match="already exists"):
        dialect.sql(spark, "alter table t_al add column note varchar")
    # DROP COLUMN is metadata-only; re-adding the name refuses (the
    # bytes are still in the files and would resurrect)
    dialect.sql(spark, "alter table t_al drop column note")
    assert dialect.sql(spark, "select * from t_al").columns == ["k", "g", "v"]
    with pytest.raises(ValueError, match="resurrect"):
        dialect.sql(spark, "alter table t_al add column note varchar")
    with pytest.raises(ValueError, match="does not exist"):
        dialect.sql(spark, "alter table t_al drop column nope")
    dialect.sql(spark, "alter table t_al drop column if exists nope")
    with pytest.raises(ValueError, match="unsupported ALTER"):
        dialect.sql(spark, "alter table t_al set properties foo = 1")


def test_alter_table_renames(spark, wh):
    dialect.sql(
        spark,
        "create table t_ar with (partitioned_by = array['g']) as "
        "select k, v, g from dml_fx",
    )
    # RENAME COLUMN is a full rewrite (parquet matches by name)
    dialect.sql(spark, "alter table t_ar rename column v to amount")
    assert dialect.sql(spark, "select * from t_ar").columns == [
        "k", "amount", "g",
    ]
    assert (1, 10.0, "a") in _state(spark, "t_ar")
    with pytest.raises(ValueError, match="partition column"):
        dialect.sql(spark, "alter table t_ar rename column g to grp")
    with pytest.raises(ValueError, match="partition column"):
        dialect.sql(spark, "alter table t_ar drop column g")
    # RENAME TO moves the catalog entry; dependent views refuse it
    dialect.sql(spark, "create view v_ar as select k from t_ar")
    with pytest.raises(ValueError, match="v_ar"):
        dialect.sql(spark, "alter table t_ar rename to t_ar2")
    dialect.sql(spark, "drop view v_ar")
    dialect.sql(spark, "alter table t_ar rename to t_ar2")
    assert (1, 10.0, "a") in _state(spark, "t_ar2")
    with pytest.raises(ValueError, match="not a writable table"):
        dml.table_path(spark, "t_ar")
    # further DML lands on the renamed table
    dialect.sql(spark, "delete from t_ar2 where k = 1")
    assert (1, 10.0, "a") not in _state(spark, "t_ar2")


def test_show_tables_columns_describe(spark, wh):
    dialect.sql(
        spark,
        "create table t_sh with (partitioned_by = array['g']) as "
        "select k, v, g from dml_fx",
    )
    tables = {r[0] for r in dialect.sql(spark, "show tables").collect()}
    assert "t_sh" in tables and "dml_fx" in tables
    cols = dialect.sql(spark, "show columns from t_sh").collect()
    assert [(r.column, r.type) for r in cols] == [
        ("k", "bigint"), ("v", "double"), ("g", "varchar"),
    ]
    assert [r.extra for r in cols] == ["", "", "partition key"]
    assert dialect.sql(spark, "describe t_sh").collect() == cols
    assert dialect.sql(spark, "desc dml_fx").count() == 3
    with pytest.raises(ValueError, match="does not exist"):
        dialect.sql(spark, "describe no_such_table")
    with pytest.raises(ValueError, match="SHOW forms"):
        dialect.sql(spark, "show session")


def test_prepare_execute_deallocate(spark, wh):
    dialect.sql(spark, "create table t_pe as select k, g, v from dml_fx")
    # parameterless prepared SELECT
    dialect.sql(spark, "prepare q_all from select k, v from t_pe")
    assert dialect.sql(spark, "execute q_all").count() == 5
    # positional ? parameters, spliced from USING
    dialect.sql(
        spark,
        "prepare q_rng from select k from t_pe where v between ? and ? "
        "and g <> ?",
    )
    got = sorted(
        r[0]
        for r in dialect.sql(
            spark, "execute q_rng using 15.0, 45.0, 'b'"
        ).collect()
    )
    # k=4 has g NULL: NULL <> 'b' is NULL -> excluded (Trino semantics)
    assert got == [3]
    # a ? inside a string literal is NOT a parameter
    dialect.sql(
        spark, "prepare q_lit from select count(*) as c from t_pe where g = '?'"
    )
    assert dialect.sql(spark, "execute q_lit").collect()[0][0] == 0
    # prepared DML re-executes against current state
    dialect.sql(spark, "prepare q_del from delete from t_pe where k = ?")
    assert dialect.sql(spark, "execute q_del using 1").collect()[0][0] == 1
    assert dialect.sql(spark, "execute q_del using 1").collect()[0][0] == 0
    # arity mismatch and unknown names refuse
    with pytest.raises(ValueError, match="parameter"):
        dialect.sql(spark, "execute q_rng using 1.0")
    with pytest.raises(ValueError, match="no prepared statement"):
        dialect.sql(spark, "execute nope")
    dialect.sql(spark, "deallocate prepare q_rng")
    with pytest.raises(ValueError, match="no prepared statement"):
        dialect.sql(spark, "execute q_rng using 1.0, 2.0, 'x'")
    with pytest.raises(ValueError, match="no prepared statement"):
        dialect.sql(spark, "deallocate q_rng")


def test_fetch_first_tablesample_row(spark, wh):
    # FETCH FIRST / OFFSET ... FETCH NEXT → LIMIT [OFFSET]
    got = [
        r[0]
        for r in dialect.sql(
            spark,
            "select k from dml_fx order by k fetch first 2 rows only",
        ).collect()
    ]
    assert got == [1, 2]
    got = [
        r[0]
        for r in dialect.sql(
            spark,
            "select k from dml_fx order by k offset 2 rows "
            "fetch next 2 rows only",
        ).collect()
    ]
    assert got == [3, 4]
    # FETCH FIRST ROW ONLY defaults to 1
    assert (
        dialect.sql(
            spark, "select k from dml_fx order by k fetch first row only"
        ).count()
        == 1
    )
    # standalone OFFSET n ROWS (no FETCH) — Spark wants the bare count
    got = [
        r[0]
        for r in dialect.sql(
            spark, "select k from dml_fx order by k offset 3 rows"
        ).collect()
    ]
    assert got == [4, 5]
    # a window frame's `rows between` is untouched by the offset strip
    assert (
        dialect.sql(
            spark,
            "select sum(k) over (order by k rows between 1 preceding "
            "and current row) as s from dml_fx order by s desc "
            "offset 1 row fetch next 1 rows only",
        ).collect()[0][0]
        == 7
    )
    # WITH TIES now executes via the rank() rewrite (VERDICT r12 #3)
    got = [
        r[0]
        for r in dialect.sql(
            spark,
            "select k from dml_fx order by v fetch first 2 rows with ties",
        ).collect()
    ]
    assert got == [1, 2]
    # TABLESAMPLE BERNOULLI runs (nondeterministic — bound-check only)
    n = dialect.sql(
        spark, "select count(*) as c from dml_fx tablesample bernoulli (50)"
    ).collect()[0][0]
    assert 0 <= n <= 5
    # ROW(...) constructor → struct; field access works
    # struct() names fields after source columns (Trino's ROW()
    # fields are anonymous — dot access needs the field name here)
    r = dialect.sql(
        spark,
        "select row(k, g).k as kk from dml_fx where k = 1",
    ).collect()
    assert [x[0] for x in r] == [1]
    # CAST-to-ROW (Presto's field-naming idiom) → struct cast; nested
    # types recurse; anonymous ROW types refuse
    r = dialect.sql(
        spark,
        "select cast(row(k, v) as row(kk bigint, vv double)).kk as kk "
        "from dml_fx where k = 2",
    ).collect()
    assert [x[0] for x in r] == [2]
    r = dialect.sql(
        spark,
        "select cast(row(1, row(2.5, 'q')) as "
        "row(a bigint, b row(c double, d varchar))).b.c as c from dml_fx "
        "where k = 1",
    ).collect()
    assert [x[0] for x in r] == [2.5]
    with pytest.raises(ValueError, match="anonymous ROW"):
        dialect.sql(
            spark,
            "select cast(row(1, 2) as row(bigint, bigint)) from dml_fx",
        )


def test_duckdb_same_statement_view_differential(spark, wh):
    """Views + later DML, executed as the SAME statement text natively
    in DuckDB on the same starting rows — the view-through-mutation
    read must match byte-for-byte."""
    import duckdb

    stmts = [
        "create view v_dd as select k, v from t_vd where k % 2 = 0",
        "insert into t_vd select k + 10, g, v * 2 from t_vd where k <= 2",
        "update t_vd set v = v + 0.5 where k = 2",
        "create or replace view v_dd as "
        "select k, v from t_vd where k % 2 = 1",
        "delete from t_vd where k = 5",
    ]
    dialect.sql(spark, "create table t_vd as select k, g, v from dml_fx")
    for s in stmts:
        dialect.sql(spark, s)
    got = _state(spark, "v_dd")
    con = duckdb.connect()
    con.sql(
        "create table t_vd as select * from (values "
        "(1, 'a', 10.0), (2, 'b', 20.0), (3, 'a', 30.0), "
        "(4, null, 40.0), (5, 'c', 50.0)) t(k, g, v)"
    )
    for s in stmts:
        con.sql(s)
    want = sorted(tuple(r) for r in con.sql("select * from v_dd").fetchall())
    assert got == want


def test_execute_immediate_and_explain_dml_refusal(spark, wh):
    dialect.sql(spark, "create table t_ei as select k, v from dml_fx")
    got = [
        r[0]
        for r in dialect.sql(
            spark,
            "execute immediate "
            "'select k from t_ei where v > ? order by k' using 25.0",
        ).collect()
    ]
    assert got == [3, 4, 5]
    # '' escaping inside the immediate literal
    assert (
        dialect.sql(
            spark, "execute immediate 'select ''x?'' as s'"
        ).collect()[0][0]
        == "x?"
    )
    # immediate DML executes too
    assert (
        dialect.sql(
            spark, "execute immediate 'delete from t_ei where k = 1'"
        ).collect()[0][0]
        == 1
    )
    with pytest.raises(ValueError, match="parameter"):
        dialect.sql(spark, "execute immediate 'select ?' ")
    with pytest.raises(ValueError, match="EXPLAIN of a DML"):
        dialect.sql(spark, "explain delete from t_ei where k = 2")


def test_merge_divisions_typed_by_their_clause_frame(spark, wh):
    """A MERGE fragment's `/` is typed against the columns its clause
    reads: WHEN MATCHED sees target and source, NOT MATCHED INSERT the
    source only.  `v` is DOUBLE in the target and BIGINT in the source,
    so each clause's `v / 2` has its own type."""
    dialect.sql(spark, "create table t_mdiv as select k, v from dml_fx")
    spark.createDataFrame(
        [(1, 7), (9, -7)], "sk long, v long"
    ).createOrReplaceTempView("t_mdiv_src")
    dialect.sql(
        spark,
        """
        merge into t_mdiv as t using t_mdiv_src as s on t.k = s.sk
        when matched then update set v = t.v / 4 + s.v / 2
        when not matched then insert (k, v) values (s.sk, v / 2)
        """,
    )
    got = {r[0]: r[1] for r in _state(spark, "t_mdiv")}
    assert got[1] == 10.0 / 4 + 3   # 7 / 2 truncates, 10.0 / 4 does not
    assert got[9] == -3.0           # the source's bigint: toward zero
    assert got[2] == 20.0


def test_insert_values_division_typed(spark, wh):
    """INSERT ... VALUES: Spark evaluates the list while parsing it, and
    its `/` is still typed as Presto's — 7 / 2 stores 3.0 in a DOUBLE
    column, 7.0 / 2 stores 3.5."""
    dialect.sql(spark, "create table t_ival as select k, v from dml_fx")
    dialect.sql(spark, "insert into t_ival values (6, 7 / 2), (7, 7.0 / 2)")
    got = {r[0]: r[1] for r in _state(spark, "t_ival")}
    assert got[6] == 3.0
    assert got[7] == 3.5


def test_review3_view_alter_guards(spark, wh):
    """Round-12 review: (a) ALTER DROP/RENAME COLUMN under a dependent
    view refuses (a half-applied ALTER would break the view); (b) a
    self-referencing CREATE OR REPLACE VIEW refuses; (c) a view whose
    base is swapped underneath it (register_table) fails at its next
    read without wedging unrelated DML."""
    dialect.sql(spark, "create table t_rv as select k, g, v from dml_fx")
    dialect.sql(spark, "create view v_rv as select g from t_rv")
    with pytest.raises(ValueError, match="v_rv"):
        dialect.sql(spark, "alter table t_rv drop column g")
    with pytest.raises(ValueError, match="v_rv"):
        dialect.sql(spark, "alter table t_rv rename column g to h")
    # ADD COLUMN cannot break a view — allowed
    dialect.sql(spark, "alter table t_rv add column note varchar")
    # (b) self-reference
    with pytest.raises(ValueError, match="references itself"):
        dialect.sql(
            spark, "create or replace view v_rv as select g from v_rv"
        )
    # (c) swap the base's schema underneath the view
    other = spark.createDataFrame([(1,)], "zzz long")
    path = dml.table_path(spark, "t_rv")
    import os as _os

    newdir = _os.path.join(_os.path.dirname(path), "t_rv_swap")
    other.write.mode("overwrite").parquet(newdir)
    dml.register_table(spark, "t_rv", newdir)
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        dialect.sql(spark, "select * from v_rv").collect()
    # unrelated DML proceeds while the broken view stays in the catalog
    dialect.sql(spark, "create table t_rv2 as select 1 as one")
    assert dialect.sql(spark, "select * from t_rv2").count() == 1
    # Presto integer division: the typing probe still sees `one` as int
    got = dialect.sql(spark, "select one / 2 as h from t_rv2").collect()
    assert got[0].h == 0
    dialect.sql(spark, "drop view v_rv")


def test_review3_window_inheritance_executes(spark, wh):
    """Round-12 review: inheritance must survive to EXECUTION — the
    WINDOW-clause definition itself is expanded (Spark cannot parse
    `w2 AS (w1 ORDER BY ...)`), for both rewritten compound aggregates
    and native window functions."""
    got = dialect.sql(
        spark,
        "select k, min_by(k, v, 2) over w2 as mk, sum(k) over w2 as sk "
        "from dml_fx "
        "window w1 as (partition by g), w2 as (w1 order by v) "
        "order by k",
    ).collect()
    assert [r.k for r in got] == [1, 2, 3, 4, 5]
    assert got[2].mk == [1, 3] and got[2].sk == 4  # g='a': k=1 then 3
    # use-site inheritance on a native function
    got = {
        r.k: r.s
        for r in dialect.sql(
            spark,
            "select k, sum(v) over (w1 order by k) as s from dml_fx "
            "window w1 as (partition by g)",
        ).collect()
    }
    assert got[3] == 40.0 and got[1] == 10.0  # g='a' running sums


def test_review3_offset_limit_order_and_spliced_params(spark, wh):
    got = [
        r[0]
        for r in dialect.sql(
            spark, "select k from dml_fx order by k offset 2 rows limit 2"
        ).collect()
    ]
    assert got == [3, 4]
    dialect.sql(
        spark,
        "prepare q_pg from select k from dml_fx order by k "
        "offset ? rows fetch first ? rows only",
    )
    got = [
        r[0]
        for r in dialect.sql(spark, "execute q_pg using 1, 2").collect()
    ]
    assert got == [2, 3]


def test_review4_view_replace_semantics(spark, wh):
    """Round-12 second review: (a) a replaced view's DEPENDENTS see
    the replacement immediately; (b) a view replaced to depend on a
    LATER-created view still shows base DML (resolution by name at
    read, not creation order); (c) an output alias sharing the view's
    name is NOT a self-reference; (d) a mutual cycle created by
    replace swaps errors loudly."""
    dialect.sql(spark, "create table t_r4 as select k, g, v from dml_fx")
    dialect.sql(spark, "create view v_r4a as select k, v from t_r4")
    dialect.sql(spark, "create view v_r4b as select k, v from t_r4")
    # (b)+(a): re-point the EARLIER view at the later one, then mutate
    dialect.sql(
        spark, "create or replace view v_r4a as select k, v from v_r4b"
    )
    dialect.sql(spark, "insert into t_r4 select 99, 'z', 9.0 from dml_fx "
                       "where k = 1")
    assert (99, 9.0) in _state(spark, "v_r4a")  # stale before the fix
    # (a) direct: replacing the base view shows through the dependent
    dialect.sql(
        spark,
        "create or replace view v_r4b as select k, v from t_r4 "
        "where k % 2 = 1",
    )
    assert all(k % 2 == 1 for k, _ in _state(spark, "v_r4a"))
    # (c) same-named output alias is legal, on create AND on replace
    dialect.sql(
        spark,
        "create view daily_total as select g, sum(v) as daily_total "
        "from t_r4 group by g",
    )
    dialect.sql(
        spark,
        "create or replace view daily_total as select g, "
        "sum(v) + 0 as daily_total from t_r4 group by g",
    )
    # genuine self-reference still refuses
    with pytest.raises(ValueError, match="references itself"):
        dialect.sql(
            spark,
            "create or replace view daily_total as "
            "select g, daily_total from daily_total",
        )
    # (d) mutual cycle via swap errors loudly on the replace
    with pytest.raises(ValueError, match="cyclic"):
        dialect.sql(
            spark, "create or replace view v_r4b as select k, v from v_r4a"
        )


def test_show_create_table_and_view(spark, wh):
    dialect.sql(
        spark,
        "create table t_sc with (partitioned_by = array['g']) as "
        "select k, v, g from dml_fx",
    )
    dialect.sql(spark, "create view v_sc as select k from t_sc")
    ddl = dialect.sql(spark, "show create table t_sc").collect()[0][0]
    assert "CREATE TABLE t_sc" in ddl
    assert "k bigint" in ddl and "g varchar" in ddl
    assert "partitioned_by = ARRAY['g']" in ddl
    vddl = dialect.sql(spark, "show create view v_sc").collect()[0][0]
    assert vddl.startswith("CREATE VIEW v_sc AS")
    assert "select k from t_sc" in vddl
    with pytest.raises(ValueError, match="not a DML-created view"):
        dialect.sql(spark, "show create view nope")
    with pytest.raises(ValueError, match="not a writable table"):
        dialect.sql(spark, "show create table dml_fx")


def test_create_table_declared_schema(spark, wh):
    """Round 13 (VERDICT r12 #1): plain schema-only CREATE TABLE."""
    dialect.sql(
        spark,
        "create table t_decl (k bigint, name varchar COMMENT 'n', "
        "price decimal(10,2), g varchar) "
        "with (partitioned_by = array['g'])",
    )
    assert spark.table("t_decl").columns == ["k", "name", "price", "g"]
    assert spark.table("t_decl").count() == 0
    # idempotent under IF NOT EXISTS, refuses without
    dialect.sql(spark, "create table if not exists t_decl (k bigint)")
    with pytest.raises(ValueError, match="already exists"):
        dialect.sql(spark, "create table t_decl (k bigint)")
    # INSERT casts to the DECLARED types (incl. the partition column)
    dialect.sql(
        spark,
        "insert into t_decl values (1, 'a', 2.5, 'x'), (2, 'b', 3.75, 'y')",
    )
    got = _state(spark, "t_decl")
    assert [(r[0], r[1], float(r[2]), r[3]) for r in got] == [
        (1, "a", 2.5, "x"),
        (2, "b", 3.75, "y"),
    ]
    # declared column order survives the partitioned re-read
    assert spark.table("t_decl").columns == ["k", "name", "price", "g"]
    # SHOW CREATE round-trips the DECLARED DDL without the
    # reconstructed caveat
    ddl = dialect.sql(spark, "show create table t_decl").collect()[0][0]
    assert "reconstructed" not in ddl
    assert "k bigint" in ddl and "price decimal(10,2)" in ddl
    assert "partitioned_by = ARRAY['g']" in ddl
    # ... and the emitted DDL is itself runnable
    dialect.sql(spark, "drop table t_decl")
    dialect.sql(spark, ddl)
    assert spark.table("t_decl").columns == ["k", "name", "price", "g"]


def test_create_table_declared_refusals(spark, wh):
    with pytest.raises(ValueError, match="NOT NULL"):
        dialect.sql(spark, "create table t_nn (k bigint not null)")
    with pytest.raises(ValueError, match="duplicate column"):
        dialect.sql(spark, "create table t_dup (k bigint, K varchar)")
    with pytest.raises(ValueError, match="not among the declared"):
        dialect.sql(
            spark,
            "create table t_np2 (k bigint) "
            "with (partitioned_by = array['g'])",
        )
    with pytest.raises(ValueError, match="cannot parse column type"):
        dialect.sql(spark, "create table t_bt (k array(bigint))")
    with pytest.raises(ValueError, match="unsupported column type"):
        dialect.sql(spark, "create table t_bt2 (k uuid)")
    with pytest.raises(ValueError, match="column-NAME list"):
        dialect.sql(spark, "create table t_ta (k bigint) as select 1")
    with pytest.raises(ValueError, match="trailing text"):
        dialect.sql(spark, "create table t_tr (k bigint) garbage here")


def test_ctas_column_name_list(spark, wh):
    dialect.sql(
        spark,
        "create table t_cn (a, b) as select k, g from dml_fx where k <= 2",
    )
    assert spark.table("t_cn").columns == ["a", "b"]
    assert _state(spark, "t_cn") == [(1, "a"), (2, "b")]
    with pytest.raises(ValueError, match="names 3 column"):
        dialect.sql(spark, "create table t_cm (a, b, c) as select 1, 2")


def test_alter_add_column_star_view_guard(spark, wh):
    """ADVICE r12: ADD COLUMN under a dependent `select *` view must
    not grow the view — Trino views pin their columns at creation, and
    so do Spark SQL views."""
    dialect.sql(spark, "create table t_ag as select k, g from dml_fx")
    dialect.sql(spark, "create view v_ag_star as select * from t_ag")
    dialect.sql(spark, "create view v_ag_cols as select k from t_ag")
    dialect.sql(spark, "alter table t_ag add column extra bigint")
    assert spark.table("t_ag").columns == ["k", "g", "extra"]
    star = dialect.sql(spark, "select * from v_ag_star")
    assert star.columns == ["k", "g"]
    assert star.count() == 5
    dialect.sql(spark, "drop view v_ag_star")
    assert dialect.sql(spark, "select k from v_ag_cols").count() == 5
    # and under an aggregate view
    dialect.sql(spark, "create view v_ag_cnt as select count(*) as n from t_ag")
    dialect.sql(spark, "alter table t_ag add column extra2 bigint")
    assert "extra2" in spark.table("t_ag").columns


def test_concurrent_dml_catalog_listing(spark, wh):
    """Round 13 (VERDICT r12 #7): catalog enumeration vs concurrent
    DML mutation.  The engine's catalog mutations and enumerations now
    serialize on session.CATALOG_LOCK, so listTables-during-DROP can
    no longer die with PARSE_EMPTY_STATEMENT (the class the removed
    3-attempt retry papered over).  8 threads × create/insert/drop +
    SHOW TABLES + schema-classed SELECTs, several rounds."""
    from concurrent.futures import ThreadPoolExecutor

    def churn(i):
        t = f"t_cc_{i}"
        dialect.sql(spark, f"drop table if exists {t}")
        dialect.sql(
            spark, f"create table {t} as select k, v from dml_fx"
        )
        dialect.sql(spark, f"insert into {t} select k + 10, v from dml_fx")
        dialect.sql(spark, "show tables").collect()
        # a `/` makes each SELECT analyze its typing probe
        n = dialect.sql(
            spark, f"select sum(k / 2) as s from {t}"
        ).collect()[0][0]
        dialect.sql(spark, f"drop table {t}")
        return n

    for _round in range(3):
        with ThreadPoolExecutor(max_workers=8) as pool:
            results = list(pool.map(churn, range(8)))
        assert results == [37] * 8  # sum(k div 2) over 1..5 and 11..15


def test_correlated_subquery_dml_matrix(spark, wh):
    """VERDICT r12 #4: correlated/uncorrelated subqueries in UPDATE SET,
    IN/EXISTS in DELETE WHERE, and subquery AND-conditions in MERGE
    WHEN, each executed as the SAME statement text natively in DuckDB
    (MERGE via its equivalent UPDATE — DuckDB has no MERGE) on the same
    starting rows."""
    import duckdb

    seed_spark = (
        "create table {t} as select * from (values "
        "(1, cast(10.0 as double)), (2, 20.0), (3, 30.0), (4, 40.0)"
        ") as t(k, v)"
    )
    seed_src = (
        "create table {t} as select * from (values "
        "(1, cast(100.0 as double)), (3, 300.0), (5, 500.0)"
        ") as t(k, w)"
    )

    def run_both(stmt, duck_stmt=None):
        dialect.sql(spark, "drop table if exists sub_t")
        dialect.sql(spark, "drop table if exists sub_s")
        dialect.sql(spark, seed_spark.format(t="sub_t"))
        dialect.sql(spark, seed_src.format(t="sub_s"))
        dialect.sql(spark, stmt)
        got = _state(spark, "sub_t")
        con = duckdb.connect()
        con.sql(seed_spark.format(t="sub_t").replace(") as t(", ") t("))
        con.sql(seed_src.format(t="sub_s").replace(") as t(", ") t("))
        con.sql(duck_stmt or stmt)
        want = sorted(
            tuple(r) for r in con.sql("select * from sub_t").fetchall()
        )
        assert got == want, (stmt, got, want)

    # UPDATE: uncorrelated + correlated scalar subquery in SET,
    # with and without WHERE (the CASE splice), IN-subquery in WHERE
    run_both("update sub_t set v = (select max(w) from sub_s)")
    run_both(
        "update sub_t set v = "
        "(select max(w) from sub_s where sub_s.k = sub_t.k)"
    )
    run_both(
        "update sub_t set v = "
        "(select max(w) from sub_s where sub_s.k = sub_t.k) where k < 3"
    )
    run_both(
        "update sub_t set v = v + 1 "
        "where k in (select k from sub_s)"
    )
    # subquery-aware SET comma split: subquery RHS next to a second
    # assignment in the same SET list
    run_both(
        "update sub_t set v = (select min(w) from sub_s), "
        "k = k + 10 where k = 2"
    )
    # DELETE: correlated EXISTS / NOT IN
    run_both(
        "delete from sub_t where exists "
        "(select 1 from sub_s where sub_s.k = sub_t.k)"
    )
    run_both(
        "delete from sub_t where k not in "
        "(select k from sub_s where k < 4)"
    )
    # MERGE: uncorrelated scalar and correlated EXISTS AND-conditions
    # (DuckDB equivalent: UPDATE-from-join with the same predicate)
    run_both(
        "merge into sub_t using sub_s on sub_t.k = sub_s.k "
        "when matched and sub_t.v < (select avg(w) from sub_s) "
        "then update set v = sub_s.w",
        duck_stmt=(
            "update sub_t set v = sub_s.w from sub_s "
            "where sub_t.k = sub_s.k "
            "and sub_t.v < (select avg(w) from sub_s)"
        ),
    )
    run_both(
        "merge into sub_t using sub_s on sub_t.k = sub_s.k "
        "when matched and exists (select 1 from sub_s s2 "
        "where s2.k = sub_t.k) then update set v = sub_s.w * 2",
        duck_stmt=(
            "update sub_t set v = sub_s.w * 2 from sub_s "
            "where sub_t.k = sub_s.k and exists "
            "(select 1 from sub_s s2 where s2.k = sub_t.k)"
        ),
    )


def test_create_table_like(spark, wh):
    """Round 13: CREATE TABLE (LIKE t [INCLUDING PROPERTIES]) splices
    the source's columns, mixable with plain definitions; INCLUDING
    PROPERTIES carries the source's partitioned_by."""
    dialect.sql(
        spark,
        "create table t_src with (partitioned_by = array['g']) as "
        "select k, g, v from dml_fx",
    )
    # plain LIKE: columns only, no partitioning carried
    dialect.sql(spark, "create table t_l1 (like t_src)")
    df = dialect.sql(spark, "select * from t_l1")
    assert df.columns == ["k", "g", "v"] and df.count() == 0
    assert session.state(spark, "dml_tables")["t_l1"].part_col is None
    # INCLUDING PROPERTIES carries partitioned_by
    dialect.sql(
        spark, "create table t_l2 (like t_src including properties)"
    )
    assert session.state(spark, "dml_tables")["t_l2"].part_col == "g"
    dialect.sql(spark, "insert into t_l2 select k, g, v from dml_fx")
    assert _live_dirs(spark, "t_l2", "g=a")
    # mixed with plain definitions, and an explicit partitioned_by wins
    dialect.sql(
        spark,
        "create table t_l3 (id bigint, like t_src including properties, "
        "note varchar) with (partitioned_by = array['note'])",
    )
    df = dialect.sql(spark, "select * from t_l3")
    assert df.columns == ["id", "k", "g", "v", "note"]
    assert session.state(spark, "dml_tables")["t_l3"].part_col == "note"
    # duplicate column via LIKE refuses
    with pytest.raises(ValueError, match="duplicate column"):
        dialect.sql(spark, "create table t_l4 (k bigint, like t_src)")
    # unknown source refuses loudly
    with pytest.raises(ValueError, match="cannot be read"):
        dialect.sql(spark, "create table t_l5 (like nope_t)")


def test_alter_view_rename_and_namespace_statements(spark, wh):
    """Round 13 grammar completions: ALTER VIEW RENAME TO, SHOW
    SCHEMAS, and loud single-namespace refusals for CREATE/DROP SCHEMA
    and REFRESH MATERIALIZED VIEW."""
    dialect.sql(spark, "create table t_avr as select k, v from dml_fx")
    dialect.sql(spark, "create view v_avr as select k from t_avr where k > 2")
    dialect.sql(spark, "alter view v_avr rename to v_avr2")
    assert [r[0] for r in _state(spark, "v_avr2")] == [3, 4, 5]
    with pytest.raises(Exception, match="TABLE_OR_VIEW_NOT_FOUND|not found"):
        dialect.sql(spark, "select * from v_avr").collect()
    # the renamed view still refreshes through later DML
    dialect.sql(spark, "delete from t_avr where k = 5")
    assert [r[0] for r in _state(spark, "v_avr2")] == [3, 4]
    # a view with dependents refuses the rename
    dialect.sql(spark, "create view v_dep as select * from v_avr2")
    with pytest.raises(ValueError, match="reference it"):
        dialect.sql(spark, "alter view v_avr2 rename to v_x")
    # renaming a table via ALTER VIEW refuses with redirect
    with pytest.raises(ValueError, match="ALTER TABLE RENAME"):
        dialect.sql(spark, "alter view t_avr rename to t_y")
    # other ALTER VIEW arms refuse with guidance
    with pytest.raises(ValueError, match="CREATE OR REPLACE VIEW"):
        dialect.sql(spark, "alter view v_avr2 set authorization bob")
    # SHOW SCHEMAS is a REAL listing since round 14; default is always
    # present (exact namespace lifecycle is covered by
    # test_schema_namespace_lifecycle)
    assert ("default",) in {
        tuple(r) for r in dialect.sql(spark, "show schemas").collect()
    }
    with pytest.raises(ValueError, match="re-running"):
        dialect.sql(spark, "refresh materialized view mv")


def test_flat_view_follows_fixture_reload(spark, wh):
    """A flat view over a fixture resolves it by name at every read, so
    ``load_tables`` re-pointing the fixtures at another scale factor
    shows through (a view pinned at creation kept counting the old
    scale factor's rows)."""
    from sparketl.tables import load_tables
    from tests.conftest import SF_DIR, SF_SMOKE_DIR

    load_tables(spark, SF_SMOKE_DIR)
    try:
        dialect.sql(spark, "create view v_fx_n as select count(*) as n from orders")
        load_tables(spark, SF_DIR)
        want = dialect.sql(spark, "select count(*) as n from orders").collect()
        got = dialect.sql(spark, "select n from v_fx_n").collect()
        assert got[0].n == want[0].n
    finally:
        load_tables(spark, SF_DIR)
        dialect.sql(spark, "drop view if exists v_fx_n")


def test_flat_view_over_qualified_view_sees_dml(spark, wh):
    """A flat view over a qualified view shows DML on the qualified
    view's base — the base is named only inside the qualified view."""
    dialect.sql(spark, "drop schema if exists sqvv cascade")
    dialect.sql(spark, "create schema sqvv")
    dialect.sql(spark, "create table sqvv.t as select k from dml_fx")
    dialect.sql(spark, "create view sqvv.v as select k from sqvv.t")
    dialect.sql(spark, "create view fv_sqvv as select count(*) as n from sqvv.v")
    dialect.sql(spark, "insert into sqvv.t select 99")
    want = dialect.sql(spark, "select count(*) as n from sqvv.v").collect()
    assert want[0].n == 6
    assert dialect.sql(spark, "select n from fv_sqvv").collect() == want
    dialect.sql(spark, "drop view fv_sqvv")
    dialect.sql(spark, "drop schema sqvv cascade")


def test_drop_qualified_view_refuses_flat_dependents(spark, wh):
    """DROP VIEW s.v refuses while a flat view names it, as DROP TABLE
    and the flat DROP VIEW do, and DROP SCHEMA CASCADE refuses before
    dropping anything; after the flat view goes, both succeed."""
    dialect.sql(spark, "drop schema if exists sqdv cascade")
    dialect.sql(spark, "create schema sqdv")
    dialect.sql(spark, "create table sqdv.t as select k from dml_fx")
    dialect.sql(spark, "create view sqdv.v as select k from sqdv.t")
    dialect.sql(spark, "create view fv_sqdv as select k from sqdv.v")
    with pytest.raises(ValueError, match="fv_sqdv"):
        dialect.sql(spark, "drop view sqdv.v")
    with pytest.raises(ValueError, match="CASCADE.*fv_sqdv"):
        dialect.sql(spark, "drop schema sqdv cascade")
    assert "sqdv.v" in session.state(spark, "dml_views")
    assert "sqdv.t" in session.state(spark, "dml_tables")
    assert _state(spark, "fv_sqdv") == [(1,), (2,), (3,), (4,), (5,)]
    dialect.sql(spark, "drop view fv_sqdv")
    dialect.sql(spark, "drop view sqdv.v")
    assert not spark.catalog.tableExists("sqdv.v")
    dialect.sql(spark, "drop schema sqdv cascade")


def test_alter_view_rename_broken_body_leaves_catalogs_untouched(spark, wh):
    """ADVICE r13: ALTER VIEW RENAME analyzes the stored body BEFORE
    mutating either catalog — a body broken by an external base-table
    drop must leave the view intact under its OLD name in both the DML
    view dict and the Spark temp-view catalog."""
    dialect.sql(spark, "create table t_avrb as select k from dml_fx")
    dialect.sql(spark, "create view v_avrb as select k from t_avrb")
    # break the body OUTSIDE the engine (the engine's own DROP TABLE
    # refuses while dependent views exist)
    spark.catalog.dropTempView("t_avrb")
    with pytest.raises(Exception, match="TABLE_OR_VIEW_NOT_FOUND|not found"):
        dialect.sql(spark, "alter view v_avrb rename to v_avrb2")
    views = session.state(spark, "dml_views")
    assert "v_avrb" in views and "v_avrb2" not in views
    assert spark.catalog.tableExists("v_avrb")
    assert not spark.catalog.tableExists("v_avrb2")
    # restore the base and confirm the old name still works end-to-end
    dialect.sql(spark, "create table t_avrb2 as select k from dml_fx")
    spark.table("t_avrb2").createOrReplaceTempView("t_avrb")
    assert dialect.sql(spark, "select count(*) as c from v_avrb").collect()[
        0
    ].c > 0
    dialect.sql(spark, "drop view v_avrb")
    dialect.sql(spark, "drop table t_avrb2")
    spark.catalog.dropTempView("t_avrb")


def test_schema_namespace_lifecycle(spark, wh):
    """Round 14 (VERDICT r13 #2): the two-level namespace end to end —
    CREATE SCHEMA, qualified CTAS/INSERT/UPDATE/DELETE/MERGE/ALTER,
    catalog-prefixed spellings, USE resolution order, SHOW forms, and
    the DROP SCHEMA RESTRICT/CASCADE semantics."""
    dialect.sql(spark, "drop schema if exists nsl cascade")
    dialect.sql(spark, "drop schema if exists nsl2 cascade")
    dialect.sql(spark, "create schema nsl")
    dialect.sql(spark, "create schema if not exists nsl")
    with pytest.raises(ValueError, match="already exists"):
        dialect.sql(spark, "create schema nsl")
    schemas = {r[0] for r in dialect.sql(spark, "show schemas").collect()}
    assert {"default", "nsl"} <= schemas
    # qualified CTAS + the full DML arm set
    dialect.sql(spark, "create table nsl.t as select k, g, v from dml_fx")
    dialect.sql(spark, "insert into nsl.t values (9, 'z', 90.0)")
    dialect.sql(spark, "update nsl.t set v = v + 1 where k = 9")
    dialect.sql(spark, "delete from nsl.t where k = 5")
    dialect.sql(
        spark,
        "merge into nsl.t as t using (select 1 as mk) m on t.k = mk "
        "when matched then update set v = 0.0",
    )
    got = {r[0]: r[2] for r in _state(spark, "nsl.t")}
    assert got[9] == 91.0 and got[1] == 0.0 and 5 not in got
    # catalog-prefixed spelling reaches the same table (SELECT + DML)
    assert dialect.sql(
        spark, "select count(*) as c from sparketl.nsl.t"
    ).collect()[0].c == len(got)
    with pytest.raises(ValueError, match="unknown catalog"):
        dialect.sql(spark, "insert into hive.nsl.t values (1, 'x', 1.0)")
    # SELECT-path unknown catalogs fail loudly in Spark's own analyzer
    with pytest.raises(Exception, match="hive"):
        dialect.sql(spark, "select 1 from hive.nsl.t").collect()
    # a second schema; cross-schema join
    dialect.sql(spark, "create schema nsl2")
    dialect.sql(
        spark, "create table nsl2.u as select k, v as w from nsl.t"
    )
    n = dialect.sql(
        spark,
        "select count(*) as c from nsl.t join nsl2.u using (k)",
    ).collect()[0].c
    assert n == len(got)
    # ALTER on qualified names, including a cross-name RENAME
    dialect.sql(spark, "alter table nsl2.u add column tag varchar")
    dialect.sql(spark, "alter table nsl2.u rename to nsl2.u2")
    assert dialect.sql(
        spark, "select count(*) as c from nsl2.u2 where tag is null"
    ).collect()[0].c == n
    # SHOW TABLES FROM / DESCRIBE / SHOW CREATE on qualified names
    assert [tuple(r) for r in dialect.sql(
        spark, "show tables from nsl2"
    ).collect()] == [("u2",)]
    cols = [r[0] for r in dialect.sql(spark, "describe nsl2.u2").collect()]
    assert cols == ["k", "w", "tag"]
    assert "nsl2.u2" in dialect.sql(
        spark, "show create table nsl2.u2"
    ).collect()[0][0]
    # USE: unqualified names resolve flat-first, then current schema
    dialect.sql(spark, "use nsl2")
    try:
        assert dialect.sql(
            spark, "select count(*) as c from u2"
        ).collect()[0].c == n
        # a flat name still shadows (documented Spark-order divergence)
        assert dialect.sql(
            spark, "select count(*) as c from dml_fx"
        ).collect()[0].c == 5
        # CTAS of a new unqualified name lands in the current schema
        dialect.sql(spark, "create table c_here as select 1 as one")
        assert dml.table_path(spark, "nsl2.c_here")
    finally:
        dialect.sql(spark, "use default")
    with pytest.raises(ValueError, match="does not exist"):
        dialect.sql(spark, "use nope_schema")
    # DROP SCHEMA: RESTRICT refuses while non-empty; CASCADE removes
    # tables through the engine path; default is undroppable
    with pytest.raises(ValueError, match="SCHEMA_NOT_EMPTY"):
        dialect.sql(spark, "drop schema nsl2")
    dialect.sql(spark, "drop schema nsl2 cascade")
    assert not spark.catalog.databaseExists("nsl2")
    assert "nsl2.u2" not in session.state(spark, "dml_tables")
    with pytest.raises(ValueError, match="cannot be dropped"):
        dialect.sql(spark, "drop schema default")
    dialect.sql(spark, "drop table nsl.t")
    dialect.sql(spark, "drop schema nsl")  # empty now: RESTRICT ok
    assert "nsl" not in {
        r[0] for r in dialect.sql(spark, "show schemas").collect()
    }
    # qualified references to a missing schema refuse with guidance
    with pytest.raises(ValueError, match="CREATE SCHEMA"):
        dialect.sql(spark, "create table nsl.zzz as select 1 as one")


def test_schema_namespace_partitioned_and_classing(spark, wh):
    """Qualified PARTITIONED tables: partition-last rule (Trino hive
    parity), pruned copy-on-write via per-partition catalog locations, and
    a `/` over qualified columns typed integral."""
    dialect.sql(spark, "drop schema if exists nsp cascade")
    dialect.sql(spark, "create schema nsp")
    with pytest.raises(ValueError, match="LAST"):
        dialect.sql(
            spark,
            "create table nsp.bad with (partitioned_by = array['g']) "
            "as select k, g, v from dml_fx",
        )
    dialect.sql(
        spark,
        "create table nsp.p with (partitioned_by = array['g']) "
        "as select k, v, g from dml_fx",
    )
    dialect.sql(spark, "delete from nsp.p where g = 'a'")
    assert sorted(
        (r.g or "") for r in dialect.sql(spark, "select g from nsp.p").collect()
    ) == ["", "b", "c"]
    dialect.sql(spark, "insert into nsp.p values (7, 70.0, 'c')")
    assert dialect.sql(
        spark, "select count(*) as c from nsp.p where g = 'c'"
    ).collect()[0].c == 2
    # a qualified column types its `/` like any other
    assert dialect.sql(
        spark, "select k / 2 as h from nsp.p where k = 7"
    ).collect()[0].h == 3
    dialect.sql(spark, "drop schema nsp cascade")


def test_schema_namespace_qualified_views(spark, wh):
    """Round 14: CREATE VIEW <schema>.<v> is a real Spark catalog view
    — re-analyzed per read (tracks later DML), flat-base refusal,
    SHOW forms, DROP SCHEMA member accounting, and the documented
    lazy-dependency divergence from flat views."""
    dialect.sql(spark, "drop schema if exists nsv cascade")
    dialect.sql(spark, "create schema nsv")
    dialect.sql(spark, "create table nsv.t as select k, v from dml_fx")
    dialect.sql(
        spark,
        "create view nsv.v as select k, v * 2 as w from nsv.t where k <= 4",
    )
    assert {(r.k, r.w) for r in dialect.sql(
        spark, "select * from nsv.v"
    ).collect()} == {(1, 20.0), (2, 40.0), (3, 60.0), (4, 80.0)}
    # the catalog re-analyzes per read: later DML is visible
    dialect.sql(spark, "delete from nsv.t where k = 2")
    assert {r.k for r in dialect.sql(
        spark, "select * from nsv.v"
    ).collect()} == {1, 3, 4}
    # OR REPLACE; plain CREATE over an existing name refuses
    dialect.sql(
        spark, "create or replace view nsv.v as select k from nsv.t"
    )
    assert [c.lower() for c in dialect.sql(
        spark, "select * from nsv.v"
    ).columns] == ["k"]
    with pytest.raises(ValueError, match="already exists"):
        dialect.sql(spark, "create view nsv.v as select 1 as one")
    # a body over the flat (temp-view) namespace refuses with guidance
    with pytest.raises(ValueError, match="schema-qualified"):
        dialect.sql(spark, "create view nsv.bad as select k from dml_fx")
    # SHOW forms see it; SHOW CREATE round-trips the ORIGINAL text
    assert ("v",) in {
        tuple(r)
        for r in dialect.sql(spark, "show tables from nsv").collect()
    }
    assert "select k from nsv.t" in dialect.sql(
        spark, "show create view nsv.v"
    ).collect()[0][0]
    # RESTRICT drop counts the view as a member
    dialect.sql(spark, "drop table nsv.t")  # lazy break, per contract
    with pytest.raises(ValueError, match="SCHEMA_NOT_EMPTY"):
        dialect.sql(spark, "drop schema nsv")
    dialect.sql(spark, "drop view nsv.v")
    dialect.sql(spark, "drop schema nsv")
    # DROP VIEW IF EXISTS on a gone qualified name is a no-op
    dialect.sql(spark, "create schema nsv")
    dialect.sql(spark, "drop view if exists nsv.v")
    dialect.sql(spark, "drop schema nsv")


def test_describe_input_output_prepared(spark, wh):
    """Round 14: Trino DESCRIBE INPUT (one (position, type) row per ?,
    0-based, literal-masked) and DESCRIBE OUTPUT (analyzed result
    schema in Trino's column shape — never executed; a DML statement
    reports the single bigint 'rows' column)."""
    dialect.sql(spark, "create table t_dio as select k, v from dml_fx")
    dialect.sql(
        spark,
        "prepare p_dio from select k, v * ? as s, '?' as lit from t_dio "
        "where k > ?",
    )
    got = [tuple(r) for r in dialect.sql(
        spark, "describe input p_dio"
    ).collect()]
    # two real parameters; the '?' inside the string literal is NOT one
    assert got == [(0, "unknown"), (1, "unknown")]
    out = [tuple(r) for r in dialect.sql(
        spark, "describe output p_dio"
    ).collect()]
    assert [(r[0], r[4]) for r in out] == [
        ("k", "bigint"), ("s", "double"), ("lit", "varchar")
    ]
    # DML statement: Trino's DML result shape, and nothing executes
    dialect.sql(spark, "prepare p_dio_d from delete from t_dio where k = ?")
    out = [tuple(r) for r in dialect.sql(
        spark, "describe output p_dio_d"
    ).collect()]
    assert [(r[0], r[4]) for r in out] == [("rows", "bigint")]
    assert dialect.sql(
        spark, "select count(*) as c from t_dio"
    ).collect()[0].c == 5
    # zero-parameter INPUT is an empty set, as in Trino
    dialect.sql(spark, "prepare p_dio_0 from select 1 as one")
    assert dialect.sql(spark, "describe input p_dio_0").collect() == []
    with pytest.raises(ValueError, match="no prepared statement"):
        dialect.sql(spark, "describe output nope_stmt")


def test_merge_qualified_target_spellings(spark, wh):
    """ADVICE r14 #1: MERGE was the only DML arm whose target skipped
    _canon — every qualified/current-schema spelling of the target must
    resolve exactly like INSERT/DELETE/UPDATE do."""
    dialect.sql(spark, "drop schema if exists nsm cascade")
    dialect.sql(spark, "create schema nsm")
    dialect.sql(spark, "create table nsm.t as select k, v from dml_fx")

    def _v(k):
        return dialect.sql(
            spark, f"select v from nsm.t where k = {k}"
        ).collect()[0][0]

    # catalog-prefixed target
    dialect.sql(
        spark,
        "merge into sparketl.nsm.t as t using (select 1 as mk) m "
        "on t.k = mk when matched then update set v = 111.0",
    )
    assert _v(1) == 111.0
    # whitespace around the qualifying dot
    dialect.sql(
        spark,
        "merge into nsm . t as t using (select 2 as mk) m "
        "on t.k = mk when matched then update set v = 222.0",
    )
    assert _v(2) == 222.0
    # USE + unqualified target resolves to the current schema
    dialect.sql(spark, "use nsm")
    try:
        dialect.sql(
            spark,
            "merge into t using (select 3 as mk) m "
            "on t.k = mk when matched then update set v = 333.0",
        )
    finally:
        dialect.sql(spark, "use default")
    assert _v(3) == 333.0
    # default.<flat table> canonicalizes to the flat namespace
    dialect.sql(spark, "create table mflat as select k, v from dml_fx")
    dialect.sql(
        spark,
        "merge into default.mflat as t using (select 4 as mk) m "
        "on t.k = mk when matched then update set v = 444.0",
    )
    assert dialect.sql(
        spark, "select v from mflat where k = 4"
    ).collect()[0][0] == 444.0
    dialect.sql(spark, "drop table mflat")
    dialect.sql(spark, "drop schema nsm cascade")


def test_translate_prefix_strip_is_alias_aware(spark, wh):
    """ADVICE r14 #2: the sparketl./default. catalog-prefix strip must
    not rewrite references through a table ALIAS that happens to be
    named `sparketl` or `default`."""
    # no alias declared: the catalog prefix strips (both spellings)
    assert "sparketl" not in dialect.translate(
        "select * from sparketl.nsq.t"
    )
    assert (
        dialect.translate("select default.k from default.tt")
        == "select k from tt"
    )
    # an alias DECLARATION of the same word disables the strip
    kept = dialect.translate(
        "select sparketl.k from dml_fx as sparketl "
        "join dml_fx u on sparketl.k = u.k"
    )
    assert "sparketl.k" in kept and "as sparketl" in kept
    # and the aliased query still executes with alias resolution intact
    assert dialect.sql(
        spark,
        "select count(*) as c from dml_fx as sparketl "
        "join dml_fx u on sparketl.k = u.k",
    ).collect()[0].c == 5


def test_drop_if_exists_absorbs_missing_schema(spark, wh):
    """ADVICE r14 #3: DROP TABLE/VIEW IF EXISTS s.t succeeds as a
    no-op when schema s was never created (Trino); without IF EXISTS
    the missing schema still refuses loudly."""
    assert dialect.sql(
        spark, "drop table if exists never_made.t"
    ).collect()[0][0] == 0
    assert dialect.sql(
        spark, "drop view if exists never_made.v"
    ).collect()[0][0] == 0
    with pytest.raises(ValueError, match="CREATE SCHEMA"):
        dialect.sql(spark, "drop table never_made.t")
    with pytest.raises(ValueError, match="CREATE SCHEMA"):
        dialect.sql(spark, "drop view never_made.v")
    # an unknown CATALOG is not absorbed (Trino CATALOG_NOT_FOUND)
    with pytest.raises(ValueError, match="unknown catalog"):
        dialect.sql(spark, "drop table if exists hive.s.t")


def test_drop_schema_restrict_sees_stray_catalog_tables(spark, wh):
    """ADVICE r14 #4: RESTRICT must refuse when the schema holds a
    table registered OUTSIDE the DML route (e.g. saveAsTable) — the
    engine registries alone would let the spark-level cascade silently
    delete it."""
    dialect.sql(spark, "drop schema if exists nstray cascade")
    dialect.sql(spark, "create schema nstray")
    spark.createDataFrame([(1,)], "a long").write.saveAsTable(
        "nstray.outsider"
    )
    try:
        with pytest.raises(ValueError, match="nstray.outsider"):
            dialect.sql(spark, "drop schema nstray restrict")
    finally:
        dialect.sql(spark, "drop schema nstray cascade")
    assert not spark.catalog.databaseExists("nstray")


def test_namespace_lifecycle_edge_matrix(spark, wh):
    """Round 15 (VERDICT r14 #5): the interaction edges the namespace
    grammar allows, each pinned as working behavior or a loud refusal.
    Covers: qualified view ON a qualified view in another schema,
    DROP SCHEMA CASCADE whose tables back other schemas' views (lazy
    break for QUALIFIED dependents; atomic refusal for FLAT
    dependents), cross-schema ALTER TABLE RENAME, and USE +
    unqualified resolution vs raw temp views."""
    dialect.sql(spark, "use default")
    for s in ("ea", "eb"):
        dialect.sql(spark, f"drop schema if exists {s} cascade")
    dialect.sql(spark, "create schema ea")
    dialect.sql(spark, "create schema eb")
    dialect.sql(spark, "create table ea.t as select k, v from dml_fx")

    # 1. qualified view chained onto a qualified view in ANOTHER schema
    dialect.sql(spark, "create view ea.v1 as select k, v from ea.t where k >= 2")
    dialect.sql(spark, "create view eb.v2 as select k from ea.v1 where k <= 4")
    assert sorted(
        r.k for r in dialect.sql(spark, "select * from eb.v2").collect()
    ) == [2, 3, 4]

    # 2a. CASCADE with QUALIFIED dependents elsewhere: succeeds (lazy,
    # Trino-style) and the dependent view then errors at read
    dialect.sql(spark, "drop schema ea cascade")
    with pytest.raises(Exception, match="v1|not.*found|NOT_FOUND"):
        dialect.sql(spark, "select * from eb.v2").collect()
    dialect.sql(spark, "drop view eb.v2")

    # 2b. CASCADE with a FLAT dependent view: refuses ATOMICALLY —
    # no member table is dropped before the refusal (round 15, the
    # mid-cascade partial-drop fix)
    dialect.sql(spark, "create schema ea")
    dialect.sql(spark, "create table ea.b1 as select 1 as k")
    dialect.sql(spark, "create table ea.b2 as select 2 as k")
    dialect.sql(spark, "create view fdep as select k from ea.b2")
    with pytest.raises(ValueError, match="CASCADE.*fdep|fdep.*reference"):
        dialect.sql(spark, "drop schema ea cascade")
    # both members intact — the statement touched nothing
    assert dialect.sql(spark, "select k from ea.b1").collect()[0].k == 1
    assert dialect.sql(spark, "select k from ea.b2").collect()[0].k == 2
    dialect.sql(spark, "drop view fdep")

    # 3. ALTER TABLE RENAME ACROSS schemas moves table + data
    dialect.sql(spark, "alter table ea.b1 rename to eb.moved")
    assert dialect.sql(
        spark, "select count(*) as c from eb.moved"
    ).collect()[0].c == 1
    assert "ea.b1" not in session.state(spark, "dml_tables")
    with pytest.raises(Exception):
        dialect.sql(spark, "select * from ea.b1").collect()
    # ... but refuses toward a MISSING schema
    with pytest.raises(ValueError, match="CREATE SCHEMA"):
        dialect.sql(spark, "alter table eb.moved rename to nope_s.moved")

    # 4. USE + unqualified resolution: a RAW temp view (outside the
    # engine registries) shadows READS (Spark's analyzer order, the
    # documented divergence) while WRITES resolve to the current
    # schema (Trino's own resolution — raw temp views are not
    # writable tables, so the DML route never targets them)
    dialect.sql(spark, "create table eb.shad as select 100 as k")
    spark.createDataFrame([(7,)], "k long").createOrReplaceTempView("shad")
    dialect.sql(spark, "use eb")
    try:
        assert [r.k for r in dialect.sql(spark, "select * from shad").collect()] == [7]
        dialect.sql(spark, "insert into shad values (8)")
        assert sorted(
            r.k for r in dialect.sql(spark, "select * from eb.shad").collect()
        ) == [8, 100]
    finally:
        dialect.sql(spark, "use default")
        spark.catalog.dropTempView("shad")
    for s in ("ea", "eb"):
        dialect.sql(spark, f"drop schema if exists {s} cascade")


def test_explain_analyze_dml_write_metrics(spark, wh):
    """Round 15 (VERDICT r14 #7): EXPLAIN ANALYZE of a DML statement
    executes it and reports the write-side story (rows affected,
    files/bytes written, partitions touched, write strategy) instead
    of refusing — one declared-shape assertion per statement kind."""

    def ea(stmt):
        df = dialect.sql(spark, f"explain analyze {stmt}")
        assert df.columns == ["query_plan"]
        return df.collect()[0][0]

    out = ea(
        "create table eat as select * from (values "
        "(1,'a',1.5),(2,'b',2.5),(3,'a',3.5)) as t(k,g,v)"
    )
    assert "CREATE TABLE eat" in out and "rows affected: 3" in out
    assert "initial table write" in out

    out = ea("insert into eat values (9,'c',9.5)")
    assert "rows affected: 1" in out
    assert "append — no existing file rewritten" in out
    assert "files removed: 0" in out

    out = ea("update eat set v = 0.0 where g = 'a'")
    assert "rows affected: 2" in out
    assert "full copy-on-write overwrite" in out
    assert "unpartitioned table" in out

    out = ea("delete from eat where k = 99")
    assert "rows affected: 0" in out and "no-op" in out

    out = ea("delete from eat where k = 9")
    assert "rows affected: 1" in out
    assert "full copy-on-write overwrite" in out

    # partitioned target: MERGE reports its probe-side pruning —
    # only the matched partition's files are rewritten
    dialect.sql(
        spark,
        "create table eap with (partitioned_by = array['g']) as "
        "select k, v, g from eat",
    )
    out = ea(
        "merge into eap t using (select 2 as mk) m on t.k = mk "
        "when matched then update set v = 7.0"
    )
    assert "MERGE eap" in out and "rows affected: 1" in out
    assert "partitions touched: 1 of 2 [g=b]" in out
    assert "pruned copy-on-write" in out

    out = ea("truncate table eat")
    assert "TRUNCATE eat" in out

    # statements without a table target report kind + rows only
    out = ea("create view eav as select k from eap")
    assert "no write-side metrics" in out
    dialect.sql(spark, "drop view eav")
    dialect.sql(spark, "drop table eap")
    dialect.sql(spark, "drop table eat")

    # plain EXPLAIN of DML still refuses (unchanged contract)
    with pytest.raises(ValueError, match="EXPLAIN of a DML"):
        dialect.sql(spark, "explain delete from dml_fx where k = 1")


def test_partitioned_statement_scans_prune(spark, wh):
    """Round 15 (VERDICT r14 #6): the statement paths' scans over a
    partitioned target must carry PartitionFilters — the `(pred) IS
    TRUE` wrapper and the coalesce(membership, false) belt both
    BLANKED them (measured 3.4s full scan vs 0.3s pruned at 1,000
    partitions).  Pins the shared _match_scan shape and the
    _write_back rewrite shape as plans, so a future wrapper that
    re-blanks pruning fails the suite, not a benchmark."""
    from pyspark.sql import functions as F

    from sparketl.operators.etl import _part_membership

    dialect.sql(
        spark,
        "create table t_prg with (partitioned_by = array['g']) as "
        "select k, v, g from dml_fx where g is not null",
    )

    def part_filters(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        import re as _re

        m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m is not None, plan
        return m.group(1)

    # the UPDATE/DELETE positive-match scan prunes on the predicate
    pf = part_filters(dml._match_scan(spark, "t_prg", "g = 'a' and k < 3"))
    assert "g" in pf and pf.strip() != "", pf
    # the _write_back rewrite shape prunes on the membership literal
    final = dialect.sql(
        spark,
        "select k, case when (g = 'a' and k < 3) is true then 0.0 "
        "else v end as v, g from t_prg",
    )
    pf = part_filters(final.where(_part_membership("g", {"a"})))
    assert "g" in pf and pf.strip() != "", pf
    # and a no-predicate match scan is simply the full scan
    assert dml._match_scan(spark, "t_prg", None).count() == 4
    dialect.sql(spark, "drop table t_prg")
