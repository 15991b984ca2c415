"""Declared queries exercising the Trino DML statement front door
(sparketl.dml; round 12, VERDICT r11 #1).

Each face runs REAL Trino statement text through ``dialect.sql()`` —
CREATE TABLE AS / INSERT INTO / DELETE / UPDATE / MERGE INTO against a
scratch parquet table — then returns the table's FINAL STATE (re-read
from disk, not from any in-memory frame).  The oracle is a final-state
CTE in native DuckDB SQL computing the same end state functionally
from the fixture tables, so the gate proves statement parsing, the
copy-on-write write-backs, AND the statement semantics (positional /
named INSERT columns, DELETE's predicate-IS-TRUE rule, UPDATE's
old-row evaluation, MERGE's first-satisfied-clause order) in one
hash-exact compare.

Every face drops + recreates its scratch table, so runs are
idempotent; table names carry the face name to avoid cross-face
clashes under the concurrent bench pool.

Scale: the engine-side costs are the ones the module docstring of
sparketl.dml states — INSERT appends part files, DELETE / UPDATE /
MERGE write new directories for only the partitions containing
touched rows when the target is partitioned and publish the table's
next version (``sparketl.manifest``, the format merge_apply writes
too), and pay a full rewrite on unpartitioned targets.  The faces cover
both: sql_delete/sql_merge_into run against partitioned targets (the
pruned path incl. emptied-partition handling), sql_insert_into and
sql_update against unpartitioned ones.
"""

from __future__ import annotations

import os
import shutil

from sparketl import dialect, dml
from sparketl.registry import query
from sparketl.sources.connectors import _scratch_dir
from sparketl.tables import load_tables

# exact-money rounding shape shared with sink_merge_upsert's oracle
_MONEY_SPARK = (
    "round(sum(cast(round({c} * 100) as bigint)) / cast(100 as double), 6)"
)


def _setup(spark, sf_dir, face: str) -> None:
    load_tables(spark, sf_dir)
    # per-PROCESS warehouse: the driver's gate, the pytest oracle
    # sweep, and a user's shell can run the same face CONCURRENTLY in
    # separate processes — a shared deterministic directory lets one
    # process overwrite the table files another is mid-read on
    # (observed as a flaky sql_merge_into mismatch when check.py and
    # the full pytest overlapped).  In-process concurrency is safe
    # without this: the writable catalog keys tables by name.
    base = _scratch_dir(sf_dir, f"dml_{face}_{os.getpid()}")
    # reap warehouses left by DEAD processes (alive ones may be
    # mid-run — removing theirs would reintroduce the race)
    parent, prefix = os.path.dirname(base), f"dml_{face}_"
    if os.path.isdir(parent):
        for d in os.listdir(parent):
            pid = d[len(prefix) :]
            if (
                d.startswith(prefix)
                and d != os.path.basename(base)
                and pid.isdigit()
                and not _pid_alive(int(pid))
            ):
                shutil.rmtree(os.path.join(parent, d), ignore_errors=True)
    dml.set_base_dir(spark, base)


def _pid_alive(pid: int) -> bool:
    """Portable liveness probe — /proc existence would report every
    pid dead on non-procfs platforms (macOS) and reap LIVE processes'
    warehouses (round-12 review).  kill(pid, 0) sends no signal;
    EPERM means alive-but-not-ours."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _run(spark, *stmts: str):
    out = None
    for s in stmts:
        out = dialect.sql(spark, s)
    return out


@query(
    "sql_insert_into",
    oracle="""
        with base as (
            select cast(n_nationkey as bigint) as k, n_name as name,
                   cast(n_regionkey as bigint) as rk
            from nation
        ),
        ins_positional as (
            select cast(c_custkey + 1000 as bigint), c_name,
                   cast(c_nationkey as bigint)
            from customer where c_custkey <= 50
        ),
        ins_named as (
            select cast(s_suppkey + 9000 as bigint), s_name,
                   cast(null as bigint)
            from supplier where s_suppkey <= 20
        ),
        final as (
            select * from base
            union all select * from ins_positional
            union all select * from ins_named
        )
        select k, name, rk from final
    """,
)
def sql_insert_into(spark, sf_dir):
    """#2.9 Trino ``INSERT INTO`` through the statement front door:
    positional-column insert (arity-checked, values cast to the target
    types) and named-column-list insert (unnamed columns filled with
    NULL), both appended to a CTAS-created parquet table; the face
    returns the table re-read from disk.

    Scale: INSERT is a pure append — new part files only, no rewrite
    of existing data; the new files are published as the next
    version, so a self-referencing INSERT reads the version it
    extends.
    """
    _setup(spark, sf_dir, "ins")
    _run(
        spark,
        "drop table if exists dml_ins",
        """create table dml_ins as
           select cast(n_nationkey as bigint) as k, n_name as name,
                  cast(n_regionkey as bigint) as rk
           from nation""",
        """insert into dml_ins
           select c_custkey + 1000, c_name, c_nationkey
           from customer where c_custkey <= 50""",
        """insert into dml_ins (k, name)
           select s_suppkey + 9000, s_name
           from supplier where s_suppkey <= 20""",
    )
    return dialect.sql(spark, "select k, name, rk from dml_ins")


@query(
    "sql_ctas",
    oracle="""
        with created as (
            select o_orderkey, o_totalprice, o_orderpriority
            from orders where o_orderkey % 3 = 0
        )
        select o_orderpriority, count(*) as n_rows,
               round(sum(cast(round(o_totalprice * 100) as bigint))
                     / cast(100 as double), 6) as total_price
        from created
        group by o_orderpriority
    """,
)
def sql_ctas(spark, sf_dir):
    """#2.9 Trino ``CREATE TABLE ... WITH (partitioned_by =
    ARRAY['col']) AS <query>`` — the Hive-connector table property
    maps to a partitionBy parquet write; the face aggregates the table
    re-read from its partitioned directory layout.

    Scale: CTAS is one pass over the query result; partitioning at
    write time is what makes every later DELETE/UPDATE/MERGE on the
    table prunable to touched partitions.
    """
    _setup(spark, sf_dir, "ctas")
    _run(
        spark,
        "drop table if exists dml_ctas",
        """create table dml_ctas
           with (partitioned_by = array['o_orderpriority'],
                 format = 'PARQUET')
           as select o_orderkey, o_totalprice, o_orderpriority
              from orders where o_orderkey % 3 = 0""",
    )
    return dialect.sql(
        spark,
        f"""select o_orderpriority, count(*) as n_rows,
                   {_MONEY_SPARK.format(c="o_totalprice")} as total_price
            from dml_ctas group by o_orderpriority""",
    )


@query(
    "sql_create_table",
    oracle="""
        with ins_positional as (
            select cast(n_nationkey as bigint) as k, n_name as name,
                   cast(n_nationkey as double) * 1.5 as price,
                   case when n_regionkey % 2 = 0 then 'even'
                        else 'odd' end as g
            from nation
        ),
        ins_named as (
            select cast(s_suppkey + 100 as bigint), cast(null as varchar),
                   cast(null as double), 'sup'
            from supplier where s_suppkey <= 15
        ),
        final as (
            select * from ins_positional union all select * from ins_named
        )
        select g, count(*) as n_rows, sum(price) as total_price,
               cast(min(k) as bigint) as min_k,
               cast(max(k) as bigint) as max_k
        from final group by g
    """,
)
def sql_create_table(spark, sf_dir):
    """#2.9 plain schema-only ``CREATE TABLE t (col type, ...) WITH
    (partitioned_by = ARRAY['col'])`` — the empty-table DDL every ETL
    script leads with (round 13, VERDICT r12 #1) — followed by the
    INSERTs that fill it: a positional insert (values cast to the
    DECLARED types, including the partition column) and a named-column
    insert (unnamed columns NULL).  The face aggregates the final
    state re-read from the partitioned directory layout, proving the
    declared schema survives the empty-table → partition-directory
    transition and keeps the declared column order and types.

    Scale: the DDL is one O(1) driver-side manifest write with the
    schema and no data; the INSERTs are pure appends — no rewrite of
    existing data.
    """
    _setup(spark, sf_dir, "ct")
    _run(
        spark,
        "drop table if exists dml_ct",
        """create table dml_ct (
               k bigint,
               name varchar COMMENT 'display name',
               price double,
               g varchar
           ) with (partitioned_by = array['g'])""",
        """insert into dml_ct
           select n_nationkey, n_name,
                  cast(n_nationkey as double) * 1.5,
                  case when n_regionkey % 2 = 0 then 'even'
                       else 'odd' end
           from nation""",
        """insert into dml_ct (k, g)
           select s_suppkey + 100, 'sup'
           from supplier where s_suppkey <= 15""",
    )
    return dialect.sql(
        spark,
        """select g, count(*) as n_rows, sum(price) as total_price,
                  min(k) as min_k, max(k) as max_k
           from dml_ct group by g""",
    )


@query(
    "sql_delete",
    oracle="""
        with tgt as (
            select l_orderkey, l_linenumber, l_quantity, l_returnflag
            from lineitem where l_orderkey <= 1000
        ),
        final as (
            -- DELETE removes rows where the predicate IS TRUE; the
            -- l_linenumber = 1 rows (NULL predicate via nullif) stay
            select * from tgt
            where not coalesce(
                l_quantity / nullif(cast(l_linenumber as double) - 1, 0)
                    > 10,
                false)
        )
        select l_returnflag, count(*) as n_rows,
               cast(sum(cast(l_quantity as bigint)) as bigint) as qty
        from final
        group by l_returnflag
    """,
)
def sql_delete(spark, sf_dir):
    """#2.9 Trino ``DELETE FROM ... WHERE`` against a PARTITIONED
    parquet table: rows where the predicate evaluates NULL (here via
    nullif on the first line number) survive — Presto deletes only
    where it IS TRUE.  The write-back is the pruned copy-on-write:
    only partitions containing deleted rows get new directories, and a
    fully-emptied partition drops out of the table's next version.

    Scale: at 100 TB the rewrite cost is bounded by the touched
    partitions, not the table — the same directory-granular CoW shape
    Iceberg/Delta use at file granularity.
    """
    _setup(spark, sf_dir, "del")
    _run(
        spark,
        "drop table if exists dml_del",
        """create table dml_del
           with (partitioned_by = array['l_returnflag'])
           as select l_orderkey, l_linenumber, l_quantity, l_returnflag
              from lineitem where l_orderkey <= 1000""",
        """delete from dml_del
           where l_quantity / nullif(cast(l_linenumber as double) - 1, 0)
                 > 10""",
    )
    return dialect.sql(
        spark,
        """select l_returnflag, count(*) as n_rows,
                  cast(sum(cast(l_quantity as bigint)) as bigint) as qty
           from dml_del group by l_returnflag""",
    )


@query(
    "sql_update",
    oracle="""
        with tgt as (
            select p_partkey,
                   cast(p_size as bigint) as x,
                   cast(p_size + 10 as bigint) as y,
                   p_retailprice
            from part where p_partkey <= 400
        ),
        final as (
            -- every SET right-hand side sees the OLD row: x = y,
            -- y = x SWAPS; price scales from the old price
            select p_partkey,
                   case when p_partkey % 2 = 0 then y else x end as x,
                   case when p_partkey % 2 = 0 then x else y end as y,
                   case when p_partkey % 2 = 0
                        then round(p_retailprice * 1.1, 2)
                        else p_retailprice end as p_retailprice
            from tgt
        )
        select cast(sum(x) as bigint) as sum_x,
               cast(sum(y) as bigint) as sum_y,
               round(sum(cast(round(p_retailprice * 100) as bigint))
                     / cast(100 as double), 6) as total_price,
               count(*) as n_rows
        from final
    """,
)
def sql_update(spark, sf_dir):
    """#2.9 Trino ``UPDATE ... SET ... WHERE``: the assignment
    right-hand sides all evaluate against the OLD row (one projection,
    not sequential assignment) — ``SET x = y, y = x`` swaps, pinned by
    the oracle; a third assignment scales the price from the old
    price.  Unpartitioned target → the documented full copy-on-write.

    Scale: unpartitioned row-level UPDATE is a full rewrite — the
    honest plain-parquet cost; partition the table (sql_delete /
    sql_merge_into faces) to get the pruned path.
    """
    _setup(spark, sf_dir, "upd")
    _run(
        spark,
        "drop table if exists dml_upd",
        """create table dml_upd as
           select p_partkey, cast(p_size as bigint) as x,
                  cast(p_size + 10 as bigint) as y, p_retailprice
           from part where p_partkey <= 400""",
        """update dml_upd
           set x = y, y = x, p_retailprice = round(p_retailprice * 1.1, 2)
           where p_partkey % 2 = 0""",
    )
    return dialect.sql(
        spark,
        f"""select cast(sum(x) as bigint) as sum_x,
                   cast(sum(y) as bigint) as sum_y,
                   {_MONEY_SPARK.format(c="p_retailprice")} as total_price,
                   count(*) as n_rows
            from dml_upd""",
    )


@query(
    "sql_merge_into",
    oracle="""
        with tgt as (
            select o_orderkey, o_totalprice, o_orderpriority
            from orders where o_orderstatus = 'F'
        ),
        src as (
            select o_orderkey as k, o_totalprice as p,
                   o_orderpriority as pr
            from orders where o_orderkey % 7 = 0
        ),
        survivors as (
            -- clause order: matched & p > 200000 → DELETE, else
            -- matched → UPDATE price += p/10, unmatched target → keep
            select t.o_orderkey,
                   case when s.k is not null then t.o_totalprice + s.p / 10
                        else t.o_totalprice end as o_totalprice,
                   t.o_orderpriority
            from tgt t left join src s on t.o_orderkey = s.k
            where s.k is null or not (s.p > 200000)
        ),
        inserts as (
            select s.k, s.p, s.pr
            from src s
            where not exists (select 1 from tgt t where t.o_orderkey = s.k)
              and s.pr like '1-%'
        ),
        final as (
            select * from survivors union all select * from inserts
        )
        select o_orderpriority, count(*) as n_rows,
               round(sum(cast(round(o_totalprice * 100) as bigint))
                     / cast(100 as double), 6) as total_price
        from final
        group by o_orderpriority
    """,
)
def sql_merge_into(spark, sf_dir):
    """#148/#2.9 Trino ``MERGE INTO`` as STATEMENT TEXT (the engine
    face is sink_merge_upsert): subquery source with alias, matched
    DELETE with an AND condition, matched UPDATE as the later clause
    (first-satisfied-clause order), conditional NOT MATCHED INSERT
    with a column list.  Target is partitioned by priority → the
    pruned copy-on-write write-back.

    Scale: the source is ≪ target (the nightly-feed shape) and the
    multi-match guard is one tiny aggregate over the join; the rewrite
    is bounded by partitions containing matched/inserted rows —
    identical plan shape to the engine-face merge, now reachable from
    pasted statement text.
    """
    _setup(spark, sf_dir, "mrg")
    _run(
        spark,
        "drop table if exists dml_mrg",
        """create table dml_mrg
           with (partitioned_by = array['o_orderpriority'])
           as select o_orderkey, o_totalprice, o_orderpriority
              from orders where o_orderstatus = 'F'""",
        """merge into dml_mrg as t
           using (select o_orderkey as k, o_totalprice as p,
                         o_orderpriority as pr
                  from orders where o_orderkey % 7 = 0) as s
           on t.o_orderkey = s.k
           when matched and s.p > 200000 then delete
           when matched then update
                set o_totalprice = t.o_totalprice + s.p / 10
           when not matched and s.pr like '1-%' then
                insert (o_orderkey, o_totalprice, o_orderpriority)
                values (s.k, s.p, s.pr)""",
    )
    return dialect.sql(
        spark,
        f"""select o_orderpriority, count(*) as n_rows,
                   {_MONEY_SPARK.format(c="o_totalprice")} as total_price
            from dml_mrg group by o_orderpriority""",
    )


@query(
    "sql_update_subquery",
    oracle="""
        with tgt as (
            select cast(c_custkey as bigint) as c_custkey, c_acctbal,
                   cast(c_nationkey as bigint) as c_nationkey
            from customer where c_custkey <= 600
        ),
        upd as (
            -- UPDATE: correlated scalar subquery in SET, IN-subquery
            -- in WHERE
            select c_custkey,
                   case when c_custkey in (select o_custkey from orders
                                           where o_totalprice > 150000)
                        then c_acctbal + (select count(*) from orders o
                                          where o.o_custkey = tgt.c_custkey)
                        else c_acctbal end as c_acctbal,
                   c_nationkey
            from tgt
        ),
        del as (
            -- DELETE: correlated NOT EXISTS — survivors are rows where
            -- the predicate is not true
            select * from upd
            where not (not exists (select 1 from orders o
                                   where o.o_custkey = upd.c_custkey)
                       and c_acctbal < 500)
        ),
        mrg as (
            -- MERGE: scalar-subquery AND condition on the WHEN clause
            select del.c_custkey,
                   case when s.k is not null
                             and del.c_acctbal <
                                 (select max(c_acctbal) / 2 from customer)
                        then del.c_acctbal + s.cnt * 10
                        else del.c_acctbal end as c_acctbal,
                   del.c_nationkey
            from del left join (select o_custkey as k, count(*) as cnt
                                from orders group by o_custkey) s
              on del.c_custkey = s.k
        )
        select c_nationkey, count(*) as n_rows,
               round(sum(cast(round(c_acctbal * 100) as bigint))
                     / cast(100 as double), 6) as bal
        from mrg group by c_nationkey
    """,
)
def sql_update_subquery(spark, sf_dir):
    """#2.9 correlated-subquery DML matrix (VERDICT r12 #4) as pasted
    statement text: UPDATE with a CORRELATED scalar subquery in SET and
    an IN-subquery in WHERE; DELETE with a correlated NOT EXISTS;
    MERGE with a scalar-subquery AND condition on a WHEN MATCHED
    clause.  Every subquery rides Spark SQL's native decorrelation —
    the front door splices predicates/assignments verbatim into
    projections, so correlation resolves against the target's own FROM.

    Scale: Catalyst decorrelates each scalar/EXISTS subquery into a
    join on the correlation key (aggregated-build shapes), so the plan
    is joins + the copy-on-write write-back — no per-row re-execution.
    The MERGE threshold uses max()/2 (order-independent) so the
    condition is bit-deterministic across engines.
    """
    _setup(spark, sf_dir, "sub")
    _run(
        spark,
        "drop table if exists dml_sub",
        """create table dml_sub as
           select cast(c_custkey as bigint) as c_custkey, c_acctbal,
                  cast(c_nationkey as bigint) as c_nationkey
           from customer where c_custkey <= 600""",
        """update dml_sub
           set c_acctbal = c_acctbal +
               (select count(*) from orders o
                where o.o_custkey = dml_sub.c_custkey)
           where c_custkey in (select o_custkey from orders
                               where o_totalprice > 150000)""",
        """delete from dml_sub
           where not exists (select 1 from orders o
                             where o.o_custkey = dml_sub.c_custkey)
             and c_acctbal < 500""",
        """merge into dml_sub as t
           using (select o_custkey as k, count(*) as cnt
                  from orders group by o_custkey) as s
           on t.c_custkey = s.k
           when matched and t.c_acctbal <
                (select max(c_acctbal) / 2 from customer) then
                update set c_acctbal = t.c_acctbal + s.cnt * 10""",
    )
    return dialect.sql(
        spark,
        f"""select c_nationkey, count(*) as n_rows,
                   {_MONEY_SPARK.format(c="c_acctbal")} as bal
            from dml_sub group by c_nationkey""",
    )


@query(
    "sql_create_view",
    oracle="""
        with base as (
            select cast(n_nationkey as bigint) as k, n_name as name,
                   cast(n_regionkey as bigint) as rk
            from nation
            union all
            select cast(s_suppkey + 100 as bigint),
                   s_name, cast(s_nationkey as bigint)
            from supplier where s_suppkey <= 10
        ),
        -- the replaced view definition: even keys only, joined to region
        viewed as (
            select b.k, r.r_name
            from base b join region r on b.rk = r.r_regionkey
            where b.k % 2 = 0
        )
        select r_name, count(*) as n_rows,
               cast(min(k) as bigint) as min_k,
               cast(max(k) as bigint) as max_k
        from viewed group by r_name
    """,
)
def sql_create_view(spark, sf_dir):
    """#2.9 Trino ``CREATE [OR REPLACE] VIEW`` through the statement
    front door: a LOGICAL view over a DML table — Spark re-analyzes
    the body on every read, so the INSERT issued *after* CREATE VIEW
    shows through it (the oracle pins that), and CREATE OR REPLACE
    swaps the definition in place.  The face selects through the
    replaced view re-reading the post-INSERT table state.

    Scale: a view is a Spark SQL temp view over the body translated
    once at CREATE — no DML statement touches it, zero executor cost,
    no materialization; the read plan is the body's plan with full
    pushdown/pruning, identical to pasting the body inline.
    """
    _setup(spark, sf_dir, "view")
    _run(
        spark,
        "drop view if exists dml_v",
        "drop table if exists dml_vt",
        """create table dml_vt as
           select cast(n_nationkey as bigint) as k, n_name as name,
                  cast(n_regionkey as bigint) as rk
           from nation""",
        """create view dml_v as
           select b.k, r.r_name
           from dml_vt b join region r on b.rk = r.r_regionkey""",
        """insert into dml_vt
           select s_suppkey + 100, s_name, s_nationkey
           from supplier where s_suppkey <= 10""",
        """create or replace view dml_v as
           select b.k, r.r_name
           from dml_vt b join region r on b.rk = r.r_regionkey
           where b.k % 2 = 0""",
    )
    return dialect.sql(
        spark,
        """select r_name, count(*) as n_rows,
                  cast(min(k) as bigint) as min_k,
                  cast(max(k) as bigint) as max_k
           from dml_v group by r_name""",
    )


@query(
    "sql_alter_table",
    oracle="""
        with base as (
            select cast(p_partkey as bigint) as k, p_name as name,
                   p_retailprice as price
            from part where p_partkey <= 200
        ),
        -- ADD COLUMN tag (null for pre-existing rows), INSERT tagged
        -- rows, RENAME COLUMN price -> amount (values preserved by the
        -- rewrite), DROP COLUMN name, RENAME TO
        ins as (
            select cast(p_partkey + 1000 as bigint) as k, p_name as name,
                   p_retailprice * 2 as price, 'new' as tag
            from part where p_partkey <= 30
        ),
        final as (
            select k, price as amount, cast(null as varchar) as tag
            from base
            union all
            select k, price as amount, tag from ins
        )
        select tag, count(*) as n_rows,
               round(sum(cast(round(amount * 100) as bigint))
                     / cast(100 as double), 6) as total_amount,
               cast(min(k) as bigint) as min_k
        from final group by tag
    """,
)
def sql_alter_table(spark, sf_dir):
    """#2.9 Trino ``ALTER TABLE`` through the statement front door:
    ADD COLUMN (metadata-only — parquet readers null-fill the column
    for pre-existing part files, pinned by the NULL tag group), RENAME
    COLUMN (the honest full copy-on-write — parquet matches by name,
    so a metadata rename would null the column; values surviving the
    rename is what the oracle checks), DROP COLUMN (metadata-only
    projection), and RENAME TO (catalog-only).  The face reads the
    final state through the RENAMED table name.

    Scale: ADD/DROP COLUMN and RENAME TO are O(1) driver-side catalog
    edits regardless of table size — the 100 TB schema-evolution path;
    only RENAME COLUMN pays a rewrite, and the docstring/refusal text
    says so rather than hiding it.
    """
    _setup(spark, sf_dir, "alt")
    _run(
        spark,
        "drop table if exists dml_alt",
        "drop table if exists dml_alt2",
        """create table dml_alt as
           select cast(p_partkey as bigint) as k, p_name as name,
                  p_retailprice as price
           from part where p_partkey <= 200""",
        "alter table dml_alt add column tag varchar",
        """insert into dml_alt
           select p_partkey + 1000, p_name, p_retailprice * 2, 'new'
           from part where p_partkey <= 30""",
        "alter table dml_alt rename column price to amount",
        "alter table dml_alt drop column name",
        "alter table dml_alt rename to dml_alt2",
    )
    return dialect.sql(
        spark,
        f"""select tag, count(*) as n_rows,
                   {_MONEY_SPARK.format(c="amount")} as total_amount,
                   cast(min(k) as bigint) as min_k
            from dml_alt2 group by tag""",
    )


@query(
    "sql_schema_namespace",
    oracle="""
        with dim as (
            select cast(r_regionkey as bigint) as rk, r_name from region
        ),
        fact as (
            select cast(n_nationkey as bigint) as k, n_name as name,
                   cast(n_regionkey as bigint) as rk
            from nation
            where n_nationkey % 2 = 0
        )
        select f.k, f.name, d.r_name
        from fact f join dim d using (rk)
    """,
)
def sql_schema_namespace(spark, sf_dir):
    """#2.9 two-level namespace through the statement front door
    (round 14, VERDICT r13 #2): ``CREATE SCHEMA`` → CTAS into two
    schemas (one of them partitioned, exercising the catalog-table
    path: one partition LOCATION per live directory) → DML against a qualified name → ``DROP SCHEMA``
    refusing while non-empty (Trino SCHEMA_NOT_EMPTY, asserted
    in-face) → a cross-schema join read back through a
    catalog-qualified spelling.  Schemas are REAL Spark
    in-memory-catalog databases, so the qualified SELECT is native
    resolution — zero text rewriting, same parquet scan + pruning as
    the flat namespace.

    ``USE`` (session-scoped current schema) is covered in
    tests/test_dml.py rather than here: the bench runs faces
    CONCURRENTLY on one session, and USE mutates session-global state.

    Scale: CREATE/DROP SCHEMA are O(1) driver-side catalog edits;
    after each statement the qualified table is redeclared from its
    manifest, one ADD PARTITION ... LOCATION per live partition — no
    filesystem listing (_refresh_catalog_table).
    """
    _setup(spark, sf_dir, "ns")
    _run(
        spark,
        "drop schema if exists ns_dim cascade",
        "drop schema if exists ns_fact cascade",
        "create schema ns_dim",
        "create schema if not exists ns_fact",
        """create table ns_dim.region_d as
           select cast(r_regionkey as bigint) as rk, r_name from region""",
        """create table sparketl.ns_fact.nat
           with (partitioned_by = array['rk']) as
           select cast(n_nationkey as bigint) as k, n_name as name,
                  cast(n_regionkey as bigint) as rk
           from nation""",
        "delete from ns_fact.nat where k % 2 = 1",
    )
    try:
        dialect.sql(spark, "drop schema ns_dim")
        raise AssertionError(
            "DROP SCHEMA of a non-empty schema must refuse"
        )
    except ValueError as e:
        assert "SCHEMA_NOT_EMPTY" in str(e)
    return dialect.sql(
        spark,
        """select f.k, f.name, d.r_name
           from sparketl.ns_fact.nat f
           join ns_dim.region_d d using (rk)""",
    )
