"""Declared queries exercising the Presto-dialect SQL front door
(sparketl.dialect; SURVEY.md §2.9 + §8 candidate 1).

The query text below is *Presto* SQL — exactly what a user of the
reference tool would have in their pipeline repo — executed through
``dialect.sql()``.  The oracle is independent native DuckDB SQL, so
the gate proves the whole chain: Presto text → translate → Spark plan
→ results equal to a second engine's native semantics.
"""

from __future__ import annotations

from sparketl import dialect
from sparketl.registry import query
from sparketl.tables import load_tables

# Presto-dialect text: every line with a trailing comment exercises a
# documented §2.9 divergence the translator must fix.
_PRESTO_TEXT = """
    select o.o_orderkey,
           date_diff('day', cast(o.o_orderdate as timestamp),
                     cast(l.l_shipdate as timestamp))            as ship_days,
           day_of_week(o.o_orderdate)                            as dow_iso,
           strpos(o.o_orderpriority, '-')                        as dash_pos,
           element_at(split(o.o_orderpriority, '-'), 1)          as prio_code,
           element_at(split(o.o_orderpriority, '-'), 99)         as oob_null,
           format('%s/%s', o.o_orderstatus, l.l_returnflag)      as tag,
           truncate(cast(o.o_totalprice as double) / 1000)       as price_k,
           to_unixtime(cast(o.o_orderdate as timestamp))         as epoch_s,
           cast(date_add('month', 2, o.o_orderdate) as date)     as plus2m
    from orders o
    join lineitem l
      on o.o_orderkey = l.l_orderkey
    where o.o_orderkey < 300
"""


@query(
    "sql_presto_dialect",
    oracle="""
        select o.o_orderkey,
               date_diff('day', cast(o.o_orderdate as timestamp),
                         cast(l.l_shipdate as timestamp))        as ship_days,
               cast(isodow(o.o_orderdate) as integer)            as dow_iso,
               cast(strpos(o.o_orderpriority, '-') as integer)   as dash_pos,
               string_split(o.o_orderpriority, '-')[1]           as prio_code,
               string_split(o.o_orderpriority, '-')[99]          as oob_null,
               printf('%s/%s', o.o_orderstatus, l.l_returnflag)  as tag,
               trunc(cast(o.o_totalprice as double) / 1000)      as price_k,
               epoch(cast(o.o_orderdate as timestamp))           as epoch_s,
               -- strftime: DuckDB DATE reaches pandas as datetime64
               -- (canonicalizes with a time part) while Spark DATE
               -- stays a date; the string form matches Spark's
               -- date isoformat exactly
               strftime(o.o_orderdate + interval 2 month, '%Y-%m-%d') as plus2m
        from orders o
        join lineitem l
          on o.o_orderkey = l.l_orderkey
        where o.o_orderkey < 300
    """,
)
def sql_presto_dialect(spark, sf_dir):
    """Presto-dialect front door, end-to-end: the §2.9 divergence
    rewrites (date_diff/date_add arg order, ISO day_of_week, literal
    split delimiter, NULL-on-out-of-bounds element_at, strpos, format,
    truncate, to_unixtime) over an orders⋈lineitem join, oracle'd by
    native DuckDB SQL.

    Scale: the translated text plans exactly like hand-written Spark
    SQL — same Catalyst pipeline, same pushdowns; translation is a
    driver-side string pass, O(query length), zero runtime cost.
    """
    load_tables(spark, sf_dir)  # register the named views
    return dialect.sql(spark, _PRESTO_TEXT)


# Presto-dialect text exercising INTEGER `/` (round 11, VERDICT r10
# #1): Presto truncates int/int toward zero where Spark's `/` returns
# double — resolved at the front door by Spark's own types of each
# operand (dialect "Typing by probe").  The truncating faces cover a
# literal, a column pair, a unary-minus chain, a multiplicative chain,
# left-assoc double division, a %-chain, CASE typing, an integral
# function, and TRY(int/int) (NULL on zero-divide).  The fractional
# faces prove genuine double division stays `/` (8e0 spelling, not 8.0 —
# Spark parses the dotted literal as DECIMAL, whose canonical
# rendering differs from DuckDB's DOUBLE: the tpch_q22 note).
_INTDIV_TEXT = """
    select o_orderkey,
           o_orderkey / 7                                    as key_div7,
           o_orderkey / (o_custkey + 1)                      as key_per_cust,
           -o_orderkey / 4                                   as neg_div,
           o_orderkey * 3 / 5                                as chain_mul_div,
           o_orderkey / 2 / 3                                as double_div,
           o_orderkey % 5 / 2                                as mod_div,
           case when o_custkey > 500 then o_orderkey
                else o_custkey end / 10                      as case_div,
           length(o_orderstatus) / 2                         as len_div,
           try(o_orderkey / 0)                               as try_div0,
           round(o_totalprice / 100, 6)                      as price_pct,
           round(o_orderkey / 8e0, 6)                        as key_octile,
           round(2e0 * o_orderkey / 16, 6)                   as promoted_chain
    from orders
    where o_orderkey < 5000
"""


@query(
    "sql_int_division",
    oracle="""
        select o_orderkey,
               o_orderkey // 7                                   as key_div7,
               o_orderkey // (o_custkey + 1)                     as key_per_cust,
               (-o_orderkey) // 4                                as neg_div,
               o_orderkey * 3 // 5                               as chain_mul_div,
               o_orderkey // 2 // 3                              as double_div,
               o_orderkey % 5 // 2                               as mod_div,
               case when o_custkey > 500 then o_orderkey
                    else o_custkey end // 10                     as case_div,
               length(o_orderstatus) // 2                        as len_div,
               cast(null as bigint)                              as try_div0,
               round(o_totalprice / 100, 6)                      as price_pct,
               round(o_orderkey / 8e0, 6)                        as key_octile,
               round(2e0 * o_orderkey / 16, 6)                   as promoted_chain
        from orders
        where o_orderkey < 5000
    """,
)
def sql_int_division(spark, sf_dir):
    """Presto integer `/` through the typed front door (round 11,
    VERDICT r10 #1).  DuckDB grades with its `//` operator —
    verified truncating-toward-zero over integers ((-7)//2 = -3), an
    independent implementation of Presto's semantics — while the
    fractional faces keep `/` on both engines.  TRY(int/int) grades
    the NULL-on-zero-divide contract (`try_cast(try_divide(..) as
    bigint)` — dialect's TRY(a / b) marker typed integral).

    Scale: translation is a driver-side string pass plus one analysis
    of the typing probe (never run); the translated
    text plans identically to hand-written Spark SQL (`div` is a
    codegen'd JVM integral divide — one scan, zero shuffles here)."""
    load_tables(spark, sf_dir)
    return dialect.sql(spark, _INTDIV_TEXT)


_RECURSIVE_TEXT = """
    with recursive cal(m) as (
        select cast('1995-01-01' as date)
        union all
        select cast(m + interval '1' month as date) from cal
        where m < cast('1996-12-01' as date)
    ),
    rev as (
        select cast(date_trunc('month', o_orderdate) as date) as m,
               count(*) as n_orders,
               round(sum(cast(round(o_totalprice * 100) as bigint))
                     / cast(100 as double), 2) as revenue
        from orders
        where o_orderkey % 97 = 0
          and month(o_orderdate) <> 3
          and o_orderdate >= cast('1995-01-01' as timestamp)
          and o_orderdate < cast('1997-01-01' as timestamp)
        group by 1
    )
    select cast(cal.m as string) as month,
           coalesce(rev.n_orders, 0) as n_orders,
           coalesce(rev.revenue, 0.0) as revenue
    from cal left join rev on rev.m = cal.m
"""


@query(
    "sql_recursive_gapfill",
    oracle="""
        with recursive cal(m) as (
            select cast('1995-01-01' as date)
            union all
            select cast(m + interval '1' month as date) from cal
            where m < cast('1996-12-01' as date)
        ),
        rev as (
            select cast(date_trunc('month', o_orderdate) as date) as m,
                   count(*) as n_orders,
                   round(sum(cast(round(o_totalprice * 100) as bigint))
                         / cast(100 as double), 2) as revenue
            from orders
            where o_orderkey % 97 = 0
              and month(o_orderdate) <> 3
              and o_orderdate >= cast('1995-01-01' as timestamp)
              and o_orderdate < cast('1997-01-01' as timestamp)
            group by 1
        )
        select strftime(cal.m, '%Y-%m-%d') as month,
               coalesce(rev.n_orders, 0) as n_orders,
               coalesce(rev.revenue, 0.0) as revenue
        from cal left join rev on rev.m = cal.m
    """,
)
def sql_recursive_gapfill(spark, sf_dir):
    """WITH RECURSIVE (Presto/Trino + Spark 4 SQL surface): a
    recursive monthly calendar gap-filled against a sparse revenue
    aggregate — the canonical reporting pattern where missing months
    must appear as zero rows, which no plain GROUP BY can produce.
    The sparse slice (every 97th order, Marches excluded — the same
    deterministic-plant idiom as curation._EVAL_PRED) guarantees both
    zero months AND populated months at every fixture SF, so the fill
    path is always exercised, never vacuously green.  Dates render as strings on both engines (§5
    determinism rule; DuckDB DATE reaches pandas as datetime64).

    Spark 4 executes recursive CTEs natively but accepts only UNION
    ALL recursion (probed live: UNION raises
    UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE) — a monotone-bounded series
    like this terminates by construction; cyclic closure over an
    arbitrary graph does NOT fit UNION ALL recursion and stays on the
    iterative DataFrame loop (llm_dedup_components), which is also
    the 100-TB-correct shape for it.

    Scale: the recursion generates 24 driver-side rows (a LocalRelation
    unioned 24 times — metadata, not data); the aggregate is a plain
    map-side-combinable groupBy; the gap-fill join broadcasts the
    24-row calendar.  Calendar dimensions at any horizon are
    metadata-sized, so this plan is scan-bound at 100 TB."""
    load_tables(spark, sf_dir)
    return spark.sql(_RECURSIVE_TEXT)


@query(
    "sql_trino_isms",
    oracle="""
        select o_orderkey,
               o_totalprice as price,
               o_orderpriority as prio,
               array_to_string(list(cast(o_orderkey as varchar)) over w,
                               ',') as win_keys
        from orders
        window w as (partition by o_orderstatus order by o_orderkey
                     rows between 1 preceding and current row)
        order by o_orderkey
        limit 40 offset 5
    """,
)
def sql_trino_isms(spark, sf_dir):
    """#2.9 round-12 Trino-ism bundle, one statement through
    ``dialect.sql()``: ``OFFSET n FETCH NEXT k ROWS ONLY`` (→ LIMIT k
    OFFSET n — Spark wants the clauses in the opposite order), the
    ``CAST(ROW(...) AS ROW(name type, ...))`` field-naming idiom (→
    struct cast; the face projects scalar fields back OUT of the
    struct so the oracle compares plain columns), ordered
    ``array_agg(...) OVER`` a NAMED WINDOW resolved from the statement
    WINDOW clause, and window inheritance — against DuckDB's native
    windowed list() over the same named window.

    Scale: pure projection + one bounded-frame window over
    o_orderstatus; LIMIT/OFFSET fuse into a single
    TakeOrderedAndProject-class plan after the global sort."""
    load_tables(spark, sf_dir)
    return dialect.sql(
        spark,
        """
        select o_orderkey,
               cast(row(o_totalprice, o_orderpriority)
                    as row(p double, pr varchar)).p as price,
               cast(row(o_totalprice, o_orderpriority)
                    as row(p double, pr varchar)).pr as prio,
               array_join(array_agg(cast(o_orderkey as varchar)
                                 order by o_orderkey) over (w), ',')
                   as win_keys
        from orders
        window w as (partition by o_orderstatus order by o_orderkey
                     rows between 1 preceding and current row)
        order by o_orderkey
        offset 5 rows fetch next 40 rows only
        """,
    )


@query(
    "sql_ties_exclude",
    oracle="""
        select o_custkey, c_neighbors, s_int from (
            select o_custkey, o_orderpriority,
                   count(*) over w as c_neighbors,
                   cast(sum(o_orderkey % 100) over w as bigint) as s_int
            from orders
            where o_orderkey < 2000
            window w as (partition by o_orderstatus
                         order by o_orderdate, o_orderkey
                         rows between 3 preceding and 3 following
                         exclude current row)
        )
        qualify rank() over (order by o_orderpriority) <= 20
    """,
)
def sql_ties_exclude(spark, sf_dir):
    """#2.9 round-13 SELECT-side additions in one statement through
    ``dialect.sql()``: ``FETCH FIRST k ROWS WITH TIES`` (→ rank() <= k
    over the ORDER BY key, tie-extended — the low-cardinality priority
    key guarantees the extension actually fires at every SF) and
    window frame ``EXCLUDE CURRENT ROW`` on exact carriers carried by
    a NAMED window (inlined into both owning aggregates, then composed
    per owner: count(*) − 1; integer-sum − own contribution).  The
    DuckDB oracle runs its NATIVE EXCLUDE clause and QUALIFY rank() —
    an independent engine computing both semantics natively.

    Scale: one bounded-frame window pass partitioned by status plus
    one global rank for the tie-extended limit (the rank's single
    partition is fine: its input is the FILTERED slice, and Trino's
    own WITH TIES is a global sort too)."""
    load_tables(spark, sf_dir)
    return dialect.sql(
        spark,
        """
        select o_custkey,
               count(*) over w as c_neighbors,
               cast(sum(o_orderkey % 100) over w as bigint) as s_int
        from orders
        where o_orderkey < 2000
        window w as (partition by o_orderstatus
                     order by o_orderdate, o_orderkey
                     rows between 3 preceding and 3 following
                     exclude current row)
        order by o_orderpriority
        fetch first 20 rows with ties
        """,
    )


_GROUPS_TEXT = """
    select user_id, event_id,
           sum(cents) over (
               partition by user_id order by hr
               groups between 1 preceding and 1 following) as adj_sum,
           count(*) over (
               partition by user_id order by hr
               groups between unbounded preceding and current row)
               as run_rows,
           count(*) over (
               partition by user_id order by hr
               groups between 1 preceding and 1 following
               exclude group) as adj_other_rows
    from (
        select user_id, event_id,
               cast(round(value * 100) as bigint) as cents,
               date_trunc('hour', ts) as hr
        from events
    ) e
"""


@query(
    "sql_groups_frame",
    oracle="""
        select user_id, event_id,
               cast(sum(cents) over (
                   partition by user_id order by g
                   range between 1 preceding and 1 following)
                   as bigint) as adj_sum,
               count(*) over (
                   partition by user_id order by g
                   range between unbounded preceding and current row)
                   as run_rows,
               count(*) over (
                   partition by user_id order by g
                   range between 1 preceding and 1 following
                   exclude group) as adj_other_rows
        from (
            select user_id, event_id, cents,
                   dense_rank() over (
                       partition by user_id order by hr) as g
            from (
                select user_id, event_id,
                       cast(round(value * 100) as bigint) as cents,
                       date_trunc('hour', ts) as hr
                from events
            )
        )
    """,
)
def sql_groups_frame(spark, sf_dir):
    """SQL:2011 GROUPS frame mode through the SQL front door (round
    15, VERDICT r14 #2 — the last refusing SQL:2011 frame class).
    The pasted Trino text carries three GROUPS shapes — a bounded
    ±1-groups frame, an unbounded-to-current running frame, and a
    bounded frame with EXCLUDE GROUP — which the translator rewrites
    definitionally: dense_rank() over the window ORDER BY in an
    injected derived table, then the same bounds as a RANGE frame on
    the rank (frame membership is identical — group-position distance
    ≡ dense-rank distance), with the EXCLUDE composing through the
    rank-RANGE peer frame (= the peer group).  Neither Spark nor
    DuckDB parses GROUPS; the oracle runs the same definitional
    formulation spelled by hand with DuckDB's NATIVE exclude clause.
    Engine-side twin: win_groups_frame* (operators/windows.py, §2
    #160).

    Scale: all three frames share partitionBy(user_id), so Catalyst
    plans ONE exchange for the rank stage and the frame stage re-sorts
    within partitions without reshuffling; the bounded rank frames
    buffer only adjacent groups."""
    load_tables(spark, sf_dir)
    return dialect.sql(spark, _GROUPS_TEXT)
