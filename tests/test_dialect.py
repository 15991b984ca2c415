"""Presto-dialect translator tests (sparketl.dialect).

One unit test per rewrite rule (string-level), plus execution tests
that run translated Presto SQL on Spark and compare values against
DuckDB running the semantically-equal native query — the same bar as
the declared-query oracle gate.
"""

from __future__ import annotations

import pytest

from sparketl.dialect import _typed
from sparketl.dialect import sql as presto_sql
from sparketl.dialect import translate
from sparketl.tables import load_tables
from tests.conftest import SF_DIR


def _norm(s: str) -> str:
    return " ".join(s.split()).lower()


# ---------------------------------------------------------------------------
# string-level rules
# ---------------------------------------------------------------------------


def test_date_diff_unit_unquoted():
    assert _norm(translate("select date_diff('day', a, b)")) == (
        "select timestampdiff(day, a, b)"
    )


def test_date_diff_nested_and_case_insensitive():
    out = translate("select DATE_DIFF('HOUR', date_add('day', 1, t), u)")
    assert _norm(out) == "select timestampdiff(hour, timestampadd(day, 1, t), u)"


def test_date_add_non_literal_unit_untouched():
    # Spark's own 2-arg date_add must pass through
    assert _norm(translate("select date_add(d, 5)")) == "select date_add(d, 5)"


def test_day_of_week_iso():
    assert _norm(translate("select day_of_week(d)")) == "select (weekday(d) + 1)"
    assert _norm(translate("select dow(d)")) == "select (weekday(d) + 1)"


def test_day_name_family():
    assert _norm(
        translate(
            "select day_of_year(d), doy(d), day_of_month(d), week(d), "
            "week_of_year(d)"
        )
    ) == (
        "select dayofyear(d), dayofyear(d), dayofmonth(d), weekofyear(d), "
        "weekofyear(d)"
    )


def test_split_literal_delimiter_regex_escaped():
    # the regex-escape backslashes are DOUBLED in the emitted literal:
    # Spark's default parser processes escape sequences inside string
    # literals, so '\.' would reach the regex engine as '.' (any-char —
    # the round-8 raw-literal fix); '\\.' reaches it as the intended
    # escaped dot.
    assert translate("select split(s, '.')") == "select split(s, '\\\\.')"
    assert (
        translate("select split(s, '||')")
        == "select split(s, '\\\\|\\\\|')"
    )


def test_split_plain_delimiter_unchanged_value():
    assert translate("select split(s, '-')") == "select split(s, '-')"


def test_split_nonliteral_delimiter_quoted():
    out = translate("select split(s, d)")
    assert "\\\\Q" in out and "\\\\E" in out


def test_split_inside_string_untouched():
    assert translate("select 'split(s, .)'") == "select 'split(s, .)'"


def test_strpos_and_starts_with():
    assert _norm(translate("select strpos(s, '-'), starts_with(s, 'a')")) == (
        "select instr(s, '-'), startswith(s, 'a')"
    )


def test_format_family():
    out = translate("select format('%s', x), format_datetime(t, 'yyyy')")
    assert _norm(out) == (
        "select format_string('%s', x), date_format(t, 'yyyy')"
    )


def test_json_family():
    out = translate("select json_extract_scalar(j, '$.k'), json_extract(j, '$.k')")
    assert _norm(out) == (
        "select get_json_object(j, '$.k'), get_json_object(j, '$.k')"
    )


def test_element_at_try():
    out = translate("select element_at(a, 5), try_element_at(a, 5)")
    assert _norm(out) == "select try_element_at(a, 5), try_element_at(a, 5)"


def test_unixtime_round_trip():
    out = translate("select to_unixtime(t), from_unixtime(e)")
    assert _norm(out) == (
        "select (cast(unix_micros(t) as double) / 1000000.0), timestamp_seconds(e)"
    )


def test_truncate_toward_zero():
    assert _norm(translate("select truncate(x)")) == (
        "select (sign(x) * floor(abs(x)))"
    )


def test_constants_and_misc_names():
    out = translate(
        "select infinity(), nan(), is_nan(x), arbitrary(y), approx_distinct(z), "
        "contains(arr, 1), zip(a, b), levenshtein_distance(s, t)"
    )
    assert _norm(out) == (
        "select cast('infinity' as double), cast('nan' as double), isnan(x), "
        "any_value(y), approx_count_distinct(z), array_contains(arr, 1), "
        "arrays_zip(a, b), levenshtein(s, t)"
    )


def test_every_call_rule_is_in_the_docstring_inventory():
    """The module docstring's inventory names every call the translator
    rewrites, spelled as a Presto call."""
    import re

    from sparketl import dialect

    doc = dialect.__doc__
    inventory = doc[doc.index("Rewrite inventory") : doc.index("Already identical")]
    missing = [
        name
        for name in dialect._CALLS
        if not re.search(rf"(?<![\w.]){name}\(", inventory, re.IGNORECASE)
    ]
    assert not missing


def test_double_quoted_identifiers_to_backticks():
    assert translate('select "col one" from "t"') == "select `col one` from `t`"


def test_comments_stripped_strings_preserved():
    out = translate("select x -- strpos(s, 'y')\n, 'strpos(a, b)' from t")
    assert "instr" not in out and "'strpos(a, b)'" in out


def test_bare_varchar_and_varbinary_types():
    out = translate("select cast(x as varchar), cast(y as varchar(10)), cast(z as varbinary)")
    assert _norm(out) == (
        "select cast(x as string), cast(y as varchar(10)), cast(z as binary)"
    )


def test_unnest_cross_join():
    out = translate("select c from t cross join unnest(arr) as u(c)")
    assert _norm(out) == "select c from t lateral view explode(arr) u as c"


def test_unnest_comma_join():
    out = translate("select c from t, unnest(arr) as u(c)")
    assert _norm(out) == "select c from t lateral view explode(arr) u as c"


def test_unnest_with_ordinality_rewritten():
    out = translate(
        "select c from t cross join unnest(arr) with ordinality as u(c, o)"
    )
    assert _norm(out) == (
        "select c from t lateral view inline(transform(arr,"
        " (__x, __i) -> struct(__x, cast(__i + 1 as bigint)))) u as c, o"
    )


def test_unnest_multi_array_zip():
    out = translate("select x, y from t cross join unnest(a, b) as u(x, y)")
    assert _norm(out) == (
        "select x, y from t lateral view inline(arrays_zip(a, b)) u as x, y"
    )


def test_unnest_map_form():
    out = translate("select k, v from t cross join unnest(m) as u(k, v)")
    assert _norm(out) == "select k, v from t lateral view explode(m) u as k, v"


def test_unnest_multi_array_with_ordinality_rewritten():
    out = translate(
        "select x from t cross join unnest(a, b) with ordinality as u(x, y, o)"
    )
    assert _norm(out) == (
        "select x from t lateral view inline(transform(arrays_zip(a, b),"
        " (__z, __i) -> struct(__z.a, __z.b, cast(__i + 1 as bigint))))"
        " u as x, y, o"
    )


def test_unnest_multi_array_ordinality_nonident_untouched():
    # arrays_zip field naming is only defined for column refs, so an
    # expression argument must pass through and raise loudly in Spark
    src = (
        "select x from t cross join"
        " unnest(split(s, ','), b) with ordinality as u(x, y, o)"
    )
    assert _norm(translate(src)) == _norm(src)


def test_unnest_multi_array_ordinality_dup_terminal_untouched():
    # t1.e and t2.e would both zip to field name 'e' — ambiguous, loud
    src = (
        "select x from t cross join"
        " unnest(t1.e, t2.e) with ordinality as u(x, y, o)"
    )
    assert _norm(translate(src)) == _norm(src)


# ---------------------------------------------------------------------------
# execution parity: translated Presto SQL on Spark vs native DuckDB
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module", autouse=True)
def _views(spark):
    load_tables(spark, SF_DIR)


def test_exec_date_functions_match_duckdb(spark, duck):
    got = presto_sql(
        spark,
        """
        select o_orderkey,
               date_diff('day', cast(o_orderdate as timestamp),
                         cast(date_add('day', 3, o_orderdate) as timestamp)) as d3,
               day_of_week(o_orderdate) as dow
        from orders where o_orderkey < 64 order by o_orderkey
        """,
    ).collect()
    want = duck.execute(
        """
        select o_orderkey, 3 as d3, isodow(o_orderdate) as dow
        from orders where o_orderkey < 64 order by o_orderkey
        """
    ).fetchall()
    assert [(r.o_orderkey, r.d3, r.dow) for r in got] == [tuple(r) for r in want]


def test_exec_fetch_with_ties_matches_duckdb(spark, duck):
    """FETCH FIRST n ROWS WITH TIES executes via the rank() rewrite
    (VERDICT r12 #3); DuckDB has no WITH TIES, so the oracle is its
    native QUALIFY rank() — an independent engine computing the same
    tie-extended limit."""
    got = presto_sql(
        spark,
        """
        select o_orderkey, o_orderpriority from orders
        where o_orderkey < 300
        order by o_orderpriority
        fetch first 5 rows with ties
        """,
    ).collect()
    want = duck.execute(
        """
        select o_orderkey, o_orderpriority from orders
        where o_orderkey < 300
        qualify rank() over (order by o_orderpriority) <= 5
        """
    ).fetchall()
    assert len(got) > 5  # the tie extension actually fired
    assert sorted((r.o_orderkey, r.o_orderpriority) for r in got) == sorted(
        tuple(r) for r in want
    )
    # output column set is unchanged (__ties_rk is dropped)
    assert [c for c in got[0].asDict()] == ["o_orderkey", "o_orderpriority"]
    # multi-key ORDER BY with direction modifiers
    got = presto_sql(
        spark,
        """
        select o_custkey, count(*) as cnt from orders
        group by o_custkey
        order by cnt desc, o_custkey
        fetch first 3 rows with ties
        """,
    ).collect()
    want = duck.execute(
        """
        select o_custkey, count(*) as cnt from orders
        group by o_custkey
        qualify rank() over (order by cnt desc, o_custkey) <= 3
        """
    ).fetchall()
    assert sorted((r.o_custkey, r.cnt) for r in got) == sorted(
        tuple(r) for r in want
    )
    # DISTINCT scope takes the wrap shape (keys must be output columns,
    # as Trino itself requires of DISTINCT + ORDER BY)
    got = presto_sql(
        spark,
        """
        select distinct o_orderpriority from orders
        order by o_orderpriority fetch first 2 rows with ties
        """,
    ).collect()
    want = duck.execute(
        """
        select o_orderpriority from
          (select distinct o_orderpriority from orders)
        qualify rank() over (order by o_orderpriority) <= 2
        """
    ).fetchall()
    assert sorted(r.o_orderpriority for r in got) == sorted(
        r[0] for r in want
    )
    # set-operation scope: ORDER BY applies to the union result
    got = presto_sql(
        spark,
        """
        select o_orderstatus as s from orders where o_orderkey < 100
        union all
        select o_orderpriority from orders where o_orderkey < 40
        order by s fetch first 4 rows with ties
        """,
    ).collect()
    want = duck.execute(
        """
        select s from (
          select o_orderstatus as s from orders where o_orderkey < 100
          union all
          select o_orderpriority as s from orders where o_orderkey < 40
        ) qualify rank() over (order by s) <= 4
        """
    ).fetchall()
    assert sorted(r.s for r in got) == sorted(r[0] for r in want)


def test_exec_frame_exclude_current_row_matches_duckdb(spark, duck):
    """EXCLUDE CURRENT ROW auto-composes for exact carriers (VERDICT
    r12 #5): count(*), count(x), and integer-class sum(x) run through
    the front door and must match DuckDB executing the NATIVE SQL:2011
    clause on the same rows."""
    frame = (
        "partition by l_orderkey order by l_linenumber "
        "rows between 2 preceding and 2 following exclude current row"
    )
    src = f"""
        select l_orderkey, l_linenumber,
               count(*) over ({frame}) as c_star,
               count(l_linenumber) over ({frame}) as c_col,
               sum(l_linenumber) over ({frame}) as s_int
        from lineitem where l_orderkey < 200
        order by l_orderkey, l_linenumber
    """
    got = presto_sql(spark, src).collect()
    want = duck.execute(src).fetchall()
    assert len(got) == len(want) > 0
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # NULL edges: a NULL current row subtracts nothing; an excluded
    # frame whose neighbors are all NULL yields NULL (not 0)
    null_src = """
        select l_orderkey, l_linenumber,
               sum(nullif(l_linenumber, 2)) over (
                   partition by l_orderkey order by l_linenumber
                   rows between 1 preceding and 1 following
                   exclude current row) as s,
               count(nullif(l_linenumber, 2)) over (
                   partition by l_orderkey order by l_linenumber
                   rows between 1 preceding and 1 following
                   exclude current row) as c
        from lineitem where l_orderkey < 200
        order by l_orderkey, l_linenumber
    """
    got = presto_sql(spark, null_src).collect()
    want = duck.execute(null_src).fetchall()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # a NAMED window carrying the EXCLUDE is inlined into its users
    # first (one definition, two aggregates), then composed per owner
    named = """
        select l_orderkey, l_linenumber,
               count(*) over w as c_star,
               sum(l_linenumber) over w as s_int
        from lineitem where l_orderkey < 150
        window w as (partition by l_orderkey order by l_linenumber
                     rows between 2 preceding and 2 following
                     exclude current row)
        order by l_orderkey, l_linenumber
    """
    got = presto_sql(spark, named).collect()
    want = duck.execute(named).fetchall()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # frame that never contains the current row: the clause is a no-op
    # for ANY aggregate (stripped, not refused)
    src2 = """
        select l_orderkey, l_linenumber,
               sum(l_extendedprice) over (
                   partition by l_orderkey order by l_linenumber
                   rows between 3 preceding and 1 preceding
                   exclude current row) as s
        from lineitem where l_orderkey < 100
        order by l_orderkey, l_linenumber
    """
    got = presto_sql(spark, src2).collect()
    want = duck.execute(src2).fetchall()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_current_schema_catalog_accessors(spark):
    """Round 14 (with USE): Trino's niladic current_schema /
    current_catalog — the former maps to Spark's current_schema()
    (parens required there), the latter is the engine's single
    catalog name as a constant."""
    row = presto_sql(
        spark, "select current_schema as s, current_catalog as c"
    ).collect()[0]
    assert row.s == "default" and row.c == "sparketl"
    assert _norm(translate("select current_schema")) == (
        "select current_schema()"
    )
    assert "'sparketl'" in translate("select current_catalog")


def test_catalog_and_default_prefix_strip():
    """Round 14: Trino table spellings `sparketl.s.t` (the single
    catalog) and `default.t` (the flat namespace IS the default
    schema) normalize in the SELECT path; struct-field access through
    a column is anchored out."""
    out = _norm(translate("select * from sparketl.s1.t join default.u using (k)"))
    assert "from s1.t join u using (k)" in out
    # `c.default`/`c.sparketl` are field accesses, not prefixes
    out = translate("select c.default, c.sparketl from t c2")
    assert "c.default" in out and "c.sparketl" in out
    # chained: sparketl.default.t → t
    assert "from t" in _norm(translate("select * from sparketl.default.t"))


def test_exec_frame_exclude_zero_offset_bound_matches_duckdb(spark, duck):
    """ADVICE r13 (medium): ``0 PRECEDING`` / ``0 FOLLOWING`` IS the
    current row, so a frame like ``3 PRECEDING AND 0 PRECEDING EXCLUDE
    CURRENT ROW`` must COMPOSE (subtract the current row's
    contribution) — the old no-op regex silently STRIPPED the clause
    and returned values that still included the current row."""
    load_tables(spark, SF_DIR)
    for frame in (
        "rows between 3 preceding and 0 preceding",
        "rows between 0 following and 3 following",
    ):
        src = f"""
            select l_orderkey, l_linenumber,
                   count(*) over (partition by l_orderkey
                       order by l_linenumber {frame}
                       exclude current row) as c,
                   sum(l_linenumber) over (partition by l_orderkey
                       order by l_linenumber {frame}
                       exclude current row) as s
            from lineitem where l_orderkey < 200
            order by l_orderkey, l_linenumber
        """
        got = presto_sql(spark, src).collect()
        want = duck.execute(src).fetchall()
        assert len(got) == len(want) > 0
        assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # an INEXACT carrier on a 0-offset frame must refuse (it used to
    # slip through the strip), while a truly current-row-free frame on
    # the same carrier still strips
    with pytest.raises(ValueError, match="EXCLUDE CURRENT ROW"):
        presto_sql(
            spark,
            """
            select sum(l_extendedprice) over (
                partition by l_orderkey order by l_linenumber
                rows between 3 preceding and 0 preceding
                exclude current row) as s
            from lineitem where l_orderkey < 100
            """,
        )


def test_exec_frame_exclude_group_ties_matches_duckdb(spark, duck):
    """VERDICT r13 #6: front-door EXCLUDE GROUP/TIES auto-compose for
    exact carriers on RANGE frames containing the current row (peer
    group provably inside the frame), matching DuckDB's NATIVE
    SQL:2011 clauses; ROWS-frame GROUP/TIES keep the loud refusal
    (peers may extend past row-offset bounds — not textually
    composable), as do TIES on current-row-free frames (engines
    disagree whether the current row is re-added)."""
    load_tables(spark, SF_DIR)
    for mode in ("group", "ties"):
        for frame in (
            "range between 2 preceding and 2 following",
            "range between unbounded preceding and current row",
            "range between current row and unbounded following",
            "range 2 preceding",
        ):
            src = f"""
                select l_orderkey, l_linenumber,
                       count(*) over (partition by l_suppkey
                           order by l_linenumber {frame}
                           exclude {mode}) as c,
                       count(nullif(l_linenumber, 2)) over (
                           partition by l_suppkey
                           order by l_linenumber {frame}
                           exclude {mode}) as cn,
                       sum(nullif(l_linenumber, 2)) over (
                           partition by l_suppkey
                           order by l_linenumber {frame}
                           exclude {mode}) as s
                from lineitem where l_orderkey < 400
            """
            got = sorted(tuple(r) for r in presto_sql(spark, src).collect())
            want = sorted(tuple(r) for r in duck.execute(src).fetchall())
            assert len(got) == len(want) > 0
            assert got == want, (mode, frame)
    # GROUP on a current-row-free RANGE frame is a no-op (peers are at
    # key-distance 0, outside the frame) — stripped, matches native
    src = """
        select l_orderkey, l_linenumber,
               count(*) over (partition by l_suppkey
                   order by l_linenumber
                   range between 3 preceding and 1 preceding
                   exclude group) as c
        from lineitem where l_orderkey < 200
    """
    got = sorted(tuple(r) for r in presto_sql(spark, src).collect())
    want = sorted(tuple(r) for r in duck.execute(src).fetchall())
    assert got == want
    # refusals: ROWS-frame GROUP/TIES; TIES on a current-row-free frame
    for bad in (
        "rows between 2 preceding and 2 following exclude group",
        "rows between 2 preceding and 2 following exclude ties",
        "range between 3 preceding and 1 preceding exclude ties",
    ):
        with pytest.raises(ValueError, match="EXCLUDE"):
            presto_sql(
                spark,
                f"""
                select sum(l_linenumber) over (partition by l_suppkey
                    order by l_linenumber {bad}) as s
                from lineitem where l_orderkey < 100
                """,
            )


def test_exec_with_ties_cte_scope_matches_duckdb(spark, duck):
    """ADVICE r13: a CTE-prefixed scope whose ORDER BY key is NOT
    projected (Trino-legal for a plain final SELECT) must take the
    inject shape on the final SELECT — the old wrap shape emitted
    rank() over a column absent from the wrapper and died unresolved."""
    load_tables(spark, SF_DIR)
    got = presto_sql(
        spark,
        """
        with c as (
          select o_orderkey, o_orderpriority from orders
          where o_orderkey < 300
        )
        select o_orderkey from c
        order by o_orderpriority
        fetch first 5 rows with ties
        """,
    ).collect()
    want = duck.execute(
        """
        with c as (
          select o_orderkey, o_orderpriority from orders
          where o_orderkey < 300
        )
        select o_orderkey from c
        qualify rank() over (order by o_orderpriority) <= 5
        """
    ).fetchall()
    assert len(got) > 5  # ties actually extended past n
    assert sorted(r.o_orderkey for r in got) == sorted(r[0] for r in want)
    assert list(got[0].asDict()) == ["o_orderkey"]


def test_window_inheritance_column_named_range_not_framed(spark):
    """ADVICE r13: frame detection in window inheritance must anchor on
    clause position — a parent window whose PARTITION BY column is
    literally named ``range`` is frameless and inheritable."""
    load_tables(spark, SF_DIR)
    got = presto_sql(
        spark,
        """
        select rk from (
          select row_number() over (w order by l_linenumber) as rk
          from (select l_orderkey as range, l_linenumber from lineitem
                where l_orderkey < 50) t
          window w as (partition by range)
        ) order by rk limit 3
        """,
    ).collect()
    assert [r.rk for r in got] == [1, 1, 1]
    # a parent that DOES carry a frame still refuses inheritance
    with pytest.raises(ValueError, match="inherit"):
        presto_sql(
            spark,
            """
            select sum(l_linenumber) over (w order by l_linenumber)
            from lineitem
            window w as (partition by l_orderkey
                         rows between 1 preceding and current row)
            """,
        )


def test_exec_string_functions_match_duckdb(spark, duck):
    got = presto_sql(
        spark,
        """
        select o_orderkey,
               strpos(o_orderpriority, '-') as p,
               element_at(split(o_orderpriority, '-'), 1) as code,
               element_at(split(o_orderpriority, '-'), 99) as oob,
               format('%s/%s', o_orderstatus, o_orderpriority) as tag
        from orders where o_orderkey < 64 order by o_orderkey
        """,
    ).collect()
    want = duck.execute(
        """
        select o_orderkey, strpos(o_orderpriority, '-') as p,
               string_split(o_orderpriority, '-')[1] as code,
               string_split(o_orderpriority, '-')[99] as oob,
               printf('%s/%s', o_orderstatus, o_orderpriority) as tag
        from orders where o_orderkey < 64 order by o_orderkey
        """
    ).fetchall()
    assert [(r.o_orderkey, r.p, r.code, r.oob, r.tag) for r in got] == [
        tuple(r) for r in want
    ]


def test_exec_unnest_matches_duckdb(spark, duck):
    got = presto_sql(
        spark,
        """
        select s, count(*) as n
        from (select split(o_orderpriority, '-') as parts
              from orders where o_orderkey < 256) t
        cross join unnest(parts) as u(s)
        group by s order by s
        """,
    ).collect()
    want = duck.execute(
        """
        select s, count(*) as n
        from (select unnest(string_split(o_orderpriority, '-')) as s
              from orders where o_orderkey < 256) t
        group by s order by s
        """
    ).fetchall()
    assert [(r.s, r.n) for r in got] == [tuple(r) for r in want]


def test_exec_unnest_ordinality_matches_duckdb(spark, duck):
    # 1-based ordinality; even keys carry an EMPTY array and must emit
    # zero rows (the naive sequence(1, size) zip would emit [1,0] rows)
    got = presto_sql(
        spark,
        """
        select o_orderkey, s, i
        from (select o_orderkey,
                     case when o_orderkey % 2 = 1
                          then split(o_orderpriority, '-')
                          else slice(split(o_orderpriority, '-'), 1, 0) end
                       as parts
              from orders where o_orderkey < 256) t
        cross join unnest(parts) with ordinality as u(s, i)
        order by o_orderkey, i
        """,
    ).collect()
    want = duck.execute(
        """
        select o_orderkey, unnest(parts) as s,
               generate_subscripts(parts, 1) as i
        from (select o_orderkey,
                     case when o_orderkey % 2 = 1
                          then string_split(o_orderpriority, '-')
                          else [] end as parts
              from orders where o_orderkey < 256) t
        order by o_orderkey, i
        """
    ).fetchall()
    assert len(got) > 0
    assert [(r.o_orderkey, r.s, r.i) for r in got] == [tuple(r) for r in want]


def test_exec_unnest_multi_array_null_padding_matches_duckdb(spark, duck):
    # unequal lengths zip to the longest, padding the short side with NULL
    got = presto_sql(
        spark,
        """
        select o_orderkey, x, y
        from (select o_orderkey,
                     split(o_orderpriority, '-') as a,
                     slice(split(o_orderpriority, '-'), 1, 1) as b
              from orders where o_orderkey < 256) t
        cross join unnest(a, b) as u(x, y)
        order by o_orderkey, x, y
        """,
    ).collect()
    want = duck.execute(
        """
        select o_orderkey, unnest(a) as x, unnest(b) as y
        from (select o_orderkey,
                     string_split(o_orderpriority, '-') as a,
                     string_split(o_orderpriority, '-')[1:1] as b
              from orders where o_orderkey < 256) t
        order by o_orderkey, x, y
        """
    ).fetchall()
    assert len(got) > 0
    assert any(r.y is None for r in got)  # padding actually exercised
    assert [(r.o_orderkey, r.x, r.y) for r in got] == [tuple(r) for r in want]


def test_exec_unnest_multi_array_ordinality_matches_duckdb(spark, duck):
    # zip-to-longest NULL padding AND 1-based ordinality in one form
    got = presto_sql(
        spark,
        """
        select o_orderkey, x, y, o
        from (select o_orderkey,
                     split(o_orderpriority, '-') as a,
                     slice(split(o_orderpriority, '-'), 1, 1) as b
              from orders where o_orderkey < 256) t
        cross join unnest(a, b) with ordinality as u(x, y, o)
        order by o_orderkey, o
        """,
    ).collect()
    want = duck.execute(
        """
        select o_orderkey, unnest(a) as x, unnest(b) as y,
               generate_subscripts(a, 1) as o
        from (select o_orderkey,
                     string_split(o_orderpriority, '-') as a,
                     string_split(o_orderpriority, '-')[1:1] as b
              from orders where o_orderkey < 256) t
        order by o_orderkey, o
        """
    ).fetchall()
    assert len(got) > 0
    assert any(r.y is None for r in got)  # padding exercised
    assert min(r.o for r in got) == 1  # 1-based like Presto
    assert [(r.o_orderkey, r.x, r.y, r.o) for r in got] == [
        tuple(r) for r in want
    ]


def test_exec_unnest_map_matches_duckdb(spark, duck):
    got = presto_sql(
        spark,
        """
        select o_orderkey, k, v
        from (select o_orderkey,
                     map_from_arrays(ARRAY['lo', 'hi'],
                                     ARRAY[o_orderkey, o_orderkey + 1]) as m
              from orders where o_orderkey < 64) t
        cross join unnest(m) as u(k, v)
        order by o_orderkey, k
        """,
    ).collect()
    want = duck.execute(
        """
        select o_orderkey, unnest(['lo', 'hi']) as k,
               unnest([o_orderkey, o_orderkey + 1]) as v
        from orders where o_orderkey < 64
        order by o_orderkey, k
        """
    ).fetchall()
    assert len(got) > 0
    assert [(r.o_orderkey, r.k, r.v) for r in got] == [tuple(r) for r in want]


def test_exec_subscript_one_based_matches_duckdb(spark, duck):
    # Presto a[k] is 1-BASED; Spark's native [] is 0-based — the rewrite
    # to try_element_at must preserve Presto indexing and NULL o.o.b.
    got = presto_sql(
        spark,
        """
        select o_orderkey,
               split(o_orderpriority, '-')[1] as first_part,
               split(o_orderpriority, '-')[2] as second_part,
               split(o_orderpriority, '-')[99] as oob,
               MAP(ARRAY['a', 'b'], ARRAY[o_orderkey, -1])['a'] as mval,
               MAP(ARRAY['a'], ARRAY[o_orderkey])['missing'] as mmiss
        from orders where o_orderkey < 64 order by o_orderkey
        """,
    ).collect()
    want = duck.execute(
        """
        select o_orderkey,
               string_split(o_orderpriority, '-')[1] as first_part,
               string_split(o_orderpriority, '-')[2] as second_part,
               string_split(o_orderpriority, '-')[99] as oob,
               o_orderkey as mval,
               NULL as mmiss
        from orders where o_orderkey < 64 order by o_orderkey
        """
    ).fetchall()
    assert len(got) > 0
    assert [
        (r.o_orderkey, r.first_part, r.second_part, r.oob, r.mval, r.mmiss)
        for r in got
    ] == [tuple(r) for r in want]


def test_exec_datetime_parse_format_matches_duckdb(spark, duck):
    # from_unixtime returns a TIMESTAMP (Spark's native returns string);
    # parse_datetime/format_datetime map onto to_timestamp/date_format
    got = presto_sql(
        spark,
        """
        select o_orderkey,
               format_datetime(from_unixtime(o_orderkey * 86400), 'yyyy-MM-dd') as d,
               parse_datetime('2024-03-05 06:07:08', 'yyyy-MM-dd HH:mm:ss') as ts
        from orders where o_orderkey < 64 order by o_orderkey
        """,
    ).collect()
    want = duck.execute(
        """
        select o_orderkey,
               strftime(to_timestamp(o_orderkey * 86400), '%Y-%m-%d') as d,
               timestamp '2024-03-05 06:07:08' as ts
        from orders where o_orderkey < 64 order by o_orderkey
        """
    ).fetchall()
    assert len(got) > 0
    assert [(r.o_orderkey, r.d, r.ts) for r in got] == [tuple(r) for r in want]


def test_exec_json_extract_scalar_matches_duckdb(spark, duck):
    got = presto_sql(
        spark,
        """
        select o_orderkey,
               json_extract_scalar(j, '$.k') as k,
               json_extract_scalar(j, '$.n') as n,
               json_extract_scalar(j, '$.missing') as miss
        from (select o_orderkey,
                     format('{"k": "%s", "n": %s}', o_orderstatus,
                            cast(o_orderkey as varchar)) as j
              from orders where o_orderkey < 64) t
        order by o_orderkey
        """,
    ).collect()
    want = duck.execute(
        """
        select o_orderkey,
               json_extract_string(j, '$.k') as k,
               json_extract_string(j, '$.n') as n,
               json_extract_string(j, '$.missing') as miss
        from (select o_orderkey,
                     printf('{"k": "%s", "n": %s}', o_orderstatus,
                            cast(o_orderkey as varchar)) as j
              from orders where o_orderkey < 64) t
        order by o_orderkey
        """
    ).fetchall()
    assert len(got) > 0
    assert [(r.o_orderkey, r.k, r.n, r.miss) for r in got] == [
        tuple(r) for r in want
    ]


def test_exec_array_literal_functions_match_duckdb(spark, duck):
    # ARRAY[..] literal + zip + contains + arbitrary/approx_distinct names
    got = presto_sql(
        spark,
        """
        select contains(ARRAY[1, 2, 3], o_orderkey % 5) as has,
               cardinality(ARRAY[o_orderkey, o_orderkey + 1]) as card,
               o_orderkey
        from orders where o_orderkey < 64 order by o_orderkey
        """,
    ).collect()
    want = duck.execute(
        """
        select list_contains([1, 2, 3], o_orderkey % 5) as has,
               len([o_orderkey, o_orderkey + 1]) as card,
               o_orderkey
        from orders where o_orderkey < 64 order by o_orderkey
        """
    ).fetchall()
    assert len(got) > 0
    assert [(r.has, r.card, r.o_orderkey) for r in got] == [tuple(r) for r in want]


def test_exec_truncate_and_unixtime(spark, duck):
    got = presto_sql(
        spark,
        """
        select o_orderkey,
               truncate(cast(o_totalprice as double) / 100) as tp,
               to_unixtime(cast(o_orderdate as timestamp)) as epoch_s
        from orders where o_orderkey < 64 order by o_orderkey
        """,
    ).collect()
    want = duck.execute(
        """
        select o_orderkey,
               trunc(cast(o_totalprice as double) / 100) as tp,
               epoch(cast(o_orderdate as timestamp)) as epoch_s
        from orders where o_orderkey < 64 order by o_orderkey
        """
    ).fetchall()
    assert [(r.o_orderkey, r.tp, float(r.epoch_s)) for r in got] == [
        (w[0], w[1], float(w[2])) for w in want
    ]


def test_exec_compositions_match_duckdb(spark, duck):
    """Compositions of rewritten calls (each call's arguments are
    translated before its own rule runs, and no output is translated
    twice), and call names inside a literal or a quoted identifier,
    which stay as written."""
    import datetime

    row = (
        [1, 2, 3], "a.b.c", "2024-03-05", 1704067245.5,
        datetime.datetime(2024, 3, 5, 10), 14, 11, 7, -5, 1,
    )
    spark.createDataFrame(
        [row],
        "a array<int>, s string, d string, e double, ts timestamp, "
        "p bigint, q bigint, r bigint, x bigint, `sign(x)` int",
    ).createOrReplaceTempView("comp_t")
    duck.execute(
        "create or replace temp table comp_t (a int[], s varchar, d varchar, "
        "e double, ts timestamp, p bigint, q bigint, r bigint, x bigint, "
        '"sign(x)" int)'
    )
    duck.execute("insert into comp_t values (?, ?, ?, ?, ?, ?, ?, ?, ?, ?)", row)
    q = """
        select try(element_at(a, 9)) as oob, split(s, '.')[2] as part,
               to_iso8601(date_parse(d, '%Y-%m-%d')) as iso,
               extract(second from from_unixtime(e)) as sec,
               format_datetime(ts, 'yyyy') as yr,
               bitwise_and(bitwise_and(p, q), r) as bits,
               truncate(sign(x)) as tsign,
               'strpos(a, b)' as lit, "sign(x)"
        from comp_t
    """
    assert "'strpos(a, b)' as lit, `sign(x)`" in translate(q)
    got = presto_sql(spark, q).collect()
    want = duck.execute(
        """
        select a[9], str_split(s, '.')[2],
               strftime(strptime(d, '%Y-%m-%d'), '%Y-%m-%dT%H:%M:%S.%g'),
               extract(second from epoch_ms(cast(e * 1000 as bigint))),
               strftime(ts, '%Y'), (p & q) & r, trunc(sign(x)),
               'strpos(a, b)', "sign(x)"
        from comp_t
        """
    ).fetchall()
    assert [tuple(r) for r in got] == want
    sk = "select skewness(v) * 2 + 1 from (values (1.0), (2.0), (3.0), (10.0), (20.0)) t(v)"
    assert presto_sql(spark, sk).collect()[0][0] == pytest.approx(
        duck.execute(sk).fetchall()[0][0], rel=1e-12
    )
    df = presto_sql(spark, "select random() as r")
    assert df.schema["r"].dataType.typeName() == "double"
    assert 0 <= df.collect()[0].r < 1


def test_exec_reduce_and_bitwise_match_duckdb(spark, duck):
    got = presto_sql(
        spark,
        """
        select o_orderkey,
               reduce(array[1, 2, 3, o_orderkey], cast(0 as bigint),
                      (s, x) -> s + x, s -> s) as rsum,
               bitwise_and(o_orderkey, 255) as b_and,
               bitwise_or(o_orderkey, 1) as b_or,
               bitwise_xor(o_orderkey, 7) as b_xor
        from orders where o_orderkey < 64 order by o_orderkey
        """,
    ).collect()
    want = duck.execute(
        """
        select o_orderkey,
               6 + o_orderkey as rsum,
               o_orderkey & 255 as b_and,
               o_orderkey | 1 as b_or,
               xor(o_orderkey, 7) as b_xor
        from orders where o_orderkey < 64 order by o_orderkey
        """
    ).fetchall()
    assert [(r.o_orderkey, r.rsum, r.b_and, r.b_or, r.b_xor) for r in got] == [
        tuple(r) for r in want
    ]


def test_random_rewrites():
    out = translate("select random() as r, random(10) as ri, random(5, 8) as rmn")
    # 0-arg random() is Spark's own (DOUBLE in [0, 1)): untouched
    assert "select random() as r" in out
    # half-open [0, n): floor(rand()*n) clamped to n-1 via least() so
    # double rounding can never emit n itself
    assert (
        "least(cast((10) as bigint) - 1, "
        "cast(floor(rand() * (10)) as bigint)) as ri" in out
    )
    assert (
        "(least(cast(((8) - (5)) as bigint) - 1, "
        "cast(floor(rand() * ((8) - (5))) as bigint)) + (5)) as rmn" in out
    )
    # 3+ args: not a Presto form — untouched, loud
    assert translate("select random(a, b, c)") == "select random(a, b, c)"


def test_try_cast_and_arithmetic_rewrites():
    assert _norm(translate("select try(a / b)")) == "select try_divide(a, b)"
    assert _norm(translate("select TRY(a + b)")) == "select try_add(a, b)"
    assert _norm(translate("select try(a - b)")) == "select try_subtract(a, b)"
    assert _norm(translate("select try(a * b)")) == "select try_multiply(a, b)"
    assert _norm(translate("select try(cast(x as integer))")) == (
        "select try_cast(x as integer)"
    )
    # scientific-notation minus is not a binary operator
    assert _norm(translate("select try(x * 1e-5)")) == (
        "select try_multiply(x, 1e-5)"
    )


def test_try_unwraps_already_null_safe_calls():
    # element_at and [] subscripts translate to try_element_at first;
    # TRY around an already-NULL-safe call is redundant and unwrapped.
    assert _norm(translate("select try(element_at(a, 5))")) == (
        "select try_element_at(a, 5)"
    )
    assert _norm(translate("select try(a[5])")) == (
        "select try_element_at(a, 5)"
    )


def test_try_ambiguous_shapes_untouched():
    # multiple operators, nested calls, grouped operands: Presto's TRY
    # catches operand errors too, which Spark's try-family cannot
    # express — pass through so Spark raises on the user's own text.
    assert "try(" in _norm(translate("select try(a + b * c)"))
    assert "try(ln(x))" in _norm(translate("select try(ln(x))"))
    assert "try((a + b) / c)" in _norm(translate("select try((a + b) / c)"))
    # string-literal operand = TYPE error: Presto rejects TRY('x' + 1)
    # at analysis (TRY does not catch type errors); try_add('x', 1)
    # would be a silent NULL — must stay untouched.
    assert "try('x' + 1)" in _norm(translate("select try('x' + 1)"))
    assert "try(1 - 'x')" in _norm(translate("select try(1 - 'x')"))


def test_exec_try_and_random(spark):
    row = presto_sql(
        spark,
        "select try(1 / 0) as a, try(cast('xx' as integer)) as b, "
        "try(2 + 3) as c",
    ).collect()[0]
    assert row.a is None and row.b is None and row.c == 5
    rows = presto_sql(
        spark,
        "select random(10) as r1, random(5, 8) as r2 from range(200)",
    ).collect()
    assert {type(r.r1) for r in rows} == {int}
    assert all(0 <= r.r1 < 10 for r in rows)
    assert all(5 <= r.r2 < 8 for r in rows)
    # the full [lo, hi) range is actually reachable
    assert {r.r2 for r in rows} == {5, 6, 7}


def test_json_size_untouched_loud():
    # A get_json_object composition CANNOT implement Presto json_size:
    # it strips quotes from string scalars, so a scalar whose text
    # looks like an array ('"[1,2]"') would count as one (Presto: 0),
    # and a JSON null would return NULL (Presto: 0).  Verified
    # divergence in review round 6 -> json_size stays untouched so
    # Spark raises on the user's own text.
    src = "select json_size(j, '$.x') as n from t"
    assert translate(src) == src


def test_try_identifier_ending_in_digit_e_not_exponent():
    # c1e-5 is the column c1e minus 5, NOT a scientific literal: the
    # rewrite must see TWO operator candidates (- and /) and pass
    # through rather than silently reparenthesizing to (c1e-5)/d.
    src = "select try(c1e-5 / d)"
    assert "try(" in _norm(translate(src))
    # real scientific notation still rewrites
    assert _norm(translate("select try(x * 1e-5)")) == (
        "select try_multiply(x, 1e-5)"
    )


def test_try_cast_with_errorable_operand_untouched():
    # Presto TRY catches errors ANYWHERE in its argument; try_cast only
    # catches the cast.  An operand that can itself error must pass
    # through loudly instead of narrowing the error scope.
    assert "try(" in _norm(translate("select try(cast(1/0 as int))"))
    assert "try(" in _norm(translate("select try(cast(f(x) as int))"))
    # simple operands still rewrite
    assert _norm(translate("select try(cast(x as integer))")) == (
        "select try_cast(x as integer)"
    )


def test_url_extract_rewrites():
    out = translate(
        "select url_extract_host(u) as h, url_extract_path(u) as p, "
        "url_extract_protocol(u) as pr, url_extract_query(u) as q, "
        "url_extract_fragment(u) as f, "
        "url_extract_parameter(u, 'lang') as par from t"
    )
    assert "parse_url(u, 'HOST')" in out
    assert "parse_url(u, 'PATH')" in out
    assert "parse_url(u, 'PROTOCOL')" in out
    assert "parse_url(u, 'QUERY')" in out
    assert "parse_url(u, 'REF')" in out
    assert "parse_url(u, 'QUERY', 'lang')" in out
    # no parse_url part exposes the port — stays untouched, loud
    assert "url_extract_port(u)" in translate(
        "select url_extract_port(u) from t"
    )


def test_exec_url_extract(spark):
    row = presto_sql(
        spark,
        "select url_extract_host(u) as h, url_extract_path(u) as p, "
        "url_extract_protocol(u) as pr, url_extract_query(u) as q, "
        "url_extract_fragment(u) as f, "
        "url_extract_parameter(u, 'b') as par, "
        "url_encode('a b&c') as enc, "
        "url_decode('a+b%26c') as dec "
        "from (select 'https://api.example.com:443/v1/docs?a=1&b=two#frag' as u)",
    ).collect()[0]
    # Presto reference values (url_extract_host excludes the port)
    assert row.h == "api.example.com"
    assert row.p == "/v1/docs"
    assert row.pr == "https"
    assert row.q == "a=1&b=two"
    assert row.f == "frag"
    assert row.par == "two"
    assert row.enc == "a+b%26c" and row.dec == "a b&c"


def test_exec_array_match_rewrites(spark):
    row = presto_sql(
        spark,
        "select any_match(a, x -> x > 2) as anym, "
        "all_match(a, x -> x > 0) as allm, "
        "none_match(a, x -> x > 9) as nonem, "
        "none_match(a, x -> x = 2) as nonef "
        "from (select array[1, 2, 3] as a)",
    ).collect()[0]
    assert row.anym is True and row.allm is True
    assert row.nonem is True and row.nonef is False


def test_exec_ngrams(spark):
    row = presto_sql(
        spark,
        "select ngrams(a, 2) as bi, ngrams(a, 5) as over "
        "from (select array[1, 2, 3] as a)",
    ).collect()[0]
    assert [list(g) for g in row.bi] == [[1, 2], [2, 3]]
    # n > cardinality: Presto returns the whole array as the one gram
    assert [list(g) for g in row.over] == [[1, 2, 3]]


def test_repeat_untouched_documented_divergence(spark):
    """repeat's name is claimed by BOTH Presto (array-building) and
    ANSI/Spark/DuckDB (string-concatenating) with indistinguishable
    syntax — the translator leaves it alone, so Spark's string
    semantics win (module docstring table documents the divergence)."""
    assert "repeat('x', 3)" in translate("select repeat('x', 3)")
    row = presto_sql(spark, "select repeat('x', 3) as r").collect()[0]
    assert row.r == "xxx"


def test_exec_ngrams_inside_user_lambda(spark):
    """Regression (round-7 review): the rewrite's window-index lambda
    variable must not capture an enclosing user lambda variable."""
    row = presto_sql(
        spark,
        "select transform(m, i -> ngrams(i, 2)) as g "
        "from (select array[array[1, 2, 3]] as m)",
    ).collect()[0]
    assert [[list(x) for x in inner] for inner in row.g] == [[[1, 2], [2, 3]]]


# ---------------------------------------------------------------------------
# round 8: restricted MATCH_RECOGNIZE rewrite
# ---------------------------------------------------------------------------

_MR_OK = """
    select user_id, s_id from events match_recognize (
        partition by user_id order by ts asc
        measures A.event_id as s_id
        pattern (A B* C)
        define A as event_type = 'view', B as event_type = 'click',
               C as event_type = 'purchase')
"""


def test_match_recognize_restricted_shape_rewrites():
    out = translate(_MR_OK)
    assert "match_recognize" not in out.lower()
    assert "__mr_nnrn" in out and "row_number()" in out
    assert "__mr_s.event_id as s_id" in out


def test_match_recognize_skip_to_next_row_translates_identically():
    # on the accepted shape the two skip modes provably coincide
    # (dialect docstring; per-start differential in
    # test_property_match_recognize.py) — same rewrite output
    with_next = _MR_OK.replace(
        "pattern (A B* C)",
        "after match skip to next row pattern (A B* C)",
    )
    out = translate(with_next)
    assert "match_recognize" not in out.lower()
    assert out == translate(
        _MR_OK.replace(
            "pattern (A B* C)",
            "after match skip past last row pattern (A B* C)",
        )
    )


def test_match_recognize_count_star_measure():
    out = translate(_MR_OK.replace(
        "A.event_id as s_id", "count(*) as s_id"))
    assert "__mr_e.__mr_rn - __mr_s.__mr_rn + 1" in out


def test_match_recognize_refuses_nonconforming():
    # every non-conforming shape stays untouched -> Spark fails loudly
    for bad in (
        _MR_OK.replace("pattern (A B* C)", "pattern (A B* C D)"),
        _MR_OK.replace("pattern (A B* C)", "pattern (A* B)"),
        _MR_OK.replace("pattern (A B* C)", "pattern (A | B)"),
        _MR_OK.replace("measures A.event_id as s_id",
                       "measures B.event_id as s_id"),
        # round 9: first(A.x) is now SUPPORTED navigation (constant for
        # a single-occurrence var); match_number stays forbidden
        _MR_OK.replace("measures A.event_id as s_id",
                       "measures match_number() as s_id"),
        _MR_OK.replace("define A", "all rows per match define A"),
        # SKIP TO NEXT ROW / TO [FIRST|LAST] middle-or-end translate
        # (round 11); skipping to the START variable is Trino's
        # infinite-skip error, and PERMUTE stays loud
        _MR_OK.replace("pattern (A B* C)",
                       "after match skip to first A pattern (A B* C)"),
        _MR_OK.replace("pattern (A B* C)",
                       "after match skip to last A pattern (A B* C)"),
        _MR_OK.replace("pattern (A B* C)",
                       "after match skip to first Z pattern (A B* C)"),
        # (PERMUTE under the default PAST LAST ROW moved from
        # stays-untouched to an explicit refusal in round 12 —
        # test_permute_past_last_refuses_with_operator_pointer)
        # expression PARTITION BY key: the rewrite would emit invalid
        # `__mr_s.date_trunc(...) as date_trunc(...)` — must refuse
        _MR_OK.replace("partition by user_id",
                       "partition by date_trunc('day', ts)"),
        # repeated pattern variable: first-match classification would
        # silently return empty where Trino matches — must refuse
        _MR_OK.replace("pattern (A B* C)", "pattern (A B* A)")
              .replace(", C as event_type = 'purchase'", ""),
        # duplicate DEFINE entry: dict last-one-wins would silently
        # drop the first predicate where Trino rejects — must refuse
        _MR_OK.replace("define A as event_type = 'view',",
                       "define A as event_type = 'signup',"
                       " A as event_type = 'view',"),
    ):
        assert "match_recognize" in translate(bad).lower(), bad


def test_bitwise_right_shift_is_logical_zero_fill():
    # Presto's bitwise_right_shift is a LOGICAL shift — shiftright
    # would sign-extend (round-8 review)
    assert "shiftrightunsigned(x, 1)" in translate(
        "select bitwise_right_shift(x, 1)"
    )
    assert "shiftleft(x, 2)" in translate("select bitwise_left_shift(x, 2)")


def test_bit_count_64_casts_to_bigint():
    # Presto sign-extends the value to the stated width; counting an
    # INT column's own 32 bits would diverge on negatives
    assert _norm(translate("select bit_count(x, 64)")) == (
        "select bit_count(cast(x as bigint))"
    )
    # other widths untouched (loud)
    assert "bit_count(x, 32)" in translate("select bit_count(x, 32)")


def test_exec_right_shift_negative_matches_presto(spark):
    # -8 >> 1 logical on 64 bits = 2^63 - 4
    row = presto_sql(
        spark,
        "select bitwise_right_shift(cast(-8 as bigint), 1) as v",
    ).collect()[0]
    assert row.v == 9223372036854775804


def test_match_recognize_join_is_null_safe():
    assert "<=>" in translate(_MR_OK)


_MR_AR = _MR_OK.replace(
    "measures A.event_id as s_id",
    "measures A.event_id as s_id, C.event_id as e_id, count(*) as n"
    " all rows per match"
).replace("select user_id, s_id", "select user_id, event_id, s_id, e_id, n")


def test_match_recognize_all_rows_rewrites():
    out = translate(_MR_AR)
    assert "match_recognize" not in out.lower()
    # match table + row join + running-count + end-row gating
    assert "__mr_m" in out and "between __mr_m.__mr_srn and __mr_m.__mr_ern" in out
    assert "__mr_r.__mr_rn - __mr_m.__mr_srn + 1" in out
    assert "case when __mr_r.__mr_rn = __mr_m.__mr_ern" in out


def test_match_recognize_all_rows_refusals():
    for bad in (
        # modifiers change which rows appear — refuse
        _MR_AR.replace("all rows per match",
                       "all rows per match with unmatched rows"),
        _MR_AR.replace("all rows per match",
                       "all rows per match omit empty matches"),
        # NULL-tolerant construct over the end variable: RUNNING
        # coalesce(C.x, 0) is 0 before the end row, not NULL — refuse
        _MR_AR.replace("C.event_id as e_id", "coalesce(C.event_id, 0) as e_id"),
        # var-free measure (universal variable) — refuse
        _MR_AR.replace("A.event_id as s_id", "event_id as s_id"),
        # ADVICE r9: other NULL-tolerant shapes the deny-list missed —
        # greatest()/least() skip NULLs, IS [NOT] DISTINCT FROM is
        # non-NULL over NULL inputs
        _MR_AR.replace("C.event_id as e_id",
                       "greatest(C.event_id, 0) as e_id"),
        _MR_AR.replace("C.event_id as e_id",
                       "least(C.event_id, 0) as e_id"),
        _MR_AR.replace("C.event_id as e_id",
                       "(C.event_id is distinct from 0) as e_id"),
        _MR_AR.replace("C.event_id as e_id",
                       "(C.event_id is not distinct from 0) as e_id"),
    ):
        assert "match_recognize" in translate(bad).lower(), bad


def test_match_recognize_all_rows_star_hides_helpers(spark):
    """ADVICE r9: `select *` over a translated ALL ROWS face must see
    Trino's schema — base columns + measures — not the __mr_sym/
    __mr_rn/__mr_nnrn plumbing (stripped via `* except`)."""
    load_tables(spark, SF_DIR)
    star = _MR_AR.replace(
        "select user_id, event_id, s_id, e_id, n", "select *"
    )
    cols = presto_sql(spark, star).columns
    assert not any(c.startswith("__mr_") for c in cols), cols
    # Trino's ALL ROWS schema: every base column + the measures
    for want in ("user_id", "event_id", "ts", "event_type",
                 "s_id", "e_id", "n"):
        assert want in cols, (want, cols)


def test_match_recognize_navigation_rewrites():
    out = translate(_MR_OK.replace(
        "measures A.event_id as s_id",
        "measures first(B.event_id) as s_id, prev(A.ts) as before_ts,"
        " next(C.ts) as after_ts, classifier() as cls",
    ))
    assert "match_recognize" not in out.lower()
    # round 11: physical-neighbor navigation is lead/lag WINDOW COLUMNS
    # in __mr_nn (reusing its sort), not per-position self-joins
    assert "lead(event_id) over (partition by user_id" in out
    assert "__mr_s.__mr_ld_event_id" in out      # first(B.x) via lead
    assert "__mr_s.__mr_lg_ts" in out            # prev(A.x) via lag
    assert "__mr_e.__mr_ld_ts" in out            # next(C.x) via lead
    assert " left join " not in out              # zero navigation joins
    # middle-run FIRST gates on a non-empty interior
    assert "__mr_e.__mr_rn - __mr_s.__mr_rn - 1 >= 1" in out
    # ONE ROW classifier is the end symbol constant
    assert "'C' as cls" in out


def test_match_recognize_navigation_refusals():
    for bad in (
        # offsets unsupported
        _MR_OK.replace("A.event_id as s_id", "first(B.event_id, 2) as s_id"),
        # prev/next of a middle var: ambiguous occurrence
        _MR_OK.replace("A.event_id as s_id", "prev(B.event_id) as s_id"),
    ):
        assert "match_recognize" in translate(bad).lower(), bad


def test_match_recognize_alternation_middle_navigation_rewrites():
    """r9 verdict #6: FIRST/LAST over an ALTERNATION middle now
    ACCEPTS via the classifier-tagged span (min_by/max_by FILTER on
    __mr_sym per span anchor) instead of refusing — the fixed srn+1
    offset could be the other variable's row, the tagged aggregate
    cannot."""
    sql = (
        _MR_OK.replace("pattern (A B* C)", "pattern (A (B|D)* C)")
        .replace("B as event_type = 'click',",
                 "B as event_type = 'click', D as event_type = 'err',")
        .replace("A.event_id as s_id",
                 "first(B.event_id) as s_id, last(D.event_id) as l_id")
    )
    out = translate(sql)
    assert "match_recognize" not in out.lower()
    assert "min_by(event_id, __mr_rn) filter (where __mr_sym = 'B')" in out
    assert "max_by(event_id, __mr_rn) filter (where __mr_sym = 'D')" in out
    assert "__mr_mid.__mr_prn = __mr_s.__mr_rn" in out


def test_sql_requires_default_escaped_string_literals(spark):
    # _unmask doubles backslashes assuming Spark's escaping parser;
    # under Hive-compat raw literals the doubling would CORRUPT every
    # backslash-bearing literal — the front door must refuse loudly.
    key = "spark.sql.parser.escapedStringLiterals"
    prev = spark.conf.get(key, "false")
    spark.conf.set(key, "true")
    try:
        with pytest.raises(ValueError, match="escapedStringLiterals"):
            presto_sql(spark, "select 1 as v")
    finally:
        spark.conf.set(key, prev)
    # and with the default restored the same statement runs
    assert presto_sql(spark, "select 1 as v").collect()[0].v == 1


def test_timezone_iso_rewrites():
    """r9 verdict #1: the datetime zone/ISO family has translator
    entries (rewrite or documented refusal) instead of dying as
    unresolved functions."""
    out = translate(
        "select ts at time zone 'America/Los_Angeles' as la, "
        "with_timezone(ts, 'Asia/Tokyo') as tok, "
        "from_iso8601_timestamp(s) as t1, "
        "from_iso8601_date(s) as d1, "
        "parse_duration('5m') as dur from t"
    )
    assert "from_utc_timestamp(ts, 'America/Los_Angeles')" in out
    assert "to_utc_timestamp(ts, 'Asia/Tokyo')" in out
    assert "cast(s as timestamp)" in out
    assert "cast(s as date)" in out
    assert "make_dt_interval(0, 0, 0, 300.000)" in out
    # typed literal keeps its keyword inside the rewrite
    out2 = translate(
        "select timestamp '2024-03-10 12:00:00' at time zone 'UTC' as x"
    )
    assert "from_utc_timestamp(timestamp '2024-03-10 12:00:00', 'UTC')" in out2
    # column zone is accepted (from_utc_timestamp takes column zones)
    assert "from_utc_timestamp(ts, tz_col)" in translate(
        "select ts at time zone tz_col from t"
    )


def test_timezone_iso_documented_refusals():
    """parse_duration over a non-literal / malformed literal and an
    unscannable AT TIME ZONE operand refuse with the documented
    message naming the fix — not an unresolved-function error."""
    with pytest.raises(ValueError, match="parse_duration.*string-literal"):
        translate("select parse_duration(col) from t")
    with pytest.raises(ValueError, match="not a valid Presto duration"):
        translate("select parse_duration('five minutes') from t")
    with pytest.raises(ValueError, match="AT TIME ZONE"):
        translate("select a + b at time zone 1 from t")


def test_exec_timezone_iso_family(spark):
    """Execution-backed Presto reference values under the UTC session:
    AT TIME ZONE keeps the instant and moves the wall clock;
    with_timezone moves the instant; the ISO round trip is identity;
    to_iso8601 branches per type; parse_duration folds to an exact
    day-time interval."""
    row = presto_sql(
        spark,
        "select "
        "format_datetime(ts at time zone 'America/Los_Angeles', "
        "'yyyy-MM-dd HH:mm') as la_wall, "
        "format_datetime(with_timezone(ts, 'America/Los_Angeles'), "
        "'yyyy-MM-dd HH:mm') as la_instant, "
        "to_iso8601(ts) as iso_ts, "
        "to_iso8601(cast(ts as date)) as iso_d, "
        "from_iso8601_timestamp('2024-03-10T12:00:00Z') as rt, "
        "from_iso8601_date('2024-03-10') as rtd, "
        "cast(ts + parse_duration('90m') as string) as plus90 "
        "from (select timestamp '2024-03-10 12:00:00' as ts)",
    ).collect()[0]
    # 2024-03-10 12:00 UTC in LA: DST started 02:00 PST = 10:00 UTC
    # that morning, so 12:00Z is PDT (UTC-7) = 05:00 local
    assert row.la_wall == "2024-03-10 05:00"
    # 12:00 LA wall clock that day = 19:00 UTC (PDT, UTC-7)
    assert row.la_instant == "2024-03-10 19:00"
    assert row.iso_ts == "2024-03-10T12:00:00.000"
    assert row.iso_d == "2024-03-10"
    assert str(row.rt) == "2024-03-10 12:00:00"
    assert str(row.rtd) == "2024-03-10"
    assert row.plus90 == "2024-03-10 13:30:00"


def test_exec_parse_duration_units(spark):
    """Every airlift unit suffix folds to the right seconds, with
    sub-millisecond values rounded half-up to Presto's millis
    precision."""
    row = presto_sql(
        spark,
        "select cast(parse_duration('1500ms') as string) as a, "
        "cast(parse_duration('1.5h') as string) as b, "
        "cast(parse_duration('2d') as string) as c, "
        "cast(parse_duration('1234567 ns') as string) as d, "
        "cast(parse_duration('250 us') as string) as e",
    ).collect()[0]
    assert "1.5" in row.a                      # 1.500 seconds
    assert "1 30" in row.b or "01:30" in row.b  # 1h30m
    assert row.c.startswith("INTERVAL '2 ")    # 2 days
    assert "0.001" in row.d                    # 1.234567ms -> 0.001s
    assert "0.25" not in row.e and "0'" in row.e.replace(" ", "")  # 250us -> 0.000s


def test_at_time_zone_chain_collapses_to_one_instant(spark):
    """Review r10: chained AT TIME ZONE keeps ONE instant (Presto
    re-renders the same instant at each zone) — the left-to-right
    rewrite must unwrap its own from_utc_timestamp output instead of
    shifting the offset twice.  Reference: 2024-01-01 00:00 UTC at
    Tokyo = 09:00 wall, NOT 18:00."""
    out = translate(
        "select ts at time zone 'Asia/Tokyo' at time zone 'Asia/Tokyo' "
        "as x from t"
    )
    assert out.count("from_utc_timestamp") == 1
    row = presto_sql(
        spark,
        "select format_datetime("
        "ts at time zone 'UTC' at time zone 'Asia/Tokyo', "
        "'yyyy-MM-dd HH:mm') as tokyo "
        "from (select timestamp '2024-01-01 00:00:00' as ts)",
    ).collect()[0]
    assert row.tokyo == "2024-01-01 09:00"
    # the with_timezone base is NOT unwrapped (its output is already
    # the UTC-rendered instant): moving 09:00 Tokyo wall to LA wall
    row2 = presto_sql(
        spark,
        "select format_datetime("
        "with_timezone(ts, 'Asia/Tokyo') at time zone 'America/Los_Angeles', "
        "'yyyy-MM-dd HH:mm') as la "
        "from (select timestamp '2024-01-01 09:00:00' as ts)",
    ).collect()[0]
    assert row2.la == "2023-12-31 16:00"  # 00:00 UTC = 16:00 PST prev day


def test_at_time_zone_interval_form_refuses():
    """Review r10: the INTERVAL fixed-offset form must raise the
    documented refusal, not emit broken generated text."""
    with pytest.raises(ValueError, match="INTERVAL"):
        translate("select ts at time zone interval '1' hour from t")


def test_mysql_datetime_pattern_rewrites():
    """Presto date_format/date_parse take MySQL %-patterns while
    Spark's same-named date_format takes Java patterns — literal
    %-patterns translate specifier-by-specifier, literal Java
    spellings pass through, unsupported specifiers and non-literal
    date_parse patterns raise the documented refusal."""
    out = translate("select date_format(ts, '%Y-%m-%d %H:%i:%s') from t")
    assert "date_format(ts, 'yyyy-MM-dd HH:mm:ss')" in out
    out = translate("select date_parse(s, '%d|%m|%Y') from t")
    assert "to_timestamp(s, 'dd|MM|yyyy')" in out
    # literal text with letters gets Java-quoted; %% is a literal %
    out = translate("select date_format(ts, '%Y-%m-%dT%H pct %%') from t")
    assert "date_format(ts, 'yyyy-MM-dd\\'T\\'HH' pct %')" not in out  # sanity
    assert "yyyy-MM-dd" in out and "'T'" in out.replace("\\'", "'")
    # '%'-free literal: genuine Presto renders it as LITERAL text while
    # Spark would read Java specifiers — refused (ADVICE r10); Java
    # patterns go through format_datetime instead
    with pytest.raises(ValueError, match="'%'-free literal"):
        translate("select date_format(ts, 'yyyy-MM') from t")
    assert "date_format(ts, 'yyyy-MM')" in translate(
        "select format_datetime(ts, 'yyyy-MM') from t"
    )
    # dynamic pattern: untouched (documented divergence)
    assert "date_format(ts, f)" in translate(
        "select date_format(ts, f) from t"
    )
    with pytest.raises(ValueError, match="no exact Spark/Java"):
        translate("select date_format(ts, '%U') from t")
    with pytest.raises(ValueError, match="date_parse.*string-literal"):
        translate("select date_parse(s, f) from t")


def test_exec_mysql_datetime_patterns(spark):
    """Reference values for the MySQL-pattern rewrite, including the
    12-hour clock, day/month names, day-of-year, and the
    format→parse round trip."""
    row = presto_sql(
        spark,
        """
        select date_format(ts, '%Y-%m-%d %H:%i:%s') as full,
               date_format(ts, '%W %M %e, %Y') as words,
               date_format(ts, '%h:%i %p') as twelve,
               date_format(ts, '%j') as doy,
               date_format(ts, '100%% %T') as pct,
               cast(date_parse(date_format(ts, '%d|%m|%Y'), '%d|%m|%Y')
                    as string) as rt
        from (select timestamp '2024-03-10 15:04:05' as ts)
        """,
    ).collect()[0]
    assert row.full == "2024-03-10 15:04:05"
    assert row.words == "Sunday March 10, 2024"
    assert row.twelve == "03:04 PM"
    assert row.doy == "070"
    assert row.pct == "100% 15:04:05"
    assert row.rt == "2024-03-10 00:00:00"


def test_exec_from_unixtime_overloads_and_misc_datetime(spark):
    """r10 widening: from_unixtime's zone/offset overloads, last_day
    (same month-end contract), current_timezone under the pinned UTC
    session.  1704067200 = 2024-01-01 00:00:00 UTC."""
    row = presto_sql(
        spark,
        """
        select cast(from_unixtime(e) as string) as utc,
               format_datetime(from_unixtime(e, 'Asia/Tokyo'),
                               'yyyy-MM-dd HH:mm') as tokyo,
               format_datetime(from_unixtime(e, -5, -30),
                               'yyyy-MM-dd HH:mm') as offset_wall,
               format_datetime(last_day_of_month(
                   cast('2024-02-10' as date)), 'yyyy-MM-dd') as leap_eom,
               current_timezone() as tz
        from (select 1704067200 as e)
        """,
    ).collect()[0]
    assert row.utc == "2024-01-01 00:00:00"
    assert row.tokyo == "2024-01-01 09:00"
    assert row.offset_wall == "2023-12-31 18:30"  # UTC-5:30
    assert row.leap_eom == "2024-02-29"
    assert row.tz == "UTC"
    with pytest.raises(ValueError, match="integer-literal offsets"):
        translate("select from_unixtime(e, h, m) from t")


def test_exec_regexp_split_and_radix(spark):
    """r10 widening: regexp_split keeps its Java-regex pattern raw
    (unlike split(), whose literal delimiter is escaped); to_base is
    lowercase like Presto's, from_base returns BIGINT."""
    row = presto_sql(
        spark,
        """
        select array_join(regexp_split('a1b22c333d', '\\d+'), '|') as parts,
               array_join(split('a.b.c', '.'), '|') as lit_split,
               to_base(255, 16) as hexed,
               from_base('ff', 16) as unhexed,
               from_base('-101', 2) as neg
        """,
    ).collect()[0]
    assert row.parts == "a|b|c|d"
    assert row.lit_split == "a|b|c"  # literal '.' — escaped, not any-char
    assert row.hexed == "ff"        # Presto lowercase, not conv's 'FF'
    assert row.unhexed == 255 and isinstance(row.unhexed, int)
    assert row.neg == -5  # SIGNED conv mode — unsigned mode reads 1.8e19


def test_mysql_pattern_review_edges(spark):
    """Review r10 second pass: (a) patterns with subscript-/paren-like
    literal text survive the later rewrite passes (sentinel injection,
    not raw literals); (b) Java-reserved # { } [ ] are quoted;
    (c) %y refuses on the PARSE direction (century pivot divergence)
    but formats fine; (d) the 3-arg from_unixtime offset is total
    minutes, not per-component sign."""
    row = presto_sql(
        spark,
        """
        select date_format(ts, '%Y[%m]{%d}#%H') as bracketed,
               date_format(ts, '(%H:%i') as unbalanced,
               date_format(ts, '%y') as two_digit_fmt,
               format_datetime(from_unixtime(e, 5, -30),
                               'HH:mm') as mixed_sign,
               format_datetime(from_unixtime(e, 0, 90),
                               'HH:mm') as big_minutes
        from (select timestamp '2024-03-10 12:34:56' as ts,
                     1704067200 as e)
        """,
    ).collect()[0]
    assert row.bracketed == "2024[03]{10}#12"
    assert row.unbalanced == "(12:34"
    assert row.two_digit_fmt == "24"
    assert row.mixed_sign == "04:30"   # 5h - 30m = +04:30 of 00:00 UTC
    assert row.big_minutes == "01:30"  # 90 minutes, not GMT+00:90
    with pytest.raises(ValueError, match="%y is refused"):
        translate("select date_parse(s, '%d/%m/%y') from t")
    # %%y is a literal '%' + 'y', not the %y specifier — allowed
    out = translate("select date_parse(s, '%Y%%y') from t")
    assert "to_timestamp" in out


def test_exec_array_histogram(spark):
    """Trino array_histogram: non-null element counts as a map, empty
    map when nothing counts; rendered sorted (map entry order is
    engine-unspecified — the map_agg discipline)."""
    row = presto_sql(
        spark,
        """
        select array_join(transform(
                   array_sort(map_entries(
                       array_histogram(array['a', 'b', 'a', null, 'a']))),
                   e -> concat(e.key, ':', cast(e.value as varchar))),
               ',') as h,
               cardinality(map_entries(
                   array_histogram(array[null]))) as empty_n
        """,
    ).collect()[0]
    assert row.h == "a:3,b:1"
    assert row.empty_n == 0


# ---------------------------------------------------------------------------
# type-aware integer division (round 11, VERDICT r10 #1)
# ---------------------------------------------------------------------------

@pytest.fixture()
def typed(spark):
    """Presto text → the Spark text ``sql()`` runs, typed against the
    view ``idiv``: a bigint, b int, x double, s string, arr array<int>."""
    spark.sql(
        "select cast(1 as bigint) as a, 2 as b, 1.5d as x, 'q' as s, "
        "array(1, 2) as arr"
    ).createOrReplaceTempView("idiv")
    return lambda q: _norm(_typed(spark, q))


def test_int_division_rewrites_and_passthroughs(typed):
    tr = typed
    # int/int → div, across literals, columns, chains, case, functions
    assert tr("select a / b from idiv") == "select a div b from idiv"
    assert tr("select 7/2") == "select 7 div 2"
    assert tr("select a * 3 / b from idiv") == "select a * 3 div b from idiv"
    assert tr("select a / 2 / 3 from idiv") == (
        "select a div 2 div 3 from idiv"
    )
    assert tr("select a % 5 / 2 from idiv") == "select a % 5 div 2 from idiv"
    assert tr("select sum(a) / count(*) from idiv") == (
        "select sum(a) div count(*) from idiv"
    )
    assert tr("select length(s) / 3 from idiv") == (
        "select length(s) div 3 from idiv"
    )
    assert (
        tr("select case when x > 0 then a else b end / 2 from idiv")
        == "select case when x > 0 then a else b end div 2 from idiv"
    )
    assert tr("select (b + 1) / (2) from idiv") == (
        "select (b + 1) div (2) from idiv"
    )
    # a left-assoc chain: inner int/int, outer over a double
    assert tr("select a / 2 / 2.0 from idiv") == (
        "select a div 2 / 2.0 from idiv"
    )
    # fractional on either side (or anywhere in the left chain) → `/`
    assert "/" in tr("select a / 2.0 from idiv")
    assert "/" in tr("select x / a from idiv")
    assert "/" in tr("select 2.0 * a / b from idiv")
    assert "/" in tr("select cast(a as double) / b from idiv")
    assert "/" in tr("select 1e-3 / a from idiv")  # exponent sign ≠ binary minus
    assert "/" in tr("select avg(a) / 2 from idiv")
    # Presto's floor/ceil keep their argument's type (Spark's floor of
    # a DOUBLE is BIGINT)
    assert "/" in tr("select floor(x) / 2 from idiv")
    assert " div " in tr("select ceil(b) / 2 from idiv")
    # window/filter postfix resolve through to the call's class
    assert " div " in tr("select count(*) filter (where x > 0) / 2 from idiv")
    assert "/" in tr("select avg(a) over (partition by b) / 2 from idiv")
    # CTEs, scalar subqueries and subquery predicates type in place
    assert tr(
        "with c as (select a / 2 as h from idiv) select h / 3 from c"
    ) == "with c as (select a div 2 as h from idiv) select h div 3 from c"
    assert tr("select (select max(a) from idiv) / 2") == (
        "select (select max(a) from idiv) div 2"
    )
    assert tr("select (select max(b) / 2 from idiv) from idiv") == (
        "select (select max(b) div 2 from idiv) from idiv"
    )
    assert "b div 2" in tr(
        "select a from idiv where a in (select b / 2 from idiv)"
    )
    # a `/` inside a literal or a quoted identifier is not an operator
    assert tr("select 'a/b', `a/b` from (select 1 as `a/b`)") == (
        "select 'a/b', `a/b` from (select 1 as `a/b`)"
    )


def test_int_division_try_composition(typed):
    assert typed("select try(a / b) from idiv") == (
        "select try_cast(try_divide(a, b) as bigint) from idiv"
    )
    assert typed("select try(x / b) from idiv") == (
        "select try_divide(x, b) from idiv"
    )
    assert _norm(translate("select try(a / b) from t")) == (
        "select try_divide(a, b) from t"
    )


def test_int_division_refusals_and_lenient_mode(typed):
    """An operand Spark cannot resolve raises Spark's own error, never a
    guess; a probe Spark rejects while the text itself analyzes refuses;
    translate() alone keeps Spark's `/`."""
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException, match="UNRESOLVED_COLUMN"):
        typed("select a / mystery from idiv")
    with pytest.raises(ValueError, match="cannot type the operands"):
        typed("select interval '1' day / a from idiv")
    # a STRING operand refuses, as Presto's varchar / integer does (Spark
    # would cast it); a written cast types as its target
    with pytest.raises(ValueError, match="cannot type the operands"):
        typed("select s / a from idiv")
    with pytest.raises(ValueError, match="cannot type the operands"):
        typed("select try(s / a) from idiv")
    assert typed("select cast(s as bigint) / a from idiv") == (
        "select cast(s as bigint) div a from idiv"
    )
    # schema-free translate keeps the legacy pass-through untouched
    assert _norm(translate("select a / b from t")) == "select a / b from t"


def test_int_division_inside_values(spark, typed):
    """Spark evaluates a VALUES list while parsing it, so no node of the
    statement's probe is left for its `/` or sign(): a second probe types
    them, and an outer division keeps its own type.  Answers equal
    DuckDB's (`//` where Presto truncates)."""
    import duckdb

    assert typed("values (1, 7 / 2)") == "values (1, 7 div 2)"
    assert typed(
        "select * from (values (7 / 2, 1.0 / 2), (3, 4)) v(x, y)"
    ) == "select * from (values (7 div 2, 1.0 / 2), (3, 4)) v(x, y)"
    assert typed("select x from (values (sign(-3))) v(x)") == (
        "select x from (values (cast(sign(-3) as bigint))) v(x)"
    )
    con = duckdb.connect()
    got = presto_sql(spark, "select x from (values (7 / 2)) v(x)").collect()
    want = con.sql("select x from (values (7 // 2)) v(x)").fetchall()
    assert [r.x for r in got] == [w[0] for w in want] == [3]
    got = presto_sql(
        spark, "select 1.0 / (select x from (values (7 / 2)) v(x)) as q"
    ).collect()[0].q
    want = con.sql(
        "select 1.0 / (select x from (values (7 // 2)) v(x))"
    ).fetchall()[0][0]
    assert float(got) == pytest.approx(want, rel=1e-6)
    con.close()


def test_int_division_replaced_by_its_selected_twin(typed):
    """An ORDER BY or HAVING term equal to a selected one is replaced by
    a reference to it during analysis: it takes the type of its twin
    with the same text, and a twin in another query block does not
    count."""
    assert typed(
        "select a / 2 as h from idiv group by a / 2 having a / 2 > 0 "
        "order by a / 2"
    ) == (
        "select a div 2 as h from idiv group by a div 2 having a div 2 > 0 "
        "order by a div 2"
    )
    assert typed("select sign(a) from idiv order by sign(a)") == (
        "select cast(sign(a) as bigint) from idiv "
        "order by cast(sign(a) as bigint)"
    )
    assert typed(
        "select sum(a) / 2 from idiv order by sum(a) / 2, "
        "(select sum(a) / 2 from (select x as a from idiv) v)"
    ) == (
        "select sum(a) div 2 from idiv order by sum(a) div 2, "
        "(select sum(a) / 2 from (select x as a from idiv) v)"
    )
    # a twin spelled differently is found by its parsed expression
    assert typed("select sum(a) / 2 from idiv order by sum(a)/2") == (
        "select sum(a) div 2 from idiv order by sum(a) div 2"
    )


def test_exec_int_division_matches_presto_semantics(spark):
    """Execution pin: truncation toward zero, bigint result, NULL under
    TRY on zero-divide — on ad-hoc probe data through the front door
    (the catalog-schema path, not a hand-passed schema)."""
    spark.createDataFrame(
        [(-7, 2), (7, 2), (-9, -4), (5, 0)], "pa long, pb long"
    ).createOrReplaceTempView("intdiv_exec_probe")
    rows = presto_sql(
        spark,
        """
        select pa, pb, pa / 2 as halved, try(pa / pb) as safe
        from intdiv_exec_probe
        """,
    ).collect()
    got = {(r.pa, r.pb): (r.halved, r.safe) for r in rows}
    assert got[(-7, 2)] == (-3, -3)   # toward zero, not floor (-4)
    assert got[(7, 2)] == (3, 3)
    assert got[(-9, -4)] == (-4, 2)
    assert got[(5, 0)] == (2, None)   # TRY: NULL on zero-divide


def test_typing_follows_an_externally_replaced_view(spark):
    """A temp view replaced outside the engine (same name, INT column
    now DOUBLE) types its `/` by the new schema at the next call, with
    no cache to clear; both answers equal DuckDB's (`//` where Presto
    truncates)."""
    import duckdb

    con = duckdb.connect()
    con.sql("create table t_repl as select * from (values (-7), (-1), (0), (5), (9)) v(a)")
    q = "select a / 2 as h from t_repl order by a"
    spark.createDataFrame(
        con.sql("select cast(a as int) as a from t_repl").df(), "a int"
    ).createOrReplaceTempView("t_repl")
    got = [r.h for r in presto_sql(spark, q).collect()]
    assert got == [r[0] for r in con.sql("select a // 2 from t_repl order by a").fetchall()]
    assert got[0] == -3
    con.sql("create or replace table t_repl as select cast(a as double) as a from t_repl")
    spark.createDataFrame(
        con.sql("select a from t_repl").df(), "a double"
    ).createOrReplaceTempView("t_repl")
    got = [r.h for r in presto_sql(spark, q).collect()]
    assert got == [r[0] for r in con.sql("select a / 2 from t_repl order by a").fetchall()]
    assert got[0] == -3.5
    con.close()


def test_one_column_name_typed_per_view(spark):
    """`amt` is INT in one view and DOUBLE in another: each `/` is typed
    by the view it reads, also both in one statement; answers equal
    DuckDB's (`//` where Presto truncates)."""
    import duckdb

    con = duckdb.connect()
    con.sql("create table amt_int as select * from (values (-7), (3), (8)) v(amt)")
    con.sql("create table amt_dbl as select cast(amt as double) as amt from amt_int")
    for name, ddl in (("amt_int", "amt int"), ("amt_dbl", "amt double")):
        spark.createDataFrame(
            con.sql(f"select * from {name}").df(), ddl
        ).createOrReplaceTempView(name)
    for name, op in (("amt_int", "//"), ("amt_dbl", "/")):
        got = presto_sql(
            spark, f"select amt / 2 as h from {name} order by amt"
        ).collect()
        want = con.sql(f"select amt {op} 2 from {name} order by amt").fetchall()
        assert [r.h for r in got] == [r[0] for r in want]
    got = presto_sql(
        spark,
        "select i.amt / 2 as hi, d.amt / 2 as hd from amt_int i "
        "join amt_dbl d on i.amt = d.amt order by i.amt",
    ).collect()
    want = con.sql(
        "select i.amt // 2, d.amt / 2 from amt_int i "
        "join amt_dbl d on i.amt = d.amt order by i.amt"
    ).fetchall()
    assert [tuple(r) for r in got] == want
    assert got[0].hi == -3 and got[0].hd == -3.5
    con.close()


def test_translator_divisions_stay_fractional(typed):
    """The `/` that translate() itself emits (to_unixtime, skewness,
    kurtosis) divide DOUBLEs: typing leaves every one of them `/`, even
    over integer arguments."""
    for q in (
        "select to_unixtime(cast('2024-01-01' as timestamp)) from idiv",
        "select skewness(b), kurtosis(b) from idiv",
        "select skewness(a) / 2, kurtosis(a) / 2 from idiv",
    ):
        untyped = _norm(translate(q))
        assert untyped.count("/") >= 1
        assert typed(q) == untyped


# ---------------------------------------------------------------------------
# round 11: reduce_agg / higher moments / hamming / straggler refusals
# ---------------------------------------------------------------------------


def test_higher_moment_and_reduce_agg_rewrites():
    out = translate("select skewness(x), kurtosis(x) from t group by g")
    # sample corrections applied over Spark's population aggregates
    assert "skewness(x) * sqrt(count(x) * (count(x) - 1)) / (count(x) - 2)" in out
    assert "(count(x) + 1) * kurtosis(x) + 6" in out
    out = translate(
        "select reduce_agg(v, 0, (s, x) -> s + x, (a, b) -> a + b) from t"
    )
    assert "aggregate(array_sort(collect_list(v)), 0, (s, x) -> s + x)" in out
    # non-4-arity passes through untouched (loud)
    assert "reduce_agg(v, 0)" in translate("select reduce_agg(v, 0) from t")


def test_straggler_scalar_refusals():
    for text, msg in (
        ("word_stem(w)", "word_stem"),
        ("normalize(s)", "normalize"),
        ("cosine_similarity(m1, m2)", "cosine_similarity"),
    ):
        with pytest.raises(ValueError, match=f"{msg}.* is refused"):
            translate(f"select {text} from t")


def test_exec_hamming_distance(spark):
    rows = presto_sql(
        spark,
        """
        select hamming_distance('karolin', 'kathrin') as hd1,
               hamming_distance('', '') as hd0,
               hamming_distance('abc', 'abc') as same
        """,
    ).collect()[0]
    assert (rows.hd1, rows.hd0, rows.same) == (3, 0, 0)
    with pytest.raises(Exception, match="same length"):
        presto_sql(spark, "select hamming_distance('ab', 'abc')").collect()


def test_exec_higher_moments_match_duckdb(spark):
    """Sample-convention pin: the translated Presto text must equal
    DuckDB's native skewness/kurtosis (both sample-corrected)."""
    import duckdb

    vals = [1.0, 2.0, 4.0, 8.0, 16.0, 32.0, 5.0, 9.0]
    spark.createDataFrame([(v,) for v in vals], "x double").createOrReplaceTempView(
        "mom_probe"
    )
    got = presto_sql(
        spark,
        "select round(skewness(x), 6) as s, round(kurtosis(x), 6) as k "
        "from mom_probe",
    ).collect()[0]
    con = duckdb.connect()
    want = con.sql(
        "select round(skewness(x), 6), round(kurtosis(x), 6) from "
        f"(values {', '.join(f'({v})' for v in vals)}) t(x)"
    ).fetchone()
    con.close()
    assert (got.s, got.k) == want


def test_reduce_agg_guard_fires_on_unbounded_group(spark):
    from pyspark.sql import functions as F

    from sparketl.operators.aggregates import reduce_agg

    df = spark.range(10).select(
        F.lit("g").alias("g"), F.col("id").cast("double").alias("x")
    )
    guarded = df.groupBy("g").agg(
        reduce_agg("x", F.lit(0.0), lambda s, x: s + x, max_group_rows=5).alias(
            "fold"
        )
    )
    with pytest.raises(Exception, match="reduce_agg: group exceeds 5 rows"):
        guarded.collect()
    ok = df.groupBy("g").agg(
        reduce_agg("x", F.lit(0.0), lambda s, x: s + x).alias("fold")
    )
    assert ok.collect()[0].fold == 45.0


def test_round11_review_guards(typed):
    from pyspark.errors import AnalysisException

    # a derived column re-typed under a catalog name types by the
    # definition the query reads (here DOUBLE): no div
    assert " div " not in typed(
        "select a / 2 from (select cast(a as double) as a from idiv)"
    )
    # a lambda parameter types by its array's elements, shadowing the
    # same-named DOUBLE column
    assert typed("select transform(arr, x -> x / 2) from idiv") == (
        "select transform(arr, x -> x div 2) from idiv"
    )
    # TRY must not narrow: a compound body passes through loudly
    assert "try(a / b + 1)" in _norm(translate("select try(a / b + 1) from t"))
    with pytest.raises(AnalysisException):
        typed("select try(a / b + 1) from idiv")
    # windowed skewness/kurtosis/reduce_agg refuse with the documented
    # message, not a parse error
    for fn in ("skewness(x)", "kurtosis(x)",
               "reduce_agg(x, 0, (s, v) -> s + v, (a, b) -> a + b)"):
        with pytest.raises(ValueError, match="OVER .* is refused"):
            translate(f"select {fn} over (partition by g) from t")
    # small-n guards present in the rewrites
    out = translate("select skewness(x), kurtosis(x) from t")
    assert "count(x) >= 3" in out and "count(x) >= 4" in out


def test_exec_small_group_moments_are_null(spark):
    import duckdb

    spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 1.0), ("b", 2.0), ("b", 5.0)],
        "g string, x double",
    ).createOrReplaceTempView("smallmom_probe")
    got = {
        r.g: (r.s, r.k)
        for r in presto_sql(
            spark,
            "select g, round(skewness(x), 6) as s, round(kurtosis(x), 6) as k "
            "from smallmom_probe group by g",
        ).collect()
    }
    con = duckdb.connect()
    want = {
        g: (s, k)
        for g, s, k in con.sql(
            "select g, round(skewness(x), 6), round(kurtosis(x), 6) from "
            "(values ('a', 1.0), ('a', 2.0), ('b', 1.0), ('b', 2.0), "
            "('b', 5.0)) t(g, x) group by g"
        ).fetchall()
    }
    con.close()
    assert got == want  # n=2 group: (NULL, NULL); n=3: (value, NULL)


def test_match_recognize_skip_to_var_translates():
    """round 11: SKIP TO [FIRST|LAST] middle/end variable — same match
    set as the other skip modes on the restricted shape (proof in the
    rewrite docstring; anchor-walk differential in
    test_property_match_recognize.py), plus Trino's no-such-row error
    reproduced for 0-lower-bound quantifiers."""
    base = translate(_MR_OK.replace(
        "pattern (A B* C)",
        "after match skip past last row pattern (A B* C)"))
    for mode in ("skip to first B", "skip to last B", "skip to B",
                 "skip to first C", "skip to C"):
        out = translate(_MR_OK.replace(
            "pattern (A B* C)", f"after match {mode} pattern (A B* C)"))
        # the construct must be gone (the guard's error MESSAGE may
        # still carry the words MATCH_RECOGNIZE / SKIP TO)
        assert "match_recognize (" not in out.lower(), mode
        if " B" in mode:
            # B* admits empty interiors → the Trino error guard rides
            # the first measure
            assert "raise_error" in out and "SKIP TO B failed" in out, mode
        else:
            assert out == base, mode  # C always present: no guard
    # B+ cannot produce a B-less match: no guard, identical output
    plus_base = translate(_MR_OK.replace("pattern (A B* C)",
                                         "pattern (A B+ C)"))
    out = translate(_MR_OK.replace(
        "pattern (A B* C)",
        "after match skip to first B pattern (A B+ C)"))
    assert out == plus_base and "raise_error" not in out


def test_exec_skip_to_var_error_and_results(spark):
    """Execution pin: with an empty-interior match present, SKIP TO
    FIRST B raises (Trino parity); on a corpus where every match has a
    B, results equal the skip-past-last-row run."""
    rows = [(1, i, s) for i, s in enumerate("ABCAC")] + \
           [(2, i, s) for i, s in enumerate("ABBC")]
    spark.createDataFrame(rows, "u long, pos long, sym string") \
        .createOrReplaceTempView("skipvar_probe")
    text = """
        select u, s_pos, e_pos from skipvar_probe match_recognize (
            partition by u order by pos asc
            measures A.pos as s_pos, C.pos as e_pos
            one row per match
            after match {skip}
            pattern (A B* C)
            define A as sym = 'A', B as sym = 'B', C as sym = 'C'
        )
    """
    with pytest.raises(Exception, match="SKIP TO B failed"):
        presto_sql(spark, text.format(skip="skip to first B")).collect()
    # drop the empty-interior match source (user 1's A C adjacency)
    spark.sql("select * from skipvar_probe where u = 2") \
        .createOrReplaceTempView("skipvar_probe2")
    t2 = text.replace("skipvar_probe", "skipvar_probe2")
    got = sorted(
        (r.u, r.s_pos, r.e_pos)
        for r in presto_sql(spark, t2.format(skip="skip to last B")).collect()
    )
    want = sorted(
        (r.u, r.s_pos, r.e_pos)
        for r in presto_sql(
            spark, t2.format(skip="skip past last row")
        ).collect()
    )
    assert got == want == [(2, 0, 3)]


def test_array_agg_order_by_rewrites():
    out = translate("select array_agg(x order by y) from t group by g")
    assert "array_sort(collect_list(struct(((y) is null) as __ob_n0" in out
    assert "__ob_s -> __ob_s.__ob_v" in out and "reverse(" not in out
    out = translate("select array_agg(x order by y desc, z desc) from t")
    assert "reverse(array_sort" in out and "__ob_k1" in out
    # plain array_agg passes through (Spark-native alias)
    assert translate("select array_agg(x) from t") == (
        "select array_agg(x) from t"
    )
    # mixed directions / explicit NULLS (r11 refusals) now translate
    # via the lambda comparator (round 12, VERDICT r11 #3)
    out = translate("select array_agg(x order by y asc, z desc) from t")
    assert "(l, r) ->" in out and "__ob_k1" in out
    out = translate("select array_agg(x order by y nulls first) from t")
    assert "when l.__ob_k0 is null then -1" in out


def test_exec_array_agg_order_by_null_convention(spark):
    """Trino's null ordering for within-aggregate ORDER BY: null sorts
    as if LARGER than any non-null — ASC puts it last, DESC first; the
    null-flag struct field pins this independent of Spark's comparator
    convention.  Rows whose VALUE is null are KEPT (collect_list of
    structs — the unordered name-map's null-dropping divergence does
    not apply here)."""
    spark.createDataFrame(
        [(1, 10, "a"), (2, None, "b"), (3, 5, "c"), (4, 7, None)],
        "id int, k int, v string",
    ).createOrReplaceTempView("aao_probe")
    row = presto_sql(
        spark,
        """
        select concat_ws('|', transform(array_agg(v order by k),
                                        x -> coalesce(x, '?'))) as asc_v,
               concat_ws('|', transform(array_agg(v order by k desc),
                                        x -> coalesce(x, '?'))) as desc_v
        from aao_probe
        """,
    ).collect()[0]
    # k asc: 5(c), 7(null v), 10(a), null-k(b) last
    assert row.asc_v == "c|?|a|b"
    # k desc: null-k first, then 10, 7, 5
    assert row.desc_v == "b|a|?|c"


def test_minmax_by_n_rewrites_and_exec(spark):
    out = translate("select max_by(x, y, 3) from t group by g")
    assert "reverse(array_sort(filter(collect_list(struct((y) is null" in out
    assert "slice(" in out and ", 1, 3)" in out
    out = translate("select min_by(x, y, k) from t")  # n may be an expr
    assert "slice(" in out and "reverse" not in out
    assert translate("select min_by(x, y) from t") == (
        "select min_by(x, y) from t"  # 2-arg: native Spark
    )
    spark.createDataFrame(
        [(1, 10.0, "a"), (2, None, "nullkey"), (3, 5.0, "c"), (4, 7.0, "d")],
        "id int, y double, v string",
    ).createOrReplaceTempView("mbn_probe")
    row = presto_sql(
        spark,
        "select concat_ws('|', min_by(v, y, 2)) as lo2, "
        "concat_ws('|', max_by(v, y, 2)) as hi2, "
        "concat_ws('|', max_by(v, y, 99)) as all_desc "
        "from mbn_probe",
    ).collect()[0]
    assert row.lo2 == "c|d"           # smallest two y; null-y ignored
    assert row.hi2 == "a|d"           # largest two y, descending
    assert row.all_desc == "a|d|c"    # n past group size: whole group


def test_skip_to_var_guard_survives_projection_pruning(spark):
    """round-11 second review (verified live): a guard riding a
    MEASURE is pruned by Catalyst when the outer query projects other
    columns — the guard now lives in the WHERE clause as one atomic
    CASE, so it fires regardless of projection AND can never raise on
    a non-match however conjuncts are reordered."""
    spark.createDataFrame(
        [(1, i, s) for i, s in enumerate("ABCAC")],
        "u long, pos long, sym string",
    ).createOrReplaceTempView("skipvar_prune_probe")
    # project ONLY e_pos — the guarded s_pos measure is pruned away
    with pytest.raises(Exception, match="SKIP TO B failed"):
        presto_sql(
            spark,
            """
            select e_pos from skipvar_prune_probe match_recognize (
                partition by u order by pos asc
                measures A.pos as s_pos, C.pos as e_pos
                one row per match
                after match skip to first B
                pattern (A B* C)
                define A as sym = 'A', B as sym = 'B', C as sym = 'C'
            )
            """,
        ).collect()


def test_windowed_compound_aggregate_forms_relocate_over():
    """3-arg min_by/max_by and ordered array_agg rewrite into compound
    expressions; the OVER clause relocates onto the bare collect_list
    (round 12, VERDICT r11 #4 — previously a documented refusal)."""
    out = translate(
        "select min_by(x, y, 3) over (partition by g "
        "rows between 2 preceding and current row) from t"
    )
    assert (
        "collect_list(struct((y) is null as __mb_n0, y as __mb_k0, "
        "x as __mb_v)) over (partition by g rows between 2 preceding "
        "and current row)"
    ) in out
    assert out.startswith("select transform(slice(array_sort(filter(")
    out = translate(
        "select array_agg(x order by y) over (partition by g order by o) "
        "from t"
    )
    assert ") over (partition by g order by o))" in out
    # FILTER between the call and OVER refuses (Spark supports neither)
    with pytest.raises(ValueError, match="FILTER clause"):
        translate(
            "select min_by(x, y, 3) filter (where x > 0) "
            "over (partition by g) from t"
        )
    # native shapes keep their windowed use
    out = translate("select min_by(x, y) over (partition by g) from t")
    assert "min_by(x, y) over (partition by g)" in out
    out = translate("select array_agg(x) over (partition by g) from t")
    assert "array_agg(x) over (partition by g)" in out


# ---------------------------------------------------------------------------
# sign() class preservation + extract() field fixes (round 12, ADVICE r11)
# ---------------------------------------------------------------------------


def test_sign_int_classified_casts_to_bigint(typed):
    from pyspark.errors import AnalysisException

    tr = typed
    # integral argument: Presto sign(bigint) → bigint, Spark sign() →
    # DOUBLE, so the front door casts back
    assert tr("select sign(a) from idiv") == (
        "select cast(sign(a) as bigint) from idiv"
    )
    assert tr("select sign(a) / 2 from idiv") == (
        "select cast(sign(a) as bigint) div 2 from idiv"
    )
    assert tr("select sign(a + b * 2) / 2 from idiv") == (
        "select cast(sign(a + b * 2) as bigint) div 2 from idiv"
    )
    # fractional argument: Spark's double return already matches Presto
    assert tr("select sign(x) from idiv") == "select sign(x) from idiv"
    assert "/" in tr("select sign(x) / 2.0 from idiv")
    # unresolvable argument: Spark's own error
    with pytest.raises(AnalysisException, match="UNRESOLVED_COLUMN"):
        tr("select sign(mystery) / 2 from idiv")
    # the sign( that truncate() emits is Spark's: never re-typed
    assert tr("select truncate(a) / 2 from idiv") == (
        "select (sign(a) * floor(abs(a))) / 2 from idiv"
    )
    # schema-free legacy translate keeps the pass-through
    assert _norm(translate("select sign(a) from t")) == (
        "select sign(a) from t"
    )


def test_extract_field_rewrites():
    # DOW / DAY_OF_WEEK: Presto is ISO Mon=1..Sun=7; Spark's DOW is
    # Sun=1..Sat=7 (silent shift) and DAY_OF_WEEK errors
    assert _norm(translate("select extract(dow from ts) from t")) == (
        "select (weekday(ts) + 1) from t"
    )
    assert _norm(
        translate("select extract(DAY_OF_WEEK from ts) from t")
    ) == "select (weekday(ts) + 1) from t"
    # SECOND: Presto drops the fraction (bigint); Spark extract keeps
    # it as decimal(8,6) — the cast truncates toward zero and stays
    # valid for interval operands too (round-12 review: second() would
    # reject what native extract accepts)
    assert _norm(translate("select extract(second from ts) from t")) == (
        "select cast(extract(second from ts) as bigint) from t"
    )
    assert _norm(
        translate("select extract(second from (ts2 - ts1)) from t")
    ) == "select cast(extract(second from (ts2 - ts1)) as bigint) from t"
    # YOW spellings: Spark only accepts YEAROFWEEK
    assert _norm(
        translate("select extract(year_of_week from ts) from t")
    ) == "select extract(yearofweek from ts) from t"
    assert _norm(translate("select extract(yow from ts) from t")) == (
        "select extract(yearofweek from ts) from t"
    )
    # agreeing fields pass through untouched
    assert _norm(translate("select extract(year from ts) from t")) == (
        "select extract(year from ts) from t"
    )
    assert _norm(translate("select extract(week from ts) from t")) == (
        "select extract(week from ts) from t"
    )


def test_exec_sign_and_extract_match_presto(spark):
    """Execution pin for the round-12 type fixes: sign() on a bigint
    column comes back BIGINT (Presto class), extract(DOW)/SECOND land
    the ISO day numbering / truncated-seconds values DuckDB agrees on."""
    import duckdb

    spark.createDataFrame(
        [(-7, "2024-01-06 10:30:45.5"), (4, "2024-01-08 00:00:59.999")],
        "pv long, pts string",
    ).createOrReplaceTempView("sign_extract_probe")
    q = """
        select pv, sign(pv) as s, sign(pv) / 2 as sh,
               extract(dow from cast(pts as timestamp)) as dw,
               extract(second from cast(pts as timestamp)) as sec
        from sign_extract_probe
    """
    df = presto_sql(spark, q)
    assert df.schema["s"].dataType.simpleString() == "bigint"
    got = {r.pv: (r.s, r.sh, r.dw, r.sec) for r in df.collect()}
    duck = duckdb.sql(
        """
        select pv, sign(pv) as s, pv from (values
          (-7, timestamp '2024-01-06 10:30:45.5'),
          (4, timestamp '2024-01-08 00:00:59.999')) v(pv, pts)
        """
    )
    # DuckDB agrees sign is integral-valued; dow/second pinned to the
    # Presto definitions directly (isodow, floor(seconds))
    assert got[-7] == (-1, 0, 6, 45)   # 2024-01-06 = Saturday → ISO 6
    assert got[4] == (1, 0, 1, 59)     # Monday → 1; 59.999 → 59
    assert duck.fetchall()[0][1] == -1


def test_array_agg_nested_order_by_passes_through():
    """ADVICE r11: an ORDER BY nested in parens inside the value
    argument (scalar subquery) is NOT the within-aggregate ORDER BY —
    the call passes through untouched, including its windowed form."""
    q = (
        "select array_agg((select max(y) from u where u.id = t.id "
        "order by y)) from t group by g"
    )
    assert _norm(translate(q)) == _norm(q)
    # nested ORDER BY + OVER: not the rewritten shape → no refusal
    qw = (
        "select array_agg((select 1 order by 1)) over (partition by g) "
        "from t"
    )
    assert "array_agg" in translate(qw)
    # top-level ORDER BY alongside a nested one still translates
    q3 = "select array_agg(coalesce(x, (select 1 order by 1)) order by k) from t"
    out = translate(q3)
    assert "transform(array_sort(collect_list" in out


def test_permute_past_last_refuses_with_operator_pointer():
    """round 12 (VERDICT r11 #5): an otherwise-conforming PERMUTE under
    SKIP PAST LAST ROW — explicit or via Trino's omitted-AFTER-MATCH
    default — raises the documented refusal naming the engine operator
    instead of a Spark parse error; SKIP TO NEXT ROW still translates."""
    body = """
        select user_id, v_pos from t match_recognize (
            partition by user_id order by pos asc
            measures V.pos as v_pos one row per match
            {am}
            pattern (permute(V, B, P))
            define V as sym = 'V', B as sym = 'B', P as sym = 'P'
        )
    """
    for am in ("after match skip past last row", ""):
        with pytest.raises(ValueError, match="permute_greedy_select"):
            translate(body.format(am=am))
    out = translate(body.format(am="after match skip to next row"))
    assert "__mr_s0" in out  # the lead-window rewrite fired


def test_int_division_alias_class_narrowing(typed):
    """A redefined name types by the definition each `/` reads."""
    # same-name rename of an integral column
    assert "a div 2" in typed("select a / 2 as a from idiv")
    # alias defined from an aggregate
    assert "b div cnt" in typed(
        "select b / cnt from (select b, count(*) as cnt from idiv group by b)"
    )
    # a fractional alias makes the division non-integer: no rewrite
    assert " div " not in typed(
        "select tot / n from (select sum(x) as tot, count(*) as n from idiv)"
    )
    # both meanings of `a` in one statement, each in its own scope
    assert typed(
        "select a / 2 as h, (select max(a) / 2 from "
        "(select cast(a as double) as a from idiv)) as g from idiv"
    ) == (
        "select a div 2 as h, (select max(a) / 2 from "
        "(select cast(a as double) as a from idiv)) as g from idiv"
    )


def test_int_division_setop_scope_unifies(typed):
    """A set operation's column has the type its branches unify to
    (bigint UNION ALL double is double, as in Trino), whichever branch
    carries the alias."""
    for q in (
        "select x / 2 from (select count(*) as x from idiv "
        "union all select x from idiv)",
        "select x / 2 from (select x from idiv "
        "union all select count(*) as x from idiv)",
        "select x / 2 from (select count(*) as x from idiv "
        "intersect select x from idiv)",
        "select x / 2 from (select count(*) as x from idiv "
        "except select x from idiv)",
    ):
        assert " div " not in typed(q), q
    assert "c div 2" in typed(
        "select c / 2 from (select count(*) as c from idiv "
        "union all select a from idiv)"
    )
    # a set-op one level DEEPER or in a sibling leaves `cnt` integral
    assert "cnt div 2" in typed(
        "select cnt / 2 from (select count(*) as cnt from "
        "(select 1 as k union all select 2.5 as k) u)"
    )
    assert "cnt div 2" in typed(
        "select cnt / 2 from (select count(*) as cnt from idiv) a join "
        "(select 1 as k union all select 2.5 as k) b on true"
    )


def test_mr_define_assertion_mode_fires_on_overlap(spark):
    """ADVICE r11: the opt-in MR_ASSERT_DEFINES mode raises at RUNTIME
    when a row satisfies more than one DEFINE (the windowed rewrites'
    uncheckable precondition), and is value-neutral on exclusive
    defines.  The guard rides the __mr_sym CASE itself, so Catalyst
    cannot projection-prune it."""
    spark.createDataFrame(
        [(1, 1, 5), (1, 2, 10), (1, 3, 20)],
        "user_id long, pos long, amt long",
    ).createOrReplaceTempView("mr_assert_probe")
    from sparketl import dialect as _d

    q = """
        select user_id, v_pos from mr_assert_probe match_recognize (
            partition by user_id order by pos asc
            measures V.pos as v_pos one row per match
            after match skip past last row
            pattern (V B+ P)
            define V as amt = 5, B as amt {b_op} 10, P as amt = 20
        )
    """
    _d.set_mr_define_assertions(True)
    try:
        # exclusive defines: identical result to the unasserted run
        ok = presto_sql(spark, q.format(b_op="=")).collect()
        _d.set_mr_define_assertions(False)
        base = presto_sql(spark, q.format(b_op="=")).collect()
        assert sorted(map(tuple, ok)) == sorted(map(tuple, base)) == [(1, 1)]
        _d.set_mr_define_assertions(True)
        # B as amt <= 10 also matches the V row (amt=5): overlap
        # (AQE may wrap the raise in STAGE_MATERIALIZATION failures —
        # match on the message, not the exception class)
        with pytest.raises(Exception, match="more than one DEFINE"):
            presto_sql(spark, q.format(b_op="<=")).collect()
    finally:
        _d.set_mr_define_assertions(False)


def test_named_window_on_rewritten_shapes():
    """OVER <named window> on a compound-aggregate rewrite moves onto the
    bare collect_list by name: Spark resolves the name from the query
    block's WINDOW clause (execution parity in the next tests)."""
    for fn in ("array_agg(x order by y)", "min_by(x, y, 3)"):
        out = translate(
            f"select {fn} over w from t window w as (partition by g)"
        )
        assert "as __ob_v)) over w)" in out or "as __mb_v)) over w," in out
    # native shapes keep named-window use untouched
    out = translate(
        "select array_agg(x) over w from t window w as (partition by g)"
    )
    assert "array_agg(x) over w" in out


def test_named_window_inheritance_and_refusals(spark, duck):
    """Trino window inheritance (`w2 AS (w1 ORDER BY ...)`, and the
    inline `OVER (w1 ORDER BY ...)` form) expands to the full spec; a
    relocated window name is Spark's to resolve, so an undefined name
    fails there and a name defined in two query blocks means the one of
    its own block; cycles and IGNORE NULLS refuse."""
    out = translate(
        "select min_by(x, y, 3) over w2 from t "
        "window w1 as (partition by g), w2 as (w1 order by y)"
    )
    assert "over w2," in out and "w2 as (partition by g order by y)" in out
    out = translate(
        "select array_agg(x order by y) over (w1 order by y) from t "
        "window w1 as (partition by g)"
    )
    assert "over (partition by g order by y)" in out
    rows = [(1, 2, 1), (2, 1, 1), (3, None, 1), (4, 5, 2)]
    spark.createDataFrame(rows, "x int, y int, g int").createOrReplaceTempView(
        "nwin_t"
    )
    with pytest.raises(Exception, match="(?i)w9"):
        presto_sql(spark, "select min_by(x, y, 3) over w9 from nwin_t").collect()
    got = presto_sql(
        spark,
        "select x, array_agg(x order by y) over w as arr from "
        "(select * from nwin_t window w as (order by y)) "
        "window w as (partition by g) order by x",
    ).collect()
    duck.execute("create or replace temp table nwin_t (x int, y int, g int)")
    duck.executemany("insert into nwin_t values (?, ?, ?)", rows)
    want = duck.execute(
        "select x, list(x) over (partition by g order by y nulls last "
        "rows between unbounded preceding and unbounded following) "
        "from nwin_t order by x"
    ).fetchall()
    assert [(r.x, r.arr) for r in got] == [(x, list(a)) for x, a in want]
    with pytest.raises(ValueError, match="cycl|more than once|undefined"):
        translate(
            "select min_by(x, y, 3) over w1 from t "
            "window w1 as (w2 order by y), w2 as (w1 partition by g)"
        )
    with pytest.raises(ValueError, match="null-skipping"):
        translate(
            "select array_agg(x order by y) ignore nulls over w from t "
            "window w as (partition by g)"
        )


def test_exec_named_window_array_agg_matches_duckdb(spark, duck):
    """Live parity for the named-window relocation: Presto
    `array_agg(x ORDER BY ...) OVER w` with `WINDOW w AS (...)` vs
    DuckDB's windowed list() over the same named window with the
    whole-partition frame spelled explicitly."""
    got = presto_sql(
        spark,
        """
        select o_orderkey,
               array_agg(o_orderkey order by o_orderdate, o_orderkey)
                   over w as arr
        from orders where o_orderkey < 200
        window w as (partition by o_custkey)
        order by o_orderkey
        """,
    ).collect()
    want = duck.execute(
        """
        select o_orderkey, list(o_orderkey) over w as arr
        from orders where o_orderkey < 200
        window w as (partition by o_custkey order by o_orderdate,
                     o_orderkey rows between unbounded preceding
                     and unbounded following)
        order by o_orderkey
        """
    ).fetchall()
    assert [(r.o_orderkey, r.arr) for r in got] == [
        (k, list(a)) for k, a in want
    ]


def test_window_inheritance_framed_parent_refuses():
    """SQL:2011/Trino forbid inheriting from a window that specifies a
    frame — appending the child's clauses after the frame would emit
    unparseable SQL (caught round 13 via the named-EXCLUDE inlining)."""
    with pytest.raises(ValueError, match="frame"):
        translate(
            "select count(*) over (w order by k) from t "
            "window w as (partition by g rows 2 preceding)"
        )
    with pytest.raises(ValueError, match="frame"):
        translate(
            "select sum(v) over w2 from t window "
            "w as (order by k rows 2 preceding), w2 as (w order by v)"
        )
    # frameless parents still inherit fine, in both positions
    out = translate(
        "select sum(v) over (w order by k) from t "
        "window w as (partition by g)"
    )
    assert "over (partition by g order by k)" in out
    out = translate(
        "select sum(v) over w2 from t "
        "window w as (partition by g), w2 as (w order by k)"
    )
    assert "w2 as (partition by g order by k)" in out


def test_frame_exclude_and_session_statement_refusals():
    """Round 12: EXCLUDE NO OTHERS (the default semantics) strips;
    the real exclusion modes refuse toward the engine composition
    operators; Trino session statements refuse with statement-specific
    guidance via the DML leader."""
    out = translate(
        "select sum(x) over (order by y rows between 1 preceding and "
        "current row exclude no others) from t"
    )
    assert "exclude" not in out.lower()
    for mode in ("current row", "group", "ties"):
        with pytest.raises(ValueError, match="EXCLUDE"):
            translate(
                f"select sum(x) over (order by y rows between 1 "
                f"preceding and current row exclude {mode}) from t"
            )
    # a column actually NAMED exclude is untouched (no closing paren)
    out = translate("select exclude from t group by exclude")
    assert "exclude" in out
    # GROUPS frame mode auto-composes since round 15 (the dense_rank+
    # RANGE definitional rewrite — exec parity in test_exec_groups_*);
    # a shape the rewrite cannot wrap (a JOIN FROM) refuses loudly
    # toward the #160 composition instead of dying as a Spark
    # PARSE_SYNTAX_ERROR
    out = _norm(
        translate(
            "select sum(x) over (order by y groups between 1 "
            "preceding and 1 following) from t"
        )
    )
    assert "dense_rank() over (order by y)" in out
    assert "range between 1 preceding and 1 following" in out
    with pytest.raises(ValueError, match="GROUPS frame"):
        translate(
            "select sum(a.x) over (order by a.y groups between 1 "
            "preceding and 1 following) from t a join u b on a.k = b.k"
        )
    # ... while a column literally named groups in a BETWEEN predicate
    # passes through (the rewrite anchors on frame-bound words)
    out = translate("select groups from t where groups between 1 and 5")
    assert "groups" in out
    from sparketl import dml

    # session statements refuse during parse, before touching the
    # catalog — no Spark session needed
    for stmt, frag in [
        ("set session join_distribution_type = 'BROADCAST'", "spark.conf"),
        # USE is a real statement since round 14; a foreign catalog
        # still refuses at parse time, before any session touch
        ("use hive.warehouse", "unknown catalog"),
        ("analyze lineitem", "statistics"),
        ("start transaction", "atomic per statement"),
        ("grant select on t to role r", "access-control"),
    ]:
        assert dml.is_dml(stmt)
        with pytest.raises(ValueError, match=frag):
            dml.execute(None, stmt)


def test_exec_groups_frame_matches_duckdb(spark, duck):
    """Round 15 (VERDICT r14 #2): pasted GROUPS frames execute through
    the definitional dense_rank+RANGE rewrite and must match DuckDB
    running the same definitional formulation (DuckDB has no GROUPS
    mode either — 'GROUPS mode ... not implemented yet', probed) on
    the same rows.  Peer groups are non-trivial: many lineitem rows
    share an l_shipdate within an order key's partition-free window."""
    load_tables(spark, SF_DIR)
    got = presto_sql(
        spark,
        """
        select l_orderkey, l_linenumber,
               sum(l_linenumber) over (
                   partition by l_orderkey order by l_shipdate
                   groups between 1 preceding and 1 following) as s,
               count(*) over (
                   partition by l_orderkey order by l_shipdate
                   groups between unbounded preceding and current row)
                   as c,
               max(l_linenumber) over (
                   partition by l_orderkey order by l_shipdate
                   groups 1 preceding) as m
        from lineitem where l_orderkey < 300
        order by l_orderkey, l_linenumber
        """,
    ).collect()
    want = duck.execute(
        """
        select l_orderkey, l_linenumber,
               sum(l_linenumber) over (
                   partition by l_orderkey order by g
                   range between 1 preceding and 1 following) as s,
               count(*) over (
                   partition by l_orderkey order by g
                   range between unbounded preceding and current row)
                   as c,
               max(l_linenumber) over (
                   partition by l_orderkey order by g
                   range between 1 preceding and current row) as m
        from (
            select l_orderkey, l_linenumber,
                   dense_rank() over (
                       partition by l_orderkey order by l_shipdate) as g
            from lineitem where l_orderkey < 300
        )
        order by l_orderkey, l_linenumber
        """
    ).fetchall()
    assert len(got) == len(want) > 0
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_exec_groups_frame_where_and_alias_scope(spark, duck):
    """The rewrite moves WHERE inside the rank-bearing derived table
    (ranks must count only filtered rows) and re-aliases it so
    qualified references keep resolving; a bare * projection keeps its
    schema via EXCEPT."""
    load_tables(spark, SF_DIR)
    src = """
        select l.l_orderkey, l.l_linenumber,
               sum(l.l_linenumber) over (
                   partition by l.l_orderkey order by l.l_shipdate
                   groups between 1 preceding and 1 following) as s
        from lineitem l
        where l.l_orderkey < 200 and l.l_linenumber > 1
        order by l.l_orderkey, l.l_linenumber
    """
    oracle = """
        select l_orderkey, l_linenumber,
               sum(l_linenumber) over (
                   partition by l_orderkey order by g
                   range between 1 preceding and 1 following) as s
        from (
            select l_orderkey, l_linenumber,
                   dense_rank() over (
                       partition by l_orderkey order by l_shipdate) as g
            from lineitem where l_orderkey < 200 and l_linenumber > 1
        )
        order by l_orderkey, l_linenumber
    """
    got = presto_sql(spark, src).collect()
    want = duck.execute(oracle).fetchall()
    assert len(got) == len(want) > 0
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # bare-star projection: result schema = base columns + the measure
    star = presto_sql(
        spark,
        """
        select *, count(*) over (
            order by n_regionkey groups between 1 preceding
            and current row) as c
        from nation
        """,
    )
    base_cols = [f.name for f in spark.table("nation").schema.fields]
    assert [c for c in star.columns] == base_cols + ["c"]
    wantn = duck.execute(
        """
        select * exclude(g), count(*) over (
            order by g range between 1 preceding and current row) as c
        from (select *, dense_rank() over (order by n_regionkey) as g
              from nation)
        order by n_nationkey
        """
    ).fetchall()
    gotn = sorted(
        (tuple(r) for r in star.collect()), key=lambda t: t[0]
    )
    assert gotn == [tuple(r) for r in wantn]


def test_exec_groups_frame_matches_engine_face(spark):
    """The pasted-text spelling of SURVEY §2 #160 must produce exactly
    the engine face's values (win_groups_frame — hash-green since
    round 14): same hour-group ±1 sum per event."""
    from sparketl.registry import QUERIES

    load_tables(spark, SF_DIR)
    face = {
        (r.user_id, r.event_id): r.adj_group_sum
        for r in QUERIES["win_groups_frame"](spark, SF_DIR).collect()
    }
    got = presto_sql(
        spark,
        """
        select user_id, event_id,
               sum(cast(round(value * 100) as bigint)) over (
                   partition by user_id
                   order by date_trunc('hour', ts)
                   groups between 1 preceding and 1 following)
                   as adj_group_sum
        from events
        """,
    ).collect()
    assert len(got) == len(face) > 0
    for r in got:
        assert face[(r.user_id, r.event_id)] == r.adj_group_sum


def test_exec_groups_exclude_composes_matches_duckdb(spark, duck):
    """GROUPS ... EXCLUDE GROUP/TIES: the rank-RANGE frame the rewrite
    emits contains the current row, so the existing EXCLUDE composition
    applies on top — DuckDB runs the same definitional rewrite with
    its NATIVE exclude clause."""
    load_tables(spark, SF_DIR)
    src = """
        select l_orderkey, l_linenumber,
               count(*) over (
                   partition by l_orderkey order by l_shipdate
                   groups between 1 preceding and 1 following
                   exclude group) as cg,
               count(*) over (
                   partition by l_orderkey order by l_shipdate
                   groups between 1 preceding and 1 following
                   exclude ties) as ct
        from lineitem where l_orderkey < 200
        order by l_orderkey, l_linenumber
    """
    got = presto_sql(spark, src).collect()
    want = duck.execute(
        """
        select l_orderkey, l_linenumber,
               count(*) over (
                   partition by l_orderkey order by g
                   range between 1 preceding and 1 following
                   exclude group) as cg,
               count(*) over (
                   partition by l_orderkey order by g
                   range between 1 preceding and 1 following
                   exclude ties) as ct
        from (
            select l_orderkey, l_linenumber, l_shipdate,
                   dense_rank() over (
                       partition by l_orderkey order by l_shipdate) as g
            from lineitem where l_orderkey < 200
        )
        order by l_orderkey, l_linenumber
        """
    ).fetchall()
    assert len(got) == len(want) > 0
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_groups_frame_rewrite_refusals():
    """Shapes the wrap cannot preserve refuse loudly toward the engine
    faces — never a Spark parse error."""
    with pytest.raises(ValueError, match="GROUPS frame"):
        translate(
            "select sum(x) over (order by y groups between 1 preceding "
            "and 1 following) from t group by k"
        )
    with pytest.raises(ValueError, match="ORDER BY"):
        translate(
            "select sum(x) over (partition by p groups between 1 "
            "preceding and 1 following) from t"
        )
    with pytest.raises(ValueError, match="GROUPS frame"):
        translate(
            "select t.*, sum(x) over (order by y groups between 1 "
            "preceding and 1 following) from t"
        )
    with pytest.raises(ValueError, match="GROUPS frame"):
        translate(
            "select sum(x) over (order by y groups between 1 preceding "
            "and 1 following) from t, u"
        )
