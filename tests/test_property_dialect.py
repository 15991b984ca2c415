"""Property-based differential for the Presto->Spark TRANSLATOR
(round 7): hypothesis composes random projections from the dialect
rewrite families — each fragment a (Presto text, native-DuckDB text)
twin already execution-pinned individually in test_dialect — and the
COMPOSED Presto text runs through ``dialect.sql`` against Spark while
the DuckDB twin runs natively; canonical frames must match exactly.

The point is rewrite INTERACTION: masking, parenthesization, nesting
and ordering bugs that single-fragment tests cannot see (the round-7
self-review's ngrams lambda-variable capture is exactly this class —
it only fired with a rewrite nested inside a user lambda).
"""

from __future__ import annotations

import duckdb
import pytest

try:
    from hypothesis import given, settings, strategies as st
except ImportError:  # pragma: no cover
    pytest.skip("hypothesis unavailable", allow_module_level=True)

from sparketl import dialect
from sparketl.oracle import canonical_frame, duckdb_connect
from sparketl.tables import load_tables
from tests.conftest import SF_SMOKE_DIR

# (presto_template, duckdb_template, params) — params drawn per example
FRAGMENTS = [
    (
        "date_diff('day', cast(o_orderdate as timestamp), "
        "timestamp '1996-0{m}-15 00:00:00')",
        "date_diff('day', cast(o_orderdate as timestamp), "
        "timestamp '1996-0{m}-15 00:00:00')",
    ),
    (
        "day_of_week(o_orderdate)",
        "cast(isodow(o_orderdate) as integer)",
    ),
    (
        "strpos(o_orderpriority, '{c}')",
        "cast(strpos(o_orderpriority, '{c}') as integer)",
    ),
    (
        "element_at(split(o_orderpriority, '-'), {i})",
        "string_split(o_orderpriority, '-')[{i}]",
    ),
    (
        "truncate(o_totalprice / {d})",
        "trunc(o_totalprice / {d})",
    ),
    (
        "format('%s#%s', o_orderstatus, o_orderpriority)",
        "printf('%s#%s', o_orderstatus, o_orderpriority)",
    ),
    (
        "bitwise_xor(o_orderkey, {k})",
        "xor(o_orderkey, {k})",
    ),
    (
        "any_match(split(o_orderpriority, '-'), x -> length(x) > {n})",
        "len(list_filter(string_split(o_orderpriority, '-'), "
        "x -> length(x) > {n})) > 0",
    ),
    (
        "cardinality(ngrams(split(o_orderpriority, '-'), {g}))",
        "greatest(len(string_split(o_orderpriority, '-')) - {g} + 1, 1)",
    ),
    # NB the operand must be paren-free: TRY(cast(f(x) as t)) is a
    # DELIBERATE translator decline (the operand itself could error,
    # which try_cast would not catch — dialect.py _try_fn), so the
    # fuzz universe only contains the covered shape.
    (
        "try(cast(o_orderstatus as integer))",
        "try_cast(o_orderstatus as integer)",
    ),
    (
        "url_extract_host('https://' || lower(o_orderstatus) "
        "|| '.example.com/x')",
        "regexp_extract('https://' || lower(o_orderstatus) "
        "|| '.example.com/x', 'https://([^/]+)', 1)",
    ),
    (
        "to_unixtime(cast(o_orderdate as timestamp))",
        "epoch(cast(o_orderdate as timestamp))",
    ),
]


@st.composite
def projection(draw):
    idxs = draw(
        st.lists(
            st.integers(0, len(FRAGMENTS) - 1),
            min_size=2,
            max_size=4,
            unique=True,
        )
    )
    params = {
        "m": draw(st.integers(1, 9)),
        "c": draw(st.sampled_from(["-", "U", "E"])),
        "i": draw(st.integers(1, 3)),  # 3 = out of bounds -> NULL both
        "d": draw(st.integers(10, 999)),
        "k": draw(st.integers(1, 1 << 20)),
        "n": draw(st.integers(1, 8)),
        "g": draw(st.integers(1, 4)),
    }
    cols_p, cols_d = [], []
    for j, idx in enumerate(idxs):
        p, d = FRAGMENTS[idx]
        cols_p.append(f"{p.format(**params)} as c{j}")
        cols_d.append(f"{d.format(**params)} as c{j}")
    lim = draw(st.integers(50, 300))
    pred = f"o_orderkey < {lim}"
    return (
        f"select o_orderkey, {', '.join(cols_p)} from orders where {pred}",
        f"select o_orderkey, {', '.join(cols_d)} from orders where {pred}",
    )


@pytest.fixture(scope="module")
def duck_smoke():
    con = duckdb_connect(SF_SMOKE_DIR)
    yield con
    con.close()


@settings(max_examples=20, deadline=None, derandomize=True)
@given(q=projection())
def test_translated_projection_matches_duckdb(spark, duck_smoke, q):
    presto_text, duck_text = q
    load_tables(spark, SF_SMOKE_DIR)
    got = dialect.sql(spark, presto_text).toPandas()
    want = duck_smoke.execute(duck_text).df()
    assert sorted(got.columns) == sorted(want.columns)
    assert canonical_frame(got) == canonical_frame(want), presto_text


# ---------------------------------------------------------------------------
# MySQL %-pattern translator (r10): random patterns vs Python strftime
# ---------------------------------------------------------------------------

#: MySQL specifier → C/Python strftime twin — only pairs whose
#: semantics match EXACTLY on both sides (zero-padded forms; the
#: space/zero-padding variants %e %c %k %l are pinned in
#: test_dialect's reference-value test instead, because Python's
#: %-d family is platform-defined)
_MYSQL_TO_C = {
    "%Y": "%Y", "%y": "%y", "%m": "%m", "%d": "%d", "%H": "%H",
    "%h": "%I", "%I": "%I", "%i": "%M", "%s": "%S", "%S": "%S",
    "%j": "%j", "%p": "%p", "%W": "%A", "%a": "%a", "%M": "%B",
    "%b": "%b", "%T": "%H:%M:%S", "%%": "%%",
}

_LITERALS = " -:/.,#[]()!0Z"  # incl. Java-reserved and alpha literal

pattern_parts = st.lists(
    st.one_of(
        st.sampled_from(sorted(_MYSQL_TO_C)),
        st.sampled_from(list(_LITERALS)),
    ),
    min_size=1,
    max_size=12,
)
import datetime as _dt

timestamps = st.datetimes(
    min_value=_dt.datetime(1905, 1, 3, 0, 0, 0),
    max_value=_dt.datetime(2099, 12, 28, 23, 59, 59),
).map(lambda d: d.replace(microsecond=0))


@settings(max_examples=60, deadline=None, derandomize=True)
@given(parts=pattern_parts, ts=timestamps)
def test_mysql_pattern_formatting_matches_python_strftime(spark, parts, ts):
    """r10 property differential: a random MySQL pattern rendered by
    the TRANSLATED Spark date_format must equal Python's strftime
    rendering of the C-twin pattern — an independent implementation of
    the same specifier table, over a century of timestamps (DST
    boundaries, leap days, 12-hour wraps, two-digit years)."""
    from hypothesis import assume

    # a %-free pattern is ALREADY-Spark spelling by contract (it
    # passes through to Java semantics — documented divergence), so
    # the MySQL model only applies when a specifier is present
    assume(any(p.startswith("%") for p in parts))
    mysql = "".join(parts)
    c_pat = "".join(_MYSQL_TO_C.get(p, p) for p in parts)
    want = ts.strftime(c_pat)
    # Python %A/%B/%p are locale-dependent; the test env is C/POSIX,
    # matching Java's English root locale — guard, don't assume
    if ts.strftime("%A") not in (
        "Monday", "Tuesday", "Wednesday", "Thursday",
        "Friday", "Saturday", "Sunday",
    ):  # pragma: no cover
        pytest.skip("non-English locale")
    try:
        got = dialect.sql(
            spark,
            "select date_format(timestamp '"
            + ts.strftime("%Y-%m-%d %H:%M:%S")
            + f"', '{mysql}') as x",
        ).collect()[0].x
    except ValueError as e:
        # back-to-back same-letter specifiers refuse by contract
        # (Java patterns merge them); anything else is a real bug
        assert "back-to-back" in str(e), (mysql, e)
        assume(False)
    assert got == want, (mysql, c_pat, ts)


# ---------------------------------------------------------------------------
# ordered array_agg: random direction/NULLS combos (round 12, VERDICT r11 #3)
# ---------------------------------------------------------------------------

_OBA_ROWS = [
    # (id, k1, k2) — nulls and ties in both keys; id is the unique
    # final tiebreaker (fixture trap: ties must end in a unique key)
    (1, 3, None),
    (2, None, 5),
    (3, 3, 2),
    (4, 1, None),
    (5, None, None),
    (6, 2, 1),
    (7, 2, 9),
    (8, 1, 2),
    (9, 3, 2),
]


@pytest.fixture(scope="module")
def oba_env(spark):
    spark.createDataFrame(
        _OBA_ROWS, "id long, k1 int, k2 int"
    ).createOrReplaceTempView("oba_probe")
    con = duckdb.connect()
    con.sql(
        "create table oba_probe as select * from (values "
        + ", ".join(str(r).replace("None", "null") for r in _OBA_ROWS)
        + ") t(id, k1, k2)"
    )
    yield con


_key_spec = st.tuples(
    st.sampled_from(["k1", "k2"]),
    st.sampled_from([None, "asc", "desc"]),
    st.sampled_from([None, "first", "last"]),
)


@settings(max_examples=40, deadline=None, derandomize=True)
@given(keys=st.lists(_key_spec, min_size=1, max_size=3))
def test_ordered_array_agg_any_direction_nulls_combo(spark, oba_env, keys):
    """Every direction/NULLS combination of the ordered array_agg must
    match DuckDB's NATIVE within-aggregate ORDER BY with the same
    ordering spelled explicitly (Presto defaults resolved: null sorts
    largest — ASC → NULLS LAST, DESC → NULLS FIRST).  Exercises both
    the flagged default path and the lambda-comparator path."""
    presto_keys, duck_keys = [], []
    for col, d, nu in keys:
        p = col + (f" {d}" if d else "") + (f" nulls {nu}" if nu else "")
        eff_d = d or "asc"
        eff_nu = nu or ("last" if eff_d == "asc" else "first")
        presto_keys.append(p)
        duck_keys.append(f"{col} {eff_d} nulls {eff_nu}")
    # unique final tiebreaker on both sides (tie ⇒ equal value rule)
    presto_keys.append("id")
    duck_keys.append("id asc nulls last")
    got = dialect.sql(
        spark,
        f"select array_agg(id order by {', '.join(presto_keys)}) as a "
        "from oba_probe",
    ).collect()[0][0]
    want = oba_env.sql(
        f"select array_agg(id order by {', '.join(duck_keys)}) as a "
        "from oba_probe"
    ).fetchone()[0]
    assert list(got) == list(want), (presto_keys, duck_keys)
