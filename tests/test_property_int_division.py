"""Property differential for the front door's integer `/` (round 11,
VERDICT r10 #1 — typed by Spark's analyzer through dialect's probe).

Hypothesis builds random TYPED expression trees over an int64 column,
an int32 column, a double column and literals; each node carries its
known Presto class, so the generator can emit the DuckDB twin with
``//`` exactly where Presto's ``/`` truncates (DuckDB ``//`` verified
truncating-toward-zero over integers: (-7)//2 = -3) and ``/`` where
the division is fractional.  The Presto text always spells ``/`` — the
front door must recover the typing from the view's schema.  A
mismatch means either an operand was typed wrong (a fractional
division rewritten, or an integral one missed) or Spark's ``div``
diverges from Presto semantics somewhere.

Divisor subtrees are drawn from a nonzero-by-construction pool
((ia % 7 + 11) ∈ [5, 17], literals, dx*dx + 1.5) so zero-divide never
fires; magnitudes are capped (|ia| ≤ 1000, |ib| ≤ 30, literals ≤ 9,
max 5 leaves) so no ANSI overflow at any tree shape (worst product
1000^5 = 1e15 « 2^63; int32-only products ≤ 30^5·9^2 « 2^31).
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd
import pytest

try:
    from hypothesis import HealthCheck, given, settings, strategies as st
except ImportError:  # pragma: no cover
    pytest.skip("hypothesis unavailable", allow_module_level=True)

from pyspark.sql import types as T

from sparketl import dialect

_ROWS = pd.DataFrame(
    {
        "k": list(range(24)),
        "ia": [
            -1000, -997, -500, -101, -77, -13, -7, -3, -2, -1, 0, 1,
            2, 3, 5, 7, 13, 77, 101, 500, 997, 1000, 36, -36,
        ],
        "ib": [
            7, -7, 3, -3, 11, -11, 2, -2, 30, -30, 1, -1,
            13, -13, 17, -17, 23, -23, 5, -5, 29, -29, 0, 4,
        ],
        "dx": [
            2.5, -2.5, 0.0, 1.25, -1.25, 10.5, -10.5, 3.0, -3.0, 0.5,
            -0.5, 7.75, -7.75, 100.25, -100.25, 0.125, 9.5, -9.5, 1.0,
            -1.0, 33.25, -33.25, 4.5, -4.5,
        ],
    }
)

_SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("ia", T.LongType()),
        T.StructField("ib", T.IntegerType()),
        T.StructField("dx", T.DoubleType()),
    ]
)


@pytest.fixture(scope="module")
def probe(spark):
    df = _ROWS.copy()
    df["ib"] = df["ib"].astype("int32")
    spark.createDataFrame(df, schema=_SCHEMA).createOrReplaceTempView(
        "intdiv_probe"
    )
    con = duckdb.connect()
    con.register("intdiv_probe", df)
    yield spark, con
    con.close()


# Node = (presto_text, duckdb_text, cls) with cls in {"int", "frac"}.
_LEAVES = st.one_of(
    st.sampled_from(
        [("ia", "ia", "int"), ("ib", "ib", "int"), ("dx", "dx", "frac")]
    ),
    st.integers(min_value=-9, max_value=9).map(
        lambda n: (str(n), str(n), "int")
    ),
    st.sampled_from(
        [
            ("2.5e0", "2.5e0", "frac"),
            ("-1.5e0", "-1.5e0", "frac"),
            ("0.25e1", "0.25e1", "frac"),
        ]
    ),
)

#: nonzero-by-construction divisor subtrees
_INT_DIVISORS = st.sampled_from(
    [
        ("2", "2", "int"),
        ("3", "3", "int"),
        ("7", "7", "int"),
        ("-3", "-3", "int"),
        ("(ia % 7 + 11)", "(ia % 7 + 11)", "int"),
        ("(ib % 5 + 9)", "(ib % 5 + 9)", "int"),
    ]
)
_FRAC_DIVISORS = st.sampled_from(
    [
        ("2.5e0", "2.5e0", "frac"),
        ("-1.25e0", "-1.25e0", "frac"),
        ("(dx * dx + 1.5e0)", "(dx * dx + 1.5e0)", "frac"),
    ]
)
_DIVISORS = st.one_of(_INT_DIVISORS, _FRAC_DIVISORS)


def _cls2(a: str, b: str) -> str:
    return "int" if a == "int" and b == "int" else "frac"


def _extend(children):
    def arith(args):
        (l, r), op = args
        return (
            f"({l[0]} {op} {r[0]})",
            f"({l[1]} {op} {r[1]})",
            _cls2(l[2], r[2]),
        )

    def division(args):
        n, d = args
        cls = _cls2(n[2], d[2])
        duck_op = "//" if cls == "int" else "/"
        return (f"({n[0]} / {d[0]})", f"({n[1]} {duck_op} {d[1]})", cls)

    def chain(args):
        # unparenthesized multiplicative chain f1 * f2 / d — the chain,
        # not just the nearest primary, decides the left operand's
        # type: 2.5e0 * ia / 3 is fractional
        f1, f2, d = args
        cls = _cls2(_cls2(f1[2], f2[2]), d[2])
        duck_op = "//" if cls == "int" else "/"
        return (
            f"{f1[0]} * {f2[0]} / {d[0]}",
            f"{f1[1]} * {f2[1]} {duck_op} {d[1]}",
            cls,
        )

    def case_node(args):
        l, r = args
        return (
            f"(case when ia > 0 then {l[0]} else {r[0]} end)",
            f"(case when ia > 0 then {l[1]} else {r[1]} end)",
            _cls2(l[2], r[2]),
        )

    def cast_double(x):
        return (f"cast({x[0]} as double)", f"cast({x[1]} as double)", "frac")

    return st.one_of(
        st.tuples(
            st.tuples(children, children), st.sampled_from(["+", "-", "*"])
        ).map(arith),
        st.tuples(children, _DIVISORS).map(division),
        st.tuples(children, children, _DIVISORS).map(chain),
        st.tuples(children, children).map(case_node),
        children.map(cast_double),
    )


_EXPRS = st.recursive(_LEAVES, _extend, max_leaves=5)


@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(node=_EXPRS)
def test_int_division_differential(probe, node):
    spark, con = probe
    presto, duck, cls = node
    got = (
        dialect.sql(
            spark, f"select k, {presto} as v from intdiv_probe order by k"
        )
        .toPandas()
        .sort_values("k")
        .reset_index(drop=True)
    )
    want = (
        con.sql(f"select k, {duck} as v from intdiv_probe order by k")
        .df()
        .sort_values("k")
        .reset_index(drop=True)
    )
    assert len(got) == len(want) == len(_ROWS)
    if cls == "int":
        assert str(got["v"].dtype).startswith("int"), (
            f"{presto!r} typed int but Spark returned {got['v'].dtype} — "
            "the resolver missed an integral division"
        )
    for i in range(len(got)):
        g, w = got["v"].iloc[i], want["v"].iloc[i]
        if cls == "int":
            assert int(g) == int(w), (presto, duck, i, g, w)
        else:
            assert math.isclose(
                float(g), float(w), rel_tol=1e-9, abs_tol=1e-9
            ), (presto, duck, i, g, w)


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(node=_EXPRS)
def test_unknown_operand_policy(probe, node):
    """A `/` with an operand Spark cannot resolve raises Spark's own
    UNRESOLVED_COLUMN, whatever the other operand's type: a wrong
    guess is never made silently."""
    from pyspark.errors import AnalysisException

    spark, _con = probe
    presto, _duck, _cls = node
    with pytest.raises(AnalysisException, match="UNRESOLVED_COLUMN"):
        dialect.sql(
            spark,
            f"select some_unknown_column / ({presto}) from intdiv_probe",
        )
