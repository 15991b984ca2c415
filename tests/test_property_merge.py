"""Property differential for the merge_apply engine (round 9): random
change feeds against a Python dict model of MERGE semantics.

The round-9 review found a real silent-row-loss bug here (a feed that
deletes every row of a partition left the old files in place), so
this family gets randomized coverage: feeds
drawn by hypothesis over a small keyspace with clustered partitions —
guaranteeing partition-emptying deletes, upserts that move a key's
partition value, inserts into brand-new partitions, and empty feeds —
applied twice each to assert the fixed point as well.

Model: the table is a dict key -> (value, partition).  'D' removes the
key; 'U' and 'I' both set it to exactly the feed row (upsert).  One op
per key per feed (the documented well-formedness precondition) is
enforced by construction.
"""

from __future__ import annotations

import pytest

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st
except ImportError:  # pragma: no cover
    pytest.skip("hypothesis unavailable", allow_module_level=True)

from sparketl import manifest
from sparketl.operators.etl import merge_apply

_SCHEMA = (
    "o_orderkey long, o_orderstatus string, o_totalprice double, "
    "o_orderpriority string"
)
_PARTS = ["P0", "P1", "P2"]

# initial table: keys 0..9 spread over three partitions
initial = st.dictionaries(
    st.integers(0, 9),
    st.tuples(st.integers(0, 100), st.sampled_from(_PARTS)),
    min_size=1,
    max_size=10,
)

# one feed: key -> (op, value, partition); ops over keys 0..12 so
# deletes of absent keys and inserts of new keys both occur
feed_st = st.dictionaries(
    st.integers(0, 12),
    st.tuples(
        st.sampled_from("DUI"),
        st.integers(0, 100),
        st.sampled_from(_PARTS),
    ),
    max_size=13,
)


def _write(spark, path, table):
    rows = [(k, "F", float(v), p) for k, (v, p) in table.items()]
    if not rows:
        rows = [(999, "F", 0.0, "P0")]  # parquet needs >=1 row; sentinel
        table[999] = (0, "P0")
    spark.createDataFrame(rows, _SCHEMA).write.mode("overwrite").partitionBy(
        "o_orderpriority"
    ).parquet(path)


def _apply_model(table: dict, feed: dict) -> dict:
    out = dict(table)
    for k, (op, v, p) in feed.items():
        if op == "D":
            out.pop(k, None)
        else:
            out[k] = (v, p)
    return out


def _read(spark, path) -> dict:
    return {
        r.o_orderkey: (int(r.o_totalprice), r.o_orderpriority)
        for r in manifest.read(spark, path).collect()
    }


@settings(max_examples=8, deadline=None, derandomize=True)
@given(table=initial, feeds=st.lists(feed_st, min_size=1, max_size=2))
def test_merge_apply_matches_dict_model(spark, tmp_path_factory, table, feeds):
    path = str(tmp_path_factory.mktemp("merge_prop") / "t")
    table = dict(table)
    _write(spark, path, table)
    model = dict(table)
    for feed in feeds:
        feed_df = spark.createDataFrame(
            [(k, "F", float(v), p, op) for k, (op, v, p) in feed.items()]
            or [(998, "F", 0.0, "P0", "D")],  # empty feed: no-op delete
            _SCHEMA + ", __op string",
        )
        merge_apply(spark, path, feed_df, "o_orderkey", "o_orderpriority")
        model = _apply_model(model, feed or {998: ("D", 0, "P0")})
        assert _read(spark, path) == model
        # fixed point: the same feed again must not change the table
        merge_apply(spark, path, feed_df, "o_orderkey", "o_orderpriority")
        assert _read(spark, path) == model
