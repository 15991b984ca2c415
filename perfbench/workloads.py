"""The three workloads: what each runs, in which order, and how each
operation's output is checked.

Each run is one fresh process with one client in a closed loop: the
next operation is sent only when the previous one has returned.  An
operation's latency covers the engine calls only; its output is kept
and checked once the engine has stopped.  Why each workload exists is
recorded in ``README.md`` beside this file.
"""

from __future__ import annotations

import os
import random
import time
import traceback
from dataclasses import dataclass, field

from perfbench import inputs, stats

#: ``core_sf0.1`` runs every CORE_STRIDE-th non-``llm_*`` query in
#: registry order from CORE_OFFSET on: a fixed cross-section of the
#: families with at least 40 queries, so a p75 tail leaves ten samples
#: beyond it, sized to the run budget (all 208 take about 125 s on 4
#: cores).  This offset keeps ``approx_pctl_sketch_merge`` (9 s in a
#: fresh process, a third of the run) out of the sample.
CORE_STRIDE, CORE_OFFSET = 5, 3
#: ``llm_corpus`` runs the head of the ``llm_*`` registry: the dedup
#: family and the similarity/ANN group, whose members run adjacent so
#: they share the engine's memos as intended.  The rest of the family is
#: bound by the per-query floor, as ``core_sf0.1`` is.
LLM_HEAD = 9
#: ``dml_rw`` statement count: three reads per write.
DML_STATEMENTS = 40
DML_TABLE = "bench_orders"
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
#: Read kinds in turn.  The point lookups, the cheapest statements, are
#: 15 of 40, so the median falls inside the one-partition aggregates, one
#: group of similar operations, not on the edge between two.
READS = ("point", "part_agg", "point", "table_agg", "point", "part_agg")
#: The final table is compared through this per-(partition, status)
#: checksum of its columns: exact in both engines and cheap, where a
#: row-by-row canonical form of 150k rows costs seconds per side.
CHECKSUM = (
    "select o_orderpriority, o_orderstatus, count(*) as n, "
    "cast(sum(o_orderkey) as bigint) as keys, cast(sum(o_custkey) as bigint) as custs, "
    "cast(sum(cast(o_totalprice as decimal(18, 2))) as varchar) as total, "
    "min(o_orderdate) as first_date, max(o_orderdate) as last_date "
    "from {t} group by o_orderpriority, o_orderstatus"
)


@dataclass
class Op:
    """One operation of a run and what came of it."""

    name: str
    kind: str  # "query", "read" or "write"
    text: str = ""  # Presto text sent to the engine (dml_rw)
    duck: list[str] = field(default_factory=list)  # DuckDB equivalent
    latency_s: float | None = None
    error: str | None = None
    written: dict | None = None
    host_ref_s: float | None = None  # host speed reading taken just before
    # output awaiting its check, and the oracle's fingerprint of it
    # (None: rows-only, checked for canonicalisable cells alone)
    frame: object = field(default=None, repr=False)
    want: dict | None = None


def query_names(workload: str) -> list[str]:
    from sparketl import registry

    registry.load_all_modules()
    llm = [n for n in registry.QUERIES if n.startswith("llm_")]
    core = [n for n in registry.QUERIES if not n.startswith("llm_")]
    if workload == "core_sf0.1":
        return core[CORE_OFFSET::CORE_STRIDE]
    return llm[:LLM_HEAD]


# ---------------------------------------------------------------------------
# core_sf0.1 and llm_corpus: declared queries against the DuckDB oracle
# ---------------------------------------------------------------------------


def run_select(spark, tracer, op: Op, build):
    """Time ``build()`` and ``toPandas()`` as one operation; the traced
    run splits them into build, plan and exec spans.  Returns the frame."""
    t0 = time.perf_counter()
    with tracer.span("op", op=op.name):
        with tracer.span("build", jobs=True):
            df = build()
        if tracer.enabled:
            with tracer.span("plan"):
                df._jdf.queryExecution().executedPlan()
        with tracer.span("exec", jobs=True):
            pdf = df.toPandas()
    op.latency_s = time.perf_counter() - t0
    return pdf


class QueryWorkload:
    def __init__(self, name: str, seed: int, pool):
        self.names = query_names(name)
        self.sf_dir = inputs.inputs(seed)
        self.oracle = inputs.oracle_fingerprints(self.sf_dir, self.names, pool)

    def setup(self, spark, run_dir: str) -> float:
        return 0.0

    def ops(self):
        for name in self.names:
            yield Op(name, "query")

    def run_op(self, spark, tracer, op: Op) -> None:
        from sparketl.registry import QUERIES

        op.frame = run_select(spark, tracer, op, lambda: QUERIES[op.name](spark, self.sf_dir))
        op.want = self.oracle.get(op.name)

    def finish(self, spark) -> tuple[dict, str | None]:
        return {}, None


# ---------------------------------------------------------------------------
# dml_rw: a seeded read/write stream on one partitioned table
# ---------------------------------------------------------------------------


def dml_stream(seed: int, n: int = DML_STATEMENTS) -> list[Op]:
    """Seeded statements on ``bench_orders``: every fourth is a write
    (INSERT, UPDATE, DELETE, MERGE in turn, each confined to one
    partition), the rest are reads (point lookups, one-partition and
    whole-table aggregates, in the turn READS gives).  Each write carries
    the DuckDB statements that apply the same change to the lockstep
    copy; DuckDB 1.0 has no MERGE, so a MERGE becomes its UPDATE and
    INSERT."""
    rng = random.Random(seed)
    t = DML_TABLE
    next_key = 10_000_000
    out: list[Op] = []
    for i in range(n):
        p = rng.choice(PRIORITIES)
        r = rng.randrange(97)
        cut = f"o_orderpriority = '{p}' and o_custkey % 97 = {r}"
        if i % 4 != 3:
            kind = READS[(i - i // 4) % len(READS)]
            text = {
                "point": f"select o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
                f"o_orderpriority from {t} where o_orderkey = {rng.randrange(150_000)}",
                "part_agg": f"select o_orderstatus, count(*) as n, min(o_totalprice) as lo, "
                f"max(o_totalprice) as hi from {t} where o_orderpriority = '{p}' "
                "group by o_orderstatus",
                "table_agg": f"select o_orderpriority, count(*) as n, max(o_orderkey) as "
                "max_key, cast(sum(cast(o_totalprice as decimal(18, 2))) as varchar) "
                f"as total from {t} group by o_orderpriority",
            }[kind]
            out.append(Op(f"{i:03d}_{kind}", "read", text))
            continue
        kind = ("insert", "update", "delete", "merge")[(i // 4) % 4]
        if kind == "insert":
            rows = []
            for _ in range(4):
                rows.append(
                    f"({next_key}, {rng.randrange(15_000)}, 'O', "
                    f"{rng.randrange(100_000, 50_000_000) / 100}, "
                    f"timestamp '{1995 + rng.randrange(6)}-0{1 + rng.randrange(9)}-1{rng.randrange(10)} 00:00:00', '{p}')"
                )
                next_key += 1
            text = f"insert into {t} values " + ", ".join(rows)
            duck = [text]
        elif kind == "update":
            text = f"update {t} set o_totalprice = o_totalprice + 1.5, o_orderstatus = 'U' where {cut}"
            duck = [text]
        elif kind == "delete":
            text = f"delete from {t} where {cut}"
            duck = [text]
        else:
            new = f"{next_key}, {rng.randrange(15_000)}, 'M', 100.25, timestamp '2000-01-01 00:00:00', '{p}'"
            text = (
                f"merge into {t} as tg using (select o_orderkey as k, o_custkey as c "
                f"from {t} where {cut} union all select {next_key} as k, 0 as c) as s "
                "on tg.o_orderkey = s.k "
                "when matched then update set o_totalprice = tg.o_totalprice + 2.5 "
                f"when not matched then insert values ({new})"
            )
            duck = [
                f"update {t} set o_totalprice = o_totalprice + 2.5 where {cut}",
                f"insert into {t} values ({new})",
            ]
            next_key += 1
        out.append(Op(f"{i:03d}_{kind}", "write", text, duck))
    return out


class DmlWorkload:
    def __init__(self, name: str, seed: int, pool):
        import duckdb

        self.seed = seed
        self.sf_dir = inputs.inputs(seed)
        self.duck = duckdb.connect()
        self.duck.execute("set TimeZone = 'UTC'")
        orders = os.path.join(self.sf_dir, "orders.parquet")
        self.duck.execute(f"create table {DML_TABLE} as select * from read_parquet('{orders}')")
        self.root: str | None = None

    def setup(self, spark, run_dir: str) -> float:
        """Partitioned CTAS of ``orders`` under a fresh base directory in
        ``run_dir``; returns its time, which counts toward ``setup_s``."""
        from sparketl import dialect, dml

        dml.set_base_dir(spark, os.path.join(run_dir, "dml"))
        t0 = time.perf_counter()
        dialect.sql(
            spark,
            f"create table {DML_TABLE} with (partitioned_by = array['o_orderpriority']) "
            "as select * from orders",
        ).collect()
        elapsed = time.perf_counter() - t0
        self.root = dml.table_path(spark, DML_TABLE)
        return elapsed

    def ops(self):
        yield from dml_stream(self.seed)

    def run_op(self, spark, tracer, op: Op) -> None:
        from sparketl import dialect

        if op.kind == "read":
            op.frame = run_select(spark, tracer, op, lambda: dialect.sql(spark, op.text))
            # the lockstep copy answers now, before the next write
            op.want = inputs.fingerprint(self.duck.execute(op.text).df())
            return
        before = stats.snapshot(self.root) if tracer.enabled else None
        t0 = time.perf_counter()
        with tracer.span("op", op=op.name):
            with tracer.span("stmt", jobs=True):
                dialect.sql(spark, op.text).collect()
        op.latency_s = time.perf_counter() - t0
        if before is not None:
            op.written = stats.diff(before, stats.snapshot(self.root))
        for stmt in op.duck:
            self.duck.execute(stmt)

    def finish(self, spark) -> tuple[dict, str | None]:
        """Space on disk, and the final table compared with DuckDB's."""
        from sparketl import dialect

        extra = {"space_mb": stats.dir_mb(self.root)}
        text = CHECKSUM.format(t=DML_TABLE)
        got = inputs.fingerprint(dialect.sql(spark, text).toPandas())
        want = inputs.fingerprint(self.duck.execute(text).df())
        self.duck.close()
        return extra, inputs.mismatch(got, want)


def execute(workload, spark, tracer, seconds: float, reference=stats.host_ref_s) -> list[Op]:
    """The closed loop with one client: each operation is sent when the
    previous one has returned, until the list ends or ``seconds`` have
    passed.  Before each operation ``reference()`` reads the host's
    speed (outside the operation's latency).  An operation that raises
    is recorded as failed, and the loop goes on.  Outputs are checked
    later, by ``check_all``."""
    ops: list[Op] = []
    deadline = time.perf_counter() + seconds
    for op in workload.ops():
        if time.perf_counter() >= deadline:
            break
        ops.append(op)
        op.host_ref_s = reference()
        try:
            workload.run_op(spark, tracer, op)
        except Exception as e:  # noqa: BLE001 - a failed operation is a result
            traceback.print_exc()
            lines = str(e).strip().splitlines()
            op.error = f"{type(e).__name__}: {lines[0][:300] if lines else ''}"
    return ops


def check_all(ops: list[Op], map_=map) -> None:
    """Fail each operation whose output cannot be canonicalised or
    differs from the oracle's.  The outputs are fingerprinted through
    ``map_`` (a process pool's ``map`` after the engine has stopped, so
    checking never overlaps a timed call)."""
    todo = [op for op in ops if op.frame is not None and op.error is None]
    frames = [op.frame for op in todo]
    for op in ops:
        op.frame = None
    for op, got in zip(todo, map_(inputs.fingerprint, frames)):
        op.error = inputs.mismatch(got, op.want)


WORKLOADS = {
    "core_sf0.1": QueryWorkload,
    "llm_corpus": QueryWorkload,
    "dml_rw": DmlWorkload,
}
