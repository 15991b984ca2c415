"""ETL pipeline layer (SURVEY.md §3.3): the "tool" part of a
presto-etl-tool — named stages composing source reads, SQL/DataFrame
transforms, and partitioned sinks.

Deliberately thin (<200 LoC, per §3.3: "no scheduler, no DAG engine"):
a ``Pipeline`` is an ordered list of named steps; each step receives
the SparkSession and a dict of prior step results (DataFrames) and
returns a DataFrame.  ``write`` terminals persist partitioned parquet.
Laziness is preserved — composing steps only builds one Catalyst plan,
so the optimizer sees THROUGH stage boundaries (filter pushdown across
steps is free); only sinks force execution.

Scale: stages don't checkpoint (no gratuitous shuffle-file
or disk barriers between transforms); a sink's ``partition_by``
controls downstream pruning.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

StepFn = Callable[[SparkSession, dict[str, DataFrame]], DataFrame]


@dataclass
class Step:
    name: str
    fn: StepFn


@dataclass
class Sink:
    step: str
    path: str
    partition_by: tuple[str, ...] = ()
    mode: str = "overwrite"
    fmt: str = "parquet"


@dataclass
class Pipeline:
    """read sources → N transforms → write sinks (§3.3)."""

    name: str
    steps: list[Step] = field(default_factory=list)
    sinks: list[Sink] = field(default_factory=list)

    def step(self, name: str):
        """Decorator: register a named transform step."""

        def deco(fn: StepFn) -> StepFn:
            if any(s.name == name for s in self.steps):
                raise ValueError(f"duplicate step: {name}")
            self.steps.append(Step(name, fn))
            return fn

        return deco

    def sql(self, name: str, statement: str) -> None:
        """SQL-string step (entry point E2): prior steps are visible as
        temp views named after the step."""

        def fn(spark: SparkSession, ctx: dict[str, DataFrame]) -> DataFrame:
            from sparketl.session import state
            from sparketl.tables import TABLE_NAMES

            for k, df in ctx.items():
                df.createOrReplaceTempView(k)
                if k.lower() in TABLE_NAMES:
                    # a step named like a fixture view repoints it —
                    # tell the loader's same-sf fast path (r16)
                    state(spark, "view_pin").clear()
            return spark.sql(statement)

        self.steps.append(Step(name, fn))

    def write(self, step: str, path: str, *, partition_by: tuple[str, ...] = (),
              mode: str = "overwrite", fmt: str = "parquet") -> None:
        self.sinks.append(Sink(step, path, partition_by, mode, fmt))

    def run(self, spark: SparkSession) -> dict[str, DataFrame]:
        """Execute: build every step's (lazy) DataFrame, then flush
        sinks.  Returns step results."""
        ctx: dict[str, DataFrame] = {}
        for s in self.steps:
            ctx[s.name] = s.fn(spark, ctx)
        for sink in self.sinks:
            writer = ctx[sink.step].write.mode(sink.mode)
            if sink.partition_by:
                writer = writer.partitionBy(*sink.partition_by)
            writer.format(sink.fmt).save(sink.path)
        return ctx
