"""Structured query → DataFrame translation.

The reference's user-facing query object is ``SimpleQuery``
(``pkg/coordinator/query_planner.go:93-107``, REST shape
``pkg/coordinator/rest_api.go:111-126``):

    {table_name, filter, group_by[], aggregates[{function, column, alias}],
     projection[], version}

Its hand-built physical pipeline (one map task per snapshot file →
MAP_FILTER/MAP_PROJECT/MAP_AGG → object-store shuffle → single REDUCE_AGG,
``query_planner.go:110-273``) collapses here into a declarative DataFrame
expression: Catalyst performs the same operator selection and fusion
(filter+project in one pass), generates partial/final aggregation, and
plans the shuffle — with pushdown, pruning, codegen and AQE on top.

Aggregate semantics follow SQL (the DuckDB oracle), NOT the reference's
executor bugs (reduce-phase COUNT re-count, AVG≡SUM, MIN treating 0.0 as
unset — ``worker/src/task_executor.rs:602-625,710-719``); divergence is
deliberate per SURVEY §2.4.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mini_lakehouse_control_plane_executor_spark.functions.filters import parse_filter

_AGG_FUNCS = {"count", "sum", "avg", "min", "max"}


class QueryError(ValueError):
    pass


@dataclass(frozen=True)
class Aggregate:
    function: str  # count | sum | avg | min | max (case-insensitive)
    column: str  # "*" allowed for count
    alias: str = ""

    def output_name(self) -> str:
        """Reference default alias ``<fn>_<col>``
        (``worker/src/task_executor.rs:650-654``)."""
        if self.alias:
            return self.alias
        col = "star" if self.column == "*" else self.column
        return f"{self.function.lower()}_{col}"

    def to_column(self) -> Column:
        fn = self.function.lower()
        if fn not in _AGG_FUNCS:
            raise QueryError(f"unsupported aggregate {self.function!r}")
        if self.column == "*":
            if fn != "count":
                raise QueryError(f"{fn}(*) is not valid")
            return F.count(F.lit(1)).alias(self.output_name())
        return getattr(F, fn)(self.column).alias(self.output_name())


@dataclass(frozen=True)
class SimpleQuery:
    table_name: str
    filter: str | None = None
    group_by: list[str] = field(default_factory=list)
    aggregates: list[Aggregate] = field(default_factory=list)
    projection: list[str] = field(default_factory=list)
    version: int | None = None  # None/0 → latest
    order_by: list[str] = field(default_factory=list)  # superset of reference
    limit: int | None = None  # superset of reference

    @staticmethod
    def from_json(d: dict) -> "SimpleQuery":
        return SimpleQuery(
            table_name=d["table_name"],
            filter=d.get("filter") or None,
            group_by=list(d.get("group_by") or []),
            aggregates=[
                Aggregate(a["function"], a["column"], a.get("alias", ""))
                for a in d.get("aggregates") or []
            ],
            projection=list(d.get("projection") or []),
            version=d.get("version") or None,
            order_by=list(d.get("order_by") or []),
            limit=d.get("limit"),
        )


def apply_query(df: DataFrame, q: SimpleQuery) -> DataFrame:
    """Translate the structured query over an already-resolved snapshot
    DataFrame. Operator order mirrors ``determineMapOperation``
    (``query_planner.go:259-273``): filter → project → aggregate."""
    if q.filter:
        df = df.filter(parse_filter(q.filter))
    if q.aggregates:
        aggs = [a.to_column() for a in q.aggregates]
        if q.group_by:
            # Deterministic output order by group key, as the reference
            # sorts stringified keys (task_executor.rs:662-663), in its
            # single REDUCE_AGG: one partition sorted locally. A global
            # orderBy would add a range-partitioning sample job and a
            # second exchange for a result of one row per group.
            df = (
                df.groupBy(*q.group_by)
                .agg(*aggs)
                .coalesce(1)
                .sortWithinPartitions(*q.group_by)
            )
        else:
            df = df.agg(*aggs)
    elif q.projection:
        df = df.select(*q.projection)
    if q.order_by:
        df = df.orderBy(*q.order_by)
    if q.limit is not None:
        df = df.limit(q.limit)
    return df


def plan_query(resolve, q: SimpleQuery) -> DataFrame:
    """``resolve(table_name, version, filter)`` → snapshot DataFrame; then
    apply the query. ``filter`` is passed so the resolver can do
    stats-based file pruning before the scan."""
    df = resolve(q.table_name, q.version, q.filter)
    return apply_query(df, q)
