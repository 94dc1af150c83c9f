"""Registry mapping query names -> (Spark builder, DuckDB oracle SQL).

The driver contract (__spark_entry__.py) runs each Spark query and its
oracle side-by-side and hash-compares values, so builders here must:

- alias every computed column identically to the oracle SQL;
- produce engine-stable values (decimals / bigints / identical IEEE
  double expressions), never order-dependent float accumulations;
- pin the session to UTC (timestamps in parquet are naive-UTC and
  DuckDB reads them TZ-naive).

Resource contract: some builders take ``session.barrier`` pins so one
pipeline feeds several legs, and return a lazy frame that reads them.
A long-lived caller runs the builder AND consumes its frame inside one
``with session.barrier_scope(spark):`` block; the scope frees every
pin on exit, leaving ``session.persistent_rdd_ids`` as it found it.
Without a scope the pins stay until ``session.unpersist_all_rdds``
(the sweep bench.py runs between measurements) or the end of the
context.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None -> rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=fn.__doc__ or "")
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None
    }
