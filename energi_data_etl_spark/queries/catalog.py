"""Declared-query catalog: the single source of truth for the driver
contract (__spark_entry__.py), the bench harness (bench.py), and the
parity tests (tests/test_oracle_parity.py).

Every implemented operator from SURVEY.md §2 registers here as a named
query: a Spark callable ``(spark, sf_dir) -> DataFrame`` plus, where the
semantics are ANSI-SQL-expressible, a DuckDB oracle SQL string over the
same parquet tables. Contract requirements (SURVEY.md §5.2):

* alias every computed column identically in Spark and SQL — the driver
  sorts columns by name before hashing;
* round floating aggregates on BOTH sides (summation order differs
  between engines at the last ulp);
* cast timestamps deliberately (events.ts is ns-parquet; orders/lineitem
  dates are ms-parquet read as timestamp_ntz).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

__all__ = ["Query", "QUERIES", "query", "oracle_sqls"]

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: SparkQuery
    oracle: str | None  # DuckDB SQL; None → driver records rows-only check
    tier: str  # SURVEY.md §2 operator ids this query certifies, e.g. "A1+P5"
    doc: str = ""


QUERIES: dict[str, Query] = {}


def query(name: str, *, oracle: str | None, tier: str, doc: str = ""):
    """Decorator registering a Spark query (and its DuckDB oracle twin)."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = Query(name=name, fn=fn, oracle=oracle, tier=tier, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def oracle_sqls() -> dict[str, str]:
    return {name: q.oracle for name, q in QUERIES.items() if q.oracle is not None}
