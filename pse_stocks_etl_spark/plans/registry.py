"""Query registry: every implemented operator from SURVEY.md §2 is a
(name → Spark plan builder, DuckDB oracle SQL) pair.

The driver contract (__spark_entry__.py) exposes exactly this registry
through `plans.queries()[name](spark, sf_dir) -> DataFrame` and
`plans.oracle_sql()[name]` as ANSI SQL over the same parquet tables.
Non-SQL-expressible ops register with `oracle=None` (rows-only check).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)
    bench: bool = False  # include in bench.py headline set


REGISTRY: dict[str, Query] = {}


def register(
    name: str,
    oracle: str | None,
    doc: str = "",
    tags: tuple[str, ...] = (),
    bench: bool = False,
):
    def deco(fn: QueryFn) -> QueryFn:
        # A duplicate name from a DIFFERENT module is a silent-overwrite
        # footgun (a later round can displace a driver-green query and
        # nobody notices until the correctness file flips); a
        # re-register from the SAME module is a normal importlib.reload
        # and stays allowed. Found the hard way in round 10: a new
        # audit lane landed on an existing round-10 query name.
        prev = REGISTRY.get(name)
        if prev is not None and prev.fn.__module__ != fn.__module__:
            raise ValueError(
                f"query name {name!r} already registered by "
                f"{prev.fn.__module__}; refusing cross-module overwrite"
            )
        REGISTRY[name] = Query(name, fn, oracle, doc or (fn.__doc__ or ""), tags, bench)
        return fn

    return deco

