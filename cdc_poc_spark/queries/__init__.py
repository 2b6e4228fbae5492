"""Query registry — the engine's declared operator surface.

Every operator/query from SURVEY.md §2 is registered here as a
``QuerySpec``: a name, a ``(spark, sf_dir) -> DataFrame`` callable, and —
when the semantics are ANSI-SQL-expressible — the equivalent DuckDB SQL
the driver uses as a correctness oracle. Non-SQL-expressible operators
(MinHash LSH, SimHash, hyperplane-LSH ANN, stateful streaming) register
with ``oracle=None`` and get a rows-only check.

Column-name discipline: the driver's comparator sorts columns by name
before hashing, so every computed column is aliased identically in the
Spark code and the oracle SQL.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str] = None
    tags: tuple = field(default_factory=tuple)
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: Optional[str] = None, tags: tuple = ()):  # decorator
    def deco(fn):
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, tags=tuple(tags), doc=(fn.__doc__ or "")
        )
        return fn

    return deco


def all_specs() -> dict[str, QuerySpec]:
    """Import all query modules (side effect: registration) and return the
    full registry in registration order. Nothing may depend on that
    order: look queries up by name."""
    from . import (  # noqa: F401
        tpch,
        tpch2,
        windows,
        scalars,
        setops,
        subqueries,
        sqlapi,
        timewindows,
        udfs,
        retrieval,
        pipeline,
        analytics,
        aggregates,
        cdc_queries,
        curation,
        joins,
        llm_ops,
        llm_ops2,
        timeseries,
        textsim,
        profiling,
        sketchq,
        stats2,
        llm_ops3,
        llm_ops4,
        stats3,
        stats4,
        stats5,
        stats6,
        curation_e2e,
    )

    return dict(_REGISTRY)
