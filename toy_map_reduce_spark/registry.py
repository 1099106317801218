"""Central query registry — the single source of truth for the engine's
operator inventory (SURVEY.md §2.E is the contract; every entry there gets
registered here by an operator module).

Each spec carries the PySpark builder ``(spark, sf_dir) -> DataFrame`` and,
when the semantics are SQL-expressible, the equivalent DuckDB oracle SQL
used by both the driver's correctness gate and our own pytest parity suite.
Specs without an oracle get a rows-only check (per the driver contract).

Tiers (SURVEY.md §2.E): R = reference semantics, G = relational
generalization, X = LLM-data-pipeline extension, S = streaming.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    tier: str  # R | G | X | S
    builder: QueryFn
    oracle: str | None = None
    doc: str = ""
    bench: bool = True  # include in bench.py timing loop

    def __post_init__(self) -> None:
        if self.tier not in ("R", "G", "X", "S"):
            raise ValueError(f"bad tier {self.tier!r} for {self.name}")


_REGISTRY: dict[str, QuerySpec] = {}

# Operator modules that register specs on import.
_OPERATOR_MODULES = (
    "toy_map_reduce_spark.operators.wordcount",
    "toy_map_reduce_spark.operators.relational",
    "toy_map_reduce_spark.operators.tpch",
    "toy_map_reduce_spark.operators.extras",
    "toy_map_reduce_spark.operators.extras2",
    "toy_map_reduce_spark.operators.misc",
    "toy_map_reduce_spark.operators.timeseries",
    "toy_map_reduce_spark.operators.joins",
    "toy_map_reduce_spark.operators.windows",
    "toy_map_reduce_spark.operators.setops",
    "toy_map_reduce_spark.operators.scalars",
    "toy_map_reduce_spark.operators.scalars2",
    "toy_map_reduce_spark.operators.udf_surface",
    "toy_map_reduce_spark.operators.dedup",
    "toy_map_reduce_spark.operators.similarity",
    "toy_map_reduce_spark.operators.textstats",
    "toy_map_reduce_spark.operators.multimodal",
    "toy_map_reduce_spark.operators.pipeline",
    "toy_map_reduce_spark.operators.analytics",
    "toy_map_reduce_spark.operators.quality",
    "toy_map_reduce_spark.operators.graph",
    "toy_map_reduce_spark.operators.stats",
    "toy_map_reduce_spark.operators.textprep",
    "toy_map_reduce_spark.operators.sketches",
    "toy_map_reduce_spark.operators.features",
    "toy_map_reduce_spark.operators.drift",
    "toy_map_reduce_spark.operators.curation",
    "toy_map_reduce_spark.operators.monitoring",
    "toy_map_reduce_spark.streaming.windows",
    "toy_map_reduce_spark.sources.io_ops",
    "toy_map_reduce_spark.sources.bucketing",
    "toy_map_reduce_spark.sources.lakehouse",
)


def register(
    name: str,
    tier: str,
    oracle: str | None = None,
    doc: str = "",
    bench: bool = True,
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query builder under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query registration: {name}")
        _REGISTRY[name] = QuerySpec(
            name=name, tier=tier, builder=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""), bench=bench
        )
        return fn

    return deco


def _load_all() -> None:
    for mod in _OPERATOR_MODULES:
        importlib.import_module(mod)


def all_specs() -> dict[str, QuerySpec]:
    _load_all()
    return dict(sorted(_REGISTRY.items()))


def get_spec(name: str) -> QuerySpec:
    _load_all()
    return _REGISTRY[name]
