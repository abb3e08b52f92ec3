"""Operator inventory registry (SURVEY.md §2, driver contract).

Every implemented operator gets an :class:`Item` with a PySpark callable
``(spark, sf_dir) -> DataFrame`` and, when SQL-expressible, a DuckDB oracle
SQL string producing identical (column-name-aligned) results. The driver
compares the two at sf=0.01; ``tests/test_oracle_parity.py`` replicates
that check locally so the gate is known-green before every commit.
"""

from __future__ import annotations

import importlib
import pkgutil
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Item:
    name: str
    doc: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, Item] = {}


def register(
    name: str, doc: str, oracle: str | None = None, tags: tuple[str, ...] = ()
):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"duplicate inventory item {name!r}")
        REGISTRY[name] = Item(name=name, doc=doc, spark=fn, oracle=oracle, tags=tags)
        return fn

    return deco


def load_all() -> dict[str, Item]:
    """Import every inventory module (side-effect: fills REGISTRY)."""
    for mod in pkgutil.iter_modules(__path__):
        importlib.import_module(f"{__name__}.{mod.name}")
    return REGISTRY
