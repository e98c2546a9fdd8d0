"""Central operator registry.

Every operator from SURVEY.md §2 registers itself here via the ``register``
decorator. ``QUERIES[name]`` is a callable ``(spark, sf_dir) -> DataFrame``
that releases the previous build's share frames (``shares.release_all``)
and then builds the key inside ``shares.building()``; the decorated
module-level function stays raw, so a key body that calls another key
directly keeps its own shares alive. Frame lifetimes: see ``shares``.
``inspect.unwrap(QUERIES[name])`` is the key body.
``ORACLES[name]`` (when present) is the equivalent DuckDB SQL string the
driver hash-compares against. Keys without an oracle get the driver's weaker
rows-only check — only used for genuinely non-SQL-expressible ops.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from typing import Optional

from data_transform_spark.shares import building, release_all

QUERIES: dict[str, Callable] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: Optional[str] = None):
    """Register a query callable and (optionally) its DuckDB oracle SQL."""

    def deco(fn):
        if name in QUERIES:
            raise ValueError(f"duplicate operator key: {name}")

        @functools.wraps(fn)
        def dispatch(spark, sf_dir):
            release_all()
            with building():
                return fn(spark, sf_dir)

        QUERIES[name] = dispatch
        if oracle is not None:
            ORACLES[name] = oracle.strip()
        return fn

    return deco
