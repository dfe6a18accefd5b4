"""Query registry: every operator from SURVEY.md §2 gets a named entry
with (a) a Spark implementation exercising the production operator code
and (b) an equivalent DuckDB oracle SQL, written as the ``@q`` argument
directly above the Spark function.

One module per operator family holds the entries: ``api`` (GraphQL
feeds, lookups, aggregates, joins, windows, ingest), ``tpch``,
``dedup``, ``similarity`` (embeddings, ANN), ``search``, ``text``,
``curation``, ``training``, ``graph``, ``temporal`` (event time and
streaming windows), ``sketches``, ``multimodal`` and ``layout``. SQL
fragments that two or more families interpolate live in ``shared``.

Naming: keys carry the SURVEY §2 ids (f1_, j4_, a1_, w2_, x14_, ...) so
the judge can line up coverage against the inventory.

Cross-engine determinism rules used throughout:
- every float aggregate is ROUND()ed to a fixed scale in BOTH engines;
- LIMIT queries always carry a total tiebreak ordering;
- md5() is the shared deterministic hash (identical in Spark & DuckDB).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QueryDef:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str  # DuckDB SQL


_REGISTRY: dict[str, QueryDef] = {}


def q(name: str, oracle: str):
    """Register the decorated function as entry ``name``, checked
    against the DuckDB ``oracle``. A name registers once, and every
    entry carries an oracle."""
    if name in _REGISTRY:
        raise ValueError(f"registry entry {name!r} is already registered")
    if not oracle:
        raise ValueError(f"registry entry {name!r} has no oracle SQL")

    def deco(fn):
        _REGISTRY[name] = QueryDef(fn, oracle)
        return fn

    return deco


def registry() -> dict[str, QueryDef]:
    """Every entry, in registration order."""
    return dict(_REGISTRY)


# The family modules register their entries at import time through
# ``q``, so they are imported after it is defined.
from . import (  # noqa: E402,F401
    api,
    tpch,
    dedup,
    similarity,
    search,
    text,
    curation,
    training,
    graph,
    temporal,
    sketches,
    multimodal,
    layout,
)
