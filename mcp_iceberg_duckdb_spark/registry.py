"""Central query registry — the engine's operator inventory made
executable.

Every operator from SURVEY.md §2 is registered here as a named
DataFrame builder, optionally paired with the ANSI-SQL oracle string
the driver runs through DuckDB (the reference's effective semantics
authority — its SELECT path delegates the raw SQL to embedded DuckDB
at IcebergConnection.py:114-116, so "matches DuckDB" IS parity).

Builders take ``(spark, sf_dir)`` and return a lazy DataFrame; no
builder may collect() — distribution stays inside Spark.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    builder: Builder
    # ANSI SQL for the DuckDB differential oracle. A zero-arg callable
    # is resolved at all_oracles() time — the certificate-checking
    # pattern (x_embed_pca_project): a driver-side numeric routine
    # proposes constants that are rendered into the SQL as literals,
    # and DuckDB independently certifies them against the raw tables.
    oracle: str | Callable[[], str] | None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


QUERIES: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator registering a query builder (and its oracle SQL)."""

    def deco(fn: Builder) -> Builder:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = QuerySpec(
            name=name, builder=fn, oracle=oracle, tags=tags, doc=(fn.__doc__ or "")
        )
        return fn

    return deco


# CORRECTNESS_r*.json files (one per driver round) live at the repo
# root; driver_order() reads them on each call, never at import.
_HISTORY_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_driver_history(base_dir: str) -> tuple[frozenset[str], dict[str, int]]:
    """Read every CORRECTNESS_r*.json under ``base_dir`` in round order.
    A row is green when it matched (rows + schema, and hash unless the
    check was rows-only) without error. Returns the queries that failed
    in the LATEST round (red) and each query's latest green round
    number (1-based)."""
    red: set[str] = set()
    last_green: dict[str, int] = {}
    files = sorted(glob.glob(os.path.join(base_dir, "CORRECTNESS_r*.json")))
    for rnd, path in enumerate(files, start=1):
        try:
            with open(path) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            ok = (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match") is not False
                and not row.get("err")
            )
            if ok:
                last_green[name] = rnd
            elif rnd == len(files):
                red.add(name)
    return frozenset(red), last_green


def driver_order() -> list[str]:
    """Query order for the driver contract, which samples a prefix of
    it each round: queries that failed in the latest round first, then
    never-checked ones, then the green rest oldest-verified first; ties
    keep registration order."""
    red, last_green = _load_driver_history(_HISTORY_DIR)
    # sorted() is stable, so ties keep registration order
    return sorted(QUERIES, key=lambda n: (n not in red, last_green.get(n, 0)))


def all_queries() -> dict[str, Builder]:
    return {name: QUERIES[name].builder for name in driver_order()}


def all_oracles() -> dict[str, str]:
    return {
        name: (
            QUERIES[name].oracle()
            if callable(QUERIES[name].oracle)
            else QUERIES[name].oracle
        )
        for name in driver_order()
        if QUERIES[name].oracle is not None
    }


def load_all() -> None:
    """Import every operator module so decorators run."""
    from mcp_iceberg_duckdb_spark import operators, streaming  # noqa: F401
