"""Statement router — the Spark replacement for the reference's
QueryManager (QueryManager.py:20-159).

The reference needed a second parser (sqlparse with injected LIST /
NAMESPACES keywords) because its executor (DuckDB) couldn't see the
catalog. Here Spark SQL's ANSI parser handles everything real, and
this router only translates the reference's custom verbs into their
Spark SQL equivalents:

    LIST NAMESPACES            → SHOW NAMESPACES / SHOW DATABASES
    LIST NAMESPACES IN ns      → SHOW NAMESPACES IN ns
    LIST TABLES                → SHOW TABLES (all namespaces, looped)
    LIST TABLES IN ns          → SHOW TABLES IN ns
    DESCRIBE TABLE ns.t        → DESCRIBE TABLE EXTENDED ns.t
    everything else            → spark.sql(query) untouched

Unlike the reference there is no table-name rewriting by string
replace (IcebergConnection.py:115 rewrites any occurrence of the
name, even inside literals), no single-table restriction
(QueryManager.py:79-81), and no hand-rolled INSERT value parsing
(QueryManager.py:94-140) — Spark's parser covers SELECT/INSERT/
CREATE/UPDATE/DELETE/MERGE natively.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, Row, SparkSession

# `IN` is optional before the namespace — the reference's parser
# accepts both `LIST TABLES ns` and `LIST TABLES IN ns`
# (test_QueryManager.py:35-51)
_LIST_NS = re.compile(
    r"^\s*LIST\s+NAMESPACES(?:\s+(?:IN\s+)?([\w.]+))?\s*;?\s*$", re.I
)
_LIST_TABLES = re.compile(
    r"^\s*LIST\s+TABLES(?:\s+(?:IN\s+)?([\w.]+))?\s*;?\s*$", re.I
)
_DESCRIBE = re.compile(r"^\s*DESCRIBE\s+TABLE\s+([\w.]+)\s*;?\s*$", re.I)


@dataclass
class Routed:
    kind: str  # list_namespaces | list_tables | describe_table | sql
    argument: str | None = None


def classify(query: str) -> Routed:
    """Statement-type detection (replaces QueryManager.get_query_type,
    QueryManager.py:156-159 — but without a lexer: three regexes for
    the custom verbs, Spark's parser for the rest)."""
    if not query or not query.strip():
        raise ValueError("empty query")
    if m := _LIST_NS.match(query):
        return Routed("list_namespaces", m.group(1))
    if m := _LIST_TABLES.match(query):
        return Routed("list_tables", m.group(1))
    if m := _DESCRIBE.match(query):
        return Routed("describe_table", m.group(1))
    return Routed("sql", query)


def execute(spark: SparkSession, query: str) -> DataFrame | list[Row]:
    """Route and run one statement. Returns its DataFrame, except for
    the all-namespace LIST TABLES, which returns the collected rows."""
    routed = classify(query)
    if routed.kind == "list_namespaces":
        if routed.argument:
            return spark.sql(f"SHOW NAMESPACES IN {routed.argument}")
        return spark.sql("SHOW NAMESPACES")
    if routed.kind == "list_tables":
        if routed.argument:
            return spark.sql(f"SHOW TABLES IN {routed.argument}")
        # all-namespaces variant: the reference loops list_namespaces
        # then list_tables per namespace (IcebergConnection.py:55-63).
        # Each SHOW TABLES runs eagerly and collects with no Spark job;
        # a union of them would need one.
        namespaces = spark.sql("SHOW NAMESPACES").collect()
        if not namespaces:
            return spark.sql("SHOW TABLES")
        return [
            r
            for ns in namespaces
            for r in spark.sql(f"SHOW TABLES IN {ns[0]}").collect()
        ]
    if routed.kind == "describe_table":
        return spark.sql(f"DESCRIBE TABLE EXTENDED {routed.argument}")
    return spark.sql(query)
