"""Filesystem Iceberg warehouse behind the reference's full SQL
surface. Every statement the reference's QueryManager accepts
(QueryManager.py:20-159 — LIST NAMESPACES/TABLES, DESCRIBE, CREATE,
INSERT, SELECT, UPDATE, DELETE, plus MERGE, which the reference
routes to DuckDB) runs here against real Iceberg tables
(sources/iceberg_fs.py: format v1, stamped v2 by the first
merge-on-read commit; metadata JSON, Avro manifests, partitioned
parquet) laid out as ``<warehouse>/<namespace>/<table>/``.

Statements are parsed once each, by Spark's own SQL parser, and
``execute`` dispatches on the parsed plan's class: tables, aliases,
column lists, assignments, MERGE terms, column definitions and
partition transforms are read from the tree. A small head table of
regexes is checked first. It holds only the Iceberg extension
statements Spark's parser rejects (maintenance, refs, partition
evolution, write order, SET TBLPROPERTIES) and the metadata answers
(DESCRIBE TABLE, SHOW TBLPROPERTIES) that are served without a parse.

Design choices vs the reference:

- Tables are bound at parser spans: each reference to a warehouse
  table is replaced by its temp-view name at the exact span Spark's
  parser records for it. The reference string-replaces everywhere
  (IcebergConnection.py:115), inside string literals too; here
  literals, comments, CTE names, session temp views and
  ``parquet.`path``` sources are never touched.
- No hand-rolled value parsing: INSERT ... VALUES rows come from
  Spark's VALUES parser (the reference hand-parses tuples,
  QueryManager.py:94-140, and breaks on nested commas).
- Multi-table SELECT/joins work: every warehouse table referenced is
  registered as a temp view over its manifest-pruned Iceberg scan
  (the reference is single-table, README.md:6).
- DML is a real Iceberg commit. UPDATE/DELETE predicates and SET
  values become Columns built from the parsed expressions, so
  row-level correctness comes from Spark; the top-level WHERE
  conjuncts that compare a column with a literal only bound the
  rewrite set through manifest pruning. UPDATE, DELETE and MERGE
  share iceberg_fs's one row-level path: each verb is one row plan,
  written copy-on-write or merge-on-read by the table's
  ``write.<verb>.mode``.

At 100 TB: identical plans to the underlying iceberg_fs ops —
manifest pruning before file listing, pushdown inside the scan,
pruning-bounded rewrites, and snapshot isolation for readers.
"""

from __future__ import annotations

import functools
import os
import re
import shutil

from pyspark.sql import Column, DataFrame, Row, functions as F

from mcp_iceberg_duckdb_spark.sources import iceberg_fs as ice

_IDENT = r"[A-Za-z_]\w*"
# a table-part identifier, optionally backtick-quoted (Spark's
# quoting form); head-table regexes accept either
_QIDENT = rf"(?:`[^`\n]+`|{_IDENT})"
_TBL = rf"(?:{_QIDENT}\.)?{_QIDENT}"

# comparison node -> operator of a pruning hint
_CMP = {
    "EqualTo": "=",
    "LessThan": "<",
    "LessThanOrEqual": "<=",
    "GreaterThan": ">",
    "GreaterThanOrEqual": ">=",
}
# literal types a pruning hint carries (decimals arrive as floats)
_LIT = {
    "string": str, "byte": int, "short": int, "integer": int,
    "long": int, "float": float, "double": float,
}
# plan nodes between a query block's root and its WHERE
_ABOVE_WHERE = frozenset({
    "Project", "Aggregate", "Sort", "GlobalLimit", "LocalLimit",
    "Offset", "Distinct", "UnresolvedHaving",
})
# plan nodes under which the top-level WHERE need not hold for every
# row a table's view serves (it would be wrong to prune the view)
_PRUNE_UNSAFE = frozenset({
    "UnresolvedWith", "Union", "Intersect", "Except",
    "WithWindowDefinition",
})


def _seq(s) -> list:
    """A Scala Seq as a Python list."""
    return [s.apply(i) for i in range(s.length())]


def _span(node) -> tuple[int, int]:
    """The [start, stop] character span the parser recorded for a
    node."""
    o = node.origin()
    return o.startIndex().get(), o.stopIndex().get()


def _quote(part: str) -> str:
    return "`" + part.replace("`", "``") + "`"


@functools.lru_cache(maxsize=None)
def _jclass(jvm, name: str):
    """A JVM class by dotted name, looked up once: each name part of a
    lookup is a py4j round trip."""
    return functools.reduce(getattr, name.split("."), jvm)


def _has(spark, plan, pattern: str) -> bool:
    """Whether a Catalyst TreePattern occurs in ``plan``'s tree."""
    tp = _jclass(spark._jvm, "org.apache.spark.sql.catalyst.trees.TreePattern")
    return plan.containsPattern(getattr(tp, pattern)())


def _parse(spark, sql: str):
    """(plan, sql): Spark's parse of one statement. Spark has no
    TIMESTAMPTZ type; its UNSUPPORTED_DATATYPE error reports the
    token's span, where the statement is re-spelled timestamp_ltz and
    parsed again. Every other parse error is a ValueError."""
    from pyspark.errors import ParseException

    parser = spark._jsparkSession.sessionState().sqlParser()
    while True:
        try:
            return parser.parsePlan(sql), sql
        except ParseException as e:
            ctx = e.getQueryContext()
            if e.getCondition() != "UNSUPPORTED_DATATYPE" or not ctx:
                msg = str(e).strip().splitlines()[0]
                raise ValueError(
                    f"unsupported statement {sql.strip()[:80]!r}: {msg}"
                ) from None
            word = ctx[0].fragment()
            if word.lower() != "timestamptz":
                raise ValueError(
                    f"unsupported column type {word!r}"
                ) from None
            start, stop = ctx[0].startIndex(), ctx[0].stopIndex()
            sql = sql[:start] + "timestamp_ltz" + sql[stop + 1:]


def _frame(spark, plan) -> DataFrame:
    """A DataFrame over a parsed query plan."""
    ds = _jclass(spark._jvm, "org.apache.spark.sql.classic.Dataset")
    return DataFrame(ds.ofRows(spark._jsparkSession, plan), spark)


def _column(spark, expr) -> Column:
    """A Column over a parsed expression."""
    eu = _jclass(spark._jvm, "org.apache.spark.sql.classic.ExpressionUtils")
    return Column(eu.column(expr))


def _where(plan):
    """The WHERE condition of a query's outermost block, or None."""
    node = plan
    while (name := node.nodeName()) in _ABOVE_WHERE:
        node = node.child()
    return node.condition() if name == "Filter" else None


def _conjuncts(cond) -> list:
    """(node_name, expression) for each top-level AND conjunct of
    ``cond``, in statement order."""
    out, todo = [], [] if cond is None else [cond]
    while todo:
        e = todo.pop()
        name = e.nodeName()
        if name == "And":
            todo += [e.right(), e.left()]
        else:
            out.append((name, e))
    return out


def _literal(e):
    """(python type, value) of a non-NULL literal a pruning hint can
    carry, else None."""
    if e.nodeName() != "Literal":
        return None
    typ = e.dataType().typeName()
    conv = float if typ.startswith("decimal") else _LIT.get(typ)
    return None if conv is None else (conv, conv(e.toString()))


def _comparisons(cond) -> list:
    """(qualifier, column, op, literal) for each top-level conjunct of
    ``cond`` that compares a column with a literal — the one pruning
    extractor for SELECT and DML. ``col IN (v1, …, vn)`` over literals
    of one type is the comparison (col, "in", (v1, …, vn)), which
    _type_filters turns into the range [min, max]. Each conjunct
    stands on its own: an OR, a function call, a NULL or a literal of
    another type is simply not a comparison here, and leaves the
    others free to prune."""
    out = []
    for name, e in _conjuncts(cond):
        if name == "In":
            col, lits = e.value(), [_literal(x) for x in _seq(e.list())]
            if None in lits or len({conv for conv, _ in lits}) != 1:
                continue
            op, val = "in", tuple(v for _, v in lits)
        elif name in _CMP:
            col, lit = e.left(), _literal(e.right())
            if lit is None:
                continue
            op, val = _CMP[name], lit[1]
        else:
            continue
        if col.nodeName() != "UnresolvedAttribute":
            continue
        parts = _seq(col.nameParts())
        out.append((tuple(parts[:-1]), parts[-1], op, val))
    return out


def _where_filters(cond, meta: dict | None = None):
    """(col, op, literal) pruning hints from the unqualified
    comparisons of ``cond``; with ``meta`` (the table's Iceberg
    metadata) typed by _type_filters, which also turns each IN list
    into its range. The full predicate is still evaluated row-level,
    so a hint only ever narrows the files planned."""
    out = [(c, op, v) for q, c, op, v in _comparisons(cond) if not q]
    return tuple(out) if meta is None else _type_filters(out, meta)


def _type_filters(filters, meta: dict):
    """Type a simple-conjunction filter list against a table schema:
    ISO date strings become epoch days and ISO timestamp strings epoch
    micros (the bound encodings), and any filter whose literal type
    cannot match its column (string vs numeric, unparseable date,
    unknown column) is dropped — dropping a conjunct only widens the
    candidate set. An "in" list becomes (col, ">=", min) and (col,
    "<=", max) of its typed values, or is dropped whole when any value
    is."""
    types = {f["name"]: f["type"] for f in meta["schema"]["fields"]}
    typed = []
    for col, op, val in filters:
        if op == "in":
            one = _type_filters([(col, "=", v) for v in val], meta)
            vals = [v for *_, v in one]
            if len(vals) == len(val):
                typed += [(col, ">=", min(vals)), (col, "<=", max(vals))]
            continue
        t = types.get(col)
        if t == "date" and isinstance(val, str):
            import datetime

            try:
                d = datetime.date.fromisoformat(val)
            except ValueError:
                continue
            val = (d - datetime.date(1970, 1, 1)).days
        elif t in ("timestamp", "timestamptz") and isinstance(val, str):
            # ISO timestamp literal -> epoch micros (the bound and
            # partition-tuple encoding for Iceberg timestamps)
            import datetime

            try:
                dt = datetime.datetime.fromisoformat(val)
            except ValueError:
                continue
            if (dt.tzinfo is not None) != (t == "timestamptz"):
                # prune only when literal and column agree on zone
                # semantics: a NAIVE literal against a timestamptz
                # column is parsed by Spark's residual filter in the
                # SESSION zone — pruning in UTC could disagree and
                # drop matching files. Zoned literal + tz column is
                # an unambiguous instant; naive + ntz is zone-free.
                continue
            if dt.tzinfo is not None:
                dt = dt.astimezone(datetime.timezone.utc).replace(
                    tzinfo=None
                )
            # EXACT integer micros: total_seconds() is a float and
            # truncates ~1.25% of microsecond values one low, which
            # would mis-prune boundary equality/range filters
            td = dt - datetime.datetime(1970, 1, 1)
            val = (
                td.days * 86_400_000_000
                + td.seconds * 1_000_000
                + td.microseconds
            )
        elif t == "string" and isinstance(val, str):
            pass
        elif t in ("int", "long") and isinstance(val, int):
            pass
        elif t in ("float", "double") and isinstance(val, (int, float)):
            pass
        elif (
            t
            and isinstance(t, str)
            and t.startswith("decimal(")
            and isinstance(val, (int, float))
        ):
            # compare in the Decimal domain the bounds decode to
            from decimal import Decimal

            val = Decimal(str(val))
        else:
            continue  # unknown column or literal/column type mismatch
        typed.append((col, op, val))
    return tuple(typed)


def _write_branch(loc: str):
    """The table's routed write branch (the ``write.branch``
    property set by ALTER TABLE ... WRITE TO BRANCH), or None when
    writes go to the table head."""
    props = ice.read_table_meta(loc).get("properties") or {}
    b = props.get("write.branch")
    return b if b and b != "main" else None


def _no_write_branch(loc: str, verb: str) -> None:
    """Row-mutating verbs other than INSERT are not branch-routed:
    refuse rather than silently mutate MAIN while the user believes
    they are staging on a branch (WAP safety)."""
    b = _write_branch(loc)
    if b:
        raise ValueError(
            f"{verb} is unsupported while write.branch={b!r} is set"
            " — FAST FORWARD to publish or WRITE TO BRANCH main to"
            " clear it first"
        )


def _sql_type_to_ice(spelled: str, next_id=None):
    """DDL type spelling -> Iceberg type. TIMESTAMP means the
    Iceberg timestamp (micros, no zone = Spark timestamp_ntz);
    TIMESTAMPTZ / TIMESTAMP_LTZ the zoned timestamptz. Accepts
    decimal(P,S), binary, and array<primitive>."""
    s = spelled.lower().replace(" ", "")
    if s == "timestamp":
        s = "timestamp_ntz"
    elif s in ("timestamptz", "timestamp_ltz"):
        s = "timestamp"
    try:
        return ice.spark_to_ice_type(s, next_id=next_id)
    except ValueError:
        raise ValueError(f"unsupported column type {spelled!r}") from None


def _coldef_type(node, name: str, sql: str, next_id):
    """Iceberg type of a parsed column definition, from the type as
    spelled after the column name in the node's span: Spark reads
    TIMESTAMP as its zoned type, this engine as Iceberg's zone-free
    timestamp, so the parsed DataType cannot tell them apart."""
    start, stop = _span(node)
    text = sql[start:stop + 1]
    skip = len(name) + 2 + name.count("`") if text.startswith("`") else len(name)
    return _sql_type_to_ice(text[skip:].strip(), next_id=next_id)


def _part_field(kind: str, col: str, widths: list):
    """A partition transform as create_table/add_partition_field
    shorthand: bare column (identity), (c, bucket|truncate, N) or
    (c, year|month|day|hour)."""
    kind = kind.lower()
    if kind == "identity":
        return col
    if kind in ("bucket", "truncate"):
        if len(widths) != 1:
            raise ValueError(
                f"{kind} transform needs a width: {kind}(N, column)"
            )
        return col, kind, widths[0]
    if kind in ("year", "month", "day", "hour"):
        if widths:
            raise ValueError(f"{kind} transform takes one column")
        return col, kind
    raise ValueError(f"unsupported partition transform {kind!r}")


def _partition_cols(transforms, names) -> list:
    """Parsed PARTITIONED BY transforms -> create_table shorthand."""
    out = []
    for t in _seq(transforms):
        col = list(t.references()[0].fieldNames())[-1]
        widths = [int(str(a)) for a in t.arguments() if str(a).isdigit()]
        out.append(_part_field(t.name(), col, widths))
        if col not in names:
            raise ValueError(f"partition column {col!r} not in schema")
    return out


def _strict_cast(df, pairs):
    """Cast an INSERT source's columns to the table's types LOUDLY:
    try_cast each ``(source_col, out_name, spark_type)``, and raise if
    any NON-NULL input produced a NULL — the ANSI semantics
    Spark/Iceberg INSERT enforces. Plain cast() would silently turn an
    un-castable value (string 'abc' into an int column) into NULL and
    commit it as data corruption. The check is one filter and the cast
    one selectExpr, both SQL text (iceberg_fs.strict_cast_sql); the
    check is one limit-1 action over the source, answered on the
    driver without a Spark job for a VALUES list. MERGE folds the same
    check into its source-validation aggregate
    (iceberg_fs._merge_source)."""
    exprs, bad = ice.strict_cast_sql(pairs)
    ice.check_strict_cast(df, bad)
    return df.selectExpr(*exprs)


def _target(node):
    """(relation, alias) of a DML target: the alias is the written
    one, else the table name's last part."""
    if node.nodeName() == "SubqueryAlias":
        return node.child(), node.alias()
    return node, _seq(node.multipartIdentifier())[-1]


def _check_part(part: str) -> None:
    # A quoted identifier may contain almost any character, but a
    # table/namespace part must stay a single path component under
    # the warehouse: reject separators and dot-dirs so
    # ``DROP TABLE `../../x` `` can never resolve (and rmtree)
    # outside the warehouse root.
    if (
        os.sep in part
        or "/" in part
        or "\\" in part
        or part in (".", "..")
        or not part
    ):
        raise ValueError(f"invalid table identifier part: {part!r}")


def _namespace(node) -> str:
    parts = _seq(node.multipartIdentifier())
    if len(parts) != 1:
        raise ValueError(f"nested namespace {'.'.join(parts)!r} is unsupported")
    _check_part(parts[0])
    return parts[0]


class _Refs:
    """One walk over parsed plans: every table reference as
    (relation, time-travel node or None, alias or None), the CTE
    names, every plan node visited, and whether the walk met a shape
    that forbids pruning on the outermost WHERE (CTE, set operation,
    named window, expression subquery, derived table)."""

    def __init__(self, spark, roots):
        self.rels, self.ctes, self.nodes = [], set(), []
        self.prunable = True
        for root in roots:
            # expression subqueries are looked up per node only when
            # the tree holds any
            self._walk(root, None, _has(spark, root, "PLAN_EXPRESSION"))

    def _walk(self, node, alias, subqueries):
        self.nodes.append(node)
        name = node.nodeName()
        if name == "UnresolvedRelation":
            self.rels.append((node, None, alias))
            return
        if name == "RelationTimeTravel":
            self.rels.append((node.relation(), node, alias))
            return
        if alias is not None or name in _PRUNE_UNSAFE:
            self.prunable = False
        if name == "UnresolvedWith":
            # CTE bodies are not children of the plan
            for cte in _seq(node.cteRelations()):
                self.ctes.add(cte._1().lower())
                self._walk(cte._2(), None, True)
        subs = _seq(node.subqueries()) if subqueries else []
        if subs:
            self.prunable = False
        for sub in subs:
            self._walk(sub, None, True)
        if name == "SubqueryAlias":
            self._walk(node.child(), node.alias(), subqueries)
            return
        for kid in _seq(node.children()):
            self._walk(kid, None, subqueries)


class FsCatalog:
    """A namespace/table tree of vendored Iceberg tables (format v1,
    v2 once merge-on-read) under one warehouse directory, with a
    one-call SQL entry point (``execute``)."""

    def __init__(self, warehouse: str):
        self.warehouse = warehouse
        # manifest-pruning stats of the views the last statement
        # registered: "ns.tbl" -> {files_planned, files_total, filters}
        self.last_scan_plan: dict = {}
        os.makedirs(warehouse, exist_ok=True)

    # ---- catalog structure ----

    def list_namespaces(self):
        return sorted(
            d
            for d in os.listdir(self.warehouse)
            if os.path.isdir(os.path.join(self.warehouse, d))
        )

    def list_tables(self, ns: str | None = None):
        spaces = [ns] if ns else self.list_namespaces()
        out = []
        for s in spaces:
            root = os.path.join(self.warehouse, s)
            if not os.path.isdir(root):
                raise ValueError(f"namespace {s!r} does not exist")
            for t in sorted(os.listdir(root)):
                if os.path.isdir(os.path.join(root, t, "metadata")):
                    out.append((s, t))
        return out

    def _resolve(self, ident: str, must_exist: bool = True):
        """(ns, tbl, loc, exists) of a ``[ns.]tbl`` identifier as
        written. A dot splits namespace from table only outside
        backticks (a quoted `a.b` is ONE default-namespace table named
        'a.b', as in Spark)."""
        m = re.match(rf"^\s*(?:({_QIDENT})\.)?({_QIDENT})\s*$", ident)
        if m:
            parts = [g[1:-1] if g.startswith("`") else g for g in m.groups() if g]
        else:
            parts = ident.replace("`", "").split(".", 1)
        return self._locate(parts, must_exist)

    def _locate(self, parts, must_exist: bool = True):
        """(ns, tbl, loc, exists) of a table named by its identifier
        parts. Unquoted SQL identifiers are case-INSENSITIVE, so when
        the exact directory is absent a case-insensitive match scoped
        to the namespace is taken."""
        if len(parts) > 2:
            raise ValueError(f"invalid table identifier {'.'.join(parts)!r}")
        ns, tbl = parts if len(parts) == 2 else ("default", parts[0])
        for part in (ns, tbl):
            _check_part(part)
        loc = os.path.join(self.warehouse, ns, tbl)
        real_wh = os.path.realpath(self.warehouse)
        if not os.path.realpath(loc).startswith(real_wh + os.sep):
            raise ValueError(f"identifier resolves outside warehouse: {ns}.{tbl!r}")
        exists = os.path.isdir(os.path.join(loc, "metadata"))
        if not exists:
            match = next(
                (
                    (n2, t2)
                    for n2 in os.listdir(self.warehouse)
                    if n2.lower() == ns.lower()
                    and os.path.isdir(os.path.join(self.warehouse, n2))
                    for t2 in os.listdir(os.path.join(self.warehouse, n2))
                    if t2.lower() == tbl.lower()
                    and os.path.isdir(
                        os.path.join(self.warehouse, n2, t2, "metadata")
                    )
                ),
                None,
            )
            if match:
                ns, tbl = match
                loc, exists = os.path.join(self.warehouse, ns, tbl), True
        if must_exist and not exists:
            raise ValueError(f"table {ns}.{tbl} does not exist")
        return ns, tbl, loc, exists

    def _loc(self, node) -> str:
        """Location of the existing table a parsed relation or table
        node names."""
        return self._locate(_seq(node.multipartIdentifier()))[2]

    # ---- binding warehouse tables to temp views ----

    def _view_name(self, ns: str, tbl: str) -> str:
        base = f"__fs_{ns}__{tbl}"
        if re.fullmatch(r"\w+", base):
            return base
        # names with non-identifier characters (quoted `a.b` tables)
        # sanitize plus a digest so distinct tables never collide
        import hashlib as _hl

        return (
            "__fs_"
            + re.sub(r"[^0-9A-Za-z_]", "_", f"{ns}__{tbl}")
            + "_"
            + _hl.md5(f"{ns}.{tbl}".encode()).hexdigest()[:8]
        )

    def _table(self, spark, parts, ctes):
        """(ns, tbl) of the warehouse table a parsed reference names,
        or None: CTE names, session temp views, file sources such as
        parquet.`path` and unknown names (Spark reports those) pass
        through unbound."""
        if len(parts) > 2 or (len(parts) == 1 and parts[0].lower() in ctes):
            return None
        try:
            ns, tbl, _, exists = self._locate(parts, must_exist=False)
        except ValueError:
            return None
        if not exists or len(parts) == 1 and (
            spark._jsparkSession.sessionState().catalog()
            .getTempView(parts[0]).isDefined()
        ):
            return None
        return ns, tbl

    def _travel_view(self, spark, key, tt) -> str:
        """Register and name the view of a ``VERSION AS OF`` read: a
        snapshot id, or a tag/branch name."""
        if tt.timestamp().isDefined():
            raise ValueError("TIMESTAMP AS OF is unsupported; use VERSION AS OF")
        ns, tbl = key
        version = tt.version().get()
        if version.isdigit():
            snap = int(version)
            view = f"{self._view_name(ns, tbl)}__v{snap}"
        else:
            # digest suffix: two refs differing only in punctuation
            # ('v1.0' vs 'v1-0') must not collide on one view name
            import hashlib as _hl

            snap = version
            view = (
                f"{self._view_name(ns, tbl)}__ref_"
                f"{re.sub(r'[^A-Za-z0-9_]', '_', version)}_"
                f"{_hl.md5(version.encode()).hexdigest()[:8]}"
            )
        loc = os.path.join(self.warehouse, ns, tbl)
        ice.read_iceberg(spark, loc, snapshot_id=snap).createOrReplaceTempView(view)
        return view

    def _bind(self, spark, sql: str, roots, query=None) -> str:
        """Register a temp view for every warehouse table the parsed
        plans under ``roots`` reference, and return ``sql`` with each
        such reference spliced to its view name at the span the
        parser recorded. A column qualifier written with an unaliased
        table's name (``sales.orders.amount``, ``t.col``) is spliced
        too; the expression walk that finds them runs only when the
        table's name occurs in the text more often than it is
        referenced. ``query`` is the query whose outermost WHERE may
        prune the views (see _prune); per-table plan stats land in
        ``self.last_scan_plan``."""
        refs = _Refs(spark, roots)
        splices, used, mentions, aliases, quals = [], {}, {}, {}, {}
        for rel, tt, alias in refs.rels:
            key = self._table(spark, _seq(rel.multipartIdentifier()), refs.ctes)
            if key is None:
                continue
            mentions[key] = mentions.get(key, 0) + 1
            start, stop = _span(rel)
            if tt is not None:
                view = self._travel_view(spark, key, tt)
                splices.append((start, _span(tt)[1], view))
                continue
            used[key] = used.get(key, 0) + 1
            splices.append((start, stop, self._view_name(*key)))
            if alias is None:
                quals[(key[1].lower(),)] = key
                quals[(key[0].lower(), key[1].lower())] = key
            else:
                aliases[(alias.lower(),)] = key
        text = sql.lower()
        if any(text.count(k[1].lower()) > mentions[k] for k in quals.values()):
            splices += self._qualifier_splices(refs.nodes, quals)
        per_table = self._prune(spark, refs, used, {**quals, **aliases}, query)
        for ns, tbl in used:
            flt = per_table.get((ns, tbl), ())
            stats: dict = {}
            ice.read_iceberg(
                spark, os.path.join(self.warehouse, ns, tbl),
                filters=flt, stats_out=stats,
            ).createOrReplaceTempView(self._view_name(ns, tbl))
            self.last_scan_plan[f"{ns}.{tbl}"] = {**stats, "filters": list(flt)}
        for start, stop, view in sorted(splices, reverse=True):
            sql = sql[:start] + view + sql[stop + 1:]
        return sql

    def _qualifier_splices(self, nodes, quals) -> list:
        out = []
        for node in nodes:
            for e in _seq(node.expressions()):
                for leaf in _seq(e.collectLeaves()):
                    kind = leaf.nodeName()
                    if kind == "UnresolvedAttribute":
                        parts = _seq(leaf.nameParts())
                    elif kind == "UnresolvedStar" and leaf.target().isDefined():
                        parts = _seq(leaf.target().get()) + ["*"]
                    else:
                        continue
                    for n in (2, 1):
                        key = quals.get(tuple(p.lower() for p in parts[:n]))
                        if key is not None and len(parts) > n:
                            rest = [p if p == "*" else _quote(p) for p in parts[n:]]
                            view = ".".join([self._view_name(*key), *rest])
                            out.append((*_span(leaf), view))
                            break
        return out

    def _prune(self, spark, refs, used, quals, query) -> dict:
        """Per-table pruning hints from the outermost WHERE of
        ``query``: each top-level comparison of a column with a
        literal prunes the one table it belongs to — by its qualifier
        (an alias or an unaliased table's name), else by the single
        used table whose schema has the column (a column in two
        tables is ambiguous, and Spark rejects it). A table referenced
        more than once shares one view across its references, so it
        never prunes; neither does any shape where the WHERE need not
        hold for every row a view serves (CTE, window, set operation,
        subquery, derived table)."""
        if query is None or not used or not refs.prunable:
            return {}
        raw = _comparisons(_where(query))
        if not raw or _has(spark, query, "WINDOW_EXPRESSION"):
            return {}
        metas = {
            key: ice.read_table_meta(os.path.join(self.warehouse, *key))
            for key in used
        }
        owners: dict[str, list] = {}
        for key, meta in metas.items():
            for f in meta["schema"]["fields"]:
                owners.setdefault(f["name"], []).append(key)
        per_table: dict = {}
        for qual, col, op, val in raw:
            own = owners.get(col, [])
            if qual:
                key = quals.get(tuple(p.lower() for p in qual))
                if key not in own:
                    continue  # unresolvable qualifier: widen, never guess
            elif len(own) == 1:
                key = own[0]
            else:
                continue
            if used[key] == 1:
                per_table.setdefault(key, []).extend(
                    _type_filters([(col, op, val)], metas[key])
                )
        return {k: tuple(v) for k, v in per_table.items()}

    def _rebind(self, spark, sql: str, plan, roots, query=None):
        """``plan`` with the warehouse tables its subtrees ``roots``
        reference bound to views (see _bind); a binding that changed
        the text is parsed once more."""
        bound = self._bind(spark, sql, roots, query) if roots else sql
        return plan if bound == sql else _parse(spark, bound)[0]

    def _aligned(self, spark, df, loc: str) -> DataFrame:
        """Cast a result positionally to the table schema (Spark SQL
        semantics for INSERT by position)."""
        fields = ice.read_table_meta(loc)["schema"]["fields"]
        if len(df.columns) != len(fields):
            raise ValueError(
                f"expected {len(fields)} columns, got {len(df.columns)}"
            )
        return _strict_cast(
            df,
            [
                (c, f["name"], ice.ice_to_spark_type(f["type"]))
                for c, f in zip(df.columns, fields)
            ],
        )

    # ---- the SQL entry point ----

    def execute(self, spark, sql: str) -> DataFrame | list[Row]:
        """Run one statement against the warehouse. A query returns
        its DataFrame; every other statement returns its answer as a
        list of Rows built on the driver from catalog metadata (DDL,
        DML and maintenance return a one-row status), so serving it
        runs no Spark job."""
        self.last_scan_plan = {}
        if not sql or not sql.strip():
            raise ValueError("empty query")
        for pat, handler in _HEAD:
            if m := pat.match(sql):
                return handler(self, spark, m)
        plan, sql = _parse(spark, sql)
        name = plan.nodeName()
        if name in _STATEMENTS:
            return _STATEMENTS[name](self, spark, sql, plan)
        if name == "Call" or (
            name == "UnresolvedWith"
            and plan.child().nodeName() == "InsertIntoStatement"
        ) or _has(spark, plan, "COMMAND"):
            raise ValueError(f"unsupported statement: {sql.strip()[:80]!r}")
        return spark.sql(self._bind(spark, sql, [plan], query=plan))

    @staticmethod
    def _ok(op: str, **extra) -> list[Row]:
        return [Row(operation=op, **{k: str(v) for k, v in extra.items()})]

    # ---- statements Spark parses ----

    def _create_namespace(self, spark, sql, plan) -> list[Row]:
        ns = _namespace(plan.name())
        os.makedirs(os.path.join(self.warehouse, ns), exist_ok=True)
        return self._ok("create_namespace")

    def _drop_namespace(self, spark, sql, plan) -> list[Row]:
        ns = _namespace(plan.namespace())
        if plan.ifExists() and ns not in self.list_namespaces():
            return self._ok("drop_namespace")
        if self.list_tables(ns):
            raise ValueError(f"namespace {ns!r} is not empty")
        shutil.rmtree(os.path.join(self.warehouse, ns))
        return self._ok("drop_namespace")

    def _new_table(self, plan):
        """Location of a CREATE target (ice.create_table makes its
        directories), or None when it exists under IF NOT EXISTS."""
        ns, tbl, loc, exists = self._locate(
            _seq(plan.name().nameParts()), must_exist=False
        )
        if not exists:
            return loc
        if plan.ignoreIfExists():
            return None
        raise ValueError(f"table {ns}.{tbl} already exists")

    def _create_table(self, spark, sql, plan) -> list[Row]:
        cols = _seq(plan.columns())
        # list element-ids continue the counter after all top columns
        # (spec: field ids unique across the whole schema)
        _next = iter(range(len(cols) + 1, 2 * len(cols) + 1))
        fields = [
            {
                "id": i + 1,
                "name": c.name(),
                "required": False,
                "type": _coldef_type(c, c.name(), sql, lambda: next(_next)),
            }
            for i, c in enumerate(cols)
        ]
        part_cols = _partition_cols(
            plan.partitioning(), {f["name"] for f in fields}
        )
        loc = self._new_table(plan)
        if loc is None:
            return self._ok("create_table", skipped=True)
        ice.create_table(
            loc,
            {"type": "struct", "schema-id": 0, "fields": fields},
            part_cols=part_cols,
        )
        return self._ok("create_table")

    def _ctas(self, spark, sql, plan) -> list[Row]:
        """CREATE TABLE ... AS SELECT: schema inferred from the
        query, table created (optionally partitioned), result
        appended as the first snapshot."""
        loc = self._new_table(plan)
        if loc is None:
            return self._ok("create_table", skipped=True)
        q = plan.query()
        src = _frame(spark, self._rebind(spark, sql, plan, [q], q).query())
        schema = ice.spark_schema_to_iceberg(src)
        part_cols = _partition_cols(
            plan.partitioning(), {f["name"] for f in schema["fields"]}
        )
        ice.create_table(loc, schema, part_cols=part_cols)
        ice.append(spark, loc, src)
        return self._ok("create_table_as_select")

    def _drop_table(self, spark, sql, plan) -> list[Row]:
        parts = _seq(plan.child().nameParts())
        _, _, loc, exists = self._locate(parts, must_exist=not plan.ifExists())
        if exists:
            shutil.rmtree(loc)
        return self._ok("drop_table")

    def _truncate(self, spark, sql, plan) -> list[Row]:
        loc = self._loc(plan.table())
        _no_write_branch(loc, "TRUNCATE")
        snap = ice.overwrite_table(spark, loc, None)
        return self._ok(
            "truncate",
            removed_files=snap["summary"]["deleted-data-files"],
        )

    def _add_columns(self, spark, sql, plan) -> list[Row]:
        loc = self._loc(plan.table())
        for q in _seq(plan.columnsToAdd()):
            if q.path().isDefined():
                raise ValueError("nested ADD COLUMN is unsupported")
            name = q.colName()
            # element-id for a list type is minted by add_column
            # itself (it knows the table's last-column-id)
            ice.add_column(loc, name, _coldef_type(q, name, sql, lambda: 0))
        return self._ok("add_column", column=name)

    def _alter_columns(self, spark, sql, plan) -> list[Row]:
        loc = self._loc(plan.table())
        canon = {
            f["name"].lower(): f["name"]
            for f in ice.read_table_meta(loc)["schema"]["fields"]
        }
        for spec in _seq(plan.specs()):
            written = ".".join(_seq(spec.column().name()))
            if not spec.newDataType().isDefined():
                raise ValueError("only ALTER COLUMN ... TYPE is supported")
            col = canon.get(written.lower(), written)
            spelled = spec.newDataType().get().sql()
            new_t = _sql_type_to_ice(spelled, next_id=lambda: 0)
            if not isinstance(new_t, str):
                raise ValueError(f"cannot promote to nested type {spelled!r}")
            out = ice.promote_column_type(loc, col, new_t)
        return self._ok(
            "alter_column_type",
            column=col,
            from_type=ice.ice_type_str(out["from"]),
            to_type=out["to"],
        )

    def _rename_column(self, spark, sql, plan) -> list[Row]:
        loc = self._loc(plan.table())
        old = ".".join(_seq(plan.column().name()))
        ice.rename_column(loc, old, plan.newName())
        return self._ok("rename_column", old=old, new=plan.newName())

    def _drop_columns(self, spark, sql, plan) -> list[Row]:
        loc = self._loc(plan.table())
        for c in _seq(plan.columnsToDrop()):
            col = ".".join(_seq(c.name()))
            ice.drop_column(loc, col)
        return self._ok("drop_column", column=col)

    def _insert(self, spark, sql, plan) -> list[Row]:
        loc = self._loc(plan.table())
        if not plan.partitionSpec().isEmpty() or plan.byName():
            raise ValueError("INSERT ... PARTITION / BY NAME is unsupported")
        # VALUES rows come from Spark's own parser — no hand-rolled
        # literal parser (the reference's QueryManager.py:94-140
        # pitfall)
        q = plan.query()
        src = _frame(spark, self._rebind(spark, sql, plan, [q], q).query())
        raw_names = _seq(plan.userSpecifiedCols())
        if raw_names:
            # column-list INSERT: route the source positionally into
            # the NAMED columns; every omitted column is NULL (SQL
            # standard semantics)
            fields = ice.read_table_meta(loc)["schema"]["fields"]
            # unquoted identifiers are case-insensitive: resolve the
            # list to the schema's canonical casing first
            canon = {f["name"].lower(): f["name"] for f in fields}
            bad = [c for c in raw_names if c.lower() not in canon]
            if bad:
                raise ValueError(f"INSERT columns not in schema: {bad}")
            names = [canon[c.lower()] for c in raw_names]
            if len(names) != len(set(names)):
                raise ValueError("duplicate INSERT column")
            if len(src.columns) != len(names):
                raise ValueError(
                    f"expected {len(names)} columns, got "
                    f"{len(src.columns)}"
                )
            named = src.toDF(*names)
            src = named.select(
                *[
                    F.col(f["name"])
                    if f["name"] in names
                    else F.lit(None)
                    .cast(ice.ice_to_spark_type(f["type"]))
                    .alias(f["name"])
                    for f in fields
                ]
            )
        aligned = self._aligned(spark, src, loc)
        branch = _write_branch(loc)
        if plan.overwrite():
            if branch:
                raise ValueError(
                    "INSERT OVERWRITE is unsupported while "
                    f"write.branch={branch!r} is set — publish or "
                    "clear the branch first"
                )
            snap = ice.overwrite_table(spark, loc, aligned)
            return self._ok(
                "insert_overwrite",
                replaced_files=snap["summary"]["deleted-data-files"],
                new_files=snap["summary"]["added-data-files"],
            )
        snap = ice.append(spark, loc, aligned, branch=branch)
        return self._ok(
            "insert",
            added_records=snap["summary"].get("added-records", "0"),
            **({"branch": branch} if branch else {}),
        )

    def _dml(self, spark, sql, plan, verb: str, roots, target):
        """(plan, target alias, loc, meta, mor) of a row-level DML
        statement: ``plan`` with the tables its ``roots`` (sources,
        subqueries) reference bound to views, and the target table,
        whose ``write.<verb>.mode`` property may select
        merge-on-read. The target itself is read by iceberg_fs and
        stays unbound."""
        plan = self._rebind(spark, sql, plan, roots)
        rel, alias = _target(target(plan))
        loc = self._loc(rel)
        _no_write_branch(loc, verb.upper())
        meta = ice.read_table_meta(loc)
        props = meta.get("properties", {})
        return plan, alias, loc, meta, (
            props.get(f"write.{verb}.mode", "") == "merge-on-read"
        )

    def _update(self, spark, sql, plan) -> list[Row]:
        plan, _, loc, meta, mor = self._dml(
            spark, sql, plan, "update", _seq(plan.subqueries()),
            lambda p: p.table(),
        )
        canon = {f["name"].lower(): f["name"] for f in meta["schema"]["fields"]}
        assignments = {}
        for a in _seq(plan.assignments()):
            # iceberg_fs refuses a SET target that is not a column
            # (and, copy-on-write, a partition column)
            written = ".".join(_seq(a.key().nameParts()))
            col = canon.get(written.lower(), written)
            assignments[col] = _column(spark, a.value())
        cond = plan.condition()
        cond = cond.get() if cond.isDefined() else None
        return self._rewrite(spark, "update", loc, meta, mor, cond, assignments)

    def _delete(self, spark, sql, plan) -> list[Row]:
        plan, _, loc, meta, mor = self._dml(
            spark, sql, plan, "delete", _seq(plan.subqueries()),
            lambda p: p.table(),
        )
        return self._rewrite(spark, "delete", loc, meta, mor, plan.condition())

    def _rewrite(self, spark, verb, loc, meta, mor, cond, assignments=None):
        """UPDATE or DELETE through iceberg_fs's one row-level path;
        the table's ``write.<verb>.mode`` property selects
        merge-on-read, which writes position deletes instead of
        rewriting data files."""
        snap = ice._rewrite_where(
            spark, loc, meta,
            F.lit(True) if cond is None else _column(spark, cond),
            assignments, _where_filters(cond, meta), mor,
        )["summary"]
        if not mor:
            return self._ok(verb, rewritten_files=snap["deleted-data-files"])
        return self._ok(
            verb,
            rewritten_files="0",
            added_delete_files=snap["added-delete-files"],
            **{f"{verb}d_rows": snap["added-position-deletes"]},
        )

    def _merge(self, spark, sql, plan) -> list[Row]:
        # the alias as written: binding renames an unaliased source
        src_alias = _target(plan.sourceTable())[1]
        plan, tgt_alias, loc, meta, mor = self._dml(
            spark, sql, plan, "merge",
            [plan.sourceTable(), *_seq(plan.subqueries())],
            lambda p: p.targetTable(),
        )
        aliases = {tgt_alias.lower(), src_alias.lower()}
        source = _frame(spark, plan.sourceTable())
        on_cols = []
        for name, term in _conjuncts(plan.mergeCondition()):
            sides = [term.left(), term.right()] if name == "EqualTo" else []
            parts = [
                _seq(s.nameParts()) for s in sides
                if s.nodeName() == "UnresolvedAttribute"
            ]
            if len(parts) != 2 or any(len(p) != 2 for p in parts):
                raise ValueError(f"unsupported ON term {term.toString()!r}")
            (a1, c1), (a2, c2) = parts
            # case-insensitive alias/column matching, like every other
            # identifier on this surface
            if {a1.lower(), a2.lower()} != aliases or c1.lower() != c2.lower():
                raise ValueError(
                    "ON terms must equate the same column across the "
                    f"two aliases, got {term.toString()!r}"
                )
            on_cols.append(c1)
        # resolve ON columns through the schema's canonical casing so
        # downstream joins/selects hit real columns
        canon = {f["name"].lower(): f["name"] for f in meta["schema"]["fields"]}
        on_cols = [canon.get(c.lower(), c) for c in on_cols]
        acts = [
            _seq(a) for a in (
                plan.matchedActions(),
                plan.notMatchedActions(),
                plan.notMatchedBySourceActions(),
            )
        ]
        kinds = [[a.nodeName() for a in x] for x in acts]
        upsert = (
            kinds[0] in (["UpdateStarAction"], ["UpdateAction"])
            and kinds[1] == ["InsertStarAction"]
            and kinds[2] in ([], ["DeleteAction"], ["UpdateAction"])
        )
        if any(a.condition().isDefined() for x in acts for a in x) or not (
            upsert or kinds == [["DeleteAction"], [], []]
        ):
            raise ValueError(
                "unsupported MERGE clause — expected "
                "UPDATE SET ... WHEN NOT MATCHED THEN INSERT * "
                "[WHEN NOT MATCHED BY SOURCE THEN DELETE | "
                "UPDATE SET ...], or DELETE"
            )
        # iceberg_fs checks the source's columns (every table column;
        # only the ON keys for a WHEN MATCHED THEN DELETE tombstone
        # batch) and casts them BY NAME to the table schema, loudly:
        # literals in an inline USING (SELECT ...) arrive as Spark's
        # inferred types (INT, DECIMAL)
        if not upsert:
            fn = ice.mor_merge_delete if mor else ice.merge_delete
            summary = fn(spark, loc, source, on_cols=on_cols)["summary"]
            return self._ok(
                "merge_delete",
                rewritten_files=summary.get("deleted-data-files", "0"),
                added_delete_files=summary.get("added-delete-files", "0"),
            )
        tgt_qual = ([], [tgt_alias.lower()])
        # WHEN NOT MATCHED BY SOURCE — the CDC-mirror clause
        nmbs = None
        if kinds[2] == ["DeleteAction"]:
            nmbs = "delete"
        elif kinds[2]:
            nmbs = {}
            for a in _seq(acts[2][0].assignments()):
                *qual, col = _seq(a.key().nameParts())
                if [q.lower() for q in qual] not in tgt_qual:
                    raise ValueError(
                        "NOT MATCHED BY SOURCE SET may only assign "
                        f"target columns, got {a.toString()!r}"
                    )
                if col.lower() not in canon:
                    raise ValueError(
                        f"unknown column {col!r} in NOT MATCHED BY SOURCE SET"
                    )
                # no source row exists for these target rows, so the
                # expression may reference only literals and target
                # columns
                nmbs[canon[col.lower()]] = _column(spark, a.value())
        update_cols = None
        if kinds[0] == ["UpdateAction"]:
            # explicit assignments: each must be [tgt.]col = src.col
            # with matching names — column-level update routing
            update_cols = []
            for a in _seq(acts[0][0].assignments()):
                *qual, col = _seq(a.key().nameParts())
                val = a.value()
                src = (
                    _seq(val.nameParts())
                    if val.nodeName() == "UnresolvedAttribute"
                    else []
                )
                if [q.lower() for q in qual] not in tgt_qual or [
                    p.lower() for p in src
                ] != [src_alias.lower(), col.lower()]:
                    raise ValueError(
                        f"unsupported MERGE SET item {a.toString()!r}"
                        " — expected [tgt.]col = src.col with the"
                        " same column name"
                    )
                update_cols.append(canon.get(col.lower(), col))
        fn = ice.mor_merge_into if mor else ice.merge_into
        snap = fn(
            spark, loc, source, on_cols=on_cols, update_cols=update_cols,
            not_matched_by_source=nmbs,
        )
        return self._ok(
            "merge",
            rewritten_files=snap["summary"]["deleted-data-files"],
            added_files=snap["summary"]["added-data-files"],
        )

    # ---- head table: statements answered without a parse ----

    def _h_list_namespaces(self, spark, m) -> list[Row]:
        return [Row(namespace=n) for n in self.list_namespaces()]

    def _h_list_tables(self, spark, m) -> list[Row]:
        return [
            Row(namespace=ns, tableName=t)
            for ns, t in self.list_tables(m.group(1))
        ]

    def _h_describe(self, spark, m) -> list[Row]:
        meta = ice.read_table_meta(self._resolve(m.group(1))[2])
        parts = {f["name"] for f in meta["partition-spec"]}
        sort_pos = {
            c: i + 1 for i, c in enumerate(ice.default_sort_cols(meta))
        }

        def _facets(name: str) -> str:
            out = ["partition"] if name in parts else []
            if name in sort_pos:
                out.append(f"sort({sort_pos[name]})")
            return " ".join(out)

        return [
            Row(
                col_name=f["name"],
                data_type=ice.ice_type_str(f["type"]),
                comment=_facets(f["name"]),
            )
            for f in meta["schema"]["fields"]
        ]

    def _h_snapshots(self, spark, m) -> list[Row]:
        meta = ice.read_table_meta(self._resolve(m.group(1))[2])
        return [
            Row(
                snapshot_id=s["snapshot-id"],
                parent_id=s.get("parent-snapshot-id"),
                committed_at_ms=s["timestamp-ms"],
                operation=s["summary"]["operation"],
            )
            for s in meta["snapshots"]
        ]

    def _h_show_props(self, spark, m) -> list[Row]:
        loc = self._resolve(m.group(1))[2]
        props = ice.read_table_meta(loc).get("properties", {})
        return [Row(key=k, value=v) for k, v in sorted(props.items())]

    def _h_show_refs(self, spark, m) -> list[Row]:
        loc = self._resolve(m.group(1))[2]
        refs = ice.read_table_meta(loc).get("refs") or {}
        return [
            Row(name=n, type=r["type"], snapshot_id=r["snapshot-id"])
            for n, r in sorted(refs.items())
        ]

    def _h_set_props(self, spark, m) -> list[Row]:
        loc = self._resolve(m.group(1))[2]
        key = m.group(2).replace("''", "'")
        val = m.group(3).replace("''", "'")
        ice.set_table_property(loc, key, val)
        return self._ok("set_tblproperties", key=key, value=val)

    def _h_write_ordered(self, spark, m) -> list[Row]:
        loc = self._resolve(m.group(1))[2]
        fields = ice.read_table_meta(loc)["schema"]["fields"]
        canon = {f["name"].lower(): f["name"] for f in fields}
        cols = [c.strip().strip("`") for c in m.group(2).split(",")]
        cols = [canon.get(c.lower(), c) for c in cols]
        out = ice.set_sort_order(loc, cols)
        return self._ok(
            "write_ordered_by",
            order_id=str(out["order-id"]),
            columns=",".join(cols),
        )

    def _h_write_unordered(self, spark, m) -> list[Row]:
        ice.set_sort_order(self._resolve(m.group(1))[2], [])
        return self._ok("write_unordered", order_id="0")

    def _h_write_branch(self, spark, m) -> list[Row]:
        loc = self._resolve(m.group(1))[2]
        name = m.group(2)
        if name != "main":
            refs = ice.read_table_meta(loc).get("refs") or {}
            r = refs.get(name)
            if r is None:
                raise ValueError(f"branch {name!r} does not exist")
            if r["type"] != "branch":
                raise ValueError(f"ref {name!r} is a tag")
        ice.set_table_property(loc, "write.branch", name)
        return self._ok("write_to_branch", branch=name)

    def _h_fast_forward(self, spark, m) -> list[Row]:
        out = ice.fast_forward(
            self._resolve(m.group(1))[2], m.group(2), m.group(3)
        )
        return self._ok(
            "fast_forward",
            target=m.group(2),
            snapshot_id=str(out["snapshot-id"]),
            advanced=str(out["advanced"]),
        )

    def _h_create_ref(self, spark, m) -> list[Row]:
        ref = ice.create_ref(
            self._resolve(m.group(1))[2],
            m.group(3),
            ref_type=m.group(2).lower(),
            snapshot_id=int(m.group(4)) if m.group(4) else None,
        )
        return self._ok(
            f"create_{ref['type']}",
            name=ref["name"],
            snapshot_id=str(ref["snapshot-id"]),
        )

    def _h_drop_ref(self, spark, m) -> list[Row]:
        ref = ice.drop_ref(self._resolve(m.group(1))[2], m.group(2))
        return self._ok("drop_ref", name=ref["name"])

    def _h_add_part(self, spark, m) -> list[Row]:
        # ADD PARTITION FIELD day(d) / bucket(8, k) /
        # truncate(10, s) / bare column (identity)
        fn, n, col, bare = m.group(2), m.group(3), m.group(4), m.group(5)
        part = _part_field(
            fn or "identity", col or bare, [int(n)] if n else []
        )
        spec = ice.add_partition_field(self._resolve(m.group(1))[2], part)
        return self._ok(
            "add_partition_field",
            spec_id=str(spec["spec-id"]),
            field=spec["fields"][-1]["name"],
        )

    def _h_drop_part(self, spark, m) -> list[Row]:
        spec = ice.drop_partition_field(
            self._resolve(m.group(1))[2], m.group(2)
        )
        return self._ok(
            "drop_partition_field",
            spec_id=str(spec["spec-id"]),
            field=m.group(2),
        )

    def _h_optimize(self, spark, m) -> list[Row]:
        size = {"target_file_bytes": int(m.group(4))} if m.group(4) else {}
        snap = ice.compact_files(
            spark, self._resolve(m.group(1))[2], sort_by=m.group(2),
            n_slices=int(m.group(3) or 1), **size,
        )
        return self._ok(
            "optimize",
            rewritten_files=snap["summary"]["deleted-data-files"],
            new_files=snap["summary"]["added-data-files"],
        )

    def _h_expire(self, spark, m) -> list[Row]:
        res = ice.expire_snapshots(
            self._resolve(m.group(1))[2], keep_last=int(m.group(2) or 1)
        )
        return self._ok("expire_snapshots", **res)

    def _h_rewrite_deletes(self, spark, m) -> list[Row]:
        snap = ice.rewrite_position_deletes(spark, self._resolve(m.group(1))[2])
        return self._ok(
            "rewrite_position_deletes",
            rewritten_delete_files=snap["summary"]["rewritten-delete-files"],
            added_delete_files=snap["summary"]["added-delete-files"],
        )

    def _h_convert_deletes(self, spark, m) -> list[Row]:
        snap = ice.convert_equality_deletes(spark, self._resolve(m.group(1))[2])
        return self._ok(
            "convert_equality_deletes",
            converted_equality_delete_files=snap["summary"][
                "converted-equality-delete-files"
            ],
            added_delete_files=snap["summary"]["added-delete-files"],
        )


# Checked before parsing, in order: the Iceberg extension statements
# Spark's parser rejects, SET TBLPROPERTIES (Spark rejects reserved
# keys such as 'owner'), and the metadata answers served without a
# parse (a parse would dominate DESCRIBE's cost). Each regex matches
# the whole statement, case-insensitively, with an optional trailing
# semicolon.
_HEAD = [
    (re.compile(rf"^\s*{pat}\s*;?\s*$", re.I), handler)
    for pat, handler in (
        (r"LIST\s+NAMESPACES", FsCatalog._h_list_namespaces),
        (rf"LIST\s+TABLES(?:\s+(?:IN\s+)?({_IDENT}))?", FsCatalog._h_list_tables),
        (rf"DESCRIBE\s+TABLE\s+({_TBL})", FsCatalog._h_describe),
        (rf"SHOW\s+SNAPSHOTS\s+(?:IN\s+)?({_TBL})", FsCatalog._h_snapshots),
        (rf"SHOW\s+TBLPROPERTIES\s+({_TBL})", FsCatalog._h_show_props),
        (rf"SHOW\s+REFS\s+(?:IN\s+)?({_TBL})", FsCatalog._h_show_refs),
        (
            rf"ALTER\s+TABLE\s+({_TBL})\s+SET\s+TBLPROPERTIES\s*\(\s*"
            r"'((?:[^']|'')+)'\s*=\s*'((?:[^']|'')*)'\s*\)",
            FsCatalog._h_set_props,
        ),
        (
            rf"ALTER\s+TABLE\s+({_TBL})\s+WRITE\s+ORDERED\s+BY\s+"
            rf"\(?\s*({_IDENT}(?:\s*,\s*{_IDENT})*)\s*\)?",
            FsCatalog._h_write_ordered,
        ),
        (rf"ALTER\s+TABLE\s+({_TBL})\s+WRITE\s+UNORDERED", FsCatalog._h_write_unordered),
        (
            rf"ALTER\s+TABLE\s+({_TBL})\s+WRITE\s+TO\s+BRANCH\s+({_IDENT})",
            FsCatalog._h_write_branch,
        ),
        (
            rf"ALTER\s+TABLE\s+({_TBL})\s+FAST\s+FORWARD\s+({_IDENT})\s+({_IDENT})",
            FsCatalog._h_fast_forward,
        ),
        (
            rf"ALTER\s+TABLE\s+({_TBL})\s+CREATE\s+(TAG|BRANCH)\s+({_IDENT})"
            r"(?:\s+AS\s+OF\s+VERSION\s+(\d+))?",
            FsCatalog._h_create_ref,
        ),
        (
            rf"ALTER\s+TABLE\s+({_TBL})\s+DROP\s+(?:TAG|BRANCH)\s+({_IDENT})",
            FsCatalog._h_drop_ref,
        ),
        (
            rf"ALTER\s+TABLE\s+({_TBL})\s+ADD\s+PARTITION\s+FIELD\s+"
            rf"(?:({_IDENT})\s*\(\s*(?:(\d+)\s*,\s*)?({_IDENT})\s*\)|({_IDENT}))",
            FsCatalog._h_add_part,
        ),
        (
            rf"ALTER\s+TABLE\s+({_TBL})\s+DROP\s+PARTITION\s+FIELD\s+({_IDENT})",
            FsCatalog._h_drop_part,
        ),
        (
            # SLICES does not require SORT BY: a table default sort
            # order (WRITE ORDERED BY) supplies the clustering key
            rf"OPTIMIZE\s+({_TBL})(?:\s+SORT\s+BY\s+({_IDENT}))?"
            r"(?:\s+SLICES\s+(\d+))?(?:\s+TARGET\s+SIZE\s+(\d+))?",
            FsCatalog._h_optimize,
        ),
        (
            rf"EXPIRE\s+SNAPSHOTS\s+(?:IN\s+)?({_TBL})(?:\s+KEEP\s+(\d+))?",
            FsCatalog._h_expire,
        ),
        (rf"REWRITE\s+DELETES\s+(?:IN\s+)?({_TBL})", FsCatalog._h_rewrite_deletes),
        (rf"CONVERT\s+DELETES\s+(?:IN\s+)?({_TBL})", FsCatalog._h_convert_deletes),
    )
]

# parsed plan class -> statement handler; any other plan that is not
# a command runs as a query
_STATEMENTS = {
    "CreateNamespace": FsCatalog._create_namespace,
    "DropNamespace": FsCatalog._drop_namespace,
    "CreateTable": FsCatalog._create_table,
    "CreateTableAsSelect": FsCatalog._ctas,
    "DropTable": FsCatalog._drop_table,
    "TruncateTable": FsCatalog._truncate,
    "AddColumns": FsCatalog._add_columns,
    "AlterColumns": FsCatalog._alter_columns,
    "RenameColumn": FsCatalog._rename_column,
    "DropColumns": FsCatalog._drop_columns,
    "InsertIntoStatement": FsCatalog._insert,
    "UpdateTable": FsCatalog._update,
    "DeleteFromTable": FsCatalog._delete,
    "MergeIntoTable": FsCatalog._merge,
}
