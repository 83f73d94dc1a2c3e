"""The benchmark's request mixes and their DuckDB expectations.

A workload is a fixed list of setup calls plus a pass of calls the
client repeats. Every request parameter (keys, literals, inserted
rows, operator order) comes from ``random.Random`` seeded with the
run's ``--seed``; the server only ever sees the generated SQL and
operator names. Every call carries a ``check`` that compares the
server's rows with what DuckDB computes from the same fixtures:

- ``lake``: reads run the same SQL in DuckDB over the parquet
  fixtures; writes are mirrored statement by statement into a DuckDB
  copy of the table, and the pass's read-back is compared with it;
- ``operator_calls``: each operator is compared with its registered
  ``oracle_sql``, each SQL statement with DuckDB running it.

Rows are compared as ``compare.rows_to_multiset`` multisets after
both sides went through the server's JSON encoding.
"""

from __future__ import annotations

import json
import random
import re
from dataclasses import dataclass
from typing import Callable

import duckdb
import fixtures

from mcp_iceberg_duckdb_spark.compare import rows_to_multiset

MAX_RESULT_ROWS = 1000  # the server's row cap (server.MAX_RESULT_ROWS)


@dataclass
class Call:
    kind: str
    tool: str
    args: dict
    # rows of the tool result (None for an isError result) -> ok?
    check: Callable[[list | None], bool]
    # DML calls: rows the statement changes (from the DuckDB mirror)
    rows_changed: int = 0


def _jsonish(cols, rows):
    """DuckDB rows encoded the way the server encodes Spark rows
    (``json.dumps(default=str)``), then decoded."""
    return json.loads(json.dumps([dict(zip(cols, r)) for r in rows], default=str))


def rows_match(got: list | None, want: list[dict], capped: bool = False) -> bool:
    """``got`` equals ``want`` as a multiset of rows. With ``capped``
    (the server cut an unordered result at its row cap) ``got`` must
    be a full-cap sub-multiset of ``want`` instead."""
    if got is None:
        return False
    cols = list(want[0]) if want else (list(got[0]) if got else [])
    if any(set(r) != set(cols) for r in got):
        return False
    ms_got = rows_to_multiset(cols, [[r[c] for c in cols] for r in got])
    ms_want = rows_to_multiset(cols, [[r[c] for c in cols] for r in want])
    if not capped:
        return ms_got == ms_want
    if len(got) != MAX_RESULT_ROWS:
        return False
    pool: dict = {}
    for t in ms_want:
        pool[t] = pool.get(t, 0) + 1
    for t in ms_got:
        if pool.get(t, 0) == 0:
            return False
        pool[t] -= 1
    return True


def expect_rows(want: list[dict]) -> Callable[[list | None], bool]:
    capped = len(want) > MAX_RESULT_ROWS
    return lambda got: rows_match(got, want, capped)


class Duck:
    """DuckDB over the fixture parquet files."""

    def __init__(self, views: dict[str, str]):
        self.con = duckdb.connect()
        for name, path in views.items():
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )

    def rows(self, sql: str) -> list[dict]:
        rel = self.con.execute(sql)
        cols = [d[0] for d in rel.description]
        return _jsonish(cols, rel.fetchall())

    def changed(self, sql: str) -> int:
        """Run a DML statement; the number of rows it changed."""
        return int(self.con.execute(sql).fetchone()[0])

    def close(self) -> None:
        self.con.close()


def _ts(rng: random.Random, lo_year: int, hi_year: int) -> str:
    return f"{rng.randint(lo_year, hi_year)}-{rng.randint(1, 12):02d}-01"


def _dollars(rng: random.Random, lo: int, hi: int) -> str:
    return f"{rng.randint(lo * 100, hi * 100) / 100:.2f}"


# --------------------------------------------------------------- lake


LAKE_TABLES = {
    # warehouse table -> (fixture scale, fixture table, partition column)
    "lineitem": ("0.1", "lineitem", "l_returnflag"),
    "orders_w": ("0.01", "orders", "o_orderstatus"),
}
_ICE_TYPES = {
    "BIGINT": "long", "INTEGER": "int", "DOUBLE": "double",
    "VARCHAR": "string", "TIMESTAMP": "timestamp",
}
_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_ORDER_COLS = (
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority",
)


def _strip_ns(sql: str) -> str:
    """Engine SQL names warehouse tables ``default.t``; DuckDB's
    views are plain ``t``."""
    return re.sub(r"\bdefault\.", "", sql)


class Lake:
    """Reads over an sf0.1 ``lineitem`` and copy-on-write DML on an
    sf0.01 ``orders_w`` that the reads also join, all in one Iceberg
    warehouse."""

    name = "lake"
    operators = ()
    warm_passes = 2

    def __init__(self, seed: int, fixtures: dict[str, str], warehouse: str):
        self.seed = seed
        self.fx = fixtures
        self.warehouse = warehouse
        self.duck = Duck({"lineitem": f"{fixtures['0.1']}/lineitem.parquet"})
        self.duck.con.execute(
            "CREATE TABLE orders_w AS SELECT * FROM "
            f"read_parquet('{fixtures['0.01']}/orders.parquet')"
        )
        self.n_base = self.duck.con.execute(
            "SELECT count(*) FROM orders_w"
        ).fetchone()[0]
        self._reads, self._join = self._read_calls(random.Random(f"{seed}:reads"))

    def server_env(self) -> dict[str, str]:
        return {"SPARK_GRAFT_FS_WAREHOUSE": self.warehouse}

    def setup_calls(self) -> list[Call]:
        out = []
        for tbl, (sf, src, part) in LAKE_TABLES.items():
            sql = (
                f"CREATE TABLE default.{tbl} PARTITIONED BY ({part}) AS "
                f"SELECT * FROM parquet.`{self.fx[sf]}/{src}.parquet`"
            )
            out.append(Call(
                f"setup.ctas_{tbl}", "query_table", {"query": sql},
                _op_is("create_table_as_select"),
            ))
        return out

    def _read_calls(self, rng: random.Random) -> tuple[list[Call], str]:
        """The reads of every pass, and the SQL of the join, whose
        expectation changes as the passes write ``orders_w``."""
        flag = rng.choice("ANR")
        status = rng.choice("FOP")
        since = _ts(rng, 1995, 2000)
        until = _ts(rng, 1996, 2001)
        calls = []

        def sql_call(kind, sql):
            calls.append(Call(
                kind, "query_table", {"query": sql},
                expect_rows(self.duck.rows(_strip_ns(sql))),
            ))

        sql_call("read.agg_lineitem", (
            "SELECT l_linestatus, count(*) AS n, "
            "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue, "
            "sum(l_quantity) AS qty FROM default.lineitem "
            f"WHERE l_returnflag = '{flag}' AND l_shipdate >= TIMESTAMP '{since}' "
            "GROUP BY l_linestatus"
        ))
        join = (
            "SELECT o.o_orderpriority, count(*) AS n, "
            "CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue "
            "FROM default.orders_w o JOIN default.lineitem l "
            "ON o.o_orderkey = l.l_orderkey "
            f"WHERE o.o_orderstatus = '{status}' AND l.l_returnflag = '{flag}' "
            f"AND l.l_quantity > {rng.randint(10, 45)} GROUP BY o.o_orderpriority"
        )
        # hits the server's 1000-row cap: the result path's worst case
        sql_call("read.wide_top", (
            "SELECT * FROM default.lineitem "
            f"WHERE l_returnflag = '{flag}' AND l_shipdate < TIMESTAMP '{until}' "
            "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 1000"
        ))
        tbl = rng.choice(list(LAKE_TABLES))
        calls.append(Call(
            "catalog.describe", "query_catalog",
            {"query": f"DESCRIBE TABLE default.{tbl}"},
            self._describe_check(tbl),
        ))
        calls.append(Call(
            "catalog.list_tables", "query_catalog", {"query": "LIST TABLES"},
            expect_rows([
                {"namespace": "default", "tableName": t} for t in LAKE_TABLES
            ]),
        ))
        return calls, join

    def _describe_check(self, tbl: str):
        part = LAKE_TABLES[tbl][2]
        cols = self.duck.con.execute(f"DESCRIBE SELECT * FROM {tbl}").fetchall()
        want = [
            {"col_name": c[0], "data_type": _ICE_TYPES[c[1]],
             "comment": "partition" if c[0] == part else ""}
            for c in cols
        ]
        return lambda got: got == want

    def pass_calls(self, p: int) -> list[Call]:
        # the join sees what the earlier passes wrote: its expectation
        # is taken from the mirror before this pass's writes apply
        join = Call(
            "read.join", "query_table", {"query": self._join},
            expect_rows(self.duck.rows(_strip_ns(self._join))),
        )
        return self._reads[:1] + [join] + self._reads[1:] + self._write_calls(p)

    def _write_calls(self, p: int) -> list[Call]:
        """One pass of DML on ``orders_w`` and its read-back. Keys are
        fresh per pass (inserts) or drawn from the base key range
        (updates, deletes, merge matches). Generating the pass applies
        each statement to the DuckDB mirror, so passes must be
        generated once each, in order."""
        rng = random.Random(f"{self.seed}:write:{p}")
        duck = self.duck
        old = lambda: rng.randrange(self.n_base)  # noqa: E731
        fresh = 10_000_000 + 1_000 * p
        calls = []

        def dml(kind, sql, mirror, check):
            # the mirror runs when the pass is generated; its row count
            # feeds the traced run's per-row write metrics
            calls.append(Call(
                kind, "query_table", {"query": sql}, check,
                rows_changed=sum(duck.changed(m) for m in mirror),
            ))

        def row(key):  # SQL literals, in _ORDER_COLS order
            return (
                str(key), str(rng.randrange(1500)), f"'{rng.choice('FOP')}'",
                _dollars(rng, 1000, 500000),
                f"TIMESTAMP '{_ts(rng, 1995, 2001)} 00:00:00'",
                f"'{rng.choice(_PRIOS)}'",
            )

        values = ", ".join(f"({', '.join(row(fresh + i))})" for i in range(3))
        dml("write.insert_values",
            f"INSERT INTO default.orders_w VALUES {values}",
            [f"INSERT INTO orders_w VALUES {values}"],
            _op_is("insert"))
        keys = ", ".join(str(old()) for _ in range(3))
        set_sql = f"o_totalprice = o_totalprice + {rng.randint(1, 99)}.5"
        dml("write.update_in",
            f"UPDATE default.orders_w SET {set_sql} WHERE o_orderkey IN ({keys})",
            [f"UPDATE orders_w SET {set_sql} WHERE o_orderkey IN ({keys})"],
            _op_is("update"))
        key = old()
        dml("write.delete",
            f"DELETE FROM default.orders_w WHERE o_orderkey = {key}",
            [f"DELETE FROM orders_w WHERE o_orderkey = {key}"],
            _op_is("delete"))
        src = " UNION ALL ".join(
            "SELECT " + ", ".join(
                f"{v} AS {c}" for v, c in zip(row(k), _ORDER_COLS)
            )
            for k in (old(), fresh + 10)
        )
        dml("write.merge", (
            f"MERGE INTO default.orders_w t USING ({src}) s "
            "ON t.o_orderkey = s.o_orderkey WHEN MATCHED THEN UPDATE SET "
            "t.o_totalprice = s.o_totalprice, "
            "t.o_orderpriority = s.o_orderpriority "
            "WHEN NOT MATCHED THEN INSERT *"
        ), [
            "UPDATE orders_w SET o_totalprice = s.o_totalprice, "
            f"o_orderpriority = s.o_orderpriority FROM ({src}) s "
            "WHERE orders_w.o_orderkey = s.o_orderkey",
            f"INSERT INTO orders_w SELECT * FROM ({src}) s "
            "WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM orders_w)",
        ], _op_is("merge"))
        read = (
            "SELECT o_orderstatus, count(*) AS n, "
            "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total, "
            "max(o_orderkey) AS max_key, "
            "sum(length(o_orderpriority)) AS prio_len "
            "FROM default.orders_w GROUP BY o_orderstatus"
        )
        calls.append(Call(
            "write.read_back", "query_table", {"query": read},
            expect_rows(duck.rows(_strip_ns(read))),
        ))
        return calls

    def close(self) -> None:
        self.duck.close()


def _op_is(op: str):
    return lambda got: bool(got) and got[0].get("operation") == op


# ------------------------------------------------------ operator_calls


OPERATORS = (
    "x_dedup_exact",
    "x_ann_cosine_topk",
    "x_text_quality",
    "x_graph_kcore",
    "q1_pricing_summary",
    "q18_large_orders",
)
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


class OperatorCalls:
    """Registered heavyweight operators through ``run_operator`` plus
    two TPC-H-style statements through ``query_table`` (the router's
    ``spark.sql`` path), over the session catalog's sf0.01 views."""

    name = "operator_calls"
    operators = OPERATORS
    # the operators still warm up after the first warm pass: a median
    # over three keeps that trend out of the warm metrics
    warm_passes = 3

    def __init__(self, seed: int, fixtures: dict[str, str], warehouse: str):
        from mcp_iceberg_duckdb_spark import registry
        from mcp_iceberg_duckdb_spark.sources.tables import TABLE_NAMES

        self.sf_dir = fixtures["0.01"]
        self.duck = Duck({
            t: f"{self.sf_dir}/{t}.parquet" for t in TABLE_NAMES
        })
        rng = random.Random(f"{seed}:operators")
        registry.load_all()
        order = list(OPERATORS)
        rng.shuffle(order)
        calls = []
        for name in order:
            oracle = registry.QUERIES[name].oracle
            if callable(oracle):
                oracle = oracle()
            calls.append(Call(
                f"op.{name}", "run_operator", {"name": name},
                expect_rows(self.duck.rows(oracle)),
            ))
        since = _ts(rng, 1995, 2000)
        lo = rng.randint(2, 7) / 100
        q6 = (
            "SELECT count(*) AS n, CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) "
            "* CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue "
            f"FROM lineitem WHERE l_shipdate >= TIMESTAMP '{since}' "
            f"AND l_shipdate < TIMESTAMP '{int(since[:4]) + 1}{since[4:]}' "
            f"AND l_discount BETWEEN {lo:.2f} AND {lo + 0.02:.2f} "
            f"AND l_quantity < {rng.randint(20, 30)}"
        )
        q3 = (
            "SELECT o_orderpriority, count(*) AS n, "
            "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue "
            "FROM customer JOIN orders ON c_custkey = o_custkey "
            "JOIN lineitem ON l_orderkey = o_orderkey "
            f"WHERE c_mktsegment = '{rng.choice(_SEGMENTS)}' "
            f"AND o_orderdate < TIMESTAMP '{_ts(rng, 1996, 2000)}' "
            "GROUP BY o_orderpriority"
        )
        for kind, sql in (("sql.q6_revenue", q6), ("sql.q3_priority", q3)):
            calls.insert(rng.randrange(len(calls) + 1), Call(
                kind, "query_table", {"query": sql},
                expect_rows(self.duck.rows(sql)),
            ))
        self._calls = calls

    def server_env(self) -> dict[str, str]:
        return {"SPARK_GRAFT_SF_DIR": self.sf_dir}

    def setup_calls(self) -> list[Call]:
        return []

    def pass_calls(self, p: int) -> list[Call]:
        return self._calls

    def close(self) -> None:
        self.duck.close()


WORKLOADS = {w.name: w for w in (Lake, OperatorCalls)}
FIXTURE_SCALES = {"lake": (0.1, 0.01), "operator_calls": (0.01,)}


def fixture_dirs(root: str, workload: str) -> dict[str, str]:
    return {
        f"{sf:g}": fixtures.ensure(root, sf) for sf in FIXTURE_SCALES[workload]
    }

