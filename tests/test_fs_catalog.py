"""FsCatalog (sources/fs_catalog.py): the reference's full SQL
statement surface against a filesystem warehouse of vendored Iceberg
v1 tables — CREATE/INSERT/SELECT/UPDATE/DELETE/MERGE/LIST/DESCRIBE/
SHOW SNAPSHOTS, plus the two reference bugs this layer deliberately
does NOT reproduce (in-literal table-name rewriting, hand-rolled
INSERT value parsing)."""

from __future__ import annotations

import pytest

from mcp_iceberg_duckdb_spark.sources import iceberg_fs as ice
from mcp_iceberg_duckdb_spark.sources.fs_catalog import (
    FsCatalog,
    _parse,
    _where,
    _where_filters,
)


def _where_of(spark, where: str):
    """The parsed condition of ``SELECT * FROM t WHERE <where>``."""
    return _where(_parse(spark, f"SELECT * FROM t WHERE {where}")[0])


@pytest.fixture()
def cat(tmp_path):
    return FsCatalog(str(tmp_path / "wh"))


@pytest.fixture()
def loaded(cat, spark):
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run("CREATE NAMESPACE sales")
    run(
        "CREATE TABLE sales.orders (k bigint, region string,"
        " amount double) PARTITIONED BY (region)"
    )
    run(
        "INSERT INTO sales.orders VALUES"
        " (1, 'eu', 10.0), (2, 'us', 20.0), (3, 'eu', 30.0)"
    )
    return cat, run


def test_catalog_verbs(loaded, spark):
    cat, run = loaded
    assert [r[0] for r in run("LIST NAMESPACES")] == ["sales"]
    assert [tuple(r) for r in run("LIST TABLES IN sales")] == [
        ("sales", "orders")
    ]
    desc = {r["col_name"]: (r["data_type"], r["comment"])
            for r in run("DESCRIBE TABLE sales.orders")}
    assert desc == {
        "k": ("long", ""),
        "region": ("string", "partition"),
        "amount": ("double", ""),
    }


def test_insert_values_and_select(loaded):
    cat, run = loaded
    got = sorted(
        tuple(r) for r in run("SELECT k, amount FROM sales.orders o").collect()
    )
    assert got == [(1, 10.0), (2, 20.0), (3, 30.0)]


def test_insert_select_and_join(loaded, spark):
    cat, run = loaded
    run("CREATE TABLE sales.big (k bigint, region string, amount double)")
    run(
        "INSERT INTO sales.big SELECT k + 10, region, amount * 2"
        " FROM sales.orders o"
    )
    j = run(
        "SELECT t.k AS tk, s.k AS sk FROM sales.orders t"
        " JOIN sales.big s ON t.k + 10 = s.k ORDER BY tk"
    ).collect()
    assert [(r["tk"], r["sk"]) for r in j] == [(1, 11), (2, 12), (3, 13)]


def test_no_in_literal_rewrite(loaded):
    """The reference rewrites table names even inside string literals
    (IcebergConnection.py:115). This layer must not."""
    cat, run = loaded
    row = run(
        "SELECT 'sales.orders' AS name, count(*) AS n FROM sales.orders o"
    ).collect()[0]
    assert row["name"] == "sales.orders" and row["n"] == 3


def test_insert_values_with_nested_commas(loaded):
    """Spark's own VALUES parser handles nested commas the
    reference's hand-rolled tuple splitter (QueryManager.py:94-140)
    cannot."""
    cat, run = loaded
    run(
        "INSERT INTO sales.orders VALUES"
        " (CAST(concat('4', '') AS BIGINT), concat('e', 'u'), 1.0 + 2.0)"
    )
    got = {r["k"]: r["amount"]
           for r in run("SELECT k, amount FROM sales.orders o").collect()}
    assert got[4] == 3.0


def test_update_where_is_pruned_cow(loaded, spark):
    cat, run = loaded
    loc = cat._resolve("sales.orders")[2]
    pre = set(ice.plan_files(loc)[0])
    res = run(
        "UPDATE sales.orders SET amount = amount + 100, k = k"
        " WHERE region = 'us' AND k <= 2"
    )[0]
    # partition-value pruning bounded the rewrite to the us file
    assert res["rewritten_files"] == "1"
    post = set(ice.plan_files(loc)[0])
    assert len(pre & post) == len(pre) - 1
    got = {r["k"]: r["amount"]
           for r in run("SELECT k, amount FROM sales.orders o").collect()}
    assert got == {1: 10.0, 2: 120.0, 3: 30.0}


def test_update_partition_column_rejected(loaded):
    cat, run = loaded
    with pytest.raises(ValueError, match="partition column"):
        run("UPDATE sales.orders SET region = 'xx' WHERE k = 1")


def test_update_unknown_set_target_rejected(loaded):
    """A SET target that is not a schema column must error, not
    silently no-op (withColumn would mint-then-drop it)."""
    cat, run = loaded
    with pytest.raises(ValueError, match="not a column"):
        run("UPDATE sales.orders SET nope = 1 WHERE k = 1")
    with pytest.raises(ValueError, match="PARSE_SYNTAX_ERROR"):
        run("UPDATE sales.orders SET amount + 1 = 2 WHERE k = 1")


def test_delete_where(loaded):
    cat, run = loaded
    run("DELETE FROM sales.orders WHERE amount >= 20.0 AND region = 'eu'")
    got = sorted(r["k"] for r in run("SELECT k FROM sales.orders o").collect())
    assert got == [1, 2]


def test_merge_upsert_sql(loaded):
    cat, run = loaded
    run("CREATE TABLE sales.inc (k bigint, region string, amount double)")
    run("INSERT INTO sales.inc VALUES (3, 'eu', 999.0), (9, 'ap', 9.0)")
    run(
        "MERGE INTO sales.orders t USING sales.inc s ON t.k = s.k"
        " WHEN MATCHED THEN UPDATE SET *"
        " WHEN NOT MATCHED THEN INSERT *"
    )
    got = {r["k"]: (r["amount"], r["region"])
           for r in run("SELECT * FROM sales.orders o").collect()}
    assert got[3] == (999.0, "eu") and got[9] == (9.0, "ap") and len(got) == 4


def test_merge_on_term_validation(loaded):
    cat, run = loaded
    run("CREATE TABLE sales.inc (k bigint, region string, amount double)")
    with pytest.raises(ValueError, match="ON term"):
        run(
            "MERGE INTO sales.orders t USING sales.inc s ON t.k = 5"
            " WHEN MATCHED THEN UPDATE SET *"
            " WHEN NOT MATCHED THEN INSERT *"
        )


def test_show_snapshots_history(loaded):
    cat, run = loaded
    run("DELETE FROM sales.orders WHERE k = 1")
    ops = [r["operation"]
           for r in run("SHOW SNAPSHOTS IN sales.orders")]
    assert ops == ["append", "overwrite"]


def test_create_drop_contracts(loaded):
    cat, run = loaded
    with pytest.raises(ValueError, match="already exists"):
        run("CREATE TABLE sales.orders (k bigint)")
    run("CREATE TABLE IF NOT EXISTS sales.orders (k bigint)")  # no-op
    with pytest.raises(ValueError, match="unsupported column type"):
        run("CREATE TABLE sales.bad (k uuid)")
    with pytest.raises(ValueError, match="not in schema"):
        run("CREATE TABLE sales.bad (k bigint) PARTITIONED BY (missing)")
    with pytest.raises(ValueError, match="not empty"):
        run("DROP NAMESPACE sales")
    run("DROP TABLE sales.orders")
    run("DROP NAMESPACE sales")
    assert len(run("LIST NAMESPACES")) == 0
    with pytest.raises(ValueError, match="does not exist"):
        run("DELETE FROM sales.orders")


def test_default_namespace_bare_names(cat, spark):
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run("CREATE TABLE t (k bigint)")
    run("INSERT INTO t VALUES (7)")
    assert run("SELECT k FROM t x").collect()[0][0] == 7
    assert run("LIST TABLES")[0]["namespace"] == "default"


def test_unsupported_statement_raises(cat, spark):
    with pytest.raises(ValueError, match="unsupported statement"):
        cat.execute(spark, "VACUUM ALL THE THINGS")
    with pytest.raises(ValueError, match="empty"):
        cat.execute(spark, "   ")


def test_simple_filter_extraction(spark):
    w = lambda s: _where_filters(_where_of(spark, s))  # noqa: E731
    assert w("a = 5 AND b < 'x''y'") == (
        ("a", "=", 5),
        ("b", "<", "x'y"),
    )
    assert w("a >= 1.5") == (("a", ">=", 1.5),)
    # anything non-conjunctive or non-literal degrades to no pruning
    assert w("a = 5 OR b = 6") == ()
    assert w("a = b") == ()
    assert w("f(a) = 5") == ()
    assert _where_filters(None) == ()


def test_server_routes_through_fs_warehouse(loaded, spark, monkeypatch):
    """SPARK_GRAFT_FS_WAREHOUSE routes the MCP tools through the
    Iceberg warehouse: query_table DML + query_catalog listing."""
    import json

    from mcp_iceberg_duckdb_spark import server

    cat, run = loaded
    monkeypatch.setenv("SPARK_GRAFT_FS_WAREHOUSE", cat.warehouse)
    res = server.query_table(
        spark, "SELECT count(*) AS n FROM sales.orders o"
    )
    assert not res.is_error
    assert json.loads(res.text.split("\n", 1)[1]) == [{"n": 3}]
    res = server.query_catalog(spark, "LIST TABLES IN sales")
    assert not res.is_error and "orders" in res.text
    res = server.query_table(spark, "DELETE FROM sales.orders WHERE k = 1")
    assert not res.is_error
    res = server.query_table(
        spark, "SELECT count(*) AS n FROM sales.orders o"
    )
    assert json.loads(res.text.split("\n", 1)[1]) == [{"n": 2}]


# ---- hypothesis fuzz for the pruning extractor ----

from hypothesis import given, strategies as st  # noqa: E402

_name = st.from_regex(r"[a-z][a-z0-9_]{0,8}", fullmatch=True)


@given(
    st.lists(
        st.tuples(
            _name,
            st.sampled_from(["=", "<", "<=", ">", ">="]),
            st.one_of(
                st.integers(-10**6, 10**6),
                st.floats(
                    allow_nan=False,
                    allow_infinity=False,
                    min_value=-1e6,
                    max_value=1e6,
                ).filter(lambda f: "e" not in repr(f) and "." in repr(f)),
                st.text(
                    alphabet=st.sampled_from(list("ab AND or()'")),
                    max_size=6,
                ),
            ),
        ),
        min_size=1,
        max_size=4,
    )
)
def test_simple_filters_roundtrip(spark, triples):
    """Rendering a conjunction of simple comparisons and re-parsing
    yields exactly the input triples — the pruning extraction can
    never misread a literal (which would mis-prune the rewrite
    set)."""
    rendered = " AND ".join(
        f"`{c}` {op} "
        + (f"'{v.replace(chr(39), chr(39) * 2)}'" if isinstance(v, str)
           else repr(v))
        for c, op, v in triples
    )
    got = _where_filters(_where_of(spark, rendered))
    assert got == tuple(
        (c, op, float(v) if isinstance(v, float) else v)
        for c, op, v in triples
    )


@given(st.text(max_size=40))
def test_simple_filters_never_raises(spark, s):
    """Arbitrary WHERE text either parses to triples (or ()) or is
    refused by the parse with a ValueError — the extractor itself
    never throws (pruning is best-effort)."""
    try:
        cond = _where_of(spark, s)
    except ValueError:
        return
    assert isinstance(_where_filters(cond), tuple)


def test_maintenance_statements(loaded, spark):
    """ALTER TABLE ADD COLUMN / OPTIMIZE SORT BY / EXPIRE SNAPSHOTS
    as SQL text — the maintenance surface a lake operator runs."""
    cat, run = loaded
    run("ALTER TABLE sales.orders ADD COLUMN tag bigint")
    assert "tag" in [r["col_name"]
                     for r in run("DESCRIBE TABLE sales.orders")]
    assert run(
        "SELECT count(*) AS n FROM sales.orders o WHERE tag IS NULL"
    ).collect()[0]["n"] == 3
    run("INSERT INTO sales.orders VALUES (10, 'eu', 1.0, 7)")
    res = run("OPTIMIZE sales.orders SORT BY k SLICES 2")[0]
    assert res["operation"] == "optimize" and int(res["new_files"]) >= 2
    res = run("EXPIRE SNAPSHOTS IN sales.orders KEEP 1")[0]
    assert int(res["removed_snapshots"]) >= 2
    got = sorted(r["k"] for r in run("SELECT k FROM sales.orders o").collect())
    assert got == [1, 2, 3, 10]
    with pytest.raises(ValueError, match="unsupported column type"):
        run("ALTER TABLE sales.orders ADD COLUMN bad uuid")


def test_version_as_of_time_travel(loaded, spark):
    cat, run = loaded
    snap1 = run("SHOW SNAPSHOTS IN sales.orders")[0]["snapshot_id"]
    run("DELETE FROM sales.orders WHERE k = 1")
    assert run("SELECT count(*) AS n FROM sales.orders o").collect()[0]["n"] == 2
    old = run(
        f"SELECT count(*) AS n FROM sales.orders VERSION AS OF {snap1} o"
    ).collect()[0]["n"]
    assert old == 3
    # both reads in one statement: current vs pinned
    row = run(
        f"SELECT (SELECT count(*) FROM sales.orders VERSION AS OF {snap1} a)"
        f" - (SELECT count(*) FROM sales.orders b) AS diff"
    ).collect()[0]
    assert row["diff"] == 1


def test_create_table_transform_partitions(cat, spark):
    """PARTITIONED BY (bucket(4, k), truncate(10, v)) SQL syntax maps
    to hidden transform partitions; readers never mention them."""
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run(
        "CREATE TABLE default.ev (k bigint, name string)"
        " PARTITIONED BY (bucket(4, k))"
    )
    run("INSERT INTO default.ev SELECT id, concat('u', id)"
        " FROM (SELECT explode(sequence(0, 99)) AS id)")
    desc = {r["col_name"]: r["comment"]
            for r in run("DESCRIBE TABLE default.ev")}
    assert desc == {"k": "", "name": ""}  # hidden: not a schema column
    assert run("SELECT count(*) AS n FROM default.ev e").collect()[0]["n"] == 100
    loc = cat._resolve("default.ev")[2]
    files, _ = ice.plan_files(loc)
    assert len({f.split("k_bucket=")[1].split("/")[0] for f in files}) == 4
    with pytest.raises(ValueError, match="not in schema"):
        run("CREATE TABLE default.bad (k bigint) PARTITIONED BY (bucket(4, z))")


def test_create_table_temporal_partition(cat, spark):
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run(
        "CREATE TABLE default.logs (k bigint, d date)"
        " PARTITIONED BY (month(d))"
    )
    run(
        "INSERT INTO default.logs SELECT id,"
        " date_add(to_date('2023-01-15'), CAST(id * 20 AS INT))"
        " FROM (SELECT explode(sequence(0, 9)) AS id)"
    )
    assert run("SELECT count(*) AS n FROM default.logs l").collect()[0]["n"] == 10
    loc = cat._resolve("default.logs")[2]
    files, _ = ice.plan_files(loc)
    assert len({f.split("d_month=")[1].split("/")[0] for f in files}) >= 6


# ---- round 11: ADVICE fixes + SELECT-path manifest pruning ----


def test_dml_date_literal_prunes_not_crashes(cat, spark):
    """Round-10 ADVICE item 1: a DELETE/UPDATE WHERE on a date column
    used to crash inside plan_files (int epoch-days vs str literal);
    typed extraction now converts ISO dates to epoch days and the
    statement both works AND prunes."""
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run("CREATE TABLE default.logs (k bigint, d date)"
        " PARTITIONED BY (month(d))")
    run("INSERT INTO default.logs SELECT id,"
        " date_add(to_date('2023-01-15'), CAST(id * 40 AS INT))"
        " FROM (SELECT explode(sequence(0, 9)) AS id)")
    res = run("DELETE FROM default.logs WHERE d = '2023-01-15'")[0]
    # pruning bounded the rewrite to the one month partition
    assert int(res["rewritten_files"]) == 1
    assert run("SELECT count(*) AS n FROM default.logs l").collect()[0]["n"] == 9


def test_type_mismatch_literals_never_prune(cat, spark, tmp_path):
    """Round-10 ADVICE item 1, degradation half: literals whose type
    cannot match the column (garbage date string, number on a string
    column) are dropped by typed extraction, and plan_files itself
    keeps files conservatively if a mis-typed filter reaches it —
    never a TypeError that kills the statement."""
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run("CREATE TABLE default.logs (k bigint, region string, d date)")
    run("INSERT INTO default.logs VALUES"
        " (1, 'eu', to_date('2023-01-15')), (2, 'us', to_date('2023-06-15'))")
    loc = cat._resolve("default.logs")[2]
    meta = ice.read_table_meta(loc)
    # typed extraction drops the mismatches, keeps the valid date
    w = lambda s: _where_filters(_where_of(spark, s), meta)  # noqa: E731
    assert w("d = 'not-a-date'") == ()
    assert w("region = 7") == ()
    assert w("k = 'abc'") == ()
    assert w("d = '2023-01-15'") == (
        ("d", "=", 19372),
    )
    # defense in depth: a mis-typed filter straight into plan_files
    # keeps every file instead of raising
    all_files, total = ice.plan_files(loc)
    kept, _ = ice.plan_files(loc, filters=(("d", "=", "1995-01-01"),))
    assert kept == all_files and total == len(all_files)


def test_merge_duplicate_source_keys_rejected(loaded, spark):
    """Round-10 ADVICE item 2: MERGE semantics require each target
    row to match at most one source row — duplicates raise instead of
    silently multiplying rows."""
    cat, run = loaded
    with pytest.raises(ValueError, match="cardinality"):
        run(
            "MERGE INTO sales.orders t USING"
            " (SELECT 1 AS k, 'eu' AS region, 5.0 AS amount"
            "  UNION ALL SELECT 1, 'eu', 6.0) s"
            " ON t.k = s.k"
            " WHEN MATCHED THEN UPDATE SET *"
            " WHEN NOT MATCHED THEN INSERT *"
        )


def test_bare_table_name_does_not_capture_alias(cat, spark):
    """Round-10 ADVICE item 3: a default-namespace table named like a
    query alias must not be substituted at the alias-definition
    position."""
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run("CREATE NAMESPACE sales")
    run("CREATE TABLE sales.orders (k bigint, amount double)")
    run("INSERT INTO sales.orders VALUES (1, 10.0), (2, 20.0)")
    run("CREATE TABLE default.t (k bigint)")  # the alias-colliding table
    run("INSERT INTO default.t VALUES (99)")
    got = sorted(
        r["kk"]
        for r in run(
            "SELECT t.k AS kk FROM sales.orders t WHERE t.amount > 5.0"
        ).collect()
    )
    assert got == [1, 2]  # alias survived; NOT the default.t row


def test_qualified_column_references_resolve(loaded, spark):
    """VERDICT r10 item 4: `SELECT ns.t.col FROM ns.t` works — the
    qualifier prefix is rewritten alongside the table name."""
    cat, run = loaded
    got = sorted(
        r["k"]
        for r in run(
            "SELECT sales.orders.k FROM sales.orders"
            " WHERE sales.orders.amount >= 20.0"
        ).collect()
    )
    assert got == [2, 3]


def test_bare_qualifier_rewritten_with_table(cat, spark):
    """`SELECT t.col FROM t` (bare name, self-qualified) resolves."""
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run("CREATE TABLE default.t (k bigint)")
    run("INSERT INTO default.t VALUES (7)")
    assert run("SELECT t.k FROM t").collect()[0][0] == 7


def test_update_set_literal_containing_where(cat, spark):
    """Round-10 ADVICE item 4: the word WHERE inside a SET string
    literal must not be taken as the WHERE clause."""
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run("CREATE TABLE default.notes (k bigint, note string)")
    run("INSERT INTO default.notes VALUES (1, 'a'), (2, 'b')")
    run("UPDATE default.notes SET note = 'x where y' WHERE k = 1")
    got = {r["k"]: r["note"] for r in
           run("SELECT k, note FROM default.notes n").collect()}
    assert got == {1: "x where y", 2: "b"}


def test_select_where_prunes_manifest_level(loaded, spark):
    """VERDICT r10 item 1: a partition predicate issued THROUGH
    FsCatalog.execute prunes at the manifest level — files planned
    drops below total candidates — while values stay exact."""
    cat, run = loaded
    got = run(
        "SELECT k, amount FROM sales.orders o WHERE region = 'eu'"
        " AND amount >= 5.0"
    )
    rows = sorted(tuple(r) for r in got.collect())
    assert rows == [(1, 10.0), (3, 30.0)]
    plan = cat.last_scan_plan["sales.orders"]
    assert plan["files_planned"] < plan["files_total"]
    assert ("region", "=", "eu") in [tuple(f) for f in plan["filters"]]


def test_select_or_predicate_does_not_prune(loaded, spark):
    """OR-connected predicates must degrade to all-files (pruning on
    one arm would drop the other arm's rows)."""
    cat, run = loaded
    rows = sorted(
        r["k"]
        for r in run(
            "SELECT k FROM sales.orders o"
            " WHERE region = 'eu' OR amount >= 20.0"
        ).collect()
    )
    assert rows == [1, 2, 3]
    plan = cat.last_scan_plan["sales.orders"]
    assert plan["filters"] == []
    assert plan["files_planned"] == plan["files_total"]


def test_select_union_branches_never_pruned(loaded, spark):
    """A set-op statement shares one view across branches with
    different predicates — pruning is skipped entirely."""
    cat, run = loaded
    rows = sorted(
        r["k"]
        for r in run(
            "SELECT k FROM sales.orders o WHERE region = 'eu'"
            " UNION ALL SELECT k FROM sales.orders p"
        ).collect()
    )
    assert rows == [1, 1, 2, 3, 3]
    plan = cat.last_scan_plan["sales.orders"]
    assert plan["files_planned"] == plan["files_total"]


def test_sql_merge_on_read_delete_property(loaded, spark):
    """ALTER TABLE SET TBLPROPERTIES('write.delete.mode'=
    'merge-on-read') routes SQL DELETE through position deletes —
    zero data files rewritten, rows masked at read, time travel
    intact."""
    cat, run = loaded
    loc = cat._resolve("sales.orders")[2]
    run("ALTER TABLE sales.orders SET TBLPROPERTIES"
        "('write.delete.mode'='merge-on-read')")
    pre_files = set(ice.plan_files(loc)[0])
    snap_pre = ice.read_table_meta(loc)["current-snapshot-id"]
    res = run(
        "DELETE FROM sales.orders WHERE region = 'eu' AND amount >= 20.0"
    )[0]
    assert res["rewritten_files"] == "0" and res["deleted_rows"] == "1"
    assert set(ice.plan_files(loc)[0]) == pre_files  # no rewrite
    got = sorted(r["k"] for r in run("SELECT k FROM sales.orders o").collect())
    assert got == [1, 2]
    n = run(
        f"SELECT count(*) AS n FROM sales.orders VERSION AS OF {snap_pre} o"
    ).collect()[0]["n"]
    assert n == 3


def test_sql_merge_on_read_update_property(loaded, spark):
    """write.update.mode=merge-on-read routes SQL UPDATE through the
    position-delete + append path: zero rewritten files, partition-
    column SETs become legal (the appended row re-routes), values
    exact, time travel intact."""
    cat, run = loaded
    loc = cat._resolve("sales.orders")[2]
    # CoW default still rejects partition SETs
    import pytest as _pytest

    with _pytest.raises(ValueError, match="partition column"):
        run("UPDATE sales.orders SET region = 'ap' WHERE k = 1")
    run("ALTER TABLE sales.orders SET TBLPROPERTIES"
        "('write.update.mode'='merge-on-read')")
    pre_files = set(ice.plan_files(loc)[0])
    res = run(
        "UPDATE sales.orders SET region = 'ap', amount = amount + 1.0"
        " WHERE k = 1"
    )[0]
    assert res["rewritten_files"] == "0" and res["updated_rows"] == "1"
    assert pre_files <= set(ice.plan_files(loc)[0])  # nothing rewritten
    got = {r["k"]: (r["region"], r["amount"])
           for r in run("SELECT * FROM sales.orders o").collect()}
    assert got == {1: ("ap", 11.0), 2: ("us", 20.0), 3: ("eu", 30.0)}


def test_sql_merge_on_read_merge_and_show_tblproperties(loaded, spark):
    """write.merge.mode=merge-on-read routes SQL MERGE through
    position deletes + appends; SHOW TBLPROPERTIES surfaces the
    properties."""
    cat, run = loaded
    loc = cat._resolve("sales.orders")[2]
    run("ALTER TABLE sales.orders SET TBLPROPERTIES"
        "('write.merge.mode'='merge-on-read')")
    props = {r["key"]: r["value"]
             for r in run("SHOW TBLPROPERTIES sales.orders")}
    assert props["write.merge.mode"] == "merge-on-read"
    assert props["write.format.default"] == "parquet"
    pre_files = set(ice.plan_files(loc)[0])
    res = run(
        "MERGE INTO sales.orders t USING"
        " (SELECT 1 AS k, 'eu' AS region, 99.0 AS amount"
        "  UNION ALL SELECT 9, 'ap', 9.0) s"
        " ON t.k = s.k"
        " WHEN MATCHED THEN UPDATE SET *"
        " WHEN NOT MATCHED THEN INSERT *"
    )[0]
    assert res["rewritten_files"] == "0"
    assert pre_files <= set(ice.plan_files(loc)[0])
    got = {r["k"]: r["amount"]
           for r in run("SELECT k, amount FROM sales.orders o").collect()}
    assert got == {1: 99.0, 2: 20.0, 3: 30.0, 9: 9.0}


def test_cte_shadows_same_named_table(cat, spark):
    """A CTE named like a default-namespace table shadows it — the
    rewrite must leave both the WITH definition and its FROM
    references alone (substituting only the FROM would silently read
    the table)."""
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run("CREATE TABLE default.t (k bigint)")
    run("INSERT INTO default.t VALUES (111)")
    got = run("WITH t AS (SELECT 5 AS k) SELECT k FROM t").collect()
    assert [r["k"] for r in got] == [5]
    # and the table is still reachable when no CTE shadows it
    assert run("SELECT k FROM t").collect()[0]["k"] == 111


def test_select_prune_skips_ambiguous_shared_columns(cat, spark):
    """A WHERE column present in BOTH joined tables' schemas must not
    prune either (Spark rejects the ambiguous reference anyway — the
    safety property the per-table uniqueness check encodes)."""
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run("CREATE TABLE default.a (k bigint, v double)")
    run("CREATE TABLE default.b (k bigint, w double)")
    run("INSERT INTO default.a VALUES (1, 1.0), (2, 2.0)")
    run("INSERT INTO default.b VALUES (1, 10.0), (3, 30.0)")
    import pyspark.errors

    with pytest.raises(pyspark.errors.AnalysisException):
        run(
            "SELECT v FROM default.a JOIN default.b"
            " ON default.a.k = default.b.k WHERE k = 1"
        ).collect()
    # neither view was pruned while registering
    for key in ("default.a", "default.b"):
        plan = cat.last_scan_plan[key]
        assert plan["filters"] == []
        assert plan["files_planned"] == plan["files_total"]
    # unambiguous columns still prune independently
    rows = run(
        "SELECT v, w FROM default.a JOIN default.b"
        " ON default.a.k = default.b.k WHERE v = 1.0 AND w = 10.0"
    ).collect()
    assert [(r["v"], r["w"]) for r in rows] == [(1.0, 10.0)]
    assert cat.last_scan_plan["default.a"]["filters"] == [("v", "=", 1.0)]
    assert cat.last_scan_plan["default.b"]["filters"] == [("w", "=", 10.0)]


def test_select_prune_skipped_for_self_join(cat, spark):
    """ADVICE r12 (high): a table referenced TWICE (self-join)
    registers one shared temp view, so a per-alias qualified filter
    would row-filter BOTH references. The multi-reference guard must
    skip pruning that table entirely."""
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run("CREATE TABLE default.t (k bigint, r string)")
    run("INSERT INTO default.t VALUES (1, 'eu'), (2, 'us')")
    rows = run(
        "SELECT a.k AS ak, b.k AS bk FROM default.t a"
        " JOIN default.t b ON b.k = a.k + 1 WHERE a.r = 'eu'"
    ).collect()
    # pre-fix this returned [] — alias b's view lost the 'us' row
    assert [(r["ak"], r["bk"]) for r in rows] == [(1, 2)]
    plan = cat.last_scan_plan["default.t"]
    assert plan["filters"] == []
    assert plan["files_planned"] == plan["files_total"]
    # bare + qualified mixed references count too
    rows = run(
        "SELECT a.k AS ak, t.k AS bk FROM default.t a"
        " JOIN t ON t.k = a.k + 1 WHERE a.r = 'eu'"
    ).collect()
    assert [(r["ak"], r["bk"]) for r in rows] == [(1, 2)]
    assert cat.last_scan_plan["default.t"]["filters"] == []
    # a single reference still prunes
    rows = run("SELECT k FROM default.t WHERE r = 'eu'").collect()
    assert [r["k"] for r in rows] == [1]
    assert cat.last_scan_plan["default.t"]["filters"] == [
        ("r", "=", "eu")
    ]


def test_select_prune_skipped_for_cte_window(loaded, spark):
    """ADVICE r11 item 1 (high): a WHERE outside a CTE that computes
    a window does NOT commute to the base scan — pruning the manifest
    on it would renumber rows. The single-block guard must skip
    pruning entirely and the window result must reflect ALL rows."""
    cat, run = loaded
    row = run(
        "WITH r AS (SELECT k, row_number() OVER (ORDER BY amount DESC)"
        " AS rn FROM sales.orders) SELECT rn FROM r WHERE k = 1"
    ).collect()
    # amounts 10/20/30 -> k=1 is the SMALLEST -> rn = 3 over the full
    # table; pruning k=1 to the eu file would have yielded rn = 2
    assert [r["rn"] for r in row] == [3]
    plan = cat.last_scan_plan["sales.orders"]
    assert plan["filters"] == []
    assert plan["files_planned"] == plan["files_total"]


def test_select_prune_skipped_for_scalar_subquery(loaded, spark):
    """A scalar subquery over the same table reads rows the outer
    WHERE excludes — pruning the shared base view would change its
    answer. Guard: any nested (SELECT ...) skips pruning."""
    cat, run = loaded
    row = run(
        "SELECT (SELECT max(amount) FROM sales.orders) AS mx, k"
        " FROM sales.orders o WHERE region = 'us'"
    ).collect()
    assert [(r["mx"], r["k"]) for r in row] == [(30.0, 2)]
    plan = cat.last_scan_plan["sales.orders"]
    assert plan["files_planned"] == plan["files_total"]


def test_select_plain_window_skips_pruning_conservatively(loaded, spark):
    """Even a same-block window (where WHERE does precede the window
    per SQL semantics) conservatively skips pruning — the guard is
    shape-based, and correctness is preserved either way."""
    cat, run = loaded
    rows = run(
        "SELECT k, sum(amount) OVER (ORDER BY k) AS s"
        " FROM sales.orders o WHERE region = 'eu'"
    ).collect()
    assert sorted((r["k"], r["s"]) for r in rows) == [(1, 10.0), (3, 40.0)]
    plan = cat.last_scan_plan["sales.orders"]
    assert plan["files_planned"] == plan["files_total"]


def test_select_qualified_predicate_prunes(loaded, spark):
    """VERDICT r11 item 8: ``alias.col = literal`` prunes the table
    the alias resolves to — the most common real-world SELECT shape."""
    cat, run = loaded
    rows = run(
        "SELECT k, amount FROM sales.orders o WHERE o.region = 'eu'"
    ).collect()
    assert sorted((r["k"], r["amount"]) for r in rows) == [
        (1, 10.0), (3, 30.0)
    ]
    plan = cat.last_scan_plan["sales.orders"]
    assert plan["files_planned"] < plan["files_total"]
    assert ("region", "=", "eu") in [tuple(f) for f in plan["filters"]]


def test_select_qualified_predicate_disambiguates_shared_column(cat, spark):
    """A column in BOTH tables never prunes unqualified; qualifying
    it resolves the owner, so it prunes exactly that table."""
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run("CREATE TABLE default.a (k bigint, v double)")
    run("CREATE TABLE default.b (k bigint, w double)")
    run("INSERT INTO default.a VALUES (1, 1.0), (2, 2.0)")
    run("INSERT INTO default.b VALUES (1, 10.0), (3, 30.0)")
    rows = run(
        "SELECT x.v, y.w FROM default.a x JOIN default.b y"
        " ON x.k = y.k WHERE x.k = 1"
    ).collect()
    assert [(r["v"], r["w"]) for r in rows] == [(1.0, 10.0)]
    assert cat.last_scan_plan["default.a"]["filters"] == [("k", "=", 1)]
    assert cat.last_scan_plan["default.b"]["filters"] == []


def test_select_unresolvable_qualifier_never_prunes(loaded, spark):
    """A qualifier that maps to no used warehouse table drops that
    conjunct — widening, never guessing (Spark then rejects the
    unresolved reference itself); resolvable range qualifiers prune."""
    cat, run = loaded
    import pyspark.errors

    with pytest.raises(pyspark.errors.AnalysisException):
        run("SELECT k FROM sales.orders o WHERE zz.region = 'eu'").collect()
    plan = cat.last_scan_plan["sales.orders"]
    assert plan["filters"] == []
    assert plan["files_planned"] == plan["files_total"]
    rows = run(
        "SELECT o.k FROM sales.orders o WHERE o.k >= 1 AND o.k <= 3"
    ).collect()
    assert sorted(r["k"] for r in rows) == [1, 2, 3]
    plan = cat.last_scan_plan["sales.orders"]
    assert [tuple(f) for f in plan["filters"]] == [
        ("k", ">=", 1), ("k", "<=", 3)
    ]


def test_comma_cross_join_bare_names(cat, spark):
    """ADVICE r11 item 4: bare default-namespace names in a comma
    cross-join list resolve again (normalized to explicit CROSS
    JOIN), with and without aliases."""
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run("CREATE TABLE default.t1 (k bigint, v double)")
    run("CREATE TABLE default.t2 (j bigint, w double)")
    run("INSERT INTO default.t1 VALUES (1, 1.0), (2, 2.0)")
    run("INSERT INTO default.t2 VALUES (10, 10.0), (20, 20.0), (30, 3.0)")
    assert run("SELECT * FROM t1, t2").count() == 6
    rows = run(
        "SELECT a.k, b.j FROM t1 a, t2 b WHERE a.k = 1 AND b.j = 10"
    ).collect()
    assert [(r["k"], r["j"]) for r in rows] == [(1, 10)]
    # three-way list, mixed qualified/bare
    assert run("SELECT * FROM default.t1, t2, t1 z").count() == 12
    # commas inside function args / SELECT lists are untouched
    row = run(
        "SELECT concat(v, ',', w) AS c FROM t1, t2"
        " WHERE t1.k = 1 AND t2.j = 10"
    ).collect()
    assert [r["c"] for r in row] == ["1.0,10.0"]


def test_merge_incompatible_source_type_raises(cat, spark):
    """ADVICE r11 item 2 (medium): a MERGE source value that cannot
    cast to the table's column type fails LOUDLY instead of merging
    NULL corruption (ANSI semantics)."""
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run("CREATE TABLE default.m (k bigint, v int)")
    run("INSERT INTO default.m VALUES (1, 100)")
    with pytest.raises(ValueError, match="cannot be cast"):
        run(
            "MERGE INTO default.m t USING"
            " (SELECT 1 AS k, 'abc' AS v) s ON t.k = s.k"
            " WHEN MATCHED THEN UPDATE SET *"
            " WHEN NOT MATCHED THEN INSERT *"
        )
    got = [tuple(r) for r in run("SELECT k, v FROM default.m").collect()]
    assert got == [(1, 100)]  # table unchanged
    # castable values still merge fine (int literal into int column)
    run(
        "MERGE INTO default.m t USING (SELECT 1 AS k, '200' AS v) s"
        " ON t.k = s.k WHEN MATCHED THEN UPDATE SET *"
        " WHEN NOT MATCHED THEN INSERT *"
    )
    got = [tuple(r) for r in run("SELECT k, v FROM default.m").collect()]
    assert got == [(1, 200)]


def test_insert_incompatible_type_raises(cat, spark):
    """INSERT under the same ANSI rule: un-castable values raise, the
    table stays unchanged; NULLs and castable strings still insert."""
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run("CREATE TABLE default.i (k bigint, v int)")
    with pytest.raises(ValueError, match="cannot be cast"):
        run("INSERT INTO default.i VALUES (1, 'oops')")
    assert run("SELECT * FROM default.i").count() == 0
    run("INSERT INTO default.i VALUES (1, '42'), (2, NULL)")
    got = {r["k"]: r["v"] for r in run("SELECT * FROM default.i").collect()}
    assert got == {1: 42, 2: None}


def test_sql_rewrite_deletes(loaded, spark):
    """REWRITE DELETES IN t compacts accumulated position-delete
    files through the SQL surface without touching data files."""
    cat, run = loaded
    run(
        "ALTER TABLE sales.orders SET TBLPROPERTIES"
        " ('write.delete.mode' = 'merge-on-read')"
    )
    run("DELETE FROM sales.orders WHERE k = 1")
    run("DELETE FROM sales.orders WHERE k = 2")
    _, _, loc, _ = cat._resolve("sales.orders")
    assert len(ice.plan_delete_files(loc)) >= 2
    row = run("REWRITE DELETES IN sales.orders")[0]
    assert row["operation"] == "rewrite_position_deletes"
    assert int(row["rewritten_delete_files"]) >= 2
    assert len(ice.plan_delete_files(loc)) == 1
    got = sorted(r["k"] for r in run("SELECT k FROM sales.orders o").collect())
    assert got == [3]


def test_sql_select_surfaces_delete_scoping_stats(loaded, spark):
    """A SELECT through FsCatalog over a MoR table surfaces the
    delete-file scoping decision in last_scan_plan: a partition-
    pruned statement plans fewer delete files than the table holds
    (VERDICT r11 item 1, through the SQL surface)."""
    cat, run = loaded
    run(
        "ALTER TABLE sales.orders SET TBLPROPERTIES"
        " ('write.delete.mode' = 'merge-on-read')"
    )
    run("DELETE FROM sales.orders WHERE region = 'eu' AND k = 1")
    run("DELETE FROM sales.orders WHERE region = 'us' AND k = 2")
    got = sorted(
        r["k"]
        for r in run(
            "SELECT k FROM sales.orders o WHERE region = 'eu'"
        ).collect()
    )
    assert got == [3]
    plan = cat.last_scan_plan["sales.orders"]
    assert plan["files_planned"] < plan["files_total"]
    assert plan["delete_files_total"] >= 2
    assert plan["delete_files_planned"] < plan["delete_files_total"]


def test_select_date_predicate_works_and_prunes(cat, spark):
    """A SELECT with a date predicate used to CRASH: the typed
    extraction converts the literal to epoch days for manifest
    pruning, and read_iceberg re-applied that INT as the residual
    row filter against the DATE column (DATATYPE_MISMATCH). The
    residual must convert back to a date literal — including
    pre-epoch (negative) days — while pruning still happens."""
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run("CREATE TABLE default.t (k bigint, d date) PARTITIONED BY (d)")
    run(
        "INSERT INTO default.t VALUES (1, DATE'2023-01-15'),"
        " (2, DATE'2024-06-01'), (3, DATE'1969-12-30')"
    )
    for val, want in (("2023-01-15", [1]), ("1969-12-30", [3])):
        got = sorted(
            r["k"]
            for r in run(
                f"SELECT k FROM default.t WHERE d = '{val}'"
            ).collect()
        )
        assert got == want
        plan = cat.last_scan_plan["default.t"]
        assert plan["files_planned"] < plan["files_total"]
    got = sorted(
        r["k"]
        for r in run(
            "SELECT k FROM default.t WHERE d >= '2023-01-01'"
        ).collect()
    )
    assert got == [1, 2]
    # API-level DML with epoch-day filters on the date column works
    # in both modes (the same residual conversion)
    import datetime as _dt

    loc = cat._resolve("default.t")[2]
    epoch = (_dt.date(2024, 6, 1) - _dt.date(1970, 1, 1)).days
    ice.delete_where(spark, loc, [("d", "=", epoch)], mode="mor")
    ice.delete_where(spark, loc, [("d", "<", 0)], mode="cow")
    got = sorted(
        r["k"] for r in run("SELECT k FROM default.t").collect()
    )
    assert got == [1]

def test_alter_partition_field_sql(cat, spark):
    """ALTER TABLE ... ADD/DROP PARTITION FIELD through the SQL
    surface: evolve an unpartitioned table to identity partitioning,
    append across both layouts, prune on the new field, drop it."""
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run("CREATE TABLE default.ev (k bigint, r string)")
    run("INSERT INTO default.ev VALUES (1, 'eu'), (2, 'us')")
    res = run("ALTER TABLE default.ev ADD PARTITION FIELD r")[0]
    assert res["operation"] == "add_partition_field"
    assert res["field"] == "r" and res["spec_id"] == "1"
    run("INSERT INTO default.ev VALUES (3, 'eu'), (4, 'us')")
    rows = run("SELECT k FROM default.ev WHERE r = 'eu'").collect()
    assert sorted(r["k"] for r in rows) == [1, 3]
    plan = cat.last_scan_plan["default.ev"]
    # the post-evolution us-file pruned; both pre-evolution files and
    # the eu file planned
    assert plan["files_planned"] < plan["files_total"]
    res = run("ALTER TABLE default.ev DROP PARTITION FIELD r")[0]
    assert res["operation"] == "drop_partition_field"
    run("INSERT INTO default.ev VALUES (5, 'eu')")
    rows = run("SELECT k FROM default.ev WHERE r = 'eu'").collect()
    assert sorted(r["k"] for r in rows) == [1, 3, 5]


def test_alter_partition_field_transforms_sql(cat, spark):
    """Transform syntax through SQL: day(d) and bucket(8, k)."""
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run("CREATE TABLE default.evt (k bigint, d date)")
    run(
        "INSERT INTO default.evt VALUES (1, DATE '2023-01-01'),"
        " (2, DATE '2023-01-02')"
    )
    res = run(
        "ALTER TABLE default.evt ADD PARTITION FIELD day(d)"
    )[0]
    assert res["field"] == "d_day"
    res = run(
        "ALTER TABLE default.evt ADD PARTITION FIELD bucket(8, k)"
    )[0]
    assert res["field"] == "k_bucket" and res["spec_id"] == "2"
    run(
        "INSERT INTO default.evt VALUES (3, DATE '2023-01-03'),"
        " (4, DATE '2023-01-01')"
    )
    rows = run(
        "SELECT k FROM default.evt WHERE d = DATE '2023-01-01'"
    ).collect()
    assert sorted(r["k"] for r in rows) == [1, 4]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="needs a width"):
        run("ALTER TABLE default.evt ADD PARTITION FIELD bucket(d)")

def test_sql_convert_deletes(loaded, spark):
    """CONVERT DELETES IN t rewrites equality deletes as position
    deletes through the SQL surface: data files untouched, values
    identical, eq-delete anti-join chain gone."""
    cat, run = loaded
    _, _, loc, _ = cat._resolve("sales.orders")
    ice.mor_delete_keys(
        spark, loc, ["k"],
        spark.createDataFrame([(1,)], "k bigint"),
    )
    assert len(ice.plan_equality_deletes(loc)) == 1
    pre_files = sorted(ice.plan_files(loc)[0])
    row = run("CONVERT DELETES IN sales.orders")[0]
    assert row["operation"] == "convert_equality_deletes"
    assert row["converted_equality_delete_files"] == "1"
    assert ice.plan_equality_deletes(loc) == []
    assert sorted(ice.plan_files(loc)[0]) == pre_files
    got = sorted(r["k"] for r in run("SELECT k FROM sales.orders o").collect())
    assert got == [2, 3]
    # idempotent no-op when nothing to convert
    row = run("CONVERT DELETES IN sales.orders")[0]
    assert row["converted_equality_delete_files"] == "0"

def test_sql_snapshot_refs(loaded, spark):
    """CREATE TAG / VERSION AS OF 'tag' / SHOW REFS / DROP TAG
    through the SQL surface — the audit/WAP workflow."""
    cat, run = loaded
    res = run("ALTER TABLE sales.orders CREATE TAG audited")[0]
    assert res["operation"] == "create_tag" and res["name"] == "audited"
    run("INSERT INTO sales.orders VALUES (9, 'ap', 90.0)")
    old = run(
        "SELECT count(*) AS n FROM sales.orders VERSION AS OF 'audited'"
    ).collect()[0]["n"]
    new = run("SELECT count(*) AS n FROM sales.orders o").collect()[0]["n"]
    assert (old, new) == (3, 4)
    # a ref name containing the word AND must not break literal-aware
    # parsing anywhere
    refs = {(r["name"], r["type"])
            for r in run("SHOW REFS IN sales.orders")}
    assert refs == {("audited", "tag")}
    run("ALTER TABLE sales.orders CREATE BRANCH wip")
    assert len(run("SHOW REFS IN sales.orders")) == 2
    run("ALTER TABLE sales.orders DROP TAG audited")
    run("ALTER TABLE sales.orders DROP BRANCH wip")
    assert len(run("SHOW REFS IN sales.orders")) == 0

def test_identifier_case_and_quoting(cat, spark):
    """Hostile-probe r13: unquoted SQL identifiers are
    case-insensitive and may be backtick-quoted — a table created as
    T1 must resolve from default.t1, DEFAULT.T1, and
    `default`.`T1`; a quoted column name must not store its
    backticks; a MIXED-CASE self-join still counts as two references
    of one table (no pruning)."""
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run("CREATE TABLE default.T1 (k bigint, V string)")
    run("INSERT INTO default.T1 VALUES (1, 'a')")
    for q in (
        "SELECT k FROM default.T1",
        "SELECT K FROM default.t1",
        "select k from DEFAULT.T1",
        "SELECT k FROM `default`.`T1`",
        "SELECT `k` FROM t1",
    ):
        assert [tuple(r) for r in run(q).collect()] == [(1,)], q
    assert [r["col_name"] for r in
            run("DESCRIBE TABLE default.t1")] == ["k", "V"]
    run("INSERT INTO DEFAULT.t1 VALUES (2, 'b')")
    assert run("SELECT count(*) AS n FROM t1").collect()[0]["n"] == 2
    # quoted column name stores WITHOUT backticks
    run("CREATE TABLE default.t2 (`order` bigint)")
    run("INSERT INTO default.t2 VALUES (5)")
    assert run("SELECT `order` FROM default.t2").collect()[0][0] == 5
    # mixed-case self-join: two references of ONE table -> no pruning
    run("CREATE TABLE default.sj (k bigint, r string)")
    run("INSERT INTO default.sj VALUES (1, 'eu'), (2, 'us')")
    rows = run(
        "SELECT a.k AS ak, b.k AS bk FROM default.sj a"
        " JOIN default.SJ b ON b.k = a.k + 1 WHERE a.r = 'eu'"
    ).collect()
    assert sorted((r["ak"], r["bk"]) for r in rows) == [(1, 2)]
    assert cat.last_scan_plan["default.sj"]["filters"] == []

def test_sql_timestamp_columns(cat, spark):
    """Hostile-probe r13: TIMESTAMP through the SQL surface — DDL
    spelling, day(ts) hidden partitioning with pruning, DML with
    timestamp predicates, eq-delete keyed on a timestamp."""
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run(
        "CREATE TABLE default.ev (k bigint, ts timestamp)"
        " PARTITIONED BY (day(ts))"
    )
    run(
        "INSERT INTO default.ev VALUES"
        " (1, TIMESTAMP '2023-01-01 10:00:00'),"
        " (2, TIMESTAMP '2023-01-02 11:30:00'),"
        " (3, TIMESTAMP '2023-01-02 23:59:59')"
    )
    rows = run(
        "SELECT k FROM default.ev WHERE ts >= '2023-01-02 00:00:00'"
    ).collect()
    assert sorted(r["k"] for r in rows) == [2, 3]
    plan = cat.last_scan_plan["default.ev"]
    assert plan["files_planned"] < plan["files_total"]
    assert plan["filters"] == [("ts", ">=", 1672617600000000)]
    run("DELETE FROM default.ev WHERE ts < '2023-01-02 00:00:00'")
    run(
        "UPDATE default.ev SET k = k + 10"
        " WHERE ts >= '2023-01-02 12:00:00'"
    )
    rows = run("SELECT k FROM default.ev e").collect()
    assert sorted(r["k"] for r in rows) == [2, 13]
    # ALTER ADD COLUMN with the timestamp spelling
    run("ALTER TABLE default.ev ADD COLUMN seen timestamp")
    assert run(
        "SELECT count(*) AS n FROM default.ev e WHERE seen IS NULL"
    ).collect()[0]["n"] == 2

def test_version_as_of_ref_edges(cat, spark):
    """Quoted-ref time travel edges: alias after the ref, a join of
    head vs tag, and a string literal containing the words VERSION AS
    OF must never trigger the rewrite."""
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run("CREATE TABLE default.t (k bigint, r string)")
    run("INSERT INTO default.t VALUES (1, 'eu')")
    run("ALTER TABLE default.t CREATE TAG snap1")
    run("INSERT INTO default.t VALUES (2, 'us')")
    rows = run(
        "SELECT a.k FROM default.t VERSION AS OF 'snap1' a"
        " WHERE a.r = 'eu'"
    ).collect()
    assert sorted(r["k"] for r in rows) == [1]
    rows = run(
        "SELECT h.k AS hk, o.k AS ok FROM default.t h"
        " JOIN default.t VERSION AS OF 'snap1' o ON o.k = h.k"
    ).collect()
    assert sorted((r["hk"], r["ok"]) for r in rows) == [(1, 1)]
    row = run(
        "SELECT 'x VERSION AS OF y' AS s, count(*) AS n FROM default.t z"
    ).collect()[0]
    assert (row["s"], row["n"]) == ("x VERSION AS OF y", 2)

def test_insert_column_list(cat, spark):
    """Hostile-probe r13: column-list INSERT — values route into the
    NAMED columns (any order), omitted columns become NULL, unknown
    or duplicate columns error."""
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run("CREATE TABLE default.t (k bigint, r string, v double)")
    run("INSERT INTO default.t (k, v) VALUES (1, 1.5)")
    run("INSERT INTO default.t (v, k) VALUES (2.5, 2)")
    run("INSERT INTO default.t (k, r, v) SELECT 3, 'eu', 3.5")
    rows = sorted(
        ((r["k"], r["r"], r["v"]) for r in
         run("SELECT * FROM default.t x").collect()),
        key=str,
    )
    assert rows == [(1, None, 1.5), (2, None, 2.5), (3, "eu", 3.5)]
    with pytest.raises(ValueError, match="not in schema"):
        run("INSERT INTO default.t (nope) VALUES (1)")
    with pytest.raises(ValueError, match="duplicate"):
        run("INSERT INTO default.t (k, k) VALUES (1, 2)")
    with pytest.raises(ValueError, match="expected 2 columns"):
        run("INSERT INTO default.t (k, v) VALUES (1, 2, 3)")

def test_ctas_truncate_insert_overwrite(cat, spark):
    """Hostile-probe r13: CTAS, TRUNCATE TABLE, and INSERT OVERWRITE
    through the SQL surface — all as proper snapshots (time travel to
    the pre-overwrite state intact)."""
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run("CREATE TABLE default.src (k bigint, r string)")
    run("INSERT INTO default.src VALUES (1, 'eu'), (2, 'us')")
    res = run(
        "CREATE TABLE default.ctas PARTITIONED BY (r) AS"
        " SELECT k, r FROM default.src WHERE r = 'eu'"
    )[0]
    assert res["operation"] == "create_table_as_select"
    assert [tuple(r) for r in
            run("SELECT k, r FROM default.ctas c").collect()] == [(1, "eu")]
    desc = {r["col_name"]: r["comment"]
            for r in run("DESCRIBE TABLE default.ctas")}
    assert desc["r"] == "partition"
    with pytest.raises(ValueError, match="already exists"):
        run("CREATE TABLE default.ctas AS SELECT 1 AS x")
    # INSERT OVERWRITE replaces contents in one snapshot
    snaps = run("SHOW SNAPSHOTS IN default.src")
    pre = snaps[-1]["snapshot_id"]
    run("INSERT OVERWRITE default.src VALUES (9, 'ap')")
    assert [tuple(r) for r in
            run("SELECT * FROM default.src s").collect()] == [(9, "ap")]
    old = run(
        f"SELECT count(*) AS n FROM default.src VERSION AS OF {pre}"
    ).collect()[0]["n"]
    assert old == 2
    # column-list overwrite fills omitted columns with NULL
    run("INSERT OVERWRITE default.src (k) VALUES (7)")
    assert [tuple(r) for r in
            run("SELECT * FROM default.src s").collect()] == [(7, None)]
    # TRUNCATE empties; history intact
    res = run("TRUNCATE TABLE default.src")[0]
    assert res["operation"] == "truncate"
    assert run("SELECT count(*) AS n FROM default.src s").collect()[0]["n"] == 0

def test_dml_subquery_predicates(cat, spark):
    """Hostile-probe r13: DELETE/UPDATE with IN-subquery predicates
    referencing OTHER warehouse tables — the predicate fragment goes
    through the same view-registration rewrite as SELECT."""
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run("CREATE TABLE default.t (k bigint, r string)")
    run("INSERT INTO default.t VALUES (1, 'eu'), (2, 'us'), (3, 'ap')")
    run("CREATE TABLE default.bad (k bigint)")
    run("INSERT INTO default.bad VALUES (2)")
    run("DELETE FROM default.t WHERE k IN (SELECT k FROM default.bad)")
    assert sorted(
        tuple(r) for r in run("SELECT * FROM default.t x").collect()
    ) == [(1, "eu"), (3, "ap")]
    run("INSERT INTO default.bad VALUES (3)")
    run("UPDATE default.t SET r = 'xx'"
        " WHERE k IN (SELECT k FROM default.bad)")
    assert sorted(
        tuple(r) for r in run("SELECT * FROM default.t x").collect()
    ) == [(1, "eu"), (3, "xx")]

def test_comma_self_join_never_prunes(cat, spark):
    """Review r13 (high): a COMMA-form self-join must count as two
    references of one table — pruning the shared view would drop the
    other reference's rows, the same bug class as the explicit-JOIN
    self-join fix."""
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run("CREATE TABLE default.t (k bigint, r string)")
    run("INSERT INTO default.t VALUES (1, 'eu'), (2, 'us')")
    rows = run(
        "SELECT a.k AS ak, b.k AS bk FROM default.t a, default.t b"
        " WHERE a.r = 'eu' AND b.k = a.k + 1"
    ).collect()
    assert sorted((r["ak"], r["bk"]) for r in rows) == [(1, 2)]
    assert cat.last_scan_plan["default.t"]["filters"] == []


def test_timestamp_literal_exact_micros(cat, spark):
    """Review r13 (high): microsecond boundary equality — float
    total_seconds() conversion truncated ~1.25% of values one micro
    low, mis-pruning boundary filters."""
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run("CREATE TABLE default.tt (k bigint, ts timestamp)")
    run(
        "INSERT INTO default.tt VALUES"
        " (1, TIMESTAMP '2038-02-27 21:18:46.981929')"
    )
    rows = run(
        "SELECT k FROM default.tt WHERE ts = '2038-02-27 21:18:46.981929'"
    ).collect()
    assert [r["k"] for r in rows] == [1]
    # the extracted pruning literal is the EXACT micros value
    td_us = cat.last_scan_plan["default.tt"]["filters"][0][2]
    assert td_us % 10 == 9  # ...981929, not ...981928


def test_ctas_if_not_exists_from_head_not_literals(cat, spark):
    """Review r13: IF NOT EXISTS comes from the statement head; a
    string literal containing the words must not turn the
    already-exists error into a silent no-op."""
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run("CREATE TABLE default.c (k bigint)")
    run("INSERT INTO default.c VALUES (1)")
    with pytest.raises(ValueError, match="already exists"):
        run(
            "CREATE TABLE default.c AS"
            " SELECT k, 'if not exists' AS note FROM default.c"
        )
    res = run(
        "CREATE TABLE IF NOT EXISTS default.c AS SELECT 1 AS x"
    )[0]
    assert res["skipped"] == "True"


def test_insert_column_list_case_insensitive(cat, spark):
    """Review r13: column-list INSERT resolves names
    case-insensitively, like every other unquoted identifier."""
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run("CREATE TABLE default.ci (k bigint, r string)")
    run("INSERT INTO default.ci (K) VALUES (1)")
    assert [tuple(r) for r in
            run("SELECT * FROM default.ci x").collect()] == [(1, None)]
    with pytest.raises(ValueError, match="duplicate"):
        run("INSERT INTO default.ci (k, K) VALUES (1, 2)")


def test_backtick_dotted_table_name(cat, spark):
    """Review r13: a backtick-quoted identifier containing a dot is
    ONE default-namespace table, distinct from ns.tbl."""
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run("CREATE TABLE `a.b` (k bigint)")
    run("INSERT INTO `a.b` VALUES (7)")
    assert run("SELECT k FROM `a.b`").collect()[0]["k"] == 7
    # and it did NOT create namespace 'a' table 'b'
    with pytest.raises(ValueError, match="does not exist"):
        run("DELETE FROM a.b")

def test_merge_matched_delete_and_column_set(loaded, spark):
    """MERGE extensions: WHEN MATCHED THEN DELETE (key tombstones,
    source needs only the ON columns) and column-level UPDATE SET
    assignments — in both write modes."""
    cat, run = loaded
    run("CREATE TABLE sales.tomb (k bigint)")
    run("INSERT INTO sales.tomb VALUES (1), (99)")
    res = run(
        "MERGE INTO sales.orders t USING sales.tomb s ON t.k = s.k"
        " WHEN MATCHED THEN DELETE"
    )[0]
    assert res["operation"] == "merge_delete"
    got = sorted(r["k"] for r in run("SELECT k FROM sales.orders o").collect())
    assert got == [2, 3]
    # column-level SET: only amount updates, region keeps its value
    run("CREATE TABLE sales.upd (k bigint, region string, amount double)")
    run("INSERT INTO sales.upd VALUES (2, 'XX', 220.0), (7, 'ap', 7.0)")
    run(
        "MERGE INTO sales.orders t USING sales.upd s ON t.k = s.k"
        " WHEN MATCHED THEN UPDATE SET t.amount = s.amount"
        " WHEN NOT MATCHED THEN INSERT *"
    )
    got = {r["k"]: (r["region"], r["amount"])
           for r in run("SELECT * FROM sales.orders o").collect()}
    assert got[2] == ("us", 220.0)  # amount updated, region untouched
    assert got[7] == ("ap", 7.0)    # not-matched inserted
    # MoR mode: matched delete writes position deletes, no rewrite
    run(
        "ALTER TABLE sales.orders SET TBLPROPERTIES"
        " ('write.merge.mode' = 'merge-on-read')"
    )
    loc = cat._resolve("sales.orders")[2]
    pre = sorted(ice.plan_files(loc)[0])
    res = run(
        "MERGE INTO sales.orders t USING sales.tomb s ON t.k = s.k"
        " WHEN MATCHED THEN DELETE"
    )[0]
    # tomb still holds (1, 99): nothing matches now (k=1 already
    # deleted) — exercise a real match
    run("INSERT INTO sales.tomb VALUES (3)")
    res = run(
        "MERGE INTO sales.orders t USING sales.tomb s ON t.k = s.k"
        " WHEN MATCHED THEN DELETE"
    )[0]
    assert res["operation"] == "merge_delete"
    assert int(res["added_delete_files"]) >= 1
    assert sorted(ice.plan_files(loc)[0]) == pre  # no data rewrite
    got = sorted(r["k"] for r in run("SELECT k FROM sales.orders o").collect())
    assert got == [2, 7]
    # bad SET items are refused
    with pytest.raises(ValueError, match="unsupported MERGE SET"):
        run(
            "MERGE INTO sales.orders t USING sales.upd s ON t.k = s.k"
            " WHEN MATCHED THEN UPDATE SET t.amount = s.amount + 1"
            " WHEN NOT MATCHED THEN INSERT *"
        )

def test_server_routes_round13_statements(loaded, spark, monkeypatch):
    """Every round-13 statement is reachable through the MCP
    query_table tool (raw-SQL passthrough, no whitelist): refs,
    partition evolution, CTAS, TRUNCATE, INSERT OVERWRITE, CONVERT
    DELETES, MERGE MATCHED-DELETE."""
    import json

    from mcp_iceberg_duckdb_spark import server

    cat, run = loaded
    monkeypatch.setenv("SPARK_GRAFT_FS_WAREHOUSE", cat.warehouse)
    t = lambda q: server.query_table(spark, q)  # noqa: E731
    for q in (
        "ALTER TABLE sales.orders CREATE TAG audited",
        "ALTER TABLE sales.orders ADD PARTITION FIELD bucket(4, k)",
        "CREATE TABLE sales.arch AS SELECT * FROM sales.orders o",
        "INSERT OVERWRITE sales.arch VALUES (9, 'ap', 90.0)",
        "TRUNCATE TABLE sales.arch",
        "CONVERT DELETES IN sales.orders",
        "SHOW REFS IN sales.orders",
    ):
        res = t(q)
        assert not res.is_error, (q, res.text)
    res = t("SELECT count(*) AS n FROM sales.orders VERSION AS OF 'audited'")
    assert json.loads(res.text.split("\n", 1)[1]) == [{"n": 3}]
    run("CREATE TABLE sales.tomb2 (k bigint)")
    run("INSERT INTO sales.tomb2 VALUES (2)")
    res = t(
        "MERGE INTO sales.orders a USING sales.tomb2 b ON a.k = b.k"
        " WHEN MATCHED THEN DELETE"
    )
    assert not res.is_error, res.text
    res = t("SELECT count(*) AS n FROM sales.orders o")
    assert json.loads(res.text.split("\n", 1)[1]) == [{"n": 2}]


def test_identifier_traversal_rejected(cat, spark, tmp_path):
    """r13 ADVICE high: a backtick-quoted identifier containing path
    separators or '..' must never resolve (or rmtree) outside the
    warehouse root."""
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    victim = tmp_path / "victim_dir" / "metadata"
    victim.mkdir(parents=True)
    (victim / "keep.txt").write_text("x")
    run("CREATE TABLE t0 (k bigint)")  # ensures default/ exists
    for ident in (
        "`../../victim_dir`",
        "`..`.`victim_dir`",
        "`a/b`",
        "`a\\b`",
        "`.`",
        "``.t0" if False else "`..`",
    ):
        with pytest.raises(ValueError, match="invalid table identifier"):
            run(f"DROP TABLE {ident}")
        with pytest.raises(ValueError, match="invalid table identifier"):
            run(f"CREATE TABLE {ident} (k bigint)")
    assert (victim / "keep.txt").exists()


def test_merge_set_case_insensitive(loaded, spark):
    """r13 ADVICE low: MERGE column-level UPDATE SET must compare
    aliases and column names case-insensitively like every other
    identifier on this surface."""
    cat, run = loaded
    run("CREATE TABLE sales.src (k bigint, region string, amount double)")
    run("INSERT INTO sales.src VALUES (1, 'eu', 99.0)")
    res = run(
        "MERGE INTO sales.orders TGT USING sales.src SRC ON tgt.k = src.k"
        " WHEN MATCHED THEN UPDATE SET TGT.AMOUNT = SRC.amount"
        " WHEN NOT MATCHED THEN INSERT *"
    )[0]
    assert res["operation"] in ("merge", "merge_into")
    got = {
        r["k"]: r["amount"]
        for r in run("SELECT k, amount FROM sales.orders o").collect()
    }
    assert got[1] == 99.0


def test_wap_branch_write_publish(loaded, spark):
    """Write-audit-publish (r13 VERDICT next-round #2): INSERTs
    route to the audit branch after WRITE TO BRANCH, main stays
    unchanged until FAST FORWARD publishes, row-mutating verbs are
    refused while a write branch is set, and the branch keeps
    advancing across multiple INSERTs."""
    cat, run = loaded
    run("ALTER TABLE sales.orders CREATE BRANCH audit")
    run("ALTER TABLE sales.orders WRITE TO BRANCH audit")
    run("INSERT INTO sales.orders VALUES (10, 'eu', 1.0)")
    run("INSERT INTO sales.orders VALUES (11, 'us', 2.0)")
    main = sorted(
        r["k"] for r in run("SELECT k FROM sales.orders o").collect()
    )
    audit = sorted(
        r["k"]
        for r in run(
            "SELECT k FROM sales.orders VERSION AS OF 'audit' o"
        ).collect()
    )
    assert main == [1, 2, 3]
    assert audit == [1, 2, 3, 10, 11]
    for stmt in (
        "UPDATE sales.orders SET amount = 0.0 WHERE k = 1",
        "DELETE FROM sales.orders WHERE k = 1",
        "TRUNCATE TABLE sales.orders",
    ):
        with pytest.raises(ValueError, match="write.branch"):
            run(stmt)
    res = run(
        "ALTER TABLE sales.orders FAST FORWARD main audit"
    )[0]
    assert res["operation"] == "fast_forward"
    assert int(res["advanced"]) == 2
    main = sorted(
        r["k"] for r in run("SELECT k FROM sales.orders o").collect()
    )
    assert main == [1, 2, 3, 10, 11]
    # clear the branch routing; DML works again and goes to main
    run("ALTER TABLE sales.orders WRITE TO BRANCH main")
    run("DELETE FROM sales.orders WHERE k = 10")
    assert sorted(
        r["k"] for r in run("SELECT k FROM sales.orders o").collect()
    ) == [1, 2, 3, 11]


def test_wap_branch_validation(loaded, spark):
    """WRITE TO BRANCH validates the ref exists and is a branch;
    fast-forward refuses tags and diverged branches."""
    cat, run = loaded
    with pytest.raises(ValueError, match="does not exist"):
        run("ALTER TABLE sales.orders WRITE TO BRANCH nope")
    run("ALTER TABLE sales.orders CREATE TAG pinned")
    with pytest.raises(ValueError, match="tag"):
        run("ALTER TABLE sales.orders WRITE TO BRANCH pinned")
    run("ALTER TABLE sales.orders CREATE BRANCH b1")
    # diverge: write to main, then b1 no longer fast-forwards from
    # main's past — publishing b1 over main must fail
    run("INSERT INTO sales.orders VALUES (50, 'eu', 5.0)")
    with pytest.raises(ValueError, match="not a fast-forward"):
        run("ALTER TABLE sales.orders FAST FORWARD main b1")


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_merge_not_matched_by_source(cat, spark, mode):
    """MERGE ... WHEN NOT MATCHED BY SOURCE THEN DELETE | UPDATE SET
    (r13 VERDICT next-round #3 — the full CDC mirror) in both write
    modes, with time travel preserving the pre-merge state."""
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run("CREATE TABLE t (k bigint, v string, amt double)")
    run("CREATE TABLE s (k bigint, v string, amt double)")
    if mode == "mor":
        run(
            "ALTER TABLE t SET TBLPROPERTIES"
            " ('write.merge.mode' = 'merge-on-read')"
        )
    run("INSERT INTO t VALUES (1,'a',1.0),(2,'b',2.0),(3,'c',3.0)")
    run("INSERT INTO s VALUES (2,'B',20.0),(4,'D',40.0)")
    run(
        "MERGE INTO t tg USING s sr ON tg.k = sr.k"
        " WHEN MATCHED THEN UPDATE SET *"
        " WHEN NOT MATCHED THEN INSERT *"
        " WHEN NOT MATCHED BY SOURCE THEN DELETE"
    )
    got = sorted(
        (r["k"], r["v"], r["amt"])
        for r in run("SELECT * FROM t x").collect()
    )
    assert got == [(2, "B", 20.0), (4, "D", 40.0)]
    # the vanished rows remain time-travelable
    snaps = [
        r["snapshot_id"] for r in run("SHOW SNAPSHOTS IN t")
    ]
    pre = sorted(
        r["k"]
        for r in run(
            f"SELECT k FROM t VERSION AS OF {snaps[0]} x"
        ).collect()
    )
    assert pre == [1, 2, 3]
    if mode == "mor":
        # MoR mirrors via position deletes: no data file rewritten
        res = run("SHOW SNAPSHOTS IN t")[-1]
        assert res["operation"] == "overwrite"

    # the UPDATE SET form: vanished rows soft-flagged, not dropped
    run("CREATE TABLE t2 (k bigint, v string, amt double)")
    if mode == "mor":
        run(
            "ALTER TABLE t2 SET TBLPROPERTIES"
            " ('write.merge.mode' = 'merge-on-read')"
        )
    run("INSERT INTO t2 VALUES (1,'a',1.0),(2,'b',2.0)")
    run(
        "MERGE INTO t2 tg USING s sr ON tg.k = sr.k"
        " WHEN MATCHED THEN UPDATE SET *"
        " WHEN NOT MATCHED THEN INSERT *"
        " WHEN NOT MATCHED BY SOURCE THEN UPDATE SET"
        " tg.v = 'gone', amt = 0.0"
    )
    got = sorted(
        (r["k"], r["v"], r["amt"])
        for r in run("SELECT * FROM t2 x").collect()
    )
    assert got == [(1, "gone", 0.0), (2, "B", 20.0), (4, "D", 40.0)]


def test_merge_nmbs_validation(loaded, spark):
    """NMBS assignments cannot touch ON keys or partition columns,
    and a non-target alias is rejected."""
    cat, run = loaded
    run("CREATE TABLE sales.src2 (k bigint, region string, amount double)")
    run("INSERT INTO sales.src2 VALUES (1, 'eu', 9.0)")
    base = (
        "MERGE INTO sales.orders tg USING sales.src2 sr ON tg.k = sr.k"
        " WHEN MATCHED THEN UPDATE SET *"
        " WHEN NOT MATCHED THEN INSERT *"
        " WHEN NOT MATCHED BY SOURCE THEN UPDATE SET {}"
    )
    with pytest.raises(ValueError, match="ON keys"):
        run(base.format("k = 0"))
    with pytest.raises(ValueError, match="partition"):
        run(base.format("region = 'xx'"))
    with pytest.raises(ValueError, match="target columns"):
        run(base.format("sr.amount = 0.0"))


def test_server_routes_round14_statements(loaded, spark, monkeypatch):
    """Every round-14 statement is reachable through the MCP
    query_table tool: rich-type DDL, WAP branch routing + fast
    forward, MERGE NOT MATCHED BY SOURCE."""
    import json

    from mcp_iceberg_duckdb_spark import server

    cat, run = loaded
    monkeypatch.setenv("SPARK_GRAFT_FS_WAREHOUSE", cat.warehouse)
    t = lambda q: server.query_table(spark, q)  # noqa: E731
    for q in (
        "CREATE TABLE sales.rich (k bigint, price decimal(10,2),"
        " ts timestamptz, blob binary, emb array<float>)",
        "ALTER TABLE sales.rich ADD COLUMN tax decimal(6,3)",
        "DESCRIBE TABLE sales.rich",
        "ALTER TABLE sales.orders CREATE BRANCH audit",
        "ALTER TABLE sales.orders WRITE TO BRANCH audit",
        "INSERT INTO sales.orders VALUES (77, 'eu', 7.0)",
        "ALTER TABLE sales.orders FAST FORWARD main audit",
        "ALTER TABLE sales.orders WRITE TO BRANCH main",
    ):
        res = t(q)
        assert not res.is_error, (q, res.text)
    res = t("SELECT count(*) AS n FROM sales.orders o")
    assert json.loads(res.text.split("\n", 1)[1]) == [{"n": 4}]
    run("CREATE TABLE sales.mir (k bigint, region string, amount double)")
    run("INSERT INTO sales.mir VALUES (1, 'eu', 10.0)")
    res = t(
        "MERGE INTO sales.orders a USING sales.mir b ON a.k = b.k"
        " WHEN MATCHED THEN UPDATE SET *"
        " WHEN NOT MATCHED THEN INSERT *"
        " WHEN NOT MATCHED BY SOURCE THEN DELETE"
    )
    assert not res.is_error, res.text
    res = t("SELECT count(*) AS n FROM sales.orders o")
    assert json.loads(res.text.split("\n", 1)[1]) == [{"n": 1}]


def test_write_ordered_by_and_default_compaction(cat, spark):
    """Sort-order metadata (r13 VERDICT next-round #5): WRITE
    ORDERED BY mints a sort order and makes it the default, DESCRIBE
    exposes it, and OPTIMIZE WITHOUT a SORT BY clause clusters on
    the table order — the rewritten files carry range-disjoint
    sort-key bounds, so a key-range SELECT prunes files at the
    manifest level."""
    from mcp_iceberg_duckdb_spark.sources import iceberg_fs as ice

    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run("CREATE TABLE ord (k bigint, v double)")
    # several appends -> several files, each spanning the full range
    import random

    rng = random.Random(7)
    ks = list(range(400))
    rng.shuffle(ks)
    for i in range(4):
        vals = ",".join(
            f"({k}, {float(k)})" for k in ks[i * 100:(i + 1) * 100]
        )
        run(f"INSERT INTO ord VALUES {vals}")
    loc = cat.warehouse + "/default/ord"
    res = run("ALTER TABLE ord WRITE ORDERED BY (k)")[0]
    assert res["operation"] == "write_ordered_by"
    desc = {
        r["col_name"]: r["comment"]
        for r in run("DESCRIBE TABLE ord")
    }
    assert desc["k"] == "sort(1)"
    meta = ice.read_table_meta(loc)
    assert meta["default-sort-order-id"] == 1
    assert meta["sort-orders"][1]["fields"][0]["direction"] == "asc"
    run("OPTIMIZE ord SLICES 4")
    # compaction under the table order: few range-disjoint files,
    # and the key-range filter prunes most of them
    files, total = ice.plan_files(loc, filters=(("k", "<", 100),))
    assert total <= 8, total
    assert 0 < len(files) < total, (len(files), total)
    got = sorted(
        r["k"] for r in run("SELECT k FROM ord x WHERE k < 100").collect()
    )
    assert got == list(range(100))
    # WRITE UNORDERED resets to order 0
    run("ALTER TABLE ord WRITE UNORDERED")
    assert ice.read_table_meta(loc)["default-sort-order-id"] == 0
    desc = {
        r["col_name"]: r["comment"]
        for r in run("DESCRIBE TABLE ord")
    }
    assert desc["k"] == ""


def test_binding_leaves_literals_and_dml_text_intact(cat, spark):
    """Table names are bound at the spans Spark's parser records, so
    a table name inside a double-quoted or backslash-escaped string
    literal stays text, INSERT ... SELECT commits the literal as
    written, and UPDATE accepts SET values containing WHERE or an
    escaped quote."""
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run("CREATE TABLE default.t1 (k bigint, s string)")
    run("INSERT INTO default.t1 VALUES (1, 'a'), (2, 'b')")
    note = lambda q: [r["note"] for r in run(q).collect()]  # noqa: E731
    assert note(
        'SELECT "see default.t1" AS note FROM default.t1 WHERE k = 1'
    ) == ["see default.t1"]
    assert note(
        'SELECT "FROM t1" AS note FROM t1 WHERE k = 1'
    ) == ["FROM t1"]
    assert note(
        "SELECT 'it\\'s default.t1' AS note FROM default.t1 WHERE k = 1"
    ) == ["it's default.t1"]
    run('INSERT INTO default.t1 SELECT 4, "FROM t1" FROM t1 WHERE k = 1')
    run('UPDATE default.t1 SET s = "x WHERE k = 2" WHERE k = 1')
    run("UPDATE default.t1 SET s = 'it\\'s' WHERE k = 2")
    got = {r["k"]: r["s"] for r in run("SELECT k, s FROM t1").collect()}
    assert got == {1: "x WHERE k = 2", 2: "it's", 4: "FROM t1"}


def test_last_scan_plan_describes_only_the_last_statement(loaded, spark):
    """``last_scan_plan`` holds the views the LAST statement
    registered: a statement that registers none leaves it empty
    instead of repeating the previous SELECT's stats."""
    cat, run = loaded
    for q in (
        "LIST TABLES",
        "DESCRIBE TABLE sales.orders",
        "SHOW SNAPSHOTS IN sales.orders",
        "INSERT INTO sales.orders VALUES (4, 'us', 40.0)",
    ):
        run("SELECT k FROM sales.orders o WHERE region = 'eu'").collect()
        assert cat.last_scan_plan["sales.orders"]["filters"]
        run(q)
        assert cat.last_scan_plan == {}, q


def test_select_prunes_on_each_exact_conjunct(cat, spark):
    """Each top-level AND conjunct comparing a column with a literal
    prunes on its own: a conjunct that cannot prune (a TIMESTAMP
    literal here) no longer voids the others, while an OR above the
    conjunction still keeps every file."""
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run(
        "CREATE TABLE default.pc (k bigint, r string, ts timestamp)"
        " PARTITIONED BY (r)"
    )
    run(
        "INSERT INTO default.pc VALUES"
        " (1, 'A', TIMESTAMP '2024-01-01 00:00:00'),"
        " (2, 'N', TIMESTAMP '2024-01-02 00:00:00'),"
        " (3, 'R', TIMESTAMP '2024-01-03 00:00:00')"
    )
    rows = run(
        "SELECT k FROM default.pc"
        " WHERE r = 'A' AND ts >= TIMESTAMP '2023-06-01 00:00:00'"
    ).collect()
    assert [r["k"] for r in rows] == [1]
    plan = cat.last_scan_plan["default.pc"]
    assert (plan["files_planned"], plan["files_total"]) == (1, 3)
    assert plan["filters"] == [("r", "=", "A")]
    rows = run(
        "SELECT k FROM default.pc WHERE r = 'A' AND k > 0 OR r = 'N'"
    ).collect()
    assert sorted(r["k"] for r in rows) == [1, 2]
    plan = cat.last_scan_plan["default.pc"]
    assert (plan["files_planned"], plan["files_total"]) == (3, 3)
    assert plan["filters"] == []


def test_merge_without_aliases_binds_source_table(cat, spark):
    """MERGE with unaliased tables: ON terms use the written table
    names, although binding renames the source to its view."""
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run("CREATE TABLE t (k bigint, v string)")
    run("CREATE TABLE s (k bigint, v string)")
    run("INSERT INTO t VALUES (1, 'a'), (2, 'b')")
    run("INSERT INTO s VALUES (2, 'B'), (3, 'C')")
    run(
        "MERGE INTO t USING s ON t.k = s.k"
        " WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    got = sorted(tuple(r) for r in run("SELECT * FROM t").collect())
    assert got == [(1, "a"), (2, "B"), (3, "C")]


@pytest.mark.parametrize("mode", ["cow", "mor"])
@pytest.mark.parametrize("clause, kept", [
    ("", [(2, "b"), (None, "n")]),
    (" WHEN NOT MATCHED BY SOURCE THEN DELETE", []),
    (
        " WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 'gone'",
        [(2, "gone"), (None, "gone")],
    ),
])
def test_merge_null_keys(cat, spark, mode, clause, kept):
    """A NULL ON key matches nothing: the NULL-keyed source row is
    inserted, and the NULL-keyed target row is kept or takes the NOT
    MATCHED BY SOURCE action, like any other unmatched target row."""
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run("CREATE TABLE t (k bigint, v string)")
    if mode == "mor":
        run(
            "ALTER TABLE t SET TBLPROPERTIES"
            " ('write.merge.mode' = 'merge-on-read')"
        )
    run("INSERT INTO t VALUES (1, 'a'), (2, 'b'), (NULL, 'n')")
    run(
        "MERGE INTO t tg USING (SELECT 1 AS k, 'A' AS v"
        " UNION ALL SELECT NULL, 'S' UNION ALL SELECT 5, 'E') sr"
        " ON tg.k = sr.k"
        " WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        + clause
    )
    got = sorted((tuple(r) for r in run("SELECT * FROM t").collect()), key=repr)
    want = [(1, "A"), (None, "S"), (5, "E")] + kept
    assert got == sorted(want, key=repr)


def test_in_list_prunes(cat, spark):
    """``col IN (literals)`` prunes on the range [min, max] of its
    typed values: an UPDATE rewrites only the files whose key bounds
    meet that range; a SELECT prunes the same way, with date strings
    typed as dates. A list of mixed types, a NULL or a non-literal
    keeps every file."""
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    run("CREATE TABLE default.r (k bigint, v double, d date)")
    loc = cat._resolve("default.r")[2]
    batches = []  # the files of each INSERT; their key ranges are disjoint
    for lo in (0, 10, 20):
        before = set(ice.plan_files(loc)[0])
        run(
            "INSERT INTO default.r VALUES "
            + ", ".join(
                f"({k}, {float(k)}, DATE '2023-01-{k + 1:02d}')"
                for k in range(lo, lo + 5)
            )
        )
        batches.append(len(set(ice.plan_files(loc)[0]) - before))
    live = lambda: str(len(ice.plan_files(loc)[0]))  # noqa: E731
    res = run("UPDATE default.r SET v = -1.0 WHERE k IN (12, 11)")[0]
    assert 0 < int(res["rewritten_files"]) <= batches[1]
    n = live()
    res = run("UPDATE default.r SET v = -2.0 WHERE k IN (0, 24, 21)")[0]
    assert res["rewritten_files"] == n  # the range [0, 24] spans all
    for where in ("k IN (3, 3.5)", "k IN (3, NULL)", "k IN (3, v + 100)"):
        n = live()
        res = run(f"UPDATE default.r SET v = -3.0 WHERE {where}")[0]
        assert res["rewritten_files"] == n, where
    got = {r["k"]: r["v"] for r in run("SELECT k, v FROM default.r").collect()}
    assert got[11] == got[12] == -1.0 and got[21] == -2.0 and got[3] == -3.0
    assert got[0] == got[24] == -2.0
    assert got[13] == 13.0 and len(got) == 15
    rows = run(
        "SELECT k FROM default.r WHERE d IN ('2023-01-22', '2023-01-21')"
    ).collect()
    assert sorted(r["k"] for r in rows) == [20, 21]
    plan = cat.last_scan_plan["default.r"]
    assert plan["files_planned"] < plan["files_total"]
    meta = ice.read_table_meta(loc)
    w = lambda s: _where_filters(_where_of(spark, s), meta)  # noqa: E731
    assert w("k IN (7, 2, 5)") == (("k", ">=", 2), ("k", "<=", 7))
    assert w("k IN ('2', '5')") == ()
    assert _where_filters(_where_of(spark, "a IN (1, 2) AND b = 3")) == (
        ("a", "in", (1, 2)), ("b", "=", 3),
    )


def test_cow_and_mor_dml_agree(cat, spark):
    """The same DELETE, UPDATE and MERGE statements leave identical
    rows in a copy-on-write table and in a merge-on-read one, which
    writes position deletes and appends instead of rewriting files.
    Each statement is followed by a second one stacked on its result,
    so the MoR side also reads through its own earlier deletes."""
    run = lambda s: cat.execute(spark, s)  # noqa: E731
    rows = ", ".join(f"({k}, '{'abc'[k % 3]}', {k}.0)" for k in range(24))
    for t in ("cow", "mor", "src"):
        run(f"CREATE TABLE {t} (k bigint, g string, v double)"
            " PARTITIONED BY (g)")
        run(f"INSERT INTO {t} VALUES {rows}")
    for verb in ("delete", "update", "merge"):
        run(f"ALTER TABLE mor SET TBLPROPERTIES"
            f" ('write.{verb}.mode' = 'merge-on-read')")
    run("UPDATE src SET v = v + 1000")
    run("INSERT INTO src VALUES (30, 'a', 30.0), (31, 'b', 31.0)")
    upsert = (
        "MERGE INTO {t} x USING (SELECT * FROM src WHERE {w}) s"
        " ON x.k = s.k WHEN MATCHED THEN UPDATE SET *"
        " WHEN NOT MATCHED THEN INSERT *"
    )
    steps = [
        "DELETE FROM {t} WHERE k = 1",
        "DELETE FROM {t} WHERE v > 20.0 OR (g = 'b' AND k < 6)",
        "UPDATE {t} SET v = v + 100 WHERE k < 4",
        "UPDATE {t} SET v = -v WHERE g = 'c' AND v > 100",
        upsert.format(t="{t}", w="k < 10"),
        "MERGE INTO {t} x USING (SELECT k, g, v + 1 AS v FROM src"
        " WHERE k >= 20) s ON x.k = s.k"
        " WHEN MATCHED THEN UPDATE SET x.v = s.v"
        " WHEN NOT MATCHED THEN INSERT *",
        upsert.format(t="{t}", w="k % 2 = 0 OR k > 25")
        + " WHEN NOT MATCHED BY SOURCE THEN DELETE",
        upsert.format(t="{t}", w="k < 20")
        + " WHEN NOT MATCHED BY SOURCE THEN DELETE",
        upsert.format(t="{t}", w="k % 4 = 0")
        + " WHEN NOT MATCHED BY SOURCE THEN UPDATE SET x.v = v - 0.5",
        upsert.format(t="{t}", w="k < 8")
        + " WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 7.0",
        "MERGE INTO {t} x USING (SELECT k FROM src WHERE k < 5) s"
        " ON x.k = s.k WHEN MATCHED THEN DELETE",
        "MERGE INTO {t} x USING (SELECT k FROM src WHERE k > 10) s"
        " ON x.k = s.k WHEN MATCHED THEN DELETE",
    ]
    for step in steps:
        cow = run(step.format(t="cow"))[0]
        mor = run(step.format(t="mor"))[0]
        assert mor["rewritten_files"] == "0", step
        assert cow["operation"] == mor["operation"], step
        got = [
            sorted(tuple(r) for r in run(f"SELECT * FROM {t} x").collect())
            for t in ("cow", "mor")
        ]
        assert got[0] == got[1], step
    assert got[0] and len(got[0]) < 24
    ops = {r["operation"] for r in run("SHOW SNAPSHOTS IN mor")}
    assert ops == {"append", "delete", "overwrite"}
