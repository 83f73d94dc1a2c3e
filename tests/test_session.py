"""The session factory's host-sized defaults, and its codegen cache
holding a repeated call's generated classes."""

from __future__ import annotations

from mcp_iceberg_duckdb_spark import server
from mcp_iceberg_duckdb_spark.operators._util import views
from mcp_iceberg_duckdb_spark.session import driver_memory
from mcp_iceberg_duckdb_spark.sources.tables import TABLE_NAMES

GB = 1 << 30


def test_driver_memory_is_half_of_ram_capped_at_16g():
    assert driver_memory(15 * GB) == "7680m"
    assert driver_memory(4 * GB) == "2048m"
    assert driver_memory(32 * GB) == "16384m"
    assert driver_memory(256 * GB) == "16384m"


def test_driver_memory_reads_the_host_ram():
    mb = int(driver_memory()[:-1])
    assert 0 < mb <= 16 * 1024


# the operator_calls benchmark mix: six operators and two statements
OPERATORS = (
    "x_dedup_exact",
    "x_ann_cosine_topk",
    "x_text_quality",
    "x_graph_kcore",
    "q1_pricing_summary",
    "q18_large_orders",
)
STATEMENTS = (
    "SELECT count(*) AS n, CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) "
    "* CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue FROM lineitem "
    "WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00' "
    "AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00' "
    "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24",
    "SELECT o_orderpriority, count(*) AS n, "
    "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue "
    "FROM customer JOIN orders ON c_custkey = o_custkey "
    "JOIN lineitem ON l_orderkey = o_orderkey "
    "WHERE c_mktsegment = 'BUILDING' "
    "AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00' GROUP BY o_orderpriority",
)


def test_repeated_calls_compile_nothing(spark, sf_dir_medium):
    """A second pass of the benchmark mix finds every generated class
    in Spark's codegen cache. At Spark's default of 100 entries it
    compiles dozens again (sf0.01), although the mix generates 99."""
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    views(spark, sf_dir_medium, *TABLE_NAMES)
    counts = []
    for _ in range(2):
        before = compiled.getCount()
        for name in OPERATORS:
            res = server.run_operator(spark, name, sf_dir_medium)
            assert not res.is_error, res.text
        for sql in STATEMENTS:
            res = server.query_table(spark, sql)
            assert not res.is_error, res.text
        counts.append(compiled.getCount() - before)
    assert counts[1] == 0, counts
