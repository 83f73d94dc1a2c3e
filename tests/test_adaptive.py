"""Engine-feature demonstrations the 100 TB story leans on, pinned
executable: dynamic partition pruning (the partition-count lever for
fact⋈dim with a dim-side filter) and AQE skew-join splitting (the
runtime answer to hot keys, complementing the manual salting in
functions/skew.py)."""

from __future__ import annotations

import pyspark.sql.functions as F

from mcp_iceberg_duckdb_spark.operators._util import t


def test_dynamic_partition_pruning_fires(spark, sf_dir, tmp_path):
    """A month-partitioned fact joined to a dim filtered down to two
    months must plan a dynamicpruning subquery on the partition
    column: only the matching partitions are scanned, decided at
    RUNTIME from the dim side — the mechanism that turns a
    full-history scan into a 2-partition read at 100 TB."""
    fact_dir = str(tmp_path / "fact_by_month")
    dim_dir = str(tmp_path / "month_dim")
    o = t(spark, sf_dir).orders.withColumn(
        "omonth", F.date_format("o_orderdate", "yyyy-MM")
    )
    o.write.partitionBy("omonth").parquet(fact_dir)
    # a real dimension table with a non-join attribute: DPP's
    # PartitionPruning rule requires a SELECTIVE literal predicate on
    # the dim side (a limit/dedup does not qualify)
    o.select("omonth").distinct().withColumn(
        "quarter", F.substring("omonth", 6, 2).cast("int")
    ).write.parquet(dim_dir)
    fact = spark.read.parquet(fact_dir)
    dim = spark.read.parquet(dim_dir).where(F.col("quarter") <= 2)
    joined = fact.join(dim, "omonth")
    plan = joined._jdf.queryExecution().toString()
    assert "dynamicpruning" in plan.lower(), (
        "partition filter must be a runtime dynamicpruning subquery"
    )
    n_all = fact.count()
    n_joined = joined.count()
    assert 0 < n_joined < n_all, "filter must actually prune rows"


def test_aqe_splits_skewed_join_partition(spark, sf_dir_large):
    """With the skew thresholds lowered to fixture scale, AQE must
    mark the hot partition of a deliberately skewed sort-merge join
    as skew=true and split it — the runtime remediation the manual
    salting operator (functions/skew.py) implements statically."""
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.coalescePartitions.enabled",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.shuffle.partitions",
        )
    }
    try:
        # pinned, not inherited from the core count: at 4 shuffle
        # partitions AQE never marked the hot partition skewed (each
        # cold partition then holds a quarter of the cold keys, which
        # raises the median the factor-2 rule compares against)
        conf.set("spark.sql.shuffle.partitions", "32")
        conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "16KB",
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        # isolate the skew rule from partition coalescing for a
        # deterministic assertion
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        # forbid broadcast so the join sort-merges and AQE's skew
        # reader has something to split
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # sf0.1: the hot partition must exceed the byte threshold
        # AFTER shuffle compression, and the upstream repartition(16)
        # gives AQE map-output boundaries to split along — with a
        # single mapper a hot reduce partition is one indivisible
        # block and the rule cannot fire
        big = sf_dir_large
        li = (
            t(spark, big)
            .lineitem.select(
                # collapse most keys onto ONE hot value
                F.when(F.col("l_suppkey") % 10 != 0, F.lit(7))
                .otherwise(F.col("l_suppkey"))
                .alias("k"),
                "l_quantity",
            )
            .repartition(16)
        )
        right = t(spark, big).supplier.select(
            F.col("s_suppkey").alias("k"), "s_acctbal"
        )
        joined = li.join(right, "k")
        # execute THIS DataFrame's own query execution (a fresh
        # count()/write wraps a different plan); no downstream
        # key-distribution requirement, so the skew reader is free to
        # split the hot partition
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, (
            "AQE did not mark the hot partition as skewed:\n"
            + plan[:2000]
        )
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)
