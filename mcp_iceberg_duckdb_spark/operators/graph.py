"""Iterative graph analytics (tier X — SURVEY.md §2.11): PageRank
over the customer⇄supplier co-purchase graph — the second iterative
operator family after connected components (dedup.py), showing the
general Pregel-lite shape: per-iteration contribution join + node
groupBy, plan truncated with localCheckpoint at scale.

Determinism discipline: ranks live in int64 MICRO-units and every
update is integer arithmetic — r'(v) = 150000 + Σ_{u→v}
(850000·(r(u) div deg(u))) div 1e6 — so there is no float summation
order anywhere and both engines produce bit-identical ranks. The
DuckDB oracle unrolls the same fixed iteration count as chained CTEs
(recursive CTEs disallow aggregation in the recursive term).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mcp_iceberg_duckdb_spark.operators._util import cap_basket, rn, t
from mcp_iceberg_duckdb_spark.registry import query

_PR_ITERS = 5
_PR_ONE = 1_000_000  # rank 1.0 in micro-units
_PR_JUMP = 150_000  # (1 − 0.85) in micro-units
_PR_DAMP = 850_000  # 0.85 in micro-units


def _oracle_sql() -> str:
    """Fixed-iteration PageRank as chained CTEs, integer-exact."""
    parts = [
        """
    WITH edges_d AS (
        SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    edges AS (
        SELECT src, dst FROM edges_d
        UNION ALL
        SELECT dst AS src, src AS dst FROM edges_d
    ),
    deg AS (SELECT src AS node, count(*) AS d FROM edges GROUP BY src),
    pr0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM deg)"""
    ]
    for i in range(_PR_ITERS):
        parts.append(
            f""",
    pr{i + 1} AS (
        SELECT e.dst AS node,
               CAST({_PR_JUMP} + ({_PR_DAMP} * sum(p.r // d.d)) // 1000000
                    AS BIGINT) AS r
        FROM edges e
        JOIN pr{i} p ON p.node = e.src
        JOIN deg d ON d.node = e.src
        GROUP BY e.dst
    )"""
        )
    parts.append(
        f"""
    SELECT node,
           floor((CAST(r AS DOUBLE) / 1e6) * 1e6 + 0.5) / 1e6 AS pagerank
    FROM pr{_PR_ITERS}"""
    )
    return "".join(parts)


@query("x_graph_pagerank", oracle=_oracle_sql(), tags=("graph", "tierx"))
def x_graph_pagerank(spark, sf_dir):
    """PageRank (damping 0.85, 5 iterations) on the bipartite
    customer⇄supplier graph induced by co-purchases (node ids:
    customer 2k, supplier 2k+1; edges symmetric, so there are no
    dangling nodes and rank mass needs no dangling redistribution).

    Spark shape: the distinct edge relation and per-node degrees are
    computed once and reused across iterations; each iteration is ONE
    contribution join (edges ⋈ ranks, both sides partitioned on the
    join key — AQE reuses the exchange) + ONE node groupBy with
    map-side combine. State per iteration is the node-rank relation
    (|V| rows of two int64s), never collected. At 100 TB the loop adds
    localCheckpoint(eager=False) per round like the CC operator
    (dedup.py) to truncate lineage; at fixture scale the 5-iteration
    plan stays a plain unrolled DAG, which also keeps the builder
    side-effect-free for the oracle compare.

    Integer-exact determinism: see module docstring — div-based
    updates make float summation order irrelevant; both engines agree
    bit-for-bit, and the only rounding is the final display de-scale."""
    o = t(spark, sf_dir).orders.select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir).lineitem.select("l_orderkey", "l_suppkey")
    ed = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    edges = ed.unionByName(
        ed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("d")
    )
    # localCheckpoint (the CC-loop precedent, dedup.py): the unrolled
    # 5-iteration DAG would otherwise INLINE the orders⋈lineitem
    # edge-building subtree into every iteration — 49 shuffles and 40
    # joins of plan, all AQE/codegen overhead. Checkpointing the
    # (src, d) contribution relation once truncates the lineage so
    # each iteration plans as scan ⋈ ranks + one groupBy.
    # Round 15, measured and REVERTED: pre-partitioning+sorting the
    # checkpoint on the join key (repartition("src") + sortWithin
    # before localCheckpoint) does NOT survive the checkpoint in this
    # API path — the probe showed the downstream join re-adds
    # Exchange hashpartitioning(src) over the Scan ExistingRDD in all
    # variants, and AQE additionally coalesced the keyed repartition
    # to ONE partition. The per-iteration exchange of the checkpointed
    # relation stays (it is what the join requires).
    contrib_src = edges.join(
        deg.select(F.col("node").alias("src"), "d"), "src"
    ).localCheckpoint()
    ranks = contrib_src.select("src").distinct().select(
        F.col("src").alias("node"), F.lit(_PR_ONE).cast("bigint").alias("r")
    )
    # per-edge flow r div d (int64, ≤ r), damping factored OUT of the
    # sum so every intermediate stays far inside int64:
    # r' = 150000 + (850000 · Σ(r div d)) div 1e6 — all integer ops.
    for _ in range(_PR_ITERS):
        ranks = (
            contrib_src.join(
                ranks.select(F.col("node").alias("src"), "r"), "src"
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.expr("r div d")).alias("s"))
            .select(
                "node",
                (
                    F.lit(_PR_JUMP)
                    + F.expr(f"({_PR_DAMP} * s) div 1000000")
                )
                .cast("bigint")
                .alias("r"),
            )
        )
    return ranks.select(
        "node", rn(F.col("r").cast("double") / F.lit(1e6), 6).alias("pagerank")
    )


# ---- Z-order layout key (data-layout lever: multi-column pruning) ----

_Z_BITS = 16
_Z_EPOCH = "DATE '1992-01-01'"


def _z_interleave(a, b):
    """Bit-interleave two 16-bit ints into one 32-bit Morton (Z-order)
    key — pure shift/mask expressions, identical in both engines."""
    z = F.lit(0).cast("bigint")
    for i in range(_Z_BITS):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def _z_sql(a: str, b: str) -> str:
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " | ".join(terms) + ")"


@query(
    "x_layout_zorder",
    oracle=f"""
    SELECT o_orderkey,
           {_z_sql("(o_custkey & 65535)",
                   f"(datediff('day', {_Z_EPOCH}, o_orderdate) & 65535)")}
               AS zval
    FROM orders
    """,
    tags=("layout", "tierx"),
)
def x_layout_zorder(spark, sf_dir):
    """Z-order (Morton) layout key over (customer, order-date) — the
    data-LAYOUT lever: writing a table sorted by the interleaved key
    clusters rows that are close in BOTH dimensions into the same
    parquet row groups, so min/max statistics prune multi-column
    box predicates that a single-column sort can only prune on its
    leading column. tests/test_partitioning.py measures the effect
    directly on row-group stats: the z-sorted layout scans a fraction
    of the row groups the key-sorted layout needs for a
    (custkey-range AND date-range) query.

    Pure shift/mask integer expressions (shuffle-free map over the
    scan; the sort that USES the key is a one-off write-side cost).
    At 100 TB this is the Delta/Iceberg OPTIMIZE ZORDER shape:
    compute key → range-partition by it → write; nothing collects."""
    o = t(spark, sf_dir).orders
    ck = F.col("o_custkey").bitwiseAND(F.lit(65535)).cast("bigint")
    dd = (
        F.datediff(F.col("o_orderdate"), F.to_date(F.lit("1992-01-01")))
        .bitwiseAND(F.lit(65535))
        .cast("bigint")
    )
    return o.select("o_orderkey", _z_interleave(ck, dd).alias("zval"))


# ---- Triangle counting on the mutual top-K strong-ties graph ----

_TRI_K = 10  # ties kept per node (mutual k-NN sparsification)
# per-order cap on suppliers entering the pair join (see
# _util.cap_basket): Σ basket² blowup guard — a no-op on organic
# TPC-H baskets (≤ 7 suppliers/order), a hard bound on a planted
# hot basket
_TRI_BASKET_CAP = 64

_TRI_ORACLE = f"""
    WITH os0 AS (
        SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
    ),
    os AS (
        SELECT l_orderkey, l_suppkey FROM (
            SELECT l_orderkey, l_suppkey,
                   row_number() OVER (PARTITION BY l_orderkey
                                      ORDER BY l_suppkey) AS brn
            FROM os0
        ) WHERE brn <= {_TRI_BASKET_CAP}
    ),
    wp AS (
        SELECT a.l_suppkey AS u, b.l_suppkey AS v, count(*) AS w
        FROM os a JOIN os b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        GROUP BY a.l_suppkey, b.l_suppkey
    ),
    directed AS (
        SELECT u AS src, v AS dst, w FROM wp
        UNION ALL
        SELECT v AS src, u AS dst, w FROM wp
    ),
    kept AS (
        SELECT src, dst FROM (
            SELECT src, dst,
                   row_number() OVER (PARTITION BY src
                                      ORDER BY w DESC, dst) AS rnk
            FROM directed
        ) WHERE rnk <= {_TRI_K}
    ),
    e AS (
        SELECT k1.src AS u, k1.dst AS v
        FROM kept k1 JOIN kept k2
          ON k2.src = k1.dst AND k2.dst = k1.src
        WHERE k1.src < k1.dst
    ),
    tri AS (
        SELECT e1.u AS x, e1.v AS y, e2.v AS z
        FROM e e1
        JOIN e e2 ON e2.u = e1.v
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    pernode AS (
        SELECT node, count(*) AS tri_count
        FROM (SELECT unnest([x, y, z]) AS node FROM tri)
        GROUP BY node
    )
    SELECT s.s_suppkey, CAST(coalesce(p.tri_count, 0) AS BIGINT) AS tri_count
    FROM supplier s LEFT JOIN pernode p ON p.node = s.s_suppkey
"""


@query("x_graph_triangles", oracle=_TRI_ORACLE, tags=("graph", "tierx"))
def x_graph_triangles(spark, sf_dir):
    """Per-supplier triangle counts on the MUTUAL TOP-{K}
    strong-ties co-occurrence graph: tie weight = number of shared
    orders, each supplier keeps its {K} strongest ties (weight desc,
    id tiebreak), and an edge survives only if BOTH endpoints kept it
    — the standard mutual-k-NN sparsification. Triangle counting is
    the community-density audit; the sparsification step is what
    makes it meaningful AND tractable: the raw co-purchase graph is
    near-complete (every supplier pair shares an order once orders
    are numerous), where wedge enumeration is Θ(n³) and the triangle
    count itself is the useless C(n,3). The mutual-k-NN graph has
    ≤ Kn/2 edges at ANY corpus size, so the wedge stage is O(K²n)
    forever.

    Spark shape: the distinct (order, supplier) relation is
    basket-capped first (cap_basket, smallest 64 suppliers per order
    — a no-op at TPC-H's ≤ 7 suppliers/order, a hard guard against
    one hot basket's quadratic pair fan-out), then one weighted-pair
    groupBy (the inherent cost — the same (u,v) reduce every
    co-occurrence statistic pays), one
    rank-limited window per direction (WindowGroupLimit caps each
    node at {K} rows before the exchange), a self-join for mutuality,
    then the Suri-Vassilvitskii (WWW'11) degree-ordered wedge join:
    each kept edge is ORIENTED from its lower-(degree, id) endpoint
    to the higher, every wedge generated exactly once at its
    lowest-ranked vertex, closing edges checked by semi-join. Degree
    keys broadcast (|V| = supplier-dim rows). Nothing iterative,
    nothing collected.

    The DuckDB oracle orients by supplier id instead (correct for
    any total order, merely slower) — both engines count the
    identical triangle set on the identical deterministic subgraph,
    so per-node counts match bit-for-bit (pure int64).

    Reference parity: co-occurrence analytics are inexpressible in
    the reference's single-table SELECT surface (QueryManager.py:79-81).
    """
    from pyspark.sql import Window

    # dedup (order, supplier) BEFORE the pair join: the weighted count
    # then reduces to count(*) — no countDistinct expand downstream,
    # and the self-join fans out from the smaller distinct relation.
    # cap_basket bounds the Σ basket² fan-out of the pair join against
    # a pathological hot order (no-op at ≤ 7 suppliers/order organic
    # basket sizes; tests/test_diagnostics.py plants a hot basket and
    # checks the bound).
    # localCheckpoint (the PageRank precedent above): the capped
    # relation's subtree (distinct + rank window) is referenced by
    # BOTH self-join sides and, through wp/kept/und, many more times
    # downstream — measured 8.7→24.7 s at sf0.1 when left inline
    # (exchange reuse does not dedup the windowed subtree);
    # materializing the ~|lineitem-distinct| rows once restores the
    # pre-cap plan cost.
    li = cap_basket(
        t(spark, sf_dir)
        .lineitem.select("l_orderkey", "l_suppkey")
        .distinct(),
        "l_orderkey",
        "l_suppkey",
        _TRI_BASKET_CAP,
    ).localCheckpoint(eager=False)
    a = li.alias("a")
    b = li.alias("b")
    wp = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .groupBy(
            F.col("a.l_suppkey").alias("u"), F.col("b.l_suppkey").alias("v")
        )
        .agg(F.count("*").alias("w"))
    )
    directed = wp.select(
        F.col("u").alias("src"), F.col("v").alias("dst"), "w"
    ).unionByName(
        wp.select(F.col("v").alias("src"), F.col("u").alias("dst"), "w")
    )
    wk = Window.partitionBy("src").orderBy(F.col("w").desc(), "dst")
    kept = (
        directed.withColumn("rnk", F.row_number().over(wk))
        .where(F.col("rnk") <= _TRI_K)
        .select("src", "dst")
    )
    k1 = kept.alias("k1")
    k2 = kept.alias("k2")
    und = (
        k1.join(
            k2,
            (F.col("k2.src") == F.col("k1.dst"))
            & (F.col("k2.dst") == F.col("k1.src")),
        )
        .where(F.col("k1.src") < F.col("k1.dst"))
        .select(F.col("k1.src").alias("u"), F.col("k1.dst").alias("v"))
        # round 15 — the x_graph_adamic_adar precedent: und (≤ Kn/2
        # rows, bounded by the sparsification) is referenced by the
        # degree pass AND (through ed) all three wedge-join sides;
        # without the checkpoint the pair-join+window+mutuality
        # subtree above is inlined into every reference — a 295 KB
        # 1024-operator plan (measured; adamic_adar's checkpointed
        # twin plans at 7 KB). Exchange reuse dedups some runtime
        # work but not the planning/codegen of the inlined copies.
        .localCheckpoint()
    )
    both = und.unionByName(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = both.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("d"))
    # total-order rank key (deg, id) packed into one int64: suppkey is
    # far below 1e9, degree below 1e9 — key = d*1e9 + id never overflows
    key = deg.select(
        "node", (F.col("d") * F.lit(1_000_000_000) + F.col("node")).alias("k")
    )
    ed = (
        und.join(F.broadcast(key.withColumnsRenamed({"node": "u", "k": "ku"})), "u")
        .join(F.broadcast(key.withColumnsRenamed({"node": "v", "k": "kv"})), "v")
        .select(
            F.when(F.col("ku") < F.col("kv"), F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(F.col("ku") < F.col("kv"), F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.least("ku", "kv").alias("src_k"),
            F.greatest("ku", "kv").alias("dst_k"),
        )
    )
    e1 = ed.alias("e1")
    e2 = ed.alias("e2")
    wedges = e1.join(
        e2,
        (F.col("e1.src") == F.col("e2.src"))
        & (F.col("e1.dst_k") < F.col("e2.dst_k")),
    ).select(
        F.col("e1.src").alias("x"),
        F.col("e1.dst").alias("y"),
        F.col("e2.dst").alias("z"),
    )
    tri = wedges.join(
        ed.select(F.col("src").alias("y"), F.col("dst").alias("z")),
        ["y", "z"],
        "leftsemi",
    )
    pernode = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("tri_count"))
    )
    s = t(spark, sf_dir).supplier.select("s_suppkey")
    return s.join(
        pernode, s.s_suppkey == pernode.node, "left"
    ).select(
        "s_suppkey",
        F.coalesce(F.col("tri_count"), F.lit(0)).cast("bigint").alias("tri_count"),
    )


# ---- Label propagation communities (synchronous, fixed rounds) ----

_LPA_ITERS = 3


def _lpa_oracle() -> str:
    """Fixed-round synchronous LPA as chained CTEs: each round every
    node adopts the MODE of its neighbors' labels (ties → smallest
    label), the deterministic classic-LPA update."""
    parts = [
        """
    WITH edges_d AS (
        SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    edges AS (
        SELECT src, dst FROM edges_d
        UNION ALL
        SELECT dst AS src, src AS dst FROM edges_d
    ),
    lab0 AS (SELECT DISTINCT src AS node, src AS lab FROM edges)"""
    ]
    for i in range(_LPA_ITERS):
        parts.append(
            f""",
    cnt{i} AS (
        SELECT e.dst AS node, l.lab, count(*) AS c
        FROM edges e JOIN lab{i} l ON l.node = e.src
        GROUP BY e.dst, l.lab
    ),
    lab{i + 1} AS (
        SELECT node, lab FROM (
            SELECT node, lab,
                   row_number() OVER (PARTITION BY node
                                      ORDER BY c DESC, lab) AS rnk
            FROM cnt{i}
        ) WHERE rnk = 1
    )"""
        )
    parts.append(
        f"""
    SELECT node, lab AS community FROM lab{_LPA_ITERS}"""
    )
    return "".join(parts)


@query("x_graph_label_prop", oracle=_lpa_oracle(), tags=("graph", "tierx"))
def x_graph_label_prop(spark, sf_dir):
    """Synchronous label propagation (Raghavan et al. 2007), {K}
    fixed rounds, on the bipartite customer⇄supplier co-purchase
    graph: every node adopts the most frequent label among its
    neighbors, ties broken by smallest label — the deterministic
    variant of classic LPA (random tie-breaks don't replay; ordered
    ones do). Completes the graph family: PageRank (importance),
    connected components (reachability), triangles (density), LPA
    (community structure).

    Spark shape: identical loop skeleton to PageRank above — the
    symmetric edge relation is built once and localCheckpoint'd,
    each round is ONE contribution join (edges ⋈ labels on the src
    key) + ONE (node, label) count groupBy + ONE per-node argmax
    window (rank-limited: WindowGroupLimit keeps a single row per
    node before the exchange). Driver state: zero — labels live as a
    |V|-row relation end to end. Fixed rounds keep the DAG unrolled
    and the builder side-effect-free; at 100 TB the same loop runs
    change-counted with a 2-int64 driver reduction per round like
    the CC operator (dedup.py).
    """
    o = t(spark, sf_dir).orders.select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir).lineitem.select("l_orderkey", "l_suppkey")
    ed = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    edges = ed.unionByName(
        ed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lab")
    )
    from pyspark.sql import Window

    for _ in range(_LPA_ITERS):
        cnt = (
            edges.join(labels.select(F.col("node").alias("src"), "lab"), "src")
            .groupBy(F.col("dst").alias("node"), "lab")
            .agg(F.count("*").alias("c"))
        )
        w = Window.partitionBy("node").orderBy(F.col("c").desc(), "lab")
        labels = (
            cnt.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") == 1)
            .select("node", "lab")
        )
    return labels.select("node", F.col("lab").alias("community"))


# ---- k-core decomposition (fixed-round peel) ----

_KC_ROUNDS = 4


def _kcore_oracle() -> str:
    """Fixed-round k-core peel as chained CTEs; k = floored median of
    the initial degree distribution, so the threshold is nontrivial at
    every scale factor."""
    parts = [
        """
    WITH edges_d AS (
        SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    edges AS (
        SELECT src, dst FROM edges_d
        UNION ALL
        SELECT dst AS src, src AS dst FROM edges_d
    ),
    deg0 AS (SELECT src AS node, count(*) AS d FROM edges GROUP BY src),
    thr AS (SELECT CAST(floor(median(d)) AS BIGINT) AS k FROM deg0),
    alive0 AS (SELECT node, d FROM deg0, thr WHERE d >= k)"""
    ]
    for i in range(_KC_ROUNDS):
        parts.append(
            f""",
    e{i + 1} AS (
        SELECT e.src, e.dst FROM edges e
        JOIN alive{i} sa ON sa.node = e.src
        JOIN alive{i} sb ON sb.node = e.dst
    ),
    deg{i + 1} AS (
        SELECT src AS node, count(*) AS d FROM e{i + 1} GROUP BY src
    ),
    alive{i + 1} AS (SELECT node, d FROM deg{i + 1}, thr WHERE d >= k)"""
        )
    parts.append(
        f"""
    SELECT node, d AS core_degree FROM alive{_KC_ROUNDS}"""
    )
    return "".join(parts)


@query("x_graph_kcore", oracle=_kcore_oracle(), tags=("graph", "tierx"))
def x_graph_kcore(spark, sf_dir):
    """k-core peel on the bipartite co-purchase graph: repeatedly
    drop nodes whose degree in the SURVIVING subgraph falls below k,
    keeping the dense core — the standard community-scaffold /
    spam-node filter (Seidman 1983). k is data-derived (floored
    median of initial degrees) so the peel is nontrivial at every
    scale factor; rounds are fixed at 4 — each round can only
    shrink the node set, so the fixture converges (verified: the
    round-4 output is already a fixed point at sf0.01).

    Spark shape: PageRank's loop skeleton — the symmetric edge
    relation builds once and is localCheckpoint'd so the unrolled
    rounds don't re-inline the orders⋈lineitem subtree; each round
    localCheckpoints the survivor relation, then runs TWO semi-joins
    (edges restricted to surviving endpoints — the survivor relation
    is |V| rows and broadcasts) + ONE degree groupBy with map-side
    combine. The threshold is a 1-row aggregate collected once to a
    driver int64 and inlined as a literal. Driver state: that scalar.

    Determinism: degrees and the floored-median threshold are pure
    int64 on both engines."""
    o = t(spark, sf_dir).orders.select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir).lineitem.select("l_orderkey", "l_suppkey")
    ed = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    edges = ed.unionByName(
        ed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    deg0 = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("d")
    )
    # 1-row threshold, collected once to a driver int64 (round 15):
    # the previous shape checkpointed it and crossJoin-broadcast it
    # back into EVERY round's filter — one BroadcastExchange build
    # job per round for a value that is a single bounded scalar (the
    # CC convergence-sum precedent for driver state). The collect is
    # the same one job the checkpoint was; the five BNLJ crossJoins
    # and their broadcast builds disappear from the unrolled plan.
    k_thr = deg0.agg(
        F.floor(F.median("d")).cast("bigint").alias("k")
    ).collect()[0][0]
    # empty graph: median over zero rows is NULL; `d >= NULL` kept no
    # survivors in the crossJoin shape — F.lit(None) preserves that
    k_lit = F.lit(k_thr).cast("bigint")
    alive = deg0.where(F.col("d") >= k_lit).select("node", "d")
    for _ in range(_KC_ROUNDS):
        # localCheckpoint per round (the CC-loop precedent, dedup.py):
        # without it round i's plan re-derives rounds 1..i-1 — the
        # unrolled chain is quadratic in rounds; with it each round is
        # exactly two semi-joins + one groupBy over a bounded |V|-row
        # survivor relation
        alive = alive.localCheckpoint()
        e = edges.join(
            alive.select(F.col("node").alias("src")), "src", "leftsemi"
        ).join(alive.select(F.col("node").alias("dst")), "dst", "leftsemi")
        deg_i = e.groupBy(F.col("src").alias("node")).agg(
            F.count("*").alias("d")
        )
        alive = deg_i.where(F.col("d") >= k_lit).select("node", "d")
    return alive.select("node", F.col("d").alias("core_degree"))


# ---- Adamic-Adar link prediction (mutual top-K ties graph) ----

_AA_TOPK = 20

_AA_ORACLE = f"""
    WITH os AS (
        SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
    ),
    wp AS (
        SELECT a.l_suppkey AS u, b.l_suppkey AS v, count(*) AS w
        FROM os a JOIN os b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        GROUP BY a.l_suppkey, b.l_suppkey
    ),
    directed AS (
        SELECT u AS src, v AS dst, w FROM wp
        UNION ALL
        SELECT v AS src, u AS dst, w FROM wp
    ),
    kept AS (
        SELECT src, dst FROM (
            SELECT src, dst,
                   row_number() OVER (PARTITION BY src
                                      ORDER BY w DESC, dst) AS rnk
            FROM directed
        ) WHERE rnk <= {_TRI_K}
    ),
    e AS (
        SELECT k1.src AS u, k1.dst AS v
        FROM kept k1 JOIN kept k2
          ON k2.src = k1.dst AND k2.dst = k1.src
        WHERE k1.src < k1.dst
    ),
    adj AS (
        SELECT u AS ctr, v AS nbr FROM e
        UNION ALL
        SELECT v AS ctr, u AS nbr FROM e
    ),
    deg AS (SELECT ctr AS node, count(*) AS d FROM adj GROUP BY ctr),
    wedge AS (
        SELECT l.nbr AS x, r.nbr AS z, l.ctr AS y
        FROM adj l JOIN adj r
          ON r.ctr = l.ctr AND l.nbr < r.nbr
    ),
    cand AS (
        SELECT w.x, w.z, w.y FROM wedge w
        WHERE NOT EXISTS (
            SELECT 1 FROM e WHERE e.u = w.x AND e.v = w.z
        )
    )
    SELECT x AS u, z AS v,
           CAST(sum(1000000000000 //
               CAST(floor(ln(d.d) * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
               AS aa_pico
    FROM cand c JOIN deg d ON d.node = c.y
    GROUP BY x, z
    ORDER BY aa_pico DESC, u, v
    LIMIT {_AA_TOPK}
"""


@query("x_graph_adamic_adar", oracle=_AA_ORACLE, tags=("graph", "tierx"))
def x_graph_adamic_adar(spark, sf_dir):
    """Adamic-Adar link prediction on the same mutual top-10
    strong-ties supplier graph as x_graph_triangles: for every
    non-adjacent pair (x, z) with common neighbors, score
    Σ_y 1/ln(deg(y)) over the common neighbors y — rare shared
    neighbors count more (Adamic & Adar 2003). The missing-edge
    recommender that rides the SAME wedge enumeration triangles
    already pays.

    Spark shape: weighted-pair groupBy → rank-limited window →
    mutuality self-join (identical prefix to triangles — at 100 TB
    both ops share one materialized subgraph); then one adjacency
    self-join per wedge (Σ deg² bounded by K²·n on the sparsified
    graph), an anti-join against the edge set to keep only
    PREDICTED links, and one (x, z) groupBy. Degrees broadcast.

    Determinism: the sum is pure int64 — each neighbor contributes
    1e12 div lq where lq = floor(ln(deg)·1e6 + 0.5) (the repo's
    6dp-quantized-ln convention; wedge centers have deg ≥ 2 so
    lq ≥ 693147 > 0). Top-20 head is totally ordered (score desc,
    u, v)."""
    from pyspark.sql import Window

    li = (
        t(spark, sf_dir)
        .lineitem.select("l_orderkey", "l_suppkey")
        .distinct()
    )
    a = li.alias("a")
    b = li.alias("b")
    wp = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .groupBy(
            F.col("a.l_suppkey").alias("u"), F.col("b.l_suppkey").alias("v")
        )
        .agg(F.count("*").alias("w"))
    )
    directed = wp.select(
        F.col("u").alias("src"), F.col("v").alias("dst"), "w"
    ).unionByName(
        wp.select(F.col("v").alias("src"), F.col("u").alias("dst"), "w")
    )
    wk = Window.partitionBy("src").orderBy(F.col("w").desc(), "dst")
    kept = (
        directed.withColumn("rnk", F.row_number().over(wk))
        .where(F.col("rnk") <= _TRI_K)
        .select("src", "dst")
    )
    k1 = kept.alias("k1")
    k2 = kept.alias("k2")
    und = (
        k1.join(
            k2,
            (F.col("k2.src") == F.col("k1.dst"))
            & (F.col("k2.dst") == F.col("k1.src")),
        )
        .where(F.col("k1.src") < F.col("k1.dst"))
        .select(F.col("k1.src").alias("u"), F.col("k1.dst").alias("v"))
        .localCheckpoint()
    )
    adj = und.select(F.col("u").alias("ctr"), F.col("v").alias("nbr")).unionByName(
        und.select(F.col("v").alias("ctr"), F.col("u").alias("nbr"))
    )
    deg = adj.groupBy(F.col("ctr").alias("node")).agg(
        F.count("*").alias("d")
    )
    wl = adj.alias("l")
    wr = adj.alias("r")
    wedge = wl.join(
        wr,
        (F.col("r.ctr") == F.col("l.ctr")) & (F.col("l.nbr") < F.col("r.nbr")),
    ).select(
        F.col("l.nbr").alias("x"),
        F.col("r.nbr").alias("z"),
        F.col("l.ctr").alias("y"),
    )
    cand = wedge.join(
        und.select(F.col("u").alias("x"), F.col("v").alias("z")),
        ["x", "z"],
        "leftanti",
    )
    lq = F.floor(F.log(F.col("d")) * F.lit(1e6) + F.lit(0.5)).cast("bigint")
    contrib = F.expr("1000000000000 div lq")
    return (
        cand.join(
            F.broadcast(deg.select(F.col("node").alias("y"), lq.alias("lq"))),
            "y",
        )
        .groupBy(F.col("x").alias("u"), F.col("z").alias("v"))
        .agg(F.sum(contrib).alias("aa_pico"))
        .orderBy(F.col("aa_pico").desc(), "u", "v")
        .limit(_AA_TOPK)
    )


# ---- HITS hubs & authorities (Kleinberg 1999) ----

# The third iterative-graph shape after PageRank and CC: alternating
# matrix-vector products on the DIRECTED bipartite co-purchase graph
# (customer --buys-from--> supplier). Hubs = customers, authorities =
# suppliers. Determinism discipline: scores live in int64 micro-units
# and each half-step is MAX-normalized by integer division (the
# standard ||·||_inf variant of the algorithm — deterministic where
# an L2 norm would drag in float sqrt), so both engines agree
# bit-for-bit and every intermediate is bounded by deg_max · 1e6.
_HITS_ITERS = 4
_HITS_ONE = 1_000_000


def _hits_oracle() -> str:
    # Every CTE is MATERIALIZED: each level references the previous one
    # twice (the normalize step reads a{i}r in both its body and its
    # scalar max subquery), so plain inlining doubles the plan per
    # half-step — 2^8 copies of the orders⋈lineitem scan over 4
    # iterations (measured: >390 s vs 0.06 s at sf0.01). Same
    # plan-doubling hazard the Spark side solves with localCheckpoint.
    parts = [
        """
    WITH edges AS MATERIALIZED (
        SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    h0 AS MATERIALIZED (SELECT DISTINCT src AS node, CAST(1000000 AS BIGINT) AS v
           FROM edges)"""
    ]
    prev_h = "h0"
    for i in range(1, _HITS_ITERS + 1):
        parts.append(
            f""",
    a{i}r AS MATERIALIZED (
        SELECT e.dst AS node, CAST(sum(h.v) AS BIGINT) AS v
        FROM edges e JOIN {prev_h} h ON h.node = e.src GROUP BY e.dst
    ),
    a{i} AS MATERIALIZED (
        SELECT node, CAST(v * 1000000 // (SELECT max(v) FROM a{i}r)
                          AS BIGINT) AS v
        FROM a{i}r
    ),
    h{i}r AS MATERIALIZED (
        SELECT e.src AS node, CAST(sum(a.v) AS BIGINT) AS v
        FROM edges e JOIN a{i} a ON a.node = e.dst GROUP BY e.src
    ),
    h{i} AS MATERIALIZED (
        SELECT node, CAST(v * 1000000 // (SELECT max(v) FROM h{i}r)
                          AS BIGINT) AS v
        FROM h{i}r
    )"""
        )
        prev_h = f"h{i}"
    parts.append(
        f"""
    SELECT 'hub' AS kind, node, v AS score_micro FROM h{_HITS_ITERS}
    UNION ALL
    SELECT 'auth' AS kind, node, v AS score_micro FROM a{_HITS_ITERS}"""
    )
    return "".join(parts)


@query("x_graph_hits", oracle=_hits_oracle(), tags=("graph", "tierx"))
def x_graph_hits(spark, sf_dir):
    """HITS (Kleinberg 1999, max-normalized variant): 4 alternating
    hub/authority updates on the directed customer→supplier
    co-purchase graph. a(s) = Σ_{c→s} h(c), h(c) = Σ_{c→s} a(s), each
    half-step re-scaled to max 1e6 by integer division.

    Spark shape: the distinct edge relation is computed once,
    localCheckpointed (the PageRank/CC lineage-truncation precedent —
    8 unrolled half-steps would otherwise inline the orders⋈lineitem
    subtree 8×), and reused; each half-step is ONE contribution join +
    ONE map-side-combined groupBy, plus a 1-row max aggregate
    broadcast back onto the |V|-row score relation (the allowlisted
    1-row-BNLJ pattern). State per step is |V| rows of two int64s. At
    100 TB each half-step is a shuffle on the node key — the same cost
    profile as a PageRank iteration — and max-normalization bounds
    every sum by deg_max·1e6, far inside int64."""
    o = t(spark, sf_dir).orders.select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir).lineitem.select("l_orderkey", "l_suppkey")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst")
        )
        .distinct()
        .localCheckpoint()  # eager, the kcore-loop precedent
    )
    h = edges.select("src").distinct().select(
        F.col("src").alias("node"),
        F.lit(_HITS_ONE).cast("bigint").alias("v"),
    )

    from pyspark.sql import Observation

    def _half(scores, in_key, out_key):
        # localCheckpoint BEFORE the double reference below: `raw`
        # feeds both the 1-row max aggregate and the normalize join,
        # so without lineage truncation each half-step DOUBLES the
        # unrolled subtree — 2^8 plan copies over 4 iterations (the
        # x_graph_triangles plan-reuse regression, graph.py:313).
        # Round 15: the max-normalizer rides the checkpoint job as an
        # observed metric (the CC-loop fusion, dedup.py) instead of a
        # separate 1-row aggregate + BNLJ crossJoin per half-step —
        # halves the job count of the loop (8 broadcast-build jobs
        # gone) and shrinks each half-step's plan by the crossJoin.
        # Driver state: one int64 per half-step, same bound as the
        # CC convergence sum.
        obs = Observation()
        raw = (
            edges.join(
                scores.select(F.col("node").alias(in_key), "v"), in_key
            )
            .groupBy(F.col(out_key).alias("node"))
            .agg(F.sum("v").cast("bigint").alias("v"))
            .observe(obs, F.max("v").alias("m"))
            .localCheckpoint()  # eager: truncates BEFORE analysis of
            # the next half-step, keeping plan size flat per step
        )
        m = obs.get["m"]
        if m is None:  # empty graph: keep the (empty) relation's shape
            return raw.select("node", "v")
        return raw.select(
            "node",
            F.expr(f"CAST(v * 1000000 div {int(m)} AS BIGINT)").alias("v"),
        )

    a = None
    for _ in range(_HITS_ITERS):
        a = _half(h, "src", "dst")
        h = _half(a, "dst", "src")
    return h.select(F.lit("hub").alias("kind"), "node", F.col("v").alias("score_micro")).unionByName(
        a.select(F.lit("auth").alias("kind"), "node", F.col("v").alias("score_micro"))
    )


# ---- Hilbert-curve layout key (the OPTIMIZE ZORDER alternative) ----

# Hilbert keys dominate Morton/Z-order for multi-dimensional layout
# (Hudi RFC-28, Delta liquid-clustering literature; Moon et al. 2001
# analyze the clustering advantage): the curve has no long jumps, so
# spatially-adjacent cells land nearer on the key line and row-group
# min/max boxes stay tighter. Same 256x256 (custkey-band, date-band)
# grid as x_layout_zorder, same shuffle-free expression discipline:
# the classic xy2d walk (8 reflect/rotate steps for order 8) is
# UNROLLED into a chained column pipeline generated from one Python
# loop — per-step materialized columns in both engines, so the
# expression tree grows linearly, not 3^8.
_HIL_ORDER = 8  # 256 x 256 grid
_HIL_EPOCH = "DATE '1992-01-01'"


def _hilbert_sql(base: str) -> str:
    """Chained-CTE xy2d: t0..t{order} each carry (x, y, hx, hy, hd)."""
    ctes = [
        f"t0 AS (SELECT x, y, x AS hx, y AS hy, CAST(0 AS BIGINT) AS hd"
        f" FROM ({base}))"
    ]
    for k in range(_HIL_ORDER):
        s = 1 << (_HIL_ORDER - 1 - k)
        prev = f"t{k}"
        ctes.append(
            f"""t{k + 1} AS (
        SELECT x, y,
               CASE WHEN ry = 1 THEN hx
                    WHEN rx = 1 THEN {s - 1} - hy ELSE hy END AS hx,
               CASE WHEN ry = 1 THEN hy
                    WHEN rx = 1 THEN {s - 1} - hx ELSE hx END AS hy,
               hd + {s * s} * xor(3 * rx, ry) AS hd
        FROM (
            SELECT x, y, hx, hy, hd,
                   CASE WHEN (hx & {s}) > 0 THEN 1 ELSE 0 END AS rx,
                   CASE WHEN (hy & {s}) > 0 THEN 1 ELSE 0 END AS ry
            FROM {prev}
        )
    )"""
        )
    return "WITH " + ",\n    ".join(ctes)


@query(
    "x_layout_hilbert",
    oracle=f"""
    {_hilbert_sql(
        "SELECT DISTINCT CAST(o_custkey % 256 AS BIGINT) AS x, "
        f"CAST(datediff('day', {_HIL_EPOCH}, o_orderdate) % 256 AS BIGINT)"
        " AS y FROM orders"
    )}
    SELECT x, y, hd AS hilbert_key,
           {_z_sql("x", "y")} AS zval
    FROM t{_HIL_ORDER}
    """,
    tags=("layout", "tierx"),
)
def x_layout_hilbert(spark, sf_dir):
    """Hilbert space-filling-curve layout key over the same
    (custkey-band, date-band) grid as x_layout_zorder, emitted
    side-by-side with the Morton key so the two layout strategies are
    directly comparable (tests pin the clustering advantage: chunking
    the key-sorted cells into simulated row groups, Hilbert's mean
    min/max bounding-box area is ~2x tighter than Morton's on this
    fixture, and the curve never jumps where Z-order jumps a full
    grid width — the reason Hudi/Delta offer it for multi-dim
    clustering).

    The xy2d walk (reflect/rotate + quadrant accumulate, order 8) is
    generated by one Python loop into a linear withColumn chain —
    every step materializes (hx, hy, hd) so the expression tree stays
    O(order), and the whole key is pure integer shift/mask/CASE inside
    whole-stage codegen. Shuffle profile: one groupBy to the distinct
    cell grid (bounded at 65536 rows regardless of corpus size), then
    map-only — at 100 TB the key computation rides the write path
    exactly like OPTIMIZE ZORDER, with the same single range-partition
    by key."""
    o = t(spark, sf_dir).orders
    cells = o.select(
        (F.col("o_custkey") % 256).cast("bigint").alias("x"),
        (
            F.datediff(F.col("o_orderdate"), F.to_date(F.lit("1992-01-01")))
            % 256
        )
        .cast("bigint")
        .alias("y"),
    ).distinct()
    d = (
        cells.withColumn("hx", F.col("x"))
        .withColumn("hy", F.col("y"))
        .withColumn("hd", F.lit(0).cast("bigint"))
    )
    for k in range(_HIL_ORDER):
        s = 1 << (_HIL_ORDER - 1 - k)
        d = (
            d.withColumn(
                "rx",
                F.when(F.col("hx").bitwiseAND(F.lit(s)) > 0, 1).otherwise(0),
            )
            .withColumn(
                "ry",
                F.when(F.col("hy").bitwiseAND(F.lit(s)) > 0, 1).otherwise(0),
            )
            .withColumn(
                "hd",
                F.col("hd")
                + F.lit(s * s) * (F.lit(3) * F.col("rx")).bitwiseXOR(F.col("ry")),
            )
            .withColumn(
                "hx2",
                F.when(F.col("ry") == 1, F.col("hx"))
                .when(F.col("rx") == 1, F.lit(s - 1) - F.col("hy"))
                .otherwise(F.col("hy")),
            )
            .withColumn(
                "hy2",
                F.when(F.col("ry") == 1, F.col("hy"))
                .when(F.col("rx") == 1, F.lit(s - 1) - F.col("hx"))
                .otherwise(F.col("hx")),
            )
            .drop("hx", "hy", "rx", "ry")
            .withColumnRenamed("hx2", "hx")
            .withColumnRenamed("hy2", "hy")
        )
    return d.select(
        "x",
        "y",
        F.col("hd").alias("hilbert_key"),
        _z_interleave(F.col("x"), F.col("y")).alias("zval"),
    )
