"""Hypothesis property tests for the expression-level primitives —
an upgrade over the reference's mock-only unit tests (SURVEY.md §5):
the Spark expressions must agree with plain-Python references on
arbitrary inputs, not just fixtures."""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mcp_iceberg_duckdb_spark import router


# --- router classification: total function over arbitrary text ----------


@given(st.text(max_size=200))
@settings(max_examples=200, deadline=None)
def test_classify_never_crashes_and_falls_back_to_sql(q):
    if not q.strip():
        with pytest.raises(ValueError):
            router.classify(q)
    else:
        kind = router.classify(q).kind
        assert kind in {"list_namespaces", "list_tables", "describe_table", "sql"}


@given(st.sampled_from(["a", "ns1", "a.b", "a.b.c"]))
@settings(deadline=None)
def test_classify_extracts_namespace(ns):
    assert router.classify(f"LIST TABLES IN {ns}").argument == ns
    assert router.classify(f"list namespaces in {ns}").argument == ns


# --- vector/text expression parity with Python references ----------------

ARRAYS = st.lists(
    st.floats(min_value=-10, max_value=10, allow_nan=False, width=32),
    min_size=4,
    max_size=8,
)


@pytest.fixture(scope="module")
def spark_mod(spark):
    return spark


@given(a=ARRAYS, b=ARRAYS)
@settings(max_examples=20, deadline=None)
def test_cosine_matches_python(spark_mod, a, b):
    from mcp_iceberg_duckdb_spark.functions.vector import cosine

    import pyspark.sql.functions as F

    n = min(len(a), len(b))
    a, b = a[:n], b[:n]
    df = spark_mod.createDataFrame(
        [(a, b)], "a array<double>, b array<double>"
    ).select(cosine(F.col("a"), F.col("b")).alias("c"))
    got = df.collect()[0].c
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    if na == 0 or nb == 0:
        assert got is None
    else:
        want = sum(x * y for x, y in zip(a, b)) / (na * nb)
        assert got == pytest.approx(want, rel=1e-9)


@given(
    toks=st.lists(
        st.text(alphabet="abcdef ", min_size=1, max_size=12), min_size=1, max_size=12
    ),
    k=st.integers(min_value=2, max_value=4),
)
@settings(max_examples=20, deadline=None)
def test_word_shingles_match_python(spark_mod, toks, k):
    from mcp_iceberg_duckdb_spark.functions.textfns import word_shingles

    text = " ".join(t.replace(" ", "_") or "_" for t in toks)
    df = spark_mod.createDataFrame([(text,)], "text string").select(
        word_shingles("text", k).alias("sh")
    )
    got = df.collect()[0].sh
    words = text.split(" ")
    want = []
    for i in range(max(len(words) - k, 0) + 1):
        s = " ".join(words[i : i + k])
        if s not in want:
            want.append(s)
    assert got == want


@given(st.lists(st.integers(min_value=-(2**62), max_value=2**62), min_size=1, max_size=5))
@settings(max_examples=20, deadline=None)
def test_hamming_symmetry_and_identity(spark_mod, vals):
    import pyspark.sql.functions as F

    from mcp_iceberg_duckdb_spark.functions.textfns import hamming64

    pairs = [(v, vals[0]) for v in vals]
    df = spark_mod.createDataFrame(pairs, "a long, b long").select(
        hamming64(F.col("a"), F.col("b")).alias("ab"),
        hamming64(F.col("b"), F.col("a")).alias("ba"),
        hamming64(F.col("a"), F.col("a")).alias("aa"),
    )
    for r in df.collect():
        assert r.ab == r.ba  # symmetric
        assert r.aa == 0  # identity
        assert 0 <= r.ab <= 64


# --- tokenizer: ONE definition shared by Spark ops and DuckDB oracles ----

TRICKY_TEXT = st.text(
    alphabet=st.sampled_from(list("ab .\t\n")), min_size=0, max_size=40
)


@given(TRICKY_TEXT)
@settings(max_examples=30, deadline=None)
def test_tokens_match_duckdb_string_split(spark_mod, text):
    """tokens() must agree with the oracles' string_split(text, ' ')
    even on consecutive spaces, tabs, and leading/trailing whitespace
    (a \\s+ split silently diverges there — ADVICE.md round 2)."""
    import duckdb
    import pyspark.sql.functions as F

    from mcp_iceberg_duckdb_spark.functions.textfns import tokens

    got = (
        spark_mod.createDataFrame([(text,)], "text string")
        .select(tokens("text").alias("t"), F.size(tokens("text")).alias("n"))
        .collect()[0]
    )
    want = duckdb.sql(
        "SELECT string_split(?, ' ') AS t, len(string_split(?, ' ')) AS n",
        params=[text, text],
    ).fetchone()
    assert got.t == want[0], (got.t, want[0])
    assert got.n == want[1]


def test_salt_spreads_fully_duplicated_rows(spark_mod):
    """Identical rows — the degenerate hot key — must still spread
    across salt buckets (content-only hashing would not)."""
    from mcp_iceberg_duckdb_spark.functions.skew import with_salt

    df = spark_mod.createDataFrame([("hot", 1)] * 1000, "k string, v int")
    buckets = {
        r._salt for r in with_salt(df.repartition(8), 8).select("_salt").collect()
    }
    assert len(buckets) >= 6, f"duplicated rows collapsed into {buckets}"


def test_driver_order_contract(tmp_path, monkeypatch):
    """The driver samples a prefix of driver_order(): queries red in
    the LATEST round first, then never-checked ones, then the green
    rest oldest-verified first, ties in registration order."""
    import json

    from mcp_iceberg_duckdb_spark import registry

    g = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    bad = dict(g, hash_match=False)
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"g1a": g, "g1b": g, "old_red": bad, "regressed": g})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"g2": g, "red_new": bad, "regressed": bad})
    )
    names = ["g2", "never_b", "g1b", "red_new", "never_a", "regressed",
             "g1a", "old_red"]
    fake = {n: registry.QuerySpec(n, lambda s, d: None, "SELECT 1") for n in names}
    monkeypatch.setattr(registry, "QUERIES", fake)
    monkeypatch.setattr(registry, "_HISTORY_DIR", str(tmp_path))
    assert registry.driver_order() == [
        "red_new", "regressed",                  # red in r02
        "never_b", "never_a", "old_red",         # no green row yet
        "g1b", "g1a",                            # last green r01
        "g2",                                    # last green r02
    ]
    assert list(registry.all_oracles()) == registry.driver_order()


# --- prefix-filtered exact similarity join vs brute force ----------------


def test_prefix_filtered_join_equals_bruteforce(spark_mod):
    """The AllPairs/PPJoin prefix-filter candidate condition must be
    LOSSLESS: across thresholds (including the exact-duplicate edge
    t=1), the sub-quadratic join's output is identical to the
    nested-loop join — a too-short prefix (e.g. from float ⌈t·len⌉)
    would silently drop true pairs."""
    import random

    from pyspark.sql import functions as F

    from mcp_iceberg_duckdb_spark.functions.simjoin import exact_jaccard_pairs
    from mcp_iceberg_duckdb_spark.functions.textfns import jaccard
    from mcp_iceberg_duckdb_spark.operators._util import r6

    rng = random.Random(7)
    vocab = [f"t{i}" for i in range(40)]
    rows = []
    for i in range(90):
        rows.append((i, rng.sample(vocab, rng.randint(1, 12))))
    for i in range(90, 130):  # plant near-dup and exact-dup pairs
        base = list(rows[rng.randrange(80)][1])
        if len(base) > 2 and rng.random() < 0.7:
            base[rng.randrange(len(base))] = rng.choice(vocab)
        rows.append((i, list(dict.fromkeys(base))))
    docs = spark_mod.createDataFrame(rows, "doc_id int, sh array<string>")
    a, b = docs.alias("a"), docs.alias("b")
    for num, den in [(1, 2), (4, 5), (9, 10), (1, 3), (1, 1)]:
        got = {
            tuple(r)
            for r in exact_jaccard_pairs(docs, num, den).collect()
        }
        want = {
            tuple(r)
            for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
            .withColumn("j", r6(jaccard(F.col("a.sh"), F.col("b.sh"))))
            .filter(F.col("j") >= F.lit(num / den))
            .select(F.col("a.doc_id"), F.col("b.doc_id"), "j")
            .collect()
        }
        assert got == want, (
            f"t={num}/{den}: missing={sorted(want - got)[:3]} "
            f"extra={sorted(got - want)[:3]}"
        )


def test_containment_prefix_filter_equals_bruteforce(spark_mod):
    """The containment form of the prefix filter (A-prefix joined
    against B's FULL token list, overlap bound ⌈t·|A|⌉ from the
    contained side only) must be LOSSLESS: across thresholds the
    sub-quadratic join's ORDERED-pair output equals the nested-loop
    join — and containment is asymmetric, so both directions are
    checked independently."""
    import random

    from pyspark.sql import functions as F

    from mcp_iceberg_duckdb_spark.functions.simjoin import (
        exact_containment_pairs,
    )
    from mcp_iceberg_duckdb_spark.operators._util import r6

    rng = random.Random(11)
    vocab = [f"t{i}" for i in range(40)]
    rows = []
    for i in range(80):
        rows.append((i, rng.sample(vocab, rng.randint(1, 12))))
    for i in range(80, 120):  # plant subsets: guaranteed containments
        base = rows[rng.randrange(70)][1]
        k = max(1, rng.randint(len(base) // 2, len(base)))
        rows.append((i, rng.sample(base, k)))
    docs = spark_mod.createDataFrame(rows, "doc_id int, sh array<string>")
    a, b = docs.alias("a"), docs.alias("b")
    for (num, den), min_len, k_hits in [
        ((1, 2), 1, 1),
        ((4, 5), 1, 4),
        ((9, 10), 1, 2),
        ((1, 1), 1, 4),
        ((4, 5), 5, 4),  # contained-side length gate active
    ]:
        got = {
            tuple(r)
            for r in exact_containment_pairs(
                docs, num, den, min_len=min_len, k_hits=k_hits
            ).collect()
        }
        want = {
            tuple(r)
            for r in a.join(
                b,
                (F.col("a.doc_id") != F.col("b.doc_id"))
                & (F.size("a.sh") >= min_len),
            )
            .withColumn(
                "c",
                r6(
                    F.size(F.array_intersect("a.sh", "b.sh"))
                    / F.size("a.sh").cast("double")
                ),
            )
            .filter(F.col("c") >= F.lit(num / den))
            .select(F.col("a.doc_id"), F.col("b.doc_id"), "c")
            .collect()
        }
        assert got == want, (
            f"t={num}/{den} min_len={min_len} K={k_hits}: "
            f"missing={sorted(want - got)[:3]} "
            f"extra={sorted(got - want)[:3]}"
        )


def test_approx_contracts_pin_true(spark_mod, sf_dir):
    """Every decidable contract for a hash-family-specific operator
    must come out all-TRUE on the fixtures — these are the bits the
    driver hashes against the oracle's pinned TRUE columns."""
    from mcp_iceberg_duckdb_spark import registry

    registry.load_all()
    for name in [
        "x_dedup_minhash_lsh",
        "x_dedup_minhash_mllib",
        "x_dedup_simhash",
        "x_dedup_cluster_cc_lsh",
        "x_ann_lsh_topk",
        "x_ann_ivf_topk",
        "x_embed_kmeans",
        "p_sample",
    ]:
        row = registry.QUERIES[name].builder(spark_mod, sf_dir).collect()
        assert len(row) == 1, f"{name}: contract must be one row"
        for field, val in row[0].asDict().items():
            if isinstance(val, bool):
                assert val is True, f"{name}.{field} is {val}"


def test_load_driver_history_parses_rounds(tmp_path):
    """Every CORRECTNESS_r*.json feeds the history: failures in the
    LATEST round (only) are red, and each query keeps its latest green
    round number, so a query that failed then later passed is green."""
    import json

    from mcp_iceberg_duckdb_spark import registry

    g = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    bad_hash = dict(g, hash_match=False)
    rows_only = {"rows_match": True, "schema_match": True, "err": None}
    errored = dict(g, err="boom")
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"q_a": g, "q_b": bad_hash, "q_fixed": errored})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"q_c": g, "q_d": bad_hash, "q_e": rows_only, "q_fixed": g})
    )
    red, last_green = registry._load_driver_history(str(tmp_path))
    # q_b failed in r01 (not latest) — not red; q_d failed in r02 — red
    assert red == {"q_d"}
    assert "q_b" not in last_green and "q_d" not in last_green
    # latest-green round numbers drive the staleness rotation
    assert last_green == {"q_a": 1, "q_c": 2, "q_e": 2, "q_fixed": 2}
    # a REGRESSION (green earlier, failed in the latest round) must
    # re-head the sample
    (tmp_path / "CORRECTNESS_r03.json").write_text(
        json.dumps({"q_a": dict(g, hash_match=False)})
    )
    red3, _ = registry._load_driver_history(str(tmp_path))
    assert red3 == {"q_a"}
    # no files → empty history
    empty = tmp_path / "empty"
    empty.mkdir()
    assert registry._load_driver_history(str(empty)) == (frozenset(), {})


# --- ExactSubstr interval-union formula (x_text_exactsubstr_scrub) -------


@given(
    st.sets(st.integers(min_value=0, max_value=200), max_size=40),
    st.integers(min_value=1, max_value=15),
)
@settings(max_examples=300, deadline=None)
def test_interval_union_lead_formula(positions, k):
    """The per-doc covered-token count in x_text_exactsubstr_scrub is
    computed as Σ min(k, next_p − p) over sorted duplicate window
    positions (last term k) — one lead() window, no interval
    merging. It must equal the brute-force union length of the
    [p, p+k−1] intervals for ANY position set and window width."""
    ps = sorted(positions)
    formula = sum(
        min(k, (ps[i + 1] - ps[i]) if i + 1 < len(ps) else k)
        for i in range(len(ps))
    )
    brute = len({t for p in ps for t in range(p, p + k)})
    assert formula == brute


def test_prefix_filtered_cross_join_equals_bruteforce(spark_mod):
    """The CROSS-COLLECTION variant (exact_jaccard_join, the
    incremental-dedup primitive) must also be lossless against the
    nested-loop R×S join across thresholds, including t=1 — its
    prefixes come from a shared global order over the union, and a
    bug there would silently drop cross pairs only."""
    import random

    from pyspark.sql import functions as F

    from mcp_iceberg_duckdb_spark.functions.simjoin import exact_jaccard_join
    from mcp_iceberg_duckdb_spark.functions.textfns import jaccard
    from mcp_iceberg_duckdb_spark.operators._util import r6

    rng = random.Random(13)
    vocab = [f"t{i}" for i in range(40)]
    rows = []
    for i in range(120):
        rows.append((i, rng.sample(vocab, rng.randint(1, 12))))
    for i in range(120, 160):  # plant cross near-dups and exact dups
        base = list(rows[rng.randrange(100)][1])
        if len(base) > 2 and rng.random() < 0.7:
            base[rng.randrange(len(base))] = rng.choice(vocab)
        rows.append((i, list(dict.fromkeys(base))))
    docs = spark_mod.createDataFrame(rows, "doc_id int, sh array<string>")
    left = docs.filter(F.col("doc_id") % 3 == 0)
    right = docs.filter(F.col("doc_id") % 3 != 0)
    a, b = left.alias("a"), right.alias("b")
    for num, den in [(1, 2), (4, 5), (1, 3), (1, 1)]:
        got = {
            tuple(r) for r in exact_jaccard_join(left, right, num, den).collect()
        }
        want = {
            tuple(r)
            for r in a.crossJoin(b)
            .withColumn("j", r6(jaccard(F.col("a.sh"), F.col("b.sh"))))
            .filter(F.col("j") >= F.lit(num / den))
            .select(F.col("a.doc_id"), F.col("b.doc_id"), "j")
            .collect()
        }
        assert got == want, (
            f"t={num}/{den}: missing={sorted(want - got)[:3]} "
            f"extra={sorted(got - want)[:3]}"
        )


@given(
    st.integers(min_value=1, max_value=1000),
    st.integers(min_value=1, max_value=1000),
)
@settings(max_examples=500, deadline=None)
def test_effective_threshold_exact_rational(a, b):
    """The prefix/length filters prune against t_eff = num/den − 5e-7
    (the loosest true Jaccard that can round6 up to the nominal
    threshold). The integer rational must represent that value
    EXACTLY — any float detour would reintroduce the truncated-prefix
    false-negative class the integer math exists to prevent."""
    from fractions import Fraction

    from mcp_iceberg_duckdb_spark.functions.simjoin import (
        _effective_threshold,
    )

    num, den = min(a, b), max(a, b)
    ne, de = _effective_threshold(num, den)
    assert Fraction(ne, de) == Fraction(num, den) - Fraction(1, 2_000_000)
    assert de > 0


# --- round-5 third-wave primitives -------------------------------------


@given(
    st.lists(
        st.integers(min_value=0, max_value=10**9), min_size=1, max_size=60
    )
)
@settings(max_examples=200, deadline=None)
def test_counter_increase_decomposition(vals):
    """Pure-Python reference of s_counter_increase's fold: the
    positive-delta sum plus the reset drops must reconstruct the
    net movement — increase - Σ|drops| == last - first, and resets
    counts exactly the strict decreases."""
    inc = sum(max(b - a, 0) for a, b in zip(vals, vals[1:]))
    drops = sum(max(a - b, 0) for a, b in zip(vals, vals[1:]))
    resets = sum(1 for a, b in zip(vals, vals[1:]) if b < a)
    assert inc - drops == vals[-1] - vals[0]
    assert resets <= max(len(vals) - 1, 0)
    if resets == 0:
        assert drops == 0


@given(st.text(max_size=40), st.text(max_size=40))
@settings(max_examples=150, deadline=None)
def test_levenshtein_length_band_is_lossless(a, b):
    """The length-band prune |len(a) − len(b)| ≤ d used by
    x_dedup_levenshtein is lossless: edit distance is bounded below
    by the length difference, so no pair within the distance
    threshold can be dropped by the band."""

    def lev(x, y):
        if len(x) < len(y):
            x, y = y, x
        prev = list(range(len(y) + 1))
        for i, cx in enumerate(x, 1):
            cur = [i]
            for j, cy in enumerate(y, 1):
                cur.append(
                    min(
                        prev[j] + 1,
                        cur[j - 1] + 1,
                        prev[j - 1] + (cx != cy),
                    )
                )
            prev = cur
        return prev[-1]

    assert lev(a, b) >= abs(len(a) - len(b))


@given(
    st.integers(min_value=0, max_value=65535),
    st.integers(min_value=0, max_value=65535),
)
@settings(max_examples=200, deadline=None)
def test_morton_interleave_roundtrips(a, b):
    """The Z-order bit interleave (x_layout_zorder) must be a
    bijection on 16-bit pairs: deinterleaving the Morton key
    recovers both coordinates exactly."""
    z = 0
    for i in range(16):
        z |= ((a >> i) & 1) << (2 * i)
        z |= ((b >> i) & 1) << (2 * i + 1)
    ra = sum(((z >> (2 * i)) & 1) << i for i in range(16))
    rb = sum(((z >> (2 * i + 1)) & 1) << i for i in range(16))
    assert (ra, rb) == (a, b)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**6),
            st.integers(min_value=1, max_value=10**6),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=150, deadline=None)
def test_twa_is_convex_combination(samples):
    """Time-weighted average reference: Σ v·dur / Σ dur must lie in
    [min v, max v] — the invariant test_diagnostics pins on the
    Spark output, proven here on arbitrary inputs."""
    num = sum(v * d for v, d in samples)
    den = sum(d for _, d in samples)
    twa = num / den
    vs = [v for v, _ in samples]
    assert min(vs) - 1e-9 <= twa <= max(vs) + 1e-9


@given(
    st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=64),
    st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=64),
)
@settings(max_examples=150, deadline=None)
def test_join_blowup_histogram_product_is_exact(left, right):
    """Σ_k c_l(k)·c_r(k) equals the true equi-join cardinality on
    arbitrary key multisets — the identity x_diag_join_blowup relies
    on (verified against a literal nested-loop count)."""
    from collections import Counter

    cl, cr = Counter(left), Counter(right)
    est = sum(c * cr.get(k, 0) for k, c in cl.items())
    actual = sum(1 for x in left for y in right if x == y)
    assert est == actual


def test_star_components_equals_minlabel_on_hard_topologies(spark_mod):
    """large-star/small-star CC must agree with the min-label loop
    AND a driver-side union-find on topologies that stress each:
    a long path (diameter >> log n — min-label's worst case), a
    star, a dense random graph, and a multi-component mix with
    shuffled ids (seeded — deterministic)."""
    import random

    from mcp_iceberg_duckdb_spark.operators.dedup import (
        connected_components,
        star_components,
    )

    rng = random.Random(7)

    def uf_labels(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in parent}

    cases = {
        "path": [(i, i + 1) for i in range(60)],
        "star": [(0, i) for i in range(1, 40)],
        "dense": [
            tuple(sorted(rng.sample(range(80), 2))) for _ in range(300)
        ],
        "mix": (
            [(i, i + 1) for i in range(0, 20)]
            + [(100 + i, 100 + i + 1) for i in range(0, 15)]
            + [(200, 201), (300, 301), (301, 302)]
        ),
    }
    for name, raw in cases.items():
        edges = sorted({(min(a, b), max(a, b)) for a, b in raw if a != b})
        # shuffle ids so component minima are not positional artifacts
        ids = sorted({n for e in edges for n in e})
        perm = dict(zip(ids, rng.sample(range(10_000), len(ids))))
        edges = [(perm[a], perm[b]) for a, b in edges]
        df = spark_mod.createDataFrame(
            [(min(a, b), max(a, b)) for a, b in edges],
            schema="src bigint, dst bigint",
        )
        want = uf_labels(edges)
        got_stars = {
            r.node: r.label for r in star_components(df).collect()
        }
        got_minlabel = {
            r.node: r.label for r in connected_components(df).collect()
        }
        assert got_stars == want, f"{name}: stars != union-find"
        assert got_minlabel == want, f"{name}: min-label != union-find"
