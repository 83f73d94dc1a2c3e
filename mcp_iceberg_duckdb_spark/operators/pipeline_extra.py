"""Round-3 training-data-pipeline operators (tier X — SURVEY.md
§2.11 extensions): semantic dedup over embedding clusters (SemDeDup),
corpus-common-shingle boilerplate scoring (C4-style), deterministic
hash-based train/val/test splitting + stratified sampling, BM25-idf
TF-IDF top terms, and top-K vocabulary coverage.

Everything is DataFrame-declarative; the only driver-side state is a
broadcast k×dim centroid table and a 20-row vocabulary head. Scale
notes per operator; no op carries an all-pairs join across the corpus
(SemDeDup's within-cluster pair scoring is bounded by cluster size,
which the cluster count k controls — that IS the published algorithm's
scaling knob).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from mcp_iceberg_duckdb_spark.functions.textfns import tokens, word_shingles
from mcp_iceberg_duckdb_spark.functions.vector import as_double, cosine, dot, l2_norm
from mcp_iceberg_duckdb_spark.operators._util import parallelize, r6, rn, t
from mcp_iceberg_duckdb_spark.registry import query

_SEM_TAU = 0.25  # within-cluster cosine above which the later vec drops


def label_centroid_assignment(e):
    """Shared SemDeDup primitive (arXiv:2303.09540): per-label mean
    centroids (posexplode → one (label, dim) groupBy with map-side
    partials), k-row centroid table broadcast, argmax-cosine
    assignment via a per-vector window over k candidate rows. Returns
    the PERSISTED assignment (vec_id, v, cluster_id, nrm) — callers
    join it against itself on cluster_id, so pair work is
    Σ(cluster_size²) with k as the scaling knob, never corpus².
    Per-vector L2 norms are precomputed so each candidate pair costs
    one dot-product fold (cosine = dot/(nₐ·n_b)).

    ``e`` must carry (vec_id, label, v double-array)."""
    comp = (
        e.select("label", F.posexplode("v").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.avg("x").alias("cx"))
    )
    cent = comp.groupBy(F.col("label").alias("clabel")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cx"))), lambda s: s.cx
        ).alias("cv")
    )
    scored = e.crossJoin(F.broadcast(cent)).select(
        "vec_id", "v", "clabel", cosine(F.col("v"), F.col("cv")).alias("sim")
    )
    # Argmax orders on the MICRO-QUANTIZED similarity (int micro-units),
    # not the raw float: a last-ulp divergence between Spark's fold and
    # DuckDB's list_cosine_similarity near an exact tie would otherwise
    # flip the assignment — the repo's round-before-compare discipline
    # applies to ordering keys too. clabel breaks quantized ties.
    simq = F.floor(F.col("sim") * F.lit(1e6) + F.lit(0.5)).cast("bigint")
    w = W.partitionBy("vec_id").orderBy(simq.desc(), "clabel")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "v", F.col("clabel").alias("cluster_id"))
        .withColumn("nrm", l2_norm(F.col("v")))
        .persist()
    )


@query(
    "x_semdedup",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    flat AS (
        SELECT e.label, g.i, e.v[g.i] AS x
        FROM e, LATERAL (SELECT unnest(generate_series(1, len(e.v))) AS i) g
    ),
    comp AS (
        SELECT label, i, avg(x) AS cx FROM flat GROUP BY label, i
    ),
    cent AS (
        SELECT label AS clabel, list(cx ORDER BY i) AS cv FROM comp GROUP BY label
    ),
    scored AS (
        SELECT e.vec_id, e.v, c.clabel,
               list_cosine_similarity(e.v, c.cv) AS sim
        FROM e CROSS JOIN cent c
    ),
    assigned AS (
        SELECT vec_id, v, clabel AS cluster_id FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                          ORDER BY CAST(floor(sim * 1e6 + 0.5) AS BIGINT) DESC, clabel) AS rn
            FROM scored
        ) WHERE rn = 1
    )
    SELECT a.vec_id, a.cluster_id,
           NOT EXISTS (
               SELECT 1 FROM assigned b
               WHERE b.cluster_id = a.cluster_id AND b.vec_id < a.vec_id
                 AND floor((list_cosine_similarity(a.v, b.v)) * 1e6 + 0.5) / 1e6
                     >= {_SEM_TAU}
           ) AS keep
    FROM assigned a
    """,
    tags=("dedup", "tierx"),
)
def x_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space, then drop any vector whose cosine to an
    earlier-id vector IN THE SAME CLUSTER reaches τ — semantic
    near-dup removal without any cross-cluster comparison.

    Spark shape: per-label mean centroids (posexplode → one (label,
    dim) groupBy with map-side partials), k-row centroid table
    broadcast, argmax-cosine assignment as a shuffle-free map + a
    per-vector window over k candidate rows (the
    x_embed_centroid_assign primitive), then ONE equi-join on
    cluster_id for the within-cluster pair scoring. Pair work is
    Σ(cluster_size²), not corpus² — at 100 TB you raise k so clusters
    stay bounded (the paper runs k≈11k for 600 M docs) and the join
    keys pre-partition the corpus by cluster. The argmax window orders
    on the micro-quantized similarity (round-before-compare applies to
    ordering keys too — see label_centroid_assignment); the drop
    decision compares r6-rounded pair cosines, identical in both
    engines.

    Cost shape: ``assigned`` is persisted (it feeds both pair-join
    sides and the final keep-join — unpersisted, the centroid +
    assignment pipeline would run three times); per-vector norms are
    computed ONCE there, so each candidate pair evaluates a single
    dot-product fold instead of dot + two norm folds (cosine =
    dot/(nₐ·n_b) — the identical expression tree, just factored);
    the input is repartitioned so the pair join is not bound to the
    fixture file's single row group. Measured 12.8 s → ~2 s at sf0.1."""
    e = parallelize(
        t(spark, sf_dir).embeddings.select(
            "vec_id", "label", as_double("embedding").alias("v")
        )
    )
    assigned = label_centroid_assignment(e)
    a, b = assigned.alias("a"), assigned.alias("b")
    pair_cos = dot(F.col("a.v"), F.col("b.v")) / F.nullif(
        F.col("a.nrm") * F.col("b.nrm"), F.lit(0.0)
    )
    dropped = (
        a.join(
            b,
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col("b.vec_id") < F.col("a.vec_id"))
            & (r6(pair_cos) >= F.lit(_SEM_TAU)),
        )
        .select(F.col("a.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return assigned.join(dropped, "vec_id", "left").select(
        "vec_id",
        "cluster_id",
        F.coalesce(~F.col("_dup"), F.lit(True)).alias("keep"),
    )


_BP_DF = 4  # shingle is "corpus-common" when it appears in >= 4 docs
_BP_RATIO = 0.2


@query(
    "x_text_boilerplate",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, list_distinct(list_transform(
            range(greatest(len(string_split(text, ' ')) - 2, 1)),
            i -> array_to_string(string_split(text, ' ')[i + 1:i + 3], ' ')
        )) AS sh FROM documents
    ),
    tok AS (SELECT doc_id, unnest(sh) AS s FROM d),
    dfreq AS (SELECT s, count(*) AS df FROM tok GROUP BY s),
    per_doc AS (
        SELECT t.doc_id, count(*) AS n_shingles,
               count(CASE WHEN f.df >= {_BP_DF} THEN 1 END) AS n_common
        FROM tok t JOIN dfreq f ON t.s = f.s
        GROUP BY t.doc_id
    )
    SELECT doc_id, n_shingles, n_common,
           floor((CAST(n_common AS DOUBLE) / n_shingles) * 1e6 + 0.5) / 1e6
               AS boilerplate_ratio,
           floor((CAST(n_common AS DOUBLE) / n_shingles) * 1e6 + 0.5) / 1e6
               >= {_BP_RATIO} AS is_boilerplate
    FROM per_doc
    """,
    tags=("text", "tierx"),
)
def x_text_boilerplate(spark, sf_dir):
    """Corpus-common-shingle boilerplate scoring — the C4/RefinedWeb
    signal for navigation chrome, license banners, and template text:
    a document whose distinct 3-shingles are mostly shared with many
    other documents is boilerplate, not content.

    Spark shape: explode distinct shingles (linear), ONE groupBy
    shuffle for corpus document-frequency, ONE key-shuffle join back
    (vocab stays distributed — never collected), ONE groupBy back to
    doc grain. All three shuffles are on linear row counts; at 100 TB
    the df table is the same banding layout the LSH dedup already
    shuffles, and AQE handles the head-word skew (common shingles hit
    many docs by definition — that skew is the signal).

    Cost shape (round-4 rework, was 15.3 s = 34% of the sf0.1 bench):
    (a) the exploded shingle relation feeds BOTH the df groupBy and
    the join back — persist() it so tokenize+shingle+explode runs
    once, not twice (the x_semdedup recipe); (b) every shuffle moves
    xxhash64 of the shingle, never the raw 3-word string — the
    persisted relation and all three exchanges carry two int64s per
    row. The output never needs the shingle text, so the strings die
    at the map stage. A 64-bit hash collision would merge two
    shingles' df counts; at the 100 TB design point (~1e12 distinct
    shingles) collisions are ~1e-4 of vocab and the df signal is a
    >=4 threshold, so the decision boundary is unaffected."""
    d = t(spark, sf_dir).documents
    sh = (
        d.select("doc_id", F.explode(word_shingles("text", 3)).alias("s"))
        .select("doc_id", F.xxhash64("s").alias("h"))
        .persist()
    )
    dfreq = sh.groupBy("h").agg(F.count("*").alias("df"))
    ratio = F.col("n_common").cast("double") / F.col("n_shingles")
    return (
        sh.join(dfreq, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count(F.when(F.col("df") >= _BP_DF, F.lit(1))).alias("n_common"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_common",
            r6(ratio).alias("boilerplate_ratio"),
            (r6(ratio) >= F.lit(_BP_RATIO)).alias("is_boilerplate"),
        )
    )


@query(
    "x_corpus_split_hash",
    oracle="""
    SELECT doc_id, source,
           substr(md5(CAST(doc_id AS VARCHAR) || ':' || source), 1, 4)
               AS bucket_hex,
           CASE
               WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':' || source), 1, 4)
                    < 'e666' THEN 'train'
               WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':' || source), 1, 4)
                    < 'f333' THEN 'val'
               ELSE 'test'
           END AS split,
           substr(md5('sample:' || CAST(doc_id AS VARCHAR) || ':' || source), 1, 4)
               < CASE WHEN length(source) = 4 THEN '8000' ELSE '2000' END
               AS in_sample
    FROM documents
    """,
    tags=("text", "tierx"),
)
def x_corpus_split_hash(spark, sf_dir):
    """Deterministic hash-based train/val/test split (90/5/5) plus
    stratified Bernoulli sampling (50% for single-digit sources,
    12.5% for the rest) — the reproducible way to split or subsample
    a corpus: membership depends only on (doc_id, source), never on
    row order, partitioning, task retries, or engine, so reruns and
    incremental appends land every document in the same bucket.
    rand()/TABLESAMPLE give none of those guarantees.

    md5 hex is identical in every engine; comparing the first 4 hex
    chars against a literal partitions [0,1) into 65536 cells ('e666'
    ≈ 0.9, 'f333' ≈ 0.95, '8000' = 0.5, '2000' = 0.125). The sampling
    hash is salted ('sample:') so sample membership is independent of
    split assignment. Shuffle-free per-row map — at 100 TB this runs
    inside whole-stage codegen on the scan, and the split column
    doubles as a partition key for the write."""
    d = t(spark, sf_dir).documents
    key = F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("source"))
    h_split = F.substring(F.md5(key), 1, 4)
    h_samp = F.substring(F.md5(F.concat(F.lit("sample:"), key)), 1, 4)
    rate = F.when(F.length("source") == 4, F.lit("8000")).otherwise(
        F.lit("2000")
    )
    return d.select(
        "doc_id",
        "source",
        h_split.alias("bucket_hex"),
        F.when(h_split < "e666", "train")
        .when(h_split < "f333", "val")
        .otherwise("test")
        .alias("split"),
        (h_samp < rate).alias("in_sample"),
    )


@query(
    "x_text_tfidf_topk",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
               floor((CAST(tf.tf AS DOUBLE)
                     * ((CAST(n.n_docs AS DOUBLE) - CAST(dfq.df AS DOUBLE) + 0.5)
                        / (CAST(dfq.df AS DOUBLE) + 0.5))) * 1e6 + 0.5) / 1e6
                   AS tfidf
        FROM tf JOIN dfq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, tfidf, CAST(rk AS BIGINT) AS rk FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                      ORDER BY tfidf DESC, term) AS rk
        FROM scored
    ) WHERE rk <= 3
    """,
    tags=("text", "tierx"),
)
def x_text_tfidf_topk(spark, sf_dir):
    """Top-3 characteristic terms per document by TF-IDF, with the
    BM25 idf ratio (N − df + 0.5)/(df + 0.5) instead of a logarithm:
    same ranking monotonicity, but every operation is an IEEE
    add/sub/mul/div — bit-identical across engines, where ln() is
    only libm-accurate and can flip a 6dp rounding boundary.

    Spark shape: explode → (doc, term) count [shuffle 1] → term df
    from the tf relation [shuffle 2, input already one row per (doc,
    term)] → join tf⋈df on xxhash64(term) [key shuffle; at sf the df
    side broadcasts under AQE] → corpus count broadcast → per-doc
    top-3 via rank-limited window (WindowGroupLimit: only 3 rows per
    doc survive the shuffle). Ranking compares the ROUNDED score with
    a term tiebreak, so order is engine-identical.

    Cost shape (round-4 rework, was the second-heaviest bench query):
    tf feeds both the df groupBy and the join — persist() it so the
    tokenize+explode+count pipeline runs once; the df groupBy and the
    tf⋈df join shuffle the 64-bit term hash, with the term string
    riding only on the tf side (it is an output column). Collisions
    merge df counts for two terms — negligible at any realistic vocab
    (birthday bound ~1e-7 at 1e6 terms) and deterministic either way."""
    d = t(spark, sf_dir).documents
    tok = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = (
        tok.groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .withColumn("h", F.xxhash64("term"))
        .persist()
    )
    dfq = tf.groupBy("h").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    idf = (
        F.col("n_docs").cast("double") - F.col("df").cast("double") + F.lit(0.5)
    ) / (F.col("df").cast("double") + F.lit(0.5))
    scored = (
        tf.join(dfq, "h")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            r6(F.col("tf").cast("double") * idf).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf", "rk")
    )


_VOCAB_K = 20


@query(
    "x_text_vocab_coverage",
    oracle=f"""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    cnt AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
    tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS tot FROM cnt),
    ranked AS (
        SELECT token, cnt,
               row_number() OVER (ORDER BY cnt DESC, token) AS rk
        FROM cnt
    )
    SELECT CAST(rk AS BIGINT) AS rk, token, cnt,
           floor((CAST(sum(cnt) OVER (ORDER BY rk
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS DOUBLE) / tot) * 1e6 + 0.5) / 1e6 AS cum_share
    FROM ranked CROSS JOIN tot
    WHERE rk <= {_VOCAB_K}
    """,
    tags=("text", "tierx"),
)
def x_text_vocab_coverage(spark, sf_dir):
    """Top-K vocabulary coverage: what fraction of all token
    occurrences the K most frequent tokens account for (the
    Zipf-curve head a tokenizer or stopword list is designed
    against).

    Spark shape: ONE groupBy shuffle builds the distributed vocab
    histogram; the corpus total is an agg broadcast back; the top-K
    head is a TakeOrdered (never a full sort), and the running-share
    window runs on K rows in a single partition — K is a constant,
    so the single-partition window is a driver-sized tail, not a
    scale risk. Vocab itself stays distributed throughout."""
    d = t(spark, sf_dir).documents
    cnt = (
        d.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    tot = cnt.agg(F.sum("cnt").cast("double").alias("tot"))
    top = cnt.orderBy(F.col("cnt").desc(), "token").limit(_VOCAB_K)
    w_rk = W.orderBy(F.col("cnt").desc(), "token")
    wc = W.orderBy("rk").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        top.withColumn("rk", F.row_number().over(w_rk).cast("bigint"))
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "cum_share",
            r6(F.sum("cnt").over(wc).cast("double") / F.col("tot")),
        )
        .select("rk", "token", "cnt", "cum_share")
    )


@query(
    "x_text_length_filter",
    oracle="""
    WITH d AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
    ),
    hist AS (SELECT n_tokens AS v, count(*) AS c FROM d GROUP BY n_tokens),
    cum AS (
        SELECT v, sum(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cf
        FROM hist
    ),
    tot AS (SELECT count(*) AS n FROM d),
    thr AS (
        SELECT min(CASE WHEN cf * 20 >= n THEN v END)      AS lo_cut,
               min(CASE WHEN cf * 20 >= 19 * n THEN v END) AS hi_cut
        FROM cum CROSS JOIN tot
    )
    SELECT d.doc_id, d.n_tokens, t.lo_cut, t.hi_cut,
           d.n_tokens >= t.lo_cut AND d.n_tokens <= t.hi_cut AS keep
    FROM d CROSS JOIN thr t
    """,
    tags=("text", "tierx"),
)
def x_text_length_filter(spark, sf_dir):
    """Exact P5–P95 token-length band filter (the Gopher/C4 length
    rule) computed scale-correctly: instead of sorting the corpus for
    exact percentiles, build the HISTOGRAM of the metric (one groupBy
    on a small integer domain), take the running sum over the
    histogram's distinct values, and read the cutoffs where the
    cumulative count crosses 5%/95% of N. The percentile comparisons
    are pure int64 arithmetic (cf·20 ≥ N, cf·20 ≥ 19·N) — no float
    percentile definition to disagree on, engine to engine.

    Scale: the corpus is never sorted; the only per-doc work is the
    token count (codegen'd map) and a broadcast join against the
    2-value threshold row. The running-sum window runs on the
    histogram — |distinct lengths| rows (~1e5 even at 100 TB), a
    driver-sized relation. approx_percentile would trade exactness
    for nothing here."""
    d = t(spark, sf_dir).documents.select(
        "doc_id", F.size(tokens("text")).cast("bigint").alias("n_tokens")
    )
    hist = d.groupBy(F.col("n_tokens").alias("v")).agg(F.count("*").alias("c"))
    wcum = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = hist.withColumn("cf", F.sum("c").over(wcum))
    tot = d.agg(F.count("*").alias("n"))
    thr = cum.crossJoin(F.broadcast(tot)).agg(
        F.min(F.when(F.col("cf") * 20 >= F.col("n"), F.col("v"))).alias(
            "lo_cut"
        ),
        F.min(F.when(F.col("cf") * 20 >= 19 * F.col("n"), F.col("v"))).alias(
            "hi_cut"
        ),
    )
    return d.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "n_tokens",
        "lo_cut",
        "hi_cut",
        (
            (F.col("n_tokens") >= F.col("lo_cut"))
            & (F.col("n_tokens") <= F.col("hi_cut"))
        ).alias("keep"),
    )


@query(
    "x_embed_norm_check",
    oracle="""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    )
    SELECT vec_id,
           len(v) AS dim,
           floor((sqrt(list_sum(list_transform(v, x -> x * x)))) * 1e8 + 0.5)
               / 1e8 AS l2_norm,
           floor((list_max(list_transform(v, x -> abs(x)))) * 1e6 + 0.5) / 1e6
               AS max_abs,
           len(list_filter(v, x -> isnan(x) OR isinf(x))) AS n_nonfinite,
           abs(floor((sqrt(list_sum(list_transform(v, x -> x * x)))) * 1e8 + 0.5)
               / 1e8 - 1.0) <= 0.001 AS is_normalized
    FROM e
    """,
    tags=("similarity", "tierx"),
)
def x_embed_norm_check(spark, sf_dir):
    """Embedding-hygiene QA — the sanity pass before any similarity
    or dedup stage trusts a vector column: dimension, L2 norm (8 dp —
    the fixture embeddings are unit-normalized, so differences live
    at 1e-7), max |component|, non-finite count, and an
    is-normalized flag. A NaN that slips into one vector silently
    poisons every cosine it touches; this op localizes it to a row.

    Shuffle-free per-row map over the scan — the folds are
    sequential JVM higher-order functions (same left-to-right order
    as DuckDB's list_sum, so the doubles agree bit-for-bit before
    rounding)."""
    e = t(spark, sf_dir).embeddings.select(
        "vec_id", as_double("embedding").alias("v")
    )
    norm = l2_norm(F.col("v"))
    norm_r8 = rn(norm, 8)
    return e.select(
        "vec_id",
        F.size("v").cast("bigint").alias("dim"),
        norm_r8.alias("l2_norm"),
        r6(F.array_max(F.transform("v", lambda x: F.abs(x)))).alias("max_abs"),
        F.size(
            F.filter(
                "v", lambda x: F.isnan(x) | (F.abs(x) == F.lit(float("inf")))
            )
        )
        .cast("bigint")
        .alias("n_nonfinite"),
        (F.abs(norm_r8 - F.lit(1.0)) <= F.lit(0.001)).alias("is_normalized"),
    )


_LP_UNUSUAL = -3.43  # avg token log-prob below this = atypical doc


@query(
    "x_text_unigram_logprob",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents
    ),
    cnt AS (SELECT tk, count(*) AS c FROM tok GROUP BY tk),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM tok),
    lp AS (
        SELECT tk,
               CAST(floor(ln(CAST(c AS DOUBLE) / total) * 1e6 + 0.5) AS BIGINT)
                   AS lp_micro
        FROM cnt CROSS JOIN tot
    ),
    per AS (
        SELECT t.doc_id, count(*) AS n_tokens, sum(lp.lp_micro) AS s
        FROM tok t JOIN lp ON t.tk = lp.tk
        GROUP BY t.doc_id
    )
    SELECT doc_id, n_tokens,
           floor(((CAST(s AS DOUBLE) / 1e6) / n_tokens) * 1e6 + 0.5) / 1e6
               AS avg_logprob,
           floor(((CAST(s AS DOUBLE) / 1e6) / n_tokens) * 1e6 + 0.5) / 1e6
               < {_LP_UNUSUAL} AS is_unusual
    FROM per
    """,
    tags=("text", "tierx"),
)
def x_text_unigram_logprob(spark, sf_dir):
    """Unigram language-model quality score (the CCNet/KenLM-filter
    shape with the LM reduced to corpus unigrams): per document, the
    mean log-probability of its tokens under the corpus unigram
    distribution — atypical token mixes score low and get flagged.

    Determinism: each token's ln(p) is quantized to integer
    MICRO-NATS per row (floor(ln(p)·1e6 + 0.5) — pure IEEE, and only
    |vocab| distinct ln inputs exist corpus-wide), so the per-doc
    aggregation is an exact int64 sum, immune to the
    float-sum-order-by-partitioning hash-mismatch class that
    motivated dec_sum. The final division back to nats is one IEEE
    divide on both engines.

    Scale: vocab groupBy [shuffle 1] + 1-row total broadcast; the
    token→log-prob join is a key shuffle (vocab stays distributed; at
    sf it broadcasts under AQE); doc-grain groupBy [last shuffle]
    moves one int64 per token. Swapping in a real KenLM means
    replacing the lp relation with a mapInPandas scorer — the
    aggregation shape is unchanged.

    Cost shape (round-4 rework): the exploded token relation is
    hashed to (doc_id, xxhash64(tk)) — two int64s — and persisted,
    since it feeds both the vocab count and the join back; the corpus
    total is derived from the vocab histogram (sum of counts — exact
    same number) instead of a third pass over the tokens. Token
    strings never leave the map stage."""
    d = t(spark, sf_dir).documents
    tok = (
        d.select("doc_id", F.explode(tokens("text")).alias("tk"))
        .select("doc_id", F.xxhash64("tk").alias("h"))
        .persist()
    )
    cnt = tok.groupBy("h").agg(F.count("*").alias("c"))
    tot = cnt.agg(F.sum("c").cast("double").alias("total"))
    lp = cnt.crossJoin(F.broadcast(tot)).select(
        "h",
        F.floor(
            F.log(F.col("c").cast("double") / F.col("total")) * F.lit(1e6)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("lp_micro"),
    )
    per = (
        tok.join(lp, "h")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"), F.sum("lp_micro").alias("s"))
    )
    avg_lp = rn((F.col("s").cast("double") / F.lit(1e6)) / F.col("n_tokens"), 6)
    return per.select(
        "doc_id",
        "n_tokens",
        avg_lp.alias("avg_logprob"),
        (avg_lp < F.lit(_LP_UNUSUAL)).alias("is_unusual"),
    )


@query(
    "x_dsir_importance",
    oracle="""
    WITH tok AS (
        SELECT doc_id, lang = 'en' AS en, unnest(string_split(text, ' ')) AS tk
        FROM documents
    ),
    cnt AS (
        SELECT tk, count(*) AS cc,
               count(CASE WHEN en THEN 1 END) AS ct
        FROM tok GROUP BY tk
    ),
    stats AS (
        SELECT CAST(sum(cc) AS DOUBLE) AS c_all,
               CAST(sum(ct) AS DOUBLE) AS t_all,
               CAST(count(*) AS DOUBLE) AS v
        FROM cnt
    ),
    lr AS (
        SELECT tk,
               CAST(floor(ln(((CAST(ct AS DOUBLE) + 0.5) / (t_all + 0.5 * v))
                             / ((CAST(cc AS DOUBLE) + 0.5) / (c_all + 0.5 * v)))
                          * 1e6 + 0.5) AS BIGINT) AS lr_micro
        FROM cnt CROSS JOIN stats
    ),
    per AS (
        SELECT t.doc_id, count(*) AS n_tokens, sum(lr.lr_micro) AS s
        FROM tok t JOIN lr ON t.tk = lr.tk
        GROUP BY t.doc_id
    )
    SELECT doc_id, n_tokens,
           floor(((CAST(s AS DOUBLE) / 1e6) / n_tokens) * 1e6 + 0.5) / 1e6
               AS avg_log_ratio,
           floor(((CAST(s AS DOUBLE) / 1e6) / n_tokens) * 1e6 + 0.5) / 1e6
               > 0.0 AS is_target_like
    FROM per
    """,
    tags=("text", "tierx"),
)
def x_dsir_importance(spark, sf_dir):
    """DSIR importance weighting (Xie et al. 2023, arXiv:2302.03169,
    "Data Selection for Language Models via Importance Resampling"):
    score every document by the average log-ratio of its tokens'
    probability under a TARGET unigram LM (here: the English subset)
    vs the full-corpus unigram LM. Documents whose token mix looks
    more target-like than corpus-average score > 0 and get upweighted
    when resampling a pretraining mix toward the target domain.

    Both LMs use additive 0.5 smoothing over the shared corpus vocab,
    so zero target counts stay finite. Determinism: one ln per
    DISTINCT token, quantized to integer micro-nats (the
    x_text_unigram_logprob recipe) — per-doc sums are exact int64,
    immune to float-order effects; the two count totals and the vocab
    size come from the same histogram so both engines see identical
    smoothing denominators.

    Scale: ONE vocab groupBy computes both counts (corpus count +
    conditional target count — no second pass over the tokens); the
    exploded relation is hashed to (doc_id, en-bit, int64) and
    persisted because it feeds the vocab histogram and the score-join;
    the 3-value stats row broadcasts. Exactly the
    x_text_unigram_logprob topology with a 2-column payload —
    linear end to end, target-LM swap = replacing the `lr` relation."""
    d = t(spark, sf_dir).documents
    tok = (
        d.select(
            "doc_id",
            (F.col("lang") == "en").alias("en"),
            F.explode(tokens("text")).alias("tk"),
        )
        .select("doc_id", "en", F.xxhash64("tk").alias("h"))
        .persist()
    )
    cnt = tok.groupBy("h").agg(
        F.count("*").alias("cc"),
        F.count(F.when(F.col("en"), F.lit(1))).alias("ct"),
    )
    stats = cnt.agg(
        F.sum("cc").cast("double").alias("c_all"),
        F.sum("ct").cast("double").alias("t_all"),
        F.count("*").cast("double").alias("v"),
    )
    p_target = (F.col("ct").cast("double") + F.lit(0.5)) / (
        F.col("t_all") + F.lit(0.5) * F.col("v")
    )
    p_corpus = (F.col("cc").cast("double") + F.lit(0.5)) / (
        F.col("c_all") + F.lit(0.5) * F.col("v")
    )
    lr = cnt.crossJoin(F.broadcast(stats)).select(
        "h",
        F.floor(F.log(p_target / p_corpus) * F.lit(1e6) + F.lit(0.5))
        .cast("bigint")
        .alias("lr_micro"),
    )
    per = (
        tok.join(lr, "h")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"), F.sum("lr_micro").alias("s"))
    )
    avg_lr = rn((F.col("s").cast("double") / F.lit(1e6)) / F.col("n_tokens"), 6)
    return per.select(
        "doc_id",
        "n_tokens",
        avg_lr.alias("avg_log_ratio"),
        (avg_lr > F.lit(0.0)).alias("is_target_like"),
    )


@query(
    "x_quality_stratified_sample",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents
    ),
    cnt AS (SELECT tk, count(*) AS c FROM tok GROUP BY tk),
    tot AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM cnt),
    lp AS (
        SELECT tk,
               CAST(floor(ln(CAST(c AS DOUBLE) / total) * 1e6 + 0.5) AS BIGINT)
                   AS lp_micro
        FROM cnt CROSS JOIN tot
    ),
    per AS (
        SELECT t.doc_id, count(*) AS n_tokens, sum(lp.lp_micro) AS s
        FROM tok t JOIN lp ON t.tk = lp.tk
        GROUP BY t.doc_id
    ),
    scored AS (
        SELECT doc_id,
               CAST(floor(CAST(s AS DOUBLE) / n_tokens) AS BIGINT) AS q_micro
        FROM per
    ),
    hist AS (SELECT q_micro AS v, count(*) AS c FROM scored GROUP BY q_micro),
    cum AS (
        SELECT v, sum(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cf
        FROM hist
    ),
    n AS (SELECT count(*) AS n_docs FROM scored),
    thr AS (
        SELECT min(CASE WHEN cf * 10 >= 1 * n_docs THEN v END) AS t1,
               min(CASE WHEN cf * 10 >= 2 * n_docs THEN v END) AS t2,
               min(CASE WHEN cf * 10 >= 3 * n_docs THEN v END) AS t3,
               min(CASE WHEN cf * 10 >= 4 * n_docs THEN v END) AS t4,
               min(CASE WHEN cf * 10 >= 5 * n_docs THEN v END) AS t5,
               min(CASE WHEN cf * 10 >= 6 * n_docs THEN v END) AS t6,
               min(CASE WHEN cf * 10 >= 7 * n_docs THEN v END) AS t7,
               min(CASE WHEN cf * 10 >= 8 * n_docs THEN v END) AS t8,
               min(CASE WHEN cf * 10 >= 9 * n_docs THEN v END) AS t9
        FROM cum CROSS JOIN n
    ),
    dec AS (
        SELECT s.doc_id, s.q_micro,
               1 + CAST(s.q_micro > t.t1 AS BIGINT) + CAST(s.q_micro > t.t2 AS BIGINT)
                 + CAST(s.q_micro > t.t3 AS BIGINT) + CAST(s.q_micro > t.t4 AS BIGINT)
                 + CAST(s.q_micro > t.t5 AS BIGINT) + CAST(s.q_micro > t.t6 AS BIGINT)
                 + CAST(s.q_micro > t.t7 AS BIGINT) + CAST(s.q_micro > t.t8 AS BIGINT)
                 + CAST(s.q_micro > t.t9 AS BIGINT) AS decile
        FROM scored s CROSS JOIN thr t
    )
    SELECT doc_id, q_micro, decile,
           substr(md5('qs:' || CAST(doc_id AS VARCHAR)), 1, 4)
               < CASE WHEN decile >= 9 THEN '8000'
                      WHEN decile >= 6 THEN '4000'
                      ELSE '1000' END AS in_sample
    FROM dec
    """,
    tags=("text", "tierx"),
)
def x_quality_stratified_sample(spark, sf_dir):
    """Quality-stratified deterministic sampling — the data-mixing
    step after quality scoring: bucket every document into a quality
    DECILE (by its unigram-LM score, the x_text_unigram_logprob
    signal) and Bernoulli-sample each stratum at a quality-dependent
    rate (50% of the top two deciles, 25% of the upper-middle, 6.25%
    of the rest) with the md5-bucket membership of
    x_corpus_split_hash, so the sampled subset is reproducible under
    reruns, retries, and repartitioning.

    Decile assignment is scale-correct: no global sort / ntile (a
    single-partition window over the corpus at 100 TB) — instead the
    score histogram (|distinct int scores| rows, driver-sized) takes
    a running sum, the 9 decile cutoffs reduce to ONE broadcast row,
    and each doc's decile is 1 + Σ [score > cutoffᵢ] in codegen. The
    score is integer micro-nats (floor of the int64 micro-nat sum /
    token count), so threshold comparisons are pure int64 — no float
    percentile definition to diverge on. Tied scores land in the
    same decile in both engines by construction."""
    d = t(spark, sf_dir).documents
    tok = (
        d.select("doc_id", F.explode(tokens("text")).alias("tk"))
        .select("doc_id", F.xxhash64("tk").alias("h"))
        .persist()
    )
    cnt = tok.groupBy("h").agg(F.count("*").alias("c"))
    tot = cnt.agg(F.sum("c").cast("double").alias("total"))
    lp = cnt.crossJoin(F.broadcast(tot)).select(
        "h",
        F.floor(
            F.log(F.col("c").cast("double") / F.col("total")) * F.lit(1e6)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("lp_micro"),
    )
    scored = (
        tok.join(lp, "h")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"), F.sum("lp_micro").alias("s"))
        .select(
            "doc_id",
            F.floor(F.col("s").cast("double") / F.col("n_tokens"))
            .cast("bigint")
            .alias("q_micro"),
        )
    )
    hist = scored.groupBy(F.col("q_micro").alias("v")).agg(
        F.count("*").alias("c")
    )
    wcum = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = hist.withColumn("cf", F.sum("c").over(wcum))
    n = scored.agg(F.count("*").alias("n_docs"))
    thr = cum.crossJoin(F.broadcast(n)).agg(
        *[
            F.min(
                F.when(F.col("cf") * 10 >= i * F.col("n_docs"), F.col("v"))
            ).alias(f"t{i}")
            for i in range(1, 10)
        ]
    )
    decile = F.lit(1)
    for i in range(1, 10):
        decile = decile + (F.col("q_micro") > F.col(f"t{i}")).cast("bigint")
    rate = (
        F.when(F.col("decile") >= 9, F.lit("8000"))
        .when(F.col("decile") >= 6, F.lit("4000"))
        .otherwise(F.lit("1000"))
    )
    h_samp = F.substring(
        F.md5(F.concat(F.lit("qs:"), F.col("doc_id").cast("string"))), 1, 4
    )
    return (
        scored.crossJoin(F.broadcast(thr))
        .withColumn("decile", decile)
        .select(
            "doc_id",
            "q_micro",
            "decile",
            (h_samp < rate).alias("in_sample"),
        )
    )


_BLP_LAMBDA = 0.7  # interpolation weight on the bigram term


@query(
    "x_text_bigram_logprob",
    oracle=f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    bg AS (
        SELECT d.doc_id, d.tk[g.i + 1] AS w1, d.tk[g.i + 2] AS w2
        FROM d, LATERAL (
            SELECT unnest(range(greatest(len(d.tk) - 1, 0))) AS i
        ) g
    ),
    bc AS (SELECT w1, w2, count(*) AS cab FROM bg GROUP BY w1, w2),
    uni AS (
        SELECT u AS w, count(*) AS c FROM (SELECT unnest(tk) AS u FROM d)
        GROUP BY u
    ),
    nu AS (SELECT CAST(sum(c) AS DOUBLE) AS n_uni FROM uni),
    lp AS (
        SELECT bc.w1, bc.w2,
               CAST(floor(ln({_BLP_LAMBDA} * (CAST(bc.cab AS DOUBLE)
                                              / CAST(ua.c AS DOUBLE))
                             + {1 - _BLP_LAMBDA} * (CAST(ub.c AS DOUBLE)
                                                    / n_uni))
                          * 1e6 + 0.5) AS BIGINT) AS lp_micro
        FROM bc JOIN uni ua ON bc.w1 = ua.w
                JOIN uni ub ON bc.w2 = ub.w
        CROSS JOIN nu
    ),
    per AS (
        SELECT b.doc_id, count(*) AS n_bigrams, sum(lp.lp_micro) AS s
        FROM bg b JOIN lp ON b.w1 = lp.w1 AND b.w2 = lp.w2
        GROUP BY b.doc_id
    )
    SELECT doc_id, n_bigrams,
           floor(((CAST(s AS DOUBLE) / 1e6) / n_bigrams) * 1e6 + 0.5) / 1e6
               AS avg_logprob,
           floor(((CAST(s AS DOUBLE) / 1e6) / n_bigrams) * 1e6 + 0.5) / 1e6
               < -2.0 AS is_unusual
    FROM per
    """,
    tags=("text", "tierx"),
)
def x_text_bigram_logprob(spark, sf_dir):
    """Interpolated bigram-LM quality score — the next LM order up
    from x_text_unigram_logprob (the CCNet/KenLM filter family:
    unigram → bigram → DSIR target-ratio, all sharing one topology):
    per document, the mean of ln(λ·p(w2|w1) + (1−λ)·p(w2)) over its
    bigram transitions, λ=0.7. The unigram back-off keeps unseen-ish
    transitions finite and is the standard Jelinek-Mercer shape.

    Determinism: one ln per DISTINCT bigram type (p(w2|w1) = c12/c1
    and the backoff term are IEEE div/mul/add in identical order on
    both engines), quantized to integer micro-nats; per-doc sums are
    exact int64. Docs with a single token have no transitions and are
    absent from the output in both engines (inner-join semantics).

    Scale: bigram-instance relation [map] → bigram-type counts
    [shuffle 1] → two vocab joins on the word [vocab-level, AQE
    broadcasts at sf] → instance⋈type score join on (hb, w1, w2)
    [shuffle 2] → doc groupBy [shuffle 3] moving one int64 per
    transition. The instance relation is hashed to (doc_id, int64)
    and persisted (feeds type counts and the score join); a real
    KenLM drops into the lp relation as a mapInPandas scorer."""
    from mcp_iceberg_duckdb_spark.functions.textfns import bind

    d = t(spark, sf_dir).documents

    def bigrams(tk):
        return F.when(
            F.size(tk) >= 2,
            F.zip_with(
                F.slice(tk, 1, F.size(tk) - 1),
                F.slice(tk, 2, F.size(tk) - 1),
                lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
            ),
        ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))

    bg = (
        d.select("doc_id", F.explode(bind(tokens("text"), bigrams)).alias("b"))
        .select(
            "doc_id",
            F.col("b.w1").alias("w1"),
            F.col("b.w2").alias("w2"),
            F.xxhash64("b.w1", "b.w2").alias("hb"),
        )
        .persist()
    )
    # Type counts group on (hb, w1, w2) — NOT hb alone with a
    # F.first() string recovery: under a 64-bit collision two distinct
    # bigrams would merge and F.first() would pick a partition-order-
    # dependent representative (nondeterministic, diverging from the
    # string-keyed oracle). With the strings in the key, colliding
    # bigrams stay separate groups and counts are exact; hb still
    # rides along as the leading 8-byte join key.
    bc = bg.groupBy("hb", "w1", "w2").agg(F.count("*").alias("cab"))
    uni = (
        d.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .persist()
    )
    nu = uni.agg(F.sum("c").cast("double").alias("n_uni"))
    ua = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    ub = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    p_interp = F.lit(_BLP_LAMBDA) * (
        F.col("cab").cast("double") / F.col("c1").cast("double")
    ) + F.lit(1 - _BLP_LAMBDA) * (F.col("c2").cast("double") / F.col("n_uni"))
    lp = (
        bc.join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(nu))
        .select(
            "hb",
            "w1",
            "w2",
            F.floor(F.log(p_interp) * F.lit(1e6) + F.lit(0.5))
            .cast("bigint")
            .alias("lp_micro"),
        )
    )
    per = (
        # 3-key join: hb leads for cheap hashing, the strings
        # disambiguate any hb collision exactly.
        bg.join(lp, ["hb", "w1", "w2"])
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.sum("lp_micro").alias("s"))
    )
    avg_lp = rn((F.col("s").cast("double") / F.lit(1e6)) / F.col("n_bigrams"), 6)
    return per.select(
        "doc_id",
        "n_bigrams",
        avg_lp.alias("avg_logprob"),
        (avg_lp < F.lit(-2.0)).alias("is_unusual"),
    )


@query(
    "x_source_kl_divergence",
    oracle="""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    sw AS (SELECT source, w, count(*) AS c_sw FROM tok GROUP BY source, w),
    cw AS (SELECT w, CAST(sum(c_sw) AS BIGINT) AS c_w FROM sw GROUP BY w),
    ns AS (SELECT source, CAST(sum(c_sw) AS BIGINT) AS n_s FROM sw GROUP BY source),
    n AS (SELECT CAST(sum(c_w) AS DOUBLE) AS n_all FROM cw),
    term AS (
        SELECT sw.source,
               CAST(sw.c_sw AS DECIMAL(19,0))
               * CAST(floor(ln((CAST(sw.c_sw AS DOUBLE) / ns.n_s)
                               / (CAST(cw.c_w AS DOUBLE) / n.n_all))
                            * 1e6 + 0.5) AS DECIMAL(19,0)) AS t_micro,
               ns.n_s
        FROM sw JOIN cw USING (w) JOIN ns USING (source) CROSS JOIN n
    )
    SELECT source, n_s AS n_tokens,
           floor((CAST(CAST(sum(t_micro) AS DECIMAL(38,0)) AS DOUBLE) / 1e6
                  / n_s) * 1e6 + 0.5) / 1e6 AS kl_divergence
    FROM term GROUP BY source, n_s
    """,
    tags=("text", "tierx"),
)
def x_source_kl_divergence(spark, sf_dir):
    """Per-source KL divergence from the corpus unigram distribution,
    KL(p_source ‖ p_corpus) = Σ_w p_s(w)·ln(p_s(w)/p(w)) — the
    domain-shift diagnostic behind mixture reweighting (a source with
    high KL is lexically atypical; DoReMi-style mixing and the DSIR
    target ratio both consume exactly this quantity at the corpus
    level).

    Determinism: one ln per DISTINCT (source, word) pair, quantized
    to integer micro-nats, weighted by the INTEGER count c_sw, summed
    in DECIMAL(38,0) (the weighted sum can exceed int64 once a source
    passes ~10¹¹ tokens — decimal keeps the aggregation exact and
    order-independent at any scale), one IEEE divide at the end.

    Scale: (source, word) groupBy [shuffle 1, hash-keyed at scale];
    word marginals and per-source totals both derive from that same
    relation (persisted — three consumers, one tokenize); marginals
    join back on the word, totals broadcast (k rows). Output is k
    rows."""
    d = t(spark, sf_dir).documents
    sw = (
        d.select("source", F.explode(tokens("text")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").alias("c_sw"))
        .persist()
    )
    cw = sw.groupBy("w").agg(F.sum("c_sw").cast("bigint").alias("c_w"))
    ns = sw.groupBy("source").agg(F.sum("c_sw").cast("bigint").alias("n_s"))
    n = cw.agg(F.sum("c_w").cast("double").alias("n_all"))
    lr_micro = F.floor(
        F.log(
            (F.col("c_sw").cast("double") / F.col("n_s"))
            / (F.col("c_w").cast("double") / F.col("n_all"))
        )
        * F.lit(1e6)
        + F.lit(0.5)
    )
    term = (
        sw.join(cw, "w")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(n))
        .select(
            "source",
            "n_s",
            (
                F.col("c_sw").cast("decimal(19,0)")
                * lr_micro.cast("decimal(19,0)")
            ).alias("t_micro"),
        )
    )
    return (
        term.groupBy("source", "n_s")
        .agg(F.sum(F.col("t_micro").cast("decimal(38,0)")).alias("s"))
        .select(
            "source",
            F.col("n_s").alias("n_tokens"),
            rn(
                F.col("s").cast("double") / F.lit(1e6) / F.col("n_s"), 6
            ).alias("kl_divergence"),
        )
    )


_CAP_K = 15  # max docs kept per source


@query(
    "x_source_cap_sample",
    oracle=f"""
    WITH r AS (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS rk
        FROM documents
    )
    SELECT doc_id, source, CAST(rk AS BIGINT) AS rk, rk <= {_CAP_K} AS kept
    FROM r
    """,
    tags=("text", "tierx"),
)
def x_source_cap_sample(spark, sf_dir):
    """Per-source document cap (the RefinedWeb/C4 per-domain cap): at
    most K documents survive per source, chosen by rank over a salted
    md5 of the doc id — a DETERMINISTIC uniform sample within each
    source, independent of row order, partitioning, and retries
    (rand()-based sampling gives none of that; naive LIMIT-per-group
    keeps whatever arrived first). Emitting the rank and the kept
    flag rather than filtering keeps the decision auditable.

    Scale: one rank window per source partition — WindowGroupLimit
    does NOT apply (every row is emitted with its rank), but the sort
    key is an md5 the window computes map-side, and the partition is
    the source: the same key the downstream per-domain shuffle uses
    anyway. A filter-to-kept variant would rank-limit to K rows per
    source before the shuffle boundary."""
    d = t(spark, sf_dir).documents
    h = F.md5(F.concat(F.lit("cap:"), F.col("doc_id").cast("string")))
    w = W.partitionBy("source").orderBy(h, "doc_id")
    rk = F.row_number().over(w).cast("bigint")
    return d.select(
        "doc_id",
        "source",
        rk.alias("rk"),
        (F.col("rk") <= _CAP_K).alias("kept"),
    )


def hierarchical_centroid_assignment(e, coarse_k: int = 4, nprobe: int = 3):
    """Two-level (IVF-style) centroid assignment — the scale path for
    SemDeDup once k grows with the corpus. The flat argmax
    (label_centroid_assignment) scores every vector against every
    centroid: n·k cosines, which turns quadratic when the SemDeDup
    knob k ∝ n is applied (measured: 200k vecs × k=1000 spends its
    whole budget in assignment). Here the k centroids are themselves
    clustered DRIVER-SIDE into coarse_k routing cells (spherical
    Lloyd over a k×dim matrix — bounded driver state, the
    kmeans_assign precedent), each vector is routed to its nprobe
    nearest coarse cells (n·coarse_k cosines) and scored only against
    those cells' member centroids (n·nprobe·k/coarse_k expected):
    total n·(coarse_k + nprobe·k/coarse_k) ≈ 2·n·√(nprobe·k) at the
    optimal coarse_k — the IVF recipe, sub-linear in k.

    Routing is approximate BY DESIGN (the true argmax centroid can
    live in an unprobed cell); x_semdedup_hier_assign pins the
    agreement contract. Both argmax windows order on micro-quantized
    similarity (the label_centroid_assignment discipline).

    Returns (assigned, candidates): `assigned` is a drop-in for
    label_centroid_assignment's (vec_id, v, cluster_id, nrm) persisted
    output; `candidates` is the scored (vec_id, clabel) relation the
    contract query counts."""
    import numpy as np

    spark = e.sparkSession
    comp = (
        e.select("label", F.posexplode("v").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.avg("x").alias("cx"))
    )
    cent = comp.groupBy(F.col("label").alias("clabel")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cx"))), lambda s: s.cx
        ).alias("cv")
    )
    rows = cent.collect()  # k × dim floats — bounded driver state
    labels = [r["clabel"] for r in rows]
    X = np.array([r["cv"] for r in rows], dtype=np.float64)
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    kk = min(coarse_k, len(rows))
    rng = np.random.RandomState(42)
    centers = Xn[rng.choice(len(Xn), size=kk, replace=False)]
    for _ in range(15):  # spherical Lloyd, deterministic
        sims = Xn @ centers.T
        gid = sims.argmax(axis=1)
        for g in range(kk):
            m = Xn[gid == g]
            if len(m):
                c = m.mean(axis=0)
                centers[g] = c / max(np.linalg.norm(c), 1e-12)
    coarse_df = spark.createDataFrame(
        [(int(g), [float(x) for x in centers[g]]) for g in range(kk)],
        "gid int, gv array<double>",
    )
    memb_df = spark.createDataFrame(
        [(int(labels[i]), int(gid[i])) for i in range(len(labels))],
        f"clabel {'bigint' if not isinstance(labels[0], int) or True else 'int'}, gid int",
    ).withColumn("clabel", F.col("clabel").cast(dict(cent.dtypes)["clabel"]))
    g_simq = F.floor(
        cosine(F.col("v"), F.col("gv")) * F.lit(1e6) + F.lit(0.5)
    ).cast("bigint")
    wr = W.partitionBy("vec_id").orderBy(g_simq.desc_nulls_last(), "gid")
    routed = (
        e.crossJoin(F.broadcast(coarse_df))
        .withColumn("rg", F.row_number().over(wr))
        .filter(F.col("rg") <= nprobe)
        .select("vec_id", "v", "gid")
    )
    cent_g = cent.join(memb_df, "clabel")
    # persisted: feeds both the argmax below and the contract query's
    # candidate count — unpersisted, the routing windows run twice
    candidates = (
        routed.join(F.broadcast(cent_g), "gid")
        .select(
            "vec_id", "v", "clabel", cosine(F.col("v"), F.col("cv")).alias("sim")
        )
        .persist()
    )
    simq = F.floor(F.col("sim") * F.lit(1e6) + F.lit(0.5)).cast("bigint")
    wa = W.partitionBy("vec_id").orderBy(simq.desc(), "clabel")
    assigned = (
        candidates.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") == 1)
        .select("vec_id", "v", F.col("clabel").alias("cluster_id"))
        .withColumn("nrm", l2_norm(F.col("v")))
        .persist()
    )
    return assigned, candidates


@query(
    "x_semdedup_hier_assign",
    # TWO-SIDED (round-8): DuckDB runs its OWN SQL-expressible
    # two-level router through the identical contract instead of
    # pinning TRUE — label centroids per (label, dim) mean, 4 coarse
    # cells seeded from the 4 smallest labels (single assignment
    # pass; argmax under cosine is scale-invariant so no Lloyd loop
    # is needed for the contract), nprobe=3 routing, micro-quantized
    # argmax with the same tiebreaks. Its agreement with its own flat
    # argmax measures the same design claim (0.94-0.98 across
    # sf 0.001/0.01/0.1) — a contract no two-level router could meet
    # now fails on both engines.
    oracle="""
    WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ),
    dims AS (
        SELECT vec_id, label, unnest(v) AS x,
               generate_subscripts(v, 1) AS i
        FROM e
    ),
    cent AS (
        SELECT label AS clabel, list(ax ORDER BY i) AS cv
        FROM (SELECT label, i, avg(x) AS ax FROM dims GROUP BY label, i) c
        GROUP BY label
    ),
    flat AS (
        SELECT vec_id, clabel AS flat_c
        FROM (
            SELECT e.vec_id, c.clabel,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY floor(list_cosine_similarity(e.v, c.cv) * 1e6 + 0.5) DESC,
                                c.clabel) AS rn
            FROM e, cent c
        ) WHERE rn = 1
    ),
    seeds AS (
        SELECT row_number() OVER (ORDER BY clabel) - 1 AS gid, cv AS sv
        FROM (SELECT clabel, cv FROM cent ORDER BY clabel LIMIT 4)
    ),
    memb AS (
        SELECT clabel, gid
        FROM (
            SELECT c.clabel, s.gid,
                   row_number() OVER (PARTITION BY c.clabel
                       ORDER BY floor(list_cosine_similarity(c.cv, s.sv) * 1e6 + 0.5) DESC,
                                s.gid) AS rn
            FROM cent c, seeds s
        ) WHERE rn = 1
    ),
    gdims AS (
        SELECT m.gid, generate_subscripts(c.cv, 1) AS i, unnest(c.cv) AS x
        FROM cent c JOIN memb m USING (clabel)
    ),
    coarse AS (
        SELECT gid, list(gx ORDER BY i) AS gv
        FROM (SELECT gid, i, avg(x) AS gx FROM gdims GROUP BY gid, i) g
        GROUP BY gid
    ),
    routed AS (
        SELECT vec_id, gid
        FROM (
            SELECT e.vec_id, g.gid,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY floor(list_cosine_similarity(e.v, g.gv) * 1e6 + 0.5) DESC,
                                g.gid) AS rn
            FROM e, coarse g
        ) WHERE rn <= 3
    ),
    candidates AS (
        SELECT r.vec_id, m.clabel,
               floor(list_cosine_similarity(e.v, c.cv) * 1e6 + 0.5) AS simq
        FROM routed r
        JOIN e ON e.vec_id = r.vec_id
        JOIN memb m ON m.gid = r.gid
        JOIN cent c ON c.clabel = m.clabel
    ),
    hier AS (
        SELECT vec_id, clabel AS hier_c
        FROM (
            SELECT vec_id, clabel,
                   row_number() OVER (PARTITION BY vec_id
                       ORDER BY simq DESC, clabel) AS rn
            FROM candidates
        ) WHERE rn = 1
    ),
    k AS (SELECT count(DISTINCT label) AS k FROM e),
    ag AS (
        SELECT count(*) AS n_vecs,
               avg(CASE WHEN f.flat_c = h.hier_c THEN 1.0 ELSE 0.0 END)
                   AS agree_frac
        FROM flat f JOIN hier h USING (vec_id)
    ),
    cn AS (SELECT count(*) AS cand_n FROM candidates)
    SELECT CAST(ag.n_vecs AS BIGINT) AS n_vecs,
           (ag.agree_frac >= 0.9) AS agreement_ok,
           (cn.cand_n < ag.n_vecs * k.k) AS candidates_bounded
    FROM ag, cn, k
    """,
    tags=("dedup", "tierx"),
)
def x_semdedup_hier_assign(spark, sf_dir):
    """Decidable contract over hierarchical_centroid_assignment (the
    x_embed_kmeans / minhash-contract pattern — driver-side Lloyd
    routing is not SQL-expressible, so the query emits the corpus
    size (value-checked) plus two booleans the oracle pins TRUE):
    agreement_ok — the two-level routing reproduces the flat n·k
    argmax assignment for ≥ 90% of vectors (measured 0.942–0.962 at
    sf 0.001/0.01/0.1 with coarse_k=4, nprobe=3 over the fixture's
    k=10 label centroids — a degenerate regime for IVF; at the
    k≈1000 scale the router exists for, candidates/vec ≈
    coarse_k + nprobe·k/coarse_k ≪ k); candidates_bounded — the
    scored candidate relation is strictly smaller than the flat n·k
    (measured ~7.6 candidates/vec vs k=10 here). A
    broken router (wrong cell, dropped member, nondeterministic
    Lloyd) either drops agreement below the floor or breaks the
    bound and flips a bit."""
    e = parallelize(
        t(spark, sf_dir).embeddings.select(
            "vec_id", "label", as_double("embedding").alias("v")
        )
    ).persist()
    flat = label_centroid_assignment(e).select(
        "vec_id", F.col("cluster_id").alias("flat_c")
    )
    assigned, candidates = hierarchical_centroid_assignment(e)
    hier = assigned.select("vec_id", F.col("cluster_id").alias("hier_c"))
    agree = (
        flat.join(hier, "vec_id")
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.avg(
                (F.col("flat_c") == F.col("hier_c")).cast("double")
            ).alias("agree_frac"),
        )
    )
    # k from the already-persisted e (same value: e carries every row's
    # label) instead of a second scan of the embeddings table
    k = e.select("label").distinct().count()
    cand_n = candidates.agg(F.count("*").cast("bigint").alias("cand_n"))
    return (
        agree.crossJoin(F.broadcast(cand_n))
        .select(
            "n_vecs",
            (F.col("agree_frac") >= F.lit(0.9)).alias("agreement_ok"),
            (F.col("cand_n") < F.col("n_vecs") * F.lit(k)).alias(
                "candidates_bounded"
            ),
        )
    )


# ---- Weighted reservoir sampling (Efraimidis-Spirakis exponential race) ----

_WRS_K = 50  # sample size
_WRS_DEN = 16 ** 6 + 1  # md5-hex6 uniform denominator


def _wrs_hex6_sql(expr: str) -> str:
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({expr}), {i + 1}, 1)) - 1)"
        f" * {16 ** (5 - i)}"
        for i in range(6)
    )
    return f"({terms})"


_WRS_ORACLE = f"""
    WITH keyed AS (
        SELECT doc_id, n_chars,
               floor((-ln(({_wrs_hex6_sql("concat('wrs:', CAST(doc_id AS VARCHAR))")} + 1.0)
                          / {_WRS_DEN}.0)
                      / n_chars) * 1e12 + 0.5) / 1e12 AS samp_key
        FROM documents
    )
    SELECT doc_id, n_chars, samp_key
    FROM keyed
    ORDER BY samp_key, doc_id
    LIMIT {_WRS_K}
"""


@query(
    "x_corpus_weighted_sample", oracle=_WRS_ORACLE, tags=("pipeline", "tierx")
)
def x_corpus_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling without replacement
    (Efraimidis-Spirakis 2006 exponential race): each document draws
    a reproducible uniform u from md5('wrs:' || doc_id), races with
    key = -ln(u) / w (weight w = n_chars — longer docs
    proportionally likelier), and the {K} smallest keys win. The
    length-weighted corpus subsample every mixture experiment needs,
    with the md5-seeded determinism of the split/cap/stratified
    samplers (x_corpus_split_hash, x_source_cap_sample,
    x_quality_stratified_sample): partition- and retry-independent,
    and a doc's key never changes as the corpus grows.

    Spark shape: a shuffle-free per-row key expression, then ONE
    TakeOrdered head — k rows cross the wire per partition, never a
    global sort. At 100 TB the same expression feeds a
    threshold-filter variant (keep keys below a broadcast k-th-key
    estimate) when k itself is huge.

    Determinism: u is an exact dyadic rational from the first 6 md5
    hex chars (identical in both engines); ln is the single
    libm-dependent op and its result is immediately 1e-12-quantized
    before the ORDER BY (the PMI discipline), with doc_id as the
    total-order tiebreak."""
    d = t(spark, sf_dir).documents
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("wrs:"), F.col("doc_id").cast("string"))),
                1,
                6,
            ),
            16,
            10,
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(float(_WRS_DEN))
    key = rn(-F.log(u) / F.col("n_chars"), 12)
    return (
        d.select("doc_id", "n_chars", key.alias("samp_key"))
        .orderBy("samp_key", "doc_id")
        .limit(_WRS_K)
    )


# ---- corpus mixture rebalancing (training-data mixing weights) ----

_MIX_SQL_TW = (
    "((( (strpos('0123456789abcdef', substr(md5(concat('mix:', source)), 1, 1)) - 1) * 1048576"
    " + (strpos('0123456789abcdef', substr(md5(concat('mix:', source)), 2, 1)) - 1) * 65536"
    " + (strpos('0123456789abcdef', substr(md5(concat('mix:', source)), 3, 1)) - 1) * 4096"
    " + (strpos('0123456789abcdef', substr(md5(concat('mix:', source)), 4, 1)) - 1) * 256"
    " + (strpos('0123456789abcdef', substr(md5(concat('mix:', source)), 5, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr(md5(concat('mix:', source)), 6, 1)) - 1)"
    ") % 1000) + 1)"
)

_MIX_ORACLE = f"""
    WITH s1 AS (
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS mass,
               CAST({_MIX_SQL_TW} AS BIGINT) AS tw
        FROM documents GROUP BY source
    ),
    g1 AS (
        SELECT CAST(sum(mass) AS BIGINT) AS tot_mass,
               CAST(sum(tw) AS BIGINT) AS t
        FROM s1
    ),
    g2 AS (
        SELECT min((mass * g1.t) // tw) AS fmax FROM s1, g1
    )
    SELECT source, n_docs, mass,
           (mass * 1000000) // g1.tot_mass AS actual_ppm,
           (tw * 1000000) // g1.t AS target_ppm,
           ((tw * g2.fmax) // g1.t * 1000000) // mass AS keep_rate_ppm,
           (tw * g2.fmax) // g1.t AS expected_mass
    FROM s1, g1, g2
"""


@query(
    "x_mix_sample_weights",
    oracle=_MIX_ORACLE,
    tags=("pipeline", "tierx"),
)
def x_mix_sample_weights(spark, sf_dir):
    """Training-mixture rebalancing weights: given a target per-source
    mixture (Pile/Dolma-style mixing — the md5-derived target weights
    are a stand-in for the tuned mixture table, which drops in as a
    broadcast literal without changing the plan) and the corpus's
    actual per-source token mass, compute the largest
    downsampling-only plan that achieves the mixture: final size
    F = min_s(mass_s·T div t_s), per-source keep rate
    (t_s·F div T)·1e6 div mass_s. The keep rates feed the
    deterministic md5-Bernoulli sampler (x_corpus_split_hash /
    x_source_cap_sample) unchanged — this operator computes the
    RATES; sampling stays one shuffle-free map.

    Spark shape: ONE source groupBy (|sources| rows), two 1-row
    broadcast aggregates (totals, then the min-ratio bottleneck
    source), all-integer ppm arithmetic — volume-independent beyond
    the first linear pass. mass = Σ n_chars (token mass proxy; the
    same plan runs on exact token counts)."""
    d = t(spark, sf_dir).documents
    tw = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("mix:"), F.col("source"))), 1, 6
            ),
            16,
            10,
        ).cast("bigint")
        % 1000
        + 1
    )
    s1 = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("mass"),
    ).withColumn("tw", tw)
    g1 = s1.agg(
        F.sum("mass").cast("bigint").alias("tot_mass"),
        F.sum("tw").cast("bigint").alias("t"),
    )
    s2 = s1.crossJoin(F.broadcast(g1))
    g2 = s2.agg(F.min(F.expr("(mass * t) div tw")).alias("fmax"))
    return (
        s2.crossJoin(F.broadcast(g2))
        .select(
            "source",
            "n_docs",
            "mass",
            F.expr("(mass * 1000000) div tot_mass").alias("actual_ppm"),
            F.expr("(tw * 1000000) div t").alias("target_ppm"),
            F.expr("((tw * fmax) div t * 1000000) div mass").alias(
                "keep_rate_ppm"
            ),
            F.expr("(tw * fmax) div t").alias("expected_mass"),
        )
    )


# ---- corpus snapshot diff (daily-refresh version delta) ----

_DIFF_ORACLE = """
    WITH old AS (
        SELECT doc_id, md5(text) AS h FROM documents
    ),
    new_kept AS (
        SELECT doc_id,
               CASE WHEN substr(md5(concat('chg:', CAST(doc_id AS VARCHAR))), 1, 1) < '2'
                    THEN md5(concat(text, ' v2')) ELSE md5(text) END AS h
        FROM documents
        WHERE substr(md5(concat('del:', CAST(doc_id AS VARCHAR))), 1, 1) >= '2'
    ),
    new_added AS (
        SELECT doc_id + 1000000 AS doc_id, md5(concat('new:', text)) AS h
        FROM documents
        WHERE substr(md5(concat('add:', CAST(doc_id AS VARCHAR))), 1, 1) < '2'
    ),
    new AS (SELECT * FROM new_kept UNION ALL SELECT * FROM new_added),
    d AS (
        SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
               CASE WHEN o.doc_id IS NULL THEN 'added'
                    WHEN n.doc_id IS NULL THEN 'removed'
                    WHEN o.h <> n.h THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM old o FULL OUTER JOIN new n ON n.doc_id = o.doc_id
    )
    SELECT doc_id, status FROM d WHERE status <> 'unchanged'
"""


@query(
    "x_corpus_snapshot_diff",
    oracle=_DIFF_ORACLE,
    tags=("pipeline", "tierx"),
)
def x_corpus_snapshot_diff(spark, sf_dir):
    """Corpus version diff — the daily-crawl-refresh primitive: which
    docs were added / removed / changed between snapshot N and N+1
    (feeds incremental dedup, embedding refresh, and index
    invalidation, so only the delta is reprocessed). Snapshot N+1 is
    planted deterministically from the fixture (md5-selected ~12.5%
    drops, ~12.5% text edits, ~12.5% additions under new ids), so
    both engines build the identical pair of snapshots.

    Spark shape: content hash computed AT THE SCAN (one md5 per
    side — the production shape stores it as a column, making the
    diff pure metadata), then ONE full-outer hash join on doc_id and
    a status expression; output only the delta rows. Linear, one
    shuffle per side. At 100 TB both snapshots are doc_id-bucketed so
    the join is co-located and shuffle-free."""
    d = t(spark, sf_dir).documents
    idstr = F.col("doc_id").cast("string")
    old = d.select("doc_id", F.md5("text").alias("h"))
    new_kept = d.where(
        F.substring(F.md5(F.concat(F.lit("del:"), idstr)), 1, 1) >= "2"
    ).select(
        "doc_id",
        F.when(
            F.substring(F.md5(F.concat(F.lit("chg:"), idstr)), 1, 1) < "2",
            F.md5(F.concat(F.col("text"), F.lit(" v2"))),
        )
        .otherwise(F.md5("text"))
        .alias("h"),
    )
    new_added = d.where(
        F.substring(F.md5(F.concat(F.lit("add:"), idstr)), 1, 1) < "2"
    ).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.md5(F.concat(F.lit("new:"), F.col("text"))).alias("h"),
    )
    new = new_kept.unionByName(new_added)
    o, n = old.alias("o"), new.alias("n")
    status = (
        F.when(F.col("o.doc_id").isNull(), "added")
        .when(F.col("n.doc_id").isNull(), "removed")
        .when(F.col("o.h") != F.col("n.h"), "changed")
        .otherwise("unchanged")
    )
    return (
        o.join(n, F.col("n.doc_id") == F.col("o.doc_id"), "full_outer")
        .select(
            F.coalesce(F.col("o.doc_id"), F.col("n.doc_id")).alias("doc_id"),
            status.alias("status"),
        )
        .where(F.col("status") != "unchanged")
    )


# ---- temperature-scaled mixture weights (T = 0.5, sqrt-exact) ----

_TEMP_ORACLE = """
    WITH src AS (
        SELECT source, count(*) AS n_docs FROM documents GROUP BY source
    ),
    wq AS (
        SELECT source, n_docs,
               CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1e6 + 0.5)
                    AS BIGINT) AS weight_micro
        FROM src
    ),
    tot AS (SELECT CAST(sum(weight_micro) AS BIGINT) AS wsum FROM wq)
    SELECT source, n_docs, weight_micro,
           (weight_micro * 1000000) // wsum AS share_ppm
    FROM wq, tot
"""


@query(
    "x_mix_temperature_weights",
    oracle=_TEMP_ORACLE,
    tags=("pipeline", "tierx"),
)
def x_mix_temperature_weights(spark, sf_dir):
    """Temperature-scaled mixture sampling weights, p_s ∝ n_s^T —
    the multilingual/multi-source rebalancing recipe (mBERT's
    exponent-smoothed sampling, XLM-R §3.1): T<1 upsamples the tail
    sources relative to their natural mass. T = 0.5 here because
    sqrt is the one power IEEE 754 requires CORRECTLY ROUNDED, so
    the per-source weight is a bit-identical double on every engine
    — any other exponent routes through exp/ln whose last-ulp is
    implementation-defined (the same reason the ln-based scores
    quantize per term). Weights are micro-quantized to int64
    immediately after the sqrt; the normalization is pure integer
    arithmetic (Σ weights, ppm shares by integer division), so the
    whole output is exact.

    Complements x_mix_sample_weights (target-mixture downsampling):
    that op enforces a GIVEN mixture; this one DERIVES the mixture
    from corpus mass under temperature smoothing. The shares feed
    the same md5-Bernoulli sampler.

    Spark shape: ONE source groupBy (map-side combined) + a 1-row
    broadcast total — |sources| rows of state at any corpus size."""
    d = t(spark, sf_dir).documents
    src = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    wq = src.select(
        "source",
        "n_docs",
        F.floor(F.sqrt(F.col("n_docs").cast("double")) * F.lit(1e6) + F.lit(0.5))
        .cast("bigint")
        .alias("weight_micro"),
    )
    tot = wq.agg(F.sum("weight_micro").cast("bigint").alias("wsum"))
    return wq.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "weight_micro",
        F.expr("(weight_micro * 1000000) div wsum").alias("share_ppm"),
    )


# ---- CCNet perplexity buckets (head / middle / tail) ----

_PPLB_ORACLE = """
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents
    ),
    cnt AS (SELECT tk, count(*) AS c FROM tok GROUP BY tk),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM tok),
    lp AS (
        SELECT tk,
               CAST(floor(ln(CAST(c AS DOUBLE) / total) * 1e6 + 0.5) AS BIGINT)
                   AS lp_micro
        FROM cnt CROSS JOIN tot
    ),
    per AS (
        SELECT t.doc_id,
               floor(((CAST(sum(lp.lp_micro) AS DOUBLE) / 1e6) / count(*))
                     * 1e6 + 0.5) / 1e6 AS avg_logprob
        FROM tok t JOIN lp ON t.tk = lp.tk
        GROUP BY t.doc_id
    ),
    cuts AS (
        SELECT quantile_cont(avg_logprob, CAST(1 AS DOUBLE) / 3) AS c_lo,
               quantile_cont(avg_logprob, CAST(2 AS DOUBLE) / 3) AS c_hi
        FROM per
    )
    SELECT doc_id, avg_logprob,
           CASE WHEN avg_logprob >= c_hi THEN 'head'
                WHEN avg_logprob >= c_lo THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM per, cuts
"""


@query(
    "x_quality_perplexity_buckets",
    oracle=_PPLB_ORACLE,
    tags=("pipeline", "text", "tierx"),
)
def x_quality_perplexity_buckets(spark, sf_dir):
    """CCNet's head/middle/tail split (Wenzek et al. 2020 §4.3):
    rank documents by LM score and cut the corpus into quality
    terciles — head feeds training directly, middle gets a second
    look, tail is dropped/down-weighted. The LM is the corpus
    unigram model (x_text_unigram_logprob's micro-nat discipline; a
    real KenLM drops in as a mapInPandas scorer without changing any
    shape downstream).

    The scale point is HOW the terciles are cut: not ntile() — a
    global ntile plans a single-partition window over every doc (the
    one-reducer sort this repo's lateness fix just killed) — but the
    two-pass quantile-cut: one distributed percentile aggregate
    yields the two cutpoints (1-row broadcast), then labeling is a
    pure map against them. At 100 TB the sort never happens; CCNet's
    own implementation does exactly this (computes perplexity
    cutoffs on a sample, then streams).

    Determinism: per-doc scores are the established exact-int64
    micro-nat sums with one final IEEE divide (6dp-quantized); the
    cutpoints interpolate over those quantized doubles identically
    on both engines (s_latency_percentiles discipline — identical
    p = 1/3 doubles, identical rank arithmetic); bucket comparison
    is >= on identical doubles."""
    d = t(spark, sf_dir).documents
    tok = (
        d.select("doc_id", F.explode(tokens("text")).alias("tk"))
        .select("doc_id", F.xxhash64("tk").alias("h"))
        .persist()
    )
    cnt = tok.groupBy("h").agg(F.count("*").alias("c"))
    tot = cnt.agg(F.sum("c").cast("double").alias("total"))
    lp = cnt.crossJoin(F.broadcast(tot)).select(
        "h",
        F.floor(
            F.log(F.col("c").cast("double") / F.col("total")) * F.lit(1e6)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("lp_micro"),
    )
    per = (
        tok.join(lp, "h")
        .groupBy("doc_id")
        .agg(
            rn(
                (F.sum("lp_micro").cast("double") / F.lit(1e6))
                / F.count("*"),
                6,
            ).alias("avg_logprob")
        )
    )
    cuts = per.agg(
        F.percentile("avg_logprob", F.lit(1.0 / 3)).alias("c_lo"),
        F.percentile("avg_logprob", F.lit(2.0 / 3)).alias("c_hi"),
    )
    return per.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "avg_logprob",
        F.when(F.col("avg_logprob") >= F.col("c_hi"), F.lit("head"))
        .when(F.col("avg_logprob") >= F.col("c_lo"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


_EPOCH_ORACLE = """
    WITH h AS (
        SELECT doc_id,
               (strpos('0123456789abcdef', substr(md5('epoch3:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 1048576
             + (strpos('0123456789abcdef', substr(md5('epoch3:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 65536
             + (strpos('0123456789abcdef', substr(md5('epoch3:' || CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 4096
             + (strpos('0123456789abcdef', substr(md5('epoch3:' || CAST(doc_id AS VARCHAR)), 4, 1)) - 1) * 256
             + (strpos('0123456789abcdef', substr(md5('epoch3:' || CAST(doc_id AS VARCHAR)), 5, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(md5('epoch3:' || CAST(doc_id AS VARCHAR)), 6, 1)) - 1) AS h
        FROM documents
    )
    SELECT doc_id, CAST(h AS BIGINT) AS h,
           CAST(h // 1048576 AS BIGINT) AS shard,
           row_number() OVER (PARTITION BY h // 1048576
                              ORDER BY h, doc_id) AS pos_in_shard,
           row_number() OVER (ORDER BY h, doc_id) AS global_pos
    FROM h
"""


@query("x_corpus_epoch_shuffle", oracle=_EPOCH_ORACLE, tags=("pipeline", "tierx"))
def x_corpus_epoch_shuffle(spark, sf_dir):
    """Deterministic per-epoch corpus shuffle — the training-loader
    reordering primitive: epoch e's document order is a pure function
    of (e, doc_id) (md5-hex6 of 'epoch3:'||doc_id here), so every
    worker, rerun, and resumed job sees the SAME permutation with no
    shared state, and successive epochs decorrelate for free by
    changing the salt. Emits shard (for loader parallelism), position
    within shard, and the exact GLOBAL order index.

    The scale point is how global_pos is computed WITHOUT a global
    sort: shards are RANGE buckets of the hash (top 4 of 24 bits), so
    the global order is (shard, within-shard order) by construction —
    one hash-partition shuffle on shard + per-partition sort gives
    pos_in_shard, and global_pos = pos + the shard's size-prefix-sum
    offset, a 16-row cumulative sum broadcast back onto the rows.
    md5 uniformity keeps range buckets balanced with no sampling step
    (Spark's rangepartitioning would sample-scan first); at 100 TB
    the same two-phase index is how you number a shuffled corpus
    without ever materializing a total order in one place. The
    oracle's single-node row_number() over the full ORDER BY verifies
    the bucketed composition exactly."""
    d = t(spark, sf_dir).documents
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("epoch3:"), F.col("doc_id").cast("string"))),
            1,
            6,
        ),
        16,
        10,
    ).cast("bigint")
    hd = d.select("doc_id", h.alias("h")).withColumn(
        "shard", F.shiftright("h", 20).cast("bigint")
    )
    pos = F.row_number().over(
        W.partitionBy("shard").orderBy("h", "doc_id")
    )
    ranked = hd.withColumn("pos_in_shard", pos.cast("bigint"))
    offsets = (
        hd.groupBy("shard")
        .agg(F.count("*").alias("n"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("n").over(
                    W.orderBy("shard").rowsBetween(
                        W.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("shard", "offset")
    )
    return ranked.join(F.broadcast(offsets), "shard").select(
        "doc_id",
        "h",
        "shard",
        "pos_in_shard",
        (F.col("offset") + F.col("pos_in_shard")).cast("bigint").alias(
            "global_pos"
        ),
    )


# ---- k-anonymity audit with a generalization ladder ----

# Published-corpus privacy gate (Sweeney 2002, k-anonymity): an
# equivalence class of quasi-identifiers may be released only when it
# contains >= k records. Classes failing at the finest QI level are
# GENERALIZED one rung (market segment -> '*') and re-tested; rows
# still failing after generalization are suppressed (reported as one
# accounting row, never released). k = 10 exercises both branches at
# the sf0.01 fixture (35 of 125 level-0 classes fail).
_KANON_K = 10


@query(
    "x_privacy_k_anonymity",
    oracle=f"""
    WITH g0 AS (
        SELECT CAST(c_nationkey AS BIGINT) AS nation, c_mktsegment AS segment,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM customer GROUP BY 1, 2
    ),
    f0 AS (SELECT nation, n_rows FROM g0 WHERE n_rows < {_KANON_K}),
    g1 AS (
        SELECT nation, CAST(sum(n_rows) AS BIGINT) AS n_rows
        FROM f0 GROUP BY nation
    ),
    rel2 AS (
        SELECT CAST(-1 AS BIGINT) AS nation, '*' AS segment,
               CAST(sum(n_rows) AS BIGINT) AS n_rows,
               CAST(2 AS BIGINT) AS anon_level
        FROM g1 WHERE n_rows < {_KANON_K}
        HAVING count(*) > 0
    )
    SELECT nation, segment, n_rows, CAST(0 AS BIGINT) AS anon_level
    FROM g0 WHERE n_rows >= {_KANON_K}
    UNION ALL
    SELECT nation, '*' AS segment, n_rows, CAST(1 AS BIGINT) AS anon_level
    FROM g1 WHERE n_rows >= {_KANON_K}
    UNION ALL
    SELECT * FROM rel2
    """,
    tags=("privacy", "tierx"),
)
def x_privacy_k_anonymity(spark, sf_dir):
    """k-anonymity release audit (Sweeney 2002) over the customer
    quasi-identifiers (nation, market segment), with a one-rung
    generalization ladder: equivalence classes of >= k rows release at
    level 0; failing rows re-pool under the generalized QI (segment ->
    '*') and release at level 1 if the pooled class reaches k; the
    remainder is suppressed into a single level-2 accounting row
    (nation = -1) so released row counts always reconcile with the
    corpus total.

    Spark shape: ONE corpus shuffle (the level-0 groupBy, map-side
    partial-agg) — every later rung re-aggregates the GROUP-COUNT
    relation (|classes| rows, ~QI-cardinality), not the rows, so the
    ladder costs nothing extra at 100 TB. No joins back to the fact
    table; the suppressed row is a scalar aggregate of the level-1
    failures."""
    c = t(spark, sf_dir).customer
    k = F.lit(_KANON_K)
    g0 = c.groupBy(
        F.col("c_nationkey").cast("bigint").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
    ).agg(F.count("*").cast("bigint").alias("n_rows"))
    rel0 = g0.where(F.col("n_rows") >= k).select(
        "nation", "segment", "n_rows",
        F.lit(0).cast("bigint").alias("anon_level"),
    )
    g1 = (
        g0.where(F.col("n_rows") < k)
        .groupBy("nation")
        .agg(F.sum("n_rows").cast("bigint").alias("n_rows"))
    )
    rel1 = g1.where(F.col("n_rows") >= k).select(
        "nation", F.lit("*").alias("segment"), "n_rows",
        F.lit(1).cast("bigint").alias("anon_level"),
    )
    rel2 = (
        g1.where(F.col("n_rows") < k)
        .agg(F.sum("n_rows").cast("bigint").alias("n_rows"))
        .where(F.col("n_rows").isNotNull())
        .select(
            F.lit(-1).cast("bigint").alias("nation"),
            F.lit("*").alias("segment"),
            "n_rows",
            F.lit(2).cast("bigint").alias("anon_level"),
        )
    )
    return rel0.unionByName(rel1).unionByName(rel2)


# ---- distinct l-diversity audit ----

# k-anonymity's known failure mode (homogeneity attack): a class can
# contain >= k rows yet a SINGLE sensitive value, so membership alone
# discloses the attribute. Distinct l-diversity (Machanavajjhala et
# al. 2006, "l-Diversity: Privacy Beyond k-Anonymity") requires each
# released equivalence class to carry >= l DISTINCT sensitive values.
# QI = (nation, account-balance band of 2000); sensitive attribute =
# market segment (5 values). l = 4 exercises both branches on the
# fixture (118 of 150 classes release at sf0.01).
_LDIV_L = 4


@query(
    "x_privacy_l_diversity",
    oracle=f"""
    SELECT CAST(c_nationkey AS BIGINT) AS nation,
           CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_sens,
           count(DISTINCT c_mktsegment) >= {_LDIV_L} AS released
    FROM customer
    GROUP BY 1, 2
    """,
    tags=("privacy", "tierx"),
)
def x_privacy_l_diversity(spark, sf_dir):
    """Distinct l-diversity audit (Machanavajjhala et al. 2006): an
    equivalence class of the quasi-identifiers (nation, acctbal band)
    is releasable only when its sensitive attribute (market segment)
    takes >= l distinct values — the homogeneity-attack gate that
    k-anonymity alone misses. Complements x_privacy_k_anonymity: a
    publication pipeline runs both audits off the SAME class relation.

    Spark shape: one corpus shuffle (groupBy on the QI pair);
    count_distinct expands map-side (partial distinct per partition)
    so the exchange carries (class, segment) pairs — bounded by
    |classes|·|sensitive domain|, not the row count. At 100 TB the
    audit is exactly one pass; the release decision is an expression
    over the class relation."""
    c = t(spark, sf_dir).customer
    return (
        c.groupBy(
            F.col("c_nationkey").cast("bigint").alias("nation"),
            F.floor(F.col("c_acctbal") / 2000).cast("bigint").alias("bal_band"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.count_distinct("c_mktsegment").cast("bigint").alias("n_sens"),
        )
        .withColumn("released", F.col("n_sens") >= F.lit(_LDIV_L))
    )


# ---- differentially-private count release (geometric mechanism) ----

# epsilon-DP noisy counts via the TRUNCATED two-sided geometric
# mechanism (Ghosh, Roughgarden & Sundararajan 2009 — the discrete
# analogue of Laplace, utility-optimal for counts; truncation per
# Canonne, Kamath & Steinke 2020's discrete-Laplace treatment). At
# epsilon = ln 2 the decay ratio alpha = e^-eps = 1/2 EXACTLY, so
# every probability is a dyadic-over-3 rational and the inverse-CDF
# thresholds are computed in exact Python Fractions at import time
# and inlined as integer literals in BOTH engines — no runtime
# ln/exp, bit-identical noise everywhere. The uniform variate is the
# md5-hex6 integer (24 bits) of the group key, the repo's portable
# hash; noise is truncated to |z| <= _DP_MAX with the tail mass
# folded into the extremes (P(|Z| >= 8) ~ 2.6e-3 pre-fold).
_DP_MAX = 8
_DP_SCALE = 16**6  # hex6 uniform domain


def _dp_thresholds() -> list[tuple[int, int]]:
    """(threshold, z) pairs: noise = first z with U < threshold,
    cumulative over z = -MAX..+MAX of P(Z=z) = (1/3)·2^-|z|
    (alpha = 1/2), tails folded into ±MAX. Exact integers; the final
    threshold is 16^6 so the ladder is total."""
    from fractions import Fraction

    third = Fraction(1, 3)
    p = {}
    for z in range(-_DP_MAX, _DP_MAX + 1):
        p[z] = third * Fraction(1, 2 ** abs(z))
    # fold the untruncated tail P(|Z| >= MAX) = (2/3)·2^-MAX per side
    p[_DP_MAX] = p[-_DP_MAX] = Fraction(2, 3) * Fraction(1, 2**_DP_MAX)
    assert sum(p.values()) == 1
    out, cum = [], Fraction(0)
    for z in range(-_DP_MAX, _DP_MAX + 1):
        cum += p[z]
        out.append((int(cum * _DP_SCALE), z))
    assert out[-1][0] == _DP_SCALE
    return out


_DP_LADDER = _dp_thresholds()


def _dp_noise_sql(u_expr: str) -> str:
    """DuckDB CASE ladder mapping a hex6 uniform to geometric noise."""
    whens = " ".join(
        f"WHEN {u_expr} < {thr} THEN {z}" for thr, z in _DP_LADDER[:-1]
    )
    return f"(CASE {whens} ELSE {_DP_LADDER[-1][1]} END)"


def _dp_noise_col(u):
    """Spark twin of _dp_noise_sql."""
    expr = F.lit(_DP_LADDER[-1][1])
    for thr, z in reversed(_DP_LADDER[:-1]):
        expr = F.when(u < F.lit(thr), F.lit(z)).otherwise(expr)
    return expr.cast("bigint")


def _sql_hex6_dp(expr: str) -> str:
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({expr}), {i + 1}, 1)) - 1)"
        f" * {16 ** (5 - i)}"
        for i in range(6)
    )
    return f"({terms})"


@query(
    "x_privacy_dp_count",
    oracle=f"""
    WITH g AS (
        SELECT o_orderpriority AS priority,
               CAST(extract(year FROM o_orderdate) AS BIGINT) AS yr,
               CAST(count(*) AS BIGINT) AS n_true
        FROM orders GROUP BY 1, 2
    ),
    n AS (
        SELECT *,
               CAST({_dp_noise_sql(_sql_hex6_dp(
                   "concat('dp:', priority, ':', CAST(yr AS VARCHAR))"))}
                    AS BIGINT) AS noise
        FROM g
    )
    SELECT priority, yr, n_true, noise,
           greatest(n_true + noise, 0) AS n_released,
           abs(noise) <= {_DP_MAX} AS noise_bounded
    FROM n
    """,
    tags=("privacy", "tierx"),
)
def x_privacy_dp_count(spark, sf_dir):
    """Differentially-private count release at epsilon = ln 2 via the
    truncated geometric mechanism (Ghosh et al. 2009): per
    (order-priority, year) cell, true count + two-sided geometric
    noise with decay alpha = 1/2, clamped at 0 (counts are
    non-negative). Noise is a pure expression over exact inverse-CDF
    integer thresholds precomputed in Python Fractions, seeded by the
    md5-hex6 of the group key — deterministic, so the oracle checks
    FULL value parity including the noise itself, and `noise_bounded`
    is computed independently by both engines (not pinned).

    Spark shape: one map-side-combined groupBy; the mechanism adds
    zero distributed work (a CASE ladder on the |cells|-row class
    relation). At 100 TB the release costs exactly the aggregation;
    per-cell noise keeps the whole release epsilon-DP under parallel
    composition across disjoint cells."""
    o = t(spark, sf_dir).orders
    g = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.year("o_orderdate").cast("bigint").alias("yr"),
    ).agg(F.count("*").cast("bigint").alias("n_true"))
    u = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("dp:"),
                    F.col("priority"),
                    F.lit(":"),
                    F.col("yr").cast("string"),
                )
            ),
            1,
            6,
        ),
        16,
        10,
    ).cast("bigint")
    return (
        g.withColumn("noise", _dp_noise_col(u))
        .withColumn("n_released", F.greatest(F.col("n_true") + F.col("noise"), F.lit(0).cast("bigint")))
        .withColumn("noise_bounded", F.abs("noise") <= F.lit(_DP_MAX))
    )


# ---- Poisson bootstrap (corpus-statistic uncertainty) ----

# Resampling at 100 TB can't materialize B resampled corpora; the
# production technique is the ONE-PASS Poisson bootstrap (Chamandy et
# al. 2012, "Estimating uncertainty for massive data streams"):
# each row enters replicate b with weight ~ Poisson(1), independent
# across (row, b) — E[weight]=1 reproduces the sample, and the B
# weighted statistics estimate the sampling distribution. Weights are
# derived from md5-hex6 uniforms via an inverse-CDF ladder whose
# thresholds are computed ONCE in Python (floats, then frozen as
# integer literals — both engines read the same constants; same
# discipline as the DP geometric ladder), truncated at k=8.
_BS_B = 32
_BS_MAX_W = 8


def _poisson1_ladder() -> list[tuple[int, int]]:
    import math

    scale = 16**6
    cum, out = 0.0, []
    for k in range(_BS_MAX_W):
        cum += math.exp(-1.0) / math.factorial(k)
        out.append((int(cum * scale), k))
    out.append((scale, _BS_MAX_W))  # folded tail
    return out


_BS_LADDER = _poisson1_ladder()


def _bs_weight_sql(u_expr: str) -> str:
    whens = " ".join(
        f"WHEN {u_expr} < {thr} THEN {k}" for thr, k in _BS_LADDER[:-1]
    )
    return f"(CASE {whens} ELSE {_BS_LADDER[-1][1]} END)"


def _bs_hex6_sql(expr: str) -> str:
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({expr}), {i + 1}, 1)) - 1)"
        f" * {16 ** (5 - i)}"
        for i in range(6)
    )
    return f"({terms})"


@query(
    "x_corpus_bootstrap_ci",
    oracle=f"""
    WITH r AS (SELECT unnest(range({_BS_B})) AS b),
    w AS (
        SELECT r.b, d.n_chars,
               {_bs_weight_sql(_bs_hex6_sql(
                   "concat('bs:', CAST(r.b AS VARCHAR), ':', "
                   "CAST(d.doc_id AS VARCHAR))"))} AS wt
        FROM documents d, r
    )
    SELECT CAST(b AS BIGINT) AS replicate,
           CAST(sum(wt) AS BIGINT) AS n_eff,
           CAST(sum(wt * n_chars) * 1000000 // sum(wt) AS BIGINT)
               AS mean_chars_micro
    FROM w GROUP BY b
    """,
    tags=("stats", "tierx"),
)
def x_corpus_bootstrap_ci(spark, sf_dir):
    """One-pass Poisson bootstrap (Chamandy et al. 2012) of the mean
    document length: every doc contributes Poisson(1)-weighted copies
    to each of B=32 replicates in a single scan — the way uncertainty
    bars get put on corpus statistics at 100 TB, where materializing
    B resamples is impossible. Weights are deterministic (md5-hex6
    inverse-CDF ladder, frozen integer thresholds), so the oracle
    checks every replicate's weighted mean exactly (integer `div`,
    never a float quotient); the CI itself is order statistics of the
    32 output rows (test pins that it brackets the true mean and that
    n_eff ~ corpus size).

    Spark shape: explode a B-element literal array per row (narrow,
    codegen'd) → ONE map-side-combined groupBy on the replicate id —
    B×|corpus| rows into 32 groups, the same cost envelope as B
    scalar aggregates fused into one pass. Nothing collects; the 32
    replicate rows ARE the result relation."""
    d = t(spark, sf_dir).documents
    b = F.explode(F.sequence(F.lit(0), F.lit(_BS_B - 1))).alias("b")
    rows = d.select("doc_id", "n_chars", b)
    u = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("bs:"),
                    F.col("b").cast("string"),
                    F.lit(":"),
                    F.col("doc_id").cast("string"),
                )
            ),
            1,
            6,
        ),
        16,
        10,
    ).cast("bigint")
    wt = F.lit(_BS_LADDER[-1][1])
    for thr, k in reversed(_BS_LADDER[:-1]):
        wt = F.when(u < F.lit(thr), F.lit(k)).otherwise(wt)
    return (
        rows.withColumn("wt", wt.cast("bigint"))
        .groupBy(F.col("b").cast("bigint").alias("replicate"))
        .agg(
            F.sum("wt").cast("bigint").alias("n_eff"),
            F.expr(
                "CAST((sum(wt * n_chars) * 1000000) div sum(wt) AS BIGINT)"
            ).alias("mean_chars_micro"),
        )
    )


# ---- Kolmogorov-Smirnov drift between sources ----


@query(
    "x_source_ks_drift",
    oracle="""
    WITH v AS (
        SELECT CASE WHEN source = 'src0' THEN 0 ELSE 1 END AS s, n_chars
        FROM documents WHERE source IN ('src0', 'src1')
    ),
    n AS (
        SELECT sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS n0,
               sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS n1
        FROM v
    ),
    pts AS (
        SELECT n_chars AS x,
               sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS c0,
               sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS c1
        FROM v GROUP BY n_chars
    ),
    ecdf AS (
        SELECT x,
               sum(c0) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS f0,
               sum(c1) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS f1
        FROM pts
    )
    SELECT CAST(n.n0 AS BIGINT) AS n0, CAST(n.n1 AS BIGINT) AS n1,
           CAST(max(abs(CAST(f0 AS HUGEINT) * n.n1
                      - CAST(f1 AS HUGEINT) * n.n0)) AS BIGINT)
               AS ks_scaled,
           CAST(max(abs(CAST(f0 AS HUGEINT) * n.n1
                      - CAST(f1 AS HUGEINT) * n.n0)) * 1000000
                // (CAST(n.n0 AS HUGEINT) * n.n1) AS BIGINT) AS ks_ppm
    FROM ecdf, n
    GROUP BY n.n0, n.n1
    """,
    tags=("stats", "tierx"),
)
def x_source_ks_drift(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov distance between two sources'
    document-length distributions — the binless drift detector (KL
    via x_source_kl_divergence needs a binning choice; KS is the
    sup-norm of the ECDF difference and needs none). All integer:
    the ECDF comparison |F0(x) − F1(x)| is cross-multiplied to
    |f0·n1 − f1·n0| over cumulative COUNTS; the cross-multiply and
    the ppm quotient run in DECIMAL(38,0) (HUGEINT on the oracle
    side) because both are bounded by n0·n1, which passes int64 at
    ~3e9 docs per source — exactly the silent-wraparound class the
    decade discipline exists for. Only the ≤1e6 ppm and the
    ks_scaled head (int64-safe until n0·n1 > 9.2e18) are cast back.

    Spark shape — the two-phase broadcast-offset cumulative sum
    (same pattern as x_corpus_epoch_shuffle): the distinct-value
    relation is bucketed by `x div 256`, per-bucket subtotals make a
    bucket-grid relation (bounded by VALUE DOMAIN / 256, independent
    of corpus size) whose exclusive prefix sums are the only
    unpartitioned window; the per-value cumulative counts are then a
    PARTITIONED window inside each bucket plus the broadcast bucket
    offset. No corpus-scaled relation ever flows through a single
    partition — the old shape put the whole value-distinct relation
    (≈ n for long-tailed lengths) through one WindowExec."""
    from pyspark.sql import Window as W

    d = t(spark, sf_dir).documents.where(
        F.col("source").isin("src0", "src1")
    )
    v = d.select(
        F.when(F.col("source") == "src0", 0).otherwise(1).alias("s"),
        "n_chars",
    )
    pts = v.groupBy(F.col("n_chars").alias("x")).agg(
        F.sum(F.when(F.col("s") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0)).alias("c1"),
    )
    pts = pts.withColumn("b", F.expr("CAST(x div 256 AS BIGINT)"))
    btot = pts.groupBy("b").agg(
        F.sum("c0").alias("b0"), F.sum("c1").alias("b1")
    )
    wb = W.orderBy("b").rowsBetween(W.unboundedPreceding, W.currentRow)
    off = btot.select(
        "b",
        (F.sum("b0").over(wb) - F.col("b0")).alias("off0"),
        (F.sum("b1").over(wb) - F.col("b1")).alias("off1"),
    )
    wl = W.partitionBy("b").orderBy("x").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    ecdf = pts.join(F.broadcast(off), "b").select(
        (F.col("off0") + F.sum("c0").over(wl)).alias("f0"),
        (F.col("off1") + F.sum("c1").over(wl)).alias("f1"),
    )
    n = v.agg(
        F.sum(F.when(F.col("s") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n0"),
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
    )
    diff = ecdf.crossJoin(F.broadcast(n)).agg(
        F.first("n0").alias("n0"),
        F.first("n1").alias("n1"),
        F.max(
            F.abs(
                F.col("f0").cast("decimal(38,0)") * F.col("n1")
                - F.col("f1").cast("decimal(38,0)") * F.col("n0")
            )
        ).alias("ksd"),
    )
    return diff.select(
        "n0",
        "n1",
        F.col("ksd").cast("bigint").alias("ks_scaled"),
        F.expr(
            "CAST((ksd * 1000000) div (CAST(n0 AS DECIMAL(38,0)) * n1)"
            " AS BIGINT)"
        ).alias("ks_ppm"),
    )


# ---- Mann-Whitney U / AUC shift between sources ----


@query(
    "x_source_auc_shift",
    oracle="""
    WITH v AS (
        SELECT CASE WHEN source = 'src0' THEN 0 ELSE 1 END AS s, n_chars
        FROM documents WHERE source IN ('src0', 'src1')
    ),
    n AS (
        SELECT sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS n0,
               sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS n1
        FROM v
    ),
    pts AS (
        SELECT n_chars AS x,
               sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS c0,
               sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS c1
        FROM v GROUP BY n_chars
    ),
    cum AS (
        SELECT x, c0, c1,
               sum(c0) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) - c0
                   AS f0_below
        FROM pts
    )
    SELECT CAST(n.n0 AS BIGINT) AS n0, CAST(n.n1 AS BIGINT) AS n1,
           CAST(sum(CAST(c1 AS HUGEINT) * (2 * CAST(f0_below AS HUGEINT)
                                           + c0)) AS BIGINT) AS u2,
           CAST(sum(CAST(c1 AS HUGEINT) * (2 * CAST(f0_below AS HUGEINT)
                                           + c0)) * 1000000
                // (2 * CAST(n.n0 AS HUGEINT) * n.n1) AS BIGINT) AS auc_ppm
    FROM cum, n
    GROUP BY n.n0, n.n1
    """,
    tags=("stats", "tierx"),
)
def x_source_auc_shift(spark, sf_dir):
    """Mann-Whitney U between two sources' document-length
    distributions, reported as the common-language effect size
    AUC = P(len₀ < len₁) (+ ½·ties) — the location-shift companion to
    x_source_ks_drift (KS detects ANY shape change; U/AUC says which
    source runs longer and by how much, the metric drift dashboards
    chart). Exact integers throughout: with ties, 2·U = Σ_x c1(x) ·
    (2·F0(x⁻) + c0(x)) over the value-count relation. Per-term and
    total are bounded by 2·n0·n1 > int64 at ~2e9 docs per source, so
    the sum, the per-term product, and the ppm quotient run in
    DECIMAL(38,0) (HUGEINT in the oracle); only the ≤1e6 ppm and the
    u2 head are cast back to int64.

    Spark shape: identical cost envelope to the KS op — one groupBy
    to the distinct-value relation, then the two-phase
    broadcast-offset cumulative sum (bucket grid `x div 256`,
    exclusive prefix over the bounded bucket relation, partitioned
    per-bucket window + broadcast offset) for F0(x⁻) — no
    corpus-scaled single-partition WindowExec. Both drift statistics
    can share one pass in production."""
    from pyspark.sql import Window as W

    d = t(spark, sf_dir).documents.where(
        F.col("source").isin("src0", "src1")
    )
    v = d.select(
        F.when(F.col("source") == "src0", 0).otherwise(1).alias("s"),
        "n_chars",
    )
    pts = v.groupBy(F.col("n_chars").alias("x")).agg(
        F.sum(F.when(F.col("s") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0)).alias("c1"),
    )
    pts = pts.withColumn("b", F.expr("CAST(x div 256 AS BIGINT)"))
    btot = pts.groupBy("b").agg(F.sum("c0").alias("b0"))
    wb = W.orderBy("b").rowsBetween(W.unboundedPreceding, W.currentRow)
    off = btot.select(
        "b", (F.sum("b0").over(wb) - F.col("b0")).alias("off0")
    )
    wl = W.partitionBy("b").orderBy("x").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    cum = pts.join(F.broadcast(off), "b").select(
        "c0",
        "c1",
        (F.col("off0") + F.sum("c0").over(wl) - F.col("c0")).alias(
            "f0_below"
        ),
    )
    n = v.agg(
        F.sum(F.when(F.col("s") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n0"),
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
    )
    u = cum.agg(
        F.sum(
            F.col("c1").cast("decimal(38,0)")
            * (2 * F.col("f0_below") + F.col("c0"))
        ).alias("u2d")
    )
    return (
        u.crossJoin(F.broadcast(n))
        .select(
            "n0",
            "n1",
            F.col("u2d").cast("bigint").alias("u2"),
            F.expr(
                "CAST((u2d * 1000000)"
                " div (2 * CAST(n0 AS DECIMAL(38,0)) * n1) AS BIGINT)"
            ).alias("auc_ppm"),
        )
    )


# ---- Population Stability Index between sources ----


@query(
    "x_source_psi_drift",
    oracle="""
    WITH v AS (
        SELECT CASE WHEN source = 'src0' THEN 0 ELSE 1 END AS s, n_chars
        FROM documents WHERE source IN ('src0', 'src1')
    ),
    bins AS (
        SELECT n_chars // 64 AS b,
               sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS c0,
               sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS c1
        FROM v GROUP BY 1
    ),
    n AS (
        SELECT sum(c0) AS n0, sum(c1) AS n1,
               CAST(count(*) AS BIGINT) AS nb
        FROM bins
    ),
    terms AS (
        SELECT CAST(floor(
                   ((CAST(c0 + 1 AS DOUBLE) / (n.n0 + n.nb))
                    - (CAST(c1 + 1 AS DOUBLE) / (n.n1 + n.nb)))
                   * ln((CAST(c0 + 1 AS DOUBLE) / (n.n0 + n.nb))
                        / (CAST(c1 + 1 AS DOUBLE) / (n.n1 + n.nb)))
                   * 1e6 + 0.5) AS BIGINT) AS t_micro
        FROM bins, n
    )
    SELECT CAST(n.n0 AS BIGINT) AS n0, CAST(n.n1 AS BIGINT) AS n1,
           n.nb AS n_bins,
           CAST(sum(t_micro) AS BIGINT) AS psi_micro
    FROM terms, n
    GROUP BY n.n0, n.n1, n.nb
    """,
    tags=("stats", "tierx"),
)
def x_source_psi_drift(spark, sf_dir):
    """Population Stability Index between two sources' document-length
    distributions — the drift metric risk/monitoring dashboards
    standardize on (PSI = Σ (pᵢ−qᵢ)·ln(pᵢ/qᵢ); rule-of-thumb alerts at
    0.1/0.25). Completes the drift family: KL (needs bins, asymmetric),
    KS (binless sup-norm), AUC (location shift), PSI (symmetrized,
    binned, the one with industry thresholds).

    Determinism: fixed 64-char bins over the OCCUPIED length grid,
    add-one smoothing against the shared bin count (so empty-in-one-
    source bins contribute finitely and identically in both engines),
    each term quantized to integer micro-nats (floor(t·1e6 + 0.5), the
    x_text_unigram_logprob discipline) BEFORE the exact int64 sum —
    partitioning-independent and engine-identical.

    Spark shape: one map-side-combined groupBy to the bin grid
    (bounded by length domain / 64, NOT corpus size), a broadcast
    1-row totals join, one scalar sum. At 100 TB the metric costs one
    aggregation pass — and shares its bin relation with the KS/AUC
    ops' bucket grids in a production multi-metric drift job."""
    d = t(spark, sf_dir).documents.where(
        F.col("source").isin("src0", "src1")
    )
    v = d.select(
        F.when(F.col("source") == "src0", 0).otherwise(1).alias("s"),
        "n_chars",
    )
    bins = v.groupBy(
        F.expr("CAST(n_chars div 64 AS BIGINT)").alias("b")
    ).agg(
        F.sum(F.when(F.col("s") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0)).alias("c1"),
    )
    n = bins.agg(
        F.sum("c0").alias("n0"),
        F.sum("c1").alias("n1"),
        F.count("*").cast("bigint").alias("nb"),
    )
    p = (F.col("c0") + 1).cast("double") / (F.col("n0") + F.col("nb"))
    q = (F.col("c1") + 1).cast("double") / (F.col("n1") + F.col("nb"))
    t_micro = F.floor((p - q) * F.log(p / q) * F.lit(1e6) + F.lit(0.5)).cast(
        "bigint"
    )
    return (
        bins.crossJoin(F.broadcast(n))
        .agg(
            F.first("n0").cast("bigint").alias("n0"),
            F.first("n1").cast("bigint").alias("n1"),
            F.first("nb").alias("n_bins"),
            F.sum(t_micro).cast("bigint").alias("psi_micro"),
        )
    )
