"""Tier L — LLM-data-pipeline operators (SURVEY.md §2 tier L; the
mandated differentiator, BASELINE.json north star).

Design rules for 100 TB, applied throughout:
- Dedup/similarity NEVER does all-pairs over unbounded inputs: exact
  dedup is a hash groupBy; token-set similarity is an inverted-index
  self-join (shuffle on token, linear in posting-list mass); near-dup is
  banded MinHash-LSH (shuffle on (band, signature) buckets). The only
  crossJoins are over the provably-bounded 500-row embedding table, with
  the LSH/blocking scale path documented on each.
- Vector math stays JVM-side (zip_with/aggregate in DOUBLE — see
  functions.vdot); no Python on the hot path.
- No raw array columns in oracled outputs (round-1 rule).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sqlengine_spark.functions import dround, vdot
from sqlengine_spark.registry import query
from sqlengine_spark.session import scatter, scratch, table


def _tokens(d: DataFrame, distinct: bool = True) -> DataFrame:
    """(doc_id, t) token postings; dedup happens array-side BEFORE the
    explode so the generator emits |distinct tokens| rows, not |tokens|."""
    arr = F.split("text", " ")
    if distinct:
        arr = F.array_distinct(arr)
    return d.select("doc_id", F.explode(arr).alias("t"))


def _verify_jaccard(
    cands: DataFrame,
    feats: DataFrame,
    threshold: float,
    feat_col: str = "t",
) -> DataFrame:
    """Exact set-Jaccard verification on candidate pairs ONLY — the
    shared final stage of every near-dup pipeline here (prefix-filtered
    simjoin, MinHash-LSH, SimHash blocking).

    ``cands``: (doc_a, doc_b) pairs; ``feats``: distinct (doc_id,
    <feat_col>) features per doc. Returns (doc_a, doc_b, jaccard) where
    J = |∩| / (|a|+|b|-|∩|) ≥ threshold; ``jaccard`` is dround-ed for
    oracle hash parity, the threshold compares the raw double.

    Scale: two keyed joins hang each side's feature postings onto the
    candidate pairs, then the intersection count groups by pair — cost
    is |cands| × avg features, linear in candidates, never N². EVERY
    table in this stage is corpus-growing (postings = docs × features,
    counts = |docs| rows), so every join is PINNED shuffle_hash (r12):
    the old explicit F.broadcast(cnt) was the rule-14a defect, and
    dropping to plain joins merely exposed rule 14b — Catalyst's
    file-size stats can't see through the feature explode, estimated
    the 10M-row postings side as broadcastable, and the static
    BroadcastHashJoin OOM'd a plain 1g session at 50k fixture docs
    ("not enough memory to build and broadcast", the bounded-cluster
    fixture find). shuffle_hash keeps the stage linear and sort-free
    at any corpus size; tests/test_plans.py asserts no broadcast node
    survives in this stage."""
    cnt = feats.groupBy("doc_id").agg(F.count("*").alias("n"))
    sa = feats.select(F.col("doc_id").alias("doc_a"), F.col(feat_col).alias("f_a"))
    sb = feats.select(F.col("doc_id").alias("doc_b2"), F.col(feat_col).alias("f_b"))
    inter = (
        cands.join(sa.hint("shuffle_hash"), "doc_a")
        .join(
            sb.hint("shuffle_hash"),
            (F.col("doc_b") == F.col("doc_b2")) & (F.col("f_a") == F.col("f_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("i"))
    )
    jac = F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.join(
            cnt.select(
                F.col("doc_id").alias("doc_a"), F.col("n").alias("na")
            ).hint("shuffle_hash"),
            "doc_a",
        )
        .join(
            cnt.select(
                F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")
            ).hint("shuffle_hash"),
            "doc_b",
        )
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", dround(jac, 6).alias("jaccard"))
    )


def _prefix_postings(tok: DataFrame, tau_num: int, tau_den: int) -> DataFrame:
    """Prefix-filter pruning (τ = tau_num/tau_den): per doc of n
    distinct tokens, keep only its first n − ⌈τ·n⌉ + 1 tokens in the
    global (document-frequency asc, token asc) order. ⌈τ·n⌉ is exact
    integer arithmetic — a float ceil could overshoot by 1 ulp and
    silently drop true pairs. Candidate generation joining these pruned
    postings provably loses no pair with Jaccard ≥ τ (tested in
    tests/test_plans.py + the unchanged hash-green oracle)."""
    dfreq = tok.groupBy("t").agg(F.count("*").alias("df"))
    w_ord = W.partitionBy("doc_id").orderBy("df", "t")
    w_all = W.partitionBy("doc_id")
    ceil_tau_n = F.expr(f"({tau_num} * n + {tau_den - 1}) div {tau_den}")
    # NO explicit broadcast of dfreq (r11): the df table is VOCAB-sized
    # and vocabulary is Heaps-law unbounded on a real corpus — a forced
    # broadcast OOM'd a plain 1g session at 50k docs / 450k distinct
    # tokens (the bounded-cluster fixture find). A plain join lets AQE
    # decide from the ACTUAL built size: tiny vocab -> runtime
    # broadcast, open vocab -> shuffle join on t.
    return (
        tok.join(dfreq, "t")
        .withColumn("r", F.row_number().over(w_ord))
        .withColumn("n", F.count("*").over(w_all))
        .filter(F.col("r") <= F.col("n") - ceil_tau_n + 1)
        .select("doc_id", "t")
    )


def _prefix_jaccard_join(feats: DataFrame, tau_num: int, tau_den: int) -> DataFrame:
    """Every pair (doc_a < doc_b) of ``feats`` (distinct (doc_id, t)
    features per doc) with set-Jaccard ≥ τ = tau_num/tau_den, as
    (doc_a, doc_b, jaccard): the prefix-filtered ssjoin (Chaudhuri'06 /
    Xiao'08) behind l_simjoin_jaccard, l_simjoin_jaccard_hi's fallback,
    l_simjoin_ngram and l_dedup_cluster.

    - global feature order = (document frequency asc, feature asc);
    - per doc of n distinct features, the prefix is its first
      n − ⌈τ·n⌉ + 1 in that order (``_prefix_postings``, exact integer
      ceiling);
    - theorem: any pair with J ≥ τ shares ≥ 1 feature within BOTH
      prefixes (overlap o ≥ τ·max(|a|,|b|) pigeonholes into the
      prefix), so joining prefix × prefix postings loses nothing;
    - exact verification (``_verify_jaccard``) on the distinct
      candidates only, at threshold tau_num / tau_den (the same double
      as the decimal literal).

    Scale: a stopword (df → N) ranks LAST in the global order, so it
    only enters prefixes of docs that consist almost entirely of
    stopwords; posting-list self-join mass drops from Σ df² to Σ
    prefix-df², and the verify is linear in surviving candidates. The
    candidate self-join is pinned shuffle_hash (rule 14b) HERE, once
    for all four callers: both posting sides are corpus-growing, and
    fixture-scale stats must not statically broadcast a side that is
    docs × prefix at 100 TB (unpinned, Catalyst broadcasts
    l_simjoin_ngram's gram postings at sf0.01). tests/test_plans.py
    asserts the pin."""
    pref = _prefix_postings(feats, tau_num, tau_den)
    pa = pref.select(F.col("doc_id").alias("doc_a"), "t")
    pb = pref.select(F.col("doc_id").alias("doc_b"), "t")
    cands = (
        pa.join(pb.hint("shuffle_hash"), "t")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return _verify_jaccard(cands, feats, threshold=tau_num / tau_den)


@query(
    "l_dedup_exact",
    oracle="""
    SELECT md5(text) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def l_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: keep the smallest doc_id per digest.
    One shuffle on the 128-bit hash; group cardinality = distinct
    contents. This is THE 100 TB exact-dedup plan — no sort, no window,
    and the hash groupBy partial-aggregates map-side."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.md5("text").alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


@query(
    "l_simjoin_jaccard",
    oracle="""
    WITH tok AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t
        FROM documents
    ),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           ROUND(i * 1.0 / (ca.n + cb.n - i) * 1e6, 0) / 1e6 AS jaccard
    FROM inter
    JOIN cnt ca ON doc_a = ca.doc_id
    JOIN cnt cb ON doc_b = cb.doc_id
    WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.6
    """,
)
def l_simjoin_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT token-Jaccard self-join (J ≥ 0.6): ``_prefix_jaccard_join``
    over the distinct tokens of each document (⌈0.6·n⌉ is the exact
    integer (3n+4) div 5). The answer is identical to the naive
    inverted-index join (same oracle, same hash); only candidate
    generation is pruned, which is what bounds stopword skew at 100 TB.

    Scale: the df table is |vocab|-sized — joined PLAIN (AQE broadcasts
    it only when actually small; vocab is Heaps-law unbounded at
    100 TB); prefix ranking is one shuffle keyed doc_id."""
    d = table(spark, sf_dir, "documents")
    return _prefix_jaccard_join(_tokens(d), 3, 5)


@query(
    "l_simjoin_jaccard_hi",
    oracle="""
    WITH tok AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t
        FROM documents
    ),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           ROUND(i * 1.0 / (ca.n + cb.n - i) * 1e6, 0) / 1e6 AS jaccard
    FROM inter
    JOIN cnt ca ON doc_a = ca.doc_id
    JOIN cnt cb ON doc_b = cb.doc_id
    WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.97
    """,
)
def l_simjoin_jaccard_hi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-Jaccard self-join at a NEAR-DUP threshold (J ≥ 0.97) with
    a RUNTIME length-degeneracy test (round-4 verdict item 9, the
    SKIP-list burn-down) — the regime where the answer on this corpus
    is linear (35 606 pairs at sf0.1, vs 7.1 M at J ≥ 0.6).

    Theorem (ssjoin length filter, tightened): two DISTINCT token sets
    with max distinct-set size n_max satisfy J ≤ (n_max−1)/n_max —
    a proper subset of size na in nb gives J = na/nb ≤ (nb−1)/nb, and
    unequal sets of equal size n have i ≤ n−1, u ≥ n+1. So whenever
    τ > (n_max−1)/n_max the threshold join REDUCES EXACTLY to
    identical-set grouping, and the scale-correct plan is a hash-agg:
    md5 signature of the sorted distinct-token set, equi-self-join on
    the signature — output-linear, no postings join at all. This repo's
    corpus has n_max = 31 < τ/(1−τ) = 32.3, so the fast path fires;
    the bound check itself is a bounded 1-row aggregate collect.

    Why not the prefix plan here: at τ = 0.97 the prefix is 1 token per
    doc, but ALL tokens are stopwords (31-token vocabulary), so prefix
    postings concentrate on the few globally-rarest tokens — measured
    6.89 M candidate pairs at sf0.1 (70 s), against a 35.6 k answer.
    The signature route is what a 100 TB near-dup pass does first
    anyway (exact-set dedup before any similarity machinery); the
    general-τ prefix join (``_prefix_jaccard_join``) remains the
    fallback branch when the data's n_max defeats the bound.

    Single corpus scan (round-5 verdict item 3): the per-doc sorted
    distinct-token arrays are tokenized ONCE and local-checkpointed
    (materialized, lineage cut) — the n_max bound check, the signature
    aggregation, AND the fallback's postings/verify all derive from
    that materialized frame, so documents.parquet is scanned exactly
    once per invocation in either branch (asserted in test_plans.py).
    localCheckpoint (not persist) keeps repeat invocations honest: a
    lingering cached plan would let a re-bench skip the scan (CLAUDE.md
    rule 8a); checkpoints are per-invocation. At 100 TB the same role
    is played by a staged tokens table."""
    tau_num, tau_den = 97, 100
    d = table(spark, sf_dir, "documents")
    per_doc = (
        _tokens(d)
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("t")).alias("ts"))
        .localCheckpoint()  # one tokenize pass, reused by every branch
    )
    n_max = per_doc.agg(F.max(F.size("ts"))).collect()[0][0]
    if n_max is not None and tau_num * n_max > tau_den * (n_max - 1):
        sig = per_doc.select(
            "doc_id", F.md5(F.array_join("ts", "\x01")).alias("sig")
        )
        sa = sig.select(F.col("doc_id").alias("doc_a"), "sig")
        sb = sig.select(F.col("doc_id").alias("doc_b"), "sig")
        return (
            sa.join(sb, "sig")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b", F.lit(1.0).alias("jaccard"))
        )
    tok = per_doc.select("doc_id", F.explode("ts").alias("t"))
    return _prefix_jaccard_join(tok, tau_num, tau_den)


@query(
    "l_sim_search_topk",
    oracle="""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, sim FROM (
        SELECT e.vec_id,
               ROUND((SELECT SUM(e.embedding[s.i]::DOUBLE * q.qe[s.i]::DOUBLE)
                      FROM (SELECT unnest(generate_series(1, 64)) AS i) s)
                     * 1e6, 0) / 1e6 AS sim
        FROM embeddings e, q
        WHERE e.vec_id <> 0
    )
    ORDER BY sim DESC, vec_id
    LIMIT 10
    """,
)
def l_sim_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector top-k: 10 nearest neighbors of vec 0 by cosine (vectors
    are unit-norm, so cosine ≡ dot). Brute force IS the baseline: one
    broadcast of the query vector, a JVM-side dot per row, and a
    TakeOrdered top-k — no shuffle of the embedding table at all. The
    scale path swaps the scan for an IVF/LSH pre-filter (probe only the
    query's buckets) with the same downstream top-k."""
    # One spark.sql statement (round 5): the aggregate/zip_with lambda
    # construction through Py4J dominated driver-side latency — paired
    # interleaved at sf0.1: 0.339 → 0.272 s median. The SQL aggregate/
    # zip_with spelling IS vdot (sequential double fold), and
    # ROUND(x·1e6)/1e6 + 0.0 IS dround.
    from sqlengine_spark.session import load_tables

    load_tables(spark, sf_dir, ("embeddings",))
    return spark.sql(
        """
        SELECT /*+ BROADCAST(q) */ e.vec_id,
               ROUND(aggregate(
                         zip_with(e.embedding, q.qe,
                                  (x, y) -> CAST(x AS DOUBLE)
                                            * CAST(y AS DOUBLE)),
                         CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) * 1e6)
                   / 1e6 + 0.0 AS sim
        FROM embeddings e,
             (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
        WHERE e.vec_id <> 0
        ORDER BY sim DESC, vec_id LIMIT 10
        """
    )


#: Every vector pair (va < vb) with cosine ≥ 0.4: one contract, two
#: physical strategies (l_sim_join_threshold, l_sim_join_gemm).
_COSINE_PAIRS_ORACLE = """
    SELECT a.vec_id AS va, b.vec_id AS vb,
           ROUND((SELECT SUM(a.embedding[s.i]::DOUBLE * b.embedding[s.i]::DOUBLE)
                  FROM (SELECT unnest(generate_series(1, 64)) AS i) s)
                 * 1e6, 0) / 1e6 AS sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE (SELECT SUM(a.embedding[s.i]::DOUBLE * b.embedding[s.i]::DOUBLE)
           FROM (SELECT unnest(generate_series(1, 64)) AS i) s) >= 0.4
    """


def _cosine_pairs(e: DataFrame) -> DataFrame:
    """Every pair of ``e``'s vectors with va < vb and cosine ≥ 0.4, as
    (va, vb, raw): ``raw`` is the unrounded vdot (vectors are unit-norm,
    so cosine ≡ dot), the sequential double fold the oracles replay.
    The threshold fits this corpus (max cosine 0.513, so 0.95 would be
    vacuous).

    Scale: a brute-force pair join, sanctioned ONLY because the input is
    provably 500 rows (≤125k pairs); the 100 TB plan is
    random-hyperplane LSH (ann.lsh_sim_join: sign-bucket each vector,
    self-join per band, verify exact cosine on candidates — same shape
    as l_dedup_near_minhash)."""
    a = e.select(F.col("vec_id").alias("va"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"))
    return (
        a.join(b, F.col("va") < F.col("vb"))
        .withColumn("raw", vdot(F.col("ea"), F.col("eb")))
        .filter(F.col("raw") >= 0.4)
        .select("va", "vb", "raw")
    )


@query("l_sim_join_threshold", oracle=_COSINE_PAIRS_ORACLE)
def l_sim_join_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All vector pairs with cosine ≥ 0.4: ``_cosine_pairs`` with the
    similarity rounded to 6 dp."""
    e = table(spark, sf_dir, "embeddings")
    return _cosine_pairs(e).select("va", "vb", dround(F.col("raw"), 6).alias("sim"))


@query(
    "l_knn_label_vote",
    oracle="""
    SELECT vec_id, nn_id, nn_label FROM (
        SELECT a.vec_id, b.vec_id AS nn_id, b.label AS nn_label,
               row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY (SELECT SUM(a.embedding[s.i]::DOUBLE
                                        * b.embedding[s.i]::DOUBLE)
                             FROM (SELECT unnest(generate_series(1, 64)) AS i) s)
                            DESC, b.vec_id) AS rn
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ) WHERE rn = 1
    """,
)
def l_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-NN label assignment: each vector takes the label of its nearest
    other vector (cosine). Output is integer-only (no float hash risk);
    the similarity ordering is the double-pinned dot, tiebroken by
    neighbor id. Same bounded-crossJoin caveat + LSH scale path as
    ``_cosine_pairs``."""
    e = table(spark, sf_dir, "embeddings")
    a = e.select(F.col("vec_id").alias("vec_id"), F.col("embedding").alias("ea"))
    b = e.select(
        F.col("vec_id").alias("nn_id"),
        F.col("label").alias("nn_label"),
        F.col("embedding").alias("eb"),
    )
    pairs = a.join(b, F.col("vec_id") != F.col("nn_id")).withColumn(
        "sim", vdot(F.col("ea"), F.col("eb"))
    )
    w = W.partitionBy("vec_id").orderBy(F.col("sim").desc(), "nn_id")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "nn_id", "nn_label")
    )


@query(
    "l_text_tokenize_tf",
    oracle="""
    SELECT t AS token, COUNT(*) AS df
    FROM (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t
          FROM documents)
    GROUP BY t
    ORDER BY df DESC, token
    LIMIT 20
    """,
)
def l_text_tokenize_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 tokens by document frequency. Distinct-per-doc happens
    array-side before the explode; the groupBy partial-aggregates to
    |vocab| rows per partition before the shuffle."""
    d = table(spark, sf_dir, "documents")
    return (
        _tokens(d)
        .groupBy(F.col("t").alias("token"))
        .agg(F.count("*").alias("df"))
        .orderBy(F.col("df").desc(), "token")
        .limit(20)
    )


@query(
    "l_text_tfidf_top",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY doc_id, t),
    df AS (SELECT t, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY t),
    n AS (SELECT COUNT(*) AS n FROM documents)
    SELECT doc_id, term, tfidf FROM (
        SELECT tf.doc_id, tf.t AS term,
               ROUND(tf.tf * ln(n.n * 1.0 / df.df) * 1e4, 0) / 1e4 AS tfidf,
               row_number() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY tf.tf * ln(n.n * 1.0 / df.df) DESC, tf.t) AS rn
        FROM tf JOIN df ON tf.t = df.t, n
    ) WHERE rn = 1
    """,
)
def l_text_tfidf_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: the top-scoring term per document, tf × ln(N/df) with
    natural log and dynamic N (SURVEY formula pin). tf aggregates
    (doc, term); df is the distinct-(doc,term) count per term,
    |vocab|-sized, broadcast-joined back; the per-doc argmax is a
    WindowGroupLimit rank. Ties (equal tf and df ⇒ bit-equal score in
    both engines) break on the term string.

    Plan-shape notes, all three shapes MEASURED at sf0.1: (a) this
    dual-branch form (tf branch ∥ df branch, each explode+partial-agg)
    is the fastest — the two corpus passes run in PARALLEL stages and
    the df join is a broadcast; (b) a COUNT(*)-window-over-term on tf
    avoids the second pass but re-sorts the full tf table by term and
    single-partitions hot terms: ~0.15 s slower; (c) forcing the two
    branches onto one shared tf exchange (ReusedExchange) also runs
    one corpus pass but SERIALIZES the stage chain (tf shuffle → df
    agg → broadcast → join): ~0.22 s slower here. At 100 TB the
    trade flips — a corpus pass costs more than stage latency — so
    the scale recipe is (c): stage the tf aggregate (or checkpoint
    it) and derive df from it; both sides stay linear, and if |vocab|
    outgrows the broadcast threshold the df join degrades gracefully
    to a shuffle join on term."""
    d = table(spark, sf_dir, "documents")
    tok = _tokens(d, distinct=False)
    tf = tok.groupBy("doc_id", "t").agg(F.count("*").alias("tf"))
    df = tf.groupBy("t").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").alias("n"))
    score = F.col("tf") * F.log(F.col("n") * 1.0 / F.col("df"))
    w = W.partitionBy("doc_id").orderBy(score.desc(), "t")
    return (
        # plain join: df is vocab-sized (unbounded on real corpora) —
        # AQE broadcasts it at runtime only when actually small (r11;
        # the docstring's graceful-degradation claim is now true)
        tf.join(df, "t")
        .crossJoin(F.broadcast(n))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("t").alias("term"), dround(score, 4).alias("tfidf"))
    )


@query(
    "l_text_stats_lang",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           ROUND(AVG(n_chars) * 100, 0) / 100 AS avg_chars,
           ROUND(AVG(len(string_split(text, ' '))) * 100, 0) / 100 AS avg_tokens
    FROM documents GROUP BY lang
    """,
)
def l_text_stats_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus stats (the language-ID column is given in
    this dataset; a real pipeline derives it with an n-gram scorer —
    same aggregate shape)."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        dround(F.avg("n_chars"), 2).alias("avg_chars"),
        dround(F.avg(F.size(F.split("text", " "))), 2).alias("avg_tokens"),
    )


@query(
    "l_multimodal_enrich",
    oracle="""
    WITH m AS (
        SELECT d.lang, e.vec_id, s.i, e.embedding[s.i]::DOUBLE AS val
        FROM embeddings e
        JOIN documents d ON e.vec_id = d.doc_id,
        LATERAL (SELECT unnest(generate_series(1, 64)) AS i) s
    ),
    cent AS (SELECT lang, i, AVG(val) AS cval FROM m GROUP BY lang, i),
    mem AS (
        SELECT m.lang, m.vec_id,
               SUM(m.val * c.cval) AS dot,
               sqrt(SUM(m.val * m.val)) AS vnorm
        FROM m JOIN cent c ON m.lang = c.lang AND m.i = c.i
        GROUP BY m.lang, m.vec_id
    ),
    cn AS (SELECT lang, sqrt(SUM(cval * cval)) AS cnorm FROM cent GROUP BY lang)
    SELECT mem.lang,
           COUNT(*) AS n_members,
           ROUND(AVG(mem.dot / (mem.vnorm * cn.cnorm)) * 1e4, 0) / 1e4 AS avg_cos
    FROM mem JOIN cn ON mem.lang = cn.lang
    GROUP BY mem.lang
    """,
)
def l_multimodal_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal join: text metadata (lang) x vector column. Per-lang
    centroid cohesion — average cosine of each member embedding to its
    language's mean vector. Everything is posexplode + aggregates: the
    centroid is a (lang, dim)-grouped average, members re-join the
    centroid on (lang, dim) — no UDF, no collect, shuffle keyed on
    (lang, dim) then (lang, vec_id). Binary media columns follow the
    same plumbing (opaque bytes + typed metadata), with decode stubs in
    sqlengine_spark/streaming-free Pandas UDFs — see tier tests.

    Measured alternative, rejected: a no-explode array formulation
    (64 per-position AVG aggregates reassembled into a centroid array,
    member cosines as vdot folds) LOOKS cheaper but times 1.3-1.5 s
    per fresh execution vs ~1.0 s for this plan at sf0.1 — the 64-wide
    aggregate recompiles a huge codegen method on every new plan
    instance, swamping the explode it saves. (Its 0.1 s "hot" reading
    came from re-collecting the SAME DataFrame object, which reuses
    shuffle map outputs — not a shape a fresh driver call ever gets.)"""
    e = table(spark, sf_dir, "embeddings")
    d = table(spark, sf_dir, "documents").select("doc_id", "lang")
    m = (
        e.join(d, e.vec_id == d.doc_id)
        .select("lang", "vec_id", F.posexplode("embedding").alias("i", "valf"))
        .select("lang", "vec_id", "i", F.col("valf").cast("double").alias("val"))
    )
    cent = m.groupBy("lang", "i").agg(F.avg("val").alias("cval"))
    # cent is |langs| x |dims| rows (320) — broadcast it so the member
    # re-join never shuffles the exploded stream on (lang, dim); the
    # explicit hint also skips the AQE SMJ->BHJ re-plan round.
    mem = (
        m.join(F.broadcast(cent), ["lang", "i"])
        .groupBy("lang", "vec_id")
        .agg(
            F.sum(F.col("val") * F.col("cval")).alias("dot"),
            F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("vnorm"),
        )
    )
    cn = cent.groupBy("lang").agg(F.sqrt(F.sum(F.col("cval") * F.col("cval"))).alias("cnorm"))
    return (
        mem.join(F.broadcast(cn), "lang")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_members"),
            dround(F.avg(F.col("dot") / (F.col("vnorm") * F.col("cnorm"))), 4).alias(
                "avg_cos"
            ),
        )
    )


@query(
    "l_text_quality",
    oracle="""
    SELECT doc_id,
           length(text) AS n_chars_raw,
           len(string_split(text, ' ')) AS n_ws_tokens,
           ROUND(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) * 1.0
                 / length(text) * 1e4, 0) / 1e4 AS punct_ratio,
           ROUND(len(list_filter(string_split(text, ' '),
                                 t -> list_contains(['the', 'a', 'of', 'and'], t)))
                 * 1.0 / len(string_split(text, ' ')) * 1e4, 0) / 1e4
               AS stopword_ratio,
           ROUND((length(text) - len(string_split(text, ' ')) + 1) * 1.0
                 / len(string_split(text, ' ')) * 1e2, 0) / 1e2 AS avg_tok_len
    FROM documents
    """,
)
def l_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality signals for pipeline filtering: raw length,
    whitespace token count, punctuation ratio, stopword ratio, average
    token length — the standard cheap pre-filters before expensive
    dedup/embedding stages. Pure codegen expressions, zero marginal
    cost at 100 TB."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    stop = F.size(
        F.filter(toks, lambda t: t.isin("the", "a", "of", "and"))
    )
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_raw"),
        n_tok.alias("n_ws_tokens"),
        dround(
            F.length(F.regexp_replace("text", "[a-z0-9 ]", "")) * 1.0
            / F.length("text"),
            4,
        ).alias("punct_ratio"),
        dround(stop * 1.0 / n_tok, 4).alias("stopword_ratio"),
        dround((F.length("text") - n_tok + 1) * 1.0 / n_tok, 2).alias("avg_tok_len"),
    )


@query(
    "l_text_fingerprint",
    oracle="""
    SELECT doc_id,
           MIN(md5(s)) AS fingerprint,
           COUNT(DISTINCT s) AS n_shingles
    FROM (
        SELECT doc_id, substring(text, i.i, 8) AS s
        FROM documents,
             LATERAL (SELECT unnest(generate_series(1,
                          greatest(length(text) - 7, 1))) AS i) i
    )
    GROUP BY doc_id
    """,
)
def l_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint: the minimum digest over all
    8-gram character shingles (a 1-permutation MinHash) plus the
    distinct-shingle count — equal fingerprints flag near-identical
    prefixes/content for cheap first-pass dedup routing. md5 is pinned
    because both engines implement it identically; the shingle explode
    partial-aggregates to one row per doc before the shuffle.

    Plan note (round-10 x100 hunt): shingles slice a per-doc CHAR
    ARRAY (split('')), not substr(text, i, 8) — Spark's UTF8String
    substring walks code points O(i) per call, making per-position
    substr quadratic per document (the l_text_entropy finding; paired
    at x100: 38.9 -> 5.8 s, identical results; DuckDB's byte-offset
    substring never paid the walk, which is why only the Spark side
    changes)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            F.split("text", "").alias("ca"),
        )
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, greatest(size(ca) - 7, 1)),"
                    " i -> array_join(slice(ca, i, 8), ''))"
                )
            ).alias("s"),
        )
        .groupBy("doc_id")
        .agg(
            F.min(F.md5("s")).alias("fingerprint"),
            F.countDistinct("s").alias("n_shingles"),
        )
    )


@query(
    "l_text_token_count",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS word_tokens,
           len(regexp_extract_all(text, '[a-z]{1,3}|[0-9]{1,3}|[^a-z0-9 ]'))
               AS subword_tokens
    FROM documents
    """,
)
def l_text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace split, word-regex, and a
    BPE-ish greedy subword regex (bounded-length alpha/digit chunks) —
    the cheap token-budget estimators a training pipeline runs before
    real tokenization. All regexes evaluate in codegen; counts only,
    no token arrays in the output."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+"), 0)).alias(
            "word_tokens"
        ),
        F.size(
            F.regexp_extract_all("text", F.lit("[a-z]{1,3}|[0-9]{1,3}|[^a-z0-9 ]"), 0)
        ).alias("subword_tokens"),
    )


@query(
    "l_text_langid",
    oracle="""
    WITH tri AS (
        SELECT doc_id, lang,
               unnest(list_transform(
                   generate_series(1, greatest(length(text) - 2, 1)),
                   i -> substring(text, i, 3))) AS tri
        FROM documents
    ), doc_tf AS (
        SELECT doc_id, tri, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tri GROUP BY doc_id, tri
    ), lt AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS tot FROM tri GROUP BY lang
    ), prof AS (
        SELECT t.lang, t.tri,
               CAST(FLOOR(COUNT(*) / CAST(lt.tot AS DOUBLE) * 1e12 + 0.5)
                    AS BIGINT) AS pq
        FROM tri t JOIN lt ON lt.lang = t.lang
        GROUP BY t.lang, t.tri, lt.tot
    ), scores AS (
        SELECT d.doc_id, p.lang, CAST(SUM(d.tf * p.pq) AS BIGINT) AS si
        FROM doc_tf d JOIN prof p ON p.tri = d.tri
        GROUP BY d.doc_id, p.lang
    ), ranked AS (
        SELECT doc_id, lang, si,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY si DESC, lang) AS rn
        FROM scores
    )
    SELECT doc_id, lang AS pred_lang,
           ROUND(si / 1e12 * 1e4) / 1e4 + 0.0 AS score
    FROM ranked WHERE rn = 1
    """,
)
def l_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID by character-trigram profiles — the classic n-gram
    heuristic: build per-language trigram frequency profiles from the
    labeled corpus, score every document against every profile
    (sparse dot over shared trigrams), take the argmax.

    Graduated from rows-only to a full SQL oracle in round 9 (r8
    verdict item 8, third graduate): profile probabilities are half-up
    quantized to 1e-12 fixed point once per (lang, trigram) TYPE, so
    every document score is an exact INTEGER sum — accumulation order
    can't flip a near-tie argmax in either engine (the NB
    per-token-type pattern, rule 11e), and the (score, lang) rank is a
    total order.

    Scale: trigram postings explode linearly; profiles are |langs| x
    |trigram vocab| — tiny — and broadcast into the scoring join; the
    argmax is a WindowGroupLimit rank. On real multilingual text the
    profiles separate scripts/orthography sharply; on this synthetic
    same-vocabulary corpus the labels carry no signal, so the check is
    determinism + coverage (pytest + oracle), not accuracy."""
    d = table(spark, sf_dir, "documents")
    tri = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(length(text) - 2, 1)),"
                " i -> substr(text, i, 3))"
            )
        ).alias("tri"),
    )
    # r14 staging attempt, measured and REJECTED (pin 14d / rule 8c):
    # the trigram stream has three consumers (doc_tf, lang_totals,
    # profile), so single-scan staging looked right — but BOTH staged
    # forms lose at sf0.1 under paired interleaved fresh-plan reps
    # (medians over 5: 3-explode 4.83 s, checkpointed (doc,lang,tri)
    # agg 5.61 s, 2-explode + tiny (lang,tri) checkpoint 6.22 s). The
    # redundant explodes overlap on idle cores while localCheckpoint
    # is an EAGER synchronous job — a barrier that serializes the
    # model build before scoring can even plan. The scale argument is
    # not airtight either: doc_tf is itself corpus-sized, so staging
    # trades 2 extra text scans for a corpus-sized write + re-reads.
    doc_tf = tri.groupBy("doc_id", "tri").agg(F.count("*").alias("tf"))
    lang_totals = tri.groupBy("lang").agg(F.count("*").alias("tot"))
    profile = (
        tri.groupBy("lang", "tri")
        .agg(F.count("*").alias("c"))
        .join(F.broadcast(lang_totals), "lang")
        .select(
            "lang",
            "tri",
            F.floor(F.col("c") / F.col("tot").cast("double") * 1e12 + 0.5)
            .cast("bigint")
            .alias("pq"),
        )
    )
    scores = (
        doc_tf.join(F.broadcast(profile), "tri")
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.col("tf") * F.col("pq")).alias("si"))
    )
    w = W.partitionBy("doc_id").orderBy(F.col("si").desc(), "lang")
    return (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("lang").alias("pred_lang"),
            dround(F.col("si") / 1e12, 4).alias("score"),
        )
        .orderBy("doc_id")
    )


@query(
    "l_dedup_embedding",
    oracle="""
    SELECT e.vec_id FROM embeddings e
    WHERE NOT EXISTS (
        SELECT 1 FROM embeddings p
        WHERE p.vec_id < e.vec_id
          AND (SELECT SUM(p.embedding[s.i]::DOUBLE * e.embedding[s.i]::DOUBLE)
               FROM (SELECT unnest(generate_series(1, 64)) AS i) s) >= 0.4
    )
    """,
)
def l_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate DEDUP (not just pair listing):
    keep a vector iff no lower-id vector is within the similarity
    threshold — the greedy min-id canonicalization used by embedding
    dedup pipelines. Expressed as an anti-join against the thresholded
    pair set, so the survivors are exactly reproducible in SQL.
    The pair set is ``_cosine_pairs``; its generation swaps to
    ann.lsh_sim_join at scale — the anti-join stage is unchanged."""
    e = table(spark, sf_dir, "embeddings")
    dup_ids = _cosine_pairs(e).select(F.col("vb").alias("vec_id")).distinct()
    return e.select("vec_id").join(dup_ids, "vec_id", "left_anti")


@query(
    "l_dedup_simhash",
    oracle="""
    WITH tf AS (
        SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents)
        GROUP BY doc_id, tok
    ), hx AS (
        SELECT doc_id, tok, tf,
               CAST(('0x' || substring(md5(tok), 9, 8)) AS BIGINT) AS h_lo,
               CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) AS h_hi
        FROM tf
    ), bits AS (
        SELECT h.doc_id, b.b,
               CASE WHEN SUM(h.tf * (2 * (CASE WHEN b.b < 32
                        THEN (h.h_lo >> b.b) & 1
                        ELSE (h.h_hi >> (b.b - 32)) & 1 END) - 1)) > 0
                    THEN 1 ELSE 0 END AS bit
        FROM hx h, (SELECT unnest(generate_series(0, 63)) AS b) b
        GROUP BY h.doc_id, b.b
    ), fpb AS (
        SELECT doc_id, b // 8 AS band,
               CAST(SUM(bit * (1 << (b % 8))) AS BIGINT) AS sig
        FROM bits GROUP BY doc_id, b // 8
    ), cand AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM fpb x JOIN fpb y ON x.band = y.band AND x.sig = y.sig
                             AND x.doc_id < y.doc_id
    ), tokset AS (
        SELECT DISTINCT doc_id, tok FROM tf
    ), cnt AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
        FROM tokset GROUP BY doc_id
    ), inter AS (
        SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS i
        FROM cand c
        JOIN tokset sa ON sa.doc_id = c.doc_a
        JOIN tokset sb ON sb.doc_id = c.doc_b AND sb.tok = sa.tok
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT v.doc_a, v.doc_b,
           ROUND(CAST(v.i AS DOUBLE)
                 / CAST(ca.n + cb.n - v.i AS DOUBLE) * 1e6, 0) / 1e6
               AS jaccard
    FROM inter v
    JOIN cnt ca ON ca.doc_id = v.doc_a
    JOIN cnt cb ON cb.doc_id = v.doc_b
    WHERE CAST(v.i AS DOUBLE) / CAST(ca.n + cb.n - v.i AS DOUBLE) >= 0.7
    """,
)
def l_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs via 64-bit SimHash (Charikar) with banded
    hamming blocking + exact verification:

    1. per doc, weighted token features: bit b of the fingerprint is
       sign(Σ_tokens tf · (bit b of hash(token) ? +1 : -1)) — all 64
       bit-sums in ONE aggregation pass over exploded tokens;
    2. near-identical docs differ in only a few bits, so split the
       fingerprint into 8 bands of 8 bits: pairs agreeing on ANY full
       band meet (detects hamming distance ≤ 7 deterministically);
    3. verify candidates with exact token-Jaccard, keep J ≥ 0.7.

    Graduated from rows-only to a full SQL oracle in round 9 (r8
    verdict item 8): the token hash is two md5-derived 32-bit halves
    (hex chars 1-8 → bits 32-63, 9-16 → bits 0-31) — byte-identical
    in both engines — instead of Spark-only xxhash64, so the oracle
    can restate the banding brute-force (all-pairs EXISTS-band via a
    per-band signature join) plus the exact set-Jaccard ≥ 0.7 verify.
    Sign ties at 0 → bit 0, pinned identically; the J ≥ 0.7 compare
    is the identical double division in both engines.

    Same two-shuffle shape as MinHash-LSH (doc-grouped signature, then
    band-bucket join); SimHash signatures are 8 bytes vs MinHash's
    64x8 — the cheaper index when near-dups are very close. Recall vs
    ground truth asserted in pytest (tests/test_minhash.py)."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.split(F.col("text"), " ")).alias("t"),
    ).groupBy("doc_id", "t").agg(F.count("*").alias("tf"))
    h_lo = F.conv(F.substring(F.md5("t"), 9, 8), 16, 10).cast("bigint")
    h_hi = F.conv(F.substring(F.md5("t"), 1, 8), 16, 10).cast("bigint")

    def hbit(b: int):
        half, off = (h_lo, b) if b < 32 else (h_hi, b - 32)
        return F.shiftright(half, off).bitwiseAND(F.lit(1))

    bits = tok.groupBy("doc_id").agg(
        *[
            (
                F.sum(
                    F.when(hbit(b) == 1, F.col("tf")).otherwise(-F.col("tf"))
                )
                > 0
            )
            .cast("int")
            .alias(f"b{b}")
            for b in range(64)
        ]
    )
    n_bands, width = 8, 8
    bands = bits.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "",
                        *[F.col(f"b{band * width + k}") for k in range(width)],
                    )
                    for band in range(n_bands)
                ]
            )
        ).alias("band", "sig"),
    )
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "sig")
    b2 = bands.select(F.col("doc_id").alias("doc_b"), "band", "sig")
    cands = (
        a.join(b2, ["band", "sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # exact token-Jaccard verification on candidates only (shared stage)
    return _verify_jaccard(cands, _tokens(d), threshold=0.7).orderBy(
        "doc_a", "doc_b"
    )


@query("l_multimodal_decode")  # rows-only: decode stub is engine-specific
def l_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-media pipeline end to end: documents re-typed as an
    (media_id, kind, payload BINARY, meta STRUCT) relation, pushed
    through the Arrow-batched mapInPandas feature extractor
    (sqlengine_spark/multimodal.py — decode stubbed, plumbing real),
    then aggregated. Exercises binary columns through shuffle + Arrow
    and the deterministic feature path; per-row behavior is pinned in
    tests/test_multimodal.py."""
    from sqlengine_spark.multimodal import documents_as_media, extract_features

    media = documents_as_media(table(spark, sf_dir, "documents"))
    feats = extract_features(media)
    return feats.groupBy("kind").agg(
        F.count("*").alias("n_media"),
        F.sum("n_bytes").alias("total_bytes"),
        dround(F.avg("feat_norm"), 4).alias("avg_feat_norm"),
        dround(F.avg("f0"), 4).alias("avg_f0"),
    )


@query("l_dedup_near_minhash")  # rows-only: LSH bucketing is engine-specific
def l_dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs (5-gram shingle Jaccard ≥ 0.7) via banded
    MinHash-LSH with exact verification — THE 100 TB near-dup pipeline:

    1. shingle each doc (array expression, no UDF), distinct;
    2. 64 min-hashes per doc in ONE aggregation pass (64 agg exprs over
       the exploded shingles — no 64x row blowup);
    3. split signatures into 16 bands of 4; explode to (band, sig, doc);
    4. self-join on (band, sig): only docs agreeing on a full band meet
       (P(collide) = 1-(1-J^4)^16: ≥ 0.988 at J = 0.7, ~1 at J ≥ 0.9,
       0.12 at J = 0.3 — which is why step 5 exists);
    5. verify EXACT Jaccard on the candidate pairs only, keep J ≥ 0.7.

    All-pairs never happens: the join is banded buckets, and the exact
    verify touches |candidates| pairs, not N². Verified in pytest
    against ground-truth exact Jaccard (recall at J ≥ 0.9).
    """
    d = table(spark, sf_dir, "documents")
    shingles = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr("transform(sequence(1, greatest(length(text) - 4, 1)),"
                       " i -> substr(text, i, 5))")
            )
        ).alias("sh"),
    )
    n_hashes, r = 64, 4
    sigs = shingles.groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64(F.col("sh"), F.lit(s))).alias(f"h{s}")
            for s in range(n_hashes)
        ]
    )
    bands = sigs.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "_", *[F.col(f"h{b * r + k}") for k in range(r)]
                    )
                    for b in range(n_hashes // r)
                ]
            )
        ).alias("band", "sig"),
    )
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "sig")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "sig")
    # band self-join pinned shuffle_hash (r12, rule 14b): the bands
    # table is 16 x |docs| rows — corpus-growing — and Catalyst's
    # file-size stats can't see through the signature agg, so small
    # fixtures statically broadcast a side that is N-sized at scale.
    cands = (
        a.join(b.hint("shuffle_hash"), ["band", "sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # exact shingle-Jaccard verification on candidates only (shared stage)
    return _verify_jaccard(cands, shingles, threshold=0.7, feat_col="sh").orderBy(
        "doc_a", "doc_b"
    )


@query(
    "l_sim_join_lsh",
    oracle="""
    WITH bits AS MATERIALIZED (
        SELECT e.vec_id, pp.p,
               CASE WHEN (
                   SELECT SUM(e.embedding[s.j]::DOUBLE *
                              (CASE WHEN substring(md5(pp.p::VARCHAR
                                         || '_' || s.j::VARCHAR), 1, 1) >= '8'
                                    THEN 1.0 ELSE -1.0 END))
                   FROM (SELECT unnest(generate_series(1, 64)) AS j) s
               ) >= 0 THEN '1' ELSE '0' END AS bit
        FROM embeddings e,
             (SELECT unnest(generate_series(0, 63)) AS p) pp
    ), sigs AS MATERIALIZED (
        SELECT vec_id, string_agg(bit, '' ORDER BY p) AS sig
        FROM bits GROUP BY vec_id
    ), bnd AS MATERIALIZED (
        SELECT s.vec_id, b.b, substring(s.sig, b.b * 2 + 1, 2) AS bs
        FROM sigs s, (SELECT unnest(generate_series(0, 31)) AS b) b
    ), cand AS MATERIALIZED (
        SELECT DISTINCT x.vec_id AS va, y.vec_id AS vb
        FROM bnd x JOIN bnd y ON x.b = y.b AND x.bs = y.bs
                              AND x.vec_id < y.vec_id
    ), ver AS MATERIALIZED (
        SELECT c.va, c.vb,
               (SELECT SUM(ea.embedding[s.j]::DOUBLE *
                           eb.embedding[s.j]::DOUBLE)
                FROM (SELECT unnest(generate_series(1, 64)) AS j) s) AS dot
        FROM cand c
        JOIN embeddings ea ON ea.vec_id = c.va
        JOIN embeddings eb ON eb.vec_id = c.vb
    )
    SELECT va, vb, ROUND(dot * 1e6, 0) / 1e6 + 0 AS sim
    FROM ver WHERE dot >= 0.4
    ORDER BY va, vb
    """,
)
def l_sim_join_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB vector-similarity-join path, driver-visible: banded
    hyperplane LSH (ann.lsh_sim_join) over the embeddings table at
    cosine ≥ 0.4, exact-verified — output is a subset of the
    brute-force l_sim_join_threshold pairs with measured recall ≈ 1.0
    at this τ (asserted against brute force in tests/test_ann.py).

    GRADUATED to a SQL oracle in round 10 (r9 verdict item 5), the
    l_sim_search_ivf recipe: the hyperplanes are md5-derived Rademacher
    signs (ann.md5_planes — component (p, j) = +1 iff the first hex
    char of md5("{p}_{j}") >= '8'), so DuckDB re-derives the IDENTICAL
    plane set in SQL and replays signature bits, banding, candidate
    join and exact verification bit-for-bit. Every dot product on both
    sides is the sequential double fold (vdot ↔ ordered SUM over
    generate_series, CLAUDE.md rule 4), so the sign of each signature
    bit and the τ filter decision are engine-identical by construction.

    Band geometry note: τ = 0.4 is a weak threshold (collision prob
    p = 1 − θ/π ≈ 0.63), so recall needs shallow bands — 32 bands × 2
    rows gives 1 − (1 − p²)³² ≈ 1-1e-7 at the boundary. At production
    thresholds (cos ≥ 0.9) the default 16 × 8 geometry prunes far
    harder at the same recall; geometry is a parameter, the plan shape
    (broadcast planes → one (band, sig)-keyed shuffle → exact verify on
    candidates) is fixed and never N²."""
    from sqlengine_spark.ann import lsh_sim_join

    e = table(spark, sf_dir, "embeddings")
    pairs = lsh_sim_join(e, threshold=0.4, bands=32, rows_per_band=2)
    return pairs.select(
        "va", "vb", dround(F.col("sim"), 6).alias("sim")
    ).orderBy("va", "vb")


@query(
    "l_simjoin_ngram",
    oracle="""
    WITH g AS (
        SELECT DISTINCT doc_id, unnest(
            CASE WHEN len(a) < 3 THEN [text]
                 ELSE list_transform(generate_series(1, len(a) - 2),
                                     i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])
            END) AS t
        FROM (SELECT doc_id, text, string_split(text, ' ') AS a FROM documents)
    ),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
    inter AS (
        SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
        FROM g x JOIN g y ON x.t = y.t AND x.doc_id < y.doc_id
        GROUP BY x.doc_id, y.doc_id
    )
    SELECT doc_a, doc_b,
           ROUND(i * 1.0 / (ca.n + cb.n - i) * 1e6, 0) / 1e6 AS jaccard
    FROM inter
    JOIN cnt ca ON doc_a = ca.doc_id
    JOIN cnt cb ON doc_b = cb.doc_id
    WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.5
    """,
)
def l_simjoin_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard similarity join (J >= 0.5) — the n-gram
    near-dup family from the training-pipeline mandate: 3-grams keep
    token ORDER (token-set Jaccard does not), so reordered copies score
    low while true near-copies score high. Docs under 3 tokens fall back
    to the whole text as their single feature (identical rule both
    engines; 1-based element_at matches DuckDB's 1-based a[i]).

    Same scale shape as l_simjoin_jaccard and strictly better skew
    behavior: ``_prefix_jaccard_join`` runs on the gram postings, and
    3-gram document frequencies are far more discriminative than
    single-token dfs (stopword 3-grams are rare), so prefix postings
    prune harder."""
    d = table(spark, sf_dir, "documents")
    a = F.split("text", " ")
    grams3 = F.transform(
        F.sequence(F.lit(1), F.size(a) - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at(a, i),
            F.element_at(a, i + 1),
            F.element_at(a, i + 2),
        ),
    )
    feats = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.when(F.size(a) < 3, F.array(F.col("text"))).otherwise(grams3)
            )
        ).alias("t"),
    )
    return _prefix_jaccard_join(feats, 1, 2)


@query(
    "l_ann_recall_eval",
    oracle="""
    WITH c AS MATERIALIZED (
        SELECT ROW_NUMBER() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS ci,
               embedding AS cvec
        FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT 16
    ), q AS MATERIALIZED (
        SELECT vec_id AS q_id, embedding AS qe
        FROM embeddings WHERE vec_id < 10
    ), asn AS MATERIALIZED (
        SELECT vec_id, ci AS cid
        FROM (SELECT e.vec_id, c.ci,
                     ROW_NUMBER() OVER (
                         PARTITION BY e.vec_id
                         ORDER BY (SELECT SUM(e.embedding[s.i]::DOUBLE
                                              * c.cvec[s.i]::DOUBLE)
                                   FROM (SELECT unnest(generate_series(1, 64))
                                         AS i) s) DESC, c.ci DESC) AS rn
              FROM embeddings e, c)
        WHERE rn = 1
    ), pr AS MATERIALIZED (
        SELECT q_id, ci AS cid
        FROM (SELECT q.q_id, c.ci,
                     ROW_NUMBER() OVER (
                         PARTITION BY q.q_id
                         ORDER BY (SELECT SUM(c.cvec[s.i]::DOUBLE
                                              * q.qe[s.i]::DOUBLE)
                                   FROM (SELECT unnest(generate_series(1, 64))
                                         AS i) s) DESC, c.ci DESC) AS rn
              FROM c, q)
        WHERE rn <= 8
    ), iv AS MATERIALIZED (
        SELECT q_id, vec_id
        FROM (SELECT s.q_id, s.vec_id,
                     ROW_NUMBER() OVER (PARTITION BY s.q_id
                                        ORDER BY s.dot DESC, s.vec_id) AS rn
              FROM (SELECT q.q_id, e.vec_id,
                           (SELECT SUM(e.embedding[s.i]::DOUBLE
                                       * q.qe[s.i]::DOUBLE)
                            FROM (SELECT unnest(generate_series(1, 64))
                                  AS i) s) AS dot
                    FROM embeddings e
                    JOIN asn ON asn.vec_id = e.vec_id
                    JOIN pr ON pr.cid = asn.cid
                    JOIN q ON q.q_id = pr.q_id
                    WHERE e.vec_id <> q.q_id) s)
        WHERE rn <= 10
    ), ex AS MATERIALIZED (
        SELECT q_id, vec_id
        FROM (SELECT q.q_id, e.vec_id,
                     ROW_NUMBER() OVER (
                         PARTITION BY q.q_id
                         ORDER BY (SELECT SUM(e.embedding[s.i]::DOUBLE
                                              * q.qe[s.i]::DOUBLE)
                                   FROM (SELECT unnest(generate_series(1, 64))
                                         AS i) s) DESC, e.vec_id) AS rn
              FROM embeddings e, q
              WHERE e.vec_id <> q.q_id)
        WHERE rn <= 10
    ), hits AS (
        SELECT iv.q_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        FROM iv JOIN ex ON ex.q_id = iv.q_id AND ex.vec_id = iv.vec_id
        GROUP BY iv.q_id
    )
    SELECT q.q_id, COALESCE(h.n_hits, 0) AS n_hits,
           CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / CAST(10 AS DOUBLE)
               AS recall_at_10
    FROM q LEFT JOIN hits h ON h.q_id = q.q_id
    ORDER BY q.q_id
    """,
)
def l_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN INDEX QUALITY EVAL, in-engine: recall@10 of the batched IVF
    search (l_sim_search_ivf_batch) against the exact brute-force
    top-10 for the same 10-query batch — the measurement an ANN
    deployment runs before trusting a probe budget (tune n_probe from
    the observed recall curve, not the textbook formula; the
    l_minhash_calibration philosophy applied to the vector index).

    Determinism: both arms rank by the sequential-fold dot product
    with the vec_id tiebreak, so rank-10 boundaries are
    engine-identical; recall is an exact-integer hit count divided by
    10 in double — no float accumulation. Ground truth and IVF results
    share the candidate universe (corpus minus the query itself).

    Scale: the IVF arm is the probe-pruned batch plan (assignment
    amortized, |batch| x n_probe buckets scanned); the exact arm is
    one linear scan fanned out 10x by the broadcast query batch with a
    group-limit top-10 — at eval time you run it on a sampled corpus
    slice, which is exactly what a bounded query batch against a
    partition-pruned scan gives. Both rank windows sit under the
    WindowGroupLimit threshold.
    """
    from sqlengine_spark.functions import vdot

    iv = l_sim_search_ivf_batch(spark, sf_dir).select("q_id", "vec_id")
    e = table(spark, sf_dir, "embeddings")
    v = e.select("vec_id", "embedding")
    qb = v.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    scored = (
        v.crossJoin(F.broadcast(qb))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", vdot(F.col("embedding"), F.col("qe")).alias("dot"))
    )
    w = W.partitionBy("q_id").orderBy(F.col("dot").desc(), "vec_id")
    ex = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("q_id", "vec_id")
    )
    hits = iv.join(ex, ["q_id", "vec_id"]).groupBy("q_id").agg(
        F.count("*").alias("n_hits")
    )
    return (
        qb.select("q_id")
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            (
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / F.lit(10).cast("double")
            ).alias("recall_at_10"),
        )
        .orderBy("q_id")
    )


@query(
    "l_sim_search_ivf_batch",
    oracle="""
    WITH c AS MATERIALIZED (
        SELECT ROW_NUMBER() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS ci,
               embedding AS cvec
        FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT 16
    ), q AS MATERIALIZED (
        SELECT vec_id AS q_id, embedding AS qe
        FROM embeddings WHERE vec_id < 10
    ), asn AS MATERIALIZED (
        SELECT vec_id, ci AS cid
        FROM (SELECT e.vec_id, c.ci,
                     ROW_NUMBER() OVER (
                         PARTITION BY e.vec_id
                         ORDER BY (SELECT SUM(e.embedding[s.i]::DOUBLE
                                              * c.cvec[s.i]::DOUBLE)
                                   FROM (SELECT unnest(generate_series(1, 64))
                                         AS i) s) DESC, c.ci DESC) AS rn
              FROM embeddings e, c)
        WHERE rn = 1
    ), pr AS MATERIALIZED (
        SELECT q_id, ci AS cid
        FROM (SELECT q.q_id, c.ci,
                     ROW_NUMBER() OVER (
                         PARTITION BY q.q_id
                         ORDER BY (SELECT SUM(c.cvec[s.i]::DOUBLE
                                              * q.qe[s.i]::DOUBLE)
                                   FROM (SELECT unnest(generate_series(1, 64))
                                         AS i) s) DESC, c.ci DESC) AS rn
              FROM c, q)
        WHERE rn <= 8
    ), sims AS MATERIALIZED (
        SELECT q.q_id, e.vec_id,
               (SELECT SUM(e.embedding[s.i]::DOUBLE * q.qe[s.i]::DOUBLE)
                FROM (SELECT unnest(generate_series(1, 64)) AS i) s) AS dot
        FROM embeddings e
        JOIN asn ON asn.vec_id = e.vec_id
        JOIN pr ON pr.cid = asn.cid
        JOIN q ON q.q_id = pr.q_id
        WHERE e.vec_id <> q.q_id
    )
    SELECT q_id, vec_id, ROUND(dot * 1e6, 0) / 1e6 + 0 AS sim
    FROM (SELECT q_id, vec_id, dot,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY dot DESC, vec_id) AS rn
          FROM sims)
    WHERE rn <= 10
    ORDER BY q_id, sim DESC, vec_id
    """,
)
def l_sim_search_ivf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED IVF ANN — the production SERVING shape the single-query
    l_sim_search_ivf can't show: one plan answers a whole query batch
    (vectors 0-9, top-10 each) against the shared inverted file. The
    centroid sample and assignment are computed ONCE and amortized
    across the batch; per-query work is only its 8 probed buckets.

    Determinism: the centroids, the assignment and the probe sets are
    l_sim_search_ivf's (``ann.ivf_centroids``, ``ann.nearest_centroid``
    and ``ann.probe_cids``; DuckDB replays the sample and the tie
    rule), and every dot product is the sequential fold (vdot <->
    ordered SUM over generate_series, rule 4).

    Scale: the 80-row (q_id, cid) probe table and the
    10-row query-vector table broadcast into the candidate join, so
    the scan touches only probed buckets once per covering query; the
    per-query top-10 is a rank window under the WindowGroupLimit
    threshold (group-limit pushdown, no full sort). At 1B vectors x
    10k queries this is the batch-ANN join you would actually run —
    |batch| never multiplies the scan, only the probed fraction.
    """
    from sqlengine_spark.ann import ivf_centroids, nearest_centroid, probe_cids

    e = table(spark, sf_dir, "embeddings")
    v = e.select("vec_id", "embedding")
    centroids = ivf_centroids(v)
    qrows = v.filter(F.col("vec_id") < 10).collect()  # bounded: 10 queries
    probes = [
        (int(qr["vec_id"]), ci)
        for qr in qrows
        for ci in probe_cids(centroids, [float(x) for x in qr["embedding"]], 8)
    ]
    pdf = spark.createDataFrame(probes, "q_id bigint, cid int")
    best_cid = nearest_centroid(F.col("embedding"), centroids)
    qb = v.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    cand = (
        v.withColumn("cid", best_cid)
        .join(F.broadcast(pdf), "cid")
        .filter(F.col("vec_id") != F.col("q_id"))
        .join(F.broadcast(qb), "q_id")
        .select("q_id", "vec_id", vdot(F.col("embedding"), F.col("qe")).alias("dot"))
    )
    w = W.partitionBy("q_id").orderBy(F.col("dot").desc(), "vec_id")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("q_id", "vec_id", dround(F.col("dot"), 6).alias("sim"))
        .orderBy("q_id", F.col("sim").desc(), "vec_id")
    )


@query(
    "l_sim_search_ivf",
    oracle="""
    WITH c AS MATERIALIZED (
        SELECT ROW_NUMBER() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS ci,
               embedding AS cvec
        FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT 16
    ), q AS (
        SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
    ), pairs AS MATERIALIZED (
        SELECT e.vec_id, c.ci,
               (SELECT SUM(e.embedding[s.i]::DOUBLE * c.cvec[s.i]::DOUBLE)
                FROM (SELECT unnest(generate_series(1, 64)) AS i) s) AS d
        FROM embeddings e, c
    ), asn AS MATERIALIZED (
        SELECT vec_id, ci AS cid
        FROM (SELECT vec_id, ci, d,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                                        ORDER BY d DESC, ci DESC) AS rn
              FROM pairs)
        WHERE rn = 1
    ), probe AS MATERIALIZED (
        SELECT c.ci
        FROM c, q
        ORDER BY (SELECT SUM(c.cvec[s.i]::DOUBLE * q.qe[s.i]::DOUBLE)
                  FROM (SELECT unnest(generate_series(1, 64)) AS i) s)
                 DESC, c.ci DESC
        LIMIT 8
    )
    SELECT e.vec_id,
           ROUND((SELECT SUM(e.embedding[s.i]::DOUBLE * q.qe[s.i]::DOUBLE)
                  FROM (SELECT unnest(generate_series(1, 64)) AS i) s)
                 * 1e6, 0) / 1e6 + 0 AS sim
    FROM embeddings e, q
    JOIN asn ON asn.vec_id = e.vec_id
    WHERE e.vec_id <> 0
      AND asn.cid IN (SELECT ci FROM probe)
    ORDER BY sim DESC, e.vec_id
    LIMIT 10
    """,
)
def l_sim_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the OTHER scale path for
    vector search next to LSH: cluster vectors into coarse buckets,
    search only the query's ``n_probe`` nearest buckets. Here: 16
    deterministic data-sampled centroids, probe 8 — top-10 for vector 0,
    same output shape as the exact l_sim_search_topk (recall vs brute
    force pinned in tests/test_ann.py; probing ALL buckets is asserted
    == exact).

    Scale: assignment is one broadcast of the centroid set + JVM-side
    argmax per row (no shuffle); the probe filters to n_probe/n_centroid
    of the table BEFORE the top-k scan — at 1 B vectors that is the
    difference between scanning 1 B and 62 M rows per query. Centroid
    REFINEMENT (k-means iterations) is deliberately absent: sampled
    centroids keep the operator one-pass and deterministic."""
    from sqlengine_spark.ann import ivf_topk

    e = table(spark, sf_dir, "embeddings")
    return ivf_topk(e, query_id=0, n_probe=8)


@query(
    "l_text_normalize",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                               '  +', ' ', 'g')) AS norm_text,
           length(text) AS n_raw,
           length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                      '  +', ' ', 'g'))) AS n_norm
    FROM documents
    """,
)
def l_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization — the first stage of every training-corpus
    pipeline: lowercase, strip non-alphanumerics, collapse runs of
    spaces, trim; raw and normalized lengths reported for filtering.
    DuckDB regexp_replace needs the 'g' flag to match Spark's
    replace-all (measured pin, CLAUDE.md rule 6).

    Scale: pure per-row codegen expressions — map-only, no shuffle, no
    UDF."""
    d = table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            "  +",
            " ",
        )
    )
    return d.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length("text").alias("n_raw"),
        F.length(norm).alias("n_norm"),
    )


def _linear_weights() -> list[float]:
    """Deterministic pseudo-trained weights for the fused-inference
    operator, one per embedding dimension (64): seeded uniforms rounded
    to 6 dp so the decimal literals in the SQL oracle parse to
    bit-identical doubles in both engines."""
    import random

    rng = random.Random(123)
    return [round(rng.uniform(-1.0, 1.0), 6) for _ in range(64)]


_W = _linear_weights()
_B = -0.05

_ML_SCORE_ORACLE = f"""
    WITH w AS (SELECT {[repr(x) for x in _W]}::DOUBLE[] AS wv)
    SELECT vec_id,
           ROUND(1.0 / (1.0 + exp(-(
               (SELECT SUM(e.embedding[s.i]::DOUBLE * w.wv[s.i])
                FROM (SELECT unnest(generate_series(1, 64)) AS i) s)
               + ({_B!r})))) * 1e6, 0) / 1e6 AS score,
           CAST((SELECT SUM(e.embedding[s.i]::DOUBLE * w.wv[s.i])
                 FROM (SELECT unnest(generate_series(1, 64)) AS i) s)
                + ({_B!r}) >= 0 AS INT) AS label_pred
    FROM embeddings e, w
""".replace("'", "")


@query("l_ml_score_linear", oracle=_ML_SCORE_ORACLE)
def l_ml_score_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused in-SQL ML inference (the ICDE'25 operator-fusion idea from
    PAPERS.md): a logistic model scored entirely inside the query —
    sigmoid(w·x + b) with the weight vector inlined as literals, the dot
    product in JVM-side double fold (vdot, bit-identical to the oracle's
    ordered SUM), and the class decision on the raw margin.

    Scale: map-only, whole-stage-codegen, no shuffle, no UDF, no model
    server round-trip — inference fuses into whatever scan/filter
    pipeline feeds it, which is exactly the paper's point. Swapping in
    real trained weights changes literals, not the plan."""
    e = table(spark, sf_dir, "embeddings")
    wlit = F.array(*[F.lit(x) for x in _W])
    margin = vdot(F.col("embedding"), wlit) + F.lit(_B)
    return e.select(
        "vec_id",
        dround(F.lit(1.0) / (F.lit(1.0) + F.exp(-margin)), 6).alias("score"),
        (margin >= 0).cast("int").alias("label_pred"),
    )


@query(
    "l_multimodal_framesample",
    oracle="""
    WITH f AS (
        SELECT doc_id AS media_id, CAST(i AS INT) AS frame_no,
               substring(text, i * 256 + 1, 256) AS fr
        FROM documents,
             LATERAL (SELECT unnest(generate_series(
                 0, CAST(ceil(length(text) / 256.0) AS BIGINT) - 1)) AS i)
    )
    SELECT media_id, frame_no,
           CAST(length(fr) AS BIGINT) AS frame_bytes,
           md5(fr) AS frame_digest
    FROM f WHERE frame_no % 2 = 0
    """,
)
def l_multimodal_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary media through the Arrow mapInPandas
    path (multimodal.sample_frames): each payload splits into 256-byte
    'frames', every 2nd is kept, digested, and measured — the batched
    shape of a real ffmpeg keyframe sampler. Because the fixture
    payloads are ASCII text bytes and the chunker is deterministic, this
    mapInPandas pipeline gets a FULL SQL oracle (substring + md5 per
    chunk) — the Arrow plumbing itself is hash-verified, not just
    row-counted.

    Scale: repartition(media_id) balances decode work; mapInPandas
    iterates Arrow batches so peak memory is one batch, not one
    partition."""
    from sqlengine_spark.multimodal import documents_as_media, sample_frames

    media = documents_as_media(table(spark, sf_dir, "documents"))
    return sample_frames(media, frame_size=256)


@query(
    "l_dedup_cluster",
    oracle="""
    WITH RECURSIVE tok AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t
        FROM documents
    ),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
        FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id < b.doc_id
        GROUP BY da, db
    ),
    pairs AS (
        SELECT da, db FROM inter
        JOIN cnt ca ON da = ca.doc_id
        JOIN cnt cb ON db = cb.doc_id
        WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.9
    ),
    edges AS (
        SELECT da AS u, db AS v FROM pairs
        UNION ALL
        SELECT db AS u, da AS v FROM pairs
    ),
    reach(id, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.id = e.v
    ),
    comp AS (SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY id),
    sz AS (SELECT cluster_id AS cid, COUNT(*) AS cluster_size FROM comp GROUP BY cid)
    SELECT c.doc_id, c.cluster_id, sz.cluster_size,
           CASE WHEN c.doc_id = c.cluster_id THEN 1 ELSE 0 END AS keep
    FROM comp c JOIN sz ON c.cluster_id = sz.cid
    """,
)
def l_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTER assignment — the final step of a real
    corpus dedup: pairwise matches (exact token-Jaccard >= 0.9, via
    ``_prefix_jaccard_join``) are treated as an undirected graph and
    every document gets its connected-component id (min doc_id in the
    component), its cluster size, and a keep flag for the one
    representative per cluster. Pair-level dedup alone
    under-deletes: A~B and B~C with A!~C must still collapse to ONE kept
    doc, which only the transitive closure gives.

    Algorithm (Spark side): HashMin label propagation —
    labels start as each node's own id; each round every node takes the
    min label over itself and its neighbors (one keyed join + one
    min-groupBy = two shuffles per round) until a fixpoint. The DuckDB
    oracle computes the same fixpoint declaratively with WITH RECURSIVE
    min-reachable-label, so the distributed iteration is hash-verified
    against an independent formulation.

    Scale: near-dup components are quasi-cliques (every member overlaps
    the seed heavily), so HashMin converges in O(log diameter) ~ 2-4
    rounds at any corpus size; each round is shuffle-keyed on node id
    (never all-pairs), edges are localCheckpoint-ed once and reused, and
    each round's labels are localCheckpoint-ed eagerly so lineage stays
    one round deep (no exponential plan growth — the classic iterative-
    Spark trap). The convergence probe is a bounded isEmpty action, the
    only driver-side step. For adversarial long-path graphs swap HashMin
    for alternating large-star/small-star (Kiveris et al., 2014) — same
    per-round join shape, O(log n) rounds unconditionally."""
    d = table(spark, sf_dir, "documents")
    pairs = _prefix_jaccard_join(_tokens(d), 9, 10).select("doc_a", "doc_b")
    edges = (
        pairs.union(pairs.select(F.col("doc_b"), F.col("doc_a")))
        .toDF("id", "nbr")
        .localCheckpoint()
    )
    labels = d.select("doc_id", F.col("doc_id").alias("lbl")).toDF("id", "lbl")
    labels = labels.localCheckpoint()
    for _ in range(50):
        prop = (
            edges.join(labels.withColumnRenamed("id", "nbr"), "nbr")
            .select("id", "lbl")
        )
        new_labels = (
            labels.union(prop).groupBy("id").agg(F.min("lbl").alias("lbl"))
        ).localCheckpoint()
        improved = (
            new_labels.join(labels.withColumnRenamed("lbl", "old"), "id")
            .filter(F.col("lbl") < F.col("old"))
        )
        done = improved.isEmpty()
        labels = new_labels
        if done:
            break
    sz = labels.groupBy("lbl").agg(F.count("*").alias("cluster_size"))
    return (
        labels.join(F.broadcast(sz), "lbl")
        .select(
            F.col("id").alias("doc_id"),
            F.col("lbl").alias("cluster_id"),
            "cluster_size",
            F.when(F.col("id") == F.col("lbl"), 1).otherwise(0).alias("keep"),
        )
    )


def hybrid_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document but the query's own (doc 0), joined to its
    embedding and to the query vector ``qe`` (the embedding of vec_id
    0) — the candidate rows the dense and keyword retrievers score.

    Scale: the query vector broadcasts (1 row); documents⋈embeddings
    co-shuffles on the id ONCE (or is bucket-colocated in a real
    deployment — the embedding table would be written CLUSTERED BY
    id). The IVF/LSH pre-filter from l_sim_search_ivf composes in
    front of the dense side unchanged."""
    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    return (
        d.filter(F.col("doc_id") != 0)
        .join(e, d.doc_id == e.vec_id)
        .crossJoin(F.broadcast(q))
    )


def keyword_share() -> Column:
    """The keyword retriever's score: the share of ``text``'s
    space-split words that are query terms ('table' or 'join'), a
    double. A codegen higher-order filter — no explode, no UDF."""
    words = F.split(F.col("text"), " ")
    kw = F.size(F.filter(words, lambda w: w.isin("table", "join")))
    return kw / F.size(words).cast("double")


@query(
    "l_hybrid_search",
    oracle="""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    scored AS (
        SELECT d.doc_id,
               (SELECT SUM(e.embedding[s.i]::DOUBLE * q.qe[s.i]::DOUBLE)
                FROM (SELECT unnest(generate_series(1, 64)) AS i) s) AS cos,
               len(list_filter(string_split(d.text, ' '),
                               w -> w IN ('table', 'join'))) AS kw_hits,
               len(string_split(d.text, ' ')) AS n_words
        FROM documents d
        JOIN embeddings e ON e.vec_id = d.doc_id, q
        WHERE d.doc_id <> 0
    )
    SELECT doc_id,
           ROUND((cos * 0.5 + (kw_hits / CAST(n_words AS DOUBLE)) * 0.5)
                 * 1e6, 0) / 1e6 + 0 AS score
    FROM scored
    ORDER BY score DESC, doc_id
    LIMIT 20
    """,
)
def l_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (the RAG-stack workhorse): fuse dense cosine
    similarity to a query vector with a sparse keyword signal (query-
    term density in the document), rank by the weighted blend, top-20.
    Both signals compute in one pass over the doc⋈embedding join; the
    blend is a fixed-order double expression so both engines produce
    identical scores.

    Scale: the candidates are ``hybrid_candidates`` and the keyword
    signal ``keyword_share`` (scale notes there); top-20 is
    TakeOrdered.
    """
    kw = keyword_share()
    cos = vdot(F.col("embedding"), F.col("qe"))
    return (
        hybrid_candidates(spark, sf_dir)
        .select("doc_id", dround(cos * 0.5 + kw * 0.5, 6).alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
    )


@query(
    "l_topic_cooccur",
    oracle="""
    WITH tok AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t
        FROM documents
    ), df AS (
        SELECT t, COUNT(*) AS n_docs FROM tok GROUP BY t
    ), n AS (SELECT COUNT(DISTINCT doc_id) AS n_total FROM tok),
    pairs AS (
        SELECT a.t AS ta, b.t AS tb, COUNT(*) AS n_ab
        FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND a.t < b.t
        GROUP BY a.t, b.t
    )
    SELECT ta, tb, n_ab,
           ROUND(ln((n_ab * n.n_total) / CAST(da.n_docs * db.n_docs AS DOUBLE))
                 * 1e6, 0) / 1e6 + 0 AS pmi
    FROM pairs
    JOIN df da ON da.t = ta
    JOIN df db ON db.t = tb, n
    WHERE n_ab >= 25
    ORDER BY ta, tb
    """,
)
def l_topic_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token co-occurrence PMI — the topic/collocation signal behind
    phrase mining and embedding pre-filters: for every token pair that
    co-occurs in >= 25 documents, pointwise mutual information
    ln(P(a,b) / P(a)P(b)) computed from document frequencies. The log
    argument is one double division of exact integer products, so both
    engines evaluate the identical double before the shared round.

    Scale: the pair space is VOCABULARY-bounded, not corpus-bounded —
    the per-doc positional fan-out emits C(|distinct tokens per doc|,
    2) pairs which partial-aggregate map-side into at most C(|V|, 2)
    groups; df joins plain (AQE broadcasts it when small), N
    broadcast. At web scale the vocabulary is first capped to the
    top-V tokens by df (one ranked filter before the fan-out) — same
    plan, bounded V; pairs never cross documents.

    R15 rewrite (guide §2.3/§2.4; the r14 before-plan executed the
    token explode FIVE times — pairs a/b self-join, da, db, n_total):
    pairs now fan out MAP-SIDE from the per-doc sorted distinct token
    array (posexplode + slice, the pin-15a codegen-Generate shape; the
    sorted array makes i<j equal ta<tb under the same binary string
    order both engines compare with), so the two doc_id-keyed postings
    shuffles of the old self-join are GONE and the only exchanges left
    are the vocab²-bounded (ta,tb) agg and the vocab-bounded df agg
    (checkpointed, two consumers); n_total needs no explode at all
    (tok's doc set = docs with non-null text). Both-scale numbers
    (pin 14d): sf0.1 paired 0.751 -> 0.877 s (fixture pays +17% — the
    5 redundant explodes overlapped on idle cores), x100 paired
    3.323 -> 3.067 s, new side won 4/5 — adopted on the
    l_filter_attrition precedent: the removed shuffle is the raw
    postings stream, which is corpus-sized at 100 TB while the kept
    exchanges are vocabulary-bounded.
    """
    d = table(spark, sf_dir, "documents")
    # NULL doc_ids pair with nothing, as in the oracle's a.doc_id = b.doc_id
    arr_d = d.filter(F.col("doc_id").isNotNull()).select(
        F.array_sort(F.array_distinct(F.split("text", " "))).alias("arr")
    )
    lhs = arr_d.select(
        F.posexplode("arr").alias("i", "ta"), F.col("arr").alias("arr")
    )
    pairs = (
        lhs.select(
            "ta",
            F.explode(
                F.slice(
                    F.col("arr"), F.col("i") + 2, F.size("arr") - F.col("i") - 1
                )
            ).alias("tb"),
        )
        .groupBy("ta", "tb")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= 25)
    )
    tok = _tokens(d)
    df_tab = (
        tok.groupBy("t")
        .agg(F.count("*").alias("n_docs"))
        .localCheckpoint()  # vocab-bounded, two consumers (pin 17a)
    )
    n_total = d.filter(F.col("text").isNotNull()).agg(
        F.countDistinct("doc_id").alias("n_total")
    )
    # plain joins: df_tab is vocab-sized (unbounded on real corpora) —
    # AQE broadcasts at runtime only when actually small (r11)
    da = df_tab.select(F.col("t").alias("ta"), F.col("n_docs").alias("dfa"))
    db = df_tab.select(F.col("t").alias("tb"), F.col("n_docs").alias("dfb"))
    return (
        pairs.join(da, "ta")
        .join(db, "tb")
        .crossJoin(F.broadcast(n_total))
        .select(
            "ta",
            "tb",
            "n_ab",
            dround(
                F.log(
                    (F.col("n_ab") * F.col("n_total"))
                    / (F.col("dfa") * F.col("dfb")).cast("double")
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy("ta", "tb")
    )


@query(
    "l_sim_search_batch",
    oracle="""
    WITH q AS (
        SELECT vec_id AS q_id, embedding AS qe FROM embeddings
        WHERE vec_id < 10
    ), scored AS (
        SELECT q.q_id, e.vec_id,
               (SELECT SUM(e.embedding[s.i]::DOUBLE * q.qe[s.i]::DOUBLE)
                FROM (SELECT unnest(generate_series(1, 64)) AS i) s) AS sim
        FROM embeddings e, q
        WHERE e.vec_id >= 10
    )
    SELECT q_id, vec_id,
           ROUND(sim * 1e6, 0) / 1e6 + 0 AS sim
    FROM (
        SELECT q_id, vec_id, sim,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY sim DESC, vec_id) AS rn
        FROM scored
    )
    WHERE rn <= 5
    ORDER BY q_id, sim DESC, vec_id
    """,
)
def l_sim_search_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED vector search — the serving shape: top-5 neighbors for
    EACH of 10 query vectors in ONE scan of the embedding table. The
    query batch broadcasts (it is small by definition); every (query,
    candidate) dot computes JVM-side; per-query top-5 is a
    WindowGroupLimit rank, so only 5 rows per query survive the sort.

    Scale: one table scan amortizes across the whole query batch —
    the per-query cost of batched retrieval is 1/|batch| of a
    single-query loop, which is why serving systems batch. The
    embedding table never shuffles (broadcast side is the batch); at
    warehouse scale the IVF probe filter (l_sim_search_ivf) composes
    in front, cutting the scan per query to its probed buckets.
    """
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    cand = e.filter(F.col("vec_id") >= 10)
    scored = cand.crossJoin(F.broadcast(q)).select(
        "q_id",
        "vec_id",
        vdot(F.col("embedding"), F.col("qe")).alias("sim_raw"),
    )
    rn = F.row_number().over(
        W.partitionBy("q_id").orderBy(F.col("sim_raw").desc(), "vec_id")
    )
    return (
        scored.withColumn("rn", rn)
        .filter(F.col("rn") <= 5)
        .select("q_id", "vec_id", dround(F.col("sim_raw"), 6).alias("sim"))
        .orderBy("q_id", F.col("sim").desc(), "vec_id")
    )


#: Target rows per block for the GEMM-blocked exact similarity join:
#: nblocks = clamp(ceil(N / GEMM_BLOCK_ROWS), 2, 64), so the block
#: count GROWS with the table while one block pair (2 x target x dim
#: float64) stays bounded in task memory. Fixed block COUNT would be
#: wrong in both directions: at toy N the per-group scheduling/Arrow
#: overhead dominates the (trivial) GEMM — measured at sf0.1, 8 blocks
#: = 1.05-1.46 s vs 2 blocks = 0.89 s — while at large N a fixed count
#: blows the per-task memory bound. 2 500 x 64 doubles ≈ 1.3 MB/side
#: here; on a real cluster size this to ~10^4-10^5 rows per block.
GEMM_BLOCK_ROWS = 2500


@query("l_sim_join_gemm", oracle=_COSINE_PAIRS_ORACLE)
def l_sim_join_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT cosine threshold join via block-partitioned GEMM — the
    scale path for MODERATE thresholds, where banded LSH provably
    cannot prune (at τ = 0.4 a 2-bit band has 4 signatures, so every
    pair collides somewhere and the "approximate" join degenerates to
    all-pairs; 17.4 s at sf0.1 even with the numpy-prefiltered verify, vs sub-second here). Semantics
    and oracle are identical to l_sim_join_threshold (the same 920
    pairs at sf0.1) — only the plan differs, the c_join_broadcast
    pattern of registering a physical strategy under a fixed contract.

    Plan: vectors hash into ceil(N / GEMM_BLOCK_ROWS) blocks (block
    COUNT scales with N, block SIZE — and so per-task memory — stays
    fixed; see the constant's note for the measured toy-scale tuning);
    each of the B(B+1)/2 unordered block pairs becomes one
    applyInPandas group whose task runs a float64 numpy matrix product
    (2500×64 @ 64×2500 ≈ 0.8 GFLOP — cheap next to the per-pair
    interpreted fold). Candidates pass at τ − 1e-6 (the GEMM-vs-sequential
    associativity error is ≤ ~1e-13 for unit 64-dim vectors, so the
    margin can drop no true pair), then an exact JVM vdot re-verifies
    every candidate so emitted sims are BIT-identical to the oracle's
    ordered sequential sum — the hash-match does not depend on numpy
    summation order.

    Scale: each vector replicates to nblocks block pairs (O(N·√P)
    communication, the classic block-nested GEMM bound); block pairs
    are independent tasks; the verify join touches only candidates.
    At 100 TB you precede this with coarse clustering (IVF) so only
    adjacent-cluster block pairs materialize."""
    import numpy as np
    import pandas as pd

    e = table(spark, sf_dir, "embeddings")
    # footer-stat row count (metadata-only job) sizes the block grid
    nb = max(2, min(64, -(-e.count() // GEMM_BLOCK_ROWS)))
    block = F.pmod(F.col("vec_id"), F.lit(nb)).cast("int")
    pairs = spark.createDataFrame(
        [(bi * nb + bj, bi, bj) for bi in range(nb) for bj in range(bi, nb)],
        "pid int, bi int, bj int",
    )
    fanout = (
        e.select("vec_id", "embedding", block.alias("blk"))
        .join(
            F.broadcast(pairs),
            (F.col("blk") == F.col("bi")) | (F.col("blk") == F.col("bj")),
        )
    )

    def gemm_pair(pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = int(pdf["bi"].iloc[0]), int(pdf["bj"].iloc[0])
        thr = 0.4 - 1e-6
        if bi == bj:
            ids = pdf["vec_id"].to_numpy()
            m = np.array(list(pdf["embedding"]), dtype=np.float64)
            sims = m @ m.T
            ii, jj = np.nonzero(np.triu(sims >= thr, k=1))
            va, vb = ids[ii], ids[jj]
        else:
            a = pdf[pdf["blk"] == bi]
            b = pdf[pdf["blk"] == bj]
            ia = a["vec_id"].to_numpy()
            ib = b["vec_id"].to_numpy()
            ma = np.array(list(a["embedding"]), dtype=np.float64)
            mb = np.array(list(b["embedding"]), dtype=np.float64)
            sims = ma @ mb.T
            ii, jj = np.nonzero(sims >= thr)
            va, vb = ia[ii], ib[jj]
        lo, hi = np.minimum(va, vb), np.maximum(va, vb)
        return pd.DataFrame({"va": lo.astype("int64"), "vb": hi.astype("int64")})

    cands = fanout.groupBy("pid").applyInPandas(gemm_pair, "va long, vb long")
    a = e.select(F.col("vec_id").alias("va"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"))
    exact = vdot(F.col("ea"), F.col("eb"))
    # verify joins are PLAIN (r12): the vector table is corpus-sized
    # (N x dim floats), so a forced broadcast is the rule-14a defect
    # _verify_jaccard exhibited on the bounded fixture. AQE broadcasts
    # whichever side is actually small at runtime (the vector table at
    # test SF, the candidate stream at warehouse scale).
    return (
        cands.join(a, "va")
        .join(b, "vb")
        .withColumn("raw", exact)
        .filter(F.col("raw") >= 0.4)
        .select("va", "vb", dround(F.col("raw"), 6).alias("sim"))
    )


def _pq_oracle() -> str:
    """DuckDB replay of the ENTIRE PQ pipeline (round-10 graduation,
    seventh rows-only graduate): md5-ordered 256-row training sample,
    3 unrolled sub-space k-means iterations with 12-dp half-away
    quantized means and empty-cluster carry-over (the l_kmeans_assign
    recipe), argmin encoding with the (dist, c) tie rule, the ADC
    lookup table pivoted into one nested list so the per-vector score
    is an explicit left-associated 16-term chain (matching Spark's
    literal-lookup fold term for term), candidate top-100 by the
    6-dp-rounded ADC score, and the exact re-rank as the ordered
    64-term sequential dot. Every distance/dot is a left-assoc
    explicit expression = numpy's sequential reduce over the same
    doubles."""
    return """
    WITH sm AS MATERIALIZED (
        SELECT ROW_NUMBER() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS i,
               embedding AS v
        FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT 256
    ), sv AS MATERIALIZED (
        SELECT sm.i, j.j, [sm.v[(j.j - 1) * 4 + 1]::DOUBLE, sm.v[(j.j - 1) * 4 + 2]::DOUBLE, sm.v[(j.j - 1) * 4 + 3]::DOUBLE, sm.v[(j.j - 1) * 4 + 4]::DOUBLE] AS s
        FROM sm, (SELECT unnest(generate_series(1, 16)) AS j) j
    ), cb0 AS MATERIALIZED (
        SELECT j, i - 1 AS c, s AS w FROM sv WHERE i <= 16
    )    , a1 AS MATERIALIZED (
        SELECT i, j, c FROM (
            SELECT sv.i, sv.j, cb.c,
                   ROW_NUMBER() OVER (PARTITION BY sv.i, sv.j
                                      ORDER BY (sv.s[1] - cb.w[1]) * (sv.s[1] - cb.w[1]) + (sv.s[2] - cb.w[2]) * (sv.s[2] - cb.w[2]) + (sv.s[3] - cb.w[3]) * (sv.s[3] - cb.w[3]) + (sv.s[4] - cb.w[4]) * (sv.s[4] - cb.w[4]) ASC,
                                               cb.c ASC) AS rn
            FROM sv JOIN cb0 cb ON cb.j = sv.j)
        WHERE rn = 1
    ), m1 AS MATERIALIZED (
        SELECT a.j, a.c,
               ROUND(AVG(sv.s[1]) * 1e12) / 1e12 AS w1, ROUND(AVG(sv.s[2]) * 1e12) / 1e12 AS w2, ROUND(AVG(sv.s[3]) * 1e12) / 1e12 AS w3, ROUND(AVG(sv.s[4]) * 1e12) / 1e12 AS w4
        FROM a1 a JOIN sv ON sv.i = a.i AND sv.j = a.j
        GROUP BY a.j, a.c
    ), cb1 AS MATERIALIZED (
        SELECT cb.j, cb.c,
               CASE WHEN m.c IS NULL THEN cb.w
                    ELSE [m.w1, m.w2, m.w3, m.w4] END AS w
        FROM cb0 cb LEFT JOIN m1 m ON m.j = cb.j AND m.c = cb.c
    )    , a2 AS MATERIALIZED (
        SELECT i, j, c FROM (
            SELECT sv.i, sv.j, cb.c,
                   ROW_NUMBER() OVER (PARTITION BY sv.i, sv.j
                                      ORDER BY (sv.s[1] - cb.w[1]) * (sv.s[1] - cb.w[1]) + (sv.s[2] - cb.w[2]) * (sv.s[2] - cb.w[2]) + (sv.s[3] - cb.w[3]) * (sv.s[3] - cb.w[3]) + (sv.s[4] - cb.w[4]) * (sv.s[4] - cb.w[4]) ASC,
                                               cb.c ASC) AS rn
            FROM sv JOIN cb1 cb ON cb.j = sv.j)
        WHERE rn = 1
    ), m2 AS MATERIALIZED (
        SELECT a.j, a.c,
               ROUND(AVG(sv.s[1]) * 1e12) / 1e12 AS w1, ROUND(AVG(sv.s[2]) * 1e12) / 1e12 AS w2, ROUND(AVG(sv.s[3]) * 1e12) / 1e12 AS w3, ROUND(AVG(sv.s[4]) * 1e12) / 1e12 AS w4
        FROM a2 a JOIN sv ON sv.i = a.i AND sv.j = a.j
        GROUP BY a.j, a.c
    ), cb2 AS MATERIALIZED (
        SELECT cb.j, cb.c,
               CASE WHEN m.c IS NULL THEN cb.w
                    ELSE [m.w1, m.w2, m.w3, m.w4] END AS w
        FROM cb1 cb LEFT JOIN m2 m ON m.j = cb.j AND m.c = cb.c
    )    , a3 AS MATERIALIZED (
        SELECT i, j, c FROM (
            SELECT sv.i, sv.j, cb.c,
                   ROW_NUMBER() OVER (PARTITION BY sv.i, sv.j
                                      ORDER BY (sv.s[1] - cb.w[1]) * (sv.s[1] - cb.w[1]) + (sv.s[2] - cb.w[2]) * (sv.s[2] - cb.w[2]) + (sv.s[3] - cb.w[3]) * (sv.s[3] - cb.w[3]) + (sv.s[4] - cb.w[4]) * (sv.s[4] - cb.w[4]) ASC,
                                               cb.c ASC) AS rn
            FROM sv JOIN cb2 cb ON cb.j = sv.j)
        WHERE rn = 1
    ), m3 AS MATERIALIZED (
        SELECT a.j, a.c,
               ROUND(AVG(sv.s[1]) * 1e12) / 1e12 AS w1, ROUND(AVG(sv.s[2]) * 1e12) / 1e12 AS w2, ROUND(AVG(sv.s[3]) * 1e12) / 1e12 AS w3, ROUND(AVG(sv.s[4]) * 1e12) / 1e12 AS w4
        FROM a3 a JOIN sv ON sv.i = a.i AND sv.j = a.j
        GROUP BY a.j, a.c
    ), cb3 AS MATERIALIZED (
        SELECT cb.j, cb.c,
               CASE WHEN m.c IS NULL THEN cb.w
                    ELSE [m.w1, m.w2, m.w3, m.w4] END AS w
        FROM cb2 cb LEFT JOIN m3 m ON m.j = cb.j AND m.c = cb.c
    )
    , vv AS MATERIALIZED (
        SELECT e.vec_id, j.j, [e.embedding[(j.j - 1) * 4 + 1]::DOUBLE, e.embedding[(j.j - 1) * 4 + 2]::DOUBLE, e.embedding[(j.j - 1) * 4 + 3]::DOUBLE, e.embedding[(j.j - 1) * 4 + 4]::DOUBLE] AS s
        FROM embeddings e, (SELECT unnest(generate_series(1, 16)) AS j) j
    ), code AS MATERIALIZED (
        SELECT vec_id, j, c FROM (
            SELECT vv.vec_id, vv.j, cb.c,
                   ROW_NUMBER() OVER (PARTITION BY vv.vec_id, vv.j
                                      ORDER BY (vv.s[1] - cb.w[1]) * (vv.s[1] - cb.w[1]) + (vv.s[2] - cb.w[2]) * (vv.s[2] - cb.w[2]) + (vv.s[3] - cb.w[3]) * (vv.s[3] - cb.w[3]) + (vv.s[4] - cb.w[4]) * (vv.s[4] - cb.w[4]) ASC,
                                               cb.c ASC) AS rn
            FROM vv JOIN cb3 cb ON cb.j = vv.j)
        WHERE rn = 1
    ), cl AS MATERIALIZED (
        SELECT vec_id, list(c ORDER BY j) AS cs FROM code GROUP BY vec_id
    ), q AS MATERIALIZED (
        SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
    ), lv AS MATERIALIZED (
        SELECT cb.j, cb.c, q.qe[(cb.j - 1) * 4 + 1]::DOUBLE * cb.w[1] + q.qe[(cb.j - 1) * 4 + 2]::DOUBLE * cb.w[2] + q.qe[(cb.j - 1) * 4 + 3]::DOUBLE * cb.w[3] + q.qe[(cb.j - 1) * 4 + 4]::DOUBLE * cb.w[4] AS v
        FROM cb3 cb, q
    ), lutl AS MATERIALIZED (
        SELECT j, list(v ORDER BY c) AS lv FROM lv GROUP BY j
    ), lut2 AS MATERIALIZED (
        SELECT list(lv ORDER BY j) AS L FROM lutl
    ), sc AS MATERIALIZED (
        SELECT cl.vec_id, lut2.L[1][cl.cs[1] + 1] + lut2.L[2][cl.cs[2] + 1] + lut2.L[3][cl.cs[3] + 1] + lut2.L[4][cl.cs[4] + 1] + lut2.L[5][cl.cs[5] + 1] + lut2.L[6][cl.cs[6] + 1] + lut2.L[7][cl.cs[7] + 1] + lut2.L[8][cl.cs[8] + 1] + lut2.L[9][cl.cs[9] + 1] + lut2.L[10][cl.cs[10] + 1] + lut2.L[11][cl.cs[11] + 1] + lut2.L[12][cl.cs[12] + 1] + lut2.L[13][cl.cs[13] + 1] + lut2.L[14][cl.cs[14] + 1] + lut2.L[15][cl.cs[15] + 1] + lut2.L[16][cl.cs[16] + 1] AS score
        FROM cl, lut2
        WHERE cl.vec_id <> 0
    ), cand AS MATERIALIZED (
        SELECT vec_id FROM (
            SELECT vec_id,
                   ROW_NUMBER() OVER (
                       ORDER BY ROUND(score * 1e6, 0) / 1e6 DESC,
                                vec_id) AS rn
            FROM sc)
        WHERE rn <= 100
    ), ver AS MATERIALIZED (
        SELECT c.vec_id,
               ROUND((SELECT SUM(e.embedding[s.i]::DOUBLE * q.qe[s.i]::DOUBLE)
                      FROM (SELECT unnest(generate_series(1, 64)) AS i) s)
                     * 1e6, 0) / 1e6 + 0 AS sim
        FROM cand c
        JOIN embeddings e ON e.vec_id = c.vec_id, q
    )
    SELECT vec_id, sim FROM ver
    ORDER BY sim DESC, vec_id
    LIMIT 10
    """


@query("l_sim_search_pq", oracle=_pq_oracle())
def l_sim_search_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with exact re-rank — the THIRD scale
    path for vector search next to LSH (l_sim_join_lsh) and IVF
    (l_sim_search_ivf), and the only one that also COMPRESSES storage:
    vectors live as 16 sub-space code IDs (16 bytes vs 256 raw, 16×),
    the query scores codes through a literal ADC lookup table in pure
    codegen (no Python, no shuffle, no raw-vector reads), and the
    top-100 ADC candidates are re-ranked with the exact JVM ``vdot``
    to produce the final top-10. Candidate-recall≥90% vs the exact
    top-10 and run-to-run bit-determinism (no RNG: md5-sample
    training, fixed k-means init/iterations) are pinned in
    tests/test_ann.py — measured 100% on this data, floor 80% in the
    assertion for data-drift headroom.

    GRADUATED from rows-only to a full SQL oracle in round 10 (the
    seventh graduate): the training sample is md5-ordered, every
    k-means iteration's centroids are 12-dp half-away quantized (the
    l_kmeans_assign pin), and _pq_oracle() replays training, encoding,
    the ADC table, candidate selection and the exact re-rank in DuckDB
    — hash-MATCH at sf0.01 and sf0.1.

    Scale: this is how a 1 B-vector index actually serves — the code
    table is 16 B/vector (fits hot storage at sizes where raw floats
    cannot), ADC scoring is map-only + TakeOrdered, and only the ~100
    candidate raw vectors are ever fetched for the re-rank. Encoding
    is a one-off Arrow-batched mapInPandas ingest pass; codebooks are
    m·ksub·dsub bounded driver scalars (the kmeans/PCA sanction)."""
    from sqlengine_spark.ann import pq_topk

    e = table(spark, sf_dir, "embeddings")
    cands = pq_topk(e, query_id=0)
    qvec = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    return (
        cands.join(e, "vec_id")
        .crossJoin(F.broadcast(qvec))
        .select(
            "vec_id",
            dround(vdot(F.col("embedding"), F.col("qv")), 6).alias("sim"),
        )
        .orderBy(F.desc("sim"), "vec_id")
        .limit(10)
    )


@query(
    "l_multimodal_header_parse",
    oracle="""
    SELECT vec_id,
           'IMGB' AS magic,
           CAST(64 + vec_id % 512 AS INT) AS width,
           CAST(48 + vec_id % 256 AS INT) AS height,
           CAST(1 + vec_id % 4 AS INT) AS channels,
           CAST((64 + vec_id % 512) * (48 + vec_id % 256) * (1 + vec_id % 4)
                AS BIGINT) AS n_samples,
           ((64 + vec_id % 512) >= 2 * (48 + vec_id % 256)) AS is_wide
    FROM embeddings
    """,
)
def l_multimodal_header_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary MEDIA HEADER parsing as pure codegen — the schema-on-read
    step for multimodal payloads: opaque ``binary`` blobs carry a
    packed header (magic 'IMGB', u16be width, u16be height, u8
    channels — the PNG/JPEG-marker pattern), and the engine extracts
    typed metadata with substring+hex+conv ONLY, no UDF, no decode
    library. Decode of the pixel payload stays stubbed (multimodal.py,
    no PIL in this container); header triage is the part a 100 TB
    ingest runs on EVERY object anyway — route/filter/bucket by
    dimensions BEFORE paying any decoder.

    Round-trip verification: the stage WRITES payloads whose header
    fields derive from vec_id by formula (binary built with
    format_string %04x + unhex), parquet-persists them, reads the
    BLOBs back and parses the fields out of the bytes; the oracle
    recomputes the same fields from the FORMULA — any encode, write,
    read, or parse error breaks the hash.

    Scale: map-only scan projection on both legs; binary stays opaque
    through the shuffle-free plan. At 100 TB this is the manifest-
    building pass: n_samples(=w*h*c) drives decoder batch sizing,
    is_wide-style predicates prune objects before decode."""
    e = table(spark, sf_dir, "embeddings")
    payload = F.unhex(
        F.concat(
            F.lit("494d4742"),  # 'IMGB'
            F.format_string("%04x", (64 + F.col("vec_id") % 512).cast("int")),
            F.format_string("%04x", (48 + F.col("vec_id") % 256).cast("int")),
            F.format_string("%02x", (1 + F.col("vec_id") % 4).cast("int")),
            # opaque payload bytes after the header (content irrelevant)
            F.lpad(F.hex(F.xxhash64("vec_id")), 16, "0"),
        )
    )
    stage = scratch("media_headers")
    e.select("vec_id", payload.alias("payload")).write.mode(
        "overwrite"
    ).parquet(stage)
    m = spark.read.schema("vec_id long, payload binary").parquet(stage)
    w = F.conv(F.hex(F.substring("payload", 5, 2)), 16, 10).cast("int")
    h = F.conv(F.hex(F.substring("payload", 7, 2)), 16, 10).cast("int")
    c = F.conv(F.hex(F.substring("payload", 9, 1)), 16, 10).cast("int")
    return m.select(
        "vec_id",
        F.decode(F.substring("payload", 1, 4), "UTF-8").alias("magic"),
        w.alias("width"),
        h.alias("height"),
        c.alias("channels"),
        (w * h * c).cast("bigint").alias("n_samples"),
        (w >= 2 * h).alias("is_wide"),
    )


#: SemDeDup parameters: seed-centroid count and within-cluster cosine
#: threshold (the corpus's max pairwise dot is ~0.51, so 0.35 yields a
#: real but sparse duplicate set).
SEMDEDUP_K = 8
SEMDEDUP_TAU = 0.35


@query(
    "l_dedup_semantic",
    oracle=f"""
    WITH flat AS MATERIALIZED (
        SELECT vec_id, i, embedding[i]::DOUBLE AS v
        FROM embeddings, unnest(generate_series(1, 64)) t(i)
    ), cflat AS MATERIALIZED (
        SELECT vec_id AS cid, i, v FROM flat WHERE vec_id < {SEMDEDUP_K}
    ), adot AS MATERIALIZED (
        SELECT f.vec_id, c.cid, ROUND(SUM(f.v * c.v) * 1e12) / 1e12 AS d
        FROM flat f JOIN cflat c USING (i)
        GROUP BY f.vec_id, c.cid
    ), assign AS MATERIALIZED (
        SELECT vec_id, cid AS cluster_id FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d DESC, cid) AS rn
            FROM adot) WHERE rn = 1
    ), pd AS MATERIALIZED (
        SELECT a.vec_id AS va, b.vec_id AS vb
        FROM assign a JOIN assign b
          ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
    ), dup AS MATERIALIZED (
        SELECT DISTINCT vb AS vec_id FROM (
            SELECT p.va, p.vb
            FROM pd p
            JOIN flat fa ON fa.vec_id = p.va
            JOIN flat fb ON fb.vec_id = p.vb AND fb.i = fa.i
            GROUP BY p.va, p.vb
            HAVING ROUND(SUM(fa.v * fb.v) * 1e12) / 1e12 >= {SEMDEDUP_TAU})
    )
    SELECT e.vec_id, a.cluster_id,
           CASE WHEN e.vec_id IN (SELECT vec_id FROM dup)
                THEN 0 ELSE 1 END AS keep
    FROM embeddings e JOIN assign a ON a.vec_id = e.vec_id
    ORDER BY e.vec_id
    """,
)
def l_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup that first CLUSTERS
    the embedding space, then looks for near-duplicate pairs only
    WITHIN each cluster — the move that turns O(N²) embedding dedup
    into O(Σ|cluster|²), which is what makes semantic dedup run at
    corpus scale (the paper prunes LAION/CommonCrawl this way). Every
    vector gets its cluster id and a keep flag: dropped iff a lower-id
    vector in the SAME cluster has dot >= {{TAU}} (greedy min-id
    canonicalization, same keep rule as l_dedup_embedding — the paper's
    farthest-from-centroid keep is a one-line ORDER BY swap).
    Seed centroids are the first {{K}} vectors (deterministic stand-in
    for a k-means fit — l_kmeans_assign is the trained sibling; the
    blocking structure, not the centroid quality, is what's under
    test). Cluster-assignment dots and pair dots are rounded to the
    1e-12 grid in BOTH engines so the argmax and the threshold compare
    never sit on sub-ulp noise (the l_graph_pagerank pin applied to a
    flat-position-join oracle).

    Scale: assignment is a broadcast of K centroid vectors against a
    map-only scan (argmax per row, no shuffle); the pair stage
    shuffles once keyed on cluster_id with fan-out Σ|cluster|² — the
    SemDeDup contract — and at production scale K grows with N to hold
    |cluster| constant. The anti-join keep set is |duplicates|-sized.
    """
    e = table(spark, sf_dir, "embeddings")
    cent = e.filter(F.col("vec_id") < SEMDEDUP_K).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    dots = e.select("vec_id", "embedding").crossJoin(
        F.broadcast(cent)
    ).select(
        "vec_id",
        "cid",
        dround(vdot(F.col("embedding"), F.col("ce")), 12).alias("d"),
    )
    rn = F.row_number().over(
        W.partitionBy("vec_id").orderBy(F.col("d").desc(), "cid")
    )
    assign = (
        dots.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("cid").alias("cluster_id"))
    )
    # assigned-embedding frame feeds both pair sides — stage it once
    ea = e.select("vec_id", "embedding").join(assign, "vec_id").localCheckpoint()
    a = ea.toDF("va", "ea", "cluster_id")
    b = ea.toDF("vb", "eb", "cluster_id")
    dup = (
        a.join(b, "cluster_id")
        .filter(F.col("va") < F.col("vb"))
        .filter(
            dround(vdot(F.col("ea"), F.col("eb")), 12) >= SEMDEDUP_TAU
        )
        .select(F.col("vb").alias("vec_id"))
        .distinct()
    )
    return (
        ea.select("vec_id", "cluster_id")
        .join(dup.withColumn("is_dup", F.lit(1)), "vec_id", "left")
        .select(
            "vec_id",
            "cluster_id",
            F.when(F.col("is_dup").isNotNull(), 0).otherwise(1).alias("keep"),
        )
        .orderBy("vec_id")
    )


l_dedup_semantic.__doc__ = (
    l_dedup_semantic.__doc__.replace("{{TAU}}", str(SEMDEDUP_TAU))
    .replace("{{K}}", str(SEMDEDUP_K))
)


#: RRF constant (Cormack et al. 2009) and per-retriever candidate depth.
RRF_K = 60
RRF_DEPTH = 50


@query(
    "l_rag_rerank_rrf",
    oracle=f"""
    WITH q AS (
        SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
    ), j AS (
        SELECT d.doc_id,
               (SELECT SUM(e.embedding[s.i]::DOUBLE * q.qe[s.i]::DOUBLE)
                FROM (SELECT unnest(generate_series(1, 64)) AS i) s)
                 AS cos,
               len(list_filter(string_split(d.text, ' '),
                               w -> w IN ('table', 'join'))) * 1.0
                 / len(string_split(d.text, ' ')) AS kw
        FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id, q
        WHERE d.doc_id <> 0
    ), dt AS (
        SELECT doc_id, rd FROM (
            SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id)
                   AS rd FROM j) WHERE rd <= {RRF_DEPTH}
    ), st AS (
        SELECT doc_id, rs FROM (
            SELECT doc_id, row_number() OVER (ORDER BY kw DESC, doc_id)
                   AS rs FROM j) WHERE rs <= {RRF_DEPTH}
    )
    SELECT COALESCE(dt.doc_id, st.doc_id) AS doc_id,
           CAST(dt.rd AS BIGINT) AS rd,
           CAST(st.rs AS BIGINT) AS rs,
           ROUND((COALESCE(1.0 / ({RRF_K} + dt.rd), 0.0)
                  + COALESCE(1.0 / ({RRF_K} + st.rs), 0.0)) * 1e9, 0)
             / 1e9 AS rrf
    FROM dt FULL JOIN st ON dt.doc_id = st.doc_id
    ORDER BY rrf DESC, doc_id LIMIT 10
    """,
)
def l_rag_rerank_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) — the standard
    RAG-stack way to merge retrievers WITHOUT comparable scores: each
    retriever contributes 1/(k + rank) for the documents in its top-N
    list, and the fused top-10 ranks by the sum. Unlike
    l_hybrid_search's weighted score blend, RRF is scale-free (a
    BM25 score and a cosine live on different scales; ranks don't),
    which is why production stacks default to it. Dense list: cosine
    to the query vector (vdot — bit-identical doubles, so the rank
    order itself is deterministic); sparse list: query-term density.
    Documents missing from one list contribute only the other term
    (FULL join + coalesce).

    Scale: each retriever's candidate list is depth-bounded (top-50
    here — production fuses top-k lists, never corpora), so the
    rank-assignment window runs on <= RRF_DEPTH rows per retriever
    (whitelisted bounded global window) and the fusion join touches
    <= 2·depth rows. The candidates are ``hybrid_candidates`` and the
    sparse score ``keyword_share``."""
    kw = keyword_share()
    j = (
        hybrid_candidates(spark, sf_dir)
        .select(
            "doc_id",
            vdot(F.col("embedding"), F.col("qe")).alias("cos"),
            kw.alias("kw"),
        )
        .localCheckpoint()  # one corpus pass feeds both retriever lists
    )
    dt = (
        j.orderBy(F.col("cos").desc(), "doc_id")
        .limit(RRF_DEPTH)
        .select(
            "doc_id",
            F.row_number()
            .over(W.orderBy(F.col("cos").desc(), "doc_id"))
            .cast("bigint")
            .alias("rd"),
        )
    )
    st = (
        j.orderBy(F.col("kw").desc(), "doc_id")
        .limit(RRF_DEPTH)
        .select(
            "doc_id",
            F.row_number()
            .over(W.orderBy(F.col("kw").desc(), "doc_id"))
            .cast("bigint")
            .alias("rs"),
        )
    )
    fused = (
        dt.join(st, "doc_id", "full")
        .select(
            "doc_id",
            "rd",
            "rs",
            (
                F.round(
                    (
                        F.coalesce(
                            F.lit(1.0) / (F.lit(RRF_K) + F.col("rd")),
                            F.lit(0.0),
                        )
                        + F.coalesce(
                            F.lit(1.0) / (F.lit(RRF_K) + F.col("rs")),
                            F.lit(0.0),
                        )
                    )
                    * 1e9,
                    0,
                )
                / 1e9
            ).alias("rrf"),
        )
    )
    return fused.orderBy(F.col("rrf").desc(), "doc_id").limit(10)


@query(
    "l_embed_norm_stats",
    oracle="""
    WITH v AS (
        SELECT label, vec_id,
               CAST(FLOOR(sqrt((SELECT SUM(e.embedding[s.i]::DOUBLE
                                           * e.embedding[s.i]::DOUBLE)
                                FROM (SELECT unnest(generate_series(1, 64))
                                      AS i) s)) * 1e6 + 0.5) AS BIGINT)
                   AS nq
        FROM embeddings e
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN nq = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero,
           ROUND(CAST(SUM(nq) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                 / 1e6 * 1e6) / 1e6 + 0 AS avg_norm,
           MIN(nq) / 1e6 + 0 AS min_norm,
           MAX(nq) / 1e6 + 0 AS max_norm
    FROM v GROUP BY label ORDER BY label
    """,
)
def l_embed_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING HYGIENE AUDIT per label: vector count, zero-vector
    count, and the mean/min/max L2 norm — the first QA table an
    embedding pipeline publishes (norm collapse, un-normalized
    batches, and dead/zero vectors are the classic silent failures
    before any ANN index is built).

    Determinism: the squared norm is the bit-pinned sequential vdot
    fold (functions.vdot ≡ DuckDB's ordered generate_series SUM); each
    row's norm quantizes to a 1e6 fixed-point BIGINT BEFORE the group
    sums, so every aggregate is an exact integer — immune to per-group
    float sum order in both engines (rule 11e), min/max ride
    the same grid.

    Scale: one scan of the embeddings table, one label-keyed
    partial+final agg (label domain bounded); the per-row fold is
    map-side JVM codegen. At 100 TB this is scan speed."""
    from sqlengine_spark.functions import vdot

    e = table(spark, sf_dir, "embeddings")
    nq = F.floor(
        F.sqrt(vdot(F.col("embedding"), F.col("embedding"))) * 1e6 + 0.5
    ).cast("bigint")
    a = e.select("label", nq.alias("nq")).groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.when(F.col("nq") == 0, 1).otherwise(0)).alias("n_zero"),
        F.sum("nq").alias("snq"),
        F.min("nq").alias("mn"),
        F.max("nq").alias("mx"),
    )
    return a.select(
        "label",
        "n_vecs",
        "n_zero",
        dround(
            F.col("snq").cast("double") / F.col("n_vecs").cast("double") / 1e6,
            6,
        ).alias("avg_norm"),
        (F.col("mn") / F.lit(1e6) + F.lit(0.0)).alias("min_norm"),
        (F.col("mx") / F.lit(1e6) + F.lit(0.0)).alias("max_norm"),
    ).orderBy("label")


def sampled_query_scores(
    spark: SparkSession, sf_dir: str, keep: Column
) -> DataFrame:
    """The 20 embeddings with the smallest ``md5(vec_id)`` (the
    l_sim_search_ivf sampling convention) as queries ``(q_id, qe, ql)``,
    each scored against every embedding row that ``keep`` admits:
    ``(q_id, ql, vec_id, label, sq)`` with ``sq`` the dot product
    quantized to the 1e6 half-up grid as BIGINT, so ranking compares
    identical integers in both engines.

    Scale: the 20-query table broadcasts (LIMIT-bounded) and the scores
    are one map-side pass over q×corpus — at 100 TB, 20 broadcast
    dot-product scans fused into one."""
    e = table(spark, sf_dir, "embeddings")
    q = (
        e.select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("qe"),
            F.col("label").alias("ql"),
            F.md5(F.col("vec_id").cast("string")).alias("h"),
        )
        .orderBy("h", "q_id")
        .limit(20)
        .drop("h")
    )
    return (
        e.crossJoin(F.broadcast(q))
        .filter(keep)
        .select(
            "q_id",
            "ql",
            "vec_id",
            "label",
            F.floor(vdot(F.col("embedding"), F.col("qe")) * 1e6 + 0.5)
            .cast("bigint")
            .alias("sq"),
        )
    )


@query(
    "l_mine_bitext_margin",
    oracle="""
    WITH q AS (
        SELECT vec_id AS q_id, embedding AS qe, label AS ql
        FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT 20
    ), s AS (
        SELECT q.q_id, q.ql, e.vec_id, e.label,
               CAST(FLOOR((SELECT SUM(e.embedding[i.i]::DOUBLE
                                       * q.qe[i.i]::DOUBLE)
                           FROM (SELECT unnest(generate_series(1, 64))
                                 AS i) i) * 1e6 + 0.5) AS BIGINT) AS sq
        FROM embeddings e, q
        WHERE e.label <> q.ql
    ), r AS (
        SELECT q_id, ql, vec_id, label, sq,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY sq DESC, vec_id) AS rk
        FROM s
    )
    SELECT q_id, MAX(ql) AS ql,
           CAST(MAX(CASE WHEN rk = 1 THEN vec_id END) AS BIGINT)
               AS best_vec_id,
           MAX(CASE WHEN rk = 1 THEN label END) AS best_label,
           CAST(MAX(CASE WHEN rk = 1 THEN sq END) AS BIGINT) AS sq_best,
           ROUND(CAST(4 * MAX(CASE WHEN rk = 1 THEN sq END) AS DOUBLE)
                 / CAST(NULLIF(SUM(sq), 0) AS DOUBLE) * 1e6) / 1e6 + 0
               AS margin
    FROM r WHERE rk <= 4
    GROUP BY q_id ORDER BY q_id
    """,
)
def l_mine_bitext_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARGIN-BASED BITEXT MINING (Artetxe & Schwenk 2019, "Margin-based
    parallel corpus mining with multilingual sentence embeddings" —
    the LASER/ccMatrix method; public method): for each of 20
    md5-sampled source vectors (the l_sim_search_ivf sampling
    convention), score every CROSS-LABEL vector (label stands in for
    language), and report the best candidate with its RATIO margin =
    sim(best) / mean(top-4 sims). Raw cosine thresholds are
    incomparable across hubness regimes; the margin normalizes by the
    query's own neighborhood density — pairs with margin >> 1 are the
    mineable translations. Forward-only margin (the one-direction
    variant; production systems intersect both directions — one more
    run of the same shape with roles swapped).

    Determinism: sims are ``sampled_query_scores``' integer grid; the
    top-4 order is total ((sq DESC, vec_id)); the margin is one
    integer-ratio division (4·best / Σtop4, NULLIF degenerate guard),
    dround 1e-6.

    Scale: sims are ``sampled_query_scores``; the per-query top-4 is a
    rank window whose constant filter triggers InferWindowGroupLimit —
    per-partition top-4 heaps per q_id before the shuffle, so the
    exchange carries ~20×4×partitions rows, never q×corpus: one thin
    shuffle."""
    s = sampled_query_scores(spark, sf_dir, F.col("label") != F.col("ql"))
    w = W.partitionBy("q_id").orderBy(F.col("sq").desc(), "vec_id")
    top = s.select(
        "q_id", "ql", "vec_id", "label", "sq",
        F.row_number().over(w).alias("rk"),
    ).filter(F.col("rk") <= 4)
    s4 = F.sum("sq")
    best_sq = F.max(F.when(F.col("rk") == 1, F.col("sq")))
    margin = (4 * best_sq).cast("double") / F.when(
        s4 == 0, F.lit(None)
    ).otherwise(s4).cast("double")
    return (
        top.groupBy("q_id")
        .agg(
            F.max("ql").alias("ql"),
            F.max(F.when(F.col("rk") == 1, F.col("vec_id")))
            .cast("bigint")
            .alias("best_vec_id"),
            F.max(F.when(F.col("rk") == 1, F.col("label"))).alias(
                "best_label"
            ),
            best_sq.cast("bigint").alias("sq_best"),
            dround(margin, 6).alias("margin"),
        )
        .orderBy("q_id")
    )


@query(
    "l_embed_centroid_outliers",
    oracle="""
    WITH m AS (
        SELECT e.label, e.vec_id, s.i,
               CAST(ROUND(e.embedding[s.i]::DOUBLE * 1e6) AS BIGINT) AS vq
        FROM embeddings e,
             LATERAL (SELECT unnest(generate_series(1, 64)) AS i) s
    ), cent AS (
        SELECT label, i,
               CAST(FLOOR(CAST(SUM(vq) AS DOUBLE) / COUNT(*) + 0.5)
                    AS BIGINT) AS cs
        FROM m GROUP BY label, i
    ), cn AS (
        SELECT label, CAST(SUM(cs * cs) AS BIGINT) AS c2
        FROM cent GROUP BY label
    ), mem AS (
        SELECT m.label, m.vec_id,
               CAST(SUM(m.vq * c.cs) AS BIGINT) AS dot,
               CAST(SUM(m.vq * m.vq) AS BIGINT) AS v2
        FROM m JOIN cent c ON c.label = m.label AND c.i = m.i
        GROUP BY m.label, m.vec_id
    ), scored AS (
        SELECT mem.label, mem.vec_id,
               CAST(mem.dot AS DOUBLE)
               / NULLIF(sqrt(CAST(mem.v2 AS DOUBLE)
                             * CAST(cn.c2 AS DOUBLE)), 0.0) AS cos,
               ROW_NUMBER() OVER (
                   PARTITION BY mem.label
                   ORDER BY CAST(mem.dot AS DOUBLE)
                            / NULLIF(sqrt(CAST(mem.v2 AS DOUBLE)
                                          * CAST(cn.c2 AS DOUBLE)), 0.0),
                            mem.vec_id) AS rk
        FROM mem JOIN cn ON cn.label = mem.label
    )
    SELECT label, rk, vec_id,
           ROUND(cos * 1e6) / 1e6 + 0 AS cos_centroid
    FROM scored WHERE rk <= 5 ORDER BY label, rk
    """,
)
def l_embed_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LABEL-PURITY AUDIT — for every label, the 5 member embeddings
    LEAST cosine-similar to their own label's centroid: the standard
    mislabel / contamination detector run before training a classifier
    head or using labels as retrieval ground truth (SemDeDup's cluster
    view asks "who is too close"; this asks the complementary "who
    does not belong"). Members surfacing here are relabel/review
    candidates.

    Determinism (the all-integer centroid trick): each float32
    element quantizes to a 1e6 fixed-point BIGINT; the "centroid" is
    the per-(label, dim) MEAN of those integers re-quantized onto the
    SAME 1e6 grid — FLOOR(sum/count + 0.5), one IEEE division of
    identical exact inputs (sum is exact in double to ~9e9
    members/label), identical in both engines — and every dot/norm is
    then an EXACT BIGINT sum (immune to sum order, rule 11e). The
    only remaining floats are that one quantization and the final
    division by sqrt(v2*c2) on identical doubles, so the per-member
    cosine — and therefore the RANKING — is bit-identical across
    engines (a float centroid's last-ulp reassociation drift could
    flip adjacent ranks; a rounded one can land on a ROUND-half
    boundary, rule 9). (vec_id,) breaks exact-cos ties.

    Overflow headroom (r13 advice fix — the earlier SUM-vector form
    documented "fine to ~4e5 members" but its binding term was c2 =
    sum(cs^2) with cs up to members*1e6: int64 overflow at ~3e3
    worst-case-aligned members per label, with Spark wrapping
    SILENTLY while DuckDB's HUGEINT cast errors loudly — the engines
    would diverge rather than both fail). The mean-quantized centroid
    removes the member-count term entirely: |cs| <= ~1e6 ~ 2^20, so
    c2 <= 64*2^40 ~ 2^46, v2 <= 2^46, dot <= 2^46 — no BIGINT
    product/sum here can overflow at ANY label size (the only
    residual bound is the exact-double partial sum above, ~9e9
    members/label, far past any real label). The norm PRODUCT still
    casts to double before multiplying (c2 * v2 ~ 2^92 would
    overflow first).

    Scale (r14 packed rewrite — the verdict-staged single-pass
    attempt, adopted on paired numbers): the embedding column
    quantizes ONCE into a packed 64-long array (localCheckpoint —
    rule 11a single-scan staging for its two consumers: the size of
    the materialized copy is ~the input column itself, the standard
    trade vs a double scan). The ONLY generate is the centroid pass
    (posexplode, 64 rows/vector) feeding a (label, dim) partial agg
    to a DOMAIN-bounded table (|labels| x 64) that packs back into a
    per-label 64-array — broadcast by construction (rule 14a
    exception: label domain is bounded). Scoring then reads the N
    PACKED rows — dot/v2 via zip_with/aggregate over the 64-wide
    arrays, per-row-bounded interpreted lambdas (pin 16a's cold
    class: 64 element-ops/row, no fan-out) — instead of re-generating
    64N rows and probing a broadcast per element-row, which is the
    part of the old plan that grew with the generate floor. Bottom-5
    per label is a rank-filtered window (InferWindowGroupLimit prunes
    per-partition).

    x100 record (r14, paired interleaved fresh-plan reps, probe
    ~0.57/19.2): packed 1.46 s median vs the two-consumer explode
    plan's 1.64 s — the packed side won every rep (1.90/2.14,
    1.46/1.71, 1.57/1.62, 1.42/1.64, 1.34/1.47); a localCheckpoint of
    the EXPLODED stream measured worse than both (1.6). Remaining
    cost is the centroid generate + multi-stage job floor vs a 0.27 s
    single-process denominator (r13 attribution: a bare
    posexplode+count of the same stream costs ~1.6 s alone; a
    mapInPandas/GEMM rewrite measured within noise of the old plan).
    Ratio ~5x at x100, floor-dominated; marginal cost per 9x data
    stays well under the denominator's slope."""
    # scatter: the quantize+explode map work lands on a single-split
    # fixture file otherwise (pin 15b; no-op at corpus scale)
    e = scatter(spark, table(spark, sf_dir, "embeddings"))
    vecs = e.select(
        "label",
        "vec_id",
        F.expr(
            "transform(embedding, x ->"
            " CAST(round(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT))"
        ).alias("vqa"),
    ).localCheckpoint()
    m = vecs.select("label", F.posexplode("vqa").alias("i0", "vq"))
    cent = m.groupBy("label", "i0").agg(
        F.floor(F.sum("vq").cast("double") / F.count(F.lit(1)) + 0.5)
        .cast("bigint")
        .alias("cs")
    )
    cent_arr = cent.groupBy("label").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(i0, cs))), s -> s.cs)"
        ).alias("csa"),
        F.sum(F.col("cs") * F.col("cs")).alias("c2"),
    )
    # ONE broadcast join carries both csa and c2 so cent_arr has a
    # single consumer (a second join would re-run the centroid pass)
    mem = vecs.join(F.broadcast(cent_arr), "label").select(
        "label",
        "vec_id",
        "c2",
        F.expr(
            "aggregate(zip_with(vqa, csa, (a, b) -> a * b),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).alias("dot"),
        F.expr(
            "aggregate(vqa, CAST(0 AS BIGINT), (acc, x) -> acc + x * x)"
        ).alias("v2"),
    )
    denom = F.sqrt(F.col("v2").cast("double") * F.col("c2").cast("double"))
    cos = F.col("dot").cast("double") / F.when(
        denom == 0.0, F.lit(None)
    ).otherwise(denom)
    scored = mem.select("label", "vec_id", cos.alias("cos"))
    ranked = scored.select(
        "label",
        "vec_id",
        "cos",
        F.row_number()
        .over(W.partitionBy("label").orderBy("cos", "vec_id"))
        .alias("rk"),
    )
    return (
        ranked.filter(F.col("rk") <= 5)
        .select("label", "rk", "vec_id", dround(F.col("cos"), 6).alias("cos_centroid"))
        .orderBy("label", "rk")
    )
