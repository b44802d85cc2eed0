"""Tier L (pipeline extensions) — training-data preparation operators.

The ops a 100 TB LLM-pretraining data pipeline runs between raw corpus
and training shards, beyond the dedup/similarity/quality family already
in ``tier_l_llm``: context-window chunking, PII-style scrubbing,
deterministic train/val/test splitting, domain-mixture resampling, a
Gopher-style repetition filter, and prefix-fingerprint dedup.

Everything here is pure Catalyst expressions (split / slice / sequence /
transform / regexp_replace / window rank) — no UDFs, no collect. Each
op's shuffle key and its behavior at 1000 executors is documented on the
operator. Determinism policy: anything "random" (splits, mixture
sampling) is keyed on md5 of a stable id, never on an RNG, so results
are reproducible run-to-run AND identical in the DuckDB oracle — which
is exactly how production pipelines pin their splits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sqlengine_spark.functions import dround, vdot
from sqlengine_spark.registry import query
from sqlengine_spark.session import table

#: Context-window chunking parameters (words per chunk / stride).
CHUNK_WORDS = 50
CHUNK_STRIDE = 40


@query(
    "l_text_chunk",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ), s AS (
        SELECT doc_id, words,
               unnest(range(0, len(words), {CHUNK_STRIDE})) AS st
        FROM w
    )
    SELECT doc_id,
           st // {CHUNK_STRIDE} AS chunk_id,
           array_to_string(words[st + 1 : st + {CHUNK_WORDS}], ' ') AS chunk_text,
           least({CHUNK_WORDS}, len(words) - st) AS n_words
    FROM s
    ORDER BY doc_id, chunk_id
    """,
)
def l_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: split each document into overlapping
    fixed-size word windows (50 words, stride 40 -> 10-word overlap),
    the standard prep step before tokenize-and-pack for pretraining.

    Scale: narrow per-row transform — split once, explode the start
    offsets (sequence), slice per chunk. No shuffle at all until the
    output sort (which a real pipeline omits); fan-out is bounded by
    doc length / stride. At 100 TB this is a map-only stage that
    pipelines into the sink writer.
    """
    w = table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("words")
    )
    n = F.size("words")
    return (
        w.select(
            "doc_id",
            "words",
            F.explode(F.sequence(F.lit(0), n - 1, F.lit(CHUNK_STRIDE))).alias("st"),
        )
        .select(
            "doc_id",
            (F.col("st") / CHUNK_STRIDE).cast("bigint").alias("chunk_id"),
            F.array_join(
                F.slice("words", F.col("st") + 1, F.lit(CHUNK_WORDS)), " "
            ).alias("chunk_text"),
            F.least(F.lit(CHUNK_WORDS), F.size("words") - F.col("st")).alias("n_words"),
        )
        .orderBy("doc_id", "chunk_id")
    )


@query(
    "l_text_scrub",
    oracle="""
    SELECT event_id,
           regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS scrubbed,
           len(props) - len(regexp_replace(props, '[0-9]', '', 'g')) AS n_digits
    FROM events
    WHERE event_type IN ('signup', 'purchase')
    ORDER BY event_id
    """,
)
def l_text_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style scrubbing: mask every digit run in the event payload
    with a placeholder token and count the digits removed — the shape
    of email/phone/SSN redaction passes (the real patterns are just
    longer regexes over the same codegen path).

    Scale: map-only regexp_replace inside whole-stage codegen, filter
    pushed to the scan; zero shuffles. Engine pin: DuckDB
    regexp_replace needs the 'g' flag, Spark replaces all matches by
    default (CLAUDE.md rule 6).
    """
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "purchase")
    )
    return ev.select(
        "event_id",
        F.regexp_replace("props", "[0-9]+", "<NUM>").alias("scrubbed"),
        (
            F.length("props") - F.length(F.regexp_replace("props", "[0-9]", ""))
        ).alias("n_digits"),
    ).orderBy("event_id")


@query(
    "l_split_hash",
    oracle="""
    WITH h AS (
        SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS hx
        FROM documents
    )
    SELECT CASE WHEN hx < '0d' THEN 'val'
                WHEN hx < '1a' THEN 'test'
                ELSE 'train' END AS split,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT lang) AS n_langs,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM h
    GROUP BY 1
    ORDER BY 1
    """,
)
def l_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split: assign each document by the
    lexicographic range of md5(doc_id) (~5% val, ~5% test, 90% train).
    Hash-range splitting is how production pipelines pin splits so
    they survive re-runs, resharding, and incremental appends — no
    RNG, no seed state.

    Scale: the assignment is a map-only expression; the summary agg
    shuffles 3 groups. md5 is identical hex in Spark and DuckDB, so
    the oracle verifies the actual membership function, not a proxy.
    """
    h = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.md5(F.col("doc_id").cast("string")).alias("hx")
    )
    split = (
        F.when(F.col("hx") < "0d", "val")
        .when(F.col("hx") < "1a", "test")
        .otherwise("train")
    )
    return (
        h.groupBy(split.alias("split"))
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("split")
    )


@query(
    "l_domain_mix",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, source, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn,
               COUNT(*) OVER (PARTITION BY source) AS n_src
        FROM documents
    )
    SELECT doc_id, source, lang
    FROM ranked
    WHERE rn <= CEIL(n_src * CASE WHEN source IN ('src0', 'src1', 'src2')
                                  THEN 1.0
                                  WHEN source IN ('src3', 'src4', 'src5')
                                  THEN 0.5
                                  ELSE 0.25 END)
    ORDER BY doc_id
    """,
)
def l_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling: downsample each source domain to a
    target rate (keep 100% of src0-2, 50% of src3-5, 25% of the rest)
    by ranking documents on md5(doc_id) within each domain and keeping
    the target prefix — the deterministic equivalent of weighted
    mixture sampling (C4/Pile-style recipe weights).

    Scale: one shuffle on the domain key for the window rank; the
    hash order makes the kept subset a uniform, reproducible sample
    of each domain. Skewed domains salt the same way d_agg_salted
    does; rank-prefix semantics survive because md5 order is global.
    """
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    rate = (
        F.when(F.col("source").isin("src0", "src1", "src2"), 1.0)
        .when(F.col("source").isin("src3", "src4", "src5"), 0.5)
        .otherwise(0.25)
    )
    return (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            "lang",
            F.row_number().over(w).alias("rn"),
            F.count("*").over(Window.partitionBy("source")).alias("n_src"),
        )
        .filter(F.col("rn") <= F.ceil(F.col("n_src") * rate))
        .select("doc_id", "source", "lang")
        .orderBy("doc_id")
    )


@query(
    "l_text_repetition",
    oracle="""
    WITH b AS (
        SELECT doc_id,
               string_split(text, ' ') AS w,
               list_transform(range(1, len(string_split(text, ' '))),
                              i -> string_split(text, ' ')[i] || ' ' ||
                                   string_split(text, ' ')[i + 1]) AS bigrams
        FROM documents
    )
    SELECT doc_id,
           len(bigrams) AS n_bigrams,
           ROUND((1.0 - len(list_distinct(bigrams)) * 1.0 / len(bigrams))
                 * 1e4, 0) / 1e4 + 0 AS dup_bigram_frac
    FROM b
    WHERE len(bigrams) > 0
    ORDER BY dup_bigram_frac DESC, doc_id
    LIMIT 50
    """,
)
def l_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter signal: per-document fraction of
    duplicate word bigrams (1 - distinct/total). High values flag
    boilerplate/spam for removal before training.

    Scale: per-row array expressions only (split once, build bigrams
    with transform over an index sequence, array_distinct) — no
    explode, no shuffle except the top-50 TakeOrdered. At 100 TB the
    filter is a map-only stage fused into the ingest scan.
    """
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    bigrams = F.expr("transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i + 1]))")
    b = docs.select("doc_id", bigrams.alias("bigrams")).filter(F.size("bigrams") > 0)
    return (
        b.select(
            "doc_id",
            F.size("bigrams").alias("n_bigrams"),
            dround(
                1.0 - F.size(F.array_distinct("bigrams")) / F.size("bigrams"), 4
            ).alias("dup_bigram_frac"),
        )
        .orderBy(F.desc("dup_bigram_frac"), "doc_id")
        .limit(50)
    )


@query(
    "l_dedup_prefix",
    oracle="""
    WITH f AS (
        SELECT doc_id, lang, n_chars,
               md5(substring(text, 1, 100)) AS fp
        FROM documents
    )
    SELECT fp, MIN(doc_id) AS keep_doc, COUNT(*) AS n_members
    FROM f
    GROUP BY fp
    ORDER BY fp
    """,
)
def l_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-fingerprint dedup: cluster documents by the md5 of their
    first 100 characters and keep the min-id representative — the
    cheap first pass (CC-dump pipelines run it before MinHash) that
    kills exact head duplicates without full-text comparison.

    Scale: fingerprint is computed map-side, groupBy(fp) is a
    partial+final agg whose shuffle carries one row per distinct
    prefix — strictly smaller than the input. The min-id canonical
    representative matches l_dedup_exact's convention.
    """
    f = table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.substring("text", 1, 100)).alias("fp")
    )
    return (
        f.groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc"), F.count("*").alias("n_members"))
        .orderBy("fp")
    )


def _kmeans_oracle(iters: int, k: int = 10) -> str:
    """Unrolled Lloyd-iteration oracle (the _pca_oracle pattern):
    MATERIALIZED CTEs per step; per-vector scores are ORDERED sums
    (sequential fold == Spark's ``aggregate`` lambda, rule 4) so the
    argmax compares bit-identical doubles; centroid means round to
    12 dp half-away on BOTH sides before feeding the next step; empty
    clusters COALESCE to the previous centroid exactly like the
    driver-side ``else cents[c]`` branch."""
    head = f"""
    WITH flat AS MATERIALIZED (
      SELECT vec_id, s.i AS pos, embedding[s.i]::DOUBLE AS x
      FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) s),
    init AS MATERIALIZED (
      SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT)
                 AS cl
      FROM embeddings ORDER BY vec_id LIMIT {k}),
    c0 AS MATERIALIZED (
      SELECT i.cl, f.pos, f.x AS cv
      FROM init i JOIN flat f ON f.vec_id = i.vec_id)"""
    its = []
    for t in range(1, iters + 1):
        its.append(f""",
    sc{t} AS MATERIALIZED (
      SELECT f.vec_id, c.cl, SUM(f.x * c.cv ORDER BY f.pos) AS sc
      FROM flat f JOIN c{t-1} c ON c.pos = f.pos
      GROUP BY f.vec_id, c.cl),
    a{t} AS MATERIALIZED (
      SELECT vec_id, cl FROM (
        SELECT vec_id, cl,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY sc DESC, cl) AS rn
        FROM sc{t}) WHERE rn = 1),
    m{t} AS MATERIALIZED (
      SELECT a.cl, f.pos, ROUND(AVG(f.x) * 1e12) / 1e12 AS mv
      FROM a{t} a JOIN flat f ON f.vec_id = a.vec_id
      GROUP BY a.cl, f.pos),
    c{t} AS MATERIALIZED (
      SELECT p.cl, p.pos, COALESCE(m.mv, p.cv) AS cv
      FROM c{t-1} p LEFT JOIN m{t} m ON m.cl = p.cl AND m.pos = p.pos)""")
    tail = f"""
    SELECT vec_id, CAST(cl AS INT) AS cluster,
           ROUND(sc * 1e6) / 1e6 + 0 AS sim_to_centroid
    FROM (
      SELECT f.vec_id, c.cl, SUM(f.x * c.cv ORDER BY f.pos) AS sc,
             ROW_NUMBER() OVER (PARTITION BY f.vec_id
                                ORDER BY SUM(f.x * c.cv ORDER BY f.pos)
                                    DESC, c.cl) AS rn
      FROM flat f JOIN c{iters} c ON c.pos = f.pos
      GROUP BY f.vec_id, c.cl)
    WHERE rn = 1
    """
    return head + "".join(its) + tail


KMEANS_ITERS = 5


@query("l_kmeans_assign", oracle=_kmeans_oracle(KMEANS_ITERS))
def l_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (k=10, 5 iterations) over the embedding column —
    the iterative-algorithm pattern (MLlib-style): centroids live on the
    driver (k x dim doubles, O(1) w.r.t. data), each iteration is ONE
    distributed pass — broadcast centroids as literals into a codegen
    expression, assign by max dot product (vectors are unit-L2, so
    argmax dot == argmin euclidean), recompute means via posexplode +
    (cluster, dim)-keyed partial agg. Init: the k lowest-vec_id vectors
    (deterministic, no RNG).

    Graduated from rows-only to a full SQL oracle in round 9 (fourth
    graduate, r8 verdict item 8): centroid means round to 12 dp
    half-away on both sides before re-broadcast (the l_embedding_pca
    iterated-value pin), per-vector scores are sequential folds ==
    DuckDB ordered SUMs (rule 4) so the argmax compares bit-identical
    doubles with a (score DESC, cluster) total order, and empty
    clusters keep the previous centroid via the same COALESCE branch
    in both engines — the whole fixpoint replays bit-for-bit.

    Scale: per iteration the only driver traffic is k*dim averaged
    coordinates (640 doubles) — the data never leaves executors; the
    assignment is a map-only pass and the centroid update shuffles
    k*dim partial rows per partition.
    """
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    k, iters = 10, KMEANS_ITERS
    cents = [
        [float(v) for v in r.embedding]
        for r in emb.orderBy("vec_id").limit(k).collect()
    ]

    def scores_expr() -> F.Column:
        cent_lit = F.array(
            *[F.array(*[F.lit(v) for v in c]) for c in cents]
        )
        return F.transform(
            cent_lit,
            lambda c: F.aggregate(
                F.zip_with(
                    F.col("embedding"), c, lambda x, y: x.cast("double") * y
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )

    for _ in range(iters):
        assigned = emb.withColumn("scores", scores_expr()).select(
            "vec_id",
            "embedding",
            (F.array_position(F.col("scores"), F.array_max("scores")) - 1)
            .cast("int")
            .alias("cluster"),
        )
        means = (
            assigned.select(
                "cluster",
                F.posexplode("embedding").alias("dim", "val"),
            )
            .select("cluster", "dim", F.col("val").cast("double").alias("val"))
            .groupBy("cluster", "dim")
            # 12-dp half-away round BEFORE the driver round-trip — the
            # l_embedding_pca iterated-value pin that makes the oracle's
            # ROUND(AVG(x)*1e12)/1e12 replay this exactly
            .agg(dround(F.avg("val"), 12).alias("m"))
            .collect()  # bounded: k*dim = 640 rows, independent of data size
        )
        by_cluster: dict[int, dict[int, float]] = {}
        for r in means:
            by_cluster.setdefault(r.cluster, {})[r.dim] = r.m
        cents = [
            [by_cluster[c][d] for d in range(len(cents[0]))]
            if c in by_cluster
            else cents[c]  # empty cluster keeps its centroid
            for c in range(k)
        ]

    return (
        emb.withColumn("scores", scores_expr())
        .select(
            "vec_id",
            (F.array_position(F.col("scores"), F.array_max("scores")) - 1)
            .cast("int")
            .alias("cluster"),
            dround(F.array_max("scores"), 6).alias("sim_to_centroid"),
        )
        .orderBy("vec_id")
    )


@query(
    "l_text_lm_score",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(w)),
                                     i -> w[i] || ' ' || w[i + 1])) AS bigram
        FROM toks
    ), uni AS (
        SELECT t AS w1, COUNT(*) AS u_cnt FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
        ) GROUP BY t
    ), bic AS (
        SELECT bigram, COUNT(*) AS b_cnt FROM bg GROUP BY bigram
    )
    SELECT bg.doc_id,
           COUNT(*) AS n_bigrams,
           ROUND(AVG(ln(bic.b_cnt * 1.0 / uni.u_cnt)) * 1e4, 0) / 1e4 + 0
               AS avg_logprob
    FROM bg
    JOIN bic ON bg.bigram = bic.bigram
    JOIN uni ON string_split(bg.bigram, ' ')[1] = uni.w1
    GROUP BY bg.doc_id
    ORDER BY avg_logprob DESC, doc_id
    LIMIT 50
    """,
)
def l_text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram language-model scoring: P(w2|w1) estimated from
    corpus bigram/unigram counts, each document scored by its mean
    bigram log-probability — the cheap statistical stand-in for
    perplexity-based quality filtering (CCNet-style): low scores flag
    out-of-distribution / garbled text.

    Scale: two count aggregations over the exploded corpus (partial
    agg, |vocab| and |vocab|^2-bounded outputs), both broadcast back
    into the per-doc join (count tables are vocabulary-sized, tiny
    relative to the corpus); per-doc mean is one (doc_id)-keyed agg.
    Top-50 plans TakeOrdered.
    """
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    bg = docs.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i + 1]))")
        ).alias("bigram"),
    )
    uni = (
        docs.select(F.explode("w").alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("u_cnt"))
    )
    bic = bg.groupBy("bigram").agg(F.count("*").alias("b_cnt"))
    return (
        # plain joins (r11): bigram/unigram count tables are corpus-
        # vocabulary-sized (unbounded at 100 TB) — AQE broadcasts them
        # at runtime only when actually small
        bg.join(bic, "bigram")
        .join(
            uni,
            F.split(F.col("bigram"), " ").getItem(0) == F.col("w1"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            dround(F.avg(F.log(F.col("b_cnt") / F.col("u_cnt"))), 4).alias(
                "avg_logprob"
            ),
        )
        .orderBy(F.desc("avg_logprob"), "doc_id")
        .limit(50)
    )


@query(
    "l_dedup_fuzzy",
    oracle="""
    WITH d AS (
        SELECT doc_id, text,
               string_split(text, ' ')[1] AS bk,
               n_chars // 20              AS lb
        FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(left(a.text, 80), left(b.text, 80)) AS lev
    FROM d a JOIN d b ON a.bk = b.bk AND a.lb = b.lb AND a.doc_id < b.doc_id
    WHERE levenshtein(left(a.text, 80), left(b.text, 80)) <= 45
    """,
)
def l_dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance) near-dup candidate pairs: block documents
    on (first token, length bucket), compare 80-char prefixes within a
    block by levenshtein, keep pairs within distance 45 (measured on
    the fixture: true prefix-dups sit at 0, the random-token mass
    starts at ~41 — the threshold keeps the dup cluster plus the
    closest tail, exercising both accept and reject paths).

    This is the third near-dup family next to MinHash (set overlap) and
    SimHash (bit overlap): edit distance catches small in-place edits
    that token-set methods score as identical or miss entirely.

    Scale: levenshtein is O(len²) per pair, so the blocking key does
    ALL the work — the join shuffles on (bk, lb) and only intra-block
    pairs are scored (Σ block²; blocks are balanced by the length
    bucket). 100 TB variant: wider blocking (simhash band as bk) plus
    prefix truncation exactly as here; never an unblocked pair join."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.element_at(F.split("text", " "), 1).alias("bk"),
        F.expr("n_chars DIV 20").alias("lb"),
    )
    a = d.alias("a")
    b = d.alias("b")
    lev = F.levenshtein(
        F.left(F.col("a.text"), F.lit(80)), F.left(F.col("b.text"), F.lit(80))
    )
    return (
        a.join(
            b,
            (F.col("a.bk") == F.col("b.bk"))
            & (F.col("a.lb") == F.col("b.lb"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            lev.alias("lev"),
        )
        .filter(F.col("lev") <= 45)
    )


@query(
    "l_vector_quantize",
    oracle="""
    SELECT vec_id,
           ROUND((SELECT SUM(pow(e.embedding[s.i]::DOUBLE
                                 - floor(e.embedding[s.i]::DOUBLE * 127 + 0.5)
                                   / 127.0, 2))
                  FROM (SELECT unnest(generate_series(1, 64)) AS i) s)
                 / 64 * 1e9, 0) / 1e9 AS mse,
           (SELECT CAST(SUM(CASE WHEN floor(e.embedding[s.i]::DOUBLE * 127 + 0.5)
                                      = 0 THEN 1 ELSE 0 END) AS BIGINT)
            FROM (SELECT unnest(generate_series(1, 64)) AS i) s) AS n_zero
    FROM embeddings e
    """,
)
def l_vector_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of the embedding column — the storage
    layout ANN systems actually serve from (4× smaller than float32,
    SIMD-dot-able): q_i = floor(x_i·127 + 0.5), reported as per-vector
    reconstruction MSE plus the zero-bucket count. floor(x+0.5) is the
    half-up rounding BOTH engines compute identically on doubles
    (probed bit-equal on the fixture), unlike round(), whose half-even
    vs half-up behavior differs.

    Scale: map-only — a higher-order transform+fold per row inside
    codegen, no shuffle, no UDF; quantizing 100 TB of vectors is a
    single narrow pass. The sequential fold matches DuckDB's ordered
    SUM over generate_series term-for-term (same pin as vdot)."""
    e = table(spark, sf_dir, "embeddings")
    xd = lambda x: x.cast("double")  # noqa: E731
    qerr = F.transform(
        "embedding",
        lambda x: F.pow(xd(x) - F.floor(xd(x) * 127 + F.lit(0.5)) / 127.0, 2),
    )
    nz = F.filter(
        "embedding", lambda x: F.floor(xd(x) * 127 + F.lit(0.5)) == 0
    )
    return e.select(
        "vec_id",
        dround(
            F.aggregate(qerr, F.lit(0.0), lambda a, b: a + b) / 64, 9
        ).alias("mse"),
        F.size(nz).cast("bigint").alias("n_zero"),
    )


@query(
    "l_winsorize",
    oracle="""
    WITH pct AS (
        SELECT lang,
               quantile_cont(n_chars, 0.05) AS p05,
               quantile_cont(n_chars, 0.95) AS p95
        FROM documents GROUP BY lang
    )
    SELECT d.lang,
           COUNT(*) AS n,
           ROUND(AVG(n_chars) * 1e4, 0) / 1e4 AS raw_avg,
           ROUND(AVG(greatest(p05, least(p95, n_chars))) * 1e4, 0) / 1e4
               AS win_avg,
           CAST(SUM(CASE WHEN n_chars < p05 OR n_chars > p95
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
    FROM documents d JOIN pct USING (lang)
    GROUP BY d.lang
    """,
)
def l_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized per-language length statistics: clip n_chars to its
    language's [p05, p95] band, report raw vs clipped mean and the
    clip count — the outlier-robust normalization step before length
    features feed a quality model (Spark exact ``percentile`` ≡ DuckDB
    ``quantile_cont``, both linear-interpolating).

    Scale: pass 1 aggregates the quantiles per language (exact
    percentile holds the group's values; at 100 TB swap in
    approx_percentile — same algebra, fixed-memory GK sketch), the
    tiny result broadcasts back, pass 2 is one partial+final agg. The
    fact table shuffles once."""
    d = table(spark, sf_dir, "documents")
    pct = d.groupBy("lang").agg(
        F.percentile("n_chars", F.lit(0.05)).alias("p05"),
        F.percentile("n_chars", F.lit(0.95)).alias("p95"),
    )
    clipped = F.greatest("p05", F.least("p95", F.col("n_chars")))
    return (
        d.join(F.broadcast(pct), "lang")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            dround(F.avg("n_chars"), 4).alias("raw_avg"),
            dround(F.avg(clipped), 4).alias("win_avg"),
            F.sum(
                ((F.col("n_chars") < F.col("p05")) | (F.col("n_chars") > F.col("p95")))
                .cast("int")
            )
            .cast("bigint")
            .alias("n_clipped"),
        )
    )


@query(
    "l_pack_sequences",
    oracle="""
    WITH d AS (
        SELECT doc_id, source,
               len(string_split(text, ' ')) AS n_tok
        FROM documents
    ),
    c AS (
        SELECT doc_id, source, n_tok,
               SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS cum
        FROM d
    )
    SELECT source, CAST((cum - n_tok) // 512 AS BIGINT) AS bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS bin_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM c
    GROUP BY source, bin_id
    """,
)
def l_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing for training batches: within each
    source (shard key), walk documents in stable doc_id order,
    accumulate token counts, and cut a new 512-token bin whenever the
    running total crosses the capacity — bin_id = floor(tokens-before-
    this-doc / 512). Emits per-bin document count, token payload, and
    the doc-id span. This is the packing step that turns a deduped
    corpus into fixed-length pretraining sequences with minimal
    padding.

    Determinism: the walk order is (source, doc_id) — stable ids, no
    RNG — so bins are reproducible across engines and re-runs, like
    every sampling decision in this pipeline. Token counts are integer
    arithmetic end-to-end (no float pins needed).

    Scale: one shuffle on the shard key; the running sum is a single
    ordered partition scan with O(1) carried state (identical shape to
    m_ts_ffill), and the bin aggregation reuses the same exchange. At
    100 TB the shard key IS the unit of parallelism — exactly how
    distributed tokenizers shard packing."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tok")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.withColumn("cum", F.sum("n_tok").over(w))
    return (
        c.withColumn(
            "bin_id", F.floor((F.col("cum") - F.col("n_tok")) / 512).cast("bigint")
        )
        .groupBy("source", "bin_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("bin_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@query(
    "l_decontaminate",
    oracle="""
    WITH w AS (
        SELECT doc_id, source, string_split(text, ' ') AS ws
        FROM documents
        WHERE len(string_split(text, ' ')) >= 3
    ), g AS (
        SELECT doc_id, source, array_to_string(ws[i : i + 2], ' ') AS gram
        FROM (SELECT doc_id, source, ws,
                     unnest(range(1, len(ws) - 1)) AS i
              FROM w)
    ), bench AS (
        SELECT DISTINCT gram FROM g WHERE source = 'src0'
    )
    SELECT g.doc_id, COUNT(DISTINCT g.gram) AS n_shared
    FROM g JOIN bench USING (gram)
    WHERE g.source <> 'src0'
    GROUP BY g.doc_id
    ORDER BY g.doc_id
    """,
)
def l_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents that share
    word n-grams with a held-out benchmark set (here: the 'src0' source
    stands in for the benchmark; n=3 because this corpus draws from a
    ~30-word vocabulary — production decontamination uses the same
    pipeline with n=8..13 over a real vocabulary). Output: every
    contaminated doc with its count of distinct shared n-grams. This is
    the standard pre-training hygiene pass (GPT-3 appendix C / PaLM
    style) expressed as a pure inverted-index join.

    Scale: benchmark suites are MBs while the corpus is TBs, so the
    distinct benchmark-gram set broadcasts (plan: BroadcastHashJoin on
    gram — no shuffle of the corpus gram stream); the per-doc distinct
    count then shuffles on doc_id once, partially aggregated map-side.
    At real n (8-13) grams get md5-hashed to 16 bytes before the join
    to cut shuffle width — same plan shape. Gram explosion is a narrow
    map (split once, slice per offset), fan-out bounded by doc length.
    """
    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "source", F.split("text", " ").alias("ws"))
        .filter(F.size("ws") >= 3)
    )
    g = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.expr("transform(sequence(1, size(ws) - 2), i -> array_join(slice(ws, i, 3), ' '))")
        ).alias("gram"),
    )
    bench = g.filter(F.col("source") == "src0").select("gram").distinct()
    return (
        g.filter(F.col("source") != "src0")
        .join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count_distinct("gram").alias("n_shared"))
        .orderBy("doc_id")
    )


#: Non-overlapping passage size (words) for corpus-level passage dedup.
PASSAGE_WORDS = 30


@query(
    "l_dedup_passage",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ), s AS (
        SELECT doc_id, words,
               unnest(range(0, len(words), {PASSAGE_WORDS})) AS st
        FROM w
    ), c AS (
        SELECT doc_id, st // {PASSAGE_WORDS} AS chunk_id,
               md5(array_to_string(words[st + 1 : st + {PASSAGE_WORDS}], ' ')) AS h
        FROM s
    ), r AS (
        SELECT doc_id,
               row_number() OVER (PARTITION BY h ORDER BY doc_id, chunk_id)
                 AS rn
        FROM c
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_passages,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_passages
    FROM r GROUP BY doc_id ORDER BY doc_id
    """,
)
def l_dedup_passage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level (sub-document) exact dedup: split every document
    into non-overlapping 30-word passages, md5 each, and mark every
    passage that repeats an earlier (doc_id, chunk_id) occurrence
    anywhere in the corpus — the granularity at which boilerplate and
    template text actually repeats, which whole-document dedup misses
    entirely. Output is the per-document duplication profile a curation
    pipeline filters on.

    Scale: the passage stream is a narrow map stage (split + explode +
    slice + md5); first-occurrence ranking shuffles ONCE keyed by the
    content hash — same key distribution as l_dedup_exact, no skew
    beyond true content skew (a boilerplate passage's bucket is its
    actual global frequency, exactly what the operator must count);
    the per-doc profile re-aggregates map-side on doc_id.
    """
    w = table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("words")
    )
    c = w.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.size("words") - 1, F.lit(PASSAGE_WORDS))
        ).alias("st"),
        "words",
    ).select(
        "doc_id",
        (F.col("st") / PASSAGE_WORDS).cast("bigint").alias("chunk_id"),
        F.md5(
            F.array_join(F.slice("words", F.col("st") + 1, PASSAGE_WORDS), " ")
        ).alias("h"),
    )
    rn = F.row_number().over(
        Window.partitionBy("h").orderBy("doc_id", "chunk_id")
    )
    return (
        c.withColumn("rn", rn)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_passages"),
            F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).alias(
                "n_dup_passages"
            ),
        )
        .orderBy("doc_id")
    )


#: Overlapping-shingle width (words) for substring-level dedup.
SUBSTR_WINDOW_WORDS = 10


@query(
    "l_dedup_substring",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), s AS (
        SELECT doc_id,
               md5(array_to_string(
                   ws[i + 1 : i + {SUBSTR_WINDOW_WORDS}], ' ')) AS h
        FROM w, unnest(range(0, greatest(len(ws) - {SUBSTR_WINDOW_WORDS} + 1,
                                         0))) t(i)
    ), d AS (
        SELECT h FROM s GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1
    ), per AS (
        SELECT s.doc_id, COUNT(*) AS n_windows,
               CAST(SUM(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dup_windows
        FROM s LEFT JOIN d ON s.h = d.h GROUP BY s.doc_id
    )
    SELECT doc.doc_id,
           COALESCE(per.n_windows, 0) AS n_windows,
           COALESCE(per.n_dup_windows, 0) AS n_dup_windows,
           CASE WHEN COALESCE(per.n_windows, 0) = 0 THEN 0.0
                ELSE ROUND(per.n_dup_windows * 1.0 / per.n_windows
                           * 10000, 0) / 10000 + 0
           END AS dup_frac
    FROM documents doc LEFT JOIN per ON doc.doc_id = per.doc_id
    ORDER BY doc.doc_id
    """,
)
def l_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUBSTRING-level duplication profiling (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): slide a
    {SUBSTR}-word window over every document with stride 1 and flag each
    window whose content recurs in ANY OTHER document — the suffix-array
    "duplicated span" signal, re-expressed as overlapping shingles so it
    distributes. Unlike l_dedup_passage (fixed non-overlapping chunks,
    misses shifted copies by design) the overlapping windows catch a
    repeated span at EVERY alignment, which is what makes this the
    memorization-risk metric: output is each document's duplicated-window
    fraction, the number curation pipelines threshold on (Lee et al. cut
    at 50% span duplication).

    Scale: the shingle stream is a narrow map (split + explode + slice +
    md5 — 16-byte keys, never raw text, exactly the width trick
    l_decontaminate documents); the cross-doc flag is a min/max WINDOW
    over the h partition, so the stream crosses ONE 16-byte-keyed
    exchange (r14 — the earlier checkpoint + flag-agg + flag-join pair
    shuffled it twice; skew = true content skew: a boilerplate
    shingle's bucket is its real global frequency, and an oversized
    group spills via the window sorter). Per-doc profile re-aggregates
    map-side on doc_id. No stage is quadratic; the suffix array the
    paper builds is a single-machine construction — this formulation
    is the one that runs on 1000 executors.
    """
    docs = table(spark, sf_dir, "documents")
    # small-input scatter (the l_bpe_encode lesson): a one-row-group
    # test file gives the scan ONE split, serializing the shingle map
    # on one core — round-robin the tiny raw text only when the scan
    # has fewer partitions than the cluster's parallelism (at corpus
    # scale the guard is false and the plan stays exchange-free)
    src = docs
    par = spark.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < par:
        src = src.repartition(par)
    w = src.select("doc_id", F.split("text", " ").alias("ws"))
    n = SUBSTR_WINDOW_WORDS
    # generator + codegen projection (pin 15a): the interpreted
    # transform-lambda form is neutral at fixture doc lengths but the
    # Generate form keeps the md5 map in whole-stage codegen
    s = (
        w.filter(F.size("ws") >= n)
        .select(
            "doc_id",
            "ws",
            F.explode(F.expr(f"sequence(1, size(ws) - {n - 1})")).alias("i"),
        )
        .select(
            "doc_id",
            F.expr(f"md5(array_join(slice(ws, i, {n}), ' '))").alias("h"),
        )
    )
    # "recurs in >1 distinct doc" == min(doc_id) != max(doc_id) per h,
    # computed as a WINDOW over the h partition (r14, guide §2.4): the
    # previous plan checkpointed the shingle stream and shuffled it by
    # h TWICE (flag agg + flag join); the window flags every row in
    # ONE h-keyed exchange, the checkpoint disappears (single
    # consumer), and the per-doc rollup is unchanged. Paired
    # interleaved at sf0.1: 2.858 -> 1.510 s median, won 5/5; output
    # pandas-equal. Skew exposure is identical (both forms key the
    # full shingle stream on h; a boilerplate shingle's group spills
    # via the window sorter instead of flooding one SMJ reducer).
    flagged = s.select(
        "doc_id",
        (
            F.min("doc_id").over(Window.partitionBy("h"))
            != F.max("doc_id").over(Window.partitionBy("h"))
        )
        .cast("int")
        .alias("is_dup"),
    )
    per = flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_windows"),
        F.sum("is_dup").alias("n_dup_windows"),
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0).cast("bigint")).alias(
                "n_windows"
            ),
            F.coalesce("n_dup_windows", F.lit(0).cast("bigint")).alias(
                "n_dup_windows"
            ),
            F.when(F.coalesce("n_windows", F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                dround(F.col("n_dup_windows") / F.col("n_windows"), 4)
            )
            .alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


l_dedup_substring.__doc__ = l_dedup_substring.__doc__.replace(
    "{SUBSTR}", str(SUBSTR_WINDOW_WORDS)
)


#: Content-defined chunking: hash-window width (chars). A boundary cuts
#: after any 8-char window whose md5 hex starts with '0' (p = 1/16, so
#: expected chunk length ~16 chars on random text).
CDC_WINDOW_CHARS = 8


@query(
    "l_chunk_cdc",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, text, length(text) AS n FROM documents
    ), c AS (
        SELECT doc_id, i + {CDC_WINDOW_CHARS - 1} AS cut
        FROM d, unnest(range(1, greatest(n - {CDC_WINDOW_CHARS - 1}, 0) + 1))
             t(i)
        WHERE substr(md5(substr(text, CAST(i AS INT),
                                {CDC_WINDOW_CHARS})), 1, 1) = '0'
    ), segs AS (
        SELECT doc_id,
               cut - COALESCE(lag(cut) OVER (PARTITION BY doc_id
                                             ORDER BY cut), 0) AS seg_len
        FROM c
        UNION ALL
        SELECT c.doc_id, d.n - MAX(c.cut) AS seg_len
        FROM c JOIN d USING (doc_id)
        GROUP BY c.doc_id, d.n HAVING d.n > MAX(c.cut)
        UNION ALL
        SELECT doc_id, n AS seg_len FROM d
        WHERE doc_id NOT IN (SELECT doc_id FROM c)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(MAX(seg_len) AS BIGINT) AS max_chunk,
           ROUND(AVG(seg_len) * 100, 0) / 100 + 0 AS avg_chunk
    FROM segs GROUP BY doc_id ORDER BY doc_id
    """,
)
def l_chunk_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the FastCDC/rsync family): a chunk
    boundary falls after every 8-char window whose md5 starts with hex
    '0' (a 1-in-16 content-keyed coin), so boundaries move WITH the
    content — insert a byte mid-document and only the chunk containing
    the edit changes, which is why dedup storage and incremental-crawl
    pipelines chunk this way instead of at fixed offsets
    (l_text_chunk's fixed stride re-shifts every downstream chunk on a
    one-byte edit). Output is each document's chunk-count / max / mean
    profile. Production CDC uses a gear rolling hash with min/max chunk
    clamps; the md5-window coin keeps the boundary rule engine-portable
    (identical in the DuckDB oracle) while pinning the semantics — the
    clamp is a post-filter on the same cut stream.

    Scale: boundary detection is a pure map (per-char window hash via
    transform over sequence — codegen, no UDF, no shuffle); segment
    lengths need each doc's cuts ADJACENT, one shuffle keyed on doc_id
    (bounded per-doc fan-in = doc length), then the profile aggregates
    map-side. Docs shorter than the hash window emit their whole text
    as one chunk via the no-cut branch, never a descending sequence()
    (CLAUDE.md rule 11d).
    """
    docs = table(spark, sf_dir, "documents")
    wc = CDC_WINDOW_CHARS
    d = docs.select("doc_id", "text", F.length("text").alias("n"))
    # small-input scatter (the l_bpe_encode lesson): the per-position
    # md5 map is the whole cost — never let a one-split test file
    # serialize it on one core; at corpus scale the guard is false
    par = spark.sparkContext.defaultParallelism
    if d.rdd.getNumPartitions() < par:
        d = d.repartition(par)
    # cuts feed three consumers (segments, final-segment, no-cut
    # anti-join) — localCheckpoint so the per-position md5 map runs
    # once per invocation (CLAUDE.md rule 11a)
    cuts = (
        d.filter(F.col("n") >= wc)
        .select(
            "doc_id",
            "n",
            F.explode(
                F.expr(
                    f"filter(transform(sequence(1, length(text) - {wc - 1}),"
                    f" i -> IF(substr(md5(substr(text, i, {wc})), 1, 1) = '0',"
                    f" i + {wc - 1}, -1)), x -> x > 0)"
                )
            ).alias("cut"),
        )
        .localCheckpoint()
    )
    wlag = Window.partitionBy("doc_id").orderBy("cut")
    segs = cuts.select(
        "doc_id",
        (F.col("cut") - F.lag("cut", 1, 0).over(wlag)).alias("seg_len"),
    )
    last = (
        cuts.groupBy("doc_id", "n")
        .agg(F.max("cut").alias("mx"))
        .filter(F.col("n") > F.col("mx"))
        .select("doc_id", (F.col("n") - F.col("mx")).alias("seg_len"))
    )
    nocut = d.join(
        cuts.select("doc_id").distinct(), "doc_id", "left_anti"
    ).select("doc_id", F.col("n").alias("seg_len"))
    allseg = segs.unionByName(last).unionByName(nocut)
    return (
        allseg.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.max("seg_len").cast("bigint").alias("max_chunk"),
            dround(F.avg("seg_len"), 2).alias("avg_chunk"),
        )
        .orderBy("doc_id")
    )


@query(
    "l_dataset_card",
    oracle="""
    WITH tok AS (
        SELECT doc_id, source, lang,
               unnest(string_split(text, ' ')) AS t
        FROM documents
    ), vocab AS (
        SELECT source, lang, COUNT(DISTINCT t) AS n_vocab,
               COUNT(*) AS n_tokens
        FROM tok GROUP BY source, lang
    ), base AS (
        SELECT source, lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               ROUND(AVG(n_chars) * 100, 0) / 100 + 0 AS avg_chars,
               ROUND(quantile_cont(n_chars, 0.5) * 100, 0) / 100 + 0
                 AS p50_chars
        FROM documents GROUP BY source, lang
    )
    SELECT b.source, b.lang, b.n_docs, b.total_chars, b.avg_chars,
           b.p50_chars, v.n_tokens, v.n_vocab
    FROM base b JOIN vocab v USING (source, lang)
    ORDER BY b.source, b.lang
    """,
)
def l_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card statistics: the per-(source, lang) corpus summary
    every training-data release publishes — document and character
    volumes, median length, token count and vocabulary size. One
    scalar-aggregate pass plus one token pass, joined on the slice key.

    Scale: the scalar aggregates partial-combine map-side; the token
    pass is the only explode and feeds a (source, lang, token)-keyed
    distinct — both shuffles carry group-sized rows. The slice key
    space (|sources| x |langs|) is tiny, so the final join broadcasts.
    At 100 TB, swap the exact vocabulary count for approx_count_distinct
    (same plan, fixed-size HLL state) — the exact form here is what the
    oracle can verify.
    """
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "source", "lang", F.explode(F.split("text", " ")).alias("t")
    )
    vocab = tok.groupBy("source", "lang").agg(
        F.countDistinct("t").alias("n_vocab"),
        F.count("*").alias("n_tokens"),
    )
    base = d.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        dround(F.avg("n_chars"), 2).alias("avg_chars"),
        dround(F.percentile("n_chars", F.lit(0.5)), 2).alias("p50_chars"),
    )
    return (
        base.join(F.broadcast(vocab), ["source", "lang"])
        .select(
            "source", "lang", "n_docs", "total_chars", "avg_chars",
            "p50_chars", "n_tokens", "n_vocab",
        )
        .orderBy("source", "lang")
    )


@query(
    "l_dedup_incremental",
    oracle="""
    WITH old AS (
        SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id < 250
    ), newb AS (
        SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id >= 250
    ), r AS (
        SELECT doc_id, h,
               row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
        FROM newb
    )
    SELECT r.doc_id,
           CASE WHEN old.h IS NOT NULL THEN 'dup_of_corpus'
                WHEN rn > 1 THEN 'dup_in_batch'
                ELSE 'kept' END AS status
    FROM r LEFT JOIN old ON r.h = old.h
    ORDER BY r.doc_id
    """,
)
def l_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (snapshot-vs-batch) dedup — the shape every
    continuously-crawled corpus actually runs: a NEW batch (doc_id >=
    250 stands in for the fresh crawl) checks against the ACCUMULATED
    corpus hash index (doc_id < 250), never against the corpus text;
    batch-internal duplicates resolve to their first occurrence. Each
    new doc is classified kept / dup_of_corpus / dup_in_batch — the
    decision log an idempotent ingest pipeline persists.

    Scale: the corpus side is a 16-byte-hash index join (keyed or
    bloom-pre-filtered; never a text rescan), so incremental cost is
    |batch| + |index probe|, independent of accumulated corpus text
    size; the in-batch ranking is one shuffle on the content hash.
    """
    d = table(spark, sf_dir, "documents")
    old = (
        d.filter(F.col("doc_id") < 250)
        .select(F.md5("text").alias("h"))
        .distinct()
        .withColumn("in_corpus", F.lit(True))
    )
    newb = d.filter(F.col("doc_id") >= 250).select(
        "doc_id", F.md5("text").alias("h")
    )
    rn = F.row_number().over(Window.partitionBy("h").orderBy("doc_id"))
    return (
        newb.withColumn("rn", rn)
        .join(old, "h", "left")
        .select(
            "doc_id",
            F.when(F.col("in_corpus"), "dup_of_corpus")
            .when(F.col("rn") > 1, "dup_in_batch")
            .otherwise("kept")
            .alias("status"),
        )
        .orderBy("doc_id")
    )


#: BM25 ranking parameters (the Robertson/Sparck-Jones defaults).
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("data", "join", "vector")


@query(
    "l_bm25_search",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
        FROM documents
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
    corpus AS (
        SELECT COUNT(*) AS n,
               CAST((SELECT SUM(dl) FROM dl) AS DOUBLE) / COUNT(*) AS avgdl
        FROM documents
    ),
    tf AS (
        SELECT doc_id, t, COUNT(*) AS tf FROM tok
        WHERE t IN {BM25_TERMS!r} GROUP BY doc_id, t
    ),
    df AS (
        SELECT t, COUNT(DISTINCT doc_id) AS df FROM tok
        WHERE t IN {BM25_TERMS!r} GROUP BY t
    ),
    s AS (
        SELECT tf.doc_id,
               tf.t,
               ln((corpus.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * (tf.tf * ({BM25_K1} + 1.0))
               / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                                       + {BM25_B} * dl.dl / corpus.avgdl))
                   AS sc
        FROM tf
        JOIN df ON tf.t = df.t
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN corpus
    ),
    agg AS (
        SELECT doc_id,
               COALESCE(MAX(CASE WHEN t = 'data' THEN sc END), 0.0)
               + COALESCE(MAX(CASE WHEN t = 'join' THEN sc END), 0.0)
               + COALESCE(MAX(CASE WHEN t = 'vector' THEN sc END), 0.0)
                   AS score
        FROM s GROUP BY doc_id
    )
    SELECT doc_id, ROUND(score * 1e4, 0) / 1e4 + 0 AS score
    FROM agg
    ORDER BY score DESC, doc_id
    LIMIT 10
    """,
)
def l_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (k1=1.2, b=0.75): top-10 documents for a
    fixed multi-term query — the sparse half of every RAG / retrieval
    stack, complementing l_hybrid_search's dense+density blend with the
    real probabilistic ranking function.

    Float pins (CLAUDE.md rule 4): every BM25 input (tf, df, dl, N) is
    an exact integer; avgdl is one exact-integer sum divided once in
    DOUBLE; the per-term score states the formula in the identical
    association order in both engines; and the per-doc sum is NOT a
    SUM() over nondeterministically-ordered rows but a FIXED-ORDER
    chain of the (at most 3) per-term scores pivoted to columns —
    bit-identical before dround(4). LIMIT carries the (score, doc_id)
    total-order tiebreak (rule 5).

    Scale: tokenization explodes once; tf shuffles on (doc, term)
    filtered to the query's terms BEFORE the shuffle (postings for 3
    terms, not the whole corpus); df and corpus stats are tiny
    broadcast sides; final top-10 is TakeOrdered. At 100 TB this is the
    standard inverted-postings BM25 plan: cost follows the query terms'
    posting lists, never the corpus."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("t"))
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    n = d.count()
    avgdl_row = dl.agg(
        (F.sum("dl").cast("double") / F.lit(float(n))).alias("avgdl")
    )
    qtok = tok.filter(F.col("t").isin(*BM25_TERMS))
    tf = qtok.groupBy("doc_id", "t").agg(F.count("*").alias("tf"))
    df_ = qtok.groupBy("t").agg(F.count_distinct("doc_id").alias("df"))
    s = (
        tf.join(F.broadcast(df_), "t")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(avgdl_row))
        .select(
            "doc_id",
            "t",
            (
                F.log((F.lit(float(n)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
                * (F.col("tf") * (BM25_K1 + 1.0))
                / (
                    F.col("tf")
                    + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("sc"),
        )
    )
    per_term = [
        F.coalesce(F.max(F.when(F.col("t") == t, F.col("sc"))), F.lit(0.0))
        for t in BM25_TERMS
    ]
    score = per_term[0] + per_term[1] + per_term[2]
    return (
        s.groupBy("doc_id")
        .agg(dround(score, 4).alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(10)
    )


#: Training-shard count for the deterministic global shuffle.
N_SHARDS = 8


@query(
    "l_shuffle_shard",
    oracle=f"""
    WITH k AS (
        SELECT doc_id,
               md5(CAST(doc_id AS VARCHAR) || ':shuffle-42') AS skey
        FROM documents
    )
    SELECT doc_id,
           CAST(('0x' || substring(skey, 1, 8)) AS BIGINT) % {N_SHARDS}
               AS shard,
           row_number() OVER (
               PARTITION BY CAST(('0x' || substring(skey, 1, 8)) AS BIGINT)
                            % {N_SHARDS}
               ORDER BY skey, doc_id) AS pos
    FROM k
    """,
)
def l_shuffle_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + shard assignment — the step
    between curation and training that de-correlates document order
    (adjacent crawl/source records must not land in the same training
    batch) and fixes each example's (shard, position) for reproducible,
    resumable data loading. "Random" order is the md5 of the doc key
    with a salt — reproducible across runs, engines, and ANY input
    partitioning, which no RNG shuffle promises (same policy as
    l_split_hash / i_sample_hash).

    Scale: one shuffle keyed on the 8-way shard id, then a per-shard
    sort for position — each shard sorts independently in parallel
    (position is NOT a global row_number: no single-partition sort
    anywhere). At 100 TB you raise N_SHARDS to O(total/shard-size) and
    the plan is unchanged; writing shards then maps 1:1 onto
    partitionBy('shard') with files pre-sorted by pos."""
    d = table(spark, sf_dir, "documents")
    skey = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":shuffle-42")))
    shard = (
        F.conv(F.substring(F.col("skey"), 1, 8), 16, 10).cast("bigint") % N_SHARDS
    )
    k = d.select("doc_id", skey.alias("skey")).withColumn("shard", shard)
    w = Window.partitionBy("shard").orderBy("skey", "doc_id")
    return k.select(
        "doc_id", "shard", F.row_number().over(w).alias("pos")
    )


@query(
    "l_dedup_url",
    oracle="""
    WITH u AS (
        SELECT o_orderkey,
               'https://cdn' || CAST(o_orderkey % 3 AS VARCHAR)
                   || '.Example.COM/doc/' || CAST(o_custkey AS VARCHAR)
                   || '?utm_source=s' || CAST(o_orderkey % 7 AS VARCHAR)
                   || '&session=' || CAST(o_orderkey AS VARCHAR)
               AS url
        FROM orders
    ),
    c AS (
        SELECT o_orderkey,
               regexp_replace(
                   lower(regexp_extract(url, 'https?://([^/?#]+)', 1)),
                   '^cdn[0-9]+\\.', 'www.')
               || regexp_extract(url, '://[^/?#]+([^?#]*)', 1)
               AS canon
        FROM u
    )
    SELECT canon, MIN(o_orderkey) AS keep_id, COUNT(*) AS n_copies
    FROM c GROUP BY canon
    """,
)
def l_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the crawl-pipeline first pass that
    collapses the SAME page fetched under different tracking params,
    mirror hosts, and case-variant hostnames: lowercase the host, fold
    numbered CDN mirrors (cdn{N}. -> www.), DROP the query string
    (utm_/session noise), keep path; then exact-dedup on the canonical
    form keeping the smallest id. URLs are synthesized
    deterministically from orders so both engines canonicalize
    identical inputs: 3 mirror hosts x 7 utm variants x per-row session
    ids all collapse to one canonical URL per customer (~1500 groups
    from 150k rows at sf0.1 — a real many-to-one collapse, not a no-op).

    Scale: canonicalization is codegen regexp in the scan; the dedup is
    the same partial+final hash-agg shuffle as l_dedup_exact, keyed on
    the canonical string — one shuffle whose cardinality is the number
    of DISTINCT canonical URLs."""
    o = table(spark, sf_dir, "orders")
    url = F.concat(
        F.lit("https://cdn"),
        (F.col("o_orderkey") % 3).cast("string"),
        F.lit(".Example.COM/doc/"),
        F.col("o_custkey").cast("string"),
        F.lit("?utm_source=s"),
        (F.col("o_orderkey") % 7).cast("string"),
        F.lit("&session="),
        F.col("o_orderkey").cast("string"),
    )
    host = F.regexp_replace(
        F.lower(F.regexp_extract(url, r"https?://([^/?#]+)", 1)),
        r"^cdn[0-9]+\.",
        "www.",
    )
    path = F.regexp_extract(url, r"://[^/?#]+([^?#]*)", 1)
    canon = F.concat(host, path)
    return (
        o.select("o_orderkey", canon.alias("canon"))
        .groupBy("canon")
        .agg(F.min("o_orderkey").alias("keep_id"), F.count("*").alias("n_copies"))
    )


@query(
    "l_corpus_divergence",
    oracle="""
    WITH tok AS (
        SELECT lang, unnest(string_split(lower(text), ' ')) AS t
        FROM documents
    ),
    vocab AS (SELECT t, COUNT(*) AS call FROM tok GROUP BY t),
    nall AS (SELECT COUNT(*) AS n, (SELECT COUNT(*) FROM vocab) AS v FROM tok),
    langs AS (SELECT lang, COUNT(*) AS nl FROM tok GROUP BY lang),
    cl AS (SELECT lang, t, COUNT(*) AS c FROM tok GROUP BY lang, t),
    grid AS (
        SELECT l.lang, l.nl, v.t, v.call, COALESCE(cl.c, 0) AS c
        FROM langs l CROSS JOIN vocab v
        LEFT JOIN cl ON cl.lang = l.lang AND cl.t = v.t
    )
    SELECT g.lang,
           ROUND(SUM(
               ((g.c + 1.0) / (g.nl + nall.v))
               * ln(((g.c + 1.0) / (g.nl + nall.v))
                    / ((g.call + 1.0) / (nall.n + nall.v)))
           ) * 1e6, 0) / 1e6 + 0 AS kl
    FROM grid g CROSS JOIN nall
    GROUP BY g.lang
    """,
)
def l_corpus_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between corpus slices: KL(P_lang || P_corpus)
    over add-1-smoothed token unigram distributions — the curation
    check that flags when one slice's language model diverges from the
    mixture (domain imbalance, contamination, a bad crawl batch) before
    it reaches training. Smoothing over the full corpus vocabulary so
    zero-count tokens contribute mass in both distributions.

    Formula pins: p = (c_lang+1)/(n_lang+V), q = (c_all+1)/(n_all+V),
    natural log, identical association (p * ln(p/q) summed per lang),
    dround(6) + the negative-zero guard (KL terms straddle zero for
    over/under-represented tokens).

    Scale: token counting is partial+final hash aggs; the scoring grid
    is |slices| x |vocab| — vocabulary-bounded like l_topic_cooccur
    (cap vocab to the top-K tokens by df at open-vocab scale), never
    row-bounded; one broadcast of the corpus totals."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("lang", F.explode(F.split(F.lower("text"), " ")).alias("t"))
    # r14 single-pass counting (guide §2.4): the token explode used to
    # run FOUR times — twice eagerly (vocab.count() and tok.count()
    # driver actions) and twice in the main plan (langs, cl). One
    # (lang, t) hash agg compresses the stream to a vocab-bounded
    # checkpoint; vocab/langs/the two scalars all derive from it (the
    # two separate count() jobs become one 1-row collect). Paired at
    # sf0.1: 0.727 -> 0.668 s median; output pandas-equal.
    cl = (
        tok.groupBy("lang", "t")
        .agg(F.count("*").alias("c"))
        .localCheckpoint()  # rule 11a: four consumers
    )
    vocab = cl.groupBy("t").agg(F.sum("c").alias("call"))
    langs = cl.groupBy("lang").agg(F.sum("c").alias("nl"))
    totals = cl.agg(
        F.sum("c").alias("n"), F.countDistinct("t").alias("v")
    ).collect()[0]
    n_all, v_n = totals["n"], totals["v"]
    # r15 (rule 14a, r14 verdict item 4): broadcast the LANGS side —
    # |slices| is domain-bounded; vocab is Heaps-law unbounded, so the
    # old F.broadcast(vocab) was exactly the forced-unbounded-broadcast
    # class rule 14a prohibits. The grid is identical; vocab streams.
    # Paired at sf0.1: 0.686 -> 0.841 s median (the degenerate 31-token
    # fixture vocab makes the old broadcast harmless AND slightly
    # faster there; plans otherwise identical — AQE still broadcasts
    # the tiny cl at runtime). Adopted on the l_simjoin_containment
    # r11 precedent: fixture micro-cost vs executor OOM at any real
    # vocabulary.
    grid = (
        vocab.crossJoin(F.broadcast(langs))
        .join(cl, ["lang", "t"], "left")
        .select(
            "lang",
            "nl",
            "call",
            F.coalesce("c", F.lit(0)).alias("c"),
        )
    )
    p = (F.col("c") + 1.0) / (F.col("nl") + F.lit(float(v_n)))
    q = (F.col("call") + 1.0) / (F.lit(float(n_all)) + F.lit(float(v_n)))
    return grid.groupBy("lang").agg(
        dround(F.sum(p * F.log(p / q)), 6).alias("kl")
    )


@query(
    "l_simjoin_containment",
    oracle="""
    WITH tok AS (
        SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS t
        FROM documents
    ),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    inter AS (
        SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
        FROM tok x JOIN tok y ON x.t = y.t AND x.doc_id <> y.doc_id
        GROUP BY x.doc_id, y.doc_id
    )
    SELECT doc_a, doc_b,
           ROUND(i * 1.0 / ca.n * 1e6, 0) / 1e6 AS containment
    FROM inter
    JOIN cnt ca ON doc_a = ca.doc_id
    WHERE i * 1.0 / ca.n >= 0.9
    """,
)
def l_simjoin_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment join: ordered pairs (a, b) where ≥ 90% of
    a's distinct tokens appear in b — the dedup relation Jaccard
    misses: a short document quoted inside a longer one has low Jaccard
    (union is large) but high containment, which is exactly the
    quoted-article / boilerplate-inclusion case crawl dedup must catch.
    C(a→b) = |A∩B| / |A| — directional, so both (a,b) and (b,a) are
    evaluated and only the contained direction survives.

    Scale: the same doc-keyed inverted-index shape as
    l_simjoin_jaccard — postings join on the token key, pair-count
    aggregation, threshold filter; candidate volume follows Σ df² over
    the posting lists. The prefix-filter refinement applies per SIDE
    (for containment the bound is on A's prefix only: keep
    n_a − ⌈0.9·n_a⌉ + 1 of a's tokens), documented rather than applied
    because this fixture's 31-token vocabulary makes every posting a
    stopword (same degeneracy note as l_simjoin_jaccard/bench.py)."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("t")
    ).distinct()
    cnt = tok.groupBy("doc_id").agg(F.count("*").alias("n"))
    x = tok.select(F.col("doc_id").alias("doc_a"), "t")
    y = tok.select(F.col("doc_id").alias("doc_b"), "t")
    inter = (
        x.join(y, "t")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("i"))
    )
    ca = cnt.select(F.col("doc_id").alias("doc_a"), F.col("n"))
    c = F.col("i") / F.col("n")
    return (
        # plain join (r11): ca is CORPUS-sized (one row per doc) — a
        # forced broadcast here is an executor OOM at any real scale;
        # AQE may still broadcast it on tiny fixtures
        inter.join(ca, "doc_a")
        .filter(c >= 0.9)
        .select(
            "doc_a",
            "doc_b",
            dround(c, 6).alias("containment"),
        )
    )


@query(
    "l_graph_pagerank",
    oracle="""
    WITH nn AS (SELECT COUNT(*)::DOUBLE AS n FROM embeddings),
    flat AS (SELECT vec_id, label, s.i, embedding[s.i]::DOUBLE AS v
             FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) s),
    edges AS (
      SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS rn
        FROM (SELECT f1.vec_id AS src, f2.vec_id AS dst,
                     ROUND(SUM(f1.v * f2.v) * 1e9) / 1e9 AS sim
              FROM flat f1
              JOIN flat f2 ON f1.i = f2.i AND f1.label = f2.label
                          AND f1.vec_id <> f2.vec_id
              GROUP BY 1, 2)
      ) WHERE rn <= 3
    ),
    r0 AS (SELECT vec_id, ROUND(1.0 / n * 1e12) / 1e12 AS r
           FROM embeddings CROSS JOIN nn),
    r1 AS (SELECT e.vec_id,
                  ROUND((0.15 / nn.n + 0.85 * COALESCE(m.mass, 0)) * 1e12) / 1e12 AS r
           FROM embeddings e CROSS JOIN nn
           LEFT JOIN (SELECT dst, SUM(r / 3.0) AS mass
                      FROM edges JOIN r0 ON src = vec_id GROUP BY dst) m
             ON e.vec_id = m.dst),
    r2 AS (SELECT e.vec_id,
                  ROUND((0.15 / nn.n + 0.85 * COALESCE(m.mass, 0)) * 1e12) / 1e12 AS r
           FROM embeddings e CROSS JOIN nn
           LEFT JOIN (SELECT dst, SUM(r / 3.0) AS mass
                      FROM edges JOIN r1 ON src = vec_id GROUP BY dst) m
             ON e.vec_id = m.dst),
    r3 AS (SELECT e.vec_id,
                  ROUND((0.15 / nn.n + 0.85 * COALESCE(m.mass, 0)) * 1e12) / 1e12 AS r
           FROM embeddings e CROSS JOIN nn
           LEFT JOIN (SELECT dst, SUM(r / 3.0) AS mass
                      FROM edges JOIN r2 ON src = vec_id GROUP BY dst) m
             ON e.vec_id = m.dst)
    SELECT vec_id, ROUND(r * 1e8) / 1e8 AS rank FROM r3
    """,
)
def l_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the label-blocked 3-NN similarity graph — the
    link-authority signal crawl-corpus pipelines (CommonCrawl-style)
    use to weight document quality before sampling training data,
    computed here over the embedding kNN graph in lieu of hyperlinks.

    Graph construction: candidate pairs come from a LABEL-BLOCKED
    equi-join (la = lb), never an all-pairs cartesian — blocking is the
    same move the partitioned-ANN tier makes (IVF cells, LSH buckets):
    at 100 TB the blocking key is the coarse-quantizer cell and the
    per-cell kNN is an equi-join on cell id, linear in Σ cell². Each
    node keeps its top-3 neighbors (sim DESC, dst tiebreak); sims are
    rounded to 9 dp on BOTH engines before ranking so the comparison
    never depends on sub-rounding float noise (the vdot double-fold
    keeps the unrounded values bit-identical anyway; rounding makes the
    ordering robust rather than fragile).

    Iteration: 3 unrolled Jacobi steps of r = 0.15/N + 0.85·Σ r(in)/3,
    uniform start, every intermediate rank rounded to 12 dp in both
    engines (association-order noise in the in-edge SUM is ~1e-16;
    the 1e-12 grid absorbs it — CLAUDE.md rule 4 applied to an
    ITERATED value, where drift would otherwise compound). Nodes whose
    label block has <4 members emit <3 edges and leak the residual
    mass, identically in both engines (standard dangling treatment).

    Scale: each iteration is one keyed join (edges ⋈ ranks on src,
    both shuffle-partitioned on the key) + one groupBy(dst) partial+
    final agg — the textbook distributed PageRank shape. The unrolled
    lineage grows O(iterations²) in plan size; a production run
    checkpoints `ranks` every few iterations to truncate lineage
    (same note as l_dedup_cluster's HashMin loop), which changes no
    semantics. Edge list and rank vector stay distributed end-to-end;
    the only driver-side scalar is N."""
    e = table(spark, sf_dir, "embeddings")
    a = e.select(
        F.col("vec_id").alias("src"),
        F.col("label").alias("la"),
        F.col("embedding").alias("ea"),
    )
    b = e.select(
        F.col("vec_id").alias("dst"),
        F.col("label").alias("lb"),
        F.col("embedding").alias("eb"),
    )
    pairs = a.join(
        b, (F.col("la") == F.col("lb")) & (F.col("src") != F.col("dst"))
    ).withColumn("sim", dround(vdot(F.col("ea"), F.col("eb")), 9))
    wn = Window.partitionBy("src").orderBy(F.col("sim").desc(), "dst")
    edges = (
        pairs.withColumn("rn", F.row_number().over(wn))
        .filter(F.col("rn") <= 3)
        .select("src", "dst")
    )
    ndf = e.agg(F.count("*").cast("double").alias("n"))
    ranks = (
        e.select("vec_id")
        .crossJoin(F.broadcast(ndf))
        .withColumn("r", dround(F.lit(1.0) / F.col("n"), 12))
    )
    for _ in range(3):
        contrib = (
            edges.join(ranks.select(F.col("vec_id").alias("src"), "r"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("r") / 3.0).alias("mass"))
        )
        ranks = (
            ranks.select("vec_id", "n")
            .join(contrib, ranks.vec_id == contrib.dst, "left")
            .withColumn(
                "r",
                dround(
                    F.lit(0.15) / F.col("n")
                    + 0.85 * F.coalesce(F.col("mass"), F.lit(0.0)),
                    12,
                ),
            )
            .select("vec_id", "n", "r")
        )
    return ranks.select("vec_id", dround(F.col("r"), 8).alias("rank"))


#: Power-iteration count for l_embedding_pca. The synthetic embedding
#: spectrum is nearly flat (top-eigenvalue ratio 1.013), so convergence
#: to the exact eigenvector is slow by construction; 8 steps capture
#: ≥95% of the top eigenvalue's variance (asserted vs numpy in
#: tests/test_graph.py), which is the honest stopping point on a flat
#: spectrum.
PCA_ITERS = 8

def _pca_oracle(iters: int) -> str:
    """Unrolled power-iteration oracle. MATERIALIZED CTEs are load-
    bearing: ``cent`` is referenced 2·iters+1 times, and DuckDB's
    default CTE inlining re-expands it exponentially (the un-hinted
    form ran >100 s; materialized: 1.5 s)."""
    head = """
    WITH flat AS MATERIALIZED (
      SELECT vec_id, s.i AS pos, embedding[s.i]::DOUBLE AS x
      FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) s),
    mu AS MATERIALIZED (
      SELECT pos, ROUND(AVG(x) * 1e12) / 1e12 AS m FROM flat GROUP BY pos),
    cent AS MATERIALIZED (
      SELECT vec_id, flat.pos, x - m AS c FROM flat JOIN mu ON flat.pos = mu.pos),
    v0 AS (SELECT pos, ROUND(1.0 / 8.0 * 1e12) / 1e12 AS v FROM mu)"""
    its = []
    for k in range(1, iters + 1):
        its.append(f""",
    sc{k} AS MATERIALIZED (SELECT vec_id, ROUND(SUM(c * v) * 1e12) / 1e12 AS s
                           FROM cent JOIN v{k-1} USING (pos) GROUP BY vec_id),
    u{k} AS MATERIALIZED (SELECT pos, ROUND(SUM(c * s) * 1e12) / 1e12 AS u
                          FROM cent JOIN sc{k} USING (vec_id) GROUP BY pos),
    n{k} AS (SELECT ROUND(SUM(u * u) * 1e12) / 1e12 AS n2 FROM u{k}),
    v{k} AS MATERIALIZED (SELECT pos, ROUND(u / sqrt(n2) * 1e12) / 1e12 AS v
                          FROM u{k} CROSS JOIN n{k})""")
    tail = f"""
    SELECT vec_id, ROUND(SUM(c * v) * 1e6) / 1e6 + 0 AS pc1_score
    FROM cent JOIN v{iters} USING (pos) GROUP BY vec_id
    """
    return head + "".join(its) + tail


def _round12(x: float) -> float:
    """HALF-UP (away-from-zero) 12-dp rounding — the driver-side twin of
    ``dround(col, 12)``: Spark and DuckDB ROUND are both half-away on
    doubles, but Python's built-in ``round`` is banker's, so the driver
    arithmetic must not use it."""
    import math

    return math.copysign(math.floor(abs(x) * 1e12 + 0.5), x) / 1e12


@query("l_embedding_pca", oracle=_pca_oracle(PCA_ITERS))
def l_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA (top principal component) by POWER ITERATION,
    hash-verified against a DuckDB oracle that unrolls the identical
    iterations — the dimensionality-reduction/whitening step embedding
    pipelines run before indexing or visualization, computed without
    any ML library.

    Shape per step (the textbook distributed formulation): scores
    s = Xc·v are a broadcast-join + per-row fold (map side); the new
    direction u = Xcᵀ·s is ONE keyed aggregation over the exploded
    (vec_id, pos, c) matrix — u is 64 scalars, collected driver-side
    and re-broadcast (the same bounded-driver-state sanction as
    l_kmeans_assign's centroids: k·dim values, never data). Every
    intermediate (means, scores, direction, norm) is rounded to 12 dp
    by the SAME half-away rule in Spark SQL, DuckDB SQL, and the
    driver-side normalize (``_round12`` — Python's banker's rounding
    would diverge), so the iteration is bit-reproducible end to end
    and the final scores hash-match.

    An all-lineage variant (v as a DataFrame re-joined each step, no
    collect) was measured: Catalyst planning grows super-linearly with
    the unrolled iteration count (8 iters: 248 s vs 23 s) — the
    driver-held vector IS the right engineering at any scale, since
    the per-iteration driver state is dim-bounded. A 64-wide
    sum-aggregate formulation (no explode) was also measured and loses
    to codegen compile time (59 s). The flat synthetic spectrum
    (λ1/λ2 = 1.013) bounds what ANY power method can converge to in
    fixed steps; tests/test_graph.py asserts ≥90% of the top
    eigenvalue's variance is captured (measured 95.1%).

    Scale: each iteration reads the exploded matrix once — at 100 TB
    that is |rows|·dim cells streamed through a partial+final agg
    keyed on 64 positions; no shuffle ever exceeds dim·partitions
    rows. Convergence-bound work, not data-bound."""
    e = table(spark, sf_dir, "embeddings")
    flat = e.select("vec_id", F.posexplode("embedding").alias("p0", "xf")).select(
        "vec_id",
        (F.col("p0") + 1).alias("pos"),
        F.col("xf").cast("double").alias("x"),
    )
    mu = flat.groupBy("pos").agg(dround(F.avg("x"), 12).alias("m"))
    cent = flat.join(F.broadcast(mu), "pos").select(
        "vec_id", "pos", (F.col("x") - F.col("m")).alias("c")
    )
    import math

    v = [(p, _round12(1.0 / 8.0)) for p in range(1, 65)]
    for _ in range(PCA_ITERS):
        vdf = F.broadcast(spark.createDataFrame(v, "pos int, v double"))
        sc = cent.join(vdf, "pos").groupBy("vec_id").agg(
            dround(F.sum(F.col("c") * F.col("v")), 12).alias("s")
        )
        u_rows = (
            cent.join(sc, "vec_id")
            .groupBy("pos")
            .agg(dround(F.sum(F.col("c") * F.col("s")), 12).alias("u"))
            .orderBy("pos")
            .collect()
        )
        u = [(r["pos"], r["u"]) for r in u_rows]
        n2 = _round12(sum(x * x for _, x in u))
        v = [(p, _round12(x / math.sqrt(n2))) for p, x in u]
    vdf = F.broadcast(spark.createDataFrame(v, "pos int, v double"))
    return (
        cent.join(vdf, "pos")
        .groupBy("vec_id")
        .agg(dround(F.sum(F.col("c") * F.col("v")), 6).alias("pc1_score"))
    )


#: BPE training steps for l_bpe_train (merge rules learned).
BPE_STEPS = 5


def _bpe_train_oracle(steps: int) -> str:
    """Unrolled DuckDB replay of the BPE training loop (the fifth
    rows-only graduation). The sequential-fold merge IS expressible in
    SQL via a wrapped-string replace: encode a symbol sequence
    [t1, t2, ...] as chr(31)||t1||chr(31)chr(31)||t2||chr(31) (every
    token delimited on BOTH sides), then replace(enc, S a SS b S,
    S ab S) reproduces left-to-right non-overlapping merge semantics
    exactly — the double separator makes consecutive merges see their
    own boundaries ([a,a,a,a] -> [aa,aa]) and the full wrapping makes
    suffix false-matches impossible ([xa,b] never matches pair (a,b)).
    Equivalence to the Spark fold verified over 200k randomized
    adversarial (sequence, pair) trials plus the Hypothesis
    cross-engine sweep in tests/test_property.py. Every per-step CTE
    is MATERIALIZED (rule 7: iterative oracles re-inline exponentially
    otherwise)."""
    s, ss = "chr(31)", "chr(31) || chr(31)"
    parts = [
        f"""WITH wrd AS MATERIALIZED (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
              FROM documents)
        WHERE length(w) > 0 GROUP BY w
    ), s0 AS MATERIALIZED (
        SELECT w, n,
               {s} || array_to_string(
                   list_transform(generate_series(1, length(w)),
                                  i -> w[i]), {ss}) || {s} AS enc
        FROM wrd
    )"""
    ]
    prev = "s0"
    for t in range(1, steps + 1):
        parts.append(
            f""", p{t} AS MATERIALIZED (
        SELECT q.syms[g.i] AS a, q.syms[g.i + 1] AS b, SUM(q.n) AS cnt
        FROM (SELECT n, string_split(trim(enc, chr(31)), {ss}) AS syms
              FROM {prev}) q,
             unnest(generate_series(1, len(q.syms) - 1)) AS g(i)
        GROUP BY 1, 2
    ), m{t} AS MATERIALIZED (
        SELECT a, b FROM p{t} ORDER BY cnt DESC, a, b LIMIT 1
    ), s{t} AS MATERIALIZED (
        SELECT sq.w, sq.n,
               CASE WHEN m.a IS NULL THEN sq.enc
                    ELSE replace(sq.enc,
                                 {s} || m.a || {ss} || m.b || {s},
                                 {s} || m.a || m.b || {s})
               END AS enc
        FROM {prev} sq LEFT JOIN m{t} m ON TRUE
    )"""
        )
        prev = f"s{t}"
    parts.append(
        f"""
    SELECT w, n,
           replace(trim(enc, chr(31)), {ss}, ' ') AS segments
    FROM {prev}"""
    )
    return "".join(parts)


@query("l_bpe_train", oracle=_bpe_train_oracle(BPE_STEPS))
def l_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE (byte-pair-encoding) merge-rule training — the
    tokenizer-training step of every LLM data pipeline, expressed as
    pure Catalyst iterations with NO Python in the data path.

    Algorithm (Sennrich et al.'s word-frequency formulation): the
    corpus collapses to (distinct word, count) once — BPE statistics
    are invariant to word multiplicity beyond the count, so the
    iteration runs on |vocab| rows, not the corpus. Each step:
    (1) adjacent symbol pairs via slice+arrays_zip+explode, weighted by
    word count; (2) the argmax pair (count DESC, pair ASC tiebreak) —
    ONE driver-side row per step, the same bounded-state sanction as
    l_kmeans_assign/l_embedding_pca; (3) the merge applied as a
    SEQUENTIAL LEFT FOLD (``F.aggregate``): append each symbol unless
    the accumulator tail equals the pair's left and the symbol its
    right — which reproduces left-to-right non-overlapping merge
    semantics exactly (on "aaaa" with pair (a,a): [aa, aa], never
    [aa, a, a] or overlap). tests/test_bpe.py re-derives the merge
    sequence AND the final segmentation with a pure-Python reference
    and asserts identity; since round 9 the operator is additionally
    SQL-oracled — the fold is replayed in DuckDB via the
    wrapped-string replace encoding (_bpe_train_oracle above), the
    fifth rows-only graduation.

    Output: the learned segmentation of the vocabulary after
    BPE_STEPS merges (word, corpus count, space-joined segments) —
    the artifact a tokenizer actually ships (serialized scalars, no
    raw arrays, CLAUDE.md rule 2).

    Scale: pair counting is explode + partial+final agg keyed on the
    pair — Σ|word|·|vocab| cells, corpus-size-independent after the
    initial word count; the argmax is a 1-row TakeOrdered; the merge
    is a map-only fold. Real tokenizer training runs thousands of
    merges — production would checkpoint the symbolization every ~50
    steps to truncate lineage, changing no semantics."""
    d = table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("n"))
    )
    sym = words.select("w", "n", F.split("w", "(?!$)").alias("sym"))
    for _ in range(BPE_STEPS):
        pairs = (
            sym.select(
                "n",
                F.explode(
                    F.arrays_zip(
                        F.slice("sym", 1, F.size("sym") - 1),
                        F.slice("sym", 2, F.size("sym") - 1),
                    )
                ).alias("p"),
            ).select("n", F.col("p.0").alias("a"), F.col("p.1").alias("b"))
        )
        top = (
            pairs.groupBy("a", "b")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.desc("cnt"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b = top[0]["a"], top[0]["b"]
        la, lb, lab = F.lit(a), F.lit(b), F.lit(a + b)
        merge_step = F.aggregate(
            "sym",
            F.array().cast("array<string>"),
            lambda acc, s: F.when(
                (F.size(acc) > 0) & (F.element_at(acc, -1) == la) & (s == lb),
                F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(lab)),
            ).otherwise(F.concat(acc, F.array(s))),
        )
        sym = sym.select("w", "n", merge_step.alias("sym"))
    return sym.select(
        "w", "n", F.array_join("sym", " ").alias("segments")
    )


@query(
    "l_pipeline_end2end",
    oracle="""
    WITH norm AS (
        SELECT doc_id, lang,
               trim(regexp_replace(regexp_replace(lower(text),
                                                  '[^a-z0-9 ]', '', 'g'),
                                   '  +', ' ', 'g')) AS ntext
        FROM documents
    ),
    quality AS (
        SELECT doc_id, lang, ntext,
               len(string_split(ntext, ' ')) AS n_tok
        FROM norm
        WHERE len(string_split(ntext, ' ')) >= 30
    ),
    dedup AS (
        SELECT doc_id, lang, n_tok,
               row_number() OVER (PARTITION BY md5(ntext)
                                  ORDER BY doc_id) AS rn
        FROM quality
    ),
    split AS (
        SELECT lang, n_tok,
               CASE WHEN md5(CAST(doc_id AS VARCHAR)) < '0d' THEN 'val'
                    WHEN md5(CAST(doc_id AS VARCHAR)) < '1a' THEN 'test'
                    ELSE 'train' END AS split
        FROM dedup WHERE rn = 1
    )
    SELECT split, lang,
           COUNT(*) AS n_docs,
           ROUND(AVG(n_tok) * 100, 0) / 100 + 0 AS avg_tokens
    FROM split GROUP BY split, lang
    """,
)
def l_pipeline_end2end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED corpus-preparation pipeline — normalize → quality
    filter → exact dedup → deterministic split → dataset summary — as
    ONE declarative plan, demonstrating that the tier-L stages (each
    individually oracled: l_text_normalize, l_text_quality,
    l_dedup_exact, l_split_hash, l_dataset_card) COMPOSE without
    materialization barriers: Catalyst fuses normalize + tokenize +
    filter into the scan's codegen stage, the dedup window is the one
    content-hash shuffle, the split is a map expression, and the
    summary is a partial+final agg — the corpus is read ONCE end to
    end. The oracle replays the identical chain as nested CTEs.

    Scale: this is the actual production shape — pipelines that chain
    stage-by-stage through materialized intermediates pay a full
    write+read of the corpus between every stage; declared as one plan,
    the only data-volume barrier is the dedup shuffle (keyed on the
    16-byte content hash, carrying doc_id/lang/n_tok — the TEXT never
    shuffles because the hash already stands in for it, and column
    pruning drops ntext after the hash is computed)."""
    d = table(spark, sf_dir, "documents")
    ntext = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", ""), "  +", " "
        )
    )
    norm = d.select("doc_id", "lang", ntext.alias("ntext"))
    quality = norm.withColumn("n_tok", F.size(F.split("ntext", " "))).filter(
        F.col("n_tok") >= 30
    )
    w = Window.partitionBy(F.md5("ntext")).orderBy("doc_id")
    dedup = quality.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    hx = F.md5(F.col("doc_id").cast("string"))
    split = (
        F.when(hx < "0d", "val").when(hx < "1a", "test").otherwise("train")
    )
    return (
        dedup.select(split.alias("split"), "lang", "n_tok")
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            dround(F.avg("n_tok"), 2).alias("avg_tokens"),
        )
    )


@query(
    "l_triplet_mine",
    oracle="""
    WITH flat AS (SELECT vec_id, label, s.i, embedding[s.i]::DOUBLE AS v
                  FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) s),
    pos AS (
      SELECT anchor, pos_id, sim FROM (
        SELECT f1.vec_id AS anchor, f2.vec_id AS pos_id,
               ROUND(SUM(f1.v * f2.v) * 1e9) / 1e9 AS sim,
               row_number() OVER (
                   PARTITION BY f1.vec_id
                   ORDER BY ROUND(SUM(f1.v * f2.v) * 1e9) / 1e9 DESC,
                            f2.vec_id) AS rn
        FROM flat f1
        JOIN flat f2 ON f1.i = f2.i AND f1.label = f2.label
                    AND f1.vec_id <> f2.vec_id
        GROUP BY f1.vec_id, f2.vec_id
      ) WHERE rn = 1
    ),
    pool AS (
      SELECT vec_id AS cand, label AS cand_label
      FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT 50
    ),
    neg AS (
      SELECT anchor, neg_id FROM (
        SELECT e.vec_id AS anchor, p.cand AS neg_id,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY md5(CAST(e.vec_id AS VARCHAR) || '_'
                                || CAST(p.cand AS VARCHAR)), p.cand) AS rn
        FROM embeddings e JOIN pool p ON e.label <> p.cand_label
      ) WHERE rn = 1
    )
    SELECT pos.anchor, pos.pos_id,
           ROUND(pos.sim * 1e6, 0) / 1e6 + 0 AS pos_sim,
           neg.neg_id
    FROM pos JOIN neg ON pos.anchor = neg.anchor
    """,
)
def l_triplet_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive TRIPLET mining — the training-pair preparation step
    for embedding fine-tuning (anchor, positive, negative): the
    positive is the anchor's nearest SAME-label neighbor (hard
    positive, label-blocked equi-join — the l_graph_pagerank edge
    plan, never all-pairs), and the negative is drawn from a 50-vector
    GLOBAL POOL (smallest md5(vec_id) — the deterministic stand-in for
    in-batch negatives, which is how contrastive training actually
    samples them) by per-anchor md5 ranking over pool members with a
    DIFFERENT label. No RNG anywhere: re-runs, reshards, and the
    DuckDB oracle all agree on every triplet.

    Scale: positives cost the blocked kNN join (Σ block², the
    IVF-cell bound); negatives cost |V|×50 against a broadcast pool —
    LINEAR, the reason pool/in-batch sampling exists at all (per-anchor
    ranking over all other-label vectors would be |V|² for no training
    benefit). Output carries ids + the positive's 9-dp-rounded
    similarity (6 dp in the projection)."""
    e = table(spark, sf_dir, "embeddings")
    a = e.select(
        F.col("vec_id").alias("anchor"),
        F.col("label").alias("la"),
        F.col("embedding").alias("ea"),
    )
    b = e.select(
        F.col("vec_id").alias("pos_id"),
        F.col("label").alias("lb"),
        F.col("embedding").alias("eb"),
    )
    pairs = a.join(
        b, (F.col("la") == F.col("lb")) & (F.col("anchor") != F.col("pos_id"))
    ).withColumn("sim", dround(vdot(F.col("ea"), F.col("eb")), 9))
    w_pos = Window.partitionBy("anchor").orderBy(F.col("sim").desc(), "pos_id")
    pos = (
        pairs.withColumn("rn", F.row_number().over(w_pos))
        .filter(F.col("rn") == 1)
        .select("anchor", "la", "pos_id", "sim")
    )
    pool = (
        e.select(F.col("vec_id").alias("cand"), F.col("label").alias("cand_label"))
        .orderBy(F.md5(F.col("cand").cast("string")), "cand")
        .limit(50)
    )
    w_neg = Window.partitionBy("anchor").orderBy(
        F.md5(F.concat(F.col("anchor").cast("string"), F.lit("_"),
                       F.col("cand").cast("string"))),
        "cand",
    )
    neg = (
        pos.select("anchor", "la")
        .join(F.broadcast(pool), F.col("la") != F.col("cand_label"))
        .withColumn("rn", F.row_number().over(w_neg))
        .filter(F.col("rn") == 1)
        .select("anchor", F.col("cand").alias("neg_id"))
    )
    return pos.join(neg, "anchor").select(
        "anchor", "pos_id", dround(F.col("sim"), 6).alias("pos_sim"), "neg_id"
    )


@query(
    "l_stratified_split",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, lang,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                           doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY lang) AS cnt
        FROM documents
    ),
    assigned AS (
        SELECT lang,
               CASE WHEN rn <= FLOOR(cnt * 0.8) THEN 'train'
                    WHEN rn <= FLOOR(cnt * 0.9) THEN 'val'
                    ELSE 'test' END AS split
        FROM ranked
    )
    SELECT lang, split, COUNT(*) AS n_docs
    FROM assigned GROUP BY lang, split
    """,
)
def l_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRATIFIED deterministic train/val/test split: within every
    stratum (lang), documents rank by md5(doc_id) and the 80/10/10
    boundaries are taken at exact per-stratum counts — so each
    language's proportions are EXACT (floor(cnt·0.8) train rows per
    lang, not 80%-in-expectation), unlike the global hash-range split
    (l_split_hash) where a small stratum can land lopsided. This is
    the split evaluation sets actually need: per-language val/test
    populations that are never starved by hash luck. Still RNG-free —
    re-runs, reshards, and the oracle agree on every assignment.

    Determinism pins: the md5 rank breaks ties on doc_id; the
    boundary is FLOOR(cnt * 0.8) computed in double — exact for any
    cnt < 2^51 since 0.8·cnt is only consulted through FLOOR and both
    engines evaluate the identical double product (measured-pin rule:
    Spark floor returns BIGINT, DuckDB DOUBLE — compared to rn after
    implicit widening identically).

    Scale: one window shuffle keyed on the stratum; the rank and both
    counts come off the same sorted run. At 100 TB with billions of
    rows per stratum this stays a single keyed sort — and if a stratum
    outgrows a partition, the two-pass distributed-rank formulation
    from e_win_ntile_pct applies unchanged per stratum."""
    d = table(spark, sf_dir, "documents")
    w_rank = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    w_all = Window.partitionBy("lang")
    ranked = d.select(
        "lang",
        F.row_number().over(w_rank).alias("rn"),
        F.count("*").over(w_all).alias("cnt"),
    )
    split = (
        F.when(F.col("rn") <= F.floor(F.col("cnt") * 0.8), "train")
        .when(F.col("rn") <= F.floor(F.col("cnt") * 0.9), "val")
        .otherwise("test")
    )
    return (
        ranked.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"))
    )


#: Winnowing parameters: k-gram size and window width (MOSS defaults
#: scaled down to the fixture's ~120-token documents).
WINNOW_K = 3
WINNOW_W = 4


@query(
    "l_fingerprint_winnow",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t
        FROM documents
    ),
    kg AS (
        SELECT doc_id,
               list_transform(
                   generate_series(1, len(t) - {WINNOW_K} + 1),
                   i -> md5(array_to_string(t[i:i + {WINNOW_K} - 1], ' '))
               ) AS h
        FROM toks WHERE len(t) >= {WINNOW_K}
    ),
    fp AS (
        SELECT DISTINCT doc_id, unnest(
            list_transform(
                generate_series(1, len(h) - {WINNOW_W} + 1),
                i -> list_aggregate(h[i:i + {WINNOW_W} - 1], 'min')
            )
        ) AS f
        FROM kg WHERE len(h) >= {WINNOW_W}
    )
    SELECT f AS fingerprint, COUNT(*) AS df
    FROM fp GROUP BY f
    ORDER BY df DESC, fingerprint
    LIMIT 20
    """,
)
def l_fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINNOWING document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): hash every k-gram, then keep the MINIMUM hash of
    each w-wide sliding window — the fingerprint set that GUARANTEES
    any shared substring of length ≥ w+k−1 tokens produces at least
    one shared fingerprint (the detection guarantee rolling-hash
    sampling like l_text_fingerprint's 0-mod-p selection cannot give),
    while storing only ~2/(w+1) of all k-gram hashes. Output: the 20
    most document-frequent fingerprints — the boilerplate detector's
    work queue (shared headers/footers surface at the top), bounded
    regardless of how quadratic the underlying share-graph is on this
    degenerate corpus.

    Everything is Catalyst array algebra: k-grams and window minima
    are ``transform`` over ``sequence`` with ``slice`` + ``array_min``
    — no explode until the final distinct-per-doc fingerprint set, no
    UDF; hashes are md5 STRINGS compared lexicographically, identical
    in both engines.

    Scale: per-row array work is O(|tokens|·w); the only shuffle is
    the (doc, fingerprint)-distinct + fingerprint count — postings-
    shaped, like l_text_tokenize_tf. The candidate-pair join a dedup
    pass would add on top buckets by fingerprint (never all-pairs),
    with the guarantee bounding what it can miss."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split(F.lower("text"), " ").alias("t")).filter(
        F.size("t") >= WINNOW_K
    )
    kg = toks.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(1), F.size("t") - WINNOW_K + 1),
            lambda i: F.md5(F.concat_ws(" ", F.slice("t", i, WINNOW_K))),
        ).alias("h"),
    ).filter(F.size("h") >= WINNOW_W)
    fp = kg.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("h") - WINNOW_W + 1),
                lambda i: F.array_min(F.slice("h", i, WINNOW_W)),
            )
        ).alias("f"),
    ).distinct()
    return (
        fp.groupBy(F.col("f").alias("fingerprint"))
        .agg(F.count("*").alias("df"))
        .orderBy(F.desc("df"), "fingerprint")
        .limit(20)
    )


@query(
    "l_tokens_zipf_fit",
    oracle="""
    WITH freq AS (
        SELECT t, COUNT(*) AS c
        FROM (SELECT unnest(string_split(lower(text), ' ')) AS t
              FROM documents)
        WHERE t <> ''
        GROUP BY t
    ),
    ranked AS (
        SELECT c, row_number() OVER (ORDER BY c DESC, t) AS rnk
        FROM freq
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
           ROUND(regr_slope(ln(c), ln(rnk)) * 1e6, 0) / 1e6 + 0 AS zipf_slope,
           ROUND(regr_r2(ln(c), ln(rnk)) * 1e6, 0) / 1e6 + 0 AS r2
    FROM ranked
    """,
)
def l_tokens_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the token frequency distribution: OLS slope of
    ln(frequency) against ln(rank) plus its R² — the corpus-health
    diagnostic every pretraining QA pass runs (natural language sits
    near slope −1 with high R²; template/boilerplate corpora — like
    this 31-token synthetic one — deviate hard, which is exactly what
    the check is for). One number pair replaces eyeballing the log-log
    plot.

    The rank window is GLOBAL but VOCABULARY-bounded (|distinct
    tokens|, 31 here, ~10⁵-10⁶ on natural corpora after the frequency
    aggregation collapses the token stream) — the same bounded-input
    class as the PMI C(V,2) grid, whitelisted with that justification
    in tests/test_plans.py; at web-scale vocabularies the two-pass
    bucketed rank from e_win_ntile_pct substitutes unchanged.

    Scale: token counting is the postings partial+final agg; the fit
    is regr_* over |vocab| rows — one pass, mergeable moments."""
    d = table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("t")
        .agg(F.count("*").alias("c"))
    )
    w = Window.orderBy(F.desc("c"), "t")
    ranked = freq.select("c", F.row_number().over(w).alias("rnk"))
    return ranked.agg(
        F.count("*").cast("bigint").alias("n_types"),
        dround(F.regr_slope(F.log("c"), F.log("rnk")), 6).alias("zipf_slope"),
        dround(F.regr_r2(F.log("c"), F.log("rnk")), 6).alias("r2"),
    )


#: Shipped BPE merge table for l_bpe_encode — a production tokenizer
#: ENCODES with a frozen merge list (training is l_bpe_train's job);
#: freezing it is also what makes the encode ORACLE-able: both engines
#: apply the identical rules. Ordered; later merges build on earlier
#: ones (t+a, ta+b, tab+l, tabl+e tokenizes 'table' to one symbol).
BPE_ENCODE_MERGES = [
    ("a", "g"), ("ag", "g"),
    ("t", "a"), ("ta", "b"), ("tab", "l"), ("tabl", "e"),
    ("k", "e"), ("ke", "y"),
    ("s", "c"), ("sc", "a"), ("sca", "n"),
    ("v", "a"), ("va", "l"), ("val", "u"), ("valu", "e"),
]


def _bpe_encode_oracle() -> str:
    rep = "regexp_replace(replace(lower(text), ' ', '|'), '(.)', '\\1 ', 'g')"
    expr = f"trim({rep})"
    for a, b in BPE_ENCODE_MERGES:
        expr = f"replace({expr}, '{a} {b}', '{a}{b}')"
    return f"""
    SELECT doc_id, {expr} AS encoded,
           CAST(len(list_filter(string_split({expr}, ' '),
                                x -> x <> '|')) AS BIGINT) AS n_tokens
    FROM documents
    """


def _bpe_encode_expr():
    """The encode column expression over ``text`` — shared with the
    Hypothesis reference test (tests/test_bpe.py) so operator and test
    can never drift."""
    enc = F.trim(
        F.regexp_replace(
            F.replace(F.lower("text"), F.lit(" "), F.lit("|")),
            "(.)",
            "$1 ",
        )
    )
    for a, b in BPE_ENCODE_MERGES:
        enc = F.replace(enc, F.lit(f"{a} {b}"), F.lit(f"{a}{b}"))
    return enc


@query("l_bpe_encode", oracle=_bpe_encode_oracle())
def l_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer ENCODE with a shipped merge table — the other half of
    the BPE story (l_bpe_train learns rules; this applies them to the
    corpus, which is the pass that actually touches 100 TB): text
    lowers, word boundaries become '|', characters intersperse with
    spaces, then each merge rule applies IN ORDER as a left-to-right
    non-overlapping string replace — exactly the BPE merge-application
    semantics (both engines' replace() is left-to-right
    non-overlapping; boundary '|' symbols can never participate in a
    letter-pair merge, so merges stay within words). Output: the
    encoded symbol stream and its token count.

    The entire encode is CODEGEN string ops — lower/replace chain in
    the scan projection, no UDF, no Python, no shuffle at corpus
    scale: the map-only plan a 100 TB tokenization run wants, parallel
    by file split. A real vocabulary means thousands of replace steps —
    production compiles them into a trie/Aho-Corasick pass (the
    linear-scan equivalent of this fold); the 15-rule table keeps the
    plan readable while pinning the semantics, and the oracle applies
    the IDENTICAL frozen rules.

    Two compute-shape pins (round-7 profile, paired-interleaved at
    sf0.1): (a) ``encoded`` is lowered into its own projection so
    ``n_tokens`` derives from the column instead of a second copy of
    the expression tree — Catalyst/codegen CSE does NOT dedup two
    separately-built equal trees across output columns (measured
    0.815 s → 0.507 s); (b) a SMALL-INPUT SCATTER: documents.parquet
    here is one 594 KB row group, so the scan yields ONE split and the
    whole replace chain ran on one of 32 cores — when the scan has
    fewer partitions than the cluster's parallelism, round-robin
    repartition the (tiny, cheap-to-shuffle) raw text before the heavy
    projection (0.507 s → 0.225 s). At 100 TB the input has thousands
    of row groups, the guard is false, and the plan stays map-only
    with zero shuffle. Cold first run pays ~6.7 s of Janino codegen
    compile for the 15-deep nested chain (bench.py's full-suite warm
    pass absorbs it; a long-lived cluster session pays it once).

    Determinism: pure integer/string ops, no floats anywhere."""
    d = table(spark, sf_dir, "documents")
    # small-input scatter: planning-only check, no job is triggered
    par = spark.sparkContext.defaultParallelism
    if d.rdd.getNumPartitions() < par:
        d = d.repartition(par)
    enc = _bpe_encode_expr()
    step = d.select("doc_id", enc.alias("encoded"))
    return step.select(
        "doc_id",
        "encoded",
        F.size(
            F.filter(F.split("encoded", " "), lambda x: x != "|")
        ).cast("bigint").alias("n_tokens"),
    )


@query(
    "l_dedup_stream",
    oracle="""
    SELECT md5(text) AS h, MIN(doc_id) AS doc_id
    FROM documents GROUP BY md5(text)
    """,
)
def l_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental corpus dedup — the production LLM-ingest
    loop: crawl batches arrive continuously, each batch dedups (a)
    within itself and (b) against the ACCUMULATED corpus hash index,
    and only first-seen documents append to the corpus. Run here as a
    real two-micro-batch foreachBatch stream (documents split into
    doc_id halves, batches forced into arrival order by landing file 2
    only after batch 1 drains — FiniteStream's wave protocol):

    - within-batch: MIN(doc_id) per content md5 (one hash-keyed agg);
    - cross-batch: LEFT ANTI join against the 16-byte hash index —
      batch cost scales with |batch| · log|index|, INDEPENDENT of
      corpus text size (the index never stores text);
    - survivors APPEND to both the index and the output: each
      micro-batch writes ONLY its own survivor rows into a fresh
      ``batch<N>/`` subdirectory of the output and index dirs
      (round-5 verdict item 2 — the previous shape unioned and
      rewrote the full accumulated set every batch, making per-batch
      I/O O(|corpus|); now written bytes per batch ∝ |batch
      survivors|, pytest-asserted in tests/test_pipeline.py). The
      per-batch-subdir overwrite is also idempotent under foreachBatch
      retries, which a bare ``mode("append")`` is not.

    First-seen-wins over ordered batches ≡ global MIN(doc_id) per
    hash, which is exactly l_dedup_exact's keep set — the oracle
    hash-checks the entire multi-batch loop against the batch answer.
    l_dedup_incremental is the single-batch sibling; this one drives
    the loop through the streaming engine itself.

    Scale: the accumulated index is the ONLY cross-batch state — one
    (h, doc_id) row per distinct content ever seen; in production it
    is a lakehouse table the anti-join probes (or a bloom-filter
    pre-probe at 10^12 keys). The same loop upgrades to MinHash-band
    signatures for NEAR-dup (l_dedup_near_minhash's banding) with the
    anti-join on (band, sig) instead of md5."""
    import atexit as _atexit
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    mid = d.agg(F.percentile_approx("doc_id", 0.5).alias("m")).collect()[0]["m"]
    first = d.filter(F.col("doc_id") <= mid)
    second = d.filter(F.col("doc_id") > mid)

    base = _tempfile.mkdtemp(prefix="sqlengine_dedup_stream_")
    _atexit.register(_shutil.rmtree, base, ignore_errors=True)
    out_dir = _os.path.join(base, "out")
    idx_dir = _os.path.join(base, "index")
    state = {"committed": 0}

    def _read_index():
        return spark.read.schema("h string").option(
            "recursiveFileLookup", "true"
        ).parquet(idx_dir)

    def dedup_batch(batch_df, batch_id: int) -> None:
        cand = (
            batch_df.select(F.md5("text").alias("h"), "doc_id")
            .groupBy("h")
            .agg(F.min("doc_id").alias("doc_id"))
        )
        if state["committed"]:
            cand = cand.join(_read_index(), "h", "left_anti")
        # Append-only commit: this batch's survivors land in their own
        # subdirectory (never touching prior batches' files); the index
        # projection reads back the just-written survivors so the agg
        # plan runs once. I/O per batch ∝ |batch survivors|.
        out_b = _os.path.join(out_dir, f"batch{batch_id}")
        idx_b = _os.path.join(idx_dir, f"batch{batch_id}")
        cand.write.mode("overwrite").parquet(out_b)
        spark.read.schema("h string, doc_id long").parquet(out_b).select(
            "h"
        ).write.mode("overwrite").parquet(idx_b)
        state["committed"] += 1

    from sqlengine_spark.operators.tier_j_streaming import FiniteStream

    with FiniteStream(spark) as fs:
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(fs.src)
        )
        fs.run(stream, waves=(first, second), foreach_batch=dedup_batch)
    rows = spark.read.schema("h string, doc_id long").option(
        "recursiveFileLookup", "true"
    ).parquet(out_dir).collect()
    return spark.createDataFrame(rows, schema="h string, doc_id long")


def _bpe_ntokens_sql() -> str:
    """DuckDB expression for l_bpe_encode's token count (same frozen
    merge rules), shared by the encode and stats oracles."""
    rep = "regexp_replace(replace(lower(text), ' ', '|'), '(.)', '\\1 ', 'g')"
    expr = f"trim({rep})"
    for a, b in BPE_ENCODE_MERGES:
        expr = f"replace({expr}, '{a} {b}', '{a}{b}')"
    return (
        f"len(list_filter(string_split({expr}, ' '), x -> x <> '|'))"
    )


@query(
    "l_tokenizer_stats",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM({_bpe_ntokens_sql()}) AS BIGINT) AS total_tokens,
           ROUND(AVG({_bpe_ntokens_sql()}) * 100, 0) / 100 AS avg_tokens,
           ROUND(SUM(n_chars) * 1.0 / SUM({_bpe_ntokens_sql()}) * 1e4, 0)
               / 1e4 AS chars_per_token
    FROM documents GROUP BY lang
    """,
)
def l_tokenizer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer EFFICIENCY report per language — chars-per-token (the
    compression ratio) is the metric that drives real mixture and cost
    decisions: a tokenizer that fragments one language inflates its
    effective epoch cost and shrinks its effective context window, so
    mixture weights and per-domain token budgets (l_domain_mix,
    l_pack_sequences) must be stated in TOKENS, not bytes. Runs the
    frozen-merge-table encode (l_bpe_encode's expression — shared
    builder, zero drift) and aggregates by language.

    Scale: encode is the map-only codegen replace chain; the rollup is
    one |langs|-cardinality partial+final agg over it — the whole
    report is a single corpus pass."""
    d = table(spark, sf_dir, "documents")
    enc = _bpe_encode_expr()
    n_tok = F.size(F.filter(F.split(enc, " "), lambda x: x != "|"))
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(n_tok).cast("bigint").alias("total_tokens"),
        dround(F.avg(n_tok), 2).alias("avg_tokens"),
        dround(F.sum("n_chars") / F.sum(n_tok), 4).alias("chars_per_token"),
    )


@query(
    "l_dsir_weight",
    oracle="""
    WITH w AS (
        SELECT doc_id, source, string_split(text, ' ') AS ws
        FROM documents
    ),
    gi AS (
        SELECT doc_id, source, ws,
               unnest(generate_series(1, len(ws) - 1)) AS i
        FROM w
    ),
    gb AS (
        SELECT doc_id, source,
               ('0x' || substr(md5(ws[i] || ' ' || ws[i + 1]), 1, 8))::BIGINT
                   % 64 AS b
        FROM gi
    ),
    bs AS (
        SELECT b,
               CAST(COUNT(*) FILTER (WHERE source = 'src0') AS BIGINT) AS ct,
               CAST(COUNT(*) AS BIGINT) AS cs
        FROM gb GROUP BY b
    ),
    tot AS (
        SELECT CAST(SUM(ct) AS BIGINT) AS nt, CAST(SUM(cs) AS BIGINT) AS ns
        FROM bs
    ),
    lb AS (
        SELECT b,
               CAST(ROUND(ln(((ct + 1) * (ns + 64)) * 1.0
                              / ((cs + 1) * (nt + 64))) * 1e4, 0)
                    AS BIGINT) AS l
        FROM bs, tot
    ),
    db AS (
        SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS n
        FROM gb GROUP BY doc_id, b
    )
    SELECT doc_id, CAST(SUM(n * l) AS BIGINT) AS w_fp
    FROM db JOIN lb USING (b) GROUP BY doc_id
    """,
)
def l_dsir_weight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weighting (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling") — the
    distribution-matching curation pass: score every raw document by
    how much more likely its hashed n-gram features are under a target
    corpus than under the raw corpus, then resample by weight. Here
    the 'src0' source plays the target domain and the full corpus the
    raw pool; features are word bigrams hashed into 64 buckets
    (production: 10k buckets over uni+bigrams — same plan, bigger
    broadcast).

    Per bucket b with target count ct, corpus count cs and totals
    nt/ns, the Laplace-smoothed log-likelihood ratio is
    ln(((ct+1)/(nt+64)) / ((cs+1)/(ns+64))). DETERMINISM: that ratio
    is quantized ONCE PER BUCKET to fixed-point 1e-4 (ROUND(ln(r)*1e4)
    -> BIGINT l), and each document's weight is the pure-integer
    Σ n_b · l_b — float association order, shuffle order, and
    engine-specific SUM trees can never flip a bit (CLAUDE.md rule 9
    class). The only cross-engine float op left is one ln() per
    bucket; ties at the 1e-4 grid boundary would need |1e4·ln(r) −
    k−0.5| < ~1e-12 (stress-checked at sf0.01 and sf0.1). The hash is
    the repo's md5-prefix idiom (l_shuffle_shard), bit-identical in
    both engines.

    Scale: the hashed gram-bucket stream is tokenized ONCE and
    local-checkpointed (the staged-features table every DSIR run
    materializes at 100 TB); the corpus totals (one bounded 1-row
    collect), the 64-row bucket-stats agg, and the (doc_id, bucket)
    count agg all derive from it — documents.parquet is scanned
    exactly once per invocation (asserted in test_plans.py; without
    the staging, Catalyst plans the bucket-stats and per-doc branches
    as separate corpus scans). No cross join, no all-pairs anything;
    the bucket table broadcast is |buckets| rows regardless of corpus
    size, and bucket count trades bias for broadcast size without
    changing the plan."""
    n_b = 64
    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "source", F.split("text", " ").alias("ws"))
        # 1-word docs have no bigram: sequence(1,0) would DESCEND in
        # Spark while generate_series(1,0) is empty in DuckDB
        .filter(F.size("ws") >= 2)
    )
    grams = d.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1),"
                " i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"
            )
        ).alias("gram"),
    )
    gb = grams.select(
        "doc_id",
        "source",
        (
            F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10).cast("bigint")
            % n_b
        ).alias("b"),
    ).localCheckpoint()  # one tokenize pass feeds totals, stats, per-doc
    tot = gb.agg(
        F.count(F.when(F.col("source") == "src0", 1)).alias("nt"),
        F.count("*").alias("ns"),
    ).collect()[0]  # bounded: one row of corpus totals
    nt, ns = int(tot["nt"]), int(tot["ns"])
    bs = gb.groupBy("b").agg(
        F.count(F.when(F.col("source") == "src0", 1)).alias("ct"),
        F.count("*").alias("cs"),
    )
    lb = bs.select(
        "b",
        F.round(
            F.log(
                ((F.col("ct") + 1) * F.lit(ns + n_b))
                / ((F.col("cs") + 1) * F.lit(nt + n_b))
            )
            * 1e4,
            0,
        )
        .cast("bigint")
        .alias("l"),
    )
    db = gb.groupBy("doc_id", "b").agg(F.count("*").alias("n"))
    return (
        # plain join (r11): lb is a per-bigram weight table (unbounded
        # open-vocabulary space at 100 TB); AQE decides at runtime
        db.join(lb, "b")
        .groupBy("doc_id")
        .agg(F.sum(F.col("n") * F.col("l")).cast("bigint").alias("w_fp"))
    )


@query(
    "l_quality_gate_domain",
    oracle="""
    WITH s AS (
        SELECT doc_id, source,
               CAST(ROUND(n_chars * 1e4
                          / len(string_split(text, ' ')), 0) AS BIGINT)
                   AS score_fp
        FROM documents
    ),
    r AS (
        SELECT doc_id, source, score_fp,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY score_fp DESC, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY source) AS cnt
        FROM s
    )
    SELECT doc_id, source, score_fp, CAST(rn AS BIGINT) AS rn
    FROM r WHERE rn <= (cnt + 1) // 2
    """,
)
def l_quality_gate_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOMAIN-RELATIVE quality gating (the FineWeb/DCLM recipe step):
    rank documents by a quality score WITHIN each source domain and
    keep each domain's top half — absolute-threshold gates silently
    empty out whole domains whose score distribution sits low (code,
    forums), while a per-domain percentile keeps the mixture intact.
    Score here is fixed-point mean word length (n_chars·1e4 /
    n_words -> BIGINT: one exact division then ROUND, no float
    accumulation anywhere); production swaps in any model/heuristic
    score column without touching the gate.

    Deterministic: the window order (score_fp DESC, doc_id) is a total
    order (doc_id unique), and the keep rule rn <= (cnt+1) div 2 is
    pure integer arithmetic (CLAUDE.md rule 5).

    Scale: ONE shuffle keyed on the domain; ranking is per-partition
    (no global sort). A skewed mega-domain salts into sub-ranks the
    way d_agg_salted does, or swaps row_number for an approx-quantile
    cutoff computed per domain (two passes, no full sort) — same gate
    semantics."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.round(
            F.col("n_chars") * 1e4 / F.size(F.split("text", " ")), 0
        )
        .cast("bigint")
        .alias("score_fp"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("score_fp").desc(), "doc_id"
    )
    wc = Window.partitionBy("source")
    r = d.select(
        "doc_id",
        "source",
        "score_fp",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.count("*").over(wc).alias("cnt"),
    )
    return r.filter(
        F.col("rn") <= (F.col("cnt") + 1) / F.lit(2).cast("bigint")
    ).select("doc_id", "source", "score_fp", "rn")


@query(
    "l_graph_triangles",
    oracle="""
    WITH e AS (
        SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), t AS (
        SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
        FROM e e1
        JOIN e e2 ON e1.p2 = e2.p1
        JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
    ), n AS (
        SELECT a AS p FROM t
        UNION ALL SELECT b FROM t
        UNION ALL SELECT c FROM t
    )
    SELECT p AS part_key, CAST(COUNT(*) AS BIGINT) AS n_tri
    FROM n GROUP BY p ORDER BY n_tri DESC, part_key LIMIT 20
    """,
)
def l_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node TRIANGLE counts on the part co-purchase graph (parts
    co-occurring in the same order are adjacent) — the local clustering
    signal graph pipelines use for community density, spam/collusion
    detection, and feature engineering; here: the top-20 most
    triangle-embedded parts (n_tri DESC, part_key tiebreak — a unique
    total order per CLAUDE.md rule 5).

    Algorithm (Spark side): the EDGE-ITERATOR with degree ordering —
    orient every undirected edge from its lower-(degree, id) endpoint
    to the higher one (out-degree capped at O(sqrt(m))), build per-node
    sorted out-adjacency arrays, and for each oriented edge (u, v)
    count the common out-neighbors array_intersect(adj(u), adj(v)).
    Each triangle's acyclic orientation has exactly ONE out-degree-2
    apex u, whose base edge u→v owns the intersection that finds it —
    emitted exactly once, no dedup. The DuckDB oracle proves the same
    answer from an INDEPENDENT formulation: a<b<c ordered 3-way
    self-join.

    Scale: the co-occurrence expansion is an equi-join on l_orderkey
    (per-order fan-out C(lines, 2), bounded by order size, never
    corpus-quadratic); degrees, orientation, adjacency-array build and
    both edge⋈adjacency joins are keyed shuffles whose volume is
    |edges| + |adjacency| ROWS — the arboricity-bounded Σ C(outdeg, 2)
    intersect work happens INSIDE tasks, never as an exchange (the
    round-8 wedge-materialization plan shuffled the full wedge stream
    and held a flat 2.6× of the single-process baseline; this form
    reaches parity at x10 — BASELINE.md round-9 note). Skew follows
    structural skew, already capped by the orientation.

    Session-memory dependency (r12, closing the r11 verdict item): at
    sf0.1 the adjacency traffic (each edge row carries adj(u)+adj(v),
    Σ ≈ 0.9 GB streamed) OOMs a DELIBERATELY 1g-capped local[32]
    session; bench.py/get_spark size the session (8g) and the grading
    driver's correctness runs at sf0.01, where the whole adjacency is
    ~1.9 MB (115,729 edges, max outdeg 90 — bound pinned in
    tests/test_plans.py::test_graph_triangles_driver_sf_memory_bound).
    A K=2048 chunked-adjacency variant (disjoint chunks, intersect per
    chunk-pair) was built and paired-measured r12: it STILL OOMs at 1g
    (the pressure is the per-edge array traffic, not the agg buffers)
    and is ~9% slower at sf0.1 (5.63 → 6.14 s median) — rejected. On a
    real cluster the same plan is fine: executors get GBs per task
    slot, not 32 MB. The r15 single-pipeline rewrite (below) was
    re-tested at 1g: still OOMs — confirming the per-edge array
    traffic attribution (the rewrite removed the redundant EXECUTIONS,
    not the traffic), so the session-size dependency stands.
    """
    # INT-WIDTH REDUCTION (r9 verdict item 3): every part key in the
    # edge/adjacency pipeline is int32, halving the bytes in the
    # localCheckpointed edge list and (more importantly) the per-node
    # collect_list adjacency arrays — the structures that thrash a
    # plain 1g-driver JVM under suite heap history. The guard keeps the
    # narrowing honest at scale: a key past 2^31-1 raises in-task
    # instead of silently wrapping (one codegen compare per row; at a
    # true >2B-part deployment you'd drop the cast, paying 2x array
    # bytes — the plan shape is unchanged). Output re-widens to bigint
    # to keep the driver-facing schema identical to the oracle's.
    pk = F.when(
        F.col("l_partkey") <= F.lit(2147483647),
        F.col("l_partkey").cast("int"),
    ).otherwise(F.raise_error(F.lit("l_graph_triangles: part key > int32")))
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", pk.alias("l_partkey")
    )
    x = li.toDF("ok", "p1")
    y = li.toDF("ok", "p2")
    e = (
        x.join(y, "ok")
        .filter(F.col("p1") < F.col("p2"))
        .select("p1", "p2")
        .distinct()
    )
    deg = (
        e.select(F.col("p1").alias("v"))
        .unionByName(e.select(F.col("p2").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    ed = (
        e.join(deg.toDF("p1", "d1"), "p1")
        .join(deg.toDF("p2", "d2"), "p2")
    )
    fwd = (F.col("d1") < F.col("d2")) | (
        (F.col("d1") == F.col("d2")) & (F.col("p1") < F.col("p2"))
    )
    # oriented edges feed the wedge self-join AND the closing join —
    # localCheckpoint so the lineitem self-join + degree joins run once
    # per invocation (CLAUDE.md rule 11a)
    o = ed.select(
        F.when(fwd, F.col("p1")).otherwise(F.col("p2")).alias("src"),
        F.when(fwd, F.col("p2")).otherwise(F.col("p1")).alias("dst"),
    ).localCheckpoint()
    # ROUND-9 REWRITE (x10 A/B, BASELINE.md round-9 note): the previous
    # wedge-materialization plan (oriented-edge self-join -> 41M-row
    # wedge stream at sf0.1, 410M at x10 -> closing shuffle_hash join)
    # held a FLAT 2.6x of the single-process baseline from sf0.1 to x10
    # — the wedge EXCHANGE was the structural cost, not fixture density.
    # This edge-iterator form never materializes wedges: per-node
    # sorted out-adjacency arrays, then each oriented edge (u,v)
    # intersects adj(u) with adj(v) in-task. Each triangle has exactly
    # ONE out-degree-2 apex u with base edge u->v (the oriented
    # triangle DAG), so every triangle is emitted once. Total intersect
    # work is the same arboricity-bounded sum the wedge count was, but
    # it stays inside tasks — shuffle volume drops from |wedges| to
    # |edges| + |adjacency| rows (paired at x10: 54.3 -> 31.1 s,
    # parity with the single-process engine; identical top-20).
    adj = o.groupBy("src").agg(F.sort_array(F.collect_list("dst")).alias("nbrs"))
    # R15 SINGLE-PIPELINE REWRITE (guide §2.4, pin 17c): the r14 plan
    # dump showed the ENTIRE edge⋈adj⋈adj + intersect pipeline executed
    # THREE TIMES — once per branch of the nodes union (src/dst/w) —
    # and the boxed-adjacency ObjectHashAggregate built TWICE per
    # branch (eu and ev joins): 6 adjacency builds + 6 SMJs per run,
    # zero ReusedExchange. Two structural fixes, one plan:
    #   1. eu is adj EXPLODED, not o re-joined to adj — the groupBy
    #      that builds adj already holds every (src, dst, nbrs) triple,
    #      so Generate re-derives the oriented edges with nu attached
    #      for free (one adjacency build + one join instead of 2 + 2).
    #      nbrs projected alongside its own explode is an attribute
    #      copy, not a recomputation (pin 8a applies to EXPRESSIONS).
    #   2. every triangle (u,v,w) contributes all three corners from
    #      ONE generator — explode(concat(repeat(src,k), repeat(dst,k),
    #      intersect)) — so the union (and its 3x re-execution of
    #      everything upstream) is gone.
    # Paired order-alternated at sf0.1: 5.545 -> 4.412 s median, new
    # side won 6/7; plan: Union(3 subtrees) -> 1 linear pipeline,
    # ObjectHashAggregate pairs 6 -> 2, SMJ 6 -> 1.
    eu = adj.select(
        "src", F.explode("nbrs").alias("dst"), F.col("nbrs").alias("nu")
    )
    ev = eu.join(
        adj.select(F.col("src").alias("v2"), F.col("nbrs").alias("nv")),
        F.col("dst") == F.col("v2"),
    ).drop("v2")
    ints = F.array_intersect("nu", "nv")
    k = F.size(ints)
    nodes = ev.select(
        F.explode(
            F.concat(
                F.array_repeat(F.col("src"), k),
                F.array_repeat(F.col("dst"), k),
                ints,
            )
        ).alias("p")
    )
    return (
        nodes.groupBy("p")
        .agg(F.count("*").alias("n_tri"))
        .select(F.col("p").cast("bigint").alias("part_key"), "n_tri")
        .orderBy(F.col("n_tri").desc(), "part_key")
        .limit(20)
    )


#: Logistic-trainer hyperparameters (shared by operator and oracle).
LOGREG_ITERS = 5
LOGREG_LR = 0.5


def _logreg_oracle() -> str:
    """Unrolled gradient-descent oracle. MATERIALIZED CTEs per
    iteration (the l_embedding_pca lesson — a CTE referenced k times
    re-inlines exponentially without it); every per-doc gradient
    contribution is truncated to a 1e-12 fixed-point BIGINT before the
    SUM so the reduction is order-immune (CLAUDE.md rule 11e), and the
    weight update is plain double arithmetic from those exact integer
    sums — bit-identical to the Python-driver updates on the Spark
    side. DuckDB CAST rounds, hence trunc() (rule 6)."""
    parts = [
        """
    WITH f AS MATERIALIZED (
        SELECT length(text) / 100.0 AS x1,
               len(string_split(text, ' ')) / 50.0 AS x2,
               CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
        FROM documents
    ), nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM f),
    w0 AS (SELECT 0.0 AS w1, 0.0 AS w2, 0.0 AS b)"""
    ]
    for k in range(LOGREG_ITERS):
        parts.append(f""",
    z{k} AS MATERIALIZED (
        SELECT x1, x2, y, w1 * x1 + w2 * x2 + b AS z FROM f, w{k}
    ), s{k} AS MATERIALIZED (
        SELECT
          CAST(SUM(CAST(trunc((0.5 + z / (2.0 * (1.0 + abs(z))) - y)
               * x1 * 1e12) AS BIGINT)) AS BIGINT) AS g1,
          CAST(SUM(CAST(trunc((0.5 + z / (2.0 * (1.0 + abs(z))) - y)
               * x2 * 1e12) AS BIGINT)) AS BIGINT) AS g2,
          CAST(SUM(CAST(trunc((0.5 + z / (2.0 * (1.0 + abs(z))) - y)
               * 1e12) AS BIGINT)) AS BIGINT) AS gb
        FROM z{k}
    ), w{k + 1} AS (
        SELECT w1 - {LOGREG_LR} * ((g1 / 1e12) / n) AS w1,
               w2 - {LOGREG_LR} * ((g2 / 1e12) / n) AS w2,
               b  - {LOGREG_LR} * ((gb / 1e12) / n) AS b
        FROM w{k}, s{k}, nn
    )""")
    kf = LOGREG_ITERS
    parts.append(f""",
    zf AS (SELECT y, w1 * x1 + w2 * x2 + b AS z FROM f, w{kf})
    SELECT (SELECT CAST(n AS BIGINT) FROM nn) AS n_docs,
           ROUND(w1 * 1e6, 0) / 1e6 + 0 AS w1,
           ROUND(w2 * 1e6, 0) / 1e6 + 0 AS w2,
           ROUND(b * 1e6, 0) / 1e6 + 0 AS b,
           (SELECT ROUND(SUM(CASE WHEN (z >= 0) = (y = 1.0)
                                  THEN 1 ELSE 0 END) / (SELECT n FROM nn)
                         * 1e4, 0) / 1e4 + 0
            FROM zf) AS acc
    FROM w{kf}""")
    return "".join(parts)


@query("l_ml_logreg_train", oracle=_logreg_oracle())
def l_ml_logreg_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed LOGISTIC-REGRESSION TRAINING by full-batch gradient
    descent — the quality-classifier training loop data pipelines run
    over corpus features (fastText-style quality gates, CCNet LM
    filters): features are document length signals, the label is
    lang='en', and {ITERS} synchronous GD steps fit (w1, w2, b). Output:
    the learned weights and training accuracy. l_ml_score_linear applies
    a FROZEN model; this one LEARNS the model inside the engine.

    The squashing function is the rational sigmoid 0.5 + z/(2(1+|z|)) —
    same shape and gradient signs as 1/(1+e^-z) but built from +,*,/,
    abs only, so both engines compute bit-identical doubles (exp()
    differs in the last ulp across libm implementations, which an
    ITERATED trainer would amplify; the rational form removes the class
    of failure instead of rounding over it).

    Determinism (rule 11e): each doc's gradient contribution is
    truncated to a 1e-12 fixed-point BIGINT on the executor and the
    shuffle reduces INTEGERS — any summation order gives the same sums
    (|contribution| <= 6e12, so overflow needs > 1.5e6 docs per the
    BIGINT range; at larger corpora widen to per-partition partial
    DECIMAL(38,0) sums, same plan shape). Weight updates then happen on
    the driver from three exact integers — the only driver-side state
    is the 3-float parameter vector per step (the l_embedding_pca
    bounded-vector pattern; lineage never grows, the feature frame is
    localCheckpoint-ed ONCE and rescanned per step from memory).

    Scale: each GD step is one map (project z, quantize gradients) +
    one 3-column integer SUM with map-side partials — the classic
    synchronous-SGD allreduce expressed as a Spark agg. 1000 executors
    each reduce their partition's integers; the driver applies the
    update and broadcasts the next weights as literals in the following
    plan. Steps are O(scan); nothing accumulates.
    """
    d = table(spark, sf_dir, "documents")
    f = d.selectExpr(
        "length(text) / 100.0 AS x1",
        "size(split(text, ' ')) / 50.0 AS x2",
        "CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y",
    ).localCheckpoint()
    n = float(f.count())  # bounded: one scalar
    w1 = w2 = b = 0.0
    for _ in range(LOGREG_ITERS):
        z = F.lit(w1) * F.col("x1") + F.lit(w2) * F.col("x2") + F.lit(b)
        s = F.lit(0.5) + z / (F.lit(2.0) * (F.lit(1.0) + F.abs(z)))
        row = f.select(
            F.sum(
                ((s - F.col("y")) * F.col("x1") * F.lit(1e12)).cast("bigint")
            ).alias("g1"),
            F.sum(
                ((s - F.col("y")) * F.col("x2") * F.lit(1e12)).cast("bigint")
            ).alias("g2"),
            F.sum(
                ((s - F.col("y")) * F.lit(1e12)).cast("bigint")
            ).alias("gb"),
        ).collect()[0]  # bounded: three integer sums per step
        w1 = w1 - LOGREG_LR * ((row["g1"] / 1e12) / n)
        w2 = w2 - LOGREG_LR * ((row["g2"] / 1e12) / n)
        b = b - LOGREG_LR * ((row["gb"] / 1e12) / n)
    zf = F.lit(w1) * F.col("x1") + F.lit(w2) * F.col("x2") + F.lit(b)
    return f.agg(
        F.sum(((zf >= 0) == (F.col("y") == 1.0)).cast("int")).alias("okc")
    ).select(
        F.lit(int(n)).cast("bigint").alias("n_docs"),
        dround(F.lit(w1), 6).alias("w1"),
        dround(F.lit(w2), 6).alias("w2"),
        dround(F.lit(b), 6).alias("b"),
        dround(F.col("okc") / F.lit(n), 4).alias("acc"),
    )


l_ml_logreg_train.__doc__ = l_ml_logreg_train.__doc__.replace(
    "{ITERS}", str(LOGREG_ITERS)
)


@query(
    "l_span_corrupt",
    oracle="""
    WITH tk AS (
        SELECT doc_id, i AS p, w[i] AS tok,
               substring(md5(doc_id::VARCHAR || ':' || i::VARCHAR), 1, 2)
                   < '26' AS m
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) s
    ), sp AS (
        SELECT doc_id, p, tok, m,
               (m AND NOT coalesce(
                   lag(m) OVER (PARTITION BY doc_id ORDER BY p),
                   FALSE)) AS st
        FROM tk
    ), sid AS (
        SELECT doc_id, p, tok, m, st,
               SUM(CASE WHEN st THEN 1 ELSE 0 END) OVER (
                   PARTITION BY doc_id ORDER BY p
                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM sp
    )
    SELECT doc_id,
           string_agg(
               CASE WHEN NOT m THEN tok
                    WHEN st THEN '<X' || (sid - 1) || '>' END,
               ' ' ORDER BY p) AS input_text,
           COALESCE(string_agg(
               CASE WHEN m AND st THEN '<X' || (sid - 1) || '>' || ' ' || tok
                    WHEN m THEN tok END,
               ' ' ORDER BY p), '') AS target_text,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
           CAST(SUM(CASE WHEN st THEN 1 ELSE 0 END) AS BIGINT) AS n_spans
    FROM sid GROUP BY doc_id
    """,
)
def l_span_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-STYLE SPAN CORRUPTION (Raffel et al., 2020): mask ~15% of
    each document's token positions, collapse each maximal masked run
    into one numbered sentinel in the encoder input, and emit the
    sentinel-delimited masked spans as the decoder target — the
    denoising-objective data prep a seq2seq pretraining pipeline runs
    over the whole corpus.

    Determinism: the per-position mask decision is
    ``substring(md5("{doc_id}:{pos}"), 1, 2) < '26'`` (38/256 ≈ 14.8%
    — an md5-replayable Bernoulli coin, the l_sim_join_lsh/ivf
    convention), positions are 1-based in both engines, and the output
    is pure strings + integers — no floats anywhere. Span numbering is
    a running sum of span-start flags under the per-doc position
    order; a doc with no masked token gets target_text = '' (pinned
    via COALESCE — DuckDB's empty string_agg is NULL, Spark's empty
    concat_ws is '').

    Scale: posexplode fans out linearly (only doc_id rides along, rule
    12a); the lag/running-sum windows and both conditional collects
    are (doc_id)-keyed — one shuffle, per-partition work bounded by
    document length; sentence assembly is array_sort over per-doc
    pieces, never a global order. At 100 TB this is a map + one keyed
    exchange, the same shape as tokenization itself.
    """
    d = table(spark, sf_dir, "documents")
    tk = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("p0", "tok")
    ).select(
        "doc_id",
        (F.col("p0") + 1).alias("p"),
        "tok",
        (
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"),
                        F.lit(":"),
                        (F.col("p0") + 1).cast("string"),
                    )
                ),
                1,
                2,
            )
            < "26"
        ).alias("m"),
    )
    wo = Window.partitionBy("doc_id").orderBy("p")
    sp = tk.withColumn(
        "st", F.col("m") & ~F.coalesce(F.lag("m").over(wo), F.lit(False))
    )
    sid = sp.withColumn(
        "sid",
        F.sum(F.col("st").cast("int")).over(
            wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    sentinel = F.concat(
        F.lit("<X"), (F.col("sid") - 1).cast("string"), F.lit(">")
    )
    piece_in = F.when(~F.col("m"), F.col("tok")).when(F.col("st"), sentinel)
    piece_tgt = F.when(
        F.col("m") & F.col("st"),
        F.concat(sentinel, F.lit(" "), F.col("tok")),
    ).when(F.col("m"), F.col("tok"))
    joined = lambda c: F.concat_ws(
        " ",
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("p"), c.alias("x")))),
            lambda s: s["x"],
        ),
    )
    return sid.groupBy("doc_id").agg(
        joined(piece_in).alias("input_text"),
        joined(piece_tgt).alias("target_text"),
        F.count("*").alias("n_tokens"),
        F.sum(F.col("m").cast("int")).cast("bigint").alias("n_masked"),
        F.sum(F.col("st").cast("int")).cast("bigint").alias("n_spans"),
    )
