"""Tier U — curation calibration, selection and deterministic
sampling surfaces a training-data pipeline runs between dedup and
packing: MinHash estimator calibration against exact ground truth (the
first fully SQL-oracled MinHash here — md5-derived hashes replay
bit-for-bit in DuckDB, following the round-9 l_dedup_simhash
graduation), corpus duplicate-n-gram rates (the RefinedWeb-style
repetition metric, per source), deterministic hash-bucketed negative
sampling for contrastive training pairs, a Rocchio nearest-centroid
language classifier in quantized TF-IDF space (an oracled sibling of
the rows-only l_text_langid), dedup-rate and cross-source overlap
reports, CCNet quality buckets, and the mixture recipe: temperature
weights, weighted reservoir sampling, budget-capped selection,
best-of-n, and the end-to-end mixture build.

Float policy (CLAUDE.md rules 4/5b/6/9/11e): every cross-row float SUM
is an exact integer sum (counts or fixed-point BIGINT weights); all
post-aggregation arithmetic is the IDENTICAL double expression on both
engines; doubles in output pass through dround.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sqlengine_spark.functions import dround
from sqlengine_spark.operators.tier_s_stats import quality_signals, quality_votes
from sqlengine_spark.registry import query
from sqlengine_spark.session import scatter, table

# ---------------------------------------------------------------------------
# shared: 60-bit engine-portable hash (md5 hex prefix → BIGINT).  15 hex
# chars = 60 bits < 2^63, so the signed BIGINT cast is overflow-safe in
# BOTH engines (16 chars would wrap Spark's cast and error DuckDB's).
# ---------------------------------------------------------------------------


def _h60(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def _h60_sql(expr: str) -> str:
    return f"CAST(('0x' || substring(md5({expr}), 1, 15)) AS BIGINT)"


_N_HASH = 16  # minhash signature length: 4 bands x 4 rows
_N_BANDS, _BAND_ROWS = 4, 4


def _minhash_calibration_oracle() -> str:
    mins = ",\n               ".join(
        "MIN({h}) AS m{s}".format(h=_h60_sql(f"'{s}|' || sh"), s=s)
        for s in range(_N_HASH)
    )
    band_sqls = []
    for band in range(_N_BANDS):
        lo = band * _BAND_ROWS
        eq = " AND ".join(
            f"a.m{s} = b.m{s}" for s in range(lo, lo + _BAND_ROWS)
        )
        resid = ""
        for earlier in range(band):
            elo = earlier * _BAND_ROWS
            eeq = " AND ".join(
                f"a.m{s} = b.m{s}" for s in range(elo, elo + _BAND_ROWS)
            )
            resid += f" AND NOT ({eeq})"
        cols = ", ".join(
            [f"a.m{s} AS am{s}" for s in range(_N_HASH)]
            + [f"b.m{s} AS bm{s}" for s in range(_N_HASH)]
        )
        band_sqls.append(
            f"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, {cols}\n"
            f"         FROM sig a JOIN sig b\n"
            f"           ON {eq} AND a.doc_id < b.doc_id{resid}"
        )
    cand = "\n        UNION ALL\n        ".join(band_sqls)
    matches = " + ".join(
        f"CAST(am{s} = bm{s} AS INT)" for s in range(_N_HASH)
    )
    return f"""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(generate_series(1, len(w) - 4),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
                           w[i+3] || ' ' || w[i+4])) AS sh
        FROM w WHERE len(w) >= 5
    ), sig AS (
        SELECT doc_id,
               {mins}
        FROM sh GROUP BY doc_id
    ), cand AS (
        {cand}
    ), inter AS (
        SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS i
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.doc_a
        JOIN sh sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
        GROUP BY c.doc_a, c.doc_b
    ), cnt AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id
    )
    SELECT c.doc_a, c.doc_b,
           ROUND(({matches}) / CAST({_N_HASH} AS DOUBLE) * 1e6) / 1e6 + 0.0
               AS est_j,
           ROUND(COALESCE(v.i, 0) / CAST(ca.n + cb.n - COALESCE(v.i, 0)
                 AS DOUBLE) * 1e6) / 1e6 + 0.0 AS exact_j,
           ROUND(ABS(({matches}) / CAST({_N_HASH} AS DOUBLE)
                 - COALESCE(v.i, 0) / CAST(ca.n + cb.n - COALESCE(v.i, 0)
                   AS DOUBLE)) * 1e6) / 1e6 + 0.0 AS abs_err
    FROM cand c
    LEFT JOIN inter v ON v.doc_a = c.doc_a AND v.doc_b = c.doc_b
    JOIN cnt ca ON ca.doc_id = c.doc_a
    JOIN cnt cb ON cb.doc_id = c.doc_b
    """


@query("l_minhash_calibration", oracle=_minhash_calibration_oracle())
def l_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash Jaccard ESTIMATOR CALIBRATION: for every banded-LSH
    candidate pair, emit the 16-hash MinHash estimate next to the exact
    5-gram-shingle Jaccard and the absolute error — the measurement a
    pipeline owner runs before trusting an LSH dedup threshold (pick
    bands/rows from the observed error curve, not the textbook
    formula).

    This is the first fully ORACLED MinHash in the repo (the production
    l_dedup_near_minhash stays on xxhash64 + recall pytest): the row
    hashes are 60-bit md5-prefix values (``'{s}|' || shingle``) that
    DuckDB replays bit-for-bit, so signature mins, band collisions,
    estimate and exact Jaccard all hash-match cross-engine.

    Shape: one shingle explode → distinct, ONE 16-min aggregation pass
    for the full signature (no per-hash scan), then ONE fused band
    self-join: each doc explodes into 4 (band, b0..b3) rows carrying
    its full signature array, a single 5-key equi-join finds all
    same-band collisions, and a pair-keyed groupBy dedups pairs that
    agree in multiple bands (r10 verdict item 5 — this replaced 4
    stacked band joins whose residual "no earlier band agreed"
    predicates grew O(bands²); paired-interleaved at sf0.1: 5.59/5.48 s
    → 5.09/4.70 s medians over 2×5 reps, identical 254 rows). The
    estimate is a JVM-side zip_with over the carried signature arrays;
    the exact-verify stage joins candidate pairs to shingle postings.

    Scale: the fused band join is one equi-join on (band, 4 mins) —
    collision groups are true near-dup clusters, so candidate volume is
    output-bound, never N², and the pair-dedup shuffle moves only that
    output-bound volume; the verify stage is |cands| x shingles — the
    same bounded shape as _verify_jaccard. At 1000 executors this is
    one exchange of 4 band rows per doc instead of four full-signature
    self-join exchanges.
    """
    # r12 scatter: single-split fixture scans serialize the
    # map stage on one core (see session.scatter; no-op at scale)
    d = scatter(spark, table(spark, sf_dir, "documents"))
    # generator + codegen projection (pin 15a): the old transform
    # lambda was interpreted AND its slice(toks, i, 5) body indexed
    # the outer split() expr — re-evaluated per element (rule 14c).
    # The token array projects below the Generate (once per doc).
    sh = (
        d.select("doc_id", F.split(F.col("text"), " ").alias("w"))
        .select(
            "doc_id",
            "w",
            F.explode(
                F.expr(
                    "CASE WHEN size(w) >= 5 THEN sequence(1, size(w) - 4)"
                    " ELSE CAST(array() AS ARRAY<INT>) END"
                )
            ).alias("i"),
        )
        .select(
            "doc_id", F.expr("concat_ws(' ', slice(w, i, 5))").alias("sh")
        )
        .distinct()
        .localCheckpoint()
    )
    sig = sh.groupBy("doc_id").agg(
        *[
            F.min(_h60(F.concat(F.lit(f"{s}|"), F.col("sh")))).alias(f"m{s}")
            for s in range(_N_HASH)
        ]
    )  # single consumer since the band-join fuse — no checkpoint needed
    sigarr = F.array(*[F.col(f"m{s}") for s in range(_N_HASH)])
    band_rows = sig.select(
        "doc_id",
        sigarr.alias("sig"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        *[
                            F.col(f"m{band * _BAND_ROWS + r}").alias(f"b{r}")
                            for r in range(_BAND_ROWS)
                        ],
                    )
                    for band in range(_N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "sig", "bb.band", *[f"bb.b{r}" for r in range(_BAND_ROWS)])
    band_keys = ["band"] + [f"b{r}" for r in range(_BAND_ROWS)]
    a = band_rows.select(
        F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"), *band_keys
    )
    b = band_rows.select(
        F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"), *band_keys
    )
    # one fused equi-join over all bands; pairs agreeing in >1 band
    # collapse in the output-bound pair-keyed dedup agg
    cands = (
        a.join(b, band_keys)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.first("sig_a").alias("sig_a"), F.first("sig_b").alias("sig_b"))
        # candidate pairs feed 3 consumers (candidate-doc semi-join,
        # exact intersection, final estimate projection) — one
        # materialization (rule 11a)
        .localCheckpoint()
    )

    matches = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)
    )
    est = matches / F.lit(float(_N_HASH))

    # SEMI-JOIN PRUNE (r9 verdict item 4): the exact-verify stage only
    # needs postings for docs that appear in some candidate pair, but
    # the old plan shuffled the FULL postings frame into both sides of
    # the pair join. The candidate-doc set is output-bounded (true
    # near-dup cluster members), so broadcast it and prune the postings
    # MAP-SIDE before any verify shuffle — at 100 TB this is the
    # difference between shuffling the corpus's shingles twice and
    # shuffling only the near-dup clusters'.
    cand_ids = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .unionAll(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    shc = sh.join(F.broadcast(cand_ids), "doc_id", "left_semi")
    sa = shc.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("f_a"))
    sb = shc.select(F.col("doc_id").alias("doc_b2"), F.col("sh").alias("f_b"))
    inter = (
        cands.select("doc_a", "doc_b")
        .join(sa, "doc_a")
        .join(sb, (F.col("doc_b") == F.col("doc_b2")) & (F.col("f_a") == F.col("f_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("i"))
    )
    cnt = shc.groupBy("doc_id").agg(F.count("*").alias("n"))
    i0 = F.coalesce(F.col("i"), F.lit(0))
    exact = i0 / (F.col("na") + F.col("nb") - i0).cast("double")
    return (
        cands.select("doc_a", "doc_b", est.alias("est_raw"))
        .join(inter, ["doc_a", "doc_b"], "left")
        .join(
            F.broadcast(cnt.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))),
            "doc_a",
        )
        .join(
            F.broadcast(cnt.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            dround(F.col("est_raw"), 6).alias("est_j"),
            dround(exact, 6).alias("exact_j"),
            dround(F.abs(F.col("est_raw") - exact), 6).alias("abs_err"),
        )
    )


@query(
    "l_dup_ngram_rate",
    oracle="""
    WITH w AS (
        SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
    ), g AS (
        SELECT doc_id, source,
               unnest(list_transform(generate_series(1, len(w) - 7),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
                           w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' ||
                           w[i+6] || ' ' || w[i+7])) AS g
        FROM w WHERE len(w) >= 8
    )
    SELECT source,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS total_8grams,
           CAST(COUNT(DISTINCT g) AS BIGINT) AS distinct_8grams,
           ROUND((1.0 - COUNT(DISTINCT g) / CAST(COUNT(*) AS DOUBLE)) * 1e6)
               / 1e6 + 0.0 AS dup_rate
    FROM g GROUP BY source
    """,
)
def l_dup_ngram_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplicate-8-gram rate — the corpus REPETITION metric
    (RefinedWeb / Gopher "rep" family): what fraction of 8-gram
    occurrences in a source are re-occurrences of an already-seen
    8-gram. High dup_rate flags boilerplate-heavy or template-generated
    sources before they poison a training mix; unlike the per-document
    l_text_repetition this is corpus-level, so it catches cross-document
    boilerplate a per-doc metric can't see.

    Shape (r15 rewrite, guide §2.3 + pin 15a): the old single-agg form
    hid two corpus-scale defects the r15 plan dump exposed — (a) the
    8-gram list was built by an INTERPRETED transform() lambda (pin
    15a: HOF bodies get no whole-stage codegen), and (b) the
    count(*) + 2x COUNT(DISTINCT) aggregate Expand-tripled the gram
    stream before its shuffle. Now the grams come from a codegen
    Generate over a plain index sequence with concat_ws(slice(w,i,8))
    as an ORDINARY projection (the chrf recipe), the (source, g)
    partial agg shuffles each gram ONCE, per-source totals reduce the
    bounded gram-count table, and n_docs comes from the base table
    with no explode at all. Paired order-alternated: sf0.1
    2.325 -> 0.833 s (0.36x, 5/5), x100 16.559 -> 2.716 s (0.16x,
    4/4); scatter() measured on top and REJECTED (0.83 -> 1.38 s —
    the codegen map stage is too cheap to amortize the round-robin).
    ``size >= 8`` guards the descending-sequence trap (rule 11d).

    Scale: one explode + one (source, g) partial+final agg + one
    |sources|-keyed reduction. At 100 TB the distinct count would move
    to an HLL sketch (d_agg_approx_distinct pattern); the exact form
    is the calibration oracle.
    """
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    base = d.filter(F.size(toks) >= 8)
    idx = base.select("source", toks.alias("w")).select(
        "source",
        "w",
        F.explode(F.sequence(F.lit(1), F.size("w") - 7)).alias("i"),
    )
    g = idx.select(
        "source", F.concat_ws(" ", F.slice("w", F.col("i"), 8)).alias("g")
    )
    gc = g.groupBy("source", "g").agg(F.count("*").alias("occ"))
    per_src = gc.groupBy("source").agg(
        F.sum("occ").alias("total_8grams"),
        F.count("*").alias("distinct_8grams"),
    )
    docs = base.groupBy(F.col("source").alias("src")).agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    # null-safe: the oracle's GROUP BY source keeps a NULL-source group
    return docs.join(per_src, docs.src.eqNullSafe(per_src.source)).select(
        "source",
        "n_docs",
        "total_8grams",
        "distinct_8grams",
        dround(
            F.lit(1.0)
            - F.col("distinct_8grams") / F.col("total_8grams").cast("double"),
            6,
        ).alias("dup_rate"),
    )


@query(
    "l_negative_sampling",
    oracle="""
    WITH q AS (
        SELECT doc_id AS query_doc, lang, source,
               doc_id % 8 AS bkt
        FROM documents WHERE doc_id % 20 = 0
    ), c AS (
        SELECT doc_id AS neg_doc, lang, source,
               doc_id % 8 AS bkt
        FROM documents
    ), ranked AS (
        SELECT q.query_doc, c.neg_doc, q.lang,
               ROW_NUMBER() OVER (
                   PARTITION BY q.query_doc
                   ORDER BY md5(CAST(q.query_doc AS VARCHAR) || ':' ||
                                CAST(c.neg_doc AS VARCHAR)), c.neg_doc
               ) AS neg_rank
        FROM q JOIN c ON c.lang = q.lang AND c.bkt = q.bkt
                     AND c.source <> q.source
    )
    SELECT query_doc, neg_doc, lang, CAST(neg_rank AS INT) AS neg_rank
    FROM ranked WHERE neg_rank <= 3
    """,
)
def l_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic NEGATIVE SAMPLING for contrastive training pairs:
    for each query document, pick k=3 in-language, out-of-source
    negatives by ranking candidates under a pair-keyed md5 — a
    reproducible stand-in for RNG sampling (same pairs on every run,
    every engine, any partitioning), which is what makes a training-set
    build auditable.

    Blocking does the scale work: candidates are hash-bucketed
    (doc_id % 8) and each query probes ONLY its own bucket — the join
    is an equi-join on (lang, bucket), so per-query candidate fan-out
    is |langmates|/8 regardless of corpus size, and raising the bucket
    count holds it constant at 100 TB. The md5 ranking inside the
    (query)-partitioned window is WindowGroupLimit-pruned to the top 3
    before any sort spills. Tiebreak: (md5, neg_doc) is a unique total
    order (rule 5).
    """
    d = table(spark, sf_dir, "documents")
    q = d.filter(F.col("doc_id") % 20 == 0).select(
        F.col("doc_id").alias("query_doc"),
        "lang",
        F.col("source").alias("q_source"),
        (F.col("doc_id") % 8).alias("bkt"),
    )
    c = d.select(
        F.col("doc_id").alias("neg_doc"),
        "lang",
        F.col("source").alias("c_source"),
        (F.col("doc_id") % 8).alias("bkt"),
    )
    pairs = q.join(c, ["lang", "bkt"]).filter(
        F.col("c_source") != F.col("q_source")
    )
    rk = F.row_number().over(
        W.partitionBy("query_doc").orderBy(
            F.md5(
                F.concat(
                    F.col("query_doc").cast("string"),
                    F.lit(":"),
                    F.col("neg_doc").cast("string"),
                )
            ),
            "neg_doc",
        )
    )
    return (
        pairs.select("query_doc", "neg_doc", "lang", rk.alias("neg_rank"))
        .filter(F.col("neg_rank") <= 3)
    )


@query(
    "l_tfidf_rocchio",
    oracle="""
    WITH tf AS (
        SELECT doc_id, doc_id % 2 = 0 AS is_train, lang, tok,
               CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
              FROM documents)
        GROUP BY doc_id, lang, tok
    ), ntr AS (
        SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM tf
        WHERE is_train
    ), idf AS (
        SELECT tok, ln(CAST((SELECT n FROM ntr) AS DOUBLE)
                       / CAST(COUNT(DISTINCT doc_id) AS DOUBLE)) AS idf
        FROM tf WHERE is_train GROUP BY tok
    ), wq AS (
        SELECT f.doc_id, f.is_train, f.lang, f.tok,
               CAST(FLOOR(f.tf * i.idf * 1e4 + 0.5) AS BIGINT) AS wq
        FROM tf f JOIN idf i ON i.tok = f.tok
    ), csum AS (
        SELECT lang, tok, SUM(wq) AS s,
               (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) FROM wq w2
                WHERE w2.is_train AND w2.lang = wq.lang) AS n_l
        FROM wq WHERE is_train GROUP BY lang, tok
    ), cq AS (
        SELECT lang, tok,
               CAST(FLOOR(CAST(s AS DOUBLE) / CAST(n_l AS DOUBLE) + 0.5)
                    AS BIGINT) AS cq
        FROM csum
    ), cnorm AS (
        SELECT lang, SUM(cq * cq) AS nc2 FROM cq GROUP BY lang
    ), dnorm AS (
        SELECT doc_id, SUM(wq * wq) AS nd2 FROM wq
        WHERE NOT is_train GROUP BY doc_id
    ), dots AS (
        SELECT w.doc_id, w.lang AS true_lang, c.lang AS cand_lang,
               SUM(w.wq * c.cq) AS dot
        FROM wq w JOIN cq c ON c.tok = w.tok
        WHERE NOT w.is_train
        GROUP BY w.doc_id, w.lang, c.lang
    ), scored AS (
        SELECT d.doc_id, d.true_lang, d.cand_lang,
               CAST(d.dot AS DOUBLE)
                   / (sqrt(CAST(n.nd2 AS DOUBLE)) * sqrt(CAST(c.nc2 AS DOUBLE)))
                   AS cos,
               ROW_NUMBER() OVER (
                   PARTITION BY d.doc_id
                   ORDER BY CAST(d.dot AS DOUBLE)
                       / (sqrt(CAST(n.nd2 AS DOUBLE))
                          * sqrt(CAST(c.nc2 AS DOUBLE))) DESC, d.cand_lang
               ) AS rk
        FROM dots d
        JOIN dnorm n ON n.doc_id = d.doc_id
        JOIN cnorm c ON c.lang = d.cand_lang
    )
    SELECT true_lang, cand_lang AS pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(SUM(CAST(FLOOR(cos * 1e6 + 0.5) AS BIGINT))
                 / CAST(COUNT(*) AS DOUBLE) / 1e6 * 1e6) / 1e6 + 0.0
               AS avg_cos
    FROM scored WHERE rk = 1
    GROUP BY true_lang, cand_lang
    """,
)
def l_tfidf_rocchio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rocchio NEAREST-CENTROID language classification in quantized
    TF-IDF space: train per-language centroids on even doc_ids, assign
    each odd doc to the cosine-nearest centroid, and report the
    confusion matrix with mean assignment confidence — the oracled
    sibling of the rows-only l_text_langid, and the centroid-classifier
    pattern (fasttext-style router, topic gate) curation stacks use.

    Determinism pins (all CLAUDE.md rule 11e / 4): TF-IDF weights are
    half-up-quantized to 1e-4 fixed-point BIGINTs, so per-doc norms and
    doc-centroid dots are exact integer sums (order-immune in both
    engines); centroid components are re-quantized AFTER the exact
    integer mean (keeping products within int64 at any class size);
    idf = ln(N/df) is the same libm call on exact integer ratios; the
    per-pair cosine is then the identical double expression. avg_cos
    sums per-row fixed-point cosines as BIGINTs before the final
    divide, so group order can't flip the hash.

    Scale (rule 12f — classes are BOUNDED): the centroid table is
    |langs| x |vocab| (tiny, broadcast); scoring is one postings join +
    a (doc, lang)-keyed partial agg — a thin doc-keyed shuffle. The
    per-doc argmax window is |langs| rows per partition key; at
    warehouse scale it collapses to max_by. No N² anywhere.
    """
    d = table(spark, sf_dir, "documents")
    tf = (
        d.select(
            "doc_id",
            "lang",
            (F.col("doc_id") % 2 == 0).alias("is_train"),
            F.explode(F.split(F.col("text"), " ")).alias("tok"),
        )
        .groupBy("doc_id", "lang", "is_train", "tok")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint()  # single corpus scan feeds train + test paths
    )
    tr = tf.filter(F.col("is_train"))
    n_train = tr.select(F.countDistinct("doc_id")).collect()[0][0]  # bounded: 1 scalar
    idf = tr.groupBy("tok").agg(
        (
            F.log(F.lit(float(n_train)) / F.countDistinct("doc_id").cast("double"))
        ).alias("idf")
    )
    wq = tf.join(F.broadcast(idf), "tok").select(
        "doc_id",
        "lang",
        "is_train",
        "tok",
        F.floor(F.col("tf") * F.col("idf") * 1e4 + 0.5).cast("bigint").alias("wq"),
    )
    n_l = (
        wq.filter(F.col("is_train"))
        .groupBy("lang")
        .agg(F.countDistinct("doc_id").alias("n_l"))
    )
    cq = (
        wq.filter(F.col("is_train"))
        .groupBy("lang", "tok")
        .agg(F.sum("wq").alias("s"))
        .join(F.broadcast(n_l), "lang")
        .select(
            "lang",
            "tok",
            F.floor(F.col("s").cast("double") / F.col("n_l").cast("double") + 0.5)
            .cast("bigint")
            .alias("cq"),
        )
    )
    cnorm = cq.groupBy("lang").agg(F.sum(F.col("cq") * F.col("cq")).alias("nc2"))
    te = wq.filter(~F.col("is_train"))
    dnorm = te.groupBy("doc_id").agg(F.sum(F.col("wq") * F.col("wq")).alias("nd2"))
    dots = (
        te.join(
            F.broadcast(cq.select(F.col("lang").alias("cand_lang"), "tok", "cq")),
            "tok",
        )
        .groupBy("doc_id", F.col("lang").alias("true_lang"), "cand_lang")
        .agg(F.sum(F.col("wq") * F.col("cq")).alias("dot"))
    )
    cos = F.col("dot").cast("double") / (
        F.sqrt(F.col("nd2").cast("double")) * F.sqrt(F.col("nc2").cast("double"))
    )
    scored = (
        dots.join(dnorm, "doc_id")
        .join(F.broadcast(cnorm.select(F.col("lang").alias("cand_lang"), "nc2")), "cand_lang")
        .select("doc_id", "true_lang", "cand_lang", cos.alias("cos"))
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy(F.col("cos").desc(), "cand_lang")
            ),
        )
    )
    return (
        scored.filter(F.col("rk") == 1)
        .groupBy("true_lang", F.col("cand_lang").alias("pred_lang"))
        .agg(
            F.count("*").alias("n_docs"),
            dround(
                F.sum(F.floor(F.col("cos") * 1e6 + 0.5).cast("bigint"))
                / F.count("*").cast("double")
                / 1e6,
                6,
            ).alias("avg_cos"),
        )
    )


@query(
    "l_pii_redact",
    oracle="""
    WITH staged AS (
        SELECT c_mktsegment,
               c_name || ' reachable at '
                 || lower(replace(c_name, '#', '')) || '@'
                 || lower(c_mktsegment) || '.example.com'
                 || ' or +1-' || CAST(200 + c_custkey % 700 AS VARCHAR)
                 || '-' || CAST(100 + (c_custkey * 7) % 900 AS VARCHAR)
                 || '-' || CAST(1000 + (c_custkey * 13) % 9000 AS VARCHAR)
                 || '; card ' || CAST(1000 + (c_custkey * 17) % 9000 AS VARCHAR)
                 || ' ' || CAST(1000 + (c_custkey * 29) % 9000 AS VARCHAR)
                 || ' ' || CAST(1000 + (c_custkey * 41) % 9000 AS VARCHAR)
                 || ' ' || CAST(1000 + (c_custkey * 53) % 9000 AS VARCHAR)
                 || ' ref R' || CAST(c_custkey AS VARCHAR) AS txt
        FROM customer
    ), red AS (
        SELECT c_mktsegment,
               len(regexp_extract_all(txt,
                   '[a-z0-9]+@[a-z][a-z.]+')) AS n_email,
               len(regexp_extract_all(txt,
                   '\\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS n_phone,
               len(regexp_extract_all(txt,
                   '[0-9]{4} [0-9]{4} [0-9]{4} [0-9]{4}')) AS n_card,
               regexp_replace(regexp_replace(regexp_replace(txt,
                   '[a-z0-9]+@[a-z][a-z.]+', '[EMAIL]', 'g'),
                   '\\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g'),
                   '[0-9]{4} [0-9]{4} [0-9]{4} [0-9]{4}', '[CARD]', 'g')
                   AS cleaned
        FROM staged
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(n_email) AS BIGINT) AS emails,
           CAST(SUM(n_phone) AS BIGINT) AS phones,
           CAST(SUM(n_card) AS BIGINT) AS cards,
           CAST(SUM(length(regexp_replace(cleaned, '[^0-9]', '', 'g')))
                AS BIGINT) AS residual_digits
    FROM red GROUP BY c_mktsegment
    """,
)
def l_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII DETECT + REDACT sweep — the compliance pass every corpus runs
    before training: regex-detect emails / phone numbers / card-like
    digit groups, count hits per class, redact them, and prove the
    redaction worked via a residual-digit audit (only the non-PII name
    and order-ref digits survive).

    The PII-bearing text is STAGED deterministically from the customer
    fixture (the synthetic documents corpus contains no digits at all),
    so both engines replay the identical construction and the detect /
    mask plumbing — the actual operator under test — is exercised on
    realistic shapes. DuckDB regexp_replace needs the explicit 'g'
    flag (CLAUDE.md rule 6); Spark's is global by default.

    Scale: pure map-side codegen regexps plus one 5-group rollup —
    the exact shape a 100 TB PII sweep runs (linear scan, no shuffle
    beyond the final tiny agg). At warehouse scale the same expressions
    ride a streaming or batch scan unchanged.
    """
    c = table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    seg4 = lambda mult: (F.lit(1000) + (k * mult) % 9000).cast("string")
    txt = F.concat(
        F.col("c_name"),
        F.lit(" reachable at "),
        F.lower(F.replace(F.col("c_name"), F.lit("#"), F.lit(""))),
        F.lit("@"),
        F.lower(F.col("c_mktsegment")),
        F.lit(".example.com"),
        F.lit(" or +1-"),
        (F.lit(200) + k % 700).cast("string"),
        F.lit("-"),
        (F.lit(100) + (k * 7) % 900).cast("string"),
        F.lit("-"),
        (F.lit(1000) + (k * 13) % 9000).cast("string"),
        F.lit("; card "),
        seg4(17),
        F.lit(" "),
        seg4(29),
        F.lit(" "),
        seg4(41),
        F.lit(" "),
        seg4(53),
        F.lit(" ref R"),
        k.cast("string"),
    )
    email_re = r"[a-z0-9]+@[a-z][a-z.]+"
    phone_re = r"\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}"
    card_re = r"[0-9]{4} [0-9]{4} [0-9]{4} [0-9]{4}"
    red = table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment"),
        F.regexp_count(txt, F.lit(email_re)).alias("n_email"),
        F.regexp_count(txt, F.lit(phone_re)).alias("n_phone"),
        F.regexp_count(txt, F.lit(card_re)).alias("n_card"),
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(txt, email_re, "[EMAIL]"),
                phone_re,
                "[PHONE]",
            ),
            card_re,
            "[CARD]",
        ).alias("cleaned"),
    )
    return red.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_rows"),
        F.sum("n_email").alias("emails"),
        F.sum("n_phone").alias("phones"),
        F.sum("n_card").alias("cards"),
        F.sum(
            F.length(F.regexp_replace(F.col("cleaned"), "[^0-9]", ""))
        ).alias("residual_digits"),
    )


@query(
    "l_oversample_balance",
    oracle="""
    WITH n AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY lang
    ), m AS (
        SELECT MAX(n_docs) AS mx FROM n
    ), r AS (
        SELECT lang, n_docs,
               GREATEST(1, (SELECT mx FROM m) // n_docs) AS rep
        FROM n
    ), ex AS (
        SELECT d.lang, d.doc_id, r.n_docs, r.rep,
               unnest(generate_series(1, r.rep)) AS copy_no
        FROM documents d JOIN r ON r.lang = d.lang
    )
    SELECT lang,
           CAST(MIN(n_docs) AS BIGINT) AS n_docs,
           CAST(MIN(rep) AS BIGINT) AS rep,
           CAST(COUNT(*) AS BIGINT) AS n_after,
           CAST(SUM(doc_id * copy_no) AS BIGINT) AS checksum
    FROM ex GROUP BY lang
    """,
)
def l_oversample_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASS-BALANCING OVERSAMPLE — replicate minority-language
    documents floor(max_class / class) times so every language
    approaches the majority count: the standard rebalancing step before
    training a language-ID or quality classifier on a skewed corpus.
    The exploded copies are materialized (not just planned) and
    checksummed (sum over doc_id * copy_no) so the replication itself
    is verified, then rolled up per language.

    Determinism: the replication factor is integer floor division in
    both engines (DuckDB // and Spark DIV are both floor for
    nonnegative ints — rule 6's cast-rounding trap avoided); the
    checksum is an exact integer sum immune to row order.

    Scale: the max class count is a bounded 1-scalar driver collect
    (|langs| rows aggregated first); replication is a broadcast join of
    the |langs|-row factor table + explode(sequence(1, rep)) — map-side
    fan-out bounded by the skew ratio, no shuffle until the final
    per-lang rollup with map-side partials.
    """
    d = table(spark, sf_dir, "documents")
    n = d.groupBy("lang").agg(F.count("*").alias("n_docs"))
    # bounded: 1 scalar (majority-class size)
    mx = n.agg(F.max("n_docs").alias("mx")).collect()[0]["mx"]
    r = n.select(
        "lang",
        "n_docs",
        F.greatest(F.lit(1), F.expr(f"CAST({mx} AS BIGINT) DIV n_docs")).alias(
            "rep"
        ),
    )
    ex = (
        d.select("lang", "doc_id")
        .join(F.broadcast(r), "lang")
        .select(
            "lang",
            "doc_id",
            "n_docs",
            "rep",
            F.explode(F.sequence(F.lit(1).cast("bigint"), F.col("rep"))).alias(
                "copy_no"
            ),
        )
    )
    return ex.groupBy("lang").agg(
        F.min("n_docs").alias("n_docs"),
        F.min("rep").alias("rep"),
        F.count("*").alias("n_after"),
        F.sum(F.col("doc_id") * F.col("copy_no")).alias("checksum"),
    )


@query(
    "l_rl_group_advantage",
    oracle="""
    WITH r AS (
        SELECT user_id, event_id,
               CAST(CAST(trunc(value * 100) AS BIGINT) AS BIGINT) AS rc
        FROM events
    ), g AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(rc) AS BIGINT) AS s,
               CAST(SUM(rc * rc) AS BIGINT) AS ss
        FROM r GROUP BY user_id
    )
    SELECT r.user_id, r.event_id,
           ROUND(CAST(r.rc AS DOUBLE) / 1e2 * 1e2) / 1e2 AS reward,
           ROUND(
               (CAST(r.rc AS DOUBLE)
                - CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE))
               / sqrt((CAST(g.n * g.ss - g.s * g.s AS DOUBLE))
                      / CAST(g.n * g.n AS DOUBLE))
               * 1e9) / 1e9 + 0 AS advantage
    FROM r JOIN g ON g.user_id = r.user_id
    WHERE g.n >= 2 AND g.n * g.ss > g.s * g.s
    """,
)
def l_rl_group_advantage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-RELATIVE ADVANTAGE NORMALIZATION — the GRPO reward
    transform (Shao et al. 2024, "DeepSeekMath", eq. 3; public
    method): within each rollout group (here: a user's event stream;
    in an RLHF pipeline: the k sampled completions per prompt), each
    reward maps to (r - mean(group)) / std_pop(group), so the policy
    gradient sees per-group-centered, unit-scale advantages with no
    learned value model.

    Determinism: rewards quantize to exact integer cents at the row
    level (rule 6 cast-truncate); group moments are exact BIGINT sums;
    mean and population variance are single int-ratio divisions,
    std one correctly-rounded sqrt, the advantage one subtract + one
    divide — every op IEEE-identical cross-engine — then a 1e-9
    quantization with the rule-5b '+ 0' guard (advantages straddle
    zero by construction). Zero-variance and singleton groups are
    filtered by the SAME integer predicate in both engines (n*ss >
    s*s — exact, no float epsilon; the ADVICE-r9 cv_folds guard
    lesson applied at birth).

    Scale: one user-keyed partial-agg groupBy for the moments plus a
    user-keyed SHUFFLE-HASH equi-join back to the reward stream (both
    sides shuffle on the group key once; AQE handles group-count
    skew) — the exact shape a trillion-token RLHF reward pipe needs:
    no window, no global pass, group state is 3 scalars. The hint is
    load-bearing (r11, paired at x100): without it Catalyst broadcasts
    the FACT stream (BuildLeft on fixture-sized stats) — 2.141 s
    materialized vs 0.933 s hinted (merge 0.992 s), and a fact
    broadcast is exactly what must never happen at 100 TB. x100 ratio
    vs DuckDB: 2.52× → ~1.07× (parity); plan-asserted in
    tests/test_plans.py."""
    ev = table(spark, sf_dir, "events")
    r = ev.select(
        "user_id",
        "event_id",
        (F.col("value") * 100).cast("bigint").alias("rc"),
    )
    g = r.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rc").alias("s"),
        F.sum(F.col("rc") * F.col("rc")).alias("ss"),
    )
    j = r.join(g.hint("shuffle_hash"), "user_id").filter(
        (F.col("n") >= 2)
        & (F.col("n") * F.col("ss") > F.col("s") * F.col("s"))
    )
    mean = F.col("s").cast("double") / F.col("n").cast("double")
    varp = (F.col("n") * F.col("ss") - F.col("s") * F.col("s")).cast(
        "double"
    ) / (F.col("n") * F.col("n")).cast("double")
    return j.select(
        "user_id",
        "event_id",
        dround(F.col("rc").cast("double") / 1e2, 2).alias("reward"),
        dround(
            (F.col("rc").cast("double") - mean) / F.sqrt(varp), 9
        ).alias("advantage"),
    )


@query(
    "l_text_burstiness",
    oracle="""
    WITH tf AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t
        FROM documents
    ), c AS (
        SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS f
        FROM tf GROUP BY doc_id, t
    ), m AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               CAST(SUM(f) AS BIGINT) AS n_tokens,
               CAST(SUM(f * f) AS BIGINT) AS ss
        FROM c GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_types,
           ROUND(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                 * 1e9) / 1e9 AS ttr,
           ROUND(CAST(n_types * ss - n_tokens * n_tokens AS DOUBLE)
                 / CAST(n_types * n_tokens AS DOUBLE) * 1e9) / 1e9 + 0
               AS fano
    FROM m
    """,
)
def l_text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WORD BURSTINESS per document — the Fano factor (index of
    dispersion) of the within-document term-frequency distribution
    (Church & Gale 1995, "Poisson mixtures"; public method):
    fano = var(tf)/mean(tf) over the doc's term types. Uniform vocab
    use scores near the Poisson baseline; repetition-heavy,
    template-y, or keyword-stuffed text scores high — a corpus-quality
    signal complementary to l_text_repetition's n-gram repeat rate
    (this one is order-free) and to l_dup_ngram_rate. Type-token
    ratio rides along.

    Determinism: both statistics reduce to EXACT integer moments
    (n_types, n_tokens, sum tf^2) — fano = (V*ss - N^2)/(V*N) is one
    int-ratio division (population var over mean, algebraically
    folded), ttr likewise; one 1e-9 quantization each, with '+ 0' on
    fano (rule 5b: a doc where every type appears once gives
    V*ss = N^2 exactly, and near-boundary values can round negative).

    Scale: one (doc, token)-keyed partial-agg groupBy then one
    doc-keyed rollup — the l_text_tokenize_tf shuffle shape, linear in
    token count; no window, no join."""
    # r12 scatter: single-split fixture scans serialize the
    # map stage on one core (see session.scatter; no-op at scale)
    d = scatter(spark, table(spark, sf_dir, "documents"))
    c = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    m = c.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("f").alias("n_tokens"),
        F.sum(F.col("f") * F.col("f")).alias("ss"),
    )
    return m.select(
        "doc_id",
        "n_tokens",
        "n_types",
        dround(
            F.col("n_types").cast("double")
            / F.col("n_tokens").cast("double"),
            9,
        ).alias("ttr"),
        dround(
            (
                F.col("n_types") * F.col("ss")
                - F.col("n_tokens") * F.col("n_tokens")
            ).cast("double")
            / (F.col("n_types") * F.col("n_tokens")).cast("double"),
            9,
        ).alias("fano"),
    )


@query(
    "l_filter_attrition",
    oracle="""
    WITH tf AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t
        FROM documents
    ), c AS (
        SELECT doc_id, CAST(SUM(f) AS BIGINT) AS n_tok,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               CAST(MAX(f) AS BIGINT) AS max_tf
        FROM (SELECT doc_id, t, COUNT(*) AS f FROM tf GROUP BY doc_id, t)
        GROUP BY doc_id
    ), g AS (
        SELECT d.doc_id,
               CASE WHEN d.n_chars BETWEEN 60 AND 500 THEN 1 ELSE 0 END
                   AS g1,
               CASE WHEN d.lang IN ('en', 'de', 'fr') THEN 1 ELSE 0 END
                   AS g2,
               CASE WHEN c.max_tf * 100 <= 15 * c.n_tok THEN 1 ELSE 0 END
                   AS g3,
               CASE WHEN c.n_types >= 15 THEN 1 ELSE 0 END AS g4
        FROM documents d JOIN c ON c.doc_id = d.doc_id
    ), a AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_in,
               CAST(SUM(g1) AS BIGINT) AS a1,
               CAST(SUM(g2) AS BIGINT) AS a2,
               CAST(SUM(g3) AS BIGINT) AS a3,
               CAST(SUM(g4) AS BIGINT) AS a4,
               CAST(SUM(g1 * g2) AS BIGINT) AS c2,
               CAST(SUM(g1 * g2 * g3) AS BIGINT) AS c3,
               CAST(SUM(g1 * g2 * g3 * g4) AS BIGINT) AS c4
        FROM g
    )
    SELECT u.stage, u.gate, u.n_pass_alone, u.n_pass_cum,
           ROUND(CAST(u.n_pass_cum AS DOUBLE) / CAST(u.n_in AS DOUBLE)
                 * 1e6) / 1e6 AS cum_keep_rate
    FROM (
        SELECT 1 AS stage, 'length_60_500' AS gate, a1 AS n_pass_alone,
               a1 AS n_pass_cum, n_in FROM a
        UNION ALL
        SELECT 2, 'lang_en_de_fr', a2, c2, n_in FROM a
        UNION ALL
        SELECT 3, 'max_tf_le_15pct', a3, c3, n_in FROM a
        UNION ALL
        SELECT 4, 'types_ge_15', a4, c4, n_in FROM a
    ) u
    """,
)
def l_filter_attrition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY-FILTER ATTRITION FUNNEL — the per-gate kill report every
    corpus curation pipeline publishes (cf. the RefinedWeb/C4 filter
    cascade tables; public method): four representative gates (length
    band, language allowlist, max-token-frequency repetition cap,
    vocabulary-diversity floor) evaluated on every document in ONE
    pass, emitting each gate's standalone pass count AND the
    cumulative pass count in cascade order — the marginal-vs-joint
    attrition view that tells you which gate actually does the
    killing and which is redundant given its predecessors.

    Determinism: every gate is an integer predicate (the repetition
    cap is cross-multiplied — max_tf * 100 <= 15 * n_tok — so no
    float ratio exists anywhere); counts are exact BIGINTs; the keep
    rate is one int-ratio division.

    Scale: ZERO shuffles before the final 1-row aggregate (r11 rewrite,
    r10 verdict item 4 — the old plan shuffled every (doc, token) pair
    then every doc, then joined back to the dim row): per-doc token
    stats are computed MAP-SIDE on the document row itself — n_tok and
    n_types from size/array_distinct of the token array, max_tf as the
    longest equal-run of the SORTED token array via one JVM-side
    `aggregate` fold (O(L log L) per doc, no exchange). Gate flags and
    all 8 funnel counters then fold in ONE conditional-aggregation
    pass; output is 4 rows at any corpus size. At 1000 executors the
    whole query is one scan + a 1-row partial agg. Paired numbers
    (rule 13c, both recorded): sf0.1 0.737→0.603 s (new wins 5/5);
    x100 1.934→2.122 s (+10% — the sort+fold costs more than the
    shuffle on a 32-thread single JVM, but the old plan's exchange is
    the whole corpus's token stream at 100 TB, so the zero-shuffle
    plan is kept, the l_budget_select precedent)."""
    # NULL-text docs are excluded from the funnel in BOTH engines: the
    # oracle's unnest(string_split(NULL)) emits no rows so the inner
    # join drops the doc from n_in; the map-side plan must filter
    # explicitly or it would count the row (r11 code review — latent
    # divergence under rule-1b fixture drift)
    # r12 scatter: single-split fixture scans serialize the
    # map stage on one core (see session.scatter; no-op at scale)
    d = scatter(spark, table(spark, sf_dir, "documents")).filter(F.col("text").isNotNull())
    toks = F.split("text", " ")
    s = F.sort_array(toks)
    zero = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    # longest equal-run over the sorted tokens == max token frequency;
    # the "" sentinel is safe: a real "" first token yields run 0+1=1
    # either way
    max_tf = F.aggregate(
        s,
        F.struct(F.lit("").alias("prev"), zero.alias("run"), zero.alias("mx")),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(one).alias("run"),
            F.greatest(
                acc.mx,
                F.when(x == acc.prev, acc.run + 1).otherwise(one),
            ).alias("mx"),
        ),
        lambda acc: acc.mx,
    )
    g = d.select(
        F.when(F.col("n_chars").between(60, 500), 1).otherwise(0).alias(
            "g1"
        ),
        F.when(F.col("lang").isin("en", "de", "fr"), 1)
        .otherwise(0)
        .alias("g2"),
        F.when(max_tf * 100 <= 15 * F.size(toks).cast("long"), 1)
        .otherwise(0)
        .alias("g3"),
        F.when(F.size(F.array_distinct(toks)) >= 15, 1)
        .otherwise(0)
        .alias("g4"),
    )
    a = g.agg(
        F.count(F.lit(1)).alias("n_in"),
        F.sum("g1").alias("a1"),
        F.sum("g2").alias("a2"),
        F.sum("g3").alias("a3"),
        F.sum("g4").alias("a4"),
        F.sum(F.col("g1") * F.col("g2")).alias("c2"),
        F.sum(F.col("g1") * F.col("g2") * F.col("g3")).alias("c3"),
        F.sum(
            F.col("g1") * F.col("g2") * F.col("g3") * F.col("g4")
        ).alias("c4"),
    )
    # ONE pass: the 4 funnel rows explode out of the single aggregate
    # row (a 4-way union of selects over `a` would re-execute the whole
    # aggregation per branch — Catalyst does not dedupe union inputs)
    rows = [
        (1, "length_60_500", "a1", "a1"),
        (2, "lang_en_de_fr", "a2", "c2"),
        (3, "max_tf_le_15pct", "a3", "c3"),
        (4, "types_ge_15", "a4", "c4"),
    ]
    stages = F.array(
        *[
            F.struct(
                F.lit(stage).alias("stage"),
                F.lit(gate).alias("gate"),
                F.col(alone).alias("n_pass_alone"),
                F.col(cum).alias("n_pass_cum"),
            )
            for stage, gate, alone, cum in rows
        ]
    )
    return a.select("n_in", F.explode(stages).alias("e")).select(
        F.col("e.stage").alias("stage"),
        F.col("e.gate").alias("gate"),
        F.col("e.n_pass_alone").alias("n_pass_alone"),
        F.col("e.n_pass_cum").alias("n_pass_cum"),
        dround(
            F.col("e.n_pass_cum").cast("double")
            / F.col("n_in").cast("double"),
            6,
        ).alias("cum_keep_rate"),
    )


@query(
    "l_budget_select",
    oracle="""
    WITH scored AS (
        SELECT doc_id, source, n_chars,
               n_chars * CAST(len(string_split(text, ' ')) AS DOUBLE)
                   / (n_chars + 100) AS score
        FROM documents
    ), ranked AS (
        SELECT doc_id, source, n_chars, score,
               SUM(n_chars) OVER (
                   PARTITION BY source
                   ORDER BY score DESC, doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum_chars
        FROM scored
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_selected,
           CAST(SUM(n_chars) AS BIGINT) AS chars_used,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM ranked
    WHERE cum_chars <= 2000
    GROUP BY source
    """,
)
def l_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUDGET-CAPPED DATA SELECTION: rank each source's documents by a
    quality score and admit them greedily until the source's character
    budget (2000) is exhausted — the "select the best N tokens per
    domain" step every pretraining-mix builder runs after scoring
    (quality-weighted sampling under per-domain token caps).

    Determinism: the score is a per-doc identical double expression
    used ONLY for ordering under a (score DESC, doc_id) total order
    (rule 5); the budget ledger is an INTEGER running sum over that
    order — no cross-row float accumulation anywhere, so the admission
    boundary is exact in both engines.

    Scale (r9 verdict item 8, the two-phase form): admission is
    RANK-BOUNDED — the ledger is a running sum of char counts >= 1, so
    no row past rank 2000 can ever satisfy ``cum_chars <= 2000``.
    Stating that bound as a ``row_number() <= 2000`` filter over its
    own window lets Catalyst insert WindowGroupLimit (Partial BEFORE
    the exchange + Final after): every map task pre-selects its local
    per-source top-2000 rows, so the shuffle carries |sources| x 2000
    rows instead of the corpus — at 100 TB that is the difference
    between shuffling everything and shuffling a constant. The cum-sum
    window then runs on the pruned frame (prefix sums at rank i <= 2000
    only read ranks 1..i, all present — semantics-preserving). The
    bound's precondition (n_chars >= 1) is enforced per-row: a zero- or
    negative-char doc raises in-task instead of silently escaping the
    prune. The WindowGroupLimit threshold conf is set at query time
    because plain driver sessions default it to 1000 < 2000 (the
    rule-10 pushFilters precedent).
    """
    spark.conf.set("spark.sql.optimizer.windowGroupLimitThreshold", "2048")
    # r12 scatter: single-split fixture scans serialize the
    # map stage on one core (see session.scatter; no-op at scale)
    d = scatter(spark, table(spark, sf_dir, "documents"))
    nchars = F.when(F.col("n_chars") >= 1, F.col("n_chars")).otherwise(
        F.raise_error(F.lit("l_budget_select: n_chars < 1 breaks rank bound"))
    )
    score = (
        F.col("n_chars")
        * F.size(F.split(F.col("text"), " ")).cast("double")
        / (F.col("n_chars") + F.lit(100))
    )
    wspec = W.partitionBy("source").orderBy(F.col("score").desc(), "doc_id")
    wcum = wspec.rowsBetween(W.unboundedPreceding, W.currentRow)
    pruned = (
        d.select("doc_id", "source", nchars.alias("n_chars"), score.alias("score"))
        .withColumn("rn", F.row_number().over(wspec))
        .filter(F.col("rn") <= 2000)
    )
    ranked = pruned.select(
        "doc_id",
        "source",
        "n_chars",
        F.sum("n_chars").over(wcum).alias("cum_chars"),
    )
    return (
        ranked.filter(F.col("cum_chars") <= 2000)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_selected"),
            F.sum("n_chars").alias("chars_used"),
            F.min("doc_id").alias("first_doc"),
        )
    )


@query(
    "l_rl_best_of_n",
    oracle="""
    WITH r AS (
        SELECT user_id,
               CAST(CAST(trunc(value * 100) AS BIGINT) AS BIGINT) AS rc,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY CAST(trunc(value * 100) AS BIGINT),
                                           event_id) AS rk,
               CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
        FROM events
    ), t AS (
        SELECT user_id, n, rc, rk,
               CAST(FLOOR(
                 (CAST(rk - 1 AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(rk - 2 AS DOUBLE) / CAST(n - 1 AS DOUBLE))
                 * (CAST(rk - 3 AS DOUBLE) / CAST(n - 2 AS DOUBLE))
                 * (CAST(rk - 4 AS DOUBLE) / CAST(n - 3 AS DOUBLE))
                 * (5.0 / CAST(n - 4 AS DOUBLE))
                 * CAST(rc AS DOUBLE) * 1e9 + 0.5) AS BIGINT) AS term
        FROM r WHERE n >= 5 AND rk >= 5
    )
    SELECT user_id, MAX(n) AS n,
           ROUND(CAST(SUM(term) AS DOUBLE) / 1e9 / 1e2 * 1e6) / 1e6 + 0
               AS bon5
    FROM t GROUP BY user_id ORDER BY user_id
    """,
)
def l_rl_best_of_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNBIASED BEST-OF-N REWARD ESTIMATE — E[max reward of k=5
    attempts sampled without replacement from the user's n attempts]
    (the BoN curve of WebGPT app. F / Nakano et al. 2021; the max-
    order-statistic sibling of l_eval_pass_at_k; public method):
    BoN₅ = Σ_r C(r−1, 4)/C(n, 5) · reward₍ᵣ₎ over attempts sorted
    ascending, evaluated in the overflow-free product form
    (r−1)/n · (r−2)/(n−1) · (r−3)/(n−2) · (r−4)/(n−3) · 5/(n−4) — the
    probability attempt rank r is the sample max.

    Determinism: rewards quantize to exact integer cents (rule 6);
    the per-attempt rank is a total order (reward cents, event_id);
    each term is a fixed-shape double product from exact integers,
    quantized to a 1e9 fixed-point BIGINT BEFORE the per-user sum —
    exact integer sums, immune to order in both engines (the
    l_eval_ndcg grid pattern). One division at the end.

    Scale: one user-partitioned rank window (group-bounded, the
    rl_group_advantage class) + one user-keyed partial agg. Group
    state is a rank counter; nothing corpus-global."""
    ev = table(spark, sf_dir, "events")
    r = ev.select(
        "user_id",
        "event_id",
        (F.col("value") * 100).cast("bigint").alias("rc"),
    )
    wr = W.partitionBy("user_id").orderBy("rc", "event_id")
    wn = W.partitionBy("user_id")
    t = (
        r.select(
            "user_id",
            "rc",
            F.row_number().over(wr).alias("rk"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        .filter((F.col("n") >= 5) & (F.col("rk") >= 5))
    )
    rk, n = F.col("rk").cast("double"), F.col("n").cast("double")
    # parenthesized QUOTIENT products, mirroring the oracle exactly —
    # the bare chain a/b*c/d associates as ((a/b)*c)/d and diverges
    # from the oracle's (a/b)*(c/d) in the last ulp, which the 1e9
    # term grid then amplifies into ±1-integer cross-engine drift
    # (r11 code review, reproduced on 4/234,630 sampled triples)
    prob = (
        ((rk - 1) / n)
        * ((rk - 2) / (n - 1))
        * ((rk - 3) / (n - 2))
        * ((rk - 4) / (n - 3))
        * (F.lit(5.0) / (n - 4))
    )
    term = F.floor(prob * F.col("rc").cast("double") * 1e9 + 0.5).cast(
        "bigint"
    )
    a = t.select("user_id", F.col("n").alias("nn"), term.alias("term")).groupBy(
        "user_id"
    ).agg(F.max("nn").alias("n"), F.sum("term").alias("s"))
    return a.select(
        "user_id",
        "n",
        dround(F.col("s").cast("double") / 1e9 / 1e2, 6).alias("bon5"),
    ).orderBy("user_id")


@query(
    "l_dedup_rate_report",
    oracle="""
    WITH g AS (
        SELECT md5(text) AS h, CAST(COUNT(*) AS BIGINT) AS s
        FROM documents GROUP BY md5(text)
    ), b AS (
        SELECT CASE WHEN s >= 10 THEN 10 ELSE s END AS size_bucket,
               CAST(COUNT(*) AS BIGINT) AS n_clusters,
               CAST(SUM(s) AS BIGINT) AS n_docs
        FROM g GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(n_docs) AS BIGINT) AS corpus FROM b
    )
    SELECT b.size_bucket, b.n_clusters, b.n_docs,
           b.n_docs - b.n_clusters AS n_removable,
           ROUND(CAST(b.n_docs - b.n_clusters AS DOUBLE)
                 / CAST(tot.corpus AS DOUBLE) * 1e9) / 1e9 + 0
               AS removable_share
    FROM b CROSS JOIN tot
    ORDER BY b.size_bucket
    """,
)
def l_dedup_rate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-DEDUP RATE REPORT — the summary table a dedup run
    publishes before anyone deletes anything: duplicate-cluster-size
    histogram (bucket 10 = "10+"), docs and removable copies per
    bucket, and each bucket's share of the corpus that dedup would
    delete. Reads the same md5 content-hash grouping as l_dedup_exact
    and rolls it up (pipeline composition: detect → report → act).

    Determinism: every column is an exact BIGINT except the one
    int-ratio share on the 1e9 grid with '+ 0'.

    Scale: the md5 groupBy is THE 100 TB exact-dedup shuffle
    (partial+final); the histogram rollup runs on the cluster-size
    table (bounded by distinct contents); the corpus total broadcasts
    as one row."""
    d = table(spark, sf_dir, "documents")
    g = (
        d.select(F.md5("text").alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("s"))
    )
    b = g.select(
        F.when(F.col("s") >= 10, 10).otherwise(F.col("s")).alias(
            "size_bucket"
        ),
        "s",
    ).groupBy("size_bucket").agg(
        F.count(F.lit(1)).alias("n_clusters"), F.sum("s").alias("n_docs")
    )
    tot = b.agg(F.sum("n_docs").alias("corpus"))
    return (
        b.crossJoin(F.broadcast(tot))
        .select(
            F.col("size_bucket").cast("bigint").alias("size_bucket"),
            "n_clusters",
            "n_docs",
            (F.col("n_docs") - F.col("n_clusters")).alias("n_removable"),
            dround(
                (F.col("n_docs") - F.col("n_clusters")).cast("double")
                / F.col("corpus").cast("double"),
                9,
            ).alias("removable_share"),
        )
        .orderBy("size_bucket")
    )


@query(
    "l_mix_temperature",
    oracle="""
    WITH c AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents GROUP BY lang
    ), t AS (
        SELECT CAST(SUM(n) AS BIGINT) AS total FROM c
    ), p AS (
        SELECT c.lang, c.n,
               CAST(c.n AS DOUBLE) / CAST(t.total AS DOUBLE) AS p,
               CAST(FLOOR(pow(CAST(c.n AS DOUBLE)
                              / CAST(t.total AS DOUBLE), 0.7) * 1e15 + 0.5)
                    AS BIGINT) AS w7q,
               CAST(FLOOR(pow(CAST(c.n AS DOUBLE)
                              / CAST(t.total AS DOUBLE), 0.5) * 1e15 + 0.5)
                    AS BIGINT) AS w5q
        FROM c CROSS JOIN t
    ), z AS (
        SELECT CAST(SUM(w7q) AS BIGINT) AS z7,
               CAST(SUM(w5q) AS BIGINT) AS z5
        FROM p
    )
    SELECT p.lang, p.n,
           ROUND(p.p * 1e9) / 1e9 + 0 AS p_raw,
           ROUND(CAST(p.w7q AS DOUBLE) / CAST(z.z7 AS DOUBLE) * 1e9) / 1e9
               + 0 AS q_alpha07,
           ROUND(CAST(p.w5q AS DOUBLE) / CAST(z.z5 AS DOUBLE) * 1e9) / 1e9
               + 0 AS q_alpha05,
           ROUND(CAST(p.w7q AS DOUBLE) / CAST(z.z7 AS DOUBLE) / p.p * 1e6)
               / 1e6 + 0 AS epochs_alpha07
    FROM p CROSS JOIN z
    ORDER BY p.lang
    """,
)
def l_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-BASED MULTILINGUAL SAMPLING WEIGHTS (the
    mBERT/XLM-R exponential-smoothing recipe, Devlin 2019 / Conneau
    2020; public method): per language, the raw corpus share p, the
    resampling share q ∝ p^α at α = 0.7 and 0.5, and the implied
    effective-epoch multiplier q/p at α = 0.7 — the table that decides
    how hard low-resource languages are upsampled. Complements
    l_domain_mix (which APPLIES fixed rates) by COMPUTING the rates.

    Determinism: counts are exact BIGINTs; p and the pow() terms are
    fixed-shape per-row doubles (same libm pow both engines — the
    dsir ln precedent); each weight quantizes to a 1e15 fixed-point
    BIGINT BEFORE the normalizer sum (r11 code review — a raw double
    sum would be order-sensitive in both engines; the rule-11e
    pattern), so z7/z5 are exact integers and every output is a
    fixed-shape double expression over exact operands, rounded once
    with '+ 0'.

    Scale: one lang-keyed partial+final count agg; everything after
    runs on the |langs|-row table."""
    d = table(spark, sf_dir, "documents")
    c = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").alias("total"))
    p = c.crossJoin(F.broadcast(t)).select(
        "lang",
        "n",
        (F.col("n").cast("double") / F.col("total").cast("double")).alias(
            "p"
        ),
    )
    p = p.select(
        "lang",
        "n",
        "p",
        F.floor(F.pow(F.col("p"), F.lit(0.7)) * 1e15 + 0.5)
        .cast("bigint")
        .alias("w7q"),
        F.floor(F.pow(F.col("p"), F.lit(0.5)) * 1e15 + 0.5)
        .cast("bigint")
        .alias("w5q"),
    )
    z = p.agg(F.sum("w7q").alias("z7"), F.sum("w5q").alias("z5"))
    q7 = F.col("w7q").cast("double") / F.col("z7").cast("double")
    q5 = F.col("w5q").cast("double") / F.col("z5").cast("double")
    return (
        p.crossJoin(F.broadcast(z))
        .select(
            "lang",
            "n",
            dround(F.col("p"), 9).alias("p_raw"),
            dround(q7, 9).alias("q_alpha07"),
            dround(q5, 9).alias("q_alpha05"),
            dround(q7 / F.col("p"), 6).alias("epochs_alpha07"),
        )
        .orderBy("lang")
    )


_AES_K = 40


@query(
    "l_sample_weighted_topk",
    oracle=f"""
    WITH s AS (
        SELECT lang, doc_id, n_chars,
               CAST(FLOOR(
                 ln((CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                                    1, 8)) AS BIGINT) + 0.5) / 4294967296.0)
                 / CAST(GREATEST(n_chars, 1) AS DOUBLE) * 1e12)
               AS BIGINT) AS kq
        FROM documents
    ), r AS (
        SELECT lang, doc_id, n_chars, kq,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY kq DESC, doc_id) AS rk
        FROM s
    )
    SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id, n_chars, kq
    FROM r WHERE rk <= {_AES_K}
    ORDER BY lang, rk
    """,
)
def l_sample_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED SAMPLING WITHOUT REPLACEMENT, exact-k per stratum — the
    Efraimidis-Spirakis A-ES reservoir (2006, "Weighted random sampling
    with a reservoir"; public method): each doc draws key u^(1/w) from
    a uniform u and weight w (here n_chars, a quality-mass proxy); the
    top-k keys per language ARE a weight-proportional sample without
    replacement. This is THE quality-weighted corpus subsampling
    primitive (i_sample_weighted is its Bernoulli cousin: probabilistic
    KEEP per row, no exact-k guarantee; this gives exactly k per
    stratum). Deterministic twin: u comes from md5(doc_id) bits, so the
    drawn sample is identical across engines, re-runs, and resharding.

    Determinism: u = (first-32-md5-bits + 0.5) / 2^32 — exact dyadic
    rational, strictly in (0,1) so ln never sees 0; ranking key is
    ln(u)/w (monotone in u^(1/w)) quantized to a 1e12 BIGINT grid
    before ranking (rule 5: the (kq DESC, doc_id) order is total; ln is
    the same libm call in both engines — the l_dsir_weight precedent,
    and division of identical doubles is IEEE-exact in both).

    Scale: key is a map-side codegen expression (md5 + ln, no UDF); the
    per-lang top-k is ONE rank window whose constant filter (40 <= the
    1000 default) triggers InferWindowGroupLimit — per-partition top-40
    heaps BEFORE the lang shuffle, so shuffle volume is
    |langs| x 40 x partitions, not the corpus (pin 13a). No joins, no
    broadcast, nothing corpus-global."""
    d = table(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    kq = F.floor(
        F.log(u) / F.greatest(F.col("n_chars"), F.lit(1)).cast("double") * 1e12
    ).cast("bigint")
    s = d.select("lang", "doc_id", "n_chars", kq.alias("kq"))
    w = W.partitionBy("lang").orderBy(F.col("kq").desc(), "doc_id")
    return (
        s.select("lang", F.row_number().over(w).alias("rk"), "doc_id",
                 "n_chars", "kq")
        .filter(F.col("rk") <= _AES_K)
        .select("lang", F.col("rk").cast("bigint").alias("rk"), "doc_id",
                "n_chars", "kq")
        .orderBy("lang", "rk")
    )


@query(
    "l_dedup_source_overlap",
    oracle="""
    WITH w AS (
        SELECT source, string_split(text, ' ') AS w FROM documents
    ), sh AS (
        SELECT DISTINCT source,
               md5(array_to_string(w[i.i:i.i + 9], ' ')) AS h
        FROM w, LATERAL (SELECT unnest(generate_series(1, len(w) - 9))
                         AS i) i
    ), per_src AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY source
    ), pair AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT p.source_a, p.source_b, p.n_shared,
           sa.n AS n_a, sb.n AS n_b,
           ROUND(CAST(p.n_shared AS DOUBLE)
                 / CAST(sa.n + sb.n - p.n_shared AS DOUBLE) * 1e6) / 1e6 + 0
               AS jaccard
    FROM pair p
    JOIN per_src sa ON sa.source = p.source_a
    JOIN per_src sb ON sb.source = p.source_b
    ORDER BY p.n_shared DESC, p.source_a, p.source_b
    LIMIT 50
    """,
)
def l_dedup_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-SOURCE CONTAMINATION MATRIX — for every source pair, the
    number of distinct 10-token shingles they share and the shingle
    Jaccard (top-50 pairs by shared mass): the curation question
    "which of my crawl feeds are secretly the same feed?" that decides
    source-level dedup ordering before any doc-level pass (the
    source-pair view of l_dedup_substring's shingle space; same
    16-byte shingle keys). Overlap >> both diagonals means one source
    republishes the other.

    Determinism: shingle sets are DISTINCT (source, md5(window)) keys;
    all counts exact BIGINT; one jaccard division per pair, dround
    1e-6; (n_shared DESC, source_a, source_b) is a total order under
    LIMIT (rule 5).

    Scale: shingles generate via the codegen Generate-over-index form
    (the chrF lesson — the token array projects below the Generate, so
    split() runs once per doc); the DISTINCT collapses to |sources|
    rows per shingle BEFORE the self-join, so per-shingle pair fan-out
    is bounded by C(|sources|, 2) — a DOMAIN-bounded constant, never
    corpus-quadratic; the pair self-join is hash-keyed on the shingle
    and pinned shuffle_hash (rule 14b: both sides are corpus-growing).
    Source totals broadcast onto the <=C(|sources|, 2)-row pair table
    (domain-bounded). Top-50 is TakeOrdered."""
    # r12 scatter: single-split fixture scans serialize the map
    # stage on one core (see session.scatter; no-op at scale)
    d = scatter(spark, table(spark, sf_dir, "documents"))
    base = d.select("source", F.split(F.col("text"), " ").alias("w"))
    sh = (
        base.select(
            "source",
            "w",
            F.explode(
                F.expr(
                    "CASE WHEN size(w) >= 10 THEN sequence(1, size(w) - 9)"
                    " ELSE CAST(array() AS ARRAY<INT>) END"
                )
            ).alias("i"),
        )
        .select(
            "source",
            F.expr("md5(array_join(slice(w, i, 10), ' '))").alias("h"),
        )
        .distinct()
        .localCheckpoint()  # rule 11a: feeds totals AND both join sides
    )
    per_src = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = sh.toDF("source_a", "h")
    b = sh.toDF("source_b", "h")
    pair = (
        a.join(b.hint("shuffle_hash"), "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        pair.join(F.broadcast(per_src.toDF("source_a", "n_a")), "source_a")
        .join(F.broadcast(per_src.toDF("source_b", "n_b")), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_a",
            "n_b",
            dround(
                F.col("n_shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.col("n_shared").desc(), "source_a", "source_b")
        .limit(50)
    )


@query(
    "l_mixture_build",
    oracle="""
    WITH sig AS (
        SELECT doc_id, source, n_chars, md5(text) AS h,
               CAST(length(text) AS BIGINT) AS len,
               CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '',
                                          'g')) AS BIGINT) AS punct,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        FROM documents
    ), gated AS (
        SELECT * FROM sig
        WHERE (CASE WHEN len >= 100 THEN 1 ELSE 0 END
             + CASE WHEN punct * 20 <= len THEN 1 ELSE 0 END
             + CASE WHEN toks * 3 <= len AND len <= toks * 12
                    THEN 1 ELSE 0 END) >= 2
    ), surv AS (
        SELECT doc_id, source, n_chars, toks FROM (
            SELECT g.*, ROW_NUMBER() OVER (
                PARTITION BY h ORDER BY doc_id) AS dr
            FROM gated g) gd
        WHERE dr = 1
    ), c AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_dedup
        FROM surv GROUP BY source
    ), t AS (
        SELECT CAST(SUM(n_dedup) AS BIGINT) AS total FROM c
    ), w AS (
        SELECT c.source, c.n_dedup,
               CAST(FLOOR(pow(CAST(c.n_dedup AS DOUBLE)
                              / CAST(t.total AS DOUBLE), 0.7) * 1e15
                          + 0.5) AS BIGINT) AS wq
        FROM c CROSS JOIN t
    ), z AS (
        SELECT CAST(SUM(wq) AS BIGINT) AS z FROM w
    ), tgt AS (
        SELECT w.source, w.n_dedup,
               CAST(CEIL(CAST(t.total AS DOUBLE) * 0.5
                         * CAST(w.wq AS DOUBLE) / CAST(z.z AS DOUBLE))
                    AS BIGINT) AS n_target
        FROM w CROSS JOIN z CROSS JOIN t
    ), res AS (
        SELECT doc_id, source, n_chars, toks FROM (
            SELECT s.doc_id, s.source, s.n_chars, s.toks, tg.n_target,
                   ROW_NUMBER() OVER (
                       PARTITION BY s.source
                       ORDER BY md5(CAST(s.doc_id AS VARCHAR)),
                                s.doc_id) AS rr
            FROM surv s JOIN tgt tg ON tg.source = s.source) rs
        WHERE rr <= n_target
    ), rc AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_resampled
        FROM res GROUP BY source
    ), sel AS (
        SELECT * FROM (
            SELECT doc_id, source, n_chars,
                   SUM(n_chars) OVER (
                       PARTITION BY source
                       ORDER BY CAST(n_chars AS DOUBLE) * toks
                                / (n_chars + 100) DESC, doc_id
                       ROWS UNBOUNDED PRECEDING) AS cum_chars
            FROM res) ld
        WHERE cum_chars <= 20000
    ), sc AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_selected,
               CAST(SUM(n_chars) AS BIGINT) AS chars_used
        FROM sel GROUP BY source
    ), raw AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_raw
        FROM documents GROUP BY source
    ), gc AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_gated
        FROM gated GROUP BY source
    )
    SELECT raw.source, raw.n_raw,
           CAST(COALESCE(gc.n_gated, 0) AS BIGINT) AS n_gated,
           CAST(COALESCE(c.n_dedup, 0) AS BIGINT) AS n_dedup,
           CAST(COALESCE(tgt.n_target, 0) AS BIGINT) AS n_target,
           CAST(COALESCE(rc.n_resampled, 0) AS BIGINT) AS n_resampled,
           CAST(COALESCE(sc.n_selected, 0) AS BIGINT) AS n_selected,
           CAST(COALESCE(sc.chars_used, 0) AS BIGINT) AS chars_used
    FROM raw
    LEFT JOIN gc ON gc.source = raw.source
    LEFT JOIN c ON c.source = raw.source
    LEFT JOIN tgt ON tgt.source = raw.source
    LEFT JOIN rc ON rc.source = raw.source
    LEFT JOIN sc ON sc.source = raw.source
    ORDER BY raw.source
    """,
)
def l_mixture_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END MIXTURE BUILD — the whole pretraining-mix recipe in
    ONE plan, per source: composite quality gate (the
    l_quality_composite_gate majority vote) -> exact-dedup survivors
    (l_dedup_exact's MIN(doc_id)-per-md5 keep set) -> temperature
    resample (targets ∝ p^0.7 over survivor shares, the
    l_mix_temperature recipe, applied via l_domain_mix's md5-rank
    prefix at a half-corpus doc budget) -> greedy per-source char
    budget (l_budget_select's integer ledger, 20k chars/source). The
    output is the per-source funnel ledger (raw -> gated -> deduped ->
    target -> resampled -> selected + chars used) a mix builder ships
    as its datasheet — each stage is the audited twin of its
    standalone operator.

    Determinism: the gate is tier_s_stats' ``quality_signals`` and
    ``quality_votes`` (integer arithmetic); dedup keep set is a
    rank-over-exact-BIGINT order; temperature weights quantize to
    1e15 fixed-point BEFORE normalizing (rule 11e) so targets are
    CEIL of identical double expressions over exact integers; the
    resample order is (md5(doc_id), doc_id) — byte-identical hex in
    both engines; the budget ledger is an integer running sum under a
    (score DESC, doc_id) total order with the score a fixed-shape
    per-row double (rule 5). Every output column is an exact BIGINT.

    Scale: ONE map pass computes hash + gate signals + token count
    and drops text immediately — every shuffle after the scan carries
    ~40-byte rows. Dedup shuffles on the near-unique content hash
    (partial-agg-free window, same class as l_dedup_exact); the
    per-source stage tables (counts, weights, targets) are
    DOMAIN-bounded (rule 14a exception) and broadcast into the
    resample/budget windows; those windows partition per source — a
    skewed source salts the same way d_agg_salted does (the
    l_domain_mix note), and the budget window is rank-bounded the
    l_budget_select way should the per-source budget ever need the
    WindowGroupLimit prune. The funnel is one job, no re-scans: gate
    feeds dedup feeds resample feeds budget as a single lineage.

    x100 record (r14, paired fresh-plan reps): 4.06 vs DuckDB 3.64 —
    ratio 1.12, near-parity at first measurement. Scatter REJECTED
    per the pin-16a per-class call (paired toggle: plain 4.05 /
    scattered 4.63 median, scatter lost every rep): there is no
    fan-out to amortize — the map pass emits ONE thin row per doc and
    the first shuffle is already corpus-thin, so the round-robin
    exchange costs more than the single-split map serialization
    saves."""
    d = table(spark, sf_dir, "documents")
    sig = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.md5("text").alias("h"),
        *quality_signals(),
    )
    votes = quality_votes()
    # r14 funnel restaging (guide §2.4; before-plan: 42 Exchanges, 17
    # parquet scans — every funnel column re-executed the scan+gate+
    # dedup chain). Three changes, output bit-identical (asserted
    # against the old plan in the adoption A/B):
    #   1. n_raw + n_gated come from ONE conditional agg over sig
    #      (one scan instead of two);
    #   2. surv is localCheckpointed — the md5/regexp gate map and the
    #      dedup window run ONCE (paired at sf0.1, medians over 5:
    #      old 2.494 s, ckpt-c-only 1.697, ckpt-surv 1.782 — the two
    #      staged forms overlap; surv-staging is adopted because it
    #      also halves the corpus-scale work: one gate map + one
    #      dedup-window sort instead of two, for a corpus-THIN ~40 B/row
    #      materialization, pin 13c). Fault-tolerance caveat (r14
    #      advice): localCheckpoint blocks are NON-REPLICATED and the
    #      lineage is cut, so an executor loss at scale fails the job
    #      instead of recomputing — on a real cluster this staging
    #      would be reliableCheckpoint/write-to-storage; the
    #      local-mode harness has no executor-loss mode, so the cheap
    #      form is correct here);
    #   3. n_resampled / n_selected / chars_used come from ONE
    #      conditional agg over the budget ledger (two branches merged).
    gated = sig.filter(votes >= 2)
    funnel0 = sig.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(F.when(votes >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_gated"),
    )
    surv = (
        gated.select(
            "doc_id",
            "source",
            "n_chars",
            "toks",
            "h",
            F.row_number()
            .over(W.partitionBy("h").orderBy("doc_id"))
            .alias("dr"),
        )
        .filter(F.col("dr") == 1)
        .drop("dr", "h")
        .localCheckpoint()
    )
    c = surv.groupBy("source").agg(F.count(F.lit(1)).alias("n_dedup"))
    t = c.agg(F.sum("n_dedup").alias("total"))
    w = c.crossJoin(F.broadcast(t)).select(
        "source",
        "n_dedup",
        "total",
        F.floor(
            F.pow(
                F.col("n_dedup").cast("double") / F.col("total").cast("double"),
                F.lit(0.7),
            )
            * 1e15
            + 0.5
        )
        .cast("bigint")
        .alias("wq"),
    )
    z = w.agg(F.sum("wq").alias("z"))
    tgt = w.crossJoin(F.broadcast(z)).select(
        "source",
        "n_dedup",
        F.ceil(
            F.col("total").cast("double")
            * 0.5
            * F.col("wq").cast("double")
            / F.col("z").cast("double")
        )
        .cast("bigint")
        .alias("n_target"),
    )
    res = (
        surv.join(F.broadcast(tgt.select("source", "n_target")), "source")
        .select(
            "doc_id",
            "source",
            "n_chars",
            "toks",
            "n_target",
            F.row_number()
            .over(
                W.partitionBy("source").orderBy(
                    F.md5(F.col("doc_id").cast("string")), "doc_id"
                )
            )
            .alias("rr"),
        )
        .filter(F.col("rr") <= F.col("n_target"))
        .drop("rr", "n_target")
    )
    score = (
        F.col("n_chars").cast("double")
        * F.col("toks")
        / (F.col("n_chars") + F.lit(100))
    )
    ledger = res.select(
        "doc_id",
        "source",
        "n_chars",
        F.sum("n_chars")
        .over(
            W.partitionBy("source")
            .orderBy(score.desc(), "doc_id")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        .alias("cum_chars"),
    )
    fin = ledger.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_resampled"),
        F.sum(F.when(F.col("cum_chars") <= 20000, 1).otherwise(0))
        .cast("bigint")
        .alias("n_selected"),
        F.coalesce(
            F.sum(F.when(F.col("cum_chars") <= 20000, F.col("n_chars"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("chars_used"),
    )
    out = (
        funnel0.join(c, "source", "left")
        .join(tgt.select("source", "n_target"), "source", "left")
        .join(fin, "source", "left")
    )
    zero = F.lit(0).cast("bigint")
    return out.select(
        "source",
        "n_raw",
        F.coalesce("n_gated", zero).alias("n_gated"),
        F.coalesce("n_dedup", zero).alias("n_dedup"),
        F.coalesce("n_target", zero).alias("n_target"),
        F.coalesce("n_resampled", zero).alias("n_resampled"),
        F.coalesce("n_selected", zero).alias("n_selected"),
        F.coalesce("chars_used", zero).alias("chars_used"),
    ).orderBy("source")


@query(
    "l_ccnet_bucket",
    oracle="""
    WITH tok AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
        FROM documents
    ), freq AS (
        SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY t
    ), tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n FROM freq
    ), sq AS (
        SELECT t, CAST(FLOOR(-ln(c / CAST((SELECT n FROM tot) AS DOUBLE))
                             * 1e9 + 0.5) AS BIGINT) AS sq
        FROM freq
    ), docscore AS (
        SELECT k.doc_id, k.lang,
               SUM(s.sq) / CAST(COUNT(*) AS DOUBLE) / 1e9 AS score
        FROM tok k JOIN sq s ON s.t = k.t
        GROUP BY k.doc_id, k.lang
    ), bucketed AS (
        SELECT lang, doc_id, score,
               NTILE(3) OVER (PARTITION BY lang ORDER BY score, doc_id)
                   AS tercile
        FROM docscore
    )
    SELECT lang,
           CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(SUM(CAST(FLOOR(score * 1e6 + 0.5) AS BIGINT))
                 / CAST(COUNT(*) AS DOUBLE) / 1e6 * 1e6) / 1e6 + 0.0
               AS avg_surprisal
    FROM bucketed GROUP BY lang, tercile
    """,
)
def l_ccnet_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style HEAD/MIDDLE/TAIL quality buckets per language: score
    each document by mean unigram surprisal −ln(p(token)) under the
    corpus LM (the perplexity stand-in), then split each language into
    terciles — head = most-predictable (cleanest) third, the bucket
    CCNet keeps preferentially when building a pretraining mix.

    Determinism (rule 11e, the NB per-token-type pattern): surprisal is
    quantized to 1e-9 fixed point once per token TYPE (a vocab-sized
    table), so each document's total is an exact integer sum no matter
    the token order; the per-doc mean is int/count; tercile assignment
    rides a (score, doc_id) total order; the per-bucket mean re-quantizes
    doc scores to 1e-6 before summing.

    Scale: token frequencies are one partial+final agg; the vocab-sized
    surprisal table broadcasts onto the token stream (map-only); doc
    scores are one doc-keyed agg; NTILE partitions by language. Exactly
    the CCNet pipeline shape — every stage keyed, nothing quadratic.
    """
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", F.explode(F.split(F.col("text"), " ")).alias("t")
    ).localCheckpoint()  # one corpus scan feeds freq + scoring
    freq = tok.groupBy("t").agg(F.count("*").alias("c"))
    n_tok = freq.agg(F.sum("c")).collect()[0][0]  # bounded: 1 scalar
    sq = freq.select(
        "t",
        F.floor(-F.log(F.col("c") / F.lit(float(n_tok))) * 1e9 + 0.5)
        .cast("bigint")
        .alias("sq"),
    )
    docscore = (
        tok.join(F.broadcast(sq), "t")
        .groupBy("doc_id", "lang")
        .agg((F.sum("sq") / F.count("*").cast("double") / 1e9).alias("score"))
    )
    bucketed = docscore.select(
        "lang",
        "doc_id",
        "score",
        F.ntile(3)
        .over(W.partitionBy("lang").orderBy("score", "doc_id"))
        .alias("tercile"),
    )
    bucket = (
        F.when(F.col("tercile") == 1, "head")
        .when(F.col("tercile") == 2, "middle")
        .otherwise("tail")
    )
    return bucketed.groupBy("lang", bucket.alias("bucket")).agg(
        F.count("*").alias("n_docs"),
        dround(
            F.sum(F.floor(F.col("score") * 1e6 + 0.5).cast("bigint"))
            / F.count("*").cast("double")
            / 1e6,
            6,
        ).alias("avg_surprisal"),
    )
