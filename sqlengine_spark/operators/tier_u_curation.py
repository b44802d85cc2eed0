"""Tier U (extension, round 9) — curation calibration and deterministic
sampling surfaces a training-data pipeline runs between dedup and
packing: MinHash estimator calibration against exact ground truth (the
first fully SQL-oracled MinHash here — md5-derived hashes replay
bit-for-bit in DuckDB, following the round-9 l_dedup_simhash
graduation), corpus duplicate-n-gram rates (the RefinedWeb-style
repetition metric, per source), deterministic hash-bucketed negative
sampling for contrastive training pairs, and a Rocchio
nearest-centroid language classifier in quantized TF-IDF space (an
oracled sibling of the rows-only l_text_langid).

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
