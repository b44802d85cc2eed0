"""Tier L (extension) — in-engine ML / embedding / graph analytics the
LLM-data-pipeline mandate calls for beyond the dedup+ANN core: closed-form
model fitting, multi-objective data pruning, dimensionality reduction,
corpus classification, diversity-aware reranking, and connected
components. Every operator is expressed as distributed DataFrame algebra
(partial aggregates, keyed shuffles, broadcast dims) — no driver-side
data paths beyond provably-bounded scalars — and each carries a DuckDB
oracle stating the same ground truth through an independent formulation.

Float policy (CLAUDE.md rules 4/5b/6/11e): every cross-row float SUM is
quantized to fixed-point BIGINT before aggregation (order-immune in both
engines); post-aggregation arithmetic is written as the IDENTICAL double
expression on both sides so results are bit-equal before dround.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sqlengine_spark.functions import dround, ols_moments, vdot
from sqlengine_spark.registry import query
from sqlengine_spark.session import load_tables, scatter, table


@query(
    "l_ml_linreg_normal",
    oracle="""
    WITH m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x1) AS BIGINT) AS s1,
               CAST(SUM(x2) AS BIGINT) AS s2,
               CAST(SUM(y)  AS BIGINT) AS sy,
               CAST(SUM(x1 * x1) AS BIGINT) AS s11,
               CAST(SUM(x2 * x2) AS BIGINT) AS s22,
               CAST(SUM(x1 * x2) AS BIGINT) AS s12,
               CAST(SUM(x1 * y)  AS BIGINT) AS s1y,
               CAST(SUM(x2 * y)  AS BIGINT) AS s2y,
               CAST(SUM(y * y)   AS BIGINT) AS syy
        FROM (
            SELECT CAST(trunc(l_quantity) AS BIGINT) AS x1,
                   CAST(trunc(l_discount * 100) AS BIGINT) AS x2,
                   CAST(trunc(l_extendedprice) AS BIGINT) AS y
            FROM lineitem
        )
    ), c AS (
        SELECT n,
               CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS c11,
               CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS c22,
               CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS c12,
               CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS c1y,
               CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS c2y,
               CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS cyy,
               CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m1,
               CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS m2,
               CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS my
        FROM m
    ), b AS (
        SELECT n, cyy, c1y, c2y, m1, m2, my,
               (c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12) AS b1,
               (c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12) AS b2
        FROM c
    )
    SELECT n,
           ROUND((my - b1 * m1 - b2 * m2) * 1e4, 0) / 1e4 + 0 AS beta0,
           ROUND(b1 * 1e6, 0) / 1e6 + 0 AS beta_qty,
           ROUND(b2 * 1e6, 0) / 1e6 + 0 AS beta_disc,
           ROUND((1.0 - (cyy - b1 * c1y - b2 * c2y) / cyy) * 1e6, 0) / 1e6 + 0 AS r2
    FROM b
    """,
)
def l_ml_linreg_normal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form multivariate OLS (normal equations): fit
    ``l_extendedprice ~ l_quantity + l_discount`` in ONE distributed
    pass by accumulating the 2-feature moment matrix (n, Σx, Σxx', Σxy,
    Σyy) and solving the 2x2 system on the driver side of the plan —
    the textbook way to train linear models inside a SQL engine without
    an iterative optimizer (cf. MADlib / Spark MLlib's normal-equation
    solver path).

    Determinism: every moment is an exact BIGINT sum of truncated
    fixed-point features (quantity integral, discount in percent
    points, price in truncated whole DOLLARS — cents-squared sums
    overflow BIGINT at sf0.1: measured 2.2e19 > 2^63; at ~100x this
    scale the production fix is Welford-style centered accumulation or
    per-partition HUGEINT — CLAUDE.md rule 11e), so both engines
    solve from IDENTICAL integers; the centered moments, betas, and R²
    are then the same double expression evaluated on the same inputs,
    bit-equal before rounding. Betas straddle zero → +0 guards
    (rule 5b).

    Scale: one lineitem scan, nine BIGINT partial aggregates with
    map-side combine, a 1-row result — the ideal 100 TB shape (the
    moment matrix for p features is p², so even p=100 ships 10k
    scalars per partition). No shuffle of raw rows at all.
    """
    load_tables(spark, sf_dir, ("lineitem",))
    return spark.sql(
        """
        WITH m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(x1) AS s1, SUM(x2) AS s2, SUM(y) AS sy,
                   SUM(x1 * x1) AS s11, SUM(x2 * x2) AS s22,
                   SUM(x1 * x2) AS s12, SUM(x1 * y) AS s1y,
                   SUM(x2 * y) AS s2y, SUM(y * y) AS syy
            FROM (
                SELECT CAST(l_quantity AS BIGINT) AS x1,
                       CAST(l_discount * 100 AS BIGINT) AS x2,
                       CAST(l_extendedprice AS BIGINT) AS y
                FROM lineitem
            )
        ), c AS (
            SELECT n,
                   CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS c11,
                   CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS c22,
                   CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS c12,
                   CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS c1y,
                   CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS c2y,
                   CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS cyy,
                   CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m1,
                   CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS m2,
                   CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS my
            FROM m
        ), b AS (
            SELECT n, cyy, c1y, c2y, m1, m2, my,
                   (c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12) AS b1,
                   (c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12) AS b2
            FROM c
        )
        SELECT n,
               ROUND((my - b1 * m1 - b2 * m2) * 1e4) / 1e4 + 0.0 AS beta0,
               ROUND(b1 * 1e6) / 1e6 + 0.0 AS beta_qty,
               ROUND(b2 * 1e6) / 1e6 + 0.0 AS beta_disc,
               ROUND((1.0 - (cyy - b1 * c1y - b2 * c2y) / cyy) * 1e6) / 1e6 + 0.0 AS r2
        FROM b
        """
    )


@query(
    "l_pareto_front",
    oracle="""
    WITH s AS (
        SELECT doc_id, length(text) AS n_len,
               CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                    AS DOUBLE) / length(text) AS alpha_ratio
        FROM documents WHERE lang = 'en'
    )
    SELECT d.doc_id, d.n_len,
           ROUND(d.alpha_ratio * 1e6, 0) / 1e6 AS alpha_ratio
    FROM s d
    WHERE NOT EXISTS (
        SELECT 1 FROM s e
        WHERE e.n_len >= d.n_len AND e.alpha_ratio >= d.alpha_ratio
          AND (e.n_len > d.n_len OR e.alpha_ratio > d.alpha_ratio)
    )
    ORDER BY d.doc_id
    """,
)
def l_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-objective Pareto-front pruning: keep every English document
    NOT weakly dominated on (length, alphabetic-character ratio) — the
    skyline operator data-curation pipelines use to trade off quality
    signals without collapsing them into one weighted score.

    Algorithm (Spark side): the rollup-skyline — aggregate the corpus
    to ONE row per distinct length (max alpha_ratio), run the
    strictly-longer running max over that LENGTH-DOMAIN-sized rollup
    (``RANGE 1 PRECEDING`` under n_len DESC ⇒ strictly greater
    lengths), and broadcast the |distinct lengths|-row skyline spine
    back onto the corpus. A doc survives iff no strictly-longer length
    class reaches its ratio and it is the ratio-max of its own length
    class (ties on both axes survive together — weak Pareto
    semantics). The DuckDB oracle states the same front through the
    quadratic NOT EXISTS definition — an independent formulation.

    Determinism: alpha_ratio is ONE double division of two exact
    integers (identical both engines); comparisons and maxes operate on
    those exact doubles, so the surviving set is bit-stable. Rounding
    happens only at output (never feeds a comparison).

    Scale: the corpus passes through one n_len-keyed hash agg
    (map-side partials) and one broadcast equi-join — never a global
    sort and never the oracle's O(n²) nested loop. The only
    unpartitioned window runs over the rollup, whose row count is
    bounded by the LENGTH VALUE DOMAIN, not the corpus (the
    l_tokens_zipf_fit bounded-input class; whitelisted with that
    justification in test_plans.py).
    """
    d = table(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    s = d.select(
        "doc_id",
        F.length("text").alias("n_len"),
        (
            F.length(
                F.regexp_replace(F.lower(F.col("text")), "[^a-z]", "")
            ).cast("double")
            / F.length("text")
        ).alias("alpha_ratio"),
    )
    per_len = s.groupBy("n_len").agg(F.max("alpha_ratio").alias("mx"))
    w_longer = (
        W.orderBy(F.col("n_len").desc())
        .rangeBetween(W.unboundedPreceding, -1)
    )
    spine = per_len.select(
        "n_len",
        "mx",
        F.max("mx").over(w_longer).alias("best_longer"),
    )
    return (
        s.join(F.broadcast(spine), "n_len")
        .filter(
            (
                F.col("best_longer").isNull()
                | (F.col("best_longer") < F.col("alpha_ratio"))
            )
            & (F.col("alpha_ratio") == F.col("mx"))
        )
        .select(
            "doc_id",
            "n_len",
            dround(F.col("alpha_ratio"), 6).alias("alpha_ratio"),
        )
        .orderBy("doc_id")
    )


@query(
    "l_embedding_rp",
    oracle="""
    WITH dims AS (SELECT unnest(generate_series(0, 7)) AS j),
    pos AS (SELECT unnest(generate_series(1, 64)) AS i),
    terms AS (
        SELECT e.vec_id, d.j,
               CAST(trunc(
                   (CASE WHEN substring(md5(d.j::VARCHAR || '_' || p.i::VARCHAR), 1, 1)
                             IN ('0','2','4','6','8','a','c','e')
                         THEN 1.0 ELSE -1.0 END)
                   * CAST(e.embedding[p.i] AS DOUBLE) * 1e9
               ) AS BIGINT) AS tq
        FROM embeddings e, dims d, pos p
        WHERE e.vec_id < 100
    )
    SELECT vec_id, j,
           ROUND(CAST(SUM(tq) AS BIGINT) / 1e9 * 1e6, 0) / 1e6 + 0 AS proj
    FROM terms
    GROUP BY vec_id, j
    ORDER BY vec_id, j
    """,
)
def l_embedding_rp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random projection (Johnson–Lindenstrauss): reduce 64-dim
    embeddings to 8 dims with a DETERMINISTIC ±1 sign matrix derived
    from md5(j_i) parity — the hash-seeded sketch that lets a 100 TB
    pipeline shrink vectors for ANN pre-filtering without shipping a
    projection matrix (both engines, and any executor, re-derive the
    same signs from the hash; cf. Achlioptas 2003 database-friendly
    projections).

    Determinism: each term sign·v·1e9 is truncated to BIGINT per
    (position, output-dim) BEFORE summation (rule 11e — the 64-term
    float sum would be order-sensitive; the integer sum is immune);
    Spark's CAST truncates while DuckDB's rounds, so the oracle spells
    trunc() (rule 6). md5 of the identical string is identical.

    Scale: posexplode fans each vector to 64·8 = 512 terms — a map-side
    expansion with no shuffle until the (vec_id, j) partial-agg
    combine; the sign matrix never materializes anywhere. At 1000
    executors this is embarrassingly parallel; the output is 8× smaller
    than the input. The vec_id < 100 cap only bounds the ORACLE
    comparison surface, not the technique.
    """
    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    dims = F.broadcast(
        table(spark, sf_dir, "embeddings")
        .sparkSession.range(0, 8)
        .select(F.col("id").cast("int").alias("j"))
    )
    terms = (
        e.select(
            "vec_id", F.posexplode("embedding").alias("i0", "v")
        )
        .crossJoin(dims)
        .select(
            "vec_id",
            "j",
            F.expr(
                """
                CAST(
                    (CASE WHEN substring(
                              md5(concat(CAST(j AS STRING), '_',
                                         CAST(i0 + 1 AS STRING))), 1, 1)
                          IN ('0','2','4','6','8','a','c','e')
                     THEN 1.0D ELSE -1.0D END)
                    * CAST(v AS DOUBLE) * 1e9
                AS BIGINT)
                """
            ).alias("tq"),
        )
    )
    return (
        terms.groupBy("vec_id", "j")
        .agg(F.sum("tq").alias("sq"))
        .select(
            "vec_id",
            "j",
            dround(F.col("sq") / F.lit(1e9), 6).alias("proj"),
        )
        .orderBy("vec_id", "j")
    )


@query(
    "l_ml_naive_bayes",
    oracle="""
    WITH tr AS (
        SELECT doc_id, lang, lower(text) AS lt FROM documents
        WHERE doc_id % 2 = 0
    ), te AS (
        SELECT doc_id, lang, lower(text) AS lt FROM documents
        WHERE doc_id % 2 = 1
    ), trt AS (
        SELECT doc_id, lang, unnest(string_split(lt, ' ')) AS tok FROM tr
    ), v AS (
        SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS vsz FROM trt
    ), cls AS MATERIALIZED (
        SELECT t.lang,
               CAST(COUNT(*) AS BIGINT) AS n_c,
               (SELECT vsz FROM v) AS vsz,
               CAST((SELECT COUNT(*) FROM tr d2 WHERE d2.lang = t.lang)
                    AS BIGINT) AS nd_c,
               CAST((SELECT COUNT(*) FROM tr) AS BIGINT) AS nd
        FROM trt t
        GROUP BY t.lang
    ), lp AS MATERIALIZED (
        SELECT c.lang, t.tok,
               ln(CAST(cnt + 1 AS DOUBLE) / CAST(c.n_c + c.vsz AS DOUBLE))
                   AS lpv
        FROM (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM trt GROUP BY lang, tok) t
        JOIN cls c ON c.lang = t.lang
    ), qlp AS MATERIALIZED (
        SELECT lang, tok, CAST(trunc(lpv * 1e12) AS BIGINT) AS q FROM lp
    ), qcls AS MATERIALIZED (
        SELECT lang,
               CAST(trunc(ln(1.0 / CAST(n_c + vsz AS DOUBLE)) * 1e12)
                    AS BIGINT) AS qdef,
               CAST(trunc(ln(CAST(nd_c AS DOUBLE) / CAST(nd AS DOUBLE))
                          * 1e12) AS BIGINT) AS qprior
        FROM cls
    ), dt AS (
        SELECT doc_id, lang AS true_lang,
               CAST(len(string_split(lt, ' ')) AS BIGINT) AS mtot
        FROM te
    ), matched AS (
        SELECT tt.doc_id, l.lang,
               CAST(SUM(l.q) AS BIGINT) AS ms,
               CAST(COUNT(*) AS BIGINT) AS mm
        FROM (SELECT doc_id, unnest(string_split(lt, ' ')) AS tok FROM te) tt
        JOIN qlp l ON l.tok = tt.tok
        GROUP BY tt.doc_id, l.lang
    ), sc AS (
        SELECT d.doc_id, d.true_lang, c.lang,
               COALESCE(ma.ms, 0)
               + (d.mtot - COALESCE(ma.mm, 0)) * c.qdef
               + c.qprior AS score
        FROM dt d
        CROSS JOIN qcls c
        LEFT JOIN matched ma ON ma.doc_id = d.doc_id AND ma.lang = c.lang
    ), pred AS (
        SELECT true_lang, lang AS pred_lang,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, lang ASC) AS rk
        FROM sc
    )
    SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
    FROM pred
    WHERE rk = 1
    GROUP BY true_lang, pred_lang
    """,
)
def l_ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine multinomial Naive Bayes language classifier: TRAIN on
    even-doc_id documents (per-class token counts with add-1 Laplace
    smoothing over the train vocabulary, log priors from class doc
    frequencies), PREDICT the language of odd-doc_id documents by
    argmax of the summed log-likelihoods, and emit the confusion
    matrix — the classic generatively-trained classifier expressed
    entirely as distributed DataFrame algebra (cf. MADlib's NB and
    Spark MLlib's NaiveBayes, which materialize the same per-(class,
    token) count table; doc §2 of the mandate: corpus classification).

    Fixture note: this corpus's lang labels are INDEPENDENT of its
    token content (all langs share one synthetic vocabulary), so
    measured accuracy (~0.40 at sf0.1) is prior-dominated by design —
    the oracle hash-match verifies the train/score/argmax algebra, and
    tests/test_property.py proves the mechanism: perfect diagonal on a
    disjoint-vocabulary corpus plus cross-engine agreement under
    Hypothesis-randomized labelled corpora.

    Determinism (rules 6/11e): every log is computed from EXACT
    integer counts, so ln() sees the identical double in both engines
    (libm-identical — the l_dsir_weight precedent); each log-prob is
    truncated to fixed-point BIGINT per TOKEN TYPE (q = trunc(lp·1e12);
    toward-zero trunc on negatives matches Spark CAST — oracle spells
    trunc()), so a doc's score Σ m_t·q(t,c) is pure-integer and — key
    property — LINEAR in the multiplicities. Linearity lets the unseen-
    token mass collapse algebraically: score = Σ_matched m·q +
    (M − M_matched)·qdefault + qprior, exact, no per-token class
    fan-out. Argmax ties break on lang ASC over exact integers.

    Scale (x10/x100 measured — BASELINE.md round-8 note): the model IS
    a DataFrame — (class, token) counts partial-aggregate map-side; the
    scoring join touches tokens ONCE (inner join to the broadcast
    model, which only fans out matched (token, class) pairs) and the
    |classes| grid attaches at DOC level (|test docs|·5 rows), not
    token level. For web-scale vocabularies swap the broadcast for a
    token-keyed shuffle join — same algebra. No iteration, no driver-
    side model state: NB trains in exactly one pass, which is why it
    remains the 100 TB baseline classifier.
    """
    # r12 scatter: single-split fixture scans serialize the
    # map stage on one core (see session.scatter; no-op at scale)
    d = scatter(spark, table(spark, sf_dir, "documents")).select(
        "doc_id", "lang", F.lower(F.col("text")).alias("lt")
    )
    tr = d.filter(F.col("doc_id") % 2 == 0)
    te = d.filter(F.col("doc_id") % 2 == 1)
    # The train token stream is consumed exactly ONCE: the (lang,
    # token) model partial-agg collapses it map-side to the vocab-sized
    # count table, which is localCheckpoint-ed (the staged model table
    # of a production run — vocab x classes rows, NOT corpus-sized).
    # Vocabulary size, class token totals, the smoothed log-prob model
    # and the class constants all derive from that checkpoint, so the
    # two bounded collects and the model broadcast do not re-run the
    # corpus explode (pre-checkpoint they re-executed it ~4x; measured
    # in BASELINE.md's round-8 note). Class doc counts come from a
    # doc_id/lang-pruned scan that never decodes text.
    trt = tr.select(
        "doc_id", "lang", F.explode(F.split("lt", " ")).alias("tok")
    )
    # Class constants as TWO bounded collects, not a checkpointed cls
    # frame (r8 verdict item 2 — the old cls chained crossJoins over
    # two extra tr scans plus a separate vocab-distinct pass and a
    # third collect; the scheduling floor was the jobs, not the data):
    #   collect 1 — class doc counts from ONE rollup over the
    #     doc_id/lang-pruned train scan (never decodes text); the
    #     grand-total row supplies nd, so no crossJoin and no 2nd scan.
    #     It is independent of the model build, so it runs on a
    #     CONCURRENT job thread overlapping the ct checkpoint
    #     (measured: overlaps its full 0.16 s at sf0.1).
    #   collect 2 — vocabulary size AND every per-class token total in
    #     ONE rollup aggregation over the vocab-sized ct checkpoint
    #     (label-free, so it needs nothing from collect 1).
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(1) as pool:
        fut = pool.submit(
            tr.rollup("lang").agg(F.count("*").alias("c")).collect
        )
        ct = (
            trt.groupBy("lang", "tok")
            .agg(F.count("*").alias("cnt"))
            .localCheckpoint()
        )
        rows = fut.result()
    nd_c: dict = {}
    nd = 0
    for r in rows:
        if r["lang"] is None:
            nd = r["c"]
        else:
            nd_c[r["lang"]] = r["c"]
    labels = sorted(nd_c)  # the class domain, from the same collect
    if not labels:  # empty train half: no model, no predictions
        return spark.createDataFrame(
            [], "true_lang string, pred_lang string, n bigint"
        )
    stats = {
        (r["lang"] if r["lang"] is not None else None): r
        for r in ct.rollup("lang")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_c"),
            F.countDistinct("tok").alias("v"),
        )
        .collect()
    }
    vsz = stats[None]["v"]  # grand-total row: global vocabulary size
    ncv = {c: (stats[c]["n_c"] if c in stats else 0) + vsz for c in labels}
    # qdef/qprior from the exact collected integers via Python
    # math.log — CPython calls the same libm log DuckDB's ln does, and
    # the inputs are identical IEEE doubles (integer-valued ratios), so
    # this is bit-safe under the l_dsir_weight libm precedent; int()
    # truncates toward zero = trunc (rule 6). Kills the qcls job.
    qconst = {
        c: (
            int(math.log(1.0 / ncv[c]) * 1e12),
            int(math.log(nd_c[c] / nd) * 1e12),
        )
        for c in labels
    }
    # Per-token log-probs keep the Spark-side F.log (proven ln-match),
    # with the smoothing denominator folded in as per-class LITERALS —
    # no cls join on the model path at all.
    denom = None
    for c in labels:
        arm = (F.col("lang") == c, F.lit(float(ncv[c])))
        denom = F.when(*arm) if denom is None else denom.when(*arm)
    lp = ct.select(
        "lang",
        "tok",
        (F.log((F.col("cnt") + 1).cast("double") / denom) * F.lit(1e12))
        .cast("bigint")
        .alias("q"),
    )
    # posexplode, with the doc's token total derived as max(pos)+1
    # INSIDE the aggregation: carrying size(split(lt)) as a projected
    # column through the Generate re-evaluates the full-document split
    # PER TOKEN ROW (CollapseProject merges any pre-projection back) —
    # quadratic in document length, measured 13 s vs 0.6 s at x10 docs
    # for the bare explode. The position column is generator output, so
    # nothing document-sized is recomputed per token.
    tokrows = te.select(
        "doc_id",
        F.col("lang").alias("true_lang"),
        F.posexplode(F.split("lt", " ")).alias("pos", "tok"),
    ).join(F.broadcast(lp), "tok", "left")  # model broadcast — KEPT
    # explicit (r11): lp IS the trained NB model (vocab x |labels|
    # log-likelihoods), and broadcasting the model to the scoring pass
    # is the standard distributed-NB serving plan; dropping the hint
    # made Catalyst sort-merge the fanned token stream (sf0.1 paired:
    # 5.23 s vs 1.3-2.3 s). At open-vocab scale the model table is
    # capped upstream (top-K features), not shuffled per token.
    # true_lang is functionally dependent on doc_id — fold it into the
    # GROUPING KEY, not a string MAX aggregate: a STRING aggregation
    # buffer is immutable, which silently demotes the whole aggregation
    # to SortAggregate (measured at x10 docs: two full sorts of the
    # fanned token stream). All buffers below are primitive bigints.
    aggs = [(F.max("pos") + 1).cast("bigint").alias("mtot")]
    for c in labels:
        aggs.append(
            F.sum(F.when(F.col("lang") == c, F.col("q"))).alias(f"ms_{c}")
        )
        aggs.append(
            F.sum(F.when(F.col("lang") == c, F.lit(1)).otherwise(0))
            .cast("bigint")
            .alias(f"mm_{c}")
        )
    per_doc = tokrows.groupBy("doc_id", "true_lang").agg(*aggs)
    # Materialize the per-class scores as REAL COLUMNS before building
    # the argmax CASE: inlining the score expression into every
    # pairwise comparison duplicates its subtree O(|classes|^2) times
    # and blows up Catalyst analysis + codegen (measured at x10 docs:
    # 34 s with inlined subtrees vs 7 s via this projection — the
    # rule-8d wide-codegen failure mode).
    scored = per_doc.select(
        "true_lang",
        *[
            (
                F.coalesce(F.col(f"ms_{c}"), F.lit(0))
                + (F.col("mtot") - F.col(f"mm_{c}")) * F.lit(qconst[c][0])
                + F.lit(qconst[c][1])
            ).alias(f"s_{c}")
            for c in labels
        ],
    )
    # First label (asc) whose score >= every LATER label's score is the
    # argmax with lang-ASC tie-break (finite-descent argument: any
    # earlier better label would have qualified first), so the CASE
    # chain only needs suffix comparisons — O(|classes|^2/2) terms.
    pred = None
    for i, c in enumerate(labels):
        cond = None
        for other in labels[i + 1:]:
            term = F.col(f"s_{c}") >= F.col(f"s_{other}")
            cond = term if cond is None else (cond & term)
        if cond is None:  # last label: the CASE's ELSE arm
            pred = F.lit(c) if pred is None else pred.otherwise(c)
        else:
            pred = F.when(cond, c) if pred is None else pred.when(cond, c)
    return (
        scored.select("true_lang", pred.alias("pred_lang"))
        .groupBy("true_lang", "pred_lang")
        .agg(F.count("*").alias("n"))
    )


@query(
    "l_mmr_rerank",
    oracle="""
    WITH cand AS MATERIALIZED (
        SELECT e.vec_id, e.embedding,
               (SELECT SUM(e.embedding[s.i]::DOUBLE * q.qe[s.i]::DOUBLE)
                FROM (SELECT unnest(generate_series(1, 64)) AS i) s) AS rel
        FROM embeddings e,
             (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
        WHERE e.vec_id <> 0
        ORDER BY rel DESC, e.vec_id LIMIT 12
    ), sims AS MATERIALIZED (
        SELECT a.vec_id AS va, b.vec_id AS vb,
               (SELECT SUM(a.embedding[s.i]::DOUBLE * b.embedding[s.i]::DOUBLE)
                FROM (SELECT unnest(generate_series(1, 64)) AS i) s) AS d
        FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
    ), s1 AS MATERIALIZED (
        SELECT vec_id, rel, 0.7 * rel AS score
        FROM cand ORDER BY rel DESC, vec_id LIMIT 1
    ), s2 AS MATERIALIZED (
        SELECT c.vec_id, c.rel,
               0.7 * c.rel - 0.3 * MAX(s.d) AS score
        FROM cand c JOIN sims s ON s.va = c.vec_id
        WHERE s.vb IN (SELECT vec_id FROM s1)
          AND c.vec_id NOT IN (SELECT vec_id FROM s1)
        GROUP BY c.vec_id, c.rel
        ORDER BY score DESC, c.vec_id LIMIT 1
    ), s3 AS MATERIALIZED (
        SELECT c.vec_id, c.rel,
               0.7 * c.rel - 0.3 * MAX(s.d) AS score
        FROM cand c JOIN sims s ON s.va = c.vec_id
        WHERE s.vb IN (SELECT vec_id FROM s1 UNION ALL SELECT vec_id FROM s2)
          AND c.vec_id NOT IN
              (SELECT vec_id FROM s1 UNION ALL SELECT vec_id FROM s2)
        GROUP BY c.vec_id, c.rel
        ORDER BY score DESC, c.vec_id LIMIT 1
    ), s4 AS MATERIALIZED (
        SELECT c.vec_id, c.rel,
               0.7 * c.rel - 0.3 * MAX(s.d) AS score
        FROM cand c JOIN sims s ON s.va = c.vec_id
        WHERE s.vb IN (SELECT vec_id FROM s1 UNION ALL
                       SELECT vec_id FROM s2 UNION ALL
                       SELECT vec_id FROM s3)
          AND c.vec_id NOT IN
              (SELECT vec_id FROM s1 UNION ALL
               SELECT vec_id FROM s2 UNION ALL
               SELECT vec_id FROM s3)
        GROUP BY c.vec_id, c.rel
        ORDER BY score DESC, c.vec_id LIMIT 1
    )
    SELECT rank, vec_id,
           ROUND(rel * 1e6, 0) / 1e6 + 0 AS rel,
           ROUND(score * 1e6, 0) / 1e6 + 0 AS mmr_score
    FROM (
        SELECT 1 AS rank, * FROM s1 UNION ALL
        SELECT 2, * FROM s2 UNION ALL
        SELECT 3, * FROM s3 UNION ALL
        SELECT 4, * FROM s4
    )
    """,
)
def l_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance reranking (Carbonell & Goldstein
    1998): greedily pick 4 results from the query's top-12 cosine
    candidates, each step maximizing λ·relevance − (1−λ)·max-similarity
    to the already-selected set (λ=0.7) — the diversity-aware rerank
    RAG pipelines apply after l_rag_rerank_rrf-style fusion so the
    context window isn't filled with near-duplicates of one hit.

    Determinism: vectors are unit-norm (cosine ≡ dot) and every dot is
    vdot's sequential double fold ≡ DuckDB's ordered correlated-
    subquery SUM — bit-identical doubles — so argmax comparisons agree
    exactly; ties break on vec_id ASC; scores can straddle zero → +0
    guards. The oracle unrolls the same greedy recursion as chained
    MATERIALIZED CTEs (rule 7).

    Scale: candidate generation is the l_sim_search_topk map-only
    top-k; the greedy loop then runs on the TOP-K ONLY — pairwise sims
    among 12 candidates (144 rows, localCheckpoint-ed once), k=4
    bounded 1-row collects steering the recursion (the PCA/k-means
    bounded-driver-step pattern; k and top-k are constants, never
    corpus-sized). At 100 TB nothing changes: MMR cost is O(k·topk),
    independent of corpus size.
    """
    from sqlengine_spark.session import load_tables

    load_tables(spark, sf_dir, ("embeddings",))
    cand = spark.sql(
        """
        SELECT /*+ BROADCAST(q) */ e.vec_id, e.embedding,
               aggregate(zip_with(e.embedding, q.qe,
                                  (x, y) -> CAST(x AS DOUBLE)
                                            * CAST(y AS DOUBLE)),
                         CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS rel
        FROM embeddings e,
             (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
        WHERE e.vec_id <> 0
        ORDER BY rel DESC, e.vec_id LIMIT 12
        """
    ).localCheckpoint()  # 12 rows; one scan feeds sims + every step
    a = cand.select(F.col("vec_id").alias("va"), F.col("embedding").alias("ea"))
    b = cand.select(F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"))
    from sqlengine_spark.functions import vdot

    sims = (
        a.join(F.broadcast(b), F.col("va") != F.col("vb"))
        .select("va", "vb", vdot(F.col("ea"), F.col("eb")).alias("d"))
        .localCheckpoint()  # 132 rows
    )
    rel_only = cand.select("vec_id", "rel")
    picked: list[tuple[int, int, float, float]] = []  # bounded: k=4 rows
    sel_ids: list[int] = []
    for rank in range(1, 5):
        if not sel_ids:
            row = rel_only.orderBy(
                F.col("rel").desc(), F.col("vec_id").asc()
            ).first()
            score = 0.7 * row["rel"]
        else:
            row = (
                rel_only.filter(~F.col("vec_id").isin(sel_ids))
                .join(
                    sims.filter(F.col("vb").isin(sel_ids)),
                    F.col("va") == F.col("vec_id"),
                )
                .groupBy("vec_id", "rel")
                .agg(F.max("d").alias("maxsim"))
                .select(
                    "vec_id",
                    "rel",
                    (
                        F.lit(0.7) * F.col("rel")
                        - F.lit(0.3) * F.col("maxsim")
                    ).alias("score"),
                )
                .orderBy(F.col("score").desc(), F.col("vec_id").asc())
                .first()
            )
            score = row["score"]
        sel_ids.append(row["vec_id"])
        picked.append((rank, row["vec_id"], row["rel"], score))
    out = spark.createDataFrame(
        picked, "rank int, vec_id long, rel double, mmr_score double"
    )
    return out.select(
        "rank",
        "vec_id",
        dround(F.col("rel"), 6).alias("rel"),
        dround(F.col("mmr_score"), 6).alias("mmr_score"),
    )


@query(
    "l_ml_cv_folds",
    oracle="""
    WITH f AS (
        SELECT doc_id % 5 AS fold,
               len(string_split(text, ' ')) AS x, n_chars AS y
        FROM documents
    ), pf AS MATERIALIZED (
        SELECT fold, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM f GROUP BY fold
    ), g AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(sx) AS BIGINT) AS sx,
               CAST(SUM(sy) AS BIGINT) AS sy,
               CAST(SUM(sxy) AS BIGINT) AS sxy,
               CAST(SUM(sxx) AS BIGINT) AS sxx
        FROM pf
    ), tr AS MATERIALIZED (
        SELECT pf.fold, g.n - pf.n AS ntr,
               g.sx - pf.sx AS sxt, g.sy - pf.sy AS syt,
               g.sxy - pf.sxy AS sxyt, g.sxx - pf.sxx AS sxxt
        FROM pf, g
    ), m AS MATERIALIZED (
        SELECT fold, ntr,
               CAST(ntr * sxyt - sxt * syt AS DOUBLE)
                   / CAST(NULLIF(ntr * sxxt - sxt * sxt, 0) AS DOUBLE)
                   AS slope,
               sxt, syt
        FROM tr
    ), m2 AS MATERIALIZED (
        SELECT fold, ntr, slope,
               (CAST(syt AS DOUBLE) - slope * CAST(sxt AS DOUBLE))
                   / CAST(ntr AS DOUBLE) AS icept
        FROM m
    ), ev AS (
        SELECT m2.fold, m2.ntr, m2.slope, m2.icept,
               CAST(COUNT(*) AS BIGINT) AS nte,
               CAST(SUM(CAST(FLOOR(
                   (CAST(f.y AS DOUBLE)
                    - (m2.icept + m2.slope * CAST(f.x AS DOUBLE)))
                   * (CAST(f.y AS DOUBLE)
                      - (m2.icept + m2.slope * CAST(f.x AS DOUBLE)))
                   * 1e6) AS BIGINT)) AS BIGINT) AS sq
        FROM f JOIN m2 ON m2.fold = f.fold
        GROUP BY 1, 2, 3, 4
    )
    SELECT fold, CAST(ntr AS BIGINT) AS n_train, nte AS n_test,
           ROUND(slope * 1e8) / 1e8 + 0 AS slope,
           ROUND(icept * 1e8) / 1e8 + 0 AS intercept,
           CAST(sq AS DOUBLE) / (CAST(nte AS DOUBLE) * 1e6) AS mse
    FROM ev
    """,
)
def l_ml_cv_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-FOLD CROSS-VALIDATED REGRESSION — the model-selection loop a
    training pipeline runs before committing to a quality scorer: 5
    deterministic folds (doc_id % 5), each fold's simple linear model
    (n_chars ~ token count) fit CLOSED-FORM on the other 4 folds via
    the normal equations, then scored on the held-out fold (MSE).

    Determinism: the train-side moment sums are exact ``ols_moments``
    (train = global minus fold — one pass, no 5x re-scan);
    slope/intercept are single double divisions of exact integers,
    bit-identical in both engines; per-row squared residuals are
    FLOOR-quantized to 1e-6 fixed-point BIGINT before summing
    (order-immune, the l_dsir_weight pattern), so the MSE is an
    exact-integer ratio.

    Scale: ONE rollup aggregation over the checkpointed (fold, x, y)
    frame yields all five per-fold moment sets AND the grand total in
    a single partial-agg shuffle (complement trick; the grand-total
    row replaces the old separate 1-row collect job — r9 verdict item
    8); the 5-row model table is assembled driver-side from the exact
    collected integers and broadcast into the eval join. At 100 TB the
    shape is unchanged — CV is two linear passes, never k re-scans.
    """
    # r12 scatter: single-split fixture scans serialize the
    # map stage on one core (see session.scatter; no-op at scale)
    d = scatter(spark, table(spark, sf_dir, "documents"))
    # single-tokenize: the (fold, x, y) frame feeds BOTH the moment agg
    # and the eval join; localCheckpoint (per-invocation, rule 11a)
    # materializes the 3-int-column frame once so split(text) never
    # re-executes (paired x100 A/B: 8.64 -> 3.80 s, identical rows)
    f = d.select(
        (F.col("doc_id") % 5).alias("fold"),
        F.size(F.split(F.col("text"), " ")).alias("x"),
        F.col("n_chars").alias("y"),
    ).localCheckpoint()
    # ONE rollup pass gives per-fold AND grand-total moments (the NB
    # collect-1 pattern; r9 verdict item 8 — the old pf-groupBy +
    # separate pf.agg collect spent an extra job re-reading the
    # checkpoint for 1 row). Bounded: k+1 = 6 rows.
    rows = f.rollup("fold").agg(*ols_moments()).collect()
    g = next((r for r in rows if r["fold"] is None), None)
    folds = sorted(r["fold"] for r in rows if r["fold"] is not None)
    if g is None or not folds:
        return spark.createDataFrame(
            [],
            "fold bigint, n_train bigint, n_test bigint, "
            "slope double, intercept double, mse double",
        )
    per = {r["fold"]: r for r in rows if r["fold"] is not None}
    # The 5-row model table is built driver-side from the EXACT
    # collected integers: Python int arithmetic is exact, and the
    # explicit float() casts reproduce CAST(bigint AS DOUBLE) before
    # the divide in BOTH engines (never bare int/int, which Python
    # rounds as a rational — the l_dsir_weight libm precedent).
    # NULLIF guard (r9 ADVICE): a zero-variance training fold divides
    # by zero, where engine semantics diverge — pin both to NULL/None.
    model = []
    for k in folds:
        r = per[k]
        ntr = g["n"] - r["n"]
        sxt, syt = g["sx"] - r["sx"], g["sy"] - r["sy"]
        sxyt, sxxt = g["sxy"] - r["sxy"], g["sxx"] - r["sxx"]
        den = ntr * sxxt - sxt * sxt
        slope = (
            None if den == 0 else float(ntr * sxyt - sxt * syt) / float(den)
        )
        icept = (
            None
            if slope is None or ntr == 0
            else (float(syt) - slope * float(sxt)) / float(ntr)
        )
        model.append((k, ntr, slope, icept))
    m2 = spark.createDataFrame(
        model, "fold bigint, ntr bigint, slope double, icept double"
    )
    resid = (
        F.col("y").cast("double")
        - (F.col("icept") + F.col("slope") * F.col("x").cast("double"))
    )
    ev = (
        f.join(F.broadcast(m2), "fold")
        .groupBy("fold", "ntr", "slope", "icept")
        .agg(
            F.count("*").alias("nte"),
            F.sum(F.floor(resid * resid * 1e6)).alias("sq"),
        )
    )
    return ev.select(
        "fold",
        F.col("ntr").alias("n_train"),
        F.col("nte").alias("n_test"),
        dround(F.col("slope"), 8).alias("slope"),
        dround(F.col("icept"), 8).alias("intercept"),
        (
            F.col("sq").cast("double") / (F.col("nte").cast("double") * F.lit(1e6))
        ).alias("mse"),
    )


@query(
    "l_ml_stump",
    oracle="""
    WITH lab AS (
        SELECT n_chars AS v,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        FROM documents
    ), dv AS MATERIALIZED (
        SELECT v, CAST(SUM(pos) AS BIGINT) AS p,
               CAST(COUNT(*) - SUM(pos) AS BIGINT) AS q
        FROM lab GROUP BY v
    ), tot AS (
        SELECT CAST(SUM(p) AS BIGINT) AS tp, CAST(SUM(q) AS BIGINT) AS tq
        FROM dv
    ), cum AS (
        SELECT v,
               SUM(p) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS pl,
               SUM(q) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ql
        FROM dv
    ), sc AS (
        SELECT v AS threshold,
               CAST(pl + ql AS BIGINT) AS n_left,
               CAST(tp - pl + tq - ql AS BIGINT) AS n_right,
               CAST(LEAST(pl, ql) + LEAST(tp - pl, tq - ql)
                    AS BIGINT) AS errors,
               CASE WHEN pl >= ql THEN 'en' ELSE 'other' END AS left_label,
               CASE WHEN tp - pl >= tq - ql THEN 'en' ELSE 'other' END
                   AS right_label,
               CAST(tp + tq
                    - (LEAST(pl, ql) + LEAST(tp - pl, tq - ql)) AS DOUBLE)
                   / CAST(tp + tq AS DOUBLE) AS accuracy
        FROM cum, tot
    )
    SELECT * FROM sc ORDER BY errors, threshold LIMIT 1
    """,
)
def l_ml_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECISION-STUMP TRAINING (best single split) — distributed
    best-split search, the inner loop of every tree learner: find the
    n_chars threshold that best separates English from non-English
    documents under 0-1 loss with per-side majority vote.

    The split criterion is deliberately the CLASSIFICATION ERROR
    min(pos_l, neg_l) + min(pos_r, neg_r) — a pure INTEGER, so the
    argmin is exact in both engines (Gini/entropy involve per-threshold
    rational comparisons that cannot be cleared to a shared integer
    scale); the argmin takes a (errors, threshold) total order
    (rule 5).

    Scale: candidate thresholds collapse to the DISTINCT feature values
    (one keyed groupBy — the bounded value domain, 48..553 here); the
    cumulative class counts are ONE global window over that bounded
    domain (the l_ks_test sanction: the window input is never
    corpus-sized), and the argmin is a 1-row TakeOrdered. At 100 TB
    with a continuous feature, production would bucket to quantile
    candidates first — same plan shape, documented not coded.
    """
    d = table(spark, sf_dir, "documents")
    dv = (
        d.select(
            F.col("n_chars").alias("v"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
        )
        .groupBy("v")
        .agg(
            F.sum("pos").alias("p"),
            (F.count("*") - F.sum("pos")).alias("q"),
        )
    )
    # bounded: 1 row (global class totals over the value domain)
    t = dv.agg(F.sum("p").alias("tp"), F.sum("q").alias("tq")).collect()[0]
    tp, tq = int(t["tp"]), int(t["tq"])
    wc = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = dv.select(
        "v",
        F.sum("p").over(wc).alias("pl"),
        F.sum("q").over(wc).alias("ql"),
    )
    errors = F.least(F.col("pl"), F.col("ql")) + F.least(
        F.lit(tp) - F.col("pl"), F.lit(tq) - F.col("ql")
    )
    sc = cum.select(
        F.col("v").alias("threshold"),
        (F.col("pl") + F.col("ql")).alias("n_left"),
        (F.lit(tp) - F.col("pl") + F.lit(tq) - F.col("ql")).alias("n_right"),
        errors.alias("errors"),
        F.when(F.col("pl") >= F.col("ql"), "en").otherwise("other").alias(
            "left_label"
        ),
        F.when(
            F.lit(tp) - F.col("pl") >= F.lit(tq) - F.col("ql"), "en"
        ).otherwise("other").alias("right_label"),
        (
            (F.lit(tp) + F.lit(tq) - errors).cast("double")
            / F.lit(float(tp + tq))
        ).alias("accuracy"),
    )
    return sc.orderBy("errors", "threshold").limit(1)


@query(
    "l_calibration_curve",
    oracle="""
    WITH s AS (
        SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
               CAST((n_chars - 40) * (n_chars - 40) AS DOUBLE)
                   / CAST((n_chars - 40) * (n_chars - 40) + 40000
                          AS DOUBLE) AS p
        FROM documents
    ), b AS (
        SELECT LEAST(CAST(FLOOR(p * 10) AS BIGINT), 9) AS bin, pos,
               CAST(FLOOR(p * 1e9) AS BIGINT) AS pq
        FROM s
    )
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(SUM(pos) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS frac_pos,
           CAST(SUM(pq) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1e9)
               AS mean_pred
    FROM b GROUP BY bin
    """,
)
def l_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASSIFIER CALIBRATION CURVE (reliability diagram) — bin a
    frozen model's predicted probabilities into deciles and compare
    mean predicted probability against the empirical positive rate per
    bin (Niculescu-Mizil & Caruana 2005's reliability-diagram method —
    public): the standard post-training calibration audit for any quality /
    language classifier gating a corpus.

    The frozen scorer is a RATIONAL squash p = z²/(z² + c) with
    z = n_chars - 40 (exact IEEE ops in both engines) rather than a
    logistic — exp() is libm-dependent (JVM Math.exp vs glibc can
    differ in the last ulp, which would flip decile membership at bin
    boundaries); rationals make the bin id and the 1e-9 fixed-point
    quantized score bit-identical by construction.

    Scale: everything is map-side expression work plus one 10-group
    rollup with partial aggregation — the plan a 100 TB calibration
    audit runs unchanged.
    """
    d = table(spark, sf_dir, "documents")
    z2 = (F.col("n_chars") - 40) * (F.col("n_chars") - 40)
    p = z2.cast("double") / (z2 + 40000).cast("double")
    b = d.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
        F.least(F.floor(p * 10), F.lit(9).cast("bigint")).alias("bin"),
        F.floor(p * 1e9).alias("pq"),
    )
    return b.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.sum("pos").alias("n_pos"),
        (F.sum("pos").cast("double") / F.count("*").cast("double")).alias(
            "frac_pos"
        ),
        (
            F.sum("pq").cast("double")
            / (F.count("*").cast("double") * F.lit(1e9))
        ).alias("mean_pred"),
    )


@query(
    "l_token_gini_select",
    oracle="""
    WITH t AS (
        SELECT DISTINCT doc_id,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS en,
               unnest(string_split(text, ' ')) AS tok
        FROM documents
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS nn,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                    AS BIGINT) AS pp
        FROM documents
    ), cnt AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(en) AS BIGINT) AS p
        FROM t GROUP BY tok
    ), sc AS (
        SELECT tok, n, p,
               CAST(FLOOR((
                   CAST(2 * pp * (nn - pp) AS DOUBLE)
                       / CAST(nn * nn AS DOUBLE)
                   - (CAST(2 * p * (n - p) AS DOUBLE) / CAST(n AS DOUBLE)
                      + CASE WHEN nn - n = 0 THEN 0.0
                             ELSE CAST(2 * (pp - p) * ((nn - n) - (pp - p))
                                       AS DOUBLE)
                                  / CAST(nn - n AS DOUBLE) END)
                     / CAST(nn AS DOUBLE)
               ) * 1e12 + 0.5) AS BIGINT) AS fp
        FROM cnt, tot
    )
    SELECT tok AS token, n AS n_docs, p AS n_en,
           fp / 1e12 + 0 AS gini_gain
    FROM sc ORDER BY fp DESC, tok LIMIT 20
    """,
)
def l_token_gini_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GINI-GAIN TOKEN FEATURE SELECTION — the categorical sibling of
    l_ml_stump's numeric split search and the log-free alternative to
    mutual information: for every token, split the corpus into docs
    containing it vs not, and rank tokens by the reduction in Gini
    impurity of the lang='en' label (top-20). This is the feature
    screen a pipeline runs before training a cheap quality/domain
    classifier — which tokens carry label signal.

    Determinism (no logs, no float sums anywhere): with N docs / P
    positive, n docs containing the token / p positive among them, the
    gain simplifies to exact-integer rationals,
        gain = 2P(N-P)/N^2 - [2p(n-p)/n + 2q(m-q)/m] / N
    (m = N-n, q = P-p; the m = 0 branch is pinned to 0 in both
    engines). Every product is exact BIGINT, every division is the
    IDENTICAL double expression in both engines, and the rank key is
    half-up 1e-12 fixed point — a total order with the token tiebreak
    (rule 5). Gini gain is non-negative, so no negative-zero hazard.

    Scale: doc-level token presence comes from a MAP-SIDE
    array_distinct before the explode (r11 — the old plan shuffled
    every (doc_id, en, token) row through a distinct first; within-doc
    dedup needs no exchange: paired 1.105→0.763 s at sf0.1,
    3.295→1.648 s at x100, identical top-20), then one token-keyed
    partial+final count agg to a vocabulary-bounded table, a 1-row
    broadcast of (N, P) (the e_win_pct_of_total pattern — no driver
    collect), and a TakeOrdered top-20. At open-vocabulary 100 TB the
    vocab table shards by token hash; the ONLY shuffle is per-doc type
    sets into that agg.
    """
    d = table(spark, sf_dir, "documents")
    en = F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0))
    tot = d.agg(
        F.count("*").alias("nn"), F.sum(en).alias("pp")
    )
    t = d.select(
        en.alias("en"),
        F.explode(F.array_distinct(F.split("text", " "))).alias("tok"),
    )
    cnt = t.groupBy("tok").agg(
        F.count("*").alias("n"), F.sum("en").alias("p")
    )
    j = cnt.crossJoin(F.broadcast(tot))
    m = F.col("nn") - F.col("n")
    q = F.col("pp") - F.col("p")
    base = (2 * F.col("pp") * (F.col("nn") - F.col("pp"))).cast("double") / (
        F.col("nn") * F.col("nn")
    ).cast("double")
    left = (2 * F.col("p") * (F.col("n") - F.col("p"))).cast("double") / F.col(
        "n"
    ).cast("double")
    right = F.when(m == 0, F.lit(0.0)).otherwise(
        (2 * q * (m - q)).cast("double") / m.cast("double")
    )
    fp = F.floor(
        (base - (left + right) / F.col("nn").cast("double")) * 1e12 + 0.5
    ).cast("bigint")
    return (
        j.select(
            F.col("tok").alias("token"),
            F.col("n").alias("n_docs"),
            F.col("p").alias("n_en"),
            fp.alias("fp"),
        )
        .select(
            "token",
            "n_docs",
            "n_en",
            (F.col("fp") / F.lit(1e12) + F.lit(0.0)).alias("gini_gain"),
            "fp",
        )
        .orderBy(F.col("fp").desc(), "token")
        .limit(20)
        .drop("fp")
    )
