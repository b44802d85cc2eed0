"""Tier U — evaluation & experimentation statistics, the layer an
evaluation pipeline runs on top of the curation tiers: a Bradley-Terry
arena leaderboard fit by MM iterations, split-conformal intervals,
drift and significance tests (Kolmogorov-Smirnov, McNemar, sequential
SPRT, Poisson bootstrap), A/B variance reduction and power (CUPED,
MDE), ranking, agreement and calibration metrics (nDCG, MRR, AUC, RBO,
Kendall tau, Spearman, Fleiss kappa, Brier, ECE, classifier
confusion), and text-generation metrics over candidate/reference
document pairs (ROUGE, BLEU, chrF and the composed eval report, batch
and streaming), which share one pairing, one clipped-overlap
aggregation and one bootstrap draw.

Float policy: iterative BT follows the l_embedding_pca sanction —
bounded driver-side state (|sources| scalars) re-rounded to 12 dp
half-away each step, with DuckDB replaying the identical iteration via
ordered aggregates (sequential fold, CLAUDE.md rule 4); everything
else reduces to exact integer sums cast to double for the final
identical expression (rule 11e).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sqlengine_spark.functions import dround, ols_moments, ols_slope, round12
from sqlengine_spark.registry import query
from sqlengine_spark.session import scatter, scratch, table
from sqlengine_spark.operators.tier_j_streaming import FiniteStream
from sqlengine_spark.operators.tier_l_llm import sampled_query_scores

_BT_ITERS = 5


def _bt_oracle(iters: int) -> str:
    its = []
    prev = "p0"
    for t in range(1, iters + 1):
        its.append(
            f"""it{t} AS MATERIALIZED (
        SELECT pr.i,
               w.w / SUM(pr.games / (pi.p + pj.p) ORDER BY pr.j) AS praw
        FROM pairs pr
        JOIN {prev} pi ON pi.i = pr.i
        JOIN {prev} pj ON pj.i = pr.j
        JOIN w ON w.i = pr.i
        GROUP BY pr.i, w.w
    ), it{t}n AS MATERIALIZED (
        SELECT i, ROUND(praw * (SELECT k FROM kk)
                        / (SELECT SUM(praw ORDER BY i) FROM it{t})
                        * 1e12) / 1e12 AS p
        FROM it{t}
    )"""
        )
        prev = f"it{t}n"
    return f"""
    WITH r AS (
        SELECT source, doc_id, n_chars,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        FROM documents
    ), m AS MATERIALIZED (
        SELECT a.source AS sa, b.source AS sb,
               CAST(COUNT(*) AS BIGINT) AS games,
               CAST(SUM(CASE WHEN a.n_chars > b.n_chars
                             OR (a.n_chars = b.n_chars
                                 AND a.doc_id < b.doc_id)
                        THEN 1 ELSE 0 END) AS BIGINT) AS wins_a
        FROM r a JOIN r b ON a.rn = b.rn AND a.source < b.source
        GROUP BY a.source, b.source
    ), pairs AS MATERIALIZED (
        SELECT sa AS i, sb AS j, games, wins_a AS wins FROM m
        UNION ALL
        SELECT sb, sa, games, games - wins_a FROM m
    ), w AS MATERIALIZED (
        SELECT i, CAST(SUM(wins) AS BIGINT) AS w,
               CAST(SUM(games) AS BIGINT) AS g
        FROM pairs GROUP BY i
    ), kk AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k FROM w
    ), p0 AS MATERIALIZED (
        SELECT i, CAST(1.0 AS DOUBLE) AS p FROM w
    ), {", ".join(its)}
    SELECT w.i AS source, w.g AS games, w.w AS wins,
           ROUND(p.p * 1e6) / 1e6 + 0.0 AS bt_score,
           CAST(ROW_NUMBER() OVER (ORDER BY p.p DESC, w.i) AS INT) AS rank
    FROM w JOIN {prev} p ON p.i = w.i
    """


@query("l_bt_leaderboard", oracle=_bt_oracle(_BT_ITERS))
def l_bt_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRADLEY-TERRY arena leaderboard over sources, fit by the
    classic MM (minorization-maximization) iteration — the algorithm
    behind LLM-arena Elo-style rankings, run on deterministic
    position-matched "battles": rank-r document of source A vs rank-r
    document of source B, longer text wins (doc_id breaks ties; the
    honest-stub convention for a judge verdict).

    Iteration (5 steps): p_i <- W_i / Σ_j n_ij/(p_i+p_j), renormalized
    to mean 1 and rounded to 12 dp half-away each step. The pairwise
    win matrix is BOUNDED (|sources|² entries), so it is collected
    driver-side and iterated in plain Python — the l_embedding_pca
    sanction: per-step driver state is O(k), never data. The DuckDB
    oracle replays the identical unrolled iterations with ordered
    aggregates (sequential double fold == Python's sequential sum,
    rule 4) over MATERIALIZED CTEs (rule 7).

    Scale: battles come from a rank-keyed equi-join (per-rank fan-out
    ≤ C(|sources|,2), sources bounded); the win matrix aggregation is
    one partial+final agg; the fit is corpus-size-independent. At
    100 TB only the match join grows — linearly, on a keyed shuffle.
    """
    d = table(spark, sf_dir, "documents")
    r = d.select(
        "source",
        "doc_id",
        "n_chars",
        F.row_number().over(W.partitionBy("source").orderBy("doc_id")).alias("rn"),
    )
    a = r.select(
        F.col("source").alias("sa"),
        F.col("doc_id").alias("da"),
        F.col("n_chars").alias("ca"),
        "rn",
    )
    b = r.select(
        F.col("source").alias("sb"),
        F.col("doc_id").alias("db"),
        F.col("n_chars").alias("cb"),
        "rn",
    )
    win_a = (F.col("ca") > F.col("cb")) | (
        (F.col("ca") == F.col("cb")) & (F.col("da") < F.col("db"))
    )
    m = (
        a.join(b, "rn")
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(
            F.count("*").alias("games"),
            F.sum(win_a.cast("bigint")).alias("wins_a"),
        )
    )
    sym = m.select(
        F.col("sa").alias("i"), F.col("sb").alias("j"), "games",
        F.col("wins_a").alias("wins"),
    ).unionAll(
        m.select(
            F.col("sb").alias("i"), F.col("sa").alias("j"), "games",
            (F.col("games") - F.col("wins_a")).alias("wins"),
        )
    ).localCheckpoint()  # single match-join scan feeds collect + final agg

    rows = sym.collect()  # bounded: <= |sources|^2 rows, corpus-independent
    srcs = sorted({r_["i"] for r_ in rows})
    k = len(srcs)
    g = {(r_["i"], r_["j"]): r_["games"] for r_ in rows}
    wtot: dict[str, int] = {s: 0 for s in srcs}
    for r_ in rows:
        wtot[r_["i"]] += r_["wins"]
    p = {s: 1.0 for s in srcs}
    for _ in range(_BT_ITERS):
        praw = {}
        for i in srcs:
            denom = 0.0
            for j in srcs:  # sorted == oracle's ORDER BY pr.j fold
                if j != i and (i, j) in g:
                    denom += g[(i, j)] / (p[i] + p[j])
            praw[i] = wtot[i] / denom
        s_tot = 0.0
        for i in srcs:  # sorted == oracle's SUM(praw ORDER BY i)
            s_tot += praw[i]
        p = {i: round12(praw[i] * k / s_tot) for i in srcs}

    bt = F.broadcast(
        spark.createDataFrame(
            [(s, p[s]) for s in srcs], "i string, p double"
        )
    )
    per_src = sym.groupBy("i").agg(
        F.sum("games").alias("games"), F.sum("wins").alias("wins")
    )
    return (
        per_src.join(bt, "i")
        .select(
            F.col("i").alias("source"),
            "games",
            "wins",
            dround(F.col("p"), 6).alias("bt_score"),
            F.row_number()
            .over(W.orderBy(F.col("p").desc(), "i"))
            .cast("int")
            .alias("rank"),
        )
    )


@query(
    "l_conformal_interval",
    oracle="""
    WITH f AS (
        SELECT doc_id, len(string_split(text, ' ')) AS x,
               n_chars AS y, doc_id % 4 AS fold
        FROM documents
    ), tr AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM f WHERE fold IN (0, 1)
    ), ab AS MATERIALIZED (
        SELECT (n * sxy - sx * CAST(sy AS DOUBLE)) / (n * sxx - sx * CAST(sx AS DOUBLE)) AS b,
               (sy - (n * sxy - sx * CAST(sy AS DOUBLE)) / (n * sxx - sx * CAST(sx AS DOUBLE)) * sx)
                   / CAST(n AS DOUBLE) AS a
        FROM tr
    ), cal AS MATERIALIZED (
        SELECT ABS(f.y - ((SELECT a FROM ab) + (SELECT b FROM ab) * f.x)) AS r,
               f.doc_id
        FROM f WHERE fold = 2
    ), q AS MATERIALIZED (
        SELECT r AS q FROM (
            SELECT r, ROW_NUMBER() OVER (ORDER BY r, doc_id) AS rn,
                   COUNT(*) OVER () AS n
            FROM cal
        ) WHERE rn = CAST(CEIL(CAST(0.9 AS DOUBLE) * (n + 1)) AS BIGINT)
    )
    SELECT f.doc_id, CAST(f.x AS BIGINT) AS n_tokens, f.y AS n_chars,
           ROUND(((SELECT a FROM ab) + (SELECT b FROM ab) * f.x) * 1e4) / 1e4
               + 0.0 AS pred,
           ROUND(((SELECT a FROM ab) + (SELECT b FROM ab) * f.x
                  - (SELECT q FROM q)) * 1e4) / 1e4 + 0.0 AS lo,
           ROUND(((SELECT a FROM ab) + (SELECT b FROM ab) * f.x
                  + (SELECT q FROM q)) * 1e4) / 1e4 + 0.0 AS hi,
           CAST(f.y >= (SELECT a FROM ab) + (SELECT b FROM ab) * f.x
                       - (SELECT q FROM q)
                AND f.y <= (SELECT a FROM ab) + (SELECT b FROM ab) * f.x
                       + (SELECT q FROM q) AS INT) AS covered
    FROM f WHERE fold = 3
    """,
)
def l_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPLIT-CONFORMAL prediction intervals — distribution-free
    uncertainty for a regression quality gate: fit y = a + b·x
    (chars from token count) on the train fold, take the
    ceil(0.9·(n+1))-th smallest absolute calibration residual as the
    interval half-width q (the finite-sample 90%-coverage guarantee),
    and emit [pred−q, pred+q] with a coverage flag per test doc.

    Determinism: slope/intercept come from the exact ``ols_moments``
    through ``ols_slope``; q is an exact order statistic under a
    (residual, doc_id) total order (rule 5) — no quantile
    interpolation, so no float divergence.
    The three scalars (a, b, q) are bounded driver-side state.

    Scale: one pass for the training sums (partial+final agg), one
    TakeOrdered-style rank for q (the calibration fold sorts once),
    one map-only scoring pass over the test fold with a, b, q folded
    in as literals — no join, no shuffle in scoring at any corpus size.
    """
    d = table(spark, sf_dir, "documents")
    f = d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("x"),
        F.col("n_chars").alias("y"),
        (F.col("doc_id") % 4).alias("fold"),
    )
    # bounded: 5 exact-integer scalars
    tr = f.filter(F.col("fold").isin(0, 1)).agg(*ols_moments()).collect()[0]
    b = ols_slope(tr)
    a = (tr["sy"] - b * tr["sx"]) / float(tr["n"])
    cal = f.filter(F.col("fold") == 2).select(
        "doc_id", F.abs(F.col("y") - (F.lit(a) + F.lit(b) * F.col("x"))).alias("r")
    )
    n_cal = cal.count()
    k = int(math.ceil(0.9 * (n_cal + 1)))
    q = (
        cal.select(
            "r", F.row_number().over(W.orderBy("r", "doc_id")).alias("rn")
        )
        .filter(F.col("rn") == k)
        .collect()[0]["r"]  # bounded: 1 scalar (the order statistic)
    )
    pred = F.lit(a) + F.lit(b) * F.col("x")
    return f.filter(F.col("fold") == 3).select(
        "doc_id",
        F.col("x").cast("bigint").alias("n_tokens"),
        F.col("y").alias("n_chars"),
        dround(pred, 4).alias("pred"),
        dround(pred - F.lit(q), 4).alias("lo"),
        dround(pred + F.lit(q), 4).alias("hi"),
        (
            (F.col("y") >= pred - F.lit(q)) & (F.col("y") <= pred + F.lit(q))
        )
        .cast("int")
        .alias("covered"),
    )


@query(
    "l_ks_test",
    oracle="""
    WITH g AS (
        SELECT n_chars AS v,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
               CAST(SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c2
        FROM documents GROUP BY n_chars
    ), n AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
        FROM g
    ), e AS MATERIALIZED (
        SELECT v,
               ABS(SUM(c1) OVER (ORDER BY v) / CAST((SELECT n1 FROM n) AS DOUBLE)
                   - SUM(c2) OVER (ORDER BY v) / CAST((SELECT n2 FROM n) AS DOUBLE))
                   AS diff
        FROM g
    ), d AS (
        SELECT MAX(diff) AS d FROM e
    )
    SELECT (SELECT n1 FROM n) AS n1, (SELECT n2 FROM n) AS n2,
           ROUND((SELECT d FROM d) * 1e6) / 1e6 + 0.0 AS d_stat,
           (SELECT MIN(v) FROM e WHERE diff = (SELECT d FROM d)) AS d_at_value,
           ROUND(sqrt((SELECT n1 FROM n) * CAST((SELECT n2 FROM n) AS DOUBLE)
                      / ((SELECT n1 FROM n) + (SELECT n2 FROM n)))
                 * (SELECT d FROM d) * 1e6) / 1e6 + 0.0 AS ks_scaled
    """,
)
def l_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KOLMOGOROV-SMIRNOV drift test between the English and
    non-English document-length distributions: D = max |ECDF₁ − ECDF₂|,
    where it occurs, and the √(n₁n₂/(n₁+n₂))·D scaled statistic — the
    distribution-drift gate a data pipeline runs when a new snapshot's
    length/score profile must match the reference corpus before mixing.

    Determinism: per-value counts are exact integers; the cumulative
    window sums INTEGERS (immune to the rule-9 float-window-association
    trap), so each ECDF step is an exact-int/<exact-int> double that
    both engines compute identically; the argmax location uses
    MIN(value) at the max as the rule-5 total order.

    Scale: n_chars is a BOUNDED VALUE DOMAIN (≤ a few thousand distinct
    lengths regardless of corpus size), so the ordered ECDF window runs
    over the domain-sized grouped frame, not the data — the standard
    trick that makes exact KS feasible at 100 TB (group first, window
    over the bounded domain).
    """
    d = table(spark, sf_dir, "documents")
    g = d.groupBy(F.col("n_chars").alias("v")).agg(
        F.sum((F.col("lang") == "en").cast("bigint")).alias("c1"),
        F.sum((F.col("lang") != "en").cast("bigint")).alias("c2"),
    )
    n1, n2 = g.agg(F.sum("c1"), F.sum("c2")).collect()[0]  # bounded: 2 scalars
    wcum = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    e = g.select(
        "v",
        F.abs(
            F.sum("c1").over(wcum) / F.lit(float(n1))
            - F.sum("c2").over(wcum) / F.lit(float(n2))
        ).alias("diff"),
    ).localCheckpoint()  # domain-sized; feeds max + argmax passes once
    dmax = e.agg(F.max("diff")).collect()[0][0]  # bounded: 1 scalar
    return e.filter(F.col("diff") == dmax).agg(
        F.lit(n1).cast("bigint").alias("n1"),
        F.lit(n2).cast("bigint").alias("n2"),
        dround(F.lit(dmax), 6).alias("d_stat"),
        F.min("v").alias("d_at_value"),
        dround(
            F.lit(math.sqrt(n1 * float(n2) / (n1 + n2)) * dmax), 6
        ).alias("ks_scaled"),
    )


@query(
    "m_ab_cuped",
    oracle="""
    WITH u AS (
        SELECT user_id, user_id % 2 AS variant,
               CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-15'
                        THEN CAST(FLOOR(value * 1e2 + 0.5) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS x,
               CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-15'
                        THEN CAST(FLOOR(value * 1e2 + 0.5) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY user_id
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM u
    ), th AS MATERIALIZED (
        SELECT (n * sxy - sx * CAST(sy AS DOUBLE))
                   / (n * sxx - sx * CAST(sx AS DOUBLE)) AS theta,
               sx / CAST(n AS DOUBLE) AS xbar
        FROM s
    ), adj AS (
        SELECT variant, y,
               CAST(FLOOR(y - (SELECT theta FROM th)
                          * (x - (SELECT xbar FROM th)) + 0.5) AS BIGINT) AS ya
        FROM u
    )
    SELECT variant,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(SUM(y) / CAST(COUNT(*) AS DOUBLE) / 1e2 * 1e4) / 1e4 + 0.0
               AS mean_post,
           ROUND(SUM(ya) / CAST(COUNT(*) AS DOUBLE) / 1e2 * 1e4) / 1e4 + 0.0
               AS mean_adj,
           ROUND((1.0 - (COUNT(*) * CAST(SUM(ya * ya) AS DOUBLE)
                         - SUM(ya) * CAST(SUM(ya) AS DOUBLE))
                       / (COUNT(*) * CAST(SUM(y * y) AS DOUBLE)
                          - SUM(y) * CAST(SUM(y) AS DOUBLE)))
                 * 100 * 1e4) / 1e4 + 0.0 AS var_reduction_pct
    FROM adj GROUP BY variant
    """,
)
def m_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for an A/B readout: per-user pre-period
    spend is the covariate, θ = cov(pre,post)/var(pre) is fit on the
    pooled population, and the adjusted metric y − θ·(x − x̄) shrinks
    per-variant variance without moving the mean — the standard
    experimentation-platform technique for cutting required sample
    size.

    Determinism (rule 11e end to end): event values are half-up
    quantized to cents at the ROW level, so per-user pre/post totals
    are exact BIGINTs; θ is ``ols_slope`` over ``ols_moments`` and x̄
    one division of two of them; per-user adjusted values are
    re-quantized to integer cents BEFORE the per-variant sums, making
    every cross-row sum order-immune in both engines; means and
    variances are then identical double expressions over exact
    integers.

    Scale: one user-keyed partial+final agg builds the covariate table
    (conditional sums, single events scan); θ is one bounded reduce;
    the adjusted readout is a second thin agg over |users| rows keyed
    by variant. No window, no join — the CUPED shape that holds at any
    user count.
    """
    ev = table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-15").cast("timestamp")
    vfp = F.floor(F.col("value") * 1e2 + 0.5).cast("bigint")
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cutoff, vfp).otherwise(F.lit(0))).alias("x"),
        F.sum(F.when(F.col("ts") >= cutoff, vfp).otherwise(F.lit(0))).alias("y"),
    ).withColumn("variant", F.col("user_id") % 2).localCheckpoint()
    s = u.agg(*ols_moments()).collect()[0]  # bounded: 5 exact-integer scalars
    theta = ols_slope(s)
    xbar = s["sx"] / float(s["n"])
    ya = F.floor(
        F.col("y") - F.lit(theta) * (F.col("x") - F.lit(xbar)) + 0.5
    ).cast("bigint")
    adj = u.select("variant", "y", ya.alias("ya"))
    cnt = F.count("*")
    var_post = cnt * F.sum(F.col("y") * F.col("y")).cast("double") - F.sum(
        "y"
    ) * F.sum("y").cast("double")
    var_adj = cnt * F.sum(F.col("ya") * F.col("ya")).cast("double") - F.sum(
        "ya"
    ) * F.sum("ya").cast("double")
    return adj.groupBy("variant").agg(
        cnt.alias("n_users"),
        dround(F.sum("y") / cnt.cast("double") / 1e2, 4).alias("mean_post"),
        dround(F.sum("ya") / cnt.cast("double") / 1e2, 4).alias("mean_adj"),
        dround((F.lit(1.0) - var_adj / var_post) * 100, 4).alias(
            "var_reduction_pct"
        ),
    )


def _pairs(docs: DataFrame, *cols) -> DataFrame:
    """The candidate/reference pairing of the text-eval operators: doc
    2k is the candidate (side 0) and doc 2k+1 its reference (side 1) of
    pair k; ``cols`` ride along."""
    return docs.select(
        F.expr("CAST(doc_id DIV 2 AS BIGINT)").alias("pair_id"),
        (F.col("doc_id") % 2).alias("side"),
        *cols,
    )


def _token_grams(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(unigram, bigram) rows (pair_id, side, g) of every document,
    built by map-side array transforms. Bigrams guard size>=2 (rule
    11d: Spark sequence() descends on empty ranges). The token-array
    frame is localCheckpointed (rule 11a) so split(text) executes ONCE
    for both gram pipelines — re-tested in round 10 on an idle host
    after the r9 shootout had scored it neutral-with-a-pathology:
    paired interleaved at x100 (l_eval_rouge) the checkpoint form won
    all 3 reps (medians 112.0 -> 68.9 s, identical 250k rows; r9
    verdict item 8)."""
    # scatter BEFORE the checkpoint (r12): the checkpoint inherits the
    # scan's partitioning, so a single-split fixture file serialized
    # both gram pipelines on one core (see session.scatter).
    d = scatter(spark, table(spark, sf_dir, "documents"))
    base = _pairs(d, F.split(F.col("text"), " ").alias("toks")).localCheckpoint()
    uni = base.select("pair_id", "side", F.explode("toks").alias("g"))
    big = base.select(
        "pair_id",
        "side",
        F.explode(
            F.when(
                F.size("toks") >= 2,
                F.expr(
                    "transform(sequence(0, size(toks) - 2),"
                    " i -> concat(toks[i], ' ', toks[i + 1]))"
                ),
            ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
        ).alias("g"),
    )
    return uni, big


def _char6(base: DataFrame) -> DataFrame:
    """Character 6-gram rows (pair_id, side, g) of the column ``s``.
    A codegen Generate over a plain index sequence with substring as
    an ordinary projection: the interpreted-HOF transform form
    measured 25.1 s at x100, this form 0.68 s (37x; the r12
    generator+codegen lesson). The CASE guards sequence(1, 0), which
    DESCENDS in Spark (pin 11d)."""
    return base.select(
        "pair_id",
        "side",
        "s",
        F.explode(
            F.expr(
                "CASE WHEN length(s) >= 6 THEN sequence(1, length(s) - 5)"
                " ELSE CAST(array() AS ARRAY<INT>) END"
            )
        ).alias("i"),
    ).select("pair_id", "side", F.expr("substring(s, i, 6)").alias("g"))


def _clipped(grams: DataFrame, cand: str, ref: str | None, overlap: str,
             gram: str = "g") -> DataFrame:
    """Per-pair clipped n-gram overlap: one (pair_id, gram)-keyed
    partial-agg groupBy counts BOTH sides' tf in one pass (c0 the
    candidate's, c1 the reference's; no self-join), then a thin
    pair-keyed rollup sums c0 as ``cand``, c1 as ``ref`` (skipped when
    None) and least(c0, c1) as ``overlap`` — exact integers, shuffle
    volume linear in gram count, never pairwise in the corpus."""
    pg = grams.groupBy("pair_id", gram).agg(
        F.coalesce(F.sum(F.when(F.col("side") == 0, F.lit(1))), F.lit(0))
        .alias("c0"),
        F.coalesce(F.sum(F.when(F.col("side") == 1, F.lit(1))), F.lit(0))
        .alias("c1"),
    )
    sums = [F.sum("c0").alias(cand)]
    if ref is not None:
        sums.append(F.sum("c1").alias(ref))
    sums.append(F.sum(F.least("c0", "c1")).alias(overlap))
    return pg.groupBy("pair_id").agg(*sums)


@query(
    "l_eval_rouge",
    oracle="""
    WITH d AS (
        SELECT CAST(doc_id // 2 AS BIGINT) AS pair_id, doc_id % 2 AS side,
               string_split(text, ' ') AS a
        FROM documents
    ), u1 AS (
        SELECT pair_id, side, unnest(a) AS g FROM d
    ), pg1 AS (
        SELECT pair_id, g,
               CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
               CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
        FROM u1 GROUP BY pair_id, g
    ), a1 AS (
        SELECT pair_id,
               CAST(SUM(c0) AS BIGINT) AS lc,
               CAST(SUM(c1) AS BIGINT) AS lr,
               CAST(SUM(LEAST(c0, c1)) AS BIGINT) AS ov1
        FROM pg1 GROUP BY pair_id
    ), u2 AS (
        SELECT pair_id, side,
               unnest(list_transform(generate_series(1, len(a) - 1),
                      i -> a[i] || ' ' || a[i + 1])) AS g
        FROM d
    ), pg2 AS (
        SELECT pair_id, g,
               CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
               CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
        FROM u2 GROUP BY pair_id, g
    ), a2 AS (
        SELECT pair_id,
               CAST(SUM(c0) AS BIGINT) AS l2c,
               CAST(SUM(c1) AS BIGINT) AS l2r,
               CAST(SUM(LEAST(c0, c1)) AS BIGINT) AS ov2
        FROM pg2 GROUP BY pair_id
    )
    SELECT a1.pair_id, lc, lr, ov1,
           CAST(2 * ov1 AS DOUBLE) / CAST(lc + lr AS DOUBLE) AS rouge1_f,
           COALESCE(l2c, 0) AS l2c, COALESCE(l2r, 0) AS l2r,
           COALESCE(ov2, 0) AS ov2,
           CASE WHEN COALESCE(l2c, 0) + COALESCE(l2r, 0) = 0 THEN 0.0
                ELSE CAST(2 * COALESCE(ov2, 0) AS DOUBLE)
                     / CAST(l2c + l2r AS DOUBLE)
           END AS rouge2_f
    FROM a1 LEFT JOIN a2 ON a2.pair_id = a1.pair_id
    """,
)
def l_eval_rouge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1/ROUGE-2 F1 between candidate/reference document pairs
    (doc 2k is the candidate, doc 2k+1 the reference) — the n-gram
    overlap metric every summarization / generation eval harness
    computes (Lin 2004, "ROUGE: A Package for Automatic Evaluation of
    Summaries" — public method): clipped n-gram overlap sum(min(tf_cand, tf_ref)) per
    gram, F1 = 2*overlap / (len_cand + len_ref).

    Determinism: all counts are exact integers; each F1 is ONE
    int/int division evaluated identically in both engines (no float
    accumulation, the m_funnel_windowed frac pattern). The rouge2
    denominator is CASE-guarded against single-token sides in both
    engines.

    Scale: ``_token_grams`` builds both gram sets map-side and
    ``_clipped`` rolls each up through (pair_id, gram)-keyed partial
    aggs — shuffle volume linear in token count, never pairwise in the
    corpus.
    """
    uni, big = _token_grams(spark, sf_dir)
    a1 = _clipped(uni, "lc", "lr", "ov1")
    a2 = _clipped(big, "l2c", "l2r", "ov2")
    l2c = F.coalesce(F.col("l2c"), F.lit(0))
    l2r = F.coalesce(F.col("l2r"), F.lit(0))
    ov2 = F.coalesce(F.col("ov2"), F.lit(0))
    return a1.join(a2, "pair_id", "left").select(
        "pair_id",
        "lc",
        "lr",
        "ov1",
        (
            (2 * F.col("ov1")).cast("double")
            / (F.col("lc") + F.col("lr")).cast("double")
        ).alias("rouge1_f"),
        l2c.alias("l2c"),
        l2r.alias("l2r"),
        ov2.alias("ov2"),
        F.when((l2c + l2r) == 0, F.lit(0.0))
        .otherwise((2 * ov2).cast("double") / (l2c + l2r).cast("double"))
        .alias("rouge2_f"),
    )


@query(
    "l_eval_bleu",
    oracle="""
    WITH d AS (
        SELECT CAST(doc_id // 2 AS BIGINT) AS pair_id, doc_id % 2 AS side,
               string_split(text, ' ') AS a
        FROM documents
    ), u1 AS (
        SELECT pair_id, side, unnest(a) AS g FROM d
    ), pg1 AS (
        SELECT pair_id, g,
               CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
               CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
        FROM u1 GROUP BY pair_id, g
    ), a1 AS (
        SELECT pair_id,
               CAST(SUM(c0) AS BIGINT) AS lc,
               CAST(SUM(c1) AS BIGINT) AS lr,
               CAST(SUM(LEAST(c0, c1)) AS BIGINT) AS m1
        FROM pg1 GROUP BY pair_id
    ), u2 AS (
        SELECT pair_id, side,
               unnest(list_transform(generate_series(1, len(a) - 1),
                      i -> a[i] || ' ' || a[i + 1])) AS g
        FROM d
    ), pg2 AS (
        SELECT pair_id, g,
               CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
               CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
        FROM u2 GROUP BY pair_id, g
    ), a2 AS (
        SELECT pair_id,
               CAST(SUM(c0) AS BIGINT) AS l2c,
               CAST(SUM(LEAST(c0, c1)) AS BIGINT) AS m2
        FROM pg2 GROUP BY pair_id
    ), j AS (
        SELECT a1.pair_id, lc, lr, m1,
               COALESCE(l2c, 0) AS l2c, COALESCE(m2, 0) AS m2
        FROM a1 LEFT JOIN a2 ON a2.pair_id = a1.pair_id
    ), p AS (
        SELECT pair_id, lc, lr, m1, l2c, m2,
               CAST(m1 AS DOUBLE) / CAST(lc AS DOUBLE) AS p1,
               CASE WHEN l2c = 0 THEN 0e0
                    ELSE CAST(m2 AS DOUBLE) / CAST(l2c AS DOUBLE) END AS p2,
               CASE WHEN lc >= lr THEN 1e0
                    ELSE ROUND(exp(1e0 - CAST(lr AS DOUBLE)
                                         / CAST(lc AS DOUBLE)) * 1e6) / 1e6
               END AS bp
        FROM j
    )
    SELECT pair_id, lc, lr, m1, l2c, m2,
           ROUND(p1 * 1e6) / 1e6 + 0 AS p1,
           ROUND(p2 * 1e6) / 1e6 + 0 AS p2,
           bp + 0 AS bp,
           ROUND(bp * sqrt(p1 * p2) * 1e6) / 1e6 + 0 AS bleu2
    FROM p
    """,
)
def l_eval_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence BLEU-2 between candidate/reference document pairs
    (doc 2k candidate, doc 2k+1 reference — the l_eval_rouge pairing):
    clipped n-gram PRECISION p_n = sum_g min(tf_cand, tf_ref) /
    |cand n-grams| for n=1,2, brevity penalty BP = min(1,
    exp(1 - len_ref/len_cand)), BLEU-2 = BP * sqrt(p1*p2)
    (Papineni et al. 2002, "BLEU: a Method for Automatic Evaluation of
    Machine Translation" — public method). The precision-oriented
    complement of ROUGE's recall-oriented F1: a generation eval
    harness reports both.

    Determinism: all counts are exact integers; p1/p2 are single
    int/int divisions (IEEE-exact both engines); BP's exp() follows the
    l_ml_score_linear sigmoid sanction (per-row transcendental, then
    ROUND*1e6 grid); bleu2 multiplies two quantized factors through a
    correctly-rounded sqrt then re-quantizes. Every float output adds
    +0 against the rule-5b -0.0 trap. Zero-bigram candidates (single
    token) get p2 = 0 via the same CASE guard as rouge2.

    Scale: identical shape to l_eval_rouge (``_token_grams`` +
    ``_clipped``)."""
    uni, big = _token_grams(spark, sf_dir)
    a1 = _clipped(uni, "lc", "lr", "m1")
    a2 = _clipped(big, "l2c", None, "m2")
    l2c = F.coalesce(F.col("l2c"), F.lit(0))
    m2 = F.coalesce(F.col("m2"), F.lit(0))
    p1 = F.col("m1").cast("double") / F.col("lc").cast("double")
    p2 = F.when(l2c == 0, F.lit(0.0)).otherwise(
        m2.cast("double") / l2c.cast("double")
    )
    bp = F.when(F.col("lc") >= F.col("lr"), F.lit(1.0)).otherwise(
        dround(
            F.exp(
                F.lit(1.0)
                - F.col("lr").cast("double") / F.col("lc").cast("double")
            ),
            6,
        )
    )
    return a1.join(a2, "pair_id", "left").select(
        "pair_id",
        "lc",
        "lr",
        "m1",
        l2c.alias("l2c"),
        m2.alias("m2"),
        dround(p1, 6).alias("p1"),
        dround(p2, 6).alias("p2"),
        (bp + F.lit(0.0)).alias("bp"),
        dround(bp * F.sqrt(p1 * p2), 6).alias("bleu2"),
    )


@query(
    "l_eval_pass_at_k",
    oracle="""
    WITH u AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN value > 150 THEN 1 ELSE 0 END)
                    AS BIGINT) AS c
        FROM events GROUP BY user_id
    )
    SELECT user_id, n, c,
           ROUND((1e0
                  - (CAST(n - c AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(n - c - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE))
                    * (CAST(n - c - 2 AS DOUBLE) / CAST(n - 2 AS DOUBLE))
                    * (CAST(n - c - 3 AS DOUBLE) / CAST(n - 3 AS DOUBLE))
                    * (CAST(n - c - 4 AS DOUBLE) / CAST(n - 4 AS DOUBLE)))
                 * 1e12) / 1e12 AS pass_at_5
    FROM u WHERE n >= 5
    """,
)
def l_eval_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PASS@K — the unbiased estimator for "at least one of k sampled
    attempts passes" from n attempts with c passes (Chen et al. 2021,
    "Evaluating Large Language Models Trained on Code", eq. 1; public
    method): pass@k = 1 - C(n-c, k)/C(n, k), evaluated in the
    numerically-stable product form 1 - prod_{i=0..k-1} (n-c-i)/(n-i)
    with k=5. Each user's event stream stands in for a problem's
    attempt set; an attempt passes when value > 150. When fewer than k
    attempts fail (n-c < k) some numerator factor is exactly 0, so the
    product collapses and pass@k = 1 — the estimator's own boundary
    case, no special-casing.

    Determinism: n and c are exact integers; the estimator is FIVE
    int-ratio divisions chained by left-associative multiplication —
    every step a single correctly-rounded IEEE op evaluated in the
    same order by both engines (the l_ml_cv_folds slope precedent) —
    then one 1e-12 quantization. Values in [0, 1]: no -0.0 exposure.
    The n >= 5 filter guards the (n-i) denominators in both engines.

    Scale: one user-keyed partial-agg groupBy over the fact table plus
    a map-side closed-form projection — no window, no join, no
    iteration; |users| output rows."""
    ev = table(spark, sf_dir, "events")
    u = (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.when(F.col("value") > 150, 1)), F.lit(0)
            ).alias("c"),
        )
        .filter(F.col("n") >= 5)
    )
    prod = None
    for i in range(5):
        term = (F.col("n") - F.col("c") - F.lit(i)).cast("double") / (
            F.col("n") - F.lit(i)
        ).cast("double")
        prod = term if prod is None else prod * term
    return u.select(
        "user_id",
        "n",
        "c",
        dround(F.lit(1.0) - prod, 12).alias("pass_at_5"),
    )


# 1/log2(i+1) DCG rank weights on the 1e-12 fixed-point grid, i = 1..10,
# plus their cumulative sums (the ideal-DCG ladder). Integer literals so
# per-query DCG is an EXACT BIGINT sum in both engines (rule 11e) — no
# float accumulation order anywhere; nDCG is one final int/int division.
_DCG_W = [1000000000000, 630929753571, 500000000000, 430676558073,
          386852807235, 356207187108, 333333333333, 315464876786,
          301029995664, 289064826318]
_DCG_CUM = [1000000000000, 1630929753571, 2130929753571, 2561606311644,
            2948459118879, 3304666305987, 3637999639320, 3953464516106,
            4254494511770, 4543559338088]


@query(
    "l_eval_ndcg",
    oracle=f"""
    WITH q AS MATERIALIZED (
        SELECT vec_id AS q_id, embedding AS qe, label AS qlabel
        FROM embeddings WHERE vec_id < 10
    ), scored AS MATERIALIZED (
        SELECT q.q_id, e.vec_id,
               CASE WHEN e.label = q.qlabel THEN 1 ELSE 0 END AS rel,
               (SELECT SUM(e.embedding[s.i]::DOUBLE * q.qe[s.i]::DOUBLE)
                FROM (SELECT unnest(generate_series(1, 64)) AS i) s) AS dot
        FROM embeddings e, q
        WHERE e.vec_id <> q.q_id
    ), nr AS (
        SELECT q_id, CAST(SUM(rel) AS BIGINT) AS n_rel FROM scored
        GROUP BY q_id
    ), topk AS (
        SELECT q_id, rel, rn
        FROM (SELECT q_id, rel,
                     ROW_NUMBER() OVER (PARTITION BY q_id
                                        ORDER BY dot DESC, vec_id) AS rn
              FROM scored)
        WHERE rn <= 10
    ), dcg AS (
        SELECT q_id,
               CAST(SUM(rel * ({_DCG_W}::BIGINT[])[rn]) AS BIGINT)
                   AS dcg_fp
        FROM topk GROUP BY q_id
    )
    SELECT nr.q_id, nr.n_rel, dcg.dcg_fp,
           CAST(dcg.dcg_fp AS DOUBLE) / 1e12 AS dcg_at_10,
           CASE WHEN nr.n_rel = 0 THEN 0e0
                ELSE CAST(dcg.dcg_fp AS DOUBLE)
                     / CAST(({_DCG_CUM}::BIGINT[])[
                           CAST(LEAST(10, nr.n_rel) AS INT)] AS DOUBLE)
           END AS ndcg_at_10
    FROM nr JOIN dcg ON dcg.q_id = nr.q_id
    """,
)
def l_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of label-relevance retrieval (Järvelin & Kekäläinen
    2002, the graded-ranking IR metric; public method): for each of
    the 10 query vectors, candidates rank by exact cosine-order dot
    product (vdot, bit-identical cross-engine), a candidate is
    relevant when its class label matches the query's, DCG@10 sums
    the rank-discounted relevance 1/log2(rank+1), and nDCG divides by
    the ideal DCG for the query's total relevant count — the
    search-quality readout that, unlike l_ann_recall_eval's recall,
    rewards putting the relevant results FIRST.

    Determinism: the discount weights are INTEGER literals on the
    1e-12 grid (module constants _DCG_W/_DCG_CUM), so per-query DCG is
    an exact BIGINT sum — immune to accumulation order in both engines
    (rule 11e); nDCG is one int/int division. Rank boundaries share
    the (dot DESC, vec_id) unique total order with every sibling
    vector op.

    Scale: one broadcast of the 10-query batch over a single corpus
    scan; the per-query rank window sits under the WindowGroupLimit
    threshold (rank-only Window node, rule 13a) so map tasks emit just
    their local top-10 per query; n_rel is a q_id-keyed partial agg on
    the same scored stream. |queries| x corpus work, never corpus²."""
    v = table(spark, sf_dir, "embeddings")
    qb = v.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("qlabel"),
    )
    from sqlengine_spark.functions import vdot

    scored = (
        v.crossJoin(F.broadcast(qb))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            F.when(F.col("label") == F.col("qlabel"), 1)
            .otherwise(0)
            .alias("rel"),
            vdot(F.col("embedding"), F.col("qe")).alias("dot"),
        )
        .localCheckpoint()
    )
    nr = scored.groupBy("q_id").agg(
        F.sum("rel").cast("bigint").alias("n_rel")
    )
    w = W.partitionBy("q_id").orderBy(F.col("dot").desc(), "vec_id")
    w_arr = F.array(*[F.lit(x) for x in _DCG_W])
    cum_arr = F.array(*[F.lit(x) for x in _DCG_CUM])
    dcg = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select(
            "q_id",
            (F.col("rel") * F.element_at(w_arr, F.col("rn"))).alias("t"),
        )
        .groupBy("q_id")
        .agg(F.sum("t").cast("bigint").alias("dcg_fp"))
    )
    return nr.join(dcg, "q_id").select(
        "q_id",
        "n_rel",
        "dcg_fp",
        (F.col("dcg_fp").cast("double") / 1e12).alias("dcg_at_10"),
        F.when(F.col("n_rel") == 0, F.lit(0.0))
        .otherwise(
            F.col("dcg_fp").cast("double")
            / F.element_at(
                cum_arr, F.least(F.lit(10), F.col("n_rel")).cast("int")
            ).cast("double")
        )
        .alias("ndcg_at_10"),
    )


@query(
    "m_ab_power_mde",
    oracle="""
    WITH a AS (
        SELECT user_id % 2 AS arm,
               CAST(trunc(value * 100) AS BIGINT) AS vc
        FROM events
    ), g AS (
        SELECT arm,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(vc) AS BIGINT) AS s,
               CAST(SUM(vc * vc) AS BIGINT) AS ss
        FROM a GROUP BY arm
    ), p AS (
        SELECT MAX(CASE WHEN arm = 0 THEN n END) AS n0,
               MAX(CASE WHEN arm = 1 THEN n END) AS n1,
               MAX(CASE WHEN arm = 0 THEN s END) AS s0,
               MAX(CASE WHEN arm = 1 THEN s END) AS s1,
               MAX(CASE WHEN arm = 0 THEN ss END) AS ss0,
               MAX(CASE WHEN arm = 1 THEN ss END) AS ss1
        FROM g
    ), v AS (
        SELECT n0, n1,
               CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS mean0,
               (CAST(n0 AS DOUBLE) * CAST(ss0 AS DOUBLE)
                - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE))
                   / (CAST(n0 AS DOUBLE) * CAST(n0 AS DOUBLE)) AS var0,
               (CAST(n1 AS DOUBLE) * CAST(ss1 AS DOUBLE)
                - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                   / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)) AS var1
        FROM p
    )
    SELECT n0 AS n_control, n1 AS n_treat,
           ROUND(mean0 * 1e6) / 1e6 AS mean_control_cents,
           ROUND((2.8015989838225857e0
                  * sqrt(var0 / CAST(n0 AS DOUBLE)
                         + var1 / CAST(n1 AS DOUBLE))) * 1e6) / 1e6
               AS mde_abs_cents,
           ROUND((2.8015989838225857e0
                  * sqrt(var0 / CAST(n0 AS DOUBLE)
                         + var1 / CAST(n1 AS DOUBLE)))
                 / mean0 * 1e9) / 1e9 AS mde_rel
    FROM v
    """,
)
def m_ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MINIMUM DETECTABLE EFFECT for an A/B test at 80% power /
    two-sided alpha=0.05 (the standard experiment-sizing readout;
    public method): MDE = (z_{1-a/2} + z_{power}) * SE(delta) with the
    two z constants folded into the single literal
    2.8015989838225857 = 1.959963984540054 + 0.8416212335729143
    (identical decimal literal in both engines → identical double —
    the l_eval_ndcg literal-constant discipline; no inverse-CDF
    evaluation at query time). Arms split by user_id parity; SE uses
    each arm's own population variance over exact cent integers.

    Determinism: counts/sums/sum-of-squares are exact BIGINTs cast to
    double BEFORE multiplying (each moment is exactly representable;
    the products round correctly and identically in both engines, and
    BIGINT products would overflow at x100 arm sizes — see the inline
    note); the SE is one expression + one correctly-rounded sqrt;
    outputs quantize once. All outputs positive (no -0.0 exposure).

    Scale: one arm-keyed partial-agg groupBy (2 groups) + a 2-row
    pivot — the cheapest possible shape; the fact scan is the whole
    cost at any size."""
    ev = table(spark, sf_dir, "events")
    a = ev.select(
        (F.col("user_id") % 2).alias("arm"),
        (F.col("value") * 100).cast("bigint").alias("vc"),
    )
    g = a.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vc").alias("s"),
        F.sum(F.col("vc") * F.col("vc")).alias("ss"),
    )
    p = g.agg(
        *[
            F.max(F.when(F.col("arm") == arm, F.col(c))).alias(f"{c}{arm}")
            for arm in (0, 1)
            for c in ("n", "s", "ss")
        ]
    )
    # moments multiply in DOUBLE: the arms are corpus-halves, so the
    # BIGINT product n*ss overflows at the repo's own x100 stress scale
    # (n ~ 5e6 x ss ~ 5e14 > 2^63); each cast double is exact and the
    # products are correctly rounded identically in both engines (the
    # l_eval_spearman moments pattern)
    mean0 = F.col("s0").cast("double") / F.col("n0").cast("double")

    def _varp(n, s, ss):
        nd = F.col(n).cast("double")
        sd2 = F.col(s).cast("double")
        ssd = F.col(ss).cast("double")
        return (nd * ssd - sd2 * sd2) / (nd * nd)

    var0 = _varp("n0", "s0", "ss0")
    var1 = _varp("n1", "s1", "ss1")
    z = F.lit(2.8015989838225857)
    se = F.sqrt(
        var0 / F.col("n0").cast("double") + var1 / F.col("n1").cast("double")
    )
    return p.select(
        F.col("n0").alias("n_control"),
        F.col("n1").alias("n_treat"),
        dround(mean0, 6).alias("mean_control_cents"),
        dround(z * se, 6).alias("mde_abs_cents"),
        dround(z * se / mean0, 9).alias("mde_rel"),
    )


@query(
    "l_eval_brier",
    oracle="""
    WITH s AS (
        SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
               CAST(FLOOR(CAST((n_chars - 40) * (n_chars - 40) AS DOUBLE)
                          / CAST((n_chars - 40) * (n_chars - 40) + 40000
                                 AS DOUBLE) * 1e6) AS BIGINT) AS pq
        FROM documents
    ), b AS (
        SELECT LEAST(pq // 100000, 9) AS bin, pos, pq,
               (pq - pos * 1000000) * (pq - pos * 1000000) AS sqerr
        FROM s
    ), k AS (
        SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_k,
               CAST(SUM(pos) AS BIGINT) AS p_k,
               CAST(SUM(pq) AS BIGINT) AS q_k,
               CAST(SUM(sqerr) AS BIGINT) AS se_k
        FROM b GROUP BY bin
    ), g AS (
        SELECT CAST(SUM(n_k) AS BIGINT) AS n,
               CAST(SUM(p_k) AS BIGINT) AS p,
               CAST(SUM(se_k) AS BIGINT) AS se,
               CAST(SUM(CAST(trunc(
                   CAST(n_k AS DOUBLE)
                   * (CAST(q_k AS DOUBLE) / CAST(n_k AS DOUBLE) / 1e6
                      - CAST(p_k AS DOUBLE) / CAST(n_k AS DOUBLE))
                   * (CAST(q_k AS DOUBLE) / CAST(n_k AS DOUBLE) / 1e6
                      - CAST(p_k AS DOUBLE) / CAST(n_k AS DOUBLE))
                   * 1e9) AS BIGINT)) AS BIGINT) AS rel_fp
        FROM k
    ), g2 AS (
        SELECT g.n, g.p, g.se, g.rel_fp,
               CAST((SELECT SUM(CAST(trunc(
                   CAST(n_k AS DOUBLE)
                   * (CAST(p_k AS DOUBLE) / CAST(n_k AS DOUBLE)
                      - CAST(g.p AS DOUBLE) / CAST(g.n AS DOUBLE))
                   * (CAST(p_k AS DOUBLE) / CAST(n_k AS DOUBLE)
                      - CAST(g.p AS DOUBLE) / CAST(g.n AS DOUBLE))
                   * 1e9) AS BIGINT)) FROM k) AS BIGINT) AS res_fp
        FROM g
    )
    SELECT n, ROUND(CAST(p AS DOUBLE) / CAST(n AS DOUBLE) * 1e9) / 1e9
               AS base_rate,
           ROUND(CAST(se AS DOUBLE) / CAST(n AS DOUBLE) / 1e12 * 1e9) / 1e9
               AS brier,
           ROUND(CAST(rel_fp AS DOUBLE) / 1e9 / CAST(n AS DOUBLE) * 1e9)
               / 1e9 AS reliability,
           ROUND(CAST(res_fp AS DOUBLE) / 1e9 / CAST(n AS DOUBLE) * 1e9)
               / 1e9 AS resolution,
           ROUND((CAST(p AS DOUBLE) / CAST(n AS DOUBLE))
                 * (1e0 - CAST(p AS DOUBLE) / CAST(n AS DOUBLE)) * 1e9)
               / 1e9 AS uncertainty
    FROM g2
    """,
)
def l_eval_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRIER SCORE with the MURPHY DECOMPOSITION (Brier 1950; Murphy
    1973 — the proper-scoring-rule audit for any probabilistic gate):
    over the same frozen rational-squash scorer and en-label as
    l_calibration_curve, emit the mean squared error of the predicted
    probabilities (brier), and its decile-binned decomposition into
    RELIABILITY (calibration error, lower better), RESOLUTION
    (discrimination, higher better), and UNCERTAINTY (base-rate
    entropy) — brier ≈ reliability - resolution + uncertainty up to
    the within-bin forecast variance.

    Determinism: probabilities quantize to the 1e-6 grid at the ROW
    level, so the Brier numerator is an exact BIGINT sum of squared
    integer residuals (order-immune, rule 11e; (1e6)^2 * N stays far
    under 2^63 through x100 — at ledger scales swap the grid to 1e4 or
    sum per-bin). The per-BIN reliability/resolution terms quantize to
    1e-9 fixed-point before the 10-term sum. Every division is a
    single int-ratio op.

    Scale: map-side scoring + one 10-group partial-agg rollup + a
    1-row fold — the l_calibration_curve plan with two more exact
    integer columns."""
    d = table(spark, sf_dir, "documents")
    z2 = (F.col("n_chars") - 40) * (F.col("n_chars") - 40)
    p = z2.cast("double") / (z2 + 40000).cast("double")
    pq = F.floor(p * 1e6).cast("bigint")
    b = d.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
        pq.alias("pq"),
    ).select(
        F.least(F.expr("pq div 100000"), F.lit(9).cast("bigint")).alias(
            "bin"
        ),
        "pos",
        "pq",
        (
            (F.col("pq") - F.col("pos") * 1000000)
            * (F.col("pq") - F.col("pos") * 1000000)
        ).alias("sqerr"),
    )
    k = b.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_k"),
        F.sum("pos").alias("p_k"),
        F.sum("pq").alias("q_k"),
        F.sum("sqerr").alias("se_k"),
    )
    conf = F.col("q_k").cast("double") / F.col("n_k").cast("double") / 1e6
    acc = F.col("p_k").cast("double") / F.col("n_k").cast("double")
    base = F.col("p").cast("double") / F.col("n").cast("double")
    g = k.agg(
        F.sum("n_k").alias("n"),
        F.sum("p_k").alias("p"),
        F.sum("se_k").alias("se"),
        F.sum(
            (
                F.col("n_k").cast("double") * (conf - acc) * (conf - acc)
                * 1e9
            ).cast("bigint")
        ).alias("rel_fp"),
        F.collect_list(F.struct("bin", "n_k", "p_k")).alias("bins"),
    )
    # resolution needs the GLOBAL base rate, so fold it over the
    # bounded 10-element bin list carried through the same 1-row agg
    res_fp = F.expr(
        "aggregate(bins, 0L, (acc2, e) -> acc2 + CAST("
        " CAST(e.n_k AS DOUBLE)"
        " * (CAST(e.p_k AS DOUBLE) / CAST(e.n_k AS DOUBLE)"
        "    - CAST(p AS DOUBLE) / CAST(n AS DOUBLE))"
        " * (CAST(e.p_k AS DOUBLE) / CAST(e.n_k AS DOUBLE)"
        "    - CAST(p AS DOUBLE) / CAST(n AS DOUBLE))"
        " * 1e9 AS BIGINT))"
    )
    return g.select(
        "n",
        dround(base, 9).alias("base_rate"),
        dround(
            F.col("se").cast("double") / F.col("n").cast("double") / 1e12, 9
        ).alias("brier"),
        dround(
            F.col("rel_fp").cast("double") / 1e9 / F.col("n").cast("double"),
            9,
        ).alias("reliability"),
        dround(
            res_fp.cast("double") / 1e9 / F.col("n").cast("double"), 9
        ).alias("resolution"),
        dround(base * (F.lit(1.0) - base), 9).alias("uncertainty"),
    )


@query(
    "l_eval_spearman",
    oracle="""
    WITH f AS (
        SELECT doc_id, n_chars AS a,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                   AS b
        FROM documents
    ), ra AS (
        SELECT a, CAST(COUNT(*) AS BIGINT) AS c FROM f GROUP BY a
    ), ra2 AS (
        SELECT a, 2 * (SUM(c) OVER (ORDER BY a) - c) + c + 1 AS r2
        FROM ra
    ), rb AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS c FROM f GROUP BY b
    ), rb2 AS (
        SELECT b, 2 * (SUM(c) OVER (ORDER BY b) - c) + c + 1 AS r2
        FROM rb
    ), j AS (
        SELECT CAST(ra2.r2 AS BIGINT) AS x, CAST(rb2.r2 AS BIGINT) AS y
        FROM f JOIN ra2 ON ra2.a = f.a JOIN rb2 ON rb2.b = f.b
    ), m AS (
        -- HUGEINT moments mirror the Spark side's DECIMAL(38,0) sums:
        -- exact at any corpus size (BIGINT sxx wraps near N~1.5M)
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(x AS HUGEINT)) AS sx,
               SUM(CAST(y AS HUGEINT)) AS sy,
               SUM(CAST(x AS HUGEINT) * x) AS sxx,
               SUM(CAST(y AS HUGEINT) * y) AS syy,
               SUM(CAST(x AS HUGEINT) * y) AS sxy
        FROM j
    )
    SELECT n,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                 * 1e9) / 1e9 + 0 AS spearman_rho
    FROM m
    """,
)
def l_eval_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPEARMAN RANK CORRELATION between two per-document quality
    signals (document length in chars vs vocabulary size in distinct
    tokens) with the exact tie-corrected treatment: rho = Pearson over
    AVERAGE ranks (Spearman 1904; public method) — the agreement audit
    a curation pipeline runs before replacing an expensive signal with
    a cheap proxy.

    Determinism: average ranks live on the half-integer grid, so the
    DOUBLED rank 2r = 2*(cum_before) + count + 1 is an exact BIGINT per
    distinct VALUE; all five moments are exact integer sums (doubling
    cancels in the correlation), carried in DECIMAL(38,0) Spark-side /
    HUGEINT oracle-side so they stay exact to ~1e12 rows (r10 ADVICE:
    BIGINT sxx wraps near N~1.5M — and a double sum would re-open
    rule-9 sum-order divergence). The final rho is one expression over
    the exact moments cast to double with a correctly-rounded sqrt,
    quantized once with the rule-5b '+ 0'.

    Scale (the deliberate non-global-rank design): ranks attach per
    distinct VALUE, not per row — the rank ladder is a cumulative sum
    over the VALUE-DOMAIN-grouped table (n_chars domain ~500 values,
    vocab-size domain likewise — the m_survival_km value-domain-bounded
    window class), then broadcast-joined back onto the corpus; a
    row-level rank window would sort the whole corpus on one reducer.
    Moments are one partial-agg fold to a single row."""
    d = table(spark, sf_dir, "documents")
    f = d.select(
        "doc_id",
        F.col("n_chars").alias("a"),
        F.size(F.array_distinct(F.split("text", " "))).cast("bigint").alias(
            "b"
        ),
    ).localCheckpoint()  # rule 11a: the split+array_distinct tokenize
    # pass feeds BOTH rank ladders and the moments join — one scan

    def dranks(col: str):
        cnt = f.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        w = W.orderBy(col).rowsBetween(W.unboundedPreceding, W.currentRow)
        return cnt.select(
            col,
            (
                2 * (F.sum("c").over(w) - F.col("c")) + F.col("c") + 1
            ).alias("r2"),
        )
    j = (
        f.join(F.broadcast(dranks("a").withColumnRenamed("r2", "x")), "a")
        .join(F.broadcast(dranks("b").withColumnRenamed("r2", "y")), "b")
    )
    # r10 ADVICE: BIGINT moment sums overflow near N~1.5M docs (sxx
    # grows ~(2N)^3/3); Spark non-ANSI would wrap silently while DuckDB
    # promotes to HUGEINT, silently diverging the engines. Sum in
    # DECIMAL(38,0) instead — exact and ORDER-INDEPENDENT in both
    # engines (a double sum would re-open rule-9 sum-order hash risk),
    # good to ~1e12 rows; the oracle mirrors with explicit HUGEINT.
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    m = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
        F.sum(xd * yd).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    return m.select(
        "n",
        dround(
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
            9,
        ).alias("spearman_rho"),
    )


@query(
    "l_eval_slice_accuracy",
    oracle="""
    WITH p AS (
        SELECT source,
               CASE WHEN (CASE WHEN text LIKE '% the %' THEN 1 ELSE 0 END)
                    = (CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                    THEN 1 ELSE 0 END AS ok
        FROM documents
    ), a AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(ok) AS BIGINT) AS k
        FROM p GROUP BY source
    )
    SELECT source, n, k,
           ROUND(CAST(k AS DOUBLE) / CAST(n AS DOUBLE) * 1e6) / 1e6 + 0
               AS accuracy,
           ROUND((
             (CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
              + 1.96 * 1.96 / (2.0 * CAST(n AS DOUBLE))
              - 1.96 * sqrt((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                            * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                            / CAST(n AS DOUBLE)
                            + 1.96 * 1.96
                              / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
             / (1.0 + 1.96 * 1.96 / CAST(n AS DOUBLE))) * 1e6) / 1e6 + 0
               AS wilson_lo,
           ROUND((
             (CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
              + 1.96 * 1.96 / (2.0 * CAST(n AS DOUBLE))
              + 1.96 * sqrt((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                            * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                            / CAST(n AS DOUBLE)
                            + 1.96 * 1.96
                              / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
             / (1.0 + 1.96 * 1.96 / CAST(n AS DOUBLE))) * 1e6) / 1e6 + 0
               AS wilson_hi
    FROM a
    ORDER BY source
    """,
)
def l_eval_slice_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLICE-DISAGGREGATED ACCURACY with Wilson 95% intervals — the
    eval table every model card publishes (per-slice metric + a CI
    that stays honest at small n, Wilson 1927; public method): here a
    cheap english-detector proxy (text contains ' the ') scored
    against the lang label, sliced by source. Aggregate accuracy hides
    slice regressions; the Wilson interval (unlike the normal
    approximation) never leaves [0,1] and is the standard choice for
    per-slice eval counts.

    Determinism: n and k are exact BIGINTs; accuracy and both Wilson
    bounds are fixed-shape per-row double expressions over (n, k) with
    one correctly-rounded sqrt — IEEE-identical cross-engine (the
    m_ab_power_mde expression class); each output quantizes once on
    the 1e6 grid with '+ 0'.

    Scale: one scan, one slice-keyed partial+final conditional agg
    (slice domain is bounded); the CI math runs on the slice-count
    table. This composes over any (model, slice) grid at 100 TB —
    state per group is two BIGINTs."""
    d = table(spark, sf_dir, "documents")
    pred = F.when(F.col("text").like("% the %"), 1).otherwise(0)
    truth = F.when(F.col("lang") == "en", 1).otherwise(0)
    ok = F.when(pred == truth, 1).otherwise(0)
    a = d.select(F.col("source"), ok.alias("ok")).groupBy("source").agg(
        F.count(F.lit(1)).alias("n"), F.sum("ok").alias("k")
    )
    nd = F.col("n").cast("double")
    p = F.col("k").cast("double") / nd
    z2 = F.lit(1.96) * F.lit(1.96)
    half = F.lit(1.96) * F.sqrt(
        p * (F.lit(1.0) - p) / nd + z2 / (F.lit(4.0) * nd * nd)
    )
    denom = F.lit(1.0) + z2 / nd
    center = p + z2 / (F.lit(2.0) * nd)
    return a.select(
        "source",
        "n",
        "k",
        dround(p, 6).alias("accuracy"),
        dround((center - half) / denom, 6).alias("wilson_lo"),
        dround((center + half) / denom, 6).alias("wilson_hi"),
    ).orderBy("source")


@query(
    "m_ab_sequential_sprt",
    oracle="""
    WITH e AS (
        SELECT CAST(user_id % 2 AS BIGINT) AS arm,
               CAST(ts AS DATE) AS d,
               CASE WHEN value > 150 THEN 1 ELSE 0 END AS x
        FROM events
    ), daily AS (
        SELECT arm, d, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS k
        FROM e GROUP BY arm, d
    ), cum AS (
        SELECT arm, d,
               SUM(n) OVER w AS cn, SUM(k) OVER w AS ck
        FROM daily
        WINDOW w AS (PARTITION BY arm ORDER BY d
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), llr AS (
        SELECT arm, d, cn, ck,
               CAST(ck AS DOUBLE) * ln(0.4 / 0.3)
               + CAST(cn - ck AS DOUBLE) * ln(0.6 / 0.7) AS g
        FROM cum
    ), hit AS (
        SELECT arm, d, cn, ck, g,
               ROW_NUMBER() OVER (PARTITION BY arm ORDER BY d) AS rn
        FROM llr
        WHERE g >= ln(19.0) OR g <= ln(1.0 / 19.0)
    )
    SELECT l.arm,
           CASE WHEN h.arm IS NULL THEN 'continue'
                WHEN h.g >= ln(19.0) THEN 'accept_h1'
                ELSE 'accept_h0' END AS decision,
           COALESCE(CAST(h.d AS VARCHAR), '') AS decision_day,
           CAST(COALESCE(h.cn, m.cn) AS BIGINT) AS n_obs,
           ROUND(COALESCE(h.g, m.g) * 1e6) / 1e6 + 0 AS llr
    FROM (SELECT DISTINCT arm FROM llr) l
    LEFT JOIN (SELECT * FROM hit WHERE rn = 1) h ON h.arm = l.arm
    LEFT JOIN (SELECT arm, cn, g,
                      ROW_NUMBER() OVER (PARTITION BY arm
                                         ORDER BY d DESC) AS rl
               FROM llr) m ON m.arm = l.arm AND m.rl = 1
    ORDER BY l.arm
    """,
)
def m_ab_sequential_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-SEQUENTIAL A/B MONITORING — Wald's SPRT (1945; public
    method) with DAILY looks: per experiment arm (user_id % 2), the
    cumulative Bernoulli log-likelihood ratio of H1 (p=0.4) vs H0
    (p=0.3) over the conversion proxy (value > 150) is checked once
    per day against the Wald boundaries ±ln(19) (α = β = 0.05); emit
    the first crossing day and its decision, or 'continue' with the
    final state. This is the always-valid monitoring loop an
    experimentation platform runs instead of a fixed-horizon z-test
    (m_ab_ratio_delta's complement).

    Determinism: daily counts are exact BIGINTs; the cumulative sums
    are integer window sums; the LLR is one fixed-shape double
    expression (two ln's of literal ratios — identical libm both
    engines); boundary compares use the same doubles; decision day is
    cast to VARCHAR (rule 3).

    Scale: the per-event stream folds to (arm, day) counts in one
    partial+final agg FIRST — the sequential pass then runs on the
    bounded looks table (arms × days), never on raw events. This is
    exactly how production sequential testing works (per-look
    increments), and the arm-partitioned window sorts ~365 rows per
    arm, not the corpus (the m_ts value-domain-bounded window class).
    """
    ev = table(spark, sf_dir, "events")
    e = ev.select(
        (F.col("user_id") % 2).cast("bigint").alias("arm"),
        F.to_date("ts").alias("d"),
        F.when(F.col("value") > 150, 1).otherwise(0).alias("x"),
    )
    daily = e.groupBy("arm", "d").agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("k")
    )
    w = W.partitionBy("arm").orderBy("d").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    cum = daily.select(
        "arm",
        "d",
        F.sum("n").over(w).alias("cn"),
        F.sum("k").over(w).alias("ck"),
    )
    g = F.col("ck").cast("double") * F.log(F.lit(0.4 / 0.3)) + (
        F.col("cn") - F.col("ck")
    ).cast("double") * F.log(F.lit(0.6 / 0.7))
    llr = cum.select("arm", "d", "cn", "ck", g.alias("g")).localCheckpoint()
    hi, lo = F.log(F.lit(19.0)), F.log(F.lit(1.0 / 19.0))
    wh = W.partitionBy("arm").orderBy("d")
    hit = (
        llr.filter((F.col("g") >= hi) | (F.col("g") <= lo))
        .withColumn("rn", F.row_number().over(wh))
        .filter(F.col("rn") == 1)
        .select(
            "arm",
            F.col("d").alias("hd"),
            F.col("cn").alias("hcn"),
            F.col("g").alias("hg"),
        )
    )
    wl = W.partitionBy("arm").orderBy(F.col("d").desc())
    last = (
        llr.withColumn("rl", F.row_number().over(wl))
        .filter(F.col("rl") == 1)
        .select("arm", F.col("cn").alias("mcn"), F.col("g").alias("mg"))
    )
    arms = llr.select("arm").distinct()
    return (
        arms.join(hit, "arm", "left")
        .join(last, "arm", "left")
        .select(
            "arm",
            F.when(F.col("hg").isNull(), F.lit("continue"))
            .when(F.col("hg") >= hi, F.lit("accept_h1"))
            .otherwise(F.lit("accept_h0"))
            .alias("decision"),
            F.coalesce(F.col("hd").cast("string"), F.lit("")).alias(
                "decision_day"
            ),
            F.coalesce(F.col("hcn"), F.col("mcn")).alias("n_obs"),
            dround(F.coalesce(F.col("hg"), F.col("mg")), 6).alias("llr"),
        )
        .orderBy("arm")
    )


@query(
    "l_eval_mcnemar",
    oracle="""
    WITH p AS (
        SELECT CASE WHEN text LIKE '% the %' THEN 1 ELSE 0 END AS pa,
               CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS pb,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents
    ), m AS (
        SELECT CAST(SUM(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END)
                    AS BIGINT) AS b,
               CAST(SUM(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END)
                    AS BIGINT) AS c,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM p
    )
    SELECT n, b, c,
           ROUND(CAST((b - c) * (b - c) AS DOUBLE)
                 / CAST(NULLIF(b + c, 0) AS DOUBLE) * 1e6) / 1e6 + 0
               AS chi2
    FROM m
    """,
)
def l_eval_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNEMAR'S PAIRED TEST (1947; public method) between two cheap
    english-detector proxies (contains ' the ' vs n_chars ≥ 300)
    scored on the SAME documents against the lang label: the
    discordant-pair counts b (A right, B wrong) and c (A wrong, B
    right) and χ² = (b−c)²/(b+c). This is THE test for "is model A
    actually better than model B on this eval set" — paired, so it
    ignores the items both get right/wrong and is far more sensitive
    than comparing two accuracies (complements l_eval_slice_accuracy).

    Determinism: b, c are exact BIGINT conditional sums in one pass;
    χ² is a single integer-ratio division (NULLIF guards b+c=0 — the
    cv_folds lesson applied at birth), quantized once with '+ 0'.

    Scale: one scan, one 1-row conditional aggregate — scan speed at
    any corpus size."""
    d = table(spark, sf_dir, "documents")
    pa = F.when(F.col("text").like("% the %"), 1).otherwise(0)
    pb = F.when(F.col("n_chars") >= 300, 1).otherwise(0)
    y = F.when(F.col("lang") == "en", 1).otherwise(0)
    m = d.select(pa.alias("pa"), pb.alias("pb"), y.alias("y")).agg(
        F.sum(
            F.when((F.col("pa") == F.col("y")) & (F.col("pb") != F.col("y")), 1)
            .otherwise(0)
        ).alias("b"),
        F.sum(
            F.when((F.col("pa") != F.col("y")) & (F.col("pb") == F.col("y")), 1)
            .otherwise(0)
        ).alias("c"),
        F.count(F.lit(1)).alias("n"),
    )
    bc = F.col("b") + F.col("c")
    chi2 = ((F.col("b") - F.col("c")) * (F.col("b") - F.col("c"))).cast(
        "double"
    ) / F.when(bc == 0, F.lit(None)).otherwise(bc).cast("double")
    return m.select("n", "b", "c", dround(chi2, 6).alias("chi2"))


@query(
    "l_eval_auc",
    oracle="""
    WITH f AS (
        SELECT n_chars AS v,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents
    ), cnt AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(y) AS BIGINT) AS p
        FROM f GROUP BY v
    ), r2 AS (
        SELECT v, c, p,
               2 * (SUM(c) OVER (ORDER BY v) - c) + c + 1 AS r2
        FROM cnt
    ), m AS (
        SELECT SUM(CAST(p AS HUGEINT) * r2) AS s2p,
               SUM(CAST(p AS HUGEINT)) AS pp,
               SUM(CAST(c AS HUGEINT)) AS nn
        FROM r2
    )
    SELECT CAST(nn AS BIGINT) AS n, CAST(pp AS BIGINT) AS n_pos,
           ROUND(CAST(s2p - pp * (pp + 1) AS DOUBLE)
                 / CAST(NULLIF(2 * pp * (nn - pp), 0) AS DOUBLE)
                 * 1e9) / 1e9 + 0
               AS auc
    FROM m
    """,
)
def l_eval_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of a score column (n_chars) against a binary label
    (lang = 'en') via the exact rank-sum identity AUC = (R⁺ − P(P+1)/2)
    / (P·N⁻) with AVERAGE ranks for ties (Mann-Whitney U / Wilcoxon;
    public method) — the threshold-free discrimination metric every
    quality-classifier eval reports next to accuracy and calibration
    (complements l_calibration_curve and l_eval_brier).

    Determinism: the l_eval_spearman doubled-rank machinery — average
    ranks live on the half-integer grid so 2R⁺ = Σ p_v·r2_v is an
    exact integer; moments sum in DECIMAL(38,0) Spark-side / HUGEINT
    oracle-side (exact AND order-independent — the r10 spearman ADVICE
    fix applied at birth); AUC is one integer-ratio division quantized
    at 1e-9 with '+ 0'. The denominator 2·P·N⁻ is NULLIF/when-guarded
    (r11 ADVICE): on a single-class corpus Spark's non-ANSI Divide
    returns NULL while DuckDB's IEEE float division returns inf/NaN —
    both engines must agree on NULL under fixture drift (rule 1b).

    Scale: the rank ladder runs over the VALUE-DOMAIN-grouped table
    (n_chars domain ~500 values — the m_survival_km bounded-window
    class), never per row; one (value)-keyed agg + one 1-row fold.
    Scan speed at 100 TB."""
    d = table(spark, sf_dir, "documents")
    f = d.select(
        F.col("n_chars").alias("v"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    cnt = f.groupBy("v").agg(
        F.count(F.lit(1)).alias("c"), F.sum("y").alias("p")
    )
    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    r2 = cnt.select(
        "c",
        "p",
        (2 * (F.sum("c").over(w) - F.col("c")) + F.col("c") + 1).alias("r2"),
    )
    dec = "decimal(38,0)"
    m = r2.agg(
        F.sum(F.col("p").cast(dec) * F.col("r2").cast(dec)).alias("s2p"),
        F.sum(F.col("p").cast(dec)).alias("pp"),
        F.sum(F.col("c").cast(dec)).alias("nn"),
    )
    denom = 2 * F.col("pp") * (F.col("nn") - F.col("pp"))
    return m.select(
        F.col("nn").cast("bigint").alias("n"),
        F.col("pp").cast("bigint").alias("n_pos"),
        dround(
            (F.col("s2p") - F.col("pp") * (F.col("pp") + 1)).cast("double")
            / F.when(denom == 0, F.lit(None)).otherwise(denom).cast("double"),
            9,
        ).alias("auc"),
    )


@query(
    "l_eval_mrr",
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
        WHERE e.vec_id <> q.q_id
    ), best AS (
        SELECT q_id, MAX(struct_pack(sq := sq, vid := -vec_id)) AS b
        FROM s WHERE label = ql GROUP BY q_id
    ), rnk AS (
        SELECT s.q_id,
               CAST(1 + SUM(CASE WHEN struct_pack(sq := s.sq,
                                                  vid := -s.vec_id)
                                      > best.b
                                 THEN 1 ELSE 0 END) AS BIGINT)
                   AS first_rank
        FROM s JOIN best ON best.q_id = s.q_id
        GROUP BY s.q_id
    )
    SELECT q_id, first_rank,
           ROUND(1.0 / CAST(first_rank AS DOUBLE) * 1e9) / 1e9 + 0
               AS reciprocal_rank
    FROM rnk ORDER BY q_id
    """,
)
def l_eval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRIEVAL MRR — for 20 deterministic md5-sampled query vectors
    (the l_sim_search_ivf sampling convention), the rank of the FIRST
    same-label neighbor under dot-product retrieval and its reciprocal
    rank (per query; the mean is one trivial reduction away and
    per-query rows are what an eval harness actually stores). Label =
    relevance is the standard proxy-eval when no click data exists.

    Determinism: similarities are ``sampled_query_scores``' integer
    grid; the rank is NOT a window sort — it is 1 + |{candidates
    strictly better than the best relevant candidate}| under the
    total order (sim, -vec_id), computed as one conditional aggregate
    against a per-query max (both engines compare identical
    (BIGINT, BIGINT) struct keys). Integer ranks, one division per
    query, 1e-9 quantized.

    Scale: sims are ``sampled_query_scores``; best-relevant and the
    rank count are two q_id-keyed partial aggs — NO per-query window
    sort of the corpus (the TakeOrdered/agg shape, not the rank-window
    shape)."""
    s = sampled_query_scores(
        spark, sf_dir, F.col("vec_id") != F.col("q_id")
    ).localCheckpoint()  # rule 11a: feeds best-relevant AND the count
    key = F.struct(F.col("sq").alias("sq"), (-F.col("vec_id")).alias("vid"))
    best = (
        s.filter(F.col("label") == F.col("ql"))
        .groupBy("q_id")
        .agg(F.max(key).alias("b"))
    )
    rnk = (
        s.join(best, "q_id")
        .groupBy("q_id")
        .agg(
            (
                1
                + F.sum(F.when(key > F.col("b"), 1).otherwise(0))
            ).cast("bigint").alias("first_rank")
        )
    )
    return rnk.select(
        "q_id",
        "first_rank",
        dround(F.lit(1.0) / F.col("first_rank").cast("double"), 9).alias(
            "reciprocal_rank"
        ),
    ).orderBy("q_id")


@query(
    "l_eval_fleiss_kappa",
    oracle="""
    WITH r AS (
        SELECT (CASE WHEN text LIKE '% the %' THEN 1 ELSE 0 END
                + CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END
                + CASE WHEN text LIKE '% and %' THEN 1 ELSE 0 END)
                   AS n_pos
        FROM documents
    ), a AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(n_pos) AS BIGINT) AS s_pos,
               CAST(SUM(n_pos * n_pos + (3 - n_pos) * (3 - n_pos))
                    AS BIGINT) AS s_sq
        FROM r
    )
    SELECT n_items,
           ROUND(CAST(s_pos AS DOUBLE) / (3.0 * CAST(n_items AS DOUBLE))
                 * 1e9) / 1e9 + 0 AS p_pos,
           ROUND(CAST(s_sq - 3 * n_items AS DOUBLE)
                 / (6.0 * CAST(n_items AS DOUBLE)) * 1e9) / 1e9 + 0
               AS p_bar,
           ROUND((CAST(s_sq - 3 * n_items AS DOUBLE)
                      / (6.0 * CAST(n_items AS DOUBLE))
                  - (pow(CAST(s_pos AS DOUBLE)
                         / (3.0 * CAST(n_items AS DOUBLE)), 2)
                     + pow(1.0 - CAST(s_pos AS DOUBLE)
                           / (3.0 * CAST(n_items AS DOUBLE)), 2)))
                 / (1.0 - (pow(CAST(s_pos AS DOUBLE)
                               / (3.0 * CAST(n_items AS DOUBLE)), 2)
                           + pow(1.0 - CAST(s_pos AS DOUBLE)
                                 / (3.0 * CAST(n_items AS DOUBLE)), 2)))
                 * 1e9) / 1e9 + 0 AS fleiss_kappa
    FROM a
    """,
)
def l_eval_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLEISS' KAPPA (1971; public method) for THREE judges over a
    binary category — the multi-rater generalization of Cohen's κ
    (d_agg_chi2 / l_eval_cohen territory covers two raters): three
    cheap english-detector proxies (contains ' the ', n_chars ≥ 300,
    contains ' and ') rate every document; κ = (P̄ − P_e)/(1 − P_e)
    with per-item agreement P_i = (Σ n_c² − n)/(n(n−1)), n = 3. This
    is the agreement audit an LLM-judge ensemble publishes before its
    votes are trusted as labels.

    Determinism: per-item rating counts are exact integers; the two
    corpus moments (Σ n_pos, Σ Σn_c²) are exact BIGINT sums; P̄, P_e,
    and κ are one fixed-shape double expression over them (pow(x,2)
    the same libm both engines), each output quantized once at 1e-9
    with '+ 0'.

    Scale: one scan, one 1-row aggregate — scan speed at any corpus
    size; generalizing to r raters/k categories keeps the same two-
    moment shape (Σ n_c² folds per item map-side)."""
    d = table(spark, sf_dir, "documents")
    n_pos = (
        F.when(F.col("text").like("% the %"), 1).otherwise(0)
        + F.when(F.col("n_chars") >= 300, 1).otherwise(0)
        + F.when(F.col("text").like("% and %"), 1).otherwise(0)
    )
    a = d.select(n_pos.alias("n_pos")).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("n_pos").alias("s_pos"),
        F.sum(
            F.col("n_pos") * F.col("n_pos")
            + (3 - F.col("n_pos")) * (3 - F.col("n_pos"))
        ).alias("s_sq"),
    )
    ni = F.col("n_items").cast("double")
    p_pos = F.col("s_pos").cast("double") / (F.lit(3.0) * ni)
    p_bar = (F.col("s_sq") - 3 * F.col("n_items")).cast("double") / (
        F.lit(6.0) * ni
    )
    p_e = F.pow(p_pos, F.lit(2)) + F.pow(F.lit(1.0) - p_pos, F.lit(2))
    return a.select(
        "n_items",
        dround(p_pos, 9).alias("p_pos"),
        dround(p_bar, 9).alias("p_bar"),
        dround((p_bar - p_e) / (F.lit(1.0) - p_e), 9).alias("fleiss_kappa"),
    )


@query(
    "l_eval_ece",
    oracle="""
    WITH s AS (
        SELECT CAST((n_chars - 40) AS DOUBLE) * (n_chars - 40)
               / (CAST((n_chars - 40) AS DOUBLE) * (n_chars - 40) + 40000.0)
                   AS p,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents
    ), b AS (
        SELECT CASE WHEN CAST(FLOOR(p * 10) AS BIGINT) >= 10 THEN 9
                    ELSE CAST(FLOOR(p * 10) AS BIGINT) END AS bin,
               CAST(FLOOR(p * 1e9 + 0.5) AS BIGINT) AS pq, y
        FROM s
    ), g AS (
        SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_k,
               CAST(SUM(y) AS BIGINT) AS k_k,
               CAST(SUM(pq) AS BIGINT) AS sp_k
        FROM b GROUP BY bin
    ), t AS (
        SELECT CAST(SUM(n_k) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS n_bins,
               SUM(ABS(CAST(k_k AS HUGEINT) * 1000000000 - sp_k)) AS wq,
               MAX(abs(CAST(k_k AS DOUBLE) / CAST(n_k AS DOUBLE)
                       - CAST(sp_k AS DOUBLE) / CAST(n_k AS DOUBLE) / 1e9))
                   AS max_gap
        FROM g
    )
    SELECT n, n_bins,
           ROUND(CAST(wq AS DOUBLE) / 1e9 / CAST(n AS DOUBLE) * 1e9) / 1e9
               + 0 AS ece,
           ROUND(max_gap * 1e9) / 1e9 + 0 AS max_gap
    FROM t
    """,
)
def l_eval_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPECTED CALIBRATION ERROR (Naeini et al. 2015; public method)
    of the same frozen rational-squash scorer l_calibration_curve
    audits (p = z²/(z²+c), z = n_chars−40 — rational so decile
    membership is IEEE-exact in both engines, the calibration_curve
    determinism note): ECE = Σ_k n_k/N · |acc_k − conf_k| over p's
    deciles, plus the worst-bin gap — the single calibration number a
    model card reports next to the reliability diagram.

    Determinism: per-row p quantizes to a 1e9 fixed-point BIGINT
    before the per-bin confidence sums (rule 11e — a raw double sum
    would be order-sensitive); acc_k comes from exact counts; and the
    weighted fold itself is EXACT integer arithmetic (r11 ADVICE):
    n_k·|acc_k − conf_k| = |k_k·1e9 − sp_k|/1e9 algebraically, so
    w_gap sums |k_k·1e9 − sp_k| in DECIMAL(38,0)/HUGEINT — zero
    double reassociation anywhere in ece (the rule-9/11e class is
    eliminated, not just bounded). max_gap stays a double max (maxima
    are order-independent).

    Scale: one scan, one 10-ary groupBy (partial+final), one 1-row
    fold. Scan speed at any corpus size."""
    d = table(spark, sf_dir, "documents")
    z = (F.col("n_chars") - 40).cast("double") * (F.col("n_chars") - 40)
    p = z / (z + F.lit(40000.0))
    s = d.select(
        p.alias("p"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    bin_ = F.when(F.floor(F.col("p") * 10).cast("bigint") >= 10, 9).otherwise(
        F.floor(F.col("p") * 10).cast("bigint")
    )
    b = s.select(
        bin_.alias("bin"),
        F.floor(F.col("p") * 1e9 + 0.5).cast("bigint").alias("pq"),
        "y",
    )
    g = b.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_k"),
        F.sum("y").alias("k_k"),
        F.sum("pq").alias("sp_k"),
    )
    gap = F.abs(
        F.col("k_k").cast("double") / F.col("n_k").cast("double")
        - F.col("sp_k").cast("double") / F.col("n_k").cast("double") / 1e9
    )
    dec = "decimal(38,0)"
    t = g.agg(
        F.sum("n_k").alias("n"),
        F.count(F.lit(1)).alias("n_bins"),
        F.sum(
            F.abs(
                F.col("k_k").cast(dec) * F.lit(1000000000).cast(dec)
                - F.col("sp_k").cast(dec)
            )
        ).alias("wq"),
        F.max(gap).alias("max_gap"),
    )
    return t.select(
        "n",
        "n_bins",
        dround(
            F.col("wq").cast("double") / 1e9 / F.col("n").cast("double"), 9
        ).alias("ece"),
        dround(F.col("max_gap"), 9).alias("max_gap"),
    )


@query(
    "l_eval_kendall_tau",
    oracle="""
    WITH s AS (
        SELECT LEAST(n_chars // 60, 9) AS da,
               LEAST(len(string_split(text, ' ')) // 11, 9) AS db
        FROM documents
    ), cells AS (
        SELECT da, db, CAST(COUNT(*) AS BIGINT) AS n FROM s GROUP BY da, db
    ), cd AS (
        SELECT CAST(COALESCE(SUM(CASE WHEN b.db > a.db
                                      THEN a.n * b.n END), 0) AS BIGINT) AS nc,
               CAST(COALESCE(SUM(CASE WHEN b.db < a.db
                                      THEN a.n * b.n END), 0) AS BIGINT) AS nd
        FROM cells a JOIN cells b ON b.da > a.da
    ), tx AS (
        SELECT CAST(SUM(m * (m - 1) / 2) AS BIGINT) AS tie_x
        FROM (SELECT SUM(n) AS m FROM cells GROUP BY da)
    ), ty AS (
        SELECT CAST(SUM(m * (m - 1) / 2) AS BIGINT) AS tie_y
        FROM (SELECT SUM(n) AS m FROM cells GROUP BY db)
    ), tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n FROM cells
    )
    SELECT tot.n, cd.nc, cd.nd,
           ROUND(CAST(cd.nc - cd.nd AS DOUBLE)
                 / NULLIF(sqrt(CAST(tot.n * (tot.n - 1) / 2 - tx.tie_x
                                    AS DOUBLE)
                               * CAST(tot.n * (tot.n - 1) / 2 - ty.tie_y
                                      AS DOUBLE)), 0.0)
                 * 1e9) / 1e9 + 0 AS tau_b
    FROM tot, cd, tx, ty
    """,
)
def l_eval_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KENDALL tau-b rank agreement between two quality proxies —
    length decile (n_chars) vs verbosity decile (word count) — the
    LENGTH-BIAS AUDIT every LLM-judge eval runs: if a reward proxy's
    ranking is mostly explained by length, tau-b against the length
    decile says so in one number (Kendall 1945 tie-corrected tau-b;
    public method). Complements l_eval_spearman (value-rank rho) with
    the concordant/discordant-pair view that is robust to monotone
    transforms of either score.

    Determinism: both deciles are exact integer grids (fixed-width
    DIV buckets, NOT ntile — identical cell membership in both
    engines); concordant/discordant counts are exact BIGINT products
    over the <=100-cell contingency table; ties come from marginals;
    the one sqrt is IEEE correctly-rounded in both engines on exact
    integer-valued doubles, then one division, dround 1e-9 with the
    NULLIF degenerate-grid guard (the l_eval_auc lesson).

    Scale: ONE corpus scan -> 10x10 hash agg (partial+final); all
    pair arithmetic runs on the bounded 100-row cell table (<=4,950
    cell pairs — a bounded nested-loop join, the c_join_cross class,
    never a row-level pair join). Scan speed at any corpus size."""
    d = table(spark, sf_dir, "documents")
    # integer DIV semantics: Spark `/` on ints is double division — use
    # floor-div explicitly to mirror DuckDB's `//`
    s = d.select(
        F.least(F.expr("n_chars DIV 60"), F.lit(9)).cast("bigint").alias("da"),
        F.least(
            F.expr("size(split(text, ' ')) DIV 11"), F.lit(9)
        ).cast("bigint").alias("db"),
    )
    cells = s.groupBy("da", "db").agg(F.count(F.lit(1)).alias("n"))
    a = cells.toDF("da", "db", "n")
    b = cells.toDF("da2", "db2", "n2")
    cd = (
        a.join(b, F.col("da2") > F.col("da"))
        .agg(
            F.coalesce(
                F.sum(
                    F.when(F.col("db2") > F.col("db"), F.col("n") * F.col("n2"))
                ),
                F.lit(0),
            ).alias("nc"),
            F.coalesce(
                F.sum(
                    F.when(F.col("db2") < F.col("db"), F.col("n") * F.col("n2"))
                ),
                F.lit(0),
            ).alias("nd"),
        )
    )
    tx = (
        cells.groupBy("da").agg(F.sum("n").alias("m"))
        .agg(F.sum(F.col("m") * (F.col("m") - 1) / 2).cast("bigint")
             .alias("tie_x"))
    )
    ty = (
        cells.groupBy("db").agg(F.sum("n").alias("m"))
        .agg(F.sum(F.col("m") * (F.col("m") - 1) / 2).cast("bigint")
             .alias("tie_y"))
    )
    tot = cells.agg(F.sum("n").alias("n"))
    n = F.col("n")
    n0 = (n * (n - 1) / 2).cast("bigint")
    denom = F.sqrt(
        (n0 - F.col("tie_x")).cast("double") * (n0 - F.col("tie_y")).cast("double")
    )
    return (
        tot.crossJoin(F.broadcast(cd))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .select(
            "n",
            "nc",
            "nd",
            dround(
                (F.col("nc") - F.col("nd")).cast("double")
                / F.when(denom == 0.0, F.lit(None)).otherwise(denom),
                9,
            ).alias("tau_b"),
        )
    )


_RBO_P = 0.9
_RBO_K = 50
# suffix-summed integer weight grid (the l_eval_ndcg 1e15 pattern): a
# doc first present in BOTH prefixes at depth m contributes
# sum_{d>=m} (1-p) p^(d-1)/d — precomputed ONCE in Python and embedded
# as the same literals in both engines, so no transcendental is ever
# evaluated inside either engine.
_RBO_SUF = [
    sum(
        int((1 - _RBO_P) * _RBO_P ** (d - 1) / d * 1e15)
        for d in range(m, _RBO_K + 1)
    )
    for m in range(1, _RBO_K + 1)
]


@query(
    "l_eval_rbo",
    oracle=f"""
    WITH a AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id)
                   AS ra
        FROM documents ORDER BY n_chars DESC, doc_id LIMIT {_RBO_K}
    ), b AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY len(string_split(text, ' ')) DESC,
                                  doc_id) AS rb
        FROM documents
        ORDER BY len(string_split(text, ' ')) DESC, doc_id LIMIT {_RBO_K}
    ), m AS (
        SELECT GREATEST(a.ra, b.rb) AS m
        FROM a JOIN b ON a.doc_id = b.doc_id
    )
    SELECT CAST({_RBO_K} AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_common,
           ROUND(CAST(COALESCE(SUM(({_RBO_SUF})[m]), 0) AS DOUBLE) / 1e15
                 * 1e9) / 1e9 + 0 AS rbo
    FROM m
    """,
)
def l_eval_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK-BIASED OVERLAP (Webber, Moffat & Zobel 2010, "A similarity
    measure for indefinite rankings"; public method) between the top-50
    documents under two quality proxies (chars-desc vs words-desc) —
    the top-weighted ranking-agreement number for comparing two
    retrieval systems / two reward models where only the head of the
    ranking matters. Truncated-sum variant (depth k, no residual
    extrapolation — the standard reported RBO@k), p = 0.9.

    Determinism: RBO@k = sum_d (1-p) p^(d-1) X_d / d where X_d is the
    prefix-overlap count; reordered per doc as suffix weights
    sum_{{d >= max(ra, rb)}} — the per-doc weight is a PRECOMPUTED
    integer literal (1e15 grid, the l_eval_ndcg pattern) indexed by
    max-rank, so the whole metric is an exact BIGINT sum in both
    engines; both rankings are total orders (tiebreak doc_id, rule 5).

    Scale: two TakeOrdered(50) heads (per-partition heaps, no global
    sort — the l_ngram_coverage_curve pattern), a 50x50 equi-join on
    doc_id between two LIMIT-bounded pools (broadcast-safe by
    construction: k is a pipeline constant), one 1-row fold. The
    corpus is scanned twice, map-side only."""
    d = table(spark, sf_dir, "documents")
    # TakeOrdered head first, THEN a rank window over the 50-row pool —
    # the global window runs on a LIMIT-bounded frame, never the corpus
    a = (
        d.select("doc_id", "n_chars")
        .orderBy(F.col("n_chars").desc(), "doc_id")
        .limit(_RBO_K)
        .select(
            "doc_id",
            F.row_number()
            .over(W.orderBy(F.col("n_chars").desc(), "doc_id"))
            .alias("ra"),
        )
    )
    b = (
        d.select("doc_id", F.size(F.split(F.col("text"), " ")).alias("nw"))
        .orderBy(F.col("nw").desc(), "doc_id")
        .limit(_RBO_K)
        .select(
            "doc_id",
            F.row_number()
            .over(W.orderBy(F.col("nw").desc(), "doc_id"))
            .alias("rb"),
        )
    )
    suf = F.array(*[F.lit(v) for v in _RBO_SUF])
    m = a.join(b, "doc_id").select(
        F.greatest(F.col("ra"), F.col("rb")).alias("m")
    )
    return m.agg(
        F.lit(_RBO_K).cast("bigint").alias("k"),
        F.count(F.lit(1)).alias("n_common"),
        dround(
            F.coalesce(
                F.sum(F.element_at(suf, F.col("m").cast("int"))), F.lit(0)
            ).cast("double")
            / 1e15,
            9,
        ).alias("rbo"),
    )


_BOOT_B = 200
#: the symmetric 95% CI picks: 5th smallest / 5th largest of 200
_BOOT_LO = _BOOT_B // 40
_BOOT_HI = _BOOT_B - _BOOT_B // 40 + 1
# Poisson(1) inverse-CDF cutoffs on a 16-bit grid, spelled as 4-hex-
# char string literals (computed once in Python, embedded in BOTH
# engines): replicate weight w = k iff the first 4 md5 hex chars sort
# below cutoff k — lowercase same-length hex compares lexicographically
# = numerically, so the draw needs NO hex->int conversion at all
# (CONV/'0x'-cast was 3.5 s of the 10M-row x100 scan; the md5 itself
# is the irreducible shared-hash cost). Clamped at 6 (tail ~5.9e-4 —
# standard truncation); the 2^-16 cutoff grid shifts each branch
# probability by < 1.6e-5, far below the CI resolution, and is part of
# the op's DEFINITION so both engines draw identical weights.
_POIS_HEX = ("5e2d", "bc5a", "eb71", "fb23", "ff10", "ffd9")


def _pois_draw(key: str, duck: bool = False) -> str:
    """The Poisson(1) weight of the row keyed ``key`` in replicate
    ``b`` as a SQL CASE over md5(key || '_' || b): one md5 per
    (row, replicate). ``duck`` spells the DuckDB twin, whose replicate
    column is ``b.b``."""
    typ, b = ("VARCHAR", "b.b") if duck else ("STRING", "b")
    h = f"substring(md5(CAST({key} AS {typ}) || '_' || CAST({b} AS {typ})), 1, 4)"
    branches = " ".join(
        f"WHEN {h} < '{c}' THEN {k}" for k, c in enumerate(_POIS_HEX)
    )
    return f"(CASE {branches} ELSE 6 END)"


def _boot_ranked(x: DataFrame, key: str, val: str, total: str, ratio: str,
                 scale: float | None = None) -> DataFrame:
    """The B Poisson-bootstrap replicates of mean(``val``) over ``x``:
    one row per replicate b with ``ratio`` = sum(w * val) / sum(w)
    (the numerator named ``total``, the ratio divided by ``scale`` when
    given) and its rank ``rk`` under the total order (ratio, b), where
    w = ``_pois_draw(key)``. Replicate sums are exact BIGINT and each
    ratio is ONE division; the rank window runs over exactly B rows.
    """
    # Explode a PLAIN sequence (codegen Generate) and compute the
    # weight as an ordinary projected column — HOF transform lambdas
    # are INTERPRETED (no whole-stage codegen); the lambda form
    # measured 51 s at x100, the let-bound lambda 28 s, this
    # generator+codegen+hex-compare form 5.7 s (near-parity with the
    # single-process engine). Whole-stage CSE evaluates the md5 ONCE
    # across the 6 CASE branches.
    r = x.select(
        key, val, F.explode(F.expr(f"sequence(0, {_BOOT_B - 1})")).alias("b")
    ).select(val, "b", F.expr(_pois_draw(key)).alias("w"))
    m = r.groupBy("b").agg(
        F.sum("w").alias("sw"), F.sum(F.col("w") * F.col(val)).alias(total)
    )
    q = F.col(total).cast("double") / F.when(
        F.col("sw") == 0, F.lit(None)
    ).otherwise(F.col("sw")).cast("double")
    if scale is not None:
        q = q / F.lit(scale)
    return m.select(q.alias(ratio), "b").select(
        ratio, F.row_number().over(W.orderBy(ratio, "b")).alias("rk")
    )


def _boot_ci(o: DataFrame, ratio: str) -> DataFrame:
    """The one-row (lo, hi) 95% CI of ``_boot_ranked`` output: the
    symmetric order-statistic picks, no interpolation to diverge on."""
    return o.filter(F.col("rk").isin(_BOOT_LO, _BOOT_HI)).agg(
        F.max(F.when(F.col("rk") == _BOOT_LO, F.col(ratio))).alias("lo"),
        F.max(F.when(F.col("rk") == _BOOT_HI, F.col(ratio))).alias("hi"),
    )


@query(
    "l_eval_bootstrap_ci",
    oracle=f"""
    WITH x AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS x
        FROM documents
    ), r AS (
        SELECT b.b, x.x,
               {_pois_draw("x.doc_id", duck=True)}
                   AS w
        FROM x CROSS JOIN (SELECT unnest(generate_series(0, {_BOOT_B - 1}))
                           AS b) b
    ), m AS (
        SELECT b, CAST(SUM(w) AS BIGINT) AS sw,
               CAST(SUM(w * x) AS BIGINT) AS swx
        FROM r GROUP BY b
    ), o AS (
        SELECT CAST(swx AS DOUBLE) / CAST(NULLIF(sw, 0) AS DOUBLE) AS mb,
               b,
               ROW_NUMBER() OVER (
                   ORDER BY CAST(swx AS DOUBLE)
                            / CAST(NULLIF(sw, 0) AS DOUBLE), b) AS rk
        FROM m
    ), pt AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(x) AS BIGINT) AS sx
        FROM x
    )
    SELECT pt.n_docs, CAST({_BOOT_B} AS BIGINT) AS n_replicates,
           ROUND(CAST(pt.sx AS DOUBLE) / CAST(pt.n_docs AS DOUBLE)
                 * 1e6) / 1e6 + 0 AS mean_tokens,
           ROUND((SELECT mb FROM o WHERE rk = {_BOOT_LO}) * 1e6)
               / 1e6 + 0 AS ci_lo,
           ROUND((SELECT mb FROM o WHERE rk = {_BOOT_HI})
                 * 1e6) / 1e6 + 0 AS ci_hi
    FROM pt
    """,
)
def l_eval_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISSON BOOTSTRAP confidence interval (Hanley & MacGibbon 2006;
    Chamandy et al., "Estimating uncertainty for massive data streams"
    — the Google distributed-bootstrap method; public): a 95% CI for
    mean tokens/doc from B=200 replicates where each doc enters
    replicate b with weight ~ Poisson(1). Unlike the classic resample-
    n-of-n bootstrap (a global shuffle per replicate), Poisson weights
    are a PURE MAP: one deterministic md5 draw per (doc, replicate) —
    THE bootstrap that works on a 1000-executor cluster, and the CI
    every data-quality dashboard should put next to its point
    estimate.

    Determinism: weights are exact CASE cuts of the first 4 md5 hex
    chars against embedded 16-bit Poisson(1) CDF cutoffs (hex-string
    compare — no float, no hex->int cast; clamped at 6, tail 5.9e-4);
    per-replicate sums are exact BIGINT; each replicate mean is ONE
    division; the CI is a symmetric ORDER-STATISTIC pick (5th smallest
    / 5th largest of 200 under the total order (mean, b)) — no
    interpolation to diverge on.

    Scale: the B-fold fan-out is a codegen Generate over a plain index
    sequence with the draw as an ordinary projection (the
    interpreted-HOF form measured 51 s at x100; this form 5.7 s, 1.05x
    the single-process engine); one B-ary hash agg (partial+final);
    the order-statistic window runs over exactly B rows
    (pipeline-constant class). Shuffle volume: B rows per upstream
    partition."""
    # r12 scatter: single-split fixture scans serialize the map
    # stage on one core (see session.scatter; no-op at scale)
    d = scatter(spark, table(spark, sf_dir, "documents"))
    x = d.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).cast("bigint").alias("x")
    )
    ci = _boot_ci(_boot_ranked(x, "doc_id", "x", "swx", "mb"), "mb")
    pt = x.agg(F.count(F.lit(1)).alias("n_docs"), F.sum("x").alias("sx"))
    return pt.crossJoin(F.broadcast(ci)).select(
        "n_docs",
        F.lit(_BOOT_B).cast("bigint").alias("n_replicates"),
        dround(
            F.col("sx").cast("double") / F.col("n_docs").cast("double"), 6
        ).alias("mean_tokens"),
        dround(F.col("lo"), 6).alias("ci_lo"),
        dround(F.col("hi"), 6).alias("ci_hi"),
    )


@query(
    "l_eval_paired_bootstrap",
    oracle=f"""
    WITH x AS (
        SELECT doc_id,
               (CASE WHEN (CASE WHEN text LIKE '% the %' THEN 1 ELSE 0 END)
                          = (CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                     THEN 1 ELSE 0 END)
             - (CASE WHEN (CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END)
                          = (CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                     THEN 1 ELSE 0 END) AS dx
        FROM documents
    ), r AS (
        SELECT b.b, x.dx,
               {_pois_draw("x.doc_id", duck=True)}
                   AS w
        FROM x CROSS JOIN (SELECT unnest(generate_series(0, {_BOOT_B - 1}))
                           AS b) b
    ), m AS (
        SELECT b, CAST(SUM(w) AS BIGINT) AS sw,
               CAST(SUM(w * dx) AS BIGINT) AS swd
        FROM r GROUP BY b
    ), o AS (
        SELECT CAST(swd AS DOUBLE) / CAST(NULLIF(sw, 0) AS DOUBLE) AS db,
               b,
               ROW_NUMBER() OVER (
                   ORDER BY CAST(swd AS DOUBLE)
                            / CAST(NULLIF(sw, 0) AS DOUBLE), b) AS rk
        FROM m
    ), pt AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dx) AS BIGINT) AS sd
        FROM x
    ), agg AS (
        SELECT CAST(SUM(CASE WHEN db <= 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_nonpos
        FROM o
    )
    SELECT pt.n_docs, CAST({_BOOT_B} AS BIGINT) AS n_replicates,
           ROUND(CAST(pt.sd AS DOUBLE) / CAST(pt.n_docs AS DOUBLE)
                 * 1e6) / 1e6 + 0 AS acc_diff,
           ROUND((SELECT db FROM o WHERE rk = {_BOOT_LO}) * 1e6)
               / 1e6 + 0 AS ci_lo,
           ROUND((SELECT db FROM o WHERE rk = {_BOOT_HI})
                 * 1e6) / 1e6 + 0 AS ci_hi,
           ROUND(CAST(agg.n_nonpos AS DOUBLE) / {_BOOT_B}.0 * 1e6) / 1e6 + 0
               AS p_boot
    FROM pt, agg
    """,
)
def l_eval_paired_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAIRED POISSON BOOTSTRAP system comparison (Koehn 2004,
    "Statistical significance tests for machine translation
    evaluation", distributed via Poisson weights; public method): is
    detector A ('contains \" the \"') actually better than detector B
    (n_chars >= 300) at predicting lang = 'en'? Both systems score the
    SAME docs, so each replicate reweights the per-doc accuracy
    DIFFERENCE (the paired design that cancels shared variance —
    l_eval_mcnemar's bootstrap sibling). Output: point accuracy
    difference, the 95% replicate CI, and p_boot = share of replicates
    where the difference is <= 0 — the number an eval report quotes as
    "significant at p < 0.05" before swapping models.

    Determinism: per-doc dx in {{-1, 0, 1}} exact; SAME md5 hex-compare
    Poisson draws as l_eval_bootstrap_ci (the two ops' replicates are
    coupled by design, so their CIs are comparable); exact BIGINT
    replicate sums, one division per replicate, symmetric
    order-statistic CI picks under the total order (diff, b),
    count-ratio p_boot.

    Scale: identical shape to l_eval_bootstrap_ci — codegen Generate
    B-fold fan-out, one B-ary hash agg, B-row order-statistic
    window."""
    # r12 scatter: single-split fixture scans serialize the map
    # stage on one core (see session.scatter; no-op at scale)
    d = scatter(spark, table(spark, sf_dir, "documents"))
    y = F.when(F.col("lang") == "en", 1).otherwise(0)
    pa = F.when(F.col("text").like("% the %"), 1).otherwise(0)
    pb = F.when(F.col("n_chars") >= 300, 1).otherwise(0)
    dx = (
        F.when(pa == y, 1).otherwise(0) - F.when(pb == y, 1).otherwise(0)
    ).cast("bigint")
    x = d.select("doc_id", dx.alias("dx"))
    # single consumer (the one .agg below) — no checkpoint needed
    o = _boot_ranked(x, "doc_id", "dx", "swd", "db")
    ci = o.agg(
        F.max(F.when(F.col("rk") == _BOOT_LO, F.col("db"))).alias("lo"),
        F.max(F.when(F.col("rk") == _BOOT_HI, F.col("db"))).alias("hi"),
        F.sum(F.when(F.col("db") <= 0, 1).otherwise(0)).alias("n_nonpos"),
    )
    pt = x.agg(F.count(F.lit(1)).alias("n_docs"), F.sum("dx").alias("sd"))
    return pt.crossJoin(F.broadcast(ci)).select(
        "n_docs",
        F.lit(_BOOT_B).cast("bigint").alias("n_replicates"),
        dround(
            F.col("sd").cast("double") / F.col("n_docs").cast("double"), 6
        ).alias("acc_diff"),
        dround(F.col("lo"), 6).alias("ci_lo"),
        dround(F.col("hi"), 6).alias("ci_hi"),
        dround(
            F.col("n_nonpos").cast("double") / F.lit(float(_BOOT_B)), 6
        ).alias("p_boot"),
    )


@query(
    "l_eval_chrf",
    oracle="""
    WITH d AS (
        SELECT CAST(doc_id // 2 AS BIGINT) AS pair_id, doc_id % 2 AS side,
               replace(text, ' ', '') AS s
        FROM documents
    ), g AS (
        SELECT pair_id, side,
               substring(s, i.i, 6) AS g
        FROM d, LATERAL (SELECT unnest(generate_series(1, length(s) - 5))
                         AS i) i
    ), pg AS (
        SELECT pair_id, g,
               CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c0,
               CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c1
        FROM g GROUP BY pair_id, g
    ), a AS (
        SELECT pair_id,
               CAST(SUM(c0) AS BIGINT) AS tc,
               CAST(SUM(c1) AS BIGINT) AS tr,
               CAST(SUM(LEAST(c0, c1)) AS BIGINT) AS ov
        FROM pg GROUP BY pair_id
    )
    SELECT pair_id, tc, tr, ov,
           CASE WHEN ov = 0 THEN 0.0
                ELSE ROUND(CAST(5 * ov * ov AS DOUBLE)
                           / CAST(4 * ov * tr + ov * tc AS DOUBLE)
                           * 1e6) / 1e6 + 0
           END AS chrf2
    FROM a ORDER BY pair_id
    """,
)
def l_eval_chrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """chrF2 — character 6-gram F-score between candidate/reference
    pairs (Popović 2015, "chrF: character n-gram F-score for automatic
    MT evaluation"; public method; single-order n=6, β=2 variant — the
    full metric averages orders 1..6, one more run of the same shape
    each): whitespace stripped (the sacrebleu convention), clipped
    6-gram overlap, chrF2 = 5PR/(4P+R). THE robust MT/generation eval
    for morphologically rich languages where word-level BLEU/ROUGE
    under-credit near-matches. Algebra note: with P = ov/tc (side 0 =
    candidate) and R = ov/tr, chrF2 = 5PR/(4P+R) = 5·ov²/(4·ov·tr +
    ov·tc) — RECALL-weighted, so the REFERENCE total tr carries the
    4x weight (the r13 advice fix: the original denominator had tc/tr
    swapped, computing the precision-weighted beta=1/2 variant) —
    evaluated in that integer-product form so both engines divide the
    same exact BIGINTs once (no P, R intermediates to reassociate).

    Determinism: all counts exact BIGINT from the (pair, gram) hash
    agg; one guarded integer-ratio division per pair, dround 1e-6.

    Scale: gram generation is ``_char6``'s codegen Generate. The
    cleaned string projects BELOW the Generate so replace() runs once
    per doc (verified: one replace() in the plan). ONE
    (pair_id, gram)-keyed partial-agg shuffle linear in character
    count, one pair rollup. Never pairwise in the corpus."""
    # r12 scatter: single-split fixture scans serialize the map
    # stage on one core (see session.scatter; no-op at scale)
    d = scatter(spark, table(spark, sf_dir, "documents"))
    base = _pairs(d, F.expr("replace(text, ' ', '')").alias("s"))
    a = _clipped(_char6(base), "tc", "tr", "ov")
    chrf2 = F.when(F.col("ov") == 0, F.lit(0.0)).otherwise(
        dround(
            (5 * F.col("ov") * F.col("ov")).cast("double")
            / (4 * F.col("ov") * F.col("tr") + F.col("ov") * F.col("tc"))
            .cast("double"),
            6,
        )
    )
    return a.select("pair_id", "tc", "tr", "ov", chrf2.alias("chrf2")).orderBy(
        "pair_id"
    )


#: Shared by l_eval_report and its streaming twin: both produce the
#: same one-row report, so both hash-check against the same batch SQL
#: ground truth. Its bootstrap draw keys on (pair_id, replicate).
_EVAL_REPORT_ORACLE = f"""
    WITH d AS (
        SELECT CAST(doc_id // 2 AS BIGINT) AS pair_id, doc_id % 2 AS side,
               text, replace(text, ' ', '') AS s
        FROM documents
    ), g AS (
        SELECT pair_id, side, substring(s, i.i, 6) AS g
        FROM d, LATERAL (SELECT unnest(generate_series(1, length(s) - 5))
                         AS i) i
    ), pg AS (
        SELECT pair_id, g,
               CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c0,
               CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c1
        FROM g GROUP BY pair_id, g
    ), a AS (
        SELECT pair_id,
               CAST(SUM(c0) AS BIGINT) AS tc,
               CAST(SUM(c1) AS BIGINT) AS tr,
               CAST(SUM(LEAST(c0, c1)) AS BIGINT) AS ov
        FROM pg GROUP BY pair_id
    ), tw AS (
        SELECT pair_id, side, unnest(string_split(text, ' ')) AS w
        FROM d
    ), tg AS (
        SELECT pair_id, w,
               CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c0,
               CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c1
        FROM tw GROUP BY pair_id, w
    ), ta AS (
        SELECT pair_id,
               CAST(SUM(c0) AS BIGINT) AS tc_t,
               CAST(SUM(c1) AS BIGINT) AS tr_t,
               CAST(SUM(LEAST(c0, c1)) AS BIGINT) AS ov_t
        FROM tg GROUP BY pair_id
    ), pp AS (
        SELECT ta.pair_id,
               CAST(ROUND(CASE WHEN COALESCE(a.ov, 0) = 0 THEN 0.0
                    ELSE CAST(5 * a.ov * a.ov AS DOUBLE)
                         / CAST(4 * a.ov * a.tr + a.ov * a.tc AS DOUBLE)
                    END * 1e6) AS BIGINT) AS chrf_fp,
               CAST(ROUND(CASE WHEN ta.ov_t = 0 THEN 0.0
                    ELSE CAST(2 * ta.ov_t AS DOUBLE)
                         / CAST(ta.tc_t + ta.tr_t AS DOUBLE)
                    END * 1e6) AS BIGINT) AS f1_fp,
               CAST(ROUND(CAST(ta.tr_t AS DOUBLE)
                          / CAST(ta.tc_t AS DOUBLE) * 1e6) AS BIGINT)
                   AS lr_fp
        FROM ta LEFT JOIN a ON a.pair_id = ta.pair_id
    ), r AS (
        SELECT b.b, pp.chrf_fp, {_pois_draw("pair_id", duck=True)} AS w
        FROM pp CROSS JOIN (SELECT unnest(generate_series(0, {_BOOT_B - 1}))
                            AS b) b
    ), m AS (
        SELECT b, CAST(SUM(w) AS BIGINT) AS sw,
               CAST(SUM(w * chrf_fp) AS BIGINT) AS swc
        FROM r GROUP BY b
    ), o AS (
        SELECT CAST(swc AS DOUBLE) / CAST(NULLIF(sw, 0) AS DOUBLE) / 1e6
                   AS mb,
               b,
               ROW_NUMBER() OVER (
                   ORDER BY CAST(swc AS DOUBLE)
                            / CAST(NULLIF(sw, 0) AS DOUBLE) / 1e6, b) AS rk
        FROM m
    ), pt AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(chrf_fp) AS BIGINT) AS sc,
               CAST(SUM(f1_fp) AS BIGINT) AS sf,
               CAST(SUM(lr_fp) AS BIGINT) AS sl
        FROM pp
    )
    SELECT pt.n_pairs, CAST({_BOOT_B} AS BIGINT) AS n_replicates,
           ROUND(CAST(pt.sc AS DOUBLE) / 1e6 / CAST(pt.n_pairs AS DOUBLE)
                 * 1e6) / 1e6 + 0 AS mean_chrf2,
           ROUND((SELECT mb FROM o WHERE rk = {_BOOT_LO}) * 1e6)
               / 1e6 + 0 AS chrf2_ci_lo,
           ROUND((SELECT mb FROM o WHERE rk = {_BOOT_HI})
                 * 1e6) / 1e6 + 0 AS chrf2_ci_hi,
           ROUND(CAST(pt.sf AS DOUBLE) / 1e6 / CAST(pt.n_pairs AS DOUBLE)
                 * 1e6) / 1e6 + 0 AS mean_tok_f1,
           ROUND(CAST(pt.sl AS DOUBLE) / 1e6 / CAST(pt.n_pairs AS DOUBLE)
                 * 1e6) / 1e6 + 0 AS mean_len_ratio
    FROM pt
    """


@query("l_eval_report", oracle=_EVAL_REPORT_ORACLE)
def l_eval_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END EVAL REPORT — the single artifact a generation-eval
    pipeline ships: per candidate/reference pair (the chrF/BLEU doc
    pairing convention, pair = doc_id DIV 2, side = doc_id % 2) it
    computes character-level chrF2, token unigram F1, and length
    ratio, then rolls the corpus up to ONE row with each metric's mean
    and a 95% Poisson-bootstrap CI on the headline metric (chrF2) —
    composing the chrF + bootstrap machinery above into the report
    those queries exist to serve (r12 verdict item 7's second named
    surface). A real eval run reads this row, not three query outputs.

    Determinism: every per-pair metric quantizes to a 1e6 fixed-point
    BIGINT via one guarded exact-BIGINT-ratio division + ROUND (rule
    11e — corpus sums are then exact integer sums in both engines);
    bootstrap weights are the embedded 16-bit md5 hex-cutoff Poisson
    draw keyed (pair_id, replicate); the CI is the symmetric
    order-statistic pick under the total order (mean, b). Pairs whose
    stripped text is shorter than 6 chars have no chrF grams — the
    token side LEFT-JOINs the gram side and COALESCEs ov to 0 in both
    engines.

    Scale: two gram fan-outs over the same column-pruned scan (char
    6-grams and token unigrams — both codegen Generate-over-index /
    posexplode forms), each partial-aggregated into (pair, gram)-keyed
    shuffles linear in character/token count; the per-pair metric
    table is |pairs|-keyed and the bootstrap fan-out explodes B=200
    codegen-projected draws per PAIR (not per token). The pair join is
    pair-keyed (corpus-growing, plain — rule 14a). Nothing pairwise in
    the corpus, state bounded by |pairs| x B."""
    # scatter: the char-gram fan-out is map-HEAVY with near-unique
    # (pair, gram) keys (no map-side compression), exactly the pin-15b
    # adoption class — omitting it measured 21.6 s at x100 on the
    # single-split fixture (no-op at corpus scale).
    docs = scatter(spark, table(spark, sf_dir, "documents"))
    pp = _report_pair_metrics(docs).localCheckpoint()
    # rule 11a: pp feeds the point means AND the B-fold bootstrap
    # fan-out (two real consumers)
    return _report_rollup(pp)


def _report_pair_metrics(docs: DataFrame) -> DataFrame:
    """Per-pair metric table (pair_id, chrf_fp, f1_fp, lr_fp) of the
    (doc_id, text) rows ``docs``. Shared by the batch report and its
    streaming twin — identical metric lineage in both, so the stream's
    accumulated state rolls up to the hash-identical report row."""
    base = _pairs(
        docs, F.col("text"), F.expr("replace(text, ' ', '')").alias("s")
    )
    a = _clipped(_char6(base), "tc", "tr", "ov")
    tw = base.select(
        "pair_id", "side", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    ta = _clipped(tw, "tc_t", "tr_t", "ov_t", gram="w")
    chrf_raw = F.when(F.coalesce(F.col("ov"), F.lit(0)) == 0, F.lit(0.0)).otherwise(
        (5 * F.col("ov") * F.col("ov")).cast("double")
        / (4 * F.col("ov") * F.col("tr") + F.col("ov") * F.col("tc")).cast(
            "double"
        )
    )
    f1_raw = F.when(F.col("ov_t") == 0, F.lit(0.0)).otherwise(
        (2 * F.col("ov_t")).cast("double")
        / (F.col("tc_t") + F.col("tr_t")).cast("double")
    )
    lr_raw = F.col("tr_t").cast("double") / F.col("tc_t").cast("double")
    return ta.join(a, "pair_id", "left").select(
        "pair_id",
        F.round(chrf_raw * 1e6, 0).cast("bigint").alias("chrf_fp"),
        F.round(f1_raw * 1e6, 0).cast("bigint").alias("f1_fp"),
        F.round(lr_raw * 1e6, 0).cast("bigint").alias("lr_fp"),
    )


def _report_rollup(pp: DataFrame) -> DataFrame:
    """Corpus rollup of a per-pair metric table: means + the
    (pair_id, b)-keyed Poisson-bootstrap CI on chrF2. Deterministic
    regardless of how pp was produced (one batch job or accumulated
    micro-batches) — the weights key on (pair_id, replicate) only."""
    ci = _boot_ci(_boot_ranked(pp, "pair_id", "chrf_fp", "swc", "mb", 1e6), "mb")
    pt = pp.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("chrf_fp").alias("sc"),
        F.sum("f1_fp").alias("sf"),
        F.sum("lr_fp").alias("sl"),
    )
    return pt.crossJoin(F.broadcast(ci)).select(
        "n_pairs",
        F.lit(_BOOT_B).cast("bigint").alias("n_replicates"),
        dround(
            F.col("sc").cast("double") / 1e6 / F.col("n_pairs").cast("double"),
            6,
        ).alias("mean_chrf2"),
        dround(F.col("lo"), 6).alias("chrf2_ci_lo"),
        dround(F.col("hi"), 6).alias("chrf2_ci_hi"),
        dround(
            F.col("sf").cast("double") / 1e6 / F.col("n_pairs").cast("double"),
            6,
        ).alias("mean_tok_f1"),
        dround(
            F.col("sl").cast("double") / 1e6 / F.col("n_pairs").cast("double"),
            6,
        ).alias("mean_len_ratio"),
    )


@query("l_eval_report_stream", oracle=_EVAL_REPORT_ORACLE)
def l_eval_report_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL EVAL REPORT — l_eval_report's semantics as a real
    Structured Streaming job: candidate/reference pairs arrive in
    micro-batches (the nightly-eval drip of a serving pipeline), each
    batch computes its pairs' fixed-point metrics (chrF2, token-F1,
    length ratio — the EXACT lineage of the batch op, shared via
    _report_pair_metrics) inside foreachBatch and APPENDS them to
    the accumulated per-pair metric store; the report row (means +
    Poisson-bootstrap CI) rolls up from the accumulated state. This is
    how an eval dashboard actually ingests: per-pair point metrics
    stream in, the uncertainty band is recomputed on read.

    Streaming shape: the metric pipeline is three stacked aggregations
    (grams -> pair -> corpus), which Structured Streaming cannot chain
    in one continuous query — foreachBatch is THE supported pattern
    for multi-agg micro-batch work (the l_dedup_stream /
    j_foreach_batch_upsert convention). Waves split on PAIR id, never
    doc id, so a pair's two sides always share a batch and each pair's
    metric row is computed exactly once, in one batch — no cross-batch
    pair state needed. Each batch writes ONLY its own pairs into a
    fresh ``batch<N>/`` subdirectory (append-only, idempotent under
    foreachBatch retries — the l_dedup_stream I/O discipline; bytes
    per batch ∝ |batch pairs|).

    Determinism: per-pair metrics are 1e6 fixed-point BIGINTs computed
    by the shared helper; the bootstrap weights key on (pair_id,
    replicate) only — independent of arrival batching — so the rollup
    over the accumulated store is hash-identical to the one-shot batch
    report, and the oracle IS l_eval_report's oracle.

    Scale: per-batch cost is the batch op's cost on |batch| pairs
    (gram fan-outs, pair-keyed shuffles); cross-batch state is ONE
    32-byte row per pair ever seen — a lakehouse metric table in
    production. The final rollup reads only that table, never the
    text. Partition pin per the rule-11b state-store lesson.

    sf0.1 record (r14, paired reps): 6.43 s vs the one-shot batch SQL
    at 0.87 — the j_tumbling_1h streaming-engine fixed-cost class,
    with the arithmetic visible: two waves x the 2.5 s batch report +
    staging/checkpoint machinery. The honest comparison for the
    incremental path is per-batch marginal cost, which IS the batch
    op's cost on the batch's pairs."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    # pair-aligned two-wave split (pairs never straddle a batch)
    pmid = (
        d.select(F.expr("CAST(doc_id DIV 2 AS BIGINT)").alias("p"))
        .agg(F.percentile_approx("p", 0.5).alias("m"))
        .collect()[0]["m"]
    )
    first = d.filter(F.expr(f"doc_id DIV 2 <= {pmid}"))
    second = d.filter(F.expr(f"doc_id DIV 2 > {pmid}"))

    out_dir = scratch("eval_report_stream")
    PP_SCHEMA = "pair_id long, chrf_fp long, f1_fp long, lr_fp long"

    def metrics_batch(batch_df, batch_id: int) -> None:
        # r15 (pin 16b, verdict item 5): each wave arrives as ONE
        # staged file, so batch_df is a single-split scan and the gram
        # fan-out — near-unique (pair, gram) keys, the scatter-NEEDS
        # class — serialized on one core while the BATCH op scatters
        # the same pipeline. Paired order-alternated across two
        # windows: 6/7 wins (clean-window pairs 6.60->5.03,
        # 10.30->4.31 s; later window medians 10.81->9.06). No-op at
        # corpus scale (splits >= parallelism).
        metrics = _report_pair_metrics(scatter(spark, batch_df))
        metrics.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch{batch_id}")
        )

    with FiniteStream(spark) as fs:
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(fs.src)
        )
        fs.run(stream, waves=(first, second), foreach_batch=metrics_batch)
    # lazy read-back: the accumulated metric store is |pairs|-sized
    # (corpus-growing), so it is NOT collected to the driver — the
    # rollup reads the parquet store directly (its files live until
    # the next call empties them)
    pp = (
        spark.read.schema(PP_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(out_dir)
    )
    return _report_rollup(pp)


@query(
    "l_langid_confusion",
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
    ), pred AS (
        SELECT doc_id, lang AS pred_lang
        FROM (SELECT doc_id, lang, ROW_NUMBER() OVER (
                  PARTITION BY doc_id ORDER BY si DESC, lang) AS rn
              FROM scores)
        WHERE rn = 1
    ), joined AS (
        SELECT d.lang AS true_lang, p.pred_lang
        FROM documents d JOIN pred p ON p.doc_id = d.doc_id
    ), cls AS (
        SELECT l.lang,
               CAST(COALESCE(tc.n_true, 0) AS BIGINT) AS n_true,
               CAST(COALESCE(pc.n_pred, 0) AS BIGINT) AS n_pred,
               CAST(COALESCE(cc.n_correct, 0) AS BIGINT) AS n_correct
        FROM (SELECT DISTINCT lang FROM documents) l
        LEFT JOIN (SELECT true_lang, COUNT(*) AS n_true FROM joined
                   GROUP BY true_lang) tc ON tc.true_lang = l.lang
        LEFT JOIN (SELECT pred_lang, COUNT(*) AS n_pred FROM joined
                   GROUP BY pred_lang) pc ON pc.pred_lang = l.lang
        LEFT JOIN (SELECT true_lang, COUNT(*) AS n_correct FROM joined
                   WHERE true_lang = pred_lang
                   GROUP BY true_lang) cc ON cc.true_lang = l.lang
    ), f AS (
        SELECT lang, n_true, n_pred, n_correct,
               CASE WHEN n_pred = 0 THEN 0.0
                    ELSE CAST(n_correct AS DOUBLE) / CAST(n_pred AS DOUBLE)
               END AS p_raw,
               CASE WHEN n_true = 0 THEN 0.0
                    ELSE CAST(n_correct AS DOUBLE) / CAST(n_true AS DOUBLE)
               END AS r_raw,
               CASE WHEN n_correct = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST(ROUND(
                        CAST(2 * n_correct AS DOUBLE)
                        / CAST(n_pred + n_true AS DOUBLE) * 1e6) AS BIGINT)
               END AS f1_fp
        FROM cls
    )
    SELECT lang, n_true, n_pred, n_correct,
           ROUND(p_raw * 1e6) / 1e6 + 0 AS precision_,
           ROUND(r_raw * 1e6) / 1e6 + 0 AS recall_,
           CAST(f1_fp AS DOUBLE) / 1e6 + 0 AS f1
    FROM f
    UNION ALL
    SELECT '~macro', CAST(SUM(n_true) AS BIGINT),
           CAST(SUM(n_pred) AS BIGINT), CAST(SUM(n_correct) AS BIGINT),
           ROUND(CAST(SUM(n_correct) AS DOUBLE)
                 / CAST(SUM(n_true) AS DOUBLE) * 1e6) / 1e6 + 0,
           ROUND(CAST(SUM(n_correct) AS DOUBLE)
                 / CAST(SUM(n_true) AS DOUBLE) * 1e6) / 1e6 + 0,
           ROUND(CAST(SUM(f1_fp) AS DOUBLE) / COUNT(*)) / 1e6 + 0
    FROM f
    ORDER BY lang
    """,
)
def l_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASSIFIER EVAL REPORT for the in-engine language-ID: per-class
    precision / recall / F1 of l_text_langid's trigram-profile argmax
    against the labeled lang column, plus a '~macro' summary row
    (micro-P = micro-R = accuracy since every doc gets exactly one
    prediction; macro-F1 = mean of per-class F1) — the multi-class
    eval surface (confusion rollup, not just accuracy) that the binary
    eval family (AUC/ECE/McNemar) doesn't cover. On this synthetic
    same-vocabulary corpus labels carry no signal, so the macro-F1
    hovers at chance — the op's check is determinism and algebra
    (pytest recompute), exactly like l_text_langid itself.

    Determinism: predictions reuse l_text_langid's exact-integer
    scoring (1e-12 fixed-point profile quantization, (si DESC, lang)
    total-order argmax — the oracle inlines that op's oracle CTE chain
    verbatim); per-class F1 quantizes 2·correct/(pred+true) to a 1e6
    fixed-point BIGINT so the macro mean is an exact integer sum /
    |classes| (rule 11e).

    Scale: everything downstream of the langid scoring join is
    domain-bounded (|langs| rows); the scoring pipeline itself is
    l_text_langid's (linear trigram explode, broadcast profiles,
    WindowGroupLimit argmax). The macro row rides a second pass over
    the |langs|-row class table — free."""
    from sqlengine_spark.operators.tier_l_llm import l_text_langid

    pred = l_text_langid(spark, sf_dir).select("doc_id", "pred_lang")
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.col("lang").alias("true_lang")
    )
    # r14 (guide §2.4 + §1.2): tc/pc/cc each consumed `joined` — every
    # one re-executed the ENTIRE langid scoring pipeline (before-plan:
    # 40 Exchanges, 26 parquet scans in one query). The confusion
    # MATRIX groupBy(true, pred) is |langs|²-bounded; checkpoint that
    # one tiny table and all three rollups re-derive from it for free.
    # Counts are identical exact BIGINTs (each doc has exactly one
    # prediction), so the oracle and output hash are unchanged.
    cm = (
        d.join(pred, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    langs = d.select(F.col("true_lang").alias("lang")).distinct()
    # distinct key names per rollup: tc and cc share cm's lineage, so a
    # bare true_lang reference in the 3-way class join is ambiguous
    tc = (
        cm.groupBy(F.col("true_lang").alias("t_lang"))
        .agg(F.sum("n").alias("n_true"))
    )
    pc = (
        cm.groupBy(F.col("pred_lang").alias("p_lang"))
        .agg(F.sum("n").alias("n_pred"))
    )
    cc = (
        cm.filter(F.col("true_lang") == F.col("pred_lang"))
        .groupBy(F.col("true_lang").alias("c_lang"))
        .agg(F.sum("n").alias("n_correct"))
    )
    cls = (
        langs.join(tc, langs.lang == tc.t_lang, "left")
        .join(pc, langs.lang == pc.p_lang, "left")
        .join(cc, langs.lang == cc.c_lang, "left")
        .select(
            "lang",
            F.coalesce(F.col("n_true"), F.lit(0)).alias("n_true"),
            F.coalesce(F.col("n_pred"), F.lit(0)).alias("n_pred"),
            F.coalesce(F.col("n_correct"), F.lit(0)).alias("n_correct"),
        )
    )
    f1_fp = F.when(F.col("n_correct") == 0, F.lit(0).cast("bigint")).otherwise(
        F.round(
            (2 * F.col("n_correct")).cast("double")
            / (F.col("n_pred") + F.col("n_true")).cast("double")
            * 1e6,
            0,
        ).cast("bigint")
    )
    f = cls.select("lang", "n_true", "n_pred", "n_correct", f1_fp.alias("f1_fp"))
    per_class = f.select(
        "lang",
        "n_true",
        "n_pred",
        "n_correct",
        dround(
            F.when(F.col("n_pred") == 0, F.lit(0.0)).otherwise(
                F.col("n_correct").cast("double")
                / F.col("n_pred").cast("double")
            ),
            6,
        ).alias("precision_"),
        dround(
            F.when(F.col("n_true") == 0, F.lit(0.0)).otherwise(
                F.col("n_correct").cast("double")
                / F.col("n_true").cast("double")
            ),
            6,
        ).alias("recall_"),
        (F.col("f1_fp").cast("double") / 1e6 + F.lit(0.0)).alias("f1"),
    )
    macro = f.agg(
        F.sum("n_true").alias("n_true"),
        F.sum("n_pred").alias("n_pred"),
        F.sum("n_correct").alias("n_correct"),
        F.sum("f1_fp").alias("sf1"),
        F.count(F.lit(1)).alias("k"),
    ).select(
        F.lit("~macro").alias("lang"),
        "n_true",
        "n_pred",
        "n_correct",
        dround(
            F.col("n_correct").cast("double") / F.col("n_true").cast("double"),
            6,
        ).alias("precision_"),
        dround(
            F.col("n_correct").cast("double") / F.col("n_true").cast("double"),
            6,
        ).alias("recall_"),
        (
            F.round(F.col("sf1").cast("double") / F.col("k").cast("double"), 0)
            / 1e6
            + F.lit(0.0)
        ).alias("f1"),
    )
    return per_class.unionByName(macro).orderBy("lang")
