"""Tier S (extension, round 8) — statistical analytics, experimentation,
and modern engine surfaces: one-pass correlation matrices, hash-split
A/B testing with sample-ratio-mismatch guards, weighted medians, content
entropy scoring, funnel latency quantiles, inter-judge agreement, plus
three Spark-4 API surfaces (``df.stat.crosstab``, ``df.transpose()``,
``Observation``/``df.observe``) a production pipeline leans on for
contingency analysis, report pivoting, and zero-extra-scan data-quality
counters.

Float policy (CLAUDE.md rules 4/5b/6/9/11e): every cross-row float SUM
is either an exact integer sum (counts, fixed-point BIGINT quantities)
or a per-group quantized fixed-point term summed as BIGINT; all
post-aggregation arithmetic is the IDENTICAL double expression on both
engines, so outputs are bit-equal before dround.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sqlengine_spark.functions import dround
from sqlengine_spark.registry import query
from sqlengine_spark.session import load_tables, scratch, table


@query(
    "d_agg_corr_matrix",
    oracle="""
    WITH m AS MATERIALIZED (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(q) AS BIGINT) AS sq, CAST(SUM(p) AS BIGINT) AS sp,
               CAST(SUM(d) AS BIGINT) AS sd, CAST(SUM(t) AS BIGINT) AS st,
               CAST(SUM(q * q) AS BIGINT) AS sqq,
               CAST(SUM(p * p) AS BIGINT) AS spp,
               CAST(SUM(d * d) AS BIGINT) AS sdd,
               CAST(SUM(t * t) AS BIGINT) AS stt,
               CAST(SUM(q * p) AS BIGINT) AS sqp,
               CAST(SUM(q * d) AS BIGINT) AS sqd,
               CAST(SUM(q * t) AS BIGINT) AS sqt,
               CAST(SUM(p * d) AS BIGINT) AS spd,
               CAST(SUM(p * t) AS BIGINT) AS spt,
               CAST(SUM(d * t) AS BIGINT) AS sdt
        FROM (
            SELECT CAST(trunc(l_quantity) AS BIGINT) AS q,
                   CAST(trunc(l_extendedprice) AS BIGINT) AS p,
                   CAST(trunc(l_discount * 100) AS BIGINT) AS d,
                   CAST(trunc(l_tax * 100) AS BIGINT) AS t
            FROM lineitem
        )
    ), c AS (
        SELECT
            ROUND((CAST(n AS DOUBLE) * CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE))
              / sqrt((CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                   * (CAST(n AS DOUBLE) * CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))) * 1e6, 0) / 1e6 + 0 AS c_qp,
            ROUND((CAST(n AS DOUBLE) * CAST(sqd AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sd AS DOUBLE))
              / sqrt((CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                   * (CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))) * 1e6, 0) / 1e6 + 0 AS c_qd,
            ROUND((CAST(n AS DOUBLE) * CAST(sqt AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(st AS DOUBLE))
              / sqrt((CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                   * (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))) * 1e6, 0) / 1e6 + 0 AS c_qt,
            ROUND((CAST(n AS DOUBLE) * CAST(spd AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sd AS DOUBLE))
              / sqrt((CAST(n AS DOUBLE) * CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))
                   * (CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))) * 1e6, 0) / 1e6 + 0 AS c_pd,
            ROUND((CAST(n AS DOUBLE) * CAST(spt AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(st AS DOUBLE))
              / sqrt((CAST(n AS DOUBLE) * CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))
                   * (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))) * 1e6, 0) / 1e6 + 0 AS c_pt,
            ROUND((CAST(n AS DOUBLE) * CAST(sdt AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(st AS DOUBLE))
              / sqrt((CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))
                   * (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))) * 1e6, 0) / 1e6 + 0 AS c_dt
        FROM m
    )
    SELECT 'qty'   AS x, 'price' AS y, c_qp AS corr FROM c UNION ALL
    SELECT 'qty',         'disc',      c_qd         FROM c UNION ALL
    SELECT 'qty',         'tax',       c_qt         FROM c UNION ALL
    SELECT 'price',       'disc',      c_pd         FROM c UNION ALL
    SELECT 'price',       'tax',       c_pt         FROM c UNION ALL
    SELECT 'disc',        'tax',       c_dt         FROM c
    """,
)
def d_agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation MATRIX over 4 lineitem features in
    ONE distributed pass: accumulate the full moment matrix (n, Σx,
    Σx², Σxy for every pair) as exact BIGINT partial aggregates, then
    derive all 6 correlations from the single 1-row moment frame with
    ``stack`` — the feature-covariance primitive behind data-drift
    monitors and feature-selection passes (``df.stat.corr`` computes
    one pair per scan; this is the p-feature generalization).

    Determinism: features are fixed-point BIGINTs (quantity integral,
    price in truncated dollars, discount/tax in percent points —
    identical trunc on the identical double both engines, rule 6), so
    every moment is an exact integer sum, order-immune (rule 11e).
    The correlation formula is the same double expression on identical
    BIGINT inputs → bit-equal before rounding; corrs straddle zero →
    +0 guards (rule 5b). Oracle CTE is MATERIALIZED (rule 7) so DuckDB
    aggregates once, not once per UNION branch.

    Scale: one lineitem scan, 15 BIGINT aggregates with map-side
    combine, a 1-row shuffle, a 6-row output. p features ship p²/2
    scalars per partition — p=100 is still ~5k numbers. Dollar-grain
    price keeps Σp² < 2^63 through ~sf10 per the l_ml_linreg_normal
    overflow analysis; beyond that, per-partition HUGEINT or Welford
    centering (docstring there).
    """
    load_tables(spark, sf_dir, ("lineitem",))
    return spark.sql(
        """
        WITH m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(q) AS sq, SUM(p) AS sp, SUM(d) AS sd, SUM(t) AS st,
                   SUM(q * q) AS sqq, SUM(p * p) AS spp,
                   SUM(d * d) AS sdd, SUM(t * t) AS stt,
                   SUM(q * p) AS sqp, SUM(q * d) AS sqd, SUM(q * t) AS sqt,
                   SUM(p * d) AS spd, SUM(p * t) AS spt, SUM(d * t) AS sdt
            FROM (
                SELECT CAST(l_quantity AS BIGINT) AS q,
                       CAST(l_extendedprice AS BIGINT) AS p,
                       CAST(l_discount * 100 AS BIGINT) AS d,
                       CAST(l_tax * 100 AS BIGINT) AS t
                FROM lineitem
            )
        ), c AS (
            SELECT
                ROUND((CAST(n AS DOUBLE) * CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE))
                  / sqrt((CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                       * (CAST(n AS DOUBLE) * CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))) * 1e6) / 1e6 + 0.0 AS c_qp,
                ROUND((CAST(n AS DOUBLE) * CAST(sqd AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sd AS DOUBLE))
                  / sqrt((CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                       * (CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))) * 1e6) / 1e6 + 0.0 AS c_qd,
                ROUND((CAST(n AS DOUBLE) * CAST(sqt AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(st AS DOUBLE))
                  / sqrt((CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                       * (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))) * 1e6) / 1e6 + 0.0 AS c_qt,
                ROUND((CAST(n AS DOUBLE) * CAST(spd AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sd AS DOUBLE))
                  / sqrt((CAST(n AS DOUBLE) * CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))
                       * (CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))) * 1e6) / 1e6 + 0.0 AS c_pd,
                ROUND((CAST(n AS DOUBLE) * CAST(spt AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(st AS DOUBLE))
                  / sqrt((CAST(n AS DOUBLE) * CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))
                       * (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))) * 1e6) / 1e6 + 0.0 AS c_pt,
                ROUND((CAST(n AS DOUBLE) * CAST(sdt AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(st AS DOUBLE))
                  / sqrt((CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))
                       * (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))) * 1e6) / 1e6 + 0.0 AS c_dt
            FROM m
        )
        SELECT stack(6,
                     'qty',   'price', c_qp,
                     'qty',   'disc',  c_qd,
                     'qty',   'tax',   c_qt,
                     'price', 'disc',  c_pd,
                     'price', 'tax',   c_pt,
                     'disc',  'tax',   c_dt) AS (x, y, corr)
        FROM c
        """
    )


@query(
    "m_ab_test_ztest",
    oracle="""
    WITH u AS (
        SELECT user_id,
               CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1)
                         IN ('0','1','2','3','4','5','6','7')
                    THEN 'A' ELSE 'B' END AS arm,
               CASE WHEN COUNT(*) FILTER (WHERE event_type = 'purchase') >= 14
                    THEN 1 ELSE 0 END AS converted
        FROM events
        GROUP BY user_id
    ), a AS (
        SELECT CAST(COUNT(*) FILTER (WHERE arm = 'A') AS BIGINT) AS n_a,
               CAST(COUNT(*) FILTER (WHERE arm = 'B') AS BIGINT) AS n_b,
               CAST(SUM(converted) FILTER (WHERE arm = 'A') AS BIGINT) AS conv_a,
               CAST(SUM(converted) FILTER (WHERE arm = 'B') AS BIGINT) AS conv_b
        FROM u
    )
    SELECT n_a, n_b, conv_a, conv_b,
           ROUND(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) * 1e6, 0) / 1e6 AS p_a,
           ROUND(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) * 1e6, 0) / 1e6 AS p_b,
           ROUND((CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                  - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                 / sqrt((CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                        * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                        * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
                 * 1e6, 0) / 1e6 + 0 AS z,
           ROUND(((CAST(n_a AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) / 2.0)
                  * (CAST(n_a AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) / 2.0)
                  / (CAST(n_a + n_b AS DOUBLE) / 2.0)
                  + (CAST(n_b AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) / 2.0)
                  * (CAST(n_b AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) / 2.0)
                  / (CAST(n_a + n_b AS DOUBLE) / 2.0))
                 * 1e6, 0) / 1e6 AS srm_chi2
    FROM a
    """,
)
def m_ab_test_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation readout: deterministic hash-split A/B assignment
    (md5(user_id) first hex nibble → arm, the standard reproducible
    bucketing so every engine and every replay assigns identically),
    per-user conversion (an above-average buyer: ≥14 purchase events —
    this fixture's users ALL purchase at least once, so "any purchase"
    degenerates to pool=1 and a zero z-denominator under ANSI mode),
    two-proportion pooled z-statistic, and the sample-ratio-mismatch
    chi² guard every experiment platform runs before trusting the
    z-test.

    Determinism: arms and conversions are exact integer counts from
    identical md5 nibbles; z and chi² are the same double expression on
    those integers — bit-equal both engines. z straddles zero → +0
    guard (rule 5b); DuckDB SUM(int) is HUGEINT → CAST AS BIGINT
    (rule 10).

    Scale: one events scan → user-keyed partial-agg (map-side combine
    collapses each user's events before the shuffle) → 4 scalar
    aggregates → 1 row. Per-user state is 2 bits; 100 TB of events
    shuffles |users| tiny rows. The md5-nibble split generalizes to
    any traffic fraction by widening the nibble set.
    """
    e = table(spark, sf_dir, "events")
    u = (
        e.groupBy("user_id")
        .agg(
            F.when(
                F.count(F.when(F.col("event_type") == "purchase", 1)) >= 14, 1
            )
            .otherwise(0)
            .alias("converted")
        )
        .select(
            F.when(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 1).isin(
                    "0", "1", "2", "3", "4", "5", "6", "7"
                ),
                "A",
            )
            .otherwise("B")
            .alias("arm"),
            "converted",
        )
    )
    a = u.agg(
        F.count(F.when(F.col("arm") == "A", 1)).alias("n_a"),
        F.count(F.when(F.col("arm") == "B", 1)).alias("n_b"),
        F.sum(F.when(F.col("arm") == "A", F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("conv_a"),
        F.sum(F.when(F.col("arm") == "B", F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("conv_b"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    ca = F.col("conv_a").cast("double")
    cb = F.col("conv_b").cast("double")
    pool = (ca + cb) / (na + nb)
    half = (na + nb) / F.lit(2.0)
    return a.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        dround(ca / na, 6).alias("p_a"),
        dround(cb / nb, 6).alias("p_b"),
        dround(
            (ca / na - cb / nb)
            / F.sqrt(pool * (F.lit(1.0) - pool) * (F.lit(1.0) / na + F.lit(1.0) / nb)),
            6,
        ).alias("z"),
        dround(
            (na - half) * (na - half) / half + (nb - half) * (nb - half) / half,
            6,
        ).alias("srm_chi2"),
    )


@query(
    "d_agg_weighted_median",
    oracle="""
    WITH g AS (
        SELECT l_returnflag, l_extendedprice AS price,
               CAST(SUM(CAST(trunc(l_quantity) AS BIGINT)) AS BIGINT) AS w
        FROM lineitem
        GROUP BY l_returnflag, l_extendedprice
    ), c AS (
        SELECT l_returnflag, price, w,
               CAST(SUM(w) OVER (PARTITION BY l_returnflag ORDER BY price
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum,
               CAST(SUM(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tot
        FROM g
    )
    SELECT l_returnflag,
           MIN(CASE WHEN 2 * cum >= tot THEN price END) AS w_median,
           CAST(MAX(tot) AS BIGINT) AS total_w
    FROM c
    GROUP BY l_returnflag
    """,
)
def d_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median per group: the smallest ``l_extendedprice`` whose
    cumulative ``l_quantity`` weight reaches half the group total — the
    robust center estimate quality pipelines prefer over the mean when
    weights (token counts, durations, quantities) skew. No native
    weighted-median exists in either engine; this states it as the
    canonical collapse→cumulate→threshold window construction.

    Determinism: weights are exact BIGINTs, so the cumulative and total
    window sums are order-immune integers (rule 9 does not bite — no
    float window sums anywhere); the ``2*cum >= tot`` threshold is
    integer arithmetic; the median itself is an INPUT value, never a
    derived float. DuckDB windowed SUM(BIGINT) is HUGEINT → CAST
    (rule 10).

    Scale: ties collapse in a (flag, price)-keyed partial agg BEFORE
    the window, so the per-flag sort sees |distinct prices| rows, not
    |lineitem|; the window partitions by flag (no unpartitioned
    window). At 100 TB with near-unique weights, the same shape runs as
    a per-group sort — or swap the spine for the m_ts-style binned
    two-pass if even distinct values explode.
    """
    li = table(spark, sf_dir, "lineitem")
    g = (
        li.groupBy("l_returnflag", F.col("l_extendedprice").alias("price"))
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("w"))
    )
    w_cum = (
        W.partitionBy("l_returnflag")
        .orderBy("price")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_tot = W.partitionBy("l_returnflag")
    c = g.select(
        "l_returnflag",
        "price",
        F.sum("w").over(w_cum).alias("cum"),
        F.sum("w").over(w_tot).alias("tot"),
    )
    return c.groupBy("l_returnflag").agg(
        F.min(F.when(F.lit(2) * F.col("cum") >= F.col("tot"), F.col("price"))).alias(
            "w_median"
        ),
        F.max("tot").alias("total_w"),
    )


@query(
    "l_text_entropy",
    oracle="""
    WITH lt AS (
        SELECT doc_id, lower(text) AS lt FROM documents
        WHERE length(text) >= 1
    ), ch AS (
        -- index the SAME string both engines walk: generate_series over
        -- length(lt), not length(text) (r8 advice — Unicode lowercase
        -- can change string length)
        SELECT doc_id, substring(lt, i.i, 1) AS c
        FROM lt,
             LATERAL (SELECT unnest(generate_series(1, length(lt))) AS i) i
    ), cls AS (
        SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM ch GROUP BY doc_id, c
    ), agg AS (
        SELECT doc_id,
               CAST(SUM(cnt) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS n_classes,
               CAST(SUM(CAST(trunc(CAST(cnt AS DOUBLE) * ln(CAST(cnt AS DOUBLE)) * 1e9)
                             AS BIGINT)) AS BIGINT) AS s_q
        FROM cls GROUP BY doc_id
    )
    SELECT doc_id, n AS n_chars, n_classes,
           ROUND((ln(CAST(n AS DOUBLE))
                  - (CAST(s_q AS DOUBLE) / 1e9) / CAST(n AS DOUBLE)) * 1e6, 0)
               / 1e6 + 0 AS entropy_nats
    FROM agg
    """,
)
def l_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document (nats) — the cheap
    gibberish/boilerplate detector LLM-data pipelines run alongside
    length/punctuation filters: natural text sits ~2.7-3.2 nats, base64
    blobs and key-mash higher, repeated-char padding near zero.
    H = ln(n) − (Σ c·ln c)/n over per-character class counts.

    Determinism: the per-class term c·ln(c)·1e9 is truncated to BIGINT
    per (doc, char) BEFORE the per-doc sum (rule 11e — the ≤~60-term
    float sum would be association-sensitive; the integer sum is
    immune; identical trunc-vs-CAST semantics pinned per rule 6), and
    ln of identical doubles is identical libm both engines (the
    l_dsir_weight / tf-idf precedent).

    Scale: explode to one row per character, partial-agg to (doc, char)
    classes map-side, shuffle only |docs|·|alphabet| rows, then a
    doc-keyed agg. Linear in corpus bytes, embarrassingly parallel —
    the same shape as l_text_fingerprint's shingle explode.

    Plan note (round-10 x100 hunt): chars come from ONE split('')
    array per doc, NOT explode(sequence)+substring(lt, i, 1) — the
    substring form re-walks the UTF-8 bytes O(i) per generated row
    (quadratic per document) and drags the full string through the
    Generate (rule 12a); paired at x100 the split form is 16.9 ->
    3.6 s with identical checksums (the rule-13b trade measured in
    the opposite direction: here the per-row arithmetic IS the
    quadratic term and the short-lived array wins).
    """
    d = table(spark, sf_dir, "documents").filter(F.length("text") >= 1)
    ch = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "")).alias("c"),
    )
    cls = ch.groupBy("doc_id", "c").agg(F.count("*").alias("cnt"))
    term = (
        F.col("cnt").cast("double")
        * F.log(F.col("cnt").cast("double"))
        * F.lit(1e9)
    ).cast("bigint")
    agg = cls.groupBy("doc_id").agg(
        F.sum("cnt").alias("n"),
        F.count("*").alias("n_classes"),
        F.sum(term).alias("s_q"),
    )
    return agg.select(
        "doc_id",
        F.col("n").alias("n_chars"),
        "n_classes",
        dround(
            F.log(F.col("n").cast("double"))
            - (F.col("s_q").cast("double") / F.lit(1e9)) / F.col("n").cast("double"),
            6,
        ).alias("entropy_nats"),
    )


@query(
    "d_stat_crosstab",
    oracle="""
    SELECT l_returnflag AS l_returnflag_l_linestatus,
           CAST(COUNT(*) FILTER (WHERE l_linestatus = 'F') AS BIGINT) AS "F",
           CAST(COUNT(*) FILTER (WHERE l_linestatus = 'O') AS BIGINT) AS "O"
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def d_stat_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``df.stat.crosstab`` — the contingency-table API surface: one
    row per ``l_returnflag``, one count column per ``l_linestatus``
    value, zero-filled for absent combinations. The oracle states the
    same table via FILTERed counts (the portable spelling; crosstab's
    column-per-value output is exactly a pivot on counts).

    Determinism: pure integer counts; crosstab's first column is named
    ``<col1>_<col2>`` by the API contract and the value-derived columns
    ('F', 'O') come from a 2-value domain fixed by the fixture.

    Scale: Spark implements crosstab as groupBy(col1, col2).count()
    + a driver-side pivot over the DISTINCT VALUE GRID — safe only
    while |v1|·|v2| is small (here 3×2); for wide domains use the
    d_pivot explicit-values form instead (that caveat is the reason
    both surfaces exist).
    """
    li = table(spark, sf_dir, "lineitem")
    return li.stat.crosstab("l_returnflag", "l_linestatus")


@query(
    "d_transpose",
    oracle="""
    WITH g AS MATERIALIZED (
        SELECT l_returnflag AS f,
               CAST(CAST(SUM(CAST(trunc(l_quantity) AS BIGINT)) AS BIGINT)
                    AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(trunc(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) / 100.0 AS sum_price,
               CAST(CAST(COUNT(*) AS BIGINT) AS DOUBLE) AS n_rows
        FROM lineitem
        GROUP BY l_returnflag
    )
    SELECT 'sum_qty' AS key,
           MAX(CASE WHEN f = 'A' THEN sum_qty END) AS "A",
           MAX(CASE WHEN f = 'N' THEN sum_qty END) AS "N",
           MAX(CASE WHEN f = 'R' THEN sum_qty END) AS "R"
    FROM g
    UNION ALL
    SELECT 'sum_price',
           MAX(CASE WHEN f = 'A' THEN sum_price END),
           MAX(CASE WHEN f = 'N' THEN sum_price END),
           MAX(CASE WHEN f = 'R' THEN sum_price END)
    FROM g
    UNION ALL
    SELECT 'n_rows',
           MAX(CASE WHEN f = 'A' THEN n_rows END),
           MAX(CASE WHEN f = 'N' THEN n_rows END),
           MAX(CASE WHEN f = 'R' THEN n_rows END)
    FROM g
    """,
)
def d_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``df.transpose()`` (Spark 4.0) — flip a per-group metrics frame
    so metrics become rows and groups become columns: the
    report-orientation pivot analysts apply to small aggregate outputs.
    First column's values ('A','N','R') become the new column names per
    the API contract; all metric cells must share one type (double).

    Determinism: every metric is exact — integer-valued quantity sum,
    fixed-point cents sum divided by 100.0 (the identical double both
    engines), row count — so no float-sum hash risk (rule 9). The
    oracle restates the transpose as conditional aggregation over a
    MATERIALIZED CTE (rule 7).

    Scale: transpose COLLECTS the frame to the driver and re-emits it
    as a local relation — by contract it is a small-result operator
    (here 3×4 after full map-side aggregation). The heavy lifting
    (the groupBy over lineitem) is distributed; never transpose an
    unaggregated table.
    """
    li = table(spark, sf_dir, "lineitem")
    g = (
        li.groupBy("l_returnflag")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint"))
            .cast("double")
            .alias("sum_qty"),
            (
                F.sum((F.col("l_extendedprice") * 100).cast("bigint")) / F.lit(100.0)
            ).alias("sum_price"),
            F.count("*").cast("double").alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )
    return g.transpose()


@query(
    "a_observe_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(trunc(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(SUM(CAST(trunc(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_price_cents
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    """,
)
def a_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``df.observe`` + ``Observation`` — piggyback data-quality
    counters on a pipeline action with ZERO extra scans: the metrics
    (row count, quantity and cents totals) accumulate on executors
    while the action runs and surface on the driver afterwards. This is
    how a 100 TB ingest job records reconciliation totals without
    re-reading anything; re-stated here as a 1-row DataFrame so the
    driver contract can hash it.

    Determinism: all three metrics are exact integer aggregates
    (fixed-point cents per rule 11e; CAST-vs-trunc pinned per rule 6).
    The bounded ``spark.createDataFrame`` of the 3-scalar observation
    dict is the API's contract, not a driver-side data path.

    Scale: observed metrics are AccumulatorV2s merged task-side —
    constant memory per executor, no shuffle, no second job. The
    consuming action here is a count() over the filtered scan (filter
    pushed to parquet).
    """
    from pyspark.sql import Observation

    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    obs = Observation("ingest_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        F.sum((F.col("l_extendedprice") * 100).cast("bigint")).alias(
            "sum_price_cents"
        ),
    )
    observed.count()  # the pipeline action the metrics ride on
    m = obs.get  # bounded by construction: exactly 3 scalars
    return spark.createDataFrame(
        [(m["n_rows"], m["sum_qty"], m["sum_price_cents"])],
        "n_rows bigint, sum_qty bigint, sum_price_cents bigint",
    )


@query(
    "m_time_to_convert",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(ts) AS vts
        FROM events WHERE event_type = 'view'
        GROUP BY user_id
    ), c AS (
        SELECT v.user_id,
               (epoch_us(MIN(e.ts)) - epoch_us(MIN(v.vts))) / 1e6 AS lat_s
        FROM v JOIN events e
          ON e.user_id = v.user_id
         AND e.event_type = 'purchase'
         AND e.ts >= v.vts
        GROUP BY v.user_id
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_viewers,
           CAST(COUNT(*) AS BIGINT) AS n_converted,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / CAST((SELECT COUNT(*) FROM v) AS DOUBLE) * 1e6, 0) / 1e6
               AS conv_rate,
           ROUND(quantile_cont(lat_s, 0.5) * 1e3, 0) / 1e3 AS median_s,
           ROUND(quantile_cont(lat_s, 0.9) * 1e3, 0) / 1e3 AS p90_s
    FROM c
    """,
)
def m_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel latency: per user, the time from FIRST 'view' to the
    first 'purchase' at-or-after it; reported as conversion rate plus
    exact median and p90 latency — the time-to-value readout product
    analytics pairs with m_funnel_stages' stage counts.

    Determinism: latencies are exact microsecond BIGINT differences
    (Spark unix_micros ≡ DuckDB epoch_us) divided by 1e6 — identical
    doubles; exact interpolated percentiles (Spark ``percentile`` ≡
    DuckDB ``quantile_cont``, the d_agg_percentile_exact pin) over
    identical inputs interpolate identically.

    Scale: first-view is a user-keyed partial agg; the purchase match
    is a user-keyed equi-join with the time predicate as a residual
    filter (hash join, never a range cross product); the percentile
    runs over |converted users| rows. All shuffles are user-keyed and
    collapse map-side first.
    """
    e = table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("vts"))
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts")
    )
    lat = (
        v.join(p, (v.user_id == p.user_id) & (p.pts >= v.vts))
        .groupBy(v.user_id)
        .agg(
            (
                (F.unix_micros(F.min("pts")) - F.unix_micros(F.min("vts")))
                / F.lit(1e6)
            ).alias("lat_s")
        )
    )
    n_viewers = v.count()  # bounded: one scalar for the readout row
    return lat.agg(
        F.lit(n_viewers).cast("bigint").alias("n_viewers"),
        F.count("*").alias("n_converted"),
        dround(F.count("*").cast("double") / F.lit(float(n_viewers)), 6).alias(
            "conv_rate"
        ),
        dround(F.percentile("lat_s", F.lit(0.5)), 3).alias("median_s"),
        dround(F.percentile("lat_s", F.lit(0.9)), 3).alias("p90_s"),
    )


@query(
    "l_judge_kappa",
    oracle="""
    WITH j AS (
        SELECT CASE WHEN substring(md5(text), 1, 1)
                         IN ('0','1','2','3','4','5','6','7')
                    THEN 1 ELSE 0 END AS ja,
               CASE WHEN substring(md5(text || '|judge-b'), 1, 1)
                         IN ('0','1','2','3','4','5','6','7')
                    THEN 1 ELSE 0 END AS jb
        FROM documents
    ), a AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN ja = jb THEN 1 ELSE 0 END) AS BIGINT) AS agree,
               CAST(SUM(ja) AS BIGINT) AS a1,
               CAST(SUM(jb) AS BIGINT) AS b1
        FROM j
    )
    SELECT n,
           ROUND(CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) * 1e6, 0) / 1e6 AS po,
           ROUND((CAST(a1 AS DOUBLE) / CAST(n AS DOUBLE)
                  * CAST(b1 AS DOUBLE) / CAST(n AS DOUBLE)
                  + CAST(n - a1 AS DOUBLE) / CAST(n AS DOUBLE)
                  * CAST(n - b1 AS DOUBLE) / CAST(n AS DOUBLE)) * 1e6, 0) / 1e6
               AS pe,
           ROUND((CAST(agree AS DOUBLE) / CAST(n AS DOUBLE)
                  - (CAST(a1 AS DOUBLE) / CAST(n AS DOUBLE)
                     * CAST(b1 AS DOUBLE) / CAST(n AS DOUBLE)
                     + CAST(n - a1 AS DOUBLE) / CAST(n AS DOUBLE)
                     * CAST(n - b1 AS DOUBLE) / CAST(n AS DOUBLE)))
                 / (1.0 - (CAST(a1 AS DOUBLE) / CAST(n AS DOUBLE)
                           * CAST(b1 AS DOUBLE) / CAST(n AS DOUBLE)
                           + CAST(n - a1 AS DOUBLE) / CAST(n AS DOUBLE)
                           * CAST(n - b1 AS DOUBLE) / CAST(n AS DOUBLE)))
                 * 1e6, 0) / 1e6 + 0 AS kappa
    FROM a
    """,
)
def l_judge_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-judge agreement (Cohen's kappa) between two binary
    document labelers — the calibration metric LLM-as-judge pipelines
    compute before trusting model-generated quality labels. Judges here
    are deterministic content-hash stand-ins (md5 nibble of the text /
    salted text — the same honest-stub pattern as the multimodal
    decode tier: the Spark-side metric plumbing is real, the model
    call is replaced by a reproducible function of content).

    Determinism: agreement and marginals are exact integer counts;
    po, pe, kappa are the same double expression both engines. Kappa
    straddles zero for independent judges → +0 guard (rule 5b).

    Scale: one scan, 4 integer aggregates, 1 row — map-side combine
    does everything; label columns in a real deployment arrive
    precomputed and the agg is identical.
    """
    d = table(spark, sf_dir, "documents")
    nib = lambda c: F.when(  # noqa: E731 — local 2-use shorthand
        F.substring(F.md5(c), 1, 1).isin("0", "1", "2", "3", "4", "5", "6", "7"),
        1,
    ).otherwise(0)
    j = d.select(
        nib(F.col("text")).alias("ja"),
        nib(F.concat(F.col("text"), F.lit("|judge-b"))).alias("jb"),
    )
    a = j.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("ja") == F.col("jb"), 1).otherwise(0))
        .cast("bigint")
        .alias("agree"),
        F.sum("ja").cast("bigint").alias("a1"),
        F.sum("jb").cast("bigint").alias("b1"),
    )
    n = F.col("n").cast("double")
    po = F.col("agree").cast("double") / n
    pa = F.col("a1").cast("double") / n
    pb = F.col("b1").cast("double") / n
    pe = pa * pb + (F.lit(1.0) - pa) * (F.lit(1.0) - pb)
    return a.select(
        "n",
        dround(po, 6).alias("po"),
        dround(pe, 6).alias("pe"),
        dround((po - pe) / (F.lit(1.0) - pe), 6).alias("kappa"),
    )


@query(
    "l_dp_noisy_counts",
    oracle="""
    WITH g AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM documents
        GROUP BY source
    ), u AS (
        SELECT source, n,
               (CAST(('0x' || substring(md5('dp-eps1|' || source), 1, 8))
                     AS BIGINT) + 0.5) / 4294967296.0 - 0.5 AS c
        FROM g
    )
    SELECT source,
           ROUND((CAST(n AS DOUBLE)
                  - 1.0 * sign(c) * ln(1.0 - 2.0 * abs(c))) * 1e4, 0) / 1e4
               AS noisy_count
    FROM u
    """,
)
def l_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release (ε=1 Laplace mechanism):
    per-source document counts plus Laplace(Δf/ε)=Laplace(1) noise —
    the standard mechanism for publishing training-corpus composition
    stats without revealing individual membership. The noise draw is
    inverse-CDF sampling, X = −b·sign(U)·ln(1−2|U|), over a SEEDED
    uniform derived from md5('dp-eps1|'||source) — deterministic and
    reproducible in both engines (a production release rotates the
    seed per publication; the mechanism and scale are identical).

    Determinism: the md5-nibble-derived uniform is exact ((h+0.5)/2^32
    keeps U strictly inside (0,1), so ln's argument never hits 0);
    sign/abs/ln on identical doubles are identical (rule 4 precedent);
    counts are exact BIGINTs. Only the final value rounds.

    Scale: one source-keyed partial-agg count (map-side combine), then
    per-group scalar math — the noise costs nothing at any scale, and
    sensitivity Δf=1 is exact because each document contributes to
    exactly one group.
    """
    d = table(spark, sf_dir, "documents")
    g = d.groupBy("source").agg(F.count("*").alias("n"))
    c = (
        (
            F.conv(F.substring(F.md5(F.concat(F.lit("dp-eps1|"), F.col("source"))), 1, 8), 16, 10)
            .cast("bigint")
            .cast("double")
            + F.lit(0.5)
        )
        / F.lit(4294967296.0)
        - F.lit(0.5)
    )
    return g.select(
        "source",
        dround(
            F.col("n").cast("double")
            - F.lit(1.0) * F.signum(c) * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(c)),
            4,
        ).alias("noisy_count"),
    )


@query(
    "l_subsample_ci",
    oracle="""
    WITH reps AS (
        SELECT r.r, d.doc_id, d.n_chars
        FROM documents d, (SELECT unnest(generate_series(0, 15)) AS r) r
        WHERE substring(md5(CAST(d.doc_id AS VARCHAR) || '|'
                            || CAST(r.r AS VARCHAR)), 1, 1)
              IN ('0','1','2','3','4','5','6','7')
    ), rm AS (
        SELECT r,
               CAST(trunc(CAST(SUM(n_chars) AS DOUBLE)
                          / CAST(COUNT(*) AS DOUBLE) * 1e6) AS BIGINT) AS qm
        FROM reps GROUP BY r
    ), s AS (
        SELECT CAST(SUM(qm) AS BIGINT) AS sq,
               CAST(COUNT(*) AS BIGINT) AS nr,
               CAST(MIN(qm) AS BIGINT) AS qmin,
               CAST(MAX(qm) AS BIGINT) AS qmax
        FROM rm
    ), dev AS (
        SELECT CAST(SUM((rm.qm * s.nr - s.sq) * (rm.qm * s.nr - s.sq))
                    AS BIGINT) AS dd,
               MAX(s.nr) AS nr, MAX(s.sq) AS sq,
               MAX(s.qmin) AS qmin, MAX(s.qmax) AS qmax
        FROM rm, s
    )
    SELECT (SELECT ROUND(CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                         * 1e6, 0) / 1e6
            FROM documents) AS est,
           ROUND(sqrt(CAST(dd AS DOUBLE)
                      / (CAST(nr AS DOUBLE) * CAST(nr AS DOUBLE))
                      / CAST(nr - 1 AS DOUBLE)) / 1e6 * 1e6, 0) / 1e6
               AS rep_sd,
           ROUND(CAST(qmin AS DOUBLE) / 1e6 * 1e6, 0) / 1e6 AS rep_min,
           ROUND(CAST(qmax AS DOUBLE) / 1e6 * 1e6, 0) / 1e6 AS rep_max
    FROM dev
    """,
)
def l_subsample_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncertainty for a corpus statistic WITHOUT distributional
    assumptions: a 16-replica half-sampling ensemble (each doc joins
    replica r iff md5(doc_id|r) nibble < 8 — the deterministic,
    engine-reproducible stand-in for bootstrap resampling), reporting
    the full-corpus mean of n_chars plus the spread (sd, min, max) of
    the replica means — how a 100 TB pipeline attaches error bars to
    any quality metric it monitors.

    Determinism: each replica mean is ONE double division of two exact
    integers, then quantized to fixed-point BIGINT (rule 11e), so the
    cross-replica sum/min/max/deviation arithmetic is pure-integer and
    order-immune; the deviation sum uses the algebraic identity
    Σ(qm·R − Σqm)² = R²·Σ(qm − mean)² to stay integral (magnitudes
    bounded: |qm| ≤ 1e9 at this corpus, diffs ≤ 1e8, squares ≤ 1e16·16
    < 2^63). sqrt of identical doubles is identical.

    Scale: the replica explode is ×16 on (doc_id, n_chars) pairs only
    — two narrow columns, map-side partial aggs, a 16-row shuffle.
    The statistic generalizes to any per-doc metric.
    """
    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    reps = (
        d.select(
            "doc_id",
            "n_chars",
            F.explode(F.sequence(F.lit(0), F.lit(15))).alias("r"),
        )
        .filter(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"),
                        F.lit("|"),
                        F.col("r").cast("string"),
                    )
                ),
                1,
                1,
            ).isin("0", "1", "2", "3", "4", "5", "6", "7")
        )
    )
    rm = reps.groupBy("r").agg(
        (
            F.sum("n_chars").cast("double")
            / F.count("*").cast("double")
            * F.lit(1e6)
        )
        .cast("bigint")
        .alias("qm")
    )
    s = rm.agg(
        F.sum("qm").alias("sq"),
        F.count("*").alias("nr"),
        F.min("qm").alias("qmin"),
        F.max("qm").alias("qmax"),
    )
    dev = (
        rm.crossJoin(F.broadcast(s))
        .select(
            ((F.col("qm") * F.col("nr") - F.col("sq"))
             * (F.col("qm") * F.col("nr") - F.col("sq"))).alias("d2"),
            "nr",
            "sq",
            "qmin",
            "qmax",
        )
        .groupBy()
        .agg(
            F.sum("d2").alias("dd"),
            F.max("nr").alias("nr"),
            F.max("sq").alias("sq"),
            F.max("qmin").alias("qmin"),
            F.max("qmax").alias("qmax"),
        )
    )
    est = d.agg(
        dround(
            F.sum("n_chars").cast("double") / F.count("*").cast("double"), 6
        ).alias("est")
    )
    return est.crossJoin(
        dev.select(
            dround(
                F.sqrt(
                    F.col("dd").cast("double")
                    / (F.col("nr").cast("double") * F.col("nr").cast("double"))
                    / (F.col("nr") - 1).cast("double")
                )
                / F.lit(1e6),
                6,
            ).alias("rep_sd"),
            dround(F.col("qmin").cast("double") / F.lit(1e6), 6).alias("rep_min"),
            dround(F.col("qmax").cast("double") / F.lit(1e6), 6).alias("rep_max"),
        )
    )


@query(
    "h_str_advanced",
    oracle="""
    SELECT p_partkey,
           translate(p_name, 'aeiou', '01234') AS t_name,
           repeat(left(p_name, 3), 2) AS rep3,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
           rpad(right(p_name, 4), 8, '.') AS tail_pad,
           reverse(p_brand) AS rev_brand,
           split_part(p_type, ' ', 2) AS type_mid,
           printf('%05d:%s', p_size, p_brand) AS fmt,
           ascii(p_name) AS first_code,
           chr(65 + (p_size % 26)) AS size_chr
    FROM part
    """,
)
def h_str_advanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Advanced string-function surface: translate / repeat / lpad /
    rpad / reverse / left / right / split_part / format_string /
    ascii / chr — the remaining scalar string toolkit beyond
    h_str_basic's concat/substr/trim/case family. Spark
    ``format_string`` is printf-compatible with DuckDB ``printf`` for
    the pinned %05d/%s directives. (``initcap`` and ``overlay`` are
    Spark-only — DuckDB 1.0 has neither; they are exercised in pytest
    rather than the cross-engine oracle.)

    Scale: pure codegen scan projections — zero shuffle, zero marginal
    cost at any scale.
    """
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.translate("p_name", "aeiou", "01234").alias("t_name"),
        F.repeat(F.expr("left(p_name, 3)"), 2).alias("rep3"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_pad"),
        F.rpad(F.expr("right(p_name, 4)"), 8, ".").alias("tail_pad"),
        F.reverse("p_brand").alias("rev_brand"),
        F.split_part("p_type", F.lit(" "), F.lit(2)).alias("type_mid"),
        F.format_string("%05d:%s", "p_size", "p_brand").alias("fmt"),
        F.ascii("p_name").alias("first_code"),
        F.chr(F.lit(65) + (F.col("p_size") % 26)).alias("size_chr"),
    )


@query(
    "l_pref_pairs",
    oracle="""
    WITH ranked AS (
        SELECT source, doc_id, n_chars,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY n_chars DESC, doc_id DESC) AS rk_top,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY n_chars ASC, doc_id ASC) AS rk_bot
        FROM documents
    )
    SELECT t.source,
           t.doc_id AS chosen_doc, b.doc_id AS rejected_doc,
           t.n_chars AS chosen_score, b.n_chars AS rejected_score,
           CAST(t.n_chars - b.n_chars AS BIGINT) AS margin
    FROM ranked t JOIN ranked b
      ON t.source = b.source AND t.rk_top = 1 AND b.rk_bot = 1
    """,
)
def l_pref_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RLHF preference-pair construction: for every prompt group (here
    ``source``), emit a (chosen, rejected) document pair — the
    highest- vs lowest-scoring response under a total order — plus the
    score margin used for DPO-style filtering of low-signal pairs. The
    score column stands in for a reward-model / LLM-judge output (the
    honest-stub convention; here ``n_chars`` under a (score, doc_id)
    total order so ties are deterministic).

    Scale: one source-keyed shuffle; both extremes come from the same
    partitioned window pass (WindowGroupLimit prunes to the per-group
    top/bottom rows before the join, which is |groups|-sized on both
    sides). Generalizes to per-prompt candidate sets keyed by prompt
    id at any corpus size.
    """
    d = table(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    w_top = W.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").desc()
    )
    w_bot = W.partitionBy("source").orderBy(
        F.col("n_chars").asc(), F.col("doc_id").asc()
    )
    top = (
        d.select("source", "doc_id", "n_chars", F.row_number().over(w_top).alias("rk"))
        .filter(F.col("rk") == 1)
        .select(
            "source",
            F.col("doc_id").alias("chosen_doc"),
            F.col("n_chars").alias("chosen_score"),
        )
    )
    bot = (
        d.select("source", "doc_id", "n_chars", F.row_number().over(w_bot).alias("rk"))
        .filter(F.col("rk") == 1)
        .select(
            "source",
            F.col("doc_id").alias("rejected_doc"),
            F.col("n_chars").alias("rejected_score"),
        )
    )
    return top.join(bot, "source").select(
        "source",
        "chosen_doc",
        "rejected_doc",
        "chosen_score",
        "rejected_score",
        (F.col("chosen_score") - F.col("rejected_score"))
        .cast("bigint")
        .alias("margin"),
    )


@query(
    "l_simhash_hamming_join",
    oracle="""
    WITH tf AS (
        SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
              FROM documents)
        GROUP BY doc_id, tok
    ), bits AS (
        SELECT f.doc_id, b.b,
               CASE WHEN SUM(f.tf * (((CAST(('0x' || substring(md5(f.tok), 1, 8))
                                            AS BIGINT) >> b.b) & 1) * 2 - 1)) > 0
                    THEN 1 ELSE 0 END AS bit
        FROM tf f, (SELECT unnest(generate_series(0, 17)) AS b) b
        GROUP BY f.doc_id, b.b
    ), fp AS (
        SELECT doc_id, CAST(SUM(bit * (1 << b)) AS BIGINT) AS f
        FROM bits GROUP BY doc_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.f, b.f)) AS INT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.f, b.f)) <= 2
    """,
)
def l_simhash_hamming_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pair join with an EXACT hamming
    threshold: 18-bit Charikar fingerprints (bit b = sign of the
    tf-weighted ±1 sum over md5-derived token hash bits), candidate
    pairs from 3 disjoint 6-bit bands, exact ``bit_count(xor)`` ≤ 2
    verification. The pigeonhole makes banding LOSSLESS here: ≤2
    differing bits cannot touch all 3 bands, so some band matches
    exactly — which is why the ORACLE can state the answer as the
    brute-force all-pairs hamming join and the banded plan must
    reproduce it bit-for-bit (the rows-only l_dedup_simhash sibling
    keeps the 64-bit production geometry; this operator pins the
    blocking-completeness THEOREM cross-engine).

    Determinism: fingerprints are signs of exact integer sums (ties
    at 0 → bit 0, pinned identically); all 18 bit-sums come from ONE
    doc-keyed aggregation with pure-bigint buffers (the NB pivot
    lesson — no per-bit fan-out Spark-side; the oracle uses the
    fan-out form as the independent formulation). Spark ``^``/
    ``bit_count`` ≡ DuckDB ``xor``/``bit_count`` on BIGINT.

    Scale: tf explode partial-aggregates map-side; fingerprints are
    |docs| rows of 8 bytes; each band join is an equi-join on a 6-bit
    key (64 buckets — salt by a fingerprint prefix when |docs|/64
    exceeds partition memory); verification is O(candidates). Never
    the oracle's O(N²).
    """
    d = table(spark, sf_dir, "documents")
    tf = (
        d.select(
            "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok")
        )
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    h = F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint")
    bitsums = tf.groupBy("doc_id").agg(
        *[
            F.sum(
                F.col("tf") * (F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1)
            ).alias(f"s{b}")
            for b in range(18)
        ]
    )
    fp = bitsums.select(
        "doc_id",
        sum(
            F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(0)
            for b in range(18)
        )
        .cast("bigint")
        .alias("f"),
    )
    a = fp.select(F.col("doc_id").alias("doc_a"), F.col("f").alias("fa"))
    b_ = fp.select(F.col("doc_id").alias("doc_b"), F.col("f").alias("fb"))

    def band_of(col: str, k: int):
        return F.shiftright(F.col(col), k * 6).bitwiseAND(F.lit(63))

    # FIRST-MATCH banding (r9 x10 stress fix): each band join carries
    # the residual predicate "no EARLIER band agrees" plus the pushed
    # hamming <= 2 filter, so every qualifying pair materializes in
    # exactly one branch — the old unionAll + dropDuplicates shuffled
    # ~3x the (already output-bound) candidate stream through an extra
    # exchange; the residuals evaluate inside the band hash join's
    # probe, so nothing past the join is shuffled at all (measured at
    # x10 docs: 23.3 -> 4.3 s, under DuckDB's 5.6 s brute force —
    # BASELINE.md round-9 note).
    ham = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
    pairs = None
    for band in range(3):
        cond = (F.col("doc_a") < F.col("doc_b")) & (ham <= 2)
        for earlier in range(band):
            cond = cond & (band_of("fa", earlier) != band_of("fb", earlier))
        cand = a.join(
            b_, cond & (band_of("fa", band) == band_of("fb", band))
        )
        pairs = cand if pairs is None else pairs.unionAll(cand)
    return pairs.select(
        "doc_a", "doc_b", ham.cast("int").alias("hamming")
    )


@query(
    "l_ngram_novelty",
    oracle="""
    WITH grams AS (
        SELECT DISTINCT doc_id, unnest(
            list_transform(generate_series(1, len(a) - 2),
                           i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS g
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS a
              FROM documents)
    ), ref AS (
        SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 5
    )
    SELECT d.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           ROUND((1.0 - CAST(COUNT(r.g) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
                 * 1e4, 0) / 1e4 AS novelty
    FROM grams d LEFT JOIN ref r ON r.g = d.g
    GROUP BY d.doc_id
    """,
)
def l_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative n-gram novelty: the fraction of a document's
    distinct word trigrams NOT in the corpus's common-trigram set
    (trigrams spanning ≥5 distinct docs) — low novelty flags
    boilerplate/templated/memorized text, high novelty flags fresh
    content; the profiling complement to l_decontaminate's exact
    benchmark matching.

    Determinism: trigram order comes from token POSITION (posexplode
    ≡ row_number over the unnest, both engines preserve array order);
    counts are exact integers; novelty is one double division.

    Scale: trigram construction is two LEADs in one doc-partitioned
    window over exploded tokens (the m_path_trigrams shape); the
    common-gram set partial-aggregates to |distinct grams| and joins
    back broadcast-or-shuffled on the gram key. Linear in corpus
    tokens.
    """
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col("text")), " ")).alias("pos", "tok"),
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    grams = (
        tok.select(
            "doc_id",
            F.concat_ws(
                " ",
                "tok",
                F.lead("tok", 1).over(w),
                F.lead("tok", 2).over(w),
            ).alias("g"),
            F.lead("tok", 2).over(w).alias("_t2"),
        )
        .filter(F.col("_t2").isNotNull())
        .select("doc_id", "g")
        .distinct()
    )
    ref = (
        grams.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= 5)
        .select("g")
    )
    return (
        grams.join(ref.withColumn("hit", F.lit(1)), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            dround(
                F.lit(1.0)
                - F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("double")
                / F.count("*").cast("double"),
                4,
            ).alias("novelty"),
        )
    )


@query(
    "m_markov_2step",
    oracle="""
    WITH s AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
    ), c AS (
        SELECT event_type AS a, next_type AS b, CAST(COUNT(*) AS BIGINT) AS n
        FROM s WHERE next_type IS NOT NULL
        GROUP BY event_type, next_type
    ), p AS (
        SELECT a, b,
               CAST(n AS DOUBLE)
               / CAST(SUM(n) OVER (PARTITION BY a) AS DOUBLE) AS p
        FROM c
    )
    SELECT p1.a AS from_type, p2.b AS to_type,
           ROUND(CAST(SUM(CAST(trunc(p1.p * p2.p * 1e15) AS BIGINT))
                      AS DOUBLE) / 1e15 * 1e6, 0) / 1e6 AS p2step
    FROM p p1 JOIN p p2 ON p1.b = p2.a
    GROUP BY p1.a, p2.b
    """,
)
def m_markov_2step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step Markov transition probabilities: estimate the 1-step
    event-type transition matrix from per-user ordered event pairs,
    then compose it with itself (P² = P·P, a matrix product written as
    a self-join + sum over the intermediate state) — "where will this
    user be in two events?", the chain algebra behind journey
    simulation and absorbing-state funnel models (extends
    m_event_transitions, which stops at 1-step counts).

    Determinism: 1-step probabilities are single exact-integer
    divisions; each product P(a,b)·P(b,c) is the identical double both
    engines and is truncated to fixed-point BIGINT per INTERMEDIATE
    STATE before the sum over b (rule 11e — a 5-term float sum is
    association-sensitive; the integer sum is immune).

    Scale: pair extraction is one user-keyed window; the transition
    matrix is |event types|² rows (value-domain bounded), so the
    matrix product is a tiny broadcast self-join regardless of event
    volume. Higher powers iterate the same join with bounded state.
    """
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    c = s.groupBy(
        F.col("event_type").alias("a"), F.col("next_type").alias("b")
    ).agg(F.count("*").alias("n"))
    p = c.select(
        "a",
        "b",
        (
            F.col("n").cast("double")
            / F.sum("n").over(W.partitionBy("a")).cast("double")
        ).alias("p"),
    )
    p1 = p.select(F.col("a").alias("from_type"), F.col("b").alias("mid"), F.col("p").alias("pa"))
    p2 = p.select(F.col("a").alias("mid"), F.col("b").alias("to_type"), F.col("p").alias("pb"))
    return (
        p1.join(F.broadcast(p2), "mid")
        .groupBy("from_type", "to_type")
        .agg(
            dround(
                F.sum(
                    (F.col("pa") * F.col("pb") * F.lit(1e15)).cast("bigint")
                ).cast("double")
                / F.lit(1e15),
                6,
            ).alias("p2step")
        )
    )


@query(
    "e_win_time_range",
    oracle="""
    SELECT user_id, event_id,
           CAST(epoch_us(ts) AS BIGINT) AS ts_us,
           CAST(SUM(CAST(trunc(value * 100) AS BIGINT)) OVER w AS BIGINT)
               / 100.0 AS roll_1h_value,
           CAST(COUNT(*) OVER w AS BIGINT) AS roll_1h_events
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
)
def e_win_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-interval RANGE frame: per-user rolling 1-hour totals where
    the frame is defined by the ORDER-BY TIMESTAMP value (``RANGE
    BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW``), not a row
    count — the event-time sliding metric e_win_range_frame's numeric
    range and e_win_sliding_avg's row frame cannot express when event
    spacing is irregular.

    Determinism: the rolling SUM is over CENTS BIGINTs (rule 9/11e —
    DuckDB computes window sums with a segment tree, Spark
    sequentially, so a raw double window sum differs in the last ulp;
    the integer sum is association-immune), divided by 100.0 only at
    output. The raw timestamp projects as unix micros (a BIGINT both
    engines), never as a raw ts column.

    Scale: one user-keyed window shuffle; the frame bound is resolved
    per row by binary search within the sorted partition — cost is
    O(rows log rows) per partition regardless of the interval width.
    Both engines bound peak frame STATE by the 1-hour horizon.
    """
    load_tables(spark, sf_dir, ("events",))
    return spark.sql(
        """
        SELECT user_id, event_id,
               unix_micros(ts) AS ts_us,
               CAST(SUM(CAST(value * 100 AS BIGINT)) OVER w AS DOUBLE)
                   / CAST(100.0 AS DOUBLE) AS roll_1h_value,
               COUNT(*) OVER w AS roll_1h_events
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL '1' HOUR PRECEDING
                           AND CURRENT ROW)
        """
    )


@query(
    "k_apply_in_arrow",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(trunc(l_extendedprice * 100) AS BIGINT) *
                    CAST(trunc(l_quantity) AS BIGINT)) AS BIGINT)
               AS weighted_cents,
           CAST(SUM(CAST(trunc(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
           ROUND(CAST(SUM(CAST(trunc(l_extendedprice * 100) AS BIGINT) *
                          CAST(trunc(l_quantity) AS BIGINT)) AS DOUBLE)
                 / 100.0
                 / CAST(SUM(CAST(trunc(l_quantity) AS BIGINT)) AS DOUBLE)
                 * 1e4, 0) / 1e4 AS wavg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def k_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped ``applyInArrow`` (Spark 4): per-group logic receives the
    WHOLE group as a ``pyarrow.Table`` and returns one — the
    zero-pandas grouped Python extension surface (k_apply_in_pandas'
    sibling without the pandas conversion tax; k_map_in_arrow covers
    the ungrouped variant). The UDF computes a quantity-weighted mean
    price per return flag with pyarrow compute kernels.

    Determinism: all accumulation inside the UDF is INTEGER (cents x
    integral quantity via pyarrow's int64 sum — Arrow kernels never
    see a float until the final division, which is the identical
    double expression the oracle states).

    Scale: groupBy shuffles once; each group streams into the UDF as
    Arrow batches with zero-copy column access. Per-group state must
    fit an executor (3 groups here) — for high-cardinality keys the
    same logic belongs in plain aggregates; this surface exists for
    genuinely per-group-imperative logic (model-per-group fits,
    per-entity solvers).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    def wavg(t: "pa.Table") -> "pa.Table":
        # trunc + unsafe cast = toward-zero truncation, matching Spark
        # CAST(double AS BIGINT) / the oracle's trunc() (rule 6); the
        # default safe cast REFUSES fractional floats.
        cents = pc.cast(
            pc.trunc(pc.multiply(t.column("l_extendedprice"), 100.0)),
            pa.int64(),
            safe=False,
        )
        qty = pc.cast(pc.trunc(t.column("l_quantity")), pa.int64(), safe=False)
        wsum = pc.sum(pc.multiply(cents, qty)).as_py()
        qsum = pc.sum(qty).as_py()
        flag = t.column("l_returnflag")[0].as_py()
        # math.floor(x*1e4 + 0.5) = half-AWAY-from-zero on positive
        # values, matching DuckDB ROUND / the repo's dround convention;
        # Python round() is banker's (half-to-even) and would flip the
        # hash on a .5 boundary at the 4th decimal (r8 advice).
        x = (wsum / 100.0 / qsum) * 1e4
        wavg_price = math.floor(x + 0.5) / 1e4 + 0.0
        return pa.table(
            {
                "l_returnflag": [flag],
                "n_rows": [t.num_rows],
                "weighted_cents": [wsum],
                "sum_qty": [qsum],
                "wavg_price": [wavg_price],
            },
            schema=pa.schema(
                [
                    ("l_returnflag", pa.string()),
                    ("n_rows", pa.int64()),
                    ("weighted_cents", pa.int64()),
                    ("sum_qty", pa.int64()),
                    ("wavg_price", pa.float64()),
                ]
            ),
        )

    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )
    return li.groupBy("l_returnflag").applyInArrow(
        wavg,
        schema=(
            "l_returnflag string, n_rows bigint, weighted_cents bigint, "
            "sum_qty bigint, wavg_price double"
        ),
    )


@query(
    "m_retention_curve",
    oracle="""
    WITH fa AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events
        GROUP BY user_id
    ), act AS (
        SELECT DISTINCT e.user_id,
               date_diff('day', f.d0, CAST(e.ts AS DATE)) AS dn
        FROM events e JOIN fa f ON f.user_id = e.user_id
    ), days AS (SELECT unnest(generate_series(1, 7)) AS n)
    SELECT d.n,
           CAST((SELECT COUNT(*) FROM fa) AS BIGINT) AS cohort_size,
           CAST(COUNT(a.user_id) AS BIGINT) AS retained,
           ROUND(CAST(COUNT(a.user_id) AS DOUBLE)
                 / CAST((SELECT COUNT(*) FROM fa) AS DOUBLE) * 1e6, 0) / 1e6
               AS retention
    FROM days d LEFT JOIN act a ON a.dn = d.n
    GROUP BY d.n
    """,
)
def m_retention_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-N retention curve (N = 1..7): the share of ALL users active
    again exactly N days after their first event — the product-health
    curve that complements m_cohort_retention's week-cohort matrix
    (single curve over the whole user base, day granularity).

    Determinism: day offsets are exact integer DATE arithmetic (Spark
    datediff ≡ DuckDB date_diff('day')); counts exact; one double
    division per output row.

    Scale: first-day is a user-keyed partial agg; activity distinct
    collapses (user, day-offset) map-side; the 7-row day spine joins
    broadcast. Linear in events, |users| intermediate.
    """
    e = table(spark, sf_dir, "events")
    fa = e.groupBy("user_id").agg(F.min(F.col("ts").cast("date")).alias("d0"))
    act = (
        e.join(fa, "user_id")
        .select(
            "user_id",
            F.datediff(F.col("ts").cast("date"), F.col("d0")).alias("dn"),
        )
        .distinct()
    )
    days = spark.range(1, 8).select(F.col("id").cast("int").alias("n"))
    cohort = fa.agg(F.count("*").alias("cohort_size"))
    return (
        days.join(act, days.n == act.dn, "left")
        .groupBy("n")
        .agg(F.count("user_id").alias("retained"))
        .crossJoin(F.broadcast(cohort))
        .select(
            "n",
            "cohort_size",
            "retained",
            dround(
                F.col("retained").cast("double")
                / F.col("cohort_size").cast("double"),
                6,
            ).alias("retention"),
        )
    )


def quality_signals() -> list[Column]:
    """The three per-document signals of the composite quality vote,
    from ``text``: ``len`` (chars), ``punct`` (chars outside
    ``[a-z0-9 ]`` after lowercasing) and ``toks`` (space-split tokens),
    each BIGINT."""
    return [
        F.length("text").cast("bigint").alias("len"),
        F.length(F.regexp_replace(F.lower(F.col("text")), "[a-z0-9 ]", ""))
        .cast("bigint")
        .alias("punct"),
        F.size(F.split("text", " ")).cast("bigint").alias("toks"),
    ]


def quality_votes() -> Column:
    """The vote count (0-3) over ``quality_signals``: minimum length
    (≥ 100 chars), punctuation density (≤ 5%) and mean token length
    (3-12 chars); a document passes the gate with ≥ 2 votes. Ratio
    thresholds are cross-multiplications (punct/len ≤ 0.05 becomes
    punct·20 ≤ len), so no float ever feeds a comparison."""
    return (
        F.when(F.col("len") >= 100, 1).otherwise(0)
        + F.when(F.col("punct") * 20 <= F.col("len"), 1).otherwise(0)
        + F.when(
            (F.col("toks") * 3 <= F.col("len"))
            & (F.col("len") <= F.col("toks") * 12),
            1,
        ).otherwise(0)
    )


@query(
    "l_quality_composite_gate",
    oracle="""
    WITH sig AS (
        SELECT doc_id, source,
               CAST(length(text) AS BIGINT) AS len,
               CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))
                    AS BIGINT) AS punct,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        FROM documents
    ), gated AS (
        SELECT doc_id, source,
               CASE WHEN len >= 100 THEN 1 ELSE 0 END
               + CASE WHEN punct * 20 <= len THEN 1 ELSE 0 END
               + CASE WHEN toks * 3 <= len AND len <= toks * 12
                      THEN 1 ELSE 0 END AS votes
        FROM sig
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN votes >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           ROUND(CAST(SUM(CASE WHEN votes >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) * 1e6, 0) / 1e6 AS keep_rate
    FROM gated
    GROUP BY source
    """,
)
def l_quality_composite_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality gate: three cheap signals vote per document —
    minimum length, punctuation density (≤5%), and mean-token-length
    band (3-12 chars) — and a document survives with ≥2 votes
    (Gopher-rule style majority gating, the standard way pipelines
    combine weak filters without one noisy signal vetoing everything).
    Reported as per-source keep rates, the mixture-shift audit run
    before and after every gate change.

    Determinism: the signals and the vote are ``quality_signals`` and
    ``quality_votes`` (integer arithmetic, notes there); one double
    division at output.

    Scale: single scan, codegen projections, source-keyed partial agg.
    The vote pattern extends to any signal set; expensive signals
    (entropy, novelty, model scores) join in as precomputed columns.
    """
    d = table(spark, sf_dir, "documents")
    sig = d.select("source", *quality_signals())
    return (
        sig.select("source", quality_votes().alias("votes"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("votes") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
        )
        .select(
            "source",
            "n_docs",
            "n_kept",
            dround(
                F.col("n_kept").cast("double") / F.col("n_docs").cast("double"),
                6,
            ).alias("keep_rate"),
        )
    )


@query(
    "a_scan_nested_pruning",
    oracle="""
    SELECT o_orderkey,
           o_totalprice AS price,
           o_orderpriority AS priority
    FROM orders
    WHERE o_orderstatus = 'O' AND o_totalprice > 150000
    """,
)
def a_scan_nested_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-schema column pruning + predicate pushdown: stage orders
    as a NESTED parquet table (a ``meta`` struct of status/priority
    beside a ``fin`` struct of price), then read back projecting and
    filtering individual struct LEAVES. Spark's nested-schema-pruning
    rule must narrow ``ReadSchema`` to just the referenced leaf fields
    and push the leaf predicates into the scan — at 100 TB, reading
    two leaves of a 200-field event envelope instead of the whole
    struct IS the feature (asserted in
    tests/test_plans.py::test_nested_pruning_reads_only_leaves).

    Determinism: pure restaging of existing columns; the oracle states
    the same rows off the FLAT source table.

    Scale: the staged write is an ordinary distributed sink; the read
    is a leaf-pruned scan — IO proportional to referenced leaves, not
    struct width.
    """
    o = table(spark, sf_dir, "orders")
    path = scratch("orders_nested")
    nested = o.select(
        "o_orderkey",
        F.struct(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
        ).alias("meta"),
        F.struct(
            F.col("o_totalprice").alias("price"),
            F.col("o_custkey").alias("custkey"),
        ).alias("fin"),
    )
    nested.write.mode("overwrite").parquet(path)
    r = spark.read.parquet(path)
    return r.filter(
        (F.col("meta.status") == "O") & (F.col("fin.price") > 150000)
    ).select(
        "o_orderkey",
        F.col("fin.price").alias("price"),
        F.col("meta.priority").alias("priority"),
    )


@query(
    "m_ab_ratio_delta",
    oracle="""
    WITH u AS (
        SELECT user_id,
               CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1)
                         IN ('0','1','2','3','4','5','6','7')
                    THEN 'A' ELSE 'B' END AS arm,
               CAST(SUM(CAST(trunc(value * 100) AS BIGINT)) AS BIGINT) AS x,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY user_id
    ), m AS (
        SELECT CAST(COUNT(*) FILTER (WHERE arm = 'A') AS BIGINT) AS ua,
               CAST(COUNT(*) FILTER (WHERE arm = 'B') AS BIGINT) AS ub,
               CAST(SUM(x) FILTER (WHERE arm = 'A') AS BIGINT) AS sxa,
               CAST(SUM(n) FILTER (WHERE arm = 'A') AS BIGINT) AS sna,
               CAST(SUM(x * x) FILTER (WHERE arm = 'A') AS BIGINT) AS sxxa,
               CAST(SUM(n * n) FILTER (WHERE arm = 'A') AS BIGINT) AS snna,
               CAST(SUM(x * n) FILTER (WHERE arm = 'A') AS BIGINT) AS sxna,
               CAST(SUM(x) FILTER (WHERE arm = 'B') AS BIGINT) AS sxb,
               CAST(SUM(n) FILTER (WHERE arm = 'B') AS BIGINT) AS snb,
               CAST(SUM(x * x) FILTER (WHERE arm = 'B') AS BIGINT) AS sxxb,
               CAST(SUM(n * n) FILTER (WHERE arm = 'B') AS BIGINT) AS snnb,
               CAST(SUM(x * n) FILTER (WHERE arm = 'B') AS BIGINT) AS sxnb
        FROM u
    ), c AS (
        SELECT ua, ub,
               CAST(sxa AS DOUBLE) / CAST(sna AS DOUBLE) AS ra,
               CAST(sxb AS DOUBLE) / CAST(snb AS DOUBLE) AS rb,
               (CAST(sxxa AS DOUBLE) - CAST(sxa AS DOUBLE) * CAST(sxa AS DOUBLE)
                    / CAST(ua AS DOUBLE)) / CAST(NULLIF(ua - 1, 0) AS DOUBLE) AS vxa,
               (CAST(snna AS DOUBLE) - CAST(sna AS DOUBLE) * CAST(sna AS DOUBLE)
                    / CAST(ua AS DOUBLE)) / CAST(NULLIF(ua - 1, 0) AS DOUBLE) AS vna,
               (CAST(sxna AS DOUBLE) - CAST(sxa AS DOUBLE) * CAST(sna AS DOUBLE)
                    / CAST(ua AS DOUBLE)) / CAST(NULLIF(ua - 1, 0) AS DOUBLE) AS cxa,
               (CAST(sxxb AS DOUBLE) - CAST(sxb AS DOUBLE) * CAST(sxb AS DOUBLE)
                    / CAST(ub AS DOUBLE)) / CAST(NULLIF(ub - 1, 0) AS DOUBLE) AS vxb,
               (CAST(snnb AS DOUBLE) - CAST(snb AS DOUBLE) * CAST(snb AS DOUBLE)
                    / CAST(ub AS DOUBLE)) / CAST(NULLIF(ub - 1, 0) AS DOUBLE) AS vnb,
               (CAST(sxnb AS DOUBLE) - CAST(sxb AS DOUBLE) * CAST(snb AS DOUBLE)
                    / CAST(ub AS DOUBLE)) / CAST(NULLIF(ub - 1, 0) AS DOUBLE) AS cxb,
               CAST(sna AS DOUBLE) / CAST(ua AS DOUBLE) AS mna,
               CAST(snb AS DOUBLE) / CAST(ub AS DOUBLE) AS mnb
        FROM m
    ), s AS (
        SELECT ua, ub, ra, rb,
               sqrt((vxa - 2e0 * ra * cxa + ra * ra * vna)
                    / CAST(ua AS DOUBLE)) / mna AS sea,
               sqrt((vxb - 2e0 * rb * cxb + rb * rb * vnb)
                    / CAST(ub AS DOUBLE)) / mnb AS seb
        FROM c
    ), f AS (
        SELECT ua, ub, ra, rb, ra - rb AS diff,
               sqrt(sea * sea + seb * seb) AS se
        FROM s
    )
    SELECT ua AS users_a, ub AS users_b,
           ROUND(ra * 1e6, 0) / 1e6 + 0 AS ratio_a,
           ROUND(rb * 1e6, 0) / 1e6 + 0 AS ratio_b,
           ROUND(diff * 1e6, 0) / 1e6 + 0 AS diff,
           ROUND(se * 1e6, 0) / 1e6 + 0 AS se,
           ROUND(diff / se * 1e4, 0) / 1e4 + 0 AS z,
           ROUND((diff - 196e-2 * se) * 1e6, 0) / 1e6 + 0 AS ci_lo,
           ROUND((diff + 196e-2 * se) * 1e6, 0) / 1e6 + 0 AS ci_hi
    FROM f
    """,
)
def m_ab_ratio_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELTA-METHOD RATIO-METRIC A/B READOUT (Deng et al., KDD 2018 —
    public method): the metric is revenue-per-event, a RATIO of two
    user-level sums, so the naive per-event variance is wrong
    (events within a user are correlated); the delta method gives
    se(R) = sqrt(var_x - 2R cov(x,n) + R^2 var_n) / (sqrt(U) *
    mean_n) from user-level moments. Completes the experimentation
    family next to m_ab_test_ztest (proportions) and m_ab_cuped
    (variance reduction): this is the readout platforms use for any
    per-event or per-session metric.

    Determinism: same md5-nibble hash split as m_ab_test_ztest; all
    ten per-arm moments are exact BIGINT sums of integer cents (x*x
    at this fixture's magnitudes stays far below 2^63; at ~100x the
    production fix is Welford/HUGEINT — the l_ml_linreg_normal note);
    ratios, variances, z and the 95% CI are the IDENTICAL double
    expression both engines (1.96 spelled 196e-2 per rule 12d);
    NULLIF guards the U-1 Bessel denominators; every output that can
    straddle zero carries the +0 guard (rule 5b).

    Scale: one events scan -> user-keyed partial-agg (map-side
    combine) -> one 12-scalar aggregate -> 1 row; 100 TB of events
    shuffles |users| thin rows, the m_ab_test_ztest shape exactly.
    """
    e = table(spark, sf_dir, "events")
    u = (
        e.groupBy("user_id")
        .agg(
            F.sum((F.col("value") * 100).cast("bigint")).alias("x"),
            F.count("*").alias("n"),
        )
        .select(
            F.when(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 1).isin(
                    "0", "1", "2", "3", "4", "5", "6", "7"
                ),
                "A",
            )
            .otherwise("B")
            .alias("arm"),
            "x",
            "n",
        )
    )

    def arm_aggs(tag: str):
        cond = F.col("arm") == tag
        t = tag.lower()
        return [
            F.count(F.when(cond, 1)).alias(f"u{t}"),
            F.sum(F.when(cond, F.col("x")).otherwise(0)).cast("bigint").alias(f"sx{t}"),
            F.sum(F.when(cond, F.col("n")).otherwise(0)).cast("bigint").alias(f"sn{t}"),
            F.sum(F.when(cond, F.col("x") * F.col("x")).otherwise(0))
            .cast("bigint")
            .alias(f"sxx{t}"),
            F.sum(F.when(cond, F.col("n") * F.col("n")).otherwise(0))
            .cast("bigint")
            .alias(f"snn{t}"),
            F.sum(F.when(cond, F.col("x") * F.col("n")).otherwise(0))
            .cast("bigint")
            .alias(f"sxn{t}"),
        ]

    m = u.agg(*(arm_aggs("A") + arm_aggs("B")))

    def d(c):  # CAST(col AS DOUBLE), mirroring the oracle
        return F.col(c).cast("double")

    def bessel(sq, s1, s2, uu):
        return (d(sq) - d(s1) * d(s2) / d(uu)) / F.nullif(
            F.col(uu) - 1, F.lit(0)
        ).cast("double")

    c = m.select(
        "ua",
        "ub",
        (d("sxa") / d("sna")).alias("ra"),
        (d("sxb") / d("snb")).alias("rb"),
        bessel("sxxa", "sxa", "sxa", "ua").alias("vxa"),
        bessel("snna", "sna", "sna", "ua").alias("vna"),
        bessel("sxna", "sxa", "sna", "ua").alias("cxa"),
        bessel("sxxb", "sxb", "sxb", "ub").alias("vxb"),
        bessel("snnb", "snb", "snb", "ub").alias("vnb"),
        bessel("sxnb", "sxb", "snb", "ub").alias("cxb"),
        (d("sna") / d("ua")).alias("mna"),
        (d("snb") / d("ub")).alias("mnb"),
    )
    s = c.select(
        "ua",
        "ub",
        "ra",
        "rb",
        (
            F.sqrt(
                (
                    F.col("vxa")
                    - F.lit(2.0) * F.col("ra") * F.col("cxa")
                    + F.col("ra") * F.col("ra") * F.col("vna")
                )
                / d("ua")
            )
            / F.col("mna")
        ).alias("sea"),
        (
            F.sqrt(
                (
                    F.col("vxb")
                    - F.lit(2.0) * F.col("rb") * F.col("cxb")
                    + F.col("rb") * F.col("rb") * F.col("vnb")
                )
                / d("ub")
            )
            / F.col("mnb")
        ).alias("seb"),
    )
    f = s.select(
        "ua",
        "ub",
        "ra",
        "rb",
        (F.col("ra") - F.col("rb")).alias("diff"),
        F.sqrt(F.col("sea") * F.col("sea") + F.col("seb") * F.col("seb")).alias("se"),
    )
    return f.select(
        F.col("ua").alias("users_a"),
        F.col("ub").alias("users_b"),
        dround(F.col("ra"), 6).alias("ratio_a"),
        dround(F.col("rb"), 6).alias("ratio_b"),
        dround(F.col("diff"), 6).alias("diff"),
        dround(F.col("se"), 6).alias("se"),
        dround(F.col("diff") / F.col("se"), 4).alias("z"),
        dround(F.col("diff") - F.lit(1.96) * F.col("se"), 6).alias("ci_lo"),
        dround(F.col("diff") + F.lit(1.96) * F.col("se"), 6).alias("ci_hi"),
    )
