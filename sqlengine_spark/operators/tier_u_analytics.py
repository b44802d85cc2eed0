"""Tier U (extension, round 9) — event-analytics statistics: a
Kaplan-Meier survival curve (signup → purchase with right-censoring),
time-decay multi-touch attribution, the stationary distribution of the
event-type Markov chain by bounded power iteration, and a curriculum
pacing schedule over document difficulty.

Float policy: KM log-survival terms, attribution shares, and decayed
weights are half-up quantized to fixed-point BIGINTs at the ROW level
before any cross-row sum (CLAUDE.md rule 11e), so window/group
accumulation order can't move a hash; the Markov fixpoint follows the
l_embedding_pca / l_bt_leaderboard sanction (bounded driver-side
vector, 12-dp re-round per step, DuckDB replaying identical unrolled
iterations with ordered-aggregate sequential folds).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sqlengine_spark.functions import dround, round12
from sqlengine_spark.registry import query
from sqlengine_spark.session import table

_MK_ITERS = 8


@query(
    "m_survival_km",
    oracle="""
    WITH st AS (
        SELECT user_id, MIN(ts) AS start
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), cv AS (
        SELECT e.user_id, MIN(e.ts) AS conv
        FROM events e JOIN st ON st.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > st.start
        GROUP BY e.user_id
    ), fin AS (
        SELECT (SELECT MAX(ts) FROM events) AS study_end
    ), subj AS (
        SELECT st.user_id,
               CASE WHEN cv.conv IS NOT NULL THEN 1 ELSE 0 END AS evt,
               CAST(FLOOR((epoch_us(COALESCE(cv.conv,
                                             (SELECT study_end FROM fin)))
                           - epoch_us(st.start))
                          / CAST(3600000000 AS DOUBLE)) AS BIGINT) AS d
        FROM st LEFT JOIN cv ON cv.user_id = st.user_id
    ), tab AS (
        SELECT d, CAST(SUM(evt) AS BIGINT) AS ev,
               CAST(SUM(1 - evt) AS BIGINT) AS cs
        FROM subj GROUP BY d
    ), km AS MATERIALIZED (
        SELECT d, ev, cs,
               CAST((SELECT CAST(COUNT(*) AS BIGINT) FROM subj)
                    - SUM(ev + cs) OVER (ORDER BY d) + (ev + cs)
                    AS BIGINT) AS n_risk
        FROM tab
    ), terms AS (
        SELECT d, ev, cs, n_risk,
               CASE WHEN n_risk > ev
                    THEN CAST(FLOOR(ln(CAST(n_risk - ev AS DOUBLE)
                                       / CAST(n_risk AS DOUBLE)) * 1e12 + 0.5)
                              AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END AS lnq,
               CASE WHEN n_risk <= ev THEN 1 ELSE 0 END AS hit_zero
        FROM km
    )
    SELECT d AS t_hours, n_risk, ev AS n_events, cs AS n_censored,
           CASE WHEN SUM(hit_zero) OVER (ORDER BY d) > 0 THEN 0.0
                ELSE ROUND(exp(SUM(lnq) OVER (ORDER BY d) / 1e12) * 1e6)
                     / 1e6 + 0.0 END AS survival
    FROM terms
    WHERE ev > 0
    """,
)
def m_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN-MEIER survival curve for signup → purchase conversion
    with right-censoring at study end — the estimator product/retention
    analytics runs on time-to-event data where "hasn't converted YET"
    must not count as "never converts". Durations are whole hours;
    users without a post-signup purchase are censored at the global
    max event time.

    Determinism (rule 11e + rule 9): the at-risk ledger is pure integer
    window arithmetic; each KM factor ln((n−d)/n) is a libm call on an
    exact integer ratio, half-up quantized to 1e-12 fixed point at the
    ROW level, so the cumulative log-survival is an INTEGER window sum
    (immune to the segment-tree-vs-sequential association trap);
    survival = exp(sum/1e12) is then the identical double both engines
    round to 6 dp. Full depletion (n = d) pins survival to exactly 0.0
    from that step on via an integer flag cumsum.

    Scale: subjects build from two user-keyed aggs + one left join;
    the KM table is keyed on the BOUNDED duration domain (hours within
    the study window), so the ordered windows run over the domain-sized
    frame, not the data — exact KM at any user count.
    """
    ev = table(spark, sf_dir, "events")
    st = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("start"))
    )
    cv = (
        ev.filter(F.col("event_type") == "purchase")
        .join(st, "user_id")
        .filter(F.col("ts") > F.col("start"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("conv"))
    )
    study_end = ev.agg(F.max("ts")).collect()[0][0]  # bounded: 1 scalar
    subj = st.join(cv, "user_id", "left").select(
        "user_id",
        F.when(F.col("conv").isNotNull(), 1).otherwise(0).alias("evt"),
        F.floor(
            (
                F.unix_micros(F.coalesce(F.col("conv"), F.lit(study_end)))
                - F.unix_micros(F.col("start"))
            )
            / F.lit(3600000000.0)
        )
        .cast("bigint")
        .alias("d"),
    ).localCheckpoint()  # two consumers: total count + KM table
    n_total = subj.count()  # bounded: 1 scalar
    tab = subj.groupBy("d").agg(
        F.sum("evt").alias("ev"),
        F.sum(F.lit(1) - F.col("evt")).alias("cs"),
    )
    wcum = W.orderBy("d").rowsBetween(W.unboundedPreceding, W.currentRow)
    km = tab.select(
        "d",
        "ev",
        "cs",
        (
            F.lit(n_total)
            - F.sum(F.col("ev") + F.col("cs")).over(wcum)
            + (F.col("ev") + F.col("cs"))
        ).alias("n_risk"),
    )
    lnq = F.when(
        F.col("n_risk") > F.col("ev"),
        F.floor(
            F.log(
                (F.col("n_risk") - F.col("ev")).cast("double")
                / F.col("n_risk").cast("double")
            )
            * 1e12
            + 0.5
        ).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    hit = F.when(F.col("n_risk") <= F.col("ev"), 1).otherwise(0)
    terms = km.select(
        "d", "ev", "cs", "n_risk", lnq.alias("lnq"), hit.alias("hit_zero")
    )
    surv = F.when(
        F.sum("hit_zero").over(wcum) > 0, F.lit(0.0)
    ).otherwise(dround(F.exp(F.sum("lnq").over(wcum) / 1e12), 6))
    return (
        terms.select(
            F.col("d").alias("t_hours"),
            "n_risk",
            F.col("ev").alias("n_events"),
            F.col("cs").alias("n_censored"),
            surv.alias("survival"),
            "ev",
        )
        .filter(F.col("ev") > 0)
        .drop("ev")
    )


@query(
    "m_attribution_decay",
    oracle="""
    WITH p AS (
        SELECT event_id AS conv_id, user_id, ts AS cts,
               CAST(FLOOR(value * 1e2 + 0.5) AS BIGINT) AS v_cents
        FROM events WHERE event_type = 'purchase'
    ), t AS (
        SELECT user_id, event_id AS touch_id, event_type, ts AS tts
        FROM events WHERE event_type IN ('click', 'view')
    ), w AS MATERIALIZED (
        SELECT p.conv_id, p.v_cents, t.touch_id, t.event_type,
               CAST(FLOOR(exp(-((epoch_us(p.cts) - epoch_us(t.tts))
                                / CAST(3600000000 AS DOUBLE))
                              * ln(2) / 24) * 1e9 + 0.5) AS BIGINT) AS wq
        FROM p JOIN t ON t.user_id = p.user_id
                     AND t.tts < p.cts
                     AND epoch_us(p.cts) - epoch_us(t.tts)
                         <= 604800000000
    ), sh AS (
        SELECT event_type, conv_id,
               CAST(FLOOR(wq / CAST(SUM(wq) OVER (PARTITION BY conv_id)
                                    AS DOUBLE)
                          * v_cents * 1e4 + 0.5) AS BIGINT) AS a_q
        FROM w
    )
    SELECT event_type AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_conversions,
           ROUND(SUM(a_q) / 1e6 * 1e4) / 1e4 + 0.0 AS attributed_value
    FROM sh GROUP BY event_type
    """,
)
def m_attribution_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-DECAY multi-touch attribution: every purchase distributes
    its value across the user's click/view touchpoints in the 7 days
    before it, weighted exp(−Δt·ln2/24h) (24-hour half-life) and
    normalized per conversion — the marketing-analytics standard that
    replaces last-touch's winner-take-all with recency-weighted credit.

    Determinism: decay weights are half-up quantized to 1e-9 BIGINTs at
    the row level, the per-conversion normalizer is an INTEGER window
    sum over an explicit full partition, and each attributed amount is
    re-quantized before the per-channel sum — every cross-row
    accumulation is exact integers (rule 11e); exp/ln on identical
    doubles match across engines (the h_math / sigmoid precedent).

    Scale: the touch join is user-keyed with a 7-day time bound, so
    fan-out is per-user touches within the window, never corpus-sized
    (the c_join_interval shape); normalization partitions by
    conversion id — naturally fine-grained; the channel rollup is a
    |channels|-row partial+final agg.
    """
    ev = table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        "user_id",
        F.col("ts").alias("cts"),
        F.floor(F.col("value") * 1e2 + 0.5).cast("bigint").alias("v_cents"),
    )
    t = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id",
        F.col("event_id").alias("touch_id"),
        "event_type",
        F.col("ts").alias("tts"),
    )
    dh = (F.unix_micros(F.col("cts")) - F.unix_micros(F.col("tts"))) / F.lit(
        3600000000.0
    )
    wq = F.floor(
        F.exp(-dh * F.lit(math.log(2.0)) / 24) * 1e9 + 0.5
    ).cast("bigint")
    w = p.join(
        t,
        (p["user_id"] == t["user_id"])
        & (F.col("tts") < F.col("cts"))
        & (
            F.unix_micros(F.col("cts")) - F.unix_micros(F.col("tts"))
            <= F.lit(604800000000)
        ),
    ).select("conv_id", "v_cents", "touch_id", "event_type", wq.alias("wq"))
    wfull = W.partitionBy("conv_id").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    sh = w.select(
        "event_type",
        "conv_id",
        F.floor(
            F.col("wq") / F.sum("wq").over(wfull).cast("double")
            * F.col("v_cents")
            * 1e4
            + 0.5
        )
        .cast("bigint")
        .alias("a_q"),
    )
    return sh.groupBy(F.col("event_type").alias("channel")).agg(
        F.count("*").alias("n_touches"),
        F.countDistinct("conv_id").alias("n_conversions"),
        dround(F.sum("a_q") / 1e6, 4).alias("attributed_value"),
    )


def _markov_stationary_oracle(iters: int) -> str:
    its = []
    prev = "pi0"
    for t in range(1, iters + 1):
        its.append(
            f"""r{t} AS MATERIALIZED (
        SELECT tm.j, SUM(pi.p * tm.p ORDER BY tm.i) AS praw
        FROM tm JOIN {prev} pi ON pi.j = tm.i
        GROUP BY tm.j
    ), pi{t} AS MATERIALIZED (
        SELECT j, ROUND(praw / (SELECT SUM(praw ORDER BY j) FROM r{t})
                        * 1e12) / 1e12 AS p
        FROM r{t}
    )"""
        )
        prev = f"pi{t}"
    return f"""
    WITH seq AS (
        SELECT user_id, event_type AS i, ts, event_id,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS j
        FROM events
    ), c AS MATERIALIZED (
        SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE j IS NOT NULL GROUP BY i, j
    ), tm AS MATERIALIZED (
        SELECT i, j, n / CAST(SUM(n) OVER (PARTITION BY i) AS DOUBLE) AS p,
               n
        FROM c
    ), states AS MATERIALIZED (
        SELECT DISTINCT i AS j FROM c
    ), pi0 AS MATERIALIZED (
        SELECT j, ROUND(1.0 / (SELECT CAST(COUNT(*) AS BIGINT) FROM states)
                        * 1e12) / 1e12 AS p
        FROM states
    ), {", ".join(its)}
    SELECT s.j AS state,
           ROUND(p.p * 1e6) / 1e6 + 0.0 AS stationary_prob,
           ROUND((SELECT CAST(SUM(n) AS BIGINT) FROM c c2 WHERE c2.j = s.j)
                 / (SELECT CAST(SUM(n) AS DOUBLE) FROM c) * 1e6) / 1e6 + 0.0
               AS empirical_share,
           CAST(ROW_NUMBER() OVER (ORDER BY p.p DESC, s.j) AS INT) AS rank
    FROM states s JOIN {prev} p ON p.j = s.j
    """


@query("m_markov_stationary", oracle=_markov_stationary_oracle(_MK_ITERS))
def m_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATIONARY DISTRIBUTION of the user-journey Markov chain: build
    the event-type transition matrix from consecutive per-user events,
    then power-iterate π ← πP (8 steps, renormalized and 12-dp-rounded
    each step) — the long-run state occupancy that ranks journey states
    by structural importance rather than raw frequency (the two are
    compared side by side in the output).

    The transition matrix is BOUNDED (|event_types|² ≤ 25 entries), so
    it is collected and iterated driver-side — the l_embedding_pca /
    l_bt_leaderboard sanction; the DuckDB oracle replays the identical
    unrolled iterations with ordered-aggregate sequential folds over
    MATERIALIZED CTEs (rules 4 and 7). Matrix entries are exact
    integer-count ratios, identical in both engines.

    Scale: transitions come from one user-partitioned LEAD window
    (keyed shuffle, per-user frames); the count matrix is a
    partial+final agg onto ≤ k² rows; the fixpoint is
    corpus-size-independent.
    """
    ev = table(spark, sf_dir, "events")
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("i"),
        F.lead("event_type")
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("j"),
    )
    c = (
        seq.filter(F.col("j").isNotNull())
        .groupBy("i", "j")
        .agg(F.count("*").alias("n"))
        .localCheckpoint()  # one window scan feeds collect + final agg
    )
    rows = c.collect()  # bounded: <= |event_types|^2 rows
    tot_i: dict[str, int] = {}
    for r in rows:
        tot_i[r["i"]] = tot_i.get(r["i"], 0) + r["n"]
    pmat = {(r["i"], r["j"]): r["n"] / float(tot_i[r["i"]]) for r in rows}
    states = sorted(tot_i)
    k = len(states)
    pi = {s: round12(1.0 / k) for s in states}
    for _ in range(_MK_ITERS):
        praw = {}
        for j in states:
            acc = 0.0
            for i in states:  # sorted == oracle's ORDER BY tm.i fold
                if (i, j) in pmat:
                    acc += pi[i] * pmat[(i, j)]
            praw[j] = acc
        s_tot = 0.0
        for j in states:  # sorted == SUM(praw ORDER BY j)
            s_tot += praw[j]
        pi = {j: round12(praw[j] / s_tot) for j in states}

    total_trans = sum(r["n"] for r in rows)
    pidf = F.broadcast(
        spark.createDataFrame(
            [(s, pi[s]) for s in states], "state string, p double"
        )
    )
    emp = c.groupBy(F.col("j").alias("state")).agg(
        F.sum("n").alias("n_in")
    )
    return (
        emp.join(pidf, "state")
        .select(
            "state",
            dround(F.col("p"), 6).alias("stationary_prob"),
            dround(F.col("n_in") / F.lit(float(total_trans)), 6).alias(
                "empirical_share"
            ),
            F.row_number()
            .over(W.orderBy(F.col("p").desc(), "state"))
            .cast("int")
            .alias("rank"),
        )
    )


@query(
    "l_curriculum_pacing",
    oracle="""
    WITH s AS (
        SELECT doc_id, source, n_chars,
               NTILE(5) OVER (PARTITION BY source
                              ORDER BY n_chars, doc_id) AS stage
        FROM documents
    ), r AS (
        SELECT doc_id, source, n_chars, stage,
               ROW_NUMBER() OVER (PARTITION BY source, stage
                                  ORDER BY n_chars, doc_id) AS intra
        FROM s
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY stage, intra, source)
                AS BIGINT) AS global_pos,
           doc_id, source, CAST(stage AS INT) AS stage, n_chars
    FROM r
    ORDER BY global_pos LIMIT 100
    """,
)
def l_curriculum_pacing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CURRICULUM PACING schedule: bucket each source's documents into 5
    difficulty stages (n_chars proxy, (n_chars, doc_id) total order),
    then interleave sources round-robin within each stage — easy-first,
    source-balanced ordering (the curriculum-learning data loader
    shape), emitting the first 100 schedule slots for inspection.

    Determinism: NTILE and both ROW_NUMBERs ride unique total orders
    (rule 5); the LIMIT rides the unique (stage, intra, source) key.

    Scale: staging and intra-ranks are source-keyed windows (keyed
    shuffles, WindowGroupLimit-friendly); only the inspection LIMIT
    uses a global order, which TakeOrdered resolves without a full
    sort-shuffle. A full-corpus schedule at 100 TB would materialize
    via repartitionByRange(stage, intra) + per-partition files instead
    of a global row_number — noted here, same upstream plan.
    """
    d = table(spark, sf_dir, "documents")
    s = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.ntile(5)
        .over(W.partitionBy("source").orderBy("n_chars", "doc_id"))
        .alias("stage"),
    )
    r = s.select(
        "doc_id",
        "source",
        "n_chars",
        "stage",
        F.row_number()
        .over(W.partitionBy("source", "stage").orderBy("n_chars", "doc_id"))
        .alias("intra"),
    )
    # TakeOrdered the 100 schedule slots FIRST, then number the bounded
    # result — the global row_number window runs over the 100-row frame
    # the plan itself bounds, never the corpus
    top = r.orderBy("stage", "intra", "source").limit(100)
    return top.select(
        F.row_number()
        .over(W.orderBy("stage", "intra", "source"))
        .cast("bigint")
        .alias("global_pos"),
        "doc_id",
        "source",
        F.col("stage").cast("int").alias("stage"),
        "n_chars",
    )


@query(
    "m_path_regex",
    oracle="""
    WITH p AS (
        SELECT user_id,
               string_agg(substr(event_type, 1, 1), ''
                          ORDER BY ts, event_id) AS path
        FROM events GROUP BY user_id
    ), a AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS tot,
               CAST(COUNT(*) FILTER (
                   WHERE regexp_matches(path, 'v.*c.*p')) AS BIGINT) AS c1,
               CAST(COUNT(*) FILTER (
                   WHERE regexp_matches(path, 'e.*p')) AS BIGINT) AS c2,
               CAST(COUNT(*) FILTER (
                   WHERE regexp_matches(path, '^s')) AS BIGINT) AS c3,
               CAST(COUNT(*) FILTER (
                   WHERE regexp_matches(path, '^[^p]*$')) AS BIGINT) AS c4
        FROM p
    )
    SELECT pattern, n_users,
           CAST(n_users AS DOUBLE) / CAST(tot AS DOUBLE) AS frac
    FROM (
        SELECT 'converted_v_c_p' AS pattern, c1 AS n_users, tot FROM a
        UNION ALL SELECT 'error_before_purchase', c2, tot FROM a
        UNION ALL SELECT 'signup_first', c3, tot FROM a
        UNION ALL SELECT 'never_purchased', c4, tot FROM a
    )
    """,
)
def m_path_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PATH-PATTERN MATCHING over per-user journey strings — the
    MATCH_RECOGNIZE-lite idiom: encode each user's event history as a
    compact initial-letter string ordered by (ts, event_id), then
    classify journeys with regular expressions (ordered
    view→click→purchase conversion, error-before-purchase recovery,
    signup-first onboarding, never-purchased browsers). Event initials
    are distinct on this fixture (c/e/p/s/v).

    Determinism: the path string is built under an explicit
    (ts, event_id) total order in both engines (Spark sorts the
    collected struct array; DuckDB uses ORDER BY inside string_agg);
    fractions are single int/int divisions.

    Scale: one user-keyed shuffle builds every path (per-user event
    counts are session-scale, so collect_list state is bounded per
    key); all four patterns are evaluated in ONE aggregate pass over
    the path table (no re-scan per pattern), and the final unpivot is
    a 1-row stack. At 100 TB the journey build is the same single
    groupBy; regex classification is map-side codegen.
    """
    ev = table(spark, sf_dir, "events")
    paths = (
        ev.select(
            "user_id",
            F.struct(
                F.col("ts"), F.col("event_id"),
                F.substring("event_type", 1, 1).alias("ini"),
            ).alias("s"),
        )
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("s")), lambda s: s["ini"]
                ),
                "",
            ).alias("path")
        )
    )
    cnt = lambda pat: F.coalesce(
        F.sum(F.when(F.col("path").rlike(pat), F.lit(1))), F.lit(0)
    )
    agg = paths.agg(
        F.count("*").alias("tot"),
        cnt("v.*c.*p").alias("c1"),
        cnt("e.*p").alias("c2"),
        cnt("^s").alias("c3"),
        cnt("^[^p]*$").alias("c4"),
    )
    return agg.select(
        F.expr(
            "stack(4, 'converted_v_c_p', c1, 'error_before_purchase', c2,"
            " 'signup_first', c3, 'never_purchased', c4)"
            " AS (pattern, n_users)"
        ),
        (F.col("tot")).alias("tot"),
    ).select(
        "pattern",
        "n_users",
        (F.col("n_users").cast("double") / F.col("tot").cast("double")).alias(
            "frac"
        ),
    )


@query(
    "m_rfm_segment",
    oracle="""
    WITH c AS (
        SELECT o_custkey,
               MAX(CAST(o_orderdate AS DATE)) AS md,
               CAST(COUNT(*) AS BIGINT) AS f,
               CAST(SUM(CAST(trunc(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS mc
        FROM orders GROUP BY o_custkey
    ), a AS (
        SELECT MAX(md) AS anchor FROM c
    ), r AS (
        SELECT o_custkey,
               CAST(datediff('day', md, a.anchor) AS BIGINT) AS rec_days,
               f, mc
        FROM c CROSS JOIN a
    ), b AS (
        SELECT quantile_disc(rec_days, 0.2) AS r20,
               quantile_disc(rec_days, 0.4) AS r40,
               quantile_disc(rec_days, 0.6) AS r60,
               quantile_disc(rec_days, 0.8) AS r80,
               quantile_disc(f, 0.2) AS f20, quantile_disc(f, 0.4) AS f40,
               quantile_disc(f, 0.6) AS f60, quantile_disc(f, 0.8) AS f80,
               quantile_disc(mc, 0.2) AS m20, quantile_disc(mc, 0.4) AS m40,
               quantile_disc(mc, 0.6) AS m60, quantile_disc(mc, 0.8) AS m80
        FROM r
    ), s AS (
        SELECT o_custkey,
               5 - ((CASE WHEN rec_days > r20 THEN 1 ELSE 0 END)
                    + (CASE WHEN rec_days > r40 THEN 1 ELSE 0 END)
                    + (CASE WHEN rec_days > r60 THEN 1 ELSE 0 END)
                    + (CASE WHEN rec_days > r80 THEN 1 ELSE 0 END))
                   AS r_score,
               1 + (CASE WHEN f > f20 THEN 1 ELSE 0 END)
                 + (CASE WHEN f > f40 THEN 1 ELSE 0 END)
                 + (CASE WHEN f > f60 THEN 1 ELSE 0 END)
                 + (CASE WHEN f > f80 THEN 1 ELSE 0 END) AS f_score,
               1 + (CASE WHEN mc > m20 THEN 1 ELSE 0 END)
                 + (CASE WHEN mc > m40 THEN 1 ELSE 0 END)
                 + (CASE WHEN mc > m60 THEN 1 ELSE 0 END)
                 + (CASE WHEN mc > m80 THEN 1 ELSE 0 END) AS m_score,
               mc
        FROM r CROSS JOIN b
    )
    SELECT r_score, f_score, m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(CAST(SUM(mc) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                 / 1e2 * 1e2) / 1e2 AS avg_monetary
    FROM s GROUP BY r_score, f_score, m_score
    """,
)
def m_rfm_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM SEGMENTATION (recency / frequency / monetary quintile
    scoring — the classic CRM customer-value grid, Hughes 1994; public
    method): per customer, days since last order (recency, anchored at
    the corpus max order date), order count (frequency), and lifetime
    revenue in exact cents (monetary) each map to a 1-5 score by
    comparison against the metric's GLOBAL 20/40/60/80th discrete
    percentiles; the output is the segment grid with customer counts
    and average lifetime value.

    Determinism: all three metrics are exact integers; boundaries come
    from percentile_disc ≡ DuckDB quantile_disc (the
    d_agg_percentile_disc verified pairing), so scores are pure integer
    comparisons — no interpolation, no float accumulation. avg_monetary
    is one int/int division re-quantized to the cent grid.

    Scale (the deliberate NON-ntile design): a global ntile(5) would
    sort the whole customer dimension on ONE reducer — the global-
    window trap. Instead the 12 boundaries are a distributed
    partial+final percentile AGGREGATE (1 output row, broadcast back),
    and score assignment is a map-side comparison — no global sort at
    any size. Both 1-row joins (anchor date, boundaries) broadcast;
    per-customer metrics are one custkey-keyed partial-agg groupBy over
    the fact table."""
    o = table(spark, sf_dir, "orders")
    c = o.groupBy("o_custkey").agg(
        F.max(F.to_date("o_orderdate")).alias("md"),
        F.count(F.lit(1)).alias("f"),
        F.sum((F.col("o_totalprice") * 100).cast("bigint")).alias("mc"),
    )
    anchor = c.agg(F.max("md").alias("anchor"))
    r = c.crossJoin(F.broadcast(anchor)).select(
        "o_custkey",
        F.datediff("anchor", "md").cast("bigint").alias("rec_days"),
        "f",
        "mc",
    )
    qs = []
    for col, pre in (("rec_days", "r"), ("f", "f"), ("mc", "m")):
        for p in (20, 40, 60, 80):
            qs.append(
                F.expr(
                    f"percentile_disc({p / 100}) WITHIN GROUP"
                    f" (ORDER BY {col})"
                ).alias(f"{pre}{p}")
            )
    b = r.agg(*qs)

    def score(col: str, pre: str):
        hits = sum(
            F.when(F.col(col) > F.col(f"{pre}{p}"), 1).otherwise(0)
            for p in (20, 40, 60, 80)
        )
        return hits

    s = r.crossJoin(F.broadcast(b)).select(
        "o_custkey",
        (F.lit(5) - score("rec_days", "r")).alias("r_score"),
        (F.lit(1) + score("f", "f")).alias("f_score"),
        (F.lit(1) + score("mc", "m")).alias("m_score"),
        "mc",
    )
    return s.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers"),
        dround(
            F.sum("mc").cast("double")
            / F.count(F.lit(1)).cast("double")
            / 1e2,
            2,
        ).alias("avg_monetary"),
    )


@query(
    "m_basket_affinity",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n AS (
        SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
        FROM items
    ), pc AS (
        SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_p
        FROM items GROUP BY l_partkey
    ), pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb,
               CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY pa, pb
        HAVING COUNT(*) >= 3
    ), m AS (
        SELECT pa, pb, n_ab, ca.n_p AS n_a, cb.n_p AS n_b, n.n_orders
        FROM pairs
        JOIN pc ca ON ca.l_partkey = pa
        JOIN pc cb ON cb.l_partkey = pb
        CROSS JOIN n
    )
    SELECT pa, pb, n_ab, n_a, n_b,
           ROUND(CAST(n_ab AS DOUBLE) / CAST(n_a AS DOUBLE) * 1e6) / 1e6
               AS confidence,
           ROUND(CAST(n_ab AS DOUBLE) * CAST(n_orders AS DOUBLE)
                 / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) * 1e6) / 1e6
               AS lift
    FROM m
    ORDER BY CAST(n_ab AS DOUBLE) * CAST(n_orders AS DOUBLE)
             / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
             DESC, pa, pb
    LIMIT 50
    """,
)
def m_basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKET-BASKET AFFINITY (association-rule support / confidence /
    lift, Agrawal et al. 1993; public method): which part pairs
    co-occur in the same order more than independence predicts. Pair
    counts come from a self-join of the distinct (order, part) item
    sets on the order key; lift(a,b) = P(ab) / (P(a)P(b)) =
    n_ab * N / (n_a * n_b); the output is the top 50 pairs by lift
    among pairs with support >= 3 orders.

    Determinism: every count is an exact integer; confidence and lift
    are single int-ratio divisions (IEEE-exact both engines) quantized
    to the 1e-6 grid for display, while the ORDER BY sorts on the RAW
    division (bit-identical cross-engine) with (pa, pb) tie-breaks —
    the rule-5 unique-key total order. All values positive (no -0.0
    exposure).

    Scale: the pair fan-out is per-ORDER — sum over orders of
    |basket|^2, linear in the fact table for bounded basket sizes
    (TPC-H ~7; a retail basket ~30) and keyed on the order key, never
    a part x part cartesian. Pair counts partial-agg before the
    (pa, pb) shuffle; the per-part count table is part-dimension-sized
    and broadcast onto the pair stream; the 1-row order total
    broadcasts (whitelisted). Top-50 is TakeOrdered — no global sort.
    At 100 TB the min-support HAVING prunes the pair tail before the
    dimension joins."""
    li = table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    n = items.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n_orders")
    )
    pc = items.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_p")
    )
    a = items.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pa")
    )
    bb = items.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pb")
    )
    pairs = (
        a.join(bb, "k")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    m = (
        pairs.join(
            F.broadcast(pc.select(F.col("l_partkey").alias("pa"),
                                  F.col("n_p").alias("n_a"))),
            "pa",
        )
        .join(
            F.broadcast(pc.select(F.col("l_partkey").alias("pb"),
                                  F.col("n_p").alias("n_b"))),
            "pb",
        )
        .crossJoin(F.broadcast(n))
    )
    # r10 ADVICE: cast each factor to double BEFORE multiplying — the
    # BIGINT products n_ab*n_orders / n_a*n_b wrap (Spark) or raise
    # (DuckDB) near 1e10 orders; at fixture scales both forms are exact
    # (< 2^53) so the hash is unchanged. Oracle mirrors.
    lift_raw = (
        F.col("n_ab").cast("double") * F.col("n_orders").cast("double")
    ) / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
    return (
        m.select(
            "pa",
            "pb",
            "n_ab",
            "n_a",
            "n_b",
            dround(
                F.col("n_ab").cast("double") / F.col("n_a").cast("double"),
                6,
            ).alias("confidence"),
            dround(lift_raw, 6).alias("lift"),
            lift_raw.alias("_lift_raw"),
        )
        .orderBy(F.col("_lift_raw").desc(), "pa", "pb")
        .limit(50)
        .drop("_lift_raw")
    )


@query(
    "m_seq_editdist",
    oracle="""
    WITH e AS (
        SELECT user_id, ts, event_id, substring(event_type, 1, 1) AS ch,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ), p AS (
        SELECT user_id,
               string_agg(ch, '' ORDER BY rn) AS path
        FROM e WHERE rn <= 20 GROUP BY user_id
    ), modal AS (
        SELECT path AS mpath FROM p
        GROUP BY path
        ORDER BY COUNT(*) DESC, path
        LIMIT 1
    )
    SELECT CAST(levenshtein(p.path, m.mpath) AS INT) AS edit_dist,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM p CROSS JOIN modal m
    GROUP BY edit_dist
    """,
)
def m_seq_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BEHAVIORAL-SEQUENCE EDIT DISTANCE: each user's first 20 events
    (ordered by ts with event_id tie-break — the rule-5 unique total
    order) become a path string over the event-type initials (the five
    fixture types have distinct initials, asserted nowhere but checked
    at build: c/e/p/s/v), the MODAL path is the most common such
    string (count-desc, path-asc tie-break), and the output is the
    histogram of Levenshtein distances from every user's path to the
    modal one — the "how far from the canonical journey" readout a
    product-analytics pipeline computes (edit-distance clustering of
    clickstreams; Levenshtein 1966, public method).

    Determinism: levenshtein ≡ cross-engine (the h_str_fuzzy verified
    pairing); paths are deterministic strings; the modal pick has a
    full tie-break; outputs are exact integers.

    Scale: path build is ONE user-keyed window (rank, partitioned by
    user — never global) + a user-keyed ordered string_agg; the modal
    row is a path-keyed partial-agg count + TakeOrdered(1), broadcast
    back (1-row, whitelisted). Levenshtein is O(20^2) per USER row —
    bounded by the rn <= 20 cap, not by stream length. The histogram
    is a |distinct distances|-row partial agg. At 100 TB every stage
    is keyed on user or path; nothing global but the 1-row modal
    broadcast."""
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    e = ev.select(
        "user_id",
        F.substring("event_type", 1, 1).alias("ch"),
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") <= 20)
    p = e.groupBy("user_id").agg(
        F.array_join(
            F.expr("transform(sort_array(collect_list(struct(rn, ch))),"
                   " s -> s.ch)"),
            "",
        ).alias("path")
    )
    modal = (
        p.groupBy("path")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "path")
        .limit(1)
        .select(F.col("path").alias("mpath"))
    )
    return (
        p.crossJoin(F.broadcast(modal))
        .select(F.levenshtein("path", "mpath").alias("edit_dist"))
        .groupBy("edit_dist")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "m_mix_shift_decomp",
    oracle="""
    WITH e AS (
        SELECT event_type,
               CASE WHEN day(CAST(ts AS DATE)) <= 15 THEN 1 ELSE 2 END
                   AS period,
               CAST(trunc(value * 100) AS BIGINT) AS vc
        FROM events
    ), seg AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN period = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN period = 1 THEN vc ELSE 0 END)
                    AS BIGINT) AS s1,
               CAST(SUM(CASE WHEN period = 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n2,
               CAST(SUM(CASE WHEN period = 2 THEN vc ELSE 0 END)
                    AS BIGINT) AS s2
        FROM e GROUP BY event_type
    ), tot AS (
        SELECT CAST(SUM(n1) AS BIGINT) AS t1, CAST(SUM(n2) AS BIGINT) AS t2
        FROM seg
    ), m AS (
        SELECT event_type,
               CAST(n1 AS DOUBLE) / CAST(t1 AS DOUBLE) AS w1,
               CAST(n2 AS DOUBLE) / CAST(t2 AS DOUBLE) AS w2,
               CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS r1,
               CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS r2
        FROM seg CROSS JOIN tot
        WHERE n1 > 0 AND n2 > 0
    )
    SELECT event_type,
           ROUND(w1 * 1e9) / 1e9 + 0 AS w1,
           ROUND(w2 * 1e9) / 1e9 + 0 AS w2,
           ROUND(r1 * 1e7) / 1e7 + 0 AS r1_cents,
           ROUND(r2 * 1e7) / 1e7 + 0 AS r2_cents,
           ROUND((w2 - w1) * r1 * 1e7) / 1e7 + 0 AS mix_effect,
           ROUND(w1 * (r2 - r1) * 1e7) / 1e7 + 0 AS rate_effect,
           ROUND((w2 - w1) * (r2 - r1) * 1e7) / 1e7 + 0
               AS interaction_effect
    FROM m
    """,
)
def m_mix_shift_decomp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIX-SHIFT DECOMPOSITION (Oaxaca-Blinder / index-number
    decomposition; public method): why did average revenue-per-event
    move between the first and second half of the month? Per segment
    (event type), the delta in the weighted mean splits into a MIX
    effect (w2 - w1) * r1 — the segment got more/less traffic share —
    a RATE effect w1 * (r2 - r1) — the segment itself got
    better/worse — and the interaction residual; summed over segments
    these reconstruct the total metric delta exactly. The readout
    every metrics review wants when "the average moved but no segment
    did".

    Determinism: per-segment counts and cent-sums are exact BIGINTs
    pivoted by period in ONE pass (no self-join); weights and rates
    are single int-ratio divisions; each effect is one product of two
    exact-division doubles quantized once at the end with the
    rule-5b '+ 0' (effects straddle zero by construction).

    Scale: one segment-keyed partial-agg groupBy over the fact table
    + a 1-row totals broadcast — the d_pivot conditional-aggregation
    shape; |segments| output rows, no window, no iteration."""
    ev = table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        F.when(F.dayofmonth(F.to_date("ts")) <= 15, 1)
        .otherwise(2)
        .alias("period"),
        (F.col("value") * 100).cast("bigint").alias("vc"),
    )
    seg = e.groupBy("event_type").agg(
        F.sum(F.when(F.col("period") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("period") == 1, F.col("vc")).otherwise(0)).alias(
            "s1"
        ),
        F.sum(F.when(F.col("period") == 2, 1).otherwise(0)).alias("n2"),
        F.sum(F.when(F.col("period") == 2, F.col("vc")).otherwise(0)).alias(
            "s2"
        ),
    )
    tot = seg.agg(
        F.sum("n1").alias("t1"), F.sum("n2").alias("t2")
    )
    m = seg.crossJoin(F.broadcast(tot)).filter(
        (F.col("n1") > 0) & (F.col("n2") > 0)
    )
    w1 = F.col("n1").cast("double") / F.col("t1").cast("double")
    w2 = F.col("n2").cast("double") / F.col("t2").cast("double")
    r1 = F.col("s1").cast("double") / F.col("n1").cast("double")
    r2 = F.col("s2").cast("double") / F.col("n2").cast("double")

    q = dround  # the fixed-point quantizer IS the shared helper

    return m.select(
        "event_type",
        q(w1, 9).alias("w1"),
        q(w2, 9).alias("w2"),
        q(r1, 7).alias("r1_cents"),
        q(r2, 7).alias("r2_cents"),
        q((w2 - w1) * r1, 7).alias("mix_effect"),
        q(w1 * (r2 - r1), 7).alias("rate_effect"),
        q((w2 - w1) * (r2 - r1), 7).alias("interaction_effect"),
    )
