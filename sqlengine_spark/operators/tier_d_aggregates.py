"""Tier D — aggregations (SURVEY.md §2 tier D).

All aggregates are expressed with built-in ``pyspark.sql.functions`` so
Spark plans partial(map-side)+final HashAggregate automatically — the
shape that scales: at 100 TB the partial agg collapses each input
partition to |groups| rows before the shuffle, so the exchange moves
group cardinality, not data cardinality.

Float policy (SURVEY §5.4 R1): every float aggregate is ROUND()ed
identically in Spark and the DuckDB oracle so association-order ulp
drift cannot flip the driver's value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sqlengine_spark.functions import dround
from sqlengine_spark.registry import query
from sqlengine_spark.session import load_tables, table

#: Exact distinct users per event type: one answer, two exact
#: strategies (d_agg_salted, d_agg_bitmap_distinct).
_DISTINCT_USERS_ORACLE = """
    SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct
    FROM events GROUP BY event_type
    """


@query(
    "d_agg_q1_pricing",
    oracle="""
    SELECT
        l_returnflag,
        l_linestatus,
        ROUND(SUM(l_quantity), 2)                                        AS sum_qty,
        ROUND(SUM(l_extendedprice), 2)                                   AS sum_base_price,
        ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
        ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
        ROUND(AVG(l_quantity), 4)                                        AS avg_qty,
        ROUND(AVG(l_extendedprice), 4)                                   AS avg_price,
        ROUND(AVG(l_discount), 4)                                        AS avg_disc,
        COUNT(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def d_agg_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship (TPC-H Q1 shape): pricing summary report.

    Scan → filter (pushed to parquet) → partial agg → shuffle on the
    2-value group key → final agg. Group cardinality is 6, so the
    shuffle is O(partitions·6) rows regardless of input size — this
    plan is scale-invariant.
    """
    # Submitted as ONE spark.sql statement (round 5): the DataFrame
    # form's 7 dround-wrapped aggregates cost ~35 Py4J round trips of
    # pure driver-side plan construction per invocation — paired
    # interleaved at sf0.1: 0.432 → 0.310 s median. Identical plan and
    # values (the ROUND(x·10^n)/10^n + 0.0 spelling IS dround).
    load_tables(spark, sf_dir, ("lineitem",))
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity) * 100) / 100 + 0.0 AS sum_qty,
               ROUND(SUM(l_extendedprice) * 100) / 100 + 0.0
                   AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)) * 100) / 100
                   + 0.0 AS sum_disc_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax))
                     * 100) / 100 + 0.0 AS sum_charge,
               ROUND(AVG(l_quantity) * 1e4) / 1e4 + 0.0 AS avg_qty,
               ROUND(AVG(l_extendedprice) * 1e4) / 1e4 + 0.0 AS avg_price,
               ROUND(AVG(l_discount) * 1e4) / 1e4 + 0.0 AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        """
    )


@query(
    "d_agg_having",
    oracle="""
    SELECT c_nationkey, COUNT(*) AS n_customers
    FROM customer
    GROUP BY c_nationkey
    HAVING COUNT(*) > 60
    """,
)
def d_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING) = .agg().filter() — the filter
    runs on |groups| rows after the final agg, never on the fact table."""
    return (
        table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_customers"))
        .filter(F.col("n_customers") > 60)
    )


@query(
    "d_agg_count_distinct",
    oracle="""
    SELECT c_mktsegment, COUNT(DISTINCT c_custkey) AS n_customers
    FROM customer GROUP BY c_mktsegment
    """,
)
def d_agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(F.countDistinct("c_custkey").alias("n_customers"))
    )


@query(
    "d_agg_multi_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps
    FROM lineitem GROUP BY l_returnflag
    """,
)
def d_agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two DISTINCT aggs in one query — Spark plans this with Expand
    (one row per distinct-group), keeping a single shuffle pass."""
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
        )
    )


@query(
    "d_agg_rollup",
    oracle="""
    SELECT r_name, n_name, COUNT(*) AS n_customers,
           CAST(GROUPING(r_name) AS INT) AS g_r,
           CAST(GROUPING(n_name) AS INT) AS g_n
    FROM region
    JOIN nation   ON r_regionkey = n_regionkey
    JOIN customer ON n_nationkey = c_nationkey
    GROUP BY ROLLUP(r_name, n_name)
    """,
)
def d_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer")
    joined = r.join(n, r.r_regionkey == n.n_regionkey).join(
        c, n.n_nationkey == c.c_nationkey
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count("*").alias("n_customers"),
        F.grouping("r_name").cast("int").alias("g_r"),
        F.grouping("n_name").cast("int").alias("g_n"),
    )


@query(
    "d_agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           COUNT(*) AS cnt
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
)
def d_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(dround(F.sum("l_quantity"), 2).alias("sum_qty"), F.count("*").alias("cnt"))
    )


@query(
    "d_agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_extendedprice), 2) AS sum_price,
           COUNT(*) AS cnt
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def d_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL entry point (SURVEY §3.1) —
    same Catalyst Expand-based plan as rollup/cube."""
    load_tables(spark, sf_dir, ("lineitem",))
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_extendedprice), 2) AS sum_price,
               COUNT(*) AS cnt
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "d_agg_stats",
    oracle="""
    SELECT l_linestatus,
           ROUND(stddev_samp(l_quantity), 4)            AS sd_qty,
           ROUND(var_samp(l_quantity), 4)               AS var_qty,
           ROUND(corr(l_quantity, l_extendedprice), 4)  AS corr_qty_price,
           ROUND(covar_samp(l_quantity, l_discount), 4) AS covar_qty_disc
    FROM lineitem GROUP BY l_linestatus
    """,
)
def d_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        dround(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        dround(F.var_samp("l_quantity"), 4).alias("var_qty"),
        dround(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        dround(F.covar_samp("l_quantity", "l_discount"), 4).alias("covar_qty_disc"),
    )


@query(
    "d_agg_minmax_by",
    oracle="""
    SELECT c_nationkey,
           arg_max(c_name, c_acctbal) AS richest,
           arg_min(c_name, c_acctbal) AS poorest
    FROM customer GROUP BY c_nationkey
    """,
)
def d_agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by ↔ DuckDB arg_max/arg_min. c_acctbal is a continuous
    double — ties are measure-zero; verified tie-free at sf0.01."""
    c = table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.max_by("c_name", "c_acctbal").alias("richest"),
        F.min_by("c_name", "c_acctbal").alias("poorest"),
    )


@query(
    "d_agg_collect_sorted",
    oracle="""
    SELECT c_nationkey, string_agg(c_name, '|' ORDER BY c_name) AS names
    FROM customer GROUP BY c_nationkey
    """,
)
def d_agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic list agg: collect_list has no intrinsic order in a
    distributed engine, so sort the array post-hoc (SURVEY §5.4 R2).

    The sorted list is serialized with '|' (vs d_agg_string_agg's ','):
    the driver's pandas canonicalizer cannot hash raw ArrayType cells
    (round-1 failure), so oracled outputs never project bare arrays —
    repo-wide rule, see VERDICT.md round 1 item 2.
    """
    c = table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.array_join(F.array_sort(F.collect_list("c_name")), "|").alias("names")
    )


@query(
    "d_agg_string_agg",
    oracle="""
    SELECT c_nationkey, string_agg(c_name, ',' ORDER BY c_name) AS names
    FROM customer GROUP BY c_nationkey
    """,
)
def d_agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.array_join(F.array_sort(F.collect_list("c_name")), ",").alias("names")
    )


@query(
    "d_agg_mode",
    oracle="""
    SELECT l_returnflag, l_quantity AS mode_qty, cnt FROM (
        SELECT l_returnflag, l_quantity, COUNT(*) AS cnt,
               row_number() OVER (PARTITION BY l_returnflag
                                  ORDER BY COUNT(*) DESC, l_quantity) AS rn
        FROM lineitem GROUP BY l_returnflag, l_quantity
    ) WHERE rn = 1
    """,
)
def d_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode: most frequent quantity per return flag,
    smallest-value tiebreak — built from count + rank rather than the
    engines' mode() aggregates, whose tie-breaking is unspecified and
    engine-dependent. Two map-side-combined aggregations; the rank runs
    over |groups| rows."""
    from pyspark.sql import Window as W

    li = table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(F.count("*").alias("cnt"))
    w = W.partitionBy("l_returnflag").orderBy(F.col("cnt").desc(), "l_quantity")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_returnflag", F.col("l_quantity").alias("mode_qty"), "cnt")
    )


@query(
    "d_unpivot",
    oracle="""
    SELECT c_custkey, metric, val FROM (
        SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS val FROM customer
        UNION ALL
        SELECT c_custkey, 'nationkey' AS metric, c_nationkey::DOUBLE AS val
        FROM customer
    )
    """,
)
def d_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt), the inverse of d_pivot — Spark 4's
    native unpivot; the oracle is the equivalent UNION ALL stack.
    Zero-shuffle: each input row expands to |metrics| rows in place."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_nationkey").cast("double").alias("nationkey"),
    ).unpivot("c_custkey", ["acctbal", "nationkey"], "metric", "val")


@query(
    "d_agg_bool",
    oracle="""
    SELECT l_returnflag,
           bool_and(l_discount < 0.2)  AS all_low_disc,
           bool_or(l_quantity >= 49)   AS any_big_qty,
           COUNT(*) FILTER (WHERE l_tax = 0) AS n_taxfree
    FROM lineitem GROUP BY l_returnflag
    """,
)
def d_agg_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates (every/any) + filtered count — predicate
    summaries per group, all map-side combined."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.every(F.col("l_discount") < 0.2).alias("all_low_disc"),
        F.some(F.col("l_quantity") >= 49).alias("any_big_qty"),
        F.count_if(F.col("l_tax") == 0).alias("n_taxfree"),
    )


@query("d_agg_approx_distinct")  # rows-only: HLL sketches differ across engines
def d_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct count — THE 100 TB cardinality estimator:
    fixed-size sketch per partition, merged at the driver, no shuffle of
    distinct values. Accuracy asserted vs exact count in pytest (±5%)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("approx_orders")
    )


@query("d_agg_approx_quantile")  # rows-only: approx algorithms differ across engines
def d_agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna approximate percentiles — mergeable sketch,
    single pass, the scale path for quantiles. Accuracy vs exact
    percentile asserted in pytest."""
    o = table(spark, sf_dir, "orders")
    return o.agg(
        F.percentile_approx("o_totalprice", 0.5).alias("p50"),
        F.percentile_approx("o_totalprice", 0.95).alias("p95"),
    )


@query(
    "d_agg_percentile_exact",
    oracle="""
    SELECT o_orderstatus,
           ROUND(quantile_cont(o_totalprice, 0.5), 2)  AS p50,
           ROUND(quantile_cont(o_totalprice, 0.95), 2) AS p95
    FROM orders GROUP BY o_orderstatus
    """,
)
def d_agg_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentile (Spark `percentile` ≡ DuckDB
    `quantile_cont`, both linear interpolation)."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        dround(F.percentile("o_totalprice", F.lit(0.5)), 2).alias("p50"),
        dround(F.percentile("o_totalprice", F.lit(0.95)), 2).alias("p95"),
    )


@query(
    "d_pivot",
    oracle="""
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click')    AS click,
           count(*) FILTER (WHERE event_type = 'error')    AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS signup,
           count(*) FILTER (WHERE event_type = 'view')     AS view
    FROM events GROUP BY user_id
    """,
)
def d_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (no extra distinct-values job —
    at scale, always pass the list). Missing cells coalesced to 0 to
    match SQL conditional-count semantics."""
    ev = table(spark, sf_dir, "events")
    kinds = ["click", "error", "purchase", "signup", "view"]
    piv = ev.groupBy("user_id").pivot("event_type", kinds).count()
    return piv.select(
        "user_id",
        *[F.coalesce(F.col(k), F.lit(0)).cast("long").alias(k) for k in kinds],
    )


@query(
    "d_agg_histogram",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 25000) AS BIGINT) AS bucket,
           COUNT(*) AS cnt,
           ROUND(MIN(o_totalprice) * 100, 0) / 100 AS lo,
           ROUND(MAX(o_totalprice) * 100, 0) / 100 AS hi
    FROM orders GROUP BY bucket
    """,
)
def d_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals (25k-wide bins): the
    binning profile step every data-distribution check runs before
    choosing partition bounds. Bin id is floor(x / width) — double
    division then floor, identical in both engines (Spark floor returns
    BIGINT natively; the oracle casts DuckDB's DOUBLE floor to match,
    measured-pin rule).

    Scale: map-side partial agg into |bins| groups — scale-invariant
    like every plain groupBy here."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy(
        F.floor(F.col("o_totalprice") / 25000).alias("bucket")
    ).agg(
        F.count("*").alias("cnt"),
        dround(F.min("o_totalprice"), 2).alias("lo"),
        dround(F.max("o_totalprice"), 2).alias("hi"),
    )


@query("d_agg_salted", oracle=_DISTINCT_USERS_ORACLE)
def d_agg_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-stage count-distinct (skew.salted_agg) registered as
    an engine operator: 5 hot event_type keys would each pin their whole
    distinct-set state on one reducer under a plain GROUP BY; salting on
    xxhash64(value) % 16 splits every hot key's state across 16 tasks
    and a second stage sums the per-salt partials. EXACT (each distinct
    value lands in exactly one salt bucket) — the oracle is the plain
    COUNT(DISTINCT), which is the point.

    Scale: this is the aggregation-side skew recipe for power-law keys
    whose state can't partial-aggregate (distinct sets, collect_list);
    plain sums/counts never need it."""
    from sqlengine_spark.skew import salted_agg

    ev = table(spark, sf_dir, "events")
    return salted_agg(ev, key="event_type", value="user_id")


@query(
    "d_agg_regr",
    oracle="""
    SELECT l_returnflag,
           ROUND(regr_slope(l_extendedprice, l_quantity) * 1e6, 0) / 1e6 + 0
               AS slope,
           ROUND(regr_intercept(l_extendedprice, l_quantity) * 100, 0) / 100
               AS intercept,
           ROUND(regr_r2(l_extendedprice, l_quantity) * 1e8, 0) / 1e8 + 0
               AS r2,
           regr_count(l_extendedprice, l_quantity) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def d_agg_regr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregate family: OLS slope, intercept, R² and
    pair count of extendedprice on quantity per returnflag — the
    in-database model-fitting surface (identical co-moment formulas in
    both engines; probed equal to 8 dp on the fixture).

    Scale: regr_* are algebraic aggregates (sums of x, y, xy, x², y²) —
    partial+final HashAggregate around one exchange carrying |groups|
    rows, exactly like SUM. The +0 pin maps -0.0 slopes to +0.0."""
    l = table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        dround(F.regr_slope("l_extendedprice", "l_quantity"), 6).alias("slope"),
        dround(F.regr_intercept("l_extendedprice", "l_quantity"), 2).alias(
            "intercept"
        ),
        dround(F.regr_r2("l_extendedprice", "l_quantity"), 8).alias("r2"),
        F.regr_count("l_extendedprice", "l_quantity").alias("n"),
    )


@query(
    "d_agg_moments",
    oracle="""
    WITH mu AS (
        SELECT l_linestatus, AVG(l_quantity) AS mu
        FROM lineitem GROUP BY l_linestatus
    ),
    cm AS (
        SELECT l.l_linestatus,
               COUNT(*)                            AS n,
               AVG(pow(l_quantity - mu, 2))        AS m2,
               AVG(pow(l_quantity - mu, 3))        AS m3,
               AVG(pow(l_quantity - mu, 4))        AS m4
        FROM lineitem l JOIN mu USING (l_linestatus)
        GROUP BY l.l_linestatus
    )
    SELECT l_linestatus, n,
           ROUND(m2 * 1e4, 0) / 1e4 AS var_pop,
           ROUND(m3 / pow(m2, 1.5) * 1e6, 0) / 1e6 + 0 AS skew,
           ROUND((m4 / pow(m2, 2) - 3) * 1e6, 0) / 1e6 + 0 AS ex_kurtosis
    FROM cm
    """,
)
def d_agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Central moments, skewness and excess kurtosis of quantity per
    linestatus — computed from explicit two-pass central moments rather
    than the built-in skewness()/kurtosis(), because Spark uses the
    population (g1) definition while DuckDB applies sample corrections;
    pinning the formula (m3/m2^1.5, m4/m2²−3) makes both engines
    bit-comparable. Two-pass beats raw power sums at scale: centered
    terms stay O(range⁴) instead of O(value⁴), so the association-order
    float error stays far below the rounding pin even at 10⁹ rows.

    Scale: pass 1 is a tiny per-group AVG (broadcast back), pass 2 a
    partial+final agg on the same key — two exchanges carrying |groups|
    rows each; the broadcast join adds no shuffle of the fact table."""
    l = table(spark, sf_dir, "lineitem")
    mu = l.groupBy("l_linestatus").agg(F.avg("l_quantity").alias("mu"))
    cent = F.col("l_quantity") - F.col("mu")
    cm = (
        l.join(F.broadcast(mu), "l_linestatus")
        .groupBy("l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.avg(F.pow(cent, 2)).alias("m2"),
            F.avg(F.pow(cent, 3)).alias("m3"),
            F.avg(F.pow(cent, 4)).alias("m4"),
        )
    )
    return cm.select(
        "l_linestatus",
        "n",
        dround(F.col("m2"), 4).alias("var_pop"),
        dround(F.col("m3") / F.pow("m2", 1.5), 6).alias("skew"),
        dround(F.col("m4") / F.pow("m2", 2) - 3, 6).alias("ex_kurtosis"),
    )


@query("d_agg_hll_merge")  # rows-only: Datasketches HLL binaries are engine-specific
def d_agg_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup — the 100 TB pre-aggregation pattern: a
    per-nation Datasketches HLL sketch table is materialized ONCE
    (fixed-size binary per group, computed in one partial-agg pass),
    then ANY coarser rollup — here the global customer cardinality —
    re-aggregates the stored sketches via hll_union_agg without
    touching raw data again. This is what makes count-distinct
    dashboards incremental at scale: sketches compose, exact distincts
    don't. Output is estimates only (the sketch binaries stay
    internal); pytest asserts every estimate within 5% of exact and
    the merged estimate consistent with the per-nation sketch table.

    Scale: the sketch table is |nations| x ~1.5 KB regardless of row
    count; the rollup pass reads only that. Incremental maintenance =
    union the new partition's sketch in — O(sketch) per update.
    """
    c = table(spark, sf_dir, "customer")
    sketches = c.groupBy("c_nationkey").agg(
        F.hll_sketch_agg("c_custkey").alias("sk")
    )
    per_nation = sketches.select(
        F.col("c_nationkey").cast("int").alias("scope_key"),
        F.hll_sketch_estimate("sk").cast("bigint").alias("est_customers"),
    )
    merged = sketches.agg(F.hll_union_agg("sk").alias("sk")).select(
        F.lit(-1).alias("scope_key"),
        F.hll_sketch_estimate("sk").cast("bigint").alias("est_customers"),
    )
    return per_nation.unionByName(merged).orderBy("scope_key")


@query("d_agg_theta_setops")  # rows-only: Datasketches Theta binaries are engine-specific
def d_agg_theta_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set algebra — the estimator HLL cannot be: distinct
    AUDIENCE OVERLAP. Two customer segments (BUILDING-segment customers
    and customers with a >300k order) each reduce to a fixed-size Theta
    sketch; union, intersection, and difference cardinalities then come
    from sketch algebra alone. HLL only unions; Theta's retained-hash
    sample supports ∩ and \\ — the cross-segment audience question every
    growth dashboard asks. pytest asserts all five estimates within 5%
    of exact and the inclusion-exclusion identity |A|+|B| = |A∪B|+|A∩B|
    on the estimates themselves (it holds exactly in Theta algebra).

    Scale: each segment's sketch builds in one partial-agg pass over
    its side (fixed-size state, mergeable across partitions); the set
    algebra runs on two sketch binaries — O(sketch), zero data motion.
    Storing per-(day, segment) sketches makes every pairwise overlap
    query a metadata read at 100 TB.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    seg_a = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("k")
    )
    seg_b = o.filter(F.col("o_totalprice") > 300000).select(
        F.col("o_custkey").alias("k")
    )
    sk = (
        seg_a.agg(F.theta_sketch_agg("k").alias("sa"))
        .crossJoin(seg_b.agg(F.theta_sketch_agg("k").alias("sb")))
    )
    return sk.select(
        F.theta_sketch_estimate(F.col("sa")).cast("bigint").alias("n_a"),
        F.theta_sketch_estimate(F.col("sb")).cast("bigint").alias("n_b"),
        F.theta_sketch_estimate(F.theta_union(F.col("sa"), F.col("sb")))
        .cast("bigint")
        .alias("n_union"),
        F.theta_sketch_estimate(F.theta_intersection(F.col("sa"), F.col("sb")))
        .cast("bigint")
        .alias("n_intersect"),
        F.theta_sketch_estimate(F.theta_difference(F.col("sa"), F.col("sb")))
        .cast("bigint")
        .alias("n_a_only"),
    )


#: Misra-Gries capacity per partition. Correctness condition for the
#: exact-recount pipeline: merged MG undercounts any item by at most
#: n_partition_rows / capacity, so every item with true count >
#: n / capacity survives to the candidate set. 64 counters >> the
#: fixture's 31-token vocabulary (the sketch is lossless there) and at
#: 100 TB bounds candidate-set size regardless of vocabulary size.
MG_CAPACITY = 64
HH_TOP_K = 10


@query(
    "d_agg_heavy_hitters",
    oracle="""
    SELECT t AS token, COUNT(*) AS cnt
    FROM (SELECT unnest(string_split(lower(text), ' ')) AS t
          FROM documents)
    GROUP BY t
    ORDER BY cnt DESC, t
    LIMIT 10
    """,
)
def d_agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate heavy hitters with exact verification — the
    two-phase sketch pipeline for top-k over streams too wide to fully
    aggregate: (1) each partition runs a Misra-Gries summary (bounded
    memory: MG_CAPACITY counters, one pass) over its token stream via
    Arrow-batched mapInPandas; (2) the per-partition summaries (≤
    capacity rows each — NOT the raw stream) merge into a candidate
    set; (3) candidates alone are recounted EXACTLY with one filtered
    aggregation, and the top-k of the recount is emitted. MG's
    undercount bound (≤ n/capacity per item) guarantees the candidate
    set contains every item whose frequency exceeds n/capacity, so for
    k ≪ capacity the final top-k is provably the TRUE top-k — which is
    why the oracle is the plain exact SQL and this hash-matches.

    Scale: phase 1 is map-only with O(capacity) state per task; phase 2
    shuffles ≤ capacity × partitions summary rows; phase 3's recount
    filter (isin over ≤ capacity candidates) folds into the scan. The
    raw stream is never globally shuffled by token — at 100 TB that is
    the difference between this plan and d_agg/groupBy top-k whose
    shuffle carries every distinct token."""
    import pandas as pd

    d = table(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split(F.lower("text"), " ")).alias("t"))

    def mg_partition(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for t in pdf["t"]:
                if t in counters:
                    counters[t] += 1
                elif len(counters) < MG_CAPACITY:
                    counters[t] = 1
                else:
                    dead = [k for k in counters if counters[k] == 1]
                    for k in dead:
                        del counters[k]
                    for k in counters:
                        counters[k] -= 1
        if counters:
            yield pd.DataFrame(
                {"t": list(counters), "c": list(counters.values())}
            )

    summaries = tok.mapInPandas(mg_partition, "t string, c long")
    candidates = [
        r["t"]
        for r in summaries.groupBy("t")
        .agg(F.sum("c").alias("c"))
        .orderBy(F.col("c").desc(), "t")
        .limit(MG_CAPACITY)
        .collect()  # bounded: <= MG_CAPACITY candidate tokens (64)
    ]
    return (
        tok.filter(F.col("t").isin(candidates))
        .groupBy(F.col("t").alias("token"))
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "token")
        .limit(HH_TOP_K)
    )


@query(
    "d_agg_countmin",
    oracle="""
    WITH tok AS (
        SELECT unnest(string_split(lower(text), ' ')) AS t FROM documents
    ),
    cnt AS (SELECT t, COUNT(*) AS n FROM tok GROUP BY t),
    keyed AS (
        SELECT c.t, c.n, r.j,
               CAST(('0x' || substring(
                         md5(c.t || '#' || CAST(r.j AS VARCHAR)), 1, 8))
                    AS BIGINT) % 64 AS bucket
        FROM cnt c CROSS JOIN range(4) r(j)
    ),
    grid AS (SELECT j, bucket, SUM(n) AS cell FROM keyed GROUP BY j, bucket)
    SELECT k.t, MIN(k.n) AS exact_n, CAST(MIN(g.cell) AS BIGINT) AS cm_est
    FROM keyed k JOIN grid g ON k.j = g.j AND k.bucket = g.bucket
    GROUP BY k.t
    """,
)
def d_agg_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch: token frequencies compressed into a fixed
    4 x 64 counter grid (depth d rows of width w, cell[j][h_j(t)] +=
    count), point-estimated back as min over depths — the mergeable
    frequency sketch that answers "how often does X occur" in O(d*w)
    state regardless of stream size, complementing d_agg_heavy_hitters'
    Misra-Gries (which finds WHICH keys are frequent; CM answers
    point queries for ANY key, with one-sided overestimate error
    <= 2N/w at probability 1 - 2^-d). Hashes are the repo's
    cross-engine md5 idiom, so the whole sketch - including its
    collision overestimates - is bit-reproducible and hash-verified
    against DuckDB; the output carries exact_n alongside cm_est so the
    overestimate-only invariant is visible in the result itself.

    Scale: the insert pass is a partial+final hash agg on the token
    (|vocab| rows), the grid build a second agg on (depth, bucket)
    (d*w = 256 rows), and the estimate join broadcasts the 256-cell
    grid - every structure past the first agg is CONSTANT-sized, which
    is the entire point of a sketch at 100 TB: per-partition grids
    merge by cell-wise SUM (demonstrated here by the two-level agg),
    ship in kilobytes, and never depend on row count.
    """
    depth, width = 4, 64
    d = table(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split(F.lower("text"), " ")).alias("t"))
    cnt = tok.groupBy("t").agg(F.count("*").alias("n"))
    keyed = cnt.select(
        "t",
        "n",
        F.explode(F.array(*[F.lit(j) for j in range(depth)])).alias("j"),
    ).withColumn(
        "bucket",
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("t"), F.lit("#"), F.col("j").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % width,
    )
    grid = keyed.groupBy("j", "bucket").agg(F.sum("n").alias("cell"))
    return (
        keyed.join(F.broadcast(grid), ["j", "bucket"])
        .groupBy("t")
        .agg(
            F.min("n").alias("exact_n"),
            F.min("cell").cast("bigint").alias("cm_est"),
        )
    )


@query(
    "d_agg_quantile_rollup",
    oracle="""
    WITH sk AS (
      SELECT n_regionkey AS rk, n_nationkey AS nk,
             CAST(LEAST(FLOOR((c_acctbal + 1000.0) / 343.75), 31) AS BIGINT) AS bin,
             COUNT(*) AS cnt
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2, 3
    ),
    merged AS (SELECT rk, bin, SUM(cnt) AS cnt FROM sk GROUP BY 1, 2),
    cum AS (SELECT rk, bin, cnt,
                   SUM(cnt) OVER (PARTITION BY rk ORDER BY bin) AS cum,
                   SUM(cnt) OVER (PARTITION BY rk) AS total
            FROM merged),
    pick AS (SELECT rk, bin, cnt, cum, total,
                    row_number() OVER (PARTITION BY rk ORDER BY bin) AS rn
             FROM cum WHERE cum >= total / 2.0),
    ex AS (SELECT n_regionkey AS rk, quantile_cont(c_acctbal, 0.5) AS m
           FROM customer JOIN nation ON c_nationkey = n_nationkey
           GROUP BY 1)
    SELECT r_name,
           CAST(total AS BIGINT) AS n_customers,
           ROUND((-1000.0 + bin * 343.75
                  + 343.75 * (total / 2.0 - (cum - cnt)) / cnt) * 10000, 0)
             / 10000 + 0 AS p50_est,
           ROUND(m * 100, 0) / 100 + 0 AS p50_exact
    FROM pick
    JOIN region ON rk = r_regionkey
    JOIN ex USING (rk)
    WHERE rn = 1
    """,
)
def d_agg_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-HISTOGRAM quantile rollup: per-nation 32-bin
    equi-width count sketches of customer balance are MERGED up to
    region level (bin-wise sum — the associative sketch-union), and
    the region p50 is interpolated from the merged counts; the exact
    interpolated median runs alongside so the estimate's error is
    visible in the output (bounded by one bin width, pinned in
    tests/test_sketches.py). This is the deterministic member of the
    sketch family (HLL / Theta / Count-Min / Misra-Gries are all
    rows-only by nature): every arithmetic step — FLOOR binning on
    exactly-representable 343.75-wide bins over the pinned
    [-1000, 10000) domain, integer counts, one double interpolation —
    is bit-reproducible in both engines, so the rollup itself is
    hash-verified, not just accuracy-asserted.

    Scale: the pre-aggregated sketch table is |groups|×|bins| rows —
    the same two-level pattern as d_agg_hll_merge (store per-shard
    sketches once, re-merge for any coarser grouping without touching
    the raw data). Merging is a keyed partial+final SUM; the
    interpolation runs on |groups| rows. At 100 TB the raw scan
    happens once to build the sketch table; every subsequent quantile
    query over any rollup level reads only sketches. Fixed-width bins
    keep the sketch mergeable with no re-binning; production systems
    grade to t-digest/KLL when domains are unbounded."""
    width = 11000.0 / 32  # 343.75, exactly representable
    c = table(spark, sf_dir, "customer")
    n = F.broadcast(table(spark, sf_dir, "nation"))
    r = F.broadcast(table(spark, sf_dir, "region"))
    joined = c.join(n, c.c_nationkey == n.n_nationkey)
    sketch = (
        joined.groupBy(
            F.col("n_regionkey").alias("rk"),
            F.col("n_nationkey").alias("nk"),
            F.least(
                F.floor((F.col("c_acctbal") + 1000.0) / width), F.lit(31)
            ).alias("bin"),
        ).agg(F.count("*").alias("cnt"))
    )
    merged = sketch.groupBy("rk", "bin").agg(F.sum("cnt").alias("cnt"))
    w_cum = W.partitionBy("rk").orderBy("bin")
    w_all = W.partitionBy("rk")
    cum = merged.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "total", F.sum("cnt").over(w_all)
    )
    pick = (
        cum.filter(F.col("cum") >= F.col("total") / 2.0)
        .withColumn("rn", F.row_number().over(w_cum))
        .filter(F.col("rn") == 1)
    )
    est = (
        F.lit(-1000.0)
        + F.col("bin") * width
        + width * (F.col("total") / 2.0 - (F.col("cum") - F.col("cnt"))) / F.col("cnt")
    )
    exact = joined.groupBy(F.col("n_regionkey").alias("rk")).agg(
        dround(F.percentile("c_acctbal", F.lit(0.5)), 2).alias("p50_exact")
    )
    return (
        pick.join(r, F.col("rk") == F.col("r_regionkey"))
        .join(exact, "rk")
        .select(
            "r_name",
            F.col("total").cast("bigint").alias("n_customers"),
            dround(est, 4).alias("p50_est"),
            "p50_exact",
        )
    )


@query(
    "d_agg_percentile_disc",
    oracle="""
    SELECT o_orderstatus,
           quantile_disc(o_totalprice, 0.5) AS p50,
           quantile_disc(o_totalprice, 0.9) AS p90
    FROM orders GROUP BY o_orderstatus
    """,
)
def d_agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISCRETE percentile (PERCENTILE_DISC ... WITHIN GROUP, the
    SQL:2003 inverse-distribution form, via the SQL entry point): picks
    an ACTUAL data value (smallest value whose cumulative distribution
    ≥ p) rather than interpolating — the variant audits want when the
    reported quantile must be a real observed row. Spark's
    percentile_disc ≡ DuckDB quantile_disc (verified value-identical on
    this data; no rounding needed since outputs are raw data values —
    the only float-safe unrounded aggregate besides MIN/MAX).

    Scale: same partial+final percentile aggregation as
    d_agg_percentile_exact — per-group sorted digest, |groups| output
    rows."""
    load_tables(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderstatus,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS p50,
               percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice) AS p90
        FROM orders GROUP BY o_orderstatus
        """
    )


@query("d_agg_bitmap_distinct", oracle=_DISTINCT_USERS_ORACLE)
def d_agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via mergeable BITMAPS (Spark 3.5+'s
    ``bitmap_bucket_number`` / ``bitmap_bit_position`` /
    ``bitmap_construct_agg`` / ``bitmap_count``): each integer key
    sets one bit in a fixed-width bucket bitmap, per-(group, bucket)
    bitmaps OR together associatively, and popcounts sum to the exact
    NDV. This is the EXACT counterpart of the HLL family
    (d_agg_approx_distinct / d_agg_hll_merge): same mergeable-sketch
    algebra — store per-shard bitmaps once, re-OR for any rollup
    without rescanning — but bit-exact, which is why warehouses use it
    for integer keys (user ids, order keys) and HLL only where keys
    are unbounded. The oracle is plain COUNT(DISTINCT): the bitmap
    pipeline must reproduce it exactly, not approximately.

    Scale: the shuffle carries (group, bucket) bitmaps — 4 KB per
    32768-key bucket regardless of row count, with map-side partial
    OR-ing; versus COUNT(DISTINCT)'s expand/shuffle of every distinct
    (group, key) pair. At a billion users per group that is the
    difference between shipping ~125 K bitmap rows and a billion key
    rows; the bitmap table is also INCREMENTAL (new data ORs in).
    Key-space cost is the trade: dense bitmaps want compression
    (roaring) when key domains are sparse."""
    load_tables(spark, sf_dir, ("events",))
    return spark.sql(
        """
        SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n_distinct FROM (
            SELECT event_type,
                   bitmap_count(
                       bitmap_construct_agg(bitmap_bit_position(user_id))
                   ) AS cnt
            FROM events
            GROUP BY event_type, bitmap_bucket_number(user_id)
        ) GROUP BY event_type
        """
    )


@query(
    "d_agg_grouping_id",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(2 * GROUPING(l_returnflag) + GROUPING(l_linestatus)
                AS BIGINT) AS gid,
           COUNT(*) AS cnt
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
)
def d_agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``grouping_id()`` — the BITMASK that tells cube/rollup consumers
    WHICH aggregation level each output row belongs to (0 = detail,
    3 = grand total here), the standard dispatch key when one cube
    feeds several downstream reports. DuckDB 1.0 has no grouping_id
    function, so the oracle reconstructs the identical bitmask from
    per-column GROUPING() flags (2·g(a) + g(b)) — pinning the bit
    ORDER (left group key = high bit), which is the part that varies
    across engines and burns people.

    Scale: same Expand-based plan as d_agg_cube; the id is free
    metadata on each output row."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus").agg(
            F.grouping_id().alias("gid"), F.count("*").alias("cnt")
        )
    ).select("l_returnflag", "l_linestatus", "gid", "cnt")


@query(
    "d_agg_listagg",
    oracle="""
    SELECT o_orderpriority,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
               AS statuses,
           string_agg(CAST(o_orderkey AS VARCHAR), '|'
                      ORDER BY o_totalprice DESC, o_orderkey)
               FILTER (o_totalprice > 450000) AS top_orders
    FROM orders GROUP BY o_orderpriority
    """,
)
def d_agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL:2023 LISTAGG (Spark 4.0) — ``listagg(expr, sep) WITHIN
    GROUP (ORDER BY ...)``, the standard's spelling of ordered string
    aggregation, exercised with its two qualifiers: DISTINCT (the
    de-duplicated status roster) and a FILTER clause ordering by a
    DIFFERENT column than it emits (top orders by price — something
    array_sort(collect_list) alone cannot express without a struct
    detour, which is exactly why the standard surface matters).

    Scale: one hash-partial aggregation per group key; the WITHIN
    GROUP sort is per-group bounded. Group text length is the one
    thing to watch at 100 TB — LISTAGG output is for bounded rosters
    (statuses, top-k ids), not unbounded corpus concatenation."""
    load_tables(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderpriority,
               listagg(DISTINCT o_orderstatus, ',')
                   WITHIN GROUP (ORDER BY o_orderstatus) AS statuses,
               listagg(CAST(o_orderkey AS STRING), '|')
                   WITHIN GROUP (ORDER BY o_totalprice DESC, o_orderkey)
                   FILTER (WHERE o_totalprice > 450000) AS top_orders
        FROM orders GROUP BY o_orderpriority
        """
    )


@query(
    "d_agg_group_by_all",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           year(o_orderdate) AS yr,
           COUNT(*) AS n,
           ROUND(SUM(o_totalprice) * 100, 0) / 100 AS revenue
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority, year(o_orderdate)
    ORDER BY o_orderstatus, o_orderpriority, yr
    """,
)
def d_agg_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL (Spark 3.4+/4, DuckDB-popularized):
    every non-aggregate select item becomes a grouping key, and ORDER
    BY ALL sorts by the full output column list — the exploratory-SQL
    ergonomics surface where the column list lives in ONE place so a
    projection edit cannot silently desynchronize the GROUP BY (the
    classic copy-paste aggregation bug). Resolves at analysis time to
    the identical explicit plan the oracle states: partial+final hash
    aggregate, bounded sort."""
    load_tables(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               year(o_orderdate) AS yr,
               COUNT(*) AS n,
               ROUND(SUM(o_totalprice) * 100) / 100 AS revenue
        FROM orders
        GROUP BY ALL
        ORDER BY ALL
        """
    )


@query(
    "d_agg_approx_top_k",
    oracle="""
    SELECT event_type AS item, CAST(COUNT(*) AS BIGINT) AS est_count
    FROM events GROUP BY event_type
    ORDER BY est_count DESC, item LIMIT 5
    """,
)
def d_agg_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``approx_top_k`` (Spark 4.1, DataSketches frequent-items): the
    fixed-memory top-k frequency sketch — at stream/corpus scale the
    exact GROUP BY needs |distinct| state while this tracks a bounded
    item set with guaranteed error bounds, and sketches merge across
    partitions (map-side partials, same mergeability story as the
    HLL/Theta tier). Here the tracked capacity (10 000) exceeds the
    column's true cardinality, so the sketch is provably EXACT and the
    result is SQL-oracle-able rather than rows-only — the same
    under-capacity-exactness pin d_agg_histogram uses. The array-of-
    struct sketch output is exploded to scalar rows (no container
    cells cross the driver boundary, CLAUDE.md rule 2) and re-ranked
    with a unique (count, item) total order.

    Scale: one partial+final sketch aggregation — O(capacity) state
    per task, one 1-row shuffle; the explode is driver-trivial."""
    ev = table(spark, sf_dir, "events")
    tk = ev.agg(F.expr("approx_top_k(event_type, 5, 10000)").alias("tk"))
    return (
        tk.select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("item"),
            F.col("e.count").cast("bigint").alias("est_count"),
        )
        .orderBy(F.col("est_count").desc(), "item")
    )


@query(
    "d_agg_chi2",
    oracle="""
    WITH o AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS obs
        FROM documents GROUP BY lang, source
    ), rt AS (
        SELECT lang, CAST(SUM(obs) AS BIGINT) AS r FROM o GROUP BY lang
    ), ct AS (
        SELECT source, CAST(SUM(obs) AS BIGINT) AS c FROM o GROUP BY source
    ), n AS (
        SELECT CAST(SUM(obs) AS BIGINT) AS n FROM o
    ), cells AS (
        SELECT o.obs,
               rt.r * CAST(ct.c AS DOUBLE) / (SELECT n FROM n) AS e
        FROM o JOIN rt ON rt.lang = o.lang JOIN ct ON ct.source = o.source
    )
    SELECT CAST((SELECT COUNT(*) FROM rt) AS BIGINT) AS n_rows,
           CAST((SELECT COUNT(*) FROM ct) AS BIGINT) AS n_cols,
           CAST(((SELECT COUNT(*) FROM rt) - 1)
                * ((SELECT COUNT(*) FROM ct) - 1) AS BIGINT) AS dof,
           (SELECT n FROM n) AS n_obs,
           ROUND(SUM(CAST(FLOOR((obs - e) * (obs - e) / e * 1e9 + 0.5)
                          AS BIGINT)) / 1e9 * 1e6) / 1e6 + 0.0 AS chi2
    FROM cells
    """,
)
def d_agg_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHI-SQUARED INDEPENDENCE TEST on the lang × source contingency
    table: χ² = Σ (observed − expected)²/expected with expected =
    row·col/n — the statistical companion to d_stat_crosstab that turns
    the contingency counts into a single dependence readout (is the
    language mix independent of the source?), plus the degrees of
    freedom a significance lookup needs.

    Determinism: expected counts are exact-integer products divided in
    double (identical both engines); each cell's χ² term is half-up
    quantized to 1e-9 fixed point BEFORE the sum, so the ≤ |langs|×
    |sources| cell additions are exact integers in any order (rule
    11e).

    Scale: one partial+final agg to the bounded cell grid, two
    broadcast-sized marginal joins, one bounded reduce — a constant
    plan at any corpus size.
    """
    d = table(spark, sf_dir, "documents")
    o = d.groupBy("lang", "source").agg(F.count("*").alias("obs")).localCheckpoint()
    rt = o.groupBy("lang").agg(F.sum("obs").alias("r"))
    ct = o.groupBy("source").agg(F.sum("obs").alias("c"))
    n = o.agg(F.sum("obs")).collect()[0][0]  # bounded: 1 scalar
    n_rows = rt.count()  # bounded: |langs|
    n_cols = ct.count()  # bounded: |sources|
    e = F.col("r") * F.col("c").cast("double") / F.lit(float(n))
    term = F.floor(
        (F.col("obs") - e) * (F.col("obs") - e) / e * 1e9 + 0.5
    ).cast("bigint")
    return (
        o.join(F.broadcast(rt), "lang")
        .join(F.broadcast(ct), "source")
        .agg(
            F.lit(n_rows).cast("bigint").alias("n_rows"),
            F.lit(n_cols).cast("bigint").alias("n_cols"),
            F.lit((n_rows - 1) * (n_cols - 1)).cast("bigint").alias("dof"),
            F.lit(n).cast("bigint").alias("n_obs"),
            dround(F.sum(term) / 1e9, 6).alias("chi2"),
        )
    )
