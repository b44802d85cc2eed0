"""Tier C — joins (SURVEY.md §2 tier C).

Scale notes: all equi-joins are declared, so Catalyst picks broadcast vs
shuffle strategy by size — every dim table here (region/nation/customer/
supplier/part) is far under autoBroadcastJoinThreshold, so fact⋈dim joins
plan as BroadcastHashJoin with zero fact-side shuffle (plan-asserted for
c_join_broadcast). At 100 TB the same plans hold: dims broadcast, the
fact table never moves except for fact⋈fact shuffles on the join key,
where AQE handles skew (SURVEY §4).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from sqlengine_spark.functions import dround
from sqlengine_spark.registry import query
from sqlengine_spark.session import load_tables, scratch, staged, table
from sqlengine_spark.skew import salted_join

#: Orders with their customer: one answer, two join strategies
#: (c_join_inner, c_join_broadcast).
_ORDERS_CUSTOMER_ORACLE = """
    SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    """


@query("c_join_inner", oracle=_ORDERS_CUSTOMER_ORACLE)
def c_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@query("c_join_broadcast", oracle=_ORDERS_CUSTOMER_ORACLE)
def c_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics as c_join_inner with an explicit broadcast hint —
    values must be identical; the plan (BroadcastHashJoin, no shuffle on
    orders) is asserted in tests/test_plans.py."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@query(
    "c_join_3way",
    oracle="""
    SELECT o_orderkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY o_orderkey
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def c_join_3way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape, eager-aggregation formulation (round-3 verdict
    item 4 — this was the worst bench anchor, 12× data-dependent).

    Plan, from the scan up:
    - lineitem pre-aggregates revenue per l_orderkey BEFORE the join
      (partial map-side combine + ONE keyed shuffle). Grouping key ==
      join key, so this is the classic eager-aggregation rewrite: the
      join input shrinks ~4× (lineitems → orders) and the post-join
      aggregate disappears entirely.
    - BUILDING customers broadcast into orders (explicit hint — a dim
      broadcast at any scale).
    - the surviving orderkey⋈orderkey join is hinted shuffle_hash with
      the FILTERED orders side as build: provably the smaller side
      (1/5 of orders, one row per key, uniform TPC-H keys, so the
      per-partition build map is bounded and skew-free), and a hash
      join skips the SMJ sort on both sides. Pinning the strategy also
      removes two AQE re-plan rounds per run — without the hint the
      static planner broadcast-builds the 600k-row LINEITEM projection
      at sf0.1 (measured: the fact side squeaks under the 10 MB
      threshold; wrong side, ~0.4 s slower).
    - top-10 plans as TakeOrderedAndProject (no global sort).
    Measured at sf0.1: 1.17 s → 0.52-0.83 s. Asserted in
    tests/test_plans.py::test_3way_preagg_shuffle_hash.

    Round-5: the same plan is submitted as ONE spark.sql statement
    (hints inline) instead of the chained DataFrame calls — each
    DataFrame method is its own Py4J round trip, so the 8-call chain
    paid ~0.05 s of pure driver-side plan-construction latency per
    invocation; the SQL string is a single Py4J call with JVM-side
    parsing. Paired-interleaved measurement (rule 8c): 0.581 → 0.526 s
    median at sf0.1, 8/8 pairs faster, identical plan and output."""
    load_tables(spark, sf_dir, ("customer", "orders", "lineitem"))
    return spark.sql(
        """
        SELECT o_orderkey, revenue FROM (
          SELECT /*+ SHUFFLE_HASH(co) */ o_orderkey, revenue
          FROM (SELECT l_orderkey,
                       ROUND(SUM(l_extendedprice * (1 - l_discount)) * 100)
                         / 100 AS revenue
                FROM lineitem GROUP BY l_orderkey) rev
          JOIN (SELECT /*+ BROADCAST(c) */ o_orderkey
                FROM customer c JOIN orders o ON c_custkey = o_custkey
                WHERE c_mktsegment = 'BUILDING') co
            ON rev.l_orderkey = co.o_orderkey)
        ORDER BY revenue DESC, o_orderkey LIMIT 10
        """
    )


@query(
    "c_join_left",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    """,
)
def c_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(
    "c_join_right",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM orders RIGHT JOIN customer ON c_custkey = o_custkey
    """,
)
def c_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return o.join(c, c.c_custkey == o.o_custkey, "right").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(
    "c_join_full",
    oracle="""
    SELECT s_suppkey, s_name, c_custkey, c_name
    FROM supplier FULL JOIN customer
      ON s_nationkey = c_nationkey AND s_acctbal > c_acctbal
    """,
)
def c_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer with an equi prefix + non-equi residual: suppliers
    with no poorer same-nation customer and customers with no richer
    same-nation supplier both survive as null-padded rows."""
    s = table(spark, sf_dir, "supplier")
    c = table(spark, sf_dir, "customer")
    cond = (s.s_nationkey == c.c_nationkey) & (s.s_acctbal > c.c_acctbal)
    return s.join(c, cond, "full").select("s_suppkey", "s_name", "c_custkey", "c_name")


@query(
    "c_join_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_totalprice > 400000
    )
    """,
)
def c_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS = left-semi join: probe side emits each customer at most
    once; no row multiplication, no orders columns shuffled."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "c_join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def c_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "c_join_cross",
    oracle="SELECT r_name, n_name FROM region CROSS JOIN nation",
)
def c_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product — only sanctioned on provably bounded inputs
    (5 × 25 dims here; SURVEY §4 100 TB notes)."""
    r = table(spark, sf_dir, "region").select("r_name")
    n = table(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(n)


@query(
    "c_join_theta_range",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_shipdate, o_orderdate
    FROM lineitem JOIN orders
      ON l_orderkey = o_orderkey
     AND l_shipdate BETWEEN o_orderdate AND o_orderdate + INTERVAL 90 DAY
    """,
)
def c_join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join with an equi core: Catalyst hashes on l_orderkey =
    o_orderkey and evaluates the date-range residual post-match, so this
    stays a hash/merge join, never a cartesian."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    cond = (
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate >= o.o_orderdate)
        & (li.l_shipdate <= o.o_orderdate + F.expr("INTERVAL 90 DAYS"))
    )
    return li.join(o, cond).select(
        "l_orderkey", "l_linenumber", "l_shipdate", "o_orderdate"
    )


def _asof_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The input of the as-of family: orders (side=0) and events
    (side=1) in one frame on (user_id, t), with ``ord_date`` set on
    order rows only and ``event_id`` on event rows only. Ordering a
    window by (t, side) puts order rows before event rows at equal
    timestamps, which makes ``ts >= o_orderdate`` inclusive, matching
    DuckDB ASOF. The NULL columns are explicitly typed so unionByName
    never coerces.

    Scale: a window over it partitioned by user_id is ONE shuffle with
    no row multiplication — the equi-join + row_number()=1 idiom it
    replaces materializes |events-per-user| x |orders-per-user| rows,
    which explodes on power-law users (round-1 perf-weak finding).
    """
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").alias("t"),
        "event_id",
        F.lit(None).cast("timestamp").alias("ord_date"),
        F.lit(1).alias("side"),
    )
    o = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("t"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_orderdate").alias("ord_date"),
        F.lit(0).alias("side"),
    )
    return o.unionByName(ev)


def _asof_union_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``_asof_union`` with the latest order date so far carried
    forward as ``last_od``: a running max over (partition by user_id,
    order by t, side)."""
    w = (
        W.partitionBy("user_id")
        .orderBy("t", "side")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return _asof_union(spark, sf_dir).withColumn(
        "last_od", F.max("ord_date").over(w)
    )


@query(
    "c_join_asof",
    oracle="""
    SELECT e.event_id, e.user_id, o.o_orderdate AS last_orderdate
    FROM events e
    ASOF JOIN orders o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
)
def c_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (no native batch ASOF in Spark SQL) via the shared
    union-merge core (_asof_union_merge; scale notes on _asof_union): inner
    semantics, so events before their user's first order drop out."""
    return (
        _asof_union_merge(spark, sf_dir)
        .filter((F.col("side") == 1) & F.col("last_od").isNotNull())
        .select("event_id", "user_id", F.col("last_od").alias("last_orderdate"))
    )


@query(
    "c_subquery_scalar",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
    """,
)
def c_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery via the SQL entry point — Catalyst plans the
    subquery as an independent stage and injects its result as a
    literal into the main scan's filter."""
    load_tables(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
        """
    )


@query(
    "c_subquery_in",
    oracle="""
    SELECT o_orderkey, o_custkey
    FROM orders
    WHERE o_custkey IN (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    )
    """,
)
def c_subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery — Catalyst rewrites to a left-semi join
    (RewritePredicateSubquery), so it scales like c_join_semi."""
    load_tables(spark, sf_dir, ("orders", "customer"))
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey
        FROM orders
        WHERE o_custkey IN (
            SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        )
        """
    )


@query(
    "c_join_range_bucketed",
    oracle="""
    SELECT a.o_orderkey AS oa, b.o_orderkey AS ob,
           ROUND(ABS(a.o_totalprice - b.o_totalprice) * 100, 0) / 100
               AS price_gap
    FROM orders a JOIN orders b
      ON a.o_orderkey < b.o_orderkey
     AND ABS(a.o_totalprice - b.o_totalprice) <= 25.0
    """,
)
def c_join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PURE range self-join (no equi key: all order pairs within $25 of
    each other) via BUCKETIZATION — the technique that keeps band/range
    joins off the nested-loop path. A naive |price diff| <= w condition
    has no hashable key, so Spark would plan BroadcastNestedLoopJoin =
    O(N*M) comparisons. Instead: bucket = floor(price / w); one side
    keeps its bucket, the other replicates to {b-1, b, b+1}; since
    |pa - pb| <= w implies the buckets differ by at most 1, the
    equi-join on bucket finds every qualifying pair exactly once, and
    the exact range predicate filters the residual.

    Scale: a 3x replication of one side buys a keyed hash shuffle in
    place of N*M — the standard interval-join rewrite (same idea Spark
    itself applies to stream-stream time-interval joins). Bucket width
    = window width keeps candidates per bucket ~ data density * w.
    Plan-asserted: hash join, no nested loop (tests/test_plans.py)."""
    o = table(spark, sf_dir, "orders")
    w = 25.0
    a = o.select(
        F.col("o_orderkey").alias("oa"),
        F.col("o_totalprice").alias("pa"),
        F.floor(F.col("o_totalprice") / w).alias("bucket"),
    )
    bb = F.floor(F.col("o_totalprice") / w)
    b = o.select(
        F.col("o_orderkey").alias("ob"),
        F.col("o_totalprice").alias("pb"),
        F.explode(F.array(bb - 1, bb, bb + 1)).alias("bucket"),
    )
    gap = F.abs(F.col("pa") - F.col("pb"))
    return (
        a.join(b, "bucket")
        .filter((F.col("oa") < F.col("ob")) & (gap <= w))
        .select("oa", "ob", dround(gap, 2).alias("price_gap"))
    )


@query(
    "c_join_salted",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_events,
           ROUND(SUM(value) * 100, 0) / 100 AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
)
def c_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted fact⋈dim join (skew.salted_join): the events fact
    side is salted on its unique event_id, the customer dim replicated
    once per salt, and the join keyed (custkey, salt) — so a hot
    user's events spread across 16 tasks instead of one straggler.
    The oracle is the PLAIN join: salting must be result-invariant,
    which is the whole point of the driver check here.

    Scale: this is the portable answer to power-law join skew when the
    dim can't broadcast (too big for the driver / build side must stay
    partitioned): |dim|×16 replication buys straggler-free parallelism.
    AQE's skew-split covers the sort-merge case automatically;
    explicit salting also covers shuffled-hash joins (hinted here, so
    the plan demonstrably exercises the salted shuffle, not a
    broadcast — plan-asserted in tests/test_plans.py)."""
    ev = table(spark, sf_dir, "events")
    c = table(spark, sf_dir, "customer")
    joined = salted_join(
        ev, c, big_key="user_id", small_key="c_custkey", row_key="event_id"
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        dround(F.sum("value"), 2).alias("sum_value"),
    )


@query(
    "c_join_dpp",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice) * 100, 0) / 100 AS sum_price
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderstatus
    """,
)
def c_join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the orders fact is staged partitioned
    by o_orderstatus (hive layout), then joined to a tiny dimension
    whose FILTER (label = 'final' → status 'F') is only known at run
    time — Catalyst injects a dynamic-pruning subquery into the fact
    scan's PartitionFilters, so only the 'F' directory is ever read
    (plan-asserted: dynamicpruningexpression in tests/test_plans.py).
    The oracle replays the dim filter as a literal predicate.

    Scale: DPP is THE mechanism that makes star-schema joins on
    partitioned 100 TB facts read |matching partitions| instead of the
    full table when the partition predicate arrives through a dim
    filter rather than a literal. Staging cost here is the test
    harness's price for a partitioned input; a production table is
    already laid out this way."""
    o = table(spark, sf_dir, "orders")
    path = scratch(f"orders_dpp_{os.path.basename(sf_dir.rstrip('/'))}")
    o.write.partitionBy("o_orderstatus").mode("overwrite").parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("F", "final"), ("O", "open"), ("P", "pending")], "st string, label string"
    ).filter(F.col("label") == "final")
    return (
        fact.join(dim, fact.o_orderstatus == dim.st)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            dround(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )


@query(
    "c_join_bloom",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(SUM(l_extendedprice * (1 - l_discount)) * 100, 0) / 100 + 0
             AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def c_join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle join with a runtime bloom-filter: the selective dim-side
    predicate (urgent orders) is turned by Catalyst into a
    ``bloom_filter_agg`` subquery whose ``might_contain`` probe is
    injected into the FACT scan's filter — rows for non-urgent orders
    are dropped before the shuffle, not after the join
    (tests/test_plans.py asserts the injected probe).

    Scale: at 100 TB this is the difference between shuffling the whole
    fact table and shuffling only the ~20% that can match — the runtime
    filter needs no bucketing, no manual pre-join, and composes with
    AQE. At production scale the dim side exceeds the broadcast
    threshold naturally and Catalyst injects the filter on its own; the
    sf0.01 test dim is broadcast-sized, so the broadcast threshold AND
    the bloom injection gates are set ONLY for this query's logical
    optimization (forced and cached via its QueryExecution, then ALL
    THREE confs restore in the finally — later queries in the session
    keep their broadcasts and their bloom-free plans; results are
    conf-independent either way, as the oracle proves).
    """
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_orderpriority")
    )
    l = table(spark, sf_dir, "lineitem")
    out = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            dround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )
    scoped = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in scoped}
    try:
        # conf sets live INSIDE the try (round-3 advice): a set raising
        # partway must still restore the ones already applied, or later
        # queries inherit bloom/broadcast overrides session-wide.
        for k, v in scoped.items():
            spark.conf.set(k, v)
        # Logical optimization (where InjectRuntimeFilter runs) is lazy
        # AND cached per QueryExecution — force it under the scoped confs
        # so the bloom probe lands, then restore before anyone else plans.
        out._jdf.queryExecution().optimizedPlan()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return out


@query(
    "c_join_asof_tol",
    oracle="""
    SELECT e.event_id, e.user_id,
           CASE WHEN e.ts <= o.o_orderdate + INTERVAL 30 DAY
                THEN o.o_orderdate END AS recent_orderdate
    FROM events e
    ASOF LEFT JOIN orders o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
)
def c_join_asof_tol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a tolerance window (the kdb/pandas ``asof(...,
    tolerance=30d)`` semantics): each event matches its user's most
    recent order only if that order is at most 30 days old, else NULL.
    Tolerance composes on the union-merge idiom for free — carry the
    running latest order date, then nullify beyond the bound; the
    oracle replays it as ASOF LEFT JOIN + the same CASE.

    Scale: identical to c_join_asof — ONE shuffle on user_id, no row
    multiplication, O(1) carried state; the tolerance is a post-window
    codegen expression, costing nothing extra. A join-based tolerance
    formulation would need a range join and re-open the power-law
    fanout this idiom exists to avoid.
    """
    return (
        _asof_union_merge(spark, sf_dir)
        .withColumn(
            "recent_orderdate",
            F.when(
                F.col("t") <= F.col("last_od") + F.expr("INTERVAL 30 DAYS"),
                F.col("last_od"),
            ),
        )
        .filter(F.col("side") == 1)
        .select("event_id", "user_id", "recent_orderdate")
    )


@query(
    "c_join_mark_exists",
    oracle="""
    SELECT c_custkey, c_name,
           EXISTS(SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
             AS has_big_order
    FROM customer ORDER BY c_custkey
    """,
)
def c_join_mark_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mark join (EXISTS in the projection, not the WHERE): every
    customer row survives, annotated with a boolean instead of being
    filtered — the flag-building shape behind feature engineering and
    conditional aggregation. Catalyst plans the true mark-join
    primitive, ``ExistenceJoin`` (plan-asserted): like a semi join it
    emits each probe row at most once and shuffles no payload columns
    from the inner side — NOT a left join + distinct + null-check
    emulation, which would shuffle the dedup.

    Scale: inner side reduces to its join key before the join; probe
    side streams through unchanged. Same cost envelope as c_join_semi.
    """
    load_tables(spark, sf_dir, ("customer", "orders"))
    return spark.sql(
        """
        SELECT c_custkey, c_name,
               EXISTS(SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 300000)
                 AS has_big_order
        FROM customer ORDER BY c_custkey
        """
    )


@query(
    "c_lateral_topn",
    # Oracle states the SAME answer as the Spark-side LATERAL via the
    # window formulation: DuckDB executes a correlated LATERAL LIMIT as
    # a dependent re-scan per outer row (O(|customer| x |orders|) at
    # sf0.1 — minutes), while the window form is one hash join + one
    # sort. The oracle's job is ground truth, not feature parity; the
    # LATERAL surface under test lives on the Spark side.
    oracle="""
    SELECT c_custkey, o_orderkey, o_totalprice FROM (
        SELECT c_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY c_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey)
                 AS rn
        FROM customer JOIN orders ON o_custkey = c_custkey
    )
    WHERE rn <= 2
    ORDER BY c_custkey, o_totalprice DESC, o_orderkey
    """,
)
def c_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY + LIMIT — the
    SQL-standard spelling of top-N-per-group. Catalyst decorrelates the
    lateral into a window rank over one o_custkey shuffle — NOT a
    per-customer re-execution of the inner query — so the declarative
    lateral costs the same as the hand-written e_win_topk_group plan.

    Scale: after decorrelation this is the WindowGroupLimit shape: one
    shuffle on the correlation key, k rows per group survive the sort.
    The lateral surface matters because users write it; the engine's
    job is planning it to the same physical shape, which the plan
    assertion checks.
    """
    load_tables(spark, sf_dir, ("customer", "orders"))
    return spark.sql(
        """
        SELECT c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                 WHERE o_custkey = c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        ORDER BY c_custkey, o_totalprice DESC, o_orderkey
        """
    )


@query(
    "c_join_null_safe",
    oracle="""
    SELECT a.n_nationkey AS k_a, b.n_nationkey AS k_b
    FROM (SELECT n_nationkey, NULLIF(n_regionkey, 0) AS rk FROM nation) a
    JOIN (SELECT n_nationkey, NULLIF(n_regionkey, 0) AS rk FROM nation) b
      ON a.rk IS NOT DISTINCT FROM b.rk AND a.n_nationkey < b.n_nationkey
    ORDER BY k_a, k_b
    """,
)
def c_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (Spark ``<=>`` ≡ SQL ``IS NOT DISTINCT
    FROM``): NULL keys match EACH OTHER instead of vanishing — the
    semantics every dedup-on-nullable-key and CDC-diff join actually
    needs (plain ``=`` silently drops the NULL partition). Derived
    nullable key: region 0 mapped to NULL, so its nations pair with
    each other through the null-safe match.

    Scale: ``<=>`` remains a hashable equi key (NULL hashes like any
    value under null-safe semantics), so this plans a hash join keyed
    on the nullable column, never a residual-only nested loop. Note
    the NULL bucket itself is a self-cartesian by SEMANTICS — at scale
    a genuinely hot NULL key needs the same salting treatment as any
    hot key (skew.salted_join).
    """
    n = table(spark, sf_dir, "nation")
    a = n.select(
        F.col("n_nationkey").alias("k_a"),
        F.nullif(F.col("n_regionkey"), F.lit(0)).alias("rk_a"),
    )
    b = n.select(
        F.col("n_nationkey").alias("k_b"),
        F.nullif(F.col("n_regionkey"), F.lit(0)).alias("rk_b"),
    )
    return (
        a.join(
            b,
            a.rk_a.eqNullSafe(b.rk_b) & (a.k_a < b.k_b),
        )
        .select("k_a", "k_b")
        .orderBy("k_a", "k_b")
    )


@query(
    "c_join_interval",
    oracle="""
    WITH a AS (
        SELECT o_orderkey,
               date_diff('day', TIMESTAMP '1992-01-01', o_orderdate) AS s_a,
               date_diff('day', TIMESTAMP '1992-01-01', o_orderdate)
                   + o_orderkey % 5 AS e_a
        FROM orders
    ),
    b AS (
        SELECT n_nationkey AS win_id,
               n_nationkey * 96 AS s_b,
               n_nationkey * 96 + 44 AS e_b
        FROM nation
    )
    SELECT a.o_orderkey, b.win_id,
           CAST(LEAST(a.e_a, b.e_b) - GREATEST(a.s_a, b.s_b) + 1 AS BIGINT)
               AS overlap_days
    FROM a JOIN b ON a.s_a <= b.e_b AND b.s_b <= a.e_a
    """,
)
def c_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval OVERLAP join with NO equi key (order activity windows x
    audit windows) via two-sided bucketization — the generalization of
    c_join_range_bucketed from point-vs-band to interval-vs-interval.
    A bare ``a.start <= b.end AND b.start <= a.end`` condition has no
    hashable key, so Spark would plan BroadcastNestedLoopJoin; instead
    both sides explode to the fixed-width time buckets they COVER
    (``sequence(floor(s/W), floor(e/W))``) and equi-join on the bucket.
    Duplicate matches (a pair overlapping across several shared
    buckets) are eliminated WITHOUT a distinct: a pair is emitted only
    in the canonical bucket ``floor(greatest(s_a, s_b)/W)`` — the
    bucket containing the overlap's left edge — so each qualifying
    pair appears exactly once and no post-join dedup shuffle exists.

    Scale: replication factor per row is ceil(len/W)+1 (here <= 2 per
    side with W=64 days >= both max interval lengths); the join is a
    keyed hash shuffle whose per-bucket work follows temporal density,
    never |A| x |B|. This is the standard interval-join decomposition
    (the batch analogue of Spark's own stream-stream time-interval
    join state keying). Plan-asserted hash join, no nested loop
    (tests/test_plans.py lint).
    """
    W = 64  # days; >= max interval length on either side -> <=2 buckets/row
    o = table(spark, sf_dir, "orders")
    n = table(spark, sf_dir, "nation")
    a = o.select(
        "o_orderkey",
        F.datediff("o_orderdate", F.lit("1992-01-01").cast("timestamp")).alias(
            "s_a"
        ),
    ).withColumn("e_a", F.col("s_a") + F.col("o_orderkey") % 5)
    b = n.select(
        F.col("n_nationkey").alias("win_id"),
        (F.col("n_nationkey") * 96).alias("s_b"),
        (F.col("n_nationkey") * 96 + 44).alias("e_b"),
    )
    a2 = a.withColumn(
        "bucket",
        F.explode(F.sequence(F.floor(F.col("s_a") / W), F.floor(F.col("e_a") / W))),
    )
    b2 = b.withColumn(
        "bucket",
        F.explode(F.sequence(F.floor(F.col("s_b") / W), F.floor(F.col("e_b") / W))),
    )
    return (
        a2.join(b2, "bucket")
        .filter(
            (F.col("s_a") <= F.col("e_b"))
            & (F.col("s_b") <= F.col("e_a"))
            & (F.col("bucket") == F.floor(F.greatest("s_a", "s_b") / W))
        )
        .select(
            "o_orderkey",
            "win_id",
            (F.least("e_a", "e_b") - F.greatest("s_a", "s_b") + 1)
            .cast("bigint")
            .alias("overlap_days"),
        )
    )


@query(
    "c_join_bucketed_colocated",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(SUM(l_extendedprice * (1 - l_discount)) * 100, 0) / 100 + 0
             AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderkey, o_totalprice
    """,
)
def c_join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-FREE fact⋈fact join via bucketed catalog tables: orders
    and lineitem are staged as parquet tables ``bucketBy(8, orderkey)``
    + ``sortBy`` through the session catalog, then joined on the bucket
    key and aggregated per order — and the ENTIRE plan contains zero
    Exchange nodes (plan-asserted in tests/test_plans.py). The bucketed
    scans report HashPartitioning(orderkey), which satisfies the
    sort-merge join's distribution requirement AND the downstream
    groupBy's clustering requirement (group keys ⊇ bucket key), so
    neither the join nor the aggregation shuffles; bucket pruning shows
    in the scan (``SelectedBucketsCount``). The merge hint pins SMJ so
    the demonstration can't degrade to a broadcast at toy scale.

    Scale: bucketing is the PRE-PAID shuffle — the one technique for
    100 TB fact⋈fact joins that repeat on the same key (orders ⋈
    lineitem on every pipeline run): pay one layout write, then every
    subsequent join/aggregation on that key is exchange-free. Staging
    cost here is the harness's price for a bucketed input; a
    production warehouse lays the table out this way once. Bucket
    count scales to data/bucket-size targets (thousands at 100 TB) —
    both sides need the SAME count (or Spark 4's bucket coalescing for
    integer ratios). One file per bucket (repartition before write)
    keeps the per-bucket sort usable by the reader.

    The staging write goes through ``session.staged`` (once per Spark
    application and sf_dir), so repeated calls in one session measure
    the JOIN, not the staging. The catalog tables are external
    (explicit LOCATION in the staged dir) for the same reason
    a_table_ctas_catalog's is, and are named after that dir, so two
    data dirs never share one."""
    spec = {
        "orders": ("o_orderkey", ["o_orderkey", "o_orderstatus", "o_totalprice"]),
        "lineitem": ("l_orderkey", ["l_orderkey", "l_extendedprice", "l_discount"]),
    }

    def build(base: str) -> None:
        for t, (key, cols) in spec.items():
            name = f"{os.path.basename(base)}_{t}"
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            (
                table(spark, sf_dir, t)
                .select(*cols)
                .repartition(8, F.col(key))
                .write.mode("overwrite")
                .format("parquet")
                .bucketBy(8, key)
                .sortBy(key)
                .option("path", os.path.join(base, t))
                .saveAsTable(name)
            )

    bkt = os.path.basename(staged(spark, sf_dir, "bkt", build))
    o = spark.table(f"{bkt}_orders").filter(F.col("o_orderstatus") == "F")
    li = spark.table(f"{bkt}_lineitem")
    return (
        o.hint("merge")
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_totalprice")
        .agg(
            F.count("*").alias("n_items"),
            dround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


#: Spatial ε-join radius (grid cell width = ε, the classic choice).
SPATIAL_EPS = 0.02


@query(
    "c_join_spatial_grid",
    oracle=f"""
    SELECT a.vec_id AS va, b.vec_id AS vb,
           ROUND(sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y))
                 * 1e6, 0) / 1e6 + 0 AS dist
    FROM (SELECT vec_id, embedding[1]::DOUBLE AS x, embedding[2]::DOUBLE AS y
          FROM embeddings) a
    JOIN (SELECT vec_id, embedding[1]::DOUBLE AS x, embedding[2]::DOUBLE AS y
          FROM embeddings) b
      ON a.vec_id < b.vec_id
     AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
         <= {SPATIAL_EPS} * {SPATIAL_EPS}
    """,
)
def c_join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D spatial ε-join via GRID BLOCKING — the geohash-bucketing
    pattern every geospatial pipeline uses (points within ε of each
    other; here the first two embedding dims stand in for lon/lat).
    A naive distance predicate has no equi key → BroadcastNestedLoop
    O(N²). Instead each point maps to a grid cell of width ε; side A
    replicates to its 3×3 cell NEIGHBORHOOD, side B keeps its home
    cell, and the equi-join on cell id finds every qualifying ordered
    pair EXACTLY once (the A-replica of p lands in q's home cell — one
    cell, one match; the a<b filter then keeps one orientation), so no
    post-join distinct is needed — the same canonical-assignment trick
    as c_join_interval, lifted to 2-D. The exact distance predicate
    filters the residual; the emitted distance is computed with
    identical double arithmetic in both engines.

    Scale: 9× replication of one side buys a keyed hash shuffle in
    place of N²; per-cell candidate population follows data density ×
    ε², so the worst case is a dense cell — at production scale the
    standard fixes are smaller ε with multi-round neighbor scans or
    density-based cell splitting (quadtree), both preserving this
    plan shape. Plan-asserted hash join, no nested loop
    (tests/test_plans.py)."""
    e = table(spark, sf_dir, "embeddings")
    eps = SPATIAL_EPS
    pts = e.select(
        "vec_id",
        F.element_at("embedding", 1).cast("double").alias("x"),
        F.element_at("embedding", 2).cast("double").alias("y"),
    ).withColumn("cx", F.floor(F.col("x") / eps)).withColumn(
        "cy", F.floor(F.col("y") / eps)
    )
    nbr = F.explode(
        F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                  for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
    )
    a = pts.select(
        F.col("vec_id").alias("va"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        "cx",
        "cy",
        nbr.alias("d"),
    ).select(
        "va",
        "xa",
        "ya",
        (F.col("cx") + F.col("d.dx")).alias("gx"),
        (F.col("cy") + F.col("d.dy")).alias("gy"),
    )
    b = pts.select(
        F.col("vec_id").alias("vb"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.col("cx").alias("gx"),
        F.col("cy").alias("gy"),
    )
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    return (
        a.join(b, ["gx", "gy"])
        .filter((F.col("va") < F.col("vb")) & (d2 <= eps * eps))
        .select("va", "vb", dround(F.sqrt(d2), 6).alias("dist"))
    )


@query(
    "c_join_pit_features",
    oracle="""
    WITH u AS (
        SELECT o_custkey AS user_id, o_orderdate AS t,
               o_totalprice AS price, CAST(NULL AS BIGINT) AS event_id,
               0 AS side, o_orderkey AS tie
        FROM orders
        UNION ALL
        SELECT user_id, ts, CAST(NULL AS DOUBLE), event_id, 1, event_id
        FROM events
    ),
    carried AS (
        SELECT user_id, t, event_id, side,
               last_value(price IGNORE NULLS) OVER w AS last_price,
               CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) OVER w
                    AS BIGINT) AS n_orders,
               ROUND(SUM(CASE WHEN side = 0 THEN price ELSE 0 END) OVER w
                     * 100, 0) / 100 + 0 AS ltv
        FROM u
        WINDOW w AS (PARTITION BY user_id ORDER BY t, side, tie
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, last_price, n_orders, ltv
    FROM carried WHERE side = 1
    """,
)
def c_join_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME feature join — the feature-store pattern: each
    event row is enriched with several features whose values are
    exactly as they stood AT event time (no leakage from the future):
    the user's latest order price, their order count so far, and
    their lifetime order value so far. All three features come out of
    ONE union-merge pass (the c_join_asof core generalized from one
    carried column to a feature VECTOR): orders and events union on
    (user_id, time), running ignore-nulls last / count / sum carry
    the state forward, event rows project it. Training-serving skew
    dies here — the same plan that builds the training table serves
    backfills.

    Float pin: the lifetime value is a RUNDOWN of a raw window SUM —
    rule 9 applies, but rounding sum×100 of 2-dp money is
    near-integer, never near the ROUND-half boundary, so the 2-dp
    projection is boundary-safe (the e_win_named_window analysis;
    stress-verified at sf0.1).

    Determinism: same-date orders are PEERS under (t, side) alone and
    ``last_value`` is frame-order-sensitive, so the window order adds a
    per-side tiebreak (o_orderkey / event_id) making the carried-last
    total-ordered — "latest price" = the same-date order with the
    largest key, identically in both engines (found at sf0.1, where
    same-user same-date order pairs exist).

    Scale: ONE shuffle on user_id, zero row multiplication,
    |features| scales by adding carried columns (not passes) — versus
    the per-feature as-of join a naive feature store runs N times.
    Order rows sort before event rows at equal timestamps (side key),
    making same-instant features inclusive, as DuckDB ASOF is."""
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").alias("t"),
        "event_id",
        F.lit(None).cast("double").alias("price"),
        F.lit(1).alias("side"),
        F.col("event_id").alias("tie"),
    )
    o = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("t"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_totalprice").alias("price"),
        F.lit(0).alias("side"),
        F.col("o_orderkey").alias("tie"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("t", "side", "tie")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = (
        o.unionByName(ev)
        .withColumn("last_price", F.last("price", ignorenulls=True).over(w))
        .withColumn(
            "n_orders",
            F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).over(w).cast("bigint"),
        )
        .withColumn(
            "ltv",
            dround(
                F.sum(F.when(F.col("side") == 0, F.col("price")).otherwise(0.0)).over(w),
                2,
            ),
        )
    )
    return carried.filter(F.col("side") == 1).select(
        "event_id", "user_id", "last_price", "n_orders", "ltv"
    )


@query(
    "c_join_asof_nearest",
    oracle="""
    WITH u AS (
        SELECT user_id, ts AS t, event_id,
               CAST(NULL AS TIMESTAMP) AS ord_date, 1 AS side
        FROM events
        UNION ALL
        SELECT o_custkey, o_orderdate, NULL, o_orderdate, 0 FROM orders
    ), m AS (
        SELECT *,
            MAX(ord_date) OVER (PARTITION BY user_id ORDER BY t, side
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS back,
            MIN(ord_date) OVER (PARTITION BY user_id ORDER BY t, side
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fwd
        FROM u
    )
    SELECT event_id, user_id,
           CASE WHEN back IS NULL THEN fwd
                WHEN fwd IS NULL THEN back
                WHEN t - back <= fwd - t THEN back ELSE fwd
           END AS nearest_orderdate
    FROM m
    WHERE side = 1 AND (back IS NOT NULL OR fwd IS NOT NULL)
    """,
)
def c_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, direction='nearest' (the pandas merge_asof variant
    c_join_asof doesn't cover): each event pairs with its user's
    CLOSEST order in either time direction — backward wins ties,
    including the exact-timestamp case. One union-merge pass computes
    BOTH candidates: the running MAX(ord_date) over the preceding
    frame (backward) and the running MIN over the following frame
    (forward) share the single user_id shuffle and sort, then a
    codegen CASE arbitrates on interval distance (timestamp
    subtraction compares at full microsecond precision in both
    engines — no epoch truncation, Spark unix_timestamp would drop
    the fractional second the fixture carries).

    Scale: ``_asof_union``'s (the bidirectional range-join spelling
    would fan out |events/user| x |orders/user| twice over)."""
    wb = (
        W.partitionBy("user_id")
        .orderBy("t", "side")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wf = (
        W.partitionBy("user_id")
        .orderBy("t", "side")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    m = (
        _asof_union(spark, sf_dir)
        .withColumn("back", F.max("ord_date").over(wb))
        .withColumn("fwd", F.min("ord_date").over(wf))
    )
    nearest = (
        F.when(F.col("back").isNull(), F.col("fwd"))
        .when(F.col("fwd").isNull(), F.col("back"))
        .when(
            (F.col("t") - F.col("back")) <= (F.col("fwd") - F.col("t")),
            F.col("back"),
        )
        .otherwise(F.col("fwd"))
    )
    return (
        m.filter(
            (F.col("side") == 1)
            & (F.col("back").isNotNull() | F.col("fwd").isNotNull())
        )
        .select("event_id", "user_id", nearest.alias("nearest_orderdate"))
    )
