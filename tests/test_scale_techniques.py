"""Scale techniques the 100 TB design names (SCALE.md): bucketed
co-located joins (no shuffle at join time) and salted aggregation for
skewed keys. Both are asserted against real plans/results, not just
documented.
"""

import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from sqlengine_spark.engine import SQLEngine
from sqlengine_spark.session import SCRATCH, table
from sqlengine_spark.skew import salted_agg
from tests.conftest import SF_DIR_SMALL


def _plan(df, spark):
    return SQLEngine(spark=spark).explain(df)


def test_bucketed_join_has_no_shuffle(spark):
    """Pre-bucketing both fact tables on the join key makes the join
    exchange-free: each bucket pair joins in place. THE technique for
    repeated fact-fact joins at 100 TB — pay the shuffle once at write
    time, never again."""
    tag = uuid.uuid4().hex[:8]
    t_o, t_l = f"orders_b_{tag}", f"lineitem_b_{tag}"
    o = table(spark, SF_DIR_SMALL, "orders")
    li = table(spark, SF_DIR_SMALL, "lineitem")
    try:
        o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(t_o)
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(t_l)
        joined = (
            spark.table(t_o)
            .join(spark.table(t_l), F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy("o_orderkey")
            .agg(F.count("*").alias("n"))
        )
        plan = _plan(joined, spark)
        join_section = plan.split("HashAggregate")[0]
        assert "Exchange" not in join_section, (
            "bucketed join still shuffles:\n" + join_section
        )
        # and it is still correct
        want = (
            o.join(li, o.o_orderkey == li.l_orderkey)
            .groupBy("o_orderkey")
            .agg(F.count("*").alias("n"))
        )
        assert sorted(map(tuple, joined.collect())) == sorted(
            map(tuple, want.collect())
        )
    finally:
        for t in (t_o, t_l):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree("spark-warehouse", ignore_errors=True)


def test_salted_count_distinct_matches_direct(spark):
    """Salted two-stage count-distinct must be exact — same answer as
    the direct aggregate — while splitting any hot key's state across
    16 reducers."""
    ev = table(spark, SF_DIR_SMALL, "events")
    got = {
        r["event_type"]: r["n_distinct"]
        for r in salted_agg(ev, "event_type", "user_id").collect()
    }
    want = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got == want


def test_salted_agg_two_stage_plan(spark):
    ev = table(spark, SF_DIR_SMALL, "events")
    plan = _plan(salted_agg(ev, "event_type", "user_id"), spark)
    # two aggregation layers: (key, salt) then key
    assert plan.count("HashAggregate") >= 3  # partial+final per stage


def test_zorder_write_clusters_both_dims(spark):
    """a_sink_zorder's rewritten files must be clustered in BOTH key
    dimensions: after the Morton-curve rewrite, the average per-file
    (min, max) span of l_partkey AND l_suppkey has to be a fraction of
    the global span — that narrowed footer range is exactly what lets a
    2-D box predicate skip files at scan time. A composite-key sort
    would pass this for the leading column only."""
    import glob

    import pyarrow.parquet as pq

    from sqlengine_spark.operators.tier_a_scans import a_sink_zorder

    a_sink_zorder(spark, SF_DIR_SMALL).collect()
    files = sorted(glob.glob(f"{SCRATCH}/lineitem_zorder/part-*.parquet"))
    assert len(files) >= 4, "z-order rewrite should emit multiple ranged files"
    spans = {"l_partkey": [], "l_suppkey": []}
    glo = {"l_partkey": [None, None], "l_suppkey": [None, None]}
    for f in files:
        md = pq.read_metadata(f)
        cols = {
            md.row_group(0).column(i).path_in_schema: i
            for i in range(md.row_group(0).num_columns)
        }
        for col in spans:
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(cols[col]).statistics
                mins.append(st.min)
                maxs.append(st.max)
            spans[col].append(max(maxs) - min(mins))
            glo[col][0] = min(mins) if glo[col][0] is None else min(glo[col][0], *mins)
            glo[col][1] = max(maxs) if glo[col][1] is None else max(glo[col][1], *maxs)
    for col in spans:
        global_span = glo[col][1] - glo[col][0]
        avg_span = sum(spans[col]) / len(spans[col])
        # 10-bit z-interleave over 8 range partitions: each file covers
        # a z-range whose projection onto EACH dim is well under the
        # full domain (vs == full domain for the trailing key of a
        # composite sort).
        assert avg_span < 0.8 * global_span, (
            f"{col}: per-file span {avg_span} not clustered vs {global_span}"
        )


def test_compaction_collapses_file_count(spark):
    """a_maintenance_compaction must actually shrink the file count:
    64 staged small files -> size-targeted output (>=8x fewer here),
    with identical content (the registered oracle checks the checksum;
    this asserts the layout effect)."""
    import glob

    from sqlengine_spark.operators.tier_a_scans import a_maintenance_compaction

    a_maintenance_compaction(spark, SF_DIR_SMALL).collect()
    n_small = len(glob.glob(f"{SCRATCH}/orders_smallfiles/part-*"))
    n_big = len(glob.glob(f"{SCRATCH}/orders_compacted/part-*"))
    assert n_small == 64
    assert n_big <= n_small // 8, f"compaction left {n_big} files"


def test_aqe_skew_join_splits_hot_partition(spark):
    """AQE skew-join handling, demonstrated END-TO-END at runtime (not
    just described): a join where ~90% of left rows share one key is
    executed under lowered skew thresholds, and the FINAL adaptive plan
    must carry SortMergeJoin(skew=true) — OptimizeSkewedJoin split the
    hot partition into sub-partitions, which is exactly the mechanism
    that replaces manual salting (c_join_salted) on a 1000-executor
    cluster. Values must equal the unhandled join's answer."""
    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.shuffle.partitions": "8",
    }
    saved = {}
    for k, v in tuned.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        left = spark.range(200000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.col("id").alias("v"),
            F.md5(F.col("id").cast("string")).alias("pad"),
        )
        right = spark.range(1000).select(
            F.col("id").alias("k"),
            F.md5(F.col("id").cast("string")).alias("rv"),
        )
        j = (
            left.join(right, "k")
            .groupBy()
            .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        )
        row = j.collect()[0]
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
        # ground truth from a deterministic no-skew-handling formula:
        # every left row matches exactly one right row (k < 1000)
        assert row["n"] == 200000
        assert row["s"] == sum(range(200000))
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
