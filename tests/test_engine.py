"""SQLEngine facade (sqlengine_spark/engine.py): the three entry points
a reference-engine user switches to — SQL, DataFrame, streaming — plus
the operator library."""

import uuid

from pyspark.sql import functions as F

from sqlengine_spark.engine import SQLEngine
from sqlengine_spark.operators.tier_j_streaming import FiniteStream
from tests.conftest import SF_DIR_SMALL


def _engine(spark):
    return SQLEngine(sf_dir=SF_DIR_SMALL, spark=spark)


def test_sql_entry_point(spark):
    eng = _engine(spark)
    n = eng.sql("SELECT count(*) AS c FROM lineitem").collect()[0]["c"]
    assert n == spark.read.parquet(f"{SF_DIR_SMALL}/lineitem.parquet").count()


def test_dataframe_entry_point(spark):
    eng = _engine(spark)
    top = (
        eng.table("orders")
        .orderBy(F.col("o_totalprice").desc())
        .limit(1)
        .collect()[0]
    )
    assert top["o_totalprice"] > 0


def test_operator_library(spark):
    eng = _engine(spark)
    ops = eng.operators()
    assert "d_agg_q1_pricing" in ops and len(ops) >= 92
    assert eng.run("d_agg_q1_pricing").count() > 0
    assert "GROUP BY" in eng.oracle("d_agg_q1_pricing")
    assert eng.oracle("i_sample") is None  # rows-only


def test_streaming_entry_point(spark):
    eng = _engine(spark)
    stream = eng.stream_events(watermark="10 minutes")
    assert stream.isStreaming
    hourly = stream.groupBy(F.window("ts", "1 hour").alias("w")).agg(
        F.count("*").alias("cnt")
    )
    with FiniteStream(spark) as fs:
        total = fs.run(hourly, "complete").agg(F.sum("cnt")).collect()[0][0]
    assert total == eng.table("events").count()


def test_create_bucketed_table_colocated_join(spark):
    """The engine DDL surface: CREATE TABLE ... CLUSTERED BY through
    SQLEngine.create_table must produce tables whose equi-join on the
    bucket key plans WITHOUT an Exchange on either side (the
    pay-shuffle-once-at-write-time contract)."""
    import shutil

    eng = _engine(spark)
    tag = uuid.uuid4().hex[:8]
    t_o, t_l = f"ddl_orders_{tag}", f"ddl_lineitem_{tag}"
    try:
        eng.create_table(t_o, "orders", bucket_by="o_orderkey", n_buckets=8)
        eng.create_table(t_l, "lineitem", bucket_by="l_orderkey", n_buckets=8)
        joined = eng.sql(
            f"""
            SELECT o_orderkey, COUNT(*) AS n
            FROM {t_o} JOIN {t_l} ON o_orderkey = l_orderkey
            GROUP BY o_orderkey
            """
        )
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = joined._jdf.queryExecution().explainString(mode)
        join_section = plan.split("HashAggregate")[0]
        assert "Exchange" not in join_section, (
            "bucketed DDL join still shuffles:\n" + join_section
        )
        # and partitioned DDL: partition column prunes the scan
        t_p = f"ddl_events_{tag}"
        eng.create_table(t_p, "events", partition_by="event_type")
        pruned = eng.sql(
            f"SELECT COUNT(*) AS n FROM {t_p} WHERE event_type = 'click'"
        )
        pplan = pruned._jdf.queryExecution().explainString(mode)
        assert "PartitionFilters" in pplan
        eng.drop_table(t_p)
    finally:
        for t in (t_o, t_l):
            eng.drop_table(t)
        shutil.rmtree("spark-warehouse", ignore_errors=True)


def test_explain_surface(spark):
    eng = _engine(spark)
    plan = eng.explain("b_filter_range")
    assert "PushedFilters" in plan
    assert "Exchange" not in plan  # a pure filter never shuffles


def test_stream_staging_does_not_leak_per_engine(spark):
    """Repeated engine construction + stream_events must reuse ONE
    staged events dir per sf_dir (memoized, atexit-cleaned), not leak a
    tempdir per instance (round-2/3 advice)."""
    import glob
    import tempfile

    from sqlengine_spark.operators.tier_j_streaming import stage_events

    before = set(glob.glob(f"{tempfile.gettempdir()}/sqlengine_events_stage_*"))
    paths = set()
    for _ in range(3):
        eng = SQLEngine(sf_dir=SF_DIR_SMALL, spark=spark)
        eng.stream_events()  # staging runs at build time
        paths.add(stage_events(spark, SF_DIR_SMALL))
    after = set(glob.glob(f"{tempfile.gettempdir()}/sqlengine_events_stage_*"))
    assert len(paths) == 1, f"staging not memoized: {paths}"
    assert len(after - before) <= 1, f"leaked staging dirs: {after - before}"
