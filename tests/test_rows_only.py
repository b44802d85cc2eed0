"""Self-verification for rows-only operators (no SQL oracle): sink
round-trips must equal their source; approx aggregates must be within
tolerance of exact answers (SURVEY §2 tier A/D rows-only notes).
"""

from pyspark.sql import functions as F

from sqlengine_spark.registry import all_queries
from tests.conftest import SF_DIR, assert_same


def test_csv_roundtrip_equals_source(spark):
    q = all_queries()
    back = q["a_scan_csv_roundtrip"](spark, SF_DIR)
    src = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    assert back.schema == src.schema
    assert_same(back, src.toPandas())


def test_json_roundtrip_equals_source(spark):
    q = all_queries()
    back = q["a_scan_json_roundtrip"](spark, SF_DIR)
    src = spark.read.parquet(f"{SF_DIR}/region.parquet")
    assert_same(back, src.toPandas())


def test_orc_roundtrip_equals_source(spark):
    q = all_queries()
    back = q["a_scan_orc_roundtrip"](spark, SF_DIR)
    src = spark.read.parquet(f"{SF_DIR}/supplier.parquet")
    assert back.schema == src.schema
    assert_same(back, src.toPandas())


def test_partitioned_sink_readback(spark):
    q = all_queries()
    back = q["a_sink_parquet_partitioned"](spark, SF_DIR)
    src = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .filter(F.col("o_orderstatus") == "F")
        .select(*back.columns)
    )
    assert_same(back, src.toPandas())


def test_approx_distinct_within_5pct(spark):
    q = all_queries()
    approx = {
        r["l_returnflag"]: r["approx_orders"]
        for r in q["d_agg_approx_distinct"](spark, SF_DIR).collect()
    }
    exact = {
        r["l_returnflag"]: r["n"]
        for r in spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey").alias("n"))
        .collect()
    }
    assert approx.keys() == exact.keys()
    for k in exact:
        assert abs(approx[k] - exact[k]) / exact[k] < 0.05, (k, approx[k], exact[k])


def test_langid_deterministic_and_covering(spark):
    q = all_queries()
    r1 = q["l_text_langid"](spark, SF_DIR).collect()
    r2 = q["l_text_langid"](spark, SF_DIR).collect()
    assert [tuple(r) for r in r1] == [tuple(r) for r in r2]
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert len(r1) == n_docs  # every doc gets exactly one prediction
    langs = {
        r["lang"]
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("lang").distinct().collect()
    }
    assert all(r["pred_lang"] in langs for r in r1)


def test_sample_fraction_close(spark):
    q = all_queries()
    n = q["i_sample"](spark, SF_DIR).count()
    total = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    # Bernoulli(0.1): expect ~10% +/- 5 sigma
    assert abs(n / total - 0.1) < 0.01, (n, total)


def test_approx_quantile_within_2pct(spark):
    q = all_queries()
    row = q["d_agg_approx_quantile"](spark, SF_DIR).collect()[0]
    exact = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .agg(
            F.percentile("o_totalprice", F.lit(0.5)).alias("p50"),
            F.percentile("o_totalprice", F.lit(0.95)).alias("p95"),
        )
        .collect()[0]
    )
    assert abs(row["p50"] - exact["p50"]) / exact["p50"] < 0.02
    assert abs(row["p95"] - exact["p95"]) / exact["p95"] < 0.02


def test_stratified_sample_fractions(spark):
    from pyspark.sql import functions as F2

    q = all_queries()
    got = {
        r["event_type"]: r["n"]
        for r in q["i_sample_stratified"](spark, SF_DIR)
        .groupBy("event_type")
        .agg(F2.count("*").alias("n"))
        .collect()
    }
    totals = {
        r["event_type"]: r["n"]
        for r in spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy("event_type")
        .agg(F2.count("*").alias("n"))
        .collect()
    }
    # unlisted strata must not appear; listed strata within tolerance
    assert set(got) <= {"click", "view", "error"}
    assert got["error"] == totals["error"]  # fraction 1.0 is exact
    assert abs(got["click"] / totals["click"] - 0.2) < 0.05
    assert abs(got["view"] / totals["view"] - 0.05) < 0.03


def test_hll_sketch_rollup_accuracy(spark):
    """Every per-nation estimate and the sketch-merged global estimate
    must sit within 5% of the exact distinct counts."""
    q = all_queries()
    got = {
        r["scope_key"]: r["est_customers"]
        for r in q["d_agg_hll_merge"](spark, SF_DIR).collect()
    }
    from sqlengine_spark.session import table as _t

    c = _t(spark, SF_DIR, "customer")
    exact = {
        r["c_nationkey"]: r["n"]
        for r in c.groupBy("c_nationkey")
        .agg(F.countDistinct("c_custkey").alias("n"))
        .collect()
    }
    exact[-1] = c.select("c_custkey").distinct().count()
    assert set(got) == set(exact)
    for k, est in got.items():
        assert abs(est - exact[k]) / exact[k] < 0.05, (k, est, exact[k])


def test_theta_sketch_setops_accuracy(spark):
    """All five Theta estimates within 5% of exact; inclusion-exclusion
    holds on the estimates."""
    row = all_queries()["d_agg_theta_setops"](spark, SF_DIR).collect()[0]
    from sqlengine_spark.session import table as _t

    c = _t(spark, SF_DIR, "customer")
    o = _t(spark, SF_DIR, "orders")
    a = {r["c_custkey"] for r in c.filter(F.col("c_mktsegment") == "BUILDING").collect()}
    b = {r["o_custkey"] for r in o.filter(F.col("o_totalprice") > 300000).collect()}
    exact = {
        "n_a": len(a), "n_b": len(b), "n_union": len(a | b),
        "n_intersect": len(a & b), "n_a_only": len(a - b),
    }
    for k, v in exact.items():
        assert v > 0 and abs(row[k] - v) / v < 0.05, (k, row[k], v)
    assert abs((row["n_a"] + row["n_b"]) - (row["n_union"] + row["n_intersect"])) <= 2
