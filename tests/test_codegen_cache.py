"""Generated code is reused across plan rebuilds.

Spark caches the classes whole-stage codegen compiles, keyed by the
generated source text. A rebuilt plan hits that cache only while the
operator generates the same text every build; an operator that puts a
per-build value (a fresh literal, a uuid, a timestamp) into its
generated code pays a Janino compile, and the JIT a fresh class, on
every execution, whatever ``spark.sql.codegen.cache.maxEntries`` is.
"""

import pytest

from sqlengine_spark.registry import all_queries
from tests.conftest import SF_DIR

#: The olap benchmark workload (perfbench/workloads.py). Each qid below
#: added 0 compiles on five rebuilds in a row (sf0.01, plain session,
#: local[4]).
OLAP_REUSED = (
    "d_agg_q1_pricing", "c_join_3way", "e_win_topk_group",
    "t_q09_product_profit", "d_agg_multi_distinct", "c_join_asof",
    "m_funnel_windowed", "m_rolling_wau", "j_tumbling_1h",
)


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


@pytest.mark.parametrize("qid", OLAP_REUSED)
def test_rebuild_reuses_generated_code(spark, qid):
    build = all_queries()[qid]
    build(spark, SF_DIR).toPandas()
    before = _compiles(spark)
    build(spark, SF_DIR).toPandas()
    assert _compiles(spark) - before == 0, f"{qid} recompiled generated code on a rebuild"
