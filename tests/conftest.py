"""Shared fixtures and the oracle compare, all taken from
``scripts/driver_sim.py`` so the suite checks results exactly the way
the grading driver does (SURVEY §5.2):

- ``spark`` is driver_sim's plain session (Spark defaults, 1 GiB heap,
  none of ``get_spark()``'s configs), the kind the driver passes in;
- every result compare goes through ``driver_sim.frame_diff``: same
  column names, same row count, equal ``canon_df`` forms.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.driver_sim import duck_views, frame_diff, plain_session  # noqa: E402
from sqlengine_spark.registry import all_oracles, all_queries  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_DIR_SMALL = "/root/testdata/sf0.001"
# Schemas of the fixture tables that tests stage with their own rows.
DOCS = "doc_id long, text string, lang string, source string, n_chars long"
EVENTS = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


@pytest.fixture(scope="session")
def spark():
    return plain_session()


def assert_same(sdf, want):
    """A Spark DataFrame against an expected pandas frame."""
    why = frame_diff(sdf.toPandas(), want)
    assert why is None, why


def oracle_df(sf_dir: str, sql: str):
    """Run ``sql`` on DuckDB views over the tables in ``sf_dir``."""
    con = duck_views(sf_dir)
    try:
        return con.execute(sql).df()
    finally:
        con.close()


def assert_matches_oracle(spark, qid: str, sf_dir: str = SF_DIR):
    """queries()[qid] on Spark against oracle_sql()[qid] on DuckDB over
    the same tables; returns the oracle's frame."""
    spdf = all_queries()[qid](spark, sf_dir).toPandas()
    want = oracle_df(sf_dir, all_oracles()[qid])
    why = frame_diff(spdf, want)
    assert why is None, f"{qid}: {why}"
    return want


@contextlib.contextmanager
def leaves_no_stream(spark):
    """The block must leave no streaming query running and no new
    temporary view with ``sink`` in its name: a leaked memory sink
    keeps every output row in the driver for the rest of the session."""

    def sink_views():
        # the session catalog directly: SHOW VIEWS costs ~20 ms a call,
        # and test_matches_oracle makes two per oracled query
        views = spark._jsparkSession.sessionState().catalog().listLocalTempViews("*sink*")
        return {views.apply(i).table() for i in range(views.size())}

    before = sink_views()
    yield
    assert not spark.streams.active, [q.name for q in spark.streams.active]
    assert sink_views() <= before, sorted(sink_views() - before)


def docs_match_oracle(spark, qid: str, rows):
    """``assert_matches_oracle`` on ``rows`` staged as the documents
    table (``DOCS`` schema); returns the oracle's frame."""
    with staged(spark, "documents", rows, DOCS) as d:
        return assert_matches_oracle(spark, qid, d)


@contextlib.contextmanager
def staged(spark, table: str, rows, schema: str):
    """Write ``rows`` as ``<tmp>/<table>.parquet`` so the registered
    operators (which read through session.table) run on them
    unmodified; yields the directory and removes it afterwards."""
    d = tempfile.mkdtemp(prefix=f"sqlengine_{table}_")
    try:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{d}/{table}.parquet")
        yield d
    finally:
        shutil.rmtree(d, ignore_errors=True)
