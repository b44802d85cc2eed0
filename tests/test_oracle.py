"""The main correctness gate: every registry query with a DuckDB oracle
is hash-compared at sf0.01 through driver_sim's compare, exactly like the
driver's t2 (SURVEY §5.1-5.2).

Parametrized over the registry, so adding an operator automatically adds
its test — zero drift between local tests and the driver contract.
"""

import datetime as dt
from decimal import Decimal

import pandas as pd
import pytest

from scripts.driver_sim import frame_diff
from sqlengine_spark.registry import all_oracles
from tests.conftest import (
    EVENTS,
    assert_matches_oracle,
    docs_match_oracle,
    leaves_no_stream,
    staged,
)

ORACLED = sorted(all_oracles())


@pytest.mark.parametrize("qid", ORACLED)
def test_matches_oracle(spark, qid):
    with leaves_no_stream(spark):
        assert_matches_oracle(spark, qid)


@pytest.mark.parametrize(
    "got, want",
    [(-0.0, 0.0), (Decimal("1.50"), 1.5), (1, 1.0), (True, 1)],
    ids=["neg_zero", "decimal_vs_double", "int_vs_double", "bool_vs_int"],
)
def test_compare_rejects_what_the_driver_hash_rejects(got, want):
    """Values that compare equal in Python but hash differently in the
    driver (CLAUDE.md pins 5b and 12d) must fail the compare."""
    assert frame_diff(pd.DataFrame({"v": [got]}), pd.DataFrame({"v": [want]}))


def _null_key_docs():
    """30 documents sharing one token pair (l_topic_cooccur keeps pairs
    in >= 25 docs) and >= 8 words each (l_dup_ngram_rate's floor), plus
    one NULL-source row and one NULL-doc_id row."""
    words = "alpha beta gamma delta epsilon zeta eta theta".split()
    rows = []
    for i in range(30):
        text = " ".join(words[i % 3 :] + words[: i % 3])
        rows.append((i, text, "en", f"src{i % 2}", len(text)))
    text = " ".join(words)
    rows.append((30, text, "en", None, len(text)))
    rows.append((None, text, "en", "src0", len(text)))
    return rows


@pytest.mark.parametrize("qid", ["l_dup_ngram_rate", "l_topic_cooccur"])
def test_null_join_keys_match_oracle(spark, qid):
    """NULL `source` / `doc_id` keys, which no fixture column has: the
    NULL-source group survives and NULL-doc_id rows form no pairs, as
    in the oracles' GROUP BY source and a.doc_id = b.doc_id."""
    assert len(docs_match_oracle(spark, qid, _null_key_docs())) > 0


def _funnel_edge_events():
    """One user per funnel edge case, all anchored at ``t0``."""
    t0 = dt.datetime(2026, 3, 1, 12, 0, 0)
    chains = {
        1: [("view", 0), ("click", 0)],  # same timestamp: no click stage
        2: [("view", 0), ("click", 60)],  # click exactly 1 h later
        3: [("view", 0), ("click", 30), ("purchase", 60)],  # purchase at 1 h
        # only the later view anchors the chain inside the hour
        4: [("view", 0), ("view", 120), ("click", 150), ("purchase", 170)],
        5: [("click", 0), ("view", 10)],  # click before any view
        6: [("view", 0), ("click", 10), ("purchase", 90)],  # purchase at 90 min
        None: [("view", 0), ("click", 10), ("purchase", 20)],  # NULL user
        7: [("view", None), ("click", 10)],  # NULL-ts view
        8: [("view", 0), ("click", None), ("purchase", 10)],  # NULL-ts click
        9: [("click", 0), ("purchase", 10), ("signup", 20)],  # no view
    }
    rows = []
    for user, chain in chains.items():
        for kind, minutes in chain:
            ts = None if minutes is None else t0 + dt.timedelta(minutes=minutes)
            rows.append((len(rows), ts, user, kind, 1.0, "{}"))
    return rows


def test_funnel_edges_match_oracle(spark):
    """m_funnel_windowed's strict ``>`` at equal timestamps, the
    inclusive 1-hour bound, re-anchoring on a later view, NULL users
    (counted at stage 1 only) and NULL timestamps, none of which the
    fixtures hold."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    with staged(spark, "events", _funnel_edge_events(), EVENTS) as d:
        want = assert_matches_oracle(spark, "m_funnel_windowed", d)
    assert want.sort_values("stage")["n_users"].tolist() == [9, 4, 2]
