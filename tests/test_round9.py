"""Round-9 operator properties: cross-engine equivalence on RANDOM
inputs for the new curation/eval pipelines (Hypothesis finds the
adversarial splits the fixture can't), plus the closed-form invariants
each estimator must satisfy on the fixture (KM monotonicity, conformal
coverage, chi-squared non-negativity, stationary-distribution
normalization, MinHash exact-duplicate detection)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from sqlengine_spark.registry import all_queries
from tests.conftest import DOCS, SF_DIR, docs_match_oracle, staged

VOCAB = ["aa", "bb", "cc", "dd", "ee", "ff"]
LANGS = ["xx", "yy", "zz"]

labelled_corpora9 = st.lists(
    st.tuples(
        st.sampled_from(LANGS),
        st.lists(st.sampled_from(VOCAB), min_size=1, max_size=8),
    ),
    min_size=2,
    max_size=20,
)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(docs=labelled_corpora9)
def test_random_corpus_langid_agrees_cross_engine(spark, docs):
    """The graduated trigram-profile language-ID must equal its oracle
    on ANY labelled corpus — integer fixed-point scores mean even exact
    ties must break identically (lang ASC) in both engines."""
    rows = [
        (i, " ".join(toks), lang, "s0", len(" ".join(toks)))
        for i, (lang, toks) in enumerate(docs)
    ]
    docs_match_oracle(spark, "l_text_langid", rows)


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(docs=labelled_corpora9)
def test_random_corpus_minhash_calibration_agrees_cross_engine(spark, docs):
    """The fully-oracled MinHash calibration must equal its oracle on
    ANY corpus: md5-derived signature mins, first-match band
    candidates, estimates and exact Jaccards all bit-equal."""
    rows = [
        (i, " ".join(toks), lang, "s0", len(" ".join(toks)))
        for i, (lang, toks) in enumerate(docs)
    ]
    docs_match_oracle(spark, "l_minhash_calibration", rows)


def test_minhash_calibration_detects_exact_duplicates(spark):
    """Two identical documents share every signature min, so the pair
    MUST surface in band 0 with est_j = exact_j = 1 — the deterministic
    corner of the probabilistic LSH guarantee."""
    text = "aa bb cc dd ee ff aa bb"
    rows = [
        (0, text, "xx", "s0", len(text)),
        (1, text, "xx", "s0", len(text)),
        (2, "ff ee dd cc bb aa ff ee", "xx", "s0", 23),
    ]
    with staged(spark, "documents", rows, DOCS) as d:
        out = {
            (r["doc_a"], r["doc_b"]): (r["est_j"], r["exact_j"])
            for r in all_queries()["l_minhash_calibration"](spark, d).collect()
        }
    assert (0, 1) in out
    assert out[(0, 1)] == (1.0, 1.0)


bt_tables = st.lists(
    st.tuples(
        st.sampled_from(["sa", "sb", "sc", "sd"]),
        st.integers(min_value=1, max_value=40),
    ),
    min_size=2,
    max_size=30,
)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(rows=bt_tables)
def test_random_bt_leaderboard_agrees_cross_engine(spark, rows):
    """The Bradley-Terry fit must equal its oracle on ANY match table:
    the driver-side Python MM iteration (sorted sequential sums) and
    the oracle's ordered-aggregate folds must stay bit-identical
    through 5 iterations of renormalized 12-dp state."""
    staged_rows = [(i, "t", "xx", src, n) for i, (src, n) in enumerate(rows)]
    docs_match_oracle(spark, "l_bt_leaderboard", staged_rows)


def test_bt_leaderboard_ranks_dominant_source_first(spark):
    """A source that wins every battle must take rank 1 with the
    largest strength."""
    rows = []
    i = 0
    for src, base in (("big", 100), ("mid", 50), ("low", 10)):
        for k in range(5):
            rows.append((i, "t", "xx", src, base + k))
            i += 1
    with staged(spark, "documents", rows, DOCS) as d:
        out = all_queries()["l_bt_leaderboard"](spark, d).collect()
    by_rank = sorted(out, key=lambda r: r["rank"])
    assert [r["source"] for r in by_rank] == ["big", "mid", "low"]
    assert by_rank[0]["bt_score"] > by_rank[-1]["bt_score"]


def test_km_survival_monotone_and_bounded(spark):
    """Kaplan-Meier invariants on the fixture: survival starts ≤ 1,
    never increases, stays in [0, 1], and the at-risk ledger never
    goes negative."""
    rows = all_queries()["m_survival_km"](spark, SF_DIR).orderBy(
        "t_hours"
    ).collect()
    assert rows, "fixture must produce KM steps"
    prev = 1.0
    for r in rows:
        assert 0.0 <= r["survival"] <= prev + 1e-12, r
        assert r["n_risk"] >= r["n_events"] >= 1
        prev = r["survival"]


def test_conformal_interval_coverage_and_geometry(spark):
    """Split-conformal invariants: lo ≤ pred ≤ hi with a constant
    width (2q), and empirical test coverage near the 90% guarantee
    (exchangeable folds by construction)."""
    rows = all_queries()["l_conformal_interval"](spark, SF_DIR).collect()
    assert rows
    widths = {round(r["hi"] - r["lo"], 2) for r in rows}
    assert len(widths) == 1, f"interval width must be constant: {widths}"
    for r in rows:
        assert r["lo"] <= r["pred"] <= r["hi"]
    cov = sum(r["covered"] for r in rows) / len(rows)
    assert cov >= 0.80, f"coverage {cov} far below the 90% guarantee"


def test_chi2_nonnegative_with_correct_dof(spark):
    r = all_queries()["d_agg_chi2"](spark, SF_DIR).collect()[0]
    assert r["chi2"] >= 0.0
    assert r["dof"] == (r["n_rows"] - 1) * (r["n_cols"] - 1)


def test_markov_stationary_is_a_distribution(spark):
    rows = all_queries()["m_markov_stationary"](spark, SF_DIR).collect()
    tot = sum(r["stationary_prob"] for r in rows)
    assert abs(tot - 1.0) <= 1e-5, tot
    assert all(0.0 <= r["stationary_prob"] <= 1.0 for r in rows)
    assert sorted(r["rank"] for r in rows) == list(range(1, len(rows) + 1))


def test_cuped_preserves_user_partition(spark):
    """CUPED must account for every user exactly once across variants,
    and variance reduction must not be materially negative (θ is the
    pooled OLS minimizer)."""
    from sqlengine_spark.session import table
    import pyspark.sql.functions as F

    rows = all_queries()["m_ab_cuped"](spark, SF_DIR).collect()
    n_users = (
        table(spark, SF_DIR, "events")
        .select(F.countDistinct("user_id"))
        .collect()[0][0]
    )
    assert sum(r["n_users"] for r in rows) == n_users
    for r in rows:
        assert r["var_reduction_pct"] > -5.0, r
