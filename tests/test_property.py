"""Property-based cross-engine equivalence (SURVEY §5.4 R5): random
filter + group-by + aggregate queries over lineitem must produce
identical results in Spark and DuckDB. Catches semantic drift the fixed
query set can't (operator precedence, null handling, rounding policy).

Runs at sf0.001 so each example is sub-second.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from scripts.driver_sim import duck_views
from sqlengine_spark.functions import dround
from sqlengine_spark.registry import all_queries
from sqlengine_spark.session import table
from tests.conftest import (
    DOCS,
    EVENTS,
    SF_DIR_SMALL,
    assert_matches_oracle,
    assert_same,
    docs_match_oracle,
    oracle_df,
    staged,
)

NUM_COLS = {
    "l_quantity": (1.0, 50.0),
    "l_extendedprice": (900.0, 100000.0),
    "l_discount": (0.0, 0.1),
}
KEY_COLS = ["l_returnflag", "l_linestatus", "l_linenumber"]
OPS = ["<", ">=", "<=", ">"]


@pytest.fixture(scope="module")
def duck_small():
    con = duck_views(SF_DIR_SMALL)
    yield con
    con.close()


predicates = st.lists(
    st.tuples(
        st.sampled_from(sorted(NUM_COLS)),
        st.sampled_from(OPS),
        st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
    ),
    min_size=0,
    max_size=3,
)
group_keys = st.lists(st.sampled_from(KEY_COLS), min_size=1, max_size=3, unique=True)
agg_col = st.sampled_from(sorted(NUM_COLS))


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(preds=predicates, keys=group_keys, acol=agg_col)
def test_random_filter_group_agg(spark, duck_small, preds, keys, acol):
    li = table(spark, SF_DIR_SMALL, "lineitem")
    conds_sql = []
    for col, op, frac in preds:
        lo, hi = NUM_COLS[col]
        thr = lo + frac * (hi - lo)
        expr = {"<": F.col(col) < thr, ">=": F.col(col) >= thr,
                "<=": F.col(col) <= thr, ">": F.col(col) > thr}[op]
        li = li.filter(expr)
        # CAST('<repr>' AS DOUBLE): DuckDB types a bare >=16-sig-digit
        # literal DECIMAL(18,17) whose decimal->double conversion can land
        # on a DIFFERENT double than Python/Spark's parse of the same text
        # (found by Hypothesis round 3: 0.09999999999999999). String->double
        # parsing round-trips repr() exactly in both engines.
        conds_sql.append(f"{col} {op} CAST('{thr!r}' AS DOUBLE)")
    sdf = li.groupBy(*keys).agg(
        F.count("*").alias("cnt"),
        dround(F.sum(acol), 2).alias("s"),
        F.min(acol).alias("mn"),
        F.max(acol).alias("mx"),
    )
    where = f"WHERE {' AND '.join(conds_sql)}" if conds_sql else ""
    sql = f"""
        SELECT {', '.join(keys)}, COUNT(*) AS cnt,
               ROUND(SUM({acol}) * 100, 0) / 100 AS s,
               MIN({acol}) AS mn, MAX({acol}) AS mx
        FROM lineitem {where} GROUP BY {', '.join(keys)}
    """
    assert_same(sdf, duck_small.execute(sql).df())


# Data-domain grid points where filter thresholds are most dangerous:
# l_discount is generated on the 0.00..0.10 cent grid, l_quantity on
# integers 1..50, l_tax on 0.00..0.08. A threshold exactly ON or one
# ulp AROUND a grid value is where Spark-vs-DuckDB literal parsing
# divergence flips row membership (the round-3 Hypothesis find was
# nextafter(0.1, 0) reached via 0.9999999999999999 * 0.1).
BOUNDARY_GRIDS = {
    "l_discount": [k / 100.0 for k in range(0, 11)],
    "l_tax": [k / 100.0 for k in range(0, 9)],
    "l_quantity": [float(k) for k in range(1, 51)],
}


def _ulp_offset(x: float, steps: int) -> float:
    import math as m

    toward = m.inf if steps > 0 else -m.inf
    for _ in range(abs(steps)):
        x = m.nextafter(x, toward)
    return x


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    col=st.sampled_from(sorted(BOUNDARY_GRIDS)),
    idx=st.integers(min_value=0, max_value=49),
    ulps=st.integers(min_value=-3, max_value=3),
    op=st.sampled_from(OPS),
)
def test_boundary_ulp_thresholds(spark, duck_small, col, idx, ulps, op):
    """Round-3 verdict item 8: fuzz thresholds AT and one-to-three ulps
    around actual data-domain grid values through BOTH the Spark Column
    path and the oracle-SQL path. Any literal-coercion divergence
    (DECIMAL-typed literals, decimal->double vs text->double) flips
    membership of the grid rows and fails the row-set compare."""
    grid = BOUNDARY_GRIDS[col]
    thr = _ulp_offset(grid[idx % len(grid)], ulps)
    expr = {"<": F.col(col) < thr, ">=": F.col(col) >= thr,
            "<=": F.col(col) <= thr, ">": F.col(col) > thr}[op]
    sdf = (
        table(spark, SF_DIR_SMALL, "lineitem")
        .filter(expr)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("cnt"), dround(F.sum(col), 2).alias("s"))
    )
    sql = f"""
        SELECT l_returnflag, COUNT(*) AS cnt,
               ROUND(SUM({col}) * 100, 0) / 100 AS s
        FROM lineitem WHERE {col} {op} CAST('{thr!r}' AS DOUBLE)
        GROUP BY l_returnflag
    """
    assert_same(sdf, duck_small.execute(sql).df())


JOIN_KINDS = {
    "inner": "JOIN",
    "left": "LEFT JOIN",
    "full": "FULL JOIN",
}


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    kind=st.sampled_from(sorted(JOIN_KINDS)),
    frac=st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
    seg=st.sampled_from(["BUILDING", "MACHINERY", "HOUSEHOLD"]),
)
def test_random_join_shapes(spark, duck_small, kind, frac, seg):
    """Random join type x random pre-join filters: Spark and DuckDB must
    agree on matched AND null-padded rows."""
    thr = 900.0 + frac * 99100.0
    c = table(spark, SF_DIR_SMALL, "customer").filter(F.col("c_mktsegment") == seg)
    o = table(spark, SF_DIR_SMALL, "orders").filter(F.col("o_totalprice") >= thr)
    sdf = c.join(o, c.c_custkey == o.o_custkey, kind).select(
        "c_custkey", "c_mktsegment", "o_orderkey", "o_totalprice"
    )
    sql = f"""
        SELECT c_custkey, c_mktsegment, o_orderkey, o_totalprice
        FROM (SELECT * FROM customer WHERE c_mktsegment = '{seg}') c
        {JOIN_KINDS[kind]}
             (SELECT * FROM orders
              WHERE o_totalprice >= CAST('{thr!r}' AS DOUBLE)) o
          ON c.c_custkey = o.o_custkey
    """
    assert_same(sdf, duck_small.execute(sql).df())


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    k=st.integers(min_value=0, max_value=6),
    desc=st.booleans(),
    agg=st.sampled_from(["SUM", "AVG", "MIN", "MAX", "COUNT"]),
)
def test_random_window_frames(spark, duck_small, k, desc, agg):
    """Random ROWS frame size x sort direction x aggregate over a
    per-customer window: frame boundary semantics must agree."""
    from pyspark.sql import Window as W

    order_sql = "o_orderdate DESC, o_orderkey DESC" if desc else "o_orderdate, o_orderkey"
    cols = (
        [F.col("o_orderdate").desc(), F.col("o_orderkey").desc()]
        if desc
        else [F.col("o_orderdate"), F.col("o_orderkey")]
    )
    w = W.partitionBy("o_custkey").orderBy(*cols).rowsBetween(-k, 0)
    sfun = {
        "SUM": F.sum, "AVG": F.avg, "MIN": F.min, "MAX": F.max, "COUNT": F.count
    }[agg]
    sdf = table(spark, SF_DIR_SMALL, "orders").select(
        "o_orderkey",
        dround(sfun("o_totalprice").over(w).cast("double"), 2).alias("v"),
    )
    sql = f"""
        SELECT o_orderkey,
               ROUND(CAST({agg}(o_totalprice) OVER (
                   PARTITION BY o_custkey ORDER BY {order_sql}
                   ROWS BETWEEN {k} PRECEDING AND CURRENT ROW) AS DOUBLE)
                     * 100, 0) / 100 AS v
        FROM orders
    """
    assert_same(sdf, duck_small.execute(sql).df())


# ---------------------------------------------------------------------------
# Tier-L float formulas (round-2 verdict item 8): random corpora / vectors
# stress the prefix-filter theorem, the tf-idf formula pins, and vdot's
# bit-identity — the -0.0 class of bug was found by exactly this kind of
# randomized cross-engine check.
# ---------------------------------------------------------------------------

VOCAB = [f"w{i}" for i in range(12)]

corpora = st.lists(
    st.lists(st.sampled_from(VOCAB), min_size=1, max_size=10),
    min_size=2,
    max_size=25,
)


def _corpus(spark, docs):
    """Stage a random token-list corpus as the documents table."""
    return staged(
        spark,
        "documents",
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(docs=corpora)
def test_random_corpus_prefix_jaccard_equals_naive(spark, docs):
    """The prefix-filtered l_simjoin_jaccard pipeline must equal the
    naive all-postings inverted-index SQL on ANY corpus — this is the
    prefix-filter completeness theorem under randomized attack (small
    vocab => heavy stopword skew, the adversarial case)."""
    with _corpus(spark, docs) as sf_dir:
        assert_matches_oracle(spark, "l_simjoin_jaccard", sf_dir)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(docs=corpora)
def test_random_corpus_tfidf_scores_agree(spark, docs):
    """tf x ln(N/df) per (doc, term), dround(4), must agree cross-engine
    on random corpora (formula pin: natural log, dynamic N)."""
    with _corpus(spark, docs) as sf_dir:
        d = table(spark, sf_dir, "documents")
        tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        tf = tok.groupBy("doc_id", "t").agg(F.count("*").alias("tf"))
        df_ = tok.groupBy("t").agg(F.count_distinct("doc_id").alias("df"))
        n = d.count()
        sdf = tf.join(F.broadcast(df_), "t").select(
            "doc_id",
            F.col("t").alias("term"),
            dround(F.col("tf") * F.log(F.lit(float(n)) / F.col("df")), 4).alias("tfidf"),
        )
        want = oracle_df(
            sf_dir,
            """
            WITH tok AS (
                SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
            ),
            tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY doc_id, t),
            df AS (SELECT t, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY t),
            n AS (SELECT COUNT(*) AS n FROM documents)
            SELECT tf.doc_id, tf.t AS term,
                   ROUND(tf.tf * ln(n.n * 1.0 / df.df) * 1e4, 0) / 1e4 + 0 AS tfidf
            FROM tf JOIN df ON tf.t = df.t, n
            """,
        )
        assert_same(sdf, want)


unit_vectors = st.lists(
    st.lists(
        st.floats(min_value=-1.0, max_value=1.0, allow_nan=False, width=64),
        min_size=8,
        max_size=8,
    ).filter(lambda v: sum(x * x for x in v) > 1e-6),
    min_size=2,
    max_size=6,
)


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(vecs=unit_vectors)
def test_vdot_bit_identical_to_duckdb_ordered_sum(spark, vecs):
    """functions.vdot (sequential double fold) must be BIT-identical —
    no rounding guard at all — to DuckDB's ordered SUM over
    generate_series, for arbitrary double vectors (CLAUDE.md pin 4)."""
    import math as m

    from sqlengine_spark.functions import vdot

    dim = 8
    vecs = [[x / m.sqrt(sum(y * y for y in v)) for x in v] for v in vecs]
    sdf = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )
    a = sdf.select(F.col("vec_id").alias("va"), F.col("embedding").alias("ea"))
    b = sdf.select(F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"))
    got = {
        (r["va"], r["vb"]): r["sim"]
        for r in a.join(b, F.col("va") < F.col("vb"))
        .select("va", "vb", vdot(F.col("ea"), F.col("eb")).alias("sim"))
        .collect()
    }
    con = duckdb.connect()
    con.register("vecs", pd.DataFrame({"vec_id": range(len(vecs)), "embedding": vecs}))
    res = con.execute(
        f"""
        SELECT a.vec_id AS va, b.vec_id AS vb,
               (SELECT SUM(a.embedding[s.i]::DOUBLE * b.embedding[s.i]::DOUBLE)
                FROM (SELECT unnest(generate_series(1, {dim})) AS i) s) AS sim
        FROM vecs a JOIN vecs b ON a.vec_id < b.vec_id
        """
    ).fetchall()
    con.close()
    for va, vb, sim in res:
        assert got[(va, vb)] == sim, (va, vb, got[(va, vb)], sim)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    half_groups=st.integers(min_value=1, max_value=8),
    avg_cents=st.integers(min_value=100, max_value=100000),
    noise=st.lists(
        st.integers(min_value=-5000, max_value=5000), min_size=16, max_size=16
    ),
    negate=st.booleans(),
)
def test_window_sum_round_first_derivation(spark, half_groups, avg_cents, noise, negate):
    """CLAUDE.md rule 9, machine-enforced (round-4 verdict item 8):
    DuckDB computes window SUMs with a segment tree while Spark
    accumulates sequentially, so RAW prefix sums differ in the last
    ulp — and a value DERIVED from the raw sum that lands exactly on a
    ROUND-half boundary flips the hash (found on e_win_named_window at
    sf0.1, where sum/20 hit x.705). This test CONSTRUCTS that boundary
    deliberately: a money sequence of m = 2·half_groups rows whose
    total is m·(avg_cents + 0.5) cents, so the running average of the
    full prefix sits exactly on the half-cent ROUND boundary. The
    round-FIRST-then-derive pattern (running_avg = ROUND(ROUND(sum,2)
    / count, 2)) must agree cross-engine on every prefix, including
    the boundary one, for positive and negated (sign-straddling,
    rule 5b) sequences alike."""
    m = 2 * half_groups
    target = half_groups * (2 * avg_cents + 1)  # = m * (avg_cents + 0.5)
    cents = [noise[i % len(noise)] for i in range(m)]
    cents[0] += target - sum(cents)  # exact integer-cents adjustment
    if negate:
        cents = [-c for c in cents]
    rows = [(1, i, c / 100.0) for i, c in enumerate(cents)]

    sdf_in = spark.createDataFrame(rows, "grp int, i int, amt double")
    from pyspark.sql import Window as W

    w = W.partitionBy("grp").orderBy("i")
    run_sum = dround(F.sum("amt").over(w), 2)
    sdf = sdf_in.select(
        "grp",
        "i",
        run_sum.alias("running_total"),
        dround(run_sum / F.count("*").over(w), 2).alias("running_avg"),
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE t (grp INT, i INT, amt DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    want = con.execute(
        """
        SELECT grp, i,
               ROUND(SUM(amt) OVER w * 100, 0) / 100 + 0 AS running_total,
               ROUND(ROUND(SUM(amt) OVER w * 100, 0) / 100
                     / COUNT(*) OVER w * 100, 0) / 100 + 0 AS running_avg
        FROM t WINDOW w AS (PARTITION BY grp ORDER BY i)
        """
    ).df()
    con.close()
    assert_same(sdf, want)


# ---------------------------------------------------------------------------
# Round-6 (verdict item 6): drive BOTH branches of l_simjoin_jaccard_hi —
# the identical-set signature fast path AND the prefix-postings fallback —
# against the same DuckDB oracle. On the shipped corpus only the signature
# branch ever fires (n_max = 31 < tau/(1-tau)); here Hypothesis builds
# corpora whose n_max straddles the bound (n_max >= 34 forces the
# fallback at tau = 0.97, n_max <= 33 the fast path) with planted
# identical pairs and 33-of-34 proper-subset pairs (J = 33/34 ~ 0.9706)
# so the fallback's answer is non-trivially non-empty.
# ---------------------------------------------------------------------------

_VOCAB = [f"w{i:02d}" for i in range(60)]


@st.composite
def _jaccard_corpus(draw, force_fallback: bool):
    docs = []
    if force_fallback:
        # anchor doc with >= 34 distinct tokens pushes n_max past the
        # degeneracy bound; its 33-token proper subset is a true >= 0.97
        # pair that ONLY the general prefix+verify path can find
        anchor = draw(
            st.lists(
                st.sampled_from(_VOCAB), min_size=34, max_size=40, unique=True
            )
        )
        docs.append(anchor)
        docs.append(anchor[:-1])
    n_extra = draw(st.integers(min_value=2, max_value=6))
    for _ in range(n_extra):
        size = draw(st.integers(min_value=1, max_value=20))
        docs.append(
            draw(
                st.lists(
                    st.sampled_from(_VOCAB),
                    min_size=size,
                    max_size=size,
                    unique=True,
                )
            )
        )
    # plant an identical duplicate so the signature path's answer is
    # non-empty too
    dup_of = draw(st.integers(min_value=0, max_value=len(docs) - 1))
    docs.append(list(docs[dup_of]))
    return [" ".join(toks) for toks in docs]


@pytest.mark.parametrize("force_fallback", [False, True])
@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(data=st.data())
def test_jaccard_hi_both_branches_match_oracle(spark, force_fallback, data):
    texts = data.draw(_jaccard_corpus(force_fallback))
    # branch precondition: the generator must actually straddle the
    # bound (tau=0.97 -> fallback iff n_max >= 34)
    n_max = max(len(set(t.split(" "))) for t in texts)
    assert (n_max >= 34) == force_fallback
    rows = list(enumerate(texts))
    with staged(spark, "documents", rows, "doc_id long, text string") as d:
        want = assert_matches_oracle(spark, "l_simjoin_jaccard_hi", d)
    if force_fallback:
        # the planted subset pair is a non-identical >= 0.97 match
        # (J = 33/34): the fallback must have found a J < 1.0 pair
        assert (want["jaccard"] < 1.0).any(), want


# ---------------------------------------------------------------------------
# Round-6: l_dsir_weight cross-engine determinism on arbitrary corpora.
# The operator's only cross-engine float op is ONE ln() per bucket,
# quantized to a 1e-4 grid before the pure-integer per-doc sum — this
# hunts for grid-boundary flips (Java Math.log vs libm log last-ulp)
# over random gram/source distributions, including corpora with no
# 'src0' target docs at all (ct=0 everywhere).
# ---------------------------------------------------------------------------


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(data=st.data())
def test_dsir_weight_matches_oracle_on_random_corpora(spark, data):
    vocab = [f"w{i}" for i in range(12)]
    n_docs = data.draw(st.integers(min_value=3, max_value=10))
    rows = []
    for i in range(n_docs):
        n_words = data.draw(st.integers(min_value=2, max_value=30))
        words = [
            vocab[data.draw(st.integers(0, len(vocab) - 1))]
            for _ in range(n_words)
        ]
        src = data.draw(st.sampled_from(["src0", "src1", "src2"]))
        rows.append((i, " ".join(words), src))
    schema = "doc_id long, text string, source string"
    with staged(spark, "documents", rows, schema) as d:
        assert_matches_oracle(spark, "l_dsir_weight", d)


# ---------------------------------------------------------------------------
# Round-7 (round-6 verdict item 6): boundary attacks on the dedup
# family's fixture-dependent thresholds, in the jaccard_hi style —
# generated corpora straddle each operator's pin (the 100-char prefix
# fingerprint; the 30-word passage chunking) and the Spark answer must
# hash-equal the DuckDB oracle on every example.
# ---------------------------------------------------------------------------


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(data=st.data())
def test_dedup_prefix_boundary_matches_oracle(spark, data):
    """Attack the 100-char fingerprint pin: docs whose lengths straddle
    100, pairs sharing EXACTLY the first 100 chars but diverging at
    char 101 (must cluster together), and pairs diverging at char 100
    itself (must NOT cluster). substring(text, 1, 100) must agree
    between engines on short strings, multi-byte-free ASCII, and the
    off-by-one edge."""
    alpha = "abcdef"
    n_docs = data.draw(st.integers(min_value=2, max_value=5))
    rows = []
    doc_id = 0
    for _ in range(n_docs):
        shared_len = data.draw(
            st.sampled_from([0, 1, 50, 98, 99, 100, 101, 150])
        )
        prefix = "".join(
            alpha[data.draw(st.integers(0, len(alpha) - 1))]
            for _ in range(shared_len)
        )
        # two docs built on the same drawn prefix with independent tails
        for _ in range(2):
            tail_len = data.draw(st.sampled_from([0, 1, 5, 60]))
            tail = "".join(
                alpha[data.draw(st.integers(0, len(alpha) - 1))]
                for _ in range(tail_len)
            )
            text = prefix + tail
            rows.append(
                (doc_id, text, "en", "src0", len(text))
            )
            doc_id += 1
    docs_match_oracle(spark, "l_dedup_prefix", rows)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(data=st.data())
def test_dedup_passage_boundary_matches_oracle(spark, data):
    """Attack the 30-word chunking pin: word counts at 29/30/31/59/60/61
    (trailing partial passages), an ALIGNED 30-word block copied between
    docs (must count as a duplicate passage), and the same block copied
    MISALIGNED by one word (chunking is fixed-offset per doc, so a
    shifted copy must NOT match — in either engine). Also drives the
    slice()/array[a:b] off-by-one and the sequence()/range() step
    semantics both engines must agree on."""
    from sqlengine_spark.operators.tier_l_pipeline import PASSAGE_WORDS

    vocab = [f"w{i:02d}" for i in range(40)]

    def words(n):
        return [
            vocab[data.draw(st.integers(0, len(vocab) - 1))]
            for _ in range(n)
        ]

    block = words(PASSAGE_WORDS)  # the passage planted across docs
    rows = []
    # doc 0: aligned plant — block occupies chunk 0 exactly
    n0 = data.draw(st.sampled_from([0, 1, PASSAGE_WORDS - 1, PASSAGE_WORDS]))
    rows.append((0, " ".join(block + words(n0))))
    # doc 1: aligned re-occurrence (chunk 1 after exactly one full chunk)
    rows.append((1, " ".join(words(PASSAGE_WORDS) + block)))
    # doc 2: MISALIGNED copy — one leading word shifts every boundary
    rows.append((2, " ".join(words(1) + block + words(n0))))
    # docs 3+: boundary-length fillers
    did = 3
    for n in (
        PASSAGE_WORDS - 1,
        PASSAGE_WORDS,
        PASSAGE_WORDS + 1,
        2 * PASSAGE_WORDS + data.draw(st.sampled_from([-1, 0, 1])),
    ):
        rows.append((did, " ".join(words(n))))
        did += 1
    full = [
        (i, t, "en", "src0", len(t)) for i, t in rows
    ]
    want = docs_match_oracle(spark, "l_dedup_passage", full)
    # semantic pins on the oracle answer itself: doc 1's planted block
    # IS flagged, doc 2's shifted copy is not flagged AS that block
    n_dup = want.set_index("doc_id")["n_dup_passages"]
    assert n_dup[1] >= 1, "aligned re-occurrence missed"


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(data=st.data())
def test_dedup_substring_boundary_matches_oracle(spark, data):
    """Attack the 10-word overlapping-shingle pin (round-7
    l_dedup_substring): word counts at 9/10/11 (the zero-window edge),
    a 10-word block planted in two docs at DIFFERENT alignments (the
    overlapping windows must flag it — exactly what fixed-offset
    passage chunking misses), and duplicate shingles WITHIN one doc
    (must NOT count: the flag needs >1 distinct docs)."""
    from sqlengine_spark.operators.tier_l_pipeline import (
        SUBSTR_WINDOW_WORDS,
    )

    W = SUBSTR_WINDOW_WORDS
    vocab = [f"w{i:02d}" for i in range(30)]

    def words(n):
        return [
            vocab[data.draw(st.integers(0, len(vocab) - 1))]
            for _ in range(n)
        ]

    block = words(W)
    rows = []
    # doc 0: block at offset 0; doc 1: same block at a drawn offset
    off = data.draw(st.sampled_from([0, 1, 3, W]))
    rows.append((0, " ".join(block + words(data.draw(st.sampled_from([0, 2]))))))
    rows.append((1, " ".join(words(off) + block)))
    # doc 2: block repeated TWICE within the same doc only (plus fresh
    # randomness so it rarely collides cross-doc)
    rows.append((2, " ".join(block[::-1] + block[::-1])))
    # docs 3+: boundary lengths around the window size
    did = 3
    for n in (W - 1, W, W + 1):
        rows.append((did, " ".join(words(n))))
        did += 1
    full = [(i, t, "en", "src0", len(t)) for i, t in rows]
    want = docs_match_oracle(spark, "l_dedup_substring", full)
    # semantic pin: the differently-aligned planted block IS caught
    n_dup = want.set_index("doc_id")["n_dup_windows"]
    assert n_dup[0] >= 1
    assert n_dup[1] >= 1


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(data=st.data())
def test_chunk_cdc_boundary_matches_oracle(spark, data):
    """Attack the 8-char CDC hash-window pin: texts of length
    6/7/8/9/20 (the shorter-than-window branch must emit one whole-doc
    chunk, never a descending sequence — CLAUDE.md rule 11d), and two
    docs sharing content so their chunking agrees. Engines must agree
    on every chunk-count/max/mean profile."""
    alpha = "abcdefgh "
    rows = []
    did = 0
    for _ in range(data.draw(st.integers(2, 4))):
        ln = data.draw(st.sampled_from([6, 7, 8, 9, 20, 64]))
        txt = "".join(
            alpha[data.draw(st.integers(0, len(alpha) - 1))]
            for _ in range(ln)
        )
        rows.append((did, txt, "en", "src0", len(txt)))
        did += 1
        if data.draw(st.booleans()):
            rows.append((did, txt, "en", "src0", len(txt)))  # identical twin
            did += 1
    docs_match_oracle(spark, "l_chunk_cdc", rows)


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(data=st.data())
def test_logreg_train_matches_oracle_on_random_corpora(spark, data):
    """The GD trainer's cross-engine determinism claim (round-7
    l_ml_logreg_train): on RANDOM corpora — random lengths, random
    label mix, including all-one-class — five iterations of
    quantized-gradient descent must produce hash-identical weights and
    accuracy in both engines (the rational-sigmoid + fixed-point-sum
    design removes the libm exp() and sum-order failure classes)."""
    vocab = ["tok", "a", "longword", "x"]
    rows = []
    n_docs = data.draw(st.integers(min_value=3, max_value=12))
    for did in range(n_docs):
        nw = data.draw(st.integers(min_value=1, max_value=40))
        txt = " ".join(
            vocab[data.draw(st.integers(0, len(vocab) - 1))]
            for _ in range(nw)
        )
        lang = data.draw(st.sampled_from(["en", "de", "en", "zh"]))
        rows.append((did, txt, lang, "src0", len(txt)))
    docs_match_oracle(spark, "l_ml_logreg_train", rows)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(data=st.data())
def test_theilsen_matches_oracle_on_random_streams(spark, data):
    """Attack m_ts_theilsen's determinism pins on random event streams:
    adversarial values at cent-rounding boundaries (x.005, negatives —
    the cast-truncate-toward-zero path), single-day users (no pairs →
    user dropped by BOTH engines), even/odd pair counts (median
    interpolation), and multiple events per day (the order-immune
    integer-cent sum)."""
    import datetime as dt

    POOL = [0.005, -0.005, 1.015, 33.333, -12.345, 0.1 + 0.2, 50.0,
            -0.004999, 2.675]
    rows = []
    eid = 0
    n_users = data.draw(st.integers(1, 3))
    for u in range(n_users):
        n_days = data.draw(st.integers(1, 4))
        for d in range(n_days):
            for _ in range(data.draw(st.integers(0, 3))):
                v = POOL[data.draw(st.integers(0, len(POOL) - 1))]
                rows.append(
                    (
                        eid,
                        dt.datetime(2026, 3, 1 + d, 12, 0, 0),
                        u,
                        "click",
                        v,
                        "{}",
                    )
                )
                eid += 1
    if not rows:
        rows.append((0, dt.datetime(2026, 3, 1), 0, "click", 1.0, "{}"))
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    with staged(spark, "events", rows, EVENTS) as d:
        assert_matches_oracle(spark, "m_ts_theilsen", d)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
        HealthCheck.large_base_example,  # 8 seed vectors x 64 floats
    ],
)
@given(data=st.data())
def test_semdedup_matches_oracle_on_random_embeddings(spark, data):
    """Attack l_dedup_semantic's float pins on random embeddings: dots
    are arbitrary doubles (not the fixture's nice values), including
    exact-duplicate vectors (dot ties in the argmax — the cid tiebreak
    must agree), vectors equidistant from two centroids, and pair dots
    near the 0.35 threshold. The 1e-12 grid rounding must keep both
    engines' argmax and threshold decisions identical on every
    example."""
    from sqlengine_spark.operators.tier_l_llm import SEMDEDUP_K

    n_vec = data.draw(st.integers(SEMDEDUP_K, SEMDEDUP_K + 8))
    vecs = []
    for vid in range(n_vec):
        if vid >= SEMDEDUP_K and data.draw(st.booleans()):
            src = data.draw(st.integers(0, vid - 1))
            vec = list(vecs[src][1])  # exact duplicate: forces ties
        else:
            vec = [
                data.draw(
                    st.floats(
                        min_value=-1.0,
                        max_value=1.0,
                        allow_nan=False,
                        width=32,
                    )
                )
                for _ in range(64)
            ]
        vecs.append((vid, vec, vid % 3))
    schema = "vec_id long, embedding array<float>, label int"
    with staged(spark, "embeddings", vecs, schema) as d:
        assert_matches_oracle(spark, "l_dedup_semantic", d)


# ---------------------------------------------------------------------------
# l_ml_naive_bayes: cross-engine agreement under randomized attack, plus a
# separability sanity check the fixture corpus cannot provide (its lang
# labels are independent of content — docstring note on the operator).
# ---------------------------------------------------------------------------

labelled_corpora = st.lists(
    st.tuples(
        st.sampled_from(["aa", "bb", "cc"]),
        st.lists(st.sampled_from(VOCAB), min_size=1, max_size=8),
    ),
    min_size=2,
    max_size=20,
)


def _labelled_corpus(spark, docs):
    return staged(
        spark,
        "documents",
        [(i, " ".join(toks), lang) for i, (lang, toks) in enumerate(docs)],
        "doc_id long, text string, lang string",
    )


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(docs=labelled_corpora)
def test_random_corpus_naive_bayes_agrees_cross_engine(spark, docs):
    """The NB train/score/argmax pipeline must equal its DuckDB oracle
    on ANY labelled corpus — including the adversarial splits Hypothesis
    finds (classes present only in test, empty train halves, all-unseen
    test vocabularies, exact integer score ties broken by lang ASC)."""
    with _labelled_corpus(spark, docs) as sf_dir:
        assert_matches_oracle(spark, "l_ml_naive_bayes", sf_dir)


def test_separable_corpus_naive_bayes_perfect_diagonal(spark):
    """On a corpus whose classes use disjoint vocabularies the
    classifier must be exact: confusion matrix purely diagonal."""
    docs = []
    vocab = {
        "xx": ["alpha", "beta", "gamma"],
        "yy": ["delta", "epsilon", "zeta"],
        "zz": ["eta", "theta", "iota"],
    }
    i = 0
    for lang, words in vocab.items():
        for k in range(8):  # 4 train (even ids) + 4 test (odd ids)
            docs.append((lang, [words[(k + j) % 3] for j in range(4)]))
            i += 1
    with _labelled_corpus(spark, docs) as sf_dir:
        rows = all_queries()["l_ml_naive_bayes"](spark, sf_dir).collect()
    assert rows, "separable corpus must produce predictions"
    assert all(r["true_lang"] == r["pred_lang"] for r in rows), rows
    assert sum(r["n"] for r in rows) == 12  # 4 test docs x 3 classes


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(docs=corpora)
def test_random_corpus_simhash_banding_is_lossless(spark, docs):
    """The banded simhash pair join must equal the brute-force
    all-pairs hamming oracle on ANY corpus — the pigeonhole (hamming
    <= 2 over 3 disjoint 6-bit bands => some band matches exactly)
    under randomized attack. Small vocab => heavy fingerprint
    collisions, the adversarial case for pair dedup."""
    with _corpus(spark, docs) as sf_dir:
        assert_matches_oracle(spark, "l_simhash_hamming_join", sf_dir)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(data=st.data())
def test_holt_matches_oracle_on_random_streams(spark, data):
    """Attack m_ts_holt's lockstep-recurrence pins on random streams:
    day counts below the 2-day anchor (both engines must emit ZERO
    rows), negative values (trunc-toward-zero and the -0.0 output
    guard), cent-boundary values, and multi-event days (order-immune
    integer-cent sums feeding the recurrence)."""
    import datetime as dt

    POOL = [0.005, -0.005, 1.015, 33.333, -12.345, 50.0, -0.004999]
    rows = []
    eid = 0
    n_days = data.draw(st.integers(1, 5))
    for d in range(n_days):
        for _ in range(data.draw(st.integers(1, 3))):
            v = POOL[data.draw(st.integers(0, len(POOL) - 1))]
            rows.append(
                (eid, dt.datetime(2026, 3, 1 + d, 12, 0, 0), 0, "click",
                 v, "{}")
            )
            eid += 1
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    with staged(spark, "events", rows, EVENTS) as d:
        want = assert_matches_oracle(spark, "m_ts_holt", d)
    if n_days < 2:
        assert want.empty  # sub-anchor series: zero rows, both engines


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(data=st.data())
def test_rouge_matches_bruteforce_on_random_docs(spark, data):
    """Semantic pin for l_eval_rouge (not just cross-engine parity):
    a pure-Python Counter reference computes clipped n-gram overlap
    per pair — identical docs (F1=1), disjoint docs (F1=0),
    single-token sides (the rouge2 zero-denominator CASE guard), and
    repeated tokens (the CLIPPED min(tf_c, tf_r), not set overlap)."""
    from collections import Counter

    VOCAB = ["aa", "bb", "cc"]
    n_pairs = data.draw(st.integers(1, 4))
    docs = []
    for i in range(2 * n_pairs):
        n_tok = data.draw(st.integers(1, 6))
        toks = [VOCAB[data.draw(st.integers(0, 2))] for _ in range(n_tok)]
        docs.append((i, " ".join(toks), "en", "src0", len(" ".join(toks))))

    def grams(toks, n):
        return Counter(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1))

    want_rows = []
    by_id = {d[0]: d[1] for d in docs}
    for p in range(n_pairs):
        c = by_id[2 * p].split(" ")
        r = by_id[2 * p + 1].split(" ")
        g1c, g1r = grams(c, 1), grams(r, 1)
        g2c, g2r = grams(c, 2), grams(r, 2)
        ov1 = sum(min(n, g1r[g]) for g, n in g1c.items())
        ov2 = sum(min(n, g2r[g]) for g, n in g2c.items())
        lc, lr = len(c), len(r)
        l2c, l2r = sum(g2c.values()), sum(g2r.values())
        want_rows.append(
            (
                p, lc, lr, ov1, 2 * ov1 / (lc + lr),
                l2c, l2r, ov2,
                0.0 if l2c + l2r == 0 else 2 * ov2 / (l2c + l2r),
            )
        )
    with staged(spark, "documents", docs, DOCS) as d:
        result = all_queries()["l_eval_rouge"](spark, d)
        assert_same(result, pd.DataFrame(want_rows, columns=result.columns))


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(data=st.data())
def test_path_regex_matches_python_re_on_random_streams(spark, data):
    """Semantic pin for m_path_regex: a Python re reference classifies
    per-user journeys built under the same (ts, event_id) total order —
    timestamp TIES (the tiebreak), single-event users, and users whose
    path matches several patterns at once."""
    import datetime as dt
    import re

    TYPES = ["view", "click", "purchase", "signup", "error"]
    rows = []
    eid = 0
    n_users = data.draw(st.integers(1, 4))
    for u in range(n_users):
        for _ in range(data.draw(st.integers(1, 6))):
            # coarse timestamps force ties to exercise the event_id tiebreak
            t = dt.datetime(2026, 3, 1, 12, data.draw(st.integers(0, 1)), 0)
            rows.append(
                (eid, t, u, TYPES[data.draw(st.integers(0, 4))], 1.0, "{}")
            )
            eid += 1
    paths = {}
    for e_id, t, u, ty, _v, _p in sorted(rows, key=lambda x: (x[2], x[1], x[0])):
        paths.setdefault(u, []).append(ty[0])
    paths = {u: "".join(p) for u, p in paths.items()}
    tot = len(paths)
    pats = [
        ("converted_v_c_p", "v.*c.*p"),
        ("error_before_purchase", "e.*p"),
        ("signup_first", "^s"),
        ("never_purchased", "^[^p]*$"),
    ]
    want_rows = [
        (name, n, n / tot)
        for name, n in (
            (name, sum(1 for p in paths.values() if re.search(rx, p)))
            for name, rx in pats
        )
    ]
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    with staged(spark, "events", rows, EVENTS) as d:
        result = all_queries()["m_path_regex"](spark, d)
        assert_same(result, pd.DataFrame(want_rows, columns=result.columns))


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(data=st.data())
def test_bpe_train_matches_oracle_on_random_corpora(spark, data):
    """Attack the round-9 l_bpe_train graduation: the DuckDB
    wrapped-replace replay must equal the Spark sequential fold on
    random corpora engineered for merge pathologies — runs of repeated
    characters (consecutive-merge semantics), words where one merge's
    output is another merge's input, argmax ties (broken by (a, b)
    string order in both engines), and single-character words (no
    pairs)."""
    WORDS = ["aaaa", "aa", "a", "abab", "baba", "aab", "bba", "abc",
             "cab", "aaab"]
    docs = []
    n_docs = data.draw(st.integers(1, 6))
    for i in range(n_docs):
        n_words = data.draw(st.integers(1, 5))
        text = " ".join(
            WORDS[data.draw(st.integers(0, len(WORDS) - 1))]
            for _ in range(n_words)
        )
        docs.append((i, text, "en", "src0", len(text)))
    docs_match_oracle(spark, "l_bpe_train", docs)
