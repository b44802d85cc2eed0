"""Random-hyperplane LSH similarity join (sqlengine_spark/ann.py):
recall and pruning asserted on planted near-duplicates — the natural
fixture embeddings have no high-cosine pairs (max 0.513 at sf0.01), so
near-dups are constructed as unit-normalized noisy copies.
"""

import math
import random

import pytest
from pyspark.sql import functions as F

from sqlengine_spark.ann import lsh_sim_join
from sqlengine_spark.functions import vdot
from tests.conftest import SF_DIR_SMALL

DIM = 64
N_BASE = 120
N_DUP = 30
NOISE = 0.18  # cos(v, v+noise) ~ 0.985


@pytest.fixture(scope="module")
def planted(spark):
    rng = random.Random(7)

    def unit(vec):
        n = math.sqrt(sum(x * x for x in vec))
        return [x / n for x in vec]

    base = [unit([rng.gauss(0, 1) for _ in range(DIM)]) for _ in range(N_BASE)]
    rows = [(i, v) for i, v in enumerate(base)]
    # planted near-dups: ids 1000+i duplicate ids 0..N_DUP-1
    for i in range(N_DUP):
        noisy = unit([x + rng.gauss(0, NOISE / math.sqrt(DIM)) for x in base[i]])
        rows.append((1000 + i, noisy))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _brute_pairs(planted, threshold):
    a = planted.select(F.col("vec_id").alias("va"), F.col("embedding").alias("ea"))
    b = planted.select(F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"))
    return {
        (r["va"], r["vb"])
        for r in a.join(b, F.col("va") < F.col("vb"))
        .withColumn("sim", vdot(F.col("ea"), F.col("eb")))
        .filter(F.col("sim") >= threshold)
        .collect()
    }


def test_lsh_finds_planted_near_dups(spark, planted):
    got = {
        (r["va"], r["vb"])
        for r in lsh_sim_join(planted, threshold=0.9).collect()
    }
    truth = _brute_pairs(planted, 0.9)
    planted_pairs = {(i, 1000 + i) for i in range(N_DUP)}
    assert planted_pairs <= truth, "fixture construction broken"
    missed = truth - got
    # recall 1-(1-p^8)^16 >= 0.999 at cos 0.9; allow at most one unlucky miss
    assert len(missed) <= 1, f"LSH missed {len(missed)}/{len(truth)} pairs"
    assert got <= truth, "exact verify must keep output a subset of brute force"


def test_lsh_prunes_distant_pairs(spark, planted):
    # candidate generation must not degenerate to all-pairs: with 150
    # vectors there are ~11k pairs; random pairs collide on an 8-bit
    # band with prob 0.5^8, so candidates should be a small fraction.
    out = lsh_sim_join(planted, threshold=-1.0)  # keep all candidates
    n_cands = out.count()
    n_total = 150 * 149 // 2
    assert n_cands < n_total * 0.25, f"{n_cands}/{n_total} pairs met — no pruning"


def test_registered_lsh_query_matches_brute_force(spark):
    """The driver-visible l_sim_join_lsh (32x2 bands at tau=0.4) must be
    a subset of the brute-force l_sim_join_threshold pairs with recall
    >= 0.99 on the real embeddings table — the geometry is chosen so
    1-(1-p^2)^32 ~ 1 at the threshold boundary (see its docstring)."""
    from sqlengine_spark.registry import all_queries

    qs = all_queries()
    brute = {
        (r["va"], r["vb"]): r["sim"]
        for r in qs["l_sim_join_threshold"](spark, SF_DIR_SMALL).collect()
    }
    lsh = {
        (r["va"], r["vb"]): r["sim"]
        for r in qs["l_sim_join_lsh"](spark, SF_DIR_SMALL).collect()
    }
    assert set(lsh) <= set(brute), "exact verify must keep output a subset"
    assert len(lsh) >= 0.99 * len(brute), f"recall {len(lsh)}/{len(brute)}"
    for pair, sim in lsh.items():
        assert sim == brute[pair], f"sim mismatch on {pair}"


def test_ivf_probe_all_equals_exact(spark):
    """ivf_topk with n_probe == n_centroids must equal the brute-force
    l_sim_search_topk exactly (same rows, same rounded sims, same order)
    — IVF only ever skips buckets, it never alters scores."""
    from sqlengine_spark.ann import ivf_topk
    from sqlengine_spark.registry import all_queries
    from sqlengine_spark.session import table

    e = table(spark, SF_DIR_SMALL, "embeddings")
    exact = [
        tuple(r)
        for r in all_queries()["l_sim_search_topk"](spark, SF_DIR_SMALL).collect()
    ]
    ivf_all = [
        tuple(r)
        for r in ivf_topk(e, query_id=0, n_probe=16).collect()
    ]
    assert ivf_all == exact


def test_ivf_partial_probe_recall(spark):
    """The registered l_sim_search_ivf (probe 8/16) output must be true
    sims (a subset of the full ranking) with recall vs the exact top-10
    at least 0.5 on the fixture — deterministic seed, so this is a pin,
    not a flake; measured value is asserted not to regress."""
    from sqlengine_spark.registry import all_queries

    qs = all_queries()
    exact = {r["vec_id"]: r["sim"] for r in qs["l_sim_search_topk"](spark, SF_DIR_SMALL).collect()}
    ivf = {r["vec_id"]: r["sim"] for r in qs["l_sim_search_ivf"](spark, SF_DIR_SMALL).collect()}
    hits = set(ivf) & set(exact)
    for vid in hits:
        assert ivf[vid] == exact[vid]
    assert len(hits) >= 5, f"IVF recall collapsed: {len(hits)}/10"


def test_pq_rerank_recall_and_determinism(spark):
    """PQ + exact re-rank: final top-10 must recover >=80% of the exact
    top-10 (measured 100% on this data; floor leaves data-drift
    headroom), and two runs must be bit-identical (no RNG anywhere in
    training/encoding)."""
    from sqlengine_spark.registry import all_queries
    from tests.conftest import SF_DIR

    q = all_queries()["l_sim_search_pq"]
    got1 = [(r["vec_id"], r["sim"]) for r in q(spark, SF_DIR).collect()]
    got2 = [(r["vec_id"], r["sim"]) for r in q(spark, SF_DIR).collect()]
    assert got1 == got2
    exact = [
        r["vec_id"]
        for r in all_queries()["l_sim_search_topk"](spark, SF_DIR).collect()
    ]
    assert len(set(v for v, _ in got1) & set(exact)) >= 8
