#!/usr/bin/env python
"""Benchmark harness (SURVEY §6, BASELINE.md protocol).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], one warm-up run plus
one timed run per query (session startup and first-run JIT excluded,
per BASELINE.md), and prints exactly ONE JSON line:

    {"metric": "wall_sec_total", "value": <sum>, "unit": "sec",
     "queries": {qid: sec, ...}, "sf": <sf>}

The query set is the 5 BASELINE.md anchor queries plus the heaviest
operator from each remaining tier, so the number tracks regressions
across the whole engine, not just the easy scans.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sqlengine_spark.registry import all_queries
from sqlengine_spark.session import get_spark, require_heap

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: BASELINE.md anchors first, then per-tier heavies.
HEADLINE = [
    "d_agg_q1_pricing",      # anchor: TPC-H Q1 group-agg
    "c_join_3way",           # anchor: 3-way join + top-10
    "e_win_topk_group",      # anchor: window top-k per group
    "j_tumbling_1h",         # anchor: hourly events agg
    "l_sim_search_topk",     # anchor: cosine top-10
    "c_join_asof",           # union-merge as-of join
    "d_agg_multi_distinct",  # expand-based multi-distinct
    "h_explode",             # generator + agg
    "l_text_tfidf_top",      # two-agg + broadcast join + rank
    "l_multimodal_enrich",   # posexplode centroid pipeline
    "l_sim_join_gemm",       # blocked-GEMM exact vector join (sim tier)
    "m_rolling_wau",         # tier M heavy: 7-day rolling distinct users
    "j_tumbling_1h_stream",  # true micro-batch streaming execution e2e
    "l_simjoin_jaccard_hi",  # hi-tau Jaccard join: signature fast path at sf0.1
    "l_bpe_encode",          # map-only codegen BPE pass (the op that
                             # touches 100 TB in production; r5 verdict
                             # item 7 — first tracked number)
    "t_q09_product_profit",  # TPC-H tier's tracked row (round 6): the
                             # 5-way join tree + two-level agg — the
                             # deepest join pipeline in the registry
    "l_dedup_substring",     # round 7: overlapping-shingle substring
                             # dedup — the Lee-et-al span signal; one
                             # checkpointed shingle scan + 16-byte-key
                             # flag join (tracks the new dedup family)
    "l_ml_naive_bayes",      # round 8: one-pass NB train + broadcast-
                             # model scoring + argmax — tracks the
                             # in-engine classifier family
    "l_minhash_calibration", # round 9: fully-oracled MinHash — one
                             # 16-min signature agg + 4 first-match
                             # band joins + exact shingle verify
                             # (tracks the calibration/curation family)
    "m_funnel_windowed",     # round 9 closing batch: windowed funnel —
                             # one user-keyed shuffle, two running-max
                             # windows and one global aggregate, 3 jobs
                             # (tracks event analytics)
    "m_basket_affinity",     # round 10b: market-basket lift — per-order
                             # pair fan-out + broadcast dim joins +
                             # TakeOrdered (x100 parity 1.09x with the
                             # single-process engine; tracks the
                             # association-mining family)
    "m_ts_kalman",           # round 10b: adaptive-gain Kalman fold —
                             # tracks the aggregate()-recurrence family
                             # (Spark FASTER than the single-process
                             # recursive-CTE replay at x10/x100:
                             # 0.82x/0.73x class — BASELINE.md)
    "l_span_corrupt",        # round 10: T5-style span corruption — the
                             # whole-corpus data-prep TRANSFORM class
                             # (posexplode fan-out + per-doc windows +
                             # conditional collect reassembly); x10
                             # ratio 1.88 vs the single-process engine
                             # at build time (BASELINE.md round-10)
    "l_ngram_assoc_llr",     # round 11: Dunning LLR collocations —
                             # tracks the zip_with gram build + single
                             # corpus shuffle with pair-table-derived
                             # marginals (x100 6.5 with a 2.0 s
                             # map-side scan floor — BASELINE.md)
    "l_rag_chunk_overlap",   # round 11: stride-48 window chunking —
                             # the zero-shuffle map-only transform
                             # class; Spark BEATS the single-process
                             # engine 0.60x at x100 (BASELINE.md)
    "l_eval_chrf",           # round 12: char-6-gram F2 — tracks the
                             # generator+codegen gram pipeline; Spark
                             # BEATS the single-process engine 0.46x
                             # at x100 (BASELINE.md round-12 notes)
    "l_eval_bootstrap_ci",   # round 12: Poisson bootstrap CI — the
                             # map-only distributed-bootstrap class;
                             # 0.20x at x100 post hex-compare +
                             # scatter (BASELINE.md round-12 notes)
    "l_eval_report",         # round 13: the composed eval artifact
                             # (chrF2 + token-F1 + length ratio + CI
                             # in one job) — tracks the multi-metric
                             # report class; x100 0.65x CROSSOVER
                             # after the scatter fix (BASELINE.md
                             # round-13 notes)
    "l_langid_confusion",    # round 14 promotion (r13 verdict item 5):
                             # the single most expensive x100 stress
                             # row (33.9 s — trigram profile build +
                             # per-doc argmax + P/R/F1 rollup); its
                             # cost is now visible per-round instead
                             # of only in BASELINE.md prose
    "l_lm_kn_perplexity",    # round 14 promotion (r13 verdict item 5):
                             # interpolated Kneser-Ney bigram LM,
                             # train + held-out scoring in one plan —
                             # tracks the LM-statistics family
    "l_dup_ngram_rate",      # round 15 promotion: corpus-level
                             # duplicate-8-gram rate — the RefinedWeb/
                             # Gopher repetition gate; tracked after
                             # the r15 rewrite (codegen gram generator
                             # + single-pass gram shuffle; paired
                             # 2.33->0.83 s sf0.1, 16.6->2.7 x100) so
                             # the curation dup-metrics family has a
                             # per-round number
    "l_graph_triangles",     # round 9: benched after the edge-iterator
                             # rewrite (adjacency-array intersects
                             # in-task instead of shuffling the 41M-row
                             # wedge stream; x10 parity with the
                             # single-process engine — BASELINE.md
                             # round-9 note). The round-7 "fixture
                             # density" exclusion is obsolete: density
                             # made the WEDGE EXCHANGE dominant, and
                             # the rewrite removed that exchange.
]
# The similarity tier's benched row is l_sim_join_gemm, not
# l_sim_join_lsh: at this corpus's only non-vacuous threshold (τ=0.4;
# max pairwise cosine is 0.60) a 2-bit LSH band has 4 possible
# signatures, so EVERY pair collides in some band and banded LSH
# degenerates to all-pairs (17.4 s at sf0.1
# even after ann.py's numpy-prefiltered verify; 30.6 s before it). That is a property of the τ regime,
# not of the plan: LSH prunes at production thresholds (τ ≥ 0.9),
# where this corpus's answer is empty. The GEMM join is the honest
# scale path for moderate-τ exact joins and its candidates are
# data-bounded (920 true pairs at sf0.1).
# The high-tau Jaccard join IS benched at sf0.1 via
# l_simjoin_jaccard_hi (round-4 verdict item 9) — but note WHICH plan
# the tracked number measures (round-5 advice): on this corpus
# n_max = 31 < tau/(1-tau), so the operator's runtime degeneracy test
# fires and it takes the identical-set md5-SIGNATURE equi-grouping fast
# path (asserted in tests/test_plans.py::
# test_jaccard_hi_fast_path_is_signature_agg; 1.6 s vs 70.7 s for the
# prefix plan on this corpus). The general-tau prefix-postings +
# exact-verify pipeline remains the UNBENCHED fallback branch — it only
# executes when n_max is large enough that non-identical sets can reach
# tau (covered by tests, incl. the round-6 property test driving both
# branches against the same oracle).
# STILL not benched: l_simjoin_jaccard / l_simjoin_containment /
# l_dedup_near_minhash at sf0.1 — the
# synthetic corpus has a 31-token vocabulary, so the ANSWER itself is
# quadratic: 7 098 809 of 12.5M possible pairs genuinely have J >= 0.6
# at 5 000 docs (measured after prefix filtering landed — pruning cuts
# candidate generation, but no algorithm beats an O(N^2)-sized output;
# DuckDB's oracle is identically quadratic). On natural vocabularies
# the qualifying-pair count is near-linear and the prefix-filtered plan
# follows it; correctness is verified at sf0.01 where the driver runs
# them, and the prefix pruning itself is plan/size-asserted in
# tests/test_plans.py.


def _burn(_arg: int = 0) -> float:
    """Fixed CPU-bound task for the host-capacity probe (pure-Python
    integer loop — no numpy so the result tracks scheduler backing, not
    SIMD). Module-level so multiprocessing can pickle it."""
    t0 = time.perf_counter()
    x = 0
    for i in range(8_000_000):
        x += i * i
    return time.perf_counter() - t0 if x else 0.0


def _timed_burst(pool, n_tasks: int) -> float:
    t0 = time.perf_counter()
    pool.map(_burn, range(n_tasks))
    return time.perf_counter() - t0


def host_probe(n_tasks: int | None = None) -> dict:
    """Burn-probe the host BEFORE Spark starts: one single-task run,
    then ``n_tasks`` (default: the cores this process may run on, as in
    ``get_spark()``) in parallel, best of 3 bursts; effective cores =
    n_tasks x single / parallel-wall. Round 9's 52.45-vs-29.58 s
    same-code spread needed BASELINE.md forensics to adjudicate because
    the artifact carried no host context (r9 verdict item 2) — every
    BENCH_rN.json now embeds the probe so cross-round totals are
    self-adjudicating: compare totals only between runs whose
    effective_cores agree (this VM has swung 13-19 effective cores
    behind 32 vCPUs, CLAUDE.md rule 12g)."""
    import multiprocessing as mp

    n_tasks = n_tasks or len(os.sched_getaffinity(0))
    single = min(_burn() for _ in range(2))  # best-of-2 kills first-run noise
    # fork, not spawn: spawn re-imports this module (and so pyspark) in
    # every child, which is itself CPU work that would pollute the
    # probe; the probe runs BEFORE the JVM starts, so fork is safe.
    ctx = mp.get_context("fork")
    with ctx.Pool(n_tasks) as pool:
        # best-of-3 bursts: with one task per core a single straggler
        # sets a burst's wall (4 tasks read 1.4 and 3.7 back to back)
        wall = min(_timed_burst(pool, n_tasks) for _ in range(3))
    return {
        "single_task_sec": round(single, 3),
        "effective_cores": round(min(n_tasks * single / wall, n_tasks), 1),
    }


def main() -> int:
    probe = host_probe()
    print(f"# host probe: {probe}", file=sys.stderr)
    spark = get_spark("sqlengine_bench")
    # Fail fast in an inherited under-sized JVM instead of dying
    # mid-suite at the first GC-heavy query (r12 closing incident).
    require_heap(spark, 7.0, "bench.py")
    qs = all_queries()
    timings: dict[str, float] = {}
    # Materialize via toPandas(): the Arrow batch transfer is the
    # engine's real client path (SURVEY §3.1 step 8) and the
    # apples-to-apples counterpart of DuckDB's fetchdf in
    # BASELINE.md — row-based collect() adds 0.15-0.4 s of pure
    # Py4J row deserialization on 100k-row outputs, which measures
    # the legacy client API, not the engine.
    #
    # Warm-up is a FULL pass over the suite before any timing starts
    # (not one interleaved warm run per query): C2 JIT compilation of
    # the shared codegen/shuffle/Arrow paths accumulates across
    # queries, so with interleaved warm-ups the first queries are
    # timed against a half-warm JVM and pay ~0.5 s of compiler time
    # that later queries don't — measured: q1-pricing times at 1.09 s
    # as the suite opener vs 0.46 s steady-state. The timed pass then
    # measures every query against the same steady-state JVM, which
    # is the regime a long-lived cluster session actually runs in.
    # The warm-up also fills Spark's generated-class cache, which
    # get_spark() sizes for this suite's ~635 classes: at Spark's
    # default of 100 the timed pass recompiled 692-697 of them.
    for qid in HEADLINE:
        qs[qid](spark, SF_DIR).toPandas()  # JIT, generated classes, file listing
    for qid in HEADLINE:
        fn = qs[qid]
        t0 = time.perf_counter()
        fn(spark, SF_DIR).toPandas()
        timings[qid] = round(time.perf_counter() - t0, 3)
        print(f"# {qid}: {timings[qid]:.3f}s", file=sys.stderr)
    sf = os.path.basename(SF_DIR.rstrip("/")).removeprefix("sf")
    print(
        json.dumps(
            {
                "metric": "wall_sec_total",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "probe": probe,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
