"""Plan-assertion tests (SURVEY §4, §5.2): verify Catalyst actually
produces the scale-critical physical plans — pushdown, pruning, top-k,
partial aggregation. These guard the 100 TB story, not correctness.
"""

import functools

from pyspark.sql.types import ArrayType, DataType, DateType, MapType, StructType

from sqlengine_spark.engine import SQLEngine
from sqlengine_spark.registry import all_queries
from tests.conftest import SF_DIR


@functools.cache
def _built(spark, qid) -> tuple[str, StructType]:
    """Formatted plan and output schema of queries()[qid], built once
    per session and shared by the targeted tests and the repo-wide
    sweeps. The frame itself is not kept: a cached frame would pin its
    localCheckpoint blocks in the session."""
    eng = SQLEngine(SF_DIR, spark)
    df = eng.run(qid)
    return eng.explain(df), df.schema


def _plan(spark, qid):
    return _built(spark, qid)[0]


def test_filter_pushed_to_parquet(spark):
    plan = _plan(spark, "b_filter_range")
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_quantity,25" in plan


def test_column_pruning(spark):
    plan = _plan(spark, "a_scan_pruned")
    # ReadSchema carries exactly the 3 projected columns
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" in read_schema
    assert "l_quantity" in read_schema
    assert "l_shipdate" in read_schema
    assert "l_extendedprice" not in read_schema


def test_topk_plans_take_ordered(spark):
    plan = _plan(spark, "f_limit_topk")
    assert "TakeOrderedAndProject" in plan


def test_q1_partial_final_agg(spark):
    plan = _plan(spark, "d_agg_q1_pricing")
    # map-side combine: two HashAggregates around one Exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_broadcast_join(spark):
    plan = _plan(spark, "c_join_broadcast")
    assert "BroadcastHashJoin" in plan


def test_semi_join_planned(spark):
    plan = _plan(spark, "c_subquery_in")
    assert "LeftSemi" in plan or "SemiJoin" in plan


def test_topk_group_window_limit(spark):
    # Spark 4 pushes rank<=k below the sort; full partitions never materialize
    plan = _plan(spark, "e_win_topk_group")
    assert "WindowGroupLimit" in plan


def test_asof_union_merge_no_join(spark):
    # the scale-safe as-of is union+window — a join node would mean the
    # fanout idiom crept back (round-1 perf-weak finding)
    plan = _plan(spark, "c_join_asof")
    assert "Union" in plan
    assert "Join" not in plan


def test_funnel_one_user_keyed_pass(spark):
    # the windowed funnel is one user_id shuffle feeding two running-max
    # windows: a second events scan, a join or a second user exchange
    # would mean the per-stage chain joins came back
    plan = _plan(spark, "m_funnel_windowed")
    scans = [ln for ln in plan.splitlines() if ln.startswith("Location:")]
    assert len(scans) == 1 and "events.parquet" in scans[0], scans
    assert "Join" not in plan
    assert plan.count("hashpartitioning(user_id") == 1


def test_funnel_collect_runs_three_jobs(spark):
    # shuffle-map, final-aggregate and result jobs; the chain-join plan
    # ran 9. AQE's shuffle and broadcast threads inherit the job group.
    df = all_queries()["m_funnel_windowed"](spark, SF_DIR)
    sc = spark.sparkContext
    sc.setJobGroup("test_funnel_jobs", "m_funnel_windowed collect")
    try:
        df.toPandas()
        # the status store is fed asynchronously by the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        jobs = sc.statusTracker().getJobIdsForGroup("test_funnel_jobs")
    finally:
        sc._jsc.clearJobGroup()
    assert 0 < len(jobs) <= 3, sorted(jobs)


def test_sim_search_broadcasts_query_vector(spark):
    # the 1-row query vector broadcasts; the embedding table is scanned
    # once with NO shuffle, and top-k plans as TakeOrdered
    plan = _plan(spark, "l_sim_search_topk")
    assert "Broadcast" in plan
    assert "TakeOrderedAndProject" in plan


def test_simjoin_is_hash_join_not_cartesian(spark):
    # inverted-index self-join must hash/merge on the token key — a
    # cartesian node would mean the all-pairs shortcut crept in
    plan = _plan(spark, "l_simjoin_jaccard")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # prefix filtering present: the ranking window that prunes postings
    assert "Window" in plan


def test_verify_jaccard_stage_never_broadcasts(spark):
    """Every table in the _verify_jaccard stage AND the candidate
    self-joins is corpus-growing (postings = docs x features, bands =
    16 x docs, per-doc counts = |docs| rows), so those joins are
    pinned shuffle_hash: Catalyst's file-size stats can't see through
    the feature explode and statically broadcast a 10M-row postings
    side on small-fixture stats (rule 14b — OOM'd a plain 1g session
    on the bounded-cluster fixture, r12). l_dedup_near_minhash's plan
    must be broadcast-free; l_simjoin_jaccard keeps only the
    |vocab|-sized df-table joins plain (rule 14a — the optimizer may
    broadcast those when actually small)."""
    plan = _plan(spark, "l_dedup_near_minhash")
    assert "BroadcastExchange" not in plan
    assert plan.count("ShuffledHashJoin") >= 5
    plan = _plan(spark, "l_simjoin_jaccard")
    assert plan.count("ShuffledHashJoin") >= 5
    # the only broadcastable relation is the df-table lookup: its join
    # key is the token column; every doc_a/doc_b-keyed join is pinned
    import re

    for m in re.finditer(r"\(\d+\) BroadcastHashJoin[^(]*", plan):
        assert "doc_" not in m.group(0), m.group(0)
    # the candidate self-join of every prefix-filtered ssjoin (the
    # t-keyed join carrying doc_a < doc_b) is pinned too: on fixture
    # stats the token and gram postings both looked broadcastable
    for qid in ("l_simjoin_jaccard", "l_simjoin_ngram"):
        cands = [
            sec
            for sec in re.split(r"\n(?=\(\d+\) )", _plan(spark, qid))
            if re.search(r"Left keys \[1\]: \[t#", sec)
            and re.search(r"Join condition: \(doc_a#\w+ < doc_b#\w+\)", sec)
        ]
        assert len(cands) == 1, (qid, cands)
        assert re.match(r"\(\d+\) ShuffledHashJoin", cands[0]), (qid, cands[0])


def test_simjoin_prefix_prunes_postings(spark):
    # candidate generation must read PRUNED postings: per doc of n
    # distinct tokens the prefix keeps n - ceil(0.6n) + 1, so the
    # posting mass entering the pair join shrinks to ~0.4-0.5x, and the
    # quadratic pair blowup shrinks with its square (the round-2
    # scale-killer finding on stopword-heavy corpora)
    from pyspark.sql import functions as F

    from sqlengine_spark.operators.tier_l_llm import _prefix_postings, _tokens
    from sqlengine_spark.session import table

    tok = _tokens(table(spark, SF_DIR, "documents"))
    pref = _prefix_postings(tok, 3, 5)
    n_tok, n_pref = tok.count(), pref.count()
    assert n_pref < 0.6 * n_tok
    # exact per-doc bound: prefix length == n - ceil(0.6 n) + 1
    per_doc = (
        tok.groupBy("doc_id").agg(F.count("*").alias("n"))
        .join(pref.groupBy("doc_id").agg(F.count("*").alias("p")), "doc_id")
        .filter(F.col("p") != F.col("n") - F.expr("(3 * n + 4) div 5") + 1)
    )
    assert per_doc.count() == 0


def test_tfidf_rank_pushed_down(spark):
    plan = _plan(spark, "l_text_tfidf_top")
    assert "WindowGroupLimit" in plan
    # dual-branch form (fastest of the three measured shapes — see the
    # operator docstring): tf and df branches each explode the corpus
    # once and run in PARALLEL stages; the df table is |vocab|-sized
    # and joins back by broadcast, never a shuffle join at this scale
    assert plan.count("Generate (") == 2  # tree labels, not detail headings
    assert "BroadcastHashJoin" in plan


def test_budget_select_group_limit_before_exchange(spark):
    # r9 verdict item 8: the admission is rank-bounded (n_chars >= 1 ->
    # nothing past rank 2000 admits), so the plan must pre-select the
    # per-source top-2000 MAP-SIDE via WindowGroupLimit (Partial below
    # the exchange + Final above) — shuffle volume |sources| x 2000,
    # not the corpus. The operator raises the windowGroupLimitThreshold
    # conf at query time (plain sessions default 1000 < 2000).
    plan = _plan(spark, "l_budget_select")
    # formatted explain shows each node in tree + detail: 2 nodes -> 4
    assert plan.count("WindowGroupLimit") >= 4
    assert "row_number(), 2000, Partial" in plan
    assert "row_number(), 2000, Final" in plan


def test_dedup_exact_partial_agg(spark):
    # map-side combine on the hash groupBy: two HashAggregates around
    # one exchange — the scale-invariant exact-dedup shape
    plan = _plan(spark, "l_dedup_exact")
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_tumbling_window_partial_agg(spark):
    plan = _plan(spark, "j_tumbling_1h")
    assert plan.count("HashAggregate") >= 2


# Queries allowed to contain cartesian/nested-loop joins: provably
# bounded inputs (5x25 dims, 500-row embeddings, 1-row broadcast scalars)
# with their 100 TB alternative documented in place.
CARTESIAN_WHITELIST = {
    "c_join_cross",          # 5 x 25 dims, declared cartesian
    "c_join_full",           # non-equi full outer (supplier x customer dims)
    "l_sim_search_topk",     # 1-row query vector broadcast
    "l_sim_join_threshold",  # 500-row embeddings; LSH path in ann.py
    "l_knn_label_vote",      # same bounded input
    "l_dedup_embedding",     # same bounded input
    "l_text_tfidf_top",      # 1-row corpus-count broadcast
    "l_sim_join_lsh",        # 64-row hyperplane table broadcast; the
                             # candidate join itself is (band,sig)-keyed
    "m_ts_gapfill",          # calendar-bounded |hours| x |types| grid
    "c_join_salted",         # deliberate |dim| x N_SALTS replication
                             # (the fact join itself is (key,salt)-keyed
                             # shuffled-hash — asserted below)
    "l_hybrid_search",       # 1-row query vector broadcast
    "l_rag_rerank_rrf",      # 1-row query vector broadcast
    "l_topic_cooccur",       # 1-row corpus-count broadcast
    "d_agg_theta_setops",    # two 1-row sketch aggregates joined
    "l_sim_search_batch",    # 10-row query batch broadcast
    "l_eval_ndcg",           # same 10-row query batch broadcast over
                             # one corpus scan (group-limited rank)
    "l_ann_recall_eval",     # same 10-row query batch broadcast (its
                             # exact ground-truth arm); the IVF arm is
                             # the probe-pruned keyed plan
    "l_embedding_rp",        # 8-row output-dim table broadcast (the
                             # JL sign matrix is hash-derived, never
                             # materialized; per-vector fan-out is a
                             # fixed 64x8 map-side expansion)
    "m_rolling_wau",         # 1-row date-bounds broadcast
    "t_q22_sales_opportunity",  # 1-row AVG(acctbal) scalar broadcast
    "t_q11_important_stock",    # 1-row nation-total scalar broadcast
    "t_q20_potential_promo",    # 1-row avg-shipped-qty scalar broadcast
    "l_bm25_search",            # 1-row corpus avgdl scalar broadcast
    "l_sim_join_gemm",          # 36-row block-pair table broadcast (the
                                # OR-condition fan-out join); the GEMM
                                # itself is per-block-pair applyInPandas
    "a_dq_audit",               # 1-row stats agg x 1-row orphan-count
                                # agg assembling the FK rule row
    "l_corpus_divergence",      # |slices|x|vocab| smoothing grid: the
                                # BROADCAST side is langs (domain-
                                # bounded, 5 rows); vocab streams
                                # (r15 fix — the old broadcast(vocab)
                                # violated rule 14a)
    "m_retention_curve",        # 7-row day spine x 1-row cohort-size
                                # scalar — both cross sides constant
    "l_subsample_ci",           # 16-row replica-mean frame x 1-row
                                # stats frame x 1-row estimate frame —
                                # every cross side is replica-count or
                                # scalar bounded
    "l_graph_pagerank",         # 1-row N-count broadcast seeding the
                                # uniform rank vector; edge join and
                                # iterations are keyed shuffles
    "l_sim_search_pq",          # 1-row query vector broadcast for the
                                # exact re-rank of 100 PQ candidates
    "l_triplet_mine",           # 50-row global negative pool broadcast
                                # (label-inequality join = |V|x50 linear;
                                # the positive side is label-blocked)
    "m_ts_lttb",                # 1-row (min,max) bounds broadcast for
                                # the map-side time-bucket assignment
    "m_ts_crosscorr",           # 7-row lag-literal broadcast; the
                                # shifted alignment itself is an
                                # equi-join on the hour key
    "e_win_pct_of_total",       # 1-row grand-total broadcast over the
                                # |nations|-row aggregate (the window-
                                # free percent-of-total form)
    "l_ngram_coverage_curve",   # 1-row (total, n_vocab) broadcast onto
                                # the 3-row TakeOrdered coverage heads
    "l_dedup_rate_report",      # 1-row corpus-total broadcast onto the
                                # bucket histogram rows
    "l_mix_temperature",        # two 1-row broadcasts (corpus total,
                                # quantized normalizers) onto the
                                # |langs|-row weight table
    "l_mixture_build",          # same class (r14): two 1-row broadcasts
                                # (survivor total, weight normalizer)
                                # onto the |sources|-row stage tables;
                                # every corpus-sized join is keyed
    "l_ngram_assoc_llr",        # 1-row total-bigram-count broadcast onto
                                # the support-filtered pair table (the
                                # l_topic_cooccur class)
    "l_eval_kendall_tau",       # <=100-row decile-cell contingency
                                # self-join (<=4,950 cell pairs) plus
                                # 1-row aggregate cross-joins — grid
                                # cardinality is a pipeline constant,
                                # never corpus-dependent
    "l_eval_mrr",               # 20-row md5-sampled query-vector batch
                                # broadcast over one corpus scan (the
                                # l_sim_search_batch class)
    "l_mine_bitext_margin",     # same 20-row md5-sampled query batch
                                # broadcast (the l_eval_mrr class)
    "l_eval_bootstrap_ci",      # 1-row CI-picks broadcast onto the
                                # 1-row point-estimate aggregate
    "l_eval_paired_bootstrap",  # same 1-row broadcast shape
    "l_eval_report",            # 1-row CI-picks broadcast onto the
                                # 1-row report aggregate (the
                                # l_eval_bootstrap_ci class)
    "l_lm_kn_perplexity",       # 1-row bigram-type-total broadcast onto
                                # the vocab²-bounded distinct valid
                                # bigram table
    "l_heaps_law_fit",          # 5-row checkpoint-threshold broadcast
                                # (a pipeline constant) over the two
                                # bounded count tables + a 1-row
                                # max-doc-id broadcast
    "n_delete_cascade",         # audit-row assembly: 1-row count
                                # aggregates cross-joined into the
                                # 3-row report (the ztest scalar-
                                # readout class); cascade joins are
                                # key-partitioned semi/anti
    "l_token_gini_select",      # 1-row (N, P) label-total broadcast over
                                # the vocab-bounded per-token count table
    "m_mix_shift_decomp",       # 1-row period-totals broadcast over the
                                # |segments|-row pivot aggregate
    "m_seq_editdist",           # 1-row modal-path broadcast (TakeOrdered
                                # feeds it) onto the |users|-row path
                                # table; the path build is user-keyed
    "m_rfm_segment",            # two 1-row broadcasts (anchor date,
                                # quantile boundaries) over the
                                # custkey-keyed aggregate — the
                                # deliberate non-ntile design (no
                                # global sort; docstring)
    "m_basket_affinity",        # 1-row order-total broadcast onto the
                                # pair-count stream; the pair build
                                # itself is an orderkey equi-join
}

# Heavy side-effecting queries whose DataFrame construction executes
# work (streaming run, sink writes) — excluded from the cheap lint.
LINT_SKIP = {
    "j_watermark_late_drop",
    "j_tumbling_1h_stream",
    "j_stream_dedup_stream",
    "j_stream_stream_join",
    "j_stateful_stream",
    "a_scan_text_roundtrip",
    "a_scan_csv_roundtrip",
    "a_scan_json_roundtrip",
    "a_scan_orc_roundtrip",
    "a_sink_parquet_partitioned",
    "j_session_30m_stream",
    "j_sliding_1h_15m_stream",
    "l_kmeans_assign",  # driver-loop iterations execute at build time
    "n_update_rewrite",
    "n_delete_rewrite",
    "n_merge_upsert",
    "n_insert_append",
    "j_stream_join_static_stream",
    "c_join_dpp",  # stages the partitioned fact at build time
    "j_foreach_batch_upsert",  # runs the full foreachBatch stream at build
    "a_scan_schema_merge",  # stages both snapshot dirs at build time
    "j_tumbling_append_watermark",  # runs the append-mode stream at build
    "a_scan_csv_malformed",  # stages the landing csv at build time
    "a_sink_zorder",  # stats scalars + clustered rewrite at build time
    "a_maintenance_compaction",  # stages + compacts files at build time
    "j_stream_quality_gate",  # runs the full gate stream at build
    # (r12 oversight, caught r13 — it executed inside the plan sweep)
    "j_stream_session_timeout",  # runs the wave-fed timer stream at build
    "n_delete_cascade",  # writes + reads back 3 snapshots at build
    "l_eval_report_stream",  # runs the pair-wave foreachBatch stream
                             # at build (r14)
}


# Queries allowed an UNPARTITIONED (global, single-partition-sort)
# WindowExec: input provably bounded before the window.
GLOBAL_WINDOW_WHITELIST = {
    "l_eval_rbo",           # rank windows over the two TakeOrdered(50)
                            # head pools — LIMIT-bounded by
                            # construction (the l_rag_rerank_rrf
                            # class), never the corpus
    "l_eval_bootstrap_ci",  # order-statistic rank over exactly B=200
                            # replicate-mean rows (a pipeline
                            # constant), never the corpus
    "l_eval_paired_bootstrap",  # same B=200-row order-statistic window
    "l_eval_report",        # same B=200-row order-statistic window
                            # (the composed-report CI picks)
    "i_monotonic_id_rank",  # filter-bounded input, docstring-scoped
    "m_ts_forecast_eval",   # LEAD over the CALENDAR-bounded day series
                            # (|days| rows after the daily cents
                            # rollup — the m_ts_holt bounded class);
                            # the corpus-sized work happens in the
                            # partial-agg rollup below it
    "l_rag_rerank_rrf",     # rank assignment over the top-RRF_DEPTH
                            # (50-row) candidate list per retriever —
                            # depth-bounded by construction (TakeOrdered
                            # feeds the window), never the corpus
    "l_tokens_zipf_fit",    # vocabulary-bounded rank (|distinct tokens|
                            # after the frequency agg — the PMI C(V,2)
                            # bounded-input class); two-pass bucketed
                            # rank substitutes at web-scale vocabularies
    "l_pareto_front",       # skyline spine runs over the per-LENGTH
                            # rollup (|distinct doc lengths| rows —
                            # value-domain bounded, same class), never
                            # the corpus; corpus side is hash-agg +
                            # broadcast join only
    "l_bt_leaderboard",     # final rank over the |sources| leaderboard
                            # rows — class-domain bounded (~20), the
                            # corpus-sized work is the keyed match join
    "m_markov_stationary",  # rank over |event_types| states (~5) —
                            # class-domain bounded
    "m_survival_km",        # at-risk ledger + log-survival cumsums run
                            # over the duration-domain-grouped KM table
                            # (hours within the study window — value-
                            # domain bounded), never per-subject rows
    "l_curriculum_pacing",  # global_pos numbers the TakeOrdered 100-row
                            # schedule head — bounded by the plan's own
                            # GlobalLimit, never the corpus
    "l_eval_auc",           # same doubled-rank ladder as l_eval_spearman:
                            # runs over the n_chars VALUE DOMAIN (~500
                            # rows), never per-doc rows
    "l_eval_spearman",      # doubled-rank ladders run over the VALUE-
                            # DOMAIN-grouped tables (n_chars / vocab-
                            # size domains, ~500 rows — the
                            # m_survival_km value-domain-bounded
                            # class), broadcast back; never a row-level
                            # corpus rank
    "i_sample_systematic",  # the exact every-20th spacing IS the
                            # operator's fixture-level contract; the
                            # warehouse form (hash mod k, i_sample_hash
                            # shape) is documented in the docstring
    "l_ml_stump",           # cumulative class counts run over the
                            # DISTINCT-feature-value rollup (n_chars
                            # domain, 48..553 — value-domain bounded,
                            # the m_survival_km class), never per-doc
                            # rows; quantile-bucketed candidates
                            # substitute for continuous features
                            # (docstring)
}

import pytest


@pytest.fixture(scope="module")
def plan_sweep(spark):
    """One formatted plan per non-side-effecting query, computed once
    and shared by every repo-wide lint below (planning 200 queries is
    the expensive part, not the string checks)."""
    return {
        qid: _plan(spark, qid)
        for qid in sorted(all_queries())
        if qid not in LINT_SKIP
    }


def _types(dt: DataType, path: str):
    """``(path, type)`` for ``dt`` and every type nested in it."""
    yield path, dt
    if isinstance(dt, StructType):
        for f in dt.fields:
            yield from _types(f.dataType, f"{path}.{f.name}")
    elif isinstance(dt, ArrayType):
        yield from _types(dt.elementType, f"{path}[]")
    elif isinstance(dt, MapType):
        yield from _types(dt.keyType, f"{path}{{key}}")
        yield from _types(dt.valueType, f"{path}{{value}}")


def _columns_of_type(spark, qids, kinds) -> list[str]:
    """Every output column path of ``qids`` whose type, at any depth,
    is one of ``kinds``, as ``qid:path type``."""
    return [
        f"{qid}:{path} {dt.simpleString()}"
        for qid in qids
        for f in _built(spark, qid)[1].fields
        for path, dt in _types(f.dataType, f.name)
        if isinstance(dt, kinds)
    ]


def test_no_nested_output_column_anywhere(spark, plan_sweep):
    """Build-notes rule 2: pandas canonicalizers cannot hash list or map
    cells, so no query (rows-only included) outputs an ArrayType or
    MapType at any depth."""
    bad = _columns_of_type(spark, plan_sweep, (ArrayType, MapType))
    assert not bad, bad


def test_no_date_output_column_anywhere(spark, plan_sweep):
    """Build-notes rule 3: DuckDB and Spark derive DATE values with
    different pandas dtypes, so dates leave as strings."""
    bad = _columns_of_type(spark, plan_sweep, DateType)
    assert not bad, bad


def test_no_unexpected_cartesian_anywhere(plan_sweep):
    """Repo-wide scale lint: no operator may plan a CartesianProduct or
    BroadcastNestedLoopJoin unless its input is provably bounded and
    whitelisted above."""
    offenders = []
    for qid, plan in plan_sweep.items():
        if qid in CARTESIAN_WHITELIST:
            continue
        if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
            offenders.append(qid)
    assert not offenders, f"unbounded join shapes in: {offenders}"


def _global_windows(plan: str) -> int:
    """Count unpartitioned WindowExec nodes in a formatted plan. A
    window's Arguments line prints up to three top-level bracket groups
    — [funcs], [partition], [order] — and OMITS empty groups, so both a
    global window ([funcs], [order]) and a partitioned-but-unordered
    window ([funcs], [partition]) print two. They're told apart by the
    second group: only an ORDER group carries ASC/DESC sort markers. A
    single-group line ([funcs]) is a window with neither — also
    single-partition."""
    lines = plan.splitlines()
    count = 0
    for i, ln in enumerate(lines):
        if not (ln.startswith("(") and ln.rstrip().endswith("Window")):
            continue
        for j in range(i + 1, min(i + 5, len(lines))):
            if not lines[j].startswith("Arguments:"):
                continue
            depth, groups, cur = 0, [], []
            for ch in lines[j]:
                if ch == "[":
                    if depth == 0:
                        cur = []
                    depth += 1
                elif ch == "]":
                    depth -= 1
                    if depth == 0:
                        groups.append("".join(cur))
                if depth > 0:
                    cur.append(ch)
            if len(groups) == 1:
                count += 1
            elif len(groups) == 2 and (
                " ASC" in groups[1] or " DESC" in groups[1]
            ):
                count += 1
            break
    return count


def test_no_unpartitioned_window_anywhere(plan_sweep):
    """Repo-wide scale lint (round-3 verdict item 3): a global window is
    a single-partition sort of its whole input — the one executed
    scale-killer the round-3 audit found (`e_win_ntile_pct`, since
    rewritten as bucketed two-pass rank). Nothing outside the bounded
    whitelist may plan one."""
    offenders = [
        qid
        for qid, plan in plan_sweep.items()
        if qid not in GLOBAL_WINDOW_WHITELIST and _global_windows(plan) > 0
    ]
    assert not offenders, f"unpartitioned WindowExec in: {offenders}"


def test_range_bucketed_join_is_hash_join(spark):
    # the pure range join must NOT plan a nested loop: bucketization
    # gives it a hashable equi key (floor(price/w)) with the exact
    # range as residual filter
    plan = _plan(spark, "c_join_range_bucketed")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" in plan


# ---- tier T (TPC-H-adapted) scale shapes ------------------------------

def test_tpch_q3_take_ordered_and_pushdown(spark):
    plan = _plan(spark, "t_q03_shipping")
    assert "TakeOrderedAndProject" in plan          # top-10, no global sort
    assert "PushedFilters" in plan                  # date filters reach scans
    assert plan.count("HashAggregate") >= 2         # partial+final revenue agg


def test_tpch_q5_broadcasts_dims(spark):
    plan = _plan(spark, "t_q05_local_supplier")
    assert "BroadcastHashJoin" in plan              # nation/region hinted
    assert "CartesianProduct" not in plan


def test_tpch_q4_semi_join(spark):
    plan = _plan(spark, "t_q04_order_priority")
    assert "LeftSemi" in plan


def test_tpch_q6_scan_filter_agg_only(spark):
    plan = _plan(spark, "t_q06_forecast_revenue")
    assert "PushedFilters" in plan
    assert "Join" not in plan                       # pure scan->filter->agg
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_extendedprice" in read_schema
    assert "l_returnflag" not in read_schema        # column pruning


def test_tpch_q18_semi_then_agg(spark):
    plan = _plan(spark, "t_q18_large_volume")
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan


def test_tpch_q2_window_min_take_ordered(spark):
    # the correlated scalar-MIN is a window over the part key, not a
    # re-aggregating self-join; top-100 is TakeOrdered, no global sort
    plan = _plan(spark, "t_q02_min_cost_supp")
    assert "Window" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q20_semi_join_membership(spark):
    # the IN-subquery chain must end as a LEFT SEMI into supplier —
    # no fanout, no post-join distinct
    plan = _plan(spark, "t_q20_potential_promo")
    assert "LeftSemi" in plan


def test_spatial_grid_join_hash_not_nested_loop(spark):
    # the 9-cell replication must buy a keyed hash join — a distance
    # predicate alone would plan BroadcastNestedLoopJoin O(N^2)
    plan = _plan(spark, "c_join_spatial_grid")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" in plan


def test_bucketed_colocated_join_zero_exchange(spark):
    # the pre-paid shuffle: both sides bucketed on the join key, so
    # the sort-merge join AND the per-order aggregation run with ZERO
    # Exchange nodes, and the scans show bucket selection
    plan = _plan(spark, "c_join_bucketed_colocated")
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    assert "SelectedBucketsCount" in plan


def test_tpch_q9_six_way_broadcast_dims(spark):
    # the 6-way join tree: every dim side broadcasts (nation hinted,
    # part/supplier/orders under the threshold), profit is computed
    # per-row BEFORE the partial agg so the one shuffle carries
    # (nation, year) partials — never a cartesian, never a sort-merge
    # of the fact against a dim
    plan = _plan(spark, "t_q09_product_profit")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2         # partial+final
    assert "sum_profit" in plan


def test_tpch_q21_decorrelated_exists_pair_reuses_exchange(spark):
    # Q21's EXISTS / NOT-EXISTS pair is decorrelated into two keyed
    # aggregations over the same (l_orderkey, l_suppkey) aggregate —
    # the static plan shows two branches, but at runtime AQE must
    # collapse them onto ONE physical exchange (ReusedExchange), so
    # lineitem⋈orders is shuffled once, not twice. Top-20 is
    # TakeOrdered, nation broadcasts.
    static = _plan(spark, "t_q21_waiting_supplier")
    assert "TakeOrderedAndProject" in static
    assert "CartesianProduct" not in static
    assert "BroadcastHashJoin" in static
    df = all_queries()["t_q21_waiting_supplier"](spark, SF_DIR)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed


# ---- training-pipeline scale shapes -----------------------------------

def test_dedup_prefix_partial_agg(spark):
    plan = _plan(spark, "l_dedup_prefix")
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_split_hash_no_join_no_window(spark):
    plan = _plan(spark, "l_split_hash")
    assert "Join" not in plan and "Window" not in plan


def test_domain_mix_single_shuffle_on_source(spark):
    plan = _plan(spark, "l_domain_mix")
    # one hash-partitioning exchange on the domain key feeds both window
    # functions (rank + per-source count reuse the same partitioning);
    # the only other exchange is the final presentation sort
    assert plan.count("Arguments: hashpartitioning(source") == 1
    assert plan.count("Window") >= 2


# ---- round-3 session-2 additions --------------------------------------

def test_dedup_fuzzy_blocked_equi_join(spark):
    # blocking keys (bk, lb) must give the pair join a hashable equi
    # core — levenshtein never appears in an unblocked cartesian
    plan = _plan(spark, "l_dedup_fuzzy")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan


def test_vector_quantize_map_only(spark):
    # int8 quantization is a narrow transform fused into the scan: a
    # 100 TB pass with zero shuffle
    plan = _plan(spark, "l_vector_quantize")
    assert "Exchange" not in plan


def test_moments_broadcast_mu(spark):
    # pass-1 per-group means broadcast back; the fact table never
    # shuffles for the join (only for its own partial+final agg)
    plan = _plan(spark, "d_agg_moments")
    assert "BroadcastExchange" in plan
    assert plan.count("HashAggregate") >= 4  # two partial+final pairs


def test_winsorize_broadcast_percentiles(spark):
    plan = _plan(spark, "l_winsorize")
    assert "BroadcastExchange" in plan


def test_autocorr_single_shuffle(spark):
    # the lag window and the final agg share the event_type
    # partitioning: exactly one round of exchanges on the fact table
    plan = _plan(spark, "m_ts_autocorr")
    assert plan.count("Exchange") <= 2  # one shuffle (+AQE read marker)


def test_tpch_q12_conditional_agg(spark):
    plan = _plan(spark, "t_q12_priority_class")
    assert plan.count("HashAggregate") >= 2  # partial+final CASE-split
    assert "CartesianProduct" not in plan


def test_salted_join_shuffles_not_broadcast(spark):
    # the salted join must demonstrate the salted SHUFFLE topology:
    # replicated dim co-shuffled on (key, salt), not a broadcast that
    # would make the salt a no-op
    plan = _plan(spark, "c_join_salted")
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan


def test_dpp_prunes_fact_partitions(spark):
    # the dim-side runtime filter must reach the partitioned fact scan
    # as a dynamic-pruning subquery — the star-schema 100 TB read path
    plan = _plan(spark, "c_join_dpp")
    assert "dynamicpruning" in plan.lower()


def test_decontaminate_broadcasts_benchmark_grams(spark):
    # the benchmark gram set must broadcast — the corpus gram stream is
    # never shuffled for the join; only the per-doc count shuffles
    plan = _plan(spark, "l_decontaminate")
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 2      # partial+final distinct count


def test_twa_window_and_agg_share_user_partitioning(spark):
    # lead() window and the aggregate both key on user_id — exactly one
    # hash-partitioning exchange on user_id in the plan
    plan = _plan(spark, "m_ts_twa")
    assert plan.count("Arguments: hashpartitioning(user_id") == 1
    assert "Window" in plan


def test_funnel_no_cartesian_user_keyed(spark):
    plan = _plan(spark, "m_funnel_stages")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bloom_filter_reaches_fact_scan(spark):
    # the dim-side predicate must inject a bloom probe into the FACT
    # side's pre-shuffle filter — rows drop before the exchange, the
    # 100 TB shuffle-volume lever for selective shuffle joins
    plan = _plan(spark, "c_join_bloom")
    assert "might_contain" in plan
    assert "bloom_filter_agg" in plan


def test_gaps_islands_two_hash_exchanges(spark):
    # distinct shuffles on (user_id, day); window + both aggregations
    # then share the user_id partitioning — nothing else may shuffle
    plan = _plan(spark, "e_win_gaps_islands")
    assert plan.count("Arguments: hashpartitioning(") == 2


def test_attribution_single_user_shuffle(spark):
    # carried-touch window and the final count: one user_id exchange;
    # the count collapses map-side to |touch| rows first
    plan = _plan(spark, "m_attribution_last_touch")
    assert plan.count("Arguments: hashpartitioning(user_id") == 1
    assert "Window" in plan


def test_ewma_single_window_single_shuffle(spark):
    # all 10 lag taps must fold into ONE Window node over one user_id
    # exchange — per-tap windows would sort the partition 10 times
    plan = _plan(spark, "m_ts_ewma")
    assert plan.count("Arguments: hashpartitioning(user_id") == 1
    import re

    window_nodes = re.findall(r"^\(\d+\) Window$", plan, flags=re.M)
    assert len(window_nodes) == 1


def test_scd2_windows_share_custkey_shuffle(spark):
    # change-detect lag and the valid_to lead partition identically —
    # Catalyst must plan exactly one o_custkey exchange for both
    plan = _plan(spark, "n_scd2_history")
    assert plan.count("Arguments: hashpartitioning(o_custkey") == 1


def test_asof_tol_union_merge_no_join(spark):
    # tolerance must NOT reintroduce a join: same union-merge shape as
    # c_join_asof — no Join node anywhere, one user_id window
    plan = _plan(spark, "c_join_asof_tol")
    assert "Join" not in plan
    assert "Window" in plan


def test_weighted_sample_scan_only(spark):
    # weighted deterministic sample is a codegen predicate in the scan:
    # zero exchanges of any kind
    plan = _plan(spark, "i_sample_weighted")
    assert "Exchange" not in plan


def test_passage_dedup_content_then_doc_keyed(spark):
    # first-occurrence ranking shuffles on the content hash, then the
    # profile re-aggregates on doc_id — exactly two hash exchanges and
    # a map-side partial agg for the per-doc profile
    plan = _plan(spark, "l_dedup_passage")
    assert plan.count("Arguments: hashpartitioning(") == 2
    assert plan.count("HashAggregate") >= 2


def test_mark_join_plans_existence_join(spark):
    # EXISTS in the projection must plan Catalyst's ExistenceJoin —
    # probe rows emit once, no inner payload shuffles, no dedup stage
    plan = _plan(spark, "c_join_mark_exists")
    assert "ExistenceJoin" in plan


def test_hybrid_search_broadcast_and_topk(spark):
    # dense side: 1-row query vector broadcasts; blend ranks via
    # TakeOrdered — the doc table shuffles only for the id join
    plan = _plan(spark, "l_hybrid_search")
    assert "Broadcast" in plan
    assert "TakeOrderedAndProject" in plan


def test_topic_cooccur_doc_keyed_not_allpairs(spark):
    # pair generation must join on doc_id (inverted index), with df and
    # N broadcast — no token-table cartesian
    plan = _plan(spark, "l_topic_cooccur")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_mad_broadcast_medians(spark):
    # both median tables are |types|-sized broadcasts; the event stream
    # itself never shuffles for the joins
    plan = _plan(spark, "m_anomaly_mad")
    assert plan.count("BroadcastHashJoin") >= 2


def test_lateral_decorrelates_to_window_limit(spark):
    # the correlated LATERAL LIMIT must decorrelate to the window
    # top-k shape (one shuffle + group-limit), never a re-executed
    # per-row subquery or nested loop
    plan = _plan(spark, "c_lateral_topn")
    assert "WindowGroupLimit" in plan or "Window" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_incremental_dedup_hash_index_join(spark):
    # corpus side joins as a hash index (16-byte digests), batch
    # ranking shuffles on the content hash — no text-side rescan join
    plan = _plan(spark, "l_dedup_incremental")
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_local_sort_no_exchange(spark):
    # sortWithinPartitions must plan a Sort with NO exchange of any
    # kind — the layout-optimization primitive is shuffle-free
    plan = _plan(spark, "f_sort_local")
    assert "Sort" in plan
    assert "Exchange" not in plan


def test_batch_sim_search_group_limit(spark):
    # per-query top-5 must group-limit; the embedding table is scanned
    # once with the query batch broadcast
    plan = _plan(spark, "l_sim_search_batch")
    assert "WindowGroupLimit" in plan
    assert "Broadcast" in plan


def test_null_safe_join_is_hash_join(spark):
    # <=> keeps a hashable equi key: hash join, never a nested loop
    plan = _plan(spark, "c_join_null_safe")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan


def test_3way_preagg_shuffle_hash(spark):
    # Q3-shape eager aggregation: revenue pre-aggregates on the join
    # key before the join (partial+final HashAggregate around one
    # exchange), the dim broadcasts, the orderkey join is a shuffled
    # hash join building on the filtered-orders side, and top-10 is
    # TakeOrdered — no post-join aggregate, no global sort.
    plan = _plan(spark, "c_join_3way")
    assert "BroadcastHashJoin" in plan          # customer dim broadcast
    assert "ShuffledHashJoin" in plan           # pinned fact-join strategy
    assert "BuildLeft" in plan                  # build = filtered orders side
    # exactly TWO HashAggregate nodes (partial+final pre-agg, nothing
    # after the join); formatted mode prints each node twice
    assert plan.count("HashAggregate") == 4
    assert "TakeOrderedAndProject" in plan


def test_bm25_filtered_postings_broadcast_topk(spark):
    # BM25: query-term filter prunes postings BEFORE the tf shuffle,
    # df/corpus stats broadcast, top-10 is TakeOrdered — never a full
    # corpus-keyed aggregation shuffled by every distinct token.
    plan = _plan(spark, "l_bm25_search")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "t#" in plan and "IN (data,join,vector" in plan.replace("'", ""), (
        "query-term IN filter must appear (pushed before the tf shuffle)"
    )
    assert "CartesianProduct" not in plan


def test_shuffle_shard_partitioned_window(spark):
    # position is per-shard row_number — the window partitions on the
    # shard key; a global (unpartitioned) sort here would serialize the
    # whole corpus through one task.
    plan = _plan(spark, "l_shuffle_shard")
    assert "hashpartitioning(shard" in plan
    assert "SinglePartition" not in plan


def test_heavy_hitters_sketch_then_filtered_recount(spark):
    # the returned plan is phase 3 (the sketch phases run eagerly to
    # produce the candidate list): the recount must filter to the
    # bounded candidate set BEFORE its aggregation shuffle (INSET ahead
    # of the partial HashAggregate) and take the top-k as TakeOrdered.
    plan = _plan(spark, "d_agg_heavy_hitters")
    assert "INSET" in plan
    assert plan.index("INSET") < plan.index("partial_count"), (
        "candidate filter must precede the partial aggregation"
    )
    assert "TakeOrderedAndProject" in plan


def test_interpolate_single_user_shuffle(spark):
    # both window passes (backward + forward) share ONE user_id
    # exchange; a second exchange would mean the orderBy specs drifted.
    plan = _plan(spark, "m_ts_interpolate")
    assert plan.count("Exchange hashpartitioning(user_id") <= 2, (
        "backward/forward interpolation windows must share the user_id "
        "shuffle (formatted mode prints each node at most twice)"
    )
    assert "SinglePartition" not in plan


def test_try_funcs_scan_side_projection(spark):
    # the try-family is pure codegen in the scan projection — no
    # shuffle, no python worker.
    plan = _plan(spark, "h_try_funcs")
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_gemm_join_block_pair_groups(spark):
    # the GEMM join must fan out to per-block-pair Arrow groups
    # (FlatMapGroupsInPandas keyed on pid) and verify candidates with
    # hash joins — no CartesianProduct anywhere (the only nested-loop
    # node is the 36-row broadcast block-pair fan-out).
    plan = _plan(spark, "l_sim_join_gemm")
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(pid" in plan


def test_bpe_encode_map_only(spark):
    """l_bpe_encode must be a pure scan projection: the whole encode is
    codegen string ops — no Python, and the ONLY exchange permitted is
    the round-7 small-input scatter (round-robin repartition of the raw
    text when the scan has fewer splits than cores — at corpus scale the
    guard is false and the plan is exchange-free). No keyed shuffle may
    ever appear: a hashpartitioning exchange would mean an accidental
    aggregation/join in what must stay a projection."""
    import re

    plan = _plan(spark, "l_bpe_encode")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    exchanges = re.findall(r"Exchange (\w+)", plan)
    assert all(e == "roundrobinpartitioning" for e in exchanges), exchanges
    assert len(exchanges) <= 1, exchanges


def test_jaccard_hi_fast_path_is_signature_agg(spark):
    """At tau > (n_max-1)/n_max the threshold join must take the
    identical-set signature route: ONE sig-keyed self-join over the
    single local-checkpointed tokenize pass — no postings (token)
    join, no cartesian, and (round-6, verdict item 3) no re-scan of
    documents.parquet anywhere in the result plan: both join sides
    read the materialized per-doc token frame (Scan ExistingRDD), so
    the corpus is scanned exactly once per invocation (inside the
    checkpoint job)."""
    import re

    plan = _plan(spark, "l_simjoin_jaccard_hi")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # single-scan: the result plan reads the checkpointed frame, never
    # the parquet source (which would mean a second tokenize pass)
    assert "Scan parquet" not in plan, "documents re-scanned"
    assert "ExistingRDD" in plan
    # exactly one equi-join NODE (on the signature), not the
    # cand+verify trio — count the numbered detail headers
    joins = re.findall(
        r"^\(\d+\) (?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)",
        plan,
        re.M,
    )
    assert len(joins) == 1, joins


def test_dsir_weight_single_scan(spark):
    """l_dsir_weight stages the hashed gram stream via localCheckpoint:
    the bucket-stats branch and the per-doc branch of the final plan
    must both read the materialized frame, never re-scan documents
    (and the 1-row totals collect happens outside this plan)."""
    plan = _plan(spark, "l_dsir_weight")
    assert "Scan parquet" not in plan, "documents re-scanned"
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_interval_arith_pushdown(spark):
    """The modulus predicate can't push to parquet, but the scan must
    still prune to the 3 referenced columns and plan zero exchanges."""
    plan = _plan(spark, "h_interval_arith")
    assert "Exchange" not in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "o_orderdate" in read_schema
    assert "o_totalprice" not in read_schema


def test_python_datasource_partitioned_scan(spark):
    """The custom Python source must scale out: one input partition per
    staged shard (4), never a single-task read."""
    df = all_queries()["a_scan_python_datasource"](spark, SF_DIR)
    assert df.rdd.getNumPartitions() == 4


def test_dedup_substring_hashed_keys_and_partial_agg(spark):
    """l_dedup_substring (round 7, reshaped r14): the cross-doc flag is
    a min/max WINDOW over the h partition — the shingle stream crosses
    ONE h-keyed exchange (the old checkpoint + flag-agg + flag-join
    pair shuffled it twice), then rolls up per doc. The plan holds
    exactly TWO parquet scans (shingle side + doc-universe side of the
    final left join), a Window keyed on h, and no cartesian."""
    plan = _plan(spark, "l_dedup_substring")
    # count distinct scan NODE ids, not raw substring occurrences —
    # formatted explain prints each node in both the tree and the
    # details section, and that multiplier is a rendering detail
    # (r14 advice)
    import re

    scan_ids = set(re.findall(r"\((\d+)\) Scan parquet", plan))
    assert len(scan_ids) == 2
    assert "Window" in plan
    assert "hashpartitioning(h" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_chunk_cdc_boundary_is_codegen_map(spark):
    """l_chunk_cdc: boundary detection is pure codegen (no UDF, no
    python eval) and segment assembly shuffles keyed on doc_id only."""
    plan = _plan(spark, "l_chunk_cdc")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(doc_id" in plan


def test_graph_triangles_all_joins_keyed(spark):
    """l_graph_triangles: every stage is a keyed hash join — the
    degree-ordered wedge/closing joins must never plan a cartesian or
    nested loop (the thing orientation exists to prevent)."""
    plan = _plan(spark, "l_graph_triangles")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )
    # r15 single-pipeline rewrite: the nodes union (which re-executed
    # the whole edge⋈adj⋈adj + intersect pipeline 3x, pin 17c) is gone
    # — all three triangle corners come out of ONE generator. If a
    # Union reappears here the 3x re-execution is back.
    assert "Union" not in plan


def test_graph_triangles_driver_sf_memory_bound(spark):
    """r11 verdict item 3: the adjacency/collect_list footprint OOMs a
    plain-1g local[32] session at sf0.1 (pin 13d; both the whole-array
    and a K-chunked variant reproduce it — chunking was measured r12
    and REJECTED: still OOMs at 1g AND ~9% slower at sf0.1). The
    operator therefore depends on a bench.py/get_spark-sized session
    at 10x driver scale. This test pins the DRIVER-SCALE bound: at the
    driver's correctness SF (sf0.01) the materialized adjacency is a
    couple of MB — no plain session can OOM on it — and the
    orientation's sqrt-degree cap holds. If the driver fixture ever
    grows ~100x, this assertion trips before the driver does."""
    from pyspark.sql import functions as F

    from sqlengine_spark.session import table

    sf = "/root/testdata/sf0.01"
    li = table(spark, sf, "lineitem").select(
        "l_orderkey", F.col("l_partkey").alias("p")
    )
    x = li.toDF("ok", "p1")
    y = li.toDF("ok", "p2")
    e = (
        x.join(y, "ok")
        .filter(F.col("p1") < F.col("p2"))
        .select("p1", "p2")
        .distinct()
    )
    deg = (
        e.select(F.col("p1").alias("v"))
        .unionByName(e.select(F.col("p2").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    ed = e.join(deg.toDF("p1", "d1"), "p1").join(deg.toDF("p2", "d2"), "p2")
    fwd = (F.col("d1") < F.col("d2")) | (
        (F.col("d1") == F.col("d2")) & (F.col("p1") < F.col("p2"))
    )
    o = ed.select(F.when(fwd, F.col("p1")).otherwise(F.col("p2")).alias("src"))
    row = (
        o.groupBy("src")
        .agg(F.count("*").alias("od"))
        .agg(F.max("od").alias("max_od"), F.sum("od").alias("edges"))
        .collect()[0]
    )
    # measured r12: edges=115,729, max_od=90. Boxed adjacency ~16 B/el:
    # 116k * 16 B ~ 1.9 MB; worst per-edge join row carries 2*max_od
    # ints. Budget: an order of magnitude headroom under a 256 MB
    # working-set slice of a 1 GB plain session.
    assert row["edges"] * 16 < 256 * 1024 * 1024 / 10, row["edges"]
    assert row["max_od"] * row["max_od"] <= 4 * row["edges"], (
        "orientation sqrt-degree cap broken"
    )


def test_theilsen_pair_join_keyed_on_user(spark):
    """m_ts_theilsen: the pairwise-slope stage is an equi-join keyed on
    user_id (calendar-bounded fan-out), never a cartesian."""
    plan = _plan(spark, "m_ts_theilsen")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "hashpartitioning(user_id" in plan


def test_linreg_normal_single_pass_no_join(spark):
    # the moment matrix must come from ONE scan-side partial aggregate:
    # no join anywhere in the moment computation (the 2x2 solve is
    # scalar arithmetic over the 1-row aggregate)
    plan = _plan(spark, "l_ml_linreg_normal")
    assert "Join" not in plan, "OLS moments must not plan a join"
    assert plan.count("Scan parquet") == 2, "one lineitem scan (tree + detail)"
    assert "HashAggregate" in plan  # partial+final moment agg


def test_pareto_front_broadcast_spine_no_sort_on_corpus(spark):
    # corpus side: hash agg + broadcast join; the skyline window may
    # only run over the per-length rollup (value-domain bounded)
    plan = _plan(spark, "l_pareto_front")
    assert "BroadcastHashJoin" in plan, "spine must broadcast-join back"
    assert "CartesianProduct" not in plan


def test_embedding_rp_partial_agg_after_expansion(spark):
    # the 512-term fan-out must combine map-side: partial HashAggregate
    # keyed (vec_id, j) before the single exchange
    plan = _plan(spark, "l_embedding_rp")
    assert "HashAggregate" in plan
    assert plan.count("Scan parquet") == 2, "one embeddings scan (tree + detail)"


def test_yoy_growth_broadcast_dims_calendar_window(spark):
    # nation dim broadcast; the window runs over the (nation, year)
    # rollup — the fact table is touched only by the first aggregation
    plan = _plan(spark, "m_yoy_growth")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_corr_matrix_single_pass_no_join(spark):
    # all 15 moments come from ONE scan-side partial aggregate; the 6
    # correlations are scalar arithmetic + stack over the 1-row frame
    plan = _plan(spark, "d_agg_corr_matrix")
    assert "Join" not in plan, "corr moments must not plan a join"
    assert plan.count("Scan parquet") == 2, "one lineitem scan (tree + detail)"
    assert "HashAggregate" in plan


def test_ab_test_single_scan_user_keyed(spark):
    # one events scan; per-user conversion collapses in a user-keyed
    # partial agg before the 1-row readout; no join anywhere
    plan = _plan(spark, "m_ab_test_ztest")
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 2
    assert plan.count("HashAggregate") >= 4   # user-level + readout, partial+final


def test_weighted_median_collapses_ties_before_window(spark):
    # the (flag, price) hash agg must run BEFORE the per-flag window so
    # the sort sees |distinct prices| rows, not |lineitem|; the window
    # is partitioned (global sweep) and all sums are integer
    plan = _plan(spark, "d_agg_weighted_median")
    # the tree section prints the root first and each input below its
    # consumer: the tie-collapse agg must sit below the lowest Window
    tree = plan.split("\n\n", 1)[0]
    assert "Window" in tree
    below = tree[tree.rfind("Window"):]
    assert "HashAggregate" in below, "tie-collapse agg missing below the window"
    assert "CartesianProduct" not in plan


def test_naive_bayes_model_joins_broadcast(spark):
    # the (class, token) model table and the 5-row class stats both
    # BROADCAST to the test-token stream; the only non-broadcast
    # shuffles are the keyed partial aggs (token counts, per-doc
    # scores); never a CartesianProduct (the 5-row class fan-out is a
    # BroadcastNestedLoopJoin by construction)
    plan = _plan(spark, "l_ml_naive_bayes")
    assert "BroadcastHashJoin" in plan, "model join must broadcast"
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 4


def test_text_entropy_class_collapse_before_doc_agg(spark):
    # char explode partial-aggregates to (doc, char) classes map-side;
    # the doc-level entropy agg runs over |docs|*|alphabet| rows only
    plan = _plan(spark, "l_text_entropy")
    assert "Generate" in plan          # the sequence/explode fan-out
    assert plan.count("HashAggregate") >= 3
    assert "Join" not in plan


def test_simhash_band_joins_are_hash_joins(spark):
    # each of the 3 band candidate joins must plan as an equi hash
    # join on the 6-bit band key (the doc_a < doc_b conjunct is a
    # residual filter), never a cartesian; fingerprints come from ONE
    # doc-keyed bigint-buffer aggregation (no SortAggregate — the NB
    # string-buffer lesson)
    plan = _plan(spark, "l_simhash_hamming_join")
    assert "CartesianProduct" not in plan
    assert "SortAggregate" not in plan
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") \
        + plan.count("ShuffledHashJoin") >= 3


def test_markov_2step_broadcast_matrix_product(spark):
    # the P x P composition joins two |types|^2-row frames — broadcast,
    # never a shuffle of the event table beyond the pair extraction
    plan = _plan(spark, "m_markov_2step")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_time_range_window_partitioned_integer_sum(spark):
    # the interval RANGE frame runs under a user partition (global
    # sweep) and the rolling SUM input is the cents BIGINT, not the
    # raw double (rule 9)
    plan = _plan(spark, "e_win_time_range")
    assert "Window" in plan
    assert "specifiedwindowframe(RangeFrame" in plan or "RANGE" in plan.upper()


def test_nested_pruning_reads_only_leaves(spark):
    # the nested read must prune to the referenced struct LEAVES: the
    # unreferenced fin.custkey leaf may not appear in ReadSchema, and
    # the leaf predicates must reach the parquet scan as pushed filters
    plan = _plan(spark, "a_scan_nested_pruning")
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][-1]
    assert "custkey" not in read_schema, read_schema
    assert "price" in read_schema and "status" in read_schema
    assert "PushedFilters" in plan
    assert "IsNotNull" in plan or "EqualTo" in plan


def test_ndcg_rank_window_group_limited(spark):
    """l_eval_ndcg's per-query top-10 must plan as WindowGroupLimit
    (rank-only Window node, CLAUDE.md rule 13a) so map tasks emit only
    their local top-10 per query — never the full scored corpus."""
    plan = _plan(spark, "l_eval_ndcg")
    assert "WindowGroupLimit" in plan


def test_rfm_has_no_global_sort_or_window(spark):
    """m_rfm_segment's deliberate non-ntile design: quintile boundaries
    are a distributed percentile AGGREGATE broadcast back, so the plan
    must contain no Window node at all and no single-partition sort."""
    plan = _plan(spark, "m_rfm_segment")
    assert "Window" not in plan
    assert "rangepartitioning" not in plan.lower()


def test_basket_affinity_broadcasts_dims_and_takeordered(spark):
    """m_basket_affinity: per-part count tables broadcast onto the
    pair stream (never shuffled against it) and the top-50 is
    TakeOrdered, not a global sort."""
    plan = _plan(spark, "m_basket_affinity")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "TakeOrderedAndProject" in plan


def test_group_advantage_never_broadcasts_the_fact_stream(spark):
    # r11: without the shuffle_hash hint Catalyst broadcast the FULL
    # reward stream (BuildLeft on fixture-sized stats) — 2.3x slower at
    # x100 and a guaranteed OOM at 100 TB. The moments join must be a
    # shuffled join on the group key.
    plan = _plan(spark, "l_rl_group_advantage")
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan
