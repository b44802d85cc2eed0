"""The benchmark's workloads: which registry queries each one runs, and
why each set was chosen. The query ids are part of each workload's
definition; changing them changes the benchmark.

Every workload runs on the sf0.01 fixture tables in ``data/sf0.01``: one
closed-loop client (the benchmark itself) issues its queries one after
another on ``local[nproc]``, rebuilds each plan for every execution and
never persists a result.
"""

from __future__ import annotations

DATA = "sf0.01"

WORKLOADS = {
    # Short relational and event queries (0.2-1.2 s each on 4 vCPU): the
    # fixed per-query floor -- Catalyst phases, job and stage scheduling,
    # the Arrow collect -- is most of each, so a floor cut shows here
    # first. Operator builds run no jobs.
    "olap": (
        "d_agg_q1_pricing", "c_join_3way", "e_win_topk_group",
        "t_q09_product_profit", "d_agg_multi_distinct", "c_join_asof",
        "m_funnel_windowed", "m_rolling_wau", "j_tumbling_1h",
    ),
    # The write path. Each lake query writes parquet and reads it back, on
    # the scan and split-sizing path olap shares, so a change that moves
    # cost between reads and writes (file count, partitioning) shows on
    # one workload or the other. j_session_30m_stream is a finite
    # Structured Streaming replay (offset log, state-store commits per
    # micro-batch): the native session_window twin of
    # j_stream_session_timeout. Most work runs inside the operator call
    # (the build), not the collect. n_delete_cascade and
    # a_maintenance_compaction (2-5 s each, 45% of a lake pass) are left
    # out so that a run fits its share of the run budget; see README.md.
    "lake_stream": (
        "n_update_rewrite", "n_delete_rewrite", "n_merge_upsert",
        "n_insert_append", "n_merge_on_read_delete",
        "n_insert_overwrite_dynamic", "a_sink_parquet_partitioned",
        "j_session_30m_stream",
    ),
}
