"""Round-14 operator batch — the two thin surfaces the r13 verdict
staged (item 6): the INCREMENTAL streaming twin of the composed eval
report (completing the batch/stream twin pattern the suite uses
everywhere else), and an END-TO-END MIXTURE BUILD that composes
quality gate -> exact-dedup survivors -> temperature resample ->
char-budget select into ONE plan — the l_pipeline_end2end pattern for
the curation tiers: a mix builder reads this one per-source table,
not four query outputs.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sqlengine_spark.registry import query
from sqlengine_spark.session import scatter, table
from sqlengine_spark.operators.tier_j_streaming import FiniteStream
from sqlengine_spark.operators.tier_x_round13 import (
    EVAL_REPORT_ORACLE,
    eval_report_pair_metrics,
    eval_report_rollup,
)


# ---------------------------------------------------------------------------
# l_eval_report_stream — the incremental twin of l_eval_report
# ---------------------------------------------------------------------------


@query("l_eval_report_stream", oracle=EVAL_REPORT_ORACLE)
def l_eval_report_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL EVAL REPORT — l_eval_report's semantics as a real
    Structured Streaming job: candidate/reference pairs arrive in
    micro-batches (the nightly-eval drip of a serving pipeline), each
    batch computes its pairs' fixed-point metrics (chrF2, token-F1,
    length ratio — the EXACT lineage of the batch op, shared via
    eval_report_pair_metrics) inside foreachBatch and APPENDS them to
    the accumulated per-pair metric store; the report row (means +
    Poisson-bootstrap CI) rolls up from the accumulated state. This is
    how an eval dashboard actually ingests: per-pair point metrics
    stream in, the uncertainty band is recomputed on read.

    Streaming shape: the metric pipeline is three stacked aggregations
    (grams -> pair -> corpus), which Structured Streaming cannot chain
    in one continuous query — foreachBatch is THE supported pattern
    for multi-agg micro-batch work (the l_dedup_stream /
    j_foreach_batch_upsert convention). Waves split on PAIR id, never
    doc id, so a pair's two sides always share a batch and each pair's
    metric row is computed exactly once, in one batch — no cross-batch
    pair state needed. Each batch writes ONLY its own pairs into a
    fresh ``batch<N>/`` subdirectory (append-only, idempotent under
    foreachBatch retries — the l_dedup_stream I/O discipline; bytes
    per batch ∝ |batch pairs|).

    Determinism: per-pair metrics are 1e6 fixed-point BIGINTs computed
    by the shared helper; the bootstrap weights key on (pair_id,
    replicate) only — independent of arrival batching — so the rollup
    over the accumulated store is hash-identical to the one-shot batch
    report, and the oracle IS l_eval_report's oracle.

    Scale: per-batch cost is the batch op's cost on |batch| pairs
    (gram fan-outs, pair-keyed shuffles); cross-batch state is ONE
    32-byte row per pair ever seen — a lakehouse metric table in
    production. The final rollup reads only that table, never the
    text. Partition pin per the rule-11b state-store lesson.

    sf0.1 record (r14, paired reps): 6.43 s vs the one-shot batch SQL
    at 0.87 — the j_tumbling_1h streaming-engine fixed-cost class,
    with the arithmetic visible: two waves x the 2.5 s batch report +
    staging/checkpoint machinery. The honest comparison for the
    incremental path is per-batch marginal cost, which IS the batch
    op's cost on the batch's pairs."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    # pair-aligned two-wave split (pairs never straddle a batch)
    pmid = (
        d.select(F.expr("CAST(doc_id DIV 2 AS BIGINT)").alias("p"))
        .agg(F.percentile_approx("p", 0.5).alias("m"))
        .collect()[0]["m"]
    )
    first = d.filter(F.expr(f"doc_id DIV 2 <= {pmid}"))
    second = d.filter(F.expr(f"doc_id DIV 2 > {pmid}"))

    out_dir = tempfile.mkdtemp(prefix="sqlengine_eval_report_stream_")
    atexit.register(shutil.rmtree, out_dir, ignore_errors=True)
    PP_SCHEMA = "pair_id long, chrf_fp long, f1_fp long, lr_fp long"

    def metrics_batch(batch_df, batch_id: int) -> None:
        # r15 (pin 16b, verdict item 5): each wave arrives as ONE
        # staged file, so batch_df is a single-split scan and the gram
        # fan-out — near-unique (pair, gram) keys, the scatter-NEEDS
        # class — serialized on one core while the BATCH op scatters
        # the same pipeline. Paired order-alternated across two
        # windows: 6/7 wins (clean-window pairs 6.60->5.03,
        # 10.30->4.31 s; later window medians 10.81->9.06). No-op at
        # corpus scale (splits >= parallelism).
        base = scatter(spark, batch_df).select(
            F.expr("CAST(doc_id DIV 2 AS BIGINT)").alias("pair_id"),
            (F.col("doc_id") % 2).alias("side"),
            F.col("text"),
            F.expr("replace(text, ' ', '')").alias("s"),
        )
        eval_report_pair_metrics(base).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch{batch_id}")
        )

    with FiniteStream(spark) as fs:
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(fs.src)
        )
        fs.run(stream, waves=(first, second), foreach_batch=metrics_batch)
    # lazy read-back: the accumulated metric store is |pairs|-sized
    # (corpus-growing), so it is NOT collected to the driver — the
    # rollup reads the parquet store directly (files live until
    # process exit; the atexit cleanup mirrors _EVENTS_STAGE)
    pp = (
        spark.read.schema(PP_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(out_dir)
    )
    return eval_report_rollup(pp)


# ---------------------------------------------------------------------------
# l_mixture_build — gate -> dedup -> temperature resample -> budget
# ---------------------------------------------------------------------------


@query(
    "l_mixture_build",
    oracle="""
    WITH sig AS (
        SELECT doc_id, source, n_chars, md5(text) AS h,
               CAST(length(text) AS BIGINT) AS len,
               CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '',
                                          'g')) AS BIGINT) AS punct,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        FROM documents
    ), gated AS (
        SELECT * FROM sig
        WHERE (CASE WHEN len >= 100 THEN 1 ELSE 0 END
             + CASE WHEN punct * 20 <= len THEN 1 ELSE 0 END
             + CASE WHEN toks * 3 <= len AND len <= toks * 12
                    THEN 1 ELSE 0 END) >= 2
    ), surv AS (
        SELECT doc_id, source, n_chars, toks FROM (
            SELECT g.*, ROW_NUMBER() OVER (
                PARTITION BY h ORDER BY doc_id) AS dr
            FROM gated g) gd
        WHERE dr = 1
    ), c AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_dedup
        FROM surv GROUP BY source
    ), t AS (
        SELECT CAST(SUM(n_dedup) AS BIGINT) AS total FROM c
    ), w AS (
        SELECT c.source, c.n_dedup,
               CAST(FLOOR(pow(CAST(c.n_dedup AS DOUBLE)
                              / CAST(t.total AS DOUBLE), 0.7) * 1e15
                          + 0.5) AS BIGINT) AS wq
        FROM c CROSS JOIN t
    ), z AS (
        SELECT CAST(SUM(wq) AS BIGINT) AS z FROM w
    ), tgt AS (
        SELECT w.source, w.n_dedup,
               CAST(CEIL(CAST(t.total AS DOUBLE) * 0.5
                         * CAST(w.wq AS DOUBLE) / CAST(z.z AS DOUBLE))
                    AS BIGINT) AS n_target
        FROM w CROSS JOIN z CROSS JOIN t
    ), res AS (
        SELECT doc_id, source, n_chars, toks FROM (
            SELECT s.doc_id, s.source, s.n_chars, s.toks, tg.n_target,
                   ROW_NUMBER() OVER (
                       PARTITION BY s.source
                       ORDER BY md5(CAST(s.doc_id AS VARCHAR)),
                                s.doc_id) AS rr
            FROM surv s JOIN tgt tg ON tg.source = s.source) rs
        WHERE rr <= n_target
    ), rc AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_resampled
        FROM res GROUP BY source
    ), sel AS (
        SELECT * FROM (
            SELECT doc_id, source, n_chars,
                   SUM(n_chars) OVER (
                       PARTITION BY source
                       ORDER BY CAST(n_chars AS DOUBLE) * toks
                                / (n_chars + 100) DESC, doc_id
                       ROWS UNBOUNDED PRECEDING) AS cum_chars
            FROM res) ld
        WHERE cum_chars <= 20000
    ), sc AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_selected,
               CAST(SUM(n_chars) AS BIGINT) AS chars_used
        FROM sel GROUP BY source
    ), raw AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_raw
        FROM documents GROUP BY source
    ), gc AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_gated
        FROM gated GROUP BY source
    )
    SELECT raw.source, raw.n_raw,
           CAST(COALESCE(gc.n_gated, 0) AS BIGINT) AS n_gated,
           CAST(COALESCE(c.n_dedup, 0) AS BIGINT) AS n_dedup,
           CAST(COALESCE(tgt.n_target, 0) AS BIGINT) AS n_target,
           CAST(COALESCE(rc.n_resampled, 0) AS BIGINT) AS n_resampled,
           CAST(COALESCE(sc.n_selected, 0) AS BIGINT) AS n_selected,
           CAST(COALESCE(sc.chars_used, 0) AS BIGINT) AS chars_used
    FROM raw
    LEFT JOIN gc ON gc.source = raw.source
    LEFT JOIN c ON c.source = raw.source
    LEFT JOIN tgt ON tgt.source = raw.source
    LEFT JOIN rc ON rc.source = raw.source
    LEFT JOIN sc ON sc.source = raw.source
    ORDER BY raw.source
    """,
)
def l_mixture_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END MIXTURE BUILD — the whole pretraining-mix recipe in
    ONE plan, per source: composite quality gate (the
    l_quality_composite_gate majority vote) -> exact-dedup survivors
    (l_dedup_exact's MIN(doc_id)-per-md5 keep set) -> temperature
    resample (targets ∝ p^0.7 over survivor shares, the
    l_mix_temperature recipe, applied via l_domain_mix's md5-rank
    prefix at a half-corpus doc budget) -> greedy per-source char
    budget (l_budget_select's integer ledger, 20k chars/source). The
    output is the per-source funnel ledger (raw -> gated -> deduped ->
    target -> resampled -> selected + chars used) a mix builder ships
    as its datasheet — each stage is the audited twin of its
    standalone operator.

    Determinism: gate signals and thresholds are pure integer
    arithmetic (cross-multiplied ratios); dedup keep set is a
    rank-over-exact-BIGINT order; temperature weights quantize to
    1e15 fixed-point BEFORE normalizing (rule 11e) so targets are
    CEIL of identical double expressions over exact integers; the
    resample order is (md5(doc_id), doc_id) — byte-identical hex in
    both engines; the budget ledger is an integer running sum under a
    (score DESC, doc_id) total order with the score a fixed-shape
    per-row double (rule 5). Every output column is an exact BIGINT.

    Scale: ONE map pass computes hash + gate signals + token count
    and drops text immediately — every shuffle after the scan carries
    ~40-byte rows. Dedup shuffles on the near-unique content hash
    (partial-agg-free window, same class as l_dedup_exact); the
    per-source stage tables (counts, weights, targets) are
    DOMAIN-bounded (rule 14a exception) and broadcast into the
    resample/budget windows; those windows partition per source — a
    skewed source salts the same way d_agg_salted does (the
    l_domain_mix note), and the budget window is rank-bounded the
    l_budget_select way should the per-source budget ever need the
    WindowGroupLimit prune. The funnel is one job, no re-scans: gate
    feeds dedup feeds resample feeds budget as a single lineage.

    x100 record (r14, paired fresh-plan reps): 4.06 vs DuckDB 3.64 —
    ratio 1.12, near-parity at first measurement. Scatter REJECTED
    per the pin-16a per-class call (paired toggle: plain 4.05 /
    scattered 4.63 median, scatter lost every rep): there is no
    fan-out to amortize — the map pass emits ONE thin row per doc and
    the first shuffle is already corpus-thin, so the round-robin
    exchange costs more than the single-split map serialization
    saves."""
    d = table(spark, sf_dir, "documents")
    sig = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.md5("text").alias("h"),
        F.length("text").cast("bigint").alias("len"),
        F.length(F.regexp_replace(F.lower(F.col("text")), "[a-z0-9 ]", ""))
        .cast("bigint")
        .alias("punct"),
        F.size(F.split("text", " ")).cast("bigint").alias("toks"),
    )
    votes = (
        F.when(F.col("len") >= 100, 1).otherwise(0)
        + F.when(F.col("punct") * 20 <= F.col("len"), 1).otherwise(0)
        + F.when(
            (F.col("toks") * 3 <= F.col("len"))
            & (F.col("len") <= F.col("toks") * 12),
            1,
        ).otherwise(0)
    )
    # r14 funnel restaging (guide §2.4; before-plan: 42 Exchanges, 17
    # parquet scans — every funnel column re-executed the scan+gate+
    # dedup chain). Three changes, output bit-identical (asserted
    # against the old plan in the adoption A/B):
    #   1. n_raw + n_gated come from ONE conditional agg over sig
    #      (one scan instead of two);
    #   2. surv is localCheckpointed — the md5/regexp gate map and the
    #      dedup window run ONCE (paired at sf0.1, medians over 5:
    #      old 2.494 s, ckpt-c-only 1.697, ckpt-surv 1.782 — the two
    #      staged forms overlap; surv-staging is adopted because it
    #      also halves the corpus-scale work: one gate map + one
    #      dedup-window sort instead of two, for a corpus-THIN ~40 B/row
    #      materialization, pin 13c). Fault-tolerance caveat (r14
    #      advice): localCheckpoint blocks are NON-REPLICATED and the
    #      lineage is cut, so an executor loss at scale fails the job
    #      instead of recomputing — on a real cluster this staging
    #      would be reliableCheckpoint/write-to-storage; the
    #      local-mode harness has no executor-loss mode, so the cheap
    #      form is correct here);
    #   3. n_resampled / n_selected / chars_used come from ONE
    #      conditional agg over the budget ledger (two branches merged).
    gated = sig.filter(votes >= 2)
    funnel0 = sig.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(F.when(votes >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_gated"),
    )
    surv = (
        gated.select(
            "doc_id",
            "source",
            "n_chars",
            "toks",
            "h",
            F.row_number()
            .over(Window.partitionBy("h").orderBy("doc_id"))
            .alias("dr"),
        )
        .filter(F.col("dr") == 1)
        .drop("dr", "h")
        .localCheckpoint()
    )
    c = surv.groupBy("source").agg(F.count(F.lit(1)).alias("n_dedup"))
    t = c.agg(F.sum("n_dedup").alias("total"))
    w = c.crossJoin(F.broadcast(t)).select(
        "source",
        "n_dedup",
        "total",
        F.floor(
            F.pow(
                F.col("n_dedup").cast("double") / F.col("total").cast("double"),
                F.lit(0.7),
            )
            * 1e15
            + 0.5
        )
        .cast("bigint")
        .alias("wq"),
    )
    z = w.agg(F.sum("wq").alias("z"))
    tgt = w.crossJoin(F.broadcast(z)).select(
        "source",
        "n_dedup",
        F.ceil(
            F.col("total").cast("double")
            * 0.5
            * F.col("wq").cast("double")
            / F.col("z").cast("double")
        )
        .cast("bigint")
        .alias("n_target"),
    )
    res = (
        surv.join(F.broadcast(tgt.select("source", "n_target")), "source")
        .select(
            "doc_id",
            "source",
            "n_chars",
            "toks",
            "n_target",
            F.row_number()
            .over(
                Window.partitionBy("source").orderBy(
                    F.md5(F.col("doc_id").cast("string")), "doc_id"
                )
            )
            .alias("rr"),
        )
        .filter(F.col("rr") <= F.col("n_target"))
        .drop("rr", "n_target")
    )
    score = (
        F.col("n_chars").cast("double")
        * F.col("toks")
        / (F.col("n_chars") + F.lit(100))
    )
    ledger = res.select(
        "doc_id",
        "source",
        "n_chars",
        F.sum("n_chars")
        .over(
            Window.partitionBy("source")
            .orderBy(score.desc(), "doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("cum_chars"),
    )
    fin = ledger.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_resampled"),
        F.sum(F.when(F.col("cum_chars") <= 20000, 1).otherwise(0))
        .cast("bigint")
        .alias("n_selected"),
        F.coalesce(
            F.sum(F.when(F.col("cum_chars") <= 20000, F.col("n_chars"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("chars_used"),
    )
    out = (
        funnel0.join(c, "source", "left")
        .join(tgt.select("source", "n_target"), "source", "left")
        .join(fin, "source", "left")
    )
    zero = F.lit(0).cast("bigint")
    return out.select(
        "source",
        "n_raw",
        F.coalesce("n_gated", zero).alias("n_gated"),
        F.coalesce("n_dedup", zero).alias("n_dedup"),
        F.coalesce("n_target", zero).alias("n_target"),
        F.coalesce("n_resampled", zero).alias("n_resampled"),
        F.coalesce("n_selected", zero).alias("n_selected"),
        F.coalesce("chars_used", zero).alias("chars_used"),
    ).orderBy("source")
