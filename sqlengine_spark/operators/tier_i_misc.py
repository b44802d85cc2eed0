"""Tier I — sampling and stable surrogate ids (SURVEY.md §2 tier I)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sqlengine_spark.registry import query
from sqlengine_spark.session import table


@query("i_sample")  # rows-only: sampling RNG streams differ across engines
def i_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% Bernoulli sample of lineitem, fixed seed. Per-row coin flips
    inside the scan — embarrassingly parallel, no shuffle; the fraction
    is asserted within tolerance in pytest."""
    li = table(spark, sf_dir, "lineitem")
    return li.sample(fraction=0.1, seed=42).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@query(
    "i_monotonic_id_rank",
    oracle="""
    SELECT row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey)
               AS surrogate_id,
           o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 400000
    """,
)
def i_monotonic_id_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable surrogate ids: row_number over a declared total order —
    NOT monotonically_increasing_id(), whose values depend on partition
    layout and change run-to-run.

    Scale: a global row_number is a single-partition sort, so it is only
    applied AFTER a selective filter bounds the input (here: top-price
    orders). For full-table surrogate keys at 100 TB the formulation is
    zipWithIndex over range-partitioned sorted data or
    (partition_rank + per-partition offset) two-pass assignment.
    """
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    w = W.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return o.select(
        F.row_number().over(w).alias("surrogate_id"),
        "o_orderkey",
        "o_totalprice",
    )


@query("i_sample_stratified")  # rows-only: RNG streams are engine-specific
def i_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling (sampleBy): a different Bernoulli fraction
    per stratum key — 20% of 'click' events, 5% of 'view', 100% of
    'error' — the class-rebalancing step of training-data curation.
    Per-stratum fractions are asserted within tolerance in pytest
    (tests/test_rows_only.py); exact membership is RNG-stream-specific,
    hence rows-only.

    Scale: per-row coin flips keyed by the stratum column, evaluated
    inside the scan — no shuffle, no state."""
    ev = table(spark, sf_dir, "events")
    return ev.sampleBy(
        "event_type", {"click": 0.2, "view": 0.05, "error": 1.0}, seed=42
    ).select("event_id", "event_type")


@query(
    "i_sample_hash",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE CAST(('0x' || substring(md5(CAST(l_orderkey AS VARCHAR) || '-' ||
                                      CAST(l_linenumber AS VARCHAR)), 1, 8))
               AS BIGINT) % 100 < 10
    """,
)
def i_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% sample by key hash: md5 the row's natural key,
    take the first 32 bits, keep rows whose value mod 100 < 10. Unlike
    i_sample's RNG (engine-specific stream → rows-only), the hash
    sample is REPRODUCIBLE across engines, runs, partitionings and
    resharding — which is why production pipelines sample this way
    (same idiom as l_split_hash's train/val/test ranges) — and so gets
    a full SQL oracle.

    Scale: a pure codegen predicate in the scan — embarrassingly
    parallel, no shuffle, and the same rows survive no matter how the
    data is re-partitioned."""
    li = table(spark, sf_dir, "lineitem")
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "-",
                        F.col("l_orderkey").cast("string"),
                        F.col("l_linenumber").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    return li.filter(bucket < 10).select("l_orderkey", "l_linenumber", "l_quantity")


@query(
    "i_sample_weighted",
    oracle="""
    SELECT event_id, user_id, value
    FROM events
    WHERE CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 8))
               AS BIGINT) / 4294967296.0 * 500.0 < value
    """,
)
def i_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted deterministic sampling: each row survives with
    probability proportional to its ``value`` (u01(md5(key)) * V_max <
    value) — importance sampling for training-data curation (keep
    high-signal rows more often) with the same partition-invariant
    reproducibility as i_sample_hash: the kept set is identical across
    engines, re-runs and ANY resharding, which no RNG sampler promises.
    The u01 is an exact power-of-two division of the first 32 md5 bits,
    so both engines compare bit-identical doubles.

    Scale: pure codegen predicate in the scan — no shuffle, no state;
    the weight ceiling is a pipeline constant (500 covers the fixture's
    value range), not a computed max, so no pre-pass is needed.
    """
    e = table(spark, sf_dir, "events")
    u01 = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        / F.lit(4294967296.0)
    )
    return e.filter(u01 * F.lit(500.0) < F.col("value")).select(
        "event_id", "user_id", "value"
    )


@query(
    "i_sample_systematic",
    oracle="""
    WITH r AS (
        SELECT doc_id, source, n_chars,
               ROW_NUMBER() OVER (
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM documents
    )
    SELECT doc_id, source, n_chars
    FROM r WHERE (rn - 1) % 20 = 0
    """,
)
def i_sample_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SYSTEMATIC 1-in-20 SAMPLE under a hash ordering — the
    deterministic sibling of RNG ``TABLESAMPLE`` (i_sample): order rows
    by md5(doc_id) (a fixed pseudo-random permutation), keep every
    20th. Same statistical intent as Bernoulli sampling, but
    reproducible across engines, runs, and partitionings — the property
    an auditable eval-split or debugging sample needs; stratification
    is the (already covered) i_sample_hash/i_sample_stratified family.

    Scale: the hash is map-side; the global rank is the one global
    order in this operator — at warehouse scale systematic sampling
    switches to the equivalent per-partition form (hash mod k directly,
    i_sample_hash's shape) because the EXACT every-20th spacing is a
    fixture-level pin, not a statistical requirement; documented here,
    same sampling distribution.
    """
    d = table(spark, sf_dir, "documents")
    rn = F.row_number().over(
        W.orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    )
    return (
        d.select("doc_id", "source", "n_chars", rn.alias("rn"))
        .filter((F.col("rn") - 1) % 20 == 0)
        .drop("rn")
    )
