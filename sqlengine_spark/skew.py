"""Skew mitigation helpers (SURVEY §4 / SCALE.md cross-cutting rules).

AQE's skew-join splitting handles join-side skew automatically; these
helpers cover the two cases AQE does not:

- ``salted_agg``: two-stage aggregation for power-law GROUP BY keys
  whose per-key state is itself expensive (collect-style or
  high-cardinality-distinct aggregates). Ordinary sums/counts don't
  need this — map-side partial aggregation already collapses them —
  but when partial aggregation can't compress (e.g. count distinct
  over a hot key), salting splits the hot key's rows across
  ``N_SALTS`` reducers and a second stage merges the partials.

- ``replicate_broadcast_salt``: the join-side recipe (documented, not
  needed in this repo because every skewable join side here fits in a
  broadcast): salt the big side, replicate the small side once per
  salt, join on (key, salt).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Salt buckets per hot key, for both helpers.
N_SALTS = 16


def salted_agg(df: DataFrame, key: str, value: str) -> DataFrame:
    """Count-distinct of ``value`` per ``key`` via salted two-stage
    aggregation: stage 1 groups on (key, salt(value)) so a hot key's
    distinct-set state is split across ``N_SALTS`` tasks; stage 2 sums
    the per-salt distinct counts. Exact because the salt is derived
    from the VALUE (each distinct value lands in exactly one salt
    bucket). Returns (key, n_distinct)."""
    salt: Column = F.pmod(F.xxhash64(F.col(value)), F.lit(N_SALTS)).alias("_salt")
    stage1 = df.select(F.col(key), F.col(value), salt).groupBy(key, "_salt").agg(
        F.countDistinct(value).alias("_partial")
    )
    return stage1.groupBy(key).agg(F.sum("_partial").alias("n_distinct"))


def salted_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    row_key: str,
) -> DataFrame:
    """Equi-join with explicit key salting for skewed big-side keys:
    the big side gets a deterministic salt derived from its unique row
    key (NOT the join key — every row of a hot key must spread), the
    small side is replicated ``N_SALTS``× with one row per salt, and
    the join runs on (key, salt) — so a hot key's rows land in
    ``N_SALTS`` different tasks instead of one straggler.

    Exact: each big row matches exactly its own salt's replica, so the
    join result is row-for-row identical to the unsalted join. Cost:
    |small| × N_SALTS replication — use for fact⋈dim joins where the
    dim is small but broadcast is impossible (e.g. it exceeds driver
    memory or the build side must stay partitioned). AQE's runtime
    skew-split covers sort-merge joins automatically; explicit salting
    is the portable form that also works for shuffled hash joins and
    pre-AQE engines."""
    salts = small.sparkSession.range(N_SALTS).select(
        F.col("id").cast("int").alias("_salt")
    )
    big_s = big.withColumn("_salt", F.pmod(F.xxhash64(F.col(row_key)), F.lit(N_SALTS)).cast("int"))
    small_s = small.crossJoin(salts)
    joined = big_s.join(
        small_s.hint("shuffle_hash"),
        (F.col(big_key) == F.col(small_key)) & (big_s["_salt"] == small_s["_salt"]),
    )
    return joined.drop(big_s["_salt"]).drop(small_s["_salt"])
