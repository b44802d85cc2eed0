"""Copy-on-write DML rewrites (UPDATE / DELETE / MERGE) over parquet.

Plain parquet has no row-level mutation, so the engine provides the
classic copy-on-write rewrites every lakehouse table format (Delta,
Iceberg, Hudi) compiles down to: a DML statement becomes a declarative
DataFrame transform of the current snapshot, written as the next
snapshot. The transforms are pure Catalyst expressions, so the rewrite
inherits pushdown/pruning and shuffles only where the statement
semantics require it.

Scale notes (100 TB):
- UPDATE / DELETE are map-only rewrites (when/otherwise projection,
  filter) — no shuffle at all; the cost is the rewrite I/O. A real
  table format adds file-level pruning so only files containing
  matching rows are rewritten; the per-file transform is exactly what
  these helpers express.
- MERGE is ONE full-outer (or left) join co-shuffled on the merge key
  plus a projection — the same single-shuffle shape Delta's join-based
  merge plans. Broadcast the source side when it is small (the common
  CDC case); both sides shuffle-hash when source is large.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def update(df: DataFrame, condition: Column, updates: Mapping[str, Column]) -> DataFrame:
    """UPDATE ... SET <updates> WHERE <condition> as a projection: rows
    matching ``condition`` get the new expressions, others pass through
    unchanged. Map-only — no shuffle."""
    return df.select(
        *[
            F.when(condition, updates[c]).otherwise(F.col(c)).alias(c)
            if c in updates
            else F.col(c)
            for c in df.columns
        ]
    )


def delete(df: DataFrame, condition: Column) -> DataFrame:
    """DELETE ... WHERE <condition> as the complement filter (null-safe:
    rows where the condition is NULL survive, per SQL DELETE
    semantics). Map-only."""
    return df.filter(~F.coalesce(condition, F.lit(False)))


def merge_into(
    target: DataFrame,
    source: DataFrame,
    key: str,
    update_cols: Mapping[str, Column] | None = None,
    insert_when_not_matched: bool = True,
) -> DataFrame:
    """MERGE INTO target USING source ON target.key = source.key
    WHEN MATCHED THEN UPDATE SET <update_cols>
    WHEN NOT MATCHED THEN INSERT *.

    One full-outer join on the key; matched rows take ``update_cols``
    expressions (evaluated over the joined row — reference source
    columns via ``src_<col>``), unmatched target rows pass through,
    unmatched source rows insert (if enabled). Source columns are
    prefixed ``src_`` to keep references unambiguous.
    """
    update_cols = update_cols or {}
    src = source.select(
        *[F.col(c).alias(f"src_{c}") for c in source.columns]
    )
    joined = target.join(
        src, F.col(key) == F.col(f"src_{key}"), "full_outer"
    )
    matched = F.col(key).isNotNull() & F.col(f"src_{key}").isNotNull()
    src_only = F.col(key).isNull()

    def out_col(c: str) -> Column:
        insert_val = F.col(f"src_{c}") if f"src_{c}" in joined.columns else F.lit(None)
        base = F.col(c)
        if c in update_cols:
            base = F.when(matched, update_cols[c]).otherwise(base)
        if insert_when_not_matched:
            return F.when(src_only, insert_val).otherwise(base).alias(c)
        return base.alias(c)

    rows = joined if insert_when_not_matched else joined.filter(~src_only)
    return rows.select(*[out_col(c) for c in target.columns])
