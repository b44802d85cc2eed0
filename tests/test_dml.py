"""dml.py edge-case semantics (beyond the oracled tier-N round-trips):
NULL-condition rows on DELETE, no-match MERGE, insert-only MERGE, and
update expressions referencing source columns."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from sqlengine_spark import dml
from sqlengine_spark.session import SCRATCH, staged


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema=schema)


def test_delete_null_condition_rows_survive(spark):
    # SQL DELETE removes rows where the predicate is TRUE; NULL keeps
    df = _df(spark, [(1, 10.0), (2, None), (3, 5.0)], "id long, v double")
    out = dml.delete(df, F.col("v") > 6).orderBy("id").collect()
    assert [r.id for r in out] == [2, 3]


def test_update_untouched_rows_identical(spark):
    df = _df(spark, [(1, "a"), (2, "b")], "id long, s string")
    out = (
        dml.update(df, F.col("id") == 1, {"s": F.lit("z")})
        .orderBy("id")
        .collect()
    )
    assert [(r.id, r.s) for r in out] == [(1, "z"), (2, "b")]


def test_merge_no_match_is_identity_plus_inserts(spark):
    tgt = _df(spark, [(1, "a"), (2, "b")], "id long, s string")
    src = _df(spark, [(3, "c")], "id long, s string")
    out = dml.merge_into(tgt, src, "id").orderBy("id").collect()
    assert [(r.id, r.s) for r in out] == [(1, "a"), (2, "b"), (3, "c")]


def test_merge_update_only_no_insert(spark):
    tgt = _df(spark, [(1, "a"), (2, "b")], "id long, s string")
    src = _df(spark, [(2, "B"), (9, "X")], "id long, s string")
    out = (
        dml.merge_into(
            tgt,
            src,
            "id",
            update_cols={"s": F.col("src_s")},
            insert_when_not_matched=False,
        )
        .orderBy("id")
        .collect()
    )
    assert [(r.id, r.s) for r in out] == [(1, "a"), (2, "B")]


def test_merge_matched_update_and_insert(spark):
    tgt = _df(spark, [(1, 10.0), (2, 20.0)], "id long, v double")
    src = _df(spark, [(2, 5.0), (3, 7.0)], "id long, v double")
    out = (
        dml.merge_into(
            tgt, src, "id", update_cols={"v": F.col("v") + F.col("src_v")}
        )
        .orderBy("id")
        .collect()
    )
    assert [(r.id, r.v) for r in out] == [(1, 10.0), (2, 25.0), (3, 7.0)]


def test_engine_insert_into_matches_by_name(spark):
    from sqlengine_spark.engine import SQLEngine
    from tests.conftest import SF_DIR

    eng = SQLEngine(SF_DIR, spark)
    # reordered columns must still land in the right slots
    rows = spark.createDataFrame(
        [( "XTRA", 99901, 3, 1.5)], "s_name string, s_suppkey long, s_nationkey int, s_acctbal double"
    )
    out = eng.insert_into("supplier", rows)
    base = eng.table("supplier").count()
    assert out.count() == base + 1
    got = out.filter(F.col("s_suppkey") == 99901).collect()[0]
    assert (got.s_name, got.s_nationkey, got.s_acctbal) == ("XTRA", 3, 1.5)


def test_time_travel_version_chain(spark):
    """The manifest must expose all three immutable snapshots with the
    right containment relations: v0 pristine, v1 = update only, v2 =
    update + delete (strictly fewer rows)."""
    import json
    import os

    from sqlengine_spark.registry import all_queries
    from tests.conftest import SF_DIR

    v1 = all_queries()["n_time_travel"](spark, SF_DIR)
    # the operator's own staged dir: a second build would mean the
    # call above staged nothing under this name
    base = staged(spark, SF_DIR, "part_tt", lambda _: pytest.fail("not staged"))
    with open(os.path.join(base, "_versions.json")) as fh:
        log = json.load(fh)
    assert sorted(log) == ["0", "1", "2"]
    v0 = spark.read.parquet(log["0"])
    v2 = spark.read.parquet(log["2"])
    n0, n1, n2 = v0.count(), v1.count(), v2.count()
    assert n0 == n1                       # update rewrites, never drops
    assert n2 < n0                        # delete shrank the snapshot
    assert v2.filter(F.col("p_size") > 40).count() == 0
    # v0 remains pristine: no Brand#13 price differs from the source
    src = spark.read.parquet(f"{SF_DIR}/part.parquet")
    assert v0.exceptAll(src).count() == 0


def test_dynamic_overwrite_leaves_other_partitions_untouched(spark):
    """n_insert_overwrite_dynamic's core claim: the re-priced batch
    contains only '1-URGENT' rows, so after the overwrite every OTHER
    priority partition must still hold its ORIGINAL data files (same
    paths — dynamic mode never lists, drops, or rewrites partitions
    the incoming frame has no rows for)."""
    import os

    from sqlengine_spark.registry import all_queries

    sf_dir = "/root/testdata/sf0.001"
    base = os.path.join(SCRATCH, "orders_dyn_overwrite")

    # run once so the partitioned snapshot is laid down
    all_queries()["n_insert_overwrite_dynamic"](spark, sf_dir).count()

    def part_files():
        out = {}
        for d in os.listdir(base):
            if d.startswith("o_orderpriority=") and "URGENT" not in d:
                p = os.path.join(base, d)
                out[d] = sorted(
                    (f, os.path.getsize(os.path.join(p, f)),
                     os.path.getmtime(os.path.join(p, f)))
                    for f in os.listdir(p)
                    if f.endswith(".parquet")
                )
        return out

    before = part_files()
    assert len(before) == 4, sorted(before)
    # Now perform ANOTHER dynamic overwrite of ONLY the urgent
    # partition directly against the laid-down snapshot (no base-load
    # rewrite in between — that was the round-5 advisor's gap: across
    # full re-invocations the base load rewrites everything, so only
    # the directory SET could be compared). The non-urgent partitions'
    # data files must be byte-for-byte untouched: same names, sizes,
    # and mtimes.
    urgent = spark.read.parquet(base).filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    (
        urgent.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_orderpriority")
        .parquet(base)
    )
    after = part_files()
    assert after == before, "non-urgent partition files changed"
    for d in after:
        assert [f for f, _, _ in after[d]], f"partition {d} emptied"
