"""Tier N — DML surface (UPDATE / DELETE / MERGE as copy-on-write).

Each operator runs a DML statement through ``sqlengine_spark.dml``'s
copy-on-write rewrite, persists the new snapshot to the scratch sink
(same contract as the tier-A sinks: on a cluster this is a DFS path),
reads it back, and is oracled by the equivalent pure-SQL SELECT over
the ORIGINAL table — verifying the full statement semantics, not just
the transform.

Scale: UPDATE/DELETE rewrites are map-only (no shuffle; see dml.py);
MERGE is one full-outer join co-shuffled on the merge key. The
write+read-back here is the snapshot commit a lakehouse format would
do with file-level pruning on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sqlengine_spark import dml
from sqlengine_spark.functions import dround
from sqlengine_spark.registry import query
from sqlengine_spark.session import scratch, staged, table


@query(
    "n_update_rewrite",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey,
           CASE WHEN s_nationkey = 3
                THEN ROUND(s_acctbal * 1.1 * 100, 0) / 100 + 0
                ELSE s_acctbal END AS s_acctbal
    FROM supplier
    """,
)
def n_update_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE supplier SET s_acctbal = round(s_acctbal * 1.1, 2)
    WHERE s_nationkey = 3 — copy-on-write: projection rewrite, snapshot
    write, read-back. The oracle replays the statement as a CASE over
    the original table."""
    sup = table(spark, sf_dir, "supplier")
    updated = dml.update(
        sup,
        F.col("s_nationkey") == 3,
        {"s_acctbal": dround(F.col("s_acctbal") * 1.1, 2)},
    ).select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    path = scratch("supplier_updated")
    updated.write.mode("overwrite").parquet(path)
    return spark.read.schema(updated.schema).parquet(path)


@query(
    "n_delete_rewrite",
    oracle="""
    SELECT * FROM orders
    WHERE NOT (o_orderstatus = 'P'
               AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00')
    """,
)
def n_delete_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE FROM orders WHERE o_orderstatus = 'P' AND o_orderdate <
    '1996-01-01' — complement-filter rewrite, snapshot write,
    read-back."""
    o = table(spark, sf_dir, "orders")
    kept = dml.delete(
        o,
        (F.col("o_orderstatus") == "P")
        & (F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp")),
    )
    path = scratch("orders_deleted")
    kept.write.mode("overwrite").parquet(path)
    return spark.read.schema(kept.schema).parquet(path)


@query(
    "n_merge_upsert",
    oracle="""
    WITH src AS (
        SELECT c_custkey + 1000000 AS c_custkey, c_name, c_nationkey,
               ROUND((c_acctbal + 100) * 100, 0) / 100 + 0 AS c_acctbal,
               c_mktsegment
        FROM customer WHERE c_custkey % 100 = 7
        UNION ALL
        SELECT c_custkey, c_name, c_nationkey,
               ROUND((c_acctbal + 100) * 100, 0) / 100 + 0 AS c_acctbal,
               c_mktsegment
        FROM customer WHERE c_custkey % 10 = 0
    )
    SELECT COALESCE(t.c_custkey, s.c_custkey) AS c_custkey,
           COALESCE(t.c_name, s.c_name) AS c_name,
           COALESCE(t.c_nationkey, s.c_nationkey) AS c_nationkey,
           CASE WHEN t.c_custkey IS NOT NULL AND s.c_custkey IS NOT NULL
                THEN s.c_acctbal
                WHEN t.c_custkey IS NULL THEN s.c_acctbal
                ELSE t.c_acctbal END AS c_acctbal,
           COALESCE(t.c_mktsegment, s.c_mktsegment) AS c_mktsegment
    FROM customer t FULL OUTER JOIN src s ON t.c_custkey = s.c_custkey
    """,
)
def n_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO customer USING src ON c_custkey — src is a
    deterministic CDC batch derived from the table itself: +100 balance
    updates for every 10th customer (matched -> update) plus re-keyed
    copies of every 107th customer (not matched -> insert). One
    full-outer join on the key, snapshot write, read-back; the oracle
    replays the merge as FULL OUTER JOIN + COALESCE."""
    c = table(spark, sf_dir, "customer")
    new_bal = dround(F.col("c_acctbal") + 100, 2)
    src = (
        c.filter(F.col("c_custkey") % 100 == 7)
        .select(
            (F.col("c_custkey") + 1000000).alias("c_custkey"),
            "c_name",
            "c_nationkey",
            new_bal.alias("c_acctbal"),
            "c_mktsegment",
        )
        .unionAll(
            c.filter(F.col("c_custkey") % 10 == 0).select(
                "c_custkey",
                "c_name",
                "c_nationkey",
                new_bal.alias("c_acctbal"),
                "c_mktsegment",
            )
        )
    )
    merged = dml.merge_into(
        c,
        src,
        key="c_custkey",
        update_cols={"c_acctbal": F.col("src_c_acctbal")},
    )
    path = scratch("customer_merged")
    merged.write.mode("overwrite").parquet(path)
    return spark.read.schema(merged.schema).parquet(path)


@query(
    "n_insert_append",
    oracle="""
    SELECT * FROM supplier
    UNION ALL
    SELECT s_suppkey + 100000, 'COPY-' || s_name, s_nationkey, s_acctbal
    FROM supplier WHERE s_nationkey = 3
    """,
)
def n_insert_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT INTO supplier SELECT ... — the append verb completing
    the DML set (UPDATE/DELETE/MERGE above): derive new rows (nation-3
    suppliers re-keyed past the existing range, names prefixed),
    append to the snapshot, write, read back. The oracle replays the
    statement as UNION ALL over the original table.

    Scale: append-only commit — the new files land next to the old
    ones with zero rewrite of existing data (the cheapest DML path in
    any lakehouse format); the union itself is metadata-only."""
    sup = table(spark, sf_dir, "supplier")
    new_rows = sup.filter(F.col("s_nationkey") == 3).select(
        (F.col("s_suppkey") + 100000).alias("s_suppkey"),
        F.concat(F.lit("COPY-"), F.col("s_name")).alias("s_name"),
        "s_nationkey",
        "s_acctbal",
    )
    appended = sup.unionAll(new_rows)
    path = scratch("supplier_inserted")
    appended.write.mode("overwrite").parquet(path)
    return spark.read.schema(appended.schema).parquet(path)


@query(
    "n_scd2_history",
    oracle="""
    WITH changes AS (
        SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
               lag(o_orderpriority) OVER w AS prev_prio
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ), versions AS (
        SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
        FROM changes
        WHERE prev_prio IS NULL OR prev_prio <> o_orderpriority
    )
    SELECT o_custkey, o_orderpriority,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS valid_from,
           CAST(CAST(lead(o_orderdate) OVER w2 AS DATE) AS VARCHAR)
             AS valid_to,
           (lead(o_orderdate) OVER w2 IS NULL) AS is_current
    FROM versions
    WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, valid_from, o_orderpriority
    """,
)
def n_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2: each customer's order-priority
    state becomes a versioned history row — consecutive repeats
    collapse, valid_from/valid_to chain via lead(), the open version
    flags is_current. This is the MERGE-into-history pattern every
    warehouse dimension load runs; expressed declaratively it is two
    windows over one partitioning. Derived dates project as yyyy-MM-dd
    strings in both engines (rule 3); (o_orderdate, o_orderkey) is the
    deterministic total order within a customer.

    Scale: both windows and the change-filter share the o_custkey
    shuffle (one Exchange, plan-asserted); state is one row of lag
    lookback. History size is |state changes|, not |orders| — the
    collapse happens before the second window touches anything.
    """
    o = table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    changes = o.select(
        "o_custkey",
        "o_orderpriority",
        "o_orderdate",
        "o_orderkey",
        F.lag("o_orderpriority").over(w).alias("prev_prio"),
    ).filter(
        F.col("prev_prio").isNull()
        | (F.col("prev_prio") != F.col("o_orderpriority"))
    )
    nxt = F.lead("o_orderdate").over(w)
    return (
        changes.select(
            "o_custkey",
            "o_orderpriority",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("valid_from"),
            F.date_format(nxt, "yyyy-MM-dd").alias("valid_to"),
            nxt.isNull().alias("is_current"),
        )
        .orderBy("o_custkey", "valid_from", "o_orderpriority")
    )


@query(
    "n_time_travel",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_type, p_size,
           CASE WHEN p_brand = 'Brand#13'
                THEN ROUND(p_retailprice * 1.05 * 100, 0) / 100 + 0
                ELSE p_retailprice END AS p_retailprice
    FROM part
    """,
)
def n_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel (``SELECT ... VERSION AS OF 1``): the DML
    tier's copy-on-write rewrites naturally produce a VERSION CHAIN —
    v0 = the original part table, v1 = v0 + UPDATE (5% price raise for
    Brand#13), v2 = v1 + DELETE (p_size > 40) — each committed as an
    immutable snapshot directory recorded in a JSON manifest (version →
    path, the minimal form of a Delta/Iceberg transaction log). The
    query resolves "AS OF version 1" THROUGH the manifest and returns
    that snapshot: the update is visible, the later delete is not. The
    oracle replays only the v1 statement over the original table.

    Scale: time travel costs nothing at read time — resolving the
    manifest is O(versions) driver-side metadata, and the chosen
    snapshot reads like any parquet table (pushdown/pruning intact).
    The storage cost is copy-on-write amplification, which production
    tables bound with partition-level rewrites + VACUUM horizons; the
    manifest here is one JSON file because a single writer commits —
    a real log needs atomic rename/optimistic concurrency, which is
    exactly what Delta/Iceberg add on top of this layout."""
    import json
    import os

    def build(base: str) -> None:
        p0 = table(spark, sf_dir, "part")
        v1 = dml.update(
            p0,
            F.col("p_brand") == "Brand#13",
            {"p_retailprice": dround(F.col("p_retailprice") * 1.05, 2)},
        )
        v2 = dml.delete(v1, F.col("p_size") > 40)
        log = {}
        for ver, snap in ((0, p0), (1, v1), (2, v2)):
            path = os.path.join(base, f"v{ver}")
            snap.write.mode("overwrite").parquet(path)
            log[str(ver)] = path
        with open(os.path.join(base, "_versions.json"), "w") as fh:
            json.dump(log, fh)

    base = staged(spark, sf_dir, "part_tt", build)
    with open(os.path.join(base, "_versions.json")) as fh:
        log = json.load(fh)
    as_of = spark.read.parquet(log["1"])  # VERSION AS OF 1
    return as_of.select(
        "p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"
    )


@query(
    "n_merge_on_read_delete",
    oracle="""
    SELECT * FROM orders
    WHERE NOT (o_orderpriority = '5-LOW'
               AND o_orderdate >= TIMESTAMP '1997-06-01 00:00:00')
    """,
)
def n_merge_on_read_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ delete — the other half of the DML design space
    from the copy-on-write tier (n_delete_rewrite): instead of
    rewriting the snapshot, the DELETE commits only a DELETE-VECTOR
    sidecar (the matching rows' keys, Iceberg-v2 position/equality
    deletes in spirit), and the READ path reconstructs the logical
    table as ``base LEFT ANTI JOIN deletes`` on the key. Write cost is
    O(|deleted|) instead of O(|table|) — the right trade for frequent
    small deletes (GDPR erasure streams) — paid back with an anti-join
    on every read until compaction folds the vectors into a new base
    (which is exactly n_delete_rewrite, making compaction = COW
    applied lazily). The oracle states the logical result as the
    complement filter.

    Scale: the delete vector is keys-only (8 B/row); at 100 TB the
    anti-join broadcasts while deletes are sparse and degrades to a
    keyed shuffle join past the broadcast threshold — both fine
    because the base scan still prunes columns/partitions normally
    (the anti-join adds no scan width). The a_maintenance_compaction
    operator is the bin-packing twin that would fold sidecars in."""
    o = table(spark, sf_dir, "orders")
    base_path = scratch("orders_mor_base")
    del_path = scratch("orders_mor_deletes")
    o.write.mode("overwrite").parquet(base_path)
    condition = (F.col("o_orderpriority") == "5-LOW") & (
        F.col("o_orderdate") >= F.lit("1997-06-01 00:00:00").cast("timestamp")
    )
    o.filter(condition).select("o_orderkey").write.mode("overwrite").parquet(del_path)
    base = spark.read.schema(o.schema).parquet(base_path)
    dv = spark.read.parquet(del_path)
    return base.join(dv, "o_orderkey", "left_anti")


@query(
    "n_insert_overwrite_dynamic",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_orderpriority = '1-URGENT'
                THEN ROUND(o_totalprice * 0.95 * 100, 0) / 100 + 0
                ELSE o_totalprice END AS o_totalprice,
           o_orderpriority
    FROM orders
    """,
)
def n_insert_overwrite_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition overwrite (``partitionOverwriteMode=dynamic``)
    — the partition-level upsert every nightly batch pipeline runs:
    the incoming frame REPLACES exactly the partitions it contains
    rows for and leaves every other partition's files untouched. Here
    the base orders table lands partitioned by o_orderpriority, then a
    re-priced batch containing ONLY '1-URGENT' rows overwrites that
    one partition; the read-back must show 4 untouched partitions + 1
    replaced one, which is what the CASE oracle states.

    Contrast with STATIC overwrite (the default), which would have
    dropped ALL partitions first and left only the urgent rows — the
    classic destructive-overwrite footgun the dynamic mode exists to
    fix. The option is set per-WRITER (not session-wide), so the
    driver's plain session semantics are untouched.

    Scale: overwrite granularity = partition directories; the commit
    touches |incoming partitions| directories regardless of table
    size — this plus a_sink_parquet_partitioned is the ingest commit
    path at 100 TB (lakehouse formats refine it to file-level)."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority",
    )
    path = scratch("orders_dyn_overwrite")
    o.write.partitionBy("o_orderpriority").parquet(path)
    urgent_repriced = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        dround(F.col("o_totalprice") * 0.95, 2).alias("o_totalprice"),
        "o_orderpriority",
    )
    (
        urgent_repriced.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_orderpriority")
        .parquet(path)
    )
    return spark.read.schema(
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderpriority string"
    ).parquet(path)


@query(
    "n_wap_publish",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    """,
)
def n_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-Audit-Publish: every batch lands in an UNPUBLISHED staging
    directory, a data-quality audit runs against the STAGED files (null
    keys, negative totals, emptiness), and only batches that pass are
    atomically published by appending their directory to a manifest —
    the lakehouse ingestion gate (Iceberg WAP / Delta CDF audit flows)
    that keeps bad batches invisible to readers forever.

    Two batches here: the urgent+high orders (clean → audited →
    published) and a copy with every 7th order key NULLed (audit
    counts 'null key' violations → REJECTED, never published). The
    read-back goes through the manifest, so the result equals batch 1
    exactly — which is what the oracle states over the source table.
    The audit counts are bounded 1-row collects (the gate decision is
    a driver-side commit-protocol step, like the WriterCommitMessage
    handling in a_sink_python_datasource).

    Scale: staging writes are ordinary distributed sinks; the audit is
    a pushed-down aggregate over the staged files only (not the
    table); publish is an O(1) manifest append per batch. Readers list
    the manifest, never the staging root, so partial/aborted/rejected
    batches cost nothing to skip.
    """
    import json
    import os

    base = scratch("wap_publish")
    os.makedirs(base, exist_ok=True)
    manifest = os.path.join(base, "_manifest.json")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority",
    )
    published: list[str] = []

    def stage_audit_publish(batch_df, name: str) -> None:
        stage_dir = os.path.join(base, "_staging", name)
        batch_df.write.mode("overwrite").parquet(stage_dir)
        staged = spark.read.parquet(stage_dir)
        # audit runs on the staged FILES (what readers would see)
        bad = staged.filter(
            F.col("o_orderkey").isNull() | (F.col("o_totalprice") < 0)
        ).count()
        total = staged.count()
        if bad == 0 and total > 0:
            published.append(stage_dir)

    clean = o.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
    stage_audit_publish(clean, "batch1_clean")
    poisoned = clean.withColumn(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None)).otherwise(
            F.col("o_orderkey")
        ),
    )
    stage_audit_publish(poisoned, "batch2_poisoned")
    with open(manifest, "w") as fh:
        json.dump({"published": published}, fh)
    with open(manifest) as fh:  # readers resolve through the manifest
        dirs = json.load(fh)["published"]
    assert dirs == [os.path.join(base, "_staging", "batch1_clean")]
    return (
        spark.read.parquet(*dirs)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    )


@query(
    "n_delete_cascade",
    oracle="""
    WITH del_cust AS (
        SELECT c_custkey FROM customer
        WHERE substring(md5(CAST(c_custkey AS VARCHAR)), 1, 1) = '0'
    ), del_ord AS (
        SELECT o_orderkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM del_cust)
    ), del_li AS (
        SELECT COUNT(*) AS n FROM lineitem
        WHERE l_orderkey IN (SELECT o_orderkey FROM del_ord)
    ), c AS (SELECT COUNT(*) AS n FROM customer),
    o AS (SELECT COUNT(*) AS n FROM orders),
    l AS (SELECT COUNT(*) AS n FROM lineitem),
    dc AS (SELECT COUNT(*) AS n FROM del_cust),
    do_ AS (SELECT COUNT(*) AS n FROM del_ord)
    SELECT 'customer' AS entity,
           CAST(c.n AS BIGINT) AS n_before,
           CAST(dc.n AS BIGINT) AS n_deleted,
           CAST(c.n - dc.n AS BIGINT) AS n_after,
           CAST(0 AS BIGINT) AS n_orphans
    FROM c, dc
    UNION ALL
    SELECT 'lineitem', CAST(l.n AS BIGINT), CAST(del_li.n AS BIGINT),
           CAST(l.n - del_li.n AS BIGINT), CAST(0 AS BIGINT)
    FROM l, del_li
    UNION ALL
    SELECT 'orders', CAST(o.n AS BIGINT), CAST(do_.n AS BIGINT),
           CAST(o.n - do_.n AS BIGINT), CAST(0 AS BIGINT)
    FROM o, do_
    ORDER BY entity
    """,
)
def n_delete_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT-TO-BE-FORGOTTEN CASCADE — delete a deterministic batch of
    customers (first md5 hex nibble of the key = '0', ~1/16 — the
    stand-in for a GDPR/CCPA deletion-request batch) and CASCADE
    through the foreign-key chain: their orders, then those orders'
    lineitems. All three new snapshots are WRITTEN copy-on-write and
    READ BACK (the tier-N commit contract), and the result is the
    audit table every deletion pipeline must produce: per entity,
    rows before / deleted / after, plus an ORPHAN count recomputed
    from the read-back snapshots (orders' without a surviving
    customer, lineitems' without a surviving order) — the referential-
    integrity proof, asserted zero in the oracle and COMPUTED, not
    assumed, on the Spark side.

    Determinism: the deletion batch is a pure md5 function of the key;
    everything else is exact counting.

    Scale: the cascade is two key-partitioned LEFT SEMI/ANTI joins
    (custkey, then orderkey) — the deleted-key sets are small
    fractions so AQE broadcasts them at runtime, but nothing is pinned
    broadcast (a mass-deletion batch can be corpus-sized; rule 14a);
    rewrites are full copy-on-write here — a lakehouse table would
    prune untouched files and rewrite only matching ones, same
    dataflow; the orphan audit is two more anti-joins over the new
    snapshots. Orphans are read back from DISK, so the audit would
    catch a lost file, not just a wrong plan.

    Perf note: stress ratios for this op are not plan signals — the
    Spark side physically writes and re-reads three snapshots (~7M
    rows at x100, 3.3 s) while the count-only oracle never writes; the
    honest number is the absolute write+audit wall time, which scales
    with rewritten bytes (lakehouse file pruning is the production
    lever, as for every tier-N op)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    del_cust = c.filter(
        F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 1) == "0"
    ).select("c_custkey")
    del_ord = o.join(
        del_cust, o.o_custkey == del_cust.c_custkey, "left_semi"
    ).select("o_orderkey")
    c2 = c.join(del_cust, "c_custkey", "left_anti")
    o2 = o.join(del_cust, o.o_custkey == del_cust.c_custkey, "left_anti")
    li2 = li.join(del_ord, li.l_orderkey == del_ord.o_orderkey, "left_anti")
    paths = {}
    for name, df in (("customer", c2), ("orders", o2), ("lineitem", li2)):
        p = scratch(f"cascade_{name}")
        df.write.mode("overwrite").parquet(p)
        paths[name] = (p, df.schema)
    c2r = spark.read.schema(paths["customer"][1]).parquet(paths["customer"][0])
    o2r = spark.read.schema(paths["orders"][1]).parquet(paths["orders"][0])
    li2r = spark.read.schema(paths["lineitem"][1]).parquet(paths["lineitem"][0])

    def counts(name, before_df, after_df, orphan_df):
        return (
            before_df.agg(F.count(F.lit(1)).alias("n_before"))
            .crossJoin(after_df.agg(F.count(F.lit(1)).alias("n_after")))
            .crossJoin(orphan_df.agg(F.count(F.lit(1)).alias("n_orphans")))
            .select(
                F.lit(name).alias("entity"),
                "n_before",
                (F.col("n_before") - F.col("n_after")).alias("n_deleted"),
                "n_after",
                "n_orphans",
            )
        )

    orphan_orders = o2r.join(
        c2r.select("c_custkey"), o2r.o_custkey == F.col("c_custkey"), "left_anti"
    )
    orphan_li = li2r.join(
        o2r.select("o_orderkey"),
        li2r.l_orderkey == F.col("o_orderkey"),
        "left_anti",
    )
    empty_orphans = c2r.limit(0)
    return (
        counts("customer", c, c2r, empty_orphans)
        .unionByName(counts("orders", o, o2r, orphan_orders))
        .unionByName(counts("lineitem", li, li2r, orphan_li))
        .orderBy("entity")
    )
