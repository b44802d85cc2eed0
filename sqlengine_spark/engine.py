"""User-facing engine facade (SURVEY §3: the three entry points).

A user of the reference engine gets the same workflow here:

    from sqlengine_spark.engine import SQLEngine

    eng = SQLEngine(sf_dir="/data/warehouse")        # catalog bootstrap
    eng.sql("SELECT count(*) FROM lineitem").show()  # SQL entry point
    eng.table("orders").filter(...).groupBy(...)     # DataFrame entry point
    eng.stream_events()                              # streaming entry point
    eng.run("d_agg_q1_pricing")                      # library operator

The facade owns nothing clever: it binds a SparkSession + data
directory, registers the temp-view catalog once, and exposes the
registry. All planning/execution is Catalyst's (SURVEY §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sqlengine_spark.registry import all_oracles, all_queries
from sqlengine_spark.session import DEFAULT_SF_DIR, TABLES, get_spark, load_tables, table


class SQLEngine:
    def __init__(
        self,
        sf_dir: str = DEFAULT_SF_DIR,
        spark: SparkSession | None = None,
    ) -> None:
        self.spark = spark or get_spark()
        self.sf_dir = sf_dir
        self._catalog_loaded = False

    # -- catalog ----------------------------------------------------------
    def load_catalog(self) -> "SQLEngine":
        """Register every table as a temp view (idempotent)."""
        if not self._catalog_loaded:
            load_tables(self.spark, self.sf_dir, TABLES)
            self._catalog_loaded = True
        return self

    def table(self, name: str) -> DataFrame:
        """DataFrame entry point for one table."""
        return table(self.spark, self.sf_dir, name)

    # -- DDL --------------------------------------------------------------
    def create_table(
        self,
        name: str,
        source,
        *,
        bucket_by=None,
        n_buckets: int = 16,
        partition_by=None,
        sort_by=None,
        mode: str = "overwrite",
    ) -> DataFrame:
        """Engine-facing DDL: persist a DataFrame (or a named source
        table) as a managed parquet table in the session catalog — the
        ``CREATE TABLE ... [PARTITIONED BY] [CLUSTERED BY ... INTO n
        BUCKETS]`` surface.

        Scale: bucketing pays the shuffle ONCE at write time; every
        later equi-join or aggregation on the bucket key is
        exchange-free (asserted through this API in
        tests/test_engine.py::test_create_bucketed_table_colocated_join).
        Partitioning gives partition-pruned scans on the partition key.
        """
        df = source if isinstance(source, DataFrame) else self.table(source)
        w = df.write.mode(mode).format("parquet")
        if partition_by:
            cols = [partition_by] if isinstance(partition_by, str) else partition_by
            w = w.partitionBy(*cols)
        if bucket_by:
            cols = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
            w = w.bucketBy(n_buckets, *cols).sortBy(*(sort_by or cols))
        w.saveAsTable(name)
        return self.spark.table(name)

    def drop_table(self, name: str) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS {name}")

    # -- DML (copy-on-write rewrites, see dml.py) --------------------------
    def update(self, name: str, condition, updates) -> DataFrame:
        """UPDATE <name> SET <updates> WHERE <condition> — returns the
        next snapshot (map-only rewrite); caller persists via
        create_table/write."""
        from sqlengine_spark import dml

        return dml.update(self.table(name), condition, updates)

    def delete(self, name: str, condition) -> DataFrame:
        """DELETE FROM <name> WHERE <condition> — complement-filter
        rewrite, null-safe per SQL DELETE semantics."""
        from sqlengine_spark import dml

        return dml.delete(self.table(name), condition)

    def insert_into(self, name: str, rows: DataFrame) -> DataFrame:
        """INSERT INTO <name> SELECT ... — append-only snapshot: the
        cheapest DML verb (no rewrite of existing data; in a lakehouse
        format this is a pure file-add commit). Columns are matched by
        name so a reordered source can't silently corrupt the table."""
        return self.table(name).unionByName(rows)

    def merge_into(self, name: str, source: DataFrame, key: str, **kw) -> DataFrame:
        """MERGE INTO <name> USING source ON key — one co-shuffled
        full-outer join; see dml.merge_into for the matched/not-matched
        clauses."""
        from sqlengine_spark import dml

        return dml.merge_into(self.table(name), source, key, **kw)

    # -- SQL --------------------------------------------------------------
    def sql(self, query: str) -> DataFrame:
        """SQL entry point over the registered catalog."""
        self.load_catalog()
        return self.spark.sql(query)

    # -- streaming --------------------------------------------------------
    def stream_events(self, watermark: str | None = None) -> DataFrame:
        """Streaming entry point: the events table as an unbounded
        stream. The file source needs a directory of files with
        stream-compatible types, so the single nanos-timestamp parquet
        is staged once (ts converted to µs) into a scratch dir — on a
        real deployment the source is a Kafka/queue/landing directory
        and this staging disappears; the downstream plan is identical.
        """
        from sqlengine_spark.operators.tier_j_streaming import events_stream

        # staged once per (session, sf_dir) under SCRATCH: repeated
        # engine instances share one copy instead of leaking one each
        ev = events_stream(self.spark, self.sf_dir)
        return ev.withWatermark("ts", watermark) if watermark else ev

    # -- operator library -------------------------------------------------
    def operators(self) -> list[str]:
        return sorted(all_queries())

    def run(self, qid: str) -> DataFrame:
        """Run a library operator against this engine's data directory."""
        return all_queries()[qid](self.spark, self.sf_dir)

    def oracle(self, qid: str) -> str | None:
        """The ANSI-SQL equivalent of a library operator (None for
        rows-only operators)."""
        return all_oracles().get(qid)

    def explain(self, target) -> str:
        """Formatted physical plan for a library operator id or any
        DataFrame — the surface users audit for pushdown (PushedFilters/
        ReadSchema), join strategy (BroadcastHashJoin), and shuffle
        count (Exchange) before running at scale."""
        df = self.run(target) if isinstance(target, str) else target
        mode = self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        return df._jdf.queryExecution().explainString(mode)
