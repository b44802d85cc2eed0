"""SparkSession bootstrap and table catalog (SURVEY.md §1.3, §3).

Design for scale: the session defaults below are the local-mode test
profile (one task slot and one shuffle partition per core this process
may run on); on a real cluster only ``master`` and memory sizing change.
AQE stays on everywhere — it is the runtime answer to skew and
partition-count tuning at 100 TB (SURVEY §4).

Every file an operator writes lives under ``SCRATCH``, through one of
two helpers. ``staged()`` builds an input the operator derives from
the tables once, keyed by Spark application, name and full ``sf_dir``,
and removes it at process exit; the directory name carries the
application, so processes that share ``SCRATCH`` never touch each
other's builds. ``scratch()`` hands out a fixed-name store that each
call empties, so a frame read from it stays valid until the next call
of the same operator. Its names are fixed, so two processes that run
operators at the same time need their own ``SPARK_GRAFT_SCRATCH``.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import weakref
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

#: The ten tables the driver pre-registers as DuckDB views
#: (__spark_entry__.py:33-35); same names used for Spark temp views.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Scratch root for every file an operator writes, default ``.scratch``
# beside the package. On a real cluster this must be a DFS path every
# executor can reach (s3://... / hdfs://...), never a driver-local dir:
# override via SPARK_GRAFT_SCRATCH.
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRATCH = os.environ.get("SPARK_GRAFT_SCRATCH", os.path.join(_ROOT, ".scratch"))


def scratch(name: str) -> str:
    """An emptied sink path ``name`` under ``SCRATCH``. The name is
    fixed per operator, so each call empties what the previous call
    wrote: a frame read from it stays valid until the next call of the
    same operator, and a long-lived session holds one copy, not one
    per call."""
    path = os.path.join(SCRATCH, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(SCRATCH, exist_ok=True)
    return path


#: (Spark application id, name, resolved sf_dir) -> staged directory.
_STAGED: dict[tuple[str, str, str], str] = {}


def staged(
    spark: SparkSession, sf_dir: str, name: str, build: Callable[[str], None]
) -> str:
    """The directory ``build`` fills with an input derived from
    ``sf_dir``, built once per (Spark application, ``name``, resolved
    ``sf_dir``) and rebuilt if it has gone. It sits under ``SCRATCH``,
    named after ``name`` and a hash of the application id and the full
    ``sf_dir``: two data dirs that share a basename never serve each
    other's files, a catalog table named after the directory is unique
    the same way, and a second process on the same ``SCRATCH`` never
    rebuilds or removes the first one's directory. ``build(path)`` gets
    an empty, existing ``path``. Every directory built here is removed
    at process exit."""
    app = spark.sparkContext.applicationId
    real = os.path.realpath(sf_dir)
    key = (app, name, real)
    digest = hashlib.sha1(f"{app}\0{real}".encode()).hexdigest()[:10]
    path = os.path.join(SCRATCH, f"{name}_{digest}")
    if key not in _STAGED or not os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        build(path)
        _STAGED[key] = path
    return path


@atexit.register
def _remove_staged() -> None:
    for path in set(_STAGED.values()):
        shutil.rmtree(path, ignore_errors=True)


def get_spark(app_name: str = "sqlengine_spark") -> SparkSession:
    """Build (or reuse) the session with the engine's standard config.

    Scale notes: shuffle.partitions matches local core count here
    (``SPARK_GRAFT_CPUS``, else the cores this process may run on); on a
    cluster it should be ~2-3x total cores, and AQE coalescing corrects
    overshoot at runtime either way. UTC session timezone pins timestamp
    semantics to match the DuckDB oracle.

    ``spark.sql.codegen.cache.maxEntries`` is a STATIC conf, read once
    per JVM when Spark first generates code, so it cannot be set at
    read time in ``table()``. The grading driver's plain session and
    Tier-1's ``plain_session()`` keep Spark's default of 100.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # minPartitionSize stays at Spark's 1 MiB default. An 8 MiB
        # override was tried mid-round-4 (single-task coalescing of
        # tiny shuffles to cut AQE stage rounds) but interleaved A/B
        # at sf0.1 showed it LOSES 10-20% on the expand-based
        # multi-distinct, tf-idf, and centroid pipelines — those
        # shuffles carry 10-30 MiB and want the parallelism. The
        # one-off win it was adopted on (c_join_3way 0.81->0.62) did
        # not reproduce under paired measurement; host noise.
        # Local split sizing (round 6, measured): the default 128 MiB
        # maxPartitionBytes PACKS small parquet files (~4 MiB openCost
        # each) into a handful of input splits — at sf0.1 the 32-file
        # lineitem collapses to ~2-11 splits, idling most of local[32],
        # and at the 10x/100x scale-up it cost 29% on Q1 (BASELINE.md
        # round-6 note). 8 MiB keeps splits ~1 file so scan parallelism
        # ≥ cores at every local SF (paired at sf0.1: q1 0.436->0.396,
        # 3way 0.618->0.574, others flat). On a real cluster KEEP the
        # 128 MiB default — splits align to block size there and the
        # file count, not the split packer, provides parallelism.
        .config("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # Generated-class cache (measured on 4 vCPU at sf0.01): Spark
        # keeps at most 100 compiled whole-stage classes, in a segmented
        # LRU that evicts before it holds 100. The engine's working sets
        # are larger: the olap perfbench set compiles 138 classes,
        # lake_stream 80, bench.py's 32 rows about 635. At 100, each
        # olap pass recompiled 68-121 of them, lake_stream 7-17 and
        # bench.py's timed pass 692-697: a Janino compile each, plus
        # fresh classes for the C2 JIT, whose threads then never settle
        # (3-9 of 8-14 JVM CPU-s per olap pass). 2000 is ~3x bench.py's
        # set, with room for AQE plan variants and a long-lived
        # SQLEngine session. Olap then recompiled 0-9 per pass (AQE
        # variants of m_funnel_windowed's former chain-join plan),
        # lake_stream 0, bench.py 23-34, and metaspace at the end of
        # bench.py grows by ~5 MB.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # events.ts is TIMESTAMP(NANOS) in parquet, which Spark 4 rejects
        # outright; read it as a nanos long and convert in table().
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Structured Streaming state store: RocksDB scales state off-heap
        # and is the provider you'd run on a cluster (SURVEY §3.3).
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def require_heap(spark: SparkSession, min_gib: float, context: str) -> None:
    """Refuse to run a corpus-scale harness in an under-sized JVM.

    ``spark.driver.memory`` only takes effect at JVM launch — if a
    session already exists, ``getOrCreate()`` silently reuses it with
    whatever heap it was born with. A round-12 closing sf0.1 sweep
    inherited a plain-1g session that way, died at l_graph_triangles'
    known GC cliff (CLAUDE.md pin 13d), and poisoned the JVM for every
    query after it (r12 verdict "what's wrong" item 3). bench.py and
    driver_sim's stress mode (SPARK_GRAFT_SIM_SF beyond the driver's
    sf0.01) call this and die EARLY with an actionable message instead
    of mid-sweep."""
    max_bytes = int(spark._jvm.java.lang.Runtime.getRuntime().maxMemory())
    got_gib = max_bytes / (1 << 30)
    if got_gib < min_gib:
        raise SystemExit(
            f"{context}: JVM max heap is {got_gib:.1f} GiB < required "
            f"{min_gib:.1f} GiB — an inherited under-sized SparkSession "
            "(heap is fixed at JVM launch; getOrCreate() reuses whatever "
            "exists). Stop the existing session / run in a fresh process "
            "(optionally SPARK_GRAFT_DRIVER_MEM=8g) and retry."
        )


#: Per-session DataFrame cache: (sf_dir, name) -> DataFrame. Keyed
#: weakly on the SparkSession so a stopped/garbage-collected session
#: never serves stale plans. DataFrames are immutable logical plans, so
#: reuse is always safe; the win is skipping the repeated parquet
#: footer read + file listing (~0.1 s/table of fixed driver-side cost
#: per query — the dominant term at toy SF, and wasted work at any SF).
_TABLE_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table. Parquet footer provides the schema (SURVEY §1.3).

    The grading driver passes its OWN plain SparkSession, so builder-time
    configs in get_spark() are not guaranteed; every session-sensitive
    semantic a query depends on must be pinned here, at read time, via
    runtime SQL confs (round-1 failure class):

    - ``spark.sql.session.timeZone=UTC`` — unix_timestamp, epoch RANGE
      frames, string->timestamp casts, date_trunc/hourly windows all
      evaluate in the session timezone; the DuckDB oracles are naive/UTC.
      A driver host on a non-UTC JVM default would silently shift every
      timestamp-derived value without this pin.
    - ``spark.sql.legacy.parquet.nanosAsLong`` — an events.ts written as
      TIMESTAMP(NANOS) (round-1/2 testdata) is otherwise rejected
      outright by Spark 4.

    ``events.ts`` is normalised to a session-timezone TIMESTAMP whatever
    physical type the parquet carries — the generator has shipped BOTH
    nanos (rounds 1-2) and micros (round 3), so sniff the read dtype:

    - BIGINT (nanos via the legacy conf): integer ``DIV 1000`` then
      ``timestamp_micros`` — the same floor-truncation DuckDB applies
      reading ns into its µs TIMESTAMP (SURVEY §5.4 R3). Integer DIV,
      not float division: ns epoch ~1.7e18 exceeds double's 53-bit
      exact-integer range.
    - TIMESTAMP_NTZ (micros, isAdjustedToUTC=false): cast to TIMESTAMP
      (LTZ) — with the session timezone pinned UTC the wall-clock values
      are identical to what DuckDB's naive TIMESTAMP reads, and every
      downstream unix_timestamp / window / date_trunc keeps the exact
      semantics the nanos path had.
    - TIMESTAMP (LTZ): already the canonical form; leave untouched.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    cache = _TABLE_CACHE.setdefault(spark, {})
    key = (sf_dir, name)
    if key in cache:
        return cache[key]
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    cache[key] = df
    return df


#: Per-session memo of registered table views: name -> (sf_dir, df).
#: Weak-keyed on the SparkSession so a driver that cycles sessions
#: never sees a stale catalog.
_VIEW_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Register the given tables (default: all) as temp views so the SQL
    and DataFrame entry points share one catalog (SURVEY §3.1-3.2).
    Queries pass only the tables they touch, so an unreadable table can
    never take down unrelated queries (round-1 blast-radius lesson).

    Registration is memoized per (session, table, sf_dir) — round-5
    verdict item 4: re-reading the parquet footer and re-registering
    the view cost ~34 ms per 3-table SQL query in pure Py4J/driver
    round trips, a fixed tax on every sub-second anchor. A request for
    the same table at a DIFFERENT sf_dir re-registers (the driver runs
    sf0.001 smoke then sf0.01 checks in one session). No operator
    overwrites these canonical views (grep-audited), so a memo hit
    can never serve a stale frame."""
    cache = _VIEW_CACHE.setdefault(spark, {})
    out: dict[str, DataFrame] = {}
    for name in names:
        hit = cache.get(name)
        if hit is not None and hit[0] == sf_dir:
            out[name] = hit[1]
            continue
        df = table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        cache[name] = (sf_dir, df)
        out[name] = df
    return out


def scatter(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Small-input scatter guard (the round-7 l_bpe_encode lesson,
    promoted to a shared helper in round 12 after it turned five new
    text ops into crossovers): a single-row-group fixture file gives
    the scan ONE split, serializing every map-side fan-out (gram
    explode, md5 draw, shingle hash) on one core while a single-process
    engine uses all of them. Round-robin repartition ONLY when the scan
    has fewer partitions than the cluster's default parallelism — at
    corpus scale (thousands of splits) the guard is false and the plan
    is untouched, so this is a fixture-scale fairness fix, not a
    100 TB plan change. Measured r12: chrf 21 -> 1.9 s, bootstrap
    5.7 -> 1.1 s at x100."""
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df
