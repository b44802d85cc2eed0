"""Tier J — streaming over `events` (SURVEY.md §2 tier J).

Two-sided strategy (SURVEY §5.2/§5.3): each aggregation has a batch
form and an INCREMENTAL ``*_stream`` twin that runs on the Structured
Streaming engine, and both hash-match the same DuckDB oracle —
streaming a finite input to completion must equal the batch answer.
The streaming-only behaviors (watermark late-drop and finalization,
within-watermark dedup, keyed state and timeouts, state-store reads)
run as real multi-batch streams too; ``j_watermark_late_drop`` is
rows-only by nature.

Every finite stream in the engine, here and in the other tiers, runs
through one harness, ``FiniteStream``: it pins the state partitions,
the no-data micro-batch switch and the checkpoint file manager, owns
the source and checkpoint directories, starts a memory or
``foreachBatch`` sink, lands the input waves atomically one drain at a
time, and always stops the query, drops the sink and cleans up.

Scale notes: windowed aggregation in Structured Streaming shuffles on
(window, key) exactly like the batch form; state per window-key lives in
the executor-local state store (RocksDB on a real cluster) and the
watermark bounds state size — without it, 100 TB of stream history
accumulates forever.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sqlengine_spark.functions import dround
from sqlengine_spark.registry import query
from sqlengine_spark.session import table

#: Full events schema as staged for the streaming file source (ts
#: already converted ns -> µs by session.table()).
EVENTS_STREAM_SCHEMA = (
    "event_id long, ts timestamp, user_id long, "
    "event_type string, value double, props string"
)

#: One staged copy of events per (process, sf_dir), removed at process
#: exit — fixes the per-engine-instance tempdir leak (round-2 advice:
#: engine.py staged a fresh copy per SQLEngine and never removed it).
_EVENTS_STAGE: dict[str, str] = {}


class FiniteStream:
    """The one harness that drives a finite Structured Streaming query
    to completion. Every finite stream in the engine and its tests runs
    through it, so the policy lives here once::

        with FiniteStream(spark) as fs:
            stream = spark.readStream.schema(...).parquet(fs.src)...
            out = fs.run(stream, "append", waves=(first, second))

    Entering pins ``spark.sql.shuffle.partitions`` (see below) and
    creates the source directory ``src`` (for wave-fed streams) and the
    checkpoint directory ``ckpt``. ``run`` starts the query on a
    uniquely named memory sink, or on ``foreach_batch``, then either
    feeds ``waves`` in order, draining after each one, or drains what is
    already there (``availableNow``: awaits the self-terminating run).
    It returns the memory sink's own frame, or None for
    ``foreachBatch``. ``run`` stops the query once it has drained.
    Leaving always stops it, drops the sink view, restores the three
    settings below, set or unset, and removes ``src`` and ``ckpt``;
    ``ckpt`` stays readable inside the block (j_statestore_audit reads
    its state).

    The returned frame is analyzed against the sink itself, not the
    view, so it still collects after the block; it holds the sink's
    rows in the driver until the caller drops it. Copying them into a
    new frame (collect + createDataFrame) cost j_session_30m_stream
    0.29-0.39 s per call at sf0.01, and its pickled-row relation made
    the caller's toPandas() 0.22-0.34 s instead of 0.05 s.

    The partition pin (rule 11b): stateful streaming operators
    materialize one state-store partition per shuffle partition PER
    MICRO-BATCH, each with its own commit, so the pin is
    ``min(8, task slots)`` (``defaultParallelism``): one task wave per
    stateful stage. On a cluster that is executors x cores. Measured on
    j_session_30m_stream at sf0.01, 4 slots, per call (wall / process
    CPU): 8 partitions, two waves, 1.08 s / 2.88 s with 0.75-0.89 s of
    summed state commits for 150 keys; 4 partitions 0.80-0.85 s /
    1.97 s. One partition was faster still here (0.74-0.77 s), but it
    runs every stateful stage on one core whatever the keys. The cap:
    paired interleaved at sf0.1 on j_tumbling_1h_stream on a 32-slot
    host, 32 partitions 1.353 s -> 8 partitions 0.886 s median. It is
    sizing, not semantics.

    ``no_data_batches`` sets ``noDataMicroBatches`` for one run. Streams
    whose final rows come from the no-data batch that moves the
    watermark (the append-mode watermark streams) need the default.
    A stream whose own sentinel waves advance the watermark does not:
    j_stream_session_timeout passes False (23-24 s -> 13.5-14.3 s warm
    at sf0.01 with 8 partitions, same result hash). Per-stream choices belong here, not
    at the call sites.

    The checkpoint manager pin (rule 11b): inside the block
    ``spark.sql.streaming.checkpointFileManagerClass`` names Spark's
    ``FileSystemBasedCheckpointFileManager``. The default for ``file:``
    paths renames through Hadoop's ``FileContext``, which resolves
    symlinks; without the native Hadoop library that forks ``readlink``
    8 times per atomically written file (temp and final name, data file
    and ``.crc``, twice each): the offset, commit and source logs, the
    state schema, the operator metadata, and the RocksDB zips and their
    checksum sidecars. That was 112 forks per perfbench ``lake_stream``
    pass, all from j_session_30m_stream's 14 such files. The FileSystem
    manager still writes a temp file and renames it after checking
    that the target does not exist, and Hadoop's ``.crc`` files and
    the checksum sidecars stay. That is enough here, and only here:
    ``ckpt`` is a fresh local ``mkdtemp`` directory with one writer,
    and a local ``rename(2)`` is atomic. It is a runtime SQL conf, so
    the state store's uploads pick it up through the Hadoop conf, and
    a caller's own stream (on HDFS, say) keeps its setting outside the
    block. Measured per warm call at sf0.01 on 4 slots, default manager
    -> this one (wall / process-tree CPU, two processes a side run in
    alternation): j_session_30m_stream 0.43-0.54 s / 1.05-1.76 s ->
    0.32-0.39 s / 0.81-1.22 s, j_stream_stream_left 2.73-2.96 s /
    6.8-8.0 s -> 1.92-2.23 s / 4.6-6.0 s (summed state commits 4.2-4.7 s
    -> 2.1-2.3 s), j_tumbling_1h_stream 0.40-0.46 s / 0.94-1.25 s ->
    0.31-0.36 s / 0.84-0.97 s, with the same result hashes.
    ``fs.file.impl`` stays as it is: ``RawLocalFileSystem`` there would
    skip the ``.crc`` files and their forks, but it fails RocksDB state
    commits (``CANNOT_WRITE_STATE_STORE.CANNOT_COMMIT``) and drops the
    ``.crc`` checks.
    """

    _PARTS = "spark.sql.shuffle.partitions"
    _NO_DATA = "spark.sql.streaming.noDataMicroBatches.enabled"
    _CKPT_MGR = "spark.sql.streaming.checkpointFileManagerClass"
    _FS_CKPT_MGR = (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._query = None
        self._sink = None

    def __enter__(self) -> FiniteStream:
        self._base = tempfile.mkdtemp(prefix="sqlengine_stream_")
        self.src = os.path.join(self._base, "src")
        self.ckpt = os.path.join(self._base, "ckpt")
        os.makedirs(self.src)
        conf = self.spark.conf
        pinned = (self._PARTS, self._NO_DATA, self._CKPT_MGR)
        self._prev = {k: conf.get(k, None) for k in pinned}
        slots = self.spark.sparkContext.defaultParallelism
        conf.set(self._PARTS, str(min(8, slots)))
        conf.set(self._CKPT_MGR, self._FS_CKPT_MGR)
        return self

    def run(
        self,
        stream: DataFrame,
        output_mode: str = "append",
        *,
        waves=(),
        foreach_batch=None,
        available_now: bool = False,
        no_data_batches: bool = True,
    ) -> DataFrame | None:
        self.spark.conf.set(self._NO_DATA, str(no_data_batches).lower())
        writer = stream.writeStream.outputMode(output_mode).option(
            "checkpointLocation", self.ckpt
        )
        if foreach_batch is None:
            self._sink = f"stream_sink_{uuid.uuid4().hex}"
            writer = writer.format("memory").queryName(self._sink)
        else:
            writer = writer.foreachBatch(foreach_batch)
        if available_now:
            writer = writer.trigger(availableNow=True)
        self._query = writer.start()
        for i, wave in enumerate(waves):
            self._feed(i, wave)
            self._query.processAllAvailable()
        if available_now:
            self._query.awaitTermination()  # stops itself after the planned batches
        elif not waves:
            self._query.processAllAvailable()
        # the sink and the checkpoint stay readable after the stop
        self._query.stop()
        if self._sink is None:
            return None
        return self.spark.table(self._sink)

    def _feed(self, i: int, wave) -> None:
        """Land wave ``i`` (a DataFrame, or a directory of parquet files
        staged once and reused) in ``src``. It is written under a
        ``.``-prefixed name, which the file source never lists, and each
        part file is then ``os.replace``d into view: the file source
        requires files to be placed in the watched directory atomically."""
        hidden = os.path.join(self.src, f".wave{i}")
        if isinstance(wave, str):
            shutil.copytree(wave, hidden)
        else:
            wave.coalesce(1).write.parquet(hidden)
        for f in os.listdir(hidden):
            if f.endswith(".parquet"):
                os.replace(
                    os.path.join(hidden, f), os.path.join(self.src, f"wave{i}_{f}")
                )

    def __exit__(self, *exc) -> None:
        try:
            if self._query is not None:
                self._query.stop()
            if self._sink is not None:
                self.spark.catalog.dropTempView(self._sink)
        finally:
            for k, v in self._prev.items():
                if v is None:
                    self.spark.conf.unset(k)
                else:
                    self.spark.conf.set(k, v)
            shutil.rmtree(self._base, ignore_errors=True)


def stage_events(spark: SparkSession, sf_dir: str, n_files: int = 4) -> str:
    """Stage the events table as a plain-timestamp parquet directory for
    the Structured Streaming file source (the raw table is
    TIMESTAMP(NANOS), which the file source can't read directly).

    ``n_files`` controls micro-batch granularity under
    ``maxFilesPerTrigger=1``. Staging is memoized per sf_dir and cleaned
    up atexit. On a real deployment the source is a Kafka/landing
    directory and this staging disappears; every downstream plan is
    identical.
    """
    path = _EVENTS_STAGE.get(sf_dir)
    if path is None or not os.path.isdir(path):
        path = tempfile.mkdtemp(prefix="sqlengine_events_stage_")
        table(spark, sf_dir, "events").coalesce(n_files).write.mode(
            "overwrite"
        ).parquet(path)
        _EVENTS_STAGE[sf_dir] = path
        atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


@query(
    "j_tumbling_1h",
    oracle="""
    SELECT date_trunc('hour', ts) AS h, event_type,
           COUNT(*) AS cnt,
           ROUND(SUM(value) * 100, 0) / 100 AS sum_value
    FROM events GROUP BY h, event_type
    """,
)
def j_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event type. Spark hour windows are
    epoch-aligned, so window.start ≡ date_trunc('hour'). The identical
    expression runs over readStream in the harness and must produce the
    same final table (asserted in tests/test_streaming.py)."""
    # One spark.sql statement (round 5): shaves Py4J plan-build latency
    # (paired interleaved at sf0.1: 0.232 → 0.211 s median); the
    # streaming harness keeps the structurally identical expression.
    from sqlengine_spark.session import load_tables

    load_tables(spark, sf_dir, ("events",))
    return spark.sql(
        """
        SELECT w.start AS h, event_type, cnt, sum_value FROM (
            SELECT window(ts, '1 hour') AS w, event_type,
                   COUNT(*) AS cnt,
                   ROUND(SUM(value) * 100) / 100 + 0.0 AS sum_value
            FROM events GROUP BY window(ts, '1 hour'), event_type)
        """
    )


@query(
    "j_sliding_1h_15m",
    oracle="""
    SELECT w_start, COUNT(*) AS cnt FROM (
        SELECT time_bucket(INTERVAL 15 MINUTES, ts)
               - k.k * INTERVAL 15 MINUTES AS w_start
        FROM events, (SELECT unnest(generate_series(0, 3)) AS k) k
    ) GROUP BY w_start
    """,
)
def j_sliding_1h_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 1 h length, 15 min slide — each event lands in 4
    overlapping windows. The oracle reconstructs the same windows with
    time_bucket + 4 offsets."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("w_start"), "cnt")
    )


@query(
    "j_session_30m",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         < INTERVAL 30 MINUTES
                    THEN 0 ELSE 1 END AS new_s
        FROM events
    ),
    islands AS (
        SELECT user_id, ts,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS island
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS s_start,
           MAX(ts) + INTERVAL 30 MINUTES AS s_end,
           COUNT(*) AS n_events
    FROM islands GROUP BY user_id, island
    """,
)
def j_session_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap.
    Semantics pin (both engines): an event exactly 30 min after the
    previous one starts a NEW session (Spark's session end is exclusive
    last_ts + gap); session end = last event + gap. The oracle is the
    classic gaps-and-islands rewrite."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("s_start"),
            F.col("w.end").alias("s_end"),
            "n_events",
        )
    )


@query(
    "j_stream_dedup",
    oracle="SELECT DISTINCT event_id FROM events",
)
def j_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-id elimination: the batch final set (streaming
    ``dropDuplicates`` within a watermark produces the same set for a
    finite input — asserted with injected duplicate chunks in the
    harness). Only the key is projected: which duplicate row survives
    is engine-dependent, the surviving key set is not."""
    ev = table(spark, sf_dir, "events")
    return ev.select("event_id").dropDuplicates(["event_id"])


@query(
    "j_tumbling_1h_stream",
    oracle="""
    SELECT date_trunc('hour', ts) AS h, event_type,
           COUNT(*) AS cnt,
           ROUND(SUM(value) * 100, 0) / 100 AS sum_value
    FROM events GROUP BY h, event_type
    """,
)
def j_tumbling_1h_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL form of j_tumbling_1h: the same windowed aggregation
    executed by the Structured Streaming engine — file source over the
    staged events (one file per micro-batch), complete-mode memory sink,
    final table returned. The driver's hash-match against the identical
    batch SQL oracle verifies the streaming engine's final state, not a
    batch stand-in.

    Scale: state = one (window, event_type) counter pair per group in
    the state store; in production a watermark (as in
    j_watermark_late_drop) bounds it to the lateness horizon. The
    shuffle is keyed (window, event_type) exactly like the batch plan.
    """
    src = stage_events(spark, sf_dir)
    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"), dround(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("h"), "event_type", "cnt", "sum_value")
    )
    with FiniteStream(spark) as fs:
        return fs.run(stream, "complete")


@query(
    "j_stream_dedup_stream",
    oracle="SELECT DISTINCT event_id FROM events",
)
def j_stream_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL form of j_stream_dedup: streaming ``dropDuplicates``
    across micro-batches (append-mode memory sink) — the state store
    carries the seen-key set between batches, so duplicates spanning
    micro-batch boundaries are eliminated, which is exactly what the
    batch DISTINCT oracle checks.

    Scale: unbounded dedup state grows with distinct keys; production
    pairs this with ``withWatermark`` + event-time keys so state ages
    out (demonstrated in j_watermark_late_drop). Finite input here, so
    the final set is well-defined without one.
    """
    src = stage_events(spark, sf_dir)
    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .select("event_id")
        .dropDuplicates(["event_id"])
    )
    with FiniteStream(spark) as fs:
        return fs.run(stream, "append")


@query("j_watermark_late_drop")  # rows-only: streaming-behavioral by nature
def j_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL incremental streaming with watermark-based late-row
    dropping, executed as two ordered micro-batches through the file
    source:

    - batch 1: the first half of events (by time);
    - batch 2: the second half PLUS one injected copy of the earliest
      event — by then far older than the watermark (max ts - 10 min),
      so the engine must drop it;
    - append-mode windowed counts: only windows closed by the final
      watermark emit, and the late row is not counted (asserted in
      tests/test_streaming.py against the no-late batch answer).

    State scale: watermark eviction bounds the state store to the
    windows inside the lateness horizon — the difference between O(1)
    and O(stream length) state at 100 TB/day ingest.
    """
    ev = table(spark, sf_dir, "events").select("ts", "event_type")
    cut = ev.agg(
        F.percentile_approx(F.unix_timestamp("ts"), 0.5).alias("c")
    ).collect()[0]["c"]
    first = ev.filter(F.unix_timestamp("ts") <= cut)
    late = ev.orderBy("ts").limit(1)
    second = ev.filter(F.unix_timestamp("ts") > cut).unionByName(late)

    with FiniteStream(spark) as fs:
        stream = (
            spark.readStream.schema("ts timestamp, event_type string")
            .option("maxFilesPerTrigger", "1")
            .parquet(fs.src)
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("cnt"))
            .select(F.col("w.start").alias("h"), "cnt")
        )
        return fs.run(stream, "append", waves=(first, second))


@query(
    "j_stateful_running",
    oracle="SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id",
)
def j_stateful_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final state of the keyed running-count operator. The incremental
    form maintains one counter per user in the state store and emits
    updates each micro-batch (applyInPandasWithState in the harness,
    tests/test_streaming.py::test_stateful_running_counts); its final
    emission must equal this batch aggregate — which is what the oracle
    checks."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(F.count("*").alias("n_events"))


@query(
    "j_stream_join_static",
    oracle="""
    SELECT event_id, event_type, c_name, c_mktsegment
    FROM events JOIN customer ON user_id = c_custkey
    """,
)
def j_stream_join_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: events joined to the customer
    dimension. In streaming this is a broadcast of the static side into
    every micro-batch (no state, no shuffle of the stream); the final
    output equals the batch join (harness-asserted)."""
    ev = table(spark, sf_dir, "events")
    c = table(spark, sf_dir, "customer")
    return ev.join(F.broadcast(c), ev.user_id == c.c_custkey).select(
        "event_id", "event_type", "c_name", "c_mktsegment"
    )


@query(
    "j_stream_stream_join",
    oracle="""
    SELECT a.event_id AS click_id, b.event_id AS purchase_id,
           a.user_id AS user_id
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'purchase'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
    """,
)
def j_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM inner join, executed by the streaming engine: click
    events joined to purchase events of the same user within the
    following hour — both sides are unbounded streams, so the engine
    buffers each side's rows in the state store and emits matches as
    the other side arrives, across micro-batch boundaries. The final
    emitted set must equal the batch interval join, which is what the
    oracle checks.

    Watermark note: intentionally NONE here — the staged files are not
    time-ordered, and a watermark would let the engine evict state and
    DROP cross-file matches (correct streaming behavior, wrong oracle).
    Production bounds state with withWatermark on BOTH sides + this
    same time-range predicate, which lets the engine age out rows older
    than watermark - 1 h; the join plan is otherwise identical.
    """
    src = stage_events(spark, sf_dir)
    clicks = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .parquet(src)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("interval 1 hour")),
    ).select("click_id", "purchase_id", F.col("c_user").alias("user_id"))
    with FiniteStream(spark) as fs:
        return fs.run(joined, "append")


@query(
    "j_stateful_stream",
    oracle="SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id",
)
def j_stateful_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM KEYED STATE executed by the streaming engine:
    applyInPandasWithState maintains one counter per user in the state
    store and emits the running total every micro-batch (update mode);
    the latest emission per key — counts are monotone, so max() — must
    equal the batch GROUP BY, which the oracle hash-checks. This is the
    arbitrary-stateful-operator escape hatch the built-in windowed aggs
    don't cover (custom timeouts, session logic, per-key models).

    Scale: state is one tuple per user in the executor-local store
    (RocksDB provider on the engine session); Arrow batches move each
    key group to Python once per micro-batch. GroupStateTimeout handles
    eviction in production for keys that go quiet."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def count_events(key, pdf_iter, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    src = stage_events(spark, sf_dir)
    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .groupBy("user_id")
        .applyInPandasWithState(
            count_events,
            outputStructType="user_id long, n_events long",
            stateStructType="n long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    with FiniteStream(spark) as fs:
        updates = fs.run(stream, "update")
    # update-mode memory sink appends every emission; latest state per
    # key = max because the running count is monotone
    return updates.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


@query(
    "j_session_30m_stream",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         < INTERVAL 30 MINUTES
                    THEN 0 ELSE 1 END AS new_s
        FROM events
    ),
    islands AS (
        SELECT user_id, ts,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS island
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS s_start,
           MAX(ts) + INTERVAL 30 MINUTES AS s_end,
           COUNT(*) AS n_events
    FROM islands GROUP BY user_id, island
    """,
)
def j_session_30m_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL form of j_session_30m: session windows computed BY THE
    STREAMING ENGINE — the state store merges/extends open sessions as
    micro-batches arrive, including sessions spanning micro-batch
    boundaries (the case the batch form can't exercise). Complete-mode
    memory sink; the final table must hash-match the same
    gaps-and-islands batch oracle as j_session_30m.

    Scale: streaming session_window state is one open-session record
    per (user, session) in the state store, merged on arrival; a
    watermark (j_watermark_late_drop) would bound retention in an
    unbounded deployment. Shuffle is keyed on user_id — identical to
    the batch plan.
    """
    src = stage_events(spark, sf_dir)
    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("s_start"),
            F.col("w.end").alias("s_end"),
            "n_events",
        )
    )
    with FiniteStream(spark) as fs:
        return fs.run(stream, "complete")


@query(
    "j_sliding_1h_15m_stream",
    oracle="""
    SELECT w_start, COUNT(*) AS cnt FROM (
        SELECT time_bucket(INTERVAL 15 MINUTES, ts)
               - k.k * INTERVAL 15 MINUTES AS w_start
        FROM events, (SELECT unnest(generate_series(0, 3)) AS k) k
    ) GROUP BY w_start
    """,
)
def j_sliding_1h_15m_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL form of j_sliding_1h_15m: overlapping 1h/15min
    windows maintained by the streaming engine across micro-batches
    (each event updates 4 window states), complete-mode memory sink,
    final table hash-matched to the same batch oracle.

    Scale: state = one counter per open window (4x tumbling's count);
    watermarks bound retention exactly as in the tumbling case.
    """
    src = stage_events(spark, sf_dir)
    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("w_start"), "cnt")
    )
    with FiniteStream(spark) as fs:
        return fs.run(stream, "complete")


@query(
    "j_stream_join_static_stream",
    oracle="""
    SELECT event_id, event_type, c_name, c_mktsegment
    FROM events JOIN customer ON user_id = c_custkey
    """,
)
def j_stream_join_static_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL form of j_stream_join_static: the enrichment join
    executed BY the streaming engine — file-source micro-batches of
    events, static customer dimension joined into every batch,
    append-mode memory sink. Stateless (no stream-side buffering): each
    micro-batch broadcasts the dim and emits immediately, so the final
    emitted set must equal the batch join, which the oracle verifies.

    Scale: the dim re-broadcasts per micro-batch (cached after the
    first); the stream side never shuffles. This is the standard
    streaming feature-enrichment topology — dimension updates between
    batches are picked up automatically because the static plan is
    re-bound each trigger."""
    src = stage_events(spark, sf_dir)
    c = table(spark, sf_dir, "customer")
    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .join(F.broadcast(c), F.col("user_id") == F.col("c_custkey"))
        .select("event_id", "event_type", "c_name", "c_mktsegment")
    )
    with FiniteStream(spark) as fs:
        return fs.run(stream, "append")


@query(
    "j_foreach_batch_upsert",
    oracle="""
    SELECT user_id,
           CAST(MAX(event_id) AS BIGINT) AS last_event_id,
           arg_max(value, event_id) AS last_value
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def j_foreach_batch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE (foreachBatch upsert): the events stream drains
    micro-batch by micro-batch into a per-user latest-state snapshot —
    each batch reduces to one row per user seen, then MERGEs into the
    running snapshot keeping the newer event (conditional update via
    dml.merge_into), exactly the lakehouse CDC-upsert loop
    (foreachBatch + MERGE) run by every streaming materialized view.
    The final snapshot must equal the batch GROUP BY — the oracle
    hash-checks the whole multi-batch merge chain. event_id is the
    recency key (the fixture stream is ts-ascending, FIXTURES.md), so
    ties are impossible and the result is deterministic.

    Scale: per-batch state motion is |users in batch| rows; the merge
    is one key-shuffled outer join against the snapshot. In production
    the snapshot is a lakehouse table (Delta/Iceberg MERGE) and the
    per-batch write rewrites only matched files; the parquet
    version-swap here is the same commit protocol at demo scale.
    """
    from sqlengine_spark.dml import merge_into

    src_dir = stage_events(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="sqlengine_upsert_snap_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    state: dict[str, str | None] = {"path": None}

    def upsert(batch_df, batch_id: int) -> None:
        src = batch_df.groupBy("user_id").agg(
            F.max("event_id").alias("last_event_id"),
            F.max_by("value", "event_id").alias("last_value"),
        )
        if state["path"] is None:
            new = src
        else:
            tgt = spark.read.parquet(state["path"])
            newer = F.col("src_last_event_id") > F.col("last_event_id")
            new = merge_into(
                tgt,
                src,
                "user_id",
                update_cols={
                    "last_event_id": F.when(
                        newer, F.col("src_last_event_id")
                    ).otherwise(F.col("last_event_id")),
                    "last_value": F.when(
                        newer, F.col("src_last_value")
                    ).otherwise(F.col("last_value")),
                },
            )
        out = os.path.join(base, f"v{batch_id}")
        new.write.mode("overwrite").parquet(out)
        state["path"] = out

    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
        .select("user_id", "event_id", "value")
    )
    with FiniteStream(spark) as fs:
        fs.run(stream, foreach_batch=upsert)
    snap = spark.read.parquet(state["path"])
    return snap.select(
        "user_id",
        F.col("last_event_id").cast("bigint").alias("last_event_id"),
        "last_value",
    ).orderBy("user_id")


@query(
    "j_tumbling_append_watermark",
    oracle="""
    SELECT date_trunc('hour', ts) + INTERVAL 1 HOUR AS w_end,
           event_type, COUNT(*) AS cnt
    FROM events
    WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
          <= (SELECT MAX(ts) FROM events) - INTERVAL 13 MINUTES
    GROUP BY w_end, event_type
    """,
)
def j_tumbling_append_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode windowed aggregation under a watermark — the mode
    that only emits a window once it can never change again: a window
    (end, type) row leaves the state store exactly when the watermark
    (max event time − 13 min) passes its end. The streaming engine's
    emitted set must therefore equal the batch aggregation restricted
    to finalized windows — which is what the SQL oracle states, making
    watermark-driven FINALIZATION itself the hash-checked semantics
    (j_watermark_late_drop covers the drop side; this covers emission).

    Scale: append mode is what downstream sinks (files, Kafka,
    lakehouse appends) require — each window row is written exactly
    once, state is bounded by the lateness horizon, and the final
    no-data micro-batch flushes everything the watermark has passed.

    Determinism note: the staged part files are NOT time-ordered and
    FileStreamSource picks them by modification time, so per-file
    triggering would let an unlucky file order advance the watermark
    past still-unread early data and drop it (flaky vs the oracle).
    All files therefore ingest in ONE micro-batch — the watermark only
    advances AFTER a batch, so nothing can be dropped and the
    finalization no-data batch emits exactly the windows the oracle
    states, in any file order. The multi-batch late-DROP path is
    j_watermark_late_drop's job, which stages its own explicitly
    time-ordered chunks for that reason.
    """
    src = stage_events(spark, sf_dir)
    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .parquet(src)
        .withWatermark("ts", "13 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.end").alias("w_end"), "event_type", "cnt")
    )
    with FiniteStream(spark) as fs:
        return fs.run(stream, "append")


@query(
    "j_tumbling_available_now",
    oracle="""
    SELECT date_trunc('hour', ts) AS h, event_type,
           COUNT(*) AS cnt,
           ROUND(SUM(value) * 100, 0) / 100 AS sum_value
    FROM events GROUP BY h, event_type
    """,
)
def j_tumbling_available_now(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hourly aggregation executed under ``Trigger.AvailableNow`` —
    the INCREMENTAL-BATCH operating mode between the always-on stream
    (j_tumbling_1h_stream) and the pure batch query (j_tumbling_1h):
    the engine plans bounded micro-batches over everything currently
    landed (still rate-limited by maxFilesPerTrigger, still
    checkpointed and exactly-once) and then terminates, which is how
    production pipelines run streaming jobs on a schedule instead of
    holding a cluster 24/7. Final state hash-matches the same batch
    oracle as both siblings.

    Scale: identical state/shuffle shape to j_tumbling_1h_stream; the
    trigger only changes scheduling — each scheduled run resumes from
    the checkpoint and processes the delta since the last run."""
    src = stage_events(spark, sf_dir)
    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"), dround(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("h"), "event_type", "cnt", "sum_value")
    )
    with FiniteStream(spark) as fs:
        return fs.run(stream, "complete", available_now=True)


@query(
    "j_dedup_within_watermark",
    oracle="SELECT DISTINCT event_id, event_type FROM events",
)
def j_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` (Spark 3.5+/4) — the
    BOUNDED-STATE streaming dedup: unlike plain streaming
    dropDuplicates (j_stream_dedup_stream, whose seen-key state grows
    with distinct keys forever), the within-watermark form keeps each
    key's state only until the watermark passes its event time + the
    lateness horizon — at 100 TB/day ingest that is the difference
    between O(distinct keys ever) and O(keys per horizon) state.

    Executed as a REAL incremental stream, two ordered micro-batches:

    - batch 1: the full events table (every id's first copy);
    - batch 2: an exact duplicate of the LAST HOUR of events — their
      event times sit INSIDE the 2-hour horizon of the batch-1
      watermark (max ts − 2 h), so their keyed state is still alive
      and the engine must swallow them as duplicates (not drop them
      as late rows — that path is j_watermark_late_drop's).

    Append-mode output across both batches must therefore equal the
    batch DISTINCT oracle: one row per distinct (event_id, event_type)
    pair — the dedup keys on both columns so the equality holds even if
    a future testdata drop duplicates ids across types (round-5
    advice). Deterministic because
    batch order is explicit (files staged sequentially, one per
    trigger) and every duplicate is within-horizon by construction."""
    ev = table(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    hi = ev.agg(F.max("ts").alias("m")).collect()[0]["m"]
    dup_tail = ev.filter(
        F.col("ts") >= F.lit(hi) - F.expr("INTERVAL 1 HOUR")
    )

    with FiniteStream(spark) as fs:
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, event_type string"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(fs.src)
            .withWatermark("ts", "2 hours")
            # Key on BOTH output columns so the append output equals the
            # DISTINCT (event_id, event_type) oracle for ANY data — not
            # just data where event_id is a unique key (round-5 advice:
            # testdata can drift; id-only keying would emit one
            # nondeterministic row per duplicated id).
            .dropDuplicatesWithinWatermark(["event_id", "event_type"])
            .select("event_id", "event_type")
        )
        return fs.run(stream, "append", waves=(ev, dup_tail))


@query(
    "j_statestore_audit",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(trunc(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events GROUP BY event_type
    """,
)
def j_statestore_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATE STORE READER (Spark 4 ``statestore`` batch format): run a
    checkpointed streaming aggregation to completion, then open its
    state store AS A TABLE and audit the raw operator state — the
    introspection surface for debugging stuck streaming jobs, verifying
    state migrations, and reconciling a stream's internal state against
    the source of truth without touching the running query. The audit
    here IS the verification: the per-key state rows (key struct +
    value struct, unpacked to scalars) must hash-equal the batch GROUP
    BY over the same data — a streaming-state-vs-batch-semantics
    equality the sink-level _stream ops can't see (they check emitted
    OUTPUT; this checks the STATE behind it).

    The summed metric is integer cents (cast-truncate per row), so the
    cross-batch accumulation order cannot move the hash (CLAUDE.md
    rule 11e). Shuffle/state partitions pin to the harness knob
    (rule 11b, min(8, task slots)) — which, at two or more slots, also
    exercises that the reader sees EVERY state partition, not just
    partition 0.

    Scale: the state-store scan is one InputPartition per state
    partition (parallel like any file source); state size is |keys|,
    never |stream|. Reading at a specific batchId/operator is an
    option flag — the same reader audits any point in the checkpoint's
    retained history.
    """
    src = stage_events(spark, sf_dir)
    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", "2")
        .parquet(src)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.expr("CAST(value * 100 AS BIGINT)")).alias("total_cents"),
        )
    )
    with FiniteStream(spark) as fs:
        fs.run(stream, "complete")
        state = (
            spark.read.format("statestore")
            .load(fs.ckpt)
            .select(
                F.col("key.event_type").alias("event_type"),
                # state value fields carry the PHYSICAL agg names
                # (count/sum), not the query aliases
                F.col("value.count").alias("n"),
                F.col("value.sum").alias("total_cents"),
            )
        )
        rows = state.collect()  # bounded: one row per distinct key
    return spark.createDataFrame(rows, schema=state.schema)


@query(
    "j_stream_stream_left",
    oracle="""
    WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
    p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    wm AS (
        SELECT least((SELECT MAX(ts) FROM c), (SELECT MAX(ts) FROM p))
               - INTERVAL 10 MINUTE AS w
    )
    SELECT c.event_id AS click_id, c.user_id AS user_id,
           p.event_id AS purchase_id
    FROM c JOIN p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    UNION ALL
    SELECT c.event_id, c.user_id, NULL
    FROM c, wm
    WHERE c.ts + INTERVAL 1 HOUR < wm.w
      AND NOT EXISTS (
        SELECT 1 FROM p
        WHERE p.user_id = c.user_id
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR)
    """,
)
def j_stream_stream_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM LEFT OUTER join with WATERMARK FINALIZATION — the
    semantically hardest streaming join: matched rows emit as both
    sides arrive (across micro-batch boundaries), but a click with NO
    purchase in its hour can only emit null-padded once the engine
    PROVES no match can still arrive — when the watermark passes the
    end of the click's join window and its buffered state expires.
    Both sides carry 10-minute watermarks plus the interval condition,
    so state is evicted batch-by-batch, and the eviction itself
    produces the outer rows.

    The oracle states the FINALIZATION CONTRACT itself (the
    j_tumbling_append_watermark philosophy): all matched pairs, UNION
    the unmatched clicks whose window end lies strictly below the
    final global watermark = least(max click ts, max purchase ts) -
    10 min. Clicks newer than that are still buffered when the finite
    feed ends — exactly what a real always-on stream would hold — and
    the engine's eviction predicate (strict <, pinned empirically at
    both SFs) is hash-verified against the declarative restatement.
    The feed arrives as two time-ordered micro-batches (split at the
    median ts), so cross-batch matching AND mid-stream eviction both
    execute; no row is ever late (watermark only advances between
    batches).

    Scale: join state is bounded by the lateness horizon + the 1 h
    join window (rows age out every batch) — the difference between
    O(horizon) and O(stream) buffering; both sides shuffle on user_id
    exactly like the batch plan. Unbounded-state variant = the
    no-watermark inner sibling j_stream_stream_join.
    """
    ev = table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    cut = ev.agg(
        F.percentile_approx(F.unix_timestamp("ts"), 0.5).alias("c")
    ).collect()[0]["c"]  # bounded: 1 scalar
    first = ev.filter(F.unix_timestamp("ts") <= cut)
    second = ev.filter(F.unix_timestamp("ts") > cut)

    with FiniteStream(spark) as fs:
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, event_type string"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(fs.src)
        )
        clicks = (
            stream.filter(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                F.col("ts").alias("click_ts"),
                F.col("user_id").alias("c_user"),
            )
            .withWatermark("click_ts", "10 minutes")
        )
        purchases = (
            stream.filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("purchase_ts"),
                F.col("user_id").alias("p_user"),
            )
            .withWatermark("purchase_ts", "10 minutes")
        )
        joined = clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("interval 1 hour")
            ),
            "leftOuter",
        ).select(
            "click_id", F.col("c_user").alias("user_id"), "purchase_id"
        )
        return fs.run(joined, "append", waves=(first, second))


@query(
    "j_stream_quality_gate",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN value BETWEEN 0 AND 400
                          AND event_type <> 'error'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           ROUND(CAST(SUM(CASE WHEN value BETWEEN 0 AND 400
                                AND event_type <> 'error'
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) * 1e6) / 1e6 + 0 AS pass_rate
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def j_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING DATA-QUALITY GATE — the ingestion-time admission
    dashboard every streaming training-data pipeline runs in front of
    its sink: a declarative gate predicate (value in [0, 400] and not
    an error event — the stand-in for schema/range/blocklist checks)
    evaluated INSIDE the Structured Streaming engine, with running
    per-type totals, admitted counts, and pass rate in complete-mode
    state. Executed as a REAL incremental stream (file source over the
    staged events, one file per micro-batch, memory sink) and
    hash-verified against the identical batch SQL — the j_tumbling_1h_
    stream convention, so the driver checks the streaming engine's
    final state, not a batch stand-in.

    Determinism: the gate is a pure row predicate; counts are exact;
    one division per type, dround 1e-6 (the conditional-agg form
    keeps pass AND fail in ONE pass — no second stream, no join).

    Scale: state = two counters per event_type (domain-bounded);
    shuffle keyed event_type like the batch plan; the gate predicate
    evaluates map-side before the shuffle so rejected rows still
    count but never carry payload. Partition pin per the rule-11b
    state-store lesson (inside FiniteStream)."""
    src = stage_events(spark, sf_dir)
    passed = (
        F.col("value").between(0, 400) & (F.col("event_type") != "error")
    )
    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(passed, 1).otherwise(0)).alias("n_pass"),
        )
    )
    with FiniteStream(spark) as fs:
        out = fs.run(stream, "complete")
    return out.select(
        "event_type",
        "n_total",
        "n_pass",
        dround(
            F.col("n_pass").cast("double") / F.col("n_total").cast("double"),
            6,
        ).alias("pass_rate"),
    ).orderBy("event_type")


#: Time-sliced wave staging for session-timeout streaming (one dir of
#: wave files per (process, sf_dir), removed at process exit like
#: _EVENTS_STAGE).
_EVENTS_WAVES: dict[str, list] = {}


def stage_event_timeslices(
    spark: SparkSession, sf_dir: str, waves: int = 4
) -> list:
    """Stage events as ``waves`` TIME-SLICED parquet files plus two
    far-future sentinel files, returned as an ordered list of wave
    dirs that FiniteStream lands in the source one drain at a time.

    Time-slicing (ntile over ts) makes micro-batch order = event-time
    order, so per-user state transitions are deterministic regardless
    of how the file source packs batches — the property the
    session-TIMEOUT pattern needs (a timeout is only meaningful if
    "no later event arrived" is true in stream order). The two
    sentinel rows (user_id -1, +30/+60 days) advance the event-time
    watermark past every real session's timeout so ALL trailing
    sessions flush deterministically: the first sentinel's batch
    commits a watermark beyond every last_ts + gap, the second
    sentinel's batch is the one that *processes* those expirations
    (timeouts fire in the batch AFTER the watermark advances).
    The ntile global sort is HARNESS staging, not plan — a production
    deployment reads an already-time-ordered Kafka/landing source and
    this helper disappears."""
    hit = _EVENTS_WAVES.get(sf_dir)
    if hit is not None and all(os.path.isdir(d) for d in hit):
        return hit
    from pyspark.sql import Window

    base = tempfile.mkdtemp(prefix="sqlengine_events_waves_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    ev = table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    sliced = ev.select(
        "*", F.ntile(waves).over(Window.orderBy("ts")).alias("w")
    )
    dirs = []
    for i in range(1, waves + 1):
        d = os.path.join(base, f"wave{i}")
        sliced.filter(F.col("w") == i).drop("w").coalesce(1).write.parquet(d)
        dirs.append(d)
    mx = ev.agg(F.max("ts")).collect()[0][0]
    import datetime as _dt

    for j, off_days in ((waves + 1, 30), (waves + 2, 60)):
        d = os.path.join(base, f"wave{j}")
        spark.createDataFrame(
            [(-1, mx + _dt.timedelta(days=off_days), -1, "sentinel", 0.0, "")],
            schema=EVENTS_STREAM_SCHEMA,
        ).coalesce(1).write.parquet(d)
        dirs.append(d)
    _EVENTS_WAVES[sf_dir] = dirs
    return dirs


@query(
    "j_stream_session_timeout",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         < INTERVAL 30 MINUTES
                    THEN 0 ELSE 1 END AS new_s
        FROM events
    ),
    islands AS (
        SELECT user_id, ts,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS island
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS s_start,
           MAX(ts) AS s_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM islands GROUP BY user_id, island
    """,
)
def j_stream_session_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION-TIMEOUT VIA STATE TIMERS — the canonical custom-stateful
    streaming pattern (r12 verdict item 7's named surface): per-user
    session state that EMITS when the user goes quiet, executed by the
    real streaming engine. Sessions closed by a later in-band event
    emit from ``handleInputRows``-equivalent logic; the TRAILING
    session of every user emits from the engine's TIMEOUT callback
    (``GroupState.hasTimedOut``) when the event-time watermark passes
    ``last_event + 30min`` — the "no later event arrived" signal no
    batch rewrite can express incrementally. The driver hash-checks
    the full emitted session set against batch islands sessionization,
    so the streaming engine's state machine — including every
    timer-fired flush — must reproduce the batch answer exactly.

    API note: implemented with ``applyInPandasWithState`` +
    ``GroupStateTimeout.EventTimeTimeout`` — event-time state timeouts
    ARE the timer mechanism of that API. Spark 4's successor
    (``transformWithStateInPandas`` with explicit ``registerTimer``)
    was probed and is unrunnable in this container: its Python↔JVM
    state protocol imports ``google.protobuf``
    (pyspark/sql/streaming/proto/StateMessage_pb2.py), which is not
    installed, and installs are not permitted. Same state machine,
    same timer semantics, one extra state-var indirection.

    Determinism: waves are time-sliced (see stage_event_timeslices) so
    state transitions don't depend on file-source batch packing;
    timestamps carried as exact epoch micros through state (the ms
    truncation was measured to hash-mismatch on this corpus's µs
    data); if a timeout and a same-user later event race into one
    batch the in-band gap check closes the session first and the
    timeout re-arms — the two paths provably agree because watermark
    ≤ all later-wave timestamps.

    Scale: state is ONE (start, last, n) tuple per ACTIVE user in the
    executor-local store (RocksDB in the engine profile), evicted on
    timeout — O(active users), not O(stream); this is exactly the
    watermark-bounded-state argument of SURVEY §3.3. Arrow moves each
    key group to Python once per micro-batch. Shuffle pin per rule
    11b. Output is append-mode (each session exactly once)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = 30 * 60 * 1_000_000

    def session_fn(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield pd.DataFrame(
                [(key[0], start, last, n)],
                columns=["user_id", "s_start", "s_end", "n_events"],
            )
            return
        pdf = pd.concat(list(pdf_iter)).sort_values("ts")
        # Arrow hands ts as datetime64[ns]; keep exact micros
        ts_us = (pdf["ts"].astype("int64") // 1000).tolist()
        start = last = n = None
        if state.exists:
            start, last, n = state.get
        out = []
        for t in ts_us:
            if start is None:
                start, last, n = t, t, 1
            elif t - last >= gap_us:
                out.append((key[0], start, last, n))
                start, last, n = t, t, 1
            else:
                last = max(last, t)
                n += 1
        state.update((start, last, n))
        # timeout API takes epoch millis and must exceed the watermark:
        # +1 ms guards the truncation edge
        state.setTimeoutTimestamp((last + gap_us) // 1000 + 1)
        if out:
            yield pd.DataFrame(
                out, columns=["user_id", "s_start", "s_end", "n_events"]
            )

    wave_dirs = stage_event_timeslices(spark, sf_dir)
    with FiniteStream(spark) as fs:
        stream = (
            spark.readStream.schema(EVENTS_STREAM_SCHEMA)
            .parquet(fs.src)
            .withWatermark("ts", "0 seconds")
            .groupBy("user_id")
            .applyInPandasWithState(
                session_fn,
                outputStructType=(
                    "user_id long, s_start long, s_end long, n_events long"
                ),
                stateStructType="start long, last long, n long",
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout,
            )
        )
        # the sentinel waves move the watermark and fire the timeouts in
        # data batches, so the no-data batches would only add commits
        out = fs.run(stream, "append", waves=wave_dirs, no_data_batches=False)
    # the sentinel user's sessions are staging, not output
    return out.filter(F.col("user_id") >= 0).select(
        "user_id",
        F.timestamp_micros(F.col("s_start")).alias("s_start"),
        F.timestamp_micros(F.col("s_end")).alias("s_end"),
        "n_events",
    )
