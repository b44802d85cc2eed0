"""Structured Streaming tests (SURVEY §5.3): feed `events` as ordered
micro-batches through the file source, via FiniteStream (the engine's
one finite-stream harness), and assert streaming-only behavior
— final-result equivalence to batch, duplicate dropping across batches,
watermark late-row dropping, and keyed running state.

Uses sf0.001 (1 000 events) so each test's stream completes in seconds.
"""

from __future__ import annotations

import os
import tempfile

import pandas as pd
from pyspark.sql import functions as F

from sqlengine_spark.operators.tier_j_streaming import FiniteStream
from sqlengine_spark.registry import all_queries
from sqlengine_spark.session import table
from tests.conftest import SF_DIR_SMALL, leaves_no_stream


def _split_by_time(ev, n=3):
    qs = [i / n for i in range(1, n)]
    cuts = ev.approxQuantile("ts_s", qs, 0.0)
    chunks, lo = [], None
    for hi in [*cuts, None]:
        c = ev
        if lo is not None:
            c = c.filter(F.col("ts_s") > lo)
        if hi is not None:
            c = c.filter(F.col("ts_s") <= hi)
        chunks.append(c.drop("ts_s"))
        lo = hi
    return chunks


def _wave_source(spark, fs):
    """The harness's watched directory, one wave file per micro-batch."""
    return (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(fs.src)
    )


def _events(spark):
    ev = table(spark, SF_DIR_SMALL, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    return ev.withColumn("ts_s", F.unix_timestamp("ts"))


def test_tumbling_stream_equals_batch(spark):
    """Streaming a finite input must converge to the batch answer."""
    ev = _events(spark)
    with FiniteStream(spark) as fs:
        stream = (
            _wave_source(spark, fs)
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("cnt"))
            .select(F.col("w.start").alias("h"), "event_type", "cnt")
        )
        out = fs.run(stream, "complete", waves=_split_by_time(ev))
    got = {(r["h"], r["event_type"]): r["cnt"] for r in out.collect()}
    want = {
        (r["h"], r["event_type"]): r["cnt"]
        for r in ev.drop("ts_s")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("h"), "event_type", "cnt")
        .collect()
    }
    assert got == want


def _set_conf(spark, settings):
    """Set each key to its value; None unsets it."""
    for k, v in settings.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_harness_sizes_partitions_and_restores(spark):
    """Inside the block the state partitions are min(8, task slots) and
    the checkpoint is committed through the FileSystem checkpoint
    manager; after it all three harness settings are back as they were,
    set or unset. The committed checkpoint holds the first offset and
    commit log entries and no leftover temp file. The sink frame
    ``run`` returned still collects, to the same rows twice, and the
    block leaves no stream or sink view behind."""
    parts = "spark.sql.shuffle.partitions"
    no_data = "spark.sql.streaming.noDataMicroBatches.enabled"
    mgr = "spark.sql.streaming.checkpointFileManagerClass"
    fs_mgr = (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )
    other_mgr = (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileContextBasedCheckpointFileManager"
    )
    slots = str(min(8, spark.sparkContext.defaultParallelism))
    ev = _events(spark).drop("ts_s")
    want = sorted(tuple(r) for r in ev.groupBy("event_type").count().collect())
    saved = {k: spark.conf.get(k, None) for k in (parts, no_data, mgr)}
    try:
        for before in (
            {parts: "13", no_data: "true", mgr: other_mgr},
            {parts: None, no_data: None, mgr: None},
        ):
            _set_conf(spark, before)
            with leaves_no_stream(spark), FiniteStream(spark) as fs:
                assert spark.conf.get(parts) == slots
                assert spark.conf.get(mgr) == fs_mgr
                stream = _wave_source(spark, fs).groupBy("event_type").count()
                out = fs.run(stream, "complete", waves=(ev,), no_data_batches=False)
                assert spark.conf.get(no_data) == "false"
                for log in ("offsets", "commits"):
                    assert os.path.isfile(os.path.join(fs.ckpt, log, "0"))
                left = [
                    f
                    for _, _, files in os.walk(fs.ckpt)
                    for f in files
                    if ".tmp" in f
                ]
                assert left == []
            assert {k: spark.conf.get(k, None) for k in before} == before
            assert sorted(tuple(r) for r in out.collect()) == want
            assert sorted(tuple(r) for r in out.collect()) == want
    finally:
        _set_conf(spark, saved)


def test_stream_dedup_drops_cross_batch_duplicates(spark):
    """dropDuplicates state persists across micro-batches: a second
    batch that replays earlier event_ids adds nothing."""
    ev = _events(spark).drop("ts_s")
    first = ev.filter(F.col("event_id") < 500)
    replay = ev.filter(F.col("event_id") < 250)  # pure duplicates
    rest = ev.filter(F.col("event_id") >= 500)
    with FiniteStream(spark) as fs:
        stream = (
            _wave_source(spark, fs)
            .select("event_id")
            .dropDuplicates(["event_id"])
        )
        out = fs.run(stream, "append", waves=[first, replay, rest])
    got = sorted(r["event_id"] for r in out.collect())
    want = sorted(r["event_id"] for r in ev.select("event_id").distinct().collect())
    assert got == want  # replayed ids contributed nothing


def test_watermark_drops_late_row(spark):
    """The rows-only queries() entry runs the real 2-batch stream with
    an injected late row; every emitted window count must equal the
    clean batch count — the late duplicate must NOT be counted."""
    with leaves_no_stream(spark):
        out = all_queries()["j_watermark_late_drop"](spark, SF_DIR_SMALL)
    got = {r["h"]: r["cnt"] for r in out.collect()}
    assert got, "stream emitted no closed windows"
    ev = table(spark, SF_DIR_SMALL, "events")
    clean = {
        r["h"]: r["cnt"]
        for r in ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("h"), "cnt")
        .collect()
    }
    # earliest window is where the late duplicate was injected
    first_h = min(got)
    assert got[first_h] == clean[first_h], "late row was counted"
    for h, cnt in got.items():
        assert cnt == clean[h], (h, cnt, clean[h])


def test_stateful_running_counts(spark):
    """Custom keyed state via applyInPandasWithState: per-user running
    counts emitted every micro-batch (update mode). Asserts per-batch
    monotonicity and final-state equality with the batch aggregate."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = _events(spark)

    def count_events(key, pdf_iter, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    per_batch, latest = [], {}

    def snapshot(batch_df, batch_id):
        latest.update({r["user_id"]: r["n_events"] for r in batch_df.collect()})
        per_batch.append(dict(latest))

    with FiniteStream(spark) as fs:
        stream = (
            _wave_source(spark, fs)
            .groupBy("user_id")
            .applyInPandasWithState(
                count_events,
                outputStructType="user_id long, n_events long",
                stateStructType="n long",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )
        fs.run(stream, "update", waves=_split_by_time(ev), foreach_batch=snapshot)
    # update mode emits only the users a batch touched: fold the
    # emissions into the latest state per user after every batch;
    # counts must be monotonic batch over batch
    finals = per_batch[-1]
    for earlier in per_batch[:-1]:
        for u, n in earlier.items():
            assert finals.get(u, 0) >= n
    want = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert finals == want


def test_stream_static_join_equals_batch(spark):
    ev = _events(spark)
    c = table(spark, SF_DIR_SMALL, "customer")
    with FiniteStream(spark) as fs:
        stream = (
            _wave_source(spark, fs)
            .join(F.broadcast(c), F.col("user_id") == F.col("c_custkey"))
            .select("event_id", "event_type", "c_name")
        )
        out = fs.run(stream, "append", waves=_split_by_time(ev))
    got = sorted(tuple(r) for r in out.collect())
    want = sorted(
        tuple(r)
        for r in ev.drop("ts_s")
        .join(c, F.col("user_id") == F.col("c_custkey"))
        .select("event_id", "event_type", "c_name")
        .collect()
    )
    assert got == want


def test_dedup_stream_index_is_append_only(spark):
    """Round-6 fix (round-5 verdict item 2): l_dedup_stream must write
    each micro-batch's survivors into its OWN batch subdirectory —
    per-batch written bytes ∝ |batch survivors|, never a rewrite of the
    accumulated corpus index. Verified structurally: exactly one
    subdir per micro-batch, the per-batch row counts partition the
    global distinct-hash count (so no batch re-wrote earlier batches'
    rows), and batch-0 files are still present and non-empty after
    batch 1 committed."""
    import glob

    before = set(glob.glob(tempfile.gettempdir() + "/sqlengine_dedup_stream_*"))
    result = all_queries()["l_dedup_stream"](spark, SF_DIR_SMALL)
    n_total = result.count()
    created = (
        set(glob.glob(tempfile.gettempdir() + "/sqlengine_dedup_stream_*"))
        - before
    )
    assert len(created) == 1, created
    base = created.pop()
    out_batches = sorted(os.listdir(os.path.join(base, "out")))
    idx_batches = sorted(os.listdir(os.path.join(base, "index")))
    assert out_batches == ["batch0", "batch1"], out_batches
    assert idx_batches == ["batch0", "batch1"], idx_batches
    n_by_batch = {
        b: spark.read.parquet(os.path.join(base, "out", b)).count()
        for b in out_batches
    }
    # distinct survivor sets partition the final answer: if any batch
    # had rewritten the accumulated set (the pre-round-6 shape), the
    # subdir sums would exceed the global distinct count
    assert n_by_batch["batch0"] > 0 and n_by_batch["batch1"] > 0
    assert sum(n_by_batch.values()) == n_total
    # index mirrors output batch-for-batch (16-byte hash only)
    for b in idx_batches:
        assert (
            spark.read.parquet(os.path.join(base, "index", b)).count()
            == n_by_batch[b]
        )
