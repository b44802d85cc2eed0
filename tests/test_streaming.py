"""Structured Streaming harness (SURVEY §5.3): feed `events` as ordered
micro-batches through the file source and assert streaming-only behavior
— final-result equivalence to batch, duplicate dropping across batches,
watermark late-row dropping, and keyed running state.

Uses sf0.001 (1 000 events) so each test's stream completes in seconds.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sqlengine_spark.operators.tier_j_streaming import pinned_stream_partitions
from sqlengine_spark.registry import all_queries
from sqlengine_spark.session import table
from tests.conftest import SF_DIR_SMALL


@pytest.fixture()
def stream_dirs():
    base = tempfile.mkdtemp(prefix="sqlengine_stream_")
    src = os.path.join(base, "src")
    os.makedirs(src)
    yield base, src, os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)


@pytest.fixture()
def stream_partitions(spark):
    """Run a raw stateful stream at the operators' pin of 8 shuffle
    partitions instead of the plain session's 200: each micro-batch
    schedules one state-store task per partition, so at 200 these
    sf0.001 streams spent most of their time in empty tasks."""
    with pinned_stream_partitions(spark):
        yield


def _feed(base, src, query, chunks):
    """Write each chunk as one parquet file into the watched dir, in
    order, draining the stream between files (deterministic batch
    boundaries)."""
    for chunk in chunks:
        tag = uuid.uuid4().hex[:8]
        stage = os.path.join(base, f"stage_{tag}")
        chunk.coalesce(1).write.parquet(stage)
        for f in os.listdir(stage):
            if f.endswith(".parquet"):
                shutil.copy(
                    os.path.join(stage, f), os.path.join(src, f"chunk_{tag}.parquet")
                )
        query.processAllAvailable()


def _sink_name():
    return f"sink_{uuid.uuid4().hex[:12]}"


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


def _events(spark):
    ev = table(spark, SF_DIR_SMALL, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    return ev.withColumn("ts_s", F.unix_timestamp("ts"))


@pytest.mark.usefixtures("stream_partitions")
def test_tumbling_stream_equals_batch(spark, stream_dirs):
    """Streaming a finite input must converge to the batch answer."""
    base, src, ckpt = stream_dirs
    ev = _events(spark)
    sink = _sink_name()
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("h"), "event_type", "cnt")
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        _feed(base, src, q, _split_by_time(ev))
        got = {
            (r["h"], r["event_type"]): r["cnt"] for r in spark.table(sink).collect()
        }
    finally:
        q.stop()
    want = {
        (r["h"], r["event_type"]): r["cnt"]
        for r in ev.drop("ts_s")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("h"), "event_type", "cnt")
        .collect()
    }
    assert got == want


@pytest.mark.usefixtures("stream_partitions")
def test_stream_dedup_drops_cross_batch_duplicates(spark, stream_dirs):
    """dropDuplicates state persists across micro-batches: a second
    batch that replays earlier event_ids adds nothing."""
    base, src, ckpt = stream_dirs
    ev = _events(spark).drop("ts_s")
    first = ev.filter(F.col("event_id") < 500)
    replay = ev.filter(F.col("event_id") < 250)  # pure duplicates
    rest = ev.filter(F.col("event_id") >= 500)
    sink = _sink_name()
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .select("event_id")
        .dropDuplicates(["event_id"])
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        _feed(base, src, q, [first, replay, rest])
        got = sorted(r["event_id"] for r in spark.table(sink).collect())
    finally:
        q.stop()
    want = sorted(r["event_id"] for r in ev.select("event_id").distinct().collect())
    assert got == want  # replayed ids contributed nothing


def test_watermark_drops_late_row(spark):
    """The rows-only queries() entry runs the real 2-batch stream with
    an injected late row; every emitted window count must equal the
    clean batch count — the late duplicate must NOT be counted."""
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


@pytest.mark.usefixtures("stream_partitions")
def test_stateful_running_counts(spark, stream_dirs):
    """Custom keyed state via applyInPandasWithState: per-user running
    counts emitted every micro-batch (update mode). Asserts per-batch
    monotonicity and final-state equality with the batch aggregate."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    base, src, ckpt = stream_dirs
    ev = _events(spark)
    sink = _sink_name()

    def count_events(key, pdf_iter, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        )
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
    q = (
        stream.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .start()
    )
    per_batch = []
    try:
        for chunk in _split_by_time(ev):
            _feed(base, src, q, [chunk])
            per_batch.append(
                {r["user_id"]: r["n_events"] for r in spark.table(sink).collect()}
            )
    finally:
        q.stop()
    # memory sink in update mode appends each emission: take the max per
    # user = latest state; counts must be monotonic batch over batch
    finals = per_batch[-1]
    for earlier in per_batch[:-1]:
        for u, n in earlier.items():
            assert finals.get(u, 0) >= n
    want = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert finals == want


def test_stream_static_join_equals_batch(spark, stream_dirs):
    base, src, ckpt = stream_dirs
    ev = _events(spark)
    c = table(spark, SF_DIR_SMALL, "customer")
    sink = _sink_name()
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .join(F.broadcast(c), F.col("user_id") == F.col("c_custkey"))
        .select("event_id", "event_type", "c_name")
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        _feed(base, src, q, _split_by_time(ev))
        got = sorted(tuple(r) for r in spark.table(sink).collect())
    finally:
        q.stop()
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
