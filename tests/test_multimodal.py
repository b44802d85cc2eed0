"""Multimodal binary-column plumbing (sqlengine_spark/multimodal.py):
the decode is a deterministic stub, but schema, Arrow batch iteration,
partitioning, and UDF signatures are real and verified here.
"""

import pytest
from pyspark.sql import functions as F

from sqlengine_spark.multimodal import (
    FEATURE_DIM,
    documents_as_media,
    extract_features,
    sample_frames,
)
from sqlengine_spark.registry import all_queries
from sqlengine_spark.session import table
from tests.conftest import SF_DIR_SMALL


@pytest.fixture(scope="module")
def media(spark):
    return documents_as_media(table(spark, SF_DIR_SMALL, "documents"))


def test_media_schema(media):
    kinds = dict(media.dtypes)
    assert kinds["payload"] == "binary"
    assert kinds["meta"].startswith("struct<width:int,height:int")


def test_feature_extract_covers_all_rows_deterministically(spark, media):
    n = media.count()
    f1 = extract_features(media).orderBy("media_id").collect()
    f2 = extract_features(media.repartition(7)).orderBy("media_id").collect()
    assert len(f1) == n
    # same payload -> same features regardless of partitioning/batching
    assert [tuple(r) for r in f1] == [tuple(r) for r in f2]
    row = f1[0]
    assert row["n_bytes"] > 0
    assert all(0.0 <= row[f"f{i}"] < 1.0 for i in range(FEATURE_DIM))
    assert row["feat_norm"] == pytest.approx(
        sum(row[f"f{i}"] ** 2 for i in range(FEATURE_DIM)) ** 0.5
    )


def test_frame_sampling(spark, media):
    frames = sample_frames(media, frame_size=100)
    got = frames.filter(F.col("media_id") == 0).orderBy("frame_no").collect()
    src = media.filter(F.col("media_id") == 0).collect()[0]
    n_frames = -(-len(src["payload"]) // 100)  # ceil
    kept = [i for i in range(n_frames) if i % 2 == 0]
    assert [r["frame_no"] for r in got] == kept
    # every full frame is frame_size bytes; the tail frame is the remainder
    for r in got[:-1]:
        assert r["frame_bytes"] == 100


def test_decode_query_registered(spark):
    out = all_queries()["l_multimodal_decode"](spark, SF_DIR_SMALL).collect()
    assert len(out) == 1
    assert out[0]["kind"] == "image"
    assert out[0]["n_media"] == 100 or out[0]["n_media"] > 0
