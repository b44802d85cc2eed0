"""Staged inputs belong to the data dir they were built from.

Operators that derive an input from the tables once (a snapshot chain,
asset files, bucketed catalog tables) stage it through
``session.staged``. Two data dirs can share a basename, and a session
that alternates between them must get each dir's own answer every time.
"""

from __future__ import annotations

import os
import shutil

import pytest

from tests.conftest import DOCS, SF_DIR, SF_DIR_SMALL, assert_matches_oracle

QIDS = ("n_time_travel", "a_scan_binaryfile", "c_join_bucketed_colocated")


@pytest.fixture(scope="module")
def twin_dirs(spark, tmp_path_factory):
    """``<tmp>/a/sfx`` and ``<tmp>/b/sfx``: the same basename, different
    rows in ``part``, ``orders``, ``lineitem`` and ``documents``."""
    root = tmp_path_factory.mktemp("twins")
    dirs = []
    for sub, src, word in (("a", SF_DIR_SMALL, "alpha"), ("b", SF_DIR, "beta")):
        d = os.path.join(root, sub, "sfx")
        os.makedirs(d)
        for t in ("part", "orders", "lineitem"):
            shutil.copy(f"{src}/{t}.parquet", f"{d}/{t}.parquet")
        rows = [(i, f"{word} {i} " * (i + 1), "en", word, 0) for i in range(20)]
        spark.createDataFrame(rows, DOCS).coalesce(1).write.parquet(
            f"{d}/documents.parquet"
        )
        dirs.append(d)
    return dirs


@pytest.mark.parametrize("qid", QIDS)
def test_same_basename_dirs_never_share_staging(spark, twin_dirs, qid):
    a, b = twin_dirs
    for d in (a, b, a):
        assert_matches_oracle(spark, qid, d)
