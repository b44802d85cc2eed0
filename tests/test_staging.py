"""Staged inputs belong to the data dir and the application they were
built for.

Operators that derive an input from the tables once (a snapshot chain,
asset files, bucketed catalog tables) stage it through
``session.staged``. Two data dirs can share a basename, and a session
that alternates between them must get each dir's own answer every time.
Two processes can share one ``SCRATCH``, and neither may rebuild or
remove the other's staged directories.
"""

from __future__ import annotations

import os
import shutil
from types import SimpleNamespace

import pytest

from sqlengine_spark import session
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


def _app(app_id: str):
    """A stand-in for a SparkSession of application ``app_id``: all
    ``staged`` reads from it."""
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_two_applications_never_share_a_staged_dir(monkeypatch, tmp_path):
    """Two processes on one ``SCRATCH`` stage the same name and data
    dir into different directories: the second build neither rebuilds
    nor removes the first, and each exit hook removes only its own.
    Each process is an application id plus its own ``_STAGED`` memo."""
    monkeypatch.setattr(session, "SCRATCH", str(tmp_path))
    memo = {"app-a": {}, "app-b": {}}
    built = []

    def stage(app_id):
        def build(path):
            built.append(app_id)
            with open(os.path.join(path, "owner"), "w") as fh:
                fh.write(app_id)

        monkeypatch.setattr(session, "_STAGED", memo[app_id])
        return session.staged(_app(app_id), SF_DIR_SMALL, "events_stage4", build)

    a = stage("app-a")
    b = stage("app-b")
    assert a != b and os.path.dirname(a) == os.path.dirname(b) == str(tmp_path)
    assert stage("app-a") == a  # still whole: nothing rebuilt
    assert built == ["app-a", "app-b"]
    for path, owner in ((a, "app-a"), (b, "app-b")):
        with open(os.path.join(path, "owner")) as fh:
            assert fh.read() == owner
    monkeypatch.setattr(session, "_STAGED", memo["app-b"])
    session._remove_staged()  # process b exits
    assert os.path.isdir(a) and not os.path.exists(b)
