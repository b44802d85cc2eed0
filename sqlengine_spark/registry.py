"""Central operator registry.

Every operator from SURVEY.md §2 registers here exactly once via the
``@query`` decorator: a callable ``(spark, sf_dir) -> DataFrame`` plus
(optionally) the DuckDB ANSI-SQL oracle string the driver hash-compares
against. ``__spark_entry__.py``, the pytest suite, and ``bench.py`` all
read from this single source of truth, so there is zero drift between
local tests and the driver contract.

Order. The grading driver hash-checks only the first 50 keys of
``queries()``, so the dict order decides which keys it checks. The
order is computed, never listed: the four fixture-family ``ANCHORS``
first; then every oracled key, oldest latest driver round first; then
the rows-only keys the same way. A key the driver has never checked
counts as round 0, and ties break on qid. The rounds come from the
``CORRECTNESS_r<N>.json`` records beside ``__spark_entry__.py``, so
when a new record lands the keys it checked move to the back of their
group and the window moves on to the oldest rows.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Container, Iterable, Mapping
from pathlib import Path
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[["SparkSession", str], "DataFrame"]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}

#: One canary per fixture family (parquet scan, lineitem aggregate,
#: events window, documents dedup), always the first keys the driver runs.
ANCHORS = ("a_scan_parquet", "d_agg_q1_pricing", "j_tumbling_1h", "l_dedup_exact")


def driver_rounds(root: Path) -> dict[str, int]:
    """Latest driver round per key, from the ``CORRECTNESS_r<N>.json``
    records in ``root`` (one JSON object per round, keyed by qid)."""
    latest: dict[str, int] = {}
    for p in root.glob("CORRECTNESS_r*.json"):
        rnd = int(p.stem.removeprefix("CORRECTNESS_r"))
        for k in json.loads(p.read_text()):
            latest[k] = max(latest.get(k, 0), rnd)
    return latest


def driver_order(keys: Iterable[str], oracled: Container[str],
                 rounds: Mapping[str, int]) -> list[str]:
    """The anchors, then every other key by (rows-only last, latest
    driver round with never-checked as 0, qid)."""
    keys = set(keys)
    rest = sorted(keys - set(ANCHORS),
                  key=lambda k: (k not in oracled, rounds.get(k, 0), k))
    return [k for k in ANCHORS if k in keys] + rest


#: Read once at import: the records ship next to ``__spark_entry__.py``.
DRIVER_ROUNDS = driver_rounds(Path(__file__).resolve().parent.parent)


def _in_driver_order(d: dict) -> dict:
    return {k: d[k] for k in driver_order(_QUERIES, _ORACLES, DRIVER_ROUNDS) if k in d}


def query(qid: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register an operator. ``oracle=None`` marks it rows-only."""

    def deco(fn: QueryFn) -> QueryFn:
        if qid in _QUERIES:
            raise ValueError(f"duplicate query id: {qid}")
        _QUERIES[qid] = fn
        if oracle is not None:
            _ORACLES[qid] = oracle
        return fn

    return deco


def _load_all() -> None:
    """Import every operator module so decorators run (idempotent)."""
    import sqlengine_spark.operators  # noqa: F401


def all_queries() -> dict[str, QueryFn]:
    _load_all()
    return _in_driver_order(_QUERIES)


def all_oracles() -> dict[str, str]:
    _load_all()
    return _in_driver_order(_ORACLES)


def get_query(qid: str) -> QueryFn:
    _load_all()
    return _QUERIES[qid]
