#!/usr/bin/env python
"""Simulate the grading driver against __spark_entry__.py (the product
surface): t1 smoke at sf0.001, then t2 oracle compare at sf0.01.

Faithfulness rules (round-1 lesson — the sim MUST diverge from the repo's
own harness exactly the way the real driver does):

1. The SparkSession is a PLAIN ``SparkSession.builder.getOrCreate()`` with
   none of the engine configs from ``get_spark()`` — the driver passes its
   own session, so any config a query needs must be set at query time.
2. Canonicalization goes through pandas the way the driver's does
   (``sort_values`` over all columns) — list/map cells raise
   ``TypeError: unhashable type`` here just like they do in the driver,
   so ArrayType/MapType leaks are caught locally before commit.
3. Keys run in ``queries()`` dict order in one session, as the driver
   runs them, so a state leak from one query into the next shows up in
   the order the driver would see it.

This module is the repo's only verification code: the pytest suite
builds its session with ``plain_session`` and checks every result with
``frame_diff`` over ``duck_views``.

Run from the repo root before every commit: ``python scripts/driver_sim.py``
(optionally pass query ids to restrict).
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

import __spark_entry__ as mod
from sqlengine_spark.session import TABLES

# The driver gates at sf0.01; override to stress determinism at other
# scales (e.g. SPARK_GRAFT_SIM_SF=/root/testdata/sf0.1). SKIP is a
# comma-list of query ids to exclude (quadratic-on-degenerate-data ops
# at larger SFs — see bench.py note).
SF01 = os.environ.get("SPARK_GRAFT_SIM_SF", "/root/testdata/sf0.01")
SKIP = set(
    s for s in os.environ.get("SPARK_GRAFT_SIM_SKIP", "").split(",") if s
)


def canon_df(pdf: pd.DataFrame) -> pd.DataFrame:
    """Driver-style canonical form: sort columns by name, round floats,
    stringify cells, sort rows via pandas sort_values (raises on
    unhashable cells — deliberately)."""
    pdf = pdf[sorted(pdf.columns)]

    # Explicit container-cell check: the real driver's value-hash chokes
    # on list/map cells in EVERY case, but pandas sort_values only
    # reproduces that for multi-column frames (single-column sorts take
    # the comparison path where Python lists compare fine) — so don't
    # rely on sort_values internals (round-2 advice).
    import numpy as np

    for c in pdf.columns:
        bad = pdf[c].map(
            lambda v: isinstance(v, (list, tuple, set, dict, np.ndarray))
        )
        if bad.any():
            raise TypeError(
                f"container cell in column {c!r} (ArrayType/MapType leak): "
                f"{pdf[c][bad.idxmax()]!r}"
            )

    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "\x00null"
        if isinstance(v, float):
            return f"{round(v, 9):.9f}"
        return str(v)

    out = pdf.copy()
    for c in out.columns:
        out[c] = out[c].map(cell)
    # sort_values on the raw frame first — this is where the real driver
    # throws TypeError on list cells; keep that behavior.
    pdf.sort_values(list(pdf.columns))
    return out.sort_values(list(out.columns)).reset_index(drop=True)


def main() -> int:
    only = sys.argv[1:] or None
    # Plain session: exactly what the grading driver hands to queries().
    stress = SF01 != "/root/testdata/sf0.01"
    # Stress mode (sf0.1+ sweeps) needs a real heap: a plain-1g session
    # dies at the GC-heavy keys and poisons the JVM for everything after
    # (r12 closing incident). The driver-faithful sf0.01 path stays a
    # PLAIN session — the real driver runs there.
    spark = plain_session(
        driver_memory=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g") if stress else None
    )
    if stress:
        # getOrCreate() may have silently reused an existing under-sized
        # session — refuse EARLY instead of dying mid-sweep.
        from sqlengine_spark.session import require_heap

        require_heap(spark, 7.0, f"driver_sim stress sweep at {SF01}")

    t0 = time.time()
    n = len(mod.entry(spark).collect())
    print(f"t1 entry: rows={n} ({time.time() - t0:.1f}s)")
    assert n > 0

    con = duck_views(SF01)
    qs, oracles = mod.queries(), mod.oracle_sql()
    fails = []
    n_run = 0
    for name in qs:
        if (only and name not in only) or name in SKIP:
            continue
        n_run += 1
        try:
            spdf = qs[name](spark, SF01).toPandas()
            if name not in oracles:
                # rows-only: the driver still canonicalizes (so array
                # leaks fail even here) and records the row count.
                canon_df(spdf)
                print(f"  {name}: rows-only rows={len(spdf)} OK")
                continue
            why = frame_diff(spdf, con.execute(oracles[name]).df())
            if why:
                fails.append((name, why))
            else:
                print(f"  {name}: MATCH rows={len(spdf)}")
        except Exception as e:  # noqa: BLE001 — report, keep going
            fails.append((name, f"EXC {type(e).__name__}: {e}"))
    if fails:
        print(f"\nFAILURES ({len(fails)}):")
        for name, why in fails:
            print(f"  {name}: {why}")
        return 1
    print(f"\nALL MATCH ({n_run} queries)")
    return 0


def plain_session(driver_memory: str | None = None) -> SparkSession:
    """The session the grading driver hands to ``queries()``: Spark's
    defaults (1 GiB heap, none of ``get_spark()``'s configs) on
    ``local[$SPARK_GRAFT_CPUS]``, else on the cores this process may
    run on, as ``get_spark()``. ``driver_memory`` is for stress sweeps
    above the driver's scale only; it takes effect at JVM launch."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("driver-sim")
        .config("spark.ui.enabled", "false")
    )
    if driver_memory:
        builder = builder.config("spark.driver.memory", driver_memory)
    return builder.getOrCreate()


def duck_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table found in ``sf_dir``.
    ``<table>.parquet`` is either one file (the fixtures) or a
    directory of part files (a table staged with a Spark write)."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        elif not os.path.exists(path):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def frame_diff(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """The driver's per-query check: same column names, same row count,
    equal ``canon_df`` forms. Returns None on a match, else the reason,
    with the first differing canonical row."""
    if sorted(got.columns) != sorted(want.columns):
        return f"cols {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rowcount {len(got)} != {len(want)}"
    g, w = canon_df(got), canon_df(want)
    # Zero rows carry no values; only their (engine-specific) dtypes
    # could differ, and the driver hashes values.
    if len(g) == 0 or g.equals(w):
        return None
    i = int((g != w).any(axis=1).idxmax())
    return f"values differ, e.g. row {i}: {list(g.iloc[i])} != {list(w.iloc[i])}"


if __name__ == "__main__":
    sys.exit(main())
