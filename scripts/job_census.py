#!/usr/bin/env python
"""Jobs, stages and exchanges per registered query, with the build (the
operator call) and the collect (``toPandas()``) kept apart.

Usage: python scripts/job_census.py [--sf-dir DIR] [--out FILE] [qid ...]
  --sf-dir: the tables (default: perfbench's sf0.01 copy).
  --out:    write the markdown table here (default: print it).
  qids:     default = every registered query, in driver order.

Each query runs twice on the engine session (``get_spark()`` with
``load_tables``, as perfbench sets it up): once to warm up, then once
counted. Jobs and stages are the ones Spark's status store gained
during the counted build and the counted collect, read with perfbench's
``StatusReader``, so the olap rows add up to a traced olap pass's
``exec.jobs``. Skipped stages are not counted. Exchanges are counted in
the final adaptive plan, as perfbench's ``catalyst.exchanges``.

The count is by job id, not by job group: a stream sets its own job
group for every run, so the micro-batch jobs a streaming operator runs
at build time would escape a group set around the call.

The table is sorted by total jobs, then stages. Exits nonzero if any
query fails, after writing the rows of the others.
"""

from __future__ import annotations

import argparse
import os
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# perfbench last: its trace.py must not shadow the standard library's.
sys.path[:0] = [ROOT]
sys.path.append(os.path.join(ROOT, "perfbench"))

from probes import StatusReader, catalyst  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

from sqlengine_spark.registry import all_queries  # noqa: E402
from sqlengine_spark.session import get_spark, load_tables  # noqa: E402

COLUMNS = ("build_jobs", "collect_jobs", "jobs", "stages", "exchanges")


def census(spark, sf_dir: str, qid: str, reader: StatusReader) -> dict:
    build = all_queries()[qid]
    build(spark, sf_dir).toPandas()
    reader.new_activity()
    df = build(spark, sf_dir)
    b = reader.new_activity()
    df.toPandas()
    c = reader.new_activity()
    return {
        "build_jobs": b["jobs"],
        "collect_jobs": c["jobs"],
        "jobs": b["jobs"] + c["jobs"],
        "stages": b["stages"] + c["stages"],
        "exchanges": catalyst(df)["exchanges"],
    }


def table(rows: dict[str, dict], sf_dir: str, master: str) -> str:
    order = sorted(rows, key=lambda q: (-rows[q]["jobs"], -rows[q]["stages"], q))
    out = [
        f"Per-query jobs, stages and exchanges on the engine session "
        f"(`{master}`) at `{os.path.relpath(sf_dir, ROOT)}`, counted on a "
        "second run after one warm run (`python scripts/job_census.py`).",
        "",
    ]
    for wl, qids in WORKLOADS.items():
        if all(q in rows for q in qids):
            total = sum(rows[q]["jobs"] for q in qids)
            out.append(f"- perfbench `{wl}`: {total} jobs over its {len(qids)} queries.")
    out += [
        f"- All {len(rows)} queries: {sum(r['jobs'] for r in rows.values())} jobs, "
        f"{sum(r['stages'] for r in rows.values())} stages.",
        "",
        "| qid | " + " | ".join(COLUMNS) + " |",
        "|---|" + "---:|" * len(COLUMNS),
    ]
    out += [f"| {q} | " + " | ".join(str(rows[q][k]) for k in COLUMNS) + " |" for q in order]
    return "\n".join(out) + "\n"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf-dir", default=os.path.join(ROOT, "perfbench", "data", "sf0.01"))
    ap.add_argument("--out")
    ap.add_argument("qids", nargs="*")
    args = ap.parse_args()
    spark = get_spark("job_census")
    spark.sparkContext.setLogLevel("ERROR")
    load_tables(spark, args.sf_dir)
    reader = StatusReader(spark)
    rows, failed = {}, []
    for qid in args.qids or list(all_queries()):
        try:
            rows[qid] = census(spark, args.sf_dir, qid, reader)
        except Exception:  # noqa: BLE001 — record the failure, census the rest
            traceback.print_exc()
            failed.append(qid)
            reader.new_activity()
        print(qid, rows.get(qid, "FAILED"), file=sys.stderr, flush=True)
    text = table(rows, args.sf_dir, spark.sparkContext.master)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text)
    else:
        print(text, end="")
    if failed:
        print(f"failed: {failed}", file=sys.stderr)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
