#!/usr/bin/env python
"""Write each query's formatted physical plan, masked so that two runs
of the same code give the same text.

Usage: python scripts/capture_plans.py OUT_DIR [qid ...]
  OUT_DIR: one ``<qid>.txt`` per query is written here.
  qids:    default = every registered query, in driver order.

Plans are built with the engine session (``get_spark()``) against
$SPARK_GRAFT_SF_DIR (default sf0.1). Seven things vary between runs of
the same code and are masked: expression ids (``#123``), ``plan_id=``
numbers, the random suffix of ``tempfile.mkdtemp`` directories, uuid4
hex file names (a Python data source's writer names its files that
way), the number PySpark appends to each lambda variable
(``lambda x_10``) and the id of an existing RDD (``MapPartitionsRDD[291]``
under a localCheckpoint) -- both count what the process built before, so
they depend on the plans built earlier -- and the 10-hex-digit suffix
``session.staged`` gives a staged directory (it hashes the application
id).
To show that a refactor keeps every plan, capture at both commits into
two directories and ``diff -r`` them.

Exits nonzero if any capture fails, so a failed capture cannot pass
for an unchanged plan.
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sqlengine_spark.registry import all_queries
from sqlengine_spark.session import DEFAULT_SF_DIR, SCRATCH, get_spark

_MASKS = (
    # a staged directory, and a catalog table named after one
    (re.compile(re.escape(SCRATCH) + r"/(\w+?)_[0-9a-f]{10}(?![0-9a-z])"),
     SCRATCH + r"/\1_<staged>"),
    (re.compile(r"(?<=\.)(\w+?)_[0-9a-f]{10}_"), r"\1_<staged>_"),
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    # mkdtemp names end in 8 random characters from [a-z0-9_].
    (re.compile(re.escape(tempfile.gettempdir()) + r"/(\w*)\w{8}(?!\w)"),
     tempfile.gettempdir() + r"/\1XXXXXXXX"),
    (re.compile(r"(?<![0-9a-f])[0-9a-f]{12}4[0-9a-f]{3}[89ab][0-9a-f]{15}(?![0-9a-f])"),
     "<uuid4>"),
    (re.compile(r"(lambda \w+?)_\d+(?=#)"), r"\1_N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
)


def mask(plan: str) -> str:
    for pat, rep in _MASKS:
        plan = pat.sub(rep, plan)
    return plan


def main() -> int:
    if len(sys.argv) < 2:
        print("usage: capture_plans.py OUT_DIR [qid ...]", file=sys.stderr)
        return 2
    out = sys.argv[1]
    qs = all_queries()
    qids = sys.argv[2:] or list(qs)
    os.makedirs(out, exist_ok=True)
    spark = get_spark("plan_capture")
    failed: list[str] = []
    for qid in qids:
        try:
            df = qs[qid](spark, DEFAULT_SF_DIR)
            txt = mask(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
        except Exception as exc:  # side-effecting harness ops
            txt = f"PLAN CAPTURE FAILED: {exc}\n"
            failed.append(qid)
        with open(os.path.join(out, f"{qid}.txt"), "w") as fh:
            fh.write(txt)
    print(f"wrote {len(qids) - len(failed)} plans to {out}", file=sys.stderr)
    if failed:
        print(f"FAILED captures: {', '.join(failed)}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
