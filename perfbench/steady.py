#!/usr/bin/env python3
"""Steadiness check: run one workload N times in fresh processes and
print, per end-to-end metric, the median, the quartiles and the relative
spread ``(q3 - q1) / median`` against the bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload olap --runs 10
    python3 perfbench/steady.py --workload olap --runs 10 --save a.json
    python3 perfbench/steady.py --workload olap --runs 10 --compare a.json

Seeds are ``--first-seed``, ``--first-seed + 1``, ... A metric's spread
must stay within its bound, and it is steady when under a third of it.
The rule is applied to every metric, ``setup_s`` included. ``--compare``
also applies the second rule: this set's median may be worse than the
saved set's by at most the bound. Exits non-zero when a rule fails or a
run fails or is incorrect.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from stats import quartile_spread  # noqa: E402


def run_once(spec: dict, workload: str, seed: int, seconds: int) -> tuple[dict, float]:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", "0",
    ]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.time() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"run failed: {' '.join(cmd)} (exit {proc.returncode})")
    return json.loads(lines[-1]), wall


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--save", help="write the per-run values to this JSON file")
    ap.add_argument("--compare", help="a file written by --save for the same workload")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    ok = True
    for i in range(args.runs):
        seed = args.first_seed + i
        res, wall = run_once(spec, args.workload, seed, seconds)
        ok &= res["correct"] and res["failed"] == 0
        for name in values:
            values[name].append(res["metrics"][name]["value"])
        shown = " ".join(f"{k}={v[-1]:.3f}" for k, v in values.items())
        print(f"run {i + 1}/{args.runs} seed={seed} wall={wall:.1f}s "
              f"correct={res['correct']} failed={res['failed']} {shown}", flush=True)

    before = {}
    if args.compare:
        with open(args.compare) as f:
            before = json.load(f)["values"]
    print(f"\n{'metric':<14}{'q1':>10}{'median':>10}{'q3':>10}{'spread':>9}"
          f"{'bound':>7}  verdict")
    for m in spec["end_to_end"]:
        name, bound = m["name"], m["bound"]
        q1, med, q3, spread = quartile_spread(values[name])
        verdict = ["steady" if spread < bound / 3 else
                   "within bound" if spread <= bound else "TOO NOISY"]
        ok &= spread <= bound
        if name in before:
            old = quartile_spread(before[name])[1]
            worse = (med - old) / old if m["better"] == "lower" else (old - med) / old
            verdict.append(f"vs saved {worse:+.1%}" + (" REGRESSED" if worse > bound else ""))
            ok &= worse <= bound
        print(f"{name:<14}{q1:>10.4g}{med:>10.4g}{q3:>10.4g}{spread:>9.3f}"
              f"{bound:>7}  {', '.join(verdict)}")
    if args.save:
        with open(args.save, "w") as f:
            json.dump({"workload": args.workload, "seconds": seconds, "values": values}, f)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
