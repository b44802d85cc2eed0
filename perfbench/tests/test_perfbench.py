"""Unit tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from stats import quartile_spread, tail  # noqa: E402
from trace import Tracer, self_time  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


# ------------------------------------------------------------- tail rule

def test_tail_needs_more_than_ten_samples():
    assert tail([1.0] * 10) is None


def test_tail_leaves_exactly_ten_samples_above():
    values = [float(v) for v in range(100, 0, -1)]  # unsorted input
    value, pct, n = tail(values)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(v > value for v in values) == 10


def test_tail_of_eleven_samples_is_the_smallest():
    value, pct, n = tail([5.0, 1.0, 9.0, 2.0, 8.0, 3.0, 7.0, 4.0, 6.0, 10.0, 11.0])
    assert value == 1.0 and n == 11
    assert pct == pytest.approx(100 / 11)


def test_quartile_spread_matches_statistics_quantiles():
    q1, med, q3, spread = quartile_spread([1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0])
    assert (q1, med, q3) == (2.25, 4.5, 6.75)
    assert spread == pytest.approx(1.0)


# ------------------------------------------------------------- self time

def test_self_time_subtracts_union_of_children():
    # Children overlap (1-3, 2-5) and one runs past the parent (8-12).
    assert self_time(0.0, 10.0, [(8.0, 12.0), (1.0, 3.0), (2.0, 5.0)]) == pytest.approx(4.0)


def test_self_time_without_children_is_duration():
    assert self_time(2.0, 7.5, []) == pytest.approx(5.5)


def test_tracer_nests_and_computes_self_time():
    tr = Tracer()
    with tr.span("query", "q1"):
        with tr.span("operators.build", "q1"):
            pass
        with tr.span("collect", "q1") as attrs:
            attrs["rows"] = 3
    spans = {s["name"]: s for s in tr.with_self_times()}
    q, b, c = spans["query"], spans["operators.build"], spans["collect"]
    assert b["parent"] == q["id"] and c["parent"] == q["id"] and q["parent"] is None
    assert {q["qid"], b["qid"], c["qid"]} == {"q1"}
    assert c["attrs"] == {"rows": 3}
    children = (b["end"] - b["start"]) + (c["end"] - c["start"])
    assert q["self_s"] == pytest.approx(q["end"] - q["start"] - children, abs=1e-6)
    assert tr.containing(c["start"], ("operators.build", "collect"))["name"] == "collect"


# ------------------------------------------------------- BENCHMARK.json

@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_spec_has_exactly_the_contract_keys(spec):
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60
    assert 2 <= len(spec["workloads"]) <= 8
    assert 1 <= len(spec["end_to_end"]) <= 16 and 1 <= len(spec["per_layer"]) <= 128
    assert len(json.dumps(spec)) <= 64 * 1024


def test_spec_command_and_paths_stay_inside_the_benchmark(spec):
    assert 1 <= len(spec["command"]) <= 32
    assert all(len(a) <= 200 and not a.startswith("/") and ".." not in a for a in spec["command"])
    assert 1 <= len(spec["paths"]) <= 16
    for p in spec["paths"]:
        assert re.fullmatch(r"[A-Za-z0-9_./-]{1,200}", p) and ".." not in p
        assert os.path.isdir(os.path.join(ROOT, p))
    files = [a for a in spec["command"][1:] if "/" in a]
    assert all(any(f.startswith(p + "/") for p in spec["paths"]) for f in files)


def test_spec_names_units_and_bounds_are_valid(spec):
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and 0 < len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25 and m["better"] in ("lower", "higher")
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and m["better"] in ("lower", "higher")
    assert all(UNIT.match(m["unit"]) for m in spec["end_to_end"] + spec["per_layer"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_spec_lists_only_workloads_the_runner_defines(spec):
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
