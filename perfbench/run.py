#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 30 --trace 0

One fresh process per run. A closed-loop client (this script) issues the
workload's registry queries one after another on ``local[nproc]``: it
builds each plan (``registry.all_queries()[qid](spark, sf_dir)``),
collects it (``DataFrame.toPandas()``) and checks the result against the
query's DuckDB oracle, canonicalised by ``scripts/driver_sim.canon_df``.
It first sets up (session, registry, catalog, two untimed warm-up passes),
then runs timed passes, each query once in a seed-shuffled order, until
``--seconds`` are used.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics instead, read from Spark's status store, the
query-execution tracker, a streaming listener and ``/proc``, and writes
the spans to ``.bench_build/traces/``. The last line of standard output
is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
Everything the run writes stays under ``.bench_build/`` in the checkout.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import platform
import random
import shlex
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path[:0] = [HERE, ROOT]

import probes  # noqa: E402
from stats import tail  # noqa: E402
from trace import Tracer  # noqa: E402
from workloads import DATA, WORKLOADS  # noqa: E402

#: Metric names and units, as BENCHMARK.json lists them.
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)

#: The program the benchmark measures; without it the run must fail.
REQUIRED = (
    "sqlengine_spark/registry.py",
    "sqlengine_spark/session.py",
    "scripts/driver_sim.py",
)

#: Untimed passes in the set-up. The JIT keeps compiling well after the
#: first pass: with one warm-up pass, the first timed pass used 1.4-1.9x
#: the CPU of the second, by an amount that varied from run to run.
WARMUP_PASSES = 2

#: Timed passes a run makes at least, whatever ``--seconds`` says, so the
#: per-pass medians are taken over three.
MIN_PASSES = 3

#: Totals summed over the build and collect spans of a traced pass.
ACTIVITY = ("jobs", "stages", "tasks", "failed_tasks", "run_s", "cpu_s", "gc_s",
            "input_rows", "input_bytes", "shuffle_write", "shuffle_read", "spill")


def isolate(run_dir: str, data_dir: str) -> None:
    """Point every place the engine, Spark and the JVM write at this
    run's own directory, and every default table path at ``data_dir``.
    Must run before ``sqlengine_spark`` is imported: ``session`` and
    ``tier_a_scans`` read these variables at import time."""
    tmp = os.path.join(run_dir, "tmp")
    for sub in ("scratch", "local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ.update(
        # get_spark() falls back to local[32] without this.
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_SCRATCH=os.path.join(run_dir, "scratch"),
        SPARK_GRAFT_SF_DIR=data_dir,
        SPARK_GRAFT_SIM_SF=data_dir,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=tmp,
        # Python workers start in the JVM's working directory (run_dir)
        # and must still import the engine's modules.
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        PYSPARK_SUBMIT_ARGS=(
            "--driver-java-options "
            + shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
            + " --conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    )
    tempfile.tempdir = tmp
    os.chdir(run_dir)


def _ts(iso: str) -> float:
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, data_dir: str):
        self.workload = workload
        self.order = list(WORKLOADS[workload])
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.data_dir = data_dir
        self.tracer = Tracer()
        self.spark = None
        self.passes: list[dict] = []
        self.failures: list[str] = []
        self.progress: list = []  # streaming progress events (traced run)
        self.progress_lock = threading.Lock()

    # ------------------------------------------------------------ setup

    def setup(self) -> None:
        """Session, registry, catalog and the warm-up passes. ``setup_s``
        runs from just before the engine is imported to the end of the
        warm-up, less the time DuckDB spends on the oracles."""
        sp = self.tracer.span
        with sp("setup"):
            t0 = time.time()
            with sp("session.start"):
                from sqlengine_spark.session import get_spark, load_tables

                self.spark = get_spark("perfbench")
            with sp("registry.import"):
                from sqlengine_spark.registry import all_oracles, all_queries

                self.queries = all_queries()
            with sp("session.catalog"):
                load_tables(self.spark, self.data_dir)
            o0 = time.time()
            with sp("oracle"):
                self.expected = self._oracles(all_oracles())
            oracle_s = time.time() - o0
            if self.trace:
                self.status = probes.StatusReader(self.spark)
                self._listen()
            for _ in range(WARMUP_PASSES):
                self.run_pass(list(self.order), traced=False, name="warmup")
            self.setup_s = time.time() - t0 - oracle_s
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid

    def _oracles(self, oracles: dict) -> dict:
        """Expected result per query, evaluated once by DuckDB and
        canonicalised by ``scripts/driver_sim.canon_df``."""
        import duckdb

        from scripts.driver_sim import canon_df
        from sqlengine_spark.session import TABLES

        self.canon = canon_df
        con = duckdb.connect()
        try:
            for t in TABLES:
                path = os.path.join(self.data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            out = {}
            for qid in self.order:
                exp = con.execute(oracles[qid]).df()
                out[qid] = (sorted(exp.columns), len(exp), canon_df(exp))
            return out
        finally:
            con.close()

    def _listen(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        events, lock = self.progress, self.progress_lock

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with lock:
                    events.append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark.streams.addListener(Progress())

    # ------------------------------------------------------------ passes

    def check(self, qid: str, pdf) -> str | None:
        """None when ``pdf`` matches the oracle, else the first difference."""
        cols, n, exp = self.expected[qid]
        if sorted(pdf.columns) != cols:
            return f"columns {sorted(pdf.columns)} != {cols}"
        if len(pdf) != n:
            return f"row count {len(pdf)} != {n}"
        got = self.canon(pdf)
        if got.equals(exp):
            return None
        i = int((got != exp).any(axis=1).idxmax())
        return f"first differing row {i}: {list(got.iloc[i])} != {list(exp.iloc[i])}"

    def run_query(self, qid: str, acc: dict | None) -> dict:
        """Build, collect and check one query. ``acc`` is the traced
        pass's layer totals, or None when the pass is not traced."""
        sp = self.tracer.span
        rec = {"qid": qid, "error": None, "latency_s": 0.0}
        df = pdf = None
        with sp("query", qid):
            if acc is not None:
                workers0 = probes.python_workers(self.jvm_pid)
            cpu0 = probes.tree_cpu_s()
            try:
                with sp("operators.build", qid) as build:
                    t0 = time.time()
                    df = self.queries[qid](self.spark, self.data_dir)
                    t1 = time.time()
                if acc is not None:
                    self._activity(build, acc, is_build=True)
                with sp("collect", qid) as collect:
                    t2 = time.time()
                    pdf = df.toPandas()
                    t3 = time.time()
                rec["latency_s"] = (t1 - t0) + (t3 - t2)
            except Exception as e:  # noqa: BLE001 — a failed query is counted, not fatal
                first = (str(e).strip().splitlines() or [""])[0]
                rec["error"] = f"{type(e).__name__}: {first[:300]}"
            rec["cpu_s"] = probes.tree_cpu_s() - cpu0
            if acc is not None and pdf is not None:
                self._activity(collect, acc, is_build=False)
                self._collect_layers(df, pdf, build, collect, (t0, t1, t2, t3), workers0, acc)
            with sp("check", qid):
                if rec["error"] is None:
                    rec["error"] = self.check(qid, pdf)
        if rec["error"]:
            self.failures.append(f"{qid}: {rec['error']}")
            print(f"FAIL {qid}: {rec['error']}", flush=True)
        return rec

    def _activity(self, span: dict, acc: dict, is_build: bool) -> None:
        """Attach the jobs and stages Spark ran since the last read to
        ``span`` (the build or collect that submitted them)."""
        act = self.status.new_activity()
        span.update(act, pass_no=acc["pass_no"])
        for k in ACTIVITY:
            acc[k] = acc.get(k, 0) + act[k]
        if is_build:
            acc["build_jobs"] = acc.get("build_jobs", 0) + act["jobs"]

    def _collect_layers(self, df, pdf, build, collect, times, workers0, acc) -> None:
        """Add one query's collect-side layer counts to its traced pass."""
        t0, t1, t2, t3 = times

        def add(k, v):
            acc[k] = acc.get(k, 0) + v

        add("build_s", t1 - t0)
        add("collect_s", t3 - t2)
        add("rows", len(pdf))
        if collect["last_job_end"]:
            add("after_jobs_s", max(0.0, t3 - collect["last_job_end"]))
        cat = probes.catalyst(df)
        for phase, (p0, p1) in cat["phases"].items():
            owner = build if p0 < t2 else collect
            owner[f"{phase}_ms"] = (p1 - p0) * 1e3
            add(f"{phase}_ms", (p1 - p0) * 1e3)
        add("plan_nodes", cat["plan_nodes"])
        add("exchanges", cat["exchanges"])
        files, size = probes.files_since(os.environ["SPARK_GRAFT_SCRATCH"], t0)
        collect.update(sink_files=files, sink_bytes=size)
        add("sink_files", files)
        add("sink_bytes", size)
        workers1 = probes.python_workers(self.jvm_pid)
        collect.update(
            pyworker_cpu_s=sum(c - workers0.get(p, 0.0) for p, c in workers1.items()),
            pyworker_spawned=len(set(workers1) - set(workers0)),
        )
        add("pyworker_cpu_s", collect["pyworker_cpu_s"])
        add("pyworker_spawned", collect["pyworker_spawned"])

    def run_pass(self, order: list[str], traced: bool, name: str = "pass") -> dict:
        acc = {"pass_no": len(self.passes)} if traced else None
        with self.tracer.span(name, traced=traced) as attrs:
            if traced:
                self.status.new_activity()  # start from this pass's first job
            steal0 = probes.cpu_times()
            t0 = time.time()
            recs = [self.run_query(qid, acc) for qid in order]
            wall = time.time() - t0
            steal1 = probes.cpu_times()
        checks = sum(
            s["end"] - s["start"]
            for s in self.tracer.spans
            if s["name"] == "check" and s["start"] >= t0
        )
        out = {
            "traced": traced,
            "pass_s": wall - checks,
            "wall_s": wall,
            "cpu_s": sum(r["cpu_s"] for r in recs),
            "steal_frac": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
            "queries": recs,
            "layers": acc,
        }
        attrs.update(pass_s=out["pass_s"], cpu_s=out["cpu_s"])
        return out

    def measure(self) -> None:
        order = list(self.order)
        rng = random.Random(self.seed)
        # A traced run alternates untraced and traced passes to measure
        # the tracing overhead; the first three (untraced, traced,
        # untraced) keep a JIT that is still warming from biasing it.
        steal0 = probes.cpu_times()
        t0 = time.time()
        while True:
            rng.shuffle(order)
            traced = self.trace and len(self.passes) % 2 == 1
            self.passes.append(self.run_pass(list(order), traced))
            used = time.time() - t0
            per_pass = median([p["wall_s"] for p in self.passes])
            if len(self.passes) >= MIN_PASSES and used + per_pass > self.seconds:
                break
        steal1 = probes.cpu_times()
        total = steal1[1] - steal0[1]
        self.steal_frac = (steal1[0] - steal0[0]) / total if total else 0.0

    # ------------------------------------------------------------ report

    def end_to_end(self) -> dict:
        lat = [q["latency_s"] for p in self.passes for q in p["queries"] if not q["error"]]
        # Not a metric: a run at run_seconds makes too few executions for
        # the tail rule to land above the median; longer runs print it.
        t = tail(lat)
        self.tail_info = (
            {"value_s": t[0], "percentile": t[1], "samples": t[2]} if t else {"samples": len(lat)}
        )
        return {
            "setup_s": self.setup_s,
            "pass_s": median([p["pass_s"] for p in self.passes]),
            "query_p50_s": median(lat),
            "cpu_s": median([p["cpu_s"] for p in self.passes]),
        }

    def _attach_progress(self) -> None:
        """Give each streaming batch to the traced pass whose build or
        collect span was running when the batch started."""
        by_no = {p["layers"]["pass_no"]: p["layers"] for p in self.passes if p["traced"]}
        with self.progress_lock:
            events = list(self.progress)
        for prog in events:
            s = self.tracer.containing(_ts(prog.timestamp), ("operators.build", "collect"))
            acc = by_no.get(s["attrs"].get("pass_no")) if s else None
            if acc is None:
                continue
            d = prog.durationMs
            ops = prog.stateOperators
            s["attrs"].setdefault("batches", []).append(prog.batchId)
            acc.setdefault("batches", []).append(prog.batchDuration / 1e3)
            for key, val in (
                ("addbatch_s", d.get("addBatch", 0) / 1e3),
                ("planning_s", d.get("queryPlanning", 0) / 1e3),
                ("commit_s", (d.get("walCommit", 0) + d.get("commitOffsets", 0)
                              + sum(o.commitTimeMs for o in ops)) / 1e3),
            ):
                acc[key] = acc.get(key, 0) + val
            state = acc.setdefault("state", {})
            rows, mem = state.get(prog.runId, (0, 0))
            state[prog.runId] = (
                max(rows, sum(o.numRowsTotal for o in ops)),
                max(mem, sum(o.memoryUsedBytes for o in ops)),
            )

    def per_layer(self) -> dict:
        self._attach_progress()
        slots = self.spark.sparkContext.defaultParallelism
        mib = 1 / (1 << 20)
        rows_of = []
        for p in self.passes:
            if not p["traced"]:
                continue
            a = p["layers"]
            g = lambda k: a.get(k, 0)  # noqa: E731
            b = a.get("batches", [])
            st = a.get("state", {}).values()
            rows_of.append({
                "operators.build_s": g("build_s"),
                "operators.build_jobs": g("build_jobs"),
                "collect.s": g("collect_s"),
                "collect.rows": g("rows"),
                "collect.after_jobs_s": g("after_jobs_s"),
                "catalyst.analysis_ms": g("analysis_ms"),
                "catalyst.optimization_ms": g("optimization_ms"),
                "catalyst.planning_ms": g("planning_ms"),
                "catalyst.plan_nodes": g("plan_nodes"),
                "catalyst.exchanges": g("exchanges"),
                "exec.jobs": g("jobs"),
                "exec.stages": g("stages"),
                "exec.tasks": g("tasks"),
                "exec.failed_tasks": g("failed_tasks"),
                "exec.run_s": g("run_s"),
                "exec.cpu_s": g("cpu_s"),
                "exec.gc_s": g("gc_s"),
                "exec.busy_frac": g("run_s") / (p["pass_s"] * slots),
                "exec.rows_per_result": g("input_rows") / max(1, g("rows")),
                "shuffle.write_mb": g("shuffle_write") * mib,
                "shuffle.read_mb": g("shuffle_read") * mib,
                "shuffle.spill_mb": g("spill") * mib,
                "sink.files_written": g("sink_files"),
                "sink.mb_written": g("sink_bytes") * mib,
                "sink.write_amp": g("sink_bytes") / max(1, g("input_bytes")),
                "pyworker.cpu_s": g("pyworker_cpu_s"),
                "pyworker.spawned": g("pyworker_spawned"),
                "stream.batches": len(b),
                "stream.batch_p50_s": median(b) if b else 0.0,
                "stream.batch_max_s": max(b, default=0.0),
                "stream.addbatch_s": g("addbatch_s"),
                "stream.planning_s": g("planning_s"),
                "stream.commit_s": g("commit_s"),
                "stream.state_rows": sum(r for r, _ in st),
                "stream.state_mb": sum(m for _, m in st) * mib,
            })
        out = {k: median([r[k] for r in rows_of]) for k in rows_of[0]}

        def dur(name):
            s = next(s for s in self.tracer.spans if s["name"] == name)
            return s["end"] - s["start"]

        traced = [p["pass_s"] for p in self.passes if p["traced"]]
        plain = [p["pass_s"] for p in self.passes if not p["traced"]]
        out.update({
            "session.start_s": dur("session.start"),
            "session.catalog_s": dur("session.catalog"),
            "registry.import_s": dur("registry.import"),
            "mem.jvm_peak_mb": probes.jvm_peak_mb(self.jvm_pid),
            "host.steal_frac": self.steal_frac,
            "trace.overhead_s": median(traced) - median(plain),
        })
        return out

    def host(self) -> dict:
        import duckdb
        import pyspark

        jvm = self.spark._jvm
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "slots": self.spark.sparkContext.defaultParallelism,
            "heap_mb": int(jvm.java.lang.Runtime.getRuntime().maxMemory()) >> 20,
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "duckdb": duckdb.__version__,
            "java": jvm.java.lang.System.getProperty("java.version"),
            "workload": self.workload,
            "data": DATA,
            "seed": self.seed,
            "seconds": self.seconds,
            "trace": self.trace,
            "loadavg_start": self.loadavg,
            "steal_frac": self.steal_frac,
            "passes": len(self.passes),
            "pass_steal_frac": [p["steal_frac"] for p in self.passes],
            "tail": self.tail_info,
        }

    def run(self) -> dict:
        self.loadavg = os.getloadavg()[0]
        self.calib = [probes.calibrate()]
        try:
            with self.tracer.span("run", workload=self.workload, seed=self.seed):
                self.setup()
                self.measure()
            e2e = self.end_to_end()
            values = self.per_layer() if self.trace else e2e
            host = self.host()
        finally:
            self.close()
        # After the engine has stopped, so the JVM cannot perturb it.
        self.calib.append(probes.calibrate())
        host.update(calib_before_s=self.calib[0], calib_after_s=self.calib[1])
        if self.trace:
            values["host.calib_s"] = median(self.calib)
        attempted = sum(len(p["queries"]) for p in self.passes)
        failed = sum(1 for p in self.passes for q in p["queries"] if q["error"])
        return {
            "host": host,
            "error_rate": failed / attempted,
            "result": {
                "correct": not self.failures,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in SPEC["per_layer" if self.trace else "end_to_end"]
                },
            },
            "queries": [
                {"pass": i, "traced": p["traced"], **q}
                for i, p in enumerate(self.passes)
                for q in p["queries"]
            ],
        }

    def close(self) -> None:
        """Stop Spark, the JVM and every process the JVM started, and
        wait until each has ended."""
        if self.spark is None:
            return
        spark, self.spark = self.spark, None
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        family = probes.descendants(probes.process_table(), os.getpid())
        try:
            spark.stop()
            gateway.shutdown()
        finally:
            proc = gateway.proc
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            for pid in family:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 30
            while time.time() < deadline and probes.alive(family):
                time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # A terminated run still stops its JVM and removes its directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: the engine is not in {ROOT}: missing {missing}", file=sys.stderr)
        return 2
    wl = args.workload
    data_dir = os.path.join(HERE, "data", DATA)
    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{wl}-", dir=os.path.join(BUILD, "runs"))
    cwd = os.getcwd()
    bench = None
    try:
        isolate(run_dir, data_dir)
        bench = Bench(wl, args.seed, args.seconds, bool(args.trace), data_dir)
        out = bench.run()
        stamp = time.strftime("%Y%m%dT%H%M%S")
        tag = f"{wl}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}"
        for sub in ("results", "traces"):
            os.makedirs(os.path.join(BUILD, sub), exist_ok=True)
        with open(os.path.join(BUILD, "results", f"{tag}.json"), "w") as f:
            json.dump(out, f, indent=1, default=str)
        print("host " + json.dumps(out["host"]))
        print(f"error_rate {out['error_rate']} ({out['result']['failed']} of "
              f"{out['result']['attempted']} timed executions)")
        if args.trace:
            path = os.path.join(BUILD, "traces", f"{tag}.json")
            bench.tracer.dump(path)
            print(f"trace spans {path}")
            print(f"trace overhead_s {out['result']['metrics']['trace.overhead_s']['value']}")
        else:
            t = out["host"]["tail"]
            print(f"query tail (ten executions above it): p{t['percentile']:.1f} = "
                  f"{t['value_s']:.4f} s of {t['samples']} timed executions"
                  if "percentile" in t else
                  f"query tail: too few timed executions ({t['samples']}) for one")
    except Exception:  # noqa: BLE001 — report and fail without a result line
        traceback.print_exc()
        return 1
    finally:
        if bench is not None:
            bench.close()
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
