#!/usr/bin/env python3
"""Layered benchmark for the gemmsql engine.

    python3 perfbench/run.py --workload ml_fold --seed 1 --seconds 10 --trace 0

Run from the repository root.  One client issues one query at a time
(closed loop) against ``local[<cores>]``.  A run:

1. makes a fresh temp root under ``.perfbench/`` in the working
   directory (``TMPDIR``, Spark local dirs, JVM tmpdir, staged tables);
   the inputs are the committed tables under ``perfbench/data/``;
2. sets up, timed from process start: interpreter and imports, JVM
   launch, session start, the workload's one-time staging and one
   Python-worker round trip;
3. runs every workload query once, collects it and compares its
   order-insensitive hash with ``expected.json``, then runs every query
   the workload's ``warm_passes`` times more on a noop sink (all
   untimed: they warm the JVM and the Python workers);
4. runs at least three passes and until ``--seconds`` have elapsed:
   each pass runs every query once, in an order drawn from ``--seed``,
   to completion on a noop sink;
5. prints a report line, then one JSON result line: end-to-end metrics
   with ``--trace 0``, per-layer metrics with ``--trace 1``.

Every query execution counts as attempted; an exception, a timeout or a
hash mismatch counts as failed, and a pass with a failure is reported
as failed rather than shortened.  The temp root is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
QUERY_TIMEOUT_S = 60.0
MIN_PASSES = 3
# stop starting passes past this; a run must end within 180 s
RUN_DEADLINE_S = 150.0

# Gated end-to-end metrics.  cpu_s is the CPU time of the whole process
# tree (Python driver, JVM, Python workers) per pass, less the JVM's JIT
# compiler threads.  Wall-time latencies (pass_s, query_p50_s,
# query_tail_s) go to the report line only: on a 4-core guest shared
# with other loads they moved with the neighbours, with 10-run quartile
# spreads up to 0.35, where CPU seconds stayed within 0.09-0.14.  Memory is gated on the Python side (driver and Python
# workers, where the fold kernels and decoders run): the JVM's peak
# resident set follows G1's heap sizing under a 16 GB max heap and
# ranged 1.4-2.5 GB over identical runs, so the whole-tree peak_rss_mb
# is reported but not gated.
END_TO_END = (
    ("setup_s", "s"), ("cpu_s", "s"), ("py_peak_rss_mb", "MB"),
)


class QueryTimeout(Exception):
    pass


def _since_process_start() -> float:
    """Seconds since this process started, on the boot clock: both
    ``/proc/uptime`` and the process's start time count from boot, so
    the difference has neither wall-clock steps nor truncation."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rfind(")") + 2:].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(repo: str) -> str:
    """Fresh temp root for this run; every path the engine, the JVM and
    the Python workers write goes below it."""
    root = os.path.join(repo, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(root, "local"))
    env = os.environ
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(root, "local")
    env.setdefault("SPARK_GRAFT_CPUS", str(_cores()))
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo, env.get("PYTHONPATH")) if p
    )
    env["JDK_JAVA_OPTIONS"] = " ".join(
        p for p in (env.get("JDK_JAVA_OPTIONS"),
                    f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
                    # keep the JIT compiler threads alive, so that
                    # tracing.jit_cpu_s sees all of their CPU time
                    "-XX:-UseDynamicNumberOfCompilerThreads") if p
    )
    import tempfile

    tempfile.tempdir = tmp
    return root


class Bench:
    def __init__(self, args, repo: str, root: str):
        from workloads import WORKLOADS

        from metrics import Tally

        self.args = args
        self.repo = repo
        self.root = root
        self.workload = WORKLOADS[args.workload]
        self.t_run = time.perf_counter()
        self.spark = None
        self.jvm_pid = None
        self.tracer = None
        self.tally = Tally()
        self.failures: list[dict] = []

    # -- set-up -----------------------------------------------------------

    def setup(self) -> None:
        """Start the session, stage the workload and bring up the Python
        workers: ready means a kernel can run."""
        from workloads import SF_DIR

        from gemmsql import get_spark

        self.sf_dir = SF_DIR
        t_s = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.session_start_s = time.perf_counter() - t_s
        from pyspark import SparkContext

        self.jvm_pid = SparkContext._gateway.proc.pid
        self.staging_s = {}
        for stage in self.workload.staging:
            t_st = time.perf_counter()
            stage(self.spark, self.sf_dir)
            self.staging_s[stage.__name__.lstrip("_")] = round(
                time.perf_counter() - t_st, 3
            )
        self.spark.range(0, 64, 1, _cores()).mapInPandas(
            lambda it: it, "id long"
        ).write.format("noop").mode("overwrite").save()
        # from process start: interpreter, imports, JVM launch, staging
        self.setup_s = _since_process_start()
        self.queries = self.workload.queries()

    # -- one query --------------------------------------------------------

    def _run_query(self, name: str, build, action, pass_no: int):
        """Build and run one query with a timeout -> (ok, latency, result)."""
        span = None
        if self.tracer is not None and self.tracer.enabled:
            span = self.tracer.start(name, pass_no)
        else:
            self.spark.sparkContext.setJobGroup(f"perfbench-{name}", name)
        t0 = time.perf_counter()
        ok, out, reason = False, None, None
        signal.setitimer(signal.ITIMER_REAL, QUERY_TIMEOUT_S)
        try:
            df = build(self.spark, self.sf_dir)
            if span is not None:
                self.tracer.built(span)
            out = action(df)
            ok = True
        except QueryTimeout:
            reason = "timeout"
            self._cancel()
        except Exception as e:  # a failing query is counted, not fatal
            reason = f"{type(e).__name__}: {str(e)[:300]}"
        finally:
            signal.setitimer(signal.ITIMER_REAL, 0)
        latency = time.perf_counter() - t0
        if span is not None:
            self.tracer.end(span, ok)
        if not ok:
            self.failures.append(
                {"query": name, "pass": pass_no, "reason": reason}
            )
        return ok, latency, out

    def _cancel(self) -> None:
        """Stop what a timed-out query left running."""
        for q in self.spark.streams.active:
            q.stop()
        self.spark.sparkContext.cancelAllJobs()

    # -- output check -----------------------------------------------------

    def check(self) -> dict:
        """Collect every query once and compare its hash (untimed)."""
        sys.path.insert(0, os.path.join(self.repo, "tools"))
        from driver_check import table_hash

        with open(os.path.join(HERE, "expected.json")) as f:
            expected = json.load(f)[self.workload.name]
        result = {}
        for name, build in self.queries.items():
            ok, lat, pdf = self._run_query(
                name, build, lambda df: df.toPandas(), -1
            )
            good = ok and table_hash(pdf) == expected.get(name)
            if ok and not good:
                self.failures.append(
                    {"query": name, "pass": -1, "reason": "hash mismatch"}
                )
            self.tally.record(good)
            result[name] = {"ok": good, "s": round(lat, 4)}
        return result

    # -- timed passes -----------------------------------------------------

    def passes(self) -> list[dict]:
        from tracing import jit_cpu_s, tree_cpu_s

        def cpu():
            # the JIT's compile work is the JVM warming up, not work a
            # query does: it fell from ~3 to ~1.4 s per ml_fold pass over
            # six passes while the rest of the tree's CPU stayed in 10%
            return tree_cpu_s() - jit_cpu_s(self.jvm_pid)

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        names = list(self.queries)
        # untimed passes first: the JIT is still compiling after the
        # check pass, and the first timed passes would pay for it
        for _ in range(self.workload.warm_passes):
            for name in names:
                ok, _, _ = self._run_query(name, self.queries[name], noop, -1)
                self.tally.record(ok)
        out: list[dict] = []
        t_start = time.perf_counter()
        while True:
            k = len(out)
            traced = self.tracer is not None and k % 2 == 1
            if self.tracer is not None:
                self.tracer.enabled = traced
            order = names[:]
            random.Random(self.args.seed * 7919 + k).shuffle(order)
            jit0 = jit_cpu_s(self.jvm_pid)
            cpu0 = cpu()
            t0 = time.perf_counter()
            lats, failed = {}, 0
            for name in order:
                ok, lat, _ = self._run_query(name, self.queries[name], noop, k)
                self.tally.record(ok)
                lats[name] = lat
                failed += not ok
            wall = time.perf_counter() - t0
            out.append({
                "pass": k, "wall_s": wall, "cpu_s": cpu() - cpu0,
                "jit_cpu_s": jit_cpu_s(self.jvm_pid) - jit0,
                "latencies": lats, "failed": failed, "traced": traced,
                "order": order,
            })
            if self._done(out, time.perf_counter() - t_start):
                break
        if self.tracer is not None:
            self.tracer.enabled = False
        return out

    def _done(self, out: list[dict], elapsed: float) -> bool:
        """Stop once another pass would overrun ``--seconds`` by more
        than a tenth, after at least ``MIN_PASSES`` passes; a traced run
        alternates untraced and traced passes, so it gets at least one
        of each."""
        if len(out) < (2 if self.tracer is not None else 1):
            return False
        if time.perf_counter() - self.t_run > RUN_DEADLINE_S:
            return True
        if len(out) < MIN_PASSES:
            return False
        mean = elapsed / len(out)
        return elapsed + mean > 1.1 * self.args.seconds

    # -- context ----------------------------------------------------------

    def context(self) -> dict:
        import pyspark

        sc = self.spark.sparkContext
        return {
            "nproc": _cores(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "master": sc.master,
            "defaultParallelism": sc.defaultParallelism,
            "spark.sql.shuffle.partitions":
                self.spark.conf.get("spark.sql.shuffle.partitions"),
            "pyspark": pyspark.__version__,
            "java": self.spark._jvm.java.lang.System.getProperty(
                "java.version"
            ),
            "seed": self.args.seed,
            "trace": bool(self.args.trace),
        }

    def finish(self) -> None:
        """Read what needs the live session and process tree."""
        from tracing import tree_peak_rss_mb

        self.ctx = self.context()
        self.peak_rss_by_name = tree_peak_rss_mb()

    def shutdown(self) -> None:
        """Stop Spark and wait until the JVM and every Python worker it
        started has ended; stragglers get SIGTERM, then SIGKILL."""
        from tracing import process_tree

        started = set(process_tree()) - {os.getpid()}
        if self.spark is not None:
            from pyspark import SparkContext

            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None)
            self.spark.stop()
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits at end of input
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        # every process of the tree must end: wait, then signal
        for sig in (signal.SIGTERM, signal.SIGKILL):
            started = _wait_gone(started, 10.0)
            for p in started:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        _wait_gone(started, 10.0)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return False
    return raw[raw.rfind(")") + 2] != "Z"


def _wait_gone(pids: set[int], timeout: float) -> set[int]:
    """Poll until every pid has exited -> the ones still running."""
    deadline = time.monotonic() + timeout
    while True:
        pids = {p for p in pids if _alive(p)}
        if not pids or time.monotonic() > deadline:
            return pids
        time.sleep(0.05)


def summarize(bench: Bench, passes: list[dict], check: dict):
    from metrics import median, tail
    from tracing import PER_LAYER

    good = [p for p in passes if not p["failed"]]
    timed = [p for p in passes if not p["traced"]]
    timed_good = [p for p in timed if not p["failed"]] or timed
    lats = [v for p in timed for v in p["latencies"].values()]
    t_val, t_pct, t_n = tail(lats)
    e2e = {
        "setup_s": bench.setup_s,
        "pass_s": median([p["wall_s"] for p in timed_good]),
        "query_p50_s": median(lats),
        "cpu_s": median([p["cpu_s"] for p in timed_good]),
        "py_peak_rss_mb": sum(
            v for k, v in bench.peak_rss_by_name.items() if k != "java"
        ),
        "peak_rss_mb": sum(bench.peak_rss_by_name.values()),
    }
    report = {
        "workload": bench.workload.name,
        "context": bench.ctx,
        "failed_frac": bench.tally.failed_frac,
        "attempted": bench.tally.attempted,
        "failed": bench.tally.failed,
        "failures": bench.failures[:20],
        "passes": len(passes),
        "failed_passes": len(passes) - len(good),
        "pass_walls_s": [round(p["wall_s"], 4) for p in passes],
        "pass_cpu_s": [round(p["cpu_s"], 3) for p in passes],
        "pass_jit_cpu_s": [round(p["jit_cpu_s"], 3) for p in passes],
        "peak_rss_mb_by_process": bench.peak_rss_by_name,
        # too few samples leave no percentile with ten beyond it
        "query_tail_s": None if math.isnan(t_val) else t_val,
        "query_tail_percentile": None if math.isnan(t_pct) else t_pct,
        "query_tail_samples": t_n,
        "session_start_s": bench.session_start_s,
        "staging_s": bench.staging_s,
        "check": check,
        "per_query_p50_s": {
            q: round(median([p["latencies"][q] for p in timed]), 4)
            for q in bench.queries
        },
        "end_to_end": e2e,
    }
    if not bench.args.trace:
        return {n: (e2e[n], u) for n, u in END_TO_END}, report

    tr = bench.tracer
    traced = {p["pass"] for p in passes if p["traced"]}
    layer = tr.pass_sums(traced)
    untraced_walls = [p["wall_s"] for p in passes if not p["traced"]]
    traced_walls = [p["wall_s"] for p in passes if p["traced"]]
    layer["session.start_s"] = bench.session_start_s
    layer["stats.footer_hit_ratio"] = tr.footer_hit_ratio()
    layer["streaming.batch_ms_p50"] = tr.batch_ms_p50()
    layer["trace.overhead_s"] = median(traced_walls) - median(untraced_walls)
    metrics = {n: (layer[n], u) for n, u in PER_LAYER}
    report["per_layer"] = layer
    report["per_query_layers"] = tr.per_query()
    out_dir = os.path.join(bench.repo, ".perfbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(
        out_dir, f"{bench.workload.name}-seed{bench.args.seed}-trace.json"
    )
    with open(path, "w") as f:
        json.dump({"report": report, "spans": tr.spans}, f, default=str)
    report["spans_file"] = os.path.relpath(path, bench.repo)
    return metrics, report


def main(argv=None) -> int:
    args = parse_args(argv)
    repo = os.getcwd()
    needed = ("__spark_entry__.py", "gemmsql", "tools/driver_check.py")
    if not all(os.path.exists(os.path.join(repo, n)) for n in needed):
        print("perfbench: run from the gemmsql repository root "
              "(__spark_entry__.py, gemmsql/ and tools/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, repo)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    def on_alarm(signum, frame):
        raise QueryTimeout()

    signal.signal(signal.SIGALRM, on_alarm)
    root = prepare_env(repo)
    bench = Bench(args, repo, root)
    phases = {}  # wall seconds of each step, for the report
    last = [time.perf_counter()]

    def step(name):
        now = time.perf_counter()
        phases[name] = round(now - last[0], 3)
        last[0] = now

    try:
        bench.setup()
        step("setup")
        check = bench.check()
        step("check")
        if args.trace:
            from tracing import Tracer

            bench.tracer = Tracer(bench.spark)
            bench.tracer.install()
        passes = bench.passes()
        step("passes")
        bench.finish()
    finally:
        bench.shutdown()
        shutil.rmtree(root, ignore_errors=True)
    step("shutdown")
    metrics, report = summarize(bench, passes, check)
    report["phase_s"] = phases
    from metrics import result_line

    correct = all(c["ok"] for c in check.values()) and bench.tally.failed == 0
    print(json.dumps(report, default=str))
    print(result_line(correct, bench.tally, metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
