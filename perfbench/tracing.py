"""Per-layer tracing, measured from outside the engine.

Every number comes from one of four outside vantage points; no engine
code changes:

- wrappers around the public functions of ``gemmsql.stats`` and the
  table-log read/commit functions of ``gemmsql.pipeline.tablelog``;
- Spark's status store (jobs and stages) and SQL status store (plan
  graphs and their SQL metrics), read over py4j after the listener bus
  drains, and the JVM's garbage-collector beans;
- a Python ``StreamingQueryListener`` that keeps one record per
  micro-batch progress event;
- ``/proc`` for CPU time and resident memory of the whole process tree
  (Python driver, JVM, Python workers).

Spans stay in memory, one per query execution with ``build`` and
``execute`` children, and are written out when the run ends.
"""

from __future__ import annotations

import os
import sys
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

from metrics import median, parse_sql_metric

MB = 1024.0 * 1024.0

# layer -> public functions timed from outside; nested calls inside one
# layer count once (the outermost call)
STATS_FUNCS = (
    "embeddings_stats", "table_rows", "table_col_max", "frame_rows",
    "rows_for_choice", "frame_list_dim", "list_dim",
)
TABLELOG_READ_FUNCS = (
    "read_log", "snapshot_files", "snapshot_read",
    "partition_candidate_files",
)
TABLELOG_COMMIT_FUNCS = ("commit_actions", "write_checkpoint")

# plan nodes that run Python workers over Arrow batches
PY_NODES = (
    "MapInPandas", "MapInArrow", "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas", "ArrowEvalPython", "BatchEvalPython",
    "AggregateInPandas", "WindowInPandas", "FlatMapGroupsInPandasWithState",
    "ArrowEvalPythonUDTF", "BatchEvalPythonUDTF",
)
PY_METRICS = {
    "time to run Python workers": "pyworker.run_s",
    "data sent to Python workers": "pyworker.sent_mb",
    "data returned from Python workers": "pyworker.returned_mb",
    "number of output rows": "pyworker.rows_out",
}

# per-layer metrics summed over a pass (median over traced passes)
PASS_SUMS = (
    ("driver.build_s", "s"), ("driver.build_jobs", "count"),
    ("stats.calls", "count"), ("stats.s", "s"),
    ("stats.count_fallbacks", "count"),
    ("tablelog.read_calls", "count"), ("tablelog.read_s", "s"),
    ("tablelog.commit_calls", "count"), ("tablelog.commit_s", "s"),
    ("pyworker.run_s", "s"), ("pyworker.sent_mb", "MB"),
    ("pyworker.returned_mb", "MB"), ("pyworker.rows_out", "count"),
    ("jvm.jobs", "count"), ("jvm.stages", "count"), ("jvm.tasks", "count"),
    ("jvm.executor_run_s", "s"), ("jvm.executor_cpu_s", "s"),
    ("jvm.gc_s", "s"), ("jvm.input_mb", "MB"),
    ("jvm.shuffle_read_mb", "MB"), ("jvm.shuffle_write_mb", "MB"),
    ("jvm.exchanges", "count"),
    ("streaming.batches", "count"), ("streaming.add_batch_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"), ("streaming.commit_offsets_ms", "ms"),
    ("streaming.query_planning_ms", "ms"),
    ("streaming.latest_offset_ms", "ms"), ("streaming.get_batch_ms", "ms"),
    ("streaming.state_commit_ms", "ms"), ("streaming.state_rows", "count"),
    ("streaming.input_rows", "count"),
)
# reported once per run
RUN_LEVEL = (
    ("session.start_s", "s"), ("stats.footer_hit_ratio", "ratio"),
    ("streaming.batch_ms_p50", "ms"), ("trace.overhead_s", "s"),
)
PER_LAYER = PASS_SUMS + RUN_LEVEL

_DURATIONS = {
    "addBatch": "streaming.add_batch_ms",
    "walCommit": "streaming.wal_commit_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
    "queryPlanning": "streaming.query_planning_ms",
    "latestOffset": "streaming.latest_offset_ms",
    "getBatch": "streaming.get_batch_ms",
}


# ---------------------------------------------------------------- /proc

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, cpu seconds incl. reaped children) for all pids."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        rest = raw[raw.rfind(")") + 2:].split()
        # fields after "(comm)": state ppid ... utime(14) stime cutime cstime
        cpu = sum(int(x) for x in rest[11:15]) / _TICK
        out[int(d)] = (int(rest[1]), cpu)
    return out


def process_tree(root: int | None = None) -> dict[int, float]:
    """pid -> cpu seconds for ``root`` and every descendant."""
    root = root or os.getpid()
    table = _proc_table()
    kids = defaultdict(list)
    for pid, (ppid, _) in table.items():
        kids[ppid].append(pid)
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in table and pid not in tree:
            tree[pid] = table[pid][1]
            todo.extend(kids.get(pid, ()))
    return tree


def tree_cpu_s() -> float:
    """CPU seconds of the live process tree.  A worker that exits and is
    reaped by a parent inside the tree moves into the parent's cutime,
    so differences of this total stay exact across worker churn."""
    return sum(process_tree().values())


def jit_cpu_s(pid: int | None) -> float:
    """CPU seconds of the JVM's JIT compiler threads.  Exact only when
    the JVM keeps its compiler threads for its whole life
    (``-XX:-UseDynamicNumberOfCompilerThreads``): the time of a thread
    that has exited stays in the process total but leaves this sum."""
    if pid is None:
        return 0.0
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if "CompilerThre" not in f.read():
                    continue
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        # fields after "(comm)": ... utime(11) stime(12)
        total += sum(int(x) for x in raw[raw.rfind(")") + 2:].split()[11:13])
    return total / _TICK


def tree_peak_rss_mb() -> dict[str, float]:
    """Peak resident set (VmHWM) of each live tree process, summed by
    process name (``java``, ``python3``, ...)."""
    out: dict[str, float] = defaultdict(float)
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                name = f.readline().split()[1]
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[name] += int(line.split()[1]) / 1024.0
                        break
        except (OSError, IndexError):
            continue
    return dict(out)


# ------------------------------------------------------- streaming listener

def make_progress_recorder():
    """A ``StreamingQueryListener`` that keeps one dict per micro-batch
    progress event in ``.records``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressRecorder(StreamingQueryListener):
        def __init__(self):
            self.records: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            ops = list(p.stateOperators or [])
            self.records.append({
                "query": p.name,
                "run_id": str(p.runId),
                "batch_id": p.batchId,
                "input_rows": p.numInputRows,
                "duration_ms": dict(p.durationMs or {}),
                "state_commit_ms": sum(o.commitTimeMs for o in ops),
                "state_rows_updated": sum(o.numRowsUpdated for o in ops),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressRecorder()


def streaming_counters(records: list[dict]) -> dict[str, float]:
    """Per-phase sums over progress records; ``state_rows`` counts the
    state rows the batches updated."""
    c = {
        "streaming.batches": float(len(records)),
        "streaming.state_commit_ms": float(
            sum(r["state_commit_ms"] for r in records)
        ),
        "streaming.state_rows": float(
            sum(r["state_rows_updated"] for r in records)
        ),
        "streaming.input_rows": float(sum(r["input_rows"] for r in records)),
    }
    for key, name in _DURATIONS.items():
        c[name] = float(sum(r["duration_ms"].get(key, 0) for r in records))
    return c


# ---------------------------------------------------------------- tracer

class Tracer:
    """Spans and per-layer counters for one benchmark process.

    Attribution relies on the closed loop: one client thread issues one
    query at a time, so every Spark job and SQL execution that appears
    between a span's start and end belongs to that span, including the
    jobs a streaming query runs on its own micro-batch thread."""

    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self.spans: list[dict] = []
        self._jsc = spark._jsc.sc()
        self._jvm = spark._jvm
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._last_job = self._newest_job()
        self._last_exec = self._newest_exec()
        self._counters: dict[str, float] = defaultdict(float)
        self._depth: dict[str, int] = defaultdict(int)
        self._probe = None
        self.stats_answers = 0
        self.stats_calls = 0
        self.listener = make_progress_recorder()

    # -- wrappers around layer functions --------------------------------

    def install(self) -> None:
        """Wrap the layer functions wherever a loaded engine module holds
        a reference to them, and register the streaming listener."""
        import gemmsql.pipeline.tablelog as tablelog
        import gemmsql.stats as stats

        targets = [(stats, f, "stats") for f in STATS_FUNCS]
        read_funcs = TABLELOG_READ_FUNCS + tuple(
            n for n in vars(tablelog) if n.startswith("snapshot_read_")
        )
        targets += [(tablelog, f, "tablelog.read") for f in read_funcs]
        targets += [
            (tablelog, f, "tablelog.commit") for f in TABLELOG_COMMIT_FUNCS
        ]
        engine = [
            m for n, m in list(sys.modules.items())
            if m is not None
            and (n == "gemmsql" or n.startswith("gemmsql.")
                 or n == "__spark_entry__")
        ]
        for mod, fname, layer in targets:
            orig = getattr(mod, fname, None)
            if orig is None:
                continue
            wrapped = self._wrap(orig, fname, layer)
            for m in engine:
                for attr, val in list(vars(m).items()):
                    if val is orig:
                        setattr(m, attr, wrapped)
        self.spark.streams.addListener(self.listener)

    def _wrap(self, orig, fname: str, layer: str):
        tracer = self

        def wrapped(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            if tracer._depth[layer]:
                out = orig(*args, **kwargs)
                if fname in ("frame_rows", "frame_list_dim"):
                    tracer._probe = out
                return out
            tracer._depth[layer] += 1
            tracer._probe = "unset"
            t0 = time.perf_counter()
            try:
                out = orig(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                tracer._depth[layer] -= 1
            tracer._count(layer, fname, dt, out)
            return out

        wrapped.__wrapped__ = orig
        return wrapped

    def _count(self, layer: str, fname: str, dt: float, out) -> None:
        c = self._counters
        if layer == "stats":
            c["stats.calls"] += 1
            c["stats.s"] += dt
            self.stats_calls += 1
            if fname in ("frame_rows", "frame_list_dim"):
                answered = out is not None
            elif fname in ("rows_for_choice", "list_dim"):
                # the inner footer probe returned None -> a Spark job ran
                answered = self._probe is not None
                if fname == "rows_for_choice" and not answered:
                    c["stats.count_fallbacks"] += 1
            else:
                answered = True
            self.stats_answers += int(answered)
        elif layer == "tablelog.read":
            c["tablelog.read_calls"] += 1
            c["tablelog.read_s"] += dt
        else:
            c["tablelog.commit_calls"] += 1
            c["tablelog.commit_s"] += dt

    # -- spans ----------------------------------------------------------

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def _gc_s(self) -> float:
        """Collection seconds of the JVM so far.  In local mode the
        driver and the executor share it; task-level GC time misses the
        pauses that fall between short tasks."""
        beans = self._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(
            beans.get(i).getCollectionTime() for i in range(beans.size())
        ) / 1e3

    def _newest_job(self) -> int:
        jobs = self._store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _newest_exec(self) -> int:
        n = self._sql.executionsCount()
        return self._sql.executionsList(n - 1, 1).apply(0).executionId() \
            if n else -1

    def _new_exec_ids(self) -> list[int]:
        """Ids of the SQL executions newer than ``_last_exec``.  The
        store lists executions by ascending id and evicts the oldest in
        bulk past ``spark.sql.ui.retainedExecutions``, so positions shift
        while ids do not: read a growing tail until it reaches back to an
        id already seen."""
        total = self._sql.executionsCount()
        n = 8
        while True:
            off = max(0, total - n)
            execs = self._sql.executionsList(off, total - off)
            ids = [execs.apply(i).executionId() for i in range(execs.size())]
            if off == 0 or (ids and ids[0] <= self._last_exec):
                break
            n *= 4
        new = [e for e in ids if e > self._last_exec]
        if new:
            self._last_exec = max(new)
        return new

    def start(self, query: str, pass_no: int) -> dict:
        # skip whatever ran since the last span (untraced passes)
        self._drain()
        self._last_job = self._newest_job()
        self._last_exec = self._newest_exec()
        group = f"perfbench-{len(self.spans)}-{query}"
        self.spark.sparkContext.setJobGroup(group, f"perfbench {query}")
        self._counters = defaultdict(float)
        span = {
            "span": len(self.spans), "query": query, "pass": pass_no,
            "group": group, "n_records": len(self.listener.records),
            "gc0": self._gc_s(), "start": time.perf_counter(),
            "children": [],
        }
        return span

    def built(self, span: dict) -> None:
        span["t_built"] = time.perf_counter()
        self._drain()
        span["build_last_job"] = self._newest_job()

    def end(self, span: dict, ok: bool) -> dict:
        t_end = time.perf_counter()
        t_built = span.pop("t_built", t_end)
        span["end"] = t_end
        span["ok"] = ok
        span["children"] = [
            {"name": "build", "start": span["start"], "end": t_built},
            {"name": "execute", "start": t_built, "end": t_end},
        ]
        self._drain()
        c = self._counters
        c["driver.build_s"] = t_built - span["start"]
        c["jvm.gc_s"] = self._gc_s() - span.pop("gc0")
        build_last = span.pop("build_last_job", self._last_job)
        self._read_jobs(c, build_last)
        self._read_executions(c)
        recs = self.listener.records[span.pop("n_records"):]
        c.update(streaming_counters(recs))
        span["batch_ms"] = [
            r["duration_ms"].get("triggerExecution", 0) for r in recs
        ]
        span["counters"] = {k: c.get(k, 0.0) for k, _ in PASS_SUMS}
        self.spark.sparkContext.setJobGroup("perfbench-idle", "")
        self.spans.append(span)
        return span

    def _read_jobs(self, c, build_last: int) -> None:
        jobs = self._store.jobsList(None)
        newest = self._last_job
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            if jid <= self._last_job:
                break
            newest = max(newest, jid)
            c["jvm.jobs"] += 1
            if jid <= build_last:
                c["driver.build_jobs"] += 1
            sids = job.stageIds()
            for k in range(sids.size()):
                try:
                    st = self._store.lastStageAttempt(sids.apply(k))
                except Py4JJavaError:  # never attempted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                c["jvm.stages"] += 1
                c["jvm.tasks"] += st.numTasks()
                c["jvm.executor_run_s"] += st.executorRunTime() / 1e3
                c["jvm.executor_cpu_s"] += st.executorCpuTime() / 1e9
                c["jvm.input_mb"] += st.inputBytes() / MB
                c["jvm.shuffle_read_mb"] += st.shuffleReadBytes() / MB
                c["jvm.shuffle_write_mb"] += st.shuffleWriteBytes() / MB
        self._last_job = newest

    def _read_executions(self, c) -> None:
        Long = self._jvm.java.lang.Long
        for eid in self._new_exec_ids():
            try:
                nodes = self._sql.planGraph(eid).allNodes()
                values = self._sql.executionMetrics(eid)
            except Py4JJavaError:  # evicted from the status store
                continue
            for n in range(nodes.size()):
                node = nodes.apply(n)
                name = node.name()
                if name.endswith("Exchange") and not name.startswith("Reused"):
                    c["jvm.exchanges"] += 1
                if name not in PY_NODES:
                    continue
                ms = node.metrics()
                for m in range(ms.size()):
                    metric = ms.apply(m)
                    key = PY_METRICS.get(metric.name())
                    if key is None:
                        continue
                    opt = values.get(Long.valueOf(metric.accumulatorId()))
                    text = opt.get() if opt.isDefined() else None
                    val = parse_sql_metric(text, metric.metricType())
                    if key.endswith("_mb"):
                        val /= MB
                    c[key] += val

    # -- summaries ------------------------------------------------------

    def pass_sums(self, passes: set[int]) -> dict[str, float]:
        """Median over the given passes of each per-pass counter sum."""
        per_pass: dict[int, dict[str, float]] = {
            p: defaultdict(float) for p in passes
        }
        for s in self.spans:
            if s["pass"] in per_pass:
                for k, v in s["counters"].items():
                    per_pass[s["pass"]][k] += v
        return {
            k: median([per_pass[p][k] for p in passes]) if passes else 0.0
            for k, _ in PASS_SUMS
        }

    def per_query(self) -> dict[str, dict[str, float]]:
        """Median of each counter per query over its traced spans."""
        by_q: dict[str, list[dict]] = defaultdict(list)
        for s in self.spans:
            by_q[s["query"]].append(s)
        out = {}
        for q, spans in by_q.items():
            row = {
                k: median([s["counters"][k] for s in spans])
                for k, _ in PASS_SUMS
            }
            row["latency_s"] = median([s["end"] - s["start"] for s in spans])
            row["failed"] = sum(not s["ok"] for s in spans)
            out[q] = row
        return out

    def batch_ms_p50(self) -> float:
        vals = [v for s in self.spans for v in s["batch_ms"]]
        return median(vals) if vals else 0.0

    def footer_hit_ratio(self) -> float:
        if not self.stats_calls:
            return 0.0
        return self.stats_answers / self.stats_calls
