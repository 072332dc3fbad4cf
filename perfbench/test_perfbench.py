"""Tests for the benchmark's own logic.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

Run from the repository root.  Only the listener test starts Spark.
"""

from __future__ import annotations

import json
import math
import os
import re
import sys
import time
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [HERE, REPO]

import run  # noqa: E402
from metrics import Tally, parse_sql_metric, result_line, tail  # noqa: E402
from tracing import (  # noqa: E402
    PER_LAYER, make_progress_recorder, streaming_counters,
)
from workloads import WORKLOADS  # noqa: E402

# the benchmark contract's naming rules
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def valid_name(name: str) -> bool:
    return bool(NAME_RE.match(name))


def valid_unit(unit: str) -> bool:
    return bool(UNIT_RE.match(unit))


def _bench_json():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------- names

def test_metric_names_and_units_are_valid():
    b = _bench_json()
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    names += [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    assert all(valid_name(n) for n in names)
    for m in b["end_to_end"] + b["per_layer"]:
        assert valid_unit(m["unit"]), m
        assert m["better"] in ("lower", "higher")
    for m in b["end_to_end"]:
        assert 0 < m["bound"] <= 0.25


def test_benchmark_json_matches_the_code():
    b = _bench_json()
    assert [(m["name"], m["unit"]) for m in b["end_to_end"]] == list(
        run.END_TO_END
    )
    assert [(m["name"], m["unit"]) for m in b["per_layer"]] == list(PER_LAYER)
    names = [w["name"] for w in b["workloads"]]
    # every workload but the on-demand full registry is in the benchmark
    assert names + ["registry"] == list(WORKLOADS)
    for w in b["workloads"]:
        assert w["why"] == WORKLOADS[w["name"]].why
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


def test_name_rules():
    assert valid_name("jvm.shuffle_read_mb")
    assert not valid_name("_leading")
    assert not valid_name("x" * 65)
    assert not valid_name("has space")
    assert valid_unit("1/s") and valid_unit("%") and not valid_unit("m s")


# ------------------------------------------------------------- tail rule

def test_tail_has_ten_samples_beyond_it():
    vals = list(range(1, 101))  # 1..100
    v, pct, n = tail(vals)
    assert (v, pct, n) == (90, 90.0, 100)
    assert sum(x > v for x in vals) == 10


def test_tail_with_few_samples_moves_down():
    v, pct, n = tail([5.0, 1.0, 3.0, 2.0, 4.0] * 4)  # 20 samples
    assert n == 20 and pct == 50.0
    assert sorted([5.0, 1.0, 3.0, 2.0, 4.0] * 4)[9] == v


def test_tail_needs_eleven_samples():
    v, pct, n = tail([1.0] * 10)
    assert math.isnan(v) and math.isnan(pct) and n == 10
    assert tail([1.0] * 11)[:2] == (1.0, 100.0 / 11)


# ------------------------------------------------------- failure counting

def test_tally_counts_every_attempt():
    t = Tally()
    for ok in (True, False, True, False, False):
        t.record(ok)
    assert (t.attempted, t.failed) == (5, 3)
    assert t.failed_frac == pytest.approx(0.6)
    line = json.loads(result_line(False, t, {"pass_s": (1.5, "s")}))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert (line["attempted"], line["failed"]) == (5, 3)
    assert line["metrics"]["pass_s"] == {"value": 1.5, "unit": "s"}


class _FakeSpark:
    """Just enough of a session for the query loop."""

    def __init__(self):
        self.sparkContext = types.SimpleNamespace(
            setJobGroup=lambda *a: None, cancelAllJobs=lambda: None
        )
        self.streams = types.SimpleNamespace(active=[])


def _fake_bench(queries, seconds=0.0):
    b = run.Bench.__new__(run.Bench)
    b.args = types.SimpleNamespace(seed=3, seconds=seconds, trace=0)
    b.spark = _FakeSpark()
    b.jvm_pid = None
    b.sf_dir = "unused"
    b.tracer = None
    b.t_run = time.perf_counter()
    b.tally = Tally()
    b.failures = []
    b.queries = queries
    b.workload = types.SimpleNamespace(warm_passes=2)
    return b


class _Frame:
    def __init__(self, sleep=0.0):
        self.sleep = sleep
        self.write = self

    def format(self, _):
        return self

    def mode(self, _):
        return self

    def save(self):
        time.sleep(self.sleep)


def test_failures_are_counted_and_fail_the_pass(monkeypatch):
    import signal

    signal.signal(signal.SIGALRM, lambda *a: (_ for _ in ()).throw(
        run.QueryTimeout()))
    monkeypatch.setattr(run, "QUERY_TIMEOUT_S", 0.2)

    def boom(spark, sf):
        raise RuntimeError("kernel failed")

    bench = _fake_bench({
        "good": lambda s, sf: _Frame(),
        "raises": boom,
        "hangs": lambda s, sf: _Frame(sleep=5.0),
    })
    passes = bench.passes()
    n = run.MIN_PASSES  # the minimum, since --seconds is 0
    assert len(passes) == n
    assert [p["failed"] for p in passes] == [2] * n
    # the untimed warm passes count too
    assert bench.tally.attempted == 3 * (n + 2)
    assert bench.tally.failed == 2 * (n + 2)
    reasons = {f["query"]: f["reason"] for f in bench.failures}
    assert reasons["hangs"] == "timeout"
    assert reasons["raises"].startswith("RuntimeError")
    # the failed queries keep their latency in the pass; nothing is dropped
    assert set(passes[0]["latencies"]) == {"good", "raises", "hangs"}


def test_pass_order_depends_on_seed_only():
    qs = {f"q{i}": (lambda s, sf: _Frame()) for i in range(8)}
    a = _fake_bench(qs).passes()[0]["order"]
    b = _fake_bench(qs).passes()[0]["order"]
    assert a == b and sorted(a) == sorted(qs)


# ------------------------------------------------- SQL execution reads

class _FakeExecStore:
    """The SQL status store's listing calls over a list of ids."""

    def __init__(self, ids):
        self.ids = list(ids)

    def executionsCount(self):
        return len(self.ids)

    def executionsList(self, offset, length):
        page = [types.SimpleNamespace(executionId=lambda e=e: e)
                for e in self.ids[offset:offset + length]]
        return types.SimpleNamespace(size=lambda: len(page),
                                     apply=lambda i: page[i])


def test_new_executions_survive_store_eviction():
    from tracing import Tracer

    tr = Tracer.__new__(Tracer)
    tr._sql = _FakeExecStore(range(1000))
    tr._last_exec = tr._newest_exec()
    assert tr._last_exec == 999
    # 40 new executions arrive and the store evicts its oldest 100:
    # the count drops while 40 ids are new
    tr._sql.ids = list(range(100, 1040))
    assert tr._new_exec_ids() == list(range(1000, 1040))
    assert tr._new_exec_ids() == []
    tr._sql.ids = []
    assert tr._newest_exec() == -1


# ---------------------------------------------------------- SQL metrics

def test_parse_sql_metric_reads_the_total():
    multi = ("total (min, med, max (stageId: taskId))\n"
             "5.6 s (1.8 s, 1.9 s, 1.9 s (stage 2.0: task 3))")
    assert parse_sql_metric(multi, "timing") == pytest.approx(5.6)
    assert parse_sql_metric("6.6 KiB", "size") == pytest.approx(6.6 * 1024)
    assert parse_sql_metric("1,000", "sum") == 1000
    assert parse_sql_metric("250 ms", "timing") == pytest.approx(0.25)
    assert parse_sql_metric(None, "size") == 0.0


# ------------------------------------------------------------- listener

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    pytest.importorskip("pyspark")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    from gemmsql import get_spark

    s = get_spark("perfbench-tests", shuffle_partitions=4)
    yield s
    s.stop()


def test_listener_records_one_progress_per_micro_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    for k in range(3):
        df = spark.range(k * 10, k * 10 + 10).coalesce(1)
        df.write.mode("append").parquet(src)
    rec = make_progress_recorder()
    spark.streams.addListener(rec)
    try:
        q = (
            spark.readStream.schema("id long")
            .option("maxFilesPerTrigger", "1").parquet(src)
            .writeStream.format("memory").queryName("perfbench_listener")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        spark._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    finally:
        spark.streams.removeListener(rec)
    mine = [r for r in rec.records if r["query"] == "perfbench_listener"]
    n_files = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    assert [r["batch_id"] for r in mine] == list(range(n_files))
    c = streaming_counters(mine)
    assert c["streaming.batches"] == n_files
    assert c["streaming.input_rows"] == 30
    assert c["streaming.add_batch_ms"] > 0
