"""Pure helpers for the benchmark: summaries, failure tallies and Spark
SQL-metric parsing.  No Spark import, so the unit
tests in ``test_perfbench.py`` exercise them without a session."""

from __future__ import annotations

import json
import math
import re
import statistics
from dataclasses import dataclass

TAIL_BEYOND = 10  # samples that must lie beyond the reported tail


def median(values) -> float:
    vals = [v for v in values if v is not None and not math.isnan(v)]
    return statistics.median(vals) if vals else float("nan")


def tail(values, beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """Latency at the highest percentile that has at least ``beyond``
    samples above it -> ``(value, percentile, n)``.

    With ``n`` sorted samples the value at 1-based rank ``n - beyond``
    has exactly ``beyond`` samples after it; its percentile is
    ``100 * (n - beyond) / n``.  Fewer than ``beyond + 1`` samples have
    no such percentile and give ``(nan, nan, n)``."""
    vals = sorted(values)
    n = len(vals)
    if n <= beyond:
        return float("nan"), float("nan"), n
    rank = n - beyond
    return vals[rank - 1], 100.0 * rank / n, n


@dataclass
class Tally:
    """Attempted and failed query executions.  Every attempt lands here
    exactly once; a failure is never dropped from the denominator."""

    attempted: int = 0
    failed: int = 0

    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


_SIZE_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "EiB": 2**60, "PiB": 2**50,
}
_TIME_UNITS = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0,
               "h": 3600.0}
_VALUE_RE = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_sql_metric(text: str | None, metric_type: str) -> float:
    """Total of a Spark SQL UI metric string, in bytes for ``size``,
    seconds for ``timing``/``nsTiming`` and a plain number otherwise.

    Spark renders a multi-task metric as a header line
    ``total (min, med, max (stageId: taskId))`` followed by
    ``<total> (<min>, <med>, <max> (...))``; a single value has no
    header.  Only the total is read."""
    if not text:
        return 0.0
    line = text.strip().splitlines()[-1]
    m = _VALUE_RE.search(line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2) or ""
    if metric_type == "size":
        return num * _SIZE_UNITS.get(unit, 1)
    if metric_type in ("timing", "nsTiming"):
        return num * _TIME_UNITS.get(unit, 1e-3)
    return num


def result_line(correct: bool, tally: Tally, metrics: dict) -> str:
    """The benchmark's last stdout line: exactly ``correct``,
    ``attempted``, ``failed`` and ``metrics``."""
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(tally.attempted),
        "failed": int(tally.failed),
        "metrics": {
            k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
        },
    })
