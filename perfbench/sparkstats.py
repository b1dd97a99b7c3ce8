"""Engine-side readings for the traced run: scheduler counters, Catalyst
phase times, stage and SQL metrics from the UI REST API, and streaming
progress from a ``StreamingQueryListener``.

Stages and jobs are attributed to a query and phase by the scheduler's
next-stage and next-job ids read at each phase boundary. Ids grow
monotonically, and the benchmark runs one query at a time, so every stage
created between two boundaries belongs to that phase, including stages
submitted from pool threads (``force_pins``) that carry no job group.
"""

from __future__ import annotations

import json
import re
import statistics
import threading
import urllib.request

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener


class Scheduler:
    """Counters read from the driver's ``DAGScheduler`` and listener bus."""

    def __init__(self, spark: SparkSession) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._dag = self._sc.dagScheduler()

    def next_ids(self) -> tuple[int, int]:
        """(next job id, next stage id)."""
        return int(self._dag.nextJobId()), int(self._dag.nextStageId())

    def next_job_id(self) -> int:
        return int(self._dag.nextJobId())

    def drain_listeners(self) -> None:
        """Block until every posted listener event has been delivered."""
        self._sc.listenerBus().waitUntilEmpty()


def plan_phases_ms(df: DataFrame) -> dict[str, float]:
    """Force physical planning of ``df`` and return Catalyst's phase times.

    The same ``QueryExecution`` then runs the action, so its planning is
    not repeated inside the timed action.
    """
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for key, name in (
        ("analysis", "analysis"),
        ("optimization", "optimization"),
        ("planning", "physical"),
    ):
        opt = phases.get(key)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


class Progress(StreamingQueryListener):
    """Keeps every streaming progress event until :meth:`take` is called."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._events: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        record = {
            "run_id": str(p.runId),
            "name": p.name,
            "batch_id": p.batchId,
            "duration_ms": dict(p.durationMs or {}),
            "state": [
                {
                    "rows": s.numRowsTotal,
                    "memory_bytes": s.memoryUsedBytes,
                    "commit_ms": s.commitTimeMs,
                }
                for s in (p.stateOperators or [])
            ],
        }
        with self._lock:
            self._events.append(record)

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> list[dict]:
        """Events received since the previous call (drain the bus first)."""
        with self._lock:
            out, self._events = self._events, []
        return out


_SIZE = re.compile(r"([0-9.]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = re.compile(r"([0-9.]+)\s*(ms|s|m|h)\b")
_TIME_UNITS = {"ms": 0.001, "s": 1.0, "m": 60.0, "h": 3600.0}


def _ui_total(text: str, pattern: re.Pattern, units: dict[str, float]) -> float:
    """Total of a UI metric string ("total (min, med, max ...)\n1.2 MiB (...)")."""
    m = pattern.search(text.split("\n", 1)[-1])
    return float(m.group(1)) * units[m.group(2)] if m else 0.0


#: Python-exec node metric name -> (key, pattern, units)
_PYTHON_METRICS = {
    "data sent to Python workers": ("sent_bytes", _SIZE, _SIZE_UNITS),
    "data returned from Python workers": ("received_bytes", _SIZE, _SIZE_UNITS),
    "time to run Python workers": ("run_s", _TIME, _TIME_UNITS),
}


class Rest:
    """Reads the application's stage and SQL records over the UI REST API."""

    def __init__(self, spark: SparkSession) -> None:
        sc = spark.sparkContext
        if not sc.uiWebUrl:
            raise RuntimeError("the traced run needs the Spark UI (SPARK_GRAFT_UI=1)")
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=60) as resp:
            return json.load(resp)

    def stages(self) -> dict[int, dict]:
        """Latest attempt of every stage, by stage id."""
        out: dict[int, dict] = {}
        for s in self._get("/stages"):
            prev = out.get(s["stageId"])
            if prev is None or s["attemptId"] > prev["attemptId"]:
                out[s["stageId"]] = s
        return out

    def sql_executions(self) -> list[tuple[set[int], float]]:
        """(job ids, duration in s) of every SQL execution."""
        return [
            (set(e["successJobIds"]) | set(e["failedJobIds"]), e["duration"] / 1000)
            for e in self._get("/sql?details=false&offset=0&length=1000000")
        ]

    def task_skew(self, stage: dict) -> float:
        """Max task run time divided by the median, for one stage."""
        q = self._get(
            f"/stages/{stage['stageId']}/{stage['attemptId']}/taskSummary?quantiles=0.5,1.0"
        )["executorRunTime"]
        return q[1] / q[0] if q[0] > 0 else 1.0

    def max_sql_id(self) -> int:
        ids = [e["id"] for e in self._get("/sql?offset=0&length=1000000")]
        return max(ids, default=-1)

    def python_metrics(self, after_id: int) -> dict[str, float]:
        """Bytes sent to and received from Python workers, and their run
        time, summed over the SQL executions with id above ``after_id``."""
        out = {key: 0.0 for key, _, _ in _PYTHON_METRICS.values()}
        for e in self._get("/sql?details=true&offset=0&length=1000000"):
            if e["id"] <= after_id:
                continue
            for node in e.get("nodes", []):
                for m in node.get("metrics", []):
                    spec = _PYTHON_METRICS.get(m["name"])
                    if spec:
                        out[spec[0]] += _ui_total(m["value"], spec[1], spec[2])
        return out


def percentile(values: list[float], q: float) -> float:
    """Inclusive-method percentile (q in (0, 1)); 0.0 for no values."""
    if not values:
        return 0.0
    if len(values) == 1:
        return float(values[0])
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]
