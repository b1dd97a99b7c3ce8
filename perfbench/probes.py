"""Per-layer readings of the traced run.

:class:`Probes` hooks each query boundary of :class:`run.Bench` (scheduler
ids, process-tree CPU, Catalyst phase times, streaming progress) and, after
the last pass, turns the records, the spans of :mod:`tracing` and the stage
and SQL records read over REST into the per-layer metrics of
``design.json``. Every sum is reported per measured pass.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import asdict

from procfs import ProcessTree
from sparkstats import Progress, Rest, Scheduler, percentile, plan_phases_ms
from tracing import LAYERS, Tracer

MB = 2**20
#: Stages whose task-time spread is inspected for ``exec.task_skew``: the
#: longest ones, where skew costs wall time.
SKEW_STAGES = 20


class Probes:
    def __init__(self, spark, tree: ProcessTree, tracer: Tracer) -> None:
        self.spark = spark
        self.tree = tree
        self.tracer = tracer
        self.sched = Scheduler(spark)
        self.rest = Rest(spark)
        self.progress = Progress()
        spark.streams.addListener(self.progress)
        tracer.job_counter = self.sched.next_job_id
        self.cores = spark.sparkContext.defaultParallelism
        self._sql0 = -1
        self._stage0 = 0
        self._span0 = 0

    # -- query boundaries ------------------------------------------------
    def before_query(self, name: str, pass_no: int, rec: dict) -> None:
        self.tracer.query, self.tracer.pass_no = name, pass_no
        rec["ids0"] = self.sched.next_ids()

    def after_build(self, rec: dict) -> None:
        rec["ids1"] = self.sched.next_ids()
        rec["cpu1"] = self.tree.snapshot()["cpu_s"]

    def plan(self, df, rec: dict) -> None:
        rec["phases_ms"] = plan_phases_ms(df)

    def after_query(self, rec: dict) -> None:
        rec["ids2"] = self.sched.next_ids()
        rec.setdefault("ids1", rec["ids2"])
        rec.setdefault("cpu1", rec["cpu2"])
        self.sched.drain_listeners()
        rec["progress"] = self.progress.take()

    def after_pass(self) -> dict:
        return {
            "catalog_tables": len(self.spark.catalog.listTables()),
            "cached_rdds": len(self.spark.sparkContext._jsc.getPersistentRDDs()),
        }

    def start_measuring(self) -> None:
        """Mark the end of set-up: later stages, SQL executions and spans
        belong to measured passes."""
        self._sql0 = self.rest.max_sql_id()
        self._stage0 = self.sched.next_ids()[1]
        self._span0 = len(self.tracer.spans)

    # -- summary ---------------------------------------------------------
    def per_layer(self, bench, e2e: dict, units: dict[str, str]) -> dict:
        recs = bench.records
        n_pass = len(bench.passes)
        m: dict[str, float] = {}

        def per_pass(total: float) -> float:
            return total / n_pass

        m["build.wall_s"] = per_pass(sum(r["build_s"] for r in recs))
        m["build.jobs"] = per_pass(sum(r["ids1"][0] - r["ids0"][0] for r in recs))
        m["build.cpu_s"] = per_pass(sum(r["cpu1"] - r["cpu0"] for r in recs))
        m["planning.wall_s"] = per_pass(sum(r["plan_s"] for r in recs))
        for phase in ("analysis", "optimization", "physical"):
            m[f"planning.{phase}_ms"] = per_pass(
                sum(r.get("phases_ms", {}).get(phase, 0.0) for r in recs)
            )
        m["exec.wall_s"] = per_pass(sum(r["action_s"] for r in recs))
        m["exec.jobs"] = per_pass(sum(r["ids2"][0] - r["ids1"][0] for r in recs))
        m["exec.cpu_s"] = per_pass(sum(r["cpu2"] - r["cpu1"] for r in recs))

        spans = self.tracer.spans[self._span0 :]
        src = [s for s in spans if s.layer == "sources"]
        m["sources.calls"] = per_pass(len(src))
        m["sources.wall_s"] = per_pass(sum(s.end - s.start for s in src))
        m["sources.jobs"] = per_pass(sum(s.jobs for s in src))
        for layer in LAYERS:
            if layer.startswith("operators."):
                mine = [s for s in spans if s.layer == layer]
                m[f"{layer}.self_s"] = per_pass(sum(s.self_s for s in mine))
                m[f"{layer}.calls"] = per_pass(len(mine))

        m.update(self._stage_metrics(bench, n_pass))

        m["streaming.run_wall_s"] = per_pass(
            sum(s.end - s.start for s in spans if s.layer == "streaming")
        )
        events = [e for r in recs for e in r["progress"]]
        batches = [e["duration_ms"].get("triggerExecution", 0.0) for e in events]
        m["streaming.batches"] = per_pass(len(events))
        for key, name in (
            ("addBatch", "add_batch_ms"),
            ("queryPlanning", "query_planning_ms"),
            ("walCommit", "wal_commit_ms"),
        ):
            m[f"streaming.{name}"] = per_pass(sum(e["duration_ms"].get(key, 0.0) for e in events))
        m["streaming.state_commit_ms"] = per_pass(
            sum(s["commit_ms"] for e in events for s in e["state"])
        )
        # State size of a stream is its last report; streams are keyed by
        # runId, which is unique per start even when names repeat.
        last: dict[str, dict] = {}
        for e in events:
            last[e["run_id"]] = e
        m["streaming.state_rows"] = per_pass(
            sum(s["rows"] for e in last.values() for s in e["state"])
        )
        m["streaming.state_memory_mb"] = per_pass(
            sum(s["memory_bytes"] for e in last.values() for s in e["state"]) / MB
        )
        m["batch_ms.p50"] = percentile(batches, 0.5)
        m["batch_ms.p90"] = percentile(batches, 0.9)

        m["python_workers.cpu_s"] = statistics.median(
            p["python_workers_cpu_s"] for p in bench.passes
        )
        py = self.rest.python_metrics(self._sql0)
        m["python_workers.run_s"] = per_pass(py["run_s"])
        m["python_workers.sent_mb"] = per_pass(py["sent_bytes"] / MB)
        m["python_workers.received_mb"] = per_pass(py["received_bytes"] / MB)
        m["session.catalog_tables"] = bench.passes[-1]["catalog_tables"]
        m["session.cached_rdds"] = bench.passes[-1]["cached_rdds"]

        m["trace.wall_s"] = e2e["wall_s"]
        m["trace.spans"] = per_pass(len(spans))
        m["trace.layer_gap"] = self._layer_gap(recs)
        missing = set(units) ^ set(m)
        if missing:
            raise RuntimeError(f"per-layer metrics and design.json disagree: {sorted(missing)}")
        return {k: {"value": v, "unit": units[k]} for k, v in m.items()}

    def _layer_gap(self, recs: list[dict]) -> float:
        """Worst pass's |wall - (build + planning + execution)| / wall, with
        the three layers read from sources other than the client clock
        marks the wall is taken from: build is the client's time inside the
        registry call, planning the Catalyst tracker's phase times of the
        timed action, and execution the driver's duration of the SQL
        executions that ran the action's jobs. What remains is time no
        layer accounts for: building the digest frame over Py4J, probe
        bookkeeping and handing the result to Python."""
        sqls = self.rest.sql_executions()
        wall: dict[int, float] = {}
        layers: dict[int, float] = {}
        for r in recs:
            jobs = set(range(r["ids1"][0], r["ids2"][0]))
            execution = sum(d for ids, d in sqls if ids & jobs)
            planning = sum(r.get("phases_ms", {}).values()) / 1000
            wall[r["pass"]] = wall.get(r["pass"], 0.0) + r["wall_s"]
            layers[r["pass"]] = layers.get(r["pass"], 0.0) + r["build_s"] + planning + execution
        return max(abs(wall[p] - layers[p]) / wall[p] for p in wall)

    def _stage_metrics(self, bench, n_pass: int) -> dict[str, float]:
        """Engine execution over every stage the measured passes created."""
        stages = [s for sid, s in self.rest.stages().items() if sid >= self._stage0]
        ran = [s for s in stages if s["status"] != "SKIPPED"]
        run_ms = sum(s["executorRunTime"] for s in ran)
        wall = sum(p["wall_s"] for p in bench.passes)
        skew = 1.0
        longest = sorted(
            (s for s in ran if s["numCompleteTasks"] >= 2),
            key=lambda s: s["executorRunTime"],
            reverse=True,
        )[:SKEW_STAGES]
        for s in longest:
            skew = max(skew, self.rest.task_skew(s))
        return {
            "exec.run_s": run_ms / 1000 / n_pass,
            "exec.gc_s": sum(s["jvmGcTime"] for s in ran) / 1000 / n_pass,
            "exec.utilization": run_ms / 1000 / (wall * self.cores),
            "exec.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in ran) / MB / n_pass,
            "exec.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in ran) / MB / n_pass,
            "exec.spill_mb": sum(s["diskBytesSpilled"] for s in ran) / MB / n_pass,
            "exec.stages_skipped_ratio": (len(stages) - len(ran)) / max(1, len(stages)),
            "exec.task_skew": skew,
        }

    def write_spans(self, path: str) -> None:
        """Write every span of the run (set-up included) as JSON."""
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.tracer.spans], f)
