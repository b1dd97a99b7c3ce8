"""Closed-loop benchmark of the engine's query registry: one workload, one
seed, one fresh JVM per run.

    python3 perfbench/run.py --workload pact --seed 1 --seconds 15 --trace 0

One client runs one query at a time and consumes each result before the
next starts. A query execution is the registry call ``QUERIES[name](spark,
sf_dir)`` (the *build*, including its eager actions) followed by the
*action*: an order-independent digest aggregation over every output column
(row count and the sum of xxhash64 of each row, as in
``tools/result_hash.py``). The digest is checked against
``perfbench/goldens.json``, so one execution both times the query and
checks it.

A pass runs every query of the workload once, in an order the seed
permutes. The first ``WARMUP_PASSES`` passes warm the JVM and are part of
set-up. Then ``round(seconds / nominal_pass_s)`` passes are measured (at
least three), where ``nominal_pass_s`` is the workload's pass wall on the
reference box (``design.json``). A pass's wall and CPU are each query's
median over the measured passes, summed.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json.
``--trace 1`` installs spans around the engine's layer functions and
reports the per-layer metrics; its ``trace.wall_s`` minus the untraced
``wall_s`` is the tracing overhead. The design (query lists, metric
definitions, which end-to-end metric each layer metric should move) is in
``perfbench/design.json``.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` (executions that raised or missed their golden)
and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_DIR = os.path.join(ROOT, "incubator_flink_old_spark")
WORK = os.path.join(ROOT, ".perfbench")
#: Unmeasured passes that warm the JVM. Pass walls fall for the first three
#: to four passes of a fresh JVM; with one warm-up pass the measured passes
#: sat on that slope.
WARMUP_PASSES = 2
#: Fewest measured passes, so that a median exists.
MIN_PASSES = 3

sys.path.insert(0, HERE)

from procfs import PeakRss, ProcessTree, host_steal_s, process_age_s  # noqa: E402


def _load(name: str) -> dict:
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def _configure_env(design: dict, trace: bool, tmp: str) -> None:
    """Pin the engine's session settings and keep every file the run writes
    under the checkout. Must run before pyspark starts the JVM."""
    env = design["environment"]
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = env["driver_memory"]
    os.environ["SPARK_GRAFT_UI"] = "1" if trace else "0"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    jvm = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm  # the launcher JVM behind spark-submit
    os.environ["SPARK_SUBMIT_OPTS"] = f"{jvm} {env['jvm_heap_options']}"  # the driver JVM
    confs = {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # The traced run reads every job, stage and SQL execution of the run
        # back over REST; keep them all. The untraced run keeps Spark's
        # default retention, so its memory and CPU are the engine's own.
        confs.update({
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.sql.ui.retainedExecutions": "1000000",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = tmp


def _stop_engine(spark, tree: ProcessTree, timeout_s: float = 60.0) -> None:
    """Stop the session, end the JVM and wait until every process this run
    started (JVM, pyspark daemon and workers) has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin pipe closes
            proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while tree.descendants():
        if time.monotonic() > deadline:
            for pid in tree.descendants():
                os.kill(pid, signal.SIGKILL)
            deadline = time.monotonic() + timeout_s
        time.sleep(0.1)


def digest(df):
    """Row count and order-independent digest of ``df``, as one-row frame.

    Same expression as ``tools/result_hash.py``: an explicit NULL sentinel
    (``concat_ws`` skips NULLs) and the sum of xxhash64 mod 2^61."""
    from pyspark.sql import functions as F

    cols = [
        F.coalesce(F.col("`" + c.replace("`", "``") + "`").cast("string"), F.lit("\x00NULL"))
        for c in df.columns
    ]
    return df.select(F.xxhash64(F.concat_ws("\x1f", *cols)).alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("h") % F.lit(2**61)).alias("s"),
    )


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


class Bench:
    """Runs passes over one workload and keeps per-execution records."""

    def __init__(self, spark, queries, sf_dir, goldens, tree, probes=None):
        self.spark = spark
        self.queries = queries
        self.sf_dir = sf_dir
        self.goldens = goldens
        self.tree = tree
        self.probes = probes  # Probes in the traced run, else None
        self.attempted = 0
        self.failed = 0
        self.records: list[dict] = []  # one per measured execution
        self.passes: list[dict] = []  # one per measured pass

    def execute(self, name: str, pass_no: int) -> dict:
        """Run one query; returns its record (walls in seconds)."""
        p = self.probes
        self.attempted += 1
        rec = {"query": name, "pass": pass_no, "ok": False}
        if p:
            p.before_query(name, pass_no, rec)
        rec["cpu0"] = self.tree.snapshot()["cpu_s"]
        t0 = time.perf_counter()
        t1 = t2 = None
        try:
            df = self.queries[name](self.spark, self.sf_dir)
            t1 = time.perf_counter()
            if p:
                p.after_build(rec)
            t1b = time.perf_counter()
            d = digest(df)
            if p:
                p.plan(d, rec)
            t2 = time.perf_counter() if p else t1b
            row = d.collect()[0]
            t3 = time.perf_counter()
            got = [row["n"], row["s"]]
            want = self.goldens[name]
            if got == want:
                rec["ok"] = True
            else:
                print(f"MISMATCH {name}: got {got} want {want}", file=sys.stderr)
        except Exception as exc:  # noqa: BLE001 - one failing query must not end the run
            t3 = time.perf_counter()
            t1 = t1b = t1 or t3
            t2 = t2 or t3
            print(f"ERROR {name}: {type(exc).__name__}: {exc}", file=sys.stderr)
        # In the untraced run the digest's construction (analysis) is part
        # of the action; the traced run plans it separately. The wall runs
        # from the registry call to the consumed result; the traced run's
        # bookkeeping after the result (listener drain) is outside it.
        rec["cpu2"] = self.tree.snapshot()["cpu_s"]
        rec.update(
            build_s=t1 - t0,
            plan_s=t2 - t1b,
            action_s=t3 - t2,
            wall_s=t3 - t0,
            cpu_s=rec["cpu2"] - rec["cpu0"],
        )
        if p:
            p.after_query(rec)
        if not rec["ok"]:
            self.failed += 1
        return rec

    def run_pass(self, order: list[str], pass_no: int, measured: bool) -> None:
        c0 = self.tree.snapshot()
        t0 = time.perf_counter()
        recs = [self.execute(n, pass_no) for n in order]
        wall = time.perf_counter() - t0
        c1 = self.tree.snapshot()
        if not measured:
            return
        self.records.extend(recs)
        rec = {
            "wall_s": wall,
            "python_workers_cpu_s": c1["python_workers_cpu_s"] - c0["python_workers_cpu_s"],
        }
        if self.probes:
            rec.update(self.probes.after_pass())
        self.passes.append(rec)


def query_medians(bench: Bench, key: str) -> dict[str, float]:
    """Each query's median of ``key`` over the measured passes."""
    per_query: dict[str, list[float]] = {}
    for r in bench.records:
        per_query.setdefault(r["query"], []).append(r[key])
    return {q: statistics.median(v) for q, v in per_query.items()}


def end_to_end(bench: Bench, setup_s: float, peak_mb: float) -> dict[str, float]:
    # A pass's wall and CPU are taken as the sum of each query's median
    # over the passes rather than the median whole pass: one slow query
    # (a GC pause, a JIT recompile) then moves only its own median.
    walls = query_medians(bench, "wall_s")
    return {
        "wall_s": sum(walls.values()),
        "geomean_query_s": geomean(list(walls.values())),
        "cpu_s": sum(query_medians(bench, "cpu_s").values()),
        "peak_rss_mb": peak_mb,
        "setup_s": setup_s,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ENGINE_DIR, "__init__.py")):
        print(f"perfbench: engine package not found at {ENGINE_DIR}", file=sys.stderr)
        return 2
    design = _load("design.json")
    if args.workload not in design["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    workload = design["workloads"][args.workload]
    names = workload["queries"]
    sf_dir = os.path.join(HERE, design["environment"]["fixtures"])
    goldens = _load("goldens.json")["digests"]
    missing = [n for n in names if n not in goldens]
    if missing:
        print(f"perfbench: no golden for {missing}", file=sys.stderr)
        return 2

    trace = bool(args.trace)
    tmp = os.path.join(WORK, f"tmp-{os.getpid()}")
    _configure_env(design, trace, tmp)
    sys.path.insert(0, ROOT)
    tree = ProcessTree()
    peak = PeakRss(tree).start()
    spark = None
    try:
        tracer = None
        if trace:
            from tracing import Tracer, install

            tracer = Tracer()
            install(tracer)
        from incubator_flink_old_spark import get_spark

        spark = get_spark("perfbench")
        from incubator_flink_old_spark.queries import QUERIES, load_all_queries

        load_all_queries()
        probes = None
        if trace:
            from probes import Probes

            probes = Probes(spark, tree, tracer)
        bench = Bench(spark, QUERIES, sf_dir, goldens, tree, probes)
        rng = random.Random(args.seed)

        def order() -> list[str]:
            o = list(names)
            rng.shuffle(o)
            return o

        for pass_no in range(WARMUP_PASSES):
            bench.run_pass(order(), pass_no, measured=False)
        setup_s = process_age_s()
        if probes:
            probes.start_measuring()
        peak.reset()
        steal0 = host_steal_s()
        # A fixed number of passes per run, not a deadline: pass walls still
        # fall while the JVM warms, so a pass count that depended on speed
        # would make the median depend on it too.
        n_passes = max(MIN_PASSES, round(args.seconds / workload["nominal_pass_s"]))
        for pass_no in range(WARMUP_PASSES, WARMUP_PASSES + n_passes):
            bench.run_pass(order(), pass_no, measured=True)
        peak_mb = peak.peak_mb
        steal_s = host_steal_s() - steal0
        e2e = end_to_end(bench, setup_s, peak_mb)
        if trace:
            metrics = probes.per_layer(bench, e2e, design["per_layer_units"])
            probes.write_spans(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json"))
        else:
            units = {m["name"]: m["unit"] for m in _load_benchmark()["end_to_end"]}
            metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    finally:
        peak.stop()
        if spark is not None:
            _stop_engine(spark, tree)
        shutil.rmtree(tmp, ignore_errors=True)

    error_rate = bench.failed / bench.attempted
    print(f"workload {args.workload}  seed {args.seed}  passes {len(bench.passes)}")
    keys = ("build_s", "action_s", "wall_s", "cpu_s")
    print(f"  {'query (median of passes)':32s} " + " ".join(f"{k:>8s}" for k in keys))
    for name in names:
        mine = [r for r in bench.records if r["query"] == name]
        cols = [statistics.median(r[k] for r in mine) for k in keys]
        print(f"  {name:32s} " + " ".join(f"{c:8.3f}" for c in cols))
    print(f"  {'pass walls':32s} " + " ".join(f"{p['wall_s']:.3f}" for p in bench.passes))
    # CPU time the hypervisor gave to other guests while passes ran: a run
    # with a lot of it measured a contended machine.
    print(f"  {'host steal during passes':32s} {steal_s:.2f} CPU-s")
    for k, v in metrics.items():
        print(f"  {k:32s} {v['value']:.6g} {v['unit']}")
    print(f"  {'error_rate':32s} {error_rate:.6g} ({bench.failed}/{bench.attempted})")
    print(f"output check: {'PASS' if bench.failed == 0 else 'FAIL'}")
    if trace:
        gap = metrics["trace.layer_gap"]["value"]
        print(f"layer sum check (build + Catalyst planning + action SQL executions within 5% of each pass wall): "
              f"{'PASS' if gap < 0.05 else 'FAIL'}")
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def _load_benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.exit(main())
