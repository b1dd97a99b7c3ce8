"""Wave-34 surfaces: SCC laws against the CC baseline, restart
recovery actually RECOVERS (offsets + state, not reprocessing), and
the transformWithState env waiver self-gate."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(not os.path.isdir(SF), reason="no testdata")


def test_scc_refines_weak_cc(spark):
    """Every SCC must sit entirely inside one weakly connected
    component (SCCs refine the CC partition), scc_id must be a member
    of its own component, and any symmetric edge pair must be in one
    SCC."""
    from incubator_flink_old_spark.operators.graph import connected_components
    from incubator_flink_old_spark.queries.iterations import edges_df
    from incubator_flink_old_spark.queries.llm_ops20 import q_scc

    scc = {r.id: r.scc_id for r in q_scc(spark, SF).collect()}
    assert all(scc[v] <= v for v in scc)  # min-labelling law
    assert all(scc[scc[v]] == scc[v] for v in scc)  # id is its own root

    edges = edges_df(spark, SF)
    cc = {
        r.id: r.component
        for r in connected_components(edges, max_iterations=50).collect()
    }
    # refinement: same scc -> same weak cc
    by_scc = {}
    for v, s in scc.items():
        by_scc.setdefault(s, set()).add(cc[v])
    assert all(len(comps) == 1 for comps in by_scc.values())

    # any 2-cycle collapses into one SCC
    e = {(r.src, r.dst) for r in edges.collect()}
    twocycles = [(a, b) for (a, b) in e if (b, a) in e and a != b]
    assert twocycles, "fixture graph should contain a 2-cycle"
    assert all(scc[a] == scc[b] for a, b in twocycles)


def test_restart_does_not_reprocess_first_half(spark):
    """The restarted query instance must process ONLY the second half
    (committed offsets) yet report totals covering both halves
    (recovered state) — the two guarantees q_stream_restart_recovery
    claims, asserted via progress counters."""
    import time

    from incubator_flink_old_spark.sources import load_table
    from incubator_flink_old_spark.streaming import run_stream_to_memory

    ev = load_table(spark, SF, "events")
    src = tempfile.mkdtemp(prefix="restart_probe_src_")
    ck = tempfile.mkdtemp(prefix="restart_probe_ck_")
    try:
        h0 = ev.filter(F.col("event_id") % 2 == 0)
        h1 = ev.filter(F.col("event_id") % 2 == 1)
        h0.coalesce(1).write.parquet(os.path.join(src, "half0"))
        n0, n1 = h0.count(), h1.count()

        schema = (
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string"
        )

        def agg_stream():
            return (
                spark.readStream.schema(schema)
                .format("parquet")
                .load(os.path.join(src, "*"))
                .groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n_events"))
            )

        q1 = run_stream_to_memory(
            agg_stream(), "complete", state_partitions=None, checkpoint=ck
        ).stream_query
        rows1 = sum(p["numInputRows"] for p in q1.recentProgress)
        assert rows1 == n0

        h1.coalesce(1).write.parquet(os.path.join(src, "half1"))
        sink2 = run_stream_to_memory(
            agg_stream(), "complete", state_partitions=None, checkpoint=ck
        )
        q2 = sink2.stream_query
        rows2 = sum(p["numInputRows"] for p in q2.recentProgress)
        total = sink2.agg(F.sum("n_events").alias("s")).collect()[0].s
        assert rows2 == n1  # offsets recovered: half 0 never re-read
        assert total == n0 + n1  # state recovered: totals cover both
    finally:
        shutil.rmtree(ck, ignore_errors=True)
        shutil.rmtree(src, ignore_errors=True)


def test_transform_with_state_env_waiver():
    """transformWithStateInPandas needs google.protobuf in the Python
    workers; this container ships no protobuf and has no pip/network.
    Self-gating waiver in the S8/Avro style: if protobuf ever appears,
    this test FAILS to force promoting the surface to a driver query;
    until then the API import is asserted and execution is waived
    (probe: StatefulProcessor runs crash with
    STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE / ImportError on
    google.protobuf.descriptor — llm_ops20 module docstring)."""
    from pyspark.sql.streaming import (  # noqa: F401  (surface exists)
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip(
            "google.protobuf absent: transformWithState execution waived "
            "(API import asserted; semantics driver-covered via "
            "applyInPandasWithState in q_stream_custom_state_parity)"
        )
    pytest.fail(
        "google.protobuf is now available — promote "
        "transformWithStateInPandas to an oracle-checked driver query "
        "and retire this waiver"
    )
