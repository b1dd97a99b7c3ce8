"""The streaming replay harness (streaming.replay_run) and the memory-sink
runner it feeds: stream rows leave nothing behind in the caller's session
(no catalog entries, no persisted RDDs, no replay dirs), and force_pins'
pool threads keep the caller's job group."""

from __future__ import annotations

import glob
import os
import tempfile

import pytest
from pyspark.sql import functions as F

SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(not os.path.isdir(SF), reason="no testdata")


def _session_state(spark):
    return (
        sorted(t.name for t in spark.catalog.listTables()),
        set(spark.sparkContext._jsc.getPersistentRDDs().keySet()),
        set(glob.glob(os.path.join(tempfile.gettempdir(), "t2_*"))),
    )


def test_stream_rows_leave_session_clean(spark):
    """Two runs each of three stream rows at the test SF: the catalog,
    the persisted-RDD set and the t2_* replay dirs are as before. (RDD
    ids are compared as a set that may only shrink: the context cleaner
    can release unrelated earlier frames meanwhile, but nothing these
    rows persist may survive them.)"""
    from incubator_flink_old_spark.queries import QUERIES, load_all_queries

    load_all_queries()
    tables0, rdds0, dirs0 = _session_state(spark)
    for name in (
        "q_stream_hh_parity",
        "q_stream_topk_parity",
        "q_stream_restart_recovery",
    ):
        for _ in range(2):
            assert QUERIES[name](spark, SF).count() > 0, name
    tables1, rdds1, dirs1 = _session_state(spark)
    assert tables1 == tables0
    assert rdds1 <= rdds0, rdds1 - rdds0
    assert dirs1 == dirs0, dirs1 - dirs0


def test_run_stream_to_memory_drops_view_keeps_rows_and_progress(spark):
    from incubator_flink_old_spark.streaming import (
        replay_run,
        run_stream_to_memory,
    )

    def batch(lo, hi):
        return spark.range(lo, hi, numPartitions=1).select(
            (F.col("id") % 3).alias("k"), F.col("id").alias("v")
        )

    tables0 = spark.catalog.listTables()
    with replay_run(spark, "k long, v long") as run:
        run.write(batch(0, 10), batch(10, 20))
        sink = run_stream_to_memory(
            run.stream().groupBy("k").agg(F.sum("v").alias("s")),
            "complete",
            state_partitions=2,
        )
        base = run.base
    assert not os.path.exists(base)
    assert spark.catalog.listTables() == tables0
    assert sorted(map(tuple, sink.collect())) == [(0, 63), (1, 70), (2, 57)]
    progress = sink.stream_query.recentProgress
    assert [p["numInputRows"] for p in progress if p["numInputRows"]] == [10, 10]


def test_replay_run_releases_on_error(spark):
    from incubator_flink_old_spark.streaming import replay_run

    with pytest.raises(RuntimeError, match="boom"):
        with replay_run(spark, "id long") as run:
            [pinned] = run.pin(spark.range(5))
            assert pinned.is_cached
            base = run.base
            raise RuntimeError("boom")
    assert not os.path.exists(base)
    assert not pinned.is_cached


def test_force_pins_jobs_keep_callers_job_group(spark):
    """Pins run from pool threads; their jobs must stay tagged with the
    caller's job group (otherwise per-query job attribution loses them)."""
    from incubator_flink_old_spark.streaming import force_pins

    sc = spark.sparkContext
    frames = [spark.range(n).persist() for n in (10, 20)]
    sc.setJobGroup("t_force_pins", "force_pins attribution")
    try:
        force_pins(*frames)
        jobs = sc.statusTracker().getJobIdsForGroup("t_force_pins")
    finally:
        sc._jsc.clearJobGroup()
        for f in frames:
            f.unpersist()
    assert len(jobs) >= 2, jobs


def test_force_pins_raises_first_failure(spark):
    from incubator_flink_old_spark.streaming import force_pins

    bad = spark.range(3).select(
        F.raise_error(F.lit("pin failed")).alias("x")
    ).persist()
    good = spark.range(3).persist()
    try:
        with pytest.raises(Exception, match="pin failed"):
            force_pins(good, bad)
    finally:
        bad.unpersist()
        good.unpersist()
